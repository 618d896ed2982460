"""Codec unit + property tests.

Mirrors the reference's test layers (SURVEY §5): round-trip/metamorphic tests
on the gap codec (the reference round-trips CIFF→PISA→CIFF,
/root/reference/tests/toy.rs:89-143) and quickcheck-style property tests
(/root/reference/src/binary_collection.rs:427-437) via hypothesis.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ciff_spark.functions.codec import (
    BLOCK_SIZE,
    BLOCK_SPAN,
    block_columns,
    decode_blocks,
    encode_postings,
    read_uvarint,
    uvarint,
    varint_decode,
    varint_encode,
)
from ciff_spark.functions.scoring import idf_np, tfnorm_np
from oracle import BLOCK_TYPE, block_rows, decode_block, decode_postings


def _roundtrip(vals):
    buf, lens = varint_encode(np.asarray(vals, np.uint64))
    assert int(lens.sum()) == buf.size
    out = varint_decode(buf.tobytes(), len(vals))
    np.testing.assert_array_equal(out.astype(np.uint64), np.asarray(vals, np.uint64))


def test_varint_known_bytes():
    buf, lens = varint_encode(np.array([0, 1, 127, 128, 300, 2**32], np.uint64))
    assert list(lens) == [1, 1, 1, 2, 2, 5]
    assert buf[:5].tobytes() == bytes([0x00, 0x01, 0x7F, 0x80, 0x01])
    assert buf[5:7].tobytes() == bytes([0xAC, 0x02])  # 300 = LEB128 ac 02


def test_varint_roundtrip_edges():
    _roundtrip([])
    _roundtrip([0])
    _roundtrip([2**63 - 1, 0, 1, 2**32 - 1, 127, 128, 16383, 16384])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varint_roundtrip_property(vals):
    _roundtrip(vals)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**64 - 1), max_size=20))
def test_scalar_varint_pair_matches_the_array_pair(vals):
    """``uvarint``/``read_uvarint`` write and read the bytes of
    ``varint_encode``; a negative value is its 64-bit two's complement."""
    u64 = [v & (2**64 - 1) for v in vals]
    buf = b"".join(uvarint(v) for v in vals)
    want, _ = varint_encode(np.array(u64, np.uint64))
    assert buf == want.tobytes()
    pos, got = 0, []
    while pos < len(buf):
        v, pos = read_uvarint(buf, pos)
        got.append(v)
    assert got == u64


def test_read_uvarint_rejects_truncated_and_overlong():
    """A stream ending inside a varint, and a varint of more than 10 bytes,
    raise ValueError — never IndexError, never a value past 64 bits."""
    assert read_uvarint(uvarint(-1), 0) == (2**64 - 1, 10)
    for bad in (b"", b"\x80", b"\x80\x80", b"\xff" * 9):
        with pytest.raises(ValueError, match="ends inside"):
            read_uvarint(bad, 0)
    for bad in (b"\xff" * 10 + b"\x01", b"\x80" * 20 + b"\x01"):
        with pytest.raises(ValueError, match="longer than 10 bytes"):
            read_uvarint(bad, 0)
    with pytest.raises(ValueError):
        read_uvarint(b"\x05", 1)  # nothing left at pos


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=24), st.integers(0, 24))
def test_read_uvarint_never_panics_on_arbitrary_bytes(data, pos):
    try:
        v, end = read_uvarint(data, pos)
    except ValueError:
        return
    assert pos < end <= min(len(data), pos + 10) and v < 2**70
    assert data[end - 1] < 0x80 and all(b >= 0x80 for b in data[pos : end - 1])


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 10_000_000), st.integers(1, 1000)),
        min_size=1,
        max_size=400,
    )
)
def test_block_roundtrip_property(pairs):
    # build strictly ascending docids from positive gaps
    gaps = np.array([p[0] for p in pairs], np.int64)
    docids = np.cumsum(gaps) - 1
    tfs = np.array([p[1] for p in pairs], np.int64)
    blocks = encode_postings(docids, tfs, block_size=7)  # tiny blocks → many
    d, t = decode_postings(blocks)
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)
    # per-block invariants: max_docid is a true skip pointer, counts sum up
    assert sum(b["count"] for b in blocks) == len(docids)
    prev = -1
    for b in blocks:
        bd, bt = decode_block(
            b["docs_bin"], b["tfs_bin"], b["count"], prev,
            b["max_docid"], b["max_tf"],
        )
        assert bd[-1] == b["max_docid"]
        assert bt.max() == b["max_tf"]
        assert (bd > prev).all()
        if b["count"] == 1:
            # implicit single-posting block: derived fields are elided
            assert b["min_docid"] is None and b["max_tfnorm"] is None
            assert b["docs_bin"] == b"" and b["tfs_bin"] == b""
        prev = b["max_docid"]


def test_block_max_tfnorm_is_true_upper_bound():
    rng = np.random.default_rng(42)
    n = 1000
    docids = np.cumsum(rng.integers(1, 50, n))
    tfs = rng.integers(1, 30, n)
    doclens = rng.integers(5, 400, n)
    avgdl = 87.3
    blocks = encode_postings(docids, tfs, doclens=doclens, avgdl=avgdl)
    tfn = tfnorm_np(tfs, doclens, avgdl)
    s = 0
    for b in blocks:
        e = s + b["count"]
        if b["count"] == 1:
            assert b["max_tfnorm"] is None and b["min_docid"] is None
            assert b["max_docid"] == docids[s]
            s = e
            continue
        # stored bound: true max, ceil-rounded at BOUND_DECIMALS (still a
        # true upper bound; ≤ 1e-4 looser)
        assert b["max_tfnorm"] >= tfn[s:e].max() - 1e-12
        assert b["max_tfnorm"] <= tfn[s:e].max() + 10.0 ** -4
        assert b["count"] <= BLOCK_SIZE
        assert b["min_docid"] == docids[s] and b["max_docid"] == docids[e - 1]
        # width cap is window-aligned: a block never straddles a BLOCK_SPAN
        # boundary (geometry must be independent of encoder batching)
        assert b["min_docid"] // BLOCK_SPAN == b["max_docid"] // BLOCK_SPAN
        s = e
    assert s == n


def test_adaptive_span_dense_vs_sparse():
    """Adaptive span: dense lists keep clean BLOCK_SIZE-posting blocks (no
    window-edge runts); sparse lists keep the width-capped, window-aligned
    geometry where the WAND coverage gaps live."""
    n = 1000
    tfs = np.ones(n, np.int64)

    # avg gap 3 ≤ SPAN_ADAPT_FACTOR·span/size = 4 → dense → uncapped
    dense = np.arange(n, dtype=np.int64) * 3
    blocks = encode_postings(dense, tfs)
    assert all(b["count"] == BLOCK_SIZE for b in blocks[:-1])
    d, t = decode_postings(blocks)
    np.testing.assert_array_equal(d, dense)

    # fixed-span mode fragments the same list at every 256-docid window edge
    blocks_fixed = encode_postings(dense, tfs, span_adaptive=False)
    assert len(blocks_fixed) > len(blocks)
    assert any(b["count"] < BLOCK_SIZE for b in blocks_fixed[:-1])
    d, t = decode_postings(blocks_fixed)
    np.testing.assert_array_equal(d, dense)

    # avg gap 40 > 4 → sparse → capped AND window-aligned, identical to the
    # fixed-span geometry (the pruning-proven r4 shape)
    sparse = np.arange(n, dtype=np.int64) * 40
    blocks_s = encode_postings(sparse, tfs)
    assert all(
        b["min_docid"] // BLOCK_SPAN == b["max_docid"] // BLOCK_SPAN
        for b in blocks_s
        if b["count"] > 1  # implicit singles elide min_docid
    )
    assert blocks_s == encode_postings(sparse, tfs, span_adaptive=False)
    d, t = decode_postings(blocks_s)
    np.testing.assert_array_equal(d, sparse)


def test_encode_rejects_bad_input():
    with pytest.raises(ValueError):
        encode_postings(np.array([3, 3]), np.array([1, 1]))
    with pytest.raises(ValueError):
        encode_postings(np.array([1, 2]), np.array([1, 0]))
    assert encode_postings(np.array([], np.int64), np.array([], np.int64)) == []


def test_idf_matches_reference_formula():
    # idf = ln((N - df + 0.5)/(df + 0.5)) — negative for df > N/2 is kept
    assert idf_np(1, 3) == pytest.approx(np.log(2.5 / 1.5))
    assert idf_np(3, 3) < 0


@pytest.mark.parametrize("with_dl", [True, False], ids=["dl", "dl_free"])
def test_encode_arrow_batch_equals_encode_postings(with_dl):
    """The multi-list Arrow encoder (the build's one encode kernel) must
    produce, for every (term, shard) group, exactly the blocks the
    single-list reference ``encode_postings`` produces — with exact
    (doclength) bounds and with dl-free bounds, on random lists and on a
    sparse, span-capped list whose blocks break at docid windows and
    include implicit single-posting blocks."""
    import pyarrow as pa

    from ciff_spark.functions.codec import encode_arrow_batch

    rng = np.random.default_rng(11)
    lists = {}
    for t in [f"t{i:03d}" for i in range(40)]:
        df_ = int(rng.integers(1, 300))
        lists[t] = np.sort(rng.choice(5000, df_, replace=False))
    # avg gap ~75 > SPAN_ADAPT_FACTOR·span/block_size = 32: width-capped
    lists["zz_sparse"] = np.cumsum(rng.integers(33, 120, 60))
    vocab = sorted(lists)
    codes = np.concatenate([np.full(len(lists[t]), i) for i, t in enumerate(vocab)])
    docids = np.concatenate([lists[t] for t in vocab]).astype(np.int64)
    tfs = rng.integers(1, 9, len(docids)).astype(np.int64)
    dls = rng.integers(5, 100, 5000).astype(np.uint32)
    shard_size, block_size, avgdl = 700, 16, 42.0

    got = encode_arrow_batch(
        codes, pa.array(vocab, pa.string()), docids, tfs,
        dls[docids] if with_dl else None, avgdl, shard_size, block_size,
    ).to_pylist()
    exp = []
    for i, t in enumerate(vocab):
        for shard in np.unique(lists[t] // shard_size):
            m = (codes == i) & (docids // shard_size == shard)
            exp.append({
                "term": t, "shard": int(shard), "df": int(m.sum()),
                "cf": int(tfs[m].sum()),
                "blocks": encode_postings(
                    docids[m], tfs[m], doclens=dls[docids[m]] if with_dl else None,
                    avgdl=avgdl, block_size=block_size,
                ),
            })
    assert got == exp
    sparse = [b for r in got if r["term"] == "zz_sparse" for b in r["blocks"]]
    assert any(b["count"] == 1 and b["min_docid"] is None for b in sparse)
    assert any(1 < b["count"] < block_size for b in sparse)  # window breaks


# ---------------------------------------------------------------------------
# batch decoder: decode_blocks over Arrow rows ≡ decode_block per block
# ---------------------------------------------------------------------------

def _per_block(rows):
    """Every block of ``rows`` decoded one at a time, each row's chain from −1."""
    out = []
    for row in rows:
        prev = -1
        for b in row:
            out.append(decode_block(b["docs_bin"], b["tfs_bin"], b["count"], prev,
                                    b["max_docid"], b["max_tf"]))
            prev = b["max_docid"]
    return out


def _check_batch_decode(rows, rng):
    """``decode_blocks`` over all blocks, and over random ascending subsets,
    equals the per-block reference in block order."""
    cols = block_columns(block_rows(*rows))
    ref = _per_block(rows)
    assert len(cols.count) == len(ref)
    subsets = [np.arange(len(ref))]
    for _ in range(3):
        m = rng.random(len(ref)) < rng.uniform(0.1, 0.9)
        subsets.append(np.flatnonzero(m))
    for sel in subsets:
        d, t = decode_blocks(cols, sel)
        want_d = np.concatenate([ref[i][0] for i in sel] or [np.empty(0, np.int64)])
        want_t = np.concatenate([ref[i][1] for i in sel] or [np.empty(0, np.int64)])
        np.testing.assert_array_equal(d, want_d)
        np.testing.assert_array_equal(t, want_t)
    return cols


def _random_list(rng, gap_hi, n, **kw):
    docids = np.cumsum(rng.integers(1, gap_hi, n)) - 1
    return docids.astype(np.int64), rng.integers(1, 40, n)


@pytest.mark.parametrize("seed", range(8))
def test_batch_decode_fuzz(seed):
    """Lists with and without doclengths, sparse span-capped lists of
    implicit singles, and several rows per term (each its own −1 chain)."""
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(int(rng.integers(1, 6))):
        kind = rng.integers(3)
        n = int(rng.integers(1, 600))
        if kind == 0:  # dense, exact bounds
            d, t = _random_list(rng, 8, n)
            dl = rng.integers(1, 200, n)
            rows.append(encode_postings(d, t, doclens=dl, avgdl=50.0,
                                        block_size=int(rng.choice([4, 16, 128]))))
        elif kind == 1:  # dl-free bounds
            d, t = _random_list(rng, 40, n)
            rows.append(encode_postings(d, t, block_size=int(rng.choice([3, 128]))))
        else:  # sparse: width-capped, mostly implicit singles
            d, t = _random_list(rng, 3000, n)
            rows.append(encode_postings(d, t))
            assert any(b["count"] == 1 and not b["docs_bin"] for b in rows[-1])
    cols = _check_batch_decode(rows, rng)
    assert (cols.prev[cols.row_off[:-1]] == -1).all()
    # one row per term shard: the concatenated rows decode like the lists
    d, t = decode_blocks(cols, np.arange(len(cols.count)))
    want = [decode_postings(r) for r in rows]
    np.testing.assert_array_equal(d, np.concatenate([w[0] for w in want]))
    np.testing.assert_array_equal(t, np.concatenate([w[1] for w in want]))


@pytest.mark.parametrize("shift", [14, 21, 28, 35, 42])
def test_batch_decode_wide_gaps(shift):
    """Gaps of 2^shift and more: 3- to 7-byte varints, docids past 2^32."""
    rng = np.random.default_rng(shift)
    gaps = rng.integers(1 << shift, 1 << (shift + 1), 300)
    gaps[::7] = rng.integers(1, 100, len(gaps[::7]))  # mixed with short ones
    docids = np.cumsum(gaps)
    tfs = rng.integers(1, 1 << min(shift, 30), 300)
    rows = [encode_postings(docids[:150], tfs[:150], block_size=16, block_span=None),
            encode_postings(docids[150:], tfs[150:], block_size=5, block_span=None)]
    _check_batch_decode(rows, rng)
    d, t = decode_blocks(block_columns(block_rows(*rows)), np.arange(len(rows[0]) + len(rows[1])))
    np.testing.assert_array_equal(d, docids)
    np.testing.assert_array_equal(t, tfs)


def test_batch_decode_rejects_misaligned_counts():
    """A block whose bytes hold more or fewer values than its ``count`` —
    also when the block counts still sum right — raises instead of
    shifting values into its neighbour."""
    docids = np.arange(0, 40, 2, dtype=np.int64)
    blocks = encode_postings(docids, np.ones(20, np.int64), block_size=5, block_span=None)
    assert len(blocks) == 4 and all(b["count"] == 5 for b in blocks)

    def bad(mutate):
        rows = [[dict(b) for b in blocks]]
        mutate(rows[0])
        cols = block_columns(block_rows(*rows))
        with pytest.raises(ValueError):
            decode_blocks(cols, np.arange(4))

    bad(lambda bl: bl[1].update(count=4))  # Σ count short by one
    bad(lambda bl: bl[2].update(docs_bin=bl[2]["docs_bin"] + b"\x01"))  # one value too many
    bad(lambda bl: (bl[0].update(count=6), bl[3].update(count=4)))  # Σ count right
    # counts match per block, but block 0 ends inside a value that would
    # run on into block 1's bytes
    bad(lambda bl: bl[0].update(count=4, docs_bin=bl[0]["docs_bin"][:-1] + b"\x82",
                                tfs_bin=bl[0]["tfs_bin"][:-1]))
    bad(lambda bl: bl[1].update(docs_bin=b""))  # several postings, no bins


def test_block_columns_reads_rows_written_before_min_docid():
    """Rows whose block struct has no ``min_docid`` (indexes written before
    width-capped blocks) read it as −1 and decode unchanged."""
    import pyarrow as pa

    rng = np.random.default_rng(4)
    rows = [encode_postings(*_random_list(rng, 9, 300), block_size=16) for _ in range(2)]
    legacy_type = pa.struct([f for f in BLOCK_TYPE if f.name != "min_docid"])
    legacy = pa.array(
        [[{k: v for k, v in b.items() if k != "min_docid"} for b in r] for r in rows],
        pa.list_(legacy_type),
    )
    cols, want = block_columns(legacy), block_columns(block_rows(*rows))
    assert (cols.min_docid == -1).all()
    for name in ("count", "max_docid", "max_tf", "prev", "docs", "tfs", "row_off"):
        np.testing.assert_array_equal(getattr(cols, name), getattr(want, name))
    np.testing.assert_array_equal(cols.max_tfnorm, want.max_tfnorm)
    sel = np.arange(len(cols.count))
    for got, exp in zip(decode_blocks(cols, sel), decode_blocks(want, sel)):
        np.testing.assert_array_equal(got, exp)
