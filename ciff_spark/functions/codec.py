"""Posting-list block codec: delta-gap + varint, with block-max metadata.

Generalizes the reference's whole-list delta-gap encoding (the PISA→CIFF
writer emits ``docid - last_doc`` per posting, /root/reference/src/lib.rs:664-672,
and the reader reconstructs absolutes with a running prefix sum,
/root/reference/src/lib.rs:252-259) to fixed-size, independently decodable
blocks, per the Block-Max WAND design (Ding & Suel, SIGIR 2011) that the
north-rule mandates:

- postings (sorted by docid ascending, docids unique within a list) are split
  into blocks of ``BLOCK_SIZE``, additionally capped at ``block_span`` docids
  of width (variable-sized blocks in the spirit of Mallia et al., "Faster
  BlockMax WAND with Variable-sized Blocks", SIGIR 2017): a SPARSE list's
  128-posting block would otherwise cover an entire docid shard, making its
  block-max bound apply everywhere and leaving WAND nothing to skip. Width
  capping is window-ALIGNED (break when ``docid // block_span`` changes) so
  block geometry is a pure function of the postings — independent of how
  rows were batched into encoder calls;
- block ``i`` stores docid gaps where the first gap is relative to block
  ``i-1``'s ``max_docid`` (−1 before the first block), so a block can be
  decoded knowing only the per-block metadata — enabling block skipping;
- per block we keep ``min_docid``/``max_docid`` (the TRUE covered range —
  ``min_docid`` exposes the coverage gaps between a sparse list's blocks,
  which is where the pruning win lives), ``max_tf``, and ``max_tfnorm``
  (the exact per-block BM25 tf-normalization upper bound, computed from
  true doc lengths at build time, stored ceil-rounded at BOUND_DECIMALS)
  for WAND pruning;
- SINGLE-POSTING blocks are IMPLICIT: width-capping a Zipf tail splits most
  sparse lists into 1-posting blocks (63% of all blocks on the 131k-turn
  corpus), whose min_docid == max_docid, max_tfnorm derives from (max_tf,
  dl[max_docid]) and whose bins re-encode the two stored fields — so they
  persist as (count=1, max_docid, max_tf, NULL, NULL, b"", b""). The
  batch decoder (``decode_blocks``) synthesizes their arrays and the kernel
  sets lo = hi and derives the bound. Measured: 28.7 → 24.8 MB postings on
  that corpus, no decode-ratio/serving change;
- all integers are LEB128 varints, encoded/decoded with vectorized NumPy —
  no per-value Python in the hot path.

Everything here is pure NumPy over host memory; Spark invokes it inside
Arrow-vectorized UDFs (``applyInArrow`` / ``mapInArrow``).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from ciff_spark.functions.scoring import tfnorm_np, tfnorm_upper_bound

BLOCK_SIZE = 128
#: docid-width cap per block (None = unbounded, pre-r4 geometry). 256 = 2×
#: BLOCK_SIZE: splits sparse lists into narrow blocks with real gaps between
#: them. Measured trade on the 131k-turn Zipf corpus with the FIXED
#: (non-adaptive) cap (postings bytes / zipf-mix decode ratio / selective
#: decode ratio):
#: span 512 → 26.0 MB / 0.42 / 0.19; 256 → 28.6 MB / 0.32 / 0.16;
#: 128 → 31.7 MB / 0.24 / 0.09; unbounded → 18.8 MB / 0.99 / 0.74.
#: Build wall is span-independent (same-window A/B: 11.0 s vs 10.7 s).
BLOCK_SPAN = 256

#: Adaptive per-list span (the default): a (term, shard) list is width-capped
#: ONLY when a full ``block_size``-posting block of it would span more than
#: ``SPAN_ADAPT_FACTOR × block_span`` docids — i.e. its average docid gap
#: exceeds SPAN_ADAPT_FACTOR · block_span / block_size (> 4 at the 128/256
#: defaults). Dense lists (stopwords, hot terms) thus keep clean
#: block_size-posting blocks: window-capping them bought no pruning (their
#: blocks are narrow already) but fragmented runt blocks at every window
#: edge — the fixed cap's +52% block-metadata bytes and the dense-corpus
#: build regression. Sparse lists — where the min_docid coverage gaps and
#: the WAND decode-ratio win live — keep the measured span=256 geometry
#: bit-identically. The decision is a pure function of the complete list
#: (the encoders see whole (term, shard) groups), so geometry stays
#: deterministic. Measured on the 131k-turn Zipf corpus: see BENCH/BASELINE.md
#: round-5 adaptive-span study.
SPAN_ADAPT_FACTOR = 2

#: per-block tf-bound precision: max_tfnorm is stored rounded UP to this many
#: decimals — still a true upper bound (pruning gets ≤ 1e-4 looser, scores
#: are decoded exactly regardless), and the collapsed value set lets parquet
#: dictionary-encode the column (~2.5 MB → ~0.4 MB on the 131k-turn Zipf
#: corpus)
BOUND_DECIMALS = 4


def _ceil_bound(x):
    """Round a tf bound UP at BOUND_DECIMALS (vectorized or scalar)."""
    scale = 10.0 ** BOUND_DECIMALS
    return np.ceil(np.asarray(x, np.float64) * scale) / scale

#: Spark SQL type of one encoded block (postings tables store array<BLOCK_TYPE>).
#: min_docid is nullable for indexes written before width-capped blocks; the
#: kernel falls back to the conservative prev_max+1 coverage then.
BLOCK_SCHEMA = (
    "struct<count:int,min_docid:bigint,max_docid:bigint,max_tf:int,"
    "max_tfnorm:double,docs_bin:binary,tfs_bin:binary>"
)


def _window_block_starts(
    docids: np.ndarray,
    new_grp: np.ndarray,
    block_size: int,
    block_span: int | None,
    adaptive: bool = True,
) -> np.ndarray:
    """Indices where a new block begins: at every group start, every
    ``block_span``-aligned docid window change (width-capped groups only,
    when ``adaptive``), and every ``block_size``-th posting within a
    (group, window) run. Fully vectorized.

    ``adaptive``: width-cap only the groups whose average docid gap exceeds
    ``SPAN_ADAPT_FACTOR · block_span / block_size`` (see SPAN_ADAPT_FACTOR);
    dense groups keep uncapped block_size-posting blocks. ``False`` restores
    the fixed-span r4 geometry (every group capped)."""
    n = len(docids)
    new_win = new_grp.copy()
    if block_span:
        w = docids // int(block_span)
        win_break = np.zeros(n, bool)
        win_break[1:] = w[1:] != w[:-1]
        if adaptive:
            grp_start = np.flatnonzero(new_grp)
            grp_end = np.append(grp_start[1:], n)
            width = docids[grp_end - 1] - docids[grp_start]
            span = np.maximum(grp_end - grp_start - 1, 1)  # gaps per group
            # sparse ⇔ avg_gap · block_size > SPAN_ADAPT_FACTOR · block_span
            sparse_g = width * block_size > SPAN_ADAPT_FACTOR * int(block_span) * span
            grp_id = np.cumsum(new_grp) - 1
            win_break &= sparse_g[grp_id]
        new_win |= win_break
    win_start = np.flatnonzero(new_win)
    win_id = np.cumsum(new_win) - 1
    local = np.arange(n) - win_start[win_id]
    return np.flatnonzero((local % block_size == 0) | new_win)


# ---------------------------------------------------------------------------
# varint (LEB128) — vectorized
# ---------------------------------------------------------------------------

def varint_encode(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode non-negative ints to LEB128. Returns (uint8 buffer, per-value
    byte lengths). Vectorized: the only Python loop is over byte *positions*
    (≤ 10 iterations), never over values."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    nbytes = np.ones(n, np.int64)
    for shift in range(7, 64, 7):
        nbytes += (v >= (np.uint64(1) << np.uint64(shift))).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.empty(starts[-1], np.uint8)
    active = np.arange(n)
    shifted = v.copy()
    k = 0
    while active.size:
        cur = shifted[active]
        more = (k + 1) < nbytes[active]
        out[starts[active] + k] = (cur & np.uint64(0x7F)).astype(np.uint8) | (
            more.astype(np.uint8) << 7
        )
        shifted[active] = cur >> np.uint64(7)
        active = active[more]
        k += 1
    return out, nbytes


def uvarint(n: int) -> bytes:
    """LEB128 bytes of ONE int — the scalar form of ``varint_encode``, for
    single header, tag and length fields where a NumPy call costs more than
    it saves. A negative value is written as its 64-bit two's complement
    (10 bytes), as proto3 writes a negative int32/int64."""
    if n < 0:
        n &= (1 << 64) - 1
    out = bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def read_uvarint(buf, pos: int) -> tuple[int, int]:
    """(value, next position) of the LEB128 varint at ``buf[pos]`` (bytes,
    memoryview or mmap) — the scalar form of ``varint_decode``. A stream
    that ends inside the varint, or one longer than the 10 bytes a 64-bit
    value takes, raises ValueError."""
    n = shift = 0
    i = pos
    try:
        while True:
            b = buf[i]
            i += 1
            n |= (b & 0x7F) << shift
            if b < 0x80:
                return n, i
            shift += 7
            if shift == 70:
                raise ValueError(f"varint at byte {pos} is longer than 10 bytes")
    except IndexError:
        raise ValueError(f"stream ends inside the varint at byte {pos}") from None


def varint_decode(buf: bytes | np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte buffer to uint64 values (vectorized: one
    ``add.reduceat`` over the bytes' shifted 7-bit groups, a plain widen when
    every value is one byte). ``count`` (when given) must equal the number
    of values; a stream ending inside a varint raises."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, np.uint8)
    if b.size == 0:
        n = 0
    elif b[-1] & 0x80:
        raise ValueError("varint stream ends inside a value")
    else:
        last = np.flatnonzero(b < 0x80)
        n = last.size
    if count is not None and count != n:
        raise ValueError(f"varint stream holds {n} values, expected {count}")
    if n == b.size:
        return b.astype(np.uint64)
    starts = np.empty(n, np.int64)
    starts[0] = 0
    starts[1:] = last[:-1] + 1
    k = np.arange(b.size) - np.repeat(starts, last - starts + 1)
    shifted = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * k.astype(np.uint64))
    return np.add.reduceat(shifted, starts)


def concat_ranges(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Indices of the concatenated half-open ranges ``[lo[i], hi[i])``."""
    lens = hi - lo
    out_start = np.cumsum(lens) - lens
    return np.arange(int(lens.sum()), dtype=np.int64) + np.repeat(lo - out_start, lens)


# ---------------------------------------------------------------------------
# block encode / decode
# ---------------------------------------------------------------------------

def encode_postings(
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray | None = None,
    avgdl: float | None = None,
    block_size: int = BLOCK_SIZE,
    block_span: int | None = BLOCK_SPAN,
    span_adaptive: bool = True,
) -> list[dict]:
    """Encode one posting list (docids strictly ascending, tfs > 0) into blocks.

    ``doclens``/``avgdl`` (when supplied) make ``max_tfnorm`` the *exact*
    per-block BM25 tf-bound; otherwise it falls back to the dl-free upper
    bound — still a true bound, just looser for pruning. ``block_span`` caps
    each block's docid width (see module docstring); ``None`` restores the
    count-only pre-r4 geometry.
    """
    docids = np.ascontiguousarray(docids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    n = docids.size
    if n == 0:
        return []
    if n > 1 and not (np.diff(docids) > 0).all():
        raise ValueError("docids must be strictly ascending within a posting list")
    if (tfs <= 0).any():
        raise ValueError("tfs must be positive")

    # gaps: the first value of each block decodes relative to the previous
    # block's max_docid (−1 before the first), which for consecutive blocks
    # is simply the plain diff
    gaps = np.empty(n, np.int64)
    gaps[0] = docids[0] + 1  # relative to virtual prev_max = -1
    gaps[1:] = np.diff(docids)
    one_grp = np.zeros(n, bool)
    one_grp[0] = True
    block_starts = _window_block_starts(
        docids, one_grp, block_size, block_span, span_adaptive
    )

    doc_buf, doc_lens = varint_encode(gaps.astype(np.uint64))
    tf_buf, tf_lens = varint_encode(tfs.astype(np.uint64))
    doc_off = np.concatenate(([0], np.cumsum(doc_lens)))
    tf_off = np.concatenate(([0], np.cumsum(tf_lens)))

    if doclens is not None and avgdl is not None:
        tfnorms = tfnorm_np(tfs, doclens, float(avgdl))
    else:
        tfnorms = None

    ends = np.append(block_starts[1:], n)
    blocks = []
    for s, e in zip(block_starts, ends):
        if e - s == 1:
            # implicit single-posting block: the posting IS (max_docid,
            # max_tf) — min_docid/max_tfnorm/bins all derive from it at read
            # time (62% of a Zipf corpus's width-capped blocks are singles;
            # dropping their redundant fields is most of the block-metadata
            # byte cost). Readers: decode_blocks synthesizes the arrays; the
            # WAND kernel sets lo=hi and derives the tf bound from max_tf.
            blocks.append(
                {
                    "count": 1,
                    "min_docid": None,
                    "max_docid": int(docids[s]),
                    "max_tf": int(tfs[s]),
                    "max_tfnorm": None,
                    "docs_bin": b"",
                    "tfs_bin": b"",
                }
            )
            continue
        if tfnorms is not None:
            max_tfnorm = float(_ceil_bound(tfnorms[s:e].max()))
        else:
            max_tfnorm = float(_ceil_bound(tfnorm_upper_bound(float(tfs[s:e].max()))))
        blocks.append(
            {
                "count": int(e - s),
                "min_docid": int(docids[s]),
                "max_docid": int(docids[e - 1]),
                "max_tf": int(tfs[s:e].max()),
                "max_tfnorm": max_tfnorm,
                "docs_bin": doc_buf[doc_off[s] : doc_off[e]].tobytes(),
                "tfs_bin": tf_buf[tf_off[s] : tf_off[e]].tobytes(),
            }
        )
    return blocks


def encode_arrow_batch(
    term_codes: np.ndarray,
    term_dict,
    docids: np.ndarray,
    tfs: np.ndarray,
    doclens: np.ndarray | None,
    avgdl: float,
    shard_size: int,
    block_size: int = BLOCK_SIZE,
    block_span: int | None = BLOCK_SPAN,
    span_adaptive: bool = True,
):
    """Encode MANY posting lists at once — the one multi-list encoder; its
    output equals ``encode_postings`` run per (term, shard) group.

    Rows must be grouped by term with docids strictly ascending within
    each: ``term_codes`` (int64 per row) index the ``term_dict``
    pa.StringArray, and each run of equal (code, ``docid // shard_size``)
    is one list. Gaps, LEB128 and per-block
    maxima (``np.maximum.reduceat``) run over the whole batch, with ZERO
    per-group Python objects: term strings materialize once per group
    (``term_dict.take``), and the blocks column is a ListArray<Struct> whose
    binary children are built directly on the shared varint buffer (the
    concatenation of all blocks' bytes IS the buffer — offsets index into
    it, no per-block slicing/copies). ``doclens``/``avgdl`` give exact
    block bounds; ``doclens=None`` the dl-free bound (``avgdl`` unused).

    Returns a pyarrow.RecordBatch(term, shard, df, cf, blocks).
    """
    import pyarrow as pa

    n = len(docids)
    assert n > 0
    codes = np.ascontiguousarray(term_codes, np.int64)
    docids = np.ascontiguousarray(docids, np.int64)
    tfs = np.ascontiguousarray(tfs, np.int64)
    shards = docids // shard_size

    new_grp = np.empty(n, bool)
    new_grp[0] = True
    new_grp[1:] = (codes[1:] != codes[:-1]) | (shards[1:] != shards[:-1])
    grp_start = np.flatnonzero(new_grp)
    grp_id = np.cumsum(new_grp) - 1
    g = len(grp_start)

    gaps = np.empty(n, np.int64)
    gaps[0] = 0
    gaps[1:] = docids[1:] - docids[:-1]
    gaps[grp_start] = docids[grp_start] + 1
    if n > 1 and (gaps[~new_grp] <= 0).any():
        raise ValueError("docids must be strictly ascending within each group")
    if (tfs <= 0).any():
        raise ValueError("tfs must be positive")

    blk_start = _window_block_starts(
        docids, new_grp, block_size, block_span, span_adaptive
    )
    blk_end = np.empty(len(blk_start), np.int64)
    blk_end[:-1] = blk_start[1:]
    blk_end[-1] = n
    blk_grp = grp_id[blk_start]
    nb = len(blk_start)

    counts = (blk_end - blk_start).astype(np.int32)
    min_docid = docids[blk_start]
    max_docid = docids[blk_end - 1]
    max_tf = np.maximum.reduceat(tfs, blk_start).astype(np.int32)
    if doclens is not None:
        tfnorm = tfnorm_np(tfs, doclens, float(avgdl))
        max_tfn = np.maximum.reduceat(tfnorm, blk_start)
    else:
        max_tfn = tfnorm_upper_bound(max_tf.astype(np.float64))
    max_tfn = _ceil_bound(max_tfn)

    dbuf, dlens = varint_encode(gaps.astype(np.uint64))
    tbuf, tlens = varint_encode(tfs.astype(np.uint64))
    doff = np.zeros(n + 1, np.int64)
    np.cumsum(dlens, out=doff[1:])
    toff = np.zeros(n + 1, np.int64)
    np.cumsum(tlens, out=toff[1:])
    # binary children: offsets at block boundaries straight into the buffer.
    # pa.binary() carries int32 offsets — guard the 2 GiB-per-partition
    # boundary explicitly (raise, never wrap); hit it → raise n_pgroups /
    # encode partitions so each partition's varint buffer shrinks
    if doff[-1] > np.iinfo(np.int32).max or toff[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"encoded partition exceeds 2GiB ({doff[-1]}/{toff[-1]} bytes); "
            "increase n_pgroups so per-partition posting bytes fit int32 offsets"
        )
    # implicit single-posting blocks (see encode_postings): their bins are
    # empty and min_docid/max_tfnorm null. Compact the shared varint buffers
    # so singles' (redundant) bytes never reach the file — vectorized byte
    # drop via a range-marking cumsum, no per-block Python
    single = counts == 1
    d_blen = doff[blk_end] - doff[blk_start]
    t_blen = toff[blk_end] - toff[blk_start]
    if single.any():
        d_blen = d_blen.copy()
        t_blen = t_blen.copy()
        d_blen[single] = 0
        t_blen[single] = 0

        def _drop_ranges(buf, off):
            mark = np.zeros(len(buf) + 1, np.int64)
            np.add.at(mark, off[blk_start[single]], 1)
            np.add.at(mark, off[blk_end[single]], -1)
            return buf[np.cumsum(mark[:-1]) == 0]

        dbuf = _drop_ranges(dbuf, doff)
        tbuf = _drop_ranges(tbuf, toff)
    d_offsets = np.zeros(nb + 1, np.int64)
    np.cumsum(d_blen, out=d_offsets[1:])
    t_offsets = np.zeros(nb + 1, np.int64)
    np.cumsum(t_blen, out=t_offsets[1:])
    docs_bin = pa.Array.from_buffers(
        pa.binary(), nb,
        [None, pa.py_buffer(d_offsets.astype(np.int32).tobytes()), pa.py_buffer(dbuf.tobytes())],
    )
    tfs_bin = pa.Array.from_buffers(
        pa.binary(), nb,
        [None, pa.py_buffer(t_offsets.astype(np.int32).tobytes()), pa.py_buffer(tbuf.tobytes())],
    )
    block_struct = pa.StructArray.from_arrays(
        [
            pa.array(counts, pa.int32()),
            pa.array(min_docid, pa.int64(), mask=single),
            pa.array(max_docid, pa.int64()),
            pa.array(max_tf, pa.int32()),
            pa.array(max_tfn, pa.float64(), mask=single),
            docs_bin,
            tfs_bin,
        ],
        ["count", "min_docid", "max_docid", "max_tf", "max_tfnorm", "docs_bin", "tfs_bin"],
    )
    b0 = np.searchsorted(blk_grp, np.arange(g))
    list_offsets = np.append(b0, nb).astype(np.int32)
    blocks = pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()), block_struct)

    grp_end = np.append(grp_start[1:], n)
    df_g = (grp_end - grp_start).astype(np.int64)
    cf_g = np.add.reduceat(tfs, grp_start).astype(np.int64)
    return pa.RecordBatch.from_arrays(
        [
            term_dict.take(pa.array(codes[grp_start], pa.int64())),
            pa.array(shards[grp_start].astype(np.int32), pa.int32()),
            pa.array(df_g, pa.int64()),
            pa.array(cf_g, pa.int64()),
            blocks,
        ],
        ["term", "shard", "df", "cf", "blocks"],
    )


# ---------------------------------------------------------------------------
# columnar blocks: Arrow list<struct<BLOCK_SCHEMA>> rows → numpy, batch decode
# ---------------------------------------------------------------------------

class BlockColumns(NamedTuple):
    """The blocks of consecutive ``list<struct<BLOCK_SCHEMA>>`` rows as
    owned numpy arrays, one entry per block in row order. ``prev`` is each
    block's decode base (−1 at a row's first block, else the previous
    block's ``max_docid``); null ``min_docid`` reads −1, null ``max_tfnorm``
    NaN. ``docs``/``tfs`` hold the rows' concatenated bins, block ``i``'s
    bytes at ``[docs_off[i], docs_off[i + 1])``; row ``r``'s blocks are
    ``[row_off[r], row_off[r + 1])``."""

    count: np.ndarray
    min_docid: np.ndarray
    max_docid: np.ndarray
    max_tf: np.ndarray
    max_tfnorm: np.ndarray
    prev: np.ndarray
    docs: np.ndarray
    docs_off: np.ndarray
    tfs: np.ndarray
    tfs_off: np.ndarray
    row_off: np.ndarray


def owned_bytes(arr) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets from 0) of a binary array, the data COPIED out of the
    array's buffer: a slice of a row-group read would otherwise keep the
    whole group's bytes alive."""
    import pyarrow as pa

    bufs = arr.buffers()
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(bufs[1], odt)[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    if bufs[2] is None or off[-1] == off[0]:
        return np.empty(0, np.uint8), off - off[0]
    return np.frombuffer(bufs[2], np.uint8)[off[0] : off[-1]].copy(), off - off[0]


def _numeric(arr, dtype, null) -> np.ndarray:
    """An owned ``dtype`` copy of a numeric Arrow array, nulls read as
    ``null``."""
    bufs = arr.buffers()
    n = len(arr)
    vals = np.frombuffer(bufs[1], arr.type.to_pandas_dtype())[arr.offset : arr.offset + n]
    if not arr.null_count:
        return vals.astype(dtype)
    bits = np.unpackbits(np.frombuffer(bufs[0], np.uint8), bitorder="little")
    return np.where(bits[arr.offset : arr.offset + n].astype(bool), vals, null).astype(dtype)


def block_columns(rows) -> BlockColumns:
    """``BlockColumns`` of a ``list<struct<BLOCK_SCHEMA>>`` array (Array or
    ChunkedArray, non-null rows) — buffer reads and copies, no per-block
    Python."""
    import pyarrow as pa

    if isinstance(rows, pa.ChunkedArray):
        rows = rows.combine_chunks()
    offsets = rows.offsets.to_numpy().astype(np.int64)
    blocks = rows.values.slice(offsets[0], offsets[-1] - offsets[0])
    fields = blocks.flatten()

    def col(name, dtype=np.int64, null=-1):
        i = blocks.type.get_field_index(name)
        if i < 0:  # written before the field existed
            return np.full(len(blocks), null, dtype)
        return _numeric(fields[i], dtype, null)

    row_off = offsets - offsets[0]
    max_docid = col("max_docid")
    prev = np.empty_like(max_docid)
    prev[1:] = max_docid[:-1]
    prev[row_off[:-1][row_off[:-1] < len(prev)]] = -1
    docs, docs_off = owned_bytes(fields[blocks.type.get_field_index("docs_bin")])
    tfs, tfs_off = owned_bytes(fields[blocks.type.get_field_index("tfs_bin")])
    return BlockColumns(
        col("count"), col("min_docid"), max_docid, col("max_tf"),
        col("max_tfnorm", np.float64, np.nan), prev, docs, docs_off, tfs, tfs_off, row_off,
    )


def _varint_blocks(buf, off, sel, counts) -> np.ndarray:
    """The values of blocks ``sel`` of one bin column in ONE ``varint_decode``
    over their concatenated byte ranges. Each block must hold exactly its
    ``counts`` values and end on a value's last byte — a mismatch raises
    rather than shifting values into a neighbouring block."""
    lo, hi = off[sel], off[sel + 1]
    if len(sel) and (lo[1:] == hi[:-1]).all():
        b = buf[lo[0] : hi[-1]]
        lo, hi = lo - lo[0], hi - lo[0]
    else:
        b = buf[concat_ranges(lo, hi)]
        hi = np.cumsum(hi - lo)
        lo = hi - (off[sel + 1] - off[sel])
    ends = np.zeros(b.size + 1, np.int64)
    np.cumsum(b < 0x80, out=ends[1:])
    if (ends[hi] - ends[lo] != counts).any() or (b.size and (b[hi - 1] >= 0x80).any()):
        raise ValueError("a block's varint bytes do not hold its count of values")
    return varint_decode(b, int(counts.sum())).astype(np.int64)


def decode_blocks(cols: BlockColumns, sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(docids, tfs) of blocks ``sel`` (int block indices), concatenated in
    ``sel`` order: one varint pass per bin column over all selected blocks,
    then one cumsum that restarts at each block's decode base. Implicit
    single-posting blocks (count 1, empty bins) come from their
    ``max_docid``/``max_tf``."""
    sel = np.asarray(sel, np.int64)
    cnt = cols.count[sel]
    explicit = cols.docs_off[sel + 1] > cols.docs_off[sel]
    ex = np.flatnonzero(explicit)
    if ex.size:
        bsel, ecnt = sel[ex], cnt[ex]
        gaps = _varint_blocks(cols.docs, cols.docs_off, bsel, ecnt)
        tf = _varint_blocks(cols.tfs, cols.tfs_off, bsel, ecnt)
        # segmented cumsum: each block restarts from its decode base
        run = np.cumsum(gaps)
        first = np.cumsum(ecnt) - ecnt
        d = run - np.repeat(run[first] - gaps[first] - cols.prev[bsel], ecnt)
        if ex.size == sel.size:
            return d, tf
    single = np.flatnonzero(~explicit)
    if (cnt[single] != 1).any():
        raise ValueError("a block of several postings has no docs_bin")
    post = np.zeros(sel.size + 1, np.int64)
    np.cumsum(cnt, out=post[1:])
    docids = np.empty(post[-1], np.int64)
    tfs = np.empty(post[-1], np.int64)
    docids[post[single]] = cols.max_docid[sel[single]]
    tfs[post[single]] = cols.max_tf[sel[single]]
    if ex.size:
        at = concat_ranges(post[ex], post[ex + 1])
        docids[at], tfs[at] = d, tf
    return docids, tfs
