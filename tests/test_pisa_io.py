"""PISA canonical format interop: the reference's own golden flow —
toy CIFF → PISA files → CIFF must be a fixed point (tests/toy.rs:89-143) —
plus lexicon/binary-collection unit round-trips and export-from-index."""

import os

import numpy as np
import pytest

from ciff_spark.ciff_io import read_ciff
from ciff_spark.pisa_io import (
    build_lexicon,
    ciff_file_to_pisa,
    encode_u32_sequence,
    export_index_to_pisa,
    iter_binary_collection,
    pisa_to_ciff_file,
    read_lexicon,
    read_pisa,
    write_pisa,
)

TOY = "/root/reference/tests/test_data/toy-complete-20200309.ciff"
# the reference's golden file is not vendored here (see FIXTURES.md): its
# golden tests skip without it, the self-generated round trips still run
needs_toy = pytest.mark.skipif(
    not os.path.exists(TOY), reason="reference toy CIFF file is not present"
)


def test_binary_collection_roundtrip():
    seqs = [np.array([3], "<u4"), np.array([], "<u4"), np.arange(100, dtype="<u4")]
    buf = b"".join(encode_u32_sequence(s) for s in seqs)
    out = list(iter_binary_collection(buf))
    assert len(out) == 3
    for a, b in zip(seqs, out):
        np.testing.assert_array_equal(a, b)


def test_lexicon_roundtrip():
    strings = ["", "a", "alpha", "β-unicode", "z" * 1000]
    assert read_lexicon(build_lexicon(strings)) == strings
    # layout spot-check: count, then count+1 offsets (payload_vector.rs:36-61)
    buf = build_lexicon(["ab", "c"])
    assert buf[:8] == (2).to_bytes(8, "little")
    assert np.frombuffer(buf, "<u8", 3, 8).tolist() == [0, 2, 3]


def test_lexicon_view_random_access(tmp_path):
    """O(1)/O(log n) access without materializing — PayloadSlice::get shape
    (payload_vector.rs:196-206), incl. the mmap'd file path."""
    from ciff_spark.pisa_io import LexiconView, open_lexicon

    strings = sorted(f"term{i:05d}" for i in range(500))
    view = LexiconView(build_lexicon(strings))
    assert len(view) == 500
    assert view[0] == strings[0] and view[499] == strings[499] and view[250] == strings[250]
    with pytest.raises(IndexError):
        view[500]
    assert view.index_of("term00123") == 123
    assert view.index_of("nope") is None
    p = tmp_path / "x.termlex"
    p.write_bytes(build_lexicon(strings))
    mv = open_lexicon(str(p))
    assert mv[42] == strings[42]
    assert mv.index_of(strings[499]) == 499


@needs_toy
def test_toy_ciff_pisa_ciff_fixed_point(tmp_path):
    """The reference's round-trip golden test, run through OUR converters."""
    base = str(tmp_path / "toy")
    ciff_file_to_pisa(TOY, base)

    terms, postings, sizes, titles = read_pisa(base)
    assert len(terms) == 9 and sizes.sum() == 16
    assert titles == ["WSJ_1", "TREC_DOC_1", "DOC222"]

    out = str(tmp_path / "roundtrip.ciff")
    pisa_to_ciff_file(base, out, description="roundtrip")
    h1, p1, d1 = read_ciff(TOY)
    h2, p2, d2 = read_ciff(out)
    assert (h2.num_postings_lists, h2.num_docs, h2.total_terms_in_collection) == (
        h1.num_postings_lists, h1.num_docs, h1.total_terms_in_collection,
    )
    assert h2.average_doclength == pytest.approx(h1.average_doclength)
    assert d1 == d2
    for a, b in zip(p1, p2):
        assert (a.term, a.df, a.cf) == (b.term, b.df, b.cf)
        assert a.postings == b.postings  # identical gaps + tfs


def test_pisa_reorders_unsorted_terms(tmp_path):
    """Scrambled input terms come back sorted with postings following their
    term — the reference's silent write-side reorder (check_lines_sorted +
    reorder_pisa_index, src/lib.rs:556-558; metamorphic golden in
    tests/toy.rs:146-226)."""
    from ciff_spark.pisa_io import read_pisa

    scrambled = ["c", "a", "b"]
    postings = {
        "c": (np.array([2]), np.array([30])),
        "a": (np.array([0, 1]), np.array([1, 2])),
        "b": (np.array([1]), np.array([9])),
    }
    write_pisa(str(tmp_path / "x"), scrambled, postings, np.array([2, 3, 4]), ["d0", "d1", "d2"])
    terms, got, sizes, titles = read_pisa(str(tmp_path / "x"))
    assert terms == ["a", "b", "c"]
    for t in terms:
        np.testing.assert_array_equal(got[t][0], postings[t][0])
        np.testing.assert_array_equal(got[t][1], postings[t][1])


def test_export_index_to_pisa(spark, tmp_path):
    from ciff_spark.build import BuildConfig, build_index
    from ciff_spark.sources.transcripts import transcripts_df

    df = transcripts_df(spark, 10, seed=17, partitions=2)
    root = str(tmp_path / "idx")
    store = build_index(df, root, config=BuildConfig(n_shards=3, n_pgroups=2), resume=False)
    base = str(tmp_path / "pisa")
    export_index_to_pisa(spark, root, base)

    terms, postings, sizes, titles = read_pisa(base)
    meta = store.meta(spark)
    assert len(sizes) == meta["num_docs"]
    assert len(terms) == meta["num_terms"]
    assert int(sizes.sum()) == meta["total_terms"]
    assert terms == sorted(terms)
    # postings agree with the index's own decode
    from oracle import decode_postings

    for r in store.read(spark, "postings").collect():
        d, tf = decode_postings([b.asDict() for b in r["blocks"]])
        pd_, pt = postings[r["term"]]
        # shard slice must appear within the term's full list
        pos = np.searchsorted(pd_, d[0])
        np.testing.assert_array_equal(pd_[pos : pos + len(d)], d)
        np.testing.assert_array_equal(pt[pos : pos + len(d)], tf)
    # lexicons readable and aligned
    assert read_lexicon(open(f"{base}.termlex", "rb").read()) == terms
    assert read_lexicon(open(f"{base}.doclex", "rb").read()) == titles


# ---------------------------------------------------------------------------
# front-coded lexicon
# ---------------------------------------------------------------------------

def test_fc_lexicon_roundtrip_and_access():
    from ciff_spark.pisa_io import FcLexiconView, build_fc_lexicon, build_lexicon

    terms = sorted(
        {f"prefix_shared_{i % 7}_{i:05d}" for i in range(500)}
        | {"a", "ab", "abc", "zz", ""}
    )
    buf = build_fc_lexicon(terms, block=16)
    v = FcLexiconView(buf)
    assert len(v) == len(terms)
    assert list(v) == terms
    for i in (0, 1, 15, 16, 17, len(terms) - 1):
        assert v[i] == terms[i]
    for probe in (terms[0], terms[16], terms[-1], terms[len(terms) // 2]):
        assert v.index_of(probe) == terms.index(probe)
    assert v.index_of("not_in_lexicon") is None
    assert v.index_of("") == 0  # empty string is a valid first entry
    # shared prefixes must actually compress vs the plain payload vector
    assert len(buf) < len(build_lexicon(terms))


def test_fc_lexicon_hypothesis_lists():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ciff_spark.pisa_io import FcLexiconView, build_fc_lexicon

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(st.text(max_size=24), max_size=60),
        st.integers(min_value=1, max_value=8),
    )
    def check(strings, block):
        strings = sorted(set(strings))
        v = FcLexiconView(build_fc_lexicon(strings, block=block))
        assert list(v) == strings
        for i, s in enumerate(strings):
            assert v[i] == s
            assert v.index_of(s) == i

    check()


def test_fc_lexicon_empty_and_mmap(tmp_path):
    from ciff_spark.pisa_io import FcLexiconView, build_fc_lexicon, open_fc_lexicon

    empty = FcLexiconView(build_fc_lexicon([]))
    assert len(empty) == 0 and list(empty) == []
    assert empty.index_of("x") is None

    p = tmp_path / "t.termlex.fc"
    p.write_bytes(build_fc_lexicon(["alpha", "beta", "gamma"], block=2))
    v = open_fc_lexicon(str(p))
    assert [v[0], v[1], v[2]] == ["alpha", "beta", "gamma"]
    assert v.index_of("beta") == 1 and v.index_of("delta") is None


def test_write_pisa_front_coded_termlex(tmp_path):
    from ciff_spark.pisa_io import open_fc_lexicon, open_lexicon, write_pisa
    import numpy as np

    base = str(tmp_path / "fc")
    # deliberately unsorted input: write_pisa re-sorts, and the .fc lexicon
    # must be built over the SORTED terms
    terms = ["gamma", "alpha", "beta"]
    postings = {
        "alpha": (np.array([0, 2]), np.array([1, 3])),
        "beta": (np.array([1]), np.array([2])),
        "gamma": (np.array([0]), np.array([5])),
    }
    write_pisa(base, terms, postings, np.array([2, 2, 1]), ["d0", "d1", "d2"],
               front_coded=True)
    fc = open_fc_lexicon(f"{base}.termlex.fc")
    plain = open_lexicon(f"{base}.termlex")
    assert list(fc) == list(plain) == ["alpha", "beta", "gamma"]
    assert fc.index_of("beta") == 1 and fc.index_of("zeta") is None


def test_binary_collection_never_panics_on_arbitrary_bytes():
    """Parse-fuzz parity with the reference's BinarySequence quickcheck
    (/root/reference/src/binary_collection.rs:427-437): arbitrary bytes
    either parse into u32 sequences consuming the whole buffer, or raise a
    clean ValueError — never an unbounded read, crash, or hang."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def check(data):
        _check_one(data)

    check()


def _check_one(data):
    try:
        seqs = list(iter_binary_collection(data))
    except ValueError:
        return
    assert sum(4 + 4 * len(s) for s in seqs) == len(data)
    # a successfully parsed buffer round-trips byte-identically
    assert b"".join(encode_u32_sequence(s) for s in seqs) == data


def test_fc_lexicon_rejects_short_buffers():
    """A front-coded lexicon cut short by any number of bytes raises
    ValueError when opened — it never serves ``'ban'`` for ``'banana'``."""
    from ciff_spark.pisa_io import FcLexiconView, build_fc_lexicon

    buf = build_fc_lexicon(["apple", "banana"], block=16)
    assert FcLexiconView(buf)[1] == "banana"
    for full in (buf, build_fc_lexicon([])):
        for k in range(len(full)):
            with pytest.raises(ValueError):
                FcLexiconView(full[:k])


def test_fc_lexicon_never_panics_on_arbitrary_bytes():
    """Arbitrary bytes behind the magic, and a valid lexicon with bytes
    overwritten, either open and read consistently (iteration, indexing and
    search agree) or raise ValueError — never IndexError, struct.error or a
    string cut at its block's end."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ciff_spark.pisa_io import FC_MAGIC, FcLexiconView, build_fc_lexicon

    valid = build_fc_lexicon(["alpha", "alps", "banana", "band", "bandana", "zed"], block=4)

    def overwrite(edits):
        out = bytearray(valid)
        for i, b in edits:
            out[i] = b
        return bytes(out)

    mutated = st.lists(
        st.tuples(st.integers(0, len(valid) - 1), st.integers(0, 255)), min_size=1, max_size=3
    ).map(overwrite)

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=96).map(lambda b: FC_MAGIC + b) | mutated)
    def check(data):
        try:
            v = FcLexiconView(data)
            strings = list(v)
            assert len(strings) == len(v)
            for i, s in enumerate(strings):
                assert v[i] == s
                v.index_of(s)
        except ValueError:
            return

    check()
