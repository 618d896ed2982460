"""CIFF interop tests.

Golden: decode the reference's own toy file
(/root/reference/tests/test_data/toy-complete-20200309.ciff — the same fixture
the reference asserts byte-exactly in tests/toy.rs:9-86) with OUR hand-rolled
codec and check the documented header/posting semantics. Round-trip: our
index → CIFF → decode ≡ original postings.
"""

import os

import numpy as np
import pytest

from ciff_spark.ciff_io import (
    CiffDocRecord,
    CiffHeader,
    CiffPostingsList,
    ciff_to_dataframes,
    export_index_to_ciff,
    read_ciff,
    write_ciff,
)

TOY = "/root/reference/tests/test_data/toy-complete-20200309.ciff"
# the reference's golden file is not vendored here (see FIXTURES.md): its
# golden tests skip without it, the self-generated round trips still run
needs_toy = pytest.mark.skipif(
    not os.path.exists(TOY), reason="reference toy CIFF file is not present"
)


@needs_toy
def test_read_reference_toy_golden():
    header, pls, docs = read_ciff(TOY)
    # values documented in SURVEY §1.1 (decoded from the golden file)
    assert header.version == 1
    assert header.num_postings_lists == 9
    assert header.num_docs == 3
    assert header.total_postings_lists == 9
    assert header.total_docs == 3
    assert header.total_terms_in_collection == 16
    assert header.average_doclength == pytest.approx(16 / 3)
    assert "Anserini" in header.description

    assert len(pls) == 9 and len(docs) == 3
    terms = [p.term for p in pls]
    assert terms == sorted(terms)  # lexicographic order contract
    for p in pls:
        assert p.df == len(p.postings)
        assert p.cf == sum(tf for _, tf in p.postings)
        # gap-decode → strictly ascending absolute docids within [0, num_docs)
        absolute = np.cumsum([g for g, _ in p.postings])
        assert (np.diff(absolute) > 0).all() if len(absolute) > 1 else True
        assert absolute[0] == p.postings[0][0]  # first is absolute
        assert absolute.max() < header.num_docs
    # dense doc records with doclengths summing to the collection total
    assert [d.docid for d in docs] == [0, 1, 2]
    assert sum(d.doclength for d in docs) == 16
    # the toy's Porter-stemmed terms (tests/toy.rs:34-39 asserts the .terms file)
    assert "simpl" in terms


def test_roundtrip_write_read(tmp_path):
    path = str(tmp_path / "rt.ciff")
    header = CiffHeader(
        version=1, num_postings_lists=2, num_docs=2, total_postings_lists=2,
        total_docs=2, total_terms_in_collection=7, average_doclength=3.5,
        description="round-trip",
    )
    pls = [
        CiffPostingsList("alpha", 2, 3, [(0, 2), (1, 1)]),
        CiffPostingsList("beta", 1, 4, [(1, 4)]),
    ]
    docs = [CiffDocRecord(0, "d0", 3), CiffDocRecord(1, "d1", 4)]
    write_ciff(path, header, pls, docs)
    h2, p2, d2 = read_ciff(path)
    assert h2 == header
    assert p2 == pls
    assert d2 == docs


def test_export_import_our_index(spark, tmp_path):
    from ciff_spark.build import BuildConfig, build_index
    from ciff_spark.sources.transcripts import transcripts_df

    df = transcripts_df(spark, 12, seed=5, partitions=3)
    root = str(tmp_path / "idx")
    store = build_index(df, root, config=BuildConfig(n_shards=3, n_pgroups=4), resume=False)
    out = str(tmp_path / "export.ciff")
    header = export_index_to_ciff(spark, root, out)

    meta = store.meta(spark)
    assert header.num_docs == meta["num_docs"]
    assert header.total_terms_in_collection == meta["total_terms"]
    assert header.num_postings_lists == meta["num_terms"]

    # import back and compare against the index's own decoded postings
    _, postings_df, docs_df = ciff_to_dataframes(spark, out)
    got = {
        (r["term"], r["docid"]): r["tf"] for r in postings_df.collect()
    }
    from collections import defaultdict

    from ciff_spark.functions.codec import decode_postings

    exp = {}
    rows = store.read(spark, "postings").orderBy("term", "shard").collect()
    for r in rows:
        d, t = decode_postings([b.asDict() for b in r["blocks"]])
        for dd, tt in zip(d.tolist(), t.tolist()):
            exp[(r["term"], dd)] = tt
    assert got == exp
    assert docs_df.count() == meta["num_docs"]


def test_partial_export_preserves_global_stats(spark, tmp_path):
    """num_* < total_* (proto:16-21): a query-term-only export must carry the
    FULL collection statistics and byte-identical posting lists for the
    exported terms, plus the complete DocRecord stream."""
    from ciff_spark.build import BuildConfig, build_index
    from ciff_spark.sources.transcripts import transcripts_df

    df = transcripts_df(spark, 12, seed=5, partitions=3)
    root = str(tmp_path / "idx")
    store = build_index(df, root, config=BuildConfig(n_shards=3, n_pgroups=4), resume=False)
    meta = store.meta(spark)

    full_path = str(tmp_path / "full.ciff")
    export_index_to_ciff(spark, root, full_path)
    _, full_pls, full_docs = read_ciff(full_path)
    subset = sorted({pl.term for pl in full_pls})[:3]

    part_path = str(tmp_path / "partial.ciff")
    ph = export_index_to_ciff(spark, root, part_path, terms=subset)
    h2, pls2, docs2 = read_ciff(part_path)

    # header: partial counts, global totals preserved
    assert h2.num_postings_lists == len(subset) < h2.total_postings_lists
    assert h2.total_postings_lists == meta["num_terms"]
    assert h2.num_docs == h2.total_docs == meta["num_docs"]
    assert h2.total_terms_in_collection == meta["total_terms"]
    assert h2.average_doclength == ph.average_doclength

    # exported lists identical to the same lists in the full export
    by_term = {pl.term: pl for pl in full_pls}
    assert [pl.term for pl in pls2] == subset
    for pl in pls2:
        assert pl == by_term[pl.term]
    # complete doc records (scorer state travels with the partial file)
    assert docs2 == full_docs


@needs_toy
def test_iter_ciff_streams_toy():
    """The streaming reader yields the same messages as the materializer."""
    from ciff_spark.ciff_io import iter_ciff

    header, pls, docs = read_ciff(TOY)
    kinds = {"header": [], "postings": [], "doc": []}
    for kind, msg in iter_ciff(TOY):
        kinds[kind].append(msg)
    assert kinds["header"] == [header]
    assert kinds["postings"] == pls
    assert kinds["doc"] == docs


def test_export_chunking_is_byte_invariant(spark, tmp_path):
    """The distributed export's output must be a pure function of the index:
    forcing one-term chunks across many range partitions (chunk_bytes=1,
    n_parts=7) has to produce byte-identical output to one big chunk —
    proving the chunk ordering (file ranges disjoint, chunks break at term
    boundaries) reconstructs the exact global message order."""
    from ciff_spark.build import BuildConfig, build_index
    from ciff_spark.sources.transcripts import transcripts_df

    df = transcripts_df(spark, 10, seed=9, partitions=3)
    root = str(tmp_path / "idx")
    build_index(df, root, config=BuildConfig(n_shards=3, n_pgroups=4), resume=False)
    one = str(tmp_path / "one.ciff")
    many = str(tmp_path / "many.ciff")
    export_index_to_ciff(spark, root, one, chunk_bytes=1 << 30, n_parts=2)
    export_index_to_ciff(spark, root, many, chunk_bytes=1, n_parts=7)
    with open(one, "rb") as a, open(many, "rb") as b:
        assert a.read() == b.read()
