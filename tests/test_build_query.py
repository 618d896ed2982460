"""End-to-end build + query tests: golden tiny fixture, oracle parity,
partition invariance, WAND ≡ exact ≡ oracle, resume-after-crash.

Mirrors the reference's golden/round-trip/metamorphic layers
(/root/reference/tests/toy.rs) over the transcript data model (FIXTURES.md §4).
"""

import math
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from ciff_spark.build import BuildConfig, build_index
from ciff_spark.functions.scoring import B, K1
from ciff_spark.query import IndexReader, bm25_topk_relational
from ciff_spark.sources.transcripts import transcripts_df, transcripts_pdf
from oracle import OracleIndex, decode_postings

N_CONVS = 40  # sf-small-ish: ~250 docs

QUERIES = [
    (0, "w000001"),                      # single hot term (negative idf likely)
    (1, "w000000 w000123"),              # hot + mid
    (2, "w000777 w000001 w004321"),      # rare + hot mix
    (3, "zzzz absent qqqq"),             # absent terms
    (4, "w000002 w000002 w000003"),      # duplicate query term (deduped)
    (5, "w009912"),                      # very rare (may be absent)
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx") / "small")
    df = transcripts_df(spark, N_CONVS, seed=42, partitions=4)
    store = build_index(
        df, root, config=BuildConfig(n_shards=4, n_pgroups=8, block_size=16),
        resume=False,
    )
    oracle = OracleIndex.build(transcripts_pdf(N_CONVS, seed=42))
    return store, oracle, root


def _engine_postings(spark, store):
    eng = defaultdict(list)
    for r in store.read(spark, "postings").orderBy("term", "shard").collect():
        d, t = decode_postings([b.asDict() for b in r["blocks"]])
        eng[r["term"]].append((r["shard"], d, t))
    merged = {}
    for term, parts in eng.items():
        parts.sort(key=lambda p: p[0])  # shard-order merge == concat
        merged[term] = (
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
        )
    return merged


# ---------------------------------------------------------------------------
# golden tiny fixture (≙ the reference's 3-doc toy CIFF, tests/toy.rs:9-86)
# ---------------------------------------------------------------------------

def test_golden_tiny(spark, tmp_path):
    rows = [
        ("c0", 0, "user", "The quick brown fox", None),
        ("c0", 1, "assistant", "the lazy dog, the dog!", None),
        ("c1", 0, "user", "Quick dog", None),
    ]
    df = spark.createDataFrame(
        [(c, t, r, x, tool, None) for c, t, r, x, tool in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    store = build_index(
        df, str(tmp_path / "tiny"),
        config=BuildConfig(n_shards=2, n_pgroups=2, block_size=2), resume=False,
    )
    meta = store.meta(spark)
    assert meta["num_docs"] == 3
    assert meta["total_terms"] == 4 + 5 + 2
    assert meta["avgdl"] == pytest.approx(11 / 3)
    assert meta["num_terms"] == 6

    eng = _engine_postings(spark, store)
    expected = {
        "the": ([0, 1], [1, 2]),
        "quick": ([0, 2], [1, 1]),
        "brown": ([0], [1]),
        "fox": ([0], [1]),
        "lazy": ([1], [1]),
        "dog": ([1, 2], [2, 1]),
    }
    assert set(eng) == set(expected)
    for term, (ed, et) in expected.items():
        np.testing.assert_array_equal(eng[term][0], ed)
        np.testing.assert_array_equal(eng[term][1], et)

    docs = store.read(spark, "docs").orderBy("docid").collect()
    assert [(r["docid"], r["conv_id"], r["turn_idx"], r["doclength"]) for r in docs] == [
        (0, "c0", 0, 4), (1, "c0", 1, 5), (2, "c1", 0, 2),
    ]

    # hand-computed BM25: query "dog", doc 2 (tf=1, dl=2), N=3, df=2
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5))
    tfn = 1 * (K1 + 1) / (1 + K1 * (1 - B + B * 2 / (11 / 3)))
    reader = IndexReader(spark, store.root)
    res = reader.topk([(0, "dog")], k=3, mode="exact").toPandas()
    got = dict(zip(res.docid, res.score))
    assert got[2] == pytest.approx(idf * tfn, abs=1e-12)
    assert set(got) == {1, 2}


# ---------------------------------------------------------------------------
# oracle parity at sf-small
# ---------------------------------------------------------------------------

def test_index_content_matches_oracle(spark, built):
    store, oracle, _ = built
    meta = store.meta(spark)
    assert meta["num_docs"] == oracle.num_docs
    assert meta["total_terms"] == oracle.total_terms
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-12)
    eng = _engine_postings(spark, store)
    assert set(eng) == set(oracle.postings)
    for term, plist in oracle.postings.items():
        od = np.array([p[0] for p in plist])
        ot = np.array([p[1] for p in plist])
        np.testing.assert_array_equal(eng[term][0], od, err_msg=term)
        np.testing.assert_array_equal(eng[term][1], ot, err_msg=term)
    # term_stats df/cf match
    ts = {r["term"]: (r["df"], r["cf"]) for r in store.read(spark, "term_stats").collect()}
    ots = oracle.term_stats()
    assert ts == {r.term: (r.df, r.cf) for r in ots.itertuples(index=False)}


def test_docs_match_oracle(spark, built):
    store, oracle, _ = built
    eng = store.read(spark, "docs").orderBy("docid").toPandas()
    pd.testing.assert_frame_equal(
        eng.reset_index(drop=True).astype({"doclength": "int64"}),
        oracle.docs.astype({"turn_idx": eng["turn_idx"].dtype}),
        check_dtype=False,
    )


@pytest.mark.parametrize("mode", ["exact", "wand"])
def test_topk_matches_oracle(spark, built, mode):
    store, oracle, root = built
    reader = IndexReader(spark, root)
    res = reader.topk(QUERIES, k=10, mode=mode).toPandas()
    for qid, qtext in QUERIES:
        got = res[res.qid == qid].sort_values(
            ["score", "docid"], ascending=[False, True]
        )
        exp = oracle.topk(qtext, 10)
        assert list(got.docid) == [d for d, _ in exp], f"{mode} qid={qid}"
        assert np.allclose(got.score, [s for _, s in exp], atol=1e-9), f"{mode} qid={qid}"


@pytest.mark.parametrize("round_scores", [False, True])
def test_shared_theta_equals_plain_wand(spark, built, round_scores, monkeypatch):
    """Seeding every shard's WAND threshold with shard 0's k-th score must be
    a pure optimization: identical results to unseeded WAND and to exact.
    The 4-shard fixture sits below the seeding gate, so the gate is lowered
    and the test checks that the seeded pass really ran with a floor."""
    import ciff_spark.query as query_mod

    store, oracle, root = built
    reader = IndexReader(spark, root)
    monkeypatch.setattr(query_mod, "SHARED_THETA_MIN_SHARDS", 0)
    seeds = []
    score = IndexReader._score

    def spy(self, *args, theta0=None, **kwargs):
        seeds.append(theta0)
        return score(self, *args, theta0=theta0, **kwargs)

    monkeypatch.setattr(IndexReader, "_score", spy)

    def norm(df):
        return (
            df.toPandas()
            .sort_values(["qid", "score", "docid"], ascending=[True, False, True])
            .reset_index(drop=True)
        )

    plain = norm(reader.topk(QUERIES, k=10, mode="wand", round_scores=round_scores))
    seeded = norm(
        reader.topk(QUERIES, k=10, mode="wand", round_scores=round_scores,
                    shared_theta=True)
    )
    exact = norm(reader.topk(QUERIES, k=10, mode="exact", round_scores=round_scores))
    assert any(seeds), "the seeded pass never ran with a shard-0 floor"
    pd.testing.assert_frame_equal(seeded, plain, atol=1e-12, rtol=0)
    assert list(seeded.docid) == list(exact.docid)
    assert np.allclose(seeded.score, exact.score, atol=1e-9)


def test_shard_sizes_gap_raises(spark, built, tmp_path):
    """A shard_sizes table whose rows leave a docid gap is a corrupt index:
    the reader must raise, not score the gap's docs with doclength 0."""
    import glob
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    _, _, root = built
    bad = str(tmp_path / "gap")
    shutil.copytree(root, bad)
    ss = f"{bad}/shard_sizes"
    t = papq.read_table(ss)
    for f in glob.glob(f"{ss}/*.parquet"):
        os.remove(f)
    papq.write_table(t.filter(pc.field("shard") != 1), f"{ss}/part-0.parquet")
    for mode in ("exact", "wand"):
        with pytest.raises(ValueError, match="do not tile"):
            IndexReader(spark, bad).topk(QUERIES, k=10, mode=mode).collect()


def test_failed_docs_write_fails_build(spark, tmp_path, monkeypatch):
    """The docs table writes on a driver thread beside the postings stage;
    its failure must fail the build, and meta (the completion marker) must
    not be written."""
    from ciff_spark.store import IndexStore

    write = IndexStore.write

    def failing_write(self, table, df, partition_by=None):
        if table == "docs":
            raise OSError("injected docs write failure")
        return write(self, table, df, partition_by)

    monkeypatch.setattr(IndexStore, "write", failing_write)
    root = str(tmp_path / "docs_fail")
    with pytest.raises(OSError, match="injected docs write failure"):
        build_index(
            transcripts_df(spark, 10, seed=42, partitions=2), root,
            config=BuildConfig(n_shards=2, n_pgroups=2, block_size=16),
            resume=False,
        )
    assert not IndexStore(root).exists("meta")


def test_rounded_rank_is_sound_on_adversarial_ties(spark, tmp_path):
    """Many docs whose raw scores differ only below 1e-6: ranking on rounded
    scores must break ties by docid — the exact contract the old k+200
    over-fetch only approximated. All docs here are identical single-term
    repeats, so every raw score is equal up to summation noise and the
    rounded contract demands docids 0..k-1."""
    rows = [(f"c{i:03d}", 0, "user", "tie tie tie", None) for i in range(40)]
    df = spark.createDataFrame(
        [(c, t, r, x, tool, None) for c, t, r, x, tool in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    store = build_index(
        df, str(tmp_path / "ties"),
        config=BuildConfig(n_shards=4, n_pgroups=2, block_size=4), resume=False,
    )
    reader = IndexReader(spark, store.root)
    for mode in ("exact", "wand"):
        res = (
            reader.topk([(0, "tie")], k=10, mode=mode, round_scores=True)
            .toPandas()
            .sort_values(["score", "docid"], ascending=[False, True])
        )
        assert list(res.docid) == list(range(10)), mode
        assert res.score.nunique() == 1


def test_relational_topk_matches_oracle(spark, built):
    store, oracle, _ = built
    pdf = transcripts_pdf(N_CONVS, seed=42).sort_values(["conv_id", "turn_idx"])
    pdf = pdf.reset_index(drop=True)
    pdf["docid"] = np.arange(len(pdf), dtype=np.int64)
    corpus = spark.createDataFrame(pdf[["docid", "text"]])
    for qid, qtext in QUERIES[:3]:
        got = bm25_topk_relational(corpus, qtext, k=10, round_scores=False).toPandas()
        exp = oracle.topk(qtext, 10)
        assert list(got.docid) == [d for d, _ in exp], f"relational qid={qid}"
        assert np.allclose(got.score, [s for _, s in exp], atol=1e-9)


# ---------------------------------------------------------------------------
# metamorphic: partition invariance
# ---------------------------------------------------------------------------

def test_partition_invariance(spark, built, tmp_path):
    store, _, _ = built
    df = transcripts_df(spark, N_CONVS, seed=42, partitions=7)
    store2 = build_index(
        df, str(tmp_path / "idx2"),
        config=BuildConfig(n_shards=4, n_pgroups=3, block_size=16, rank_partitions=11),
        resume=False,
    )
    a = _engine_postings(spark, store)
    b = _engine_postings(spark, store2)
    assert set(a) == set(b)
    for term in a:
        np.testing.assert_array_equal(a[term][0], b[term][0])
        np.testing.assert_array_equal(a[term][1], b[term][1])
    # shard_size and n_pgroups are layout knobs (differ by config on purpose);
    # the semantic header stats must be partition-invariant
    m1, m2 = store.meta(spark), store2.meta(spark)
    layout = {"shard_size", "n_pgroups"}
    assert {k: v for k, v in m1.items() if k not in layout} == {
        k: v for k, v in m2.items() if k not in layout
    }


# ---------------------------------------------------------------------------
# resume: crash mid-postings, resume → identical index + lineage recorded
# ---------------------------------------------------------------------------

def test_resume_after_crash(spark, built, tmp_path):
    store, _, _ = built
    df = transcripts_df(spark, N_CONVS, seed=42, partitions=4)
    root = str(tmp_path / "idx_resume")
    cfg = BuildConfig(n_shards=4, n_pgroups=8, block_size=16, pgroup_batches=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            df, root,
            config=BuildConfig(**{**cfg.__dict__, "fail_after_batches": 2}),
            resume=False,
        )
    store2 = build_index(df, root, config=cfg, resume=True)  # resume
    a = _engine_postings(spark, store)
    b = _engine_postings(spark, store2)
    assert set(a) == set(b)
    for term in a:
        np.testing.assert_array_equal(a[term][0], b[term][0])
        np.testing.assert_array_equal(a[term][1], b[term][1])
    lineage = store2.read(spark, "_lineage").toPandas()
    done = lineage[(lineage.stage == "postings") & (lineage.status == "done")]
    assert sorted(done.partition_id.unique()) == list(range(8))
    # resumed run must NOT have re-processed the first 2 batches' pgroups
    assert len(done) == 8


def test_resume_rejects_legacy_block_schema(spark, tmp_path):
    """Resuming a partial build whose COMPLETED pgroups lack min_docid block
    metadata (pre-width-cap index) must fail loud — appending 7-field block
    structs beside legacy 6-field ones is the mixed nested schema the
    serving readers refuse to unify."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as papq

    df = transcripts_df(spark, N_CONVS, seed=42, partitions=4)
    root = str(tmp_path / "idx_legacy")
    cfg = BuildConfig(n_shards=4, n_pgroups=8, block_size=16, pgroup_batches=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            df, root,
            config=BuildConfig(**{**cfg.__dict__, "fail_after_batches": 2}),
            resume=False,
        )
    # rewrite the completed pgroups' files WITHOUT min_docid (what a pre-r4
    # encoder would have written)
    rewrote = 0
    for f in glob.glob(f"{root}/postings/pgroup=*/*.parquet"):
        t = papq.read_table(f)
        blocks = t.column("blocks").combine_chunks()
        st = blocks.values
        keep = [
            st.type.field(i).name
            for i in range(st.type.num_fields)
            if st.type.field(i).name != "min_docid"
        ]
        legacy_struct = pa.StructArray.from_arrays(
            [st.field(n) for n in keep], keep
        )
        legacy_blocks = pa.ListArray.from_arrays(blocks.offsets, legacy_struct)
        cols = {n: t.column(n) for n in t.column_names}
        cols["blocks"] = legacy_blocks
        papq.write_table(pa.table(cols), f)
        rewrote += 1
    assert rewrote > 0
    with pytest.raises(ValueError, match="min_docid"):
        build_index(df, root, config=cfg, resume=True)
