"""Streaming incremental-index and multimodal plumbing tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ciff_spark.multimodal import extract_features, frame_sample, media_stats, synth_media_df
from ciff_spark.sources.transcripts import transcripts_pdf
from ciff_spark.store import IndexStore
from ciff_spark.streaming.incremental import (
    SEG_DOCS,
    SEG_POSTINGS,
    append_batch,
    read_segments,
    start_incremental_index,
    streaming_windowed_events,
)


def test_incremental_equals_batch(spark, tmp_path):
    """Metamorphic: stream-ingested segments reassemble to the same inverted
    index a cold batch build produces over the same rows."""
    from collections import defaultdict

    from ciff_spark.build import BuildConfig, build_index
    from oracle import decode_postings

    pdf = transcripts_pdf(20, seed=9)
    indir = tmp_path / "in"
    indir.mkdir()
    # two "arrivals": conv order preserved so batch docids stay dense+sorted
    half = len(pdf) // 2
    # cut at a conversation boundary to keep (conv_id, turn_idx) order global
    cut = pdf[pdf.conv_id <= pdf.iloc[half].conv_id].index.max() + 1
    spark.createDataFrame(pdf.iloc[:cut]).coalesce(1).write.parquet(str(indir / "b0"))
    spark.createDataFrame(pdf.iloc[cut:]).coalesce(1).write.parquet(str(indir / "b1"))

    root = str(tmp_path / "idx_inc")
    q = start_incremental_index(
        spark, str(indir / "*"), root, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    store = IndexStore(root)
    segs = read_segments(spark, store, SEG_POSTINGS).collect()
    got = defaultdict(list)
    for r in sorted(segs, key=lambda r: r["segment"]):
        d, t = decode_postings([b.asDict() for b in r["blocks"]])
        got[r["term"]].append((r["segment"], d, t))

    batch_store = build_index(
        spark.createDataFrame(pdf), str(tmp_path / "idx_batch"),
        config=BuildConfig(n_shards=1, n_pgroups=2), resume=False,
    )
    exp = {}
    for r in batch_store.read(spark, "postings").collect():
        d, t = decode_postings([b.asDict() for b in r["blocks"]])
        exp.setdefault(r["term"], []).append((r["shard"], d, t))

    assert set(got) == set(exp)
    for term in exp:
        ed = np.concatenate([p[1] for p in sorted(exp[term])])
        et = np.concatenate([p[2] for p in sorted(exp[term])])
        gd = np.concatenate([p[1] for p in sorted(got[term], key=lambda p: p[0])])
        gt = np.concatenate([p[2] for p in sorted(got[term], key=lambda p: p[0])])
        np.testing.assert_array_equal(gd, ed, err_msg=term)
        np.testing.assert_array_equal(gt, et, err_msg=term)
    # seg docs are dense 0..N-1 overall
    docs = read_segments(spark, store, SEG_DOCS).orderBy("docid").collect()
    assert [r["docid"] for r in docs] == list(range(len(pdf)))


def _seg_snapshot(spark, store):
    post = (
        read_segments(spark, store, SEG_POSTINGS)
        .orderBy("segment", "term", "shard")
        .toPandas()
        .drop(columns=["blocks"])
    )
    docs = read_segments(spark, store, SEG_DOCS).orderBy("docid").toPandas()
    return post, docs


def test_append_batch_idempotent_under_retries(spark, tmp_path):
    """foreachBatch is at-least-once: a redelivered batch_id must be a no-op,
    and a crash BETWEEN the postings and docs writes must heal on retry with
    no duplicated postings and no shifted docid range."""
    import shutil as sh

    pdf = transcripts_pdf(6, seed=5).sort_values(["conv_id", "turn_idx"])
    cut = len(pdf) // 2
    store = IndexStore(str(tmp_path / "retry_idx"))
    b0 = spark.createDataFrame(pdf.iloc[:cut])
    b1 = spark.createDataFrame(pdf.iloc[cut:])

    append_batch(spark, store, b0, 0)
    snap0 = _seg_snapshot(spark, store)
    # full redelivery of a committed batch: exact no-op
    append_batch(spark, store, b0, 0)
    snap1 = _seg_snapshot(spark, store)
    assert snap0[0].equals(snap1[0]) and snap0[1].equals(snap1[1])

    # crash between the two writes of batch 1: postings committed, docs not
    append_batch(spark, store, b1, 1)
    sh.rmtree(f"{store.path(SEG_DOCS)}/seg_1")
    append_batch(spark, store, b1, 1)  # retry heals
    post, docs = _seg_snapshot(spark, store)
    # dense docids across both segments, no duplicates
    assert list(docs["docid"]) == list(range(len(pdf)))
    # postings of batch 1 exist exactly once
    assert (post["segment"] == 1).sum() > 0
    dup = post.groupby(["segment", "term", "shard"]).size()
    assert (dup == 1).all()


def test_torn_segment_invisible_to_readers(spark, tmp_path):
    """A crash between the postings write and the docs write (the commit
    point) leaves a torn segment: readers — FreshSearcher and read_segments —
    must see only COMMITTED segments, not the orphan postings."""
    import shutil as sh

    from ciff_spark.serve import FreshSearcher

    pdf = transcripts_pdf(6, seed=5).sort_values(["conv_id", "turn_idx"])
    cut = len(pdf) // 2
    from ciff_spark.build import BuildConfig, build_index

    root = str(tmp_path / "torn_idx")
    build_index(
        spark.createDataFrame(pdf.iloc[:cut]), root,
        config=BuildConfig(n_shards=1, n_pgroups=2), resume=False,
    )
    store = IndexStore(root)
    append_batch(spark, store, spark.createDataFrame(pdf.iloc[cut:]), 0)
    # simulate the crash: docs dir (and its _SUCCESS commit marker) gone,
    # postings of segment 0 left behind
    sh.rmtree(f"{store.path(SEG_DOCS)}/seg_0")
    assert read_segments(spark, store, SEG_POSTINGS).count() == 0
    assert read_segments(spark, store, SEG_DOCS).count() == 0
    searcher = FreshSearcher(root)
    assert searcher.num_docs == len(searcher.dl) == cut  # base only — no skewed stats
    # scoring sees base docs only and never KeyErrors on orphan docids
    q = " ".join(pdf.iloc[0]["text"].split()[:2])
    for docid, _ in searcher.search(q, k=5):
        assert docid < cut
    # no segment opened, even after a search: no segment file in any
    # lexicon entry, no segment row group in the hot LRU, no segment df
    seg_dir = store.path(SEG_POSTINGS)
    assert not any(f.startswith(seg_dir) for lex in searcher._lex.values() for f, _, _ in lex)
    assert not any(isinstance(key, tuple) and key[0].startswith(seg_dir) for key in searcher._hot)
    assert searcher._seg_df == {}
    # the retry heals: recommit, readers see the segment again
    append_batch(spark, store, spark.createDataFrame(pdf.iloc[cut:]), 0)
    assert read_segments(spark, store, SEG_DOCS).count() == len(pdf) - cut
    assert FreshSearcher(root).num_docs == len(pdf)


def test_span_policy_persists_and_governs_appends(spark, tmp_path):
    """The base index's block-geometry policy (block_span / span_adaptive)
    must persist in meta and govern streaming appends: an UNBOUNDED-span
    index keeps count-only geometry on its segments instead of silently
    reverting to the default width cap."""
    from ciff_spark.build import BuildConfig, build_index
    from ciff_spark.streaming.incremental import _span_policy, append_batch

    pdf = transcripts_pdf(12, seed=3).sort_values(["conv_id", "turn_idx"])
    cut = len(pdf) // 2
    root = str(tmp_path / "span_policy_idx")
    build_index(
        spark.createDataFrame(pdf.iloc[:cut]), root,
        config=BuildConfig(n_shards=1, n_pgroups=2, block_size=8, block_span=None),
        resume=False,
    )
    store = IndexStore(root)
    meta = store.meta_local()
    assert meta["block_span"] == 0  # 0 persists "unbounded"
    assert meta["span_adaptive"] is True
    assert _span_policy(meta) == (None, True)
    # pre-r5 meta (fields absent) → codec defaults
    from ciff_spark.functions.codec import BLOCK_SPAN

    assert _span_policy({}) == (BLOCK_SPAN, True)

    append_batch(spark, store, spark.createDataFrame(pdf.iloc[cut:]), 0,
                 block_size=8)
    # every segment block must be pure count-geometry: 8 postings per block
    # except each list's last — a width cap would break blocks early
    rows = read_segments(spark, store, SEG_POSTINGS).collect()
    assert rows
    for r in rows:
        for b in r["blocks"][:-1]:
            assert b["count"] == 8, (r["term"], [x["count"] for x in r["blocks"]])


def test_concat_compaction_equals_rebuild(spark, tmp_path):
    """Metamorphic: concat compaction (decode+re-encode SEGMENTS only, append
    rows, extend shard_sizes, merge stats) must be semantically identical to
    a full rebuild over the same rows — same decoded per-term postings, same
    collection stats, rank-identical top-k — while never rewriting a base
    postings file (cost ∝ segment size is the whole point)."""
    import glob as g

    from ciff_spark.build import BuildConfig, build_index
    from ciff_spark.query import IndexReader
    from ciff_spark.serve import LocalSearcher
    from ciff_spark.streaming.incremental import compact_segments
    from oracle import decode_postings

    pdf = transcripts_pdf(30, seed=11).sort_values(["conv_id", "turn_idx"])
    convs = sorted(pdf["conv_id"].unique())
    base_pdf = pdf[pdf.conv_id.isin(convs[:18])]
    b1 = pdf[pdf.conv_id.isin(convs[18:24])]
    b2 = pdf[pdf.conv_id.isin(convs[24:])]

    cfg = BuildConfig(n_shards=3, n_pgroups=4)
    root = str(tmp_path / "cmp_idx")
    build_index(spark.createDataFrame(base_pdf), root, config=cfg, resume=False)
    store = IndexStore(root)
    append_batch(spark, store, spark.createDataFrame(b1), 0)
    append_batch(spark, store, spark.createDataFrame(b2), 1)

    pre_files = set(g.glob(f"{root}/postings/pgroup=*/*.parquet"))
    compact_segments(spark, root)
    post_files = set(g.glob(f"{root}/postings/pgroup=*/*.parquet"))
    assert pre_files <= post_files, "compaction rewrote base postings files"
    assert not g.glob(f"{root}/seg_*"), "segments not dropped"

    root2 = str(tmp_path / "rebuilt_idx")
    build_index(spark.createDataFrame(pdf), root2, config=cfg, resume=False)
    store2 = IndexStore(root2)

    def gather(st):
        out = {}
        rows = st.read(spark, "postings").orderBy(
            "term", "shard", F.expr("blocks[0].max_docid")
        ).collect()
        for r in rows:
            d, t = decode_postings([b.asDict() for b in r["blocks"]])
            if r["term"] in out:
                d0, t0 = out[r["term"]]
                d, t = np.concatenate([d0, d]), np.concatenate([t0, t])
            out[r["term"]] = (d, t)
        return out

    got, exp = gather(store), gather(store2)
    assert set(got) == set(exp)
    for term in exp:
        np.testing.assert_array_equal(got[term][0], exp[term][0], err_msg=term)
        np.testing.assert_array_equal(got[term][1], exp[term][1], err_msg=term)

    m1, m2 = store.meta_local(), store2.meta_local()
    # shard_size is a layout parameter fixed at base-build time (compaction
    # keeps the base sharding) — only the semantic stats must agree
    for k in ("num_docs", "num_terms", "total_terms"):
        assert m1[k] == m2[k], k
    assert m1["avgdl"] == pytest.approx(m2["avgdl"])

    s1, s2 = LocalSearcher(root), LocalSearcher(root2)
    np.testing.assert_array_equal(s1.dl, s2.dl)
    queries = ["the and", "turn tool", "a of to", pdf.iloc[0]["text"][:40]]
    for q in queries:
        assert s1.search(q, k=10) == s2.search(q, k=10), q
    r1, r2 = IndexReader(spark, root), IndexReader(spark, root2)
    batch = [(i, q) for i, q in enumerate(queries)]
    t1 = sorted(map(tuple, r1.topk(batch, k=10, mode="wand").collect()))
    t2 = sorted(map(tuple, r2.topk(batch, k=10, mode="wand").collect()))
    assert t1 == t2
    # exact mode on the compacted index: a (term, shard) holding a base row
    # and appended rows must be scored as separate lists
    split = store.read(spark, "postings").groupBy("term", "shard").count()
    assert split.where(F.col("count") > 1).count() > 0
    e1 = r1.topk(batch, k=10, mode="exact").toPandas()
    e2 = r2.topk(batch, k=10, mode="exact").toPandas()
    e1, e2 = (
        e.sort_values(["qid", "score", "docid"], ascending=[True, False, True])
        .reset_index(drop=True)
        for e in (e1, e2)
    )
    assert list(zip(e1.qid, e1.docid)) == list(zip(e2.qid, e2.docid))
    np.testing.assert_allclose(e1.score, e2.score, rtol=0, atol=1e-9)


def test_streaming_windowed_events(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    indir = str(tmp_path / "ev")
    ev.coalesce(1).write.parquet(indir)
    agg = streaming_windowed_events(
        spark, indir, ev.schema.simpleString()[7:-1].replace(":", " "), gap="1 hour"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ev_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT event_type, count(*) AS windows, sum(n) AS n FROM ev_out GROUP BY event_type"
    ).collect()
    exp = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert {r["event_type"]: r["n"] for r in got} == exp


def test_multimodal_pipeline(spark):
    media = synth_media_df(spark, 30, seed=3)
    feats = extract_features(media).toPandas()
    assert len(feats) == 30
    assert all(len(v) == 32 for v in feats["feature"])
    norms = [float(np.linalg.norm(np.asarray(v, dtype=np.float64))) for v in feats["feature"]]
    assert all(abs(n - 1.0) < 1e-5 for n in norms)
    # determinism: same seed → same features
    feats2 = extract_features(synth_media_df(spark, 30, seed=3)).toPandas()
    a = np.stack([np.asarray(v) for v in feats.sort_values("media_id")["feature"]])
    b = np.stack([np.asarray(v) for v in feats2.sort_values("media_id")["feature"]])
    np.testing.assert_array_equal(a, b)

    frames = frame_sample(media, every_ms=5000)
    fp = frames.toPandas()
    assert set(fp["kind"]) <= {"video", "audio"}
    assert (fp["frame_ms"] % 5000 == 0).all()

    stats = media_stats(media).toPandas()
    assert set(stats["kind"]) == {"image", "audio", "video"}


def test_fresh_search_equals_rebuild(spark, tmp_path):
    """Fresh serving over base + segments must be rank/score-identical to the
    single-node oracle over ALL rows (base ∪ streamed)."""
    import numpy as np

    from ciff_spark.build import BuildConfig, build_index
    from ciff_spark.serve import FreshSearcher
    from oracle import OracleIndex

    pdf = transcripts_pdf(24, seed=31).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    cut = pdf[pdf.conv_id <= pdf.iloc[len(pdf) * 2 // 3].conv_id].index.max() + 1
    base_pdf, stream_pdf = pdf.iloc[:cut], pdf.iloc[cut:]

    root = str(tmp_path / "fresh_idx")
    build_index(
        spark.createDataFrame(base_pdf), root,
        config=BuildConfig(n_shards=3, n_pgroups=2, block_size=8), resume=False,
    )
    indir = tmp_path / "fresh_in"
    indir.mkdir()
    spark.createDataFrame(stream_pdf).coalesce(1).write.parquet(str(indir / "b0"))
    q = start_incremental_index(
        spark, str(indir / "*"), root, str(tmp_path / "fresh_ckpt"), available_now=True
    )
    q.awaitTermination(120)

    oracle = OracleIndex.build(pdf)
    searcher = FreshSearcher(root)
    assert searcher.num_docs == oracle.num_docs
    assert abs(searcher.avgdl - oracle.avgdl) < 1e-9
    for query in ["w000001", "w000002 w000345", "w000003 w000001 w001234", "zz none"]:
        got = searcher.search(query, k=10)
        exp = oracle.topk(query, 10)
        assert [d for d, _ in got] == [d for d, _ in exp], query
        assert np.allclose([s for _, s in got], [s for _, s in exp], atol=1e-9), query
    # base-only searcher must differ once segments exist (stats moved)
    # — guards against silently ignoring segments
    from ciff_spark.serve import LocalSearcher

    base_only = LocalSearcher(root)
    assert base_only.num_docs < searcher.num_docs
