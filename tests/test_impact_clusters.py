"""Unit tests for the quantized-impact retrieval path (scoring="impact") and
the connected-components dedup clustering."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ciff_spark.operators.dedup import connected_components
from ciff_spark.query import IndexReader
from ciff_spark.sources.jsonl_vectors import build_index_from_vector_rows


def _half_up(x):
    # Spark F.round / DuckDB round() are HALF_UP for positives; np.round is
    # banker's — pin the test brute force to the engines' mode
    return np.floor(x + 0.5)


def test_impact_wand_equals_exact_and_bruteforce(spark, tmp_path):
    rng = np.random.RandomState(7)
    n_docs, terms = 60, [f"t{i:02d}" for i in range(15)]
    rows = []
    for d in range(n_docs):
        for t in terms:
            if rng.rand() < 0.4:
                rows.append((str(d), d, t, float(rng.rand() * 10)))
    pdf = pd.DataFrame(rows, columns=["ext_id", "pos", "term", "score"])
    raw = spark.createDataFrame(pdf)
    root = str(tmp_path / "imp")
    build_index_from_vector_rows(
        spark, raw, root, quantize=True, n_shards=4, n_pgroups=4, block_size=8
    )

    # numpy oracle: reference quantizer over positive scores, Σ impact top-k
    pos = pdf[pdf["score"] > 0]["score"]
    lo, hi = float(pos.min()), float(pos.max())
    pdf = pdf.assign(
        tfq=np.clip(_half_up((pdf["score"] - lo) / (hi - lo) * 254) + 1, 1, 255)
    )
    qterms = ["t01", "t05", "t09"]
    want = (
        pdf[pdf["term"].isin(qterms)]
        .groupby("pos")["tfq"].sum()
        .reset_index()
        .sort_values(["tfq", "pos"], ascending=[False, True], kind="mergesort")
        .head(5)
    )
    want_pairs = list(zip(want["pos"].astype(int), want["tfq"].astype(int)))

    reader = IndexReader(spark, root)
    for mode in ("wand", "exact"):
        got = (
            reader.topk([(0, " ".join(qterms))], k=5, mode=mode, scoring="impact")
            .toPandas()
            .sort_values(["score", "docid"], ascending=[False, True], kind="mergesort")
        )
        got_pairs = list(zip(got["docid"].astype(int), got["score"].astype(int)))
        # ext_id "d" was ranked by pos=d, so docid == d
        assert got_pairs == want_pairs, f"impact {mode} mismatch"


def test_impact_unknown_query_terms_empty(spark, tmp_path):
    raw = spark.createDataFrame(
        pd.DataFrame(
            [("a", 0, "x", 3.0), ("b", 1, "y", 1.0)],
            columns=["ext_id", "pos", "term", "score"],
        )
    )
    root = str(tmp_path / "imp2")
    build_index_from_vector_rows(spark, raw, root, quantize=True, n_shards=2, n_pgroups=2)
    out = IndexReader(spark, root).topk([(0, "zzz")], k=3, scoring="impact")
    assert out.count() == 0


def test_connected_components_chain_and_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "docid long")
    # a 4-chain (needs multiple propagation rounds), a pair, two singletons
    pairs = spark.createDataFrame(
        [(3, 2), (2, 1), (1, 0), (5, 6)], "d1 long, d2 long"
    )
    out = connected_components(docs, pairs).toPandas()
    got = dict(zip(out["docid"].astype(int), out["cluster"].astype(int)))
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_no_edges(spark):
    docs = spark.createDataFrame([(i,) for i in range(3)], "docid long")
    pairs = spark.createDataFrame([], "d1 long, d2 long")
    out = connected_components(docs, pairs).toPandas()
    assert dict(zip(out["docid"].astype(int), out["cluster"].astype(int))) == {
        0: 0, 1: 1, 2: 2,
    }


def test_impact_local_searcher_matches_reader(spark, tmp_path):
    rng = np.random.RandomState(11)
    rows = [
        (str(d), d, f"w{t}", float(rng.rand() * 5 + 0.1))
        for d in range(30)
        for t in range(8)
        if rng.rand() < 0.5
    ]
    raw = spark.createDataFrame(
        pd.DataFrame(rows, columns=["ext_id", "pos", "term", "score"])
    )
    root = str(tmp_path / "imp3")
    build_index_from_vector_rows(
        spark, raw, root, quantize=True, n_shards=3, n_pgroups=2, block_size=4
    )
    reader = IndexReader(spark, root)
    want = [
        (int(r["docid"]), int(r["score"]))
        for r in reader.topk([(0, "w1 w4 w6")], k=7, scoring="impact")
        .orderBy(F.desc("score"), F.asc("docid"))
        .collect()
    ]
    from ciff_spark.serve import LocalSearcher

    got = [
        (d, int(s))
        for d, s in LocalSearcher(root).search("w1 w4 w6", k=7, scoring="impact")
    ]
    assert got == want and len(got) == 7


def test_impact_index_exports_to_pisa_and_ciff(spark, tmp_path):
    """The quantized impact index exchanges through the same PISA/CIFF
    export path as the BM25 index — the reference's jsonl2ciff raison
    d'etre (learned-sparse index exchange)."""
    rows = [
        ("a", 0, "red", 3.0), ("a", 0, "blue", 1.0),
        ("b", 1, "red", 9.0), ("b", 1, "green", 2.0),
        ("c", 2, "blue", 5.0), ("c", 2, "green", 7.5),
    ]
    import pandas as _pd

    raw = spark.createDataFrame(
        _pd.DataFrame(rows, columns=["ext_id", "pos", "term", "score"])
    )
    root = str(tmp_path / "imp4")
    build_index_from_vector_rows(
        spark, raw, root, quantize=True, n_shards=2, n_pgroups=2
    )
    from ciff_spark.ciff_io import read_ciff
    from ciff_spark.pisa_io import export_index_to_pisa, pisa_to_ciff_file, read_pisa

    base = str(tmp_path / "px")
    export_index_to_pisa(spark, root, base)
    terms, postings, sizes, titles = read_pisa(base)
    assert terms == ["blue", "green", "red"]
    assert titles == ["a", "b", "c"]  # first-seen docid order
    # exported postings == what the impact reader serves: exact-mode top-k
    # with k >= df returns every (docid, impact=tf) of a single-term query
    reader = IndexReader(spark, root)
    for t in terms:
        got = {
            (int(r["docid"]), int(r["score"]))
            for r in reader.topk([(0, t)], k=100, scoring="impact").collect()
        }
        d, tf = postings[t]
        assert got == set(zip(d.tolist(), tf.tolist()))
    # CIFF round trip: header stats match the unique-terms doclength quirk
    cpath = str(tmp_path / "x.ciff")
    pisa_to_ciff_file(base, cpath)
    header, pls, recs = read_ciff(cpath)
    assert header.num_docs == 3
    assert [p.term for p in pls] == terms
    assert [r.doclength for r in recs] == [2, 2, 2]


def test_impact_fresh_frozen_range_and_idempotent_append(spark, tmp_path):
    """Fresh impact serving: base build fits the quantizer range; a streamed
    vector segment quantizes with that FROZEN range (out-of-range scores
    clamp to 1/255); FreshSearcher Σ-impact over base ∪ segment matches a
    numpy oracle of exactly those semantics; a retried append is a no-op."""
    import os

    from ciff_spark.serve import FreshSearcher
    from ciff_spark.store import IndexStore
    from ciff_spark.streaming.incremental import append_vector_batch

    # base: docs 0..3 with scores in [1, 9]; segment: docs 4..5, one score
    # above the base hi (20 → clamps to 255) and one below lo (0.5 → 1)
    base_rows = [
        ("0", 0, "a", 1.0), ("0", 0, "b", 5.0),
        ("1", 1, "a", 9.0),
        ("2", 2, "b", 3.0), ("2", 2, "c", 7.0),
        ("3", 3, "c", 2.0),
    ]
    seg_rows = [
        ("4", 4, "a", 20.0), ("4", 4, "b", 0.5),
        ("5", 5, "b", 9.0), ("5", 5, "zonly", 4.0),
    ]
    cols = ["ext_id", "pos", "term", "score"]
    root = str(tmp_path / "impf")
    build_index_from_vector_rows(
        spark, spark.createDataFrame(pd.DataFrame(base_rows, columns=cols)),
        root, quantize=True, n_shards=2, n_pgroups=2, block_size=4,
    )
    store = IndexStore(root)
    meta = store.meta_local()
    assert meta["q_lo"] == 1.0 and meta["q_hi"] == 9.0
    seg_df = spark.createDataFrame(pd.DataFrame(seg_rows, columns=cols))
    append_vector_batch(spark, store, seg_df, 0)
    marker = f"{root}/seg_docs/seg_0/_SUCCESS"
    mtime = os.path.getmtime(marker)
    append_vector_batch(spark, store, seg_df, 0)  # retried delivery: no-op
    assert os.path.getmtime(marker) == mtime

    # numpy oracle with the frozen base range
    lo, hi = 1.0, 9.0
    def tfq(s):
        return int(np.clip(np.floor((s - lo) / (hi - lo) * 254 + 0.5) + 1, 1, 255))
    exp = {}
    for ext, _pos, term, score in base_rows + seg_rows:
        if term in ("a", "b"):
            exp[int(ext)] = exp.get(int(ext), 0) + tfq(score)
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    got = [
        (d, int(s)) for d, s in FreshSearcher(root).search("a b", k=10, scoring="impact")
    ]
    assert got == want
    assert tfq(20.0) == 255 and tfq(0.5) == 1  # the clamp actually engaged

    # a term that exists ONLY in the segment is servable
    z = FreshSearcher(root).search("zonly", k=3, scoring="impact")
    assert [(d, int(s)) for d, s in z] == [(5, tfq(4.0))]


def test_cc_star_agrees_with_label_on_random_graphs(spark):
    """Property: large-star/small-star CC ≡ min-label CC (which ≡ a Python
    union-find) on seeded random graphs of varying density."""
    import random

    from ciff_spark.operators.dedup import connected_components_star

    for seed, n, m in [(1, 30, 15), (2, 40, 60), (3, 25, 5), (4, 50, 120)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        # python union-find oracle
        parent = list(range(n))
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in range(n)}

        docs = spark.createDataFrame([(i,) for i in range(n)], "docid long")
        pairs = spark.createDataFrame(edges or [(0, 0)], "d1 long, d2 long")
        out = connected_components_star(docs, pairs).toPandas()
        got = dict(zip(out["docid"].astype(int), out["cluster"].astype(int)))
        assert got == want, f"seed {seed}: star CC != union-find"


def test_cc_star_deep_chain_logarithmic_rounds(spark):
    """A 10k-node chain: min-label would need 10k one-hop rounds (its cap is
    16 before escalation); the star algorithm must finish in ≲ 15."""
    from ciff_spark.operators.dedup import connected_components_star

    n = 10_000
    docs = spark.range(n).selectExpr("id AS docid")
    pairs = spark.range(n - 1).selectExpr("id AS d1", "id + 1 AS d2")
    stats = {}
    out = connected_components_star(docs, pairs, stats=stats)
    agg = out.selectExpr(
        "count(*) AS n", "sum(cluster) AS s", "max(cluster) AS mx"
    ).first()
    assert (int(agg["n"]), int(agg["s"]), int(agg["mx"])) == (n, 0, 0)
    assert stats["rounds"] <= 15, f"took {stats['rounds']} rounds"


def test_cc_label_escalates_to_star(spark):
    """connected_components on a chain deeper than its round cap must
    escalate to the star algorithm and still return the right clusters."""
    n = 60  # diameter 59 > the 16-round label cap
    docs = spark.range(n).selectExpr("id AS docid")
    pairs = spark.range(n - 1).selectExpr("id AS d1", "id + 1 AS d2")
    # driver_max_edges=0 forces the distributed path (the default would take
    # the driver union-find shortcut and never exercise the escalation)
    out = connected_components(docs, pairs, driver_max_edges=0).toPandas()
    assert set(out["cluster"].astype(int)) == {0}
    assert len(out) == n


def test_cc_driver_shortcut_matches_distributed(spark):
    """The r6 driver union-find shortcut must produce the identical labeling
    to the distributed min-label propagation on the same graph."""
    docs = spark.range(12).selectExpr("id AS docid")
    pairs = spark.createDataFrame(
        [(3, 2), (2, 1), (1, 0), (5, 6), (9, 8), (8, 7), (11, 10)],
        "d1 long, d2 long",
    )
    fast = connected_components(docs, pairs).toPandas()
    slow = connected_components(docs, pairs, driver_max_edges=0).toPandas()
    f = dict(zip(fast["docid"].astype(int), fast["cluster"].astype(int)))
    s = dict(zip(slow["docid"].astype(int), slow["cluster"].astype(int)))
    assert f == s
    assert f[3] == 0 and f[6] == 5 and f[4] == 4


def test_cc_probe_above_gate_matches_driver_path(spark):
    """With ``0 < driver_max_edges <`` the edge count, the driver probe
    collects a partial edge list and falls through to the distributed
    propagation over the same persisted pairs: the pairs pipeline runs
    once, the labeling equals the driver path's, and the pairs are released
    (the autouse fixture fails the test on a leaked persisted RDD)."""
    from pyspark.sql import functions as F

    edges = [(3, 2), (2, 1), (1, 0), (5, 6), (9, 8), (8, 7), (11, 10)]
    docs = spark.range(12).selectExpr("id AS docid")
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    driver = connected_components(docs, pairs).toPandas()
    evaluated = spark.sparkContext.accumulator(0)

    def counted(d1):
        evaluated.add(1)
        return d1

    pairs = pairs.withColumn("d1", F.udf(counted, "long")("d1"))
    probed = connected_components(docs, pairs, driver_max_edges=3).toPandas()
    assert evaluated.value == len(edges)  # the probe and every round share one pass
    assert dict(zip(probed["docid"].astype(int), probed["cluster"].astype(int))) == dict(
        zip(driver["docid"].astype(int), driver["cluster"].astype(int))
    )


def test_impact_compaction_preserves_quantizer_range(spark, tmp_path):
    """Compacting an impact index must (a) keep serving Σ-impact results
    identical to pre-compaction fresh serving, and (b) carry the frozen
    quantizer range (meta q_lo/q_hi) through the meta rewrite — dropping it
    would silently flip later append_vector_batch calls to truncation."""
    from ciff_spark.serve import FreshSearcher, LocalSearcher
    from ciff_spark.store import IndexStore
    from ciff_spark.streaming.incremental import append_vector_batch, compact_segments

    cols = ["ext_id", "pos", "term", "score"]
    base_rows = [("0", 0, "a", 2.0), ("1", 1, "a", 8.0), ("1", 1, "b", 3.0),
                 ("2", 2, "b", 5.0)]
    seg_rows = [("3", 3, "a", 6.0), ("3", 3, "c", 4.0), ("4", 4, "b", 12.0)]
    root = str(tmp_path / "impc")
    build_index_from_vector_rows(
        spark, spark.createDataFrame(pd.DataFrame(base_rows, columns=cols)),
        root, quantize=True, n_shards=2, n_pgroups=2, block_size=4,
    )
    store = IndexStore(root)
    append_vector_batch(
        spark, store, spark.createDataFrame(pd.DataFrame(seg_rows, columns=cols)), 0
    )
    before = {
        q: FreshSearcher(root).search(q, k=10, scoring="impact")
        for q in ("a b", "c", "a b c")
    }
    compact_segments(spark, root)
    meta = store.meta_local()
    assert meta["q_lo"] == 2.0 and meta["q_hi"] == 8.0
    for q, want in before.items():
        assert LocalSearcher(root).search(q, k=10, scoring="impact") == want, q
        # fresh serving over the compacted base (no segments) agrees too
        assert FreshSearcher(root).search(q, k=10, scoring="impact") == want, q
    # and a post-compaction append still quantizes with the frozen range
    append_vector_batch(
        spark, store,
        spark.createDataFrame(
            pd.DataFrame([("5", 5, "a", 100.0)], columns=cols)  # clamps to 255
        ),
        1,
    )
    got = FreshSearcher(root).search("a", k=10, scoring="impact")
    # doc 1 (score 8.0 = q_hi → 255) and doc 5 (100.0, clamped → 255) tie at
    # the ceiling; docid breaks the tie — the clamp engaged iff doc 5 is 255
    assert got[:2] == [(1, 255.0), (5, 255.0)]


def test_legacy_guards_fail_loud(spark, tmp_path):
    """Pre-r4 artifacts must be rejected loudly, not silently corrupted:
    (a) appending vector batches to a quantized index whose meta lacks the
    frozen range must raise (silent truncation would mix scales); (b) concat
    compaction onto postings files without min_docid in the block struct
    must raise (mixed nested schemas break the serving readers)."""
    import glob

    import pyarrow.parquet as papq
    import pytest

    from ciff_spark.store import IndexStore
    from ciff_spark.streaming.incremental import (
        append_batch,
        append_vector_batch,
        compact_segments,
    )

    cols = ["ext_id", "pos", "term", "score"]
    root = str(tmp_path / "legacy")
    build_index_from_vector_rows(
        spark,
        spark.createDataFrame(
            pd.DataFrame([("0", 0, "a", 2.0), ("1", 1, "b", 5.0)], columns=cols)
        ),
        root, quantize=True, n_shards=2, n_pgroups=2,
    )
    store = IndexStore(root)

    # (a) simulate a pre-r4 meta: same fields but no q_lo/q_hi
    m = store.meta_local()
    store.write_meta_local(
        m["num_docs"], m["num_terms"], m["total_terms"], m["avgdl"],
        m["shard_size"], m["block_size"], m["description"],
        bounds_avgdl=m["bounds_avgdl"], n_pgroups=m["n_pgroups"],
    )
    seg = spark.createDataFrame(pd.DataFrame([("2", 2, "a", 3.0)], columns=cols))
    with pytest.raises(ValueError, match="frozen quantizer range"):
        append_vector_batch(spark, store, seg, 0)

    # (b) simulate pre-r4 postings: rewrite each file with min_docid dropped
    for f in glob.glob(f"{root}/postings/pgroup=*/*.parquet"):
        t = papq.read_table(f).to_pylist()
        for r in t:
            r["blocks"] = [
                {k: v for k, v in b.items() if k != "min_docid"}
                for b in r["blocks"]
            ]
        import pyarrow as pa

        papq.write_table(pa.Table.from_pylist(t), f)
    # restore a range so (a) doesn't fire first, then stream a TEXT batch
    store.write_meta_local(
        m["num_docs"], m["num_terms"], m["total_terms"], m["avgdl"],
        m["shard_size"], m["block_size"], m["description"],
        bounds_avgdl=m["bounds_avgdl"], n_pgroups=m["n_pgroups"],
        q_lo=2.0, q_hi=5.0,
    )
    append_batch(
        spark, store,
        spark.createDataFrame([("c9", 0, "user", "a b", None, None)],
                              "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"),
        1,
    )
    with pytest.raises(ValueError, match="variable-width"):
        compact_segments(spark, root)


def test_streaming_vector_index_fresh_equals_batch(spark, tmp_path):
    """Structured-Streaming impact ingestion: stream doc-vector rows through
    start_incremental_vector_index (two availableNow drains, checkpointed),
    then FreshSearcher Σ-impact over base ∪ streamed segments must equal a
    COLD rebuild over all rows with the same frozen quantizer range."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from ciff_spark.serve import FreshSearcher, LocalSearcher
    from ciff_spark.sources.jsonl_vectors import quantize_scores
    from ciff_spark.store import IndexStore
    from ciff_spark.streaming.incremental import start_incremental_vector_index

    cols = ["ext_id", "pos", "term", "score"]
    base_rows = [("0", 0, "a", 1.0), ("0", 0, "b", 6.0), ("1", 1, "a", 9.0),
                 ("2", 2, "b", 4.0)]
    s1 = [("3", 3, "a", 2.5), ("3", 3, "c", 7.0)]
    s2 = [("4", 4, "b", 11.0), ("4", 4, "c", 0.5)]  # clamps vs base range
    root = str(tmp_path / "vstream_idx")
    build_index_from_vector_rows(
        spark, spark.createDataFrame(pd.DataFrame(base_rows, columns=cols)),
        root, quantize=True, n_shards=2, n_pgroups=2, block_size=4,
    )
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    ckpt = str(tmp_path / "ckpt")

    def put(rows, name):
        t = pa.table({
            "ext_id": pa.array([r[0] for r in rows], pa.string()),
            "pos": pa.array([r[1] for r in rows], pa.int64()),
            "term": pa.array([r[2] for r in rows], pa.string()),
            "score": pa.array([r[3] for r in rows], pa.float64()),
        })
        papq.write_table(t, f"{feed}/{name}.parquet")

    put(s1, "s1")
    q = start_incremental_vector_index(spark, feed, root, ckpt)
    assert q.awaitTermination(120), "first drain timed out"
    put(s2, "s2")
    q = start_incremental_vector_index(spark, feed, root, ckpt)
    assert q.awaitTermination(120), "second drain timed out"

    store = IndexStore(root)
    m = store.meta_local()
    # cold rebuild of ALL rows quantized with the SAME frozen range
    all_rows = spark.createDataFrame(
        pd.DataFrame(base_rows + s1 + s2, columns=cols)
    )
    root2 = str(tmp_path / "rebuilt")
    from ciff_spark.sources.jsonl_vectors import build_index_from_vector_rows as bld
    from ciff_spark.plans.rank import add_dense_docid, release_rank_cache
    # emulate frozen-range rebuild: quantize manually, then index unquantized
    rowsq = quantize_scores(all_rows, True, range_=(m["q_lo"], m["q_hi"]))
    bld(
        spark,
        rowsq.select("ext_id", "pos", "term", F.col("tf").cast("double").alias("score")),
        root2, quantize=False, n_shards=2, n_pgroups=2, block_size=4,
    )
    for query in ("a b", "c", "a b c"):
        fresh = FreshSearcher(root).search(query, k=10, scoring="impact")
        cold = LocalSearcher(root2).search(query, k=10, scoring="impact")
        assert fresh == cold, query


@pytest.mark.parametrize("algo", ["label", "star"])
def test_cc_keeps_only_the_result_checkpoint(spark, algo):
    """Each propagation round local-checkpoints its frame; a superseded
    round's blocks must be released, leaving only the checkpoint behind the
    returned frame (a GC does not free them, so they would stay pinned for
    the session)."""
    from ciff_spark.operators.dedup import connected_components_star

    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    docs = spark.range(12).selectExpr("id AS docid")
    pairs = spark.range(11).selectExpr("id AS d1", "id + 1 AS d2")  # a chain
    stats: dict = {}
    if algo == "label":
        out = connected_components(docs, pairs, driver_max_edges=0)
    else:
        out = connected_components_star(docs, pairs, stats=stats)
        assert stats["rounds"] > 1
    assert set(out.toPandas()["cluster"].astype(int)) == {0}
    assert len(set(rdds().keySet()) - before) == 1
