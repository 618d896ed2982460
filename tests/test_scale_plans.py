"""Physical-plan guards for the pair-finding operators: the 100 TB contract
is that candidate generation is a bucketed equi-join, NEVER a cartesian /
nested-loop product (VERDICT r1 flagged dedup_simhash_pairs for exactly
this). Plans are asserted, not just walls measured, so a regression to an
all-pairs join fails fast at sf0.001."""

import pytest

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "opname",
    ["dedup_simhash_pairs", "dedup_minhash_lsh_pairs", "neardup_cosine_pairs",
     "neardup_lsh_pairs"],
)
def test_pair_finders_have_no_cartesian_product(spark, opname):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[opname](spark, SF_DIR)
    plan = _plan(df)
    for bad in FORBIDDEN:
        assert bad not in plan, f"{opname}: {bad} in physical plan:\n{plan}"


def test_simhash_banding_is_exact(spark):
    """The banded candidate join must reproduce the all-pairs answer exactly
    (pigeonhole recall guarantee) — checked against a brute-force cross join
    at toy scale."""
    from pyspark.sql import functions as F

    from ciff_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        dedup_simhash,
        dedup_simhash_pairs,
    )

    sh = dedup_simhash(spark, SF_DIR)
    a, b = sh.alias("a"), sh.alias("b")
    brute = (
        a.join(b, F.col("a.docid") < F.col("b.docid"))
        .select(
            F.col("a.docid").alias("d1"),
            F.col("b.docid").alias("d2"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .toPandas()
        .sort_values(["d1", "d2"])
        .reset_index(drop=True)
    )
    banded = (
        dedup_simhash_pairs(spark, SF_DIR)
        .toPandas()
        .sort_values(["d1", "d2"])
        .reset_index(drop=True)
    )
    assert banded.equals(brute)


def test_kmeans_assignment_is_pure_codegen(spark):
    """The Lloyd's assignment pass is the per-iteration hot path over the
    full embedding table: it must stay JVM-side expression work (aggregate/
    zip_with inside codegen), never a Python UDF and never a join against a
    centroid table (the centroids are driver literals)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["ann_kmeans_clusters"](spark, SF_DIR)
    plan = _plan(df)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "Join"):
        assert bad not in plan, f"{bad} in assignment plan:\n{plan}"


def test_ivf_kmeans_scan_is_partition_pruned(spark):
    """The trained-quantizer IVF entries must read the MATERIALIZED
    cluster-partitioned layout with partition pruning on the probed cells —
    never re-evaluate k distances per row per query. The plan must carry a
    cluster PartitionFilter and scan fewer files than the layout holds."""
    import glob

    import __spark_entry__ as entry_mod

    from ciff_spark.operators.simsearch import ivf_materialized

    df = entry_mod.queries()["ann_ivf_kmeans"](spark, SF_DIR)
    plan = _plan(df)
    # a binding partition filter on cluster (equality for nprobe=1, IN for
    # nprobe>1) — Spark prunes the FileIndex to matching cluster= dirs
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*cluster[^\]]*(=|IN)", plan), plan
    # no per-row quantizer re-evaluation at query time: the only zip_with in
    # the plan is the ONE query-cosine dot product — a per-row assignment
    # would add one per centroid (k more)
    assert plan.count("zip_with") == 1, plan
    # the layout actually has multiple cells, so the filter prunes storage
    root = ivf_materialized(spark, SF_DIR)
    assert len(glob.glob(f"{root}/cluster=*")) > 1


def test_pq_adc_scans_codes_only(spark):
    """The ADC top-k must run entirely in the compressed domain: scan the
    materialized CODES parquet (one integer lookup per subspace), never the
    embeddings table, with no vector arithmetic in the plan."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["ann_pq_adc_topk"](spark, SF_DIR)
    plan = _plan(df)
    assert "embeddings.parquet" not in plan, plan
    assert "zip_with" not in plan and "aggregate(" not in plan, plan
    assert "_pq" in plan  # reads the materialized codes layout


def test_pq_code_packing_consistent(spark):
    """The packed pq_code must decompose back to the per-subspace codes of
    the materialized table (base-kc digits in subspace order)."""
    from ciff_spark.operators.simsearch import (
        PQ_K,
        PQ_M,
        ann_pq_codes,
        pq_materialized,
    )

    codes = spark.read.parquet(pq_materialized(spark, SF_DIR)).toPandas()
    packed = ann_pq_codes(spark, SF_DIR).toPandas().set_index("vec_id")["pq_code"]
    for _, row in codes.head(50).iterrows():
        v = int(packed[row["vec_id"]])
        for s in range(PQ_M):
            assert v % PQ_K == row[f"c{s}"], (row["vec_id"], s)
            v //= PQ_K
        assert v == 0


@pytest.mark.parametrize("opname", ["ann_ivfpq_adc_topk", "ann_ivfpq_residual_topk"])
def test_ivfpq_scan_is_pruned_and_compressed_domain(spark, opname):
    """The composed IVF-PQ entries (raw-code and residual/IVFADC) must read
    the cluster-partitioned CODES layout with a binding partition filter AND
    stay in the compressed domain (no embeddings scan, no vector
    arithmetic)."""
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[opname](spark, SF_DIR)
    plan = _plan(df)
    assert re.search(r"PartitionFilters: \[[^\]]*cluster[^\]]*(=|IN)", plan), plan
    assert "embeddings.parquet" not in plan, plan
    assert "zip_with" not in plan and "aggregate(" not in plan, plan
    assert "_ivfpq" in plan


def test_doc_filter_requires_exact_mode(spark):
    """doc_filter with mode='wand' must fail loud (the kernel's pruning
    thresholds don't see the filter), and the filtered exact path must be
    a subset of the unfiltered scores."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from ciff_spark.operators.index_queries import documents_index, index_root_for
    from ciff_spark.query import IndexReader
    from ciff_spark.sources.testdata import load

    documents_index(spark, SF_DIR)
    reader = IndexReader(spark, index_root_for(SF_DIR))
    filt = (
        load(spark, SF_DIR, "documents")
        .where(F.col("lang") == "es")
        .select(F.col("doc_id").cast("long").alias("docid"))
    )
    with _pytest.raises(ValueError, match="doc_filter"):
        reader.topk([(0, "dup batch")], k=5, mode="wand", doc_filter=filt)
    full = {
        (r["docid"],): r["score"]
        for r in reader.topk([(0, "dup batch")], k=1000, mode="exact").collect()
    }
    allowed = {int(r["docid"]) for r in filt.collect()}
    got = reader.topk([(0, "dup batch")], k=5, mode="exact", doc_filter=filt).collect()
    assert got  # the es subset matches something for these hot terms
    for r in got:
        assert int(r["docid"]) in allowed
        assert full[(r["docid"],)] == r["score"]  # scores stay collection-level
    # an id outside [0, num_docs) is bad input, not an id to ignore
    n = int(reader.meta["num_docs"])
    for bad_id in (n, -1):
        bad = filt.unionAll(spark.createDataFrame([(bad_id,)], "docid bigint"))
        with _pytest.raises(ValueError, match="outside"):
            reader.topk([(0, "dup batch")], k=5, mode="exact", doc_filter=bad)


@pytest.mark.parametrize("mode", ["exact", "wand"])
def test_index_topk_is_one_scoring_stage(spark, mode):
    """``IndexReader.topk`` plans ONE per-shard Arrow stage in both modes:
    doclengths ride the reader's broadcast (no shard_sizes scan, no
    cogroup), the postings scan is pgroup-partition-pruned, and the per-shard
    top-k merges through a per-qid window — no exchange keyed on
    (qid, docid), i.e. no contribution aggregation."""
    import re

    from ciff_spark.operators.index_queries import documents_index, index_root_for
    from ciff_spark.query import IndexReader

    documents_index(spark, SF_DIR)
    reader = IndexReader(spark, index_root_for(SF_DIR))
    plan = _plan(reader.topk([(0, "dup batch"), (1, "data")], k=5, mode=mode))
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan and "FlatMapCoGroups" not in plan, plan
    assert "shard_sizes" not in plan, plan
    assert re.search(r"PartitionFilters: \[[^\]]*pgroup", plan), plan
    assert not re.search(r"hashpartitioning\(qid#\d+L?, docid#", plan), plan


def test_kmeans_memo_and_ivf_layout_keyed_by_fingerprint(spark, tmp_path):
    """The k-means memo and the materialized IVF layout are content-addressed
    by the embeddings table's fingerprint: rewriting the table in place must
    retrain (new memo key) and rematerialize (new layout path) instead of
    serving stale centroids — the r4 staleness nit."""
    import os
    import shutil
    import time

    from ciff_spark.operators.simsearch import (
        _KMEANS_CACHE,
        _embeddings_fingerprint,
        ivf_materialized,
        kmeans_centroids,
    )

    d = str(tmp_path / "sf")
    os.makedirs(d)
    shutil.copy(f"{SF_DIR}/embeddings.parquet", f"{d}/embeddings.parquet")
    fp1 = _embeddings_fingerprint(d)
    kmeans_centroids(spark, d)
    root1 = ivf_materialized(spark, d)
    assert (fp1, 4, 3) in _KMEANS_CACHE

    # in-place rewrite (same bytes, new mtime) → new fingerprint, new key
    time.sleep(0.01)
    os.utime(f"{d}/embeddings.parquet")
    fp2 = _embeddings_fingerprint(d)
    assert fp2 != fp1
    assert (fp2, 4, 3) not in _KMEANS_CACHE  # stale memo cannot be served
    kmeans_centroids(spark, d)  # retrains under the new key
    assert (fp2, 4, 3) in _KMEANS_CACHE
    assert ivf_materialized(spark, d) != root1  # rematerialized layout


def test_zipf_term_bands_none_on_degenerate_vocab(tmp_path):
    """bench's band helper must signal (None) rather than hand empty lists
    to the query-synthesis modulo when a corpus is too small/degenerate."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from bench import zipf_term_bands

    d = tmp_path / "term_stats"
    d.mkdir()
    papq.write_table(
        pa.table({"term": pa.array([], pa.string()), "df": pa.array([], pa.int64())}),
        str(d / "part-0.parquet"),
    )
    assert zipf_term_bands(str(tmp_path), 100) is None
