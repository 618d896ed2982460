"""Physical-plan audits: the plans we'd want at 100 TB, asserted.

- query-term postings fetch: the `term IN (...)` predicate reaches the
  Parquet scan (PushedFilters) and prunes columns (no blocks read when only
  stats are selected);
- small-dim joins go broadcast;
- the dense-rank plan contains no single-partition global Window;
- relational BM25 keeps the aggregation pipeline in whole-stage codegen.
"""

import pytest
from pyspark.sql import functions as F

from ciff_spark.build import BuildConfig, build_index
from ciff_spark.sources.transcripts import transcripts_df


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planidx") / "idx")
    df = transcripts_df(spark, 25, seed=21, partitions=3)
    build_index(df, root, config=BuildConfig(n_shards=2, n_pgroups=4), resume=False)
    return root


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_term_filter_pushed_to_parquet(spark, idx):
    post = spark.read.parquet(f"{idx}/postings").where(
        F.col("term").isin(["w000001", "w000002"])
    )
    plan = _plan(post)
    assert "PushedFilters" in plan and "In(term" in plan, plan[:800]


def test_column_pruning_skips_blocks(spark, idx):
    stats = (
        spark.read.parquet(f"{idx}/postings")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    plan = _plan(stats)
    scan = plan[plan.index("FileScan") :].split("\n")[0]
    assert "blocks" not in scan, scan  # ReadSchema must exclude the fat column


def test_relational_bm25_uses_broadcast_and_codegen(spark):
    from ciff_spark.query import bm25_topk_relational

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = bm25_topk_relational(docs, "dup batch", k=10, docid_col="doc_id")
    out.collect()  # AQE reveals the final plan (and codegen spans) post-run
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:1500]
    # '*(' prefixes mark operators inside WholeStageCodegen spans
    assert "*(" in plan, plan[:1500]
    # final top-k must be TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_rank_has_no_global_window(spark):
    from ciff_spark.plans.rank import add_dense_docid

    df = transcripts_df(spark, 10, seed=4, partitions=3)
    ranked = add_dense_docid(df, ["conv_id", "turn_idx"], 4)
    plan = _plan(ranked)
    assert "Window" not in plan


def test_dim_join_broadcasts(spark):
    from ciff_spark.operators.relational import rel_nation_revenue

    out = rel_nation_revenue(spark, "/root/testdata/sf0.001")
    assert "BroadcastHashJoin" in _plan(out)


def test_grouped_rank_matches_generic_rank(spark):
    """Two-level grouped docid (offset(conv) + turn_idx) must equal the
    generic two-phase dense rank over (conv_id, turn_idx) — on both the
    driver-offsets path and the distributed prefix-sum path."""
    from ciff_spark.plans.rank import add_dense_docid, add_grouped_docid, release_rank_cache

    df = transcripts_df(spark, 30, seed=77, partitions=4)
    exp = {
        (r["conv_id"], r["turn_idx"]): r["docid"]
        for r in add_dense_docid(df, ["conv_id", "turn_idx"]).collect()
    }
    for max_driver in (5_000_000, 3):  # force both paths (30 convs > 3)
        ranked = add_grouped_docid(
            df, "conv_id", "turn_idx", max_driver_groups=max_driver
        )
        got = {(r["conv_id"], r["turn_idx"]): r["docid"] for r in ranked.collect()}
        release_rank_cache(ranked)
        assert got == exp, f"max_driver_groups={max_driver}"


def test_grouped_rank_rejects_non_dense(spark):
    from ciff_spark.plans.rank import NotDenseWithinGroups, add_grouped_docid

    df = spark.createDataFrame(
        [("a", 0), ("a", 2), ("b", 0)], "conv_id string, turn_idx int"
    )
    for max_driver in (100, 1):
        with pytest.raises(NotDenseWithinGroups):
            add_grouped_docid(
                df, "conv_id", "turn_idx", max_driver_groups=max_driver
            ).collect()


def test_grouped_rank_rejects_duplicate_with_gap(spark):
    """idx [0,1,1,3] passes the (lo=0, hi=n-1) check but is NOT dense —
    count-distinct must catch it (it used to assign duplicate docids)."""
    from ciff_spark.plans.rank import NotDenseWithinGroups, add_grouped_docid

    df = spark.createDataFrame(
        [("a", 0), ("a", 1), ("a", 1), ("a", 3), ("b", 0)],
        "conv_id string, turn_idx int",
    )
    for max_driver in (100, 1):
        with pytest.raises(NotDenseWithinGroups):
            add_grouped_docid(
                df, "conv_id", "turn_idx", max_driver_groups=max_driver
            ).collect()


def test_grouped_rank_empty_input(spark):
    from ciff_spark.plans.rank import add_grouped_docid

    df = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    out, total = add_grouped_docid(df, "conv_id", "turn_idx", with_count=True)
    assert total == 0
    assert out.count() == 0
    assert "docid" in out.columns


def test_grouped_rank_plan_has_no_wide_range_shuffle(spark):
    """On the driver-offsets path the wide text rows must take a BROADCAST
    join (never a range/hash exchange of the text column)."""
    from ciff_spark.plans.rank import add_grouped_docid

    df = transcripts_df(spark, 10, seed=1, partitions=2)
    plan = _plan(add_grouped_docid(df, "conv_id", "turn_idx"))
    assert "BroadcastHashJoin" in plan
    # the only exchanges allowed are broadcast ones
    import re

    wide_exchanges = [
        ln for ln in plan.splitlines()
        if re.search(r"Exchange (range|hash)partitioning", ln) and "text" in ln
    ]
    assert not wide_exchanges, wide_exchanges
