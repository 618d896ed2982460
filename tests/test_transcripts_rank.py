"""Transcript generator determinism + dense docid rank correctness."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ciff_spark.plans.rank import add_dense_docid, release_rank_cache
from ciff_spark.sources.transcripts import transcripts_df, transcripts_pdf


def test_generator_spark_matches_local(spark):
    """Per-row invariant: Spark-generated rows == locally generated rows,
    regardless of partitioning (the per-turn text-equality contract)."""
    local = transcripts_pdf(30, seed=42).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for parts in (2, 7):
        dist = (
            transcripts_df(spark, 30, seed=42, partitions=parts)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        pd.testing.assert_frame_equal(
            dist.reset_index(drop=True), local, check_dtype=False
        )


def test_generator_schema_and_shape(spark):
    df = transcripts_df(spark, 20, seed=7, partitions=3)
    assert [f.name for f in df.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    pdf = df.toPandas()
    assert (pdf.groupby("conv_id")["turn_idx"].apply(
        lambda s: (sorted(s) == list(range(len(s))))
    )).all()
    assert set(pdf["role"]) <= {"user", "assistant", "tool"}
    assert pdf.loc[pdf["role"] == "tool", "tool"].notna().all()
    assert pdf.loc[pdf["role"] != "tool", "tool"].isna().all()


def test_dense_docid_rank(spark):
    df = transcripts_df(spark, 50, seed=42, partitions=5)
    ranked = add_dense_docid(df, ["conv_id", "turn_idx"], num_partitions=6)
    pdf = ranked.orderBy("docid").toPandas()
    n = len(pdf)
    # dense 0..N-1 — the reference's DocRecord contract (lib.rs:545-547)
    assert pdf["docid"].tolist() == list(range(n))
    # docid order == (conv_id, turn_idx) order
    keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
    assert keys == sorted(keys)


def test_dense_docid_partition_invariance(spark):
    df = transcripts_df(spark, 40, seed=1, partitions=4)
    a = add_dense_docid(df, ["conv_id", "turn_idx"], num_partitions=3).select(
        "conv_id", "turn_idx", "docid"
    )
    b = add_dense_docid(df, ["conv_id", "turn_idx"], num_partitions=11).select(
        "conv_id", "turn_idx", "docid"
    )
    pa = a.orderBy("docid").toPandas()
    pb = b.orderBy("docid").toPandas()
    pd.testing.assert_frame_equal(pa, pb)


def test_rank_no_single_partition_bottleneck(spark):
    """Neither rank path may contain a global single-partition sort/window."""
    df = transcripts_df(spark, 30, seed=2, partitions=4)
    # distributed path (forced): keeps the requested range partitioning
    ranked = add_dense_docid(
        df, ["conv_id", "turn_idx"], num_partitions=5, driver_max_rows=0
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no row_number window
    # the id-assignment stage keeps the range partitioning (5 partitions)
    assert ranked.rdd.getNumPartitions() == 5
    # driver path (small unique keys): a broadcast join that PRESERVES the
    # input partitioning — no single-partition collapse, no window
    ranked_d = add_dense_docid(df, ["conv_id", "turn_idx"], num_partitions=5)
    plan_d = ranked_d._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan_d
    assert ranked_d.rdd.getNumPartitions() >= 4
    release_rank_cache(ranked)


def test_rank_driver_path_matches_distributed(spark):
    """The r6 driver-side rank shortcut must assign the identical docids as
    the distributed two-phase rank."""
    df = transcripts_df(spark, 25, seed=3, partitions=3)
    fast = add_dense_docid(df, ["conv_id", "turn_idx"]).select(
        "conv_id", "turn_idx", "docid"
    )
    slow = add_dense_docid(df, ["conv_id", "turn_idx"], driver_max_rows=0)
    pa = fast.orderBy("docid").toPandas()
    pb = slow.select("conv_id", "turn_idx", "docid").orderBy("docid").toPandas()
    release_rank_cache(slow)
    pd.testing.assert_frame_equal(pa, pb)


def test_rank_driver_path_fails_loud_on_drifting_keys(spark):
    """The driver path probes the keys, then joins docids back onto a second
    evaluation of the input. Keys from a non-deterministic UDF differ between
    the two: the rank must raise, not return fewer rows."""
    import uuid

    from pyspark.sql.types import StringType

    drift = F.udf(lambda _: uuid.uuid4().hex, StringType()).asNondeterministic()
    df = spark.range(20).withColumn("key", drift("id"))
    ranked = add_dense_docid(df, ["key"])
    with pytest.raises(Exception, match="not deterministic"):
        ranked.collect()
