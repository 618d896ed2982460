"""Hot-term skew drill: the north-rule requires skew handled explicitly.

A term present in EVERY document (df = N) must be split structurally across
docid-range shards — no single postings row (reducer output) may hold the
whole list — and query results over it must still be exact."""

import numpy as np
from pyspark.sql import functions as F

from ciff_spark.build import BuildConfig, build_index
from ciff_spark.query import IndexReader
from ciff_spark.sources.transcripts import transcripts_df
from oracle import decode_postings


def test_hot_term_splits_across_shards(spark, tmp_path):
    # every doc gets the token "omni" appended → df == num_docs
    df = transcripts_df(spark, 30, seed=23, partitions=4).withColumn(
        "text", F.concat(F.col("text"), F.lit(" omni"))
    )
    root = str(tmp_path / "skew")
    store = build_index(
        df, root, config=BuildConfig(n_shards=6, n_pgroups=4, block_size=16),
        resume=False,
    )
    meta = store.meta(spark)
    n = int(meta["num_docs"])
    shard_size = int(meta["shard_size"])

    rows = (
        store.read(spark, "postings")
        .where(F.col("term") == "omni")
        .orderBy("shard")
        .collect()
    )
    # the df=N list is spread over every occupied shard, not one reducer row
    assert len(rows) == -(-n // shard_size)
    assert len(rows) >= 5
    total = 0
    for r in rows:
        assert r["df"] <= shard_size  # no row exceeds its docid range
        d, tf = decode_postings([b.asDict() for b in r["blocks"]])
        lo, hi = r["shard"] * shard_size, (r["shard"] + 1) * shard_size
        assert (d >= lo).all() and (d < hi).all()
        total += len(d)
    assert total == n  # complete coverage after concat-merge

    # scoring across the split list stays exact: every doc contains "omni",
    # so top-k == the k docs with the best tfnorm — compare exact vs wand
    reader = IndexReader(spark, root)
    exact = reader.topk([(0, "omni")], k=15, mode="exact").toPandas()
    wand = reader.topk([(0, "omni")], k=15, mode="wand").toPandas()
    e = exact.sort_values(["score", "docid"], ascending=[False, True])
    w = wand.sort_values(["score", "docid"], ascending=[False, True])
    assert list(e.docid) == list(w.docid)
    assert np.allclose(e.score, w.score, atol=1e-12)
