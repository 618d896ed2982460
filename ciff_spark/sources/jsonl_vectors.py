"""JSONL doc-vector ingest — the reference's jsonl2ciff build path
(/root/reference/src/lib.rs:885-1146), distributed.

Input: one JSON doc per line, ``{id: string|int, content?: string,
vector: {token: score}}`` (JsonDoc, /root/reference/src/lib.rs:842-857).
Reference semantics honored:

- external ids map to dense internal docids in FIRST-SEEN order; repeated
  ids accumulate into the same docid (/root/reference/src/lib.rs:1014-1022).
  Distributed: first-seen = min row position in file-concatenation order
  (``monotonically_increasing_id`` over ordered text splits), then a dense
  rank over that minimum — no driver-resident id map;
- scores are truncated to int, or min-max quantized to [1,255] over the
  positive range found in a first pass (ScoreQuantizer,
  /root/reference/src/lib.rs:87-148; range pass src/lib.rs:922-957);
- postings with tf ≤ 0 are dropped (/root/reference/src/lib.rs:1039-1041);
- doclength: the reference counts UNIQUE kept terms here, not Σtf — the
  documented quirk (src/lib.rs:1029-1046, SURVEY §1.3). ``doclength_mode``
  selects ``"unique_terms"`` (reference parity) or ``"sum_tf"`` (the BM25
  pin used by the text pipeline); default is reference parity since this
  path exists for exchange fidelity.

Only the front end is specific to this source: the (term, docid, tf) rows
encode through the text build's postings stage (``build._encode_postings``,
dl-free block bounds — impact scores have no length normalization), and
``shard_sizes``/``term_stats`` through the build's shared writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ciff_spark.build import (
    POSTINGS_WRITE_OPTIONS,
    _encode_postings,
    _table_num_rows,
    _write_shard_sizes,
    _write_term_stats,
)
from ciff_spark.functions.codec import BLOCK_SPAN
from ciff_spark.store import IndexStore

JSONL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("vector", T.MapType(T.StringType(), T.DoubleType())),
    ]
)


def read_doc_vectors(spark: SparkSession, path: str) -> DataFrame:
    """(ext_id, pos, term, score) rows; pos = row position.

    Caveat (documented divergence): within one file, ``pos`` follows row
    order; across MULTIPLE input files Spark packs splits by size, so the
    partition-index high bits of ``monotonically_increasing_id`` need not
    follow file-name order. We prepend the file name to the ordering key so
    first-seen is deterministic and file-ordered per file, but a repeated id
    spanning files is resolved in file-NAME order, not concatenation order
    (the reference reads one stream, lib.rs:1005)."""
    raw = (
        spark.read.schema(JSONL_SCHEMA)
        .json(path)
        .withColumn("src", F.input_file_name())
        .withColumn("mono", F.monotonically_increasing_id())
        .withColumn("pos", F.struct("src", "mono"))
    )
    return raw.select(
        F.col("id").cast("string").alias("ext_id"),
        "pos",
        F.explode("vector").alias("term", "score"),
    )


def score_range(df: DataFrame) -> tuple[float | None, float | None]:
    """The quantizer's positive-score (min, max) range pass
    (/root/reference/src/lib.rs:922-957) — driver-side scalars so the fitted
    range can be frozen into meta and reused by streaming appends."""
    row = df.where(F.col("score") > 0).agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    ).first()
    lo, hi = row["lo"], row["hi"]
    return (None if lo is None else float(lo), None if hi is None else float(hi))


def quantize_scores(
    df: DataFrame,
    quantize: bool,
    range_: tuple[float | None, float | None] | None = None,
) -> DataFrame:
    """score → integer tf per the reference: plain int truncation, or 8-bit
    min-max over positive scores; tf ≤ 0 rows dropped either way.

    ``range_``: a previously fitted (lo, hi) — streaming appends quantize
    with the BASE index's frozen range (the clamp absorbs out-of-range new
    scores) so impacts stay comparable across base and segments. ``None``
    fits the range on ``df`` itself (the batch-build path)."""
    if not quantize:
        return df.withColumn("tf", F.col("score").cast("long")).where(F.col("tf") > 0)
    lo, hi = score_range(df) if range_ is None else range_
    if lo is None:  # no positive scores anywhere: everything quantizes to 0
        return df.withColumn("tf", F.lit(0).cast("long")).where(F.col("tf") > 0)
    return (
        df.withColumn(
            "tf",
            F.when(F.col("score") <= 0, F.lit(0))
            .when(F.lit(hi) == F.lit(lo), F.lit(1))
            .otherwise(
                F.least(
                    F.lit(255),
                    F.greatest(
                        F.lit(1),
                        (F.round((F.col("score") - F.lit(lo)) / (F.lit(hi) - F.lit(lo)) * 254) + 1).cast("long"),
                    ),
                )
            ),
        )
        .where(F.col("tf") > 0)
    )


def build_index_from_doc_vectors(
    spark: SparkSession,
    jsonl_path: str,
    out_root: str,
    quantize: bool = False,
    doclength_mode: str = "unique_terms",
    n_shards: int = 8,
    n_pgroups: int = 16,
    block_size: int = 128,
) -> IndexStore:
    return build_index_from_vector_rows(
        spark, read_doc_vectors(spark, jsonl_path), out_root,
        quantize=quantize, doclength_mode=doclength_mode, n_shards=n_shards,
        n_pgroups=n_pgroups, block_size=block_size,
        source_desc=f"jsonl doc-vector ingest of {jsonl_path}",
    )


def build_index_from_vector_rows(
    spark: SparkSession,
    raw: DataFrame,
    out_root: str,
    quantize: bool = False,
    doclength_mode: str = "unique_terms",
    n_shards: int = 8,
    n_pgroups: int = 16,
    block_size: int = 128,
    source_desc: str = "doc-vector rows",
) -> IndexStore:
    """Build an (optionally quantized) impact-style index from any
    ``(ext_id, pos, term, score)`` DataFrame — the jsonl reader's row shape,
    decoupled from the jsonl source so learned-sparse vectors produced
    in-pipeline (e.g. tf·idf expansions of a corpus table) index through the
    same reference-parity path (quantizer, tf>0 drop, first-seen docids)."""
    store = IndexStore(out_root)
    store.drop()

    # the raw vector rows feed THREE separate first actions (the id-rank
    # probe, the quantizer range pass, and the tf materialization) — persist
    # them once (MEMORY_AND_DISK, the same single-materialization trade the
    # text build makes for its occurrence cache) instead of re-running the
    # whole upstream pipeline per action
    from pyspark import StorageLevel

    raw = raw.persist(StorageLevel.MEMORY_AND_DISK)

    # first-seen dense docid: rank external ids by min(pos), over the RAW
    # rows — a doc whose every score is dropped still occupies a docid with
    # doclength 0, exactly like the reference (docid_map insert happens
    # before the tf<=0 filter, lib.rs:1014 vs 1039). Ranking uses the same
    # two-phase dense rank as the transcript build (plans/rank.py): range-
    # partitioned sort of the (small) distinct-id set + per-partition offsets
    # — never a single-partition row_number window.
    from ciff_spark.plans.rank import add_dense_docid, release_rank_cache

    ids = raw.groupBy("ext_id").agg(F.min("pos").alias("first_pos"))
    ranked_ids = add_dense_docid(ids, ["first_pos", "ext_id"])
    idmap = ranked_ids.drop("first_pos")
    try:
        return _build_from_idmap(
            spark, store, raw, idmap, source_desc, quantize, doclength_mode,
            n_shards, n_pgroups, block_size,
        )
    finally:
        # release on EVERY path — a failed ingest must not leak the rank's
        # internal cache for the session lifetime
        release_rank_cache(ranked_ids)
        raw.unpersist()


def _build_from_idmap(
    spark, store, raw, idmap, source_desc, quantize, doclength_mode,
    n_shards, n_pgroups, block_size,
):
    # fit the quantizer range driver-side so it can be frozen into meta —
    # streaming appends (append_vector_batch) must reuse it, not re-fit
    qrange = score_range(raw) if quantize else (None, None)
    rows = quantize_scores(raw, quantize, range_=qrange if quantize else None)

    # cached: consumed by BOTH the doclength aggregation and the encode —
    # uncached, the whole upstream (quantize range pass + id join + tf agg)
    # ran twice per build
    tf = (
        rows.join(idmap, "ext_id")
        .groupBy("term", "docid")
        .agg(F.sum("tf").cast("long").alias("tf"))  # repeated ids accumulate
        .where(F.col("tf") > 0)
    ).persist()
    try:
        return _finish_build(
            spark, store, tf, idmap, source_desc, quantize, doclength_mode,
            n_shards, n_pgroups, block_size, qrange,
        )
    finally:
        tf.unpersist()


def _finish_build(
    spark, store, tf, idmap, source_desc, quantize, doclength_mode,
    n_shards, n_pgroups, block_size, qrange=(None, None),
):
    if doclength_mode == "unique_terms":  # the reference quirk (lib.rs:1042)
        dlen = tf.groupBy("docid").agg(F.count("*").alias("doclength"))
    elif doclength_mode == "sum_tf":
        dlen = tf.groupBy("docid").agg(F.sum("tf").cast("int").alias("doclength"))
    else:
        raise ValueError(doclength_mode)
    # consumed by the write, the stats agg, and shard_sizes; released in
    # the finally below so failure paths don't leak the cache
    docs = idmap.join(dlen, "docid", "left").select(
        "docid", "ext_id", F.coalesce("doclength", F.lit(0)).cast("int").alias("doclength")
    ).persist()
    try:
        return _write_tables(
            spark, store, tf, docs, source_desc, quantize, doclength_mode,
            n_shards, n_pgroups, block_size, qrange,
        )
    finally:
        docs.unpersist()


def _write_tables(
    spark, store, tf, docs, source_desc, quantize, doclength_mode,
    n_shards, n_pgroups, block_size, qrange=(None, None),
):
    from concurrent.futures import ThreadPoolExecutor

    # the tiny stats agg materializes the docs cache; the docs and
    # shard_sizes writes then run on driver threads so they back-fill
    # executors while the encode job below runs (the same overlap the text
    # build uses)
    stats = docs.agg(F.count("*").alias("n"), F.sum("doclength").alias("t")).first()
    num_docs, total_terms = int(stats["n"]), int(stats["t"] or 0)
    avgdl = total_terms / num_docs if num_docs else 0.0
    shard_size = max(1, -(-num_docs // n_shards))
    pool = ThreadPoolExecutor(max_workers=2)
    docs_future = pool.submit(store.write, "docs", docs)
    ss_future = pool.submit(_write_shard_sizes, store, docs, shard_size)
    try:
        # impact-style scores: dl-free block bounds
        _encode_postings(
            tf, n_pgroups=n_pgroups, shard_size=shard_size, dl=None, avgdl=avgdl,
            block_size=block_size, block_span=BLOCK_SPAN, span_adaptive=True,
        ).write.options(**POSTINGS_WRITE_OPTIONS).mode("append").partitionBy(
            "pgroup"
        ).parquet(store.path("postings"))
    finally:
        # surface a failed concurrent write; never race one — and never let
        # the first future's failure skip draining the second or shutting
        # the pool down
        try:
            docs_future.result()
        finally:
            try:
                ss_future.result()
            finally:
                pool.shutdown()
    _write_term_stats(spark, store)
    store.write_meta_local(
        num_docs, _table_num_rows(store, "term_stats"), total_terms, avgdl,
        shard_size, block_size,
        f"{source_desc} (quantize={quantize}, doclength={doclength_mode})",
        bounds_avgdl=avgdl, n_pgroups=n_pgroups,
        q_lo=qrange[0], q_hi=qrange[1],
        block_span=BLOCK_SPAN, span_adaptive=True,
    )
    return store
