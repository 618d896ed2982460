"""Incremental index maintenance with Structured Streaming.

New transcript turns arrive as files in a directory (stand-in for a Kafka /
Iceberg CDC feed). ``foreachBatch`` assigns each micro-batch a contiguous
docid range continuing from the current index size (preserving the dense
0..N-1 DocRecord contract across batches — /root/reference/src/lib.rs:545-547),
block-encodes the batch's postings DISTRIBUTED through the batch build's own
encode stage (``build._encode_postings``: raw occurrences shuffle once and
encode in one Arrow pass per partition; the micro-batch never collects to
the driver), and commits them as a SEGMENT: one shard (``shard = 0``),
written flat. Because batch docid ranges are disjoint and increasing, a
per-term merge across segments is — like the shard merge — pure concatenation
in segment order; ``compact_segments`` folds segments into the base tables,
decoding the segment postings and re-encoding them through the same stage.

Idempotent commit protocol (foreachBatch is AT-LEAST-once — a crash between
writes or before the checkpoint commit re-runs the batch):

1. each batch writes into its OWN subdirectories ``seg_postings/seg_<id>``
   and ``seg_docs/seg_<id>`` — never blind appends to shared dirs;
2. the docs subdir is written LAST and its ``_SUCCESS`` marker is the commit
   point: a retry that finds it returns without writing (exact no-op);
3. a retry that does not (crash after postings, before docs) deletes both
   subdirs and rewrites — the docid base derives from ``max(docid)+1`` over
   base docs + COMMITTED segments only, so the half-written attempt never
   shifts the range and the rewrite lands byte-identical.

Readers that want fresh results use ``ciff_spark.serve.FreshSearcher``, which
recomputes collection statistics over base ∪ segments and serves a term's
segment rows concatenated after its base rows, through the same single
Block-Max WAND call as the base (segment rows carry ``shard = 0`` relative to
their own docid range, so they are NOT unionable into the shard-grouped
distributed reader — the serving path orders rows by docid instead).
Rank-identity with a cold batch build / the oracle over the same rows is
asserted in tests (the metamorphic "incremental ≡ batch" and "fresh ≡
rebuild" properties).
"""

from __future__ import annotations

import glob as _glob
import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ciff_spark.build import (
    POSTINGS_SCHEMA,
    POSTINGS_WRITE_OPTIONS,
    BuildConfig,
    _dl_array,
    _encode_postings,
    _pgroup_expr,
    _shard_sizes_table,
    _table_num_rows,
    _write_table_local,
    build_index,
)
from ciff_spark.functions.codec import BLOCK_SPAN, block_columns, decode_blocks
from ciff_spark.functions.tokenizer import tokenize_expr
from ciff_spark.plans.rank import add_dense_docid, release_rank_cache
from ciff_spark.store import IndexStore

SEG_POSTINGS = "seg_postings"
SEG_DOCS = "seg_docs"

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_segments(spark: SparkSession, store: IndexStore, table: str) -> DataFrame:
    """Read COMMITTED segment subdirs of ``seg_postings``/``seg_docs`` only.

    The commit point is the ``_SUCCESS`` marker of the batch's seg_docs dir
    (written LAST — see module docstring). A blind recursive glob would also
    read a torn segment left by a crash between the postings and docs writes:
    postings rows whose docids are absent from the doc lengths, which skews
    collection stats and KeyErrors the scorer until the retry lands."""
    ids = _committed_segment_ids(store)
    dirs = [f"{store.path(table)}/seg_{i}" for i in ids]
    dirs = [d for d in dirs if _glob.glob(f"{d}/*.parquet")]
    if not dirs:
        schema = (
            POSTINGS_SCHEMA + ", segment bigint"
            if table == SEG_POSTINGS
            else "docid bigint, doclength int, segment bigint"
        )
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*dirs)


def _committed_segment_ids(store: IndexStore) -> list[int]:
    from ciff_spark.store import committed_segment_ids

    return committed_segment_ids(store.root)


def _committed_segment_dirs(store: IndexStore) -> list[str]:
    return [
        f"{store.path(SEG_DOCS)}/seg_{i}" for i in _committed_segment_ids(store)
    ]


def _next_docid(store: IndexStore) -> int:
    """1 + max docid over base docs and COMMITTED segments — driver-side
    pyarrow (footer metadata / one skinny column), no Spark job. Counting
    rows instead (the old scheme) double-allocates after a crash that left a
    half-written segment behind."""
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    hi = -1
    if store.exists("meta"):
        hi = int(store.meta_local()["num_docs"]) - 1  # base docs are dense 0..N-1
    elif store.exists("docs"):
        hi = (
            sum(
                papq.ParquetFile(f).metadata.num_rows
                for f in _glob.glob(store.path("docs") + "/*.parquet")
            )
            - 1
        )
    for d in _committed_segment_dirs(store):
        files = _glob.glob(f"{d}/*.parquet")
        if files:
            t = papq.read_table(files, columns=["docid"])
            if t.num_rows:
                hi = max(hi, int(pc.max(t["docid"]).as_py()))
    return hi + 1



#: a segment's shard_size: past every docid, so a segment is ONE shard
#: (``shard = 0``) whatever its docid range
_SEGMENT_SHARD_SIZE = 1 << 62


def _span_policy(meta: dict) -> tuple[int | None, bool]:
    """(block_span, span_adaptive) the base index was built with — appends
    and compaction re-encodes keep the CONFIGURED geometry instead of
    silently reverting to codec defaults. Persisted block_span uses 0 for
    "unbounded"; absent fields (pre-r5 metas) mean the codec defaults."""
    raw = meta.get("block_span")
    span = BLOCK_SPAN if raw is None else (None if int(raw) == 0 else int(raw))
    sa = meta.get("span_adaptive")
    return span, True if sa is None else bool(sa)


def _commit_segment(
    store: IndexStore, rows: DataFrame, docs: DataFrame, batch_id: int, block_size: int,
) -> None:
    """Encode ``(docid, term[, tf])`` rows into segment postings and commit
    postings-then-docs (the docs ``_SUCCESS`` is the commit marker).

    Segments always carry dl-FREE bounds: the collection avgdl keeps moving
    as batches arrive, and a bound computed against a stale (lower) avgdl
    could undershoot the true tfnorm — dl-free stays a true upper bound
    under any future avgdl; compaction re-encodes with exact bounds. The
    encode parallelism follows the base's n_pgroups; the rows land flat in
    ``seg_postings/seg_<id>`` (no pgroup dirs), each file term-sorted."""
    meta = store.meta_local() if store.exists("meta") else {}
    bspan, badapt = _span_policy(meta)
    _encode_postings(
        rows, n_pgroups=int(meta.get("n_pgroups") or BuildConfig.n_pgroups),
        shard_size=_SEGMENT_SHARD_SIZE, dl=None, avgdl=0.0,
        block_size=int(block_size), block_span=bspan, span_adaptive=badapt,
    ).drop("pgroup").sortWithinPartitions("term", "shard").withColumn(
        "segment", F.lit(int(batch_id))
    ).write.options(**POSTINGS_WRITE_OPTIONS).mode("overwrite").parquet(
        f"{store.path(SEG_POSTINGS)}/seg_{int(batch_id)}"
    )
    docs.withColumn("segment", F.lit(int(batch_id))).write.mode("overwrite").parquet(
        f"{store.path(SEG_DOCS)}/seg_{int(batch_id)}"
    )  # commit marker — LAST


def append_batch(
    spark: SparkSession,
    store: IndexStore,
    batch_df: DataFrame,
    batch_id: int,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    block_size: int = 128,
) -> None:
    """Index one micro-batch as a segment (called from foreachBatch).
    Idempotent under at-least-once retries — see the module docstring."""
    if not _begin_segment(store, batch_df, batch_id):
        return
    base = _next_docid(store)
    ranked = add_dense_docid(batch_df.select(*id_cols, text_col), list(id_cols))
    toks = ranked.select(
        (F.col("docid") + F.lit(base)).alias("docid"),
        *id_cols,  # ride along so compaction can fold segments into docs
        tokenize_expr(text_col).alias("tokens"),
    ).persist()
    try:
        # raw occurrences: the encode stage's run-length combine is the tf
        # aggregation
        _commit_segment(
            store,
            toks.select("docid", F.explode("tokens").alias("term")),
            toks.select(
                "docid", *id_cols,
                F.coalesce(F.size("tokens"), F.lit(0)).alias("doclength"),
            ),
            batch_id, block_size,
        )
    finally:
        # a long-lived streaming query calls this once per micro-batch: the
        # rank's internal cache and toks must release even when a write throws
        toks.unpersist()
        release_rank_cache(ranked)


def _begin_segment(store: IndexStore, batch_df: DataFrame, batch_id: int) -> bool:
    """False when the batch needs no write: it already committed (a retried
    delivery) or is empty. Otherwise clears a torn earlier attempt."""
    docs_dir = f"{store.path(SEG_DOCS)}/seg_{int(batch_id)}"
    if os.path.exists(f"{docs_dir}/_SUCCESS"):
        return False  # this batch already committed fully — retried delivery
    shutil.rmtree(f"{store.path(SEG_POSTINGS)}/seg_{int(batch_id)}", ignore_errors=True)
    shutil.rmtree(docs_dir, ignore_errors=True)
    return not batch_df.isEmpty()


def append_vector_batch(
    spark: SparkSession,
    store: IndexStore,
    batch_df: DataFrame,
    batch_id: int,
    block_size: int = 128,
) -> None:
    """Index one micro-batch of ``(ext_id, pos, term, score)`` doc-vector
    rows as a segment — the impact-index twin of :func:`append_batch`.

    Scores quantize with the BASE index's FROZEN quantizer range (meta
    ``q_lo``/``q_hi``, fitted at build time; the [1,255] clamp absorbs
    out-of-range new scores), so stored impacts stay comparable across base
    and segments — re-fitting per batch would silently rescale every new
    batch. Indexes built without quantization (``q_lo`` NULL) truncate, like
    their build did. Docids continue densely from the base; doclength =
    unique kept terms (the jsonl build's reference-parity mode,
    /root/reference/src/lib.rs:1029-1046); a doc whose every score is
    dropped still occupies a docid with doclength 0. Same idempotent
    commit protocol as :func:`append_batch` (module docstring)."""
    from ciff_spark.sources.jsonl_vectors import quantize_scores

    if not _begin_segment(store, batch_df, batch_id):
        return
    base = _next_docid(store)
    meta = store.meta_local()
    q_lo, q_hi = meta.get("q_lo"), meta.get("q_hi")
    quantize = q_lo is not None
    if not quantize and "quantize=True" in str(meta.get("description", "")):
        # a quantized index whose meta predates the frozen-range fields:
        # silently truncating here would mix raw-truncated tfs with
        # 8-bit-quantized base impacts — incomparable Σ-impact ranks with no
        # error anywhere downstream. Fail loud instead.
        raise ValueError(
            "index was built with quantize=True but its meta has no frozen "
            "quantizer range (q_lo/q_hi — built before streaming impact "
            "support); rebuild the index once to record the range before "
            "appending vector batches"
        )

    ids = batch_df.groupBy("ext_id").agg(F.min("pos").alias("first_pos"))
    ranked = add_dense_docid(ids, ["first_pos", "ext_id"])
    try:
        idmap = ranked.select(
            "ext_id", (F.col("docid") + F.lit(int(base))).alias("docid")
        )
        rows = quantize_scores(
            batch_df, quantize, range_=(float(q_lo), float(q_hi)) if quantize else None
        )
        # repeated ids accumulate BEFORE the tf > 0 drop and the unique-term
        # doclength, so this aggregation stays ahead of the encode
        tf = (
            rows.join(idmap, "ext_id")
            .groupBy("term", "docid")
            .agg(F.sum("tf").cast("long").alias("tf"))
            .where(F.col("tf") > 0)
        ).persist()
        try:
            dlen = tf.groupBy("docid").agg(F.count("*").alias("doclength"))
            docs = idmap.join(dlen, "docid", "left").select(
                "docid",
                "ext_id",
                F.coalesce("doclength", F.lit(0)).cast("int").alias("doclength"),
            )
            _commit_segment(store, tf, docs, batch_id, block_size)
        finally:
            tf.unpersist()
    finally:
        release_rank_cache(ranked)


def start_incremental_index(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source stream → foreachBatch segment indexing. ``availableNow``
    drains what's there and stops (test mode); without it the query runs
    continuously with exactly-once foreachBatch semantics."""
    store = IndexStore(index_root)
    stream = (
        spark.readStream.schema(TRANSCRIPT_DDL).parquet(input_dir)
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(spark, store, batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


VECTOR_ROWS_DDL = "ext_id string, pos bigint, term string, score double"


def start_incremental_vector_index(
    spark: SparkSession,
    input_dir: str,
    index_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source stream of ``(ext_id, pos, term, score)`` doc-vector rows
    → foreachBatch impact segments (``append_vector_batch`` — quantized with
    the base index's frozen range) — the learned-sparse twin of
    :func:`start_incremental_index`. Same exactly-once/idempotent segment
    protocol; serve fresh results with ``FreshSearcher(scoring="impact")``;
    fold with ``compact_segments``."""
    store = IndexStore(index_root)
    stream = spark.readStream.schema(VECTOR_ROWS_DDL).parquet(input_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_vector_batch(spark, store, batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_segments(
    spark: SparkSession, index_root: str, rebuild_from: DataFrame | None = None,
    config: BuildConfig | None = None,
) -> IndexStore:
    """Fold segments into the base index, then drop them.

    Default (``rebuild_from=None``): CONCAT compaction — postings work ∝
    segment size, never corpus size. Segment docid ranges are disjoint and
    increasing by construction, so the merge is: decode only the SEGMENT
    postings to (docid, term, tf) rows and re-encode them through the
    build's encode stage (re-sharded, exact block bounds from the full
    doclength array under the new avgdl), append them as additional
    (term, shard) rows — readers concatenate same-shard rows in ascending
    first-docid order — extend ``shard_sizes`` with the new doclength runs,
    merge ``term_stats``, and rewrite ``meta`` with ``bounds_avgdl =
    min(old, new)`` so WAND pruning stays sound under the avgdl drift (see
    wand.py ``bound_scale``). Base postings files are never read or
    rewritten.

    ``rebuild_from=df``: full rebuild from the given corpus (the heavyweight
    path; also re-tightens block bounds and re-balances block sizes).

    Requires a quiesced stream. On plain Parquet the multi-table commit is
    NOT crash-atomic (production target is one Iceberg snapshot commit); a
    crash mid-compaction requires a rebuild."""
    store = IndexStore(index_root)
    if rebuild_from is not None:
        store.drop()
        build_index(rebuild_from, index_root, config=config, resume=False)
    else:
        _fold_segments(spark, store)
    for t in (SEG_POSTINGS, SEG_DOCS):
        shutil.rmtree(store.path(t), ignore_errors=True)
    return store


def _decode_segment_rows(iterator):
    """Segment postings ``(term, blocks)`` → one ``(term, docid, tf)`` row
    per posting — a narrow decode, no exchange: each record batch's blocks
    decode in one ``decode_blocks`` pass."""
    import pyarrow as pa

    for batch in iterator:
        cols = block_columns(batch.column("blocks"))
        docids, tfs = decode_blocks(cols, np.arange(len(cols.count)))
        if not len(docids):
            continue
        post = np.zeros(len(cols.count) + 1, np.int64)
        np.cumsum(cols.count, out=post[1:])
        per_row = np.diff(post[cols.row_off])
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("term").take(pa.array(np.repeat(np.arange(len(per_row)), per_row))),
                pa.array(docids, pa.int64()),
                pa.array(tfs, pa.int64()),
            ],
            ["term", "docid", "tf"],
        )


def _fold_segments(spark: SparkSession, store: IndexStore) -> None:
    import glob

    import pyarrow.parquet as papq

    if not _committed_segment_ids(store):
        return
    meta = store.meta_local()
    old_num = int(meta["num_docs"])
    old_total = int(meta["total_terms"])
    old_avgdl = float(meta["avgdl"])
    shard_size = int(meta["shard_size"])
    block_size = int(meta["block_size"])
    bounds_avgdl = float(meta.get("bounds_avgdl") or old_avgdl)
    n_pgroups = meta.get("n_pgroups")
    if n_pgroups is None:
        # legacy index (meta predates n_pgroups): the modulus CANNOT be
        # recovered from the dir layout — empty pgroups write no dir, so
        # max(dir)+1 can undercount and silently route appended rows (and
        # the rewritten term_stats) to the wrong pgroup for every term.
        # Fail loud; the rebuild path re-establishes the modulus.
        raise ValueError(
            "index meta has no n_pgroups (built before compaction support) — "
            "concat compaction cannot route appended postings; use "
            "compact_segments(rebuild_from=...) once to refresh the index"
        )
    n_pgroups = int(n_pgroups)

    seg_docs = read_segments(spark, store, SEG_DOCS).persist()
    try:
        agg = seg_docs.agg(
            F.count("*").alias("n"),
            F.count_distinct("docid").alias("nd"),
            F.min("docid").alias("lo"),
            F.max("docid").alias("hi"),
            F.sum("doclength").alias("t"),
        ).first()
        n_seg = int(agg["n"])
        if n_seg == 0:
            return
        if not (
            int(agg["lo"]) == old_num
            and int(agg["hi"]) == old_num + n_seg - 1
            and int(agg["nd"]) == n_seg
        ):
            raise ValueError(
                f"segment docids are not the dense continuation of the base: "
                f"base num_docs={old_num}, segments [{agg['lo']},{agg['hi']}] "
                f"({agg['nd']} distinct of {n_seg})"
            )
        num2 = old_num + n_seg
        seg_total = int(agg["t"] or 0)
        total2 = old_total + seg_total
        avgdl2 = total2 / num2 if num2 else 0.0

        # the full doclength array (base runs + segment docs) gives the
        # re-encoded rows exact block bounds and the new shard_sizes runs
        pdf = seg_docs.select("docid", "doclength").toPandas()
        dl = np.concatenate([_dl_array(store, old_num), np.zeros(n_seg, np.uint32)])
        dl[pdf["docid"].to_numpy(np.int64)] = pdf["doclength"].to_numpy(np.int64)

        # pre-variable-width guard: appending min_docid-bearing block structs
        # beside old struct<6> files would leave a pgroup dir with MIXED
        # nested schemas, which the serving readers' pyarrow dataset scans
        # refuse to unify — fail loud with the rebuild path instead
        base_files = glob.glob(store.path("postings") + "/pgroup=*/*.parquet")
        if base_files:
            vt = papq.ParquetFile(base_files[0]).schema_arrow.field("blocks").type.value_type
            if "min_docid" not in [vt.field(i).name for i in range(vt.num_fields)]:
                raise ValueError(
                    "base postings predate variable-width blocks (no "
                    "min_docid in the block struct) — concat compaction "
                    "would mix block schemas within a pgroup dir; run "
                    "compact_segments(rebuild_from=...) once to refresh "
                    "the index"
                )

        # ---- postings: decode + re-shard + re-encode SEGMENT rows only ------
        bspan, badapt = _span_policy(meta)
        rows = read_segments(spark, store, SEG_POSTINGS).select("term", "blocks").mapInArrow(
            _decode_segment_rows, schema="term string, docid bigint, tf bigint"
        )
        _encode_postings(
            rows, n_pgroups=n_pgroups, shard_size=shard_size, dl=dl, avgdl=avgdl2,
            block_size=block_size, block_span=bspan, span_adaptive=badapt,
        ).write.options(**POSTINGS_WRITE_OPTIONS).mode("append").partitionBy(
            "pgroup"
        ).parquet(store.path("postings"))

        # ---- docs: append the segment rows in the base column order ---------
        base_cols = [f.name for f in store.read(spark, "docs").schema.fields]
        store.append("docs", seg_docs.select(*base_cols))

        # ---- shard_sizes: the straddle shard extends, new shards follow -----
        _write_table_local(store, "shard_sizes", _shard_sizes_table(dl, shard_size))

        # ---- term_stats: merge-aggregate (∝ vocabulary, not corpus) ---------
        seg_ts = (
            read_segments(spark, store, SEG_POSTINGS)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
        merged = (
            store.read(spark, "term_stats")
            .select("term", "df", "cf")
            .unionAll(seg_ts)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .withColumn("pgroup", _pgroup_expr(n_pgroups))
            .sortWithinPartitions("term")  # keep row-group pruning sharp
        )
        store.write("term_stats", merged)

        # ---- meta ------------------------------------------------------------
        store.write_meta_local(
            num2, _table_num_rows(store, "term_stats"), total2, avgdl2,
            shard_size, block_size, str(meta.get("description", "")),
            bounds_avgdl=min(bounds_avgdl, avgdl2), n_pgroups=n_pgroups,
            # impact indexes: the frozen quantizer range must survive
            # compaction — dropping it would silently flip later
            # append_vector_batch calls to truncation mode
            q_lo=meta.get("q_lo"), q_hi=meta.get("q_hi"),
            # the base's block-geometry policy survives compaction too
            block_span=meta.get("block_span"),
            span_adaptive=meta.get("span_adaptive"),
        )
    finally:
        seg_docs.unpersist()


def streaming_windowed_events(
    spark: SparkSession, input_dir: str, schema: str,
    gap: str = "5 minutes", watermark: str = "10 minutes",
):
    """Watermarked tumbling-window aggregation over an event stream — the
    streaming twin of operators.events.ev_tumbling_hour."""
    ev = spark.readStream.schema(schema).parquet(input_dir)
    # parquet may carry TIMESTAMP_NTZ; watermarks need session-TZ TIMESTAMP
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", gap), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
