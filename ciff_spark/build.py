"""The distributed index build pipeline.

Replaces the reference's fully memory-resident jsonl2ciff build (two process-
wide HashMaps hold the whole index, /root/reference/src/lib.rs:996,1001 — its
scalability wall) with a declarative Spark pipeline:

  transcripts ─ docid rank: two-level grouped (offset(conv)+turn_idx — only
    the skinny conv-size table shuffles; the text rows take a broadcast join)
    with add_dense_docid as the generic fallback
    ├─ dlen: NARROW projection docid → (ids, doclength = size(tokens)) —
    │    cached (tiny); docs table and shard_sizes (u32 doclength runs per
    │    docid shard) derive from it with no aggregation over the
    │    occurrence stream; total_terms = Σ doclength sums driver-side
    │    from the committed shard_sizes bins
    └─ postings: ONE pass over text and ONE occurrence shuffle, STREAMED
         (persisted only for multi-batch resume builds): tokenize → explode
         → repartition raw (docid, term) occurrences on
         (pgroup = hash(term) % n_pgroups, shard = docid // shard_size) →
         fused per-partition kernel — dictionary-encode terms, lex-rank the
         (small) partition vocabulary, integer-lexsort (rank, docid),
         run-length-combine equal (term, docid) runs (= the tf
         aggregation), block-encode (codec.encode_arrow_batch) — then one
         hash exchange of the ENCODED rows on pgroup (write clustering:
         one file per pgroup) → write, partitionBy(pgroup). The composite
         occurrence partition key is the structural skew handling: every
         (term, shard) encode group stays whole in one partition, but a
         Zipf-hot term's stream spreads across its docid shards — never one
         reducer — and the per-term merge stays concatenation in shard
         order.
  postings(df, cf columns only — blocks pruned at scan) → term_stats
  (driver-side pyarrow under a row gate, distributed above it)
  → meta (≙ CIFF Header; written driver-side, like lineage/resume manifests)

Checkpoint/resume: postings are written in pgroup *batches*; each completed
batch appends a manifest row to ``_lineage``. A resumed build deletes the
parquet subdirs of unfinished pgroups (idempotence) and recomputes only those
— the distributed analog of the reference's restartable deterministic file
pipeline. Stage outputs are otherwise atomic (temp-dir + rename ≙ Iceberg
snapshot commit).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ciff_spark.functions.codec import BLOCK_SCHEMA, BLOCK_SIZE, BLOCK_SPAN, encode_arrow_batch
from ciff_spark.functions.tokenizer import tokenize_expr, tokenize_pandas_udf
from ciff_spark.plans.rank import (
    NotDenseWithinGroups,
    add_dense_docid,
    add_grouped_docid,
    release_rank_cache,
)
from ciff_spark.store import IndexStore


@dataclass
class BuildConfig:
    n_shards: int = 8           # docid-range shards (≙ salted hot-term split)
    shard_size: int | None = None  # override: docids per shard
    min_shard_size: int = 1     # floor so tiny corpora don't over-shard
    block_size: int = BLOCK_SIZE
    block_span: int | None = BLOCK_SPAN  # docid-width cap per block (variable
        # blocks à la Mallia et al. SIGIR'17): sparse lists split into narrow
        # blocks with REAL coverage gaps (block min_docid), which is what
        # lets Block-Max WAND skip on selective queries; None = count-only
        # blocks (pre-r4 geometry, still readable)
    span_adaptive: bool = True  # per-list cap: only lists whose avg docid
        # gap exceeds SPAN_ADAPT_FACTOR·block_span/block_size are width-
        # capped — dense lists keep clean block_size-posting blocks (see
        # codec.SPAN_ADAPT_FACTOR); False = fixed r4 cap on every list
    n_pgroups: int = 32         # term-hash output partitions (resume granularity)
    pgroup_batches: int = 1     # checkpoint batches (1 = single job, fastest)
    tokenizer: str = "builtin"  # "builtin" (JVM regex) | "pandas" (Arrow UDF)
    rank_partitions: int | None = None
    encode_partitions: int | None = None  # encode-stage parallelism (default 2×cores)
    input_sorted: bool = False  # input partitions already ordered by id_cols
    two_level_rank: bool = True  # grouped docid = conv offset + turn_idx when
                                 # turn_idx is dense per conv: the wide rows
                                 # never range-shuffle (falls back if not)
    dl_broadcast_max_docs: int = 5_000_000  # exact block bounds via dl broadcast up to here
    row_tf_combine: bool = False  # map-side combine: collapse a doc's
        # duplicate tokens to (term, tf) BEFORE the shuffle. Measured A/B at
        # pinned local[4], 655k turns: OFF 48.7 s vs ON 96.4 s — the O(u·n)
        # per-row JVM counting costs ~2× more than the ~33% exchange-row
        # saving buys, i.e. this exchange is NOT the build's bottleneck.
        # Kept (default off) for corpora with much higher in-doc duplication
        # (long docs, small vocab) where the trade reverses.
    fail_after_batches: int | None = None  # test hook: simulate a crash mid-build


POSTINGS_SCHEMA = (
    f"term string, shard int, df bigint, cf bigint, blocks array<{BLOCK_SCHEMA}>"
)
SHARD_SIZES_SCHEMA = "shard int, start_docid bigint, count int, dl_bin binary"


def _tokens_col(cfg: BuildConfig):
    if cfg.tokenizer == "pandas":
        return tokenize_pandas_udf(F.col("text_in"))
    return tokenize_expr("text_in")


def build_index(
    df: DataFrame,
    out_root: str,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    docid_col: str | None = None,
    config: BuildConfig | None = None,
    resume: bool = True,
    description: str = "ciff_spark index",
) -> IndexStore:
    """Build (or resume building) an index from ``df`` into ``out_root``.

    ``docid_col``: pass a column that already holds dense 0..N-1 ids (e.g. the
    testdata ``documents.doc_id``) to skip rank assignment; validated.
    """
    cfg = config or BuildConfig()
    pending_lineage: list[tuple] = []  # informational rows, flushed once
    spark = df.sparkSession
    store = IndexStore(out_root)
    if not resume:
        store.drop()

    done = _done_pgroups(store, spark)
    todo = [g for g in range(cfg.n_pgroups) if g not in done]
    if resume and done and todo:
        # legacy-schema guard: a pre-r4 partial build has 6-field block
        # structs (no min_docid); resuming would append 7-field pgroups
        # beside them — the mixed nested schema the serving readers'
        # pyarrow scans refuse to unify. Fail loud here instead of there.
        _check_resume_block_schema(store, done)
    if (
        resume and not todo
        and all(store.exists(t) for t in ("meta", "docs", "shard_sizes", "term_stats"))
    ):
        return store  # fully-built index: resume is a zero-job no-op

    # ---- docid assignment (deterministic; cheap to redo on resume) ---------
    t_rank = time.time()
    base = df.withColumnRenamed(text_col, "text_in")
    if docid_col is not None:
        ranked = base.withColumn("docid", F.col(docid_col).cast("long"))
        chk = ranked.agg(
            F.count("*").alias("n"),
            F.min("docid").alias("lo"),
            F.max("docid").alias("hi"),
            F.count_distinct("docid").alias("nd"),
        ).first()
        if chk["n"] and not (chk["lo"] == 0 and chk["hi"] == chk["n"] - 1 and chk["nd"] == chk["n"]):
            raise ValueError(f"docid_col {docid_col!r} is not dense 0..N-1: {chk}")
        num_docs = int(chk["n"])
    else:
        ranked = None
        num_docs = 0
        if cfg.two_level_rank and len(id_cols) == 2 and not cfg.input_sorted:
            try:
                # two-level rank: only the skinny (conv, size) table shuffles;
                # the wide text rows take a broadcast join + narrow projection
                ranked, num_docs = add_grouped_docid(
                    base, id_cols[0], id_cols[1], with_count=True
                )
            except NotDenseWithinGroups:
                ranked = None  # e.g. gappy turn_idx — take the generic rank
        if ranked is None:
            ranked, num_docs = add_dense_docid(
                base, list(id_cols), cfg.rank_partitions,
                assume_sorted=cfg.input_sorted, with_count=True,
            )
    id_keep = [c for c in id_cols if c in ranked.columns]
    pending_lineage.append(
        ("rank", -1, num_docs, None, None, int((time.time() - t_rank) * 1000), "done")
    )

    if store.exists("meta"):
        # resumed build past the stats point: the Header row already holds
        # the collection stats — driver-side read, no Spark job
        m = store.meta_local()
        num_docs, total_terms = int(m["num_docs"]), int(m["total_terms"])
        avgdl = float(m["avgdl"])
        shard_size = int(m["shard_size"])
        have_stats = True
    else:
        shard_size = cfg.shard_size or max(cfg.min_shard_size, -(-num_docs // cfg.n_shards), 1)
        have_stats = False

    # ---- ONE pass over the text, ONE shuffle for the postings path ----------
    # Raw token occurrences ship
    # straight to their pgroup (hash(term) % n_pgroups), UNSORTED. Everything
    # a groupBy-first plan does with extra JVM passes happens vectorized
    # inside the encode kernel instead: dictionary-encode → lex-rank the
    # (small) per-partition vocabulary → integer lexsort of (rank, docid) →
    # run-length tf combine. Two shuffles of the postings stream (agg
    # exchange + pgroup repartition) plus a JVM string sort collapse into
    # one skinny shuffle and a cache-friendly NumPy sort — on a memory-
    # bandwidth-bound host those were exactly the worst-scaling components.
    # The cache is this skinny relation (docid, term, pgroup): text and
    # token arrays never sit in memory.
    pgroup_expr = F.pmod(F.hash("term"), F.lit(cfg.n_pgroups))
    shard_expr = F.floor(F.col("docid") / F.lit(shard_size))
    n_encode_parts = cfg.encode_partitions or max(
        cfg.n_pgroups, 2 * spark.sparkContext.defaultParallelism
    )
    if cfg.row_tf_combine:
        # map-side combine: a doc's duplicate tokens collapse to (term, tf)
        # BEFORE the exchange — ~33% fewer shuffled rows on transcripts; the
        # 1000-executor shuffle wants exactly this partial aggregation.
        # tokens stays a referenced alias so the tokenizer regex evaluates
        # once (CollapseProject keeps multi-referenced non-cheap aliases in
        # their own projection — plan-guard-tested).
        from ciff_spark.functions.tokenizer import tokens_tf_expr

        occ = (
            ranked.select("docid", _tokens_col(cfg).alias("tokens"))
            .select("docid", F.explode(tokens_tf_expr(F.col("tokens"))).alias("e"))
            .select(
                "docid",
                F.col("e.term").alias("term"),
                F.col("e.tf").cast("long").alias("tf"),
            )
        )
    else:
        # default: raw occurrences, NO tf column — one implicit occurrence
        # per row keeps the shuffled/cached relation 8 bytes/row leaner (the
        # kernel counts run lengths instead)
        occ = (
            ranked.select("docid", _tokens_col(cfg).alias("tokens"))
            .select("docid", F.explode("tokens").alias("term"))
        )
    tf = (
        # partition on (pgroup, docid-shard) EXPRESSIONS: the shuffled/cached
        # rows carry only (docid, term[, tf]); every (term, shard) encode
        # group stays whole inside one partition, but a Zipf-hot term's
        # stream spreads over its docid shards instead of landing on ONE
        # reducer — this is the salted-hot-term split, applied at the
        # partition level (without it the hottest term's pgroup is the stage
        # straggler and the N→4N scaling dies on it)
        occ.repartition(n_encode_parts, pgroup_expr, shard_expr)
    )
    # the encode batches are the occurrence stream's ONLY consumers since
    # doclengths derive narrowly from size(tokens) (below) — cache it only
    # when >1 checkpoint batch will re-filter it; the (default) single-batch
    # build streams it through the encode without ever materializing the
    # full occurrence relation (the build's largest memory footprint at
    # corpus scale)
    n_batches = max(1, min(cfg.pgroup_batches, len(todo))) if todo else 0
    tf_persisted = False
    if n_batches > 1:
        tf = tf.persist()
        tf_persisted = True

    # ONE try/finally from the first cache on: a failure anywhere below
    # must release every cached frame (the rank-internal cache included)
    # or retried builds in the same session accumulate leaked caches
    pool = None
    docs_future = None
    dlen = None
    try:
        # ---- docs + shard_sizes: skinny, occurrence-stream-free ----------------
        # dlen (docid → doclength + ids) is a narrow projection cached once;
        # shard_sizes writes first (the encode needs it for the doclength
        # broadcast), then the docs write runs on a driver thread so it overlaps
        # the encode job on the shared executor pool
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        docs_future = None
        dlen = None
        need_docs = not store.exists("docs")
        need_ss = not store.exists("shard_sizes")
        if need_docs or need_ss:
            # doclength ≡ token count ≡ size(tokens): a NARROW projection of
            # the ranked rows — no aggregation over (and no join back to) the
            # full occurrence stream. Token-less docs (empty/punct-only text)
            # coalesce to doclength 0, exactly like the left-join-null the
            # former tf-sum derivation produced.
            dlen = ranked.select(
                "docid", *id_keep,
                F.coalesce(F.size(_tokens_col(cfg)), F.lit(0)).alias("doclength"),
            ).persist()

        if need_ss:
            t0 = time.time()
            ssz = shard_size

            def pack_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                (shard,) = key
                order = np.argsort(pdf["docid"].to_numpy(), kind="stable")
                dids = pdf["docid"].to_numpy()[order]
                dls = pdf["doclength"].to_numpy()[order].astype("<u4")
                start = int(shard) * ssz
                if not (dids == np.arange(start, start + len(dids))).all():
                    raise ValueError(f"shard {shard}: docids not dense from {start}")
                return pd.DataFrame(
                    [{"shard": int(shard), "start_docid": start,
                      "count": len(dids), "dl_bin": dls.tobytes()}]
                )

            packed = (
                dlen.withColumn("shard", F.floor(F.col("docid") / F.lit(shard_size)).cast("int"))
                .select("shard", "docid", "doclength")
                .groupBy("shard")
                .applyInPandas(pack_shard, schema=SHARD_SIZES_SCHEMA)
            )
            store.write("shard_sizes", packed)
            pending_lineage.append(("shard_sizes", -1, None, None, None, int((time.time() - t0) * 1000), "done"))

        if not have_stats:
            # Σ doclength ≡ total_terms, and every doclength now sits in the
            # committed shard_sizes bins — sum driver-side, ZERO extra jobs
            # (the former standalone dlen.agg() was a whole extra pass).
            t0 = time.time()
            total_terms = int(_dl_array(store, num_docs).sum()) if num_docs else 0
            avgdl = total_terms / num_docs if num_docs else 0.0
            pending_lineage.append(
                ("tokenize_shuffle", -1, total_terms, None, None,
                 int((time.time() - t0) * 1000), "done")
            )

        if need_docs:
            def _write_docs():
                t0 = time.time()
                store.write("docs", dlen)  # reads the dlen cache
                return ("docs", -1, None, None, None, int((time.time() - t0) * 1000), "done")

            docs_future = pool.submit(_write_docs)

        # ---- stage: postings (pgroup-batched, resumable) ------------------------
        # the occurrence stream flows straight into the encode: one Arrow
        # pass per (pgroup, shard)-hashed partition block-encodes every
        # (term, shard) group (cached only for multi-batch resume builds).
        if todo:
            _clean_partial_pgroups(store, todo)
            block_size = cfg.block_size
            block_span = cfg.block_span
            span_adaptive = cfg.span_adaptive
            avgdl_c = avgdl
            n_pgroups = cfg.n_pgroups
            shard_size_c = shard_size

            # exact per-block BM25 bounds need dl[docid]; broadcast the dense
            # doclength array when it fits (4 B/doc), else fall back to the
            # dl-free bound (true but looser) — the 10^12-doc path. The array
            # comes from the shard_sizes table (already-packed u32 runs) via
            # a driver-side pyarrow read — no extra Spark job
            if num_docs and num_docs <= cfg.dl_broadcast_max_docs:
                dl_bc = spark.sparkContext.broadcast(_dl_array(store, num_docs))
            else:
                dl_bc = None

            def encode_partition(iterator):
                # Arrow-native: groups never straddle partitions (hash-partitioned
                # on pgroup, pgroup = f(term)), but they can straddle record
                # batches — concatenate the partition, then run the fused
                # sort+aggregate+encode kernel:
                #   1. dictionary-encode the terms (one hash pass);
                #   2. lex-rank the per-partition VOCABULARY (small) so the
                #      integer sort still yields lexicographic term order
                #      (row-group pruning on the written files stays sharp);
                #   3. np.lexsort (rank, docid) — integer keys, cache-friendly,
                #      replacing the JVM string sort;
                #   4. run-length combine equal (term, docid) runs = the tf
                #      aggregation, fused so the postings stream shuffled once;
                #   5. vectorized block encode (codec.encode_arrow_batch).
                import pyarrow as pa
                import pyarrow.compute as pc

                batches = [b for b in iterator if b.num_rows]
                if not batches:
                    return
                tbl = pa.Table.from_batches(batches).combine_chunks()
                dict_arr = pc.dictionary_encode(tbl.column("term").combine_chunks())
                if isinstance(dict_arr, pa.ChunkedArray):
                    dict_arr = dict_arr.combine_chunks()
                codes = dict_arr.indices.to_numpy(zero_copy_only=False).astype(np.int64)
                vocab = dict_arr.dictionary
                lex = pc.array_sort_indices(vocab).to_numpy(zero_copy_only=False).astype(np.int64)
                rank = np.empty(len(lex), np.int64)
                rank[lex] = np.arange(len(lex), dtype=np.int64)
                keys = rank[codes]
                docids = tbl.column("docid").to_numpy()
                has_tf = "tf" in tbl.column_names
                tfs_in = (
                    tbl.column("tf").to_numpy().astype(np.int64) if has_tf else None
                )
                order = np.lexsort((docids, keys))
                keys = keys[order]
                docids = docids[order]
                codes = codes[order]
                n = len(docids)
                new = np.empty(n, bool)
                new[0] = True
                new[1:] = (keys[1:] != keys[:-1]) | (docids[1:] != docids[:-1])
                starts = np.flatnonzero(new)
                # run-length tf combine: run length when rows are raw
                # occurrences, Σ per-row tf when pre-combined (row_tf_combine)
                if has_tf:
                    tfs = np.add.reduceat(tfs_in[order], starts)
                else:
                    tfs = np.diff(np.append(starts, n))
                docids_u = docids[starts]
                doclens = dl_bc.value[docids_u] if dl_bc is not None else None
                yield encode_arrow_batch(
                    None,
                    docids_u,
                    tfs,
                    doclens,
                    avgdl_c,
                    shard_size_c,
                    block_size,
                    term_codes=codes[starts],
                    term_dict=vocab,
                    block_span=block_span,
                    span_adaptive=span_adaptive,
                )

            batches = np.array_split(np.array(todo), n_batches)
            for bi, batch in enumerate(batches):
                if cfg.fail_after_batches is not None and bi >= cfg.fail_after_batches:
                    raise RuntimeError("injected failure (BuildConfig.fail_after_batches)")
                batch = [int(g) for g in batch]
                t0 = time.time()
                # the cache is hash-partitioned on (pgroup, shard), so the
                # encode is a NARROW pass; a pgroup's rows span up to
                # min(n_shards, n_encode_parts) tasks, so its dir holds that
                # many files after partitionBy — bounded by the shard count,
                # and serving prunes to ≤|q| pgroup dirs via term_stats.pgroup
                # ONE materialization: encode → write directly (no persist +
                # metrics-agg job over the encoded blocks — that cached and
                # re-read the whole encoded output); manifest metrics come
                # from the files just written, driver-side (footer num_rows,
                # file sizes, and the skinny df column — vocab-sized reads;
                # on Iceberg these come free from snapshot stats)
                # skip the isin filter when the batch covers every pgroup —
                # a per-row 64-way membership test on the full occurrence
                # stream is pure waste in the (default) single-batch build
                src = tf if len(batch) == cfg.n_pgroups else tf.where(pgroup_expr.isin(batch))
                (
                    src.mapInArrow(encode_partition, schema=POSTINGS_SCHEMA)
                    .withColumn("pgroup", F.pmod(F.hash("term"), F.lit(n_pgroups)))
                    # write clustering (≙ Iceberg write.distribution-mode=hash):
                    # the encode partitioning is (pgroup, shard) for skew, so a
                    # bare partitionBy write opens one file per (task, pgroup)
                    # — measured 1601 ~21 KB files for a 34 MB table, +3 s of
                    # write wall and 1601 footer opens for every later scan.
                    # One hash exchange of the ALREADY-ENCODED blocks (the
                    # smallest representation the data ever has) lands each
                    # pgroup in exactly one task → one file per pgroup
                    # (task count capped at the scheduler's parallelism; a
                    # task holding two pgroups still writes one file each).
                    .repartition(
                        min(len(batch), spark.sparkContext.defaultParallelism),
                        "pgroup",
                    )
                ).write.mode("append").partitionBy("pgroup").parquet(store.path("postings"))
                wall = int((time.time() - t0) * 1000)
                # manifest AFTER the data commit → a crash between the two re-runs
                # the batch; the cleanup above makes that idempotent
                stats_by_g = _pgroup_batch_stats(store, batch)
                _lineage_rows(
                    store, spark,
                    [
                        ("postings", g, *stats_by_g.get(g, (0, 0, 0)), wall, "done")
                        for g in batch
                    ],
                )

        if docs_future is not None:
            # re-raises a failed docs write (after the cleanup below), so
            # meta — the build's completion marker — is never written
            # without docs
            pending_lineage.append(docs_future.result())
    finally:
        # shutdown joins the concurrent docs writer even on failure (a
        # resume in the same session must never race a still-running
        # writer), then drop the caches — the postings stage was their
        # last consumer
        if pool is not None:
            pool.shutdown()
        if dlen is not None:
            dlen.unpersist()
        if tf_persisted:
            tf.unpersist()
        release_rank_cache(ranked)
    # ---- stage: term_stats (global df/cf; blocks pruned at scan) ------------
    if not store.exists("term_stats"):
        t0 = time.time()
        # pgroup rides along (functionally determined by term): serving uses it
        # to open only the queried terms' postings/pgroup=* dirs instead of
        # globbing every file (the r2 LocalSearcher latency regression)
        # sortWithinPartitions: tight per-row-group term min/max stats, so
        # driver-side idf lookups (IndexReader._idf_map, LocalSearcher) can
        # row-group-prune their term-IN reads — on a billion-term vocabulary
        # an unsorted column defeats the pushdown entirely
        if _table_num_rows(store, "postings") <= TERM_STATS_DRIVER_MAX_ROWS:
            # small-vocabulary fast path: one multithreaded pyarrow scan of
            # the three skinny columns + a vectorized group_by, written
            # globally term-sorted — saves the scan+exchange+write Spark job
            # whose fixed cost dominates at this table size. The row gate
            # keeps the billion-term path on the distributed aggregation.
            _write_term_stats_local(store)
        else:
            ts = (
                store.read_or_empty(spark, "postings", POSTINGS_SCHEMA + ", pgroup int")
                .groupBy("term")
                .agg(
                    F.sum("df").alias("df"),
                    F.sum("cf").alias("cf"),
                    F.min("pgroup").alias("pgroup"),
                )
                .sortWithinPartitions("term")
            )
            store.write("term_stats", ts)
        pending_lineage.append(("term_stats", -1, None, None, None, int((time.time() - t0) * 1000), "done"))

    # ---- stage: meta (≙ CIFF Header) ----------------------------------------
    if not store.exists("meta"):
        # num_terms = term_stats row count straight from parquet footers
        # (driver-side metadata, no job); the single Header row writes
        # driver-side too
        num_terms = _table_num_rows(store, "term_stats")
        store.write_meta_local(
            num_docs, num_terms, total_terms, avgdl, shard_size, cfg.block_size,
            description, n_pgroups=cfg.n_pgroups,
            # block_span=0 persists "unbounded" (NULL means pre-r5 meta)
            block_span=0 if cfg.block_span is None else cfg.block_span,
            span_adaptive=cfg.span_adaptive,
        )

    if pending_lineage:
        _lineage_rows(store, spark, pending_lineage)
    return store


#: postings (term, shard) row count at or below which term_stats aggregates
#: driver-side (one pyarrow scan of 3 skinny columns; ~40 B/row of transient
#: memory) instead of scheduling a Spark scan+shuffle+write — the same
#: size-gated driver/executor split the meta/lineage stages already use.
TERM_STATS_DRIVER_MAX_ROWS = 4_000_000


def _write_term_stats_local(store: IndexStore) -> None:
    """term_stats via driver-side pyarrow: scan (term, df, cf) + the hive
    ``pgroup`` key from the postings dirs, group_by term (sum, sum, min),
    write globally term-sorted parquet (8k-row row groups so term-IN reads
    row-group-prune at least as well as the Spark path's per-partition
    sort). Output schema/types identical to the distributed aggregation."""
    import glob
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as papq

    schema = pa.schema(
        [("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64()),
         ("pgroup", pa.int32())]
    )
    parts = []
    for d in sorted(glob.glob(store.path("postings") + "/pgroup=*")):
        g = int(os.path.basename(d).split("=", 1)[1])
        fs = glob.glob(f"{d}/*.parquet")
        if not fs:
            continue
        t = pads.dataset(fs, format="parquet").to_table(columns=["term", "df", "cf"])
        parts.append(t.append_column("pgroup", pa.array([g] * t.num_rows, pa.int32())))
    if parts:
        allt = pa.concat_tables(parts)
        agg = allt.group_by("term").aggregate(
            [("df", "sum"), ("cf", "sum"), ("pgroup", "min")]
        )
        out = pa.table(
            {
                "term": agg["term"],
                "df": agg["df_sum"].cast(pa.int64()),
                "cf": agg["cf_sum"].cast(pa.int64()),
                "pgroup": agg["pgroup_min"].cast(pa.int32()),
            }
        ).sort_by("term")
    else:
        out = pa.table({f.name: pa.array([], f.type) for f in schema})
    final = store.path("term_stats")
    tmp = f"{final}.__tmp_{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    papq.write_table(out, f"{tmp}/part-00000.parquet", row_group_size=8192)
    open(f"{tmp}/_SUCCESS", "w").close()
    if os.path.isdir(final):
        import shutil

        shutil.rmtree(final)
    os.rename(tmp, final)


_LINEAGE_FIELDS = ("stage", "partition_id", "rows", "postings", "bytes", "wall_ms", "status")


def _lineage_rows(store, spark, rows: list[tuple]) -> None:
    """Append manifest rows. The rows live on the driver already — write the
    parquet file directly with pyarrow (zero Spark jobs; a lineage append
    must never cost a scheduler round-trip)."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as papq

    cols = list(zip(*rows))
    schema = pa.schema(
        [
            ("stage", pa.string()),
            ("partition_id", pa.int32()),
            ("rows", pa.int64()),
            ("postings", pa.int64()),
            ("bytes", pa.int64()),
            ("wall_ms", pa.int64()),
            ("status", pa.string()),
        ]
    )
    tbl = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    d = store.path("_lineage")
    os.makedirs(d, exist_ok=True)
    papq.write_table(tbl, f"{d}/lineage-{uuid.uuid4().hex[:12]}.parquet")


def _pgroup_batch_stats(store: IndexStore, batch: list[int]) -> dict[int, tuple[int, int, int]]:
    """{pgroup: (rows, postings, bytes)} for the batch's pgroup dirs from the
    files just written — ONE multithreaded pyarrow dataset scan of the skinny
    ``df`` column over the whole batch (the per-pgroup, per-file read loop it
    replaces cost ~0.5 ms × files × pgroups of driver wall), no Spark job."""
    import glob
    import os

    import pyarrow.dataset as pads

    import pyarrow.compute as pc

    out: dict[int, tuple[int, int, int]] = {}
    for g in batch:
        fs = glob.glob(f"{store.path('postings')}/pgroup={g}/*.parquet")
        if not fs:
            out[int(g)] = (0, 0, 0)
            continue
        nbytes = sum(os.path.getsize(f) for f in fs)
        tbl = pads.dataset(fs, format="parquet").to_table(columns=["df"])
        out[int(g)] = (
            tbl.num_rows, int(pc.sum(tbl["df"]).as_py() or 0), nbytes,
        )
    return out


def _check_resume_block_schema(store: IndexStore, done: set[int]) -> None:
    """Resume-time schema guard: inspect ONE completed pgroup file and fail
    loud when its block struct lacks ``min_docid`` (an index begun before
    width-capped blocks) — the current encoder would otherwise append
    incompatible 7-field structs beside the legacy 6-field ones. Driver-side
    footer read, no Spark job."""
    import glob

    import pyarrow.parquet as papq

    for g in sorted(done):
        files = glob.glob(f"{store.path('postings')}/pgroup={g}/*.parquet")
        if not files:
            continue
        blocks_field = papq.ParquetFile(files[0]).schema_arrow.field("blocks")
        struct = blocks_field.type.value_type
        if "min_docid" not in [struct.field(i).name for i in range(struct.num_fields)]:
            raise ValueError(
                f"cannot resume: completed pgroup {g} was written without "
                "min_docid block metadata (pre-width-cap index); rebuild "
                "with resume=False"
            )
        return  # one completed pgroup is representative — all share the encoder


def _done_pgroups(store: IndexStore, spark) -> set[int]:
    """Completed-pgroup set from the lineage manifests — driver-side pyarrow
    (the resume check runs on EVERY build call; it must not schedule jobs)."""
    import glob
    import os

    import pyarrow.parquet as papq

    if not os.path.isdir(store.path("_lineage")):
        return set()
    done: set[int] = set()
    for f in glob.glob(store.path("_lineage") + "/*.parquet"):
        t = papq.read_table(f, columns=["stage", "partition_id", "status"])
        for stage, pid, status in zip(
            t["stage"].to_pylist(), t["partition_id"].to_pylist(), t["status"].to_pylist()
        ):
            if stage == "postings" and status == "done":
                done.add(int(pid))
    return done


def _table_num_rows(store: IndexStore, table: str) -> int:
    """Row count from parquet footers — metadata only, no data read."""
    import glob

    import pyarrow.parquet as papq

    return sum(
        papq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(store.path(table) + "/**/*.parquet", recursive=True)
    )


def _dl_array(store: IndexStore, num_docs: int) -> np.ndarray:
    """Dense uint32 doclength array reassembled from shard_sizes' packed
    runs — driver-side pyarrow read of n_shards skinny rows. Raises
    ``ValueError`` unless the runs tile [0, num_docs) exactly: a gap would
    score its docs with doclength 0, an overlap would overwrite lengths."""
    import glob

    import pyarrow.parquet as papq

    t = papq.read_table(
        glob.glob(store.path("shard_sizes") + "/*.parquet"),
        columns=["start_docid", "count", "dl_bin"],
    ).sort_by("start_docid")
    starts = np.asarray(t["start_docid"].to_pylist(), np.int64)
    counts = np.asarray(t["count"].to_pylist(), np.int64)
    if not (
        np.array_equal(starts, np.cumsum(counts) - counts) and counts.sum() == num_docs
    ):
        raise ValueError(
            f"{store.path('shard_sizes')}: rows do not tile [0, {num_docs})"
        )
    dl = np.zeros(num_docs, np.uint32)
    for s, c, b in zip(starts.tolist(), counts.tolist(), t["dl_bin"].to_pylist()):
        dl[s : s + c] = np.frombuffer(b, "<u4")
    return dl


def _clean_partial_pgroups(store: IndexStore, todo: list[int]) -> None:
    """Delete parquet subdirs of unfinished pgroups so re-append is idempotent."""
    import shutil
    import os

    for g in todo:
        p = f"{store.path('postings')}/pgroup={g}"
        if os.path.isdir(p):
            shutil.rmtree(p)
