"""The distributed index build pipeline, and the ONE postings encode stage.

Replaces the reference's fully memory-resident jsonl2ciff build (two process-
wide HashMaps hold the whole index, /root/reference/src/lib.rs:996,1001 — its
scalability wall) with a declarative Spark pipeline:

  transcripts ─ docid rank: two-level grouped (offset(conv)+turn_idx — only
    the skinny conv-size table shuffles; the text rows take a broadcast join)
    with add_dense_docid as the generic fallback
    ├─ dlen: NARROW projection docid → (ids, doclength = size(tokens)) —
    │    cached (tiny); the docs table and shard_sizes (u32 doclength runs
    │    per docid shard, _write_shard_sizes) derive from it with no
    │    aggregation over the occurrence stream; total_terms = Σ doclength
    │    sums driver-side from the committed shard_sizes bins
    └─ postings: ONE pass over text: tokenize → explode raw (docid, term)
         occurrences, STREAMED (persisted only for multi-batch resume
         builds) into _encode_postings → write, partitionBy(pgroup)
  postings(df, cf columns only) → term_stats (_write_term_stats:
  driver-side pyarrow under a row gate, distributed above it)
  → meta (≙ CIFF Header; written driver-side, like lineage/resume manifests)

``_encode_postings`` is the single postings encoder every writer shares —
this text build, the impact build (``sources/jsonl_vectors``), segment
appends and concat compaction (``streaming/incremental``): one occurrence
shuffle on (pgroup = hash(term) % n_pgroups, shard = docid // shard_size),
one fused Arrow kernel per partition (dictionary-encode, lex-rank, integer
lexsort, run-length tf combine, ``codec.encode_arrow_batch``), one
clustering exchange of the ENCODED rows on pgroup (one file per pgroup)
and a (pgroup, term, shard) sort, so every file is term-ordered; written
with ``POSTINGS_WRITE_OPTIONS``, its 1024-row groups form a footer
lexicon. The composite occurrence partition key is the structural skew
handling: every (term, shard) encode group stays whole in one partition,
but a Zipf-hot term's stream spreads across its docid shards — never one
reducer — and the per-term merge stays concatenation in shard order.

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
    input_sorted: bool = False  # input partitions already ordered by id_cols
    two_level_rank: bool = True  # grouped docid = conv offset + turn_idx when
                                 # turn_idx is dense per conv: the wide rows
                                 # never range-shuffle (falls back if not)
    fail_after_batches: int | None = None  # test hook: simulate a crash mid-build


POSTINGS_SCHEMA = (
    f"term string, shard int, df bigint, cf bigint, blocks array<{BLOCK_SCHEMA}>"
)

#: parquet-mr options every postings writer passes with the encode stage's
#: frame (``.write.options(**POSTINGS_WRITE_OPTIONS)``). Bounded row groups
#: make each file's footer a term lexicon: the rows are term-sorted, so a
#: group's (min, max) ``term`` addresses its terms and a reader fetches only
#: the groups that cover its query (``serve.LocalSearcher``). Dictionary
#: pages are off on every column: that pays for the smaller groups (the
#: blob columns alone fall back to plain pages anyway). Measured on the
#: benchmark's build corpus: 1024-row groups shrink the index 4% against
#: one group per file, 512-row groups grow it 6%.
POSTINGS_WRITE_OPTIONS = {
    "parquet.block.row.count.limit": "1024",
    "parquet.enable.dictionary": "false",
}


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

    # ---- ONE pass over the text: raw (docid, term) occurrences ---------------
    # no tf column: one implicit occurrence per row keeps the shuffled
    # relation lean — the encode stage (_encode_postings) counts run lengths.
    # Streamed into the encode; cached only when >1 checkpoint batch will
    # re-filter it (the single-batch build never materializes the full
    # occurrence relation, the build's largest memory footprint at scale)
    occ = (
        ranked.select("docid", _tokens_col(cfg).alias("tokens"))
        .select("docid", F.explode("tokens").alias("term"))
    )
    n_batches = max(1, min(cfg.pgroup_batches, len(todo))) if todo else 0
    occ_persisted = False
    if n_batches > 1:
        occ = occ.persist()
        occ_persisted = True

    # ONE try/finally from the first cache on: a failure anywhere below
    # must release every cached frame (the rank-internal cache included)
    # or retried builds in the same session accumulate leaked caches
    pool = None
    docs_future = None
    dlen = None
    try:
        # ---- docs + shard_sizes: skinny, occurrence-stream-free ----------------
        # dlen (docid → doclength + ids) is a narrow projection cached once;
        # shard_sizes writes first (the encode's doclength array comes from
        # it), then the docs write runs on a driver thread so it overlaps the
        # encode job on the shared executor pool
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        need_docs = not store.exists("docs")
        if need_docs or not store.exists("shard_sizes"):
            # doclength ≡ token count ≡ size(tokens): a NARROW projection of
            # the ranked rows — no aggregation over (and no join back to) the
            # full occurrence stream. Token-less docs (empty/punct-only text)
            # coalesce to doclength 0, exactly like the left-join-null the
            # former tf-sum derivation produced.
            dlen = ranked.select(
                "docid", *id_keep,
                F.coalesce(F.size(_tokens_col(cfg)), F.lit(0)).alias("doclength"),
            ).persist()

        if not store.exists("shard_sizes"):
            t0 = time.time()
            _write_shard_sizes(store, dlen, shard_size)
            pending_lineage.append(("shard_sizes", -1, None, None, None, int((time.time() - t0) * 1000), "done"))

        # the dense doclength array, reassembled driver-side from the
        # committed shard_sizes bins (no Spark job): Σ doclength ≡
        # total_terms, and the encode's exact per-block bounds read it
        dl = _dl_array(store, num_docs) if num_docs else None
        if not have_stats:
            t0 = time.time()
            total_terms = int(dl.sum()) if num_docs else 0
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
        if todo:
            _clean_partial_pgroups(store, todo)
            for bi, batch in enumerate(np.array_split(np.array(todo), n_batches)):
                if cfg.fail_after_batches is not None and bi >= cfg.fail_after_batches:
                    raise RuntimeError("injected failure (BuildConfig.fail_after_batches)")
                batch = [int(g) for g in batch]
                t0 = time.time()
                # ONE materialization: encode → write directly; manifest
                # metrics come from the files just written, driver-side
                # (footer num_rows, file sizes, and the skinny df column —
                # vocab-sized reads; on Iceberg these come free from snapshot
                # stats). The isin filter is skipped when the batch covers
                # every pgroup — a per-row membership test on the full
                # occurrence stream is pure waste in the single-batch build
                src = (
                    occ if len(batch) == cfg.n_pgroups
                    else occ.where(_pgroup_expr(cfg.n_pgroups).isin(batch))
                )
                _encode_postings(
                    src, n_pgroups=cfg.n_pgroups, shard_size=shard_size, dl=dl,
                    avgdl=avgdl, block_size=cfg.block_size,
                    block_span=cfg.block_span, span_adaptive=cfg.span_adaptive,
                ).write.options(**POSTINGS_WRITE_OPTIONS).mode("append").partitionBy(
                    "pgroup"
                ).parquet(store.path("postings"))
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
        if occ_persisted:
            occ.unpersist()
        release_rank_cache(ranked)
    # ---- stage: term_stats (global df/cf; blocks pruned at scan) ------------
    if not store.exists("term_stats"):
        t0 = time.time()
        _write_term_stats(spark, store)
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


def _pgroup_expr(n_pgroups: int):
    """A term's postings group: the output partition (one dir per pgroup)."""
    return F.pmod(F.hash("term"), F.lit(n_pgroups))


def _encode_postings(
    rows: DataFrame,
    *,
    n_pgroups: int,
    shard_size: int,
    dl: np.ndarray | None,
    avgdl: float,
    block_size: int,
    block_span: int | None,
    span_adaptive: bool,
) -> DataFrame:
    """THE postings encode stage: ``(docid, term[, tf])`` rows → encoded
    ``(term, shard, df, cf, blocks, pgroup)`` rows, clustered one pgroup per
    task and sorted by (pgroup, term, shard). Every writer — text build,
    impact build, segment appends and compaction — goes through it.

    Rows without ``tf`` are raw occurrences (tf = run length); with ``tf``
    the per-row values are summed. ``dl`` (dense doclengths indexed by
    docid) gives exact per-block BM25 bounds under ``avgdl``; ``None`` the
    dl-free bound (impact scores, segments).

    1. repartition on (pgroup, docid shard) EXPRESSIONS: every (term,
       shard) encode group stays whole inside one partition, but a Zipf-hot
       term's stream spreads over its docid shards instead of landing on
       ONE reducer (the salted-hot-term split, at the partition level);
    2. one ``mapInArrow`` kernel per partition: dictionary-encode the terms,
       lex-rank the (small) partition vocabulary, integer-lexsort (rank,
       docid), run-length-combine equal (term, docid) runs (= the tf
       aggregation), block-encode (``codec.encode_arrow_batch``);
    3. write clustering (≙ Iceberg write.distribution-mode=hash): one hash
       exchange of the ALREADY-ENCODED rows (the smallest representation the
       data ever has) lands each pgroup in one task → one file per pgroup
       (a bare partitionBy write opened one file per (task, pgroup):
       measured 1601 ~21 KB files for a 34 MB table);
    4. sortWithinPartitions(pgroup, term, shard): each file holds its rows
       in term order, so with ``POSTINGS_WRITE_OPTIONS`` its row groups
       cover ascending, disjoint term ranges that the footer addresses."""
    sc = rows.sparkSession.sparkContext
    dl_bc = sc.broadcast(dl) if dl is not None else None
    pgroup = _pgroup_expr(n_pgroups)

    def encode_partition(iterator):
        # groups never straddle partitions but can straddle record batches:
        # concatenate the partition, then run the fused kernel
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
        # lex rank of the vocabulary: the integer sort still yields
        # lexicographic term order
        lex = pc.array_sort_indices(vocab).to_numpy(zero_copy_only=False).astype(np.int64)
        rank = np.empty(len(lex), np.int64)
        rank[lex] = np.arange(len(lex), dtype=np.int64)
        keys = rank[codes]
        docids = tbl.column("docid").to_numpy()
        order = np.lexsort((docids, keys))
        keys = keys[order]
        docids = docids[order]
        n = len(docids)
        new = np.empty(n, bool)
        new[0] = True
        new[1:] = (keys[1:] != keys[:-1]) | (docids[1:] != docids[:-1])
        starts = np.flatnonzero(new)
        if "tf" in tbl.column_names:
            tfs = np.add.reduceat(tbl.column("tf").to_numpy().astype(np.int64)[order], starts)
        else:
            tfs = np.diff(np.append(starts, n))
        docids_u = docids[starts]
        yield encode_arrow_batch(
            codes[order][starts],
            vocab,
            docids_u,
            tfs,
            dl_bc.value[docids_u] if dl_bc is not None else None,
            avgdl,
            shard_size,
            block_size,
            block_span=block_span,
            span_adaptive=span_adaptive,
        )

    return (
        rows.repartition(
            max(n_pgroups, 2 * sc.defaultParallelism),
            pgroup, F.floor(F.col("docid") / F.lit(shard_size)),
        )
        .mapInArrow(encode_partition, schema=POSTINGS_SCHEMA)
        .withColumn("pgroup", pgroup)
        .repartition(min(n_pgroups, sc.defaultParallelism), "pgroup")
        .sortWithinPartitions("pgroup", "term", "shard")
    )


def _write_shard_sizes(store: IndexStore, docs: DataFrame, shard_size: int) -> None:
    """shard_sizes from a ``(docid, doclength)`` frame: one u32 doclength run
    per docid shard, packed on the executors, collected (≤ one row per
    shard) and written driver-side. Raises ``ValueError`` unless the docids
    are exactly 0..N-1 — a gap would shift every later doc's length."""

    def pack_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        order = np.argsort(pdf["docid"].to_numpy(), kind="stable")
        dids = pdf["docid"].to_numpy()[order]
        start = int(shard) * shard_size
        return pd.DataFrame([{
            "shard": int(shard),
            "dense": bool((dids == np.arange(start, start + len(dids))).all()),
            "dl_bin": pdf["doclength"].to_numpy()[order].astype("<u4").tobytes(),
        }])

    runs = sorted(
        docs.select(
            F.floor(F.col("docid") / F.lit(shard_size)).cast("int").alias("shard"),
            "docid", "doclength",
        )
        .groupBy("shard")
        .applyInPandas(pack_shard, schema="shard int, dense boolean, dl_bin binary")
        .collect(),
        key=lambda r: r["shard"],
    )
    for i, r in enumerate(runs):
        # dense within every shard, no shard missing, all but the last full
        if not r["dense"] or r["shard"] != i or (
            i < len(runs) - 1 and len(r["dl_bin"]) != 4 * shard_size
        ):
            raise ValueError(
                f"shard {r['shard']}: docids not dense from {r['shard'] * shard_size}"
            )
    dl = np.frombuffer(b"".join(r["dl_bin"] for r in runs), "<u4")
    _write_table_local(store, "shard_sizes", _shard_sizes_table(dl, shard_size))


def _shard_sizes_table(dl: np.ndarray, shard_size: int):
    """The shard_sizes rows of a dense doclength array: shard s covers
    docids [s·shard_size, min((s+1)·shard_size, N))."""
    import pyarrow as pa

    starts = np.arange(0, len(dl), shard_size, dtype=np.int64)
    return pa.table({
        "shard": pa.array(starts // shard_size, pa.int32()),
        "start_docid": pa.array(starts, pa.int64()),
        "count": pa.array(np.minimum(shard_size, len(dl) - starts), pa.int32()),
        "dl_bin": pa.array(
            [dl[s : s + shard_size].astype("<u4").tobytes() for s in starts.tolist()],
            pa.binary(),
        ),
    })


#: postings (term, shard) row count at or below which term_stats aggregates
#: driver-side (one pyarrow scan of 3 skinny columns; ~40 B/row of transient
#: memory) instead of scheduling a Spark scan+shuffle+write — the same
#: size-gated driver/executor split the meta/lineage stages already use.
TERM_STATS_DRIVER_MAX_ROWS = 4_000_000


def _write_term_stats(spark, store: IndexStore) -> None:
    """term_stats = per-term (Σdf, Σcf, pgroup) over the postings table.

    pgroup rides along (functionally determined by term): serving opens
    only the queried terms' postings/pgroup=* dirs. Rows are term-sorted so
    driver-side idf lookups (IndexReader._idf_map, LocalSearcher) can
    row-group-prune their term-IN reads. Up to TERM_STATS_DRIVER_MAX_ROWS
    postings rows this is one multithreaded pyarrow scan + group_by, written
    globally term-sorted in 8k-row groups (saves the Spark job whose fixed
    cost dominates at this size); above it, the distributed aggregation."""
    if _table_num_rows(store, "postings") > TERM_STATS_DRIVER_MAX_ROWS:
        store.write(
            "term_stats",
            store.read_or_empty(spark, "postings", POSTINGS_SCHEMA + ", pgroup int")
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
                 F.min("pgroup").alias("pgroup"))
            .sortWithinPartitions("term"),
        )
        return
    import glob
    import os

    import pyarrow as pa
    import pyarrow.dataset as pads

    parts = []
    for d in sorted(glob.glob(store.path("postings") + "/pgroup=*")):
        fs = glob.glob(f"{d}/*.parquet")
        if fs:
            t = pads.dataset(fs, format="parquet").to_table(columns=["term", "df", "cf"])
            g = int(os.path.basename(d).split("=", 1)[1])
            parts.append(t.append_column("pgroup", pa.array([g] * t.num_rows, pa.int32())))
    schema = pa.schema([("term", pa.string()), ("df", pa.int64()),
                        ("cf", pa.int64()), ("pgroup", pa.int32())])
    out = schema.empty_table()
    if parts:
        agg = pa.concat_tables(parts).group_by("term").aggregate(
            [("df", "sum"), ("cf", "sum"), ("pgroup", "min")]
        )
        out = pa.table(
            [agg["term"], agg["df_sum"], agg["cf_sum"], agg["pgroup_min"]], schema=schema
        ).sort_by("term")
    _write_table_local(store, "term_stats", out, row_group_size=8192)


def _write_table_local(store: IndexStore, table: str, tbl, **write_kw) -> None:
    """Atomic driver-side table write (pyarrow, temp dir + rename) for the
    metadata-sized tables (shard_sizes, term_stats under the row gate), in
    the session's parquet codec (zstd)."""
    import os
    import shutil
    import uuid

    import pyarrow.parquet as papq

    final = store.path(table)
    tmp = f"{final}.__tmp_{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    papq.write_table(tbl, f"{tmp}/part-00000.parquet", compression="zstd", **write_kw)
    open(f"{tmp}/_SUCCESS", "w").close()
    if os.path.isdir(final):
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
