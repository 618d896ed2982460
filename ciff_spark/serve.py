"""LocalSearcher — low-latency serving over a built index, no Spark job.

Spark builds and maintains the index; serving a single query does not need a
distributed job. This reader keeps a footer lexicon of the index's Parquet
postings files: each file is term-sorted in 1024-row groups, so a group's
(min, max) ``term`` addresses its terms, and a query reads only the row
groups that cover its terms. A row group is read and decoded once per
searcher: it stays resident in the hot LRU, so a later term it covers is
filtered out of it rather than read again. It runs the same interval
Block-Max WAND kernel the distributed path uses. The role is exactly PISA's
mmap'd query engine over CIFF-derived indexes, re-expressed on the
Spark-built artifact:

    Spark (build, refresh, heavy batch scoring)  ←  one storage layout  →
    LocalSearcher (interactive top-k, ~ms per query)

``FreshSearcher`` serves base ∪ committed streaming segments through the
SAME path: segment files join the footer lexicon, their row groups resident
from the open on; a term's segment rows concatenate after its base rows
exactly like one more shard, and every search is one ``wand_topk`` (or,
unpruned, one ``exhaustive_topk``) call over those lists.

Rank-identity with both the distributed reader and the pytest oracle is
asserted in tests. Doc lengths load once from ``shard_sizes`` (the .sizes
analog); term stats load lazily per queried term.
"""

from __future__ import annotations

import glob
from collections import OrderedDict
from itertools import groupby

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ciff_spark.functions.codec import concat_ranges, owned_bytes
from ciff_spark.functions.scoring import idf_np
from ciff_spark.functions.tokenizer import tokenize_py
from ciff_spark.wand import PostingList, allowed_mask, exhaustive_topk, wand_topk


class LocalSearcher:
    # hot posting lists stay resident across queries (query logs are Zipf):
    # a term's PostingList (raw bins, block columns, decoded arrays) caches
    # per term, and so does each postings row group a fetch read (its
    # pyarrow (term, blocks) table; FreshSearcher's open reads every segment
    # group), so a later cold term in that group filters it instead of
    # reading and decoding it again. Both share one
    # LRU, bounded in entries and BY BYTES (count alone is unbounded memory
    # when hot terms carry millions of postings).
    # The analog of PISA serving from an mmap'd index with the page cache
    # warm — here the decode work is cached too, which mmap alone can't give.
    CACHE_TERMS = 65536  # entries: term lists and row groups
    CACHE_BYTES = 1 << 30  # 1 GiB of raw bins + decoded-array estimate

    def __init__(self, index_root: str) -> None:
        self.root = index_root.rstrip("/")
        meta = pq.read_table(f"{self.root}/meta").to_pylist()[0]
        self.num_docs = int(meta["num_docs"])
        self.avgdl = float(meta["avgdl"])
        self.shard_size = int(meta["shard_size"])
        # block bounds are exact under the avgdl they were encoded with;
        # compaction can move the collection avgdl above it — inflate bounds
        # by the sup drift ratio so WAND pruning stays sound (see wand.py)
        self._bounds_avgdl = float(meta.get("bounds_avgdl") or self.avgdl) or 1.0
        self.bound_scale = max(1.0, self.avgdl / self._bounds_avgdl)
        # doclengths: one dense u32 array assembled from shard_sizes' runs
        ss = pq.read_table(
            f"{self.root}/shard_sizes", columns=["start_docid", "count", "dl_bin"]
        )
        starts = ss["start_docid"].to_numpy().astype(np.int64)
        counts = ss["count"].to_numpy().astype(np.int64)
        data, off = owned_bytes(ss["dl_bin"].combine_chunks())
        if not np.array_equal(np.diff(off), 4 * counts):
            raise ValueError(f"{self.root}/shard_sizes: dl_bin lengths do not match count")
        self.dl = np.zeros(self.num_docs, np.uint32)
        self.dl[concat_ranges(starts, starts + counts)] = data.view("<u4")
        # term stats: eager dict for ordinary vocabularies; above the
        # threshold, PER-TERM lazy lookups against the (term-sorted, so
        # row-group-prunable) term_stats parquet — a billion-term index must
        # not materialize its whole vocabulary to serve a 3-term query.
        ts_files = sorted(glob.glob(f"{self.root}/term_stats/*.parquet"))
        n_terms = sum(pq.ParquetFile(f).metadata.num_rows for f in ts_files)
        self._ts_ds = ds.dataset(ts_files, format="parquet")
        # term → pgroup lets a query open the footer lexicon of ONLY its
        # terms' postings/pgroup=* dirs (≤|q| of them) instead of every
        # postings file's — the r2 serving regression. Older indexes
        # without the column fall back to one lexicon over all files.
        self._ts_cols = [c for c in ("term", "df", "pgroup") if c in self._ts_ds.schema.names]
        self._df: dict[str, int] = {}
        self._pg = {} if "pgroup" in self._ts_cols else None
        self._lazy_stats = n_terms > self.EAGER_STATS_MAX_TERMS
        if not self._lazy_stats:
            self._add_stats(self._ts_ds.to_table(columns=self._ts_cols))
        self._lex: dict[int | str | None, list[tuple]] = {}  # see _lexicon
        # streaming segments (FreshSearcher opens them): their committed
        # postings files, lexicon key "seg", and term → Σ segment df
        self._seg_files: list[str] = []
        self._seg_df: dict[str, int] = {}
        # one LRU over CACHE_TERMS/_BYTES: term → PostingList (a list keeps
        # its decoded blocks and block geometry across queries) and
        # (postings file, row group) → that group's (term, blocks) table,
        # charged its buffers
        self._hot: OrderedDict[str | tuple[str, int], PostingList | pa.Table] = OrderedDict()
        self._hot_bytes: dict[str | tuple[str, int], int] = {}
        self._hot_total = 0

    #: above this vocabulary size, term stats resolve lazily per query
    EAGER_STATS_MAX_TERMS = 2_000_000

    def _resolve_stats(self, terms: list[str]) -> None:
        """Lazy path: pull (df, pgroup) for unknown query terms from the
        sorted term_stats parquet (row-group pruned term-IN read); absent
        terms cache as df=0 so repeats don't re-read."""
        if not self._lazy_stats:
            return
        missing = [t for t in terms if t not in self._df]
        if not missing:
            return
        self._add_stats(
            self._ts_ds.to_table(columns=self._ts_cols, filter=pc.field("term").isin(missing))
        )
        for t in missing:
            self._df.setdefault(t, 0)

    def _add_stats(self, tbl: pa.Table) -> None:
        """Merge a term_stats (term, df[, pgroup]) table into the term →
        df and term → pgroup maps: column reads, no per-row dicts."""
        terms = tbl["term"].to_numpy(zero_copy_only=False).tolist()
        self._df.update(zip(terms, tbl["df"].to_numpy().tolist()))
        if self._pg is not None:
            self._pg.update(zip(terms, tbl["pgroup"].to_numpy().tolist()))

    def _lexicon(self, key: int | str | None) -> list[tuple]:
        """Footer lexicon of one pgroup's postings files (``None``: every
        file, for indexes without a term → pgroup map; ``"seg"``: the
        committed segment files), read on first touch: per file its path,
        its ``ParquetFile`` (open until ``close``) and each row group's
        (min, max) ``term``, or ``None`` for a group without statistics.
        Ranges compare as ``str``: unsigned UTF-8 byte order is code-point
        order."""
        lex = self._lex.get(key)
        if lex is None:
            pat = f"{self.root}/postings/pgroup={'*' if key is None else key}/*.parquet"
            lex = self._lex[key] = []
            for f in self._seg_files if key == "seg" else sorted(glob.glob(pat)):
                pf = pq.ParquetFile(f)
                md = pf.metadata
                col = [md.schema.column(i).path for i in range(md.num_columns)].index("term")
                sts = [md.row_group(i).column(col).statistics for i in range(md.num_row_groups)]
                lex.append((f, pf, [
                    (s.min, s.max) if s is not None and s.has_min_max else None for s in sts
                ]))
        return lex

    def close(self) -> None:
        """Close the postings files the footer lexicon holds open (segment
        files too) and drop their row groups from the hot LRU; term lists stay."""
        for _, pf, _ in (entry for lex in self._lex.values() for entry in lex):
            pf.close()
        self._lex.clear()
        for key in [key for key in self._hot if isinstance(key, tuple)]:
            del self._hot[key]
            self._hot_total -= self._hot_bytes.pop(key)

    def _fetch_lists(
        self, terms: list[str], stats: dict | None = None
    ) -> dict[str, PostingList]:
        """term → its ``PostingList``, served from the hot LRU when possible.
        A missing term is filtered out of the row groups whose footer range
        covers it (a group without statistics covers every term), in its
        pgroup's files if it has base rows and in the segment files if it
        has segment rows: a group already resident in the LRU is filtered
        where it lies, the others are read, one group per read, and stay
        resident. ``stats`` accumulates ``row_groups_read`` and
        ``row_groups_resident`` (covering groups found in the LRU)."""
        self._resolve_stats(terms)
        # df=0 is the lazy path's "known absent" sentinel — never fetch those
        present = [t for t in terms if self._df.get(t) or self._seg_df.get(t)]
        out: dict[str, PostingList] = {}
        missing = []
        for t in present:
            hit = self._hot.get(t)
            if hit is not None:
                self._hot.move_to_end(t)
                out[t] = hit
            else:
                missing.append(t)
        read = resident = 0
        by_key: dict[int | str | None, list[str]] = {}
        for t in missing:
            if self._df.get(t):  # segment-only terms have no base pgroup
                by_key.setdefault(None if self._pg is None else self._pg[t], []).append(t)
            if self._seg_df.get(t):
                by_key.setdefault("seg", []).append(t)
        groups = []  # every covering group, resident or just read
        for key, ts in by_key.items():
            for f, pf, ranges in self._lexicon(key):
                for i, r in enumerate(ranges):
                    if r is not None and not any(r[0] <= t <= r[1] for t in ts):
                        continue
                    tbl = self._hot.get((f, i))
                    if tbl is None:
                        # pyarrow's thread pool costs more than it overlaps
                        # on one group (~10-15% on a read)
                        tbl = pf.read_row_groups([i], columns=["term", "blocks"], use_threads=False)
                        self._hold((f, i), tbl, tbl.get_total_buffer_size())
                        read += 1
                    else:
                        self._hot.move_to_end((f, i))
                        resident += 1
                    groups.append(tbl)
        if groups:
            # not a searchsorted slice: legacy shuffled and stat-less
            # groups are not term-sorted. A PostingList copies its
            # term's bytes out of the group, so evicting the group frees it
            tbl = pa.concat_tables(groups)
            fetched = _term_lists(tbl.filter(pc.is_in(tbl["term"], pa.array(missing))))
            for t, plist in fetched.items():
                out[t] = plist
                self._hold(t, plist, plist.nbytes)
        if stats is not None:
            stats["row_groups_read"] = stats.get("row_groups_read", 0) + read
            stats["row_groups_resident"] = stats.get("row_groups_resident", 0) + resident
        return out

    def _hold(self, key, value, nbytes: int) -> None:
        """Put ``value`` in the hot LRU as its newest entry, charged ``nbytes``,
        and evict the oldest entries (even it) until within the budget."""
        self._hot[key] = value
        self._hot_bytes[key] = nbytes
        self._hot_total += nbytes
        while self._hot and (
            len(self._hot) > self.CACHE_TERMS or self._hot_total > self.CACHE_BYTES
        ):
            old, _ = self._hot.popitem(last=False)
            self._hot_total -= self._hot_bytes.pop(old)

    def search(
        self, query: str, k: int = 10, stats: dict | None = None,
        scoring: str = "bm25", round_decimals: int | None = None,
        prune: bool = True, *, allowed_docids=None,
    ) -> list[tuple[int, float]]:
        """BM25 top-k: [(docid, score)] — identical semantics to the
        distributed readers (WAND over per-term blocks; a term's rows
        concatenate in docid order so their blocks form one valid list).
        ``stats``: optional dict accumulating wand_topk's decode counters
        and the fetch's ``row_groups_read``/``row_groups_resident``.
        ``scoring="impact"`` serves quantized impact indexes (Σ stored tf,
        term weight 1.0, max_tf block bounds) — PISA's quantized scorer over
        the same artifact the distributed impact reader queries.
        ``round_decimals``: rank on rounded scores (docid tiebreak) — the
        driver/oracle ordering contract (see wand_topk). ``prune=False``
        scores with ``exhaustive_topk`` instead (decodes every block) — the
        A/B baseline; results are identical.
        ``allowed_docids`` (keyword-only): optional iterable/array of
        docids — metadata-filtered serving: results restrict to these docs
        while idf/avgdl stay collection-level, and WAND pruning remains
        sound (θ tracks the k-th best ALLOWED score; see wand_topk). The
        distributed analog is ``IndexReader.topk(doc_filter=...)``."""
        if scoring not in ("bm25", "impact"):
            raise ValueError(f"unknown scoring {scoring!r}")
        terms = sorted(set(tokenize_py(query)))
        lists_by_term = self._fetch_lists(terms, stats)
        if not lists_by_term:
            return []
        impact = scoring == "impact"
        lists = []
        # sorted-term order, not cache order: a doc's contributions add in
        # list order, so a warm query sums them exactly as a cold one does
        for t in terms:
            if t not in lists_by_term:
                continue
            df = self._df.get(t, 0) + self._seg_df.get(t, 0)
            w = 1.0 if impact else float(idf_np(df, self.num_docs))
            lists.append((w, lists_by_term[t]))
        mask = allowed_mask(allowed_docids, self.num_docs)
        if prune:
            d, s = wand_topk(
                lists, self.dl, 0, self.avgdl, k,
                round_decimals=round_decimals,
                bound_scale=1.0 if impact else self.bound_scale,
                stats=stats, scoring=scoring, allowed=mask,
            )
        else:
            d, s = exhaustive_topk(
                lists, self.dl, 0, self.avgdl, k,
                round_decimals=round_decimals, scoring=scoring, allowed=mask,
            )
        return list(zip(d.tolist(), s.tolist()))

    def search_batch(
        self, queries: list[str], k: int = 10, stats: dict | None = None,
        scoring: str = "bm25",
    ) -> list[list[tuple[int, float]]]:
        """Top-k for a BATCH of queries: ONE fetch covers the union of the
        batch's terms, then the WAND kernel runs per query against the
        now-hot lists, sharing decoded blocks through the per-term caches.
        A row group is read and decoded once per searcher, in a batch as
        across ``search`` calls, since it stays resident in the hot LRU.
        Results are identical to ``search`` per query."""
        all_terms = sorted({t for q in queries for t in tokenize_py(q)})
        if all_terms:
            self._fetch_lists(all_terms, stats)  # one fetch warms every batch term
        return [
            self.search(q, k=k, stats=stats, scoring=scoring) for q in queries
        ]


def _term_lists(tbl: pa.Table) -> dict[str, PostingList]:
    """term → ``PostingList`` over a (term, blocks) table holding every row
    of its terms. A term's rows (shards, compaction appends, segments)
    cover disjoint docid ranges; ordered by first-block ``max_docid`` they
    concatenate into one docid-ascending list."""
    terms = tbl["term"].to_numpy(zero_copy_only=False).tolist()
    first = pc.struct_field(pc.list_element(tbl["blocks"], 0), "max_docid")
    keys = list(zip(terms, first.to_numpy().tolist()))
    order = sorted(range(len(keys)), key=keys.__getitem__)
    blocks = tbl["blocks"].take(pa.array(order, pa.int64())).combine_chunks()
    out, r0 = {}, 0
    for t, rows in groupby(terms[i] for i in order):
        n = sum(1 for _ in rows)
        out[t] = PostingList(blocks.slice(r0, n))
        r0 += n
    return out


class FreshSearcher(LocalSearcher):
    """Serving over base index + committed streaming segments (fresh
    results), through LocalSearcher's one path.

    Collection statistics (N, avgdl, per-term df) are recomputed over
    base ∪ segments, so scores match a full rebuild over the same rows —
    the metamorphic guarantee tests assert. Segments are the dense docid
    continuation of the base, so ``dl`` extends over them and a term's
    segment rows concatenate after its base rows (merge by concatenation,
    as for shards); every search is one ``wand_topk`` or ``exhaustive_topk``
    call over base ∪ segment lists, sharing the hot LRU and decode caches.
    Segment files join the footer lexicon (key ``"seg"``); the open reads
    each of their row groups once, sums Σ df from it and holds it in the hot
    LRU like a base group a fetch read, so it is filtered or re-read alike.

    Pruning stays sound under the scalar ``bound_scale``: base block bounds
    are exact under ``meta.bounds_avgdl`` and tfnorm grows with avgdl, so
    they inflate by ``max(1, avgdl / bounds_avgdl)`` — the sup of the per-doc
    drift ratio. Segment blocks are encoded without doclengths: their bound
    is tfnorm's dl → 0 supremum, valid at ANY avgdl, and scaling it by a
    factor ≥ 1 keeps it an upper bound. Implicit single-posting segment
    blocks derive their exact bound from the extended ``dl`` at the fresh
    avgdl.
    """

    def __init__(self, index_root: str) -> None:
        super().__init__(index_root)
        from ciff_spark.store import committed_segment_ids

        # COMMITTED segments only (store.committed_segment_ids is the single
        # source of truth for the commit protocol): a torn segment — postings
        # written, docs/_SUCCESS not — would skew fresh collection stats and
        # serve docids without doclengths until the batch retries.
        committed = committed_segment_ids(self.root)

        def files(table: str) -> list[str]:
            return [
                f for s in committed
                for f in sorted(glob.glob(f"{self.root}/{table}/seg_{s}/*.parquet"))
            ]

        doc_files = files("seg_docs")
        if doc_files:
            segd = pq.read_table(doc_files, columns=["docid", "doclength"])
            docids = segd["docid"].to_numpy()
            n = len(docids)
            if not (np.sort(docids) == np.arange(self.num_docs, self.num_docs + n)).all():
                raise ValueError(
                    f"segments are not the dense continuation of the base: "
                    f"base={self.num_docs}, segment docids "
                    f"[{docids.min()},{docids.max()}] ({n} rows)"
                )
            seg_dl = np.empty(n, np.uint32)
            seg_dl[docids - self.num_docs] = segd["doclength"].to_numpy()
            self.dl = np.concatenate([self.dl, seg_dl])
        self.num_docs = len(self.dl)
        self.avgdl = int(self.dl.sum()) / self.num_docs if self.num_docs else 0.0
        self.bound_scale = max(1.0, self.avgdl / self._bounds_avgdl)
        self._seg_files = files("seg_postings")
        dfs = []
        for f, pf, ranges in self._lexicon("seg"):
            for i in range(len(ranges)):
                tbl = pf.read_row_groups([i], columns=["term", "df", "blocks"], use_threads=False)
                dfs.append(tbl.select(["term", "df"]))
                tbl = tbl.select(["term", "blocks"])
                self._hold((f, i), tbl, tbl.get_total_buffer_size())
        if dfs:
            seg_df = pa.concat_tables(dfs).group_by("term", use_threads=False).aggregate(
                [("df", "sum")]
            )
            self._seg_df = dict(zip(
                seg_df["term"].to_numpy().tolist(), seg_df["df_sum"].to_numpy().tolist()
            ))
