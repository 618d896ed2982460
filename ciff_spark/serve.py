"""LocalSearcher — low-latency serving over a built index, no Spark job.

Spark builds and maintains the index; serving a single query does not need a
distributed job. This reader memory-maps the term-pruned postings straight
from the index's Parquet files via pyarrow (predicate pushdown on ``term``
uses row-group statistics — the postings are written sorted by term within
each pgroup) and runs the same interval Block-Max WAND kernel the
distributed path uses. The role is exactly PISA's mmap'd query engine over
CIFF-derived indexes, re-expressed on the Spark-built artifact:

    Spark (build, refresh, heavy batch scoring)  ←  one storage layout  →
    LocalSearcher (interactive top-k, ~ms per query)

Rank-identity with both the distributed reader and the pytest oracle is
asserted in tests. Doc lengths load once from ``shard_sizes`` (the .sizes
analog); term stats load lazily per queried term.
"""

from __future__ import annotations

import glob

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ciff_spark.functions.scoring import idf_np
from ciff_spark.functions.tokenizer import tokenize_py
from ciff_spark.wand import allowed_mask, wand_topk


class LocalSearcher:
    # hot posting lists stay resident across queries (query logs are Zipf):
    # raw blocks AND their decoded arrays cache per term, LRU-bounded BY
    # BYTES (count alone is unbounded memory when hot terms carry millions
    # of postings — each entry holds raw bins plus int64 decoded arrays).
    # The analog of PISA serving from an mmap'd index with the page cache
    # warm — here the decode work is cached too, which mmap alone can't give.
    CACHE_TERMS = 65536
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
        # doclengths: one dense u32 array assembled from shard_sizes
        ss = pq.read_table(f"{self.root}/shard_sizes").to_pylist()
        self.dl = np.zeros(self.num_docs, np.uint32)
        for r in sorted(ss, key=lambda r: r["shard"]):
            a = np.frombuffer(r["dl_bin"], dtype="<u4")
            self.dl[r["start_docid"] : r["start_docid"] + r["count"]] = a
        # term stats: eager dict for ordinary vocabularies; above the
        # threshold, PER-TERM lazy lookups against the (term-sorted, so
        # row-group-prunable) term_stats parquet — a billion-term index must
        # not materialize its whole vocabulary to serve a 3-term query.
        ts_files = sorted(glob.glob(f"{self.root}/term_stats/*.parquet"))
        n_terms = sum(pq.ParquetFile(f).metadata.num_rows for f in ts_files)
        self._ts_ds = ds.dataset(ts_files, format="parquet")
        cols = self._ts_ds.schema.names
        self._has_pg = "pgroup" in cols
        if n_terms <= self.EAGER_STATS_MAX_TERMS:
            ts = pq.read_table(
                f"{self.root}/term_stats",
                columns=["term", "df"] + (["pgroup"] if self._has_pg else []),
            ).to_pylist()
            self._df = {r["term"]: int(r["df"]) for r in ts}
            # term → pgroup lets a query open ONLY its terms' postings/
            # pgroup=* dirs (≤|q| of them) instead of paying file-open +
            # row-group-stat costs across every postings file — the r2
            # serving regression. Older indexes without the column fall back
            # to the full glob.
            self._pg = (
                {r["term"]: int(r["pgroup"]) for r in ts} if self._has_pg else None
            )
            self._lazy_stats = False
        else:
            self._df = {}
            self._pg = {} if self._has_pg else None
            self._lazy_stats = True
        self._pg_ds: dict[int, ds.Dataset] = {}
        self._all_ds = None
        from collections import OrderedDict

        # term → (blocks, prevs, decode_cache, geom_cache) — LRU over
        # CACHE_TERMS/_BYTES; geom_cache persists the kernel's per-list
        # block-geometry arrays across queries (keyed by scoring mode)
        self._hot: OrderedDict[str, tuple] = OrderedDict()
        self._hot_bytes: dict[str, int] = {}
        self._hot_total = 0

    #: above this vocabulary size, term stats resolve lazily per query
    EAGER_STATS_MAX_TERMS = 2_000_000

    def _resolve_stats(self, terms: list[str]) -> None:
        """Lazy path: pull (df, pgroup) for unknown query terms from the
        sorted term_stats parquet (row-group pruned term-IN read); absent
        terms cache as df=0 so repeats don't re-read."""
        if not self._lazy_stats:
            return
        import pyarrow.compute as pc

        missing = [t for t in terms if t not in self._df]
        if not missing:
            return
        tbl = self._ts_ds.to_table(
            columns=["term", "df"] + (["pgroup"] if self._has_pg else []),
            filter=pc.field("term").isin(missing),
        )
        for r in tbl.to_pylist():
            self._df[r["term"]] = int(r["df"])
            if self._pg is not None:
                self._pg[r["term"]] = int(r["pgroup"])
        for t in missing:
            self._df.setdefault(t, 0)

    def _dataset_for(self, pgroups: set[int] | None):
        if pgroups is None:  # no pgroup map — whole-postings fallback
            if self._all_ds is None:
                self._all_ds = ds.dataset(
                    glob.glob(f"{self.root}/postings/pgroup=*/*.parquet"),
                    format="parquet",
                )
            return [self._all_ds]
        out = []
        for g in sorted(pgroups):
            d = self._pg_ds.get(g)
            if d is None:
                d = self._pg_ds[g] = ds.dataset(
                    glob.glob(f"{self.root}/postings/pgroup={g}/*.parquet"),
                    format="parquet",
                )
            out.append(d)
        return out

    def _fetch_lists(self, terms: list[str]):
        """term → (blocks ordered by shard, decode_prevs, decode_cache,
        geom_cache).
        Each shard's first block decodes from −1 (how it was encoded); later
        blocks chain on their predecessor's max_docid. Served from the hot
        LRU when possible; only missing terms touch the parquet files."""
        import pyarrow as pa
        import pyarrow.compute as pc

        self._resolve_stats(terms)
        # df=0 is the lazy path's "known absent" sentinel — never fetch those
        present = [t for t in terms if self._df.get(t)]
        if not present:
            return {}
        out: dict[str, tuple[list, list, dict, dict]] = {}
        missing = []
        for t in present:
            hit = self._hot.get(t)
            if hit is not None:
                self._hot.move_to_end(t)
                out[t] = hit
            else:
                missing.append(t)
        if missing:
            pgroups = (
                {self._pg[t] for t in missing} if self._pg is not None else None
            )
            datasets = self._dataset_for(pgroups)

            def _scan(d):
                return d.to_table(
                    columns=["term", "shard", "blocks"],
                    filter=pc.field("term").isin(missing),
                )

            if len(datasets) > 1:
                # pyarrow scans release the GIL — fan the ≤|q| pgroup reads
                # out over threads; first-touch latency (the serving p95) is
                # dominated by these sequential file opens otherwise
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(8, len(datasets))) as ex:
                    tbl = pa.concat_tables(ex.map(_scan, datasets))
            else:
                tbl = _scan(datasets[0])
            # (term, shard, first-block max_docid): compaction can append a
            # second row for an existing (term, shard) — rows of one term
            # must concatenate in ascending docid order for the block
            # geometry (lo/hi chain) to stay valid
            rows = sorted(
                tbl.to_pylist(),
                key=lambda r: (
                    r["term"],
                    r["shard"],
                    int(r["blocks"][0]["max_docid"]) if r["blocks"] else -1,
                ),
            )
            for r in rows:
                entry = out.get(r["term"])
                if entry is None:
                    entry = out[r["term"]] = ([], [], {}, {})
                blocks, prevs, _cache, _geom = entry
                prev = -1  # shard-local chain starts at -1
                for b in r["blocks"]:
                    blocks.append(b)
                    prevs.append(prev)
                    prev = int(b["max_docid"])
            for t in missing:
                if t in out:
                    self._hot[t] = out[t]
                    # entry footprint: raw bins + the decoded int64 arrays the
                    # cache will hold once filled (16 B per posting), charged
                    # up front so eviction never lags the lazy decode
                    sz = sum(
                        len(b["docs_bin"]) + len(b["tfs_bin"]) + 16 * int(b["count"])
                        for b in out[t][0]
                    )
                    self._hot_bytes[t] = sz
                    self._hot_total += sz
            while self._hot and (
                len(self._hot) > self.CACHE_TERMS
                or self._hot_total > self.CACHE_BYTES
            ):
                old_t, _ = self._hot.popitem(last=False)
                self._hot_total -= self._hot_bytes.pop(old_t, 0)
        return out

    def search(
        self, query: str, k: int = 10, stats: dict | None = None,
        scoring: str = "bm25", *, allowed_docids=None,
    ) -> list[tuple[int, float]]:
        """BM25 top-k: [(docid, score)] — identical semantics to the
        distributed readers (WAND over per-term blocks; shards of a term
        concatenate in shard order so their blocks form one valid list).
        ``stats``: optional dict accumulating wand_topk's decode counters.
        ``scoring="impact"`` serves quantized impact indexes (Σ stored tf,
        term weight 1.0, max_tf block bounds) — PISA's quantized scorer over
        the same artifact the distributed impact reader queries.
        ``allowed_docids`` (keyword-only — subclasses extend the positional
        tail): optional iterable/array of docids — metadata-filtered
        serving: results restrict to these docs while idf/avgdl stay
        collection-level, and WAND pruning remains sound (θ tracks the
        k-th best ALLOWED score; see wand_topk). The distributed analog is
        ``IndexReader.topk(doc_filter=...)``."""
        if scoring not in ("bm25", "impact"):
            raise ValueError(f"unknown scoring {scoring!r}")
        terms = sorted(set(tokenize_py(query)))
        lists_by_term = self._fetch_lists(terms)
        if not lists_by_term:
            return []
        impact = scoring == "impact"
        lists, caches, geoms = [], [], []
        for t, (blocks, prevs, cache, geom) in lists_by_term.items():
            w = 1.0 if impact else float(idf_np(self._df[t], self.num_docs))
            lists.append((w, blocks, np.asarray(prevs, np.int64)))
            caches.append(cache)
            geoms.append(geom)
        mask = allowed_mask(allowed_docids, self.num_docs)
        d, s = wand_topk(
            lists, self.dl, 0, self.avgdl, k,
            decode_caches=caches,
            bound_scale=1.0 if impact else self.bound_scale,
            stats=stats, scoring=scoring, allowed=mask,
            geom_caches=geoms,
        )
        return list(zip(d.tolist(), s.tolist()))

    def search_batch(
        self, queries: list[str], k: int = 10, stats: dict | None = None,
        scoring: str = "bm25",
    ) -> list[list[tuple[int, float]]]:
        """Top-k for a BATCH of queries, amortizing the storage round-trips:
        ONE term-pruned pyarrow fetch covers the union of the batch's terms
        (per-query serving pays a file-open + row-group-stat pass per miss —
        the dominant cost of a cold query), then the WAND kernel runs per
        query against the now-hot lists, sharing decoded blocks through the
        per-term caches. Results are identical to ``search`` per query."""
        all_terms = sorted({t for q in queries for t in tokenize_py(q)})
        if all_terms:
            self._fetch_lists(all_terms)  # one scan warms every batch term
        return [
            self.search(q, k=k, stats=stats, scoring=scoring) for q in queries
        ]


class FreshSearcher(LocalSearcher):
    """Serving over base index + streaming segments (fresh results).

    Collection statistics (N, avgdl, per-term df) are recomputed over
    base ∪ segments, so scores match a full rebuild over the same rows —
    the metamorphic guarantee tests assert.

    Scoring (default, ``prune=True``): segments are scored EXHAUSTIVELY
    (small by construction — compaction folds them back), and their k-th
    best attained score seeds the Block-Max WAND threshold over the BASE
    index — the same interval kernel LocalSearcher runs, under the FRESH
    collection statistics. Base block bounds were computed against the
    avgdl the base was encoded with (``meta.bounds_avgdl``); tfnorm grows
    with avgdl, so bounds inflate by ``max(1, fresh_avgdl/bounds_avgdl)``
    — the sup of the per-doc drift ratio — keeping pruning sound (looser,
    never unsound). Base and segment docid ranges are disjoint (segments
    are the dense continuation), so every doc's score is complete on its
    own side and the merge is exact. ``prune=False`` scores base ∪
    segments exhaustively — the A/B baseline the pruning tests and the
    bench's exhaustive legs use.
    """

    def __init__(self, index_root: str) -> None:
        super().__init__(index_root)
        import glob as _glob

        from ciff_spark.functions.codec import decode_postings

        self._decode = decode_postings
        # COMMITTED segments only (store.committed_segment_ids is the single
        # source of truth for the commit protocol): a torn segment — postings
        # written, docs/_SUCCESS not — would KeyError the scorer and skew
        # fresh collection stats until the batch retries.
        from ciff_spark.store import committed_segment_ids

        committed = committed_segment_ids(self.root)
        seg_doc_files = [
            f
            for s in committed
            for f in _glob.glob(f"{self.root}/seg_docs/seg_{s}/*.parquet")
        ]
        if seg_doc_files:
            segd = pq.read_table(seg_doc_files).to_pylist()
            segd.sort(key=lambda r: r["docid"])
            self.seg_dl = {int(r["docid"]): int(r["doclength"]) for r in segd}
        else:
            self.seg_dl = {}
        seg_post_files = [
            f
            for s in committed
            for f in _glob.glob(f"{self.root}/seg_postings/seg_{s}/*.parquet")
        ]
        self._seg_rows = (
            pq.read_table(seg_post_files, columns=["term", "segment", "blocks"]).to_pylist()
            if seg_post_files
            else []
        )
        # dense doclength array for segment docids (base..base+n-1 — the
        # commit protocol guarantees the dense continuation); vectorized
        # scoring indexes it directly
        if self.seg_dl:
            lo, hi = min(self.seg_dl), max(self.seg_dl)
            if not (lo == self.num_docs and hi - lo + 1 == len(self.seg_dl)):
                raise ValueError(
                    f"segments are not the dense continuation of the base: "
                    f"base={self.num_docs}, segment docids [{lo},{hi}] "
                    f"({len(self.seg_dl)} rows)"
                )
            self._seg_dl_np = np.zeros(len(self.seg_dl), np.float64)
            for dd, dl in self.seg_dl.items():
                self._seg_dl_np[dd - self.num_docs] = dl
        else:
            self._seg_dl_np = np.zeros(0, np.float64)
        # combined collection statistics
        self.fresh_num_docs = self.num_docs + len(self.seg_dl)
        self.fresh_total = int(self.dl.sum()) + sum(self.seg_dl.values())
        self.fresh_avgdl = self.fresh_total / self.fresh_num_docs if self.fresh_num_docs else 0.0

    def search(
        self,
        query: str,
        k: int = 10,
        stats: dict | None = None,
        scoring: str = "bm25",
        round_decimals: int | None = None,
        prune: bool = True,
        *,
        allowed_docids=None,
    ) -> list[tuple[int, float]]:
        """``stats`` and ``scoring`` hold LocalSearcher.search's positions
        (substitutability — a caller written against the base class must not
        have its 4th positional land in ``round_decimals``).
        ``scoring="impact"`` sums the stored quantized impacts over base ∪
        segments — impact scores need no collection statistics at all (no
        dl, no avgdl; df only exists inside the stored tf) — provided the
        segments were appended with ``append_vector_batch``, which quantizes
        with the base's frozen range. ``round_decimals``: rank on rounded
        scores (docid tiebreak) — the driver/oracle ordering contract; the
        pruned path guards its threshold with the ½-ulp ε exactly as
        LocalSearcher does. ``prune=False``: exhaustive base ∪ segment
        scoring (decoded == total) — the independent-engine A/B baseline.
        ``allowed_docids`` (keyword-only, same contract as LocalSearcher):
        restrict results to these docs — base AND segment docids accepted;
        fresh collection stats stay unfiltered."""
        if scoring not in ("bm25", "impact"):
            raise ValueError(f"unknown scoring {scoring!r}")
        impact = scoring == "impact"
        terms = sorted(set(tokenize_py(query)))
        if not terms:
            return []
        base_lists = self._fetch_lists(terms)
        seg_lists: dict[str, list] = {}
        for r in self._seg_rows:
            if r["term"] in terms:
                seg_lists.setdefault(r["term"], []).append(r)
        # decode segment lists (small by construction) + fresh per-term df
        seg_decoded: dict[str, list] = {}
        fresh_df: dict[str, int] = {}
        n_seg_blocks = 0
        for t in terms:
            df = self._df.get(t, 0)
            dec = []
            for r in sorted(seg_lists.get(t, []), key=lambda r: r["segment"]):
                d, tf = self._decode(r["blocks"])
                dec.append((d, tf))
                df += len(d)
                n_seg_blocks += len(r["blocks"])
            if dec:
                seg_decoded[t] = dec
            fresh_df[t] = df
        if stats is not None:
            # segment blocks are always fully decoded (exhaustive by design)
            stats["total_blocks"] = stats.get("total_blocks", 0) + n_seg_blocks
            stats["decoded_blocks"] = stats.get("decoded_blocks", 0) + n_seg_blocks
        mask = allowed_mask(allowed_docids, self.fresh_num_docs)
        if not prune:
            return self._search_exhaustive(
                terms, base_lists, seg_decoded, fresh_df, k, stats, impact,
                round_decimals, mask,
            )

        # ---- pruned path ------------------------------------------------
        # 1. segments scored exhaustively; their attained scores seed θ
        seg_d, seg_s = self._score_segments(
            terms, seg_decoded, fresh_df, impact, round_decimals
        )
        if mask is not None and len(seg_d):
            keep = mask[seg_d]
            seg_d, seg_s = seg_d[keep], seg_s[keep]
        order = np.argsort(-seg_s, kind="stable")[:k]  # seg_d docid-ascending
        seg_top_d, seg_top_s = seg_d[order], seg_s[order]
        theta0 = float(seg_top_s[-1]) if len(seg_top_s) >= k else None

        # 2. base via the interval Block-Max kernel under FRESH statistics;
        #    bounds inflate by the sup avgdl-drift ratio (sound, see class doc)
        lists, caches, geoms = [], [], []
        for t in terms:
            ent = base_lists.get(t)
            if ent is None:
                continue
            blocks, prevs, cache, geom = ent
            w = 1.0 if impact else float(idf_np(fresh_df[t], self.fresh_num_docs))
            lists.append((w, blocks, np.asarray(prevs, np.int64)))
            caches.append(cache)
            geoms.append(geom)
        if lists:
            bscale = (
                1.0 if impact
                else max(1.0, self.fresh_avgdl / self._bounds_avgdl)
            )
            base_d, base_s = wand_topk(
                lists, self.dl, 0, self.fresh_avgdl, k,
                round_decimals=round_decimals, initial_theta=theta0,
                decode_caches=caches, bound_scale=bscale, stats=stats,
                scoring=scoring,
                allowed=mask[: self.num_docs] if mask is not None else None,
                geom_caches=geoms,
            )
        else:
            base_d = np.empty(0, np.int64)
            base_s = np.empty(0, np.float64)

        # 3. exact merge: base and segment docid ranges are disjoint, every
        #    candidate carries its complete score
        alld = np.concatenate([base_d, seg_top_d])
        alls = np.concatenate([base_s, seg_top_s])
        sel = np.lexsort((alld, -alls))[:k]
        return [(int(alld[i]), float(alls[i])) for i in sel]

    def _score_segments(
        self,
        terms: list[str],
        seg_decoded: dict[str, list],
        fresh_df: dict[str, int],
        impact: bool,
        round_decimals: int | None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Exhaustive (docid, score) over the SEGMENT rows only — vectorized
        accumulation, docid-ascending output."""
        from ciff_spark.functions.scoring import tfnorm_np

        acc_d: list[np.ndarray] = []
        acc_c: list[np.ndarray] = []
        for t in terms:
            if t not in seg_decoded or fresh_df[t] == 0:
                continue
            idf = 1.0 if impact else float(idf_np(fresh_df[t], self.fresh_num_docs))
            for d, tf in seg_decoded[t]:
                acc_d.append(d)
                acc_c.append(
                    tf.astype(np.float64)
                    if impact
                    else idf * tfnorm_np(tf, self._seg_dl_arr(d), self.fresh_avgdl)
                )
        if not acc_d:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        alld = np.concatenate(acc_d)
        allc = np.concatenate(acc_c)
        uniq, inv = np.unique(alld, return_inverse=True)
        scores = np.zeros(len(uniq), np.float64)
        np.add.at(scores, inv, allc)
        if round_decimals is not None:
            scores = np.round(scores, round_decimals)
        return uniq, scores

    def _search_exhaustive(
        self,
        terms: list[str],
        base_lists: dict,
        seg_decoded: dict[str, list],
        fresh_df: dict[str, int],
        k: int,
        stats: dict | None,
        impact: bool,
        round_decimals: int | None,
        mask: np.ndarray | None = None,
    ) -> list[tuple[int, float]]:
        """Exhaustive base ∪ segment scoring (the pre-pruning semantics):
        decode every block of the query terms' lists, one unique+add.at
        accumulation pass, rank by (-score, docid). ``mask``: allowed-docid
        filter over the fresh docid range."""
        from ciff_spark.functions.codec import decode_block_dict
        from ciff_spark.functions.scoring import tfnorm_np

        acc_d: list[np.ndarray] = []
        acc_c: list[np.ndarray] = []
        for t in terms:
            df = fresh_df[t]
            if df == 0:
                continue
            idf = 1.0 if impact else float(idf_np(df, self.fresh_num_docs))
            if t in base_lists:
                blocks, prevs, bcache, _geom = base_lists[t]
                if stats is not None:
                    stats["total_blocks"] = stats.get("total_blocks", 0) + len(blocks)
                parts_d, parts_tf = [], []
                for j, (blk, prev) in enumerate(zip(blocks, prevs)):
                    got = bcache.get(j)
                    if got is None:
                        got = bcache[j] = decode_block_dict(blk, prev)
                        if stats is not None:
                            stats["decoded_blocks"] = stats.get("decoded_blocks", 0) + 1
                    d, tf = got
                    parts_d.append(d)
                    parts_tf.append(tf)
                d = np.concatenate(parts_d)
                tf = np.concatenate(parts_tf)
                acc_d.append(d)
                acc_c.append(
                    tf.astype(np.float64)
                    if impact
                    else idf * tfnorm_np(tf, self.dl[d], self.fresh_avgdl)
                )
            for d, tf in seg_decoded.get(t, []):
                acc_d.append(d)
                acc_c.append(
                    tf.astype(np.float64)
                    if impact
                    else idf * tfnorm_np(tf, self._seg_dl_arr(d), self.fresh_avgdl)
                )
        if not acc_d:
            return []
        alld = np.concatenate(acc_d)
        allc = np.concatenate(acc_c)
        uniq, inv = np.unique(alld, return_inverse=True)
        scores = np.zeros(len(uniq), np.float64)
        np.add.at(scores, inv, allc)
        if round_decimals is not None:
            scores = np.round(scores, round_decimals)
        if mask is not None and len(uniq):
            keep = mask[uniq]
            uniq, scores = uniq[keep], scores[keep]
        # rank by (-score, docid): uniq is already docid-ascending, so a
        # stable sort on -score preserves the tiebreak
        order = np.argsort(-scores, kind="stable")[:k]
        return [(int(uniq[i]), float(scores[i])) for i in order]

    def _seg_dl_arr(self, docids: np.ndarray) -> np.ndarray:
        dls = self._seg_dl_np
        return dls[docids - self.num_docs]
