"""Interval Block-Max top-k kernel (NumPy, runs inside Arrow UDF groups).

A vectorization-friendly variant of Block-Max WAND (Ding & Suel, SIGIR 2011;
the pruning idea the north-rule mandates). Instead of pointer-chasing document
-at-a-time, we work interval-at-a-time over the docid axis:

1. Each block of each query-term list covers a docid interval
   [prev_block_max+1, max_docid] with score upper bound
   idf * max_tfnorm (clamped at 0 for negative-idf terms — their
   contribution is always ≤ 0 under the pinned formula, which permits
   negative idf; classical WAND assumes non-negative contributions, this
   variant stays exact without that assumption).
2. Block boundaries partition the shard's docid space into intervals; the
   upper bound U(interval) = Σ_t bound of t's covering block.
3. Intervals are processed in descending U, in batches whose size doubles
   each round; each batch is scored EXACTLY in one vectorized pass (decode
   the not-yet-decoded covering blocks of its intervals in one varint pass,
   keep the postings that fall in those intervals, and accumulate full
   BM25). The running top-k
   gives the threshold θ (its k-th score), checked before every batch: once
   the next interval's U < θ every remaining doc provably cannot enter the
   top-k.

Exactness: every docid lies in exactly one interval, and all its postings
across the query lists lie in the blocks covering that interval, so processed
docs get their complete score; skipped docs have score ≤ U < θ.
"""

from __future__ import annotations

import numpy as np

from ciff_spark.functions.codec import block_columns, concat_ranges, decode_blocks
from ciff_spark.functions.scoring import tfnorm_np

#: intervals in the first batch; each later batch doubles. A selective query
#: stops after a batch or two, a query that scores hundreds of intervals pays
#: the per-batch Python work a handful of times. The first batch runs before
#: θ exists, so it must stay small: on the benchmark's 64-query pool (4 vCPU)
#: 8 decoded as many blocks cold as 4 (6,713 vs 6,708 of 13,164) with a ~15%
#: lower warm median, while 16 already decodes every block of small indexes
_FIRST_BATCH = 8


class PostingList:
    """One term's posting list in columnar form: the kernels' only input.

    Built from the term's ``list<struct<BLOCK_SCHEMA>>`` rows (shards,
    compaction appends, segments) in ascending first-block ``max_docid``
    order, so the blocks form one docid-ascending list; each row's first
    block decodes from −1, as it was encoded (``codec.block_columns``).
    Every array is owned, so ``nbytes`` is what holding the list costs.

    Decoded postings fill lazily into flat ``int64`` arrays, per block on
    first touch (``postings``); the block geometry caches per scoring mode.
    A list can thus be shared across queries — the serving hot cache, the
    per-task rows of a Spark scoring stage."""

    __slots__ = ("cols", "post_off", "_docs", "_tfs", "_done", "_geom", "_geom_dl")

    def __init__(self, rows) -> None:
        self.cols = block_columns(rows)
        self.post_off = np.zeros(len(self.cols.count) + 1, np.int64)
        np.cumsum(self.cols.count, out=self.post_off[1:])
        self._docs = self._tfs = None
        self._done = np.zeros(len(self.cols.count), bool)
        self._geom: dict = {}
        self._geom_dl = None

    def __len__(self) -> int:
        return len(self.cols.count)

    @property
    def nbytes(self) -> int:
        """Bytes the list owns. Its decoded postings (16 per posting) and
        one cached geometry (``lo`` and ``mtf``, 16 per block) count from
        the start, so a cache charge never lags the lazy fills."""
        arrays = (*self.cols, self.post_off, self._done)
        return sum(a.nbytes for a in arrays) + 16 * (int(self.post_off[-1]) + len(self))

    def postings(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
        """(docids, tfs, newly decoded block count) of ``blocks`` (ascending
        block indices). The not-yet-decoded ones decode in one
        ``decode_blocks`` call; a run of consecutive blocks returns views."""
        lo, hi = int(blocks[0]), int(blocks[-1]) + 1
        run = hi - lo == len(blocks)
        done = self._done[lo:hi] if run else self._done[blocks]
        need = blocks[~done]
        if need.size:
            if self._docs is None:
                self._docs = np.empty(self.post_off[-1], np.int64)
                self._tfs = np.empty(self.post_off[-1], np.int64)
            at = concat_ranges(self.post_off[need], self.post_off[need + 1])
            self._docs[at], self._tfs[at] = decode_blocks(self.cols, need)
            self._done[need] = True
        if run:
            a, b = self.post_off[lo], self.post_off[hi]
            return self._docs[a:b], self._tfs[a:b], int(need.size)
        at = concat_ranges(self.post_off[blocks], self.post_off[blocks + 1])
        return self._docs[at], self._tfs[at], int(need.size)

    def geometry(self, scoring: str, dl: np.ndarray, start_docid: int, avgdl: float):
        """``list_geometry`` cached per (scoring, start_docid, avgdl); the
        cache drops when a different ``dl`` array comes in."""
        if dl is not self._geom_dl:
            self._geom.clear()
            self._geom_dl = dl
        key = (scoring, start_docid, avgdl)
        geom = self._geom.get(key)
        if geom is None:
            geom = self._geom[key] = list_geometry(
                self, scoring == "impact", dl, start_docid, avgdl
            )
        return geom


def list_geometry(
    plist: PostingList,
    impact: bool,
    dl: np.ndarray,
    start_docid: int,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lo, hi, mtf) block-geometry arrays of one posting list:
    query-INDEPENDENT (lo/hi from the stored block ranges, mtf the raw
    per-block tf bound — idf/bound_scale apply vectorized afterwards)."""
    c = plist.cols
    hi = c.max_docid
    lo = np.empty_like(hi)
    lo[0] = 0
    lo[1:] = hi[:-1] + 1
    # true block coverage: min_docid (width-capped blocks) exposes the
    # docid GAPS between a sparse list's blocks — intervals in a gap get
    # no bound contribution from this list at all, which is where the
    # pruning win on selective queries comes from. Implicit single-
    # posting blocks (count==1, null min_docid) cover exactly their one
    # docid. Indexes written before the field fall back to the
    # conservative prev_max+1 coverage.
    lo = np.where(c.min_docid >= 0, np.maximum(lo, c.min_docid), lo)
    lo = np.where(c.count == 1, hi, lo)
    if impact:
        return lo, hi, c.max_tf.astype(np.float64)
    mtf = c.max_tfnorm.copy()
    nanm = np.isnan(mtf)
    if nanm.any():
        # implicit singles: the exact tf bound derives from the one
        # posting's (max_tf, dl[max_docid]) at the caller's avgdl —
        # exact, and bound_scale (≥1) keeps it a valid upper bound
        mtf[nanm] = tfnorm_np(c.max_tf[nanm], dl[hi[nanm] - start_docid], avgdl)
    return lo, hi, mtf


def wand_topk(
    lists: list[tuple[float, PostingList]],
    dl: np.ndarray,
    start_docid: int,
    avgdl: float,
    k: int,
    round_decimals: int | None = None,
    initial_theta: float | None = None,
    bound_scale: float = 1.0,
    stats: dict | None = None,
    scoring: str = "bm25",
    allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k over one docid shard.

    lists: [(idf, PostingList)] per query term. A list's decoded blocks and
    geometry stay cached on it, so a caller that keeps lists across calls
    (the serving hot cache: query logs are Zipf) decodes a hot term's
    blocks once, not once per query; callers own eviction.
    dl: uint32 doclengths for the dense docid range starting at
    ``start_docid``. Returns (docids, scores) sorted by (-score, docid).

    ``round_decimals``: rank (top-k + threshold) on scores ROUNDED to this
    many decimals — the driver/oracle ordering contract — making the top-k
    sound under rounding: pruning then uses θ − ε with ε = ½·10^-d, since a
    raw score as low as θ − ε still rounds to θ and could win a docid
    tiebreak. Returned scores are the rounded ones.

    ``initial_theta``: a known lower bound on the FINAL k-th score (e.g. the
    k-th score of an already-processed shard — "shared θ across shards").
    Blocks whose bound can't reach it are skipped even before this shard's
    own top-k fills. Exactness is preserved: callers only pass attained
    scores, so ≥ k docs globally score ≥ θ₀, and ties at θ₀ survive the ε
    guard.

    ``bound_scale`` (≥ 1): inflate every block bound by this factor. Block
    bounds are exact under the avgdl they were ENCODED with; tfnorm grows
    with avgdl, so after compaction moves the collection avgdl past it the
    caller passes max(1, avgdl / meta.bounds_avgdl) — the sup of the per-doc
    drift ratio — keeping pruning sound (looser, never unsound).

    ``stats``: optional dict accumulating pruning-effectiveness counters
    across calls: ``decoded_blocks`` (blocks actually decoded this call,
    cache hits excluded) and ``total_blocks`` (all blocks of the query
    lists). Ding & Suel's storage-level impact ordering is a no-op for this
    kernel — intervals already process in descending U, the query-time
    equivalent, and blocks must stay docid-ascending on disk for the lo/hi
    geometry — so decode count IS the pruning metric to watch.

    ``allowed``: optional boolean mask aligned with ``dl`` (index =
    docid − start_docid) — metadata-filtered top-k: only allowed docs enter
    the top-k. Pruning stays sound: θ is the k-th best ALLOWED score, and an
    interval skipped at U < θ − ε bounds its allowed docs' scores too (the
    bound holds for every doc). Blocks still decode whole (they interleave
    allowed/disallowed docs); the filter applies to candidates, which is
    where the exactness argument needs it.

    ``scoring``: ``"bm25"`` (default) scores idf · tfnorm(tf, dl, avgdl) with
    block bound idf · max_tfnorm. ``"impact"`` treats tf AS the quantized
    impact (the reference's learned-sparse/jsonl2ciff model, where PISA's
    quantized scorer sums stored impacts — /root/reference/src/lib.rs:87-148):
    contribution = weight · tf, block bound = weight · max_tf, doclengths
    unused. Both modes share the identical interval/pruning machinery.
    """
    if not lists or k <= 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    impact = scoring == "impact"
    if not impact and scoring != "bm25":
        raise ValueError(f"unknown scoring {scoring!r}")
    eps = 0.5 * 10.0 ** (-round_decimals) if round_decimals is not None else 0.0
    theta_floor = -np.inf if initial_theta is None else float(initial_theta)

    # block geometry: per list, arrays of lo/hi/bound
    los, his, bounds = [], [], []
    for idf, plist in lists:
        lo, hi, mtf = plist.geometry(scoring, dl, start_docid, avgdl)
        los.append(lo)
        his.append(hi)
        bounds.append(np.maximum(idf * mtf, 0.0) * float(bound_scale))

    # intervals: refinement of all block boundaries
    pts = np.unique(np.concatenate([np.concatenate((lo, hi + 1)) for lo, hi in zip(los, his)]))
    starts = pts[:-1]
    # covers[i][t]: the block of list i covering interval t, −1 in a gap.
    # U sums the covering bounds in list order from 0.0, the order a doc's
    # score sums its contributions, so U ≥ score holds exactly (rounded
    # addition is monotone); a running sum of ±bound steps can land an ulp
    # below a score and prune a doc tied at the k-th place
    U = np.zeros(len(starts), np.float64)
    covers = []
    for lo, hi, bd in zip(los, his, bounds):
        j = np.minimum(np.searchsorted(hi, starts), len(hi) - 1)
        j[(lo[j] > starts) | (hi[j] < starts)] = -1
        U += np.where(j >= 0, bd[j], 0.0)
        covers.append(j)

    # intervals in descending U, taken in batches that double each round;
    # rank[t] = position of interval t in that order, so a posting belongs
    # to the current batch iff its interval's rank lies in [pos, end)
    order = np.argsort(-U, kind="stable")
    neg_u = -U[order]  # ascending, for the θ cut
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    if stats is not None:
        stats["total_blocks"] = stats.get("total_blocks", 0) + sum(len(p) for _, p in lists)

    top_d = np.empty(0, np.int64)  # best k so far, sorted by (-score, docid)
    top_s = np.empty(0, np.float64)
    pos, size = 0, _FIRST_BATCH
    while pos < len(order):
        theta = max(top_s[k - 1] if len(top_s) >= k else -np.inf, theta_floor)
        # intervals past `stop` have U < θ − ε: none of their docs can
        # reach the top-k
        stop = int(np.searchsorted(neg_u, -(theta - eps), side="right"))
        if stop <= pos:
            break
        end = min(pos + size, stop)
        batch = order[pos:end]
        acc_docids: list[np.ndarray] = []
        acc_contrib: list[np.ndarray] = []
        for i, (idf, plist) in enumerate(lists):
            cover = np.unique(covers[i][batch])
            cover = cover[cover >= 0]
            if not cover.size:
                continue
            d, tf, fresh = plist.postings(cover)
            if fresh and stats is not None:
                stats["decoded_blocks"] = stats.get("decoded_blocks", 0) + fresh
            # keep the postings whose interval is in this batch: a covering
            # block also holds docs of intervals scored in other batches
            r = rank[np.searchsorted(pts, d, side="right") - 1]
            keep = (r >= pos) & (r < end)
            if not keep.any():
                continue
            dd, tf = d[keep], tf[keep]
            if impact:
                contrib = idf * tf.astype(np.float64)
            else:
                contrib = idf * tfnorm_np(tf, dl[dd - start_docid], avgdl)
            acc_docids.append(dd)
            acc_contrib.append(contrib)
        pos, size = end, 2 * size
        if not acc_docids:
            continue
        uniq, scores = _doc_scores(acc_docids, acc_contrib, round_decimals, allowed,
                                   start_docid)
        cand_d = np.concatenate((top_d, uniq))
        cand_s = np.concatenate((top_s, scores))
        best = np.lexsort((cand_d, -cand_s))[:k]
        top_d, top_s = cand_d[best], cand_s[best]
    return top_d, top_s


def exhaustive_topk(
    lists: list[tuple[float, PostingList]],
    dl: np.ndarray,
    start_docid: int,
    avgdl: float,
    k: int,
    round_decimals: int | None = None,
    scoring: str = "bm25",
    allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Unpruned top-k over one docid shard: decode every block, sum each
    doc's contributions in one ``unique``/``add.at`` pass, take the top-k
    with one ``lexsort``. Same ``(idf, PostingList)`` inputs,
    ``scoring``/``round_decimals``/``allowed`` semantics and result order as
    ``wand_topk``; no block bound is read. A doc's contributions add in list
    order, as in ``wand_topk``, so the two kernels return identical scores."""
    if not lists or k <= 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    impact = scoring == "impact"
    if not impact and scoring != "bm25":
        raise ValueError(f"unknown scoring {scoring!r}")
    docids, contribs = [], []
    for idf, plist in lists:
        d, tf, _ = plist.postings(np.arange(len(plist)))
        docids.append(d)
        if impact:
            contribs.append(idf * tf.astype(np.float64))
        else:
            contribs.append(idf * tfnorm_np(tf, dl[d - start_docid], avgdl))
    uniq, scores = _doc_scores(docids, contribs, round_decimals, allowed, start_docid)
    top = np.lexsort((uniq, -scores))[:k]
    return uniq[top], scores[top]


def _doc_scores(
    docids: list[np.ndarray],
    contribs: list[np.ndarray],
    round_decimals: int | None,
    allowed: np.ndarray | None,
    start_docid: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(docids, scores) summed from aligned docid/contribution parts: one
    ``unique``/``add.at`` pass adds each doc's contributions in part order
    (callers pass parts in list order), then rounding and the ``allowed``
    mask. Both kernels score through it, so their scores are identical."""
    uniq, inv = np.unique(np.concatenate(docids), return_inverse=True)
    scores = np.zeros(len(uniq), np.float64)
    np.add.at(scores, inv, np.concatenate(contribs))
    if round_decimals is not None:
        scores = np.round(scores, round_decimals)
    if allowed is not None:
        keep = allowed[uniq - start_docid]
        uniq, scores = uniq[keep], scores[keep]
    return uniq, scores


def allowed_mask(allowed_docids, n_docs: int) -> np.ndarray | None:
    """Validated boolean ``allowed`` mask over docids [0, n_docs) from an
    iterable of allowed docids. Negative ids would WRAP under fancy indexing
    (silently allowing the wrong document) and ids ≥ n_docs would raise a
    bare IndexError — both fail loud here instead."""
    if allowed_docids is None:
        return None
    ids = np.asarray(
        allowed_docids if hasattr(allowed_docids, "__array__") else list(allowed_docids),
        np.int64,
    )
    if ids.size and (ids.min() < 0 or ids.max() >= n_docs):
        raise ValueError(
            f"allowed_docids outside [0, {n_docs}): min={ids.min()}, max={ids.max()}"
        )
    mask = np.zeros(n_docs, bool)
    mask[ids] = True
    return mask
