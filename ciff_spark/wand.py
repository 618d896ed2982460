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
   the covering blocks of its intervals — cached — keep the postings that
   fall in those intervals, and accumulate full BM25). The running top-k
   gives the threshold θ (its k-th score), checked before every batch: once
   the next interval's U < θ every remaining doc provably cannot enter the
   top-k.

Exactness: every docid lies in exactly one interval, and all its postings
across the query lists lie in the blocks covering that interval, so processed
docs get their complete score; skipped docs have score ≤ U < θ.
"""

from __future__ import annotations

import numpy as np

from ciff_spark.functions.codec import decode_block_dict
from ciff_spark.functions.scoring import tfnorm_np

_decode_block_arrays = decode_block_dict  # handles implicit single-posting blocks

#: intervals in the first batch; each later batch doubles. A selective query
#: stops after a batch or two, a query that scores hundreds of intervals pays
#: the per-batch Python work a handful of times. The first batch runs before
#: θ exists, so it must stay small: on the benchmark's 64-query pool (4 vCPU)
#: 8 decoded as many blocks cold as 4 (6,713 vs 6,708 of 13,164) with a ~15%
#: lower warm median, while 16 already decodes every block of small indexes
_FIRST_BATCH = 8


def list_geometry(
    blocks: list[dict],
    impact: bool,
    dl: np.ndarray,
    start_docid: int,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lo, hi, mtf) block-geometry arrays for one posting list — the
    per-block Python dict walk, factored out so serving callers can cache
    it per (term, scoring): it is query-INDEPENDENT (lo/hi from the stored
    block ranges, mtf the raw per-block tf bound — idf/bound_scale apply
    vectorized afterwards), and for hot multi-thousand-block lists it
    dominates the per-query kernel setup cost otherwise."""
    hi = np.array([b["max_docid"] for b in blocks], np.int64)
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
    counts = np.array([b["count"] for b in blocks], np.int64)
    mins = np.array(
        [b.get("min_docid") if b.get("min_docid") is not None else -1 for b in blocks],
        np.int64,
    )
    lo = np.where(mins >= 0, np.maximum(lo, mins), lo)
    lo = np.where(counts == 1, hi, lo)
    if impact:
        mtf = np.array([b["max_tf"] for b in blocks], np.float64)
    else:
        mtf = np.array(
            [
                b["max_tfnorm"] if b["max_tfnorm"] is not None else np.nan
                for b in blocks
            ],
            np.float64,
        )
        nanm = np.isnan(mtf)
        if nanm.any():
            # implicit singles: the exact tf bound derives from the one
            # posting's (max_tf, dl[max_docid]) at the caller's avgdl —
            # exact, and bound_scale (≥1) keeps it a valid upper bound
            mtf[nanm] = tfnorm_np(
                np.array([b["max_tf"] for b, m in zip(blocks, nanm) if m], np.int64),
                dl[hi[nanm] - start_docid],
                avgdl,
            )
    return lo, hi, mtf


def wand_topk(
    lists: list[tuple[float, list[dict]]],
    dl: np.ndarray,
    start_docid: int,
    avgdl: float,
    k: int,
    round_decimals: int | None = None,
    initial_theta: float | None = None,
    decode_caches: list[dict] | None = None,
    bound_scale: float = 1.0,
    stats: dict | None = None,
    scoring: str = "bm25",
    allowed: np.ndarray | None = None,
    geom_caches: list[dict] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k over one docid shard.

    lists: [(idf, blocks)] or [(idf, blocks, decode_prevs)] per query term.
    ``decode_prevs`` (int64, one per block) overrides the decode base of each
    block — required when a list is assembled by concatenating a term's
    SHARDS, because each shard's first block was gap-encoded relative to −1,
    not to the previous shard's last docid. Without it, blocks chain via the
    previous block's max_docid (single-shard lists).
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

    ``decode_caches``: optional per-list dicts (aligned with ``lists``) that
    persist decoded block arrays ACROSS calls, keyed by block index — the
    serving path's posting-list cache (query logs are Zipf; a hot term's
    blocks decode once, not once per query). Callers own eviction. Without
    it, a per-call cache deduplicates decodes within one invocation.

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

    ``geom_caches``: optional per-list dicts (aligned with ``lists``, like
    ``decode_caches``) persisting the ``list_geometry`` arrays across calls
    keyed by scoring mode — valid as long as the caller's dl/avgdl are
    fixed (a searcher instance), since the cached mtf embeds the implicit-
    single bound derivation at that avgdl.

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

    # block geometry: per list, arrays of lo/hi/bound (+ prev_max for decode)
    los, his, bounds, prevs = [], [], [], []
    lists = [entry if len(entry) == 3 else (*entry, None) for entry in lists]
    gcaches = geom_caches if geom_caches is not None else [None] * len(lists)
    for (idf, blocks, decode_prevs), gc in zip(lists, gcaches):
        geom = gc.get(scoring) if gc is not None else None
        if geom is None:
            geom = list_geometry(blocks, impact, dl, start_docid, avgdl)
            if gc is not None:
                gc[scoring] = geom
        lo, hi, mtf = geom
        los.append(lo)
        his.append(hi)
        bounds.append(np.maximum(idf * mtf, 0.0) * float(bound_scale))
        if decode_prevs is not None:
            prevs.append(np.asarray(decode_prevs, np.int64))
        else:
            prevs.append(np.concatenate(([np.int64(-1)], hi[:-1])))

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
    caches: list[dict] = (
        decode_caches if decode_caches is not None else [{} for _ in lists]
    )
    if stats is not None:
        stats["total_blocks"] = stats.get("total_blocks", 0) + sum(
            len(b) for _, b, _ in lists
        )

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
        for i, (idf, blocks, _dp) in enumerate(lists):
            cover = np.unique(covers[i][batch])
            parts = []
            for b in cover[cover >= 0].tolist():
                got = caches[i].get(b)
                if got is None:
                    got = caches[i][b] = _decode_block_arrays(blocks[b], int(prevs[i][b]))
                    if stats is not None:
                        stats["decoded_blocks"] = stats.get("decoded_blocks", 0) + 1
                parts.append(got)
            if not parts:
                continue
            d = np.concatenate([p[0] for p in parts])
            tf = np.concatenate([p[1] for p in parts])
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
    lists: list[tuple[float, list[dict]]],
    dl: np.ndarray,
    start_docid: int,
    avgdl: float,
    k: int,
    round_decimals: int | None = None,
    decode_caches: list[dict] | None = None,
    scoring: str = "bm25",
    allowed: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Unpruned top-k over one docid shard: decode every block, sum each
    doc's contributions in one ``unique``/``add.at`` pass, take the top-k
    with one ``lexsort``. Same inputs (single-shard ``(idf, blocks)`` lists),
    ``scoring``/``round_decimals``/``allowed`` semantics and result order as
    ``wand_topk``; no block bound is read. A doc's contributions add in list
    order, as in ``wand_topk``, so the two kernels return identical scores.
    ``decode_caches``: as in ``wand_topk``, keyed by block index."""
    if not lists or k <= 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    impact = scoring == "impact"
    if not impact and scoring != "bm25":
        raise ValueError(f"unknown scoring {scoring!r}")
    caches = decode_caches if decode_caches is not None else [{} for _ in lists]
    docids, contribs = [], []
    for (idf, blocks), cache in zip(lists, caches):
        prev = -1
        for j, blk in enumerate(blocks):
            got = cache.get(j)
            if got is None:
                got = cache[j] = _decode_block_arrays(blk, prev)
            prev = int(blk["max_docid"])
            d, tf = got
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
