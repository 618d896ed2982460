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
3. Intervals are processed in descending U; each processed interval is scored
   EXACTLY (decode the ≤ |q| covering blocks — cached — and accumulate full
   BM25). A top-k heap maintains the running threshold θ; once U < θ (and the
   heap is full) every remaining doc provably cannot enter the top-k.

Exactness: every docid lies in exactly one interval, and all its postings
across the query lists lie in the blocks covering that interval, so processed
docs get their complete score; skipped docs have score ≤ U < θ.
"""

from __future__ import annotations

import heapq

import numpy as np

from ciff_spark.functions.codec import decode_block_dict
from ciff_spark.functions.scoring import tfnorm_np

_decode_block_arrays = decode_block_dict  # handles implicit single-posting blocks


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

    ``round_decimals``: rank (heap + threshold) on scores ROUNDED to this
    many decimals — the driver/oracle ordering contract — making the top-k
    sound under rounding: pruning then uses θ − ε with ε = ½·10^-d, since a
    raw score as low as θ − ε still rounds to θ and could win a docid
    tiebreak. Returned scores are the rounded ones.

    ``initial_theta``: a known lower bound on the FINAL k-th score (e.g. the
    k-th score of an already-processed shard — "shared θ across shards").
    Blocks whose bound can't reach it are skipped even before this shard's
    own heap fills. Exactness is preserved: callers only pass attained
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
    the heap. Pruning stays sound: θ is the k-th best ALLOWED score, and an
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
    starts, ends = pts[:-1], pts[1:] - 1
    U = np.zeros(len(starts), np.float64)
    for lo, hi, bd in zip(los, his, bounds):
        a = np.searchsorted(pts, lo)
        b = np.searchsorted(pts, hi + 1)
        np.add.at(U, a, bd)
        mask = b < len(U)
        np.subtract.at(U, b[mask], bd[mask])
    U = np.cumsum(U)

    order = np.argsort(-U, kind="stable")
    heap: list[tuple[float, int]] = []  # (score, -docid) min-heap of the best k
    caches: list[dict] = (
        decode_caches if decode_caches is not None else [{} for _ in lists]
    )
    if stats is not None:
        stats["total_blocks"] = stats.get("total_blocks", 0) + sum(
            len(b) for _, b, _ in lists
        )

    for t in order:
        theta = heap[0][0] if len(heap) >= k else theta_floor
        theta = max(theta, theta_floor)
        if theta > -np.inf and U[t] < theta - eps:
            break  # all remaining intervals bounded below current k-th best
        s, e = int(starts[t]), int(ends[t])
        acc_docids: list[np.ndarray] = []
        acc_contrib: list[np.ndarray] = []
        for i, (idf, blocks, _dp) in enumerate(lists):
            j = int(np.searchsorted(his[i], s))
            if j >= len(his[i]) or los[i][j] > s:
                continue  # no block of list i covers this interval
            got = caches[i].get(j)
            if got is None:
                got = caches[i][j] = _decode_block_arrays(blocks[j], int(prevs[i][j]))
                if stats is not None:
                    stats["decoded_blocks"] = stats.get("decoded_blocks", 0) + 1
            d, tf = got
            a, b = np.searchsorted(d, s), np.searchsorted(d, e + 1)
            if a == b:
                continue
            dd = d[a:b]
            if impact:
                contrib = idf * tf[a:b].astype(np.float64)
            else:
                contrib = idf * tfnorm_np(tf[a:b], dl[dd - start_docid], avgdl)
            acc_docids.append(dd)
            acc_contrib.append(contrib)
        if not acc_docids:
            continue
        alld = np.concatenate(acc_docids)
        allc = np.concatenate(acc_contrib)
        uniq, inv = np.unique(alld, return_inverse=True)
        scores = np.zeros(len(uniq), np.float64)
        np.add.at(scores, inv, allc)
        if round_decimals is not None:
            scores = np.round(scores, round_decimals)
        if allowed is not None:
            keep = allowed[uniq - start_docid]
            uniq, scores = uniq[keep], scores[keep]
            if not len(uniq):
                continue
        # vectorized heap admission: dense intervals (nothing pruned) used to
        # walk EVERY candidate through a Python heap op — instead, seed a
        # non-full heap with the interval's best (k - len) via one lexsort,
        # then mask the rest against the current θ (a superset of survivors:
        # θ only rises while inserting), leaving Python work ∝ admissions
        di, si = uniq, scores
        if len(heap) < k:
            need = k - len(heap)
            if len(di) > need:
                sel = np.lexsort((di, -si))
                for idx in sel[:need]:
                    heapq.heappush(heap, (float(si[idx]), -int(di[idx])))
                rest = sel[need:]
                di, si = di[rest], si[rest]
            else:
                for d_, s_ in zip(di.tolist(), si.tolist()):
                    heapq.heappush(heap, (s_, -d_))
                di = si = ()
        if len(heap) >= k and len(di):
            t0, nd0 = heap[0]
            # a candidate survives iff (s, -d) > (t0, nd0): strictly better
            # score, or equal score with SMALLER docid (-d > nd0)
            m = (si > t0) | ((si == t0) & (-di > nd0))
            di, si = di[m], si[m]
        for d_, s_ in zip(np.asarray(di).tolist(), np.asarray(si).tolist()):
            if (s_, -d_) > heap[0]:
                heapq.heapreplace(heap, (s_, -d_))

    out = sorted(((s_, -d_) for s_, d_ in heap), key=lambda x: (-x[0], x[1]))
    docids = np.array([d for _, d in out], np.int64)
    scores = np.array([s for s, _ in out], np.float64)
    return docids, scores


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
    uniq, inv = np.unique(np.concatenate(docids), return_inverse=True)
    scores = np.zeros(len(uniq), np.float64)
    np.add.at(scores, inv, np.concatenate(contribs))
    if round_decimals is not None:
        scores = np.round(scores, round_decimals)
    if allowed is not None:
        keep = allowed[uniq - start_docid]
        uniq, scores = uniq[keep], scores[keep]
    top = np.lexsort((uniq, -scores))[:k]
    return uniq[top], scores[top]


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
