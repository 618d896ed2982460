"""Direct unit tests of the interval Block-Max WAND kernel and the unpruned
``exhaustive_topk`` against a brute force scorer — including the
negative-idf regime classical WAND can't handle and adversarial tie cases at
the k boundary."""

import numpy as np
import pytest

from ciff_spark.functions.codec import encode_postings
from ciff_spark.functions.scoring import idf_np, tfnorm_np
from ciff_spark.wand import exhaustive_topk, wand_topk
from oracle import decode_postings, posting_list


def _pl(lists):
    """[(idf, blocks)] → the kernels' [(idf, PostingList)]."""
    return [(idf, posting_list(blocks)) for idf, blocks in lists]


def _brute(lists, dl, start, avgdl, k, round_decimals=None, allowed=None,
           scoring="bm25"):
    scores: dict[int, float] = {}
    for idf, blocks in lists:
        d, tf = decode_postings(blocks)
        if scoring == "impact":
            contrib = idf * tf.astype(np.float64)
        else:
            contrib = idf * tfnorm_np(tf, dl[d - start], avgdl)
        for dd, c in zip(d.tolist(), contrib.tolist()):
            scores[dd] = scores.get(dd, 0.0) + c
    if round_decimals is not None:
        scores = {d: float(np.round(s, round_decimals)) for d, s in scores.items()}
    if allowed is not None:
        scores = {d: s for d, s in scores.items() if allowed[d - start]}
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [d for d, _ in ranked], [s for _, s in ranked]


def _mk_list(rng, n_docs, df, max_tf, dl, avgdl, num_total, block_size):
    docids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, max_tf + 1, df)
    blocks = encode_postings(docids, tfs, doclens=dl[docids], avgdl=avgdl,
                             block_size=block_size)
    idf = float(idf_np(df, num_total))
    return idf, blocks


@pytest.mark.parametrize("seed", range(12))
def test_wand_equals_brute_force(seed):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(50, 2000))
    avgdl = 40.0
    dl = rng.integers(5, 120, n_docs).astype(np.uint32)
    num_total = n_docs
    n_lists = int(rng.integers(1, 5))
    lists = []
    for _ in range(n_lists):
        df = int(rng.integers(1, max(2, n_docs // int(rng.choice([1, 2, 10, 50])))))
        lists.append(_mk_list(rng, n_docs, df, int(rng.integers(1, 8)), dl,
                              avgdl, num_total, block_size=int(rng.choice([4, 16, 128]))))
    k = int(rng.choice([1, 3, 10, 100]))
    gd, gs = wand_topk(_pl(lists), dl, 0, avgdl, k)
    ed, es = _brute(lists, dl, 0, avgdl, k)
    assert gd.tolist() == ed
    np.testing.assert_allclose(gs, es, atol=1e-12)
    # both kernels add a doc's contributions in list order: identical scores
    xd, xs = exhaustive_topk(_pl(lists), dl, 0, avgdl, k)
    assert xd.tolist() == ed
    np.testing.assert_array_equal(xs, gs)


def test_wand_negative_idf_only():
    """All query terms hotter than N/2 → every score negative; WAND bounds
    clamp to 0 but the result must still be the exact top-k."""
    rng = np.random.default_rng(7)
    n_docs = 300
    dl = rng.integers(5, 80, n_docs).astype(np.uint32)
    avgdl = 30.0
    lists = [
        _mk_list(rng, n_docs, 290, 5, dl, avgdl, n_docs, 16),
        _mk_list(rng, n_docs, 250, 3, dl, avgdl, n_docs, 16),
    ]
    gd, gs = wand_topk(_pl(lists), dl, 0, avgdl, 10)
    ed, es = _brute(lists, dl, 0, avgdl, 10)
    assert (np.array(es) < 0).all()
    assert gd.tolist() == ed
    assert exhaustive_topk(_pl(lists), dl, 0, avgdl, 10)[0].tolist() == ed
    np.testing.assert_allclose(gs, es, atol=1e-12)


def test_wand_k_larger_than_candidates():
    rng = np.random.default_rng(3)
    dl = rng.integers(5, 40, 50).astype(np.uint32)
    lists = _pl([_mk_list(rng, 50, 5, 3, dl, 20.0, 50, 4)])
    gd, gs = wand_topk(lists, dl, 0, 20.0, 100)
    assert len(gd) == 5  # all candidates, no padding
    assert len(exhaustive_topk(lists, dl, 0, 20.0, 100)[0]) == 5


def test_wand_empty_and_k0():
    dl = np.ones(10, np.uint32)
    rng = np.random.default_rng(0)
    lists = _pl([_mk_list(rng, 10, 3, 2, dl, 1.0, 10, 2)])
    for kernel in (wand_topk, exhaustive_topk):
        assert len(kernel([], dl, 0, 1.0, 10)[0]) == 0
        assert len(kernel(lists, dl, 0, 1.0, 0)[0]) == 0


def test_wand_exact_tie_break_by_docid():
    """Two docs with identical (tf, dl) under one term tie exactly; ascending
    docid must win at the k boundary."""
    docids = np.array([3, 7, 9], np.int64)
    tfs = np.array([2, 2, 1], np.int64)
    dl = np.full(12, 10, np.uint32)
    blocks = encode_postings(docids, tfs, doclens=dl[docids], avgdl=10.0, block_size=2)
    idf = float(idf_np(3, 12))
    for kernel in (wand_topk, exhaustive_topk):
        gd, gs = kernel([(idf, posting_list(blocks))], dl, 0, 10.0, 2)
        assert gd.tolist() == [3, 7]  # 3 and 7 tie; both beat 9; order by docid
        assert gs[0] == gs[1]


def test_wand_kth_place_tie_across_intervals_prefers_smaller_docid():
    """Regression: equal-score candidates arriving AFTER the heap is full
    (from a lower-bound interval processed later) must replace equal-score
    higher-docid incumbents — the r4 vectorized heap admission initially
    filtered these out with an inverted docid comparison, which only a
    k-th-place tie spanning two intervals exposes."""
    # block A: docids 0..9, tf=1 (low bound). block B: docids 100..109 with
    # one tf=2 doc (high bound) — processed FIRST, so its tf=1 docs seed the
    # heap before block A's smaller-docid ties arrive.
    docids = np.concatenate([np.arange(10), np.arange(100, 110)])
    tfs = np.ones(20, np.int64)
    tfs[15] = 2
    blocks = encode_postings(docids, tfs, block_size=10, block_span=None)
    assert len(blocks) == 2
    dl = np.ones(200, np.uint32)
    for kernel in (wand_topk, exhaustive_topk):
        d, s = kernel([(1.0, posting_list(blocks))], dl, 0, 1.0, 5, scoring="impact")
        assert d.tolist() == [105, 0, 1, 2, 3]  # tf2 doc, then smallest docids
        assert s.tolist() == [2.0, 1.0, 1.0, 1.0, 1.0]


def test_wand_implicit_singles_with_filter_and_theta():
    """Implicit single-posting blocks (sparse list, span-capped), an allowed
    mask, and an initial θ compose: results equal brute-force scoring of
    the allowed docs, bounds derive for the elided max_tfnorm."""
    from ciff_spark.functions.scoring import idf_np, tfnorm_np

    rng = np.random.default_rng(3)
    # sparse list: avg gap ~1000 >> 4 → capped; every block is a single
    docids = np.cumsum(rng.integers(500, 1500, 40))
    tfs = rng.integers(1, 5, 40)
    blocks = encode_postings(docids, tfs)
    assert all(b["count"] == 1 and b["max_tfnorm"] is None for b in blocks)
    n = int(docids.max()) + 1
    dl = rng.integers(5, 50, n).astype(np.uint32)
    avgdl = 22.5
    idf = float(idf_np(40, n))
    allowed = np.zeros(n, bool)
    allowed[docids[::2]] = True  # every other posting's doc

    exp_scores = idf * tfnorm_np(tfs, dl[docids], avgdl)
    pairs = sorted(
        ((float(s), int(d)) for d, s in zip(docids[::2], exp_scores[::2])),
        key=lambda x: (-x[0], x[1]),
    )[:5]
    d, s = wand_topk([(idf, posting_list(blocks))], dl, 0, avgdl, 5, allowed=allowed)
    assert d.tolist() == [p[1] for p in pairs]
    np.testing.assert_allclose(s, [p[0] for p in pairs], rtol=1e-12)
    xd, xs = exhaustive_topk([(idf, posting_list(blocks))], dl, 0, avgdl, 5, allowed=allowed)
    assert xd.tolist() == d.tolist()
    np.testing.assert_array_equal(xs, s)
    # θ seeded at the true 5th-best allowed score: identical results
    d2, s2 = wand_topk(
        [(idf, posting_list(blocks))], dl, 0, avgdl, 5, allowed=allowed,
        initial_theta=pairs[-1][0],
    )
    assert d2.tolist() == d.tolist()


def test_wand_bound_sums_in_score_order_keeps_kth_tie():
    """A doc tied at the k-th place with a larger-docid doc must win even
    when its interval's bound is a sum that rounds: with a=0.7, b=0.1 a
    running sum (a + b) − a lands one ulp below b, which would prune the
    interval holding doc 5 (score b) once θ = b. The interval bound is
    summed in the same order as a score, so it can't fall below one."""
    a, b, c = 0.7, 0.1, 0.05
    assert (a + b) - a < b

    def blocks(docids):
        return encode_postings(np.array(docids), np.ones(len(docids), np.int64),
                               block_size=2, block_span=None)

    lists = _pl([(a, blocks([0, 3])), (b, blocks([2, 5, 10, 13])), (c, blocks([9, 12]))])
    dl = np.ones(20, np.uint32)
    for theta in (None, b):
        d, s = wand_topk(lists, dl, 0, 1.0, 4, scoring="impact", initial_theta=theta)
        assert d.tolist() == [0, 3, 2, 5]
        assert s.tolist() == [a, a, b, b]
    assert exhaustive_topk(lists, dl, 0, 1.0, 4, scoring="impact")[0].tolist() == [0, 3, 2, 5]


def _sharded_list(rng, n_docs, df, dl, avgdl, cuts):
    """One posting list twice: encoded whole (one stored row) and as its
    per-shard rows split at ``cuts``, each shard gap-encoded from −1."""
    docids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 6, df)
    idf = float(idf_np(df, n_docs))
    whole = encode_postings(docids, tfs, doclens=dl[docids], avgdl=avgdl, block_size=4)
    rows = []
    for lo, hi in zip([0, *cuts], [*cuts, n_docs]):
        m = (docids >= lo) & (docids < hi)
        if not m.any():
            continue  # a shard without the term has no row for it
        rows.append(encode_postings(docids[m], tfs[m], doclens=dl[docids[m]], avgdl=avgdl,
                                    block_size=4))
    return (idf, whole), (idf, rows)


@pytest.mark.parametrize("k", [10, 100])
def test_wand_many_intervals_sharded_filtered_rounded(k):
    """Thousands of small blocks, so the kernel runs through several batch
    doublings; lists hold 2-3 shard rows, each decoding from −1, scores round
    to 6 decimals, an allowed mask filters, and θ₀ is the attained k-th
    score. Docids and scores equal the exhaustive kernel and brute force."""
    rng = np.random.default_rng(k)
    n_docs, avgdl = 20_000, 30.0
    dl = rng.integers(5, 60, n_docs).astype(np.uint32)
    allowed = rng.random(n_docs) < 0.6
    whole, sharded = [], []
    for df, cuts in ((8_000, [7_000]), (1_500, [5_000, 14_000]), (300, [9_000, 12_000])):
        w, sh = _sharded_list(rng, n_docs, df, dl, avgdl, cuts)
        whole.append(w)
        sharded.append(sh)
    ed, es = _brute(whole, dl, 0, avgdl, k, round_decimals=6, allowed=allowed)
    xd, xs = exhaustive_topk(_pl(whole), dl, 0, avgdl, k, round_decimals=6, allowed=allowed)
    assert xd.tolist() == ed
    np.testing.assert_array_equal(xs, es)
    sharded = [(idf, posting_list(*rows)) for idf, rows in sharded]
    for theta in (None, es[-1]):
        gd, gs = wand_topk(sharded, dl, 0, avgdl, k, round_decimals=6,
                           initial_theta=theta, allowed=allowed)
        assert gd.tolist() == ed
        np.testing.assert_array_equal(gs, es)


def _fresh_list(rng, n_base, dl, enc_avgdl, seg_cuts):
    """One term's list over a base index plus streaming segments, twice:
    encoded whole (for ``_brute``) and as served fresh — ``_sharded_list``
    base shards (exact bounds at ``enc_avgdl``) followed by one dl-free
    tail per segment over the docid continuation, each row decoding from
    −1. Returns (whole, served rows, df), or None when the term drew no
    postings."""
    empty = np.empty(0, np.int64)
    base_d, base_tf, rows = empty, empty, []
    df_base = int(rng.integers(0, max(2, n_base // int(rng.choice([2, 10, 50])))))
    if df_base:
        cuts = sorted(rng.choice(np.arange(1, n_base), int(rng.integers(0, 3)), replace=False))
        (_, whole), (_, rows) = _sharded_list(rng, n_base, df_base, dl, enc_avgdl,
                                              [int(c) for c in cuts])
        base_d, base_tf = decode_postings(whole)
    seg_d, seg_tf = [base_d], [base_tf]
    for lo, hi in zip(seg_cuts[:-1], seg_cuts[1:]):
        n = int(rng.integers(0, hi - lo + 1))
        if n == 0:
            continue  # a segment without the term writes no row for it
        d = np.sort(rng.choice(np.arange(lo, hi), n, replace=False)).astype(np.int64)
        tf = rng.integers(1, 6, n)
        rows.append(encode_postings(d, tf, block_size=int(rng.choice([2, 4, 16]))))
        seg_d.append(d)
        seg_tf.append(tf)
    d, tf = np.concatenate(seg_d), np.concatenate(seg_tf)
    if len(d) == 0:
        return None
    return encode_postings(d, tf), rows, len(d)


@pytest.mark.parametrize("chunk", range(4))
def test_fresh_shape_fuzz(chunk):
    """The list shape fresh serving scores: base shards with exact bounds
    at the encode avgdl, concatenated with 0–3 dl-free segment tails over
    the docid continuation, scored at a fresh avgdl above the encode one
    with ``bound_scale = max(1, drift)``. ``wand_topk`` and
    ``exhaustive_topk`` over the rows' ``PostingList`` equal brute force across
    allowed masks spanning base and segment docids, rounding, bm25 and
    impact scoring and k from 1 to 100 — 50 seeded cases per chunk."""
    for seed in range(50 * chunk, 50 * (chunk + 1)):
        rng = np.random.default_rng(seed)
        n_base = int(rng.integers(20, 1500))
        n_segs = int(rng.integers(0, 4))
        seg_cuts = np.cumsum([n_base] + [int(rng.integers(1, 200)) for _ in range(n_segs)])
        n_total = int(seg_cuts[-1])
        dl = rng.integers(5, 80, n_total).astype(np.uint32)
        enc_avgdl = float(dl[:n_base].mean())
        drift = float(rng.uniform(1.0, 1.6))
        avgdl = enc_avgdl * drift
        scoring = str(rng.choice(["bm25", "impact"]))
        rd = [None, 6][int(rng.integers(2))]
        allowed = rng.random(n_total) < rng.uniform(0.2, 1.0) if rng.random() < 0.5 else None
        k = int(rng.integers(1, 101))
        whole, served = [], []
        for _ in range(int(rng.integers(1, 5))):
            got = _fresh_list(rng, n_base, dl, enc_avgdl, seg_cuts.tolist())
            if got is None:
                continue
            w_blocks, rows, df = got
            w = 1.0 if scoring == "impact" else float(idf_np(df, n_total))
            whole.append((w, w_blocks))
            served.append((w, rows))
        case = (seed, scoring, rd, k, n_segs)
        ed, es = _brute(whole, dl, 0, avgdl, k, round_decimals=rd, allowed=allowed,
                        scoring=scoring)
        gd, gs = wand_topk([(w, posting_list(*rows)) for w, rows in served], dl, 0, avgdl, k,
                           round_decimals=rd,
                           bound_scale=max(1.0, drift) if scoring == "bm25" else 1.0,
                           scoring=scoring, allowed=allowed)
        xd, xs = exhaustive_topk([(w, posting_list(*rows)) for w, rows in served], dl, 0,
                                 avgdl, k, round_decimals=rd,
                                 scoring=scoring, allowed=allowed)
        assert gd.tolist() == xd.tolist() == ed, case
        assert gs.tolist() == xs.tolist() == es, case


def test_wand_selective_query_decodes_a_fraction():
    """A rare high-tf term with a hot low-tf term: the hot list's blocks
    outside the rare term's reach must stay undecoded, so batching never
    degrades into decoding every block."""
    rng = np.random.default_rng(5)
    n_docs, avgdl = 20_000, 30.0
    dl = rng.integers(5, 60, n_docs).astype(np.uint32)
    rare = np.sort(rng.choice(n_docs, 40, replace=False)).astype(np.int64)
    hot = np.sort(rng.choice(n_docs, 10_000, replace=False)).astype(np.int64)
    lists = _pl([
        (float(idf_np(40, n_docs)),
         encode_postings(rare, np.full(40, 5), doclens=dl[rare], avgdl=avgdl)),
        (float(idf_np(10_000, n_docs)),
         encode_postings(hot, np.ones(10_000, np.int64), doclens=dl[hot], avgdl=avgdl)),
    ])
    stats: dict = {}
    gd, gs = wand_topk(lists, dl, 0, avgdl, 10, stats=stats)
    assert 0 < stats["decoded_blocks"] < stats["total_blocks"]
    xd, xs = exhaustive_topk(lists, dl, 0, avgdl, 10)
    assert gd.tolist() == xd.tolist()
    np.testing.assert_array_equal(gs, xs)
