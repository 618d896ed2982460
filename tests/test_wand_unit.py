"""Direct unit tests of the interval Block-Max WAND kernel and the unpruned
``exhaustive_topk`` against a brute force scorer — including the
negative-idf regime classical WAND can't handle and adversarial tie cases at
the k boundary."""

import numpy as np
import pytest

from ciff_spark.functions.codec import encode_postings
from ciff_spark.functions.scoring import idf_np, tfnorm_np
from ciff_spark.wand import exhaustive_topk, wand_topk


def _brute(lists, dl, start, avgdl, k):
    scores: dict[int, float] = {}
    for idf, blocks in lists:
        from ciff_spark.functions.codec import decode_postings

        d, tf = decode_postings(blocks)
        contrib = idf * tfnorm_np(tf, dl[d - start], avgdl)
        for dd, c in zip(d.tolist(), contrib.tolist()):
            scores[dd] = scores.get(dd, 0.0) + c
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
    gd, gs = wand_topk(lists, dl, 0, avgdl, k)
    ed, es = _brute(lists, dl, 0, avgdl, k)
    assert gd.tolist() == ed
    np.testing.assert_allclose(gs, es, atol=1e-12)
    # both kernels add a doc's contributions in list order: identical scores
    xd, xs = exhaustive_topk(lists, dl, 0, avgdl, k)
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
    gd, gs = wand_topk(lists, dl, 0, avgdl, 10)
    ed, es = _brute(lists, dl, 0, avgdl, 10)
    assert (np.array(es) < 0).all()
    assert gd.tolist() == ed
    assert exhaustive_topk(lists, dl, 0, avgdl, 10)[0].tolist() == ed
    np.testing.assert_allclose(gs, es, atol=1e-12)


def test_wand_k_larger_than_candidates():
    rng = np.random.default_rng(3)
    dl = rng.integers(5, 40, 50).astype(np.uint32)
    lists = [_mk_list(rng, 50, 5, 3, dl, 20.0, 50, 4)]
    gd, gs = wand_topk(lists, dl, 0, 20.0, 100)
    assert len(gd) == 5  # all candidates, no padding
    assert len(exhaustive_topk(lists, dl, 0, 20.0, 100)[0]) == 5


def test_wand_empty_and_k0():
    dl = np.ones(10, np.uint32)
    rng = np.random.default_rng(0)
    lists = [_mk_list(rng, 10, 3, 2, dl, 1.0, 10, 2)]
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
        gd, gs = kernel([(idf, blocks)], dl, 0, 10.0, 2)
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
        d, s = kernel([(1.0, blocks)], dl, 0, 1.0, 5, scoring="impact")
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
    d, s = wand_topk([(idf, blocks)], dl, 0, avgdl, 5, allowed=allowed)
    assert d.tolist() == [p[1] for p in pairs]
    np.testing.assert_allclose(s, [p[0] for p in pairs], rtol=1e-12)
    xd, xs = exhaustive_topk([(idf, blocks)], dl, 0, avgdl, 5, allowed=allowed)
    assert xd.tolist() == d.tolist()
    np.testing.assert_array_equal(xs, s)
    # θ seeded at the true 5th-best allowed score: identical results
    d2, s2 = wand_topk(
        [(idf, blocks)], dl, 0, avgdl, 5, allowed=allowed,
        initial_theta=pairs[-1][0],
    )
    assert d2.tolist() == d.tolist()
