"""Block-max WAND top-k for ranked OR / free-text queries.

The reference scores *every* matched doc then bounded-heaps the top-k
(``/root/reference/search_engine/inverted_index.py:1730-1773``); block-max
pruning is a north-star addition and must stay rank-identical to
exhaustive scoring (verified by property tests).

Vectorized block-max design (segment-at-a-time rather than doc-at-a-time,
so the hot path stays in numpy — no per-row Python):

1. Each posting row carries per-block (``block_docs`` postings) metadata:
   max tf_body/tf_title and min doc_len/title_len
   (``functions/codec.py:merge_groups_vectorized``).  From these and the
   per-column IDF an upper bound on the column's score contribution for
   any doc inside the block is computed — BM25's term weight is monotone
   increasing in tf and decreasing in doc length, so
   ``ub = idf * f(max_tf / (1 - b + b * min_len / avg))`` dominates.
   Columns with non-positive IDF get ub 0 (their contribution is never
   positive).
2. The doc-id axis is cut at every block boundary of every query term
   (``np.unique`` of the block-last-doc arrays) — within a segment no
   term changes block, so the segment's upper bound is a plain column sum.
3. Segments are processed in upper-bound-descending order, maintaining a
   bounded pool of the best ``num_candidates`` (score, doc_id) pairs seen
   (the "bounded min-heap": an array pool compacted by lexsort).  Once the
   pool is full and the next segment's upper bound is strictly below the
   k-th best score θ, every remaining segment is provably unable to place
   a doc (score <= ub < θ), so the sweep stops.  Segments with ub == θ are
   still processed, which preserves exact (-score, doc_id) tie-breaking.

This is the block-max pruning of Ding & Suel's Block-Max WAND (SIGIR'11)
re-shaped for vectorized batch execution inside ``applyInPandas``.
"""

from __future__ import annotations

import numpy as np

from search_engine_spark.functions.codec import TermChunk
from search_engine_spark.query.kernels import (
    _EMPTY_F64,
    _EMPTY_I64,
    ChunkInput,
    bm25_gather,
    scored_columns,
)
from search_engine_spark.query.plan import OR, TERM, CompiledQuery


def _tree_terms(plan: CompiledQuery) -> list[str]:
    if plan.tree[0] == TERM:
        return [plan.tree[1]]
    assert plan.tree[0] == OR
    return [c[1] for c in plan.tree[1]]


def _block_ubs(
    tc: TermChunk,
    idf: float,
    avg_dl: float,
    avg_tl: float,
    k1: float,
    b: float,
    title_weight: float,
) -> np.ndarray:
    """Per-block score-contribution upper bound for one column."""
    if idf <= 0.0:
        return np.zeros(tc.blk_last.size, dtype=np.float64)
    wb = tc.blk_max_tfb / (1.0 - b + b * (tc.blk_min_dl / avg_dl))
    if avg_tl > 0.0:
        wt = tc.blk_max_tft / (1.0 - b + b * (tc.blk_min_tl / avg_tl))
    else:  # all-empty-title corpus: title tf is 0 everywhere (see bm25.py)
        wt = np.zeros_like(wb)
    w = wb + title_weight * wt
    return idf * (w * (k1 + 1.0)) / (w + k1)


def wand_topk(
    plan: CompiledQuery,
    inp: ChunkInput,
    stats: dict,
    k1: float,
    b: float,
    title_weight: float,
    counters: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Tombstoned and filtered-out candidates (``inp.survivors``) are
    dropped per segment BEFORE scoring, so the pool and its threshold θ
    track surviving docs only.  Block maxima computed over the
    unfiltered postings remain VALID upper bounds (removing docs can
    only lower a block's true max), just looser — a segment is
    skipped only when even its unfiltered bound is below θ, so pruning
    under deletions stays rank-identical, merely less aggressive.

    ``counters`` (diagnostic, optional): a dict whose
    ``segments_total`` / ``segments_scored`` entries are incremented by
    this chunk's segment count and the number of segments the sweep
    actually consumed before the θ-cutoff.  The skip rate
    ``1 - scored/total`` is the direct evidence that block-max pruning
    fired (vs merely not losing) on a given workload."""
    terms = inp.terms
    tree_terms = [t for t in _tree_terms(plan) if t in terms]
    if not tree_terms:
        return _EMPTY_I64, _EMPTY_F64
    cols, idfs = scored_columns(plan)
    avg_dl = stats["avg_doc_len"]
    avg_tl = stats["avg_title_len"]

    # ---- segment grid: union of all block boundaries
    uniq_terms = sorted(set(tree_terms))
    bounds = np.unique(
        np.concatenate([terms[t].blk_last for t in uniq_terms])
    )
    n_seg = bounds.size
    seg_lo = np.concatenate(([np.int64(-1)], bounds[:-1]))  # (lo, hi] spans

    # ---- per-segment upper bound: sum over scored columns of the ub of
    # the block the segment falls in — but ONLY where the column actually
    # has a posting inside the segment (two searchsorted per term).  A
    # term contributes exactly 0 to any doc outside its posting list, so
    # masking it out of posting-free segments keeps the bound valid while
    # removing the dominant looseness for sparse terms: a low-df term's
    # 32-posting block can span the whole chunk's doc-id range, and
    # without the mask every segment inherits its (often large, high-idf)
    # block ub, which defeats pruning on the idf-skewed rare-OR-common
    # queries where WAND matters most.  This is Block-Max WAND's live
    # block check, vectorized over the segment grid.
    seg_ub = np.zeros(n_seg, dtype=np.float64)
    for j, col in enumerate(cols):
        if col[0] != "term" or col[1] not in terms:
            continue
        tc = terms[col[1]]
        ub = _block_ubs(tc, float(idfs[j]), avg_dl, avg_tl, k1, b, title_weight)
        blk_idx = np.searchsorted(tc.blk_last, bounds, side="left")
        live = (
            np.searchsorted(tc.docs, bounds, side="right")
            > np.searchsorted(tc.docs, seg_lo, side="right")
        )
        mask = (blk_idx < tc.blk_last.size) & live
        seg_ub[mask] += ub[np.minimum(blk_idx, tc.blk_last.size - 1)][mask]

    order = np.argsort(-seg_ub, kind="stable")
    K = plan.num_candidates

    # Geometric batching of the ub-descending sweep: segment-at-a-time
    # in Python is ~n_seg tiny numpy calls per chunk, which on a corpus
    # whose block maxima are too uniform to prune costs MORE than one
    # exhaustive vectorized pass (measured 5.6 s vs 2.15 s for a 4-term
    # OR over 537M postings).  Scoring extra segments is rank-neutral —
    # the pool keeps the deterministic (-score, doc_id) top-K and a doc
    # from a segment with ub < θ can never displace a pool entry — so
    # batches only trade pruning granularity for vectorization.  A small
    # first batch establishes θ early (keeps the prunable-workload win),
    # then doubling approaches one big vectorized pass within log2 steps.
    pool_docs = _EMPTY_I64
    pool_scores = _EMPTY_F64
    theta = -np.inf
    i = 0
    batch_size = 8
    while i < order.size:
        if pool_docs.size >= K and seg_ub[order[i]] < theta:
            break  # ub-descending order: nothing later can place either
        batch = order[i : i + batch_size]
        i += batch.size
        batch_size = min(batch_size * 2, 4096)
        los, his = seg_lo[batch], bounds[batch]
        parts = []
        for t in uniq_terms:
            d = terms[t].docs
            a = np.searchsorted(d, los, side="right")
            z = np.searchsorted(d, his, side="right")
            lens = z - a
            nz = lens > 0
            if not nz.any():
                continue
            starts, ls = a[nz], lens[nz]
            total = int(ls.sum())
            # vectorized multi-range gather (flatten/np.repeat idiom)
            offs = np.concatenate(([0], np.cumsum(ls)[:-1]))
            idx = (
                np.arange(total, dtype=np.int64)
                - np.repeat(offs, ls)
                + np.repeat(starts, ls)
            )
            parts.append(d[idx])
        if not parts:
            continue
        matched = inp.survivors(np.unique(np.concatenate(parts)))
        if not matched.size:
            continue
        score = bm25_gather(
            cols, idfs, matched, inp, stats, k1, b, title_weight
        )
        pool_docs = np.concatenate([pool_docs, matched])
        pool_scores = np.concatenate([pool_scores, score])
        if pool_docs.size > K:
            keep = np.lexsort((pool_docs, -pool_scores))[:K]
            pool_docs, pool_scores = pool_docs[keep], pool_scores[keep]
        if pool_docs.size >= K:
            theta = float(np.min(pool_scores))

    if counters is not None:
        counters["segments_total"] = (
            counters.get("segments_total", 0) + int(n_seg)
        )
        counters["segments_scored"] = (
            counters.get("segments_scored", 0) + int(i)
        )
    final = np.lexsort((pool_docs, -pool_scores))[:K]
    return pool_docs[final], pool_scores[final]
