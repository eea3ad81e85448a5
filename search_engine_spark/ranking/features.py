"""Re-rank feature extraction (reference Q21,
``/root/reference/search_engine/inverted_index.py:1264-1374``).

10 features per (query, candidate doc), in the reference's column order:
  0 fielded bm25, 1 body bm25, 2 title bm25,
  3 body first-occurrence mean, 4 title first-occurrence mean,
  5 body first-occurrence min,  6 title first-occurrence min,
  7 body_len / max_doc_len, 8 title_len / max_title_len, 9 in_title.
First occurrence = first position / field length; a term absent from the
field contributes the sentinel 1.0 (:1337-1344).  ``in_title`` = any term
present in the title (:1360).

Runs as a second, candidate-focused pass of the same cogrouped chunk
kernel shape: candidates (<= num_candidates per query, broadcast in the
closure) pin which docs each chunk task scores; only those chunks'
postings are decoded.  The optional MLP head (``model.RankingModel``)
is applied inside the kernel — weights ride the closure, output is
(qid, doc_id, mlp_score).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from search_engine_spark.functions.bm25 import fielded_bm25
from search_engine_spark.functions.codec import ChunkDocs, TermChunk
from search_engine_spark.query.kernels import (
    _membership,
    frame_of,
    read_chunk,
    scored_columns,
)
from search_engine_spark.query.plan import CompiledQuery

FEATURES_SCHEMA = "qid int, doc_id long, mlp_score double"


def chunk_features(
    plan: CompiledQuery,
    cand: np.ndarray,
    terms: dict[str, TermChunk],
    chunk: ChunkDocs,
    stats: dict,
    k1: float,
    b: float,
    title_weight: float,
) -> np.ndarray:
    """(n_cand, 10) feature matrix for candidate docs of one chunk."""
    cols, idfs = scored_columns(plan)
    ncols = len(cols)
    n = cand.size
    tfb = np.zeros((n, ncols), dtype=np.int64)
    tft = np.zeros((n, ncols), dtype=np.int64)
    fo_body = np.ones((n, ncols), dtype=np.float64)   # sentinel 1.0
    fo_title = np.ones((n, ncols), dtype=np.float64)

    dl, tl = chunk.lengths(cand)

    for j, col in enumerate(cols):
        if col[0] != "term":
            continue
        tc = terms.get(col[1])
        if tc is None:
            continue
        idx = _membership(tc.docs, cand)
        present = idx >= 0
        pi = idx[present]
        tfb[present, j] = tc.tfb[pi]
        tft[present, j] = tc.tft[pi]
        # first occurrence = first element of the doc's position slice
        offs_b = np.zeros(tc.tfb.size + 1, dtype=np.int64)
        np.cumsum(tc.tfb, out=offs_b[1:])
        offs_t = np.zeros(tc.tft.size + 1, dtype=np.int64)
        np.cumsum(tc.tft, out=offs_t[1:])
        has_b = present.copy()
        has_b[present] = tc.tfb[pi] > 0
        has_t = present.copy()
        has_t[present] = tc.tft[pi] > 0
        pb = idx[has_b]
        pt = idx[has_t]
        with np.errstate(divide="ignore", invalid="ignore"):
            fo_body[has_b, j] = tc.pos_body[offs_b[pb]] / dl[has_b]
            fo_title[has_t, j] = tc.pos_title[offs_t[pt]] / tl[has_t]

    score, s_body, s_title = fielded_bm25(
        idfs, tfb, tft, dl, tl,
        stats["avg_doc_len"], stats["avg_title_len"],
        k1=k1, b=b, title_weight=title_weight,
    )
    feats = np.empty((n, 10), dtype=np.float64)
    feats[:, 0] = score
    feats[:, 1] = s_body
    feats[:, 2] = s_title
    feats[:, 3] = fo_body.mean(axis=1) if ncols else 1.0
    feats[:, 4] = fo_title.mean(axis=1) if ncols else 1.0
    feats[:, 5] = fo_body.min(axis=1) if ncols else 1.0
    feats[:, 6] = fo_title.min(axis=1) if ncols else 1.0
    feats[:, 7] = dl / stats["max_doc_len"]
    feats[:, 8] = tl / stats["max_title_len"]
    feats[:, 9] = (fo_title < 1.0).any(axis=1).astype(np.float64)
    return feats


def make_features_kernel(
    plans: list[CompiledQuery],
    model_weights: dict[str, np.ndarray],
    stats: dict,
    k1: float,
    b: float,
    title_weight: float,
):
    """cogroup(postings, doc lengths ⋈ per-chunk candidates).applyInPandas
    fn -> FEATURES_SCHEMA.

    The right side carries a ``cands`` column (array<struct<qid, doc_id>>,
    broadcast-joined per chunk by ``SearchEngine._feature_scores``) — the
    candidate set arrives through the plan, not a driver-side closure.
    """
    from search_engine_spark.ranking.model import RankingModel

    plan_by_qid = {p.qid: p for p in plans}
    # first-occurrence features need every fetched term's positions
    pos_terms = {t for p in plans for t in p.fetch_terms}

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left may legitimately be empty: a NOT/scan-all plan's candidates
        # can live in chunks with no postings for the fetch terms — those
        # docs still get scored (zero tf, sentinel 1.0 first-occurrence,
        # real length features).  Only a missing doc-length side is a
        # no-op.
        if len(right) == 0:
            return frame_of(FEATURES_SCHEMA, [])
        inp = read_chunk(left, right, pos_terms)
        chunk = inp.chunk
        cand_lists: dict[int, list] = {}
        for s in right["cands"].iloc[0]:
            qid, doc = (s["qid"], s["doc_id"]) if isinstance(s, dict) else s
            cand_lists.setdefault(int(qid), []).append(int(doc))
        model = RankingModel(model_weights)
        parts = []
        for qid, cand_list in cand_lists.items():
            cand = np.array(sorted(cand_list), dtype=np.int64)
            # candidates must be docs of THIS chunk; ids outside the
            # indexed corpus (e.g. a semantic query against an embeddings
            # table larger than the index) are dropped, not crashed on
            cand = cand[_membership(chunk.doc_ids, cand) >= 0]
            if cand.size == 0:
                continue
            feats = chunk_features(
                plan_by_qid[qid], cand, inp.terms, chunk, stats, k1, b,
                title_weight,
            )
            parts.append((
                np.full(cand.size, qid, dtype=np.int32),
                cand,
                model.forward(feats),
            ))
        return frame_of(FEATURES_SCHEMA, parts)

    return kernel
