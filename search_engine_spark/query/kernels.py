"""Chunk-local query-evaluation kernels (numpy, Arrow-batch vectorized).

One kernel invocation handles one doc-range chunk: it receives the chunk's
posting rows for every term any active query needs (left side of a
``cogroup``) plus the chunk's doc-length row (right side), decodes them
through ``functions/codec.py``, evaluates each compiled query's
set-algebra tree, builds the per-column tf matrices, scores with fielded
BM25 and emits the chunk-local top-``num_candidates`` rows.  Chunks are
doc-range-disjoint, so AND/OR/NOT/phrase and top-k all decompose per
chunk exactly; the global top-k is a cheap second-stage reduce in Spark.

The heap-based k-way merge of the reference
(``/root/reference/search_engine/inverted_index.py:227-533``) becomes
sorted-array intersection/union (numpy ``intersect1d``/``union1d``); the
per-doc position cursor sweep of ``has_phrase`` (:200-225) becomes a
composite-key (doc, position) intersection chain; the bounded top-k heap
(:1748-1776) becomes an ``O(n log n)`` lexsort-slice per chunk (bounded by
chunk size) feeding Spark's ``TakeOrderedAndProject``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from search_engine_spark.functions.bm25 import fielded_bm25
from search_engine_spark.functions.codec import (
    ChunkDocs,
    TermChunk,
    decode_doclens_row,
    decode_term_row,
)
from search_engine_spark.query.plan import (
    ALL,
    AND,
    EMPTY,
    NOT,
    OR,
    PHRASE,
    TERM,
    CompiledQuery,
)

_POS_KEY_SHIFT = np.int64(1) << np.int64(32)

RESULT_SCHEMA = "qid int, doc_id long, score double"


_EMPTY_I64 = np.empty(0, dtype=np.int64)
_EMPTY_F64 = np.empty(0, dtype=np.float64)


def _membership(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """indices of ``values`` in ``sorted_arr``; -1 where absent."""
    idx = np.searchsorted(sorted_arr, values)
    idx_c = np.minimum(idx, sorted_arr.size - 1) if sorted_arr.size else idx
    ok = (idx < sorted_arr.size) & (
        sorted_arr[idx_c] == values if sorted_arr.size else False
    )
    return np.where(ok, idx, -1)


@dataclass
class ChunkInput:
    """One cogrouped chunk, decoded by ``read_chunk``."""

    chunk: ChunkDocs                 # live docs: tombstoned ids dropped
    terms: dict[str, TermChunk]      # posting rows by term
    allowed: np.ndarray | None       # sorted doc_filter survivors
    deleted: np.ndarray | None       # sorted tombstoned ids

    def survivors(self, matched: np.ndarray) -> np.ndarray:
        """``matched`` minus docs the filter rejects or tombstones
        delete — applied BEFORE any chunk-local top-k truncation, so the
        bound counts surviving docs only."""
        if self.allowed is not None and matched.size:
            matched = np.intersect1d(matched, self.allowed, assume_unique=True)
        if self.deleted is not None and matched.size:
            matched = matched[_membership(self.deleted, matched) < 0]
        return matched


def _id_array(cell) -> np.ndarray | None:
    """A per-chunk id-array cell; None when absent or null."""
    if cell is None or isinstance(cell, float):  # null arrives as None/NaN
        return None
    return np.asarray(cell, dtype=np.int64)


def read_chunk(
    left: pd.DataFrame, right: pd.DataFrame, pos_terms: set[str]
) -> ChunkInput:
    """The one decoder of a cogrouped chunk: ``right``'s doc-length row,
    with the engine's optional per-chunk ``allowed_ids`` (metadata filter,
    inner-joined) and ``deleted_ids`` (tombstones, left-joined: null
    where the chunk has none) arrays, and ``left``'s posting rows.
    Tombstoned ids leave the chunk's doc space, so an ALL/NOT complement
    never resurrects them.  Positions are decoded for ``pos_terms`` only
    and block metadata whenever the scan read them."""
    row = next(right.itertuples(index=False))
    chunk = decode_doclens_row(row)
    allowed = _id_array(getattr(row, "allowed_ids", None))
    deleted = _id_array(getattr(row, "deleted_ids", None))
    if deleted is not None:
        keep = _membership(deleted, chunk.doc_ids) < 0
        chunk = ChunkDocs(
            chunk.doc_ids[keep], chunk.doc_lens[keep], chunk.title_lens[keep]
        )
    has_pos = "pos_body" in left.columns
    has_blk = "blk_last_doc" in left.columns
    terms = {
        r.term: decode_term_row(r, has_pos and r.term in pos_terms, has_blk)
        for r in left.itertuples(index=False)
    }
    return ChunkInput(chunk, terms, allowed, deleted)


def _phrase_field_match(
    tokens: tuple,
    terms: dict[str, TermChunk],
    cand: np.ndarray,
    field: str,
) -> np.ndarray:
    """Docs in ``cand`` with all-nonempty position lists in ``field`` AND an
    adjacent-position chain across ``tokens`` (reference ``has_phrase``,
    inverted_index.py:200-225)."""
    # restrict to docs where every token has tf>0 in this field
    keep = np.ones(cand.size, dtype=bool)
    for t in tokens:
        tc = terms[t]
        idx = _membership(tc.docs, cand)
        tf = np.where(
            idx >= 0,
            (tc.tfb if field == "body" else tc.tft)[np.maximum(idx, 0)],
            0,
        )
        keep &= tf > 0
    cand = cand[keep]
    if cand.size == 0:
        return _EMPTY_I64
    # rank of each candidate doc for composite keys
    chain = None
    for t in tokens:
        tc = terms[t]
        tf = tc.tfb if field == "body" else tc.tft
        pos = tc.pos_body if field == "body" else tc.pos_title
        offs = np.zeros(tf.size + 1, dtype=np.int64)
        np.cumsum(tf, out=offs[1:])
        idx = _membership(tc.docs, cand)  # all >= 0 by construction
        # gather each candidate's position slice, tagged with its rank
        counts = tf[idx]
        starts = offs[idx]
        total = int(counts.sum())
        out_starts = np.zeros(cand.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=out_starts[1:])
        flat_idx = (
            np.arange(total, dtype=np.int64)
            - np.repeat(out_starts, counts)
            + np.repeat(starts, counts)
        )
        # rank per gathered element
        ranks = np.repeat(np.arange(cand.size, dtype=np.int64), counts)
        keys = ranks * _POS_KEY_SHIFT + pos[flat_idx]
        chain = keys if chain is None else np.intersect1d(chain + 1, keys)
        if chain.size == 0:
            return _EMPTY_I64
    return cand[np.unique(chain // _POS_KEY_SHIFT)]


def eval_tree(
    tree: tuple,
    terms: dict[str, TermChunk],
    chunk: ChunkDocs,
) -> np.ndarray:
    tag = tree[0]
    if tag == TERM:
        tc = terms.get(tree[1])
        return tc.docs if tc is not None else _EMPTY_I64
    if tag == EMPTY:
        return _EMPTY_I64
    if tag == ALL:
        return chunk.doc_ids
    if tag == AND:
        arrs = [eval_tree(c, terms, chunk) for c in tree[1]]
        out = arrs[0]
        for a in arrs[1:]:
            if out.size == 0:
                return _EMPTY_I64
            out = np.intersect1d(out, a, assume_unique=True)
        return out
    if tag == OR:
        arrs = [eval_tree(c, terms, chunk) for c in tree[1]]
        return np.unique(np.concatenate(arrs)) if arrs else _EMPTY_I64
    if tag == NOT:
        arrs = [eval_tree(c, terms, chunk) for c in tree[1]]
        excl = np.unique(np.concatenate(arrs)) if arrs else _EMPTY_I64
        return np.setdiff1d(chunk.doc_ids, excl, assume_unique=True)
    if tag == PHRASE:
        tokens = tree[1]
        if any(t not in terms for t in tokens):
            return _EMPTY_I64
        cand = terms[tokens[0]].docs
        for t in tokens[1:]:
            if cand.size == 0:
                return _EMPTY_I64
            cand = np.intersect1d(cand, terms[t].docs, assume_unique=True)
        body_ok = _phrase_field_match(tokens, terms, cand, "body")
        title_ok = _phrase_field_match(tokens, terms, cand, "title")
        return np.union1d(body_ok, title_ok)
    raise ValueError(f"bad tree node {tag}")  # pragma: no cover


def tf_matrices(
    columns: tuple,
    matched: np.ndarray,
    terms: dict[str, TermChunk],
) -> tuple[np.ndarray, np.ndarray]:
    """(n_docs x n_cols) body/title tf matrices per the compiled column spec."""
    n = matched.size
    ncols = len(columns)
    tfb = np.zeros((n, ncols), dtype=np.int64)
    tft = np.zeros((n, ncols), dtype=np.int64)
    for j, col in enumerate(columns):
        if col[0] != "term":
            continue
        tc = terms.get(col[1])
        if tc is None:
            continue
        idx = _membership(tc.docs, matched)
        present = idx >= 0
        tfb[present, j] = tc.tfb[idx[present]]
        tft[present, j] = tc.tft[idx[present]]
    return tfb, tft


def scored_columns(plan: CompiledQuery) -> tuple[tuple, np.ndarray]:
    """The zip truncation (inverted_index.py:1240): the i-th kept column
    pairs with the i-th query-token IDF, dropping the longer tail ->
    (columns, float64 idfs)."""
    ncols = min(len(plan.columns), len(plan.idfs))
    return plan.columns[:ncols], np.asarray(plan.idfs[:ncols], np.float64)


def bm25_gather(
    cols: tuple,
    idfs: np.ndarray,
    matched: np.ndarray,
    inp: ChunkInput,
    stats: dict,
    k1: float,
    b: float,
    title_weight: float,
) -> np.ndarray:
    """Fielded BM25 of the chunk's ``matched`` docs over ``cols``."""
    tfb, tft = tf_matrices(cols, matched, inp.terms)
    dl, tl = inp.chunk.lengths(matched)
    score, _, _ = fielded_bm25(
        idfs, tfb, tft, dl, tl,
        stats["avg_doc_len"], stats["avg_title_len"],
        k1=k1, b=b, title_weight=title_weight,
    )
    return score


def score_and_topk(
    plan: CompiledQuery,
    matched: np.ndarray,
    inp: ChunkInput,
    stats: dict,
    k1: float,
    b: float,
    title_weight: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Exhaustive scoring of the matched set; chunk-local top-k.

    Returns (doc_ids, scores) sorted by (-score, doc_id), truncated to
    ``plan.num_candidates``.
    """
    if matched.size == 0:
        return _EMPTY_I64, _EMPTY_F64
    cols, idfs = scored_columns(plan)
    score = bm25_gather(cols, idfs, matched, inp, stats, k1, b, title_weight)
    order = np.lexsort((matched, -score))[: plan.num_candidates]
    return matched[order], score[order]


_DTYPES = {"int": "int32", "long": "int64", "double": "float64",
           "string": "object"}


def frame_of(schema: str, parts: list[tuple]) -> pd.DataFrame:
    """The kernel output frame for a Spark DDL ``schema``: ``parts``
    holds one tuple of column arrays per contributing plan; no parts
    gives the empty frame with the schema's dtypes."""
    fields = [f.split() for f in schema.split(",")]
    if not parts:
        return pd.DataFrame(
            {n: pd.Series([], dtype=_DTYPES[t]) for n, t in fields}
        )
    return pd.DataFrame(
        {n: np.concatenate(col) for (n, _t), col in zip(fields, zip(*parts))}
    )


def _pos_terms(plans: list[CompiledQuery]) -> set[str]:
    """Terms whose positions some plan needs (phrase matching)."""
    return {t for p in plans if p.needs_positions for t in p.fetch_terms}


def _idle(plans: list[CompiledQuery], left, right) -> bool:
    """True when no plan can match in this chunk: no doc-length row (a
    filter or candidate join dropped the chunk), or no posting rows and
    no plan scanning every chunk."""
    return len(right) == 0 or (
        len(left) == 0 and not any(p.scan_all_chunks for p in plans)
    )


def _active(plans: list[CompiledQuery], terms: dict):
    """The plans that can match in a chunk holding ``terms``."""
    for p in plans:
        if p.tree[0] != EMPTY and (
            p.scan_all_chunks or any(t in terms for t in p.fetch_terms)
        ):
            yield p


def run_plans_on_chunk(
    plans: list[CompiledQuery],
    left: pd.DataFrame,
    right: pd.DataFrame,
    stats: dict,
    k1: float,
    b: float,
    title_weight: float,
    use_wand: bool = True,
    wand_counters: dict | None = None,
) -> pd.DataFrame:
    """Evaluate every compiled query against one chunk's postings."""
    from search_engine_spark.query.wand import wand_topk

    if _idle(plans, left, right):
        return frame_of(RESULT_SCHEMA, [])
    inp = read_chunk(left, right, _pos_terms(plans))
    has_blk = "blk_last_doc" in left.columns
    parts = []
    for plan in _active(plans, inp.terms):
        if use_wand and plan.wand_eligible and has_blk:
            # under a metadata filter or pending deletions wand_topk
            # drops non-surviving candidates per segment before scoring;
            # unfiltered block maxima stay valid (looser) upper bounds,
            # so pruning remains rank-identical (see wand.py docstring)
            docs, scores = wand_topk(
                plan, inp, stats, k1, b, title_weight,
                counters=wand_counters,
            )
        else:
            matched = inp.survivors(eval_tree(plan.tree, inp.terms, inp.chunk))
            docs, scores = score_and_topk(
                plan, matched, inp, stats, k1, b, title_weight
            )
        if docs.size:
            parts.append(
                (np.full(docs.size, plan.qid, dtype=np.int32), docs, scores)
            )
    return frame_of(RESULT_SCHEMA, parts)


def make_query_kernel(
    plans: list[CompiledQuery],
    stats: dict,
    k1: float,
    b: float,
    title_weight: float,
    use_wand: bool = True,
    wand_accumulators: tuple | None = None,
):
    """cogroup(postings-by-chunk, doc-lengths-by-chunk).applyInPandas fn.

    ``wand_accumulators``: optional ``(segments_total, segments_scored)``
    pair of Spark accumulators; each kernel invocation flushes its
    chunk-local WAND sweep counters into them.  Diagnostic only (task
    retries may double-count) — used to evidence the block-max skip rate
    on skewed workloads, never for correctness."""

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        counters: dict | None = (
            {"segments_total": 0, "segments_scored": 0}
            if wand_accumulators is not None
            else None
        )
        out = run_plans_on_chunk(
            plans, left, right, stats, k1, b, title_weight,
            use_wand=use_wand, wand_counters=counters,
        )
        if counters is not None:
            wand_accumulators[0].add(counters["segments_total"])
            wand_accumulators[1].add(counters["segments_scored"])
        return out

    return kernel


FACET_SCHEMA = "qid int, value string, n long"


def facet_counts_on_chunk(
    plans: list[CompiledQuery],
    left: pd.DataFrame,
    right: pd.DataFrame,
) -> pd.DataFrame:
    """Per-chunk partial facet counts: evaluate each plan's match set
    (full set algebra, NO scoring and NO top-k truncation — facets count
    every match) and tally the matched docs' facet values.  The facet
    value array rides the doc-length side in doc_id order (``facet_ids``
    / ``facet_vals``), so the tally is a searchsorted gather — no doc_id
    join ever happens; Spark sums the per-chunk partials."""
    if _idle(plans, left, right):
        return frame_of(FACET_SCHEMA, [])
    inp = read_chunk(left, right, _pos_terms(plans))
    row0 = right.iloc[0]
    facet_ids = np.asarray(row0["facet_ids"], dtype=np.int64)
    facet_vals = np.asarray(row0["facet_vals"], dtype=object)
    parts = []
    for plan in _active(plans, inp.terms):
        matched = inp.survivors(eval_tree(plan.tree, inp.terms, inp.chunk))
        if matched.size == 0:
            continue
        vals = facet_vals[np.searchsorted(facet_ids, matched)]
        uniq, counts = np.unique(vals, return_counts=True)
        parts.append((
            np.full(uniq.size, plan.qid, dtype=np.int32),
            uniq,
            counts.astype(np.int64),
        ))
    return frame_of(FACET_SCHEMA, parts)


def make_facet_kernel(plans: list[CompiledQuery]):
    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return facet_counts_on_chunk(plans, left, right)

    return kernel
