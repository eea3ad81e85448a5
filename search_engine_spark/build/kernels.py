"""Arrow-vectorized build kernels.

``extract_partials``: one pass over an Arrow batch of documents →
per-``(term, chunk)`` partial posting rows (numpy lexsort/segment
reduction — no per-row Python beyond the regex tokenizer call itself,
which is inherently per-document), each chunk's reserved-term ``""`` row
included.

``make_merge_stream_fn``: after the repartition-by-(term, chunk) shuffle,
sorted Arrow batches are merged in one vectorized pass per batch by the
row encoder of ``functions/codec.py`` (``merge_groups_vectorized``), the
one owner of the postings row format; ``make_purge_fn`` decodes and
re-encodes rows through the same module.

This pair is the Spark-native replacement for the reference's SPIMI block
flush + two-stage k-way merge (``ingestion.py:63-171, 335-586, 941-981``):
the shuffle *is* the merge tree, and the ``(term, chunk_id)`` grouping key
is the explicit doc-range salt that bounds task size for skewed high-DF
terms.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from search_engine_spark.functions.codec import (
    decode_term_row,
    merge_groups_vectorized,
)
from search_engine_spark.functions.tokenizer import get_tokenizer
from search_engine_spark.sources.index_store import (
    PARTIALS_SCHEMA,
    POSTINGS_SCHEMA,
)


def _flatten_token_lists(token_lists: list[list[str]]):
    """-> (flat_terms(object ndarray), lens(int64), flat_pos(int64))."""
    lens = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=len(token_lists))
    total = int(lens.sum())
    flat_terms = np.empty(total, dtype=object)
    i = 0
    for toks in token_lists:
        n = len(toks)
        flat_terms[i : i + n] = toks
        i += n
    # position within each doc: global arange minus repeated doc offsets
    offsets = np.zeros(len(token_lists), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    flat_pos = np.arange(total, dtype=np.int64) - np.repeat(offsets, lens)
    return flat_terms, lens, flat_pos


def extract_partials_batch(
    doc_ids: np.ndarray,
    title_lists: list[list[str]],
    body_lists: list[list[str]],
    chunk_docs: int,
) -> pd.DataFrame:
    """Build per-(term, chunk) partial rows for one batch of docs."""
    t_terms, t_lens, t_pos = _flatten_token_lists(title_lists)
    b_terms, b_lens, b_pos = _flatten_token_lists(body_lists)

    terms = np.concatenate([t_terms, b_terms])
    docs = np.concatenate(
        [np.repeat(doc_ids, t_lens), np.repeat(doc_ids, b_lens)]
    )
    pos = np.concatenate([t_pos, b_pos])
    is_body = np.concatenate(
        [np.zeros(t_terms.size, dtype=np.int8), np.ones(b_terms.size, dtype=np.int8)]
    )

    out = {k: [] for k in (
        "term", "chunk_id", "doc_ids", "tfs_body", "tfs_title",
        "pos_body", "pos_title", "doc_lens", "title_lens",
    )}
    blens = np.fromiter((len(b) for b in body_lists), np.int64, len(body_lists))
    tlens = np.fromiter((len(t) for t in title_lists), np.int64, len(title_lists))
    # doclens pseudo-groups: reserved term "" (no tokenizer emits an empty
    # token) carries (doc_id -> doc_len/title_len) through the same shuffle
    # and merge as a regular posting group — tokenize once, not twice.
    # Emitted from doc_ids directly so zero-token docs are still covered.
    d_order = np.argsort(doc_ids, kind="stable")
    d_sorted = doc_ids[d_order]
    d_blens = blens[d_order].astype(np.int32)
    d_tlens = tlens[d_order].astype(np.int32)
    d_chunks = d_sorted // chunk_docs
    dc_change = np.empty(d_sorted.size, dtype=bool)
    dc_change[0] = True
    dc_change[1:] = d_chunks[1:] != d_chunks[:-1]
    dc_starts = np.flatnonzero(dc_change)
    dc_ends = np.append(dc_starts[1:], d_sorted.size)
    empty32 = np.empty(0, dtype=np.int32)
    for s, e in zip(dc_starts.tolist(), dc_ends.tolist()):
        out["term"].append("")
        out["chunk_id"].append(int(d_chunks[s]))
        out["doc_ids"].append(d_sorted[s:e])
        out["tfs_body"].append(d_blens[s:e])
        out["tfs_title"].append(d_tlens[s:e])
        out["pos_body"].append(empty32)
        out["pos_title"].append(empty32)
        out["doc_lens"].append(d_blens[s:e])
        out["title_lens"].append(d_tlens[s:e])

    if terms.size == 0:
        return pd.DataFrame(out)

    codes, uniques = pd.factorize(terms, sort=True)
    order = np.lexsort((pos, is_body, docs, codes))
    codes, docs, pos, is_body = codes[order], docs[order], pos[order], is_body[order]

    # (term, doc) segment boundaries
    td_change = np.empty(codes.size, dtype=bool)
    td_change[0] = True
    td_change[1:] = (codes[1:] != codes[:-1]) | (docs[1:] != docs[:-1])
    td_starts = np.flatnonzero(td_change)
    td_counts = np.diff(np.append(td_starts, codes.size))
    td_codes = codes[td_starts]
    td_docs = docs[td_starts]
    # tf_title per (term,doc) = count of is_body==0 in segment
    title_flags = (is_body == 0).astype(np.int64)
    csum = np.concatenate([[0], np.cumsum(title_flags)])
    seg_ends = td_starts + td_counts
    td_tft = csum[seg_ends] - csum[td_starts]
    td_tfb = td_counts - td_tft

    # vectorized per-(term,doc) doc/title lengths
    doc_order = d_order
    lookup = doc_order[np.searchsorted(doc_ids[doc_order], td_docs)]
    td_dls = blens[lookup].astype(np.int32)
    td_tls = tlens[lookup].astype(np.int32)

    td_chunks = td_docs // chunk_docs
    # (term, chunk) group boundaries over the (term,doc) rows
    tc_change = np.empty(td_codes.size, dtype=bool)
    tc_change[0] = True
    tc_change[1:] = (td_codes[1:] != td_codes[:-1]) | (td_chunks[1:] != td_chunks[:-1])
    tc_starts = np.flatnonzero(tc_change)
    tc_ends = np.append(tc_starts[1:], td_codes.size)

    uniques = np.asarray(uniques, dtype=object)
    pos32 = pos.astype(np.int32)
    td_tfb32 = td_tfb.astype(np.int32)
    td_tft32 = td_tft.astype(np.int32)
    is_body_mask = is_body == 1
    # numpy array cells (Arrow serializes ndarray cells as lists directly —
    # no per-int Python conversion)
    for s, e in zip(tc_starts.tolist(), tc_ends.tolist()):
        lo, hi = td_starts[s], seg_ends[e - 1]
        seg_body = is_body_mask[lo:hi]
        out["term"].append(uniques[td_codes[s]])
        out["chunk_id"].append(int(td_chunks[s]))
        out["doc_ids"].append(td_docs[s:e])
        out["tfs_body"].append(td_tfb32[s:e])
        out["tfs_title"].append(td_tft32[s:e])
        out["pos_body"].append(pos32[lo:hi][seg_body])
        out["pos_title"].append(pos32[lo:hi][~seg_body])
        out["doc_lens"].append(td_dls[s:e])
        out["title_lens"].append(td_tls[s:e])
    return pd.DataFrame(out)


def make_partials_mapper(tokenizer_name: str, chunk_docs: int):
    """mapInPandas function: documents(doc_id, title, body) -> PARTIALS_SCHEMA."""

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok = get_tokenizer(tokenizer_name)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            title_lists = [tok(t) if t else [] for t in pdf["title"]]
            body_lists = [tok(t) if t else [] for t in pdf["body"]]
            yield extract_partials_batch(doc_ids, title_lists, body_lists, chunk_docs)

    return mapper


def make_purge_fn(block_docs: int, n_buckets: int):
    """cogroup(postings-by-chunk, tombstones-by-chunk).applyInPandas
    function physically removing deleted docs from one chunk's posting
    rows (compaction's delete-file apply — Lucene's segment-merge drop of
    tombstoned docs).

    Costs are deletion-proportional at three levels: the builder routes
    only *touched* chunks here (untouched chunks never shuffle through
    Python), a row whose docs are all survivors passes through
    **byte-identical**, and only rows actually containing a deleted doc
    are re-encoded, in one :func:`merge_groups_vectorized` call (their
    block lengths come from the chunk's ``""`` row).  Rows whose docs are
    all deleted are dropped — including the ``""`` row when an entire
    chunk dies."""
    cols_order = POSTINGS_SCHEMA.fieldNames()

    def purge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame({c: [] for c in cols_order})
        if len(right) == 0:  # untouched chunk (shouldn't reach here)
            return left[cols_order]
        deleted = np.sort(
            np.asarray(right.iloc[0]["deleted_ids"], dtype=np.int64)
        )
        rows = list(left.itertuples(index=False))
        decoded = [decode_term_row(r, False, False) for r in rows]
        lens = next(tc for r, tc in zip(rows, decoded) if r.term == "")
        passthrough: list[int] = []
        rebuilt = {c: [] for c in PARTIALS_SCHEMA.fieldNames()}
        for i, (row, tc) in enumerate(zip(rows, decoded)):
            keep = ~np.isin(tc.docs, deleted)
            if keep.all():
                passthrough.append(i)
                continue
            if not keep.any():
                continue  # every doc deleted -> drop the row
            kept = decode_term_row(row, True, False).select(keep)
            at = np.searchsorted(lens.docs, kept.docs)
            for c, v in zip(rebuilt, (
                row.term, row.chunk_id, kept.docs, kept.tfb, kept.tft,
                kept.pos_body, kept.pos_title, lens.tfb[at], lens.tft[at],
            )):
                rebuilt[c].append(v)

        frames = [left.iloc[passthrough][cols_order]]
        if rebuilt["term"]:
            n = len(rebuilt["term"])
            frames.append(merge_groups_vectorized(
                rebuilt, np.arange(n), np.arange(1, n + 1), block_docs,
                n_buckets,
            ))
        return pd.concat(frames, ignore_index=True)

    return purge


def make_merge_stream_fn(block_docs: int, n_buckets: int):
    """mapInPandas merge over partitions pre-sorted by (term, chunk_id).

    A per-(term, chunk) ``applyInPandas`` pays ~1 ms of pandas scaffolding
    per group — ruinous at real vocabulary sizes (millions of groups).
    Here the shuffle is ``repartition(term, chunk_id)`` +
    ``sortWithinPartitions``; each sorted Arrow batch's complete groups are
    merged in one vectorized pass (``merge_groups_vectorized``) with a
    carry buffer for the group straddling the batch boundary.
    """

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: dict | None = None  # columns of the unfinished trailing group

        def run(cols: dict, starts: np.ndarray, ends: np.ndarray):
            return merge_groups_vectorized(
                cols, starts, ends, block_docs, n_buckets
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            if carry is not None:
                same = (
                    carry["term"][0] == cols["term"][0]
                    and carry["chunk_id"][0] == cols["chunk_id"][0]
                )
                if same:
                    cols = {
                        c: np.concatenate([carry[c], cols[c]]) for c in cols
                    }
                else:
                    yield run(
                        carry,
                        np.array([0], dtype=np.int64),
                        np.array([len(carry["term"])], dtype=np.int64),
                    )
                carry = None
            terms = cols["term"]
            chunks = cols["chunk_id"]
            n = terms.size
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (terms[1:] != terms[:-1]) | (chunks[1:] != chunks[:-1])
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
            # last group may continue into the next batch — buffer it
            if starts.size > 1:
                yield run(cols, starts[:-1], ends[:-1])
            carry = {c: cols[c][starts[-1]:] for c in cols}
        if carry is not None and len(carry["term"]):
            yield run(
                carry,
                np.array([0], dtype=np.int64),
                np.array([len(carry["term"])], dtype=np.int64),
            )

    return stream
