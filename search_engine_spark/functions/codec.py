"""The postings row format: its one encoder and its decoders.

Every posting row is one ``(term, chunk_id)`` group — the columns of
``POSTINGS_SCHEMA`` (``sources/index_store.py``): ten delta+varbyte
``binary`` cells (doc ids, body/title tfs, body/title positions, and per
block of ``block_docs`` entries the last doc id, max tfs and min
lengths), ``df`` and the term's hash ``bucket``.  Each chunk's
reserved-term ``""`` row holds its doc ids with the doc and title lengths
in the tf cells, and no positions.  :func:`merge_groups_vectorized`
writes rows for the build merge and the compaction purge;
:func:`decode_term_row` and :func:`decode_doclens_row` read them back for
the query kernels, the purge and the doc-length reads.

The reference stores postings as raw ``u32`` arrays
(``/root/reference/search_engine/ingestion.py:106-159``); compression is a
north-star addition.  Classic varbyte (Manning/Raghavan/Schütze IR ch. 5):
7 payload bits per byte, **high bit set marks the final byte** of a value,
most-significant group first.  Encode and decode are fully vectorized —
no per-value Python in the hot path.

Doc ids are delta-encoded before varbyte (ascending, gaps >= 1 via the
``+1``-shift in :func:`delta_encode_docs`).  Per-doc position lists are
delta-encoded with a reset at each doc boundary (:func:`encode_positions`).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

_U64 = np.uint64
# thresholds[i] = 2**(7*(i+1)); a value v needs (searchsorted side='right') bytes
_THRESHOLDS = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a 1-D array of non-negative ints (< 2**63)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    nbytes = np.searchsorted(_THRESHOLDS, v, side="right") + 1  # bytes per value
    ends = np.cumsum(nbytes)  # 1 past last byte of each value
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)
    # byte slot j of the output belongs to value gid[j]; its shift is
    # 7 * (end_of_value - 1 - j)
    gid = np.zeros(total, dtype=np.int64)
    gid[ends[:-1]] = 1
    gid = np.cumsum(gid)
    shifts = ((ends[gid] - 1) - np.arange(total)) * 7
    out = ((v[gid] >> shifts.astype(np.uint64)) & _U64(0x7F)).astype(np.uint8)
    out[ends - 1] |= 0x80  # terminator flag on final byte of each value
    return out.tobytes()


def vb_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """Decode a varbyte buffer to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    last = (b & 0x80) != 0
    starts = np.empty(b.size, dtype=bool)
    starts[0] = True
    starts[1:] = last[:-1]
    gid = np.cumsum(starts) - 1
    ends = np.flatnonzero(last)
    shifts = ((ends[gid] - np.arange(b.size)) * 7).astype(np.uint64)
    vals = (b & np.uint8(0x7F)).astype(np.uint64) << shifts
    start_idx = np.flatnonzero(starts)
    return np.add.reduceat(vals, start_idx)


def vb_nbytes(values: np.ndarray) -> np.ndarray:
    """Encoded byte count per value (the same table vb_encode uses)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    return np.searchsorted(_THRESHOLDS, v, side="right") + 1


def vb_encode_segments(
    values: np.ndarray, seg_starts: np.ndarray
) -> list[bytes]:
    """Encode one concatenated value array, split into per-segment byte
    strings.  One vectorized pass regardless of segment count — the
    per-group encoder loop becomes a byte-slice loop."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b""] * max(len(seg_starts), 0)
    buf = vb_encode(v)
    nb = vb_nbytes(v)
    ends = np.cumsum(nb)
    byte_starts = np.concatenate(([0], ends))[seg_starts]
    bounds = np.append(byte_starts, len(buf)).astype(np.int64)
    return [buf[bounds[i]: bounds[i + 1]] for i in range(len(seg_starts))]


def delta_with_resets(values: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Per-segment delta stream: within a segment gaps, at each segment
    start ``value + 1`` (the delta_encode_docs convention)."""
    x = np.ascontiguousarray(values, dtype=np.int64)
    if x.size == 0:
        return np.empty(0, dtype=np.uint64)
    d = np.diff(x, prepend=-1)
    d[seg_starts] = x[seg_starts] + 1
    return d.astype(np.uint64)


def delta_encode_docs(doc_ids: np.ndarray) -> bytes:
    """Encode a strictly-ascending int array as varbyte'd gaps.

    Gap sequence: ``d[0] = ids[0] + 1``, ``d[i] = ids[i] - ids[i-1]`` —
    all gaps >= 1, so a zero byte never appears as a full value.
    """
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    gaps = np.diff(ids, prepend=-1)
    return vb_encode(gaps.astype(np.uint64))


def delta_decode_docs(buf: bytes) -> np.ndarray:
    gaps = vb_decode(buf).astype(np.int64)
    if gaps.size == 0:
        return gaps
    return np.cumsum(gaps) - 1


def encode_positions(positions: np.ndarray, counts: np.ndarray) -> bytes:
    """Encode concatenated per-doc ascending position lists.

    ``positions`` is the concatenation of each doc's position list;
    ``counts[i]`` is the length of doc i's list (its tf).  Deltas reset at
    each doc boundary (first position of a doc stored as ``pos + 1``).
    """
    p = np.ascontiguousarray(positions, dtype=np.int64)
    c = np.ascontiguousarray(counts, dtype=np.int64)
    if p.size == 0:
        return b""
    d = np.diff(p, prepend=-1)
    starts = np.zeros(c.size, dtype=np.int64)
    np.cumsum(c[:-1], out=starts[1:])
    starts = starts[c > 0]
    d[starts] = p[starts] + 1
    return vb_encode(d.astype(np.uint64))


def decode_positions(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions`; returns the flat position array
    (caller splits by ``counts``)."""
    d = vb_decode(buf).astype(np.int64)
    if d.size == 0:
        return d
    c = np.ascontiguousarray(counts, dtype=np.int64)
    starts = np.zeros(c.size, dtype=np.int64)
    np.cumsum(c[:-1], out=starts[1:])
    starts = starts[c > 0]
    # segmented cumsum: subtract the running total up to each segment start
    cs = np.cumsum(d)
    seg_base = np.zeros(d.size, dtype=np.int64)
    seg_base[starts] = cs[starts] - d[starts]
    np.maximum.accumulate(seg_base, out=seg_base)
    return cs - seg_base - 1


def term_bucket(term: str, n_buckets: int) -> int:
    """Deterministic, language-independent term shard (same value computable
    in Spark SQL via ``crc32(encode(term,'utf-8')) % n``)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _excl_cumsum(x: np.ndarray) -> np.ndarray:
    out = np.zeros(x.size, dtype=np.int64)
    if x.size > 1:
        np.cumsum(x[:-1], out=out[1:])
    return out


def _gather_slices(
    starts: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Flat gather indices for variable-length slices [starts_i,
    starts_i+counts_i)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    out_starts = _excl_cumsum(counts)
    return (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_starts, counts)
        + np.repeat(starts, counts)
    )


def _concat(cells) -> np.ndarray:
    if not len(cells):
        return np.empty(0, np.int64)
    return np.concatenate([np.asarray(x, np.int64) for x in cells])


def merge_groups_vectorized(
    cols: dict,
    g_row_starts: np.ndarray,
    g_row_ends: np.ndarray,
    block_docs: int,
    n_buckets: int,
) -> pd.DataFrame:
    """THE postings row encoder.  ``cols`` holds rows of the partials
    shape (``PARTIALS_SCHEMA``: term, chunk_id and per-row doc_ids,
    tfs_body, tfs_title, pos_body, pos_title, doc_lens, title_lens
    arrays); rows ``[g_row_starts[i], g_row_ends[i])`` form group i, one
    (term, chunk) with each doc in one row only.  Returns one encoded
    row per group, in ``POSTINGS_SCHEMA`` column order.

    Many groups merge in one vectorized pass: a single group-major
    lexsort orders every posting, a single varbyte encode per column
    covers all groups (``vb_encode_segments``), and block metadata comes
    from ``np.{maximum,minimum}.reduceat`` over global block boundaries.
    Per-group Python is reduced to byte-slicing and the crc32 bucket of
    the term.  Reserved-term ``""`` groups mix in freely: their tf cells
    carry lengths, so their entries add 0 to the position counts and
    their position cells are not read."""
    n_groups = g_row_starts.size
    # restrict to the covered (contiguous) row span — the caller may hold
    # back trailing carry rows
    lo, hi = int(g_row_starts[0]), int(g_row_ends[-1])
    if lo != 0 or hi != len(cols["doc_ids"]):
        cols = {c: v[lo:hi] for c, v in cols.items()}
        g_row_starts = g_row_starts - lo
        g_row_ends = g_row_ends - lo
    terms = [cols["term"][s] for s in g_row_starts.tolist()]
    row_lens = np.fromiter(
        (len(x) for x in cols["doc_ids"]), dtype=np.int64,
        count=len(cols["doc_ids"]),
    )
    row_dl = np.repeat(
        np.array([t == "" for t in terms], dtype=bool),
        g_row_ends - g_row_starts,
    )
    # rows -> flat posting entries
    docs = _concat(cols["doc_ids"])
    tfb = _concat(cols["tfs_body"])
    tft = _concat(cols["tfs_title"])
    dls = _concat(cols["doc_lens"])
    tls = _concat(cols["title_lens"])
    pos_rows = np.flatnonzero(~row_dl).tolist()
    pos_b = _concat([cols["pos_body"][i] for i in pos_rows])
    pos_t = _concat([cols["pos_title"][i] for i in pos_rows])
    # positions per entry: the tf, or 0 in a "" group
    has_pos = ~np.repeat(row_dl, row_lens)
    npb = np.where(has_pos, tfb, 0)
    npt = np.where(has_pos, tft, 0)

    # entries per group via prefix sums over row lengths
    row_cum = np.concatenate(([0], np.cumsum(row_lens)))
    g_sizes = row_cum[g_row_ends] - row_cum[g_row_starts]
    gid = np.repeat(np.arange(n_groups, dtype=np.int64), g_sizes)
    # doc-sort within each group (group-major overall); docs unique per group
    order = np.lexsort((docs, gid))
    docs_s, tfb_s, tft_s = docs[order], tfb[order], tft[order]
    dls_s, tls_s = dls[order], tls[order]
    npb_s, npt_s = npb[order], npt[order]

    # positions: pos arrays are doc-entry-major already, so slice starts are
    # the exclusive cumsum of the position counts; gather them into sorted
    # order
    def sort_positions(pos_flat, n_flat, n_sorted):
        return pos_flat[_gather_slices(_excl_cumsum(n_flat)[order], n_sorted)]

    pos_b_s = sort_positions(pos_b, npb, npb_s)
    pos_t_s = sort_positions(pos_t, npt, npt_s)

    g_starts = _excl_cumsum(g_sizes)  # entry-space group starts

    # ---- encode postings (one pass each, byte-split per group)
    doc_bytes = vb_encode_segments(delta_with_resets(docs_s, g_starts), g_starts)
    tfb_bytes = vb_encode_segments(tfb_s.astype(np.uint64), g_starts)
    tft_bytes = vb_encode_segments(tft_s.astype(np.uint64), g_starts)

    def pos_bytes_of(pos_s: np.ndarray, n_s: np.ndarray) -> list[bytes]:
        if pos_s.size == 0:
            return [b""] * n_groups
        doc_pos_starts = _excl_cumsum(n_s)[n_s > 0]
        d = np.diff(pos_s, prepend=-1)
        d[doc_pos_starts] = pos_s[doc_pos_starts] + 1
        g_pos_starts = np.concatenate(([0], np.cumsum(n_s)))[g_starts]
        return vb_encode_segments(d.astype(np.uint64), g_pos_starts)

    pos_b_bytes = pos_bytes_of(pos_b_s, npb_s)
    pos_t_bytes = pos_bytes_of(pos_t_s, npt_s)

    # ---- block metadata (global reduceat over per-group block grid)
    nb_g = (g_sizes + block_docs - 1) // block_docs
    total_b = int(nb_g.sum())
    b_gstart = _excl_cumsum(nb_g)  # block-space group starts
    local_b = np.arange(total_b, dtype=np.int64) - np.repeat(b_gstart, nb_g)
    bstarts = np.repeat(g_starts, nb_g) + local_b * block_docs
    g_ends_entries = g_starts + g_sizes
    blast_idx = np.minimum(
        bstarts + block_docs, np.repeat(g_ends_entries, nb_g)
    ) - 1
    blk_last = docs_s[blast_idx]

    def blocks_of(reduce, x: np.ndarray) -> list[bytes]:
        agg = reduce.reduceat(x, bstarts) if total_b else np.empty(0, np.int64)
        return vb_encode_segments(agg.astype(np.uint64), b_gstart)

    return pd.DataFrame(
        {
            "term": terms,
            "chunk_id": [
                int(cols["chunk_id"][s]) for s in g_row_starts.tolist()
            ],
            "df": g_sizes.astype(np.int32),
            "doc_ids": doc_bytes,
            "tfs_body": tfb_bytes,
            "tfs_title": tft_bytes,
            "pos_body": pos_b_bytes,
            "pos_title": pos_t_bytes,
            "blk_last_doc": vb_encode_segments(
                delta_with_resets(blk_last, b_gstart), b_gstart
            ),
            "blk_max_tfb": blocks_of(np.maximum, tfb_s),
            "blk_max_tft": blocks_of(np.maximum, tft_s),
            "blk_min_dl": blocks_of(np.minimum, dls_s),
            "blk_min_tl": blocks_of(np.minimum, tls_s),
            "bucket": np.array(
                [term_bucket(t, n_buckets) for t in terms], dtype=np.int32
            ),
        }
    )


@dataclass
class TermChunk:
    """One decoded posting row."""

    docs: np.ndarray          # int64, ascending
    tfb: np.ndarray           # int64
    tft: np.ndarray           # int64
    pos_body: np.ndarray | None = None   # flat int64; offsets via cumsum(tfb)
    pos_title: np.ndarray | None = None
    blk_last: np.ndarray | None = None   # per-block last doc id
    blk_max_tfb: np.ndarray | None = None
    blk_max_tft: np.ndarray | None = None
    blk_min_dl: np.ndarray | None = None
    blk_min_tl: np.ndarray | None = None

    def select(self, keep: np.ndarray) -> TermChunk:
        """The entries where the bool mask ``keep`` is set, positions
        included (block metadata is not carried over)."""

        def pos(flat, tf):
            if flat is None:
                return None
            return flat[_gather_slices(_excl_cumsum(tf)[keep], tf[keep])]

        return TermChunk(
            self.docs[keep], self.tfb[keep], self.tft[keep],
            pos(self.pos_body, self.tfb), pos(self.pos_title, self.tft),
        )


def decode_term_row(row, need_positions: bool, need_blocks: bool) -> TermChunk:
    """A postings row (any object with the ``POSTINGS_SCHEMA`` attributes
    it reads).  A ``""`` row decodes with its lengths as ``tfb``/``tft``
    and never has positions."""
    docs = delta_decode_docs(row.doc_ids)
    tfb = vb_decode(row.tfs_body).astype(np.int64)
    tft = vb_decode(row.tfs_title).astype(np.int64)
    tc = TermChunk(docs=docs, tfb=tfb, tft=tft)
    if need_positions and row.term != "":
        tc.pos_body = decode_positions(row.pos_body, tfb)
        tc.pos_title = decode_positions(row.pos_title, tft)
    if need_blocks:
        tc.blk_last = delta_decode_docs(row.blk_last_doc)
        tc.blk_max_tfb = vb_decode(row.blk_max_tfb).astype(np.int64)
        tc.blk_max_tft = vb_decode(row.blk_max_tft).astype(np.int64)
        tc.blk_min_dl = vb_decode(row.blk_min_dl).astype(np.int64)
        tc.blk_min_tl = vb_decode(row.blk_min_tl).astype(np.int64)
    return tc


@dataclass
class ChunkDocs:
    doc_ids: np.ndarray    # int64, ascending — every doc in the chunk
    doc_lens: np.ndarray   # int64
    title_lens: np.ndarray

    def lengths(self, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """float64 (doc_len, title_len) of ``ids``, docs of this chunk."""
        pos = np.searchsorted(self.doc_ids, ids)
        return (
            self.doc_lens[pos].astype(np.float64),
            self.title_lens[pos].astype(np.float64),
        )


def decode_doclens_row(row) -> ChunkDocs:
    """A ``read_doclens`` row: a chunk's ``""`` row with its tf cells
    named ``doc_lens`` / ``title_lens``."""
    return ChunkDocs(
        doc_ids=delta_decode_docs(row.doc_ids),
        doc_lens=vb_decode(row.doc_lens).astype(np.int64),
        title_lens=vb_decode(row.title_lens).astype(np.int64),
    )
