import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.functions.codec import (
    decode_positions,
    decode_term_row,
    delta_decode_docs,
    delta_encode_docs,
    encode_positions,
    merge_groups_vectorized,
    term_bucket,
    vb_decode,
    vb_encode,
)


def test_vb_known_values():
    # 5 -> single byte 0x85; 128 -> 0x01 0x80 (MSB-first groups, high bit on last)
    assert vb_encode(np.array([5])) == bytes([0x85])
    assert vb_encode(np.array([128])) == bytes([0x01, 0x80])
    assert vb_encode(np.array([0])) == bytes([0x80])
    np.testing.assert_array_equal(vb_decode(bytes([0x01, 0x80])), [128])


def test_vb_empty():
    assert vb_encode(np.array([], dtype=np.int64)) == b""
    assert vb_decode(b"").size == 0


@given(
    st.lists(st.integers(min_value=0, max_value=2**56 - 1), min_size=0, max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = vb_decode(vb_encode(arr))
    np.testing.assert_array_equal(out, arr)


@given(
    st.lists(st.integers(min_value=0, max_value=10**13), min_size=0, max_size=300).map(
        lambda xs: sorted(set(xs))
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_docs_roundtrip(ids):
    arr = np.array(ids, dtype=np.int64)
    out = delta_decode_docs(delta_encode_docs(arr))
    np.testing.assert_array_equal(out, arr)


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10**6), min_size=0, max_size=20).map(
            lambda xs: sorted(set(xs))
        ),
        min_size=0,
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_positions_roundtrip(lists):
    flat = np.array([p for sub in lists for p in sub], dtype=np.int64)
    counts = np.array([len(sub) for sub in lists], dtype=np.int64)
    buf = encode_positions(flat, counts)
    out = decode_positions(buf, counts)
    np.testing.assert_array_equal(out, flat)


def test_positions_with_zero_count_docs():
    flat = np.array([3, 7, 9, 0, 2], dtype=np.int64)
    counts = np.array([2, 0, 1, 0, 2], dtype=np.int64)
    out = decode_positions(encode_positions(flat, counts), counts)
    np.testing.assert_array_equal(out, flat)


def _assert_blocks(tc, dls, tls, block_docs):
    """Block metadata of a decoded row equals the values recomputed from
    its entries (``dls``/``tls``: the entries' doc and title lengths)."""
    cuts = range(0, tc.docs.size, block_docs)
    np.testing.assert_array_equal(
        tc.blk_last,
        [tc.docs[min(s + block_docs, tc.docs.size) - 1] for s in cuts],
    )
    for got, vals, agg in (
        (tc.blk_max_tfb, tc.tfb, np.max), (tc.blk_max_tft, tc.tft, np.max),
        (tc.blk_min_dl, dls, np.min), (tc.blk_min_tl, tls, np.min),
    ):
        np.testing.assert_array_equal(
            got, [agg(vals[s: s + block_docs]) for s in cuts]
        )


@st.composite
def _groups(draw):
    """(term, entries, n_rows) per group; an entry is (doc, tf_body,
    tf_title, pos_body, pos_title, doc_len, title_len).  A "" group's
    tfs are its lengths and it has no positions."""
    groups = []
    for _ in range(draw(st.integers(1, 6))):
        term = draw(st.sampled_from(["", "", "a", "zz", "é"]))
        docs = sorted(draw(st.sets(st.integers(0, 10**6), min_size=1,
                                   max_size=30)))
        entries = []
        for d in docs:
            dl, tl = draw(st.integers(0, 300)), draw(st.integers(0, 20))
            if term == "":
                entries.append((d, dl, tl, [], [], dl, tl))
                continue
            pb = sorted(draw(st.sets(st.integers(0, 300), max_size=5)))
            pt = sorted(draw(st.sets(st.integers(0, 20), max_size=3)))
            entries.append((d, len(pb), len(pt), pb, pt, dl, tl))
        perm = draw(st.permutations(entries))
        groups.append((term, perm, draw(st.integers(1, min(3, len(docs))))))
    return groups


@given(_groups(), st.integers(1, 8))
@settings(max_examples=100, deadline=None)
def test_encoder_round_trips_mixed_groups(groups, block_docs):
    """One encoder call over "" groups and term groups, each split over
    several unsorted partial rows, decodes back to its inputs: doc ids,
    tfs (the lengths in a "" row), positions, and exact block metadata."""
    cols = {c: [] for c in (
        "term", "chunk_id", "doc_ids", "tfs_body", "tfs_title", "pos_body",
        "pos_title", "doc_lens", "title_lens",
    )}
    starts = []
    for chunk, (term, entries, n_rows) in enumerate(groups):
        starts.append(len(cols["term"]))
        for part in np.array_split(np.arange(len(entries)), n_rows):
            rows = [entries[i] for i in part]
            cols["term"].append(term)
            cols["chunk_id"].append(chunk)
            for k, c in enumerate(("doc_ids", "tfs_body", "tfs_title")):
                cols[c].append(np.array([r[k] for r in rows], np.int64))
            for k, c in ((3, "pos_body"), (4, "pos_title")):
                cols[c].append(np.array(
                    [p for r in rows for p in r[k]], np.int64
                ))
            for k, c in ((5, "doc_lens"), (6, "title_lens")):
                cols[c].append(np.array([r[k] for r in rows], np.int64))
    starts = np.array(starts, np.int64)
    ends = np.append(starts[1:], len(cols["term"]))
    out = merge_groups_vectorized(cols, starts, ends, block_docs, 8)

    assert len(out) == len(groups)
    for row, (term, entries, _n) in zip(out.itertuples(), groups):
        want = sorted(entries)
        assert (row.term, row.df) == (term, len(want))
        assert row.bucket == term_bucket(term, 8)
        tc = decode_term_row(row, True, True)
        np.testing.assert_array_equal(tc.docs, [e[0] for e in want])
        np.testing.assert_array_equal(tc.tfb, [e[1] for e in want])
        np.testing.assert_array_equal(tc.tft, [e[2] for e in want])
        if term == "":
            assert tc.pos_body is None and row.pos_body == b""
            assert row.pos_title == b""
        else:
            np.testing.assert_array_equal(
                tc.pos_body, [p for e in want for p in e[3]]
            )
            np.testing.assert_array_equal(
                tc.pos_title, [p for e in want for p in e[4]]
            )
        _assert_blocks(
            tc, np.array([e[5] for e in want]),
            np.array([e[6] for e in want]), block_docs,
        )


@pytest.mark.parametrize("seed", range(6))
def test_purge_reencodes_rows_minus_tombstones(seed):
    """The compaction purge of one chunk: every row without a deleted
    doc passes byte-identical, rows whose docs are all deleted are
    dropped, and every re-encoded row decodes to the original minus the
    tombstoned ids, positions included, with exact block metadata."""
    import pandas as pd

    from search_engine_spark.build.kernels import (
        extract_partials_batch,
        make_merge_stream_fn,
        make_purge_fn,
    )

    rng = np.random.default_rng(seed)
    # Zipf-ish draws: common terms get re-encoded, rare ones pass
    # through or die with their only docs
    vocab = [f"t{i}" for i in range(40)]
    weights = 1.0 / np.arange(1, 41)
    n, block_docs = 40, 1 + seed % 4
    doc_ids = np.arange(n, dtype=np.int64)

    def tokens(hi):
        k = int(rng.integers(0, hi))
        return list(rng.choice(vocab, k, p=weights / weights.sum()))

    titles = [tokens(3) for _ in doc_ids]
    bodies = [tokens(30) for _ in doc_ids]
    partials = extract_partials_batch(doc_ids, titles, bodies, n).sort_values(
        ["term", "chunk_id"]
    )
    left = pd.concat(
        make_merge_stream_fn(block_docs, 8)(iter([partials])),
        ignore_index=True,
    )
    deleted = np.sort(rng.choice(doc_ids, int(rng.integers(1, n // 2)), False))
    right = pd.DataFrame({"chunk_id": [0], "deleted_ids": [deleted]})
    out = make_purge_fn(block_docs, 8)(left, right)

    lens = decode_term_row(left[left.term == ""].iloc[0], False, False)
    got = {r.term: r for r in out.itertuples(index=False)}
    for row in left.itertuples(index=False):
        old = decode_term_row(row, True, False)
        keep = ~np.isin(old.docs, deleted)
        if not keep.any():
            assert row.term not in got
            continue
        new = got[row.term]
        if keep.all():
            assert new == row  # passthrough, byte-identical
            continue
        tc = decode_term_row(new, True, True)
        want = old.select(keep)
        assert new.df == want.docs.size
        for a in ("docs", "tfb", "tft", "pos_body", "pos_title"):
            if getattr(want, a) is None:
                assert getattr(tc, a) is None
            else:
                np.testing.assert_array_equal(getattr(tc, a), getattr(want, a))
        at = np.searchsorted(lens.docs, tc.docs)
        _assert_blocks(tc, lens.tfb[at], lens.tft[at], block_docs)
