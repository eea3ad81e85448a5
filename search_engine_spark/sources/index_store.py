"""Index table layout + lineage-gated readers.

Layout under ``<index_dir>/``  (parquet everywhere; an Iceberg runtime is
not available in this environment, so snapshot semantics are provided by
the ``lineage`` table: a batch's data files are only visible once its
lineage row is committed — readers resolve the committed batch list first
and read only those paths, which is the same commit protocol an Iceberg
manifest would give us):

``meta.json``    layout params pinned when ``docs/`` is created (chunk_docs,
                 buckets, tokenizer, ...) — every ``IndexStore`` opener
                 adopts them over the caller's config
``docs/``        doc_id, repo, path, commit, lang, sha256 — append-only
                 files of dense doc_id ranges; the query side's doc-info
                 lookup (``doc_info_for``) is a driver-side pyarrow read
``postings/batch=K/bucket=B/``  term, chunk_id, df, doc_ids(bin),
    tfs_body(bin), tfs_title(bin), pos_body(bin), pos_title(bin),
    blk_last_doc(bin), blk_max_tfb(bin), blk_max_tft(bin),
    blk_min_dl(bin), blk_min_tl(bin).  Each chunk's doc lengths are its
    reserved-term "" row (df = doc count, tfs_body/tfs_title = doc/title
    lengths), emitted by the posting merge from the single tokenize pass
    and read back by ``read_doclens``.  ``functions/codec.py`` is the one
    module that encodes and decodes these rows (``read_doc_lens``
    decodes through it)
``term_stats/bucket=B/``  term, df, n_chunks   (finalize artifact)
``stats/``       num_docs, avg_doc_len, avg_title_len, max_doc_len,
                 max_title_len, total_postings, sum_doc_len,
                 sum_title_len, ids_covered
``lineage/``     batch_id, first_chunk, last_chunk, n_docs, n_postings,
                 n_rows_out, bytes_postings, wall_sec, input_fingerprint,
                 engine_version, replaces (compaction rows only)
``_finalize_pending``  marker present while stats/term_stats may lag the
                 visible batches (``pending_finalize``)

The commit protocol lives here: ``committed_lineage`` applies the
``replaces`` rule, ``append_lineage`` is the one commit point, and
``pending_finalize`` brackets every stats update that can race it.

All binary columns are delta+varbyte (``functions/codec.py``).  The
reference keeps the same information in packed binary files + a marisa
trie + pickles (``/root/reference/search_engine/ingestion.py:63-171``,
``convert_index_to_marisa.py``); here the term dictionary is the
``term_stats`` table, looked up on the driver with pyarrow
(``term_stats_for``): hash-bucket directory pruning + row-group min/max
over term-sorted bucket files (``point_lookup``), no Spark job.
``term_stats`` carries no bloom filters (its terms are unique, so a
filter would be as large as the column and nothing reads it); postings
keep bloom filters on ``term`` for the Spark scan's pushed ``term IN``.
"""

from __future__ import annotations

import bisect
import contextlib
import dataclasses
import functools
import json
import os
import threading
from collections import OrderedDict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.codec import decode_doclens_row, term_bucket

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("df", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs_body", T.BinaryType(), False),
        T.StructField("tfs_title", T.BinaryType(), False),
        T.StructField("pos_body", T.BinaryType(), False),
        T.StructField("pos_title", T.BinaryType(), False),
        T.StructField("blk_last_doc", T.BinaryType(), False),
        T.StructField("blk_max_tfb", T.BinaryType(), False),
        T.StructField("blk_max_tft", T.BinaryType(), False),
        T.StructField("blk_min_dl", T.BinaryType(), False),
        T.StructField("blk_min_tl", T.BinaryType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

PARTIALS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("doc_ids", T.ArrayType(T.LongType()), False),
        T.StructField("tfs_body", T.ArrayType(T.IntegerType()), False),
        T.StructField("tfs_title", T.ArrayType(T.IntegerType()), False),
        T.StructField("pos_body", T.ArrayType(T.IntegerType()), False),
        T.StructField("pos_title", T.ArrayType(T.IntegerType()), False),
        T.StructField("doc_lens", T.ArrayType(T.IntegerType()), False),
        T.StructField("title_lens", T.ArrayType(T.IntegerType()), False),
    ]
)


# layout fields baked into a built index — queries MUST use the builder's
# values (a bucket-count mismatch silently empties every term lookup)
LAYOUT_FIELDS = (
    "chunk_docs", "block_docs", "n_term_buckets", "chunks_per_batch",
    "tokenizer",
)

# the docs-table metadata a doc-info lookup returns, in tuple order
DOC_INFO_COLS = ("repo", "path", "commit", "lang")

# terms whose df ``term_stats_for`` memoizes: a long-lived server sees an
# unbounded stream of distinct tokens, out-of-vocabulary typos included
_DF_MEMO_SIZE = 1 << 16


class _LRU:
    """Thread-safe map bounded to ``size`` entries, evicting the least
    recently read or written; size 0 stores nothing."""

    def __init__(self, size: int):
        self._size = size
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._d)

    def get_many(self, keys) -> dict:
        """The cached subset of ``keys``; each hit becomes most recent."""
        with self._lock:
            out = {}
            for k in keys:
                if k in self._d:
                    self._d.move_to_end(k)
                    out[k] = self._d[k]
            return out

    def put_many(self, items: dict) -> None:
        if not self._size:
            return
        with self._lock:
            for k, v in items.items():
                self._d[k] = v
                self._d.move_to_end(k)
            while len(self._d) > self._size:
                self._d.popitem(last=False)


class IndexStore:
    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig):
        self.spark = spark
        self.dir = Path(index_dir)
        self.config = config
        # serializes lineage appends when batches commit from concurrent
        # threads: parallel appends to one parquet dir can collide on the
        # committer's _temporary staging
        self._lineage_lock = threading.Lock()
        self._df_memo = _LRU(_DF_MEMO_SIZE)
        # an existing index's layout wins over the caller's
        self.load_meta_into_config()

    # ----- layout metadata -----
    @property
    def meta_path(self) -> str:
        return str(self.dir / "meta.json")

    def write_meta(self) -> None:
        self.dir.mkdir(parents=True, exist_ok=True)
        meta = {f: getattr(self.config, f) for f in LAYOUT_FIELDS}
        meta["engine_version"] = "0.1.0"
        with open(self.meta_path, "w") as fh:
            json.dump(meta, fh)

    def load_meta_into_config(self) -> EngineConfig:
        """Returns the config with layout fields replaced by the values the
        index was built with (no-op if no meta file)."""
        if not os.path.exists(self.meta_path):
            return self.config
        with open(self.meta_path) as fh:
            meta = json.load(fh)
        overrides = {f: meta[f] for f in LAYOUT_FIELDS if f in meta}
        self.config = dataclasses.replace(self.config, **overrides)
        return self.config

    # ----- paths -----
    @property
    def docs_path(self) -> str:
        return str(self.dir / "docs")

    @property
    def stats_path(self) -> str:
        return str(self.dir / "stats")

    @property
    def term_stats_path(self) -> str:
        return str(self.dir / "term_stats")

    @property
    def lineage_path(self) -> str:
        return str(self.dir / "lineage")

    def postings_batch_path(self, batch_id: int) -> str:
        return str(self.dir / "postings" / f"batch={batch_id}")

    @property
    def tombstones_path(self) -> str:
        return str(self.dir / "tombstones")

    @property
    def pending_finalize_path(self) -> str:
        return str(self.dir / "_finalize_pending")

    @contextlib.contextmanager
    def pending_finalize(self, payload: dict):
        """Bracket a stats/term_stats update that visible batches can
        outrun: the marker is written before the body and removed only
        if the body returns, so a crash anywhere inside leaves it on disk
        — engines then refuse to open (``check_no_pending_finalize``)
        until ``IndexBuilder.repair_pending_finalize`` re-runs the full
        finalize.  ``payload["incremental"]`` marks a streaming fold."""
        with open(self.pending_finalize_path, "w") as fh:
            json.dump(payload, fh)
        yield
        os.remove(self.pending_finalize_path)

    def check_no_pending_finalize(self) -> None:
        """Raise if a finalize is pending: purged postings or a new batch
        may be visible with stale collection stats, and BM25 would be
        silently wrong.  The error is worded for the writer that left the
        marker (a reader racing a live streaming advance should retry; a
        crashed writer needs repair)."""
        if not os.path.exists(self.pending_finalize_path):
            return
        payload = {}
        try:
            with open(self.pending_finalize_path) as fh:
                payload = json.load(fh)
        except (OSError, ValueError):
            pass
        if payload.get("incremental"):
            detail = (
                "a streaming advance()'s finalize_incremental is in "
                "flight or crashed mid-update; if an ingester is "
                "running, retry after it advances — otherwise run "
                "IndexBuilder.repair_pending_finalize()"
            )
        else:
            detail = (
                "a purging compact() crashed between its lineage "
                "commit and stats recompute; run "
                "IndexBuilder.repair_pending_finalize() before querying"
            )
        raise RuntimeError(f"index has a pending finalize: {detail}")

    def read_tombstones(self) -> DataFrame | None:
        """Deleted doc ids (deduplicated), or None when no deletions are
        pending.  Tombstones are LOGICAL deletes: query kernels exclude
        these ids (post-hoc-restriction semantics — collection stats keep
        counting them) until ``IndexBuilder.compact()`` physically purges
        them and recomputes stats (Lucene/Iceberg delete-file
        semantics)."""
        if not os.path.isdir(self.tombstones_path):
            return None
        return (
            self.spark.read.parquet(self.tombstones_path)
            .select(F.col("doc_id").cast("long"))
            .distinct()
        )

    # ----- lineage: the commit log -----
    def committed_lineage(self, columns: list[str]) -> list[dict]:
        """``columns`` of the visible lineage rows: all rows minus any
        batch some row's ``replaces`` list names (the compaction commit
        protocol: one appended row atomically supersedes the batches it
        rewrote — Iceberg's snapshot semantics on the append-only commit
        point).  Metric sums over these rows stay correct across
        compactions (a compaction row carries the sums of the rows it
        replaced).

        Read DRIVER-SIDE with pyarrow, per fragment, so the mixed schema
        (only compaction rows carry ``replaces``) needs no merge pass and
        no Spark job: every engine open, streaming advance and finalize
        consults it.  Local-filesystem layout; a remote object store
        would pass a pyarrow filesystem here."""
        import pyarrow.dataset as pads

        if not os.path.isdir(self.lineage_path):
            return []
        want = set(columns) | {"batch_id", "replaces"}
        rows: list[dict] = []
        lineage = pads.dataset(self.lineage_path, format="parquet")
        for frag in lineage.get_fragments():
            cols = [c for c in frag.physical_schema.names if c in want]
            rows.extend(frag.to_table(columns=cols).to_pylist())
        replaced = {b for r in rows for b in r.get("replaces") or ()}
        return [
            {c: r.get(c) for c in columns}
            for r in rows
            if r["batch_id"] not in replaced
        ]

    def committed_batches(self) -> list[int]:
        """Visible batch ids, sorted (see :meth:`committed_lineage`)."""
        return sorted(
            r["batch_id"] for r in self.committed_lineage(["batch_id"])
        )

    def append_lineage(self, row: dict) -> None:
        """THE commit: appending a batch's lineage row makes its data
        dirs visible (and, with ``replaces``, hides the batches it
        rewrote).  One writer at a time — concurrent batch pipelines
        share this table."""
        with self._lineage_lock:
            self.spark.createDataFrame([row]).coalesce(1).write.mode(
                "append"
            ).parquet(self.lineage_path)

    def read_postings(self, batches: list[int] | None = None) -> DataFrame:
        if batches is None:
            batches = self.committed_batches()
        paths = [self.postings_batch_path(b) for b in batches]
        # basePath keeps the bucket partition column; batch dir itself is
        # not a column (constant per path)
        return self.spark.read.option("basePath", str(self.dir / "postings")).parquet(
            *paths
        ).drop("batch")

    def read_doclens(self, batches: list[int] | None = None) -> DataFrame:
        """Per-chunk doc data -> (chunk_id, n_docs, doc_ids, doc_lens,
        title_lens): the postings' reserved-term "" rows, pruned to their
        one bucket partition (the index keeps no second copy)."""
        bucket = term_bucket("", self.config.n_term_buckets)
        return (
            self.read_postings(batches)
            .where((F.col("bucket") == bucket) & (F.col("term") == ""))
            .select(
                "chunk_id",
                F.col("df").alias("n_docs"),
                "doc_ids",
                F.col("tfs_body").alias("doc_lens"),
                F.col("tfs_title").alias("title_lens"),
            )
        )

    def chunk_of(self):
        """The chunk id of the ``doc_id`` column."""
        return F.floor(F.col("doc_id") / self.config.chunk_docs).cast("long")

    def ids_by_chunk(self, ids: DataFrame, name: str) -> DataFrame:
        """(chunk_id, ``name``): the ``doc_id``s of ``ids`` as one sorted
        array per chunk — the tombstone and filter arrays the chunk
        kernels and the purge read.  O(touched chunks) rows, each array
        bounded by ``chunk_docs``."""
        return (
            ids.select(self.chunk_of().alias("chunk_id"), "doc_id")
            .groupBy("chunk_id")
            .agg(F.sort_array(F.collect_list("doc_id")).alias(name))
        )

    def read_docs(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_path)

    @functools.cached_property
    def _docs_fragments(self) -> list:
        """``docs/`` files with their footers, resolved once per store.
        Docs rows are append-only under dense, never reused ids, so a
        file appended after this listing holds only ids that no posting
        pinned at engine open can name."""
        import pyarrow.dataset as pads

        frags = list(
            pads.dataset(self.docs_path, format="parquet").get_fragments()
        )
        for frag in frags:
            frag.ensure_complete_metadata()
        return frags

    def doc_info_for(self, ids) -> dict[int, tuple]:
        """``DOC_INFO_COLS`` per doc id, read DRIVER-SIDE with pyarrow (no
        Spark job): only the row groups whose ``doc_id`` min/max can hold
        a wanted id are opened (docs files hold dense id ranges, so the
        pruning is exact).  An id with no docs row has no entry."""
        if not ids:
            return {}
        rows = point_lookup(
            self._docs_fragments, "doc_id", ids, ["doc_id", *DOC_INFO_COLS]
        )
        return {r["doc_id"]: tuple(r[c] for c in DOC_INFO_COLS) for r in rows}

    def read_doc_lens(self, batches: list[int] | None = None) -> DataFrame:
        """Decoded per-doc token lengths -> (doc_id, doc_len, title_len).
        ``batches`` restricts to specific lineage batches (an increment's
        O(increment) doc lengths instead of the whole index)."""

        def decode(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                chunks = [
                    decode_doclens_row(r) for r in pdf.itertuples(index=False)
                ]
                # one frame per Arrow batch, not per chunk row
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate([c.doc_ids for c in chunks]),
                        "doc_len": np.concatenate(
                            [c.doc_lens for c in chunks]
                        ).astype("int32"),
                        "title_len": np.concatenate(
                            [c.title_lens for c in chunks]
                        ).astype("int32"),
                    }
                )

        return self.read_doclens(batches).mapInPandas(
            decode, "doc_id long, doc_len int, title_len int"
        )

    @staticmethod
    def parquet_rows(paths) -> int:
        """Exact row count from parquet FOOTERS (driver-side metadata
        read, no Spark job) — the count gates of ``build_docs`` and the
        streaming ``advance`` run on unfiltered parquet dirs/files, where
        the footer sum is the same number a ``.count()`` job would
        return.  O(#files) footer opens; at production increment sizes
        that is milliseconds vs a full scheduler round-trip per gate.

        Every listed path must exist: the fast path hands this the exact
        sink-log delta file list that ``spark.read.parquet(*delta)`` will
        scan, and silently skipping a vanished file would undercount the
        gate and surface later as a confusing snapshot row-count
        mismatch instead of the real missing-file error."""
        import pyarrow.dataset as pads

        if isinstance(paths, str):
            paths = [paths]
        locs = [p[7:] if p.startswith("file://") else p for p in paths]
        missing = [p for p in locs if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                "listed parquet path(s) do not exist: " + ", ".join(missing)
            )
        if not locs:
            return 0
        # pyarrow only accepts directories as a SINGLE path argument —
        # split dirs from plain files and sum fragment footers
        dirs = [p for p in locs if os.path.isdir(p)]
        files = [p for p in locs if not os.path.isdir(p)]
        total = 0
        for src in dirs + ([files] if files else []):
            d = pads.dataset(src, format="parquet")
            total += sum(f.metadata.num_rows for f in d.get_fragments())
        return total

    def read_stats(self) -> dict:
        """The one-row collection stats table, read DRIVER-SIDE with
        pyarrow (no Spark job; every engine open pays this read)."""
        import pyarrow.parquet as pq

        return pq.read_table(self.stats_path).to_pylist()[0]

    def read_term_stats(self) -> DataFrame:
        return self.spark.read.parquet(self.term_stats_path)

    def term_stats_for(self, tokens: list[str]) -> dict[str, int]:
        """df per token, read DRIVER-SIDE with pyarrow: only the query
        terms' ``bucket=B`` directories are opened, and only the row
        groups whose ``term`` min/max can hold a query term are read
        (``point_lookup``; bucket files are term-sorted).
        A query's term-stats lookup thus runs no Spark job.  Results are
        memoized per store instance (the index is immutable once opened)
        in an LRU of ``_DF_MEMO_SIZE`` terms.

        A missing ``term_stats`` root raises — e.g. a reader racing the
        directory swap of ``finalize_incremental`` — rather than pricing
        every term at df 0; a missing bucket directory under an existing
        root is a bucket with no terms."""
        import pyarrow.dataset as pads

        if not tokens:
            return {}
        dfs = self._df_memo.get_many(set(tokens))
        missing = sorted(set(tokens) - dfs.keys())
        if missing:
            by_bucket: dict[int, list[str]] = {}
            for t in missing:
                b = term_bucket(t, self.config.n_term_buckets)
                by_bucket.setdefault(b, []).append(t)
            found: dict[str, int] = {}
            for b, terms in sorted(by_bucket.items()):
                path = os.path.join(self.term_stats_path, f"bucket={b}")
                if not os.path.isdir(path):
                    continue
                frags = pads.dataset(path, format="parquet").get_fragments()
                rows = point_lookup(frags, "term", terms, ["term", "df"])
                found.update((r["term"], r["df"]) for r in rows)
            # checked after the reads, so a root that vanished mid-lookup
            # (bucket dirs then look absent) raises too
            if not os.path.isdir(self.term_stats_path):
                raise FileNotFoundError(
                    f"term_stats table missing: {self.term_stats_path}"
                )
            fetched = {t: found.get(t, 0) for t in missing}
            self._df_memo.put_many(fetched)
            dfs.update(fetched)
        return {t: df for t, df in dfs.items() if df > 0}


def row_groups_for(frag, key: str, keys: list) -> list[int]:
    """Ids of the row groups of parquet fragment ``frag`` whose footer
    min/max on ``key`` can hold one of the SORTED ``keys`` (a group
    without statistics is kept)."""
    frag.ensure_complete_metadata()
    out = []
    for rg in frag.row_groups:
        st = rg.statistics.get(key)
        if st:
            i = bisect.bisect_left(keys, st["min"])
            if i == len(keys) or keys[i] > st["max"]:
                continue
        out.append(rg.id)
    return out


def point_lookup(fragments, key: str, keys, columns: list[str]) -> list[dict]:
    """``columns`` of the rows of ``fragments`` whose ``key`` is in
    ``keys``, as dicts.  Row groups are picked by footer min/max first
    (``row_groups_for``): pyarrow 16's ``isin`` filter alone reads every
    row group, so a point lookup would cost a full file read."""
    import pyarrow.dataset as pads

    keys = sorted(set(keys))
    expr = pads.field(key).isin(keys)
    rows: list[dict] = []
    for frag in fragments:
        groups = row_groups_for(frag, key, keys)
        if groups:
            rows.extend(
                frag.subset(row_group_ids=groups)
                .to_table(columns=columns, filter=expr)
                .to_pylist()
            )
    return rows
