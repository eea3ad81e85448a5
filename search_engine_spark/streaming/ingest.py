"""Streaming corpus ingestion — beyond-reference addition (the reference
is strictly batch; SURVEY.md §2.4).  Continuously arriving documents are
folded into the SAME lineage-gated index the batch builder produces, so
every query-side property (pruned scans, chunk kernels, WAND, resume)
holds unchanged over a live corpus.

Design (LSM-memtable-shaped):

1. **Stage** — ``readStream`` source -> parquet file sink with a
   checkpoint: Spark's file-sink commit log makes staging exactly-once
   per source record, across restarts.
2. **Advance** — fold staged-but-unindexed docs into the index in
   **chunk-aligned** increments: doc ids continue densely from the
   current ``num_docs`` (arrival-increment order, keyed
   ``(repo, path, commit)`` within an increment), and an increment only
   indexes whole ``chunk_docs`` chunks.  Alignment is what keeps the
   core invariant — every ``(term, chunk)`` row lives in exactly ONE
   lineage batch — so increments are append-only and never rewrite
   committed rows (a partial chunk split across two batches would emit
   duplicate ``(term, chunk)`` rows and corrupt chunk kernels).
3. **Tail** — the sub-chunk remainder (< ``chunk_docs`` docs) is
   persisted as its own snapshot (bounded staleness, like an LSM
   memtable below its flush threshold) until more data arrives;
   ``advance(final=True)`` flushes it as the terminal partial chunk,
   sealing the index against further appends (enforced — a sealed index
   raises on new docs instead of corrupting committed chunks).

Each ``advance()`` costs **O(increment)**: a consumed high-water mark
over the file sink's commit log (``advance_state.json``, written after
the lineage commit) bounds the scan to newly committed sink files plus
the tail snapshot; a stale mark (crash between lineage commit and state
write) triggers one anti-join rescan that also repairs the state.
``compact_staging()`` retires fully consumed sink files.

Each increment commits one lineage batch (variable chunk count — batch
metric rows record the chunk range) and folds it into stats/term_stats
with ``finalize_incremental()``.  The index layout (chunk size, buckets,
tokenizer) is the one pinned in ``meta.json`` once the index exists.
Readers opened before an increment keep their committed-batch snapshot;
re-open a ``SearchEngine`` to see newly committed batches (same
snapshot-isolation behavior as the batch builder's resume).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.sources.corpus import SORT_KEYS, assign_doc_ids


class StreamingIndexer:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        staging_dir: str,
        config: EngineConfig | None = None,
        title_col: str = "path",
        body_col: str = "content",
    ):
        self.spark = spark
        self.builder = IndexBuilder(
            spark, index_dir, config or EngineConfig(), title_col, body_col
        )
        self.staging_dir = staging_dir
        self.corpus_dir = os.path.join(staging_dir, "corpus")
        self.checkpoint_dir = os.path.join(staging_dir, "checkpoint")

    # ------------------------------------------------ stage (exactly-once)

    def start(self, stream: DataFrame, available_now: bool = True):
        """Stage a streaming corpus source into the arrival log.

        ``stream`` must carry the corpus schema
        (repo, path, commit, lang, content).  The parquet file sink's
        commit log + checkpoint give exactly-once staging; with
        ``available_now`` the query drains everything currently available
        and stops (micro-batch catch-up), otherwise it runs continuously
        and the caller owns the handle."""
        writer = (
            stream.writeStream.format("parquet")
            .option("path", self.corpus_dir)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
            return q
        return writer.start()

    # --------------------------------------- sink-log consumption state
    #
    # ``advance()`` must cost O(increment), not O(total staged): the file
    # sink's commit log (``_spark_metadata``) names the data files of each
    # staged micro-batch, so an increment only reads files from sink
    # batches above a consumed high-water mark, plus the persisted
    # sub-chunk tail from the previous increment.  The mark lives in a
    # tiny state file written AFTER the lineage commit; a crash between
    # the two leaves the state stale, which the next ``advance()`` detects
    # (state.lineage_batch != max committed batch) and repairs by one full
    # rescan with the key anti-join (the round-2 slow path).

    @property
    def _state_path(self) -> str:
        return os.path.join(self.staging_dir, "advance_state.json")

    def _read_state(self) -> dict | None:
        try:
            with open(self._state_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _write_state(self, **state) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._state_path)

    def _sink_log(self) -> dict[int, list[str]]:
        """Parse the file sink's commit log -> {batch_id: [data files]}.
        Metadata-only (no data read); ``.compact`` entries supersede the
        plain file of the same batch id and list the full history."""
        meta = os.path.join(self.corpus_dir, "_spark_metadata")
        out: dict[int, tuple[bool, list[str]]] = {}
        if not os.path.isdir(meta):
            return {}
        for name in os.listdir(meta):
            base = name.split(".", 1)[0]
            if not base.isdigit() or name.endswith((".crc", ".tmp")):
                continue
            bid, compact = int(base), name.endswith(".compact")
            if bid in out and out[bid][0] and not compact:
                continue
            paths = []
            with open(os.path.join(meta, name)) as f:
                for line in f:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    try:
                        ent = json.loads(line)
                    except ValueError:
                        continue
                    if ent.get("action", "add") == "add":
                        paths.append(ent["path"])
            out[bid] = (compact, paths)
        return {bid: paths for bid, (_c, paths) in out.items()}

    def _delta_paths(self, after: int) -> tuple[list[str], int]:
        """Data files committed to the sink log after batch ``after``
        (compact batches contribute only paths not already consumed)."""
        log = self._sink_log()
        if not log:
            return [], after
        seen: set[str] = set()
        for b, paths in log.items():
            if b <= after:
                seen.update(paths)
        delta: list[str] = []
        for b in sorted(b for b in log if b > after):
            for p in log[b]:
                if p not in seen:
                    seen.add(p)
                    delta.append(p)
        return delta, max(log)

    def _tail_dir(self, version: int) -> str:
        return os.path.join(self.staging_dir, "tail", f"v{version}")

    def _staging_marker_path(self) -> str:
        return os.path.join(self.staging_dir, "compacted_upto.json")

    def _compacted_upto(self, state: dict) -> int:
        """The staging-compaction high-water mark, from the advance state
        when present, else from the redundant marker written beside the
        staging dir — so recovery after a lost/corrupt state file never
        resolves through sink-log entries whose data files
        :meth:`compact_staging` already deleted."""
        if "compacted_upto" in state:
            return state["compacted_upto"]
        try:
            with open(self._staging_marker_path()) as f:
                return int(json.load(f)["compacted_upto"])
        except (OSError, ValueError, KeyError):
            return -1

    def staged_corpus(self) -> DataFrame:
        """Exactly-once view of every staged doc still on disk (committed
        sink files not yet retired by :meth:`compact_staging`, plus the
        persisted tail, de-duplicated).  Survives advance-state loss: the
        compaction mark falls back to its redundant staging-dir copy and
        the newest persisted tail snapshot is picked up from disk (any
        overlap with already-indexed docs collapses in the caller's key
        anti-join)."""
        state = self._read_state() or {}
        compacted = self._compacted_upto(state)
        if compacted < 0:
            return self.spark.read.parquet(self.corpus_dir)
        paths, _ = self._delta_paths(compacted)
        parts = []
        tail_version = state.get("tail_version")
        if state.get("tail_count") is None and tail_version is None:
            # state lost: the newest tail snapshot on disk (if any) holds
            # sub-chunk docs whose sink files may already be retired
            tail_root = os.path.join(self.staging_dir, "tail")
            if os.path.isdir(tail_root):
                versions = sorted(
                    int(d[1:])
                    for d in os.listdir(tail_root)
                    if d.startswith("v") and d[1:].isdigit()
                )
                if versions:
                    tail_version = versions[-1]
                    state = {**state, "tail_count": 1}
        if state.get("tail_count"):
            parts.append(
                self.spark.read.parquet(self._tail_dir(tail_version))
            )
        if paths:
            parts.append(self.spark.read.parquet(*paths))
        if not parts:
            return self.spark.read.parquet(self.corpus_dir).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.dropDuplicates(list(SORT_KEYS))

    def compact_staging(self) -> dict:
        """Retire staged data files whose docs are all indexed or carried
        in the persisted tail (sink batches <= the consumed high-water
        mark).  Refuses when the advance state is stale — run
        ``advance()`` first so recovery can still rescan."""
        state = self._read_state()
        store = self.builder.store
        committed = store.committed_batches()
        max_committed = max(committed) if committed else None
        if state is None or state.get("lineage_batch") != max_committed:
            raise RuntimeError(
                "advance state is stale; run advance() before compacting"
            )
        hwm = state["sink_hwm"]
        log = self._sink_log()
        # redundant copy of the new mark FIRST (atomic replace): if the
        # advance state is later lost, staged_corpus() must never resolve
        # the sink log down through batches whose files we delete below.
        # Writing before the deletes is safe — docs <= hwm are indexed or
        # carried in the persisted tail by the advance() gate above.
        tmp = self._staging_marker_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"compacted_upto": hwm}, f)
        os.replace(tmp, self._staging_marker_path())
        deleted = 0
        for b in sorted(b for b in log if b <= hwm):
            if b <= state.get("compacted_upto", -1):
                continue
            for p in log[b]:
                local = p[7:] if p.startswith("file://") else p
                if os.path.exists(local):
                    os.remove(local)
                    deleted += 1
        state["compacted_upto"] = hwm
        self._write_state(**state)
        return {"retired_files": deleted, "compacted_upto": hwm}

    # ------------------------------------------------ fold into the index

    def advance(self, final: bool = False, upsert: bool = False) -> dict:
        """Index all staged-but-unindexed docs up to a chunk boundary
        (everything, including the partial tail chunk, when ``final``).

        ``upsert``: after the increment commits, tombstone superseded
        versions — any older doc sharing an indexed doc's ``(repo,
        path)`` (``IndexBuilder.supersede_old_versions`` scoped to the
        increment's keys, so the reconciliation is O(increment)).  A
        re-crawled document therefore *replaces* its old version in
        every query the moment the increment lands; ``compact()`` purges
        the superseded rows physically.  A crash between the lineage
        commit and the tombstone write can leave both versions briefly
        visible — ``builder.supersede_old_versions()`` with no scope is
        the idempotent repair.

        O(increment): the normal path reads only sink files above the
        consumed high-water mark plus the persisted sub-chunk tail — no
        rescan of the staged corpus, no anti-join against the docs table.
        Idempotent across crashes: the state file is written after the
        lineage commit, so a torn increment leaves it stale and the next
        call falls back to one full rescan with the key anti-join; a docs
        append without its lineage commit is caught by the count gate."""
        store = self.builder.store
        cfg = store.config
        if not os.path.isdir(self.corpus_dir):
            # nothing staged yet (start() never ran or the stream was empty)
            n = self._lineage_doc_count()
            return {
                "indexed": 0, "staged_tail": 0, "num_docs": n,
                "scan": {"mode": "noop", "delta_files": 0},
            }

        if os.path.isdir(store.docs_path):
            docs = store.read_docs()
            n_existing = store.parquet_rows(store.docs_path)
            lineage_docs = self._lineage_doc_count()
            if n_existing != lineage_docs:
                # torn previous increment: docs rows appended but the
                # lineage batch never committed — rebuild the docs append
                # is not possible blindly; surface it
                raise RuntimeError(
                    f"docs table has {n_existing} rows but committed "
                    f"lineage covers {lineage_docs}; previous increment "
                    f"was torn before its lineage commit"
                )
        else:
            store.write_meta()
            docs = None
            n_existing = 0

        committed = store.committed_batches()
        max_committed = max(committed) if committed else None
        state = self._read_state()
        fast = state is not None and state.get("lineage_batch") == max_committed
        tail_version = (state or {}).get("tail_version") or 0

        if fast:
            delta, sink_hwm = self._delta_paths(state["sink_hwm"])
            parts = []
            if state.get("tail_count"):
                parts.append(
                    self.spark.read.parquet(
                        self._tail_dir(state["tail_version"])
                    )
                )
            if delta:
                parts.append(self.spark.read.parquet(*delta))
            new = None
            if parts:
                new = parts[0]
                for p in parts[1:]:
                    new = new.unionByName(p)
            scan = {
                "mode": "incremental",
                "delta_files": len(delta),
                "tail_rows": int(state.get("tail_count") or 0),
            }
            # fast path inputs are raw parquet (tail snapshot + delta
            # files): their footer sums ARE the increment count
            n_new_meta = scan["tail_rows"] + store.parquet_rows(delta)
        else:
            # recovery (state missing or stale): one full rescan, key
            # anti-join drops already-indexed docs, duplicates between a
            # stale tail and un-retired sink files collapse by key
            new = self.staged_corpus()
            _, sink_hwm = self._delta_paths(-1)
            if docs is not None:
                new = new.join(
                    docs.select(*SORT_KEYS), list(SORT_KEYS), "left_anti"
                )
            scan = {"mode": "rescan", "delta_files": -1}
            n_new_meta = None  # the anti-join needs a real count job

        if new is None:
            n_new = 0
        elif n_new_meta is not None:
            n_new = n_new_meta
        else:
            n_new = new.count()
        if n_new > 0 and n_existing % cfg.chunk_docs != 0:
            # a prior advance(final=True) flushed a partial tail chunk;
            # indexing more would re-emit that (term, chunk) in a second
            # lineage batch and corrupt chunk-kernel scoring
            raise RuntimeError(
                f"index is sealed: doc count {n_existing} is not chunk-"
                f"aligned (a final advance flushed a partial chunk); "
                f"rebuild to fold in {n_new} newly staged docs"
            )
        total = n_existing + n_new
        if final:
            n_index_to = total
        else:
            n_index_to = (total // cfg.chunk_docs) * cfg.chunk_docs
        n_take = n_index_to - n_existing

        if n_take <= 0:
            stale = scan["mode"] == "rescan"
            if n_new > 0 and (stale or scan["delta_files"] > 0):
                # sub-chunk wave: fold the delta into a new tail snapshot
                # and advance the consumed mark so the next call stays
                # O(increment) even before a chunk boundary is crossed
                # (a rescan lands here too — freshening the state repairs
                # the stale mark instead of rescanning forever)
                tail_version += 1
                new.write.mode("overwrite").parquet(
                    self._tail_dir(tail_version)
                )
                self._write_state(
                    sink_hwm=sink_hwm,
                    lineage_batch=max_committed,
                    tail_version=tail_version,
                    tail_count=n_new,
                    compacted_upto=(state or {}).get("compacted_upto", -1),
                )
                old_tail = self._tail_dir(tail_version - 1)
                if tail_version > 1 and os.path.isdir(old_tail):
                    shutil.rmtree(old_tail, ignore_errors=True)
            elif stale and n_new == 0:
                self._write_state(
                    sink_hwm=sink_hwm,
                    lineage_batch=max_committed,
                    tail_version=None,
                    tail_count=0,
                    compacted_upto=(state or {}).get("compacted_upto", -1),
                )
            return {
                "indexed": 0, "staged_tail": n_new,
                "num_docs": n_existing, "scan": scan,
            }

        first_chunk = n_existing // cfg.chunk_docs
        last_chunk = (n_index_to + cfg.chunk_docs - 1) // cfg.chunk_docs
        batch_id = (max_committed + 1) if committed else 0

        # dense ids continue from n_existing, (repo,path,commit)-ordered
        # within the increment (assign_doc_ids' partition-offset scheme).
        # The increment is SNAPSHOTTED to parquet before the docs-table
        # append: appending to docs/ invalidates its file-listing cache,
        # so any later re-evaluation of the anti-join lineage would see
        # the just-appended rows and silently empty the increment.
        assigned = assign_doc_ids(new)
        incr = (
            assigned
            .where(F.col("doc_id") < n_take)
            .withColumn("doc_id", F.col("doc_id") + F.lit(n_existing))
        )
        inc_path = os.path.join(
            self.staging_dir, "increments", f"batch={batch_id}"
        )
        incr.write.mode("overwrite").parquet(inc_path)
        # the sub-chunk remainder becomes the next increment's tail — also
        # snapshotted now, before docs/ mutates under the lineage
        tail_count = n_new - n_take
        corpus_cols = [c for c in new.columns]
        tail_version += 1
        if tail_count > 0:
            # (an empty tail skips the write entirely — state records
            # tail_count=0 and every tail reader gates on it, so the
            # absent dir is never opened; a final-advance wave saves a
            # full re-evaluation of the increment here)
            assigned.where(F.col("doc_id") >= n_take).select(
                *corpus_cols
            ).write.mode("overwrite").parquet(self._tail_dir(tail_version))
        snap = self.spark.read.parquet(inc_path)
        # one aggregate job serves both the key-range _run_batch needs
        # and the snapshot row-count gate (no separate .count())
        kb = snap.agg(
            F.min(F.struct(*SORT_KEYS)).alias("lo"),
            F.max(F.struct(*SORT_KEYS)).alias("hi"),
            F.count("*").alias("n"),
        ).head()
        if int(kb.n) != n_take:
            raise RuntimeError("increment snapshot row-count mismatch")
        snap.select(
            "doc_id", "repo", "path", "commit", "lang", "sha256"
        ).write.mode("append").parquet(store.docs_path)
        # footer-metadata gate — no Spark job
        n_after = store.parquet_rows(store.docs_path)
        if n_after != n_index_to:
            raise RuntimeError(
                f"streaming docs append corrupted: expected {n_index_to} "
                f"rows, found {n_after}"
            )
        metric = self.builder._run_batch(
            snap.drop("doc_id", "sha256"),
            snap.select("doc_id", *SORT_KEYS),
            (kb.lo, kb.hi, int(kb.n)),
            batch_id,
            first_chunk,
            last_chunk,
        )
        # O(increment + vocab): fold just this batch into stats/term_stats
        # (full finalize() would re-aggregate every batch per advance).
        # The upsert tombstone write touches neither stats table and BM25
        # keeps pre-delete stats until compact() anyway, so it runs as a
        # concurrent job; a failure of either side surfaces before the
        # state write below commits the increment as consumed.
        superseded = 0
        if upsert:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(2) as pool:
                f_stats = pool.submit(
                    self.builder.finalize_incremental, metric["batch_id"]
                )
                f_sup = pool.submit(
                    self.builder.supersede_old_versions,
                    within=snap.select("repo", "path"),
                )
                stats = f_stats.result()
                superseded = f_sup.result()["deleted"]
        else:
            stats = self.builder.finalize_incremental(metric["batch_id"])
        self._write_state(
            sink_hwm=sink_hwm,
            lineage_batch=batch_id,
            tail_version=tail_version,
            tail_count=tail_count,
            compacted_upto=(state or {}).get("compacted_upto", -1),
        )
        # old tail snapshots are no longer referenced by any state
        old_tail = self._tail_dir(tail_version - 1)
        if tail_version > 1 and os.path.isdir(old_tail):
            shutil.rmtree(old_tail, ignore_errors=True)
        return {
            "indexed": n_take,
            "staged_tail": tail_count,
            "num_docs": int(stats["num_docs"]),
            "superseded": superseded,
            "batch": metric,
            "scan": scan,
        }

    def _lineage_doc_count(self) -> int:
        """Ids covered by committed lineage (driver-side metadata read,
        no Spark job).  Lineage ``n_docs`` means ids ALLOCATED, so the
        sum equals ``docs.count()`` across deletes and purges."""
        return sum(
            int(r["n_docs"] or 0)
            for r in self.builder.store.committed_lineage(["n_docs"])
        )
