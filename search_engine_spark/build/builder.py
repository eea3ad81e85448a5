"""Batched, checkpoint-resumable index build.

Pipeline per batch of doc-id chunks (SURVEY.md §3.4):

``docs slice → mapInPandas(tokenize + local partial postings)
→ groupBy(term, chunk_id).applyInPandas(merge + delta/varbyte encode +
block max-score metadata) → write postings/batch=K partitioned by term
bucket → commit lineage row``

* The ``(term, chunk_id)`` grouping key is the explicit doc-range salt:
  a high-DF term is merged by many independent tasks whose outputs are
  doc-range-disjoint, so reading them back in chunk order reconstructs the
  docID-sorted posting list (distributed mirror of the reference's
  disjoint-block concat, ``ingestion.py:473-485``).
* Batch boundaries align with chunk boundaries, so a batch never rewrites
  another batch's (term, chunk) rows — resume is append-only.  A batch is
  visible only after its lineage row commits (Iceberg-snapshot-style
  gating, see ``sources/index_store.py``).
* ``finalize()`` (re)computes the collection stats + term_stats tables
  from committed data; it is idempotent and safe to re-run after resume.
  ``finalize_incremental()`` folds one new batch in through the same
  writer (``_finalize``).
* Layout params come from the index's ``meta.json`` once it exists (the
  store adopts it at open); the caller's config only lays out a new index.

Build metrics (docs/sec, postings/sec, bytes compressed) are recorded per
batch in the lineage table.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.build.kernels import (
    make_merge_stream_fn,
    make_partials_mapper,
)
from search_engine_spark.sources.corpus import assign_doc_ids
from search_engine_spark.sources.index_store import (
    IndexStore,
    PARTIALS_SCHEMA,
    POSTINGS_SCHEMA,
)

_COUNT_KEYS = ("n_docs", "n_postings", "n_rows_out", "bytes_postings")


def _posting_counts() -> list:
    """Lineage metric aggregates over a written postings batch: the
    reserved-term "" rows carry per-chunk doc counts (df), every other
    row is a (term, chunk) posting row."""
    is_post = F.col("term") != ""
    return [
        F.count(F.when(is_post, 1)).alias("n_rows_out"),
        F.sum(F.when(is_post, F.col("df"))).alias("n_postings"),
        F.sum(
            F.when(
                is_post,
                F.length("doc_ids")
                + F.length("tfs_body")
                + F.length("tfs_title")
                + F.length("pos_body")
                + F.length("pos_title"),
            )
        ).alias("bytes_postings"),
        F.sum(F.when(~is_post, F.col("df"))).alias("n_docs"),
    ]


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig | None = None,
        title_col: str = "path",
        body_col: str = "content",
    ):
        self.spark = spark
        self.store = IndexStore(spark, index_dir, config or EngineConfig())
        self.title_col = title_col
        self.body_col = body_col

    @property
    def config(self) -> EngineConfig:
        """The store's config: an existing index's layout wins."""
        return self.store.config

    # ----- phase A: docs table (doc ids + sha256 + lengths) -----

    def build_docs(self, corpus: DataFrame) -> None:
        """Dense doc_id assignment + sha256 + tokenized lengths -> docs/."""
        if os.path.isdir(self.store.docs_path):
            return  # phase A is itself a checkpoint
        self.store.write_meta()  # pin layout params for every later opener
        n_in = corpus.count()
        # n_in sizes the range partitions so each per-partition id sort
        # stays in-memory regardless of corpus size (see assign_doc_ids).
        # sha256 is a per-row map — computing it BEFORE the id shuffle and
        # dropping content means the range shuffle + persist move ~150-byte
        # key rows, not whole documents (the docs table never stores
        # content; the batch phase re-reads it from the corpus source).
        slim = corpus.select(
            "repo", "path", "commit", "lang",
            F.sha2(F.col(self.body_col), 256).alias("sha256"),
        )
        with_ids = assign_doc_ids(slim, n_rows=n_in, trust_sha256=True)
        # doc/title token lengths are NOT computed here — the batch phase
        # tokenizes exactly once and emits them through the posting
        # shuffle as reserved-term "" rows (build/kernels.py)
        (
            with_ids.select(
                "doc_id", "repo", "path", "commit", "lang", "sha256"
            )
            .write.mode("error")
            .parquet(self.store.docs_path)
        )
        # id-assignment integrity: duplicated/dropped ids would silently
        # corrupt every downstream posting (see assign_doc_ids docstring);
        # the written files' footers hold the count, so no Spark job
        n_out = self.store.parquet_rows(self.store.docs_path)
        if n_out != n_in:
            raise RuntimeError(
                f"doc-id assignment corrupted: {n_in} corpus rows -> "
                f"{n_out} docs rows"
            )

    # ----- phase B: batched postings -----

    def _batch_ranges(self, num_docs: int) -> list[tuple[int, int, int]]:
        """[(batch_id, first_chunk, last_chunk_exclusive)] covering all docs."""
        cfg = self.config
        docs_per_batch = cfg.chunk_docs * cfg.chunks_per_batch
        n_batches = (num_docs + docs_per_batch - 1) // docs_per_batch
        return [
            (b, b * cfg.chunks_per_batch, (b + 1) * cfg.chunks_per_batch)
            for b in range(n_batches)
        ]

    def build_postings(
        self,
        corpus: DataFrame,
        resume: bool = True,
        max_batches: int | None = None,
    ) -> list[dict]:
        """Runs all (remaining) batches; returns per-batch metric dicts.

        Per-batch input slicing is by *sort-key range*, not a full-corpus
        join: the docs table provides each batch's (repo, path, commit)
        bounds (one tiny driver-side agg), the corpus scan is filtered to
        that range (the ``repo`` bounds push down to parquet/Iceberg
        min-max file pruning on a sorted layout), and only the batch slice
        joins against the docs slice to pick up doc ids.  Cost per batch is
        O(batch), not O(corpus) — at 10^12 files the difference is the
        build being feasible at all.
        """
        cfg = self.config
        docs = self.store.read_docs().select("doc_id", "repo", "path", "commit")
        docs_per_batch = cfg.chunk_docs * cfg.chunks_per_batch
        bounds = {
            int(r.b): (r.lo, r.hi, int(r.n))
            for r in docs.groupBy(
                (F.col("doc_id") / docs_per_batch).cast("long").alias("b")
            )
            .agg(
                F.min(F.struct("repo", "path", "commit")).alias("lo"),
                F.max(F.struct("repo", "path", "commit")).alias("hi"),
                F.count("*").alias("n"),
            )
            .collect()
        }
        num_docs = sum(n for _, _, n in bounds.values())
        done = set(self.store.committed_batches()) if resume else set()
        todo = [
            (batch_id, first_chunk, last_chunk)
            for batch_id, first_chunk, last_chunk in self._batch_ranges(
                num_docs
            )
            if batch_id not in done
        ]
        if max_batches is not None:
            todo = todo[:max_batches]
        conc = max(1, cfg.build_concurrency)
        if conc == 1 or len(todo) <= 1:
            return [
                self._run_batch(corpus, docs, bounds[b], b, fc, lc)
                for b, fc, lc in todo
            ]
        # Pipelined batches: each batch writes only its own
        # postings/batch=K dir, so independent
        # batches can run as concurrent Spark jobs and fill scheduler
        # slots a single batch's shuffle leaves idle (measured at 5.12M
        # docs: 5 serial default-size batches reached 22.8k docs/s vs
        # 63.9k for one giant batch; concurrency recovers the gap WITHOUT
        # giving up per-batch commit/resume granularity).  The shared
        # lineage table is the one commit point — its tiny append is
        # serialized by IndexStore.append_lineage.  Failure semantics are
        # unchanged: an uncommitted batch is simply re-run on resume,
        # whatever other batches committed around it.
        with ThreadPoolExecutor(conc) as pool:
            futs = [
                pool.submit(
                    self._run_batch, corpus, docs, bounds[b], b, fc, lc
                )
                for b, fc, lc in todo
            ]
            return [f.result() for f in futs]

    def _run_batch(
        self,
        corpus: DataFrame,
        docs: DataFrame,
        key_bounds: tuple,
        batch_id: int,
        first_chunk: int,
        last_chunk: int,
    ) -> dict:
        cfg = self.config
        t0 = time.time()
        lo = first_chunk * cfg.chunk_docs
        hi = last_chunk * cfg.chunk_docs
        klo, khi, _n = key_bounds
        # pushable prefix bound on repo, then the exact struct-tuple bound
        corpus_slice = corpus.where(
            (F.col("repo") >= klo.repo) & (F.col("repo") <= khi.repo)
        ).where(
            (F.struct("repo", "path", "commit") >= F.struct(F.lit(klo.repo), F.lit(klo.path), F.lit(klo.commit)))
            & (F.struct("repo", "path", "commit") <= F.struct(F.lit(khi.repo), F.lit(khi.path), F.lit(khi.commit)))
        )
        docs_slice = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        # The docs side is small enough to broadcast, so the join output
        # inherits the corpus slice's partitioning — if the input arrives
        # in few partitions (single file, coalesced upstream), the whole
        # tokenize stage would run on those few Python workers.  Spread the
        # slice to full parallelism first; the extra round-robin shuffle of
        # one batch's raw text is noise next to serial tokenization.
        n_parts = self.spark.sparkContext.defaultParallelism
        if corpus_slice.rdd.getNumPartitions() < n_parts:
            corpus_slice = corpus_slice.repartition(n_parts)
        batch_docs = corpus_slice.join(
            docs_slice, ["repo", "path", "commit"]
        ).select(
            "doc_id",
            F.col(self.title_col).alias("title"),
            F.col(self.body_col).alias("body"),
        )

        partials = batch_docs.mapInPandas(
            make_partials_mapper(cfg.tokenizer, cfg.chunk_docs), PARTIALS_SCHEMA
        )
        # merge = shuffle on (term, chunk_id) + in-partition sorted group
        # stream (see make_merge_stream_fn; the chunk key is the doc-range
        # salt bounding any one task's share of a skewed term)
        n_merge_parts = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        postings = (
            partials.repartition(n_merge_parts, "term", "chunk_id")
            .sortWithinPartitions("term", "chunk_id")
            .mapInPandas(
                make_merge_stream_fn(cfg.block_docs, cfg.n_term_buckets),
                POSTINGS_SCHEMA,
            )
        )
        # batch metrics ride the write job as observed aggregates — a
        # separate metrics pass would re-read the whole batch output
        # (O(batch) scan per batch: the Amdahl term at streaming scale)
        obs = Observation(f"batch_{batch_id}_metrics")
        (
            postings.observe(obs, *_posting_counts())
            .repartition("bucket")
            .sortWithinPartitions("term", "chunk_id")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#term", "true")
            .partitionBy("bucket")
            .parquet(self.store.postings_batch_path(batch_id))
        )
        agg = obs.get
        metric = {
            "batch_id": batch_id,
            "first_chunk": first_chunk,
            "last_chunk": last_chunk,
            **{k: int(agg[k] or 0) for k in _COUNT_KEYS},
            "wall_sec": time.time() - t0,
            "input_fingerprint": f"doc_id:[{lo},{hi})",
            "engine_version": "0.1.0",
        }
        # lineage commit LAST — makes the batch visible
        self.store.append_lineage(metric)
        return metric

    # ----- finalize: collection stats + term stats -----

    def finalize(self) -> dict:
        """Recompute stats + term_stats from every committed batch
        (idempotent; O(index))."""
        return self._finalize()

    def finalize_incremental(self, batch_id: int) -> dict:
        """Fold ONE new batch into stats + term_stats in O(increment +
        vocabulary) instead of :meth:`finalize`'s O(index) re-aggregation
        — the per-increment cost that matters for streaming ingest at
        10^12-file scale, where re-scanning every batch's doc lengths and
        the full postings table per advance() would dwarf the increment.

        * collection stats: the persisted exact int sums (``sum_doc_len``
          etc.) are advanced by the increment's aggregates; averages stay
          bit-equal to a full recompute (one int-sum / count division).
        * term_stats: the increment batch's (bucket, term) contributions
          are merged with the existing table by a union + groupBy-sum
          (vocabulary-sized shuffle, not postings-sized).

        Both go through :meth:`_finalize`, the one stats/term_stats
        writer, inside a pending-finalize marker: a crash anywhere inside
        fails engine opens loudly and :meth:`repair_pending_finalize`
        rebuilds via the full :meth:`finalize`.  Falls back to the full
        path when the stats file predates the persisted sums, and — via
        the ``ids_covered`` allocated-id stamp — when the stats base is
        STALE (see ``_finalize``)."""
        if not os.path.isdir(self.store.stats_path):
            return self.finalize()
        old = self.store.read_stats()
        if old.get("sum_doc_len") is None:
            return self.finalize()  # pre-r4 stats file: one full pass
        return self._finalize(
            batch_id, old, marker={"batch_id": batch_id, "incremental": True}
        )

    def _finalize(
        self,
        batch_id: int | None = None,
        old: dict | None = None,
        marker: dict | None = None,
    ) -> dict:
        """The one stats + term_stats writer.  Without ``old`` it
        aggregates every committed batch; with ``old`` (the current stats
        row) it folds only ``batch_id`` onto it and unions the batch's
        term contributions with the live term_stats table.  term_stats is
        always written to a staging dir and swapped in, so the live table
        is never half-written.  ``marker`` (a pending-finalize payload)
        brackets the whole update."""
        lineage = self.store.committed_lineage(
            ["batch_id", "n_postings", "n_docs"]
        )
        # total postings + allocated-id coverage come from the committed
        # lineage sums (replaced pre-compaction rows would double-count) —
        # no postings scan.  ``ids_covered`` (== docs.count() across
        # deletes AND purges — n_docs means ids ALLOCATED) stamps which
        # lineage these stats reflect.
        ids_total = sum(int(r["n_docs"] or 0) for r in lineage)
        if old is not None and (
            old.get("ids_covered") != ids_total - sum(
                int(r["n_docs"] or 0)
                for r in lineage
                if r["batch_id"] == batch_id
            )
            or os.path.exists(self.store.pending_finalize_path)
        ):
            # stale base: a crash between _run_batch's lineage append
            # (batch visible) and a fold's marker left stats silently
            # missing a batch, a pre-r5 stats file lacks the stamp, or a
            # crashed writer's marker is still on disk (its stats may be
            # half-folded).  Folding onto it would compound the error
            # permanently — rebuild in full instead, marker-bracketed.
            old = None
            marker = {**marker, "stale_base": True}
        batches = (
            sorted(r["batch_id"] for r in lineage)
            if old is None
            else [batch_id]
        )
        base = old or dict.fromkeys(
            ("num_docs", "sum_doc_len", "sum_title_len", "max_doc_len",
             "max_title_len"),
            0,
        )
        live = self.store.term_stats_path
        staging, retired = live + ".staging", live + ".retired"

        def _stats() -> dict:
            raw = (
                self.store.read_doc_lens(batches)
                .agg(
                    F.count("*").alias("num_docs"),
                    F.sum("doc_len").alias("sum_doc_len"),
                    F.sum("title_len").alias("sum_title_len"),
                    F.max("doc_len").alias("max_doc_len"),
                    F.max("title_len").alias("max_title_len"),
                )
                .head()
            )
            num_docs = int(base["num_docs"]) + int(raw.num_docs)
            sum_dl = int(base["sum_doc_len"]) + int(raw.sum_doc_len or 0)
            sum_tl = int(base["sum_title_len"]) + int(raw.sum_title_len or 0)
            # averages as exact-int-sum / count (one float division) — the
            # reference computes cumulative int sums then divides
            # (ingestion.py:899-910), and rank-identity requires bit-equal
            # avg lengths in the BM25 denominator; Spark's float `avg`
            # would differ in the last ulp with partition summation order.
            stats = {
                "num_docs": num_docs,
                "avg_doc_len": sum_dl / num_docs if num_docs else 0.0,
                "avg_title_len": sum_tl / num_docs if num_docs else 0.0,
                "max_doc_len": max(
                    int(base["max_doc_len"]), int(raw.max_doc_len or 0)
                ),
                "max_title_len": max(
                    int(base["max_title_len"]), int(raw.max_title_len or 0)
                ),
                # exact int sums persisted so a fold can advance them
                # without re-reading every batch's doc lengths
                "sum_doc_len": sum_dl,
                "sum_title_len": sum_tl,
                "total_postings": sum(
                    int(r["n_postings"] or 0) for r in lineage
                ),
                "ids_covered": ids_total,
            }
            self.spark.createDataFrame([stats]).coalesce(1).write.mode(
                "overwrite"
            ).parquet(self.store.stats_path)
            return stats

        def _term_stats() -> None:
            ts = (
                self.store.read_postings(batches)
                .where(F.col("term") != "")
                .groupBy("bucket", "term")
                .agg(
                    F.sum("df").cast("long").alias("df"),
                    F.count("*").alias("n_chunks"),
                )
            )
            if old is not None:
                ts = (
                    self.store.read_term_stats()
                    .unionByName(ts)
                    .groupBy("bucket", "term")
                    .agg(
                        F.sum("df").cast("long").alias("df"),
                        F.sum("n_chunks").alias("n_chunks"),
                    )
                )
            shutil.rmtree(staging, ignore_errors=True)
            (
                ts.repartition("bucket")
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(staging)
            )

        with (
            self.store.pending_finalize(marker)
            if marker
            else contextlib.nullcontext()
        ):
            # the two halves write disjoint tables (stats vs term_stats
            # staging) from disjoint inputs — run them as concurrent
            # Spark jobs; both must succeed before the swap commits
            # term_stats, and the marker covers a failure of either
            with ThreadPoolExecutor(2) as pool:
                f_stats = pool.submit(_stats)
                f_ts = pool.submit(_term_stats)
                stats = f_stats.result()
                f_ts.result()
            # a crashed earlier swap may have left the live dir retired
            shutil.rmtree(retired, ignore_errors=True)
            if os.path.isdir(live):
                os.rename(live, retired)
            os.rename(staging, live)
            shutil.rmtree(retired, ignore_errors=True)
        return stats

    # ----- deletion: tombstones now, physical purge at compaction -----

    def delete_docs(self, doc_ids) -> dict:
        """Mark docs deleted by id (an iterable of ints or a DataFrame
        with a ``doc_id`` column).  Deletion is LOGICAL and immediate for
        readers opened afterwards: a tombstone row is appended and query
        kernels exclude the ids (scores keep the global collection stats
        — post-hoc-restriction semantics, same contract as ``doc_filter``).
        :meth:`compact` physically purges tombstoned entries and
        recomputes stats/term_stats (Lucene segment-merge / Iceberg
        delete-file semantics).  Doc ids are never reused: the docs table
        keeps the tombstoned rows so streaming appends keep assigning
        fresh dense ids."""
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(F.col("doc_id").cast("long"))
        else:
            ids = [(int(i),) for i in doc_ids]
            df = self.spark.createDataFrame(ids, "doc_id long")
        df = df.distinct()
        n = df.count()
        if n:
            df.coalesce(1).write.mode("append").parquet(
                self.store.tombstones_path
            )
        return {"deleted": int(n)}

    def delete_where(self, predicate) -> dict:
        """Tombstone every doc whose docs-table metadata row (repo, path,
        commit, lang) satisfies ``predicate`` (a Column)."""
        return self.delete_docs(
            self.store.read_docs().where(predicate).select("doc_id")
        )

    def supersede_old_versions(
        self, keys: tuple = ("repo", "path"), within: DataFrame | None = None
    ) -> dict:
        """Tombstone every docs-table row that is not the NEWEST version
        of its logical document — the upsert primitive.  A document's
        identity is its ``keys`` tuple (default ``(repo, path)``); a
        re-ingested version arrives with a new ``commit`` and, because
        doc ids are dense arrival order, the newest version is the max
        doc_id of the group (two versions inside one increment resolve
        the same way).  ``within`` (a DataFrame carrying the key columns,
        e.g. one increment's docs) restricts the sweep to the touched
        keys — broadcast-joined, so an upsert-ingest pays O(increment),
        not O(corpus); without it the full table is reconciled (repair /
        bulk dedup of versions).  Already-tombstoned rows are skipped so
        repeated calls don't grow the tombstone log.  Idempotent; purge
        happens at :meth:`compact` like any deletion."""
        docs = self.store.read_docs().select("doc_id", *keys)
        if within is not None:
            docs = docs.join(
                F.broadcast(within.select(*keys).distinct()),
                list(keys),
                "left_semi",
            )
        from pyspark.sql import Window

        w = Window.partitionBy(*keys)
        old = (
            docs.withColumn("_mx", F.max("doc_id").over(w))
            .where(F.col("doc_id") < F.col("_mx"))
            .select("doc_id")
        )
        tomb = self.store.read_tombstones()
        if tomb is not None:
            old = old.join(tomb, "doc_id", "left_anti")
        return self.delete_docs(old)

    # ----- compaction: many small batches -> one (streaming aftermath) --

    def compact(self) -> dict:
        """Rewrite all committed batches into ONE batch — applying any
        pending tombstones physically — and commit it by appending a
        lineage row whose ``replaces`` column lists the old batch ids:
        the same atomic append-commit point ``_run_batch`` uses, so
        readers switch from the old batches to the compacted one in a
        single step (Iceberg snapshot-replace semantics).  The old dirs
        stay on disk, invisible, until :meth:`vacuum`.

        Why: incremental streaming ingestion leaves one batch dir per
        ``advance()``; every query scan then lists batches x buckets
        directories of small files.  At 10^4 increments the file listing
        dominates query planning — compaction restores the one-dir,
        bucket-partitioned, term-sorted layout (bloom + min/max intact)
        of a fresh batch build.  Without tombstones query results are
        identical (batches are chunk-range disjoint, so compaction moves
        rows, never merges them).  With tombstones the deleted docs are
        purged from postings (their "" doc-length rows included) and the
        collection/term stats are recomputed (:meth:`finalize`), so
        post-compaction scores equal a fresh build over the surviving
        corpus — while doc ids stay the original dense ids (never reused;
        the docs table keeps the tombstoned rows).  Purge cost is
        deletion-proportional: only chunks containing a deleted doc go
        through the decode/re-encode kernel, every other chunk's rows are
        moved JVM-side untouched.
        Single writer assumed (like all builder mutations)."""
        from search_engine_spark.build.kernels import make_purge_fn

        t0 = time.time()
        self.repair_pending_finalize()
        lineage = self.store.committed_lineage(
            ["batch_id", "first_chunk", "last_chunk", *_COUNT_KEYS]
        )
        committed = sorted(r["batch_id"] for r in lineage)
        tomb = self.store.read_tombstones()
        if tomb is not None and tomb.isEmpty():
            tomb = None
        if len(committed) <= 1 and tomb is None:
            return {"compacted": False, "batches": committed}
        # the newest row is never a replaced one: a compaction row takes
        # the next id above every batch it replaces
        new_id = committed[-1] + 1
        sums = {k: sum(int(r[k] or 0) for r in lineage) for k in _COUNT_KEYS}

        postings = self.store.read_postings(committed)
        n_deleted = 0
        if tomb is not None:
            n_deleted = tomb.count()
            by_chunk = self.store.ids_by_chunk(
                tomb, "deleted_ids"
            ).localCheckpoint()  # tiny; referenced by 3 plans below
            chunks = by_chunk.select("chunk_id")
            untouched = postings.join(chunks, "chunk_id", "left_anti")
            purged = (
                postings.join(chunks, "chunk_id", "left_semi")
                .groupby("chunk_id")
                .cogroup(by_chunk.groupby("chunk_id"))
                .applyInPandas(
                    make_purge_fn(
                        self.config.block_docs, self.config.n_term_buckets
                    ),
                    POSTINGS_SCHEMA,
                )
            )
            postings = untouched.unionByName(purged)
        # Output file sizing: hash-repartitioning on bucket alone writes
        # ONE file per bucket, and at B-posting scale a ~GB file per
        # bucket costs query-scan parallelism and row-group selectivity
        # (measured at 2.15B postings: headline p50 4.6 s on the
        # batch-granular layout vs 5.7 s on one-file-per-bucket).  Range
        # partitioning on (bucket, term, chunk_id) keeps every file
        # term-sorted inside its bucket dir (min/max + bloom pruning
        # intact) while splitting each bucket into ~128 MB files, sized
        # from the lineage byte sum the same way id assignment sizes its
        # sort partitions.
        n_out = max(
            self.spark.sparkContext.defaultParallelism,
            -(-sums["bytes_postings"] // (128 << 20)),
        )
        (
            postings.repartitionByRange(n_out, "bucket", "term", "chunk_id")
            .sortWithinPartitions("term", "chunk_id")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#term", "true")
            .partitionBy("bucket")
            .parquet(self.store.postings_batch_path(new_id))
        )
        # every surviving chunk's "" doc-length row moved with it
        # (untouched, or re-encoded by the purge)
        if tomb is not None:
            # purged sums differ from the replaced rows' — recount from
            # the written batch (metadata-cheap aggregate scan).  n_docs
            # stays the replaced rows' sum: lineage n_docs means "doc ids
            # COVERED/ALLOCATED by this batch" (ids are dense and never
            # reused; the docs table keeps tombstoned rows), so the
            # streaming torn-increment gate's identity
            # docs.count() == sum(lineage n_docs) survives purges.
            agg = (
                self.spark.read.parquet(self.store.postings_batch_path(new_id))
                .agg(*_posting_counts())
                .head()
            )
            sums.update(
                {k: int(agg[k] or 0) for k in _COUNT_KEYS if k != "n_docs"}
            )
        metric = {
            "batch_id": new_id,
            "first_chunk": min(int(r["first_chunk"]) for r in lineage),
            "last_chunk": max(int(r["last_chunk"]) for r in lineage),
            **sums,
            "wall_sec": time.time() - t0,
            "input_fingerprint": f"compaction:{committed}|purged:{n_deleted}",
            "engine_version": "0.1.0",
            "replaces": committed,
        }
        if tomb is None:
            # append = the commit; a crash before this leaves invisible
            # orphan dirs (vacuum removes them), after it a consistent
            # index
            self.store.append_lineage(metric)
        else:
            # a purge changes collection stats, and the lineage append is
            # the visibility switch: a crash between the two would leave
            # purged postings scoring with stale pre-purge stats.  The
            # marker makes that window detectable — engines refuse to
            # open on it, and the next builder repairs by re-running
            # finalize() (idempotent either side of the append).
            with self.store.pending_finalize({"batch_id": new_id}):
                self.store.append_lineage(metric)
                # finalize() takes total_postings from the committed
                # lineage, which is now the recounted compaction row
                self.finalize()
                # tombstones are applied — retire them.  A crash between
                # the lineage commit and this rmtree is safe: the ids are
                # already absent from postings, so the logical exclusion
                # no-ops and the next compact() re-applies cleanly.
                shutil.rmtree(self.store.tombstones_path, ignore_errors=True)
        return {
            "compacted": True,
            "batch_id": new_id,
            "replaced": committed,
            "purged_docs": n_deleted,
        }

    def repair_pending_finalize(self) -> bool:
        """Recover from a crash inside a marker-bracketed stats update (a
        purging :meth:`compact` or a streaming fold): if the
        ``_finalize_pending`` marker is on disk, stats/term_stats may not
        match the visible postings — re-run :meth:`finalize` (idempotent
        whether the crash hit before or after the lineage append: it
        recomputes from whatever is committed, and its staged term_stats
        swap retires any half-swapped leftovers) and clear the marker.
        Called automatically at the start of :meth:`compact`; engines
        refuse to open while the marker exists."""
        if not os.path.exists(self.store.pending_finalize_path):
            return False
        self.finalize()
        os.remove(self.store.pending_finalize_path)
        return True

    def vacuum(self) -> dict:
        """Delete batch dirs no committed lineage row references —
        pre-compaction data and crash-orphaned writes — and the
        ``doclens/`` copies of doc lengths older indexes wrote, which no
        reader opens.  Run only while no build/ingest is in flight (an
        uncommitted in-progress batch looks identical to an orphan)."""
        keep = set(self.store.committed_batches())
        removed = []
        base = self.store.dir / "postings"
        for d in base.iterdir() if base.is_dir() else ():
            if not d.name.startswith("batch="):
                continue
            if int(d.name.split("=", 1)[1]) not in keep:
                shutil.rmtree(str(d))
                removed.append(str(d))
        legacy = self.store.dir / "doclens"
        if legacy.is_dir():
            shutil.rmtree(str(legacy))
            removed.append(str(legacy))
        return {"removed_dirs": removed}

    def verify_corpus(self, corpus: DataFrame) -> dict:
        """Per-row content sha256 equality between the docs table and the
        source corpus (north-rule invariant).  Returns mismatch counts —
        all zero on a healthy index."""
        src = corpus.select(
            "repo", "path", "commit",
            F.sha2(F.col(self.body_col), 256).alias("src_sha"),
        )
        docs = self.store.read_docs().select(
            "repo", "path", "commit", "sha256"
        )
        joined = docs.join(src, ["repo", "path", "commit"], "full_outer")
        row = joined.agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("sha256").isNull() | F.col("src_sha").isNull(), 1
                ).otherwise(0)
            ).alias("missing"),
            F.sum(
                F.when(F.col("sha256") != F.col("src_sha"), 1).otherwise(0)
            ).alias("sha_mismatch"),
        ).head()
        return {
            "rows": int(row.n),
            "missing": int(row.missing or 0),
            "sha_mismatch": int(row.sha_mismatch or 0),
        }

    def build_trigrams(self) -> None:
        """Optional vocabulary trigram table for spelling correction
        (reference ingestion.py:225-333)."""
        from search_engine_spark.query.spelling import build_trigram_table

        build_trigram_table(self.store)

    def build_all(
        self,
        corpus: DataFrame,
        resume: bool = True,
        trigrams: bool = False,
    ) -> dict:
        self.build_docs(corpus)
        self.build_postings(corpus, resume=resume)
        stats = self.finalize()
        if trigrams:
            self.build_trigrams()
        return stats
