"""Distributed query execution over a built index.

``SearchEngine`` is the query-side public API (reference counterpart:
``InvertedIndex.search``, ``/root/reference/search_engine/
inverted_index.py:1845-1866``).  Every query takes one entry path:
``_compile_many`` (a single query is a batch of one) → ``execute``, whose
postings scan ``_cogroup`` is shared with facets and rerank.  One query
(or a batch of queries — they share the scan) executes as:

``driver: tokenize → spelling (one job per batch, only on OOV tokens)``
``        → term-stats lookup (pyarrow, no Spark job) → compile``
``cluster: pruned postings scan  ⟂cogroup⟂  doc lengths (cached)``
``        → applyInPandas(chunk kernel: decode + set algebra + BM25 +``
``          block-max WAND + chunk top-k)``
``        → global top-k (TakeOrderedAndProject / ranked window)``

Scan properties (checked in tests via ``explain``): the postings read is
pruned to the query terms' hash-bucket partitions, ``term IN (...)`` is
pushed to parquet (postings carry bloom filters on ``term``), and only
the columns the query needs are read — position columns only for phrase
queries, block metadata only for WAND-eligible ones.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.config import EngineConfig
from search_engine_spark.functions.tokenizer import get_tokenizer
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.kernels import RESULT_SCHEMA, make_query_kernel
from search_engine_spark.query.plan import CompiledQuery, EMPTY, compile_query
from search_engine_spark.sources.index_store import (
    _LRU,
    DOC_INFO_COLS,
    IndexStore,
    term_bucket,
)


def _apply_per_qid_limit(
    ranked: DataFrame, n_return: dict[int, int]
) -> DataFrame:
    """Filter ``rank <= num_return[qid]`` honouring each query's own k in
    a heterogeneous batch (a single global max would hand small-k queries
    the large-k row count).  Uniform batches stay a plain literal;
    moderate batches use a map expression; large offline batches
    broadcast-join a (qid, k) lookup instead of growing a
    thousands-of-literals expression."""
    ns = set(n_return.values())
    if len(ns) == 1:
        return ranked.where(F.col("rank") <= F.lit(ns.pop()))
    if len(n_return) <= 64:
        pairs = [F.lit(x) for q, n in n_return.items() for x in (q, n)]
        limit = F.element_at(F.create_map(*pairs), F.col("qid"))
        return ranked.where(F.col("rank") <= limit)
    lookup = ranked.sparkSession.createDataFrame(
        list(n_return.items()), "qid int, _n int"
    )
    return (
        ranked.join(F.broadcast(lookup), "qid")
        .where(F.col("rank") <= F.col("_n"))
        .drop("_n")
    )


_BASE_COLS = ["term", "chunk_id", "df", "doc_ids", "tfs_body", "tfs_title"]
_POS_COLS = ["pos_body", "pos_title"]
_BLK_COLS = [
    "blk_last_doc", "blk_max_tfb", "blk_max_tft", "blk_min_dl", "blk_min_tl"
]


def _pos_cols(live: list[CompiledQuery]) -> list[str]:
    """Position columns, read only when some plan needs them."""
    return _POS_COLS if any(p.needs_positions for p in live) else []


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig | None = None,
    ):
        self.spark = spark
        self.store = IndexStore(spark, index_dir, config or EngineConfig())
        # a pending finalize means stats may lag the visible postings —
        # fail loudly instead of mis-scoring
        self.store.check_no_pending_finalize()
        # layout params (bucket count, chunk size, tokenizer, ...) come from
        # the index itself — a mismatch would empty every pruned lookup
        self.config = self.store.config
        self.stats = self.store.read_stats()
        self._kernel_stats = {
            "num_docs": int(self.stats["num_docs"]),
            "avg_doc_len": float(self.stats["avg_doc_len"]),
            "avg_title_len": float(self.stats["avg_title_len"]),
            "max_doc_len": int(self.stats["max_doc_len"]),
            "max_title_len": int(self.stats["max_title_len"]),
        }
        self._tokenize = get_tokenizer(self.config.tokenizer)
        # resolve committed batches once; re-open an engine to see new data.
        # postings are deliberately NOT cached: a blanket cache would turn
        # every query into an InMemoryTableScan of the full table (no
        # partition/bloom/column pruning) and at 10^12-file scale the table
        # cannot be materialized; the parquet scan with pushed filters IS
        # the fast path.  The per-chunk doc lengths (the postings' ""
        # rows, O(num_docs/chunk_docs)) are cached.
        self._postings = self.store.read_postings()
        self._doclens = self.store.read_doclens().cache()
        # the docs table is append-only, so pinning its file listing here
        # matches the pinned batch list; resolving it once also spares
        # every doc-info / filter / facet call a schema-inference job
        self.docs = self.store.read_docs()
        # attach_doc_info's caches, 2^16 hit docs each (shared by serve's
        # workers; the pinned snapshot keeps them fresh).  The snippet
        # cache is paired with the corpus that filled it and replaced for
        # another corpus.
        self._info = _LRU(1 << 16)
        self._snips: tuple = (None, None)
        self._snips_lock = threading.Lock()
        self._corrector = None
        # WAND skip-rate diagnostics: off by default (accumulator traffic
        # per task is tiny but nonzero); enable_wand_stats() turns it on
        self._wand_acc = None
        # pending tombstones (logical deletes awaiting compaction): one
        # sorted id array per touched chunk, left-joined onto the doc-length
        # cogroup side so the kernel drops the ids from the chunk's doc
        # space (ALL/NOT complement included).  O(touched chunks) rows,
        # resolved once per engine open like the batch list; scores keep
        # the global collection stats (post-hoc-restriction semantics)
        # until compact() purges physically and recomputes them.
        tomb = self.store.read_tombstones()
        self._deleted_by_chunk = None
        if tomb is not None:
            by_chunk = self.store.ids_by_chunk(tomb, "deleted_ids").cache()
            if not by_chunk.isEmpty():
                self._deleted_by_chunk = by_chunk

    # ----- spelling correction (reference Q23) -----

    def _correct_tokens(
        self, token_lists: list[list[str]], modes: list[SearchMode]
    ) -> list[list[str]]:
        """Replace out-of-vocabulary term tokens via the trigram funnel —
        the reference corrects inside ``get_docs`` on a df==0 miss
        (inverted_index.py:1107-1115); phrase fetches never correct
        (:1152-1184).  Every OOV token of the whole batch rides ONE
        ``correct_many`` job, not a job per query or token."""
        from search_engine_spark.plans.parser import PRECEDENCE
        from search_engine_spark.query.spelling import SpellingCorrector

        if self._corrector is None:
            if not os.path.isdir(str(self.store.dir / "trigrams")):
                return token_lists
            self._corrector = SpellingCorrector(self.spark, self.store)
        dfs = self.store.term_stats_for(
            [t for toks in token_lists for t in toks]
        )
        oov: list[tuple[int, int]] = []  # (query, token) positions
        for qi, (toks, mode) in enumerate(zip(token_lists, modes)):
            if mode == SearchMode.PHRASE:
                continue
            in_phrase = False
            for ti, t in enumerate(toks):
                if t == '"':
                    in_phrase = not in_phrase
                elif not (
                    in_phrase
                    or t in ("(", ")")
                    or t.upper() in PRECEDENCE
                    or dfs.get(t, 0) > 0
                ):
                    oov.append((qi, ti))
        if not oov:
            return token_lists
        fixes = self._corrector.correct_many(
            [token_lists[qi][ti] for qi, ti in oov]
        )
        out = [list(toks) for toks in token_lists]
        for qi, ti in oov:
            out[qi][ti] = fixes[out[qi][ti]]
        return out

    # ----- planning -----

    def _analyze(
        self, queries: list[tuple[str, SearchMode]]
    ) -> tuple[list[list[str]], dict[str, int]]:
        """Tokenize every query, correct OOV tokens (when spelling is on)
        and look up df once for the whole batch -> (token lists, dfs)."""
        token_lists = [self._tokenize(q) for q, _mode in queries]
        if self.config.enable_spelling:
            token_lists = self._correct_tokens(
                token_lists, [mode for _q, mode in queries]
            )
        # candidate terms for the stats lookup: every non-operator token
        # (operators that survive as terms just come back df=0, harmless)
        dfs = self.store.term_stats_for(
            [t for toks in token_lists for t in toks]
        )
        return token_lists, dfs

    def _compile_many(
        self,
        queries: list[tuple[str, SearchMode]],
        num_candidates: int | None = None,
        num_return: int | None = None,
        first_qid: int = 0,
    ) -> list[CompiledQuery]:
        """The one driver front end: plans for ``queries`` with qid =
        ``first_qid`` + position."""
        token_lists, dfs = self._analyze(queries)
        return [
            compile_query(
                toks, mode, dfs, self._kernel_stats["num_docs"], self.config,
                qid=first_qid + i, num_candidates=num_candidates,
                num_return=num_return,
            )
            for i, (toks, (_q, mode)) in enumerate(zip(token_lists, queries))
        ]

    def compile(
        self,
        query: str,
        mode: SearchMode = SearchMode.QUERY_EVALUATOR,
        qid: int = 0,
        num_candidates: int | None = None,
        num_return: int | None = None,
    ) -> CompiledQuery:
        return self._compile_many(
            [(query, mode)], num_candidates, num_return, first_qid=qid
        )[0]

    # ----- execution -----

    def enable_wand_stats(self) -> None:
        """Turn on WAND segment counters for subsequent queries.

        Counts flow back through Spark accumulators from every chunk
        kernel; read them with :meth:`wand_stats`.  Diagnostic only:
        task retries/speculation may double-count, so the numbers
        evidence pruning behavior, they are not exact query metadata."""
        sc = self.spark.sparkContext
        self._wand_acc = (sc.accumulator(0), sc.accumulator(0))

    def reset_wand_stats(self) -> None:
        """Zero the counters (e.g. between benchmarked queries)."""
        if self._wand_acc is not None:
            self.enable_wand_stats()

    def wand_stats(self) -> dict:
        """Cumulative WAND sweep counters since enable/reset.

        ``segments_total``: segments in the union block grid of every
        (chunk, plan) WAND invocation; ``segments_scored``: how many the
        ub-descending sweep consumed before the θ-cutoff fired;
        ``skip_rate``: fraction of segments proven unable to place a
        top-k doc and never gathered/scored."""
        if self._wand_acc is None:
            raise RuntimeError("call enable_wand_stats() first")
        total = int(self._wand_acc[0].value)
        scored = int(self._wand_acc[1].value)
        return {
            "segments_total": total,
            "segments_scored": scored,
            "skip_rate": round(1.0 - scored / total, 4) if total else 0.0,
        }

    def execute(
        self,
        plans: list[CompiledQuery],
        use_wand: bool = True,
        doc_filter=None,
    ) -> DataFrame:
        """Run compiled plans in one job -> (qid, doc_id, score, rank),
        rank 1..num_return per qid ordered by (-score, doc_id).

        ``doc_filter``: optional Column predicate over the docs-table
        metadata (repo, path, commit, lang) restricting every plan's
        results, e.g. ``F.col("lang") == "python"``.  Scalably: the
        predicate runs as a pruned docs-table scan, surviving ids are
        grouped into per-chunk sorted arrays and inner-joined onto the
        doc-length side of the cogroup — chunks with no surviving doc never
        reach the kernel, and the kernel intersects matches before its
        chunk-local top-k.  BM25 scores are unchanged (global collection
        stats), matching a post-hoc metadata restriction.  WAND stays on
        under filters and deletions: the kernel drops non-surviving
        candidates per segment before scoring, and the unfiltered block
        maxima remain valid upper bounds (see wand.py)."""
        live = self._live(plans)
        if not live:
            return self._empty_ranked()
        cols = _BASE_COLS + _pos_cols(live)
        if use_wand and any(p.wand_eligible for p in live):
            cols += _BLK_COLS
        kernel = make_query_kernel(
            live,
            self._kernel_stats,
            self.config.k1,
            self.config.b,
            self.config.title_weight,
            use_wand=use_wand,
            wand_accumulators=self._wand_acc,
        )
        per_chunk = self._cogroup(
            live, cols, self._doclens_for(doc_filter, self._doclens),
            kernel, RESULT_SCHEMA,
        )
        if len(live) == 1:
            # one plan: a global TakeOrderedAndProject top-k runs 3 Spark
            # jobs per search, the per-qid window 4 (and a higher p50)
            p = live[0]
            return (
                per_chunk.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(p.num_return)
                .withColumn(
                    "rank",
                    F.row_number().over(
                        Window.orderBy(F.desc("score"), F.asc("doc_id"))
                    ),
                )
            )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = per_chunk.withColumn("rank", F.row_number().over(w))
        return _apply_per_qid_limit(
            ranked, {p.qid: p.num_return for p in live}
        )

    @staticmethod
    def _live(plans: list[CompiledQuery]) -> list[CompiledQuery]:
        """The plans that can match anything; [] when none can (every
        plan EMPTY, or no plan fetches a term or scans every chunk)."""
        live = [p for p in plans if p.tree[0] != EMPTY]
        if any(p.fetch_terms or p.scan_all_chunks for p in live):
            return live
        return []

    def _cogroup(
        self, live: list[CompiledQuery], cols: list[str], doclens: DataFrame,
        kernel, schema: str,
    ) -> DataFrame:
        """The one postings scan: ``cols`` of the live plans' terms,
        pruned to their hash-bucket partitions with ``term IN`` pushed to
        parquet, cogrouped per chunk with ``doclens`` into ``kernel``."""
        fetch_terms = sorted({t for p in live for t in p.fetch_terms})
        buckets = sorted(
            {term_bucket(t, self.config.n_term_buckets) for t in fetch_terms}
        )
        postings = self._postings.where(
            F.col("bucket").isin(buckets) & F.col("term").isin(fetch_terms)
        ).select(*cols)
        return (
            postings.groupby("chunk_id")
            .cogroup(doclens.groupby("chunk_id"))
            .applyInPandas(kernel, schema)
        )

    def _doclens_for(self, doc_filter, base: DataFrame) -> DataFrame:
        """The cogroup's doc-length side: ``base`` limited to chunks with
        a doc passing ``doc_filter``, with tombstoned ids attached."""
        if doc_filter is not None:
            base = base.join(
                self._allowed_by_chunk(doc_filter), "chunk_id", "inner"
            )
        if self._deleted_by_chunk is not None:
            # left join: chunks without deletions keep a null cell (the
            # kernel skips them at zero cost) and keep their WAND path
            base = base.join(self._deleted_by_chunk, "chunk_id", "left")
        return base

    def _allowed_by_chunk(self, doc_filter) -> DataFrame:
        """Filter survivors as one sorted id array per chunk.  The inner
        join this feeds drops chunks with no surviving doc before the
        kernel runs.  Per-row array size is bounded by chunk_docs, and
        both join sides are O(num_docs / chunk_docs) rows, so the join
        stays small no matter how wide the filter is."""
        return self.store.ids_by_chunk(
            self.docs.where(doc_filter), "allowed_ids"
        )

    def execute_facets(
        self,
        plans: list[CompiledQuery],
        by: str = "lang",
        doc_filter=None,
    ) -> DataFrame:
        """Facet counts over the FULL match set of each plan ->
        (qid, value, n_docs): every doc matching the query tree is
        tallied by its docs-table ``by`` column (repo, lang, ...) —
        scoring and top-k never run.

        Scalably: the facet value of each doc rides the doc-length cogroup
        side as one per-chunk array in doc_id order (built once per call
        from a two-column docs scan), the chunk kernel emits per-chunk
        partial counts, and the only shuffle on the match set is the
        final ``qid x value`` partial-aggregate sum — matched doc ids
        are never joined row-by-row against the docs table."""
        from search_engine_spark.query.kernels import (
            FACET_SCHEMA,
            make_facet_kernel,
        )

        live = self._live(plans)
        if not live:
            return self.spark.createDataFrame(
                [], "qid int, value string, n_docs long"
            )
        facets = (
            self.docs
            .select(
                self.store.chunk_of().alias("chunk_id"),
                "doc_id",
                F.col(by).cast("string").alias("_fv"),
            )
            .groupBy("chunk_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("doc_id", "_fv"))
                ).alias("_fa")
            )
            .select(
                "chunk_id",
                F.col("_fa.doc_id").alias("facet_ids"),
                F.col("_fa._fv").alias("facet_vals"),
            )
        )
        doclens = self._doclens_for(
            doc_filter, self._doclens.join(facets, "chunk_id", "inner")
        )
        per_chunk = self._cogroup(
            live, _BASE_COLS + _pos_cols(live), doclens,
            make_facet_kernel(live), FACET_SCHEMA,
        )
        return per_chunk.groupBy("qid", "value").agg(
            F.sum("n").alias("n_docs")
        )

    def facet_counts(
        self,
        query: str,
        mode: SearchMode = SearchMode.QUERY_EVALUATOR,
        by: str = "lang",
        doc_filter=None,
    ) -> DataFrame:
        """Facet counts for one query -> (qid, value, n_docs); see
        ``execute_facets``."""
        plan = self.compile(query, mode)
        return self.execute_facets([plan], by=by, doc_filter=doc_filter)

    def search(
        self,
        query: str,
        mode: SearchMode = SearchMode.QUERY_EVALUATOR,
        num_return: int | None = None,
        use_wand: bool = True,
        doc_filter=None,
    ) -> DataFrame:
        """Top-k for one query -> DataFrame(qid, doc_id, score, rank).
        ``doc_filter`` restricts results by docs-table metadata (see
        ``execute``)."""
        plan = self.compile(query, mode, num_return=num_return)
        return self.execute([plan], use_wand=use_wand, doc_filter=doc_filter)

    def search_batch(
        self,
        queries: list[tuple[str, SearchMode]],
        num_return: int | None = None,
        use_wand: bool = True,
    ) -> DataFrame:
        """Many queries in one scan+job; qid = position in ``queries``."""
        return self.execute(
            self._compile_many(queries, num_return=num_return),
            use_wand=use_wand,
        )

    def search_batch_chunked(
        self,
        queries: list[tuple[str, SearchMode]],
        num_return: int | None = None,
        use_wand: bool = True,
        chunk_size: int = 4096,
        output_path: str | None = None,
    ) -> DataFrame:
        """Offline-scale batch search with bounded driver state.

        ``search_batch`` compiles every plan up front and ships the whole
        list in one kernel closure — fine at qrels scale, but a 1M-query
        mining run would hold 1M plans on the driver and serialize them
        into every task.  Here queries run in ``chunk_size`` slices:
        per-slice tokenize/stats/compile keeps the driver's live plan set,
        the kernel closure, and the postings ``isin`` filter O(chunk),
        while each slice's scan still fetches only that slice's terms.
        qids stay global (position in ``queries``) and results are
        identical to the one-shot path.

        With ``output_path`` each slice is written eagerly (append) and
        the return value reads the parquet back — total plan size and
        driver memory stay O(chunk) no matter how many queries; without
        it the slices are unioned lazily (fine up to a few hundred
        slices)."""
        from functools import reduce

        if output_path is not None and os.path.exists(output_path):
            # append-mode slices into a dir with prior results would
            # silently merge two runs
            raise ValueError(
                f"output_path {output_path!r} already exists; point each "
                f"run at a fresh directory"
            )
        if not queries:
            return self._empty_ranked()
        outs = []
        for lo in range(0, len(queries), chunk_size):
            plans = self._compile_many(
                queries[lo : lo + chunk_size], num_return=num_return,
                first_qid=lo,
            )
            ranked = self.execute(plans, use_wand=use_wand)
            if output_path is not None:
                ranked.write.mode("append").parquet(output_path)
            else:
                outs.append(ranked)
        if output_path is not None:
            return self.spark.read.parquet(output_path)
        return reduce(lambda a, b: a.unionByName(b), outs)

    def _feature_scores(
        self, live: list[CompiledQuery], candidates: DataFrame, model=None
    ) -> DataFrame:
        """10-feature extraction + MLP over a ``(qid, doc_id)`` candidate
        DataFrame -> (qid, doc_id, mlp_score).

        Fully distributed: the per-chunk candidate lists are grouped and
        broadcast-joined onto the doc-length side of the cogroup (no driver
        ``collect()`` — a 10k-query offline rerank stays cluster-bound).
        Chunks without candidates drop out via the inner join; postings
        rows for such chunks meet an empty right side and return nothing.
        """
        from search_engine_spark.ranking.features import (
            FEATURES_SCHEMA,
            make_features_kernel,
        )
        from search_engine_spark.ranking.model import RankingModel

        model = model or RankingModel.seeded()
        cand_by_chunk = (
            candidates.withColumn("chunk_id", self.store.chunk_of())
            .groupBy("chunk_id")
            .agg(F.collect_list(F.struct("qid", "doc_id")).alias("cands"))
        )
        doclens = self._doclens.join(
            F.broadcast(cand_by_chunk), "chunk_id", "inner"
        )
        kernel = make_features_kernel(
            live,
            model.w,
            self._kernel_stats,
            self.config.k1,
            self.config.b,
            self.config.title_weight,
        )
        return self._cogroup(
            live, _BASE_COLS + _POS_COLS, doclens, kernel, FEATURES_SCHEMA
        )

    def rerank(
        self,
        plans: list[CompiledQuery],
        model=None,
        use_wand: bool = True,
    ) -> DataFrame:
        """BM25 top-``num_candidates`` -> 10-feature extraction (second,
        candidate-focused kernel pass with positions) -> MLP score ->
        top-``num_return`` (reference Q21/Q22, inverted_index.py:1778-1832).
        """
        live = self._live(plans)
        if not live:
            return self._empty_ranked()
        # stage 1: BM25 candidates (top num_candidates per query) — kept
        # as a DataFrame end-to-end
        wide = [
            CompiledQuery(**{**p.__dict__, "num_return": p.num_candidates})
            for p in live
        ]
        cand = self.execute(wide, use_wand=use_wand).select("qid", "doc_id")
        scored = self._feature_scores(live, cand, model)
        w = Window.partitionBy("qid").orderBy(
            F.desc("mlp_score"), F.asc("doc_id")
        )
        n_return = {p.qid: p.num_return for p in live}
        ranked = scored.withColumn("rank", F.row_number().over(w))
        return _apply_per_qid_limit(ranked, n_return).withColumnRenamed(
            "mlp_score", "score"
        )

    def semantic_search(
        self,
        query: str,
        query_vec: list[float],
        embeddings=None,
        ann_index=None,
        num_semantic_candidates: int = 100,
        num_return: int = 10,
        model=None,
    ) -> DataFrame:
        """Semantic + traditional blend (reference Q26,
        ``inverted_index.py:1478-1619``): ANN cosine top
        ``num_semantic_candidates`` -> un-pruned BM25 feature extraction +
        MLP over exactly those candidates -> per-query min-max normalize
        both signals -> ``cos_norm + (e^mlp_norm - 1)`` (:1587-1609) ->
        top ``num_return``.

        ``query_vec`` is the encoded query (the reference's
        sentence-transformer runs outside this engine — plug
        ``pipeline.embeddings`` with a real encoder to produce it).
        Candidates come from ``ann_index`` (a materialized
        ``similarity.LshIndex``/``IvfIndex`` — partition-pruned scan) or
        from a brute-force cosine over the ``embeddings`` DataFrame
        (``vec_id`` == doc_id).  Ties in the blended score keep cosine
        order, like the reference's stable sort (:1610-1612).
        """
        from search_engine_spark.pipeline import similarity
        from search_engine_spark.query.plan import _idf

        # --- candidates: (doc_id, cos), cosine-descending
        if ann_index is not None:
            cand = ann_index.topk(query_vec, k=num_semantic_candidates)
        elif embeddings is not None:
            cand = similarity.cosine_topk(
                embeddings, query_vec, k=num_semantic_candidates
            )
        else:  # pragma: no cover
            raise ValueError("pass embeddings or ann_index")
        cand = cand.select(F.col("id").alias("doc_id"), "cos")
        if self._deleted_by_chunk is not None:
            # ANN tables are index-external, so tombstones are applied
            # here: deleted docs never surface (the candidate pool may
            # shrink below num_semantic_candidates until the embeddings /
            # ANN table is itself rebuilt post-compaction)
            tomb = self._deleted_by_chunk.select(
                F.explode("deleted_ids").alias("doc_id")
            )
            cand = cand.join(tomb, "doc_id", "left_anti")
        # the candidate set is tiny (<= num_semantic_candidates rows) but
        # referenced twice (feature broadcast + blend join) — materialize
        # once instead of re-running the ANN scan
        cand = cand.localCheckpoint()

        # --- un-pruned per-token plan: every query token keeps a tf
        # column and its raw idf (df=0 -> ln((N+0.5)/0.5)); the tree is
        # irrelevant — candidates are fixed by the ANN stage.  The OOV
        # spelling funnel still applies when enabled: the reference's
        # get_docs corrects misses even with enable_threshold=False
        # (inverted_index.py:1097-1115)
        [tokens], dfs = self._analyze([(query, SearchMode.QUERY_EVALUATOR)])
        num_docs = self._kernel_stats["num_docs"]
        plan = CompiledQuery(
            qid=0,
            tree=(EMPTY,),
            columns=tuple(("term", t) for t in tokens),
            idfs=tuple(_idf(num_docs, dfs.get(t, 0)) for t in tokens),
            fetch_terms=tuple(sorted({t for t in tokens if dfs.get(t, 0)})),
            needs_positions=True,
            scan_all_chunks=False,
            wand_eligible=False,
            num_candidates=num_semantic_candidates,
            num_return=num_return,
        )
        mlp = self._feature_scores(
            [plan], cand.select(F.lit(0).alias("qid"), "doc_id"), model
        )

        # --- min-max normalize both signals, blend, rank
        joined = cand.join(mlp.select("doc_id", "mlp_score"), "doc_id")
        agg = joined.agg(
            F.min("cos").alias("_cmin"), F.max("cos").alias("_cmax"),
            F.min("mlp_score").alias("_mmin"), F.max("mlp_score").alias("_mmax"),
        )
        norm = joined.crossJoin(F.broadcast(agg)).select(
            "doc_id", "cos",
            (
                (F.col("cos") - F.col("_cmin"))
                / (F.col("_cmax") - F.col("_cmin") + F.lit(1e-8))
            ).alias("_cn"),
            (
                (F.col("mlp_score") - F.col("_mmin"))
                / (F.col("_mmax") - F.col("_mmin") + F.lit(1e-8))
            ).alias("_mn"),
        )
        blended = norm.select(
            F.lit(0).alias("qid"),
            "doc_id",
            (F.col("_cn") + (F.exp(F.col("_mn")) - 1.0)).alias("score"),
            "cos",
        )
        w = Window.orderBy(F.desc("score"), F.desc("cos"), F.asc("doc_id"))
        return (
            blended.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= num_return)
            .drop("cos")
        )

    def search_reranked(
        self,
        query: str,
        mode: SearchMode = SearchMode.QUERY_EVALUATOR,
        model=None,
        num_return: int | None = None,
    ) -> DataFrame:
        plan = self.compile(query, mode, num_return=num_return)
        return self.rerank([plan], model=model)

    def attach_doc_info(
        self, rows: list, corpus: DataFrame | None = None
    ) -> list[Row]:
        """The one doc-info assembler (reference ``get_doc_info``,
        inverted_index.py:1186-1219): collected ranked rows -> rows of
        doc_id, qid, score, rank, repo, path, commit, lang (plus
        ``snippet`` with a corpus) in (qid, rank) order.  Metadata is
        ``IndexStore.doc_info_for`` (no Spark job; a doc without a docs
        row gets None); snippets cost one corpus scan for uncached docs."""
        rows = sorted(rows, key=lambda r: (r.qid, r.rank))
        ids = {r.doc_id for r in rows}
        info = self._info.get_many(ids)
        missing = ids - info.keys()
        if missing:
            fetched = self.store.doc_info_for(missing)
            info.update(fetched)
            self._info.put_many(fetched)
        if corpus is not None:
            snip = self._snippets(corpus, {i[:3] for i in info.values()})
        none = (None,) * len(DOC_INFO_COLS)
        out = []
        for r in rows:
            i = info.get(r.doc_id)
            d = {"doc_id": r.doc_id, "qid": r.qid, "score": r.score,
                 "rank": r.rank, **dict(zip(DOC_INFO_COLS, i or none))}
            if corpus is not None:
                d["snippet"] = snip.get(i[:3]) if i else None
            out.append(Row(**d))
        return out

    def _snippets(self, corpus: DataFrame, keys: set) -> dict:
        """(repo, path, commit) -> snippet for ``keys``."""
        with self._snips_lock:
            if self._snips[0] is not corpus:
                self._snips = (corpus, _LRU(1 << 16))
            cache = self._snips[1]
        snip = cache.get_many(keys)
        missing = keys - snip.keys()
        if missing:
            # three single-column IN filters (each pushes down to the
            # corpus scan); the commit hash alone is near-unique, so
            # over-selection from the conjunction is negligible and the
            # exact triple match happens in the dict lookup
            crows = corpus.where(
                F.col("commit").isin(sorted({k[2] for k in missing}))
                & F.col("repo").isin(sorted({k[0] for k in missing}))
                & F.col("path").isin(sorted({k[1] for k in missing}))
            ).select(
                "repo", "path", "commit",
                F.substring(
                    "content", 1, self.config.snippet_length
                ).alias("snippet"),
            ).collect()
            fetched = {(r.repo, r.path, r.commit): r.snippet for r in crows}
            snip.update(fetched)
            cache.put_many(fetched)
        return snip

    def with_doc_info(
        self, ranked: DataFrame, corpus: DataFrame | None = None
    ) -> DataFrame:
        """``attach_doc_info`` as a DataFrame.  It COLLECTS ``ranked``, so
        it is for top-k-sized results; the frame holds local rows in
        (qid, rank) order and runs no Spark job of its own."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = T.StructType(
            [ranked.schema[c] for c in ("doc_id", "qid", "score", "rank")]
            + [T.StructField(c, self.docs.schema[c].dataType)
               for c in DOC_INFO_COLS]
        )
        if corpus is not None:
            schema.add("snippet", T.StringType())
        rows = self.attach_doc_info(ranked.collect(), corpus)
        table = pa.Table.from_pylist(
            [r.asDict() for r in rows], schema=to_arrow_schema(schema)
        )
        return self.spark.createDataFrame(table, schema)

    def _empty_ranked(self) -> DataFrame:
        return self.spark.createDataFrame([], RESULT_SCHEMA + ", rank int")
