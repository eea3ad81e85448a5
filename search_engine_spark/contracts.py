"""Driver-contract queries: Spark engine vs DuckDB-SQL oracle.

Each entry pairs a ``(spark, sf_dir) -> DataFrame`` callable with an ANSI/
DuckDB SQL string over the same parquet tables; the driver compares
row-count + schema + value-hash at sf=0.01 (``CORRECTNESS_r{N}.json``).

The contract index is built over the driver's ``documents`` table mapped
to the corpus input shape with:

* ``tokenizer="simple"`` — ``[a-z0-9_]+`` over lowercased text, exactly
  ``regexp_extract_all(lower(text), '[a-z0-9_]+')`` in DuckDB, so the SQL
  oracle tokenizes identically;
* zero-padded paths (``p%012d.txt``) so the engine's dense
  ``(repo, path, commit)`` doc-id order equals the source ``doc_id``;
* IDF-threshold pruning disabled (the synthetic vocabulary is tiny, so
  nearly every term would be pruned; parity of the *pruning* semantics is
  covered by the oracle fixture tests, not the SQL contract).

Float-parity rules baked into the SQL strings:

* per-term BM25 contributions are combined with an explicit left-to-right
  ``+`` chain (one join per term), matching the engine's column-order
  summation — never an aggregate ``SUM`` whose order is unspecified;
* constants are written as the same expressions the engine evaluates
  (``1.6 + 1.0``, ``1.0 - 0.75``) so both sides fold to identical doubles;
* scores are rounded to 6 decimals on both sides (the only remaining
  divergence is sub-ulp noise from division ordering, ~1e-15 relative).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode

# contract scoring constants (= engine defaults, inlined into SQL below)
K1 = 1.6
B = 0.75

CONTRACT_CONFIG = EngineConfig(
    tokenizer="simple",
    idf_threshold=-1.0e18,   # disable pruning for SQL-oracle coverage
    chunk_docs=1024,
    chunks_per_batch=8,
    n_term_buckets=8,
    block_docs=128,
)

_ENGINES: dict[str, object] = {}
# part of every cached contract index's /tmp tag: bump it whenever the
# on-disk index layout changes, so a dir an older layout built is never
# reused (the data fingerprint retires caches when the source data
# changes)
INDEX_CACHE_V = "v3-no-doclens-copy"

_TOK_SQL = "regexp_extract_all(lower(text), '[a-z0-9_]+')"

# shared CTE prologue for scoring oracles, parameterized on the SQL
# tokenization of the ``documents.text`` column
def _score_ctes(tok_sql: str, docs_sql: str = "documents") -> str:
    return f"""
WITH tokl AS (
  SELECT doc_id, {tok_sql} AS l FROM {docs_sql}
),
dl AS (SELECT doc_id, len(l)::BIGINT AS dl FROM tokl),
st AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
flat AS (SELECT doc_id, unnest(l) AS tok FROM tokl),
tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM flat GROUP BY doc_id, tok),
dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok)
"""


_SCORE_CTES = _score_ctes(_TOK_SQL)


def _contrib_sql(term: str) -> str:
    """One term's BM25 contribution as a scalar correlated to c.doc_id/d.dl.

    Mirrors ``functions/bm25.py``: idf = ln((n-df+0.5)/(df+0.5)),
    w = tf / (1-b + b*dl/avgdl) (title tf is 0 by construction),
    contribution = idf * (w*(k1+1)) / (w+k1).
    """
    return f"""
      COALESCE((
        SELECT ln((st.n - dfs.df + 0.5) / (dfs.df + 0.5))
               * ((tf.tf / ((1.0 - {B}) + {B} * (d.dl / st.avgdl))) * ({K1} + 1.0))
               / ((tf.tf / ((1.0 - {B}) + {B} * (d.dl / st.avgdl))) + {K1})
        FROM tf JOIN dfs ON dfs.tok = tf.tok
        WHERE tf.doc_id = c.doc_id AND tf.tok = '{term}'
      ), 0.0)"""


def _score_chain(terms: list[str]) -> str:
    """Left-to-right ``+`` chain of per-term contributions (engine column
    order; IEEE addition is commutative but not associative, so order is
    pinned)."""
    parts = [_contrib_sql(t) for t in terms]
    chain = parts[0]
    for p in parts[1:]:
        chain = f"({chain} + {p})"
    return chain


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ``documents`` table -> the engine's corpus input shape
    (BASELINE.json input_hint), preserving doc_id order via zero-padded
    paths."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.lit("corpus").alias("repo"),
        F.format_string("p%012d.txt", F.col("doc_id")).alias("path"),
        F.lit("c0").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def data_fingerprint(sf_dir: str, tables: tuple = ("documents",)) -> str:
    """(name, size, mtime_ns) digest of an sf dir's source parquet — part
    of every /tmp cache tag so regenerated testdata invalidates cached
    indexes instead of silently reusing stale ones."""
    h = hashlib.sha256()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        files = [p]
        if os.path.isdir(p):
            files = sorted(
                os.path.join(root, f)
                for root, _d, fs in os.walk(p)
                for f in fs
                if not f.startswith((".", "_"))
            )
        for f in files:
            try:
                st = os.stat(f)
                h.update(
                    f"{os.path.basename(f)}|{st.st_size}|{st.st_mtime_ns}"
                    .encode()
                )
            except OSError:
                h.update(f"{os.path.basename(f)}|missing".encode())
    return h.hexdigest()[:12]


def get_engine(
    spark: SparkSession,
    sf_dir: str,
    config: EngineConfig | None = None,
    variant: str = "",
    corpus_fn=None,
):
    """Build (or reuse) the contract index for an sf dir; returns
    SearchEngine.  Builds are resumable, so a cached partial build
    completes instead of restarting.  ``variant`` names an alternate
    contract config (e.g. the code-tokenizer index) with its own cache."""
    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.query.engine import SearchEngine

    cfg = config or CONTRACT_CONFIG
    key = f"{os.path.abspath(sf_dir)}|{variant}"
    if key in _ENGINES:
        return _ENGINES[key]
    tag = hashlib.sha256(
        f"{key}|{INDEX_CACHE_V}|{data_fingerprint(os.path.abspath(sf_dir))}"
        .encode()
    ).hexdigest()[:12]
    index_dir = os.path.join(tempfile.gettempdir(), f"se_contract_{tag}")
    builder = IndexBuilder(spark, index_dir, cfg)
    corpus = (corpus_fn or corpus_from_documents)(spark, sf_dir)
    if not os.path.isdir(os.path.join(index_dir, "stats")):
        builder.build_all(corpus, resume=True)
    engine = SearchEngine(spark, index_dir, cfg)
    _ENGINES[key] = engine
    return engine


def _ranked(engine, query: str, mode: SearchMode, k: int) -> DataFrame:
    out = engine.search(query, mode, num_return=k)
    return out.select(
        F.col("doc_id"),
        F.round(F.col("score"), 6).alias("score"),
    )


# ---------------------------------------------------------------- queries

TERM_LIST = ["dup", "batch", "stream", "spark", "window", "scan", "zzzmissing"]


def q_docs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs table: dense ids, token doc_len, per-row sha256 invariant."""
    engine = get_engine(spark, sf_dir)
    lens = engine.store.read_doc_lens()
    return engine.store.read_docs().join(lens, "doc_id").select(
        "doc_id", F.col("doc_len").cast("long").alias("doc_len"), "sha256"
    )


SQL_DOCS_TABLE = f"""
SELECT doc_id,
       len({_TOK_SQL})::BIGINT AS doc_len,
       sha256(text) AS sha256
FROM documents
"""


def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    engine = get_engine(spark, sf_dir)
    s = engine.stats
    return spark.createDataFrame(
        [
            (
                int(s["num_docs"]),
                float(s["avg_doc_len"]),
                int(s["max_doc_len"]),
                int(s["total_postings"]),
            )
        ],
        "num_docs long, avg_doc_len double, max_doc_len long, total_postings long",
    )


# title tokens ('p%012d', 'txt') add exactly 2 postings per doc
SQL_COLLECTION_STATS = f"""
WITH tokl AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
pairs AS (SELECT DISTINCT doc_id, unnest(l) AS tok FROM tokl)
SELECT (SELECT count(*) FROM documents)::BIGINT AS num_docs,
       (SELECT sum(len(l)) FROM tokl)::DOUBLE
         / (SELECT count(*) FROM documents) AS avg_doc_len,
       (SELECT max(len(l)) FROM tokl)::BIGINT AS max_doc_len,
       ((SELECT count(*) FROM pairs)
        + 2 * (SELECT count(*) FROM documents))::BIGINT AS total_postings
"""


def q_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency for a fixed probe-term list, from the index's
    term_stats table (validates the distributed posting merge)."""
    engine = get_engine(spark, sf_dir)
    return (
        engine.store.read_term_stats()
        .where(F.col("term").isin(TERM_LIST))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )


SQL_TERM_DF = f"""
WITH flat AS (
  SELECT DISTINCT doc_id, unnest({_TOK_SQL}) AS tok FROM documents
)
SELECT tok AS term, count(*)::BIGINT AS df
FROM flat
WHERE tok IN ({", ".join(repr(t) for t in TERM_LIST)})
GROUP BY tok
"""


def q_search_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked free-text OR retrieval (block-max WAND path), top-20."""
    return _ranked(get_engine(spark, sf_dir), "dup small", SearchMode.OR, 20)


SQL_SEARCH_OR = (
    _SCORE_CTES
    + f"""
SELECT c.doc_id, round({_score_chain(["dup", "small"])}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE tok IN ('dup', 'small')) c
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(["dup", "small"])} DESC, c.doc_id
LIMIT 20
"""
)


def q_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ranked(get_engine(spark, sf_dir), "dup small", SearchMode.AND, 20)


SQL_SEARCH_AND = (
    _SCORE_CTES
    + f"""
SELECT c.doc_id, round({_score_chain(["dup", "small"])}, 6)::DOUBLE AS score
FROM (SELECT doc_id FROM tf WHERE tok = 'dup'
      INTERSECT SELECT doc_id FROM tf WHERE tok = 'small') c
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(["dup", "small"])} DESC, c.doc_id
LIMIT 20
"""
)


def q_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query "batch batch" (adjacent positions), top-20."""
    return _ranked(
        get_engine(spark, sf_dir), "batch batch", SearchMode.PHRASE, 20
    )


# phrase columns are [batch, batch] -> score = c + c
SQL_SEARCH_PHRASE = (
    _SCORE_CTES
    + f""",
pos AS (
  SELECT doc_id, unnest(l) AS tok, unnest(range(len(l))) AS p FROM tokl
),
hits AS (
  SELECT DISTINCT a.doc_id
  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  WHERE a.tok = 'batch' AND b.tok = 'batch'
)
SELECT c.doc_id,
       round(({_contrib_sql("batch")} + {_contrib_sql("batch")}), 6)::DOUBLE AS score
FROM hits c JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY ({_contrib_sql("batch")} + {_contrib_sql("batch")}) DESC, c.doc_id
LIMIT 20
"""
)


def q_search_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT query: complement of 'dup', reference semantics (zero scores,
    ascending doc ids), top-20."""
    return _ranked(get_engine(spark, sf_dir), "dup", SearchMode.NOT, 20)


SQL_SEARCH_NOT = f"""
WITH flat AS (SELECT DISTINCT doc_id, unnest({_TOK_SQL}) AS tok FROM documents)
SELECT doc_id, 0.0::DOUBLE AS score
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM flat WHERE tok = 'dup')
ORDER BY doc_id
LIMIT 20
"""


def q_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ranked retrieval: OR query restricted to docs
    with ``lang = 'en'`` via ``doc_filter``.  The filter runs as a pruned
    docs-table scan whose surviving ids join the doclens cogroup side per
    chunk; scores stay global-collection BM25 (post-hoc-restriction
    semantics), so the oracle is the OR oracle with a lang predicate on
    the candidate set."""
    engine = get_engine(spark, sf_dir)
    out = engine.search(
        "dup small",
        SearchMode.OR,
        num_return=20,
        doc_filter=F.col("lang") == "en",
    )
    return out.select(
        F.col("doc_id"),
        F.round(F.col("score"), 6).alias("score"),
    )


SQL_SEARCH_FILTERED = (
    _SCORE_CTES
    + f"""
SELECT c.doc_id, round({_score_chain(["dup", "small"])}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE tok IN ('dup', 'small')) c
JOIN documents doc ON doc.doc_id = c.doc_id AND doc.lang = 'en'
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(["dup", "small"])} DESC, c.doc_id
LIMIT 20
"""
)


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet counts over the FULL match set (no top-k): every doc
    matching ``dup OR small`` tallied by its ``lang`` column.  The facet
    values ride the doclens cogroup side as per-chunk arrays; the chunk
    kernel emits partial counts and the only shuffle on the match set
    is the final qid x value sum — exact integers, no float rounding."""
    engine = get_engine(spark, sf_dir)
    out = engine.facet_counts("dup small", SearchMode.OR, by="lang")
    return out.select("value", F.col("n_docs").cast("long").alias("n_docs"))


SQL_FACET_COUNTS = f"""
WITH flat AS (
  SELECT DISTINCT doc_id, unnest({_TOK_SQL}) AS tok FROM documents
)
SELECT lang AS value, count(*)::BIGINT AS n_docs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM flat WHERE tok IN ('dup', 'small'))
GROUP BY lang
"""


def q_search_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean query language: (dup AND line) OR group — shunting-yard
    precedence AND > OR; scoring columns in leaf order [dup, line, group]."""
    return _ranked(
        get_engine(spark, sf_dir),
        "dup AND line OR group",
        SearchMode.QUERY_EVALUATOR,
        20,
    )


SQL_SEARCH_BOOLEAN = (
    _SCORE_CTES
    + f"""
SELECT c.doc_id,
       round({_score_chain(["dup", "line", "group"])}, 6)::DOUBLE AS score
FROM (
  SELECT doc_id FROM (
    SELECT doc_id FROM tf WHERE tok = 'dup'
    INTERSECT SELECT doc_id FROM tf WHERE tok = 'line'
  )
  UNION SELECT doc_id FROM tf WHERE tok = 'group'
) c
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(["dup", "line", "group"])} DESC, c.doc_id
LIMIT 20
"""
)


def q_streaming_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest twin of the docs_table contract: the corpus
    arrives through readStream -> exactly-once staging ->
    StreamingIndexer.advance(final=True); the resulting docs table (dense
    ids + sha256) must hash-match the same SQL oracle shape the batch
    build satisfies (single-wave arrival => arrival order == sort
    order)."""
    import shutil

    from search_engine_spark.streaming import StreamingIndexer

    key = os.path.abspath(sf_dir)
    tag = hashlib.sha256(
        f"{key}|stream|{INDEX_CACHE_V}|{data_fingerprint(key)}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"se_stream_{tag}")
    index_dir = os.path.join(base, "idx")
    indexer = StreamingIndexer(
        spark, index_dir, os.path.join(base, "stg"), CONTRACT_CONFIG
    )
    if not os.path.isdir(os.path.join(index_dir, "stats")):
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "arrivals")
        corpus_from_documents(spark, sf_dir).write.mode("overwrite").parquet(
            src
        )
        from search_engine_spark.sources.corpus import CORPUS_SCHEMA

        stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
        indexer.start(stream, available_now=True)
        indexer.advance(final=True)
    return indexer.builder.store.read_docs().select(
        "doc_id", "path", "sha256"
    )


SQL_STREAMING_DOCS = """
SELECT doc_id,
       printf('p%012d.txt', doc_id) AS path,
       sha256(text) AS sha256
FROM documents
"""


# Layout for the compaction contract: tiny chunks/batches so even the
# smallest sf dir fragments into several committed batches before the
# compaction collapses them.  Layout knobs never affect scores, so the
# oracle is the ordinary OR-search SQL.
COMPACT_CONFIG = EngineConfig(
    tokenizer="simple",
    idf_threshold=-1.0e18,
    chunk_docs=16,
    chunks_per_batch=1,
    n_term_buckets=8,
    block_docs=8,
)
COMPACT_WAVE1_DOCS = 24  # not chunk-aligned: exercises the persisted tail


def q_compaction_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction twin of the OR-search contract
    (``IndexBuilder.compact``): the corpus arrives in two streamed waves
    (one ``advance()`` each, leaving several committed batches plus a
    tail), the batches are compacted into one, the superseded dirs
    vacuumed — and ranked retrieval over the compacted index must
    hash-match the same BM25 SQL oracle the fresh batch build satisfies
    (compaction moves rows between files, never changes answers)."""
    import shutil

    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.streaming import StreamingIndexer

    key = os.path.abspath(sf_dir)
    tag = hashlib.sha256(
        f"{key}|compact|{INDEX_CACHE_V}|{data_fingerprint(key)}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"se_compact_{tag}")
    index_dir = os.path.join(base, "idx")
    if not os.path.isdir(os.path.join(index_dir, "stats")):
        shutil.rmtree(base, ignore_errors=True)
        from search_engine_spark.sources.corpus import CORPUS_SCHEMA

        indexer = StreamingIndexer(
            spark, index_dir, os.path.join(base, "stg"), COMPACT_CONFIG
        )
        src = os.path.join(base, "arrivals")
        corpus = corpus_from_documents(spark, sf_dir)
        # waves split on the zero-padded path so arrival order stays the
        # global sort order and streamed doc ids equal the batch build's
        cut = f"p{COMPACT_WAVE1_DOCS:012d}.txt"
        for wave, final in (
            (corpus.where(F.col("path") < cut), False),
            (corpus.where(F.col("path") >= cut), True),
        ):
            wave.write.mode("append").parquet(src)
            indexer.start(
                spark.readStream.schema(CORPUS_SCHEMA).parquet(src),
                available_now=True,
            )
            indexer.advance(final=final)
        out = indexer.builder.compact()
        if not out.get("compacted"):
            raise RuntimeError(
                "compaction contract never fragmented: "
                f"{indexer.builder.store.committed_batches()}"
            )
        indexer.builder.vacuum()
    engine = SearchEngine(spark, index_dir, COMPACT_CONFIG)
    return _ranked(engine, "dup small", SearchMode.OR, 20)


def q_search_or_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged OR-search contract (r5): one driver row hash-checks the
    same ranked BM25 OR retrieval on BOTH layouts — the fresh batch
    build (``stage='fresh'``) and the streamed+compacted+vacuumed index
    (``stage='compacted'``).  Compaction moves rows between files, never
    changes answers, so the oracle is the OR SQL emitted once per stage.
    The split ``q_search_or`` / ``q_compaction_search`` stay as unit
    fixtures."""
    fresh = q_search_or(spark, sf_dir).select(
        F.lit("fresh").alias("stage"), "doc_id", "score"
    )
    comp = q_compaction_search(spark, sf_dir).select(
        F.lit("compacted").alias("stage"), "doc_id", "score"
    )
    return fresh.unionAll(comp)


SQL_SEARCH_OR_STAGED = (
    _SCORE_CTES
    + f""",
ranked AS (
  SELECT c.doc_id,
         round({_score_chain(["dup", "small"])}, 6)::DOUBLE AS score
  FROM (SELECT DISTINCT doc_id FROM tf WHERE tok IN ('dup', 'small')) c
  JOIN dl d ON d.doc_id = c.doc_id, st
  ORDER BY {_score_chain(["dup", "small"])} DESC, c.doc_id
  LIMIT 20
)
SELECT 'fresh' AS stage, doc_id, score FROM ranked
UNION ALL
SELECT 'compacted' AS stage, doc_id, score FROM ranked
"""
)


# ------------------------------------------------ IDF-pruning contract
#
# Every other search contract disables IDF pruning (the synthetic
# vocabulary is tiny, so nearly every term would prune); this one runs
# the reference's DEFAULT threshold 1.5 (inverted_index.py:1094) over
# the same index — idf_threshold is query-compile-time config, not an
# index-layout field — and hash-checks the full sentinel rule matrix
# (plan.py docstring) against a SQL twin that derives each pruning
# decision from the data itself:
#
# * a pruned term is dropped from AND/OR inputs but contributes a df
#   ENTRY of 1 (``len((-1,)) == 1``), so the per-query-token IDF list
#   misaligns against the kept tf columns: in ``batch dup`` (batch
#   pruned) the dup column is scored with ln((n-0.5)/1.5), the idf of
#   df-entry 1 — while in ``dup batch`` dup pairs with its own idf;
# * an all-pruned top level is empty (pinned deviation 3);
# * NOT over a pruned child excludes nothing -> ALL docs, score 0.

PRUNE_TH = 1.5  # reference default (inverted_index.py:1094)

PRUNED_CONFIG = EngineConfig(
    tokenizer="simple",
    idf_threshold=PRUNE_TH,
    chunk_docs=1024,
    chunks_per_batch=8,
    n_term_buckets=8,
    block_docs=128,
)


def _fl_ctes(name: str, t1: str, t2: str) -> str:
    """Per-arm CTE pair ``{name}0``/``{name}``: token dfs + prune flags
    for a two-token query (a term prunes iff present AND idf < 1.5)."""
    return f"""
{name}0 AS (
  SELECT st.n AS n, st.avgdl AS avgdl,
         COALESCE((SELECT df FROM dfs WHERE tok = '{t1}'), 0) AS df1,
         COALESCE((SELECT df FROM dfs WHERE tok = '{t2}'), 0) AS df2
  FROM st
),
{name} AS (
  SELECT *,
         (df1 > 0 AND ln((n - df1 + 0.5) / (df1 + 0.5)) < {PRUNE_TH}) AS p1,
         (df2 > 0 AND ln((n - df2 + 0.5) / (df2 + 0.5)) < {PRUNE_TH}) AS p2
  FROM {name}0
)"""


def _idf_entry_sql(fl: str, df: str, pruned: str) -> str:
    """IDF over a query token's df ENTRY: pruned -> 1 (len((-1,))),
    missing -> 0 (plan.py df bookkeeping)."""
    e = (
        f"(CASE WHEN {fl}.{df} = 0 THEN 0 "
        f"WHEN {fl}.{pruned} THEN 1 ELSE {fl}.{df} END)"
    )
    return f"ln(({fl}.n - {e} + 0.5) / ({e} + 0.5))"


def _contrib_idf_sql(fl: str, term: str, idf_sql: str) -> str:
    """BM25 contribution of ``term`` for doc c with an EXPLICIT idf
    factor — the engine zips kept tf columns against query-token-order
    idf entries, so a pruned earlier token shifts which idf scores a
    later column."""
    w = f"(tf.tf / ((1.0 - {B}) + {B} * (d.dl / {fl}.avgdl)))"
    return f"""
      COALESCE((
        SELECT {idf_sql} * ({w} * ({K1} + 1.0)) / ({w} + {K1})
        FROM tf
        WHERE tf.doc_id = c.doc_id AND tf.tok = '{term}'
      ), 0.0)"""


def _pruned_score_sql(fl: str, t1: str, t2: str) -> str:
    """Sentinel zip-scoring for a two-token AND/OR: kept column i pairs
    with df-entry idf i, truncating at the shorter list."""
    idf1 = _idf_entry_sql(fl, "df1", "p1")
    idf2 = _idf_entry_sql(fl, "df2", "p2")
    return f"""CASE
        WHEN NOT {fl}.p1 AND NOT {fl}.p2
          THEN ({_contrib_idf_sql(fl, t1, idf1)} + {_contrib_idf_sql(fl, t2, idf2)})
        WHEN {fl}.p1 AND NOT {fl}.p2 THEN {_contrib_idf_sql(fl, t2, idf1)}
        WHEN NOT {fl}.p1 AND {fl}.p2 THEN {_contrib_idf_sql(fl, t1, idf1)}
        ELSE 0.0 END"""


def _pruned_or_arm(stage: str, fl: str, t1: str, t2: str) -> str:
    score = _pruned_score_sql(fl, t1, t2)
    return f"""(
SELECT '{stage}' AS stage, c.doc_id, round({score}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT tf.doc_id FROM tf, {fl}
      WHERE (tf.tok = '{t1}' AND NOT {fl}.p1)
         OR (tf.tok = '{t2}' AND NOT {fl}.p2)) c
JOIN dl d ON d.doc_id = c.doc_id, {fl}
ORDER BY {score} DESC, c.doc_id
LIMIT 20
)"""


def _pruned_and_arm(stage: str, fl: str, t1: str, t2: str) -> str:
    score = _pruned_score_sql(fl, t1, t2)
    return f"""(
SELECT '{stage}' AS stage, c.doc_id, round({score}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT t.doc_id FROM tf t, {fl}
      WHERE {fl}.df1 > 0 AND {fl}.df2 > 0 AND NOT ({fl}.p1 AND {fl}.p2)
        AND ((({fl}.p1) AND t.tok = '{t2}')
          OR (({fl}.p2) AND t.tok = '{t1}')
          OR (NOT {fl}.p1 AND NOT {fl}.p2 AND t.tok = '{t1}'
              AND EXISTS (SELECT 1 FROM tf t2
                          WHERE t2.doc_id = t.doc_id
                            AND t2.tok = '{t2}')))) c
JOIN dl d ON d.doc_id = c.doc_id, {fl}
ORDER BY {score} DESC, c.doc_id
LIMIT 20
)"""


SQL_SEARCH_IDF_PRUNED = (
    _SCORE_CTES
    + ","
    + _fl_ctes("fl_a", "batch", "dup")
    + ","
    + _fl_ctes("fl_b", "dup", "batch")
    + ","
    + _fl_ctes("fl_c", "batch", "stream")
    + "\n"
    + _pruned_or_arm("or_pruned_first", "fl_a", "batch", "dup")
    + "\nUNION ALL\n"
    + _pruned_or_arm("or_pruned_second", "fl_b", "dup", "batch")
    + "\nUNION ALL\n"
    + _pruned_and_arm("and_pruned", "fl_a", "batch", "dup")
    + "\nUNION ALL\n"
    + _pruned_or_arm("or_all_pruned", "fl_c", "batch", "stream")
    + """
UNION ALL
(
SELECT 'not_pruned' AS stage, doc_id, 0.0::DOUBLE AS score
FROM documents, fl_a
WHERE fl_a.p1 OR fl_a.df1 = 0
   OR doc_id NOT IN (SELECT doc_id FROM tf WHERE tok = 'batch')
ORDER BY doc_id
LIMIT 20
)
"""
)


def q_search_idf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel rule matrix at the reference's default idf_threshold=1.5
    over the shared contract index (pruning is query-compile config, so
    the pruned-mode engine is a second view over the SAME index).  On
    the driver testdata every probe term except ``dup`` has df > n/5.5
    and prunes, so each arm is live:

    * ``or_pruned_first``  — ``batch dup`` OR: batch prunes, dup scored
      with the MISALIGNED idf of df-entry 1 (reference zip-truncation);
    * ``or_pruned_second`` — ``dup batch`` OR: dup pairs with its own idf;
    * ``and_pruned``       — ``batch dup`` AND: sentinel dropped from the
      intersection, same misaligned scoring;
    * ``or_all_pruned``    — ``batch stream`` OR: all-pruned -> empty;
    * ``not_pruned``       — NOT batch: pruned child excludes nothing ->
      ALL docs at score 0."""
    base = get_engine(spark, sf_dir)
    key = f"{os.path.abspath(sf_dir)}|pruned-view"
    eng = _ENGINES.get(key)
    if eng is None:
        from search_engine_spark.query.engine import SearchEngine

        eng = SearchEngine(spark, str(base.store.dir), PRUNED_CONFIG)
        _ENGINES[key] = eng
    arms = [
        ("or_pruned_first", "batch dup", SearchMode.OR),
        ("or_pruned_second", "dup batch", SearchMode.OR),
        ("and_pruned", "batch dup", SearchMode.AND),
        ("or_all_pruned", "batch stream", SearchMode.OR),
        ("not_pruned", "batch", SearchMode.NOT),
    ]
    parts = [
        _ranked(eng, q, m, 20).select(
            F.lit(stage).alias("stage"), "doc_id", "score"
        )
        for stage, q, m in arms
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# Contract-sized MLP head: same seeded-He architecture and forward path as
# the production default (hidden=256), shrunk so the oracle SQL can inline
# every weight as a literal (10x16 + 16x16 + 16x1 = 448 doubles).
SEMANTIC_HIDDEN = 16
SEMANTIC_SEED = 17
SEMANTIC_QUERY = "dup small"
SEMANTIC_CANDIDATES = 50
SEMANTIC_RETURN = 10


def q_search_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic+traditional blend (Q26, ``inverted_index.py:1478-1619``):
    ANN cosine candidates -> un-pruned BM25 features + seeded MLP ->
    min-max blend ``cos_norm + (e^mlp_norm - 1)``.  Full hash contract:
    the DuckDB oracle (:func:`_sql_search_semantic`) replicates the whole
    computation — cosine top-k, 10-dim feature extraction, MLP forward
    with inlined weights, blend and rank."""
    from search_engine_spark.ranking.model import RankingModel

    engine = get_engine(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]
    out = engine.semantic_search(
        SEMANTIC_QUERY, qvec, embeddings=emb,
        num_semantic_candidates=SEMANTIC_CANDIDATES,
        num_return=SEMANTIC_RETURN,
        model=RankingModel.seeded(hidden=SEMANTIC_HIDDEN, seed=SEMANTIC_SEED),
    )
    return out.select(
        "doc_id", F.round(F.col("score"), 6).alias("score"), "rank"
    )


def _mlp_layer_sql(
    in_names: list[str], w, b, out_prefix: str, relu: bool
) -> list[str]:
    """SQL exprs for one dense layer: left-to-right k-order product chain
    (mirrors the numpy ``x @ w + b`` accumulation), optional ReLU."""
    exprs = []
    for j in range(w.shape[1]):
        chain = " + ".join(
            f"{in_names[i]} * {float(w[i, j])!r}" for i in range(w.shape[0])
        )
        body = f"({chain} + {float(b[j])!r})"
        if relu:
            body = f"greatest({body}, 0.0)"
        exprs.append(f"{body} AS {out_prefix}{j}")
    return exprs


def _sql_search_semantic(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """DuckDB twin of :func:`q_search_semantic` over the same parquet.

    The query vector and MLP weights are deterministic constants (vec_id 0
    embedding; He-init with a fixed seed) inlined as literals, like the
    ANN quantizer oracles.  Title-field features collapse to constants for
    this corpus (titles are ``p%012d.txt``, never containing the query
    terms): title bm25 = 0, title first-occurrence = sentinel 1.0,
    title_len/max_title_len = 1.0, in_title = 0.
    """
    try:
        from search_engine_spark.pipeline.contracts_pipeline import (
            _cos_sql,
            _load_oracle_embeddings,
        )

        embs = _load_oracle_embeddings(sf_dir)
    except Exception:  # embeddings table absent -> rows-only fallback
        return None
    from search_engine_spark.functions.tokenizer import simple_tokenize
    from search_engine_spark.ranking.model import RankingModel

    qvec = [float(v) for v in embs[0]]
    m = RankingModel.seeded(hidden=SEMANTIC_HIDDEN, seed=SEMANTIC_SEED)
    tokens = simple_tokenize(SEMANTIC_QUERY)

    # per-token base columns: tf, idf (df=0 -> ln((N+0.5)/0.5)), first-
    # occurrence fraction (0-based first position / doc_len, sentinel 1.0)
    base_cols, w_cols = [], []
    for i, t in enumerate(tokens):
        base_cols.append(
            f"COALESCE((SELECT tf FROM tf WHERE tf.doc_id = c.doc_id"
            f" AND tf.tok = '{t}'), 0)::DOUBLE AS tf{i}"
        )
        base_cols.append(
            f"COALESCE((SELECT ln((st.n - dfs.df + 0.5) / (dfs.df + 0.5))"
            f" FROM dfs WHERE dfs.tok = '{t}'),"
            f" ln((st.n + 0.5) / 0.5)) AS idf{i}"
        )
        base_cols.append(
            f"CASE WHEN COALESCE((SELECT tf FROM tf WHERE tf.doc_id ="
            f" c.doc_id AND tf.tok = '{t}'), 0) > 0"
            f" THEN (list_position(d.l, '{t}') - 1)::DOUBLE / d.dl"
            f" ELSE 1.0 END AS fo{i}"
        )
        w_cols.append(
            f"(tf{i} / ((1.0 - {B}) + {B} * (dl / avgdl))) AS w{i}"
        )

    def chain(parts: list[str]) -> str:
        out = parts[0]
        for p in parts[1:]:
            out = f"({out} + {p})"
        return out

    contribs = [
        f"(idf{i} * (w{i} * ({K1} + 1.0)) / (w{i} + {K1}))"
        for i in range(len(tokens))
    ]
    bm25 = chain(contribs)
    fo_mean = (
        "(" + " + ".join(f"fo{i}" for i in range(len(tokens)))
        + f") / {float(len(tokens))!r}"
    )
    fo_min = "least(" + ", ".join(
        f"fo{i}" for i in range(len(tokens))
    ) + ")"

    feat_cols = [
        f"{bm25} AS f0",          # fielded bm25 (title weight side is 0)
        f"{bm25} AS f1",          # body bm25
        "0.0 AS f2",              # title bm25
        f"{fo_mean} AS f3",       # body first-occurrence mean
        "1.0 AS f4",              # title first-occurrence mean (sentinel)
        f"{fo_min} AS f5",        # body first-occurrence min
        "1.0 AS f6",              # title first-occurrence min (sentinel)
        "(dl / maxdl) AS f7",     # doc_len / max_doc_len
        "1.0 AS f8",              # title_len / max_title_len (= 2/2)
        "0.0 AS f9",              # in_title
    ]
    h1 = _mlp_layer_sql(
        [f"f{i}" for i in range(10)], m.w["w1"], m.w["b1"], "h1_", True
    )
    h2 = _mlp_layer_sql(
        [f"h1_{i}" for i in range(SEMANTIC_HIDDEN)],
        m.w["w2"], m.w["b2"], "h2_", True,
    )
    out = _mlp_layer_sql(
        [f"h2_{i}" for i in range(SEMANTIC_HIDDEN)],
        m.w["w3"], m.w["b3"], "mlp_", False,
    )[0].replace("AS mlp_0", "AS mlp_score")
    qlit = "[" + ", ".join(repr(float(v)) for v in qvec) + "]::DOUBLE[]"

    return f"""
WITH q AS (SELECT {qlit} AS qv),
cand AS (
  SELECT e.vec_id AS doc_id, {_cos_sql(qvec)} AS cos
  FROM embeddings e, q
  ORDER BY cos DESC, e.vec_id
  LIMIT {SEMANTIC_CANDIDATES}
),
tokl AS (
  SELECT doc_id, {_TOK_SQL} AS l FROM documents
),
dl AS (SELECT doc_id, l, len(l)::DOUBLE AS dl FROM tokl),
st AS (SELECT count(*)::BIGINT AS n,
              sum(len(l))::DOUBLE / count(*) AS avgdl,
              max(len(l))::DOUBLE AS maxdl
       FROM tokl),
flat AS (SELECT doc_id, unnest(l) AS tok FROM tokl),
tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM flat
  WHERE tok IN ({", ".join(repr(t) for t in tokens)})
  GROUP BY doc_id, tok
),
dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
base AS (
  SELECT c.doc_id, c.cos, d.dl, st.avgdl, st.maxdl,
         {", ".join(base_cols)}
  FROM cand c JOIN dl d ON d.doc_id = c.doc_id, st
),
wts AS (
  SELECT *, {", ".join(w_cols)} FROM base
),
feat AS (
  SELECT doc_id, cos, {", ".join(feat_cols)} FROM wts
),
h1 AS (SELECT doc_id, cos, {", ".join(h1)} FROM feat),
h2 AS (SELECT doc_id, cos, {", ".join(h2)} FROM h1),
mlp AS (SELECT doc_id, cos, {out} FROM h2),
mm AS (
  SELECT min(cos) AS cmin, max(cos) AS cmax,
         min(mlp_score) AS mmin, max(mlp_score) AS mmax
  FROM mlp
),
blend AS (
  SELECT m.doc_id, m.cos,
         ((m.cos - mm.cmin) / ((mm.cmax - mm.cmin) + 1e-08))
         + (exp((m.mlp_score - mm.mmin) / ((mm.mmax - mm.mmin) + 1e-08))
            - 1.0) AS score
  FROM mlp m, mm
)
SELECT doc_id, round(score, 6)::DOUBLE AS score,
       row_number() OVER (ORDER BY score DESC, cos DESC, doc_id)::INT
         AS rank
FROM blend
ORDER BY rank
LIMIT {SEMANTIC_RETURN}
"""


# --------------------------------------------- deletion (tombstones + purge)
#
# Two-phase delete semantics under contract:
#
# * ``search_deleted_topk`` — LOGICAL: tombstoned docs vanish from the
#   match set but survivors keep global-collection BM25 scores
#   (post-hoc-restriction, like ``doc_filter``), so the oracle is the OR
#   oracle with a complement predicate on the candidate set only;
# * ``search_purged_topk`` — PHYSICAL: after ``compact()`` the postings/
#   doclens/stats are rewritten over survivors (Lucene segment-merge /
#   Iceberg delete-file apply), so the oracle computes df/avgdl/N over
#   the surviving documents — while doc ids stay the original dense ids
#   (never reused).

DELETE_LANG = "en"


def _delete_engine(spark: SparkSession, sf_dir: str, purge: bool):
    import shutil

    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.query.engine import SearchEngine

    key = os.path.abspath(sf_dir)
    tag = hashlib.sha256(
        f"{key}|delete|{INDEX_CACHE_V}|{data_fingerprint(key)}".encode()
    ).hexdigest()[:12]
    del_dir = os.path.join(tempfile.gettempdir(), f"se_del_{tag}")
    purge_dir = os.path.join(tempfile.gettempdir(), f"se_purge_{tag}")
    if not os.path.exists(os.path.join(del_dir, "_DELETED")):
        shutil.rmtree(del_dir, ignore_errors=True)
        builder = IndexBuilder(spark, del_dir, CONTRACT_CONFIG)
        builder.build_all(corpus_from_documents(spark, sf_dir))
        builder.delete_where(F.col("lang") == DELETE_LANG)
        open(os.path.join(del_dir, "_DELETED"), "w").close()
    if purge and not os.path.exists(os.path.join(purge_dir, "_PURGED")):
        # the purged twin reuses the logical-delete index via a copy (no
        # second Spark build), then applies the tombstones physically
        shutil.rmtree(purge_dir, ignore_errors=True)
        shutil.copytree(del_dir, purge_dir)
        builder = IndexBuilder(spark, purge_dir, CONTRACT_CONFIG)
        builder.compact()
        builder.vacuum()
        open(os.path.join(purge_dir, "_PURGED"), "w").close()
    ekey = f"{purge_dir if purge else del_dir}|engine"
    if ekey not in _ENGINES:
        _ENGINES[ekey] = SearchEngine(
            spark, purge_dir if purge else del_dir, CONTRACT_CONFIG
        )
    return _ENGINES[ekey]


def q_search_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR retrieval after tombstoning every ``lang = 'en'`` doc
    (``IndexBuilder.delete_where``) — logical-delete semantics."""
    return _ranked(
        _delete_engine(spark, sf_dir, purge=False),
        "dup small", SearchMode.OR, 20,
    )


SQL_SEARCH_DELETED = (
    _SCORE_CTES
    + f"""
SELECT c.doc_id, round({_score_chain(["dup", "small"])}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE tok IN ('dup', 'small')) c
JOIN documents doc ON doc.doc_id = c.doc_id AND doc.lang <> '{DELETE_LANG}'
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(["dup", "small"])} DESC, c.doc_id
LIMIT 20
"""
)


def q_search_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same index after ``compact()`` applies the tombstones physically:
    scores must equal a fresh build over survivors, ids stay original."""
    return _ranked(
        _delete_engine(spark, sf_dir, purge=True),
        "dup small", SearchMode.OR, 20,
    )


SQL_SEARCH_PURGED = (
    _score_ctes(
        _TOK_SQL, f"(SELECT * FROM documents WHERE lang <> '{DELETE_LANG}')"
    )
    + f"""
SELECT c.doc_id, round({_score_chain(["dup", "small"])}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE tok IN ('dup', 'small')) c
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(["dup", "small"])} DESC, c.doc_id
LIMIT 20
"""
)


def q_search_deleted_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged deletion contract (one driver row for both stages): the
    same ranked OR query under logical tombstones ('deleted') and after
    physical purge via compact()+vacuum ('purged') — the purged stage
    must score identically to a fresh build over survivors while the
    deleted stage keeps pre-delete collection stats."""
    d = q_search_deleted(spark, sf_dir).select(
        F.lit("deleted").alias("stage"), "doc_id", "score"
    )
    p = q_search_purged(spark, sf_dir).select(
        F.lit("purged").alias("stage"), "doc_id", "score"
    )
    return d.unionByName(p)


SQL_SEARCH_DELETED_PURGED = f"""
SELECT 'deleted' AS stage, doc_id, score FROM ({SQL_SEARCH_DELETED})
UNION ALL
SELECT 'purged' AS stage, doc_id, score FROM ({SQL_SEARCH_PURGED})
"""


# ------------------------------------------------------------------ upsert
#
# Re-ingesting a changed document (same (repo, path), new commit) through
# the streaming path with ``advance(upsert=True)`` tombstones the old
# version; ``compact()`` purges it.  The contract replays that end to
# end: every doc with ``doc_id % 10 == 0`` is re-staged with
# ``text || ' zzupdated'``, upserted, compacted, vacuumed — and ranked
# retrieval must hash-match BM25 over the *updated* corpus, where the
# updated docs carry their new dense ids (N + path-ordered rank; doc ids
# are arrival order and the wave arrives path-sorted).

# chunk_docs divides every sf's documents count (50 / 500 / 5000), so
# the batch build ends chunk-aligned and the streamed update wave can
# append to it
UPSERT_CONFIG = EngineConfig(
    tokenizer="simple",
    idf_threshold=-1.0e18,
    chunk_docs=10,
    chunks_per_batch=8,
    n_term_buckets=8,
    block_docs=8,
)


def q_search_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from search_engine_spark.build.builder import IndexBuilder
    from search_engine_spark.query.engine import SearchEngine
    from search_engine_spark.sources.corpus import CORPUS_SCHEMA
    from search_engine_spark.streaming import StreamingIndexer

    key = os.path.abspath(sf_dir)
    tag = hashlib.sha256(
        f"{key}|upsert|{INDEX_CACHE_V}|{data_fingerprint(key)}".encode()
    ).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"se_upsert_{tag}")
    index_dir = os.path.join(base, "idx")
    if not os.path.exists(os.path.join(base, "_UPSERTED")):
        shutil.rmtree(base, ignore_errors=True)
        corpus = corpus_from_documents(spark, sf_dir)
        IndexBuilder(spark, index_dir, UPSERT_CONFIG).build_all(corpus)
        indexer = StreamingIndexer(
            spark, index_dir, os.path.join(base, "stg"), UPSERT_CONFIG
        )
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        wave = docs.where(F.col("doc_id") % 10 == 0).select(
            F.lit("corpus").alias("repo"),
            F.format_string("p%012d.txt", F.col("doc_id")).alias("path"),
            F.lit("c1").alias("commit"),
            F.col("lang"),
            F.concat(F.col("text"), F.lit(" zzupdated")).alias("content"),
        )
        src = os.path.join(base, "arrivals")
        wave.write.mode("overwrite").parquet(src)
        indexer.start(
            spark.readStream.schema(CORPUS_SCHEMA).parquet(src),
            available_now=True,
        )
        res = indexer.advance(final=True, upsert=True)
        if res["superseded"] != res["indexed"]:
            raise RuntimeError(f"upsert contract reconciliation off: {res}")
        indexer.builder.compact()
        indexer.builder.vacuum()
        open(os.path.join(base, "_UPSERTED"), "w").close()
    engine = SearchEngine(spark, index_dir, UPSERT_CONFIG)
    return _ranked(engine, "dup zzupdated", SearchMode.OR, 20)


# the updated corpus as the oracle's documents source: unchanged rows
# keep their ids, updated rows get N + rank (their re-ingested dense id)
_UPSERT_DOCS = """(
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT (SELECT count(*) FROM documents)
           + row_number() OVER (ORDER BY doc_id) - 1 AS doc_id,
         text || ' zzupdated' AS text
  FROM documents WHERE doc_id % 10 = 0
)"""

SQL_SEARCH_UPSERT = (
    _score_ctes(_TOK_SQL, _UPSERT_DOCS)
    + f"""
SELECT c.doc_id, round({_score_chain(["dup", "zzupdated"])}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE tok IN ('dup', 'zzupdated')) c
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(["dup", "zzupdated"])} DESC, c.doc_id
LIMIT 20
"""
)


# ------------------------------------------------- CSV/TSV corpus scan (D1)


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 (reference ``create-dataset.py:8-19`` ingests headerless TSV):
    write the contract corpus as TSV, read it back through
    ``load_corpus_csv``, and hand the result to the oracle — any quoting/
    escaping/typing loss in the delimited path breaks the hash."""
    from search_engine_spark.sources.corpus import load_corpus_csv

    corpus = corpus_from_documents(spark, sf_dir)
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"se_csv_rt_{data_fingerprint(os.path.abspath(sf_dir))}",
    )
    if not os.path.isdir(out_dir):
        (
            corpus.coalesce(1)
            .write.mode("overwrite")
            .option("sep", "\t")
            .option("header", "false")
            .option("escape", '"')
            .csv(out_dir)
        )
    return load_corpus_csv(spark, out_dir, sep="\t", header=False)


SQL_CSV_ROUNDTRIP = """
SELECT 'corpus' AS repo,
       printf('p%012d.txt', doc_id) AS path,
       'c0' AS "commit",
       lang,
       text AS content
FROM documents
"""


# ------------------------------------------------- MLP re-rank (Q21/Q22)

RERANK_CANDIDATES = 100
RERANK_RETURN = 10


def q_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-100 candidates -> 10-dim features (distributed stage-2
    kernel pass) -> seeded MLP score -> top-10 (reference Q21/Q22,
    ``inverted_index.py:1778-1832``)."""
    from search_engine_spark.ranking.model import RankingModel

    engine = get_engine(spark, sf_dir)
    out = engine.search_reranked(
        SEMANTIC_QUERY,
        SearchMode.OR,
        model=RankingModel.seeded(hidden=SEMANTIC_HIDDEN, seed=SEMANTIC_SEED),
        num_return=RERANK_RETURN,
    )
    return out.select(
        "doc_id", F.round(F.col("score"), 6).alias("score"), "rank"
    )


def _sql_search_rerank() -> str:
    """DuckDB twin of :func:`q_search_rerank`: same CTE machinery as the
    semantic oracle (10 features + inlined seeded-MLP forward), with
    candidates from BM25 top-``RERANK_CANDIDATES`` instead of cosine,
    and the final order on the raw MLP score."""
    from search_engine_spark.functions.tokenizer import simple_tokenize
    from search_engine_spark.ranking.model import RankingModel

    m = RankingModel.seeded(hidden=SEMANTIC_HIDDEN, seed=SEMANTIC_SEED)
    tokens = simple_tokenize(SEMANTIC_QUERY)

    base_cols, w_cols = [], []
    for i, t in enumerate(tokens):
        base_cols.append(
            f"COALESCE((SELECT tf FROM tf WHERE tf.doc_id = c.doc_id"
            f" AND tf.tok = '{t}'), 0)::DOUBLE AS tf{i}"
        )
        base_cols.append(
            f"COALESCE((SELECT ln((st.n - dfs.df + 0.5) / (dfs.df + 0.5))"
            f" FROM dfs WHERE dfs.tok = '{t}'),"
            f" ln((st.n + 0.5) / 0.5)) AS idf{i}"
        )
        base_cols.append(
            f"CASE WHEN COALESCE((SELECT tf FROM tf WHERE tf.doc_id ="
            f" c.doc_id AND tf.tok = '{t}'), 0) > 0"
            f" THEN (list_position(d.l, '{t}') - 1)::DOUBLE / d.dl"
            f" ELSE 1.0 END AS fo{i}"
        )
        w_cols.append(
            f"(tf{i} / ((1.0 - {B}) + {B} * (dl / avgdl))) AS w{i}"
        )

    def chain(parts: list[str]) -> str:
        out = parts[0]
        for p in parts[1:]:
            out = f"({out} + {p})"
        return out

    contribs = [
        f"(idf{i} * (w{i} * ({K1} + 1.0)) / (w{i} + {K1}))"
        for i in range(len(tokens))
    ]
    bm25 = chain(contribs)
    fo_mean = (
        "(" + " + ".join(f"fo{i}" for i in range(len(tokens)))
        + f") / {float(len(tokens))!r}"
    )
    fo_min = "least(" + ", ".join(
        f"fo{i}" for i in range(len(tokens))
    ) + ")"
    feat_cols = [
        f"{bm25} AS f0",
        f"{bm25} AS f1",
        "0.0 AS f2",
        f"{fo_mean} AS f3",
        "1.0 AS f4",
        f"{fo_min} AS f5",
        "1.0 AS f6",
        "(dl / maxdl) AS f7",
        "1.0 AS f8",
        "0.0 AS f9",
    ]
    h1 = _mlp_layer_sql(
        [f"f{i}" for i in range(10)], m.w["w1"], m.w["b1"], "h1_", True
    )
    h2 = _mlp_layer_sql(
        [f"h1_{i}" for i in range(SEMANTIC_HIDDEN)],
        m.w["w2"], m.w["b2"], "h2_", True,
    )
    out = _mlp_layer_sql(
        [f"h2_{i}" for i in range(SEMANTIC_HIDDEN)],
        m.w["w3"], m.w["b3"], "mlp_", False,
    )[0].replace("AS mlp_0", "AS mlp_score")
    tok_in = ", ".join(repr(t) for t in tokens)

    return f"""
WITH tokl AS (
  SELECT doc_id, {_TOK_SQL} AS l FROM documents
),
dl AS (SELECT doc_id, l, len(l)::DOUBLE AS dl FROM tokl),
st AS (SELECT count(*)::BIGINT AS n,
              sum(len(l))::DOUBLE / count(*) AS avgdl,
              max(len(l))::DOUBLE AS maxdl
       FROM tokl),
flat AS (SELECT doc_id, unnest(l) AS tok FROM tokl),
tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM flat
  WHERE tok IN ({tok_in})
  GROUP BY doc_id, tok
),
dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
cand AS (
  SELECT c.doc_id
  FROM (SELECT DISTINCT doc_id FROM tf) c
  JOIN dl d ON d.doc_id = c.doc_id, st
  ORDER BY {_score_chain(tokens)} DESC, c.doc_id
  LIMIT {RERANK_CANDIDATES}
),
base AS (
  SELECT c.doc_id, d.dl, st.avgdl, st.maxdl,
         {", ".join(base_cols)}
  FROM cand c JOIN dl d ON d.doc_id = c.doc_id, st
),
wts AS (
  SELECT *, {", ".join(w_cols)} FROM base
),
feat AS (
  SELECT doc_id, {", ".join(feat_cols)} FROM wts
),
h1 AS (SELECT doc_id, {", ".join(h1)} FROM feat),
h2 AS (SELECT doc_id, {", ".join(h2)} FROM h1),
mlp AS (SELECT doc_id, {out} FROM h2)
SELECT doc_id, round(mlp_score, 6)::DOUBLE AS score,
       row_number() OVER (ORDER BY mlp_score DESC, doc_id)::INT AS rank
FROM mlp
ORDER BY rank
LIMIT {RERANK_RETURN}
"""


# -------------------------------------------------- spelling (B4/B10/Q23)
#
# Reference: trigram index build ``ingestion.py:225-333``; correction
# funnel (Jaccard top-75 -> edit-distance top-50 -> argmax df)
# ``inverted_index.py:995-1046``.  Trigrams are '$'-padded: '$ab' prefix,
# interior 3-grams, 'yz$' suffix ('$x$' for 1-char tokens), as a SET.

# misspellings of driver-``documents`` vocabulary terms (stream/dup/
# query/window/vector/join/merge) + one no-candidate control ('qqqq'
# shares no trigram with anything, so it corrects to itself)
SPELL_PROBES = [
    "stram", "dupp", "qurey", "windoq", "vectr", "joim", "mrege", "qqqq",
]


def _tri_list_sql(col: str) -> str:
    """DuckDB expression for the padded-trigram SET of a token column —
    written against the documented trigram definition, independent of
    ``functions/trigrams.py`` (1-based inclusive DuckDB slices)."""
    return f"""CASE WHEN len({col}) = 1 THEN ['$' || {col} || '$']
    ELSE list_distinct(list_concat(list_concat(
      ['$' || {col}[1:2]],
      list_transform(range(1, len({col}) - 1), i -> {col}[i:i+2])),
      [{col}[len({col})-1:] || '$'])) END"""


# vocabulary = body tokens UNION title tokens; the contract corpus titles
# are the zero-padded paths, tokenizing to ('p%012d', 'txt').  df counts
# distinct docs with the term in either field (a posting row exists when
# tf_title > 0 or tf_body > 0).
_VOCAB_TRIS_CTES = f"""
WITH tokl AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
tflat AS (
  SELECT doc_id, unnest(l) AS tok FROM tokl
  UNION ALL SELECT doc_id, printf('p%012d', doc_id) AS tok FROM documents
  UNION ALL SELECT doc_id, 'txt' AS tok FROM documents
),
vocab AS (
  SELECT tok AS token, count(DISTINCT doc_id)::BIGINT AS df
  FROM tflat GROUP BY tok
),
tris AS (SELECT token, df, {_tri_list_sql('token')} AS ts FROM vocab),
vt AS (
  SELECT token, df, len(ts)::BIGINT AS n_trigrams, unnest(ts) AS trigram
  FROM tris
)
"""

_PROBE_VALUES = ", ".join(f"({t!r})" for t in SPELL_PROBES)

_PROBE_CTES = f""",
probe AS (
  SELECT tok AS qtok, {_tri_list_sql('tok')} AS qts
  FROM (VALUES {_PROBE_VALUES}) AS v(tok)
),
pt AS (
  SELECT qtok, len(qts)::BIGINT AS nq, unnest(qts) AS trigram FROM probe
),
cand AS (
  SELECT p.qtok, p.nq, v.token, v.n_trigrams, v.df,
         count(*)::BIGINT AS overlap
  FROM pt p JOIN vt v USING (trigram)
  GROUP BY p.qtok, p.nq, v.token, v.n_trigrams, v.df
),
ranked AS (
  SELECT qtok, token, overlap, n_trigrams, df,
         row_number() OVER (
           PARTITION BY qtok
           ORDER BY (overlap / (n_trigrams + nq - overlap)) DESC, token
         )::BIGINT AS rank
  FROM cand
)
"""


def _ensure_trigrams(engine) -> None:
    path = engine.store.dir / "trigrams"
    if not os.path.isdir(str(path)):
        from search_engine_spark.query.spelling import build_trigram_table

        build_trigram_table(engine.store)


def q_spelling_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full vocabulary trigram table (B4 extraction + B10 merge)."""
    engine = get_engine(spark, sf_dir)
    _ensure_trigrams(engine)
    tri = spark.read.parquet(str(engine.store.dir / "trigrams"))
    return tri.select(
        "token",
        "trigram",
        F.col("n_trigrams").cast("long").alias("n_trigrams"),
        F.col("df").cast("long").alias("df"),
    )


SQL_SPELLING_TRIGRAMS = f"""{_VOCAB_TRIS_CTES}
SELECT token, trigram, n_trigrams, df FROM vt
"""


def q_spelling_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel 1: distributed per-token Jaccard top-10 candidate pool."""
    from search_engine_spark.functions.trigrams import get_trigrams_from_token
    from search_engine_spark.query.spelling import SpellingCorrector

    engine = get_engine(spark, sf_dir)
    _ensure_trigrams(engine)
    sc = SpellingCorrector(
        spark, engine.store, jaccard_pool=10, cache_table=False
    )
    tok_tris = {
        t: tuple(sorted(get_trigrams_from_token(t))) for t in SPELL_PROBES
    }
    pools = sc._jaccard_pools({t: x for t, x in tok_tris.items() if x})
    rows = [
        (q, i + 1, tok, int(over), int(nt), int(df))
        for q, lst in pools.items()
        for i, (tok, nt, df, over) in enumerate(lst)
    ]
    return spark.createDataFrame(
        rows,
        "qtok string, rank long, token string, overlap long, "
        "n_trigrams long, df long",
    )


SQL_SPELLING_JACCARD = f"""{_VOCAB_TRIS_CTES}{_PROBE_CTES}
SELECT qtok, rank, token, overlap, n_trigrams, df
FROM ranked WHERE rank <= 10
"""


def q_spelling_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full correction funnel (Q23): Jaccard 75 -> edit-distance 50 ->
    argmax df; tokens with no shared trigram map to themselves."""
    from search_engine_spark.query.spelling import SpellingCorrector

    engine = get_engine(spark, sf_dir)
    _ensure_trigrams(engine)
    sc = SpellingCorrector(spark, engine.store, cache_table=False)
    res = sc.correct_many(SPELL_PROBES)
    return spark.createDataFrame(
        sorted(res.items()), "qtok string, corrected string"
    )


SQL_SPELLING_CORRECT = f"""{_VOCAB_TRIS_CTES}{_PROBE_CTES},
ed AS (
  SELECT qtok, token, df,
         row_number() OVER (
           PARTITION BY qtok ORDER BY levenshtein(token, qtok), token
         ) AS ed_rn
  FROM ranked WHERE rank <= 75
),
best AS (
  SELECT qtok, token,
         row_number() OVER (PARTITION BY qtok ORDER BY df DESC, token) AS b
  FROM ed WHERE ed_rn <= 50
)
SELECT p.qtok, coalesce(b.token, p.qtok) AS corrected
FROM (SELECT qtok FROM probe) p
LEFT JOIN best b ON b.qtok = p.qtok AND b.b = 1
"""


def q_spelling_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged Q23 contract (one driver row for the whole funnel): the
    per-token Jaccard top-10 candidate pool (stage 1) joined with the
    end-to-end correction (Jaccard 75 -> edit-distance 50 -> argmax df).
    One row per (probe, pool candidate); probes with no shared trigram
    keep a single NULL-pool row mapping to themselves."""
    from search_engine_spark.functions.trigrams import get_trigrams_from_token
    from search_engine_spark.query.spelling import SpellingCorrector

    engine = get_engine(spark, sf_dir)
    _ensure_trigrams(engine)
    sc = SpellingCorrector(
        spark, engine.store, jaccard_pool=10, cache_table=False
    )
    tok_tris = {
        t: tuple(sorted(get_trigrams_from_token(t))) for t in SPELL_PROBES
    }
    pools = sc._jaccard_pools({t: x for t, x in tok_tris.items() if x})
    corrected = SpellingCorrector(
        spark, engine.store, cache_table=False
    ).correct_many(SPELL_PROBES)
    rows = []
    for q in SPELL_PROBES:
        lst = pools.get(q, [])
        if not lst:
            rows.append((q, None, None, None, None, None, corrected[q]))
        for i, (tok, nt, df, over) in enumerate(lst):
            rows.append(
                (q, i + 1, tok, int(over), int(nt), int(df), corrected[q])
            )
    return spark.createDataFrame(
        rows,
        "qtok string, rank long, token string, overlap long, "
        "n_trigrams long, df long, corrected string",
    )


SQL_SPELLING_FUNNEL = f"""{_VOCAB_TRIS_CTES}{_PROBE_CTES},
ed AS (
  SELECT qtok, token, df,
         row_number() OVER (
           PARTITION BY qtok ORDER BY levenshtein(token, qtok), token
         ) AS ed_rn
  FROM ranked WHERE rank <= 75
),
best AS (
  SELECT qtok, token,
         row_number() OVER (PARTITION BY qtok ORDER BY df DESC, token) AS b
  FROM ed WHERE ed_rn <= 50
),
corr AS (
  SELECT p.qtok, coalesce(b.token, p.qtok) AS corrected
  FROM (SELECT qtok FROM probe) p
  LEFT JOIN best b ON b.qtok = p.qtok AND b.b = 1
),
pool AS (
  SELECT qtok, rank, token, overlap, n_trigrams, df
  FROM ranked WHERE rank <= 10
)
SELECT c.qtok, p.rank, p.token, p.overlap, p.n_trigrams, p.df, c.corrected
FROM corr c LEFT JOIN pool p ON p.qtok = c.qtok
"""


# ------------------------------------------- code-aware tokenizer (payload)
#
# The input_hint payload is source code; ``tokenizer="code"`` splits
# identifiers (camelCase / PascalCase / ACRONYMWord / snake_case) into
# lowercase subtokens (``functions/tokenizer.py:code_tokenize``), end to
# end: corpus tokenization, doc lengths, df, fielded BM25 and query-side
# tokenization all run on subtokens.  The contract corpus is the driver
# ``documents`` text with spaces replaced by underscores — every document
# becomes chains of snake_case identifiers, so the subtoken splitter must
# recover the exact original token stream for the scores to hash-match;
# the camel rules are exercised by the query string ("bigStream
# fastScan" -> big, stream, fast, scan) and by unit tests (driver text is
# lowercase prose, so doc-side camel boundaries never fire here).

CODE_CONFIG = EngineConfig(
    tokenizer="code",
    idf_threshold=-1.0e18,
    chunk_docs=1024,
    chunks_per_batch=8,
    n_term_buckets=8,
    block_docs=128,
)

# SQL twin of code_tokenize: acronym split, camel split, lowercase,
# [a-z0-9]+ runs (underscore is a separator)
_CODE_TOK_SQL = (
    "regexp_extract_all(lower(regexp_replace(regexp_replace("
    "replace(text, ' ', '_'), "
    "'([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'), "
    "'([a-z0-9])([A-Z])', '\\1 \\2', 'g')), '[a-z0-9]+')"
)


def corpus_from_documents_code(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """documents.text with spaces -> underscores: snake_case chains."""
    base = corpus_from_documents(spark, sf_dir)
    return base.withColumn(
        "content", F.regexp_replace(F.col("content"), " ", "_")
    )


CODE_QUERY_TERMS = ["big", "stream", "fast", "scan"]


def q_search_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked OR retrieval over the code-tokenized index; the camelCase
    query tokenizes to the 4 subtokens the oracle chain scores."""
    engine = get_engine(
        spark,
        sf_dir,
        config=CODE_CONFIG,
        variant="code",
        corpus_fn=corpus_from_documents_code,
    )
    return _ranked(engine, "bigStream fastScan", SearchMode.OR, 20)


SQL_SEARCH_CODE = (
    _score_ctes(_CODE_TOK_SQL)
    + f"""
SELECT c.doc_id, round({_score_chain(CODE_QUERY_TERMS)}, 6)::DOUBLE AS score
FROM (SELECT DISTINCT doc_id FROM tf
      WHERE tok IN ({", ".join(repr(t) for t in CODE_QUERY_TERMS)})) c
JOIN dl d ON d.doc_id = c.doc_id, st
ORDER BY {_score_chain(CODE_QUERY_TERMS)} DESC, c.doc_id
LIMIT 20
"""
)


# ------------------------------------------------------- row-order pinning
#
# The driver hashes contract output in *emitted row order*; any query whose
# plan ends in a shuffle (join, groupBy, window) emits rows in a
# partition-scheduling-dependent order, so even bit-identical value sets can
# hash-mismatch (round 4: ``token_budget_select``).  Every contract is
# therefore funneled through these two wrappers, which impose the same total
# order on both sides: sort by every select-list column, left to right,
# ascending, NULLS FIRST (Spark's ASC default; DuckDB needs it spelled out).
# Columns whose values differ would fail the hash anyway, so the shared sort
# key is always well-defined, and both engines order NaN greatest-ascending.
# Requires identical select-list column ORDER on both sides — asserted for
# every contract by ``tests/test_contracts.py::test_contract_column_order``.

def ordered_query(fn):
    """Wrap a contract callable so its output has a deterministic order."""

    def g(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        return df.orderBy(*[F.asc_nulls_first(c) for c in df.columns])

    g.__name__ = getattr(fn, "__name__", "contract_query")
    g.__doc__ = fn.__doc__
    return g


def ordered_sql(sql: str) -> str:
    """Wrap oracle SQL with the matching select-list-order total sort."""
    inner = sql.strip().rstrip(";")
    return f"SELECT * FROM (\n{inner}\n) AS _contract_q ORDER BY ALL NULLS FIRST"


CORE_QUERIES = {
    "streaming_ingest_docs": (q_streaming_docs, SQL_STREAMING_DOCS),
    # merged OR contract (r5): fresh batch build + streamed/compacted
    # layout in one driver row (same SQL per stage); the slot freed pays
    # for search_idf_pruned_topk below
    "search_or_compaction_topk": (
        q_search_or_compaction, SQL_SEARCH_OR_STAGED,
    ),
    "search_idf_pruned_topk": (q_search_idf_pruned, SQL_SEARCH_IDF_PRUNED),
    "search_code_tokenizer_topk": (q_search_code, SQL_SEARCH_CODE),
    "search_rerank_topk": (q_search_rerank, _sql_search_rerank()),
    "csv_corpus_roundtrip": (q_csv_roundtrip, SQL_CSV_ROUNDTRIP),
    "spelling_trigram_table": (q_spelling_trigrams, SQL_SPELLING_TRIGRAMS),
    # merged funnel contract (r4): one driver row hash-checks both the
    # Jaccard candidate pool and the end-to-end correction; the split
    # q_spelling_jaccard / q_spelling_correct stay as unit fixtures
    "spelling_funnel": (q_spelling_funnel, SQL_SPELLING_FUNNEL),
    "search_semantic_topk": (q_search_semantic, _sql_search_semantic()),
    "docs_table": (q_docs_table, SQL_DOCS_TABLE),
    "collection_stats": (q_collection_stats, SQL_COLLECTION_STATS),
    "term_df": (q_term_df, SQL_TERM_DF),
    "search_and_topk": (q_search_and, SQL_SEARCH_AND),
    "search_phrase_topk": (q_search_phrase, SQL_SEARCH_PHRASE),
    "search_not_topk": (q_search_not, SQL_SEARCH_NOT),
    "search_boolean_topk": (q_search_boolean, SQL_SEARCH_BOOLEAN),
    "search_filtered_topk": (q_search_filtered, SQL_SEARCH_FILTERED),
    "facet_counts_lang": (q_facet_counts, SQL_FACET_COUNTS),
    # merged deletion contract (r4): tombstone + physical-purge stages in
    # one driver row; the split q_search_deleted / q_search_purged stay
    # as unit fixtures
    "search_deleted_purged_topk": (
        q_search_deleted_purged, SQL_SEARCH_DELETED_PURGED,
    ),
    "upsert_search_topk": (q_search_upsert, SQL_SEARCH_UPSERT),
}
