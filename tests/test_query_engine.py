"""Distributed engine vs pure-Python oracle: rank-identical top-k.

The gate BASELINE.json mandates: top-k docIDs identical, per-document BM25
score deltas < 1e-9 rel, across AND/OR/NOT/PHRASE/QUERY_EVALUATOR including
the reference's IDF-pruning sentinel and shape quirks.  The index spans
multiple doc-range chunks (chunk_docs=64 over 150 docs) so intersection /
union / NOT / phrase / top-k all cross the distribution boundary.
"""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.oracle.refsem import RefSemIndex
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.testing.synth import corpus_to_tokens, synth_corpus

CFG = EngineConfig(chunk_docs=64, chunks_per_batch=2, block_docs=8, n_term_buckets=8)

QUERIES = [
    ("zqmerge", SearchMode.AND),
    ("zqmerge zqshard", SearchMode.AND),
    ("zqmerge zqshard query", SearchMode.AND),
    ("parse_1 OR codec_2", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.OR),
    ("parse_1 codec_2 merge_3", SearchMode.OR),
    ('"zqmerge zqshard"', SearchMode.PHRASE),
    ("zqmerge zqshard", SearchMode.PHRASE),
    ("unknown_term_xyz", SearchMode.AND),
    ("unknown_term_xyz zqmerge", SearchMode.AND),
    ("unknown_term_xyz zqmerge", SearchMode.OR),
    ("def", SearchMode.AND),  # pruned (idf < 1.5)
    ("def data", SearchMode.AND),  # all pruned -> empty
    ("def zqmerge", SearchMode.AND),  # pruned + kept (zip truncation quirk)
    ("def zqmerge zqshard", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.NOT),
    ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
    ("zqmerge AND NOT zqshard", SearchMode.QUERY_EVALUATOR),
    ('"zqmerge zqshard" OR codec_2', SearchMode.QUERY_EVALUATOR),
    ("zqmerge zqshard OR parse_1", SearchMode.QUERY_EVALUATOR),
    ("NOT zqmerge", SearchMode.QUERY_EVALUATOR),
    ("zqmerge AND ( parse_1 OR NOT codec_2 )", SearchMode.QUERY_EVALUATOR),
    ("tiny", SearchMode.AND),
    ("tiny OR zqmerge AND zqshard", SearchMode.QUERY_EVALUATOR),
]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    rows = synth_corpus(n_docs=150, seed=7)
    corpus = spark.createDataFrame(rows)
    index_dir = str(tmp_path_factory.mktemp("qindex"))
    IndexBuilder(spark, index_dir, CFG).build_all(corpus)
    engine = SearchEngine(spark, index_dir, CFG)
    oracle = RefSemIndex(corpus_to_tokens(rows))
    return engine, oracle


def _assert_rank_identical(got_rows, ref_top, label):
    got = sorted(got_rows, key=lambda r: r.rank)
    assert [r.doc_id for r in got] == [d for _s, d in ref_top], label
    for r, (s, _d) in zip(got, ref_top):
        assert r.score == pytest.approx(s, rel=1e-9, abs=1e-12), label


@pytest.mark.parametrize("use_wand", [False, True], ids=["exhaustive", "wand"])
def test_rank_identity_batch(setup, use_wand):
    engine, oracle = setup
    ranked = engine.search_batch(QUERIES, use_wand=use_wand).collect()
    by_qid: dict[int, list] = {}
    for r in ranked:
        by_qid.setdefault(r.qid, []).append(r)
    for qid, (query, mode) in enumerate(QUERIES):
        _n, ref_top = oracle.search_text(query, mode)
        _assert_rank_identical(by_qid.get(qid, []), ref_top, (query, mode))


def test_single_query_path(setup):
    engine, oracle = setup
    _n, ref_top = oracle.search_text("zqmerge zqshard", SearchMode.AND)
    got = engine.search("zqmerge zqshard", SearchMode.AND).collect()
    _assert_rank_identical(got, ref_top, "single AND")


def test_wand_stats_counters(setup):
    """The skip-rate diagnostic counts segments, flows back through the
    chunk kernels' accumulators, and only the WAND path feeds it."""
    engine, oracle = setup
    engine.enable_wand_stats()
    try:
        got = engine.search("zqmerge zqshard", SearchMode.OR).collect()
        assert got  # non-empty so the kernel actually swept
        s = engine.wand_stats()
        assert s["segments_total"] >= s["segments_scored"] > 0
        assert 0.0 <= s["skip_rate"] < 1.0
        engine.reset_wand_stats()
        assert engine.wand_stats() == {
            "segments_total": 0, "segments_scored": 0, "skip_rate": 0.0
        }
        # exhaustive path never touches the WAND sweep
        engine.search("zqmerge zqshard", SearchMode.OR, use_wand=False).collect()
        assert engine.wand_stats()["segments_total"] == 0
    finally:
        engine._wand_acc = None


def test_wand_equals_exhaustive_random_or(setup):
    """Property: block-max WAND == exhaustive on randomized OR queries."""
    engine, oracle = setup
    rng = np.random.default_rng(123)
    vocab = sorted(oracle.index.keys())
    queries = []
    for _ in range(15):
        k = int(rng.integers(1, 5))
        toks = [vocab[int(i)] for i in rng.integers(0, len(vocab), size=k)]
        queries.append((" ".join(toks), SearchMode.OR))
    a = engine.search_batch(queries, use_wand=True).collect()
    b = engine.search_batch(queries, use_wand=False).collect()
    key = lambda r: (r.qid, r.rank)
    a, b = sorted(a, key=key), sorted(b, key=key)
    assert [(r.qid, r.rank, r.doc_id) for r in a] == [
        (r.qid, r.rank, r.doc_id) for r in b
    ]
    for x, y in zip(a, b):
        assert x.score == pytest.approx(y.score, rel=1e-12)
    # and both equal the oracle
    by_qid: dict[int, list] = {}
    for r in a:
        by_qid.setdefault(r.qid, []).append(r)
    for qid, (query, mode) in enumerate(queries):
        _n, ref_top = oracle.search_text(query, mode)
        _assert_rank_identical(by_qid.get(qid, []), ref_top, (query, mode))


def test_mixed_num_return_batch(setup):
    """A batch mixing num_return=3 and num_return=15 must honour each
    query's own k (regression: the filter used the global max for all)."""
    engine, oracle = setup
    plans = [
        engine.compile("zqmerge zqshard", SearchMode.OR, qid=0, num_return=3),
        engine.compile("parse_1 codec_2 merge_3", SearchMode.OR, qid=1,
                       num_return=15),
    ]
    rows = engine.execute(plans).collect()
    by_qid: dict[int, list] = {}
    for r in rows:
        by_qid.setdefault(r.qid, []).append(r)
    _n, ref0 = oracle.search_text("zqmerge zqshard", SearchMode.OR,
                                  num_return=3)
    _n, ref1 = oracle.search_text("parse_1 codec_2 merge_3", SearchMode.OR,
                                  num_return=15)
    assert len(by_qid[0]) == len(ref0) <= 3
    assert len(by_qid[1]) == len(ref1) > 3
    _assert_rank_identical(by_qid[0], ref0, "k=3")
    _assert_rank_identical(by_qid[1], ref1, "k=15")


def test_large_heterogeneous_batch_uses_join_limit(setup):
    """>64 distinct qids exercises the broadcast-join per-qid limit path
    (the map-literal expression would otherwise grow with the batch)."""
    engine, _oracle = setup
    plans = [
        engine.compile("zqmerge zqshard", SearchMode.OR, qid=q,
                       num_return=1 + (q % 7))
        for q in range(70)
    ]
    rows = engine.execute(plans).collect()
    by_qid: dict[int, int] = {}
    for r in rows:
        by_qid[r.qid] = by_qid.get(r.qid, 0) + 1
    assert len(by_qid) == 70
    for q, n in by_qid.items():
        assert n <= 1 + (q % 7), (q, n)
    # same per-query content as a solo run
    solo = engine.execute([plans[13]]).collect()
    batch13 = sorted(
        ((r.rank, r.doc_id) for r in rows if r.qid == 13)
    )
    assert batch13 == sorted((r.rank, r.doc_id) for r in solo)


def test_num_return_above_default_candidates(setup):
    """num_return > num_candidates must widen the candidate pool, not
    silently truncate the top-k at num_candidates (ADVICE plan.py:244)."""
    engine, oracle = setup
    plan = engine.compile("def zqmerge zqshard", SearchMode.OR,
                          num_candidates=5, num_return=120)
    assert plan.num_candidates >= 120
    got = engine.execute([plan]).collect()
    _n, ref = oracle.search_text(
        "def zqmerge zqshard", SearchMode.OR,
        num_candidates=120, num_return=120,
    )
    _assert_rank_identical(got, ref, "k=120 widened pool")


def test_doc_info_join(setup):
    engine, _oracle = setup
    ranked = engine.search("zqmerge", SearchMode.AND)
    info = engine.with_doc_info(ranked).collect()
    assert len(info) > 0
    assert all(r.path is not None for r in info)


def test_with_doc_info_matches_spark_join(setup, spark, tmp_path):
    """``with_doc_info`` equals a plain Spark left join of the ranked
    rows onto the docs table plus the corpus snippet join, built here as
    an independent oracle: same rows in (qid, rank) order, same column
    names and types.  A hit id with no docs row keeps None metadata."""
    from pyspark.sql import functions as F

    engine, _oracle = setup
    corpus_path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(synth_corpus(n_docs=150, seed=7)).write.parquet(
        corpus_path
    )
    corpus = spark.read.parquet(corpus_path)
    orphan = spark.createDataFrame(
        [(99, 10**9, 1.0, 1)], "qid int, doc_id long, score double, rank int"
    )
    ranked = engine.search_batch(QUERIES[:6], num_return=10).unionByName(
        orphan
    )
    docs = engine.docs.select("doc_id", "repo", "path", "commit", "lang")
    snip = corpus.select(
        "repo", "path", "commit",
        F.substring("content", 1, engine.config.snippet_length).alias(
            "snippet"
        ),
    )
    meta = ranked.join(docs, "doc_id", "left")
    oracles = {
        False: meta,
        True: meta.join(snip, ["repo", "path", "commit"], "left"),
    }
    for with_corpus, want_df in oracles.items():
        got_df = engine.with_doc_info(ranked, corpus if with_corpus else None)
        assert {f.name: f.dataType for f in got_df.schema.fields} == {
            f.name: f.dataType for f in want_df.schema.fields
        }
        got = [r.asDict() for r in got_df.collect()]
        want = sorted(
            (r.asDict() for r in want_df.collect()),
            key=lambda d: (d["qid"], d["rank"]),
        )
        assert got == want, with_corpus
        assert got[-1]["qid"] == 99 and got[-1]["repo"] is None
        assert sum(d["path"] is not None for d in got) > 10


def test_doc_info_job_counts(setup, spark, tmp_path, count_jobs):
    """The docs lookup runs no Spark job; ``with_doc_info`` adds no job
    to the ranked collect without a corpus and one snippet scan with
    one."""
    engine, _oracle = setup
    corpus_path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(synth_corpus(n_docs=150, seed=7)).write.parquet(
        corpus_path
    )
    corpus = spark.read.parquet(corpus_path)
    fresh = SearchEngine(spark, str(engine.store.dir), CFG)  # cold caches
    with count_jobs() as lookup:
        info = fresh.store.doc_info_for(range(0, 150, 3))
    assert lookup == [] and len(info) == 50

    def ranked():
        return fresh.search_batch(QUERIES[:6], num_return=10)

    with count_jobs() as base:
        ranked().collect()
    with count_jobs() as meta:
        fresh.with_doc_info(ranked()).collect()
    with count_jobs() as snips:
        fresh.with_doc_info(ranked(), corpus).collect()
    assert base and len(meta) <= len(base)
    assert len(snips) <= len(base) + 1


def test_point_lookup_prunes_row_groups(tmp_path):
    """The shared pyarrow point lookup opens only the row groups whose
    footer min/max can hold a key, and returns exactly the rows of an
    unpruned ``isin`` read."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from search_engine_spark.sources.index_store import (
        point_lookup,
        row_groups_for,
    )

    terms = [f"t{i:06d}" for i in range(4000)]
    pq.write_table(
        pa.table({"term": terms, "df": list(range(4000))}),
        str(tmp_path / "part-0.parquet"),
        row_group_size=500,
    )
    # group 1 and 5 hold a key each; "t001250x" is absent but inside
    # group 2's range; "a" and "zzz" lie outside every group
    keys = ["zzz", "t000600", "t002700", "t001250x", "a"]
    ds = pads.dataset(str(tmp_path), format="parquet")
    [frag] = ds.get_fragments()
    assert frag.metadata.num_row_groups == 8
    assert row_groups_for(frag, "term", sorted(keys)) == [1, 2, 5]
    got = point_lookup(ds.get_fragments(), "term", keys, ["term", "df"])
    want = ds.to_table(
        columns=["term", "df"], filter=pads.field("term").isin(keys)
    ).to_pylist()
    assert got == want == [
        {"term": "t000600", "df": 600}, {"term": "t002700", "df": 2700}
    ]


def test_postings_scan_is_pruned(setup):
    """The postings scan must push bucket-partition + term filters down."""
    engine, _ = setup
    plan = engine.compile("zqmerge", SearchMode.AND)
    from search_engine_spark.sources.index_store import term_bucket
    from pyspark.sql import functions as F

    buckets = [term_bucket("zqmerge", CFG.n_term_buckets)]
    scan = engine._postings.where(
        F.col("bucket").isin(buckets) & F.col("term").isin(["zqmerge"])
    )
    explained = scan._jdf.queryExecution().executedPlan().toString()
    assert "zqmerge" in explained


def test_empty_query_is_empty(setup):
    """Zero-token AND/OR queries return nothing (reference: empty k-way
    merge).  Zero-token NOT is a crash path in the reference (flat shape
    leaks into flatten); pinned here as all-docs with score 0, first
    ``num_return`` ascending doc ids."""
    engine, _oracle = setup
    assert engine.search("", SearchMode.AND).collect() == []
    assert engine.search("", SearchMode.OR).collect() == []
    got = engine.search("", SearchMode.NOT).collect()
    assert [(r.doc_id, r.score) for r in sorted(got, key=lambda r: r.rank)] == [
        (i, 0.0) for i in range(10)
    ]


def test_layout_config_comes_from_index_meta(spark, tmp_path):
    """Opening an index with a mismatched layout config must still work:
    the store's meta.json pins bucket count / chunk size / tokenizer."""
    from search_engine_spark.testing.synth import synth_corpus

    rows = synth_corpus(n_docs=60, seed=2)
    d = str(tmp_path / "meta_idx")
    IndexBuilder(spark, d, CFG).build_all(spark.createDataFrame(rows))
    # open with defaults (different n_term_buckets / chunk_docs)
    eng = SearchEngine(spark, d, EngineConfig())
    assert eng.config.n_term_buckets == CFG.n_term_buckets
    assert eng.config.chunk_docs == CFG.chunk_docs
    got = eng.search("zqmerge", SearchMode.AND).collect()
    oracle = RefSemIndex(corpus_to_tokens(rows))
    _n, ref_top = oracle.search_text("zqmerge", SearchMode.AND)
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)] == [
        d_ for _s, d_ in ref_top
    ]


def test_chunked_batch_matches_oneshot_at_10k(setup, tmp_path):
    """10k-query offline batch through search_batch_chunked: driver
    state stays O(chunk) (each slice compiles separately, eager parquet
    spill), results are identical to the one-shot path on a sample, and
    global qids survive the slicing."""
    import time

    engine, _oracle = setup
    # rare (un-pruned) terms only, so every combo returns results and the
    # qid-coverage assertion is exact
    base = ["zqmerge", "zqshard", "merge_3", "tiny"]
    queries = [
        (f"{base[i % 4]} {base[(i // 4) % 4]}", SearchMode.OR)
        for i in range(10_000)
    ]
    t0 = time.time()
    out_path = str(tmp_path / "mined")
    ranked = engine.search_batch_chunked(
        queries, num_return=5, chunk_size=2048, output_path=out_path
    )
    rows = ranked.collect()
    wall = time.time() - t0
    # every query produced results, qids cover the whole global range
    qids = {r.qid for r in rows}
    assert len(qids) == 10_000 and min(qids) == 0 and max(qids) == 9_999

    # sample parity vs the one-shot path (same qid -> same ranking)
    sample = [0, 1, 2048, 5000, 9999]
    one = engine.search_batch(
        [queries[i] for i in sample], num_return=5
    ).collect()
    got = {i: [] for i in sample}
    for r in rows:
        if r.qid in got:
            got[r.qid].append((r.rank, r.doc_id, round(r.score, 9)))
    for local_qid, global_qid in enumerate(sample):
        want = sorted(
            (r.rank, r.doc_id, round(r.score, 9))
            for r in one
            if r.qid == local_qid
        )
        assert sorted(got[global_qid]) == want, global_qid
    # the whole run is job-bound, not driver-compile-bound: 10k compiles
    # plus 5 slice jobs must land in interactive time even on local[4]
    assert wall < 300, f"chunked batch took {wall:.0f}s"


def test_chunked_batch_slices_match_oneshot(setup):
    """Slices compile with global qids (first qid = slice offset): every
    family's rows equal the one-shot batch, and an empty batch is an
    empty frame."""
    engine, _oracle = setup
    key = lambda r: (r.qid, r.rank, r.doc_id, r.score)
    want = sorted(engine.search_batch(QUERIES).collect(), key=key)
    got = sorted(
        engine.search_batch_chunked(QUERIES, chunk_size=2).collect(), key=key
    )
    assert got == want
    empty = engine.search_batch_chunked([])
    assert empty.collect() == []
    assert empty.columns == ["qid", "doc_id", "score", "rank"]


FILTER_QUERIES = [
    ("zqmerge zqshard", SearchMode.OR),
    ("zqmerge zqshard", SearchMode.AND),
    ("zqmerge", SearchMode.NOT),
    ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
    ('"zqmerge zqshard"', SearchMode.PHRASE),
]


@pytest.mark.parametrize("query,mode", FILTER_QUERIES)
def test_doc_filter_equals_posthoc_restriction(setup, spark, query, mode):
    """doc_filter semantics: identical to running the query unfiltered
    with k = num_docs, dropping docs that fail the metadata predicate,
    and re-ranking — BM25 stats stay global.  Exercises OR/AND/NOT/
    boolean/phrase trees and the WAND-disable path."""
    from pyspark.sql import functions as F

    engine, _oracle = setup
    n = int(engine.stats["num_docs"])
    allowed = {
        r.doc_id
        for r in engine.store.read_docs()
        .where(F.col("lang") == "python")
        .select("doc_id")
        .collect()
    }
    assert 0 < len(allowed) < n  # the predicate must actually restrict

    got = engine.search(
        query, mode, num_return=10, doc_filter=F.col("lang") == "python"
    ).collect()
    full = engine.search(query, mode, num_return=n, use_wand=False).collect()
    want = [
        (r.doc_id, round(r.score, 9))
        for r in sorted(full, key=lambda r: r.rank)
        if r.doc_id in allowed
    ][:10]
    got_pairs = [
        (r.doc_id, round(r.score, 9))
        for r in sorted(got, key=lambda r: r.rank)
    ]
    assert got_pairs == want, (query, mode)
    assert all(r.doc_id in allowed for r in got)


def test_doc_filter_empty_predicate(setup, spark):
    from pyspark.sql import functions as F

    engine, _oracle = setup
    out = engine.search(
        "zqmerge", SearchMode.OR,
        doc_filter=F.col("lang") == "no_such_lang",
    ).collect()
    assert out == []


@pytest.mark.parametrize(
    "query,mode",
    [
        ("zqmerge zqshard", SearchMode.OR),
        ("zqmerge", SearchMode.NOT),
        ('"zqmerge zqshard"', SearchMode.PHRASE),
        ("zqmerge AND ( zqshard OR codec_2 )", SearchMode.QUERY_EVALUATOR),
    ],
)
def test_facet_counts_match_full_match_set(setup, spark, query, mode):
    """Facets tally EVERY matching doc (no top-k): equal to grouping the
    exhaustive result set's metadata by the facet column."""
    from collections import Counter

    from pyspark.sql import functions as F

    engine, _oracle = setup
    n = int(engine.stats["num_docs"])
    lang_of = {
        r.doc_id: r.lang
        for r in engine.store.read_docs().select("doc_id", "lang").collect()
    }
    full = engine.search(query, mode, num_return=n, use_wand=False).collect()
    want = Counter(lang_of[r.doc_id] for r in full)
    got = {
        r.value: r.n_docs
        for r in engine.facet_counts(query, mode, by="lang").collect()
    }
    assert got == dict(want), (query, mode)


def test_facet_counts_compose_with_doc_filter(setup, spark):
    from collections import Counter

    from pyspark.sql import functions as F

    engine, _oracle = setup
    n = int(engine.stats["num_docs"])
    docs = engine.store.read_docs().select("doc_id", "lang", "repo").collect()
    repo_of = {r.doc_id: r.repo for r in docs}
    allowed = {r.doc_id for r in docs if r.lang == "python"}
    full = engine.search(
        "zqmerge zqshard", SearchMode.OR, num_return=n, use_wand=False
    ).collect()
    want = Counter(
        repo_of[r.doc_id] for r in full if r.doc_id in allowed
    )
    got = {
        r.value: r.n_docs
        for r in engine.facet_counts(
            "zqmerge zqshard", SearchMode.OR, by="repo",
            doc_filter=F.col("lang") == "python",
        ).collect()
    }
    assert got == dict(want)


def test_wand_matches_exhaustive_under_doc_filter(setup, spark):
    """WAND stays enabled under a metadata filter (r4): per-segment
    candidate dropping keeps the pool over survivors while unfiltered
    block maxima remain valid upper bounds — rank-identical to the
    exhaustive path."""
    from pyspark.sql import functions as F

    engine, _oracle = setup
    pred = F.col("lang") == "python"
    for query in ["zqmerge zqshard", "def zqmerge zqshard codec_2"]:
        a = engine.search(
            query, SearchMode.OR, num_return=10,
            doc_filter=pred, use_wand=True,
        ).collect()
        b = engine.search(
            query, SearchMode.OR, num_return=10,
            doc_filter=pred, use_wand=False,
        ).collect()
        key = lambda rows: [
            (r.doc_id, r.score) for r in sorted(rows, key=lambda r: r.rank)
        ]
        assert key(a) == key(b), query


# ----- metadata lookups run on the driver, not as Spark jobs -----


def test_compile_runs_no_spark_job(setup, spark, count_jobs):
    """Tokenize, term-stats lookup and plan compile are driver-only: a
    freshly opened engine (empty term-stats memo) compiles every mode
    without starting a Spark job."""
    engine, _oracle = setup
    fresh = SearchEngine(spark, str(engine.store.dir), CFG)
    with count_jobs() as jobs:
        for query, mode in QUERIES:
            fresh.compile(query, mode)
    assert jobs == []


def test_one_term_search_job_count(setup, count_jobs):
    """A one-term search runs only the posting scan + scoring jobs: no
    term-stats or schema-inference job rides along."""
    engine, _oracle = setup
    engine.search("zqshard", SearchMode.AND).collect()  # doclens cache warm
    with count_jobs() as jobs:
        got = engine.search("zqmerge", SearchMode.AND).collect()
    assert got
    assert 1 <= len(jobs) <= 3, jobs


def _vocab(rows) -> list[str]:
    return sorted(
        {t for title, body in corpus_to_tokens(rows) for t in title + body}
    )


def _absent_bucket_term(store) -> str:
    import os

    from search_engine_spark.sources.index_store import term_bucket

    present = set(os.listdir(store.term_stats_path))
    for i in range(10_000):
        t = f"absentbucket{i}"
        if f"bucket={term_bucket(t, store.config.n_term_buckets)}" not in present:
            return t
    raise AssertionError("every bucket directory exists")


def _assert_driver_lookup_matches_spark(spark, index_dir, cfg, vocab):
    from pyspark.sql import functions as F

    from search_engine_spark.sources.index_store import IndexStore

    store = IndexStore(spark, index_dir, cfg)
    store.load_meta_into_config()
    absent = _absent_bucket_term(store)
    tokens = vocab + [
        "unknown_term_xyz", "AND", "OR", "NOT", "(", ")", '"', absent,
    ]
    # reference: the Spark read of term_stats
    rows = (
        store.read_term_stats()
        .where(F.col("term").isin(tokens))
        .select("term", "df")
        .collect()
    )
    want = {r.term: r.df for r in rows}
    assert set(want) >= set(vocab) and absent not in want
    assert store.term_stats_for(tokens) == want
    assert store.term_stats_for(tokens) == want  # memoized path
    assert store.term_stats_for(vocab[:3]) == {t: want[t] for t in vocab[:3]}
    assert store.term_stats_for([]) == {}


def test_driver_term_stats_equal_spark_read(spark, tmp_path):
    """Driver-side ``term_stats_for`` returns what a Spark read of
    ``term_stats`` returns — in-vocabulary, out-of-vocabulary, operator
    tokens and a term whose bucket directory does not exist — on a fresh
    build, and again after each streaming ``advance()`` rewrites the
    table through ``finalize_incremental``."""
    import os

    from pyspark.sql import types as T

    from search_engine_spark.sources.index_store import IndexStore
    from search_engine_spark.streaming import StreamingIndexer

    # 64 buckets over a ~20-term vocabulary, so most bucket dirs are absent
    cfg = EngineConfig(chunk_docs=32, chunks_per_batch=2, block_docs=8,
                       n_term_buckets=64)
    words = [f"w{i}" for i in range(16)]
    rng = np.random.default_rng(11)
    rows = [
        {
            "repo": "r", "path": f"d{i % 3}/f.txt", "commit": f"c{i:03d}",
            "lang": "en",
            "content": " ".join(
                words[int(j)] for j in rng.zipf(1.5, size=12) % len(words)
            ),
        }
        for i in range(96)
    ]
    vocab = _vocab(rows)
    assert len(vocab) > 10

    fresh_dir = str(tmp_path / "fresh")
    IndexBuilder(spark, fresh_dir, cfg).build_all(spark.createDataFrame(rows))
    _assert_driver_lookup_matches_spark(spark, fresh_dir, cfg, vocab)

    schema = T.StructType.fromDDL(
        "repo string, path string, commit string, lang string, content string"
    )
    cols = ["repo", "path", "commit", "lang", "content"]
    src = str(tmp_path / "arrivals")
    stream_dir = str(tmp_path / "stream")
    indexer = StreamingIndexer(spark, stream_dir, str(tmp_path / "stg"), cfg)
    waves = [
        [dict(r, repo=f"a{w}-" + r["repo"]) for r in rows[lo:lo + 32]]
        for w, lo in enumerate((0, 32))
    ]
    for wave in waves:
        spark.createDataFrame(wave, schema=schema).select(*cols).write.mode(
            "append"
        ).parquet(src)
        indexer.start(
            spark.readStream.schema(schema).parquet(src), available_now=True
        )
        assert indexer.advance()["indexed"] == 32
        _assert_driver_lookup_matches_spark(
            spark, stream_dir, cfg, _vocab(wave)
        )

    # a missing term_stats root (e.g. mid-swap) raises; it must never
    # price every term at df 0
    store = IndexStore(spark, stream_dir, cfg)
    store.load_meta_into_config()
    moved = store.term_stats_path + ".retired"
    os.rename(store.term_stats_path, moved)
    try:
        with pytest.raises(FileNotFoundError):
            store.term_stats_for(vocab[:5])
    finally:
        os.rename(moved, store.term_stats_path)
    assert store.term_stats_for(vocab[:5])


def test_term_stats_memo_is_bounded(setup, monkeypatch):
    """A long-lived store looks up an unbounded stream of distinct
    tokens (typos included): the df memo keeps at most its bound, and a
    term it evicted is read again with the right df."""
    from search_engine_spark.sources import index_store

    engine, oracle = setup
    monkeypatch.setattr(index_store, "_DF_MEMO_SIZE", 4)
    store = index_store.IndexStore(
        engine.spark, str(engine.store.dir), engine.config
    )
    vocab = sorted(oracle.index)[:6]
    typos = [f"zzqtypo{i}" for i in range(6)]
    want = {t: len(oracle.index[t].doc_ids) for t in vocab}
    for t in vocab + typos:  # 12 distinct lookups, bound 4
        store.term_stats_for([t])
    assert len(store._df_memo) <= 4
    assert store.term_stats_for(vocab) == want
    assert len(store._df_memo) <= 4
    assert store.term_stats_for(typos) == {}


def test_engine_resolves_docs_table_once(setup, monkeypatch):
    """Doc info, filters and facets read the docs frame the engine
    resolved at open, so none of them pays the docs table's
    schema-inference job again."""
    from pyspark.sql import functions as F

    engine, _oracle = setup

    def _reread():
        raise AssertionError("docs table re-read after engine open")

    monkeypatch.setattr(engine.store, "read_docs", _reread)
    info = engine.with_doc_info(engine.search("zqmerge", SearchMode.AND))
    assert info.collect()
    engine.search(
        "zqmerge", SearchMode.OR, doc_filter=F.col("lang") == "python"
    ).collect()
    assert engine.facet_counts("zqmerge", SearchMode.OR).collect()
