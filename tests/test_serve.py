"""HTTP serving layer: a warm engine behind ThreadingHTTPServer answers
/search with results identical to the direct SearchEngine call (the
parity the reference's web.py has with its CLI)."""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
import urllib.request
from concurrent.futures import Future

import pytest

from search_engine_spark.build.builder import IndexBuilder
from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.serve import _LRU, SearchService, make_server
from search_engine_spark.testing.synth import synth_corpus

CFG = EngineConfig(chunk_docs=64, chunks_per_batch=2, block_docs=8,
                   n_term_buckets=8)


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("serve")
    index_dir = str(base / "idx")
    corpus_path = str(base / "corpus.parquet")
    corpus = spark.createDataFrame(synth_corpus(n_docs=100, seed=41))
    corpus.select("repo", "path", "commit", "lang", "content").write.parquet(
        corpus_path
    )
    IndexBuilder(spark, index_dir, CFG).build_all(
        spark.read.parquet(corpus_path)
    )
    service = SearchService(spark, index_dir, CFG, corpus_path=corpus_path)
    httpd = make_server(service)  # ephemeral port
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield spark, index_dir, f"http://127.0.0.1:{httpd.server_port}"
    httpd.shutdown()


def _get(url: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_healthz(served):
    _spark, _idx, base = served
    code, body = _get(base + "/healthz")
    assert code == 200
    assert body["status"] == "ok" and body["num_docs"] == 100


def test_search_matches_cli_engine(served):
    """Endpoint results == direct SearchEngine.search on the same index
    (the 'identical to cli.py search' bar from the round-2 verdict)."""
    spark, index_dir, base = served
    engine = SearchEngine(spark, index_dir, CFG)
    for query, mode in [
        ("zqmerge", "AND"),
        ("zqmerge zqshard", "OR"),
        ("zqmerge AND ( zqshard OR codec_2 )", "QUERY_EVALUATOR"),
    ]:
        code, body = _get(
            base + "/search?" + urllib.parse.urlencode(
                {"q": query, "mode": mode, "k": 5}
            )
        )
        assert code == 200, body
        want = [
            (r.doc_id, round(r.score, 9), r.rank)
            for r in sorted(
                engine.search(query, SearchMode[mode], num_return=5)
                .collect(),
                key=lambda r: r.rank,
            )
        ]
        got = [
            (r["doc_id"], round(r["score"], 9), r["rank"])
            for r in body["results"]
        ]
        assert got == want, query
        assert body["num_results"] == len(want)
        assert body["took_sec"] >= 0
        # snippets came from the corpus join
        if body["results"]:
            assert "snippet" in body["results"][0]


def test_bad_requests(served):
    _spark, _idx, base = served
    code, body = _get(base + "/search")  # missing q
    assert code == 400 and "q" in body["error"]
    code, body = _get(base + "/search?q=x&mode=NOPE")
    assert code == 400 and "NOPE" in body["error"]
    code, _body = _get(base + "/nothere")
    assert code == 404


def test_concurrent_requests(served):
    """Thread-per-request against one engine: Spark job submission is
    thread-safe; all responses must be complete and consistent."""
    _spark, _idx, base = served
    results: list[dict] = []
    errs: list[Exception] = []

    def hit():
        try:
            code, body = _get(
                base + "/search?q=zqmerge&mode=AND&k=3"
            )
            assert code == 200
            results.append(body)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=hit) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert len(results) == 4
    first = [(r["doc_id"], r["rank"]) for r in results[0]["results"]]
    for body in results[1:]:
        assert [(r["doc_id"], r["rank"]) for r in body["results"]] == first


def test_result_cache_hits_and_k_semantics(served):
    """The snapshot-scoped result cache: a repeated (query, mode) costs
    zero Spark jobs and returns identical rows; a smaller k is served as
    the cached prefix; a larger k misses and recomputes deeper."""
    spark, index_dir, _base = served
    svc = SearchService(spark, index_dir, CFG)
    calls = []
    orig = svc.engine.search_batch

    def counting(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    svc.engine.search_batch = counting
    first = svc.search({"q": "zqmerge zqshard", "mode": "OR", "k": 5})
    assert len(calls) == 1
    again = svc.search({"q": "zqmerge zqshard", "mode": "OR", "k": 5})
    assert len(calls) == 1  # cache hit: no new Spark batch
    assert again["results"] == first["results"]
    # smaller k = prefix of the cached result, still no new job
    k2 = svc.search({"q": "zqmerge zqshard", "mode": "OR", "k": 2})
    assert len(calls) == 1
    assert k2["results"] == first["results"][:2]
    # larger k misses (cached depth insufficient) and recomputes
    k9 = svc.search({"q": "zqmerge zqshard", "mode": "OR", "k": 9})
    assert len(calls) == 2
    assert [r["doc_id"] for r in k9["results"][:5]] == [
        r["doc_id"] for r in first["results"]
    ]
    # ...after which the deeper entry serves the old k again
    svc.search({"q": "zqmerge zqshard", "mode": "OR", "k": 5})
    assert len(calls) == 2


def test_result_cache_disabled(served):
    spark, index_dir, _base = served
    svc = SearchService(spark, index_dir, CFG, result_cache_size=0)
    calls = []
    orig = svc.engine.search_batch

    def counting(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    svc.engine.search_batch = counting
    r1 = svc.search({"q": "zqmerge", "mode": "AND", "k": 3})
    r2 = svc.search({"q": "zqmerge", "mode": "AND", "k": 3})
    assert len(calls) == 2  # every request pays a job when disabled
    assert r1["results"] == r2["results"]


def _served_rows(rows) -> list[dict]:
    """Rows as the /search endpoint renders them."""
    return [
        {k: v for k, v in r.asDict().items() if k != "qid" and v is not None}
        for r in sorted(rows, key=lambda r: r.rank)
    ]


def test_micro_batch_mixed_k_and_bad_query_isolation(served):
    """Concurrent requests ride one micro-batched search_batch job; a
    request's k is honored via the rank<=k prefix even when batch-mates
    asked for more, and a malformed query in the batch fails ALONE (the
    batcher retries each request as a wave of one) while its mates get
    exactly the library's ``with_doc_info(search_batch(...))`` rows,
    snippets included."""
    spark, index_dir, base = served
    # the served fixture's layout: corpus.parquet next to idx/
    corpus_path = os.path.join(os.path.dirname(index_dir), "corpus.parquet")
    out: dict[int, tuple[int, dict]] = {}

    reqs = [
        ("zqmerge", "AND", 2),
        ("zqmerge zqshard", "OR", 5),
        (")zqmerge(", "QUERY_EVALUATOR", 3),  # mismatched parens: raises
        ("zqmerge", "AND", 5),
    ]

    def hit(i, q, mode, k):
        out[i] = _get(
            base + "/search?" + urllib.parse.urlencode(
                {"q": q, "mode": mode, "k": k}
            )
        )

    threads = [
        threading.Thread(target=hit, args=(i, *r))
        for i, r in enumerate(reqs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    # the malformed query fails alone
    assert out[2][0] in (400, 500)
    # k=2 is the prefix of the same query's k=5 result
    assert out[0][0] == 200 and out[3][0] == 200
    top2 = [(r["doc_id"], r["rank"]) for r in out[0][1]["results"]]
    top5 = [(r["doc_id"], r["rank"]) for r in out[3][1]["results"]]
    assert len(top2) <= 2 and top5[: len(top2)] == top2
    assert out[1][0] == 200 and len(out[1][1]["results"]) <= 5

    engine = SearchEngine(spark, index_dir, CFG)
    corpus = spark.read.parquet(corpus_path)
    want = {}
    for i in (0, 1, 3):
        q, mode, k = reqs[i]
        want[i] = _served_rows(
            engine.with_doc_info(
                engine.search_batch([(q, SearchMode[mode])], num_return=k),
                corpus,
            ).collect()
        )
        assert want[i] and all("snippet" in r for r in want[i])
        assert out[i][1]["results"] == want[i], reqs[i]

    # the same four requests as one wave, deterministically: the wave
    # fails, each request retries as a wave of one through search_batch
    svc = SearchService(spark, index_dir, CFG, corpus_path=corpus_path)
    waves = []
    inner = svc.engine.search_batch

    def counting(queries, *a, **kw):
        waves.append(len(queries))
        return inner(queries, *a, **kw)

    svc.engine.search_batch = counting
    futs = [Future() for _ in reqs]
    svc._batcher._run(
        [(q, SearchMode[m], k, f) for (q, m, k), f in zip(reqs, futs)]
    )
    assert waves == [3, 1, 1, 1, 1]  # 3 distinct (query, mode) pairs
    with pytest.raises(Exception):
        futs[2].result(timeout=0)
    for i in (0, 1, 3):
        assert _served_rows(futs[i].result(timeout=0)) == want[i], reqs[i]


def test_wave_job_counts_and_rerank_rows(served, count_jobs):
    """A cache-cold wave with a corpus runs its ranked collect's jobs
    plus at most one snippet scan (the docs lookup runs none); a wave
    over already-seen hit docs adds nothing; a rerank request returns
    the library's ``with_doc_info(search_reranked(...))`` rows."""
    spark, index_dir, _base = served
    corpus_path = os.path.join(os.path.dirname(index_dir), "corpus.parquet")
    svc = SearchService(spark, index_dir, CFG, corpus_path=corpus_path)
    eng = svc.engine
    queries = [("zqmerge", SearchMode.AND), ("zqmerge zqshard", SearchMode.OR)]

    def wave(k: int) -> list:
        futs = [Future() for _ in queries]
        svc._batcher._run_wave(
            [(q, m, k, f) for (q, m), f in zip(queries, futs)]
        )
        return [f.result(timeout=0) for f in futs]

    with count_jobs() as ranked:
        eng.search_batch(queries, num_return=5).collect()
    with count_jobs() as cold:
        first = wave(5)
    assert ranked and len(cold) <= len(ranked) + 1
    assert all(r.snippet is not None for rows in first for r in rows)
    with count_jobs() as warm:
        again = wave(5)
    assert len(warm) <= len(ranked)
    assert again == first

    got = svc.search({"q": "zqmerge zqshard", "mode": "OR", "k": 5,
                      "rerank": "1"})
    lib = SearchEngine(spark, index_dir, CFG)
    want = _served_rows(
        lib.with_doc_info(
            lib.search_reranked("zqmerge zqshard", SearchMode.OR,
                                num_return=5),
            spark.read.parquet(corpus_path),
        ).collect()
    )
    assert want and got["results"] == want


def test_snippet_cache_follows_its_corpus(served):
    """Serve's workers share the engine's snippet cache, which belongs to
    one corpus at a time: under concurrent calls alternating between two
    corpora, every call sees only its own corpus's snippets."""
    import sys

    from pyspark.sql import Row

    spark, index_dir, _base = served
    eng = SearchEngine(spark, index_dir, CFG)
    keys = {("repo", f"p{i}", "c") for i in range(20)}

    class FakeCorpus:  # stands in for the corpus scan's where/select
        def __init__(self, tag):
            self.tag = tag

        def where(self, _cond):
            return self

        def select(self, *_cols):
            return self

        def collect(self):
            return [Row(repo=r, path=p, commit=c, snippet=self.tag + p)
                    for r, p, c in keys]

    corpora = [FakeCorpus("a:"), FakeCorpus("b:")]
    errs: list[BaseException] = []

    def work(t: int) -> None:
        try:
            for i in range(40):
                c = corpora[(t + i) % 2]
                got = eng._snippets(c, keys)
                assert got == {k: c.tag + k[1] for k in keys}
        except BaseException as exc:  # surfaced after join
            errs.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads) and not errs, errs[:1]


def test_lru_bounds_and_recency():
    lru = _LRU(2)
    lru.put_many({"a": 1, "b": 2})
    assert lru.get_many(["a", "x"]) == {"a": 1}  # a hit refreshes "a"
    lru.put_many({"c": 3})  # evicts the least recent: "b"
    assert lru.get_many(["a", "b", "c"]) == {"a": 1, "c": 3}
    lru.put_many({"a": 9, "d": 4})  # a rewrite refreshes too
    assert lru.get_many(["a", "c", "d"]) == {"a": 9, "d": 4}
    off = _LRU(0)  # size 0 stores nothing
    off.put_many({"a": 1})
    assert off.get_many(["a"]) == {}


def test_lru_concurrent_puts_keep_bound():
    """Worker threads share the caches: concurrent puts and gets never
    overshoot or over-evict the bound, and every kept value is intact."""
    import sys

    lru = _LRU(64)
    errs: list[BaseException] = []

    def work(t: int) -> None:
        try:
            for i in range(2000):
                lru.put_many({(t, i): i, (t, i, "x"): -i})
                lru.get_many([(t, i - 1), ((t + 1) % 8, i)])
        except BaseException as exc:  # pragma: no cover - failure path
            errs.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads) and not errs
    kept = lru.get_many(list(lru._d))
    assert len(kept) == 64
    assert all(v == (k[1] if len(k) == 2 else -k[1]) for k, v in kept.items())
