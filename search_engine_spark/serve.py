"""HTTP serving layer — twin of the reference's web UI
(``/root/reference/web.py:1-47``): a long-lived process holds ONE warm
index (the reference's ``@st.cache_resource create_index``) and answers
search requests with ranked results, snippets, and wall-clock timing.

The reference serves streamlit; neither streamlit nor FastAPI ships in
this container, so the twin is a dependency-free stdlib
``ThreadingHTTPServer`` speaking JSON — the part that matters for parity
is the warm-engine request loop, not the widget toolkit.  Endpoints:

* ``GET /search?q=<query>&mode=<MODE>&k=<n>&rerank=0|1`` ->
  ``{"num_results": n, "took_sec": t, "results": [...]}`` — results
  identical to ``cli.py search`` on the same index (same SearchEngine
  call path).
* ``GET /healthz`` -> collection stats + config echo (liveness probe).

Serving economics vs the CLI: every ``cli.py search`` pays SparkSession
startup plus first-touch index metadata reads (~seconds); here both are
paid once at bind time, so per-request cost is just the query jobs.  On
a cluster the server process IS the Spark driver — executors stay
allocated between requests (use dynamic allocation to shrink an idle
pool).

Concurrent requests are MICRO-BATCHED: every Spark action pays a
job-scheduling floor (~0.1 s at 40k docs, ~1.5 s/query at 20M docs
single-shot vs 0.29 s/query when 64 queries share one ``search_batch``
cogroup job), so one job per HTTP request caps throughput at
1/floor regardless of cluster size.  ``_MicroBatcher`` funnels requests
through ``_WORKERS`` workers; each gathers what arrives within a short
window of its first request into ONE ``search_batch`` job, so a lone
request waits at most the window, and under load arrivals pile up while
the workers' jobs run and ride the next wave.
Per-request results are identical to the solo path: ``search_batch``
funnels through the same compile/execute pipeline with qid = batch
position, and a request asking for a smaller k than its batch-mates
takes the rank <= k prefix (top-k is rank-stable in k).  A failed wave
(e.g. one malformed query) retries each of its requests as a wave of
one through the same path, so only the offender fails.  Rerank
requests keep the solo path (the MLP stage is per-query).

Doc info is assembled driver-side by ``SearchEngine.attach_doc_info``,
the same method ``with_doc_info`` and the CLI call: a wave collects its
ranked rows, looks up their metadata with a pyarrow docs read (no Spark
job) and, when a corpus is attached, runs one snippet scan for the docs
not yet cached.  The engine's doc-info and snippet caches are shared by
the batcher's workers.

A **snapshot-scoped result cache** sits on top of the batcher.  Real
query logs are Zipf — repeated queries dominate — and a cache hit costs
zero Spark jobs.  Soundness: ``SearchEngine`` resolves its
committed-batch list, tombstones and docs table ONCE at open
(``SearchEngine.__init__``), so the engine's view of the index is
immutable for its lifetime and a cache entry can never be staler than
the engine serving it.  New data requires a new ``SearchService``
(exactly as it already requires a new engine), which starts cold.
Entries store the full rank-ordered row list at the k they were computed
with; smaller-k requests take the prefix, larger-k requests miss and
recompute.  The result cache is one bounded ``_LRU`` of ``cache_size``
entries (0 disables).
"""

from __future__ import annotations

import json
import queue as _queue
import threading
import time
from collections import defaultdict
from concurrent.futures import Future
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine
from search_engine_spark.sources.index_store import _LRU


# most requests one wave carries
_MAX_BATCH = 64
# short gather window after a wave's first request: concurrent clients
# never hit the queue at the exact same instant, and without the window
# a worker wakes on the first arrival and runs a batch of 1-2 while the
# rest are still in flight.  20 ms is noise against the ~0.1 s+ Spark
# job floor it saves.
_WINDOW_SEC = 0.02
# a few workers, not one: a request that arrives just after a wave
# departs would otherwise wait for that wave's whole job.  Overlapping
# jobs keep the scheduler fed (Spark job submission is thread-safe).
# Measured on a 4-core host against the perfbench ``serve`` workload (4
# closed-loop clients): one worker draining the queue with no window
# coalesced more (median wave size 1 -> 2) but lost every untraced pair
# — cold p50 1.36-1.56 s -> 1.63-2.08 s, ops/s 5.3-5.8 -> 4.2-5.1 —
# because three overlapping jobs finish sooner than one coalesced job.
_WORKERS = 3


class _MicroBatcher:
    """Coalesce concurrent (query, mode, k) requests into one
    ``search_batch`` job per worker wake-up.  A failed wave retries each
    request as a wave of one so one malformed query can't poison its
    batch-mates' responses."""

    def __init__(self, service: "SearchService", cache_size: int = 1024):
        self._service = service
        # (query, mode) -> (k_computed, rank-ordered rows); sound for the
        # service lifetime because the engine's index view is pinned at
        # open — see the module docstring.  0 disables.
        self._results = _LRU(cache_size)
        self._q: _queue.Queue = _queue.Queue()
        self._start_lock = threading.Lock()
        self._thread: threading.Thread | None = None

    def _cache_get(self, query: str, mode: SearchMode, k: int) -> list | None:
        key = (query, mode.name)
        ent = self._results.get_many([key]).get(key)
        if ent is None or ent[0] < k:
            return None  # miss, or cached at a smaller k than asked
        return [r for r in ent[1] if r.rank <= k]

    def _cache_put(
        self, query: str, mode: SearchMode, k: int, rows: list
    ) -> None:
        key = (query, mode.name)
        old = self._results.get_many([key]).get(key)
        if old is not None and old[0] >= k:
            return  # keep the deeper result set
        # a racing put may still land a shallower entry: larger-k
        # requests then miss and recompute, so results stay exact
        self._results.put_many({key: (k, rows)})

    def submit(self, query: str, mode: SearchMode, k: int) -> list:
        """Block until this request's result rows are ready."""
        hit = self._cache_get(query, mode, k)
        if hit is not None:
            return hit
        if self._thread is None:
            with self._start_lock:
                if self._thread is None:
                    ts = [
                        threading.Thread(target=self._loop, daemon=True)
                        for _ in range(_WORKERS)
                    ]
                    for t in ts:
                        t.start()
                    self._thread = ts[0]
        fut: Future = Future()
        self._q.put((query, mode, k, fut))
        return fut.result()

    def _loop(self) -> None:
        while True:
            batch = [self._q.get()]  # block for the first request
            # gather until the window closes or the batch is full; while
            # a batch's job runs, later arrivals pile up and are drained
            # instantly at the next wake-up
            deadline = time.time() + _WINDOW_SEC
            while len(batch) < _MAX_BATCH:
                remaining = deadline - time.time()
                if remaining <= 0:
                    break
                try:
                    batch.append(self._q.get(timeout=remaining))
                except _queue.Empty:
                    break
            self._run(batch)

    def _run(self, batch: list) -> None:
        try:
            self._run_wave(batch)
        except Exception:
            # isolate the failure: retry each request as a wave of one
            # and let the offender (e.g. a parse error) fail alone
            for req in batch:
                try:
                    self._run_wave([req])
                except Exception as exc:
                    req[3].set_exception(exc)

    def _run_wave(self, batch: list) -> None:
        """One ``search_batch`` job for the wave, doc info attached, the
        result cache filled, every request's future resolved."""
        eng = self._service.engine
        kmax = max(k for _q, _m, k, _f in batch)
        # concurrent clients often ask the same thing — compile and
        # score each DISTINCT (query, mode) once, fan results back out
        uniq: dict[tuple, int] = {}
        for q, m, _k, _f in batch:
            uniq.setdefault((q, m), len(uniq))
        ranked = eng.search_batch(list(uniq), num_return=kmax)
        by_qid: dict[int, list] = defaultdict(list)
        for r in eng.attach_doc_info(ranked.collect(), self._service.corpus):
            by_qid[r.qid].append(r)
        for (q, m), qid in uniq.items():
            self._cache_put(q, m, kmax, by_qid[qid])
        for q, m, k, fut in batch:
            fut.set_result([r for r in by_qid[uniq[(q, m)]] if r.rank <= k])


class SearchService:
    """Warm-engine request handler core, HTTP-free (testable directly)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig | None = None,
        corpus_path: str | None = None,
        model_path: str | None = None,
        result_cache_size: int = 1024,
    ):
        self.engine = SearchEngine(spark, index_dir, config)
        self.corpus = (
            spark.read.parquet(corpus_path) if corpus_path else None
        )
        self.model = None
        if model_path:
            from search_engine_spark.ranking.model import RankingModel

            self.model = RankingModel.load(model_path)
        self._batcher = _MicroBatcher(self, cache_size=result_cache_size)

    def search(self, params: dict) -> dict:
        query = params.get("q")
        if not query:
            raise ValueError("missing required parameter: q")
        mode_name = params.get("mode", "QUERY_EVALUATOR")
        try:
            mode = SearchMode[mode_name]
        except KeyError:
            raise ValueError(
                f"unknown mode {mode_name!r}; one of "
                f"{[m.name for m in SearchMode if m.name != 'SEMANTIC']}"
            )
        if mode is SearchMode.SEMANTIC:
            raise ValueError(
                "SEMANTIC mode needs a query embedding; use the CLI "
                "(search --mode SEMANTIC) which owns the encoder seam"
            )
        k = int(params.get("k", 10))
        rerank = params.get("rerank", "0") not in ("0", "", "false")
        t0 = time.time()
        if rerank:
            # the MLP rerank stage is per-query — solo path
            ranked = self.engine.search_reranked(
                query, mode, num_return=k, model=self.model
            )
            rows = self.engine.attach_doc_info(ranked.collect(), self.corpus)
        else:
            rows = self._batcher.submit(query, mode, k)
        took = time.time() - t0
        return {
            "query": query,
            "mode": mode.name,
            "num_results": len(rows),
            "took_sec": round(took, 4),
            "results": [
                {
                    k_: v
                    for k_, v in r.asDict().items()
                    if k_ != "qid" and v is not None
                }
                for r in sorted(rows, key=lambda r: r.rank)
            ],
        }

    def healthz(self) -> dict:
        s = self.engine.stats
        return {
            "status": "ok",
            "num_docs": int(s["num_docs"]),
            "avg_doc_len": float(s["avg_doc_len"]),
            "tokenizer": self.engine.config.tokenizer,
        }


class _Server(ThreadingHTTPServer):
    # stdlib default listen backlog is 5: under a 16-client connect burst
    # the kernel drops the excess SYNs and the clients stall a full TCP
    # retransmission timeout (~1 s) — measured as 48 cache-hit requests
    # taking 2.1 s.  A serving process should never bottleneck on accept.
    request_queue_size = 128


def make_server(
    service: SearchService, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Bind (port 0 = ephemeral) and return the server; caller runs
    ``serve_forever`` (or ``handle_request`` in tests)."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            url = urlparse(self.path)
            try:
                if url.path == "/healthz":
                    body, code = service.healthz(), 200
                elif url.path == "/search":
                    qs = {
                        k: v[0] for k, v in parse_qs(url.query).items()
                    }
                    body, code = service.search(qs), 200
                else:
                    body, code = {"error": f"no route {url.path}"}, 404
            except ValueError as exc:
                body, code = {"error": str(exc)}, 400
            except Exception as exc:  # surface, don't kill the thread
                body, code = {"error": f"{type(exc).__name__}: {exc}"}, 500
            payload = json.dumps(body).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, fmt, *args):  # quiet by default
            pass

    return _Server((host, port), Handler)


def serve(
    spark: SparkSession,
    index_dir: str,
    host: str = "127.0.0.1",
    port: int = 8080,
    config: EngineConfig | None = None,
    corpus_path: str | None = None,
    model_path: str | None = None,
) -> None:
    service = SearchService(spark, index_dir, config, corpus_path, model_path)
    httpd = make_server(service, host, port)
    print(
        f"serving index {index_dir} on http://{host}:{httpd.server_port} "
        f"({service.healthz()['num_docs']} docs)"
    )
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        httpd.server_close()
