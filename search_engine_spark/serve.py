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
through a single worker that drains everything queued at the moment it
becomes free into ONE ``search_batch`` job — zero added latency when
idle (a lone request is a batch of one), full coalescing under load
(while a batch runs, arrivals pile up and ride the next one).
Per-request results are identical to the solo path: ``search_batch``
funnels through the same compile/execute pipeline with qid = batch
position, and a request asking for a smaller k than its batch-mates
takes the rank <= k prefix (top-k is rank-stable in k).  A failed wave
(e.g. one malformed query) retries each of its requests as a wave of
one through the same path, so only the offender fails.  Rerank
requests keep the solo path (the MLP stage is per-query).

Two serving-only fast paths on top of the batcher (results stay
bit-identical to ``SearchEngine.search`` + ``with_doc_info``):

* **Driver-side doc-info assembly.**  ``with_doc_info`` is built for
  arbitrary downstream DataFrame plans, so it localCheckpoints the
  ranked subplan and runs broadcast joins — ~2 extra job floors per
  request wave.  The batcher already collects the ranked rows, so it
  fetches metadata for the <= batch*k hit ids with ONE pushdown-
  filtered docs scan (``doc_id IN (...)`` reaches the parquet
  row-group filters) and one more for snippets when a corpus is
  attached, then zips rows driver-side.  Hit sets beyond
  ``_MAX_DRIVER_IDS`` fall back to the distributed ``with_doc_info``
  join (the 100-TB guard: never ship an unbounded id list).
* **A snapshot-scoped result cache.**  Real query logs are Zipf —
  repeated queries dominate — and a cache hit costs zero Spark jobs.
  Soundness: ``SearchEngine`` resolves its committed-batch list,
  tombstones and docs table ONCE at open (``SearchEngine.__init__``), so
  the engine's view of the index is immutable for its lifetime and a
  cache entry can never be staler than the engine serving it.  New data
  requires a new ``SearchService`` (exactly as it already requires a new
  engine), which starts cold.  Entries store the full rank-ordered row list at
  the k they were computed with; smaller-k requests take the prefix,
  larger-k requests miss and recompute.  The result, doc-info and
  snippet caches are each one bounded ``_LRU`` (result cache:
  ``cache_size`` entries, 0 disables).
"""

from __future__ import annotations

import json
import queue as _queue
import threading
import time
from collections import OrderedDict, defaultdict
from concurrent.futures import Future
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.parser import SearchMode
from search_engine_spark.query.engine import SearchEngine

# Above this many distinct hit ids the batcher stops assembling doc info
# driver-side (an IN-list this long no longer pushes down usefully and
# the collected metadata stops being "tiny") and uses the distributed
# with_doc_info join instead.  64-query batches at k=100 stay well under.
_MAX_DRIVER_IDS = 8192
# doc-info and snippet cache entries (one per hit doc)
_DOC_CACHE_SIZE = 1 << 16


class _LRU:
    """Thread-safe map bounded to ``size`` entries, evicting the least
    recently read or written; size 0 stores nothing."""

    def __init__(self, size: int):
        self._size = size
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

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


class _MicroBatcher:
    """Coalesce concurrent (query, mode, k) requests into one
    ``search_batch`` job per worker wake-up.  A failed wave retries each
    request as a wave of one so one malformed query can't poison its
    batch-mates' responses."""

    def __init__(
        self,
        service: "SearchService",
        max_batch: int = 64,
        window_sec: float = 0.02,
        workers: int = 3,
        cache_size: int = 1024,
    ):
        self._service = service
        self._max_batch = max_batch
        # (query, mode) -> (k_computed, rank-ordered rows); sound for the
        # service lifetime because the engine's index view is pinned at
        # open — see the module docstring.  0 disables.
        self._results = _LRU(cache_size)
        # doc metadata + snippet caches (immutable for the engine's
        # pinned snapshot, same argument as the result cache): distinct
        # queries share hit docs, so later waves fetch only unseen ids
        self._info = _LRU(_DOC_CACHE_SIZE)
        self._snips = _LRU(_DOC_CACHE_SIZE)
        # a few workers, not one: a request that arrives just after a
        # batch departs would otherwise serialize behind that batch's
        # whole job.  2-3 overlapping batch jobs keep the scheduler fed
        # (Spark job submission is thread-safe) while each job still
        # amortizes its floor over everything queued at its wake-up.
        self._workers = workers
        # short gather window after the first request: concurrent clients
        # never hit the queue at the exact same instant, and without the
        # window the worker wakes on the first arrival and runs a batch
        # of 1-2 while the rest are still in-flight — fragmenting what
        # should be one job into several.  20 ms is noise against the
        # ~0.1 s+ Spark job floor it saves.
        self._window_sec = window_sec
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
                        for _ in range(self._workers)
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
            deadline = time.time() + self._window_sec
            while len(batch) < self._max_batch:
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
        by_key = self._attach_doc_info(ranked, ranked.collect(), uniq)
        for (q, m), rows in by_key.items():
            self._cache_put(q, m, kmax, rows)
        for q, m, k, fut in batch:
            fut.set_result([r for r in by_key[(q, m)] if r.rank <= k])

    def _attach_doc_info(
        self, ranked, ranked_rows: list, uniq: dict
    ) -> dict:
        """Zip doc metadata (and snippets when a corpus is attached) onto
        the collected ranked rows — same output rows as
        ``with_doc_info(ranked).collect()`` but with the hit-set-sized
        lookups done as pushdown-filtered scans instead of
        localCheckpoint + broadcast-join plans (which pay ~2 extra job
        floors per wave — measured 1.4 s -> 0.8 s per 16-request wave at
        40k docs)."""
        eng = self._service.engine
        corpus = self._service.corpus
        ids = sorted({r.doc_id for r in ranked_rows})
        if len(ids) > _MAX_DRIVER_IDS:
            # scale guard: a hit set this large stops being "tiny" —
            # take the distributed join path instead
            rows = eng.with_doc_info(ranked, corpus).collect()
            by_qid: dict[int, list] = defaultdict(list)
            for r in rows:
                by_qid[r.qid].append(r)
            return {
                qm: sorted(by_qid[qid], key=lambda r: r.rank)
                for qm, qid in uniq.items()
            }
        info = self._info.get_many(ids)
        missing = [i for i in ids if i not in info]
        if missing:
            docs = eng.docs.select("doc_id", "repo", "path", "commit", "lang")
            fetched = {
                r.doc_id: r
                for r in docs.where(F.col("doc_id").isin(missing)).collect()
            }
            info.update(fetched)
            self._info.put_many(fetched)
        snip: dict | None = None
        if corpus is not None:
            keys = {(i.repo, i.path, i.commit) for i in info.values()}
            snip = self._snips.get_many(keys)
            missing_keys = keys - snip.keys()
            if missing_keys:
                # three single-column IN filters (each pushes down to the
                # corpus scan); the commit hash alone is near-unique, so
                # over-selection from the conjunction is negligible and
                # the exact triple match happens in the dict lookup below
                commits = sorted({k[2] for k in missing_keys})
                repos = sorted({k[0] for k in missing_keys})
                paths = sorted({k[1] for k in missing_keys})
                crows = (
                    corpus.where(
                        F.col("commit").isin(commits)
                        & F.col("repo").isin(repos)
                        & F.col("path").isin(paths)
                    )
                    .select(
                        "repo",
                        "path",
                        "commit",
                        F.substring(
                            "content", 1, eng.config.snippet_length
                        ).alias("snippet"),
                    )
                    .collect()
                )
                fetched_snips = {
                    (r.repo, r.path, r.commit): r.snippet for r in crows
                }
                snip.update(fetched_snips)
                self._snips.put_many(fetched_snips)
        by_qid = defaultdict(list)
        for r in ranked_rows:
            by_qid[r.qid].append(r)
        out: dict = {}
        for qm, qid in uniq.items():
            rows = []
            for r in sorted(by_qid[qid], key=lambda rr: rr.rank):
                i = info.get(r.doc_id)
                d = {
                    "doc_id": r.doc_id,
                    "qid": r.qid,
                    "score": r.score,
                    "rank": r.rank,
                    "repo": i.repo if i else None,
                    "path": i.path if i else None,
                    "commit": i.commit if i else None,
                    "lang": i.lang if i else None,
                }
                if snip is not None:
                    d["snippet"] = (
                        snip.get((i.repo, i.path, i.commit)) if i else None
                    )
                rows.append(Row(**d))
            out[qm] = rows
        return out


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
            rows = self.engine.with_doc_info(ranked, self.corpus).collect()
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
