"""The benchmark's workloads.  The engine is driven only through its
public API: ``IndexBuilder``, ``StreamingIndexer``, ``SearchEngine``,
``serve.SearchService``/``make_server``, ``EngineConfig``, ``SearchMode``,
with ``oracle.refsem.RefSemIndex`` for checking outputs.

Both workloads share one skeleton (see ``Bench.run``):

1. set-up: generate the seeded corpus, start Spark, bulk-build the index
   (timed on its own as ``build_docs_per_s``), open the engine and warm
   up on queries disjoint from everything timed later;
2. the timed phase, ``--seconds`` long, which differs per workload;
3. in traced runs only, an offline batch of distinct queries
   (``query.batch_qps``, a per-layer metric);
4. output checks, off the clock.

In traced runs ``query`` then exercises the write path after the bulk
build: an upsert wave through the streaming ingester, a ``delete_where``,
probes of the fragmented and of the compacted index around ``compact()``
+ ``vacuum()`` (per-layer metrics only).
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from urllib.parse import urlencode

import gen
import harness
from harness import median

# One chunk per wave; the corpus is a whole number of chunks and spans
# four chunks per core.
N_DOCS = 4096
CHUNK_DOCS = 256
N_FILES = 8
WARMUP_FAMILIES = ("term", "or2", "phrase", "not")
BATCH_PER_CELL = 6           # 8 families x 3 strata x 6 = 144 queries
BATCH_SLICES = 3             # timed as 3 jobs of 48; the median is reported
BATCH_RETURN = 100           # the top100 mining shape
QUERY_CLIENTS = 2            # = Spark task slots: keeps them busy, so a
                             # contended host costs capacity, not stalls
                             # on every hand-off of one search
SERVE_CLIENTS = 4            # = cores; a closed loop queues at most this many
SERVE_PER_CELL = 8           # 192 distinct queries, below the server's
                             # 1,024-entry result cache
SERVE_ZIPF_S = 1.1           # popularity of repeated queries
SERVE_REPEAT_LAG = 2 * SERVE_CLIENTS  # entries between a query and its repeats
SERVE_K = 10
PROBE_QUERIES = 4


class CheckFailed(Exception):
    """An output of the engine disagreed with its expected value."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def engine_config():
    from search_engine_spark import EngineConfig

    # reference defaults everywhere (k1=1.6, b=0.75, title x2.0,
    # idf_threshold=1.5, block_docs=128, num_candidates=100,
    # num_return=10); only the chunk span is scaled to the corpus
    return EngineConfig(chunk_docs=CHUNK_DOCS)


def tokens(text: str) -> list[str]:
    """Query text -> tokens; generated queries use only the title-path
    alphabet, so this matches the engine's default tokenizer."""
    return gen.title_tokens(text)


def _dir_bytes(path: str) -> int:
    """Data bytes under ``path``: Hadoop checksum and marker files are not
    index data."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not (f.endswith(".crc") or f == "_SUCCESS"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _count_parquet(path: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(path)
        for f in files if f.endswith(".parquet")
    )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = harness.Tracer(trace)
        self.traced = trace
        self.work = work
        self.t_start = t_start
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.phase: dict[str, tuple[float, float]] = {}
        self.n_timed = 0
        self.alt_overhead_s: float | None = None

    # ------------------------------------------------------------ helpers

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def put_layer(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def _group(self, name: str) -> str:
        self.spark.sparkContext.setJobGroup(name, name)
        return name

    # ------------------------------------------------------------- set-up

    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = gen.corpus(self.seed, N_DOCS)
        order = gen.sorted_order(cols)
        self.cols = {k: [v[i] for i in order] for k, v in cols.items()}
        self.corpus_bytes = sum(
            len(x.encode()) for v in self.cols.values() for x in v
        )
        self.corpus_dir = os.path.join(self.work, "corpus")
        os.makedirs(self.corpus_dir)
        table = pa.table(self.cols)
        step = N_DOCS // N_FILES
        for f in range(N_FILES):
            pq.write_table(
                table.slice(f * step, step),
                os.path.join(self.corpus_dir, f"part-{f:03d}.parquet"),
            )
        self.drawer = gen.QueryDrawer(self.seed, self.cols)

    def build(self) -> None:
        from search_engine_spark.build.builder import IndexBuilder

        self.index_dir = os.path.join(self.work, "index")
        self.cfg = engine_config()
        self.corpus = self.spark.read.parquet(self.corpus_dir)
        self.builder = IndexBuilder(self.spark, self.index_dir, self.cfg)
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("sources.build_docs", "build"):
            self.builder.build_docs(self.corpus)
        with tr.span("build.postings", "build"):
            batches = self.builder.build_postings(self.corpus)
        with tr.span("build.finalize", "build"):
            stats = self.builder.finalize()
        build_s = time.perf_counter() - t0
        self.phase["build"] = (t0, t0 + build_s)
        check(int(stats["num_docs"]) == N_DOCS,
              f"docs count {stats['num_docs']} != corpus rows {N_DOCS}")
        self.put("build_docs_per_s", N_DOCS / build_s, "docs/s")
        index_bytes = _dir_bytes(self.index_dir)
        self.put("index_bytes_per_corpus_byte",
                 index_bytes / self.corpus_bytes, "ratio")
        postings_s = tr.total("build.postings")
        n_postings = sum(b["n_postings"] for b in batches)
        self.put_layer("sources.build_docs_s", tr.total("sources.build_docs"), "s")
        self.put_layer("build.postings_s", postings_s, "s")
        self.put_layer("build.batch_s", sum(b["wall_sec"] for b in batches), "s")
        self.put_layer("build.batches", len(batches), "count")
        self.put_layer("build.finalize_s", tr.total("build.finalize"), "s")
        self.put_layer("build.postings_per_s",
                       n_postings / postings_s if postings_s else 0.0, "1/s")
        self.put_layer("build.bytes_postings",
                       sum(b["bytes_postings"] for b in batches), "bytes")
        self.put_layer("sources.index_bytes", index_bytes, "bytes")

    def open_engine(self):
        from search_engine_spark.query.engine import SearchEngine

        with self.tracer.span("sources.engine_open", "open") as sp:
            eng = SearchEngine(self.spark, self.index_dir, self.cfg)
        if "sources.engine_open_s" not in self.layer:
            self.put_layer("sources.engine_open_s", sp["end"] - sp["start"], "s")
        return eng

    def noise_before(self) -> None:
        self.steal0 = harness.cpu_times()
        self.detail["host_cpu_probe_s_before"] = harness.cpu_probe_s()

    def noise_after(self) -> None:
        steal1 = harness.cpu_times()
        d_steal = steal1[0] - self.steal0[0]
        d_total = steal1[1] - self.steal0[1]
        probe = harness.cpu_probe_s()
        floor = harness.job_floor_s(self.spark)
        self.detail.update(
            host_cpu_probe_s_after=probe,
            host_steal_share=d_steal / d_total if d_total else 0.0,
            spark_job_floor_s_after=floor,
        )
        self.put_layer("host.cpu_probe_s", probe, "s")
        self.put_layer("host.steal_share",
                       self.detail["host_steal_share"], "ratio")

    # ------------------------------------------------------------ queries

    def draw_sets(self) -> None:
        d = self.drawer
        self.warm = [
            q for q in d.distinct(1)
            if q[1] == "mid" and q[0] in WARMUP_FAMILIES
        ]
        taken = [(q, m) for _f, _s, q, m in self.warm]
        self.timed = self._rounds(d.distinct(6, exclude=taken))
        taken += [(q, m) for _f, _s, q, m in self.timed]
        self.batch = d.distinct(BATCH_PER_CELL, exclude=taken)
        self.taken = taken + [(q, m) for _f, _s, q, m in self.batch]

    @staticmethod
    def _rounds(qs: list[tuple]) -> list[tuple]:
        """Order queries so that every run of eight consecutive ones holds
        all eight families, with the df stratum rotating per round."""
        cells: dict[tuple, list] = {}
        for q in qs:
            cells.setdefault((q[0], q[1]), []).append(q)
        out = []
        for r in range(max((len(v) for v in cells.values()), default=0) * 3):
            for i, fam in enumerate(gen.FAMILIES):
                cell = cells.get((fam, gen.STRATA[(r + i) % 3]), [])
                if r // 3 < len(cell):
                    out.append(cell[r // 3])
        return out

    def _postings_fetched(self, plan) -> int:
        return sum(self.drawer.df.get(t, 0) for t in plan.fetch_terms)

    def search_once(self, eng, fam: str, q: str, mode: str, i: int,
                    traced: bool) -> list:
        """One timed library search.  Traced searches run the same two
        public steps ``SearchEngine.search`` runs, with a span each."""
        from search_engine_spark.plans.parser import SearchMode

        group = self._group(f"q{i}")
        if not traced:
            return eng.search(q, SearchMode[mode]).collect()
        tr = self.tracer
        with tr.span("query.search", f"q{i}") as sp:
            with tr.span(f"query.compile.{fam}"):
                plan = eng.compile(q, SearchMode[mode])
            with tr.span(f"query.execute.{fam}"):
                rows = eng.execute([plan]).collect()
        sp["group"] = group
        sp["family"] = fam
        sp["postings"] = self._postings_fetched(plan)
        return rows

    # ---------------------------------------------------------- workloads

    def run(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        sampler = harness.TreeRss()
        sampler.start()
        pool = ThreadPoolExecutor(1)
        try:
            # the JVM starts while the inputs are generated
            session = pool.submit(harness.start_spark, self.work)
            try:
                self.make_inputs()
                self.draw_sets()
            finally:
                self.spark = session.result()
                pool.shutdown()
            self.build()
            if self.workload == "query":
                self.run_query()
            else:
                self.run_serve()
            self.noise_after()
        finally:
            sampler.stop()
            if self.spark is not None:
                harness.stop_spark(self.spark, sampler)
        self.put("peak_rss_gb", sampler.peak / 1e9, "GB")
        self.detail["phase_s"] = {
            k: [round(a - self.t_start, 3), round(b - self.t_start, 3)]
            for k, (a, b) in self.phase.items()
        }
        self.detail["total_s"] = round(time.perf_counter() - self.t_start, 3)

    def _setup_done(self, floor: float) -> None:
        now = time.perf_counter()
        self.put("setup_s", now - self.t_start, "s")
        self.phase["setup"] = (self.t_start, now)
        self.detail["spark_job_floor_s_before"] = floor
        self.noise_before()

    def warm_library(self, eng) -> None:
        from search_engine_spark.plans.parser import SearchMode

        for _f, _s, q, m in self.warm:
            eng.search(q, SearchMode[m]).collect()

    def run_query(self) -> None:
        eng = self.open_engine()
        self.warm_library(eng)
        floor = harness.job_floor_s(self.spark)
        if self.traced:
            eng.enable_wand_stats()
        self._setup_done(floor)

        # timed phase: closed loop, distinct queries
        def search(i: int) -> dict:
            fam, st, q, m = self.timed[i]
            # the traced run alternates traced and untraced searches so
            # the tracing overhead is measured inside one run; the parity
            # flips every round of eight so each family gets traced
            traced = self.traced and (i + i // 8) % 2 == 1
            s = time.perf_counter()
            rows = self.search_once(eng, fam, q, m, i, traced)
            return {"i": i, "traced": traced, "latency": time.perf_counter() - s,
                    "rows": rows}

        t0 = time.perf_counter()
        done = self._closed_loop(len(self.timed), self.seconds, QUERY_CLIENTS,
                                 search)
        wall = time.perf_counter() - t0
        self.phase["timed"] = (t0, t0 + wall)
        check(len(self.timed) > len(done),
              "query set exhausted before the clock ran out")
        lat = [d["latency"] for d in done]
        alt = [(d["traced"], d["latency"]) for d in done]
        results = {d["i"]: d["rows"] for d in done}
        cells = [list(self.timed[d["i"]][:2]) + [round(d["latency"], 4)]
                 for d in done]
        self.attempted += len(lat)
        self.n_timed = len(lat)
        if self.traced:
            self.put_layer("query.wand_skip_rate",
                           eng.wand_stats()["skip_rate"], "ratio")
        self.put("cold_p50_s", median(lat), "s")
        self.put("ops_per_s", len(lat) / wall, "1/s")
        self.detail["query_samples"] = len(lat)
        self.detail["query_latencies_s"] = cells
        self.detail["query_p50_s"] = median(lat)
        # the batch feeds per-layer metrics only, so like the write path
        # below it runs in traced runs alone
        if self.traced:
            self.batch_phase(eng)
        self.query_layers(floor, alt)
        self.check_query(eng, results)
        # the ingest metrics are per-layer only, so the write path after
        # the bulk build runs in the traced run alone and untraced runs
        # stay short
        self.check_docs(self.ingest_phase() if self.traced else None)

    def batch_phase(self, eng) -> None:
        """The offline mining shape: distinct queries through
        ``search_batch_chunked`` at k=100, in a few equal slices so the
        reported throughput is a median, not one job's time."""
        from search_engine_spark.plans.parser import SearchMode

        qs = [(q, SearchMode[m]) for _f, _s, q, m in self.batch]
        step = -(-len(qs) // BATCH_SLICES)
        tr = self.tracer
        self._group("batch")
        rows, qps = [], []
        t0 = time.perf_counter()
        for lo in range(0, len(qs), step):
            part = qs[lo:lo + step]
            t1 = time.perf_counter()
            with tr.span("query.batch_compile", "batch"):
                ranked = eng.search_batch_chunked(part, num_return=BATCH_RETURN)
            with tr.span("query.batch_execute", "batch"):
                got = ranked.collect()
            qps.append(len(part) / (time.perf_counter() - t1))
            rows += [(r.qid + lo, r) for r in got]
        self.phase["batch"] = (t0, time.perf_counter())
        self.attempted += len(qs)
        # per-layer, not end-to-end: these CPU-bound 4-core jobs track
        # host steal, and their run-to-run spread on a shared host
        # exceeds any bound that would still catch a regression
        self.put_layer("query.batch_qps", median(qps), "1/s")
        self.detail["batch_qps"] = median(qps)
        self.put_layer("query.batch_compile_s",
                       median(tr.durations("query.batch_compile")), "s")
        self.put_layer("query.batch_execute_s",
                       median(tr.durations("query.batch_execute")), "s")
        self.batch_rows = rows

    def query_layers(self, floor: float, alt: list) -> None:
        tr = self.tracer
        sc = self.spark.sparkContext
        for fam in gen.FAMILIES:
            spans = [s for s in tr.spans if s.get("family") == fam]
            self.put_layer(f"query.compile_s.{fam}",
                           median(tr.durations(f"query.compile.{fam}")), "s")
            self.put_layer(f"query.execute_s.{fam}",
                           median(tr.durations(f"query.execute.{fam}")), "s")
            self.put_layer(f"query.postings_fetched.{fam}",
                           median([s["postings"] for s in spans]), "count")
        jobs, tasks = [], []
        for s in tr.spans:
            if s["name"] == "query.search":
                j, t = harness.job_counts(sc, s["group"])
                jobs.append(j)
                tasks.append(t)
        self.put_layer("spark.job_floor_s", floor, "s")
        self.put_layer("spark.jobs_per_query", median(jobs), "count")
        self.put_layer("spark.tasks_per_query", median(tasks), "count")
        traced = [dt for t, dt in alt if t]
        plain = [dt for t, dt in alt if not t]
        if traced and plain:
            self.alt_overhead_s = median(traced) - median(plain)

    def overheads(self) -> dict[str, tuple[float, str]]:
        """How much worse each end-to-end metric reads because of
        tracing, in the metric's unit.  The query workload's traced run
        alternates traced and untraced searches, so its search latency
        overhead is a measured difference; elsewhere it is the spans
        recorded inside the metric's interval times the measured cost of
        one span (the spans are the only code tracing adds)."""
        cost = harness.span_cost_s()
        tr = self.tracer

        def spent(phase: str) -> float:
            t0, t1 = self.phase[phase]
            return tr.count_between(t0, t1) * cost

        def rate_loss(name: str, phase: str) -> float:
            value, _u = self.metrics[name]
            t0, t1 = self.phase[phase]
            return value * spent(phase) / max(t1 - t0 - spent(phase), 1e-9)

        out = {
            "setup_s": (spent("setup"), "s"),
            "build_docs_per_s": (rate_loss("build_docs_per_s", "build"), "docs/s"),
            "index_bytes_per_corpus_byte": (0.0, "ratio"),
            "ops_per_s": (rate_loss("ops_per_s", "timed"), "1/s"),
            # a span record is a small dict; 1 KB each bounds it
            "peak_rss_gb": (len(tr.spans) * 1024 / 1e9, "GB"),
        }
        out["cold_p50_s"] = (
            self.alt_overhead_s if self.alt_overhead_s is not None
            else spent("timed") / max(1, self.n_timed), "s"
        )
        return out

    # ------------------------------------- ingest: wave / delete / compact

    def ingest_phase(self) -> dict:
        """The write path after the bulk build: one chunk of upserts (same
        (repo, path), new commit, a marker token) through the streaming
        ingester, a delete by repo, a probe of the fragmented, tombstoned
        index, then compact + vacuum and the same probe again.  Returns
        the wave's rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from search_engine_spark.plans.parser import SearchMode
        from search_engine_spark.streaming.ingest import StreamingIndexer

        tr = self.tracer
        lo = gen.wave_start(self.seed, N_DOCS, CHUNK_DOCS)
        marker = "wave0mark"
        wave = gen.corpus_rows(self.seed, lo, lo + CHUNK_DOCS, version=1,
                               marker=marker)
        src = os.path.join(self.work, "stream_src")
        os.makedirs(src)
        pq.write_table(pa.table(wave), os.path.join(src, "wave-0.parquet"))
        ingester = StreamingIndexer(
            self.spark, self.index_dir, os.path.join(self.work, "staging"),
            self.cfg,
        )
        self._group("ingest")
        with tr.span("streaming.start", "ingest"):
            ingester.start(
                self.spark.readStream.schema(self.corpus.schema).parquet(src)
            )
        with tr.span("streaming.advance", "ingest"):
            res = ingester.advance(upsert=True)
        self.attempted += 1
        check(res["indexed"] == CHUNK_DOCS,
              f"wave indexed {res['indexed']} != {CHUNK_DOCS}")
        check(res["superseded"] == CHUNK_DOCS,
              f"superseded {res['superseded']} != {CHUNK_DOCS} sent")
        start_s = tr.total("streaming.start")
        advance_s = tr.total("streaming.advance")
        batch_s = float(res["batch"]["wall_sec"])
        self.detail["upsert_docs_per_s"] = CHUNK_DOCS / (start_s + advance_s)
        self.put_layer("streaming.upsert_docs_per_s",
                       self.detail["upsert_docs_per_s"], "docs/s")
        self.put_layer("streaming.start_s", start_s, "s")
        self.put_layer("streaming.advance_s", advance_s, "s")
        self.put_layer("streaming.batch_s", batch_s, "s")
        self.put_layer("streaming.advance_overhead_s", advance_s - batch_s, "s")
        self.put_layer("streaming.superseded", res["superseded"], "count")

        # delete every version in one repo
        keys = {(r, p) for r, p in zip(self.cols["repo"], self.cols["path"])}
        check(all((r, p) in keys for r, p in zip(wave["repo"], wave["path"])),
              "wave keys are not upserts of existing docs")
        repo = self.cols["repo"][len(self.cols["repo"]) // 2]
        with tr.span("build.delete", "ingest"):
            deleted = self.builder.delete_where(F.col("repo") == repo)["deleted"]
        sent = (sum(1 for r in self.cols["repo"] if r == repo)
                + sum(1 for r in wave["repo"] if r == repo))
        check(deleted == sent, f"deleted {deleted} != {sent} sent")
        self.put_layer("build.deleted_docs", deleted, "count")

        # ids: originals are 0..N-1 in (repo, path, commit) order; the wave
        # continues densely in its own (repo, path, commit) order
        pos = {(r, p): i for i, (r, p) in
               enumerate(zip(self.cols["repo"], self.cols["path"]))}
        gone = {pos[(r, p)] for r, p in zip(wave["repo"], wave["path"])}
        gone |= {i for i, r in enumerate(self.cols["repo"]) if r == repo}
        wave_order = sorted(
            range(CHUNK_DOCS),
            key=lambda k: (wave["repo"][k], wave["path"][k], wave["commit"][k]),
        )
        live_wave = set()
        for rank, k in enumerate(wave_order):
            (gone if wave["repo"][k] == repo else live_wave).add(N_DOCS + rank)

        probe = [q for q in self.drawer.distinct(1, exclude=self.taken)
                 if q[1] == "mid"][:PROBE_QUERIES]
        postings = os.path.join(self.index_dir, "postings")
        self.put_layer("sources.postings_files.fragmented",
                       _count_parquet(postings), "count")
        lat = self._probe(marker, live_wave, gone, probe)
        self.detail["fragmented_query_p50_s"] = median(lat)
        self.put_layer("query.execute_s.fragmented", median(lat), "s")

        with tr.span("build.compact", "ingest"):
            comp = self.builder.compact()
        with tr.span("build.vacuum", "ingest"):
            self.builder.vacuum()
        check(comp.get("purged_docs") == len(gone),
              f"purged {comp.get('purged_docs')} != {len(gone)} sent")
        self.detail["compact_s"] = (tr.total("build.compact")
                                    + tr.total("build.vacuum"))
        self.put_layer("build.compact_s", tr.total("build.compact"), "s")
        self.put_layer("build.vacuum_s", tr.total("build.vacuum"), "s")
        self.put_layer("build.purged_docs", comp["purged_docs"], "count")
        self.put_layer("sources.postings_files.compacted",
                       _count_parquet(postings), "count")
        self._probe(marker, live_wave, gone, probe)
        return wave

    def _probe(self, marker: str, live_wave: set, gone: set,
               probe: list) -> list[float]:
        """Open an engine on the current index state; the marker finds
        exactly the live wave docs and no probe result is a superseded
        or deleted doc.  Returns the probe latencies."""
        from search_engine_spark.plans.parser import SearchMode

        eng = self.open_engine()
        plan = eng.compile(marker, SearchMode.AND,
                           num_candidates=CHUNK_DOCS, num_return=CHUNK_DOCS)
        found = {r.doc_id for r in eng.execute([plan]).collect()}
        check(found == live_wave,
              f"marker {marker!r} found {len(found)} docs, expected "
              f"{len(live_wave)} live wave docs")
        lat = []
        for _f, _st, q, m in probe:
            s = time.perf_counter()
            rows = eng.search(q, SearchMode[m]).collect()
            lat.append(time.perf_counter() - s)
            hit = {r.doc_id for r in rows} & gone
            check(not hit, f"deleted docs {sorted(hit)[:5]} in results of {q!r}")
        self.attempted += len(probe) + 1
        return lat

    # ------------------------------------------------------------- checks

    def refsem(self):
        from search_engine_spark.oracle.refsem import RefSemIndex

        return RefSemIndex([
            (gen.title_tokens(p), gen.body_tokens(c))
            for p, c in zip(self.cols["path"], self.cols["content"])
        ])

    @staticmethod
    def _same_topk(rows, expect, what: str) -> None:
        got = sorted(((r.rank, r.doc_id, r.score) for r in rows))
        check(len(got) == len(expect),
              f"{what}: {len(got)} results, oracle has {len(expect)}")
        for (_rank, doc, score), (e_score, e_doc) in zip(got, expect):
            check(doc == e_doc and abs(score - e_score) <= 1e-9 * max(1.0, abs(e_score)),
                  f"{what}: got ({doc}, {score!r}), oracle ({e_doc}, {e_score!r})")

    def check_query(self, eng, results: dict) -> None:
        from search_engine_spark.plans.parser import SearchMode

        oracle = self.refsem()
        for i, rows in results.items():
            _f, _s, q, m = self.timed[i]
            _n, expect = oracle.search(tokens(q), SearchMode[m])
            self._same_topk(rows, expect, f"query {q!r} {m}")
        if self.traced:  # only traced runs run the batch
            by_qid: dict[int, list] = {}
            for qid, r in self.batch_rows:
                by_qid.setdefault(qid, []).append(r)
            for qid, (_f, _s, q, m) in enumerate(self.batch):
                _n, expect = oracle.search(tokens(q), SearchMode[m],
                                           num_return=BATCH_RETURN)
                self._same_topk(by_qid.get(qid, []), expect, f"batch {q!r} {m}")
        # WAND on and off agree on the OR families
        ors = [(i, self.timed[i]) for i in results
               if self.timed[i][0] in ("or2", "or4")]
        if ors:
            off = eng.search_batch(
                [(q, SearchMode[m]) for _i, (_f, _s, q, m) in ors],
                use_wand=False,
            ).collect()
            for k, (i, (_f, _s, q, _m)) in enumerate(ors):
                a = sorted((r.rank, r.doc_id, r.score) for r in results[i])
                b = sorted((r.rank, r.doc_id, r.score) for r in off if r.qid == k)
                check(a == b, f"WAND on/off disagree on {q!r}")

    def check_docs(self, wave: dict | None) -> None:
        """Every docs row has a source row (the corpus plus the upsert
        wave, if one ran) with a matching content sha256, and back."""
        src = self.corpus
        if wave is not None:
            src = src.unionByName(self.spark.createDataFrame(
                [tuple(wave[c][k] for c in src.columns)
                 for k in range(len(wave["repo"]))],
                src.schema,
            ))
        n = N_DOCS + (len(wave["repo"]) if wave else 0)
        v = self.builder.verify_corpus(src)
        check(v == {"rows": n, "missing": 0, "sha_mismatch": 0},
              f"verify_corpus: {v}")

    # -------------------------------------------------------------- serve

    def run_serve(self) -> None:
        from search_engine_spark.serve import SearchService, make_server

        with self.tracer.span("sources.engine_open", "open") as sp:
            service = SearchService(self.spark, self.index_dir, self.cfg,
                                    corpus_path=self.corpus_dir)
        self.put_layer("sources.engine_open_s", sp["end"] - sp["start"], "s")
        eng = service.engine
        waves = self._wrap_waves(eng)
        httpd = make_server(service, "127.0.0.1", 0)
        server = threading.Thread(target=httpd.serve_forever, daemon=True)
        server.start()
        # first-seen queries arrive round by round over the families, so
        # every run's cold requests have the same family mix; the first
        # SERVE_REPEAT_LAG of them warm the server up, outside the clock,
        # and are only ever repeated (cache hits) in the timed phase
        pool = [q[2:] for q in self._rounds(
            self.drawer.distinct(SERVE_PER_CELL, exclude=self.taken))]
        log = [pool[i] for i in gen.serve_log(
            self.seed, len(pool), 2 * (len(pool) - SERVE_REPEAT_LAG),
            SERVE_ZIPF_S, SERVE_REPEAT_LAG)]
        try:
            port = httpd.server_port
            self._serve_clients(port, pool[:SERVE_REPEAT_LAG], 0)
            floor = harness.job_floor_s(self.spark)
            self._setup_done(floor)
            n_waves0 = len(waves)
            t0 = time.perf_counter()
            done = self._serve_clients(port, log, self.seconds)
            wall = time.perf_counter() - t0
            self.phase["timed"] = (t0, t0 + wall)
        finally:
            httpd.shutdown()
            httpd.server_close()
            server.join(timeout=10)
            del eng.search_batch  # unwrap: later calls are not waves
        self.attempted += len(done)
        self.n_timed = len(done)
        self.failed += sum(1 for d in done if d["error"])
        # even log entries are first-seen queries: they must miss the cache
        cold = [d["latency"] for d in done
                if d["k"] % 2 == 0 and not d["error"]]
        check(len(done) < len(log), "query log exhausted before the clock ran out")
        self.put("cold_p50_s", median(cold), "s")
        self.put("ops_per_s", len(done) / wall, "1/s")
        self.detail.update(serve_rps=len(done) / wall, serve_cold_p50_s=median(cold),
                           serve_requests=len(done), serve_cold_requests=len(cold))
        if self.traced:
            self.batch_phase(eng)
        self.serve_layers(done, waves[n_waves0:], floor)
        self.check_serve(eng, service, done)

    def _wrap_waves(self, eng) -> list:
        """Time each micro-batch wave by wrapping this engine instance's
        public ``search_batch`` (and the ``collect`` of the frame it
        returns).  The wave's Spark jobs run under their own job group."""
        waves: list[dict] = []
        inner = eng.search_batch
        spark = self.spark
        tracer = self.tracer

        def search_batch(queries, *a, **kw):
            n = len(waves)
            rec = {"size": len(queries), "group": f"wave{n}",
                   "queries": [(q, m.name) for q, m in queries]}
            waves.append(rec)
            spark.sparkContext.setJobGroup(rec["group"], rec["group"])
            with tracer.span("serve.wave_compile", rec["group"]):
                t0 = time.perf_counter()
                df = inner(queries, *a, **kw)
                rec["compile_s"] = time.perf_counter() - t0
            collect = df.collect

            def timed_collect():
                with tracer.span("serve.wave_ranked", rec["group"]):
                    t1 = time.perf_counter()
                    rows = collect()
                    rec["ranked_s"] = time.perf_counter() - t1
                return rows

            df.collect = timed_collect
            return df

        eng.search_batch = search_batch
        return waves

    def _serve_clients(self, port: int, log: list, seconds: float) -> list:
        def request(k: int) -> dict:
            rec = self._request(port, *log[k])
            rec["k"] = k
            return rec

        return self._closed_loop(len(log), seconds, SERVE_CLIENTS, request)

    @staticmethod
    def _closed_loop(n: int, seconds: float, clients: int, op) -> list:
        """Closed loop: each of ``clients`` threads takes the next index in
        ``range(n)`` when its last ``op`` has returned, until the indices
        or ``seconds`` run out (``seconds`` = 0: all of them).  Returns the
        results of ``op`` in completion order."""
        done: list = []
        lock = threading.Lock()
        cursor = [0]
        t_end = time.perf_counter() + seconds
        errors: list[BaseException] = []

        def client() -> None:
            try:
                while True:
                    with lock:
                        k = cursor[0]
                        if k >= n or (seconds and time.perf_counter() >= t_end):
                            return
                        cursor[0] += 1
                    rec = op(k)
                    with lock:
                        done.append(rec)
            except BaseException as exc:  # surfaced after join
                errors.append(exc)

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return done

    def _request(self, port: int, q: str, mode: str) -> dict:
        with self.tracer.span("serve.request", None):
            t0 = time.perf_counter()
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
            try:
                conn.request("GET", "/search?" + urlencode(
                    {"q": q, "mode": mode, "k": SERVE_K}))
                resp = conn.getresponse()
                body = json.loads(resp.read())
                status = resp.status
            finally:
                conn.close()
            dt = time.perf_counter() - t0
        return {"q": q, "mode": mode, "latency": dt, "status": status,
                "error": status != 200, "body": body, "t0": t0}

    def serve_layers(self, done: list, waves: list, floor: float) -> None:
        sc = self.spark.sparkContext
        # every request a wave did not carry was answered from the cache
        misses = sum(w["size"] for w in waves)
        self.put_layer("serve.result_hit_share",
                       max(0.0, 1 - misses / len(done)) if done else 0.0,
                       "ratio")
        self.put_layer("serve.waves", len(waves), "count")
        self.put_layer("serve.wave_size", median([w["size"] for w in waves]), "count")
        self.put_layer("serve.wave_compile_s",
                       median([w["compile_s"] for w in waves]), "s")
        self.put_layer("serve.wave_ranked_s",
                       median([w.get("ranked_s", 0.0) for w in waves]), "s")
        # a cold request's took_sec minus its wave's compile + ranked job:
        # doc-info and snippet scans plus time queued for a batcher worker
        wave_of = {}
        for w in waves:
            for qm in w["queries"]:
                wave_of.setdefault(qm, w)
        first, doc_info, wait = set(), [], []
        for d in done:
            key = (d["q"], d["mode"])
            wait.append(d["latency"] - d["body"].get("took_sec", 0.0))
            if key in first or key not in wave_of:
                continue
            first.add(key)
            w = wave_of[key]
            doc_info.append(d["body"]["took_sec"] - w["compile_s"]
                            - w.get("ranked_s", 0.0))
        self.put_layer("serve.doc_info_s", median(doc_info), "s")
        self.put_layer("serve.http_wait_s", median(wait), "s")
        self.put_layer("spark.jobs_per_wave",
                       median([harness.job_counts(sc, w["group"])[0] for w in waves])
                       if self.traced else 0.0, "count")
        self.put_layer("spark.job_floor_s", floor, "s")

    def check_serve(self, eng, service, done: list) -> None:
        """Every response equals the library result for its query and k."""
        from search_engine_spark.plans.parser import SearchMode

        distinct = sorted({(d["q"], d["mode"]) for d in done})
        ranked = eng.search_batch(
            [(q, SearchMode[m]) for q, m in distinct], num_return=SERVE_K
        )
        rows = eng.with_doc_info(ranked, service.corpus).collect()
        lib: dict[int, list] = {}
        for r in rows:
            lib.setdefault(r.qid, []).append(
                {k: v for k, v in r.asDict().items()
                 if k != "qid" and v is not None}
            )
        expect = {
            qm: sorted(lib.get(k, []), key=lambda x: x["rank"])
            for k, qm in enumerate(distinct)
        }
        for d in done:
            got = d["body"]["results"]
            check(got == expect[(d["q"], d["mode"])],
                  f"served result for {d['q']!r} {d['mode']} differs from "
                  f"the library result")
