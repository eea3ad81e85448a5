#!/usr/bin/env python3
"""Benchmark of the search engine, run from the root of the repository:

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

* ``query`` — library path: two closed-loop clients search distinct
  queries through ``SearchEngine.search``; traced runs then add an
  offline batch through ``search_batch_chunked``, one upsert wave, a
  delete and a probe of the fragmented index.
* ``serve`` — interactive path: the in-process HTTP server with the
  corpus attached, four closed-loop clients replaying a seeded Zipf query
  log; traced runs then add the same offline batch.

Inputs come from ``--seed`` only (``gen.py``).  Every run checks the
engine's outputs off the clock and exits 1 if any check fails.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``.  The line before
it is a JSON detail record: the metrics under the workload's own names,
sample counts and the host-noise control.

Everything a run writes goes to ``.perfbench_work/`` at the repository
root and is removed when the run ends.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query", "serve")
DEADLINE_S = 170


def _environment(work: str) -> None:
    """Point Spark, the JVM and Python workers at the work dir and at
    this interpreter; executors import the engine from the repo root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata under /tmp; JVM temp files stay in the work dir
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm) if p
    )


def _watchdog(work: str) -> threading.Timer:
    """Past the deadline, kill every child process and exit 2 without a
    result line."""
    import harness

    def fire() -> None:
        print(f"perfbench: deadline of {DEADLINE_S}s passed", file=sys.stderr)
        kids = harness.descendants(os.getpid())
        for p in kids:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        harness.reap(kids, timeout=5)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(2)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START), fire)
    t.daemon = True
    t.start()
    return t


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _select(computed: dict, declared: dict, fill_zero: bool) -> dict:
    """Declared metrics with their values.  Every computed metric must be
    declared with the same unit; a declared per-layer metric the workload
    does not exercise reads 0."""
    for name, (_v, unit) in computed.items():
        if declared.get(name) != unit:
            raise KeyError(f"metric {name} [{unit}] is not declared so")
    out = {}
    for name, unit in declared.items():
        if name in computed:
            out[name] = {"value": computed[name][0], "unit": unit}
        elif fill_zero:
            out[name] = {"value": 0.0, "unit": unit}
        else:
            raise KeyError(f"end-to-end metric {name} was not measured")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import search_engine_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable: {exc}", file=sys.stderr)
        return 3
    declared = _declared()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work)
        watchdog = _watchdog(work)
        import workloads

        bench = workloads.Bench(args.workload, args.seed, args.seconds,
                                bool(args.trace), work, T_START)
        correct = True
        try:
            bench.run()
        except workloads.CheckFailed as exc:
            print(f"perfbench: output check failed: {exc}", file=sys.stderr)
            correct = False
        watchdog.cancel()
        correct = correct and bench.failed == 0
        if args.trace:
            layer = dict(bench.layer)
            for name, (v, unit) in bench.overheads().items():
                layer[f"overhead.{name}"] = (v, unit)
            metrics = _select(layer, declared["per_layer"], fill_zero=True)
        elif correct:
            metrics = _select(bench.metrics, declared["end_to_end"], fill_zero=False)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in bench.metrics.items()}
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "detail": bench.detail,
        }))
        print(json.dumps({
            "correct": correct,
            "attempted": int(bench.attempted),
            "failed": int(bench.failed),
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
