"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the repository root.  Builds the workload's inputs from
``--seed``, starts a Spark session through ``session.get_spark``, warms
up, then repeats the workload for ``--seconds`` and checks every output.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` spends half the time untraced and
half traced and reports the per-layer metrics, including the tracing
overhead between the halves.  Spans and the host-contention evidence are
written under ``.perfbench_out/``; scratch data goes to
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from curation import Curation  # noqa: E402
from dashboard import Dashboard  # noqa: E402
from etl_nightly import EtlNightly  # noqa: E402
from tracing import HostMeter, JobCounter, Tracer, peak_rss_mb  # noqa: E402

WORKLOADS = {"dashboard": Dashboard, "etl_nightly": EtlNightly, "curation": Curation}
LAYERS = ("query", "tables", "cache", "concurrency", "spark", "pipelines", "operators", "sinks")
SETUP_GENERATIONS = 3
SPARK_CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p95(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=20, method="inclusive")[18]


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written path, skipping ``.crc`` and
    ``_SUCCESS`` markers."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Harness:
    """What the workloads share: the session, scratch dirs, the tracer and
    the counters the traced run reads."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out = os.path.join(os.getcwd(), ".perfbench_out")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer(enabled=False)
        self._dirs = 0
        self._req = threading.local()
        self._restore: list = []
        self.cache_bytes = 0
        self.sink_files = self.sink_bytes = 0

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{kind}-{self._dirs}")
        os.makedirs(path)
        return path

    # --- session -------------------------------------------------------------

    def start_spark(self) -> None:
        from magi_etl_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # Python workers unpickle program functions, so they import it too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{SPARK_CORES}]",
            driver_memory=DRIVER_MEMORY,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.jobs = JobCounter(self.spark, enabled=False)

    def stop_spark(self) -> None:
        """Stop Spark, close the gateway and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # --- tracing hooks -----------------------------------------------------------

    def begin_request(self) -> None:
        self._req.acquired = None

    def request_kind(self) -> str:
        acquired = getattr(self._req, "acquired", None)
        return "hit" if acquired is None else ("miss" if acquired else "wait")

    def instrument_cache(self, cache) -> None:
        """Traced run only: spans around ResultCache.lookup and a record of
        whether the request computed (took the lock) or waited on it."""
        if not self.tracer.enabled:
            return
        lookup, acquire = cache.lookup, cache._acquire_lock

        def traced_lookup(spark, key):
            with self.tracer.span("cache.lookup"):
                return lookup(spark, key)

        def traced_acquire(lock):
            got = acquire(lock)
            if getattr(self._req, "acquired", None) is None:
                self._req.acquired = got
            return got

        cache.lookup, cache._acquire_lock = traced_lookup, traced_acquire

    def count_cache_bytes(self, root: str) -> None:
        if self.tracer.enabled:
            self.cache_bytes += _dir_files(root)[1]

    def instrument_sinks(self) -> None:
        """Traced run only: spans around the sinks entry points the
        workloads reach, with files and bytes written."""
        from magi_etl_spark import sinks

        def wrap(name):
            fn = getattr(sinks, name)

            def traced(obj, path, *a, **k):
                with self.tracer.span("sinks.write"):
                    result = fn(obj, path, *a, **k)
                files, size = _dir_files(path)
                self.sink_files += files
                self.sink_bytes += size
                return result

            setattr(sinks, name, traced)
            self._restore.append(lambda: setattr(sinks, name, fn))

        wrap("write_parquet")
        wrap("render_report")

    def uninstrument(self) -> None:
        for undo in self._restore:
            undo()
        self._restore.clear()


def measure(wl, seconds: float) -> tuple[list[float], list[float], float]:
    """Repeat the workload until ``seconds`` have passed (at least once):
    (repetition walls, op latencies, elapsed)."""
    walls, lats = [], []
    t0 = time.perf_counter()
    while not walls or time.perf_counter() - t0 < seconds:
        wall, op_lats = wl.run_once()
        print(f"[perfbench] repetition {len(walls) + 1}: {wall:.2f}s, {len(op_lats)} ops",
              file=sys.stderr, flush=True)
        walls.append(wall)
        lats.extend(op_lats)
    return walls, lats, time.perf_counter() - t0


def layer_metrics(h: Harness, reps: int) -> dict[str, float]:
    tr = h.tracer
    kinds = {s["op"]: s.get("kind") for s in tr.spans if s["name"] == "op.request"}
    by_kind = lambda name, kind: [  # noqa: E731
        s["end"] - s["start"] for s in tr.spans if s["name"] == name and kinds.get(s["op"]) == kind
    ]
    n_req = len(kinds)
    per_op = h.jobs.per_op()
    self_s = tr.self_times()
    sink_s = sum(tr.durations("sinks.write"))
    m = {
        "query.build_ms_p50": _p50(tr.durations("query.build")) * 1e3,
        "tables.load_table_ms": _p50(tr.durations("tables.load_table")) * 1e3,
        "cache.hit_ratio": sum(k == "hit" for k in kinds.values()) / n_req if n_req else 0.0,
        "cache.lookup_ms_p50": _p50(tr.durations("cache.lookup")) * 1e3,
        "cache.hit_read_ms_p50": _p50(by_kind("spark.collect", "hit")) * 1e3,
        "cache.miss_compute_write_ms_p50": _p50(by_kind("cache.get_or_compute", "miss")) * 1e3,
        "cache.lock_waits": sum(k == "wait" for k in kinds.values()) / reps,
        "cache.bytes_written": h.cache_bytes / reps,
        "spark.jobs_per_op": per_op["jobs"],
        "spark.stages_per_op": per_op["stages"],
        "spark.tasks_per_op": per_op["tasks"],
        "pipelines.helix_build_ms_p50": _p50(tr.durations("pipelines.helix_metric_dataset")) * 1e3,
        "pipelines.trending_s": _p50(tr.durations("pipelines.trending")),
        "pipelines.wiki_metadata_s": _p50(tr.durations("pipelines.wiki_metadata")),
        "pipelines.monetization_s": _p50(tr.durations("pipelines.monetization")),
        "sinks.write_s": sink_s / reps,
        "sinks.files_written": h.sink_files / reps,
        "sinks.bytes_written": h.sink_bytes / reps,
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0) / reps
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    end_to_end, per_layer = metric_units()

    import magi_etl_spark  # noqa: F401  (fails fast outside a full checkout)

    h = Harness(args.workload, args.seed)
    wl = WORKLOADS[args.workload](h)
    try:
        h.start_spark()
        get_spark_s = time.perf_counter() - T_PROCESS
        gen_s = []
        for i in range(SETUP_GENERATIONS):
            t = time.perf_counter()
            wl.generate(os.path.join(h.work, f"inputs-{i}"))
            gen_s.append(time.perf_counter() - t)
        # The dashboard is a long-lived service: warm it before timing.  The
        # batch workloads start in a fresh process every night, so their
        # cold first repetition is what users wait for.
        t = time.perf_counter()
        if not wl.batch:
            wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = get_spark_s + _p50(gen_s) + warm_s
        h.log(f"setup {setup_s:.2f}s: get_spark {get_spark_s:.2f}s, generate {_p50(gen_s):.2f}s, "
              f"warm-up {warm_s:.2f}s")

        host = HostMeter()
        metrics: dict[str, float]
        if not args.trace:
            walls, lats, elapsed = measure(wl, args.seconds)
            metrics = {
                "latency_p50_ms": _p50(lats) * 1e3,
                "latency_p95_ms": _p95(lats) * 1e3,
                "throughput_qps": len(lats) / elapsed,
                # a batch run's user waits for the cold first repetition
                "wall_s": walls[0] if wl.batch else _p50(walls),
                "setup_s": setup_s,
            }
        else:
            if wl.batch:  # compare traced and untraced repetitions warm
                wl.run_once()
            _, plain_lats, _ = measure(wl, args.seconds / 2)
            h.tracer = Tracer(enabled=True)
            h.jobs = JobCounter(h.spark, enabled=True)
            h.instrument_sinks()
            try:
                walls, traced_lats, _ = measure(wl, args.seconds / 2)
            finally:
                h.uninstrument()
            metrics = layer_metrics(h, len(walls))
            metrics["trace.overhead_pct"] = (_p50(traced_lats) / _p50(plain_lats) - 1.0) * 100.0
            if hasattr(wl, "staged"):
                metrics.update(wl.staged())
            metrics["session.get_spark_s"] = get_spark_s
            metrics["inputs.generate_s"] = _p50(gen_s)
        ext_cores = host.ext_cores()
        attempted, failed = wl.check()
        metrics["peak_rss_mb"] = peak_rss_mb()
        metrics["host.ext_cores"] = ext_cores
    finally:
        if hasattr(h, "spark"):
            h.stop_spark()
        shutil.rmtree(h.work, ignore_errors=True)

    names = per_layer if args.trace else end_to_end
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a bypassed layer reads 0; every end-to-end metric must be measured
        "metrics": {k: {"value": float(metrics.get(k, 0.0) if args.trace else metrics[k]), "unit": u}
                    for k, u in names.items()},
    }
    contended = ext_cores > HostMeter.CONTENDED_CORES
    evidence = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host_ext_cores": round(ext_cores, 3), "host_contended": contended,
        "spark_cores": SPARK_CORES, "error_rate": failed / attempted, "result": result,
    }
    os.makedirs(h.out, exist_ok=True)
    stem = os.path.join(h.out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(evidence, f, indent=1)
    if args.trace:
        h.tracer.write(stem + ".spans.jsonl")
    h.log(f"error_rate={failed}/{attempted} host_ext_cores={ext_cores:.2f}"
          + (" HOST CONTENDED: timings are not regression evidence" if contended else ""))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
