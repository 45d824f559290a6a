#!/usr/bin/env python3
"""The repository benchmark: one named workload, one seed, one JSON result.

    python3 perfbench/run.py --workload {replicate,lanes} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench/`` under the current directory, which also holds Spark's
scratch space; nothing is read or written outside it. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (event log, streaming listener and spans enabled).
The line before it is a JSON object of run metadata and the workload's
own figures. See perfbench/NOTES.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: a run must end within 180 s; past this the watchdog exits non-zero
WATCHDOG_S = 170
#: session set-ups per run; setup_s is their median
SETUP_CYCLES = 3
DRIVER_MEM = "2g"

END_TO_END = (
    ("setup_s", "s"),
    ("batch_cpu_s", "s"),
    ("stream_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)

FUNCTIONS_METRICS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_ms", "ms"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("max_task_over_stage_wall", "ratio"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    from workloads import BATCH_LANES, STREAM_LANES

    out = [
        ("session.start_s", "s"),
        ("session.warm_s", "s"),
        ("sources.latest_offset_ms", "ms"),
        ("sources.get_batch_ms", "ms"),
        ("sources.files_admitted", "count"),
        ("streaming.batches", "count"),
        ("streaming.add_batch_ms", "ms"),
        ("streaming.trigger_ms", "ms"),
        ("streaming.floor_ms", "ms"),
        ("streaming.wal_commit_ms", "ms"),
        ("streaming.query_planning_ms", "ms"),
        ("streaming.jobs_per_batch", "count"),
        ("streaming.tasks_per_batch", "count"),
        ("streaming.shuffle_write_bytes_per_batch", "bytes"),
        ("streaming.state_rows_read_per_batch", "count"),
        ("streaming.state_files_read_per_batch", "count"),
        ("plans.full_sync.s", "s"),
        ("plans.full_sync.rows", "count"),
        ("plans.full_sync.bytes_written", "bytes"),
        ("plans.verify.s", "s"),
        ("plans.verify.jobs", "count"),
        ("plans.verify.shuffle_write_bytes", "bytes"),
    ]
    for q in list(BATCH_LANES.values()) + list(STREAM_LANES.values()):
        out += [(f"lanes.{q}.build_s", "s"), (f"lanes.{q}.exec_s", "s")]
    for mod in BATCH_LANES:
        out += [(f"functions.{mod}.{m}", u) for m, u in FUNCTIONS_METRICS]
    out.append(("trace.cpu_s", "s"))
    return out


def _environment(work: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers; must be set
    before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python workers import mongoshake_spark, whatever the cwd
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: each JVM (spark-submit's launcher too) would otherwise
    # write /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        for kv in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"])


class Bench:
    """One run's shared state: seed, time budget, work dir, tracer, and the
    session life cycle the workloads call into."""

    def __init__(self, seed: int, seconds: float, work: str, trace: bool):
        from tracing import Tracer

        self.seed, self.seconds, self.work = seed, seconds, work
        self.tracer = Tracer(trace)
        self.setup_s: list[float] = []
        self.spark = None
        self.listener = None

    def setup(self, gen_inputs):
        """``SETUP_CYCLES`` times: (re)start the session, warm it (JVM,
        codegen, a Python worker) and generate the inputs. The first cycle
        boots the JVM; later ones restart the context inside it."""
        from mongoshake_spark.session import get_spark

        tr = self.tracer
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            with tr.span("session.start"):
                self.spark = get_spark("perfbench")
            with tr.span("session.warm"):
                self.spark.range(200_000).selectExpr("sum(id)").collect()
                self.spark.range(64).mapInPandas(lambda it: it, schema="id bigint").selectExpr(
                    "count(*)"
                ).collect()
            with tr.span("setup.inputs"):
                gen_inputs()
            self.setup_s.append(time.perf_counter() - t0)
        return self.spark

    def start_listening(self, spark) -> None:
        if self.tracer.enabled:
            from tracing import make_progress_log

            self.listener = make_progress_log()
            spark.streams.addListener(self.listener)

    def drain_session(self, spark) -> None:
        """Release the module-level persist registries and the cache, as
        bench.py does between passes."""
        import gc

        from mongoshake_spark.functions.dedup import release_shingle_indexes
        from mongoshake_spark.functions.retrieval import release_tf_tables

        release_shingle_indexes()
        release_tf_tables()
        gc.collect()
        spark.catalog.clearCache()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort, then reap it
                proc.kill()
                proc.wait(timeout=10)


def layer_metrics(bench: Bench, res) -> dict[str, float]:
    """Every per-layer metric; 0 where the workload does not exercise the
    layer. Spark-job figures come from the event log, attributed to the
    benchmark's spans; batch phases from the listener."""
    from tracing import attribute_jobs, event_log_files, job_totals, parse_event_log
    from workloads import BATCH_LANES

    tr = bench.tracer
    med = statistics.median
    out = {name: 0.0 for name, _ in per_layer_metrics()}

    def span_median(name):
        d = [s.end - s.start for s in tr.spans if s.name == name]
        return med(d) if d else 0.0

    out["session.start_s"] = span_median("session.start")
    out["session.warm_s"] = span_median("session.warm")

    progress = [p for p in (bench.listener.progress if bench.listener else []) if p.get("numInputRows", 0) > 0]
    dm = [p.get("durationMs", {}) for p in progress]

    def phase(key):
        return med(d.get(key, 0) for d in dm) if dm else 0.0

    out["sources.latest_offset_ms"] = phase("latestOffset")
    out["sources.get_batch_ms"] = phase("getBatch")
    out["streaming.batches"] = len(dm)
    out["streaming.add_batch_ms"] = phase("addBatch")
    out["streaming.trigger_ms"] = phase("triggerExecution")
    out["streaming.floor_ms"] = med(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dm) if dm else 0.0
    out["streaming.wal_commit_ms"] = phase("walCommit")
    out["streaming.query_planning_ms"] = phase("queryPlanning")

    jobs = parse_event_log(event_log_files(os.path.join(bench.work, "eventlog")))
    by_window = attribute_jobs(jobs, tr.windows())

    def jobs_under(*spans):
        """Jobs of the named spans and of the spans nested in them."""
        nested = tuple(f"{s}." for s in spans)
        return [j for name, js in by_window.items() if name in spans or name.startswith(nested) for j in js]

    if res.stream_windows and dm:
        st = job_totals(jobs_under(*res.stream_windows))
        n = len(dm)
        out["streaming.jobs_per_batch"] = st["jobs"] / n
        out["streaming.tasks_per_batch"] = st["tasks"] / n
        out["streaming.shuffle_write_bytes_per_batch"] = st["shuffle_write_bytes"] / n
    cycles = max(1, res.layer.get("cycles", 1))
    if any(s.name == "plans.full_sync" for s in tr.spans):
        out["plans.full_sync.s"] = span_median("plans.full_sync")
        out["plans.full_sync.bytes_written"] = job_totals(jobs_under("plans.full_sync"))["bytes_written"] / cycles
        vt = job_totals(jobs_under("plans.verify"))
        out["plans.verify.s"] = span_median("plans.verify")
        out["plans.verify.jobs"] = vt["jobs"] / cycles
        out["plans.verify.shuffle_write_bytes"] = vt["shuffle_write_bytes"] / cycles
    for mod, q in BATCH_LANES.items():
        t = job_totals(jobs_under(f"lanes.{q}"))
        for m, _ in FUNCTIONS_METRICS:
            out[f"functions.{mod}.{m}"] = t[m]
    for k, v in res.layer.items():
        if k in out:
            out[k] = v
    out["trace.cpu_s"] = res.batch_cpu_s + res.stream_cpu_s
    return {k: float(v) for k, v in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("replicate", "lanes"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def watchdog(signum, frame):
        print(f"perfbench: no result within {WATCHDOG_S}s", file=sys.stderr, flush=True)
        os._exit(3)

    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)

    sys.path.insert(0, ROOT)
    import mongoshake_spark  # noqa: F401 — fail fast outside a full checkout

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, bool(args.trace))

    from tracing import cpu_ticks, git_commit, peak_rss_mb
    from workloads import WORKLOADS

    steal0, ticks0 = cpu_ticks()
    load0 = os.getloadavg()[0]
    bench = Bench(args.seed, args.seconds, work, bool(args.trace))
    try:
        res = WORKLOADS[args.workload](bench)
        rss = peak_rss_mb(bench.jvm_pid())
        bench.spark.stop()  # flushes the event log before it is parsed
        bench.spark = None
        layer = layer_metrics(bench, res) if args.trace else None
    finally:
        bench.close()
        if args.trace:
            os.makedirs(base, exist_ok=True)
            bench.tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    steal1, ticks1 = cpu_ticks()
    e2e = {
        "setup_s": statistics.median(bench.setup_s),
        "batch_cpu_s": res.batch_cpu_s,
        "stream_cpu_s": res.stream_cpu_s,
        "peak_rss_mb": rss,
    }
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "commit": git_commit(ROOT),
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "host_steal_pct": round(100.0 * (steal1 - steal0) / (ticks1 - ticks0), 3) if ticks1 > ticks0 else None,
        "loadavg_start": round(load0, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "setup_cycles_s": [round(s, 3) for s in bench.setup_s],
        "failed_ratio": res.failed / res.attempted,
        "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
        **res.detail,
    }
    units = dict(per_layer_metrics()) if args.trace else dict(END_TO_END)
    values = layer if args.trace else e2e
    print(json.dumps(meta), flush=True)
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
            }
        ),
        flush=True,
    )
    signal.alarm(0)
    return 0


if __name__ == "__main__":
    sys.exit(main())
