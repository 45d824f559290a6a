"""Profile one registry query: where did its time go?

    python3 scripts/profile_query.py <query> [sf_dir]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR``. Prints

- build seconds (``fn(spark, sf_dir)``: eager checkpoints, collects and,
  for stream queries, the whole bounded drain) and execute seconds
  (``.count()`` of the returned plan);
- per-phase Spark-job totals (jobs, tasks, executor run ms, shuffle and
  spill bytes) from an uncompressed event log, plus the heaviest jobs;
- for each streaming query the query ran: its micro-batch count and the
  ``durationMs`` phases of every batch (the ``StreamingQueryProgress``
  monitoring surface).

The last line is the same summary as one JSON object. The collectors are
the benchmark's own (``perfbench/tracing.py``); the event log is enabled
the way ``perfbench/run.py`` enables it. Spark's scratch space and the
event log live in a temporary directory removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
TOP_JOBS = 8


def _streams(progress: list[dict]) -> list[dict]:
    """Progress events grouped per query run, in start order."""
    runs: dict[str, dict] = {}
    for p in progress:
        run = runs.setdefault(p["runId"], {"name": p.get("name"), "batches": []})
        run["batches"].append(
            {"batch_id": p["batchId"], "rows": p.get("numInputRows", 0), **p.get("durationMs", {})}
        )
    return list(runs.values())


def main() -> int:
    if len(sys.argv) < 2 or (len(sys.argv) < 3 and "SPARK_GRAFT_SF_DIR" not in os.environ):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ["SPARK_GRAFT_SF_DIR"]

    from run import _environment
    from tracing import Tracer, attribute_jobs, event_log_files, job_totals, make_progress_log, parse_event_log

    work = tempfile.mkdtemp(prefix="profile_query_")
    try:
        _environment(work, trace=True)
        from mongoshake_spark.plans import QUERIES
        from mongoshake_spark.session import get_spark

        q = QUERIES[name]
        spark = get_spark("profile-query")
        spark.range(64).mapInPandas(lambda it: it, schema="id bigint").count()  # warm the workers
        listener = make_progress_log()
        spark.streams.addListener(listener)
        tracer = Tracer(True)
        t0 = time.perf_counter()
        with tracer.span("build"):
            df = q.fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("execute"):
            rows = df.count()
        exec_s = time.perf_counter() - t0
        spark.stop()  # flushes the event log and the listener bus
        by_phase = attribute_jobs(parse_event_log(event_log_files(os.path.join(work, "eventlog"))), tracer.windows())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"{name} @ {sf_dir}: build {build_s:.2f}s  execute {exec_s:.2f}s  rows {rows}")
    totals = {}
    for phase in ("build", "execute"):
        jobs = by_phase.get(phase, [])
        totals[phase] = t = job_totals(jobs)
        print(f"  {phase}: " + "  ".join(f"{k}={v:.3g}" if isinstance(v, float) else f"{k}={v}" for k, v in t.items()))
        for j in sorted(jobs, key=lambda j: -j.executor_run_ms)[:TOP_JOBS]:
            print(
                f"    job {j.job_id:>4}  stages={len(j.stage_ids)}  tasks={j.tasks}  "
                f"run_ms={j.executor_run_ms}  shuffle_w={j.shuffle_write_bytes}  spill={j.spill_bytes}"
            )
    streams = _streams(listener.progress)
    for s in streams:
        print(f"  stream {s['name'] or '(unnamed)'}: {len(s['batches'])} micro-batches")
        for b in s["batches"]:
            phases = "  ".join(f"{k}={b.get(k, 0)}" for k in PHASES)
            print(f"    batch {b['batch_id']}  rows={b['rows']}  trigger={b.get('triggerExecution', 0)}ms  {phases}")
    print(json.dumps({
        "query": name,
        "sf_dir": sf_dir,
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "rows": rows,
        "jobs": totals,
        "stream_batches": [len(s["batches"]) for s in streams],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
