"""The benchmark's workloads. Each takes a ``Bench`` (see run.py), runs for
about ``bench.seconds``, checks its outputs and returns a ``Result``.

The engine is reached only through its public entry points:
``plans.full_sync.full_sync``, ``streaming.apply.run_incr_sync``,
``streaming.replay.read_oplog_stream`` with ``ApplyKernel.process_batch``,
``plans.verify.verify_sync`` (with ``plans.repair.multiset_form`` for the
keyless table) and the ``plans.queries.QUERIES`` registry.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from gen import (
    Traffic,
    lww_oracle,
    make_ops,
    percentile,
    top_supported_percentile,
    write_backlog,
    write_fixture,
)
from tracing import batch_commits, tree_cpu_s


@dataclass
class Result:
    """What a workload measured. The two CPU figures are the end-to-end
    metrics; wall-clock figures go to ``detail``."""

    batch_cpu_s: float
    stream_cpu_s: float
    attempted: int
    failed: int
    detail: dict = field(default_factory=dict)
    #: per-layer figures only a workload can see (filled in traced runs)
    layer: dict = field(default_factory=dict)
    #: spans whose jobs (with their nested spans') count as the streaming layer
    stream_windows: tuple = ()


def _latency_summary(lat_ms: list[float], batches: int) -> dict:
    """p50/p90 plus the highest percentile with >= 10 samples beyond it,
    each with the sample and batch counts behind it."""
    s = sorted(lat_ms)
    top = top_supported_percentile(len(s))
    out = {"samples": len(s), "batches": batches}
    for p in (50.0, 90.0) + ((top,) if top and top > 90.0 else ()):
        out[f"p{p:g}_ms"] = round(percentile(s, p), 3)
    out["top_supported_percentile"] = top
    return out


# ---------------------------------------------------------------------------
# replicate: sync_mode=all life cycle, closed loop
# ---------------------------------------------------------------------------

SNAPSHOT_SF = 0.005
#: snapshot tables and their verify keys; None = keyless, verified as a
#: multiset (the generated lineitem repeats (orderkey, linenumber) pairs)
SNAPSHOT_TABLES = {"customer": "c_custkey", "orders": "o_orderkey", "lineitem": None, "events": "event_id"}
REPLICATE_TRAFFIC = Traffic(
    ops_per_file=1024, keys=200_000, skew=0.0, delete_share=0.10, ddl_share=0.005, noop_share=0.02
)
BACKLOG_FILES = 4


def _verify_table(spark, src_dir: str, dst_dir: str, table: str, key: str | None) -> int:
    """Divergent rows of one snapshot table (0 = in sync)."""
    from pyspark.sql import functions as F

    from mongoshake_spark.plans.repair import multiset_form
    from mongoshake_spark.plans.verify import verify_sync

    src = spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))
    dst = spark.read.parquet(os.path.join(dst_dir, table))
    if key is None:
        dst = multiset_form(dst.select(*src.columns))
        src = multiset_form(src)
        key = "_vkey"
    names = [c for c in src.columns if c != key]
    return verify_sync(src, dst, key, [F.col(c).cast("string") for c in names]).count()


def _state_matches(kernel, ops, n_ops: int) -> bool:
    view = kernel.state_view()
    got = [] if view is None else sorted(tuple(r) for r in view.select("user_id", "value", "id").collect())
    return got == lww_oracle(ops, n_ops)


def replicate(bench) -> Result:
    from mongoshake_spark.config import SyncConfig
    from mongoshake_spark.plans.full_sync import full_sync
    from mongoshake_spark.streaming.apply import run_incr_sync

    cfg = SyncConfig().validate()  # the CLI default admission
    per_file = REPLICATE_TRAFFIC.ops_per_file
    n_ops = BACKLOG_FILES * per_file
    src = os.path.join(bench.work, "src")
    state = {}

    def gen_inputs():
        write_fixture(src, bench.seed, SNAPSHOT_SF, tables=SNAPSHOT_TABLES)
        state["ops"] = make_ops(REPLICATE_TRAFFIC, n_ops, bench.seed)

    spark = bench.setup(gen_inputs)
    ops = state["ops"]
    tr = bench.tracer

    def cycle(tag: str, tables: dict, n_files: int, timed: bool):
        d = os.path.join(bench.work, tag)
        feed = os.path.join(d, "feed")
        write_backlog(feed, {k: v[: n_files * per_file] for k, v in ops.items()}, per_file)
        bench.drain_session(spark)
        span = tr.span if timed else (lambda _name: contextlib.nullcontext())
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with span("plans.full_sync"):
            report = full_sync(spark, src, os.path.join(d, "target"), tables=tuple(tables))
        c1, t1 = tree_cpu_s(), time.perf_counter()
        wall1 = time.time()
        with span("streaming.incr_sync"):
            kernel = run_incr_sync(
                spark, feed, os.path.join(d, "state"), os.path.join(d, "ckpt"),
                max_files_per_trigger=cfg.files_per_trigger,
            )
        c2, t2 = tree_cpu_s(), time.perf_counter()
        with span("plans.verify"):
            diverged = {t: _verify_table(spark, src, os.path.join(d, "target"), t, k) for t, k in tables.items()}
        c3, t3 = tree_cpu_s(), time.perf_counter()
        commits = [b for b in batch_commits(os.path.join(d, "ckpt")) if b.files]
        # every op waited from the start of the catch-up to its batch's commit
        lags = [(b.commit_s - wall1) * 1000.0 for b in commits for _ in range(len(b.files) * per_file)]
        ok_state = _state_matches(kernel, ops, n_files * per_file)
        return {
            "snapshot_rows": report.total_rows,
            "snapshot_s": t1 - t0,
            "catchup_s": t2 - t1,
            "verify_s": t3 - t2,
            "cycle_s": t3 - t0,
            "snapshot_cpu_s": c1 - c0,
            "catchup_cpu_s": c2 - c1,
            "verify_cpu_s": c3 - c2,
            "batches": len(commits),
            "files_admitted": sum(len(b.files) for b in commits),
            "diverged": diverged,
            "state_ok": ok_state,
            "lags": lags,
            "kernel": kernel,
        }

    t_prime = time.perf_counter()
    prime = cycle("prime", {"customer": "c_custkey"}, 1, timed=False)
    prime_s = time.perf_counter() - t_prime
    bench.start_listening(spark)
    cycles = []
    t_end = time.perf_counter() + bench.seconds
    while not cycles or time.perf_counter() < t_end:
        with tr.span("replicate.cycle"):
            cycles.append(cycle(f"cycle{len(cycles)}", SNAPSHOT_TABLES, BACKLOG_FILES, timed=True))
    attempted = sum(c["batches"] + len(c["diverged"]) + 1 for c in cycles)
    failed = sum(
        (BACKLOG_FILES - c["files_admitted"]) + sum(1 for v in c["diverged"].values() if v) + (not c["state_ok"])
        for c in cycles
    ) + (not prime["state_ok"])
    lags = [x for c in cycles for x in c["lags"]]
    med = statistics.median
    detail = {
        "cycles": len(cycles),
        "prime_s": round(prime_s, 3),
        "snapshot_rows_per_s": round(med(c["snapshot_rows"] / c["snapshot_s"] for c in cycles), 1),
        "apply_ops_per_s": round(med(n_ops / c["catchup_s"] for c in cycles), 2),
        "verify_s": round(med(c["verify_s"] for c in cycles), 4),
        "cycle_s": round(med(c["cycle_s"] for c in cycles), 4),
        "cpu_s": {k: round(med(c[k] for c in cycles), 3) for k in ("snapshot_cpu_s", "catchup_cpu_s", "verify_cpu_s")},
        "snapshot_rows": cycles[0]["snapshot_rows"],
        "ops_per_cycle": n_ops,
        "divergent_rows": sum(v for c in cycles for v in c["diverged"].values()),
        "state_checks_failed": sum(not c["state_ok"] for c in cycles),
        "lag_during_catchup": _latency_summary(lags, sum(c["batches"] for c in cycles)),
    }
    last = cycles[-1]
    layer = {
        "sources.files_admitted": med(c["files_admitted"] for c in cycles),
        "streaming.state_rows_read_per_batch": last["kernel"].last_state_rows_read,
        "streaming.state_files_read_per_batch": last["kernel"].last_state_files_read,
        "plans.full_sync.rows": last["snapshot_rows"],
        "cycles": len(cycles),
        "batches": sum(c["batches"] for c in cycles),
    }
    return Result(
        batch_cpu_s=med(c["snapshot_cpu_s"] + c["verify_cpu_s"] for c in cycles),
        stream_cpu_s=med(c["catchup_cpu_s"] for c in cycles),
        attempted=attempted,
        failed=failed,
        detail=detail,
        layer=layer,
        stream_windows=("streaming.incr_sync",),
    )


# ---------------------------------------------------------------------------
# lanes: registry queries, closed loop, serial
# ---------------------------------------------------------------------------

LANES_SF = 0.01
CHECK_WORKERS = 3
#: functions/* module -> one non-stream registry query whose builder
#: calls it: the heaviest one, unless that alone costs over ~3 s cold on
#: a 4-core host, in which case the next heaviest (the run budget). The
#: functions/texthash module has no query of its own: its hashes run
#: inside the text, dedup and verify builders.
BATCH_LANES = {
    "bpe": "tokenizer_fertility",
    "clustering": "kmeans_embed",
    "curation": "decontaminate_spans",
    "dedup": "dedup_containment",
    "packing": "pack_sequences",
    "projection": "embedding_covariance_incremental",
    "quantization": "ann_sq8",
    "retrieval": "tfidf_topterms",
    "similarity": "dedup_semantic",
    "text": "text_blocklist_bloom",
}
#: streaming/* module (other than apply) -> a stream-class query that
#: runs Structured Streaming micro-batches. One lane only: each costs ~3 s
#: warm, and the run budget holds one.
STREAM_LANES = {
    "txn": "q31_txn_crossbatch",
}


def _canon_hash(pdf) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive content hash):
    columns sorted by name, floats at 6 decimals, rows sorted."""
    import hashlib
    import math

    cols = sorted(pdf.columns)
    rows = []
    for rec in pdf[cols].itertuples(index=False, name=None):
        out = []
        for v in rec:
            if isinstance(v, float):
                out.append("nan" if math.isnan(v) else f"{v:.6f}")
            elif v is None:
                out.append("None")
            elif hasattr(v, "isoformat"):
                out.append(v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat())
            else:
                out.append(str(v))
        rows.append("\x1f".join(out))
    rows.sort()
    return cols, len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def oracle_mismatch(src: str, name: str, got) -> str | None:
    """None when the Spark result ``got`` (pandas) matches the query's
    DuckDB oracle on columns, row count and content hash; otherwise the
    reason."""
    import duckdb
    import pandas as pd

    from mongoshake_spark.plans import QUERIES
    from mongoshake_spark.sources.tables import TABLES

    oracle = QUERIES[name].oracle
    if oracle is None:
        return None
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
        want = con.execute(oracle).fetchdf()
    finally:
        con.close()
    for df in (got, want):
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype(str)
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype(float)
    a, b = _canon_hash(got), _canon_hash(want)
    if a[0] != b[0]:
        return f"columns {a[0]} != {b[0]}"
    if a[1] != b[1]:
        return f"rows {a[1]} != {b[1]}"
    if a[2] != b[2]:
        return "content hash differs"
    return None


def lanes(bench) -> Result:
    """Two passes over the lanes in a fixed order. The first checks each
    lane's result against its DuckDB oracle and warms its code paths; it
    is not timed, and runs ``CHECK_WORKERS`` lanes at once. The second
    is measured: each lane's build (``q.fn``) and execution (``.count()``)
    are timed apart, with the CPU the process tree spent on the lane. The
    seed varies the generated tables; the pass is the run's unit of work
    whatever ``--seconds`` says, so every run measures the same thing."""
    from mongoshake_spark.plans import QUERIES

    src = os.path.join(bench.work, "src")

    def gen_inputs():
        write_fixture(src, bench.seed, LANES_SF)

    spark = bench.setup(gen_inputs)
    tr = bench.tracer
    names = list(BATCH_LANES.values()) + list(STREAM_LANES.values())
    failures: dict[str, str] = {}

    def check(name: str) -> str | None:
        """Oracle check, then one more build and count: the JIT compiles
        a plan's hot paths over its first executions, and the measured
        pass should not pay for that."""
        try:
            why = oracle_mismatch(src, name, QUERIES[name].fn(spark, src).toPandas())
            QUERIES[name].fn(spark, src).count()
            return why
        except Exception as exc:  # noqa: BLE001 — a failing lane is counted, not fatal
            return f"{type(exc).__name__}: {exc}"[:300]

    t_check = time.perf_counter()
    with ThreadPoolExecutor(max_workers=CHECK_WORKERS) as pool:
        for name, why in zip(names, pool.map(check, names)):
            if why:
                failures[name] = why
    check_s = time.perf_counter() - t_check
    bench.drain_session(spark)
    bench.start_listening(spark)
    spans: dict[str, tuple[float, float]] = {}
    cpu: dict[str, float] = {}
    for name in names:
        try:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with tr.span(f"lanes.{name}"):
                with tr.span(f"lanes.{name}.build"):
                    df = QUERIES[name].fn(spark, src)
                t1 = time.perf_counter()
                with tr.span(f"lanes.{name}.exec"):
                    df.count()
            spans[name] = (t1 - t0, time.perf_counter() - t1)
            cpu[name] = tree_cpu_s() - c0
        except Exception as exc:  # noqa: BLE001
            failures.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
    stream = set(STREAM_LANES.values())

    def class_sum(values: dict, want_stream: bool) -> float:
        return sum(v for n, v in values.items() if (n in stream) == want_stream)

    wall = {n: b + e for n, (b, e) in spans.items()}
    detail = {
        "check_s": round(check_s, 3),
        "failures": failures,
        "batch_query_s": round(class_sum(wall, False), 4),
        "stream_query_s": round(class_sum(wall, True), 4),
        "query_span": _latency_summary([w * 1000.0 for w in wall.values()], 1),
        "spans_s": {n: [round(b, 3), round(e, 3)] for n, (b, e) in spans.items()},
        "cpu_s": {n: round(c, 3) for n, c in cpu.items()},
    }
    layer = {}
    for name, (b, e) in spans.items():
        layer[f"lanes.{name}.build_s"] = b
        layer[f"lanes.{name}.exec_s"] = e
    return Result(
        batch_cpu_s=class_sum(cpu, False),
        stream_cpu_s=class_sum(cpu, True),
        attempted=len(names),
        failed=len(failures),
        detail=detail,
        layer=layer,
        stream_windows=tuple(f"lanes.{n}" for n in STREAM_LANES.values()),
    )


WORKLOADS = {"replicate": replicate, "lanes": lanes}
