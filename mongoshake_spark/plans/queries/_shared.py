"""Shared registry plumbing for the plans.queries package: the
QUERIES dict, the @_q registration decorator, cross-domain oracle
helpers, and the streaming temp-dir harness."""

from __future__ import annotations
import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from mongoshake_spark.functions import dedup, similarity, text as textfn
from mongoshake_spark.functions.texthash import MOD, poly_hash_duckdb
from mongoshake_spark.operators import combiner, filters, merge, transforms
from mongoshake_spark.sources.oplog import (
    HASHED_CHUNKS_SQL_DUCKDB,
    OPLOG_VIEW_SQL_DUCKDB,
    chunks_view,
    hashed_chunks_view,
    oplog_view,
)
from mongoshake_spark.sources.tables import load_table, range_scan  # noqa: F401

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One declared query: Spark builder + (optional) DuckDB oracle.

    ``stream`` declares the query's PERFORMANCE CLASS, not its
    correctness semantics: True means its wall-clock is dominated by a
    fixed runtime floor the batch-SQL oracle prices at ~0 — a real
    Structured Streaming drain (micro-batch scheduling, state stores,
    sink commits), a live socket/daemon transport, or an in-plan wire
    codec roundtrip (encode+decode work the aggregate-only oracle never
    pays, q28/q38). bench.py derives
    its stream-spacing set from this flag and reports the
    data-proportional ratio (non-stream queries only) and the stream
    floor seconds as separate headline metrics, so registry growth in
    either class stays attributable."""

    fn: QueryFn
    oracle: str | None
    doc: str = ""
    stream: bool = False


def _oplog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return oplog_view(load_table(spark, sf_dir, "events"))


# DuckDB CTE prefix: oplog_v derived from the pre-registered `events` view.
_O = f"WITH oplog_v AS ({OPLOG_VIEW_SQL_DUCKDB})\n"

_CHUNKS_CTE = """chunks AS (
  SELECT 'tpch.lineitem' AS ns,
         concat('shard', CAST(g % 2 AS VARCHAR)) AS shard,
         g * w AS min_key, (g + 1) * w AS max_key
  FROM (SELECT UNNEST(RANGE(0, 8)) AS g,
               (SELECT CAST(max(l_orderkey) // 8 AS BIGINT) + 1 FROM lineitem) AS w))
"""

QUERIES: dict[str, Query] = {}


def _q(name: str, oracle: str | None, doc: str = "", stream: bool = False):
    def reg(fn: QueryFn):
        QUERIES[name] = Query(fn=fn, oracle=oracle, doc=doc, stream=stream)
        return fn

    return reg




def _stream_tmpdir(prefix: str) -> str:
    """Temp tree for a streaming harness: under one parent so stale trees
    from earlier invocations (the returned DataFrame must keep reading
    its sink, so a run cannot delete its own) are swept once they are an
    hour old — bounded accumulation instead of a leak per call. Trees
    are pid-tagged and the sweep NEVER touches a LIVE process's trees —
    not just the current pid's: a lazily re-evaluated result held by a
    concurrent session (the driver re-scans sinks when it collects) must
    not lose its files, however old its tree is. The age heuristic only
    applies once the owning pid is dead (or the tag is unparseable)."""
    import os
    import re
    import shutil
    import tempfile
    import time

    base = os.path.join(tempfile.gettempdir(), "mongoshake_stream_q")
    os.makedirs(base, exist_ok=True)
    mine = f"pid{os.getpid()}_"
    now = time.time()
    for d in os.listdir(base):
        if d.startswith(mine):
            continue
        m = re.match(r"pid(\d+)_", d)
        if m:
            try:
                os.kill(int(m.group(1)), 0)
                continue  # owner is alive — its DataFrames may still read this
            except ProcessLookupError:
                pass  # owner is dead — age heuristic applies
            except PermissionError:
                continue  # alive, owned by another user
        p = os.path.join(base, d)
        try:
            if now - os.path.getmtime(p) > 3600:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=mine + prefix, dir=base)


def _write_class_feed(df, class_expr, n_classes: int, feed_dir: str, tmp: str):
    """Write a replay feed split by DETERMINISTIC arrival class in ONE
    job: ``class_expr`` (int in [0, n_classes)) names each row's
    micro-batch, and every class must land in exactly one parquet file
    so ``maxFilesPerTrigger=1`` makes file = batch. A ``partitionBy``
    write on the class column from a single task yields one file per
    class while scanning/computing ``df`` ONCE — the per-class
    ``filter(pred).coalesce(1)`` loop it replaces ran one full plan per
    class (guide §1.2: don't compute things you throw away N-1 times).
    The data files exclude the class column, so the feed schema is
    ``df``'s own. Files are mtime-stamped in class order (the file
    source admits oldest-first)."""
    import os
    import shutil

    from mongoshake_spark.streaming.replay import stamp_replay_order

    d = os.path.join(tmp, "_classes")
    (
        df.withColumn("_cls", class_expr.cast("int"))
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("_cls")
        .parquet(d)
    )
    os.makedirs(feed_dir, exist_ok=True)
    for i in range(n_classes):
        cdir = os.path.join(d, f"_cls={i}")
        try:
            part = next(
                f for f in os.listdir(cdir) if f.endswith(".parquet")
            )
        except (FileNotFoundError, StopIteration):
            raise RuntimeError(
                f"_write_class_feed: class {i} produced no rows — every "
                "arrival class must be non-empty or the batch-boundary "
                "claim silently weakens"
            ) from None
        os.replace(os.path.join(cdir, part), f"{feed_dir}/class{i}.parquet")
    shutil.rmtree(d, ignore_errors=True)
    stamp_replay_order([f"{feed_dir}/class{i}.parquet" for i in range(n_classes)])


_POLY_SHINGLE = poly_hash_duckdb("shingle")
_POLY_TEXT = poly_hash_duckdb("text")


_MINHASH_CTES = f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [] END)) AS shingle
  FROM toks),
hashed AS (SELECT doc_id, {_POLY_SHINGLE} AS h FROM sh),
sig AS (
  SELECT doc_id, i, min(((2*i + 1) * h + 7919 * i) % {MOD}) AS m
  FROM hashed, (SELECT unnest(range(0, 16)) AS i) GROUP BY doc_id, i),
bands AS (
  SELECT doc_id, i // 4 AS band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM sig GROUP BY doc_id, i // 4)"""


_DOT_DD = (
    "list_reduce([CAST(0 AS DOUBLE)] || list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, v) -> acc + v)"
)


def _dd_dot(a: str, b: str) -> str:
    return _DOT_DD.format(a=a, b=b)


_STOP_IN = ", ".join(f"'{w}'" for w in textfn.STOPWORDS)
