"""Tests for the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from gen import (
    Traffic,
    beyond,
    lww_oracle,
    make_ops,
    percentile,
    top_supported_percentile,
    write_backlog,
    write_fixture,
)
from tracing import Tracer, attribute_jobs, batch_commits, job_totals, parse_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
TRAFFIC = Traffic(ops_per_file=64, keys=500, skew=1.2, delete_share=0.1, ddl_share=0.05, noop_share=0.05)


def _tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_fixture_is_deterministic_per_seed_and_differs_across_seeds(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert write_fixture(a, 7, 0.001) == write_fixture(b, 7, 0.001)
    write_fixture(c, 8, 0.001)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert sorted(ta) == [f"{t}.parquet" for t in sorted(
        ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"])]
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not ta["events.parquet"].equals(tc["events.parquet"])
    assert not ta["documents.parquet"].equals(tc["documents.parquet"])


def test_fixture_subset_draws_the_same_rows(tmp_path):
    write_fixture(str(tmp_path / "all"), 3, 0.001)
    write_fixture(str(tmp_path / "one"), 3, 0.001, tables={"orders": None})
    assert os.listdir(tmp_path / "one") == ["orders.parquet"]
    assert pq.read_table(tmp_path / "one" / "orders.parquet").equals(
        pq.read_table(tmp_path / "all" / "orders.parquet"))


def test_ops_are_deterministic_per_seed_and_follow_the_mix():
    a, b, c = make_ops(TRAFFIC, 4000, 1), make_ops(TRAFFIC, 4000, 1), make_ops(TRAFFIC, 4000, 2)
    assert all((a[k] == b[k]).all() for k in a)
    assert not (a["user_id"] == c["user_id"]).all()
    share = {op: float((a["op"] == op).mean()) for op in "cndiu"}
    assert share["c"] == pytest.approx(0.05, abs=0.02)
    assert share["d"] == pytest.approx(0.1, abs=0.02)
    assert list(a["id"]) == list(range(4000))


def test_skewed_keys_concentrate_and_uniform_keys_spread():
    skewed = make_ops(TRAFFIC, 4000, 1)["user_id"]
    uniform = make_ops(Traffic(64, 500, 0.0, 0.1, 0.0, 0.0), 4000, 1)["user_id"]
    assert len(set(skewed.tolist())) < 0.8 * len(set(uniform.tolist()))


def test_backlog_files_are_published_whole_and_in_order(tmp_path):
    ops = make_ops(TRAFFIC, 200, 5)
    assert write_backlog(str(tmp_path), ops, 64) == 4
    names = sorted(os.listdir(tmp_path))
    assert names == [f"part-{k:06d}.parquet" for k in range(4)]  # no hidden leftovers
    mtimes = [os.path.getmtime(tmp_path / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    ids = [i for n in names for i in pq.read_table(tmp_path / n)["id"].to_pylist()]
    assert ids == list(range(200))


def test_lww_oracle_last_writer_wins_and_hides_deletes():
    import numpy as np

    ops = {
        "id": np.array([0, 1, 2, 3, 4, 5]),
        "user_id": np.array([1, 1, 2, 2, 3, 3]),
        "op": np.array(["i", "u", "i", "d", "i", "c"]),
        "value": np.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0]),
    }
    assert lww_oracle(ops) == [(1, 2.0, 1), (3, 5.0, 4)]
    assert lww_oracle(ops, 3) == [(1, 2.0, 1), (2, 3.0, 2)]


def test_percentiles_on_synthetic_lags():
    # 1000 ops, lag = due-to-commit: commits every 100 ops, dues 1 ms apart
    lags = sorted(float((k // 100 + 1) * 100 - k) for k in range(1000))
    assert percentile(lags, 50.0) == 50.0
    assert percentile(lags, 90.0) == 90.0
    assert percentile([3.0], 90.0) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50.0)


def test_highest_percentile_with_ten_samples_beyond_it():
    assert beyond(100, 90.0) == 10
    assert top_supported_percentile(19) is None
    assert top_supported_percentile(20) == 50.0
    assert top_supported_percentile(100) == 90.0
    assert top_supported_percentile(999) == 90.0
    assert top_supported_percentile(1000) == 99.0
    assert top_supported_percentile(10_000) == 99.9


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None and inner.run_id == outer.run_id
    st = tr.self_times()
    assert st["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_event_log_parser_on_a_recorded_session():
    jobs = parse_event_log([os.path.join(HERE, "data", "tiny_eventlog.json")])
    assert len(jobs) == 3
    assert [j.job_id for j in jobs] == [0, 1, 2]
    assert all(j.tasks >= 1 for j in jobs)
    assert sum(j.shuffle_write_bytes for j in jobs) > 0  # the groupBy job shuffles
    assert sum(j.bytes_written for j in jobs) > 0  # the parquet write
    windows = [("first", jobs[0].submit_s - 1e-3, jobs[0].submit_s + 1e-3),
               ("rest", jobs[1].submit_s - 1e-3, jobs[2].submit_s + 1e-3)]
    by = attribute_jobs(jobs, windows)
    assert [j.job_id for j in by["first"]] == [0]
    assert [j.job_id for j in by["rest"]] == [1, 2]
    tot = job_totals(jobs)
    assert tot["jobs"] == 3 and tot["tasks"] == sum(j.tasks for j in jobs)
    assert 0.0 < tot["max_task_over_stage_wall"] <= 1.0 + 1e-9


def test_event_log_parser_skips_a_torn_last_line(tmp_path):
    src = os.path.join(HERE, "data", "tiny_eventlog.json")
    torn = tmp_path / "torn"
    torn.write_text(open(src).read() + '{"Event": "SparkListenerJobStart", "Job')
    assert len(parse_event_log([str(torn)])) == 3


def test_batch_commits_reads_a_checkpoint(tmp_path):
    for sub in ("offsets", "commits", "sources/0"):
        os.makedirs(tmp_path / sub)
    for bid in range(2):
        (tmp_path / "offsets" / str(bid)).write_text("v1\n{}\n")
        (tmp_path / "commits" / str(bid)).write_text("v1\n{}\n")
        (tmp_path / "sources" / "0" / str(bid)).write_text(
            'v1\n{"path":"file:///x/part-%06d.parquet","timestamp":1,"batchId":%d}\n' % (bid, bid))
    (tmp_path / "offsets" / "2").write_text("v1\n{}\n")  # planned, not committed
    got = batch_commits(str(tmp_path))
    assert [(b.batch_id, b.files) for b in got] == [(0, ["part-000000.parquet"]), (1, ["part-000001.parquet"])]


def test_benchmark_json_names_match_the_runner():
    import run
    import workloads

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
