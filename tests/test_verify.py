"""Post-sync verification (plans/verify) — the comparison.py analog.

Pins: in-sync emptiness, exact diff recovery (drop/mutate/extra), the
payload-swap case that motivates keyed signatures, deterministic sample
mode, the phase-2 prune plan shape, and the job budget and plan shape of
an in-sync verification."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from mongoshake_spark.plans.verify import (
    bucket_summary,
    diverged_buckets,
    row_signature,
    verify_sync,
)
from mongoshake_spark.sources.tables import load_table

SIG = ["c_name", "c_mktsegment"]


def _customer(spark, sf_dir):
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def test_in_sync_has_no_diffs_and_no_diverged_buckets(spark, sf_dir):
    src = _customer(spark, sf_dir)
    sig = row_signature([F.col("c_custkey").cast("string"), *SIG])
    assert diverged_buckets(src, src, "c_custkey", sig, 32).count() == 0
    assert verify_sync(src, src, "c_custkey", SIG, n_buckets=32).count() == 0


def test_exact_diff_recovery(spark, sf_dir):
    src = _customer(spark, sf_dir)
    dst = (
        src.filter(F.col("c_custkey") % 50 != 3)  # dropped
        .withColumn(
            "c_name",
            F.when(F.col("c_custkey") % 70 == 5, F.lit("X")).otherwise(F.col("c_name")),
        )
    )
    got = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(src, dst, "c_custkey", SIG, n_buckets=32).collect()
    }
    keys = [r["c_custkey"] for r in src.select("c_custkey").collect()]
    want = {(k, "missing_in_dst") for k in keys if k % 50 == 3}
    want |= {(k, "differs") for k in keys if k % 70 == 5 and k % 50 != 3}
    assert got == want


def test_payload_swap_within_bucket_is_detected(spark):
    """Two same-length keys in the SAME bucket swapping payloads leave
    the bucket's count and its multiset of payloads unchanged. The key is
    prepended to the signature rendering, so the swap changes both rows'
    signatures and phase 1 sees it through the signature sum; the
    quadratic moment (sum of h^2 mod M) in bucket_summary is a second,
    independent defence, the one that catches the swap for any hash that
    is linear in character values."""
    rows = [(i, f"name{i}", "SEG") for i in range(20)]
    src = spark.createDataFrame(rows, "c_custkey bigint, c_name string, c_mktsegment string")
    # swap payloads of keys 3 and 7 with ONE bucket for everything, so the
    # swap is invisible to (count, payload-sum) summaries by construction
    swapped = [
        (3, "name7", "SEG"),
        (7, "name3", "SEG"),
    ] + [r for r in rows if r[0] not in (3, 7)]
    dst = spark.createDataFrame(swapped, src.schema)
    got = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(src, dst, "c_custkey", SIG, n_buckets=1).collect()
    }
    assert got == {(3, "differs"), (7, "differs")}


def test_sample_mode_is_deterministic_subset(spark, sf_dir):
    src = _customer(spark, sf_dir)
    dst = src.filter(F.col("c_custkey") % 11 != 0)
    full = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(src, dst, "c_custkey", SIG, n_buckets=32).collect()
    }
    half = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(
            src, dst, "c_custkey", SIG, n_buckets=32, sample_num=1, sample_den=2
        ).collect()
    }
    assert half <= full
    assert len(half) > 0  # the cut keeps roughly half the diffs
    again = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(
            src, dst, "c_custkey", SIG, n_buckets=32, sample_num=1, sample_den=2
        ).collect()
    }
    assert again == half  # deterministic, not $sample


def test_phase2_prunes_to_diverged_buckets(spark, sf_dir):
    """The key-level join must be gated by a broadcast semi-join on the
    diverged-bucket list — the shape that reduces phase 2 to zero rows
    for an in-sync corpus."""
    src = _customer(spark, sf_dir)
    dst = src.filter(F.col("c_custkey") % 50 != 3)
    plan = (
        verify_sync(src, dst, "c_custkey", SIG, n_buckets=32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    assert "Broadcast" in plan


#: jobs one in-sync ``verify_sync(...).count()`` of two parquet copies
#: may run: phase 1's aggregate (one shuffle) and the broadcast of its
#: empty bucket list, then the pruned phase 2 (measured, Spark 4.1)
VERIFY_JOB_BUDGET = 3


def _plan_nodes(df) -> list[str]:
    """Operator names of ``df``'s optimized logical plan, one per node."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [m.group(1) for m in re.finditer(r"(?m)^[\s:+-]*(\w+)", plan)]


def test_in_sync_verify_job_budget_and_plan_shape(spark, sf_dir, tmp_path):
    """Phase 1 is ONE aggregate over the side-tagged union of both sides
    (no summary join), and the row signature is a codegen'd hash — no
    higher-order function, which Spark evaluates per element without
    codegen. The pair is two parquet copies, as the CLI reads them, so
    identical plans cannot share an exchange."""
    _customer(spark, sf_dir).write.parquet(str(tmp_path / "src"))
    _customer(spark, sf_dir).write.parquet(str(tmp_path / "dst"))
    src = spark.read.parquet(str(tmp_path / "src"))
    dst = spark.read.parquet(str(tmp_path / "dst"))

    diff = verify_sync(src, dst, "c_custkey", SIG, n_buckets=32)
    assert "lambdafunction" not in diff._jdf.queryExecution().optimizedPlan().toString()
    sig = row_signature([F.col("c_custkey").cast("string"), *SIG])
    nodes = _plan_nodes(diverged_buckets(src, dst, "c_custkey", sig, 32))
    assert nodes.count("Aggregate") == 1, nodes
    assert "Join" not in nodes, nodes

    sc = spark.sparkContext
    sc.setJobGroup("verify-budget", "in-sync verify_sync")
    try:
        assert diff.count() == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("verify-budget")
    assert len(jobs) <= VERIFY_JOB_BUDGET, len(jobs)


def test_bucket_summary_is_metadata_sized(spark, sf_dir):
    src = _customer(spark, sf_dir)
    sig = row_signature([F.col("c_custkey").cast("string"), *SIG])
    summ = bucket_summary(src, "c_custkey", sig, 16)
    assert summ.count() <= 16
    assert set(summ.columns) == {"bucket", "cnt", "sig_sum", "sig_sq_sum"}


def test_null_column_slide_is_detected(spark):
    """concat_ws drops NULL arguments WITH their separator, so ('a', NULL,
    'b') and ('a', 'b', NULL) would render identically without the
    per-column coalesce — a value sliding between columns must diff."""
    schema = "c_custkey bigint, c_name string, c_mktsegment string"
    src = spark.createDataFrame([(1, None, "b"), (2, "x", "y")], schema)
    dst = spark.createDataFrame([(1, "b", None), (2, "x", "y")], schema)
    got = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(src, dst, "c_custkey", SIG, n_buckets=4).collect()
    }
    assert got == {(1, "differs")}


def test_null_key_divergence_is_reported(spark):
    """ADVICE round-4 (medium): knuth_u32(NULL) used to yield a NULL
    bucket, and both the summary join and the phase-2 semi-join are
    null-rejecting — a dst-side mutation or deletion of a NULL-key row
    reported in_sync. NULL keys now hash to the reserved bucket -1 and
    phase 2 pairs them null-safely: the verifier must REPORT."""
    schema = "c_custkey bigint, c_name string, c_mktsegment string"
    src = spark.createDataFrame(
        [(None, "null-row", "SEG"), (2, "x", "y")], schema
    )
    # payload mutation of the NULL-key row
    dst = spark.createDataFrame(
        [(None, "MUTATED", "SEG"), (2, "x", "y")], schema
    )
    got = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(src, dst, "c_custkey", SIG, n_buckets=4).collect()
    }
    assert got == {(None, "differs")}
    # deletion of the NULL-key row
    got = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(
            src, dst.filter(F.col("c_custkey").isNotNull()), "c_custkey", SIG, n_buckets=4
        ).collect()
    }
    assert got == {(None, "missing_in_dst")}
    # and when the NULL-key rows agree, no false positives
    assert verify_sync(src, src, "c_custkey", SIG, n_buckets=4).count() == 0


def test_null_key_verified_in_sample_mode(spark):
    """The sample cut coalesces the NULL-key hash to 0, so NULL keys are
    always inside any NUM>=1 sample — a sampled run must still see a
    NULL-key mutation."""
    schema = "c_custkey bigint, c_name string, c_mktsegment string"
    src = spark.createDataFrame([(None, "a", "s"), (7, "x", "y")], schema)
    dst = spark.createDataFrame([(None, "B", "s"), (7, "x", "y")], schema)
    got = {
        (r["c_custkey"], r["status"])
        for r in verify_sync(
            src, dst, "c_custkey", SIG, n_buckets=4, sample_num=1, sample_den=1000
        ).collect()
    }
    assert got == {(None, "differs")}


def test_column_attribution_names_the_diverged_columns(spark):
    """attribute_columns=True: 'differs' rows carry diff_cols — exactly
    the signature columns whose values disagree; missing rows carry NULL;
    per-column work happens only in phase 2 (pruned rows)."""
    schema = "c_custkey bigint, c_name string, c_mktsegment string"
    src = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s2"), (3, "c", "s3")], schema
    )
    dst = spark.createDataFrame(
        [(1, "a", "MUT"), (2, "X", "Y")], schema  # 1: seg only; 2: both; 3: missing
    )
    got = {
        r["c_custkey"]: (r["status"], sorted(r["diff_cols"]) if r["diff_cols"] is not None else None)
        for r in verify_sync(
            src, dst, "c_custkey", SIG, n_buckets=4, attribute_columns=True
        ).collect()
    }
    assert got == {
        1: ("differs", ["c_mktsegment"]),
        2: ("differs", ["c_mktsegment", "c_name"]),
        3: ("missing_in_dst", None),
    }


def test_column_attribution_null_vs_value_is_attributed(spark):
    """A NULL-vs-value flip within one column must be attributed to that
    column (per-column signatures are null-coalesced independently, so the
    whole-row separator blindness does not apply per column)."""
    schema = "c_custkey bigint, c_name string, c_mktsegment string"
    src = spark.createDataFrame([(1, None, "s")], schema)
    dst = spark.createDataFrame([(1, "x", "s")], schema)
    rows = verify_sync(
        src, dst, "c_custkey", SIG, n_buckets=4, attribute_columns=True
    ).collect()
    assert [(r["status"], r["diff_cols"]) for r in rows] == [("differs", ["c_name"])]


def test_repair_heals_target_exactly_and_idempotently(spark, sf_dir):
    """The verify->repair loop: corrupt the copy (drops, mutations, a
    stray row), derive the plan, apply it — the healed target equals the
    source EXACTLY (verified by the verifier itself: zero diffs), and
    re-applying the same plan changes nothing."""
    from mongoshake_spark.plans.repair import apply_repair, repair_ops

    src = _customer(spark, sf_dir)
    extra = spark.createDataFrame([(999999, "X", "EXTRA")], src.schema)
    dst = (
        src.filter(F.col("c_custkey") % 50 != 3)
        .withColumn(
            "c_name",
            F.when(F.col("c_custkey") % 70 == 5, F.lit("MUT")).otherwise(
                F.col("c_name")
            ),
        )
        .unionByName(extra)
    )
    ops = repair_ops(src, dst, "c_custkey", SIG, n_buckets=32)
    kinds = {r["op"] for r in ops.collect()}
    assert kinds == {"i", "u", "d"}
    healed = apply_repair(dst, ops, "c_custkey")
    assert verify_sync(src, healed, "c_custkey", SIG, n_buckets=32).count() == 0
    # idempotent: same plan again -> same rows
    again = apply_repair(healed, ops, "c_custkey")
    assert verify_sync(src, again, "c_custkey", SIG, n_buckets=32).count() == 0
    # and the plan is diff-sized, not table-sized
    assert ops.count() < src.count() / 5


def test_repair_on_in_sync_pair_is_empty(spark, sf_dir):
    from mongoshake_spark.plans.repair import repair_ops

    src = _customer(spark, sf_dir)
    assert repair_ops(src, src, "c_custkey", SIG, n_buckets=32).count() == 0


def test_repair_heals_null_key_divergence(spark):
    """NULL-key divergence heals as a group rebuild: one NULL 'd' marker
    (null-safe anti join removes the whole group) plus an 'i' per source
    NULL-key row — the layer-up counterpart of verify_sync's NULL-key
    reporting; nothing silently survives or duplicates."""
    from mongoshake_spark.plans.repair import apply_repair, repair_ops

    schema = "c_custkey bigint, c_name string, c_mktsegment string"
    src = spark.createDataFrame(
        [(None, "null-a", "s"), (None, "null-b", "s"), (2, "x", "y")], schema
    )
    dst = spark.createDataFrame(
        [(None, "STALE", "s"), (2, "x", "y")], schema
    )
    ops = repair_ops(src, dst, "c_custkey", SIG, n_buckets=8)
    healed = apply_repair(dst, ops, "c_custkey")
    assert verify_sync(src, healed, "c_custkey", SIG, n_buckets=8).count() == 0
    got = sorted((r["c_name"], r["c_mktsegment"]) for r in healed.collect())
    assert got == [("null-a", "s"), ("null-b", "s"), ("x", "y")]
    # idempotent
    again = apply_repair(healed, ops, "c_custkey")
    assert sorted((r["c_name"], r["c_mktsegment"]) for r in again.collect()) == got
    # in-sync NULL keys produce no ops at all
    assert repair_ops(src, src, "c_custkey", SIG, n_buckets=8).count() == 0


def test_multiset_form_distinguishes_null_from_empty_and_ignores_column_order(spark):
    """NULL and '' are distinct content groups (reserved NULL marker, not
    a coalesce), and the content key is column-order independent
    (name-sorted rendering) — the two defects that would make a
    content-addressed diff cross-pair or fabricate 100% divergence."""
    from mongoshake_spark.plans.repair import apply_multiset_repair, multiset_form

    a = spark.createDataFrame([(1, None), (1, "")], "x bigint, y string")
    g = multiset_form(a)
    assert g.count() == 2  # NULL group and '' group stay separate
    assert g.select("_vkey").distinct().count() == 2

    b = spark.createDataFrame([("v", 7)], "y string, x bigint")  # reordered
    ka = multiset_form(spark.createDataFrame([(7, "v")], "x bigint, y string"))
    kb = multiset_form(b)
    assert ka.select("_vkey").collect() == kb.select("_vkey").collect()

    # and a column-reordered target still heals
    src = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "x bigint, y string")
    dst_reordered = spark.createDataFrame([("a", 1), ("STALE", 9)], "y string, x bigint")
    from mongoshake_spark.plans.repair import repair_ops

    g_src, g_dst = multiset_form(src), multiset_form(
        dst_reordered.select("x", "y")
    )
    sig = [F.col(c).cast("string") for c in g_src.columns if c != "_vkey"]
    ops = repair_ops(g_src, g_dst, "_vkey", sig, n_buckets=8)
    healed = apply_multiset_repair(dst_reordered.select("x", "y"), ops)
    got = sorted((r["x"], r["y"]) for r in healed.collect())
    assert got == [(1, "a"), (1, "a"), (2, "b")]
