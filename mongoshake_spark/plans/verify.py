"""Post-sync data verification — the engine analog of the reference's
``scripts/comparison.py`` (the tool MongoShake users run after every
migration: database/collection counts, per-collection record counts, and
per-document comparison in ``all``/``sample``/``no`` modes).

The reference tool compares documents by looping ``$sample`` batches on
the source and issuing a ``find_one(_id)`` round trip per document
(comparison.py:148-180) — O(N) driver-side lookups, unusable at 100 TB.
The Spark-first re-expression is a TWO-PHASE bucketed comparison:

1. **Bucket summaries** (ONE aggregation over the side-tagged union of
   both sides, map-side partial combine, one shuffle): per hash bucket of
   the key and per side, ``(row count, sum of row signatures, sum of
   their squares)``. The summary is ``n_buckets`` rows — metadata —
   regardless of data size; the buckets whose two sides disagree are the
   diverged ones.
2. **Key-level diff, only inside diverged buckets**: both sides filter to
   the mismatched buckets (an ``isin`` on the tiny bucket list — for an
   in-sync corpus this prunes EVERYTHING and phase 2 touches zero rows),
   then a full outer join on the key classifies each divergent key as
   ``missing_in_dst`` / ``missing_in_src`` / ``differs``.

The bucket ids are dialect-portable — the Knuth multiplicative hash
(functions/packing), reproducible in any engine with 64-bit integers — and
so is the sample cut. The row signature is engine-internal: ``xxhash64``
(codegen'd, one call per row) over a canonical null-coalesced column
rendering, reduced mod ``texthash.MOD`` so the moment sums stay exact
BIGINT arithmetic. No oracle replays a signature: the DuckDB oracles of
``verify_sync_diff`` and ``repair_plan`` classify keys by comparing the
columns directly, a hash-free ground truth.

``sample`` mode is the deterministic ``u(key) < rate`` subset on BOTH
sides (same Knuth hash as functions/packing.sample_strata), so a sampled
verification is reproducible and its verdict is a strict subset of the
full run's — no ``$sample`` randomness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongoshake_spark.functions.packing import HASH_MOD, knuth_u32
from mongoshake_spark.functions.texthash import MOD

#: unit separator — cannot occur in the fixture values; keeps ("ab","c")
#: and ("a","bc") from rendering identically
_SEP = "\x1f"


def row_signature(cols: list[Column | str]) -> Column:
    """Row signature in ``[0, MOD)``: ``pmod(xxhash64(rendering), MOD)`` of
    the canonical ``\\x1f``-joined rendering of the given columns. The
    hash is Spark's codegen'd ``xxhash64``, one call per row; it is
    engine-internal — no oracle replays it (module doc). Callers
    canonicalize lossy types FIRST (e.g. doubles to integer cents), so
    equal values render equally on both sides.

    Each column is null-coalesced to '' BEFORE joining: ``concat_ws``
    silently DROPS null arguments together with their separator, so
    ``('a', NULL, 'b')`` and ``('a', 'b', NULL)`` would otherwise render
    identically and a value sliding between columns would go undetected.
    With the coalesce, separators are always present and only the
    NULL-vs-empty-string flip within one column remains blind — the same
    blind spot the reference tool's dict equality has for missing-vs-null
    fields."""
    rendered = F.concat_ws(
        _SEP,
        *[
            F.coalesce(F.col(c) if isinstance(c, str) else c, F.lit(""))
            for c in cols
        ],
    )
    return F.pmod(F.xxhash64(rendered), F.lit(MOD))


def bucket_of(key_col: Column | str, n_buckets: int) -> Column:
    """Portable bucket id: ``knuth_u32(key) % n_buckets`` — reproducible
    in any engine with 64-bit integers (no engine-private hash).

    NULL keys hash to the reserved bucket ``-1`` rather than propagating
    NULL: a NULL bucket id silently drops the row from BOTH phases (a
    grouping key of NULL never equals a bucket id, and the phase-2
    semi-join's ``_b == bucket`` is null-rejecting too), so a dst-side
    mutation of a NULL-key row would report in_sync — the one failure
    mode a verifier must not have."""
    return F.coalesce(
        (knuth_u32(key_col) % F.lit(int(n_buckets))).cast("int"), F.lit(-1)
    )


def _moments(on: Column, names: tuple[str, str, str]) -> list[Column]:
    """``count``, ``sum`` and ``sum of squares mod MOD`` of ``_sig`` over
    the rows where ``on`` holds — 0, not NULL, when there are none."""
    sig = F.col("_sig")
    return [
        F.count(F.when(on, 1)).alias(names[0]),
        F.coalesce(F.sum(F.when(on, sig)), F.lit(0)).alias(names[1]),
        F.coalesce(F.sum(F.when(on, sig * sig % F.lit(MOD))), F.lit(0)).alias(names[2]),
    ]


def _tagged(df: DataFrame, key_col: str, sig: Column, n_buckets: int, is_src: bool) -> DataFrame:
    """``(bucket, _sig, _is_src)`` per row of one side."""
    return df.select(
        bucket_of(key_col, n_buckets).alias("bucket"),
        sig.alias("_sig"),
        F.lit(is_src).alias("_is_src"),
    )


def bucket_summary(
    df: DataFrame, key_col: str, sig: Column, n_buckets: int = 1024
) -> DataFrame:
    """Phase 1 for one side: ``(bucket, cnt, sig_sum, sig_sq_sum)`` per
    bucket (``diverged_buckets`` computes both sides in one aggregate).

    TWO moments, as cheap defence: a same-bucket payload swap changes the
    rows' signatures, and with a non-linear hash a plain sum that stays
    equal is a coincidence of the hash — but the second moment costs one
    multiply per row and makes an equal ``(count, sum)`` from an unequal
    multiset need a second, independent coincidence (pinned by
    tests/test_verify.py::test_payload_swap_within_bucket_is_detected).
    Each addend is below MOD (1e9+7), so BIGINT overflow needs ~9e9 rows
    in ONE bucket — size ``n_buckets`` accordingly, the same sizing
    exercise as any aggregate."""
    return (
        _tagged(df, key_col, sig, n_buckets, True)
        .groupBy("bucket")
        .agg(*_moments(F.lit(True), ("cnt", "sig_sum", "sig_sq_sum")))
    )


def diverged_buckets(
    src: DataFrame, dst: DataFrame, key_col: str, sig: Column, n_buckets: int = 1024
) -> DataFrame:
    """Buckets whose (count, signature sum, signature square sum) differ
    between the two sides: ``(bucket, src_cnt, dst_cnt, src_sum, dst_sum,
    src_sq, dst_sq)``. Empty = in sync (up to the signature's collision
    bound).

    ONE aggregate over the side-tagged union of both sides — one shuffle,
    no join. A bucket present on one side only has zero moments on the
    other, so it diverges and phase 2 reports each of its rows."""
    is_src = F.col("_is_src")
    return (
        _tagged(src, key_col, sig, n_buckets, True)
        .unionAll(_tagged(dst, key_col, sig, n_buckets, False))
        .groupBy("bucket")
        .agg(
            *_moments(is_src, ("src_cnt", "src_sum", "src_sq")),
            *_moments(~is_src, ("dst_cnt", "dst_sum", "dst_sq")),
        )
        .filter(
            (F.col("src_cnt") != F.col("dst_cnt"))
            | (F.col("src_sum") != F.col("dst_sum"))
            | (F.col("src_sq") != F.col("dst_sq"))
        )
        .select("bucket", "src_cnt", "dst_cnt", "src_sum", "dst_sum", "src_sq", "dst_sq")
    )


def verify_sync(
    src: DataFrame,
    dst: DataFrame,
    key_col: str,
    sig_cols: list[Column | str],
    n_buckets: int = 1024,
    sample_num: int | None = None,
    sample_den: int = 1,
    attribute_columns: bool = False,
    sig_col_names: list[str] | None = None,
) -> DataFrame:
    """The full two-phase comparison (module doc): returns one row per
    DIVERGENT key — ``(key_col, status)`` with status in
    ``('missing_in_dst', 'missing_in_src', 'differs')`` — empty when in
    sync. ``sample_num/sample_den`` enable the deterministic sample mode:
    only keys with ``u32(key) * den < num * 2^32`` are verified (both
    sides apply the identical cut, so sampling can never fabricate a
    missing-row diff).

    ``attribute_columns=True`` adds ``diff_cols`` — for ``differs`` rows,
    the NAMES of the signature columns whose values disagree (NULL for
    missing rows); the fix-up tool then knows what to patch without a
    second pass. Per-column signatures are computed ONLY in phase 2, on
    rows already pruned to the diverged buckets, so an in-sync corpus
    pays nothing for the attribution. Names come from ``sig_col_names``
    when given, else the string entries of ``sig_cols`` (Column entries
    fall back to ``col_<i>``).

    Scale shape: phase 1 is one aggregate over both sides (one shuffle);
    phase 2 filters both sides to the diverged buckets — broadcast of a
    metadata-sized bucket list, pruning everything when in sync — and
    joins only those rows on the key. The reference tool's per-document
    ``find_one`` loop (comparison.py:166-171) is exactly what this
    replaces.

    NULL keys are verified, not skipped: they hash to the reserved bucket
    -1 (phase 1) and are paired null-safely in phase 2. Several NULL-key
    rows on a side compare as one cross-paired group — a payload change
    among them reports ``differs`` rows rather than a precise per-row
    attribution (there is no key to attribute BY).

    The key column is prepended to the signature rendering: a bucket's
    ``sig_sum`` is permutation-invariant, so WITHOUT the key two rows
    swapping their payloads between keys of the same bucket would leave
    the summary unchanged and phase 1 would miss the divergence; keyed
    signatures make every such swap visible."""
    sig = row_signature([F.col(key_col).cast("string"), *sig_cols])
    if sample_num is not None:
        # coalesce the hash so NULL keys are ALWAYS in the sample (a NULL
        # predicate would silently exclude them from a sampled run)
        cut = (
            F.coalesce(knuth_u32(key_col), F.lit(0)) * F.lit(int(sample_den))
            < F.lit(int(sample_num)) * F.lit(HASH_MOD)
        )
        src = src.filter(cut)
        dst = dst.filter(cut)
    bad = diverged_buckets(src, dst, key_col, sig, n_buckets).select("bucket")
    if attribute_columns:
        if sig_col_names is None:
            sig_col_names = [
                c if isinstance(c, str) else f"col_{i}"
                for i, c in enumerate(sig_cols)
            ]
        per_col = F.array(
            *[
                F.xxhash64(
                    F.coalesce(
                        (F.col(c) if isinstance(c, str) else c).cast("string"),
                        F.lit(""),
                    )
                )
                for c in sig_cols
            ]
        )
        src_extra = [per_col.alias("_src_cs")]
        dst_extra = [per_col.alias("_dst_cs")]
    else:
        src_extra = dst_extra = []
    sj = (
        src.select(F.col(key_col).alias("_src_key"), bucket_of(key_col, n_buckets).alias("_b"), sig.alias("src_sig"), *src_extra)
        .join(F.broadcast(bad), F.col("_b") == F.col("bucket"), "left_semi")
    )
    dj = (
        dst.select(F.col(key_col).alias("_dst_key"), bucket_of(key_col, n_buckets).alias("_b"), sig.alias("dst_sig"), *dst_extra)
        .join(F.broadcast(bad), F.col("_b") == F.col("bucket"), "left_semi")
    )
    # null-safe key equality: plain `==` is null-rejecting, so a NULL-key
    # row surviving phase 2 (bucket -1 diverged) would show up as BOTH
    # missing_in_dst and missing_in_src even when only its payload changed.
    # eqNullSafe pairs the NULL-key rows; with several NULL-key rows per
    # side they compare as one group (cross-paired) — divergence is still
    # reported, just at group granularity, which the docstring states.
    full = sj.drop("_b").join(
        dj.drop("_b"), F.col("_src_key").eqNullSafe(F.col("_dst_key")), "full_outer"
    )
    status = (
        F.when(F.col("dst_sig").isNull(), F.lit("missing_in_dst"))
        .when(F.col("src_sig").isNull(), F.lit("missing_in_src"))
        .when(F.col("src_sig") != F.col("dst_sig"), F.lit("differs"))
    )
    out_cols = [
        F.coalesce(F.col("_src_key"), F.col("_dst_key")).alias(key_col),
        F.col("status"),
    ]
    if attribute_columns:
        diff_cols = F.when(
            F.col("status") == "differs",
            F.array_compact(
                F.array(
                    *[
                        F.when(
                            ~F.col("_src_cs")[i].eqNullSafe(F.col("_dst_cs")[i]),
                            F.lit(name),
                        )
                        for i, name in enumerate(sig_col_names)
                    ]
                )
            ),
        )
        out_cols.append(diff_cols.alias("diff_cols"))
    return (
        full.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*out_cols)
    )
