"""Key-skew diagnostics: heavy hitters and skew statistics for a column.

North-rule context: the engine HANDLES phash-hotspot skew (single-phase
uniqueness count with map-side combine, AQE skew joins) — this module
DETECTS it, so a pipeline can
flag a shard whose key distribution would melt a downstream join before
that join runs at 10^12 rows.

Scale shape:
- ``top_keys`` — exact top-k by frequency: groupBy(key).count() is one
  shuffle with map-side combine (partial_count), and the global top-k goes
  through TakeOrdered (orderBy+limit fuses to TakeOrderedAndProject — a
  per-partition heap + driver merge of k·P candidates, never a full sort
  shuffle).
- ``skew_stats`` — scalar skew profile in the same aggregation family:
  total rows, distinct keys (HLL), top-1 share, and the p50/p99 frequency
  quantiles of the per-key count distribution (how hot the hot keys are
  relative to the median key).
- ``cms_depth/width`` pytest cross-check lives in tests: count_min_sketch
  estimates upper-bound the exact counts — the sketch is the streaming/
  mergeable variant of this diagnostic when a second pass is too expensive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import KIND_OVER_VOLUME, KIND_UNDER_VOLUME


def top_keys(df: DataFrame, column: str, k: int = 10) -> DataFrame:
    """Exact k most frequent values of ``column`` (count desc, value asc —
    total order, so results are deterministic under ties)."""
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(k)
    )


def skew_stats(df: DataFrame, column: str, exact: bool = False) -> DataFrame:
    """One-row skew profile of ``column``'s key distribution:
    rows, distinct keys, max/median/p99 per-key frequency, top-1 share.
    Two aggregations total (per-key counts → distribution scalars). The
    frequency quantiles default to the approx_percentile sketch (the count
    frame has one row PER DISTINCT KEY — exact percentile over 10^9 keys
    is a sort); ``exact=True`` for fixture-scale oracle parity."""
    counts = (
        df.where(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pq = (
        (lambda q: F.expr(f"percentile(n, {q})"))
        if exact
        else (lambda q: F.expr(f"approx_percentile(n, {q}, 10000)").cast("double"))
    )
    return counts.agg(
        F.sum("n").cast("double").alias("rows"),
        F.count(F.lit(1)).cast("double").alias("distinct_keys"),
        F.max("n").cast("double").alias("max_freq"),
        pq(0.5).alias("p50_freq"),
        pq(0.99).alias("p99_freq"),
    ).select(
        "rows",
        "distinct_keys",
        "max_freq",
        "p50_freq",
        "p99_freq",
        (F.col("max_freq") / F.col("rows")).alias("top1_share"),
        (F.col("p99_freq") / F.col("p50_freq")).alias("p99_to_median"),
    )


def volume_anomaly(
    df: DataFrame,
    partition_col: str,
    k: float = 3.0,
    abs_tol: float = 0.0,
    min_partitions: int = 4,
) -> DataFrame:
    """Per-partition VOLUME anomaly: flag partitions whose row count is
    abnormal for this table's own partition-size distribution — the
    ingestion-gap / double-ingest detector (a date partition with half the
    rows of its neighbors usually means a dead upstream shard; one with 2×
    usually means a replayed ingest), judged BEFORE any content rule runs.

    Same robust envelope as anomaly_metric_history (operators/regression.py),
    applied across partitions instead of across runs:

        center = median(partition row count)
        MAD    = median(|count − center|)
        flag when |count − center| > max(abs_tol, k · 1.4826 · MAD)

    MAD = 0 (perfectly uniform partitions) means any deviation beyond
    ``abs_tol`` flags; with fewer than ``min_partitions`` partitions the
    distribution has no meaningful center and the result is EMPTY by
    contract (callers wanting loudness at tiny partition counts should
    assert on the frame they already have).

    Scale shape: one groupBy(partition) count — a single shuffle with
    map-side combine whose output is O(#partitions) rows (~10^5-10^6 at
    10^12 rows: driver-trivial); the median/MAD scalars reduce that tiny
    frame twice more, and the verdict is a broadcast of ONE stats row
    joined back (cross join of a 1-row frame — Catalyst broadcasts it).
    NULL partition values count as a real partition key ("__null__"): an
    unpartitioned backfill landing as NULL is exactly the kind of volume
    event this exists to catch.

    Output: (partition, n_rows, center, spread, bound, score, kind) with
    kind ∈ {over_volume, under_volume}; score = |n − center|/(1.4826·MAD),
    NULL when MAD = 0.
    """
    counts = df.groupBy(
        F.coalesce(F.col(partition_col).cast("string"), F.lit("__null__")).alias(
            "partition"
        )
    ).agg(F.count(F.lit(1)).cast("double").alias("n_rows"))
    return volume_anomaly_from_counts(
        counts, k=k, abs_tol=abs_tol, min_partitions=min_partitions
    )


def volume_anomaly_from_counts(
    counts: DataFrame,
    k: float = 3.0,
    abs_tol: float = 0.0,
    min_partitions: int = 4,
) -> DataFrame:
    """The MAD-envelope core of :func:`volume_anomaly`, over an already-
    aggregated ``(partition string, n_rows double)`` frame — so callers that
    ALREADY have per-unit counts (persisted streaming micro-batch partials,
    a manifest's per-partition row counts) get the same verdict without
    re-scanning any data."""
    stats = counts.agg(
        F.expr("percentile(n_rows, 0.5)").alias("center"),
        F.count(F.lit(1)).alias("n_partitions"),
    )
    spread = (
        counts.join(stats)
        .agg(F.expr("percentile(abs(n_rows - center), 0.5)").alias("spread"))
    )
    full = counts.join(stats).join(spread)

    sigma = F.lit(1.4826) * F.col("spread")
    bound = F.greatest(F.lit(float(abs_tol)), F.lit(float(k)) * sigma)
    dev = F.abs(F.col("n_rows") - F.col("center"))
    kind = F.when(
        F.col("n_partitions") < F.lit(int(min_partitions)), F.lit(None)
    ).when(dev > bound, F.when(
        F.col("n_rows") > F.col("center"), F.lit(KIND_OVER_VOLUME)
    ).otherwise(F.lit(KIND_UNDER_VOLUME)))
    return (
        full.withColumn("kind", kind)
        .where(F.col("kind").isNotNull())
        .select(
            "partition",
            "n_rows",
            "center",
            "spread",
            bound.alias("bound"),
            F.when(sigma > 0, dev / sigma).alias("score"),
            "kind",
        )
    )


def _concentration_scan(df: DataFrame, column: str, when: str | None):
    """ONE aggregation over the per-value counts frame: total rows
    (in-scope, NULLs included), non-NULL scoped rows, distinct non-NULL
    values, the hottest value's count, the exact integer sum of squared
    counts (decimal(18)² → decimal(38) — never floats, so the HHI is
    reproducible bit-for-bit on any engine), and the top value itself
    (ties broken value-ASC via a min_by struct key, total order). The
    counts frame is one shuffle with map-side combine — a 10^9-distinct
    column costs O(distinct) rows streaming through a 1-row aggregate,
    never a driver-side array."""
    scoped = df.where(F.expr(when)) if when else df
    counts = (
        scoped.groupBy(F.col(column).cast("string").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _concentration_scan_counts(counts)


def _concentration_scan_counts(counts: DataFrame):
    """The 1-row reduction of an already-built ``(v string, n bigint)``
    per-value counts frame — the SINGLE merge point shared by the
    full-scan and merged-partials paths, so the verdict arithmetic can
    never drift between them (the benford _merge_digit_partials lesson)."""
    ok = F.col("v").isNotNull()
    nd = F.col("n").cast("decimal(18,0)")
    row = counts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("rows"),
        F.coalesce(F.sum(F.when(ok, F.col("n")).otherwise(0)), F.lit(0)).alias(
            "scoped"
        ),
        F.coalesce(F.sum(F.when(ok, 1).otherwise(0)), F.lit(0)).alias(
            "distinct_values"
        ),
        F.max(F.when(ok, F.col("n"))).alias("max_n"),
        F.sum(F.when(ok, nd * nd)).alias("sum_sq"),
        F.min_by(
            F.col("v"),
            F.when(ok, F.struct((-F.col("n")).alias("a"), F.col("v").alias("b"))),
        ).alias("top_value"),
    ).collect()[0]
    sum_sq = int(row["sum_sq"]) if row["sum_sq"] is not None else 0
    return (
        int(row["rows"]),
        int(row["scoped"]),
        int(row["distinct_values"]),
        int(row["max_n"]) if row["max_n"] is not None else 0,
        sum_sq,
        row["top_value"],
    )


def _micro(num: int, den: int) -> int:
    """round-half-up of 1e6·num/den in pure integer arithmetic — the
    6-decimal share convention every oracle-compared fraction in this repo
    uses, with zero float-summation-order risk."""
    return (2 * num * 1_000_000 + den) // (2 * den)


def micro_share_expr(num: str, den: str):
    """Round-half-up micro-unit share ``num/den`` as one integer ``div``
    SQL expression — the column-algebra twin of :func:`_micro`. Decimal
    operands so a 10^12-row group's numerator never overflows; the
    quotient always fits a long. The SINGLE source of truth for share
    arithmetic in frames: the grouped batch path and the streaming
    windowed rule both call this, so a precision fix can never drift
    between batch and stream."""
    return F.expr(
        f"(2 * CAST({num} AS DECIMAL(20,0)) * 1000000 + {den}) "
        f"div (2 * {den})"
    )


def micro_hhi_expr(ssq: str, den: str):
    """Round-half-up micro-unit HHI (``ssq/den²``) as one integer ``div``
    SQL expression — see :func:`micro_share_expr` for the sharing
    contract. ``ssq`` must already be a decimal sum of squared counts."""
    return F.expr(
        f"(2 * {ssq} * 1000000 "
        f" + CAST({den} AS DECIMAL(19,0)) * CAST({den} AS DECIMAL(19,0))) "
        f"div (2 * CAST({den} AS DECIMAL(19,0)) * CAST({den} AS DECIMAL(19,0)))"
    )


def concentration_report(
    df: DataFrame, column: str, when: str | None = None
) -> DataFrame:
    """One-row value-concentration profile of ``column``: top value and
    its corpus share, plus the Herfindahl–Hirschman index of value shares
    (HHI = Σ share² — 1.0 means one value IS the column, 1/distinct means
    uniform). The boilerplate-dominance detector for caption/text corpora:
    a scrape where 40% of captions read 'thumbnail' passes every row rule
    and null gate but jumps out here. Shares are exact integer micro-units
    rounded half-up then divided by 1e6, so Spark and any SQL oracle agree
    bit-for-bit. NULLs are out of scope (NotNullRule owns nullness)."""
    rows, scoped, distinct, max_n, sum_sq, top = _concentration_scan(
        df, column, when
    )
    top_share = _micro(max_n, scoped) / 1e6 if scoped else None
    hhi = _micro(sum_sq, scoped * scoped) / 1e6 if scoped else None
    return df.sparkSession.createDataFrame(
        [(column, rows, scoped, distinct, top, top_share, hhi)],
        "column string, rows bigint, n_scoped bigint, distinct_values bigint, "
        "top_value string, top_share double, hhi double",
    )


def concentration_by_group(
    df: DataFrame,
    column: str,
    group_by: tuple,
    when: str | None = None,
) -> DataFrame:
    """Per-group value-concentration profile: one row per group with its
    in-scope count, distinct values, top value (value-ASC tie-break), and
    the micro-unit-exact top_share / hhi — :func:`concentration_report`
    evaluated within every ``group_by`` group at once. Pure frame
    algebra, never a collect: per-(group, value) counts (one shuffle,
    map-side combine) → per-group stats (second keyed aggregation) →
    integer `div` micro-unit shares, so 10^8 groups cost shuffle rows,
    not driver memory, and the arithmetic is bit-identical to the global
    path's Python integers. Groups with zero in-scope values carry NULL
    top/share/hhi (callers gate on n_scoped)."""
    scoped = df.where(F.expr(when)) if when else df
    counts = scoped.groupBy(
        *[F.col(g) for g in group_by],
        F.col(column).cast("string").alias("_cv"),
    ).agg(F.count(F.lit(1)).alias("_cn"))
    ok = F.col("_cv").isNotNull()
    nd = F.col("_cn").cast("decimal(18,0)")
    stats = counts.groupBy(*group_by).agg(
        F.coalesce(
            F.sum(F.when(ok, F.col("_cn")).otherwise(0)), F.lit(0)
        ).alias("n_scoped"),
        F.coalesce(F.sum(F.when(ok, 1).otherwise(0)), F.lit(0)).alias(
            "distinct_values"
        ),
        F.max(F.when(ok, F.col("_cn"))).alias("_mx"),
        F.sum(F.when(ok, nd * nd)).alias("_ssq"),
        F.min_by(
            F.col("_cv"),
            F.when(
                ok, F.struct((-F.col("_cn")).alias("a"), F.col("_cv").alias("b"))
            ),
        ).alias("top_value"),
    )
    share_micro = micro_share_expr("_mx", "n_scoped")
    hhi_micro = micro_hhi_expr("_ssq", "n_scoped")
    gate = F.col("n_scoped") > 0
    return stats.select(
        *group_by,
        "n_scoped",
        "distinct_values",
        "top_value",
        F.when(gate, share_micro / F.lit(1e6)).alias("top_share"),
        F.when(gate, hhi_micro / F.lit(1e6)).alias("hhi"),
        F.col("_mx").alias("top_count"),
    )


def concentration_rule_results(df: DataFrame, rule, run_id: str):
    """Verdict for a ConcentrationRule (finalize-stage spec gate): one
    violation row per exceeded bound (top_share / hhi), an 'unmeasurable'
    violation when fewer than ``min_rows`` non-NULL values are in scope
    (a dominance claim on data that cannot exhibit one should be loud —
    the BenfordRule degenerate contract), and the profile as metric rows
    either way. With ``rule.group_by`` the bounds hold PER GROUP and the
    violation frame is built distributively (no collect, no metric rows —
    see ConcentrationRule's docstring)."""
    from ..errors import SchemaError

    if rule.max_top_share is None and rule.max_hhi is None:
        # public operator API, callable without compile_spec
        raise SchemaError(
            f"rule {rule.id!r}: concentration rule needs max_top_share "
            "and/or max_hhi"
        )
    if rule.min_rows < 1:
        # mirror the compile lint: min_rows=0 would let a zero-scope scan
        # reach the bound comparison with NULL shares (None > float)
        raise SchemaError(
            f"rule {rule.id!r}: min_rows must be >= 1, got {rule.min_rows}"
        )
    if rule.group_by:
        return _concentration_grouped(df, rule, run_id)
    scan = _concentration_scan(df, rule.column, rule.when or None)
    return _concentration_verdict(df.sparkSession, scan, rule, run_id)


def concentration_partials(
    df: DataFrame, rule, partition_col: str = "partition_id"
) -> DataFrame:
    """MERGEABLE per-partition value-count partials for an incremental
    ConcentrationRule: the rule's ``when`` scope applied first, then one
    row per (partition, non-NULL value) with its count — what the run
    lifecycle persists under the checkpoint per validated batch (the
    benford_digit_partials pattern, keyed by value instead of digit).
    Counts merge by plain summation. Size bound: O(partitions × distinct
    values) rows — the rule targets enumerable columns (the same ones
    you'd bound), and compile refuses incremental on group_by."""
    scoped = df.where(F.expr(rule.when)) if rule.when else df
    return (
        scoped.where(F.col(rule.column).isNotNull())
        .groupBy(
            F.col(partition_col).cast("int").alias("partition_id"),
            F.col(rule.column).cast("string").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: explicit reload schema of persisted value-count partials
#: (partials.read_partials)
CONCENTRATION_PARTIALS_DDL = "v string, n bigint, partition_id int"


def concentration_rule_results_from_partials(
    partials: DataFrame, rule, run_id: str
):
    """The incremental EOF pass for a ConcentrationRule: merge accumulated
    value-count partials (one groupBy summation — no table rescan) and
    feed the merged counts through the IDENTICAL reduction + verdict the
    full scan uses (`_concentration_scan_counts`), so both paths are
    bit-identical by construction."""
    from ..errors import SchemaError

    if rule.max_top_share is None and rule.max_hhi is None:
        raise SchemaError(
            f"rule {rule.id!r}: concentration rule needs max_top_share "
            "and/or max_hhi"
        )
    if rule.min_rows < 1:
        raise SchemaError(
            f"rule {rule.id!r}: min_rows must be >= 1, got {rule.min_rows}"
        )
    counts = partials.groupBy("v").agg(F.sum("n").alias("n"))
    scan = _concentration_scan_counts(counts)
    return _concentration_verdict(partials.sparkSession, scan, rule, run_id)


def _concentration_verdict(spark, scan, rule, run_id: str):
    """Shared verdict builder: full-scan and merged-partials paths feed the
    same integer counts into the same micro-unit arithmetic."""
    from ..errors import KIND_CONCENTRATION

    rows, scoped, distinct, max_n, sum_sq, top = scan
    top_share = _micro(max_n, scoped) / 1e6 if scoped else None
    hhi = _micro(sum_sq, scoped * scoped) / 1e6 if scoped else None

    viol_rows = []
    if scoped < rule.min_rows:
        bounds = []
        if rule.max_top_share is not None:
            bounds.append(f"top_share <= {rule.max_top_share}")
        if rule.max_hhi is not None:
            bounds.append(f"hhi <= {rule.max_hhi}")
        viol_rows.append(
            (run_id, None, rule.id, None, rule.column, ", ".join(bounds),
             f"unmeasurable: {scoped} in-scope values < min_rows="
             f"{rule.min_rows}", KIND_CONCENTRATION)
        )
    else:
        if rule.max_top_share is not None and top_share > rule.max_top_share:
            viol_rows.append(
                (run_id, None, rule.id, None, rule.column,
                 f"top_share <= {rule.max_top_share}",
                 f"top value '{top}' share={top_share:.6f} "
                 f"({max_n} of {scoped})", KIND_CONCENTRATION)
            )
        if rule.max_hhi is not None and hhi > rule.max_hhi:
            viol_rows.append(
                (run_id, None, rule.id, None, rule.column,
                 f"hhi <= {rule.max_hhi}",
                 f"hhi={hhi:.6f} over {distinct} distinct values",
                 KIND_CONCENTRATION)
            )

    ddl_v = (
        "run_id string, partition_id int, rule_id string, image_id string, "
        "column string, expected string, actual string, kind string"
    )
    ddl_m = (
        "run_id string, partition_id int, rule_id string, metric string, "
        "value double, value_str string"
    )
    metrics = spark.createDataFrame(
        [
            (run_id, None, rule.id, "concentration_top_share", top_share, None),
            (run_id, None, rule.id, "concentration_hhi", hhi, None),
            (run_id, None, rule.id, "concentration_distinct",
             float(distinct), None),
            (run_id, None, rule.id, "concentration_n_scoped",
             float(scoped), None),
            (run_id, None, rule.id, "concentration_top_value", None, top),
        ],
        ddl_m,
    )
    return spark.createDataFrame(viol_rows, ddl_v), metrics


def _concentration_grouped(df: DataFrame, rule, run_id: str):
    """Grouped ConcentrationRule verdict: violation rows straight from the
    per-group stats frame — three filtered projections unioned, zero
    driver round-trips. The group key is rendered into image_id with the
    same NULL-safe encoding grouped CountRule uses."""
    from ..errors import KIND_CONCENTRATION
    from .agg_rules import _key_expr

    stats = concentration_by_group(
        df, rule.column, tuple(rule.group_by), rule.when or None
    )
    key = _key_expr(tuple(rule.group_by))

    def head(expected):
        return [
            F.lit(run_id).alias("run_id"),
            F.lit(None).cast("int").alias("partition_id"),
            F.lit(rule.id).alias("rule_id"),
            key.alias("image_id"),
            F.lit(rule.column).alias("column"),
            F.lit(expected).alias("expected"),
        ]

    kind = F.lit(KIND_CONCENTRATION).alias("kind")
    bounds = []
    if rule.max_top_share is not None:
        bounds.append(f"top_share <= {rule.max_top_share}")
    if rule.max_hhi is not None:
        bounds.append(f"hhi <= {rule.max_hhi}")

    measurable = F.col("n_scoped") >= rule.min_rows
    pieces = [
        stats.where(~measurable).select(
            *head(", ".join(bounds)),
            F.concat(
                F.lit("unmeasurable: "),
                F.col("n_scoped").cast("string"),
                F.lit(f" in-scope values < min_rows={rule.min_rows}"),
            ).alias("actual"),
            kind,
        )
    ]
    if rule.max_top_share is not None:
        pieces.append(
            stats.where(
                measurable & (F.col("top_share") > rule.max_top_share)
            ).select(
                *head(f"top_share <= {rule.max_top_share}"),
                F.concat(
                    F.lit("top value '"),
                    F.col("top_value"),
                    F.lit("' share="),
                    F.format_string("%.6f", F.col("top_share")),
                    F.lit(" ("),
                    F.col("top_count").cast("string"),
                    F.lit(" of "),
                    F.col("n_scoped").cast("string"),
                    F.lit(")"),
                ).alias("actual"),
                kind,
            )
        )
    if rule.max_hhi is not None:
        pieces.append(
            stats.where(measurable & (F.col("hhi") > rule.max_hhi)).select(
                *head(f"hhi <= {rule.max_hhi}"),
                F.concat(
                    F.lit("hhi="),
                    F.format_string("%.6f", F.col("hhi")),
                    F.lit(" over "),
                    F.col("distinct_values").cast("string"),
                    F.lit(" distinct values"),
                ).alias("actual"),
                kind,
            )
        )
    from functools import reduce as _reduce

    viol = _reduce(lambda a, b: a.unionByName(b), pieces)
    spark = df.sparkSession
    metrics = spark.createDataFrame(
        [],
        "run_id string, partition_id int, rule_id string, metric string, "
        "value double, value_str string",
    )
    return viol, metrics
