"""Mergeable partials: the one contract of the incremental rule families.

With ``incremental=True``, ColumnStatsRule, sweep DriftRule, BenfordRule,
ConcentrationRule and EmbeddingHealthRule turn each validated batch into a small
frame keyed by ``partition_id`` whose rows merge by aggregation. Merging the
partials of any split of the partitions gives the partial of the whole table:
exactly for counts, extrema, sums and histograms, within the sketch error for HLL
(``lg_config_k``) and KLL (``kll_k``). A resumed run pays for its new partitions
only, and finalize merges O(#partitions) rows instead of rescanning the table.

``FAMILIES`` declares each family once. The run lifecycle loops over it to build,
keep and persist each batch's partials, to reload them on resume and to merge them
at finalize; the streaming twins persist one partial per micro-batch through the
same writer.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import agg_rules, digits, drift as drift_ops, similarity, skew
from .spec import (
    BenfordRule, ColumnStatsRule, ConcentrationRule, DriftRule, EmbeddingHealthRule,
)


def write_partitioned(frame: DataFrame, path: str) -> None:
    """Persist a frame keyed by partition_id. Dynamic overwrite is a per-write
    option: re-validating a partition (or replaying a micro-batch) replaces its
    rows instead of appending duplicates, and the caller's session is untouched."""
    frame.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("partition_id").parquet(path)


def read_partials(spark: SparkSession, path: str, schema) -> DataFrame:
    """Reload persisted partials. Pass an explicit schema: a batch with no in-scope
    rows writes a directory without part files, which schema inference refuses —
    the checkpoint would not resume. ``schema=None`` infers, for a caller that
    cannot know the partial's dtypes."""
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


@dataclass(frozen=True)
class Family:
    """Callables take the run and the rules of one partials frame:
    ``partial(run, rules, batch_df)`` → frame keyed by partition_id,
    ``schema(run, rules)`` → its reload schema,
    ``result(run, rules, partials)`` → (violations or None, metrics)."""

    rule_type: type
    sink: str  # checkpoint sub-directory
    partial: Callable
    schema: Callable
    result: Callable
    shared: bool = False  # one frame for all of the family's rules


FAMILIES = (
    Family(
        ColumnStatsRule, "stats_partials",
        partial=lambda run, rs, df: agg_rules.column_stats_partials(df, rs, run.run_id),
        # columns follow the rules and input dtypes: the partial over the run's
        # own input, analysed on the driver (no job)
        schema=lambda run, rs: agg_rules.column_stats_partials(
            run.df, rs, run.run_id
        ).schema,
        result=lambda run, rs, p: (
            None, agg_rules.column_stats_from_partials(p, rs, run.run_id)
        ),
        shared=True,
    ),
    Family(
        DriftRule, "drift_partials",
        # bins freeze on the first batch (persisted: a resumed run bins alike)
        partial=lambda run, rs, df: drift_ops.sweep_histogram_partials(
            df, *rs, run._frozen_edges(*rs, df)
        ),
        schema=lambda run, rs: "_g string, _bin int, n bigint, partition_id int",
        result=lambda run, rs, p: drift_ops.drift_sweep_from_partials(
            run.spark, p, *rs, run.run_id, run._frozen_edges(*rs, None)
        )[:2],
    ),
    Family(
        BenfordRule, "benford_partials",
        partial=lambda run, rs, df: digits.benford_rule_partials(df, *rs),
        schema=lambda run, rs: digits.BENFORD_PARTIALS_DDL,
        result=lambda run, rs, p: digits.benford_rule_results_from_partials(
            p, *rs, run.run_id
        ),
    ),
    Family(
        ConcentrationRule, "concentration_partials",
        partial=lambda run, rs, df: skew.concentration_partials(df, *rs),
        schema=lambda run, rs: skew.CONCENTRATION_PARTIALS_DDL,
        result=lambda run, rs, p: skew.concentration_rule_results_from_partials(
            p, *rs, run.run_id
        ),
    ),
    Family(
        EmbeddingHealthRule, "health_partials",
        partial=lambda run, rs, df: similarity.embedding_health_partials(df, *rs),
        schema=lambda run, rs: similarity.health_partials_ddl(rs[0].dim),
        result=lambda run, rs, p: (
            similarity.embedding_health_rule_results_from_partials(p, *rs, run.run_id)
        ),
    ),
)


def partial_units(program) -> list[tuple[Family, str, tuple]]:
    """(family, checkpoint key, rules) per partials frame of a compiled program:
    one for all incremental stats rules, one per rule of the other families."""
    inc = [r for r in program.spec.rules if getattr(r, "incremental", False)]
    units = []
    for fam in FAMILIES:
        rules = tuple(r for r in inc if isinstance(r, fam.rule_type))
        if fam.shared and rules:
            units.append((fam, fam.sink, rules))
        elif not fam.shared:
            units += [(fam, f"{fam.sink}/{r.id}", (r,)) for r in rules]
    return units
