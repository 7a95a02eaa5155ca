"""The mergeable-partials contract, tested once over all five incremental
families (partials.FAMILIES): merging the partials of a random split of
the partitions gives the same result as the partial of the whole table,
and as a one-shot batched run at a random batch size.

Counts, min/max, moments, digit histograms, value counts, sweep
histograms and matrix sums must match bit for bit. Every numeric input is
an integer or a half, so each double sum is exact in any order: the test
pins the merge logic, not float associativity. HLL distinct counts and KLL
quantiles must stay within the error their rule documents."""

import math
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import pytest
from hypothesis import given, seed, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.testing import assertDataFrameEqual

from mdvalidate_spark.run import ValidationRun
from mdvalidate_spark.spec import (
    BenfordRule,
    ColumnStatsRule,
    ConcentrationRule,
    DriftRule,
    EmbeddingHealthRule,
    Spec,
)

N_PARTS = 4
ROWS = 480
# documented sketch error (ColumnStatsRule): lg_config_k=12 → ~1.6% HLL
# stderr (3 sigma allowed here); kll_k=200 → ~1.65% normalized rank error
HLL_TOL = 3 * 1.04 / math.sqrt(2**12)
KLL_RANK_TOL = 0.0165

STATS = (
    ColumnStatsRule(
        "st_w", column="w", incremental=True, moments=True,
        quantiles=(0.5, 0.9),
    ),
    ColumnStatsRule("st_fmt", column="fmt", incremental=True),
)
SPEC = Spec(
    rules=STATS + (
        DriftRule(
            "sw_w", column="w", sweep_by="src", method="psi",
            threshold=0.05, exact_edges=True, n_bins=8, incremental=True,
        ),
        BenfordRule("bf_amount", column="amount", min_rows=50, incremental=True),
        ConcentrationRule(
            "cc_fmt", column="fmt", max_top_share=0.4, incremental=True
        ),
        EmbeddingHealthRule(
            "eh_emb", column="embedding", dim=3, max_dead_dims=0,
            max_anisotropy=0.9, min_rows=10, incremental=True,
        ),
    ),
    key_column="image_id",
    n_partitions=N_PARTS,
)
SKETCHED = ("distinct", "p50", "p90")


@pytest.fixture(scope="module")
def table(spark):
    i = F.col("id")
    df = (
        spark.range(ROWS)
        .select(
            F.concat(F.lit("img"), i.cast("string")).alias("image_id"),
            (i % N_PARTS).cast("int").alias("partition_id"),
            F.when(i % 13 == 0, None)
            .otherwise((i * 37) % 101 + (i % N_PARTS) * 5)
            .cast("int")
            .alias("w"),
            F.element_at(
                F.array(*[F.lit(f) for f in ("png", "png", "jpeg", "webp", "gif")]),
                ((i * 7) % 5 + 1).cast("int"),
            ).alias("fmt"),
            ((i * 7919) % 9973 + 1).cast("long").alias("amount"),
            F.concat(F.lit("s"), (i % 3).cast("string")).alias("src"),
            F.when(i % 17 == 0, None)
            .otherwise(
                F.array(
                    ((i % 5) - 2).cast("double"),
                    F.lit(0.5),
                    ((i % 7) * 0.5).cast("double"),
                )
            )
            .alias("embedding"),
        )
        .cache()
    )
    df.count()
    yield df
    df.unpersist()


def _rows(result):
    """(violation rows or None, exact metric rows, sketched metric rows) —
    collected once, so the comparisons below run no further jobs."""
    viol, met = result
    rows = met.collect()
    return (
        None if viol is None else viol.collect(),
        [r for r in rows if r["metric"] not in SKETCHED],
        [r for r in rows if r["metric"] in SKETCHED],
    )


def _assert_same(got, want):
    if want[0] is not None:
        assertDataFrameEqual(got[0], want[0], rtol=0, atol=0)
    assertDataFrameEqual(got[1], want[1], rtol=0, atol=0)


def _check_sketched(rows, truth):
    """HLL distinct and KLL quantile rows vs the exact table answers."""
    for r in rows:
        if r["metric"] == "distinct":
            exact = truth[r["rule_id"]]["distinct"]
            assert abs(r["value"] - exact) <= HLL_TOL * exact, r
        else:
            values = truth[r["rule_id"]]["values"]
            q = float(r["metric"][1:]) / 100
            below = sum(v < r["value"] for v in values) / len(values)
            at_or_below = sum(v <= r["value"] for v in values) / len(values)
            assert below - KLL_RANK_TOL <= q <= at_or_below + KLL_RANK_TOL, r


@pytest.fixture(scope="module")
def truth(table):
    out = {}
    for r in STATS:
        col = table.select(r.column).where(F.col(r.column).isNotNull())
        values = [row[0] for row in col.collect()]
        out[r.id] = {"distinct": len(set(values)), "values": values}
    return out


@seed(20261017)
@settings(max_examples=2, deadline=None, database=None)
@given(
    order=st.permutations(range(N_PARTS)),
    cuts=st.sets(st.integers(1, N_PARTS - 1), min_size=1, max_size=2),
    batch_size=st.integers(1, N_PARTS),
)
def test_merge_of_split_equals_whole_and_batched_run(
    spark, table, truth, order, cuts, batch_size
):
    run = ValidationRun(spark, SPEC, table, run_id="contract")
    rep = run.validate(batch_size=batch_size)
    bounds = [0, *sorted(cuts), N_PARTS]
    splits = [order[a:b] for a, b in zip(bounds, bounds[1:])]

    def check(unit):
        fam, _key, rules = unit
        ids = [r.id for r in rules]
        whole = _rows(fam.result(run, rules, fam.partial(run, rules, run.df)))
        pieces = [
            fam.partial(run, rules, run.df.where(F.col("partition_id").isin(s)))
            for s in splits
        ]
        split = _rows(fam.result(run, rules, reduce(DataFrame.unionByName, pieces)))
        batched = _rows(
            tuple(
                f.where(F.col("rule_id").isin(ids))
                for f in (rep.violations, rep.metrics)
            )
        )
        _assert_same(split, whole)
        _assert_same(batched, whole)
        for rows in (whole[2], split[2], batched[2]):
            _check_sketched(rows, truth)

    try:
        assert len(run._partial_units) == 5
        # the five families are independent: check them concurrently
        with ThreadPoolExecutor(max_workers=5) as pool:
            list(pool.map(check, run._partial_units))
    finally:
        run.release()
