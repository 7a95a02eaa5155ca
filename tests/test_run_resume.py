"""Run-lifecycle tests: the partition-batch sweep (analog of the reference's
chunk-size sweep, cmd.rs:385-398 — identical results at any increment),
checkpointed resume (NodePosPair semantics), and fast-fail."""

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.testing import assertDataFrameEqual

from mdvalidate_spark.run import ValidationRun, validate_table
from mdvalidate_spark.sources.synthetic import (
    dim_source,
    expected_violation_counts,
    synthetic_images,
)
from mdvalidate_spark.spec import (
    ColumnStatsRule,
    DomainRule,
    DriftRule,
    NotNullRule,
    RangeRule,
    RefIntegrityRule,
    RegexRule,
    Spec,
    UniqueRule,
)

ROWS = 1000


def full_spec(fast_fail=False):
    return Spec(
        rules=(
            NotNullRule("caption_not_null", column="caption"),
            RegexRule("caption_regex", column="caption", pattern=r"A photo number \d+ of \w+"),
            RangeRule("w_range", column="w", min=1, max=10000),
            DomainRule("fmt_domain", column="fmt", values=("jpeg", "png", "webp")),
            UniqueRule("unique_image_id", columns=("image_id",)),
            RefIntegrityRule("src_ref", column="source_id", dim_name="dim_source", dim_column="source_id"),
            ColumnStatsRule("stats_w", column="w"),
            DriftRule("w_drift", column="w", group_column="partition_id",
                      group_value="7", method="psi", threshold=0.2),
        ),
        key_column="image_id",
        n_partitions=8,
        fast_fail=fast_fail,
    )


@pytest.fixture(scope="module")
def images(spark):
    df = synthetic_images(spark, ROWS, with_bytes=False).cache()
    df.count()
    yield df
    df.unpersist()


def violation_set(report):
    return {
        (r["rule_id"], r["image_id"], r["column"], r["kind"])
        for r in report.violations.collect()
    }


def test_full_run_golden_totals(spark, images):
    exp = expected_violation_counts(ROWS)
    report = validate_table(spark, images, full_spec(), dims={"dim_source": dim_source(spark)}, run_id="r-full")
    counts = {
        r["rule_id"]: r["n"]
        for r in report.violations.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts["caption_not_null"] == exp["caption_null"]
    assert counts["caption_regex"] == exp["caption_regex"]
    assert counts["w_range"] == exp["w_range"]
    assert counts["fmt_domain"] == exp["fmt_domain"]
    assert counts["unique_image_id"] == exp["duplicate_keys"]
    assert counts["src_ref"] == exp["orphan_rows"]
    assert counts["w_drift"] == 1
    assert report.errored and report.exit_code == 1
    # manifest covers all partitions with finalized status and true row counts
    man = report.manifest.collect()
    assert len(man) == 8
    assert all(r["status"] == "finalized" for r in man)
    assert sum(r["rows"] for r in man) == ROWS


@pytest.mark.parametrize("batch_size", [1, 2, 4, 8])
def test_batch_size_sweep_identical_results(spark, images, batch_size):
    """Any partition-batch increment must produce identical final violations —
    the chunk-sweep invariant (cmd.rs:385-398)."""
    run = ValidationRun(
        spark, full_spec(), images, dims={"dim_source": dim_source(spark)},
        run_id=f"r-sweep-{batch_size}",
    )
    run.validate_pending(batch_size=batch_size)
    report = run.finalize()
    baseline = validate_table(
        spark, images, full_spec(), dims={"dim_source": dim_source(spark)}, run_id="r-base"
    )
    assert violation_set(report) == violation_set(baseline)


def test_checkpoint_resume_skips_done_partitions(spark, images, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    dims = {"dim_source": dim_source(spark)}
    run1 = ValidationRun(spark, full_spec(), images, dims=dims, run_id="r-ck", checkpoint_dir=ckpt)
    assert run1.pending_partitions() == list(range(8))
    run1.validate_pending(batch_size=3)  # processes 3, then 3, then 2 — all done
    assert run1.pending_partitions() == []

    # a new process resumes: nothing pending, prior violations reloaded
    run2 = ValidationRun(spark, full_spec(), images, dims=dims, run_id="r-ck", checkpoint_dir=ckpt)
    assert run2.pending_partitions() == []
    report = run2.finalize()
    exp = expected_violation_counts(ROWS)
    per_part_viols = report.violations.where(F.col("partition_id").isNotNull()).count()
    assert per_part_viols == (
        exp["caption_null"] + exp["caption_regex"] + exp["w_range"]
        + exp["fmt_domain"] + exp["orphan_rows"]
    )
    shutil.rmtree(ckpt, ignore_errors=True)


def test_partial_resume_validates_only_new_partitions(spark, images, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    dims = {"dim_source": dim_source(spark)}
    run1 = ValidationRun(spark, full_spec(), images, dims=dims, run_id="r-pr", checkpoint_dir=ckpt)
    # validate only first batch of 2, then "crash"
    pending = run1.pending_partitions()
    run1._validate_batch(pending[:2])
    del run1

    run2 = ValidationRun(spark, full_spec(), images, dims=dims, run_id="r-pr", checkpoint_dir=ckpt)
    assert run2.pending_partitions() == pending[2:]
    run2.validate_pending(batch_size=8)
    report = run2.finalize()
    baseline = validate_table(spark, images, full_spec(), dims=dims, run_id="r-pr-base")
    assert violation_set(report) == violation_set(baseline)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_fast_fail_stops_after_first_red_batch(spark, images):
    run = ValidationRun(
        spark, full_spec(fast_fail=True), images,
        dims={"dim_source": dim_source(spark)}, run_id="r-ff",
    )
    run.validate_pending(batch_size=1)
    # every partition has injected violations, so exactly one batch ran
    validated = [p for p, e in run.manifest.entries.items()]
    assert len(validated) == 1
    report = run.report()
    assert report.errored


def test_clean_table_passes(spark):
    clean = (
        synthetic_images(spark, 200, with_bytes=False)
        .where(F.col("caption").rlike(r"^A photo number \d+ of \w+$"))
        .where(F.col("w").between(1, 10000) & F.col("fmt").isin("jpeg", "png", "webp"))
        .where(F.col("i") % 500 != 499)
        .where(F.col("i") % 120 < 100)
    )
    spec = full_spec()
    # drop the drift rule: the doubled-w partition is a real distribution shift
    spec_no_drift = Spec(
        rules=tuple(r for r in spec.rules if r.id != "w_drift"),
        key_column="image_id", n_partitions=8,
    )
    report = validate_table(
        spark, clean, spec_no_drift, dims={"dim_source": dim_source(spark)}, run_id="r-clean"
    )
    assert report.violations.count() == 0
    assert not report.errored and report.exit_code == 0


def test_data_supplied_partition_ids_fully_discovered(spark, tmp_path):
    """A table carrying its OWN partition_id values must be validated in
    full even when spec.n_partitions disagrees — ids are discovered from the
    data, never assumed to be range(n_partitions). (Regression: a table
    written with 8 partitions under a spec saying 4 silently validated only
    half its rows.)"""
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.sources.synthetic import synthetic_images
    from mdvalidate_spark.spec import NotNullRule, Spec

    src = str(tmp_path / "imgs8")
    synthetic_images(spark, 1000, with_bytes=False, n_partitions=8).write.parquet(src)
    df = spark.read.parquet(src)  # carries partition_id in 0..7

    spec = Spec(rules=(NotNullRule("nn", column="caption"),),
                key_column="image_id", n_partitions=4)  # wrong on purpose
    run = ValidationRun(spark, spec, df, run_id="dp")
    assert sorted(run.all_partitions()) == sorted(
        r["partition_id"] for r in df.select("partition_id").distinct().collect()
    )
    report = run.validate()
    rows_validated = sum(e["rows"] for e in run.manifest.entries.values())
    assert rows_validated == 1000  # every row, not half
    assert report.violations.count() == 1  # the i=997 null caption


def test_volume_rule_zero_scan_lifecycle(spark):
    """VolumeRule flags starved/flooded partitions from the MANIFEST's own
    per-partition row counts at finalize — no extra scan; matches the
    standalone volume_anomaly operator's verdict on the same table; soft
    empty-distribution contract below min_partitions."""
    from mdvalidate_spark.operators.skew import volume_anomaly
    from mdvalidate_spark.spec import VolumeRule

    # explicit partition column: ten healthy partitions (~100 rows), one
    # starved (3), one flooded (260)
    sizes = {p: 100 + (p % 3) for p in range(10)}
    sizes[10] = 3
    sizes[11] = 260
    rows = [(f"k{p}-{i}", p) for p, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, "image_id string, part int")
    spec = Spec(
        rules=(VolumeRule("vol", k=3.0),),
        key_column="image_id",
        partition_column="part",
        n_partitions=12,
    )
    report = validate_table(spark, df, spec, run_id="r-vol")
    got = {
        (r["image_id"], r["kind"], r["column"]) for r in report.violations.collect()
    }
    assert got == {
        ("10", "under_volume", "part"),
        ("11", "over_volume", "part"),
    }
    assert report.exit_code == 1
    # parity with the standalone operator on the same frame
    op = {
        (r["partition"], r["kind"])
        for r in volume_anomaly(df, "part", k=3.0).collect()
    }
    assert op == {("10", "under_volume"), ("11", "over_volume")}
    # below min_partitions: empty by contract
    small = df.where(F.col("part") < 3)
    spec2 = Spec(
        rules=(VolumeRule("vol", min_partitions=4),),
        key_column="image_id",
        partition_column="part",
        n_partitions=3,
    )
    rep2 = validate_table(spark, small, spec2, run_id="r-vol2")
    assert rep2.violations.count() == 0 and rep2.exit_code == 0


def test_volume_rule_universe_detects_missing_partitions(spark):
    """ADVICE r3: with DATA-derived partition ids a wholly-empty partition
    never gets a manifest entry — VolumeRule.universe enumerates expected
    ids from a dims table and flags absent ones unconditionally as
    under_volume (actual='missing'), independent of the MAD envelope."""
    from mdvalidate_spark.errors import SchemaError
    from mdvalidate_spark.spec import VolumeRule

    # parts 0..7 present and healthy; the universe expects 0..9 → 8, 9 missing
    rows = [(f"k{p}-{i}", p) for p in range(8) for i in range(100)]
    df = spark.createDataFrame(rows, "image_id string, part int")
    universe = spark.createDataFrame([(p,) for p in range(10)], "part int")
    spec = Spec(
        rules=(VolumeRule("vol", universe="expected_parts"),),
        key_column="image_id",
        partition_column="part",
        n_partitions=10,
    )
    report = validate_table(
        spark, df, spec, dims={"expected_parts": universe}, run_id="r-vol-u"
    )
    got = {
        (r["image_id"], r["kind"], r["actual"])
        for r in report.violations.collect()
    }
    assert got == {
        ("8", "under_volume", "missing"),
        ("9", "under_volume", "missing"),
    }
    assert report.exit_code == 1
    # absence detection works even below min_partitions (it is not an
    # envelope judgment): 2 present partitions, min_partitions=4
    small = df.where(F.col("part") < 2)
    rep2 = validate_table(
        spark,
        small,
        Spec(
            rules=(VolumeRule("vol", universe="expected_parts", min_partitions=4),),
            key_column="image_id",
            partition_column="part",
            n_partitions=10,
        ),
        dims={"expected_parts": universe},
        run_id="r-vol-u2",
    )
    assert rep2.violations.where(F.col("kind") == "under_volume").count() == 8
    # universe named but not provided in dims → typed error at open
    with pytest.raises(SchemaError, match="universe table"):
        validate_table(spark, df, spec, run_id="r-vol-u3")


def test_null_partition_values_land_in_reserved_partition(spark, tmp_path):
    """A NULL value in the data-supplied partition column must not make its
    row invisible to validation: such rows coalesce to the reserved
    partition -1, are validated, counted in the manifest, and fail the run
    like any other violating row."""
    from mdvalidate_spark.spec import RangeRule, Spec
    from mdvalidate_spark.run import validate_table

    df = spark.createDataFrame(
        [("k1", 1, 10.0), ("k2", None, -5.0), ("k3", 2, 20.0)],
        "id string, part int, score double",
    )
    spec = Spec(
        rules=(RangeRule("score_range", column="score", min=0.0, max=100.0),),
        key_column="id",
        partition_column="part",
    )
    report = validate_table(spark, df, spec, checkpoint_dir=str(tmp_path / "ck"))
    rows = report.violations.collect()
    assert [(r["image_id"], r["partition_id"]) for r in rows] == [("k2", -1)]
    assert report.exit_code == 1
    manifest_parts = {r["partition_id"] for r in report.manifest.collect()}
    assert -1 in manifest_parts


def test_manifest_lineage_records_batch_seconds(spark, tmp_path):
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.sources.synthetic import (
        dim_source,
        full_images_spec,
        synthetic_images,
    )

    df = synthetic_images(spark, 200, with_bytes=False)
    run = ValidationRun(
        spark, full_images_spec(with_pixel=False), df,
        dims={"dim_source": dim_source(spark)},
        checkpoint_dir=str(tmp_path / "ck"),
    ).validate_pending()
    entries = run.manifest.entries
    assert entries and all(
        isinstance(e.get("seconds"), float) and e["seconds"] > 0
        for e in entries.values()
    )


def test_report_manifest_exposes_seconds_column(spark, tmp_path):
    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.sources.synthetic import (
        dim_source,
        full_images_spec,
        synthetic_images,
    )

    df = synthetic_images(spark, 150, with_bytes=False)
    run = ValidationRun(
        spark, full_images_spec(with_pixel=False), df,
        dims={"dim_source": dim_source(spark)},
    ).validate_pending()
    man = run.report().manifest
    assert "seconds" in man.columns
    assert man.where("seconds IS NULL OR seconds <= 0").count() == 0


def test_whole_table_fast_path_equals_batched_run(spark, tmp_path):
    """Round 6: a FRESH one-shot run over a data-partitioned table skips the
    partition-discovery scan and the isin() batch filter (both no-ops for a
    whole-table batch) and derives the id set from the per-partition row
    counts. It must be observationally identical to the explicit-batch path:
    same discovered ids (including the NULL→-1 reserved bucket), same
    manifest rows, same violation rows."""
    from pyspark.sql import functions as F

    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.sources.synthetic import synthetic_images
    from mdvalidate_spark.spec import NotNullRule, Spec

    src = str(tmp_path / "imgs_fp")
    base = synthetic_images(spark, 600, with_bytes=False, n_partitions=8)
    # plant a NULL partition_id (normalizes to the reserved -1 bucket)
    base.withColumn(
        "partition_id",
        F.when(F.col("i") == 3, F.lit(None).cast("int")).otherwise(
            F.col("partition_id")
        ),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    spec = Spec(
        rules=(NotNullRule("nn", column="caption"),),
        key_column="image_id",
        n_partitions=8,
    )

    fast = ValidationRun(spark, spec, df, run_id="fp-fast")
    rep_fast = fast.validate()
    # the fast path latched the id set without a discovery scan
    assert fast._discovered_partitions is not None
    assert fast.all_partitions() == sorted(
        r["pid"]
        for r in df.select(
            F.coalesce(F.col("partition_id"), F.lit(-1)).alias("pid")
        ).distinct().collect()
    )

    slow = ValidationRun(spark, spec, df, run_id="fp-slow")
    slow.all_partitions()  # force discovery -> explicit-batch path
    rep_slow = slow.validate(batch_size=3)

    assert fast.all_partitions() == slow.all_partitions()
    fm = {p: e["rows"] for p, e in fast.manifest.entries.items()}
    sm = {p: e["rows"] for p, e in slow.manifest.entries.items()}
    assert fm == sm and sum(fm.values()) == 600
    a = sorted(map(tuple, rep_fast.violations.drop("run_id").collect()))
    b = sorted(map(tuple, rep_slow.violations.drop("run_id").collect()))
    assert a == b
    fast.release()
    slow.release()


def test_fast_path_guard_min_count_rule_zero_in_scope_partition(spark, tmp_path):
    """The whole-table fast path must NOT apply when a per-partition
    min-count rule exists: a partition with zero IN-SCOPE rows (after the
    rule's `when` filter) is only detectable against the enumerated id
    universe. The count-0 violation must survive a fresh one-shot run."""
    from pyspark.sql import functions as F

    from mdvalidate_spark.run import ValidationRun
    from mdvalidate_spark.spec import CountRule, Spec

    src = str(tmp_path / "cnt_fp")
    rows = [(f"k{p}-{i}", p, "err" if p == 2 else "ok") for p in range(4) for i in range(10)]
    spark.createDataFrame(
        rows, "image_id string, partition_id int, status string"
    ).write.parquet(src)
    df = spark.read.parquet(src)
    spec = Spec(
        rules=(
            CountRule("min_ok", min=1, when="status = 'ok'"),
        ),
        key_column="image_id",
        n_partitions=4,
    )
    run = ValidationRun(spark, spec, df, run_id="cnt-guard")
    rep = run.validate()
    v = rep.violations.where(F.col("rule_id") == "min_ok").collect()
    assert [r["partition_id"] for r in v] == [2]  # zero in-scope rows
    run.release()


def test_checkpointed_run_leaves_session_conf_and_replaces_lineage(
    spark, images, tmp_path
):
    """A checkpointed run asks for dynamic partition overwrite per write
    instead of setting it on the caller's session: the session value is
    unchanged after validate(), and re-validating a partition still replaces
    its persisted lineage (under the session's static mode, a partitioned
    overwrite would instead wipe every other partition)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        ckpt = str(tmp_path / "ck-conf")
        dims = {"dim_source": dim_source(spark)}

        def run():
            return ValidationRun(
                spark, full_spec(), images, dims=dims, run_id="r-conf",
                checkpoint_dir=ckpt,
            )

        def persisted():
            return dict(
                spark.read.parquet(f"{ckpt}/violations")
                .groupBy("partition_id").count().collect()
            )

        run().validate()
        assert spark.conf.get(key) == "STATIC"
        before = persisted()
        assert len(before) > 1
        run()._validate_batch([0])  # re-validate one partition
        assert spark.conf.get(key) == "STATIC"
        assert persisted() == before
    finally:
        spark.conf.set(key, prior)


@pytest.mark.parametrize(
    "rule",
    [
        ColumnStatsRule("st_w", column="w", incremental=True),
        DriftRule(
            "sw_w", column="w", sweep_by="fmt", method="psi", threshold=0.5,
            incremental=True,
        ),
    ],
    ids=["stats", "sweep_drift"],
)
def test_resume_after_empty_batch(spark, tmp_path, rule):
    """A batch over a partition with no rows leaves a partials directory
    without part files. A run resuming that checkpoint must reload it with
    an explicit schema (inference refuses such a directory) and report
    exactly what an uninterrupted run over the same batches reports."""
    df = spark.createDataFrame(
        [("a", 10, "png"), ("b", 20, "jpeg"), ("c", 30, "png")],
        "image_id string, w int, fmt string",
    )
    spec = Spec(rules=(rule,), key_column="image_id", n_partitions=16)
    ckpt = str(tmp_path / "ck-empty")
    first = ValidationRun(spark, spec, df, run_id="r-empty", checkpoint_dir=ckpt)
    occupied = {r["partition_id"] for r in first.df.select("partition_id").collect()}
    empty = min(set(range(16)) - occupied)
    first._validate_batch([empty])

    resumed = ValidationRun(
        spark, spec, df, run_id="r-empty", checkpoint_dir=ckpt
    ).validate()
    straight = ValidationRun(spark, spec, df, run_id="r-empty")
    straight._validate_batch([empty])
    expected = straight.validate()
    assertDataFrameEqual(resumed.metrics, expected.metrics)
    assertDataFrameEqual(resumed.violations, expected.violations)
    assert resumed.metrics.where(F.col("rule_id") == rule.id).count() > 0


def test_sweep_drift_edges_freeze_on_first_batch_with_rows(spark, tmp_path):
    """An incremental sweep freezes its bin edges on the first batch with
    in-scope rows. A leading empty batch yields no edges; freezing those
    would put every value in one bin, and no group could ever drift. A run
    whose batches are all empty still finalizes."""
    rows = [
        (f"k{i}", float(i % 10) if i % 2 else float(100 + i % 10),
         "png" if i % 2 else "jpeg")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "image_id string, w double, fmt string")
    rule = DriftRule(
        "sw_w", column="w", sweep_by="fmt", method="psi", threshold=0.5,
        incremental=True,
    )
    spec = Spec(rules=(rule,), key_column="image_id", n_partitions=64)
    run = ValidationRun(
        spark, spec, df, run_id="r-edges", checkpoint_dir=str(tmp_path / "ck")
    )
    occupied = {r["partition_id"] for r in run.df.select("partition_id").collect()}
    run._validate_batch([min(set(range(64)) - occupied)])
    report = run.validate()
    assert report.violations.where(F.col("rule_id") == "sw_w").count() > 0
    straight = ValidationRun(spark, spec, df, run_id="r-edges").validate()
    assertDataFrameEqual(report.violations, straight.violations)

    no_rows = df.withColumn("w", F.lit(None).cast("double"))
    ckpt = str(tmp_path / "ck-none")
    ValidationRun(spark, spec, no_rows, run_id="r-none", checkpoint_dir=ckpt)\
        ._validate_batch([0])
    resumed = ValidationRun(
        spark, spec, no_rows, run_id="r-none", checkpoint_dir=ckpt
    ).validate()
    assert resumed.violations.count() == 0
