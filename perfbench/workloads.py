"""The four benchmark workloads, each a closed loop with one caller.

A *pass* is one full use of the engine the way a user runs it; an *op* is one
timed call sequence into the engine inside a pass. Every pass is checked
against golden output after its clock stops; a wrong answer, a raised error
or a failed Spark task marks the op failed.

* ``suite_oneshot`` -- the 10-rule images spec (row, unique, ref, stats and
  drift rules; no pixel) over a bytes-free staged table, one
  ``ValidationRun(...).validate()`` per pass.
* ``pixel_suite`` -- the same spec plus ``PixelRule`` over a table with
  encoded image bytes. Its traced run also probes the pixel stage alone and
  runs every corpus query once.
* ``resume_waves`` -- a checkpointed run with incremental stats rules:
  partitions land in seeded waves, each wave a fresh ``ValidationRun`` with
  the same run id calling ``validate_pending``; ``finalize`` after the last.
* ``corpus_queries`` -- every query in ``bench_extra.BENCH_QUERIES`` over the
  generated corpus, in seeded order; each result is consumed by a digest
  (row count and order-insensitive hash) that the golden check reads.
"""

from __future__ import annotations

import copy
import dataclasses
import json
import os
import shutil
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_CORPUS = os.path.join(HERE, "golden_corpus.json")
# documented relative standard error of the ``distinct`` metric: one-shot
# stats use approx_count_distinct (Spark's default rsd 0.05); incremental
# stats merge HLL sketches at lg_config_k=12 (~1.6%, spec.ColumnStatsRule).
# A sketch metric passes within three standard errors of the exact value.
RSD_ONESHOT = 0.05
RSD_INCREMENTAL = 0.016


@dataclasses.dataclass
class Op:
    name: str
    seconds: float
    error: str | None = None


class JobWatch:
    """Counts failed tasks of the Spark jobs submitted since the last call,
    from the status tracker (job ids are sequential from 0)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.next_job = 0

    def failed_tasks(self) -> int:
        failed = 0
        while True:
            job = self.tracker.getJobInfo(self.next_job)
            if job is None:
                return failed
            if job.status == "FAILED":
                failed += 1
            for sid in job.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    failed += st.numFailedTasks
            self.next_job += 1


class Ctx:
    """What a workload needs from the runner: the session, the staged input,
    the tracer (None when untraced) and the op/pass bookkeeping."""

    def __init__(self, spark, staged: dict, seed: int, work: str, golden_skew: int):
        self.spark = spark
        self.staged = staged
        self.seed = seed
        self.work = work
        self.golden_skew = golden_skew
        self.tracer = None
        self.watch = JobWatch(spark.sparkContext)
        self.ops: list[Op] = []

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def op(self, name: str, fn):
        """Time ``fn()``; return (result, Op). Errors are recorded, not raised."""
        t0 = time.perf_counter()
        try:
            with self.span(name):
                res = fn()
            err = None
        except Exception as e:  # noqa: BLE001 - a failed op is a measurement
            traceback.print_exc()
            res, err = None, f"{type(e).__name__}: {e}"
        op = Op(name, time.perf_counter() - t0, err)
        self.ops.append(op)
        return res, op

    def settle(self, op: Op, problems: list[str]) -> None:
        """Attach post-op checks (wrong output, failed tasks) to ``op``."""
        n_failed = self.watch.failed_tasks()
        if n_failed:
            problems = [*problems, f"{n_failed} failed Spark task(s)"]
        if problems and op.error is None:
            op.error = "; ".join(problems)


# --------------------------------------------------------------- images


def golden_rule_counts(rows: int, with_pixel: bool, skew: int = 0) -> dict:
    """Per-rule violation counts the injection contract implies."""
    from mdvalidate_spark.sources.synthetic import expected_violation_counts

    exp = expected_violation_counts(rows)
    out = {
        "caption_not_null": exp["caption_null"],
        "caption_regex": exp["caption_regex"],
        "w_range": exp["w_range"],
        "fmt_domain": exp["fmt_domain"],
        "unique_image_id": exp["duplicate_keys"] + skew,
        "src_ref": exp["orphan_rows"],
        "w_drift": 1,
    }
    if with_pixel:
        # the pixel check stops at an image's first failure, so a row that
        # is both fmt- and range-injected (i % 2000 == 1999) fails once
        out["pixel"] = rows // 400 + rows // 250 - rows // 2000
    return {k: v for k, v in out.items() if v}


def check_report(
    counts: dict, metrics: list, golden: dict, ref: dict, rsd: float
) -> list[str]:
    """Problems with a materialized report, [] when it is correct."""
    problems = []
    if counts != golden:
        diff = {
            k: (counts.get(k), golden.get(k))
            for k in sorted(set(counts) | set(golden))
            if counts.get(k) != golden.get(k)
        }
        problems.append(f"violation counts (got, want): {diff}")
    got: dict = {}
    for r in metrics:
        if r["partition_id"] is None and r["rule_id"] in ref:
            got.setdefault(r["rule_id"], {})[r["metric"]] = (
                r["value"] if r["value"] is not None else r["value_str"]
            )
    for rule_id, want in ref.items():
        have = got.get(rule_id, {})
        for m in ("count", "null_rate", "min", "max"):
            h = have.get(m)
            ok = (
                h == want[m]
                if isinstance(want[m], str)
                else h is not None and abs(float(h) - want[m]) <= 1e-12
            )
            if not ok:
                problems.append(f"{rule_id}.{m}: got {h!r}, want {want[m]!r}")
        d = have.get("distinct")
        if d is None or abs(float(d) - want["distinct"]) > max(
            1.0, 3 * rsd * want["distinct"]
        ):
            problems.append(
                f"{rule_id}.distinct: got {d!r}, want {want['distinct']} "
                f"within {3 * rsd:.1%}"
            )
    if "pixel" in golden:
        checked = sum(
            r["value"] for r in metrics
            if r["rule_id"] == "pixel" and r["metric"] == "pixel_checked"
        )
        if checked != ref["stats_w"]["count"]:
            problems.append(f"pixel_checked {checked} != {ref['stats_w']['count']}")
    return problems


def traced_compile(ctx: Ctx, spec, df) -> None:
    """Time ``compile_spec`` from outside, on the schema ValidationRun
    compiles against (the frame with the engine's partition id attached)."""
    from mdvalidate_spark.compile import compile_spec
    from mdvalidate_spark.operators.row_rules import with_partition_id

    schema = with_partition_id(df, spec).schema
    with ctx.span("compile.compile_spec"):
        compile_spec(spec, schema)


def materialize(rep) -> tuple[dict, list]:
    """The report's violations (per-rule counts) and metrics, collected."""
    from pyspark.sql import functions as F

    counts = {
        r["rule_id"]: r["n"]
        for r in rep.violations.groupBy("rule_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return counts, rep.metrics.collect()


class ImagesWorkload:
    """One-shot validation of the staged images table (suite and pixel)."""

    with_pixel = False

    def setup(self, ctx: Ctx) -> None:
        from mdvalidate_spark.sources.synthetic import dim_source, full_images_spec

        spark = ctx.spark
        self.df = spark.read.parquet(ctx.staged["dir"])
        self.dims = {"dim_source": dim_source(spark)}
        self.spec = full_images_spec(with_pixel=self.with_pixel, n_partitions=64)
        self.rows = ctx.staged["rows"]
        self.ref_stats = ctx.staged["reference"]
        self.golden = golden_rule_counts(self.rows, self.with_pixel, ctx.golden_skew)

    def input_rows(self) -> int:
        return self.rows

    def run_pass(self, ctx: Ctx, k: int) -> float:
        from mdvalidate_spark.run import ValidationRun

        out: dict = {}

        def call():
            if ctx.tracer:
                traced_compile(ctx, self.spec, self.df)
            with ctx.span("run.init"):
                run = ValidationRun(
                    ctx.spark, self.spec, self.df, dims=self.dims,
                    run_id=f"{self.name}-{k}",
                )
            if ctx.tracer:
                # validate() calls these itself; span them from outside
                for m in ("validate_pending", "finalize"):
                    ctx.tracer.wrap_method(run, m, f"run.{m}")
            run.validate()
            with ctx.span("run.report"):
                out["counts"], out["metrics"] = materialize(run.report())
            with ctx.span("run.release"):
                run.release()

        _, op = ctx.op("validate", call)
        problems = [] if op.error else check_report(
            out["counts"], out["metrics"], self.golden, self.ref_stats, RSD_ONESHOT
        )
        ctx.settle(op, problems)
        return op.seconds

    def layer_probes(self, ctx: Ctx) -> None:
        with ctx.span("sources.scan"):
            self.df.write.format("noop").mode("overwrite").save()


class SuiteOneshot(ImagesWorkload):
    name = "suite_oneshot"
    default_rows = 300_000


class PixelSuite(ImagesWorkload):
    name = "pixel_suite"
    default_rows = 24_000
    with_pixel = True

    def layer_probes(self, ctx: Ctx) -> None:
        from mdvalidate_spark.operators.pixel import pixel_check_results
        from mdvalidate_spark.spec import PixelRule

        super().layer_probes(ctx)
        cache: dict = {}
        for _ in range(2):  # the second call runs with the gate cache warm
            with ctx.span("pixel.check"):
                pixel_check_results(
                    self.df, PixelRule("px"), "image_id", cache=cache
                ).write.format("noop").mode("overwrite").save()
        # the corpus operators, once per traced run: the corpus workload is
        # too long to repeat within the benchmark's run budget
        from stage import stage

        corpus = CorpusQueries()
        sub = copy.copy(ctx)  # same session, tracer, ops and job watch
        sub.staged = stage(corpus.name, corpus.default_rows, ctx.seed)
        corpus.setup(sub)
        with ctx.span("corpus.probe"):
            corpus.run_pass(sub, 0)


# --------------------------------------------------------------- resume


def dir_usage(d: str) -> tuple[int, int]:
    """(bytes, files) under ``d``."""
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


class ResumeWaves(ImagesWorkload):
    name = "resume_waves"
    default_rows = 100_000
    n_waves = 4

    def setup(self, ctx: Ctx) -> None:
        from mdvalidate_spark.sources.synthetic import dim_source, full_images_spec
        from mdvalidate_spark.spec import ColumnStatsRule

        spec = full_images_spec(with_pixel=False, n_partitions=16)
        self.spec = dataclasses.replace(spec, rules=tuple(
            dataclasses.replace(r, incremental=True)
            if isinstance(r, ColumnStatsRule) else r
            for r in spec.rules
        ))
        self.dims = {"dim_source": dim_source(ctx.spark)}
        self.rows = ctx.staged["rows"]
        self.input_bytes = ctx.staged["bytes"]
        self.ref_stats = ctx.staged["reference"]
        self.golden = golden_rule_counts(self.rows, False, ctx.golden_skew)
        order = ctx.staged["wave_order"]
        per = -(-len(order) // self.n_waves)
        self.waves = [order[: per * (w + 1)] for w in range(self.n_waves)]
        root = ctx.staged["dir"]
        reader = ctx.spark.read.option("basePath", root)
        self.frames = [
            reader.parquet(*[os.path.join(root, f"partition_id={p}") for p in landed])
            for landed in self.waves
        ]
        self.df = self.frames[-1]
        self.per_wave: list[dict] = []
        self.ckpt_ratio: list[float] = []

    def run_pass(self, ctx: Ctx, k: int) -> float:
        from mdvalidate_spark.run import ValidationRun

        ckpt = os.path.join(ctx.work, "ckpt", f"{self.name}-{k}")
        shutil.rmtree(ckpt, ignore_errors=True)
        run_id = f"{self.name}-{k}"
        total = 0.0
        prev = None
        prev_validated = 0
        for w, frame in enumerate(self.frames):
            before = dir_usage(ckpt)
            box: dict = {}

            def wave():
                if prev is not None:
                    with ctx.span("run.release"):
                        prev.release()
                if ctx.tracer:
                    traced_compile(ctx, self.spec, frame)
                with ctx.span("run.init"):
                    run = ValidationRun(
                        ctx.spark, self.spec, frame, dims=self.dims,
                        run_id=run_id, checkpoint_dir=ckpt,
                    )
                box["run"] = run
                with ctx.span("run.validate_pending"):
                    run.validate_pending()

            _, op = ctx.op(f"wave{w}", wave)
            total += op.seconds
            ctx.settle(op, [])
            if op.error:
                return total
            prev = box["run"]
            after = dir_usage(ckpt)
            validated = sum(
                1 for e in prev.manifest.entries.values() if e["status"] == "validated"
            )
            self.per_wave.append({
                "pass": k,
                "wave": w,
                "seconds": op.seconds,
                "persist.bytes_written": after[0] - before[0],
                "persist.files_written": after[1] - before[1],
                "manifest.partitions_validated": validated - prev_validated,
            })
            prev_validated = validated

        out: dict = {}
        run = prev

        def final():
            with ctx.span("run.finalize"):
                run.finalize()
            with ctx.span("run.report"):
                out["counts"], out["metrics"] = materialize(run.report())
            with ctx.span("run.release"):
                run.release()

        _, op = ctx.op("finalize", final)
        total += op.seconds
        problems = [] if op.error else check_report(
            out["counts"], out["metrics"], self.golden, self.ref_stats,
            RSD_INCREMENTAL,
        )
        ctx.settle(op, problems)
        self.ckpt_ratio.append(dir_usage(ckpt)[0] / self.input_bytes)
        shutil.rmtree(ckpt, ignore_errors=True)
        return total


# --------------------------------------------------------------- corpus


def result_digest(df) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a query result.

    Floating values are printed to 8 significant digits before hashing, so
    summation-order noise in the last bits does not change the hash."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(c, dt):
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return F.format_string("%.8g", c.cast("double"))
        if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.DoubleType, T.FloatType)
        ):
            return F.transform(c, lambda x: F.format_string("%.8g", x.cast("double")))
        if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
            return F.to_json(c)
        return c

    cols = [canon(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return int(row["n"]), int(row["s"] or 0) % (1 << 64)


def load_golden_corpus(scale: float) -> dict:
    with open(GOLDEN_CORPUS) as f:
        blob = json.load(f)
    return blob.get(repr(scale), {})


class CorpusQueries:
    name = "corpus_queries"
    default_rows = 30_000  # lineitem rows; the other tables scale with it

    def setup(self, ctx: Ctx) -> None:
        import numpy as np

        import __spark_entry__ as entry
        from bench_extra import BENCH_QUERIES

        self.dir = ctx.staged["dir"]
        qs = entry.queries()
        names = [n for n in BENCH_QUERIES if n in qs]
        rng = np.random.default_rng(ctx.seed)
        self.order = [names[i] for i in rng.permutation(len(names))]
        self.qs = qs
        self.scale = ctx.staged["params"]["scale"]
        self.golden = load_golden_corpus(self.scale)
        self.table_rows = ctx.staged["tables"]
        # the same listing/schema warm-up any caller's first read pays
        for t in self.table_rows:
            ctx.spark.read.parquet(os.path.join(self.dir, f"{t}.parquet"))

    def input_rows(self) -> int:
        return sum(self.table_rows.values())

    def run_pass(self, ctx: Ctx, k: int) -> float:
        total = 0.0
        for name in self.order:
            # the digest is the sink: it materializes every column of the
            # result, like the noop sink, and returns what the check needs
            got, op = ctx.op(
                f"query.{name}",
                lambda n=name: result_digest(self.qs[n](ctx.spark, self.dir)),
            )
            total += op.seconds
            problems = []
            if op.error is None:
                n_rows, h = got
                want = self.golden.get(name)
                if want is None:
                    problems.append(f"no recorded reference for {name}")
                elif [n_rows + ctx.golden_skew, str(h)] != [want["rows"], want["hash"]]:
                    problems.append(
                        f"{name}: got rows={n_rows} hash={h}, want {want}"
                    )
            ctx.settle(op, problems)
        return total

    def layer_probes(self, ctx: Ctx) -> None:
        with ctx.span("sources.scan"):
            for t in self.table_rows:
                ctx.spark.read.parquet(os.path.join(self.dir, f"{t}.parquet")).write.format(
                    "noop"
                ).mode("overwrite").save()


WORKLOADS = {
    w.name: w for w in (SuiteOneshot, PixelSuite, ResumeWaves, CorpusQueries)
}
