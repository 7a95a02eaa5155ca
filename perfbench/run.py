"""mdvalidate_spark benchmark: closed-loop workloads at local[nproc].

    python3 perfbench/run.py --workload pixel_suite --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 18 --trace 0

Run from the repository root. One driver process, one caller: each timed
call into the engine starts only after the previous one returned. The session
is ``get_spark(master=f"local[{nproc}]")`` with the settings it gives users.

Per run: stage the inputs (child process, untimed, cached per workload, size
and seed), then ``setup_s`` (session, input reads, dims), ``first_run_s``
(the first pass in that fresh session), then warm passes until ``--seconds``
have passed. Every pass is checked against golden output.

``--trace 1`` adds a traced phase in a new session with the Spark event log
on, and reports the per-layer metrics instead (see perfbench/README.md). The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is the full report (every metric with unit and sample count,
plus context). Exit status: 0 ok, 1 wrong answer or failed op, 2 engine
sources missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
REQUIRED_SOURCES = (
    "mdvalidate_spark/__init__.py",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
)
UNITS = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MiB",
    "arrival_s": "s",
    "ckpt_bytes_per_input_byte": "ratio",
    "failed_frac": "ratio",
}
END_TO_END = ("setup_s", "first_run_s", "run_s", "rows_per_s")
_ROLLUP = {
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "busy_frac": "ratio",
    "shuffle_write_bytes": "bytes",
}
_RUN_CALLS = (
    "compile.compile_spec", "run.init", "run.validate_pending", "run.finalize",
    "run.report", "run.release",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run emits, on every workload."""
    from bench_extra import BENCH_QUERIES

    return {
        "session.get_spark_s": "s",
        "driver.peak_rss_mb": "MiB",
        "sources.scan_s": "s",
        "sources.input_bytes": "bytes",
        "compile.compile_spec_s": "s",
        "run.init_s": "s",
        "run.validate_pending_s": "s",
        **{f"run.validate_pending.{k}": u for k, u in _ROLLUP.items()},
        "run.finalize_s": "s",
        **{f"run.finalize.{k}": u for k, u in _ROLLUP.items()},
        "run.finalize.spill_bytes": "bytes",
        "run.finalize.task_skew": "ratio",
        "run.report_s": "s",
        "run.release_s": "s",
        "pixel.check_s": "s",
        "pixel.us_per_img": "us",
        "pixel.executor_cpu_s": "s",
        "pixel.busy_frac": "ratio",
        "persist.bytes_written": "bytes",
        "persist.files_written": "count",
        "manifest.partitions_validated": "count",
        **{f"query.{q}_s": "s" for q in BENCH_QUERIES},
        "corpus.executor_cpu_s": "s",
        "corpus.busy_frac": "ratio",
        "corpus.shuffle_write_bytes": "bytes",
        "spark.failed_tasks": "count",
        "resume.arrival_s": "s",
        "resume.ckpt_bytes_per_input_byte": "ratio",
        "failed_frac": "ratio",
        "trace.overhead_ratio": "ratio",
        "trace.unattributed_jobs": "count",
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _confine_env() -> None:
    """Python workers import the engine from the checkout; Spark scratch and
    the Python and JVM temp files (native codec libraries, perf counters)
    stay inside it. Inherited by the staging child and the JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
    )))


def _stage(workload: str, rows: int, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "stage.py"), "--workload", workload,
         "--rows", str(rows), "--seed", str(seed)],
        cwd=ROOT, stdout=subprocess.PIPE, timeout=900, check=True,
    )
    return json.loads(proc.stdout.decode().strip().splitlines()[-1])


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _session_context(spark) -> dict:
    return {
        "master": spark.sparkContext.master,
        "spark.driver.memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", None
        ),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.execution.arrow.maxRecordsPerBatch": spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        ),
    }


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.decode().strip() or None


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _passes(wl, ctx, seconds: float, first_no: int) -> list[float]:
    """Passes until ``seconds`` have passed (at least one); stops after a
    failed op."""
    samples: list[float] = []
    t0 = time.perf_counter()
    while not samples or time.perf_counter() - t0 < seconds:
        k = first_no + len(samples)
        if ctx.tracer:
            ctx.tracer.pass_no = k
        with ctx.span("pass"):
            samples.append(wl.run_pass(ctx, k))
        if any(o.error for o in ctx.ops):
            break
    return samples


def _ancestors(spans, s):
    p = s["parent"]
    while p is not None:
        yield spans[p]
        p = spans[p]["parent"]


def _layer_metrics(wl, spans: list[dict], digest, passes: set) -> dict:
    """Per-layer metrics from the traced phase: per-pass sums, then the median
    over the traced passes. A layer the workload never calls reads 0."""

    def secs(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    def rollups(group: list[dict], prefix: str, keys) -> dict:
        rolls = [digest.rollup(s) for s in group]
        span_s = sum(secs(s) for s in group)
        m = {}
        for k in keys:
            if k == "busy_frac":  # over the group's summed span time
                busy = sum(r[k] * secs(s) for r, s in zip(rolls, group))
                m[f"{prefix}.{k}"] = busy / span_s if span_s else 0.0
            elif k == "task_skew":
                m[f"{prefix}.{k}"] = max((r[k] for r in rolls), default=0.0)
            else:
                m[f"{prefix}.{k}"] = sum(r[k] for r in rolls)
        return m

    # groups: each traced pass, and the corpus probe of a traced run
    groups = []
    for g in spans:
        is_pass = g["name"] == "pass" and g["pass"] in passes
        if not (is_pass or g["name"] == "corpus.probe"):
            continue
        desc = [spans[i] for i in digest.tree[g["id"]] if i != g["id"]]
        m: dict = {}
        for name in _RUN_CALLS if is_pass else ():
            # outermost spans of a name only: a nested same-name call is
            # already inside its parent's interval
            top = [s for s in desc if s["name"] == name and not any(
                a["name"] == name for a in _ancestors(spans, s))]
            m[f"{name}_s"] = sum(secs(s) for s in top)
            if name == "run.validate_pending":
                m.update(rollups(top, name, _ROLLUP))
            if name == "run.finalize":
                m.update(rollups(top, name, (*_ROLLUP, "spill_bytes", "task_skew")))
        queries = [s for s in desc if s["name"].startswith("query.")]
        for s in queries:
            m[f"{s['name']}_s"] = secs(s)
        if queries:
            m.update(rollups(
                queries, "corpus", ("executor_cpu_s", "busy_frac", "shuffle_write_bytes")
            ))
        groups.append(m)

    out = {
        k: _median([m[k] for m in groups if k in m])
        for k in {k for m in groups for k in m}
    }
    scan = [s for s in spans if s["name"] == "sources.scan"]
    if scan:
        out["sources.scan_s"] = secs(scan[-1])
    px = [s for s in spans if s["name"] == "pixel.check"]
    if px:  # the last call runs with the gate cache warm
        r = digest.rollup(px[-1])
        out["pixel.check_s"] = secs(px[-1])
        out["pixel.us_per_img"] = secs(px[-1]) / wl.input_rows() * 1e6
        out["pixel.executor_cpu_s"] = r["executor_cpu_s"]
        out["pixel.busy_frac"] = r["busy_frac"]
    if hasattr(wl, "per_wave"):
        waves = [w for w in wl.per_wave if w["pass"] in passes]
        for k in ("persist.bytes_written", "persist.files_written",
                  "manifest.partitions_validated"):
            out[k] = _median([w[k] for w in waves])
        out["resume.arrival_s"] = _median([w["seconds"] for w in waves])
        out["resume.ckpt_bytes_per_input_byte"] = _median(wl.ckpt_ratio)
    out["spark.failed_tasks"] = digest.failed_tasks()
    out["trace.unattributed_jobs"] = digest.unattributed_jobs()
    return out


def _traced_phase(a, wl, staged, cores, get_spark, app, master) -> tuple[dict, list, list]:
    """A new session in the same JVM with the event log on: a warm-up pass,
    the layer probes, then traced passes for ``--seconds``. Returns the
    layer metrics, the traced pass times and the ops."""
    from spans import Digest, Tracer
    from workloads import Ctx

    log_dir = os.path.join(WORK, "eventlog", f"{wl.name}-{a.seed}-{os.getpid()}")
    os.makedirs(log_dir, exist_ok=True)
    spark = get_spark(app_name=app, master=master, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, staged, a.seed, WORK, a.golden_skew)
    ctx.tracer = Tracer(wl.name)
    wl.setup(ctx)
    # warm-up: the new context starts with cold python workers
    samples = _passes(wl, ctx, 0, 100)
    if not any(o.error for o in ctx.ops):
        wl.layer_probes(ctx)
        samples = _passes(wl, ctx, a.seconds, 101)
    _stop_jvm(spark)
    ctx.tracer.write(os.path.join(log_dir, "spans.jsonl"))
    digest = Digest(ctx.tracer.spans, log_dir, cores)
    passes = set(range(101, 101 + len(samples)))
    return _layer_metrics(wl, ctx.tracer.spans, digest, passes), samples, ctx.ops


def run_workload(a) -> int:
    from workloads import Ctx

    name = a.workload
    rows = a.rows or WORKLOADS[name].default_rows
    _confine_env()
    staged = _stage(name, rows, a.seed)
    cores = len(os.sched_getaffinity(0))

    # ---- setup: fresh process to ready (imports, session, inputs, dims)
    t0 = time.perf_counter()
    from mdvalidate_spark.session import get_spark

    master = f"local[{cores}]"
    app = f"perfbench-{name}"
    tg = time.perf_counter()
    spark = get_spark(app_name=app, master=master)
    get_spark_s = time.perf_counter() - tg
    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[name]()
    ctx = Ctx(spark, staged, a.seed, WORK, a.golden_skew)
    wl.setup(ctx)
    setup_s = time.perf_counter() - t0

    first_run_s = wl.run_pass(ctx, 0)
    samples = [] if ctx.ops[-1].error else _passes(wl, ctx, a.seconds, 1)
    run_s = _median(samples)
    values = {
        "setup_s": setup_s,
        "first_run_s": first_run_s,
        "run_s": run_s,
        "rows_per_s": wl.input_rows() / run_s if run_s else 0.0,
        "peak_rss_mb": _jvm_peak_rss_mb(spark),
    }
    n_samples = {"run_s": len(samples), "rows_per_s": len(samples)}
    if hasattr(wl, "per_wave"):
        warm = [w["seconds"] for w in wl.per_wave if w["pass"] >= 1]
        values["arrival_s"] = _median(warm)
        n_samples["arrival_s"] = len(warm)
        values["ckpt_bytes_per_input_byte"] = _median(wl.ckpt_ratio)
    context = _session_context(spark)
    ops = list(ctx.ops)

    layers: dict = {}
    if a.trace and not any(o.error for o in ops):
        spark.stop()  # the JVM stays up for the traced session
        layers, traced, traced_ops = _traced_phase(
            a, wl, staged, cores, get_spark, app, master
        )
        ops += traced_ops
        layers["session.get_spark_s"] = get_spark_s
        layers["sources.input_bytes"] = staged["bytes"]
        layers["driver.peak_rss_mb"] = values["peak_rss_mb"]
        layers["trace.overhead_ratio"] = _median(traced) / run_s
        layers["failed_frac"] = sum(1 for o in traced_ops if o.error) / len(traced_ops)
    else:
        _stop_jvm(spark)

    failed = [o for o in ops if o.error]
    values["failed_frac"] = len(failed) / len(ops)
    from bench import _host_calibration

    units = per_layer_units()
    if a.trace:  # every per-layer metric on every workload: an uncalled layer reads 0
        layers = {k: layers.get(k, 0) for k in units}
    report = {
        "workload": name,
        "seed": a.seed,
        "trace": a.trace,
        "metrics": {
            k: {"value": v, "unit": UNITS[k],
                **({"samples": n_samples[k]} if k in n_samples else {})}
            for k, v in values.items()
        },
        "run_s_samples": samples,
        "layers": {k: {"value": v, "unit": units[k]} for k, v in layers.items()},
        "attempted": len(ops),
        "failed": len(failed),
        "errors": sorted({o.error for o in failed})[:10],
        "context": {
            **context,
            "cores": cores,
            "git_commit": _git_commit(),
            "seed": a.seed,
            "input_rows": wl.input_rows(),
            "input_bytes": staged["bytes"],
            "stage_key": staged["key"],
            **_host_calibration(cores),
        },
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{name}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    metrics = report["layers"] if a.trace else {k: report["metrics"][k] for k in END_TO_END}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }))
    return 1 if failed else 0


def run_all(a) -> int:
    """Every workload in its own process; its report and result lines."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, timeout=900)
        rc = rc or proc.returncode
        print("\n".join(proc.stdout.decode().strip().splitlines()[-2:]), flush=True)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=0,
                    help="input size override (images rows / corpus lineitem rows)")
    ap.add_argument("--golden-skew", type=int, default=0,
                    help="offset one golden count, to show that the gate trips")
    a = ap.parse_args()
    missing = [p for p in REQUIRED_SOURCES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if a.workload == "all":
        return run_all(a)
    return run_workload(a)


if __name__ == "__main__":
    sys.exit(main())
