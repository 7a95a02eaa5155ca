"""ValidationRun — the engine's lifecycle object.

Reference lifecycle mapping (SURVEY.md §3):
  Validator::new_*        → ValidationRun(spark, spec, df, dims)   (compile +
                            attach partition ids; validator.rs:59-84)
  read_input + validate   → validate_pending(batch_size)           (manifest
                            diff → evaluate per-partition stages on only the
                            new partitions; validator.rs:101-185)
  EOF revalidation        → finalize()                             (global
                            rules — uniqueness, grouped counts, stats, drift —
                            over the full table; validator.rs:162-168)
  --fast-fail             → spec.fast_fail: stop scheduling batches after the
                            first red one (cmd.rs:119-121)
  report()                → Report(violations, metrics, manifest)  (errors +
                            matches JSON; validator.rs:86-93)

Per-partition stages (row, referential, per-partition count, pixel) run on
pending partitions only; their outputs are written idempotently per partition
under the checkpoint dir (re-validating a partition overwrites its lineage,
so crash-and-resume never duplicates violations). Global stages run once in
finalize. This is exactly the reference's streaming model re-expressed for a
table: partitions are the chunks, the manifest is farthest_reached_pos, and
finalize is the canonical EOF pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import tempfile
import time
import uuid
from dataclasses import dataclass
from functools import reduce
from itertools import groupby
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .compile import ConstraintProgram, compile_spec
from .operators import (
    agg_rules, association, digits, drift as drift_ops, gaps, outliers,
    overlap as overlap_ops, pixel as pixel_ops, sequence as sequence_ops,
    similarity, skew,
)
from .operators.ref_rules import ref_violations
from .operators.row_rules import row_violations, with_partition_id
from .errors import KIND_OVER_VOLUME, KIND_UNDER_VOLUME, SchemaError
from .partials import partial_units, read_partials, write_partitioned
from .plans.manifest import FAILED, FINALIZED, Manifest, VALIDATED
from .spec import (
    NUMERIC_BOUND_METRICS, AssociationRule, BenfordRule, CompositeRegexRule,
    ConcentrationRule, CountRule, EmbeddingHealthRule, ExprRule, FreshnessRule,
    FunctionalDependencyRule, GapRule, MetricBoundRule, MonotonicRule,
    OutlierRule, OverlapRule, SequenceRule, Spec, UniqueRule, VolumeRule,
    parse_bound_metric,
)

_VIOLATIONS_DDL = (
    "run_id string, partition_id int, rule_id string, image_id string, "
    "column string, expected string, actual string, kind string"
)
_METRICS_DDL = (
    "run_id string, partition_id int, rule_id string, metric string, "
    "value double, value_str string"
)


@dataclass
class Report:
    violations: DataFrame
    metrics: DataFrame
    manifest: DataFrame
    errored: bool

    @property
    def exit_code(self) -> int:
        """Reference main.rs:86-90 — 0 pass, 1 fail."""
        return 1 if self.errored else 0


def _prof(label: str, t0: float) -> None:
    """Opt-in stage timing (MDV_PROFILE=1) for scaling diagnostics."""
    if os.environ.get("MDV_PROFILE"):
        print(f"    [mdv-profile] {label}: {time.time() - t0:.2f}s", flush=True)


def _empty(spark: SparkSession, ddl: str) -> DataFrame:
    return spark.createDataFrame([], ddl)


def _union(dfs: list[DataFrame], spark: SparkSession, ddl: str) -> DataFrame:
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return _empty(spark, ddl)
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _analyze_expr(df, rule_id, expr, label, context, required_type=None):
    """Driver-side analysis (no job) of a spec-supplied SQL expression:
    raise a typed SchemaError if it fails to resolve against ``df`` or —
    when ``required_type`` is given — if the result type mismatches.
    Shared by every expr-bearing rule family (drift, outlier, ExprRule)
    so a typo'd expression is a SchemaError at run init, not an
    AnalysisException mid-job. Returns the resolved DataType."""
    from .errors import SchemaError

    try:
        analyzed = df.select(F.expr(expr).alias("_x"))
    except Exception as e:
        raise SchemaError(
            f"rule {rule_id!r}: {label} {expr!r} does not resolve against "
            f"{context}: {e}"
        ) from e
    dt = analyzed.schema["_x"].dataType
    if required_type is not None and not isinstance(dt, required_type):
        kind = required_type.__name__.replace("Type", "").lower()
        raise SchemaError(
            f"rule {rule_id!r}: {label} {expr!r} is not {kind} "
            f"(got {dt.simpleString()})"
        )
    return dt


@dataclass(frozen=True)
class GlobalScope:
    """What a global-stage evaluator reads besides its rules: the full table
    (partition ids attached) and the run around it."""

    df: DataFrame
    run_id: str
    spec: Spec
    dims: dict
    keep: Callable = lambda frame: frame  # caches a frame for the run's life
    n_partitions: Callable = lambda: None  # engine partition count, if known
    manifest: Manifest | None = None  # per-partition validated row counts


def _volume_violations(s: GlobalScope, vr: VolumeRule) -> DataFrame | None:
    # zero-scan stage: the MAD envelope over the manifest's own
    # per-partition validated row counts (spec.VolumeRule docs) —
    # O(#partitions) driver math over metadata the run already paid
    # for, including zero-row partitions. statistics.median matches
    # the operator/oracle interpolation (mean of middle two).
    counted = sorted(
        (pid, float(e["rows"]))
        for pid, e in s.manifest.entries.items()
        if e.get("rows") is not None
    )
    col = s.spec.partition_column or "partition_id"
    rows_out = []
    if vr.universe:
        # wholly-missing partitions (data-derived ids never get
        # a manifest entry — spec.VolumeRule docs): enumerate
        # expected ids from the dims table, diff against the
        # manifest. Absence is a fact, not an outlier —
        # unconditional under_volume, independent of the MAD
        # envelope and min_partitions. O(#partitions) rows.
        ucol = vr.universe_column or col
        expected_ids = {
            int(r[0])
            for r in s.dims[vr.universe]
            .select(F.col(ucol).cast("long"))
            .where(F.col(ucol).isNotNull())
            .distinct()
            .collect()
        }
        have = {int(pid) for pid, _ in counted}
        for pid in sorted(expected_ids - have):
            rows_out.append(
                (
                    s.run_id,
                    int(pid),
                    vr.id,
                    str(pid),
                    col,
                    "partition present (>= 1 row)",
                    "missing",
                    KIND_UNDER_VOLUME,
                )
            )
    if len(counted) >= vr.min_partitions:
        ns = [n for _, n in counted]
        center = statistics.median(ns)
        mad = statistics.median([abs(n - center) for n in ns])
        bound = max(vr.abs_tol, vr.k * 1.4826 * mad)
        for pid, n in counted:
            if abs(n - center) > bound:
                rows_out.append(
                    (
                        s.run_id,
                        int(pid),
                        vr.id,
                        str(pid),
                        col,
                        f"rows in [{center - bound:.1f}, "
                        f"{center + bound:.1f}]",
                        str(int(n)),
                        KIND_OVER_VOLUME if n > center
                        else KIND_UNDER_VOLUME,
                    )
                )
    if rows_out:
        return s.df.sparkSession.createDataFrame(rows_out, _VIOLATIONS_DDL)


def _each(fn):
    """Evaluator applying ``fn(scope, rule)`` → (violations or None, metrics
    or None) to each rule."""
    def evaluate(s, rules):
        out = [fn(s, r) for r in rules]
        return (
            [v for v, _ in out if v is not None],
            [m for _, m in out if m is not None],
        )

    return evaluate


def _violations(fn, keyed: bool = False):
    """Kind whose operator is ``fn(df, rule, run_id[, key_column])`` →
    violations."""
    key = (lambda s: (s.spec.key_column,)) if keyed else (lambda s: ())
    return _each(lambda s, r: (fn(s.df, r, s.run_id, *key(s)), None))


def _results(fn):
    """Kind whose operator is ``fn(df, rule, run_id)`` → (violations,
    metrics)."""
    return _each(lambda s, r: fn(s.df, r, s.run_id))


# stages evaluated in finalize through GLOBAL_EVALUATORS (stats and drift have
# their own fused aggregate and concurrent jobs)
GLOBAL_STAGES = ("group", "metric_bound", "sequence", "overlap", "volume")

# one evaluator per global-stage kind, shared by ValidationRun.finalize and
# FileIncrementalValidator.finalize: ``evaluate(scope, rules)`` takes adjacent
# rules of its kind and returns (violation frames, metric frames)
GLOBAL_EVALUATORS: dict[type, Callable] = {
    UniqueRule: _violations(agg_rules.unique_violations),
    FunctionalDependencyRule: _violations(agg_rules.fd_violations),
    FreshnessRule: _violations(agg_rules.freshness_violations),
    GapRule: _violations(gaps.gap_violations),
    OutlierRule: _violations(outliers.outlier_violations, keyed=True),
    MonotonicRule: _violations(sequence_ops.monotonic_violations, keyed=True),
    # groups may span engine partitions
    SequenceRule: _violations(sequence_ops.sequence_violations, keyed=True),
    AssociationRule: _results(association.association_rule_results),
    # the partials families, here without incremental=True: a full scan
    BenfordRule: _results(digits.benford_rule_results),
    ConcentrationRule: _results(skew.concentration_rule_results),
    EmbeddingHealthRule: _results(similarity.embedding_health_rule_results),
    # grouped counts only; per-partition counts run per batch
    CountRule: _each(lambda s, r: (agg_rules.count_violations(
        s.df, r, s.run_id,
        universe=s.dims.get(r.universe) if r.universe else None,
    ), None)),
    # all bounds fuse into one aggregation pass; the 1-row result feeds both
    # the violation and the metric frames
    MetricBoundRule: lambda s, rules: tuple(
        [frame] for frame in agg_rules.metric_bound_results(
            s.df, rules, s.run_id, keep=s.keep
        )
    ),
    # shard-pair distinct-set overlap: the engine knows its own group count
    # when the audit groups by partition_id — passing it keeps construction
    # LAZY (no eager guard job), so the sketch scan overlaps the other global
    # stages inside finalize's concurrent block
    OverlapRule: _each(lambda s, r: (overlap_ops.overlap_violations(
        s.df, r, s.run_id, keep=s.keep,
        n_groups=s.n_partitions() if r.group_column == "partition_id" else None,
    ), None)),
    VolumeRule: _each(lambda s, r: (_volume_violations(s, r), None)),
}


def global_results(
    scope: GlobalScope, rules
) -> tuple[list[DataFrame], list[DataFrame]]:
    """(violation frames, metric frames) of global-stage rules, evaluated in
    order through GLOBAL_EVALUATORS, one call per run of adjacent rules of
    one kind."""
    viols, mets = [], []
    for cls, same in groupby(rules, type):
        v, m = GLOBAL_EVALUATORS[cls](scope, tuple(same))
        viols += v
        mets += m
    return viols, mets


class ValidationRun:
    def __init__(
        self,
        spark: SparkSession,
        spec: Spec,
        df: DataFrame,
        dims: dict[str, DataFrame] | None = None,
        run_id: str | None = None,
        checkpoint_dir: str | None = None,
        fingerprint_gate: bool = False,
        fingerprint_columns: tuple | None = None,
    ):
        self.spark = spark
        self.spec = spec
        self.dims = dims or {}
        self.run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
        self.checkpoint_dir = checkpoint_dir
        # partition ids are data-supplied iff the frame already carried them
        # or the spec names a physical partition column (see all_partitions)
        self._data_partitioned = (
            "partition_id" in df.columns or bool(spec.partition_column)
        )
        self._discovered_partitions: list[int] | None = None
        # the user's frame from BEFORE pid normalization: the pixel native
        # gate probes this one — with_partition_id's coalesce(cast(pid), -1)
        # rewrite reads as a recomputed column in the analyzed plan and would
        # push every data-partitioned table onto the 5x-slower Arrow path
        # (the native kernel replicates the normalization itself, see
        # operators/pixel.py::_norm_pid)
        self._scan_df = df
        self.df = with_partition_id(df, spec)
        # compile against the frame the rules actually run over — AFTER the
        # engine attaches partition_id, so a rule targeting it (e.g. drift
        # grouped by partition) compiles whether the id is physical or
        # derived. Full schema (not just names) so rules may target nested
        # struct paths like meta.width (quotes.rs:21-66 step-into analog).
        self.program: ConstraintProgram = compile_spec(spec, self.df.schema)
        # drift `expr` inputs are opaque to the column lint (DriftRule.targets
        # can't enumerate them) — analyze each expression against the real
        # schema NOW, driver-side, so a typo'd expr ("lenght(text)") is a
        # SchemaError before any job instead of an AnalysisException mid-run
        for dr in self.program.drift_rules:
            if dr.expr:
                _analyze_expr(
                    self.df, dr.id, dr.expr, "drift expr", "the input schema"
                )
        # OutlierRule.expr has the same opacity (a derived numeric metric,
        # e.g. bytes-per-pixel) — analyze now and require a NUMERIC result,
        # so a typo'd expr or a string-typed metric fails before any job
        # instead of yielding an all-NULL envelope that flags nothing
        from pyspark.sql.types import BooleanType, NumericType

        for orr in self.program.group_rules:
            if isinstance(orr, OutlierRule) and orr.expr:
                _analyze_expr(
                    self.df, orr.id, orr.expr, "outlier expr",
                    "the input schema", required_type=NumericType,
                )
        # ExprRule expressions are SQL with a declared-column contract:
        # analyze each against the frame PRUNED to its declared columns so
        # an undeclared read (or a typo) is a SchemaError at init, and
        # require a boolean result; actual_expr only needs to resolve
        for er in self.program.row_rules:
            if not isinstance(er, ExprRule):
                continue
            pruned = self.df.select(*[F.col(c) for c in er.columns])
            ctx = f"the declared columns {er.columns}"
            _analyze_expr(
                pruned, er.id, er.expr, "expr", ctx,
                required_type=BooleanType,
            )
            if er.actual_expr:
                _analyze_expr(pruned, er.id, er.actual_expr, "actual_expr", ctx)
        # `when` predicates are SQL exprs with the same opacity —
        # analyze each against the real schema now (driver-side, no job) and
        # require a BOOLEAN result, so a typo'd or non-predicate `when` is a
        # SchemaError before any job. Covers every kind with a `when` field.
        for rr in self.spec.rules:
            w = getattr(rr, "when", "")
            if not w:
                continue
            try:
                analyzed = self.df.select(F.expr(w).alias("_w"))
            except Exception as e:
                raise SchemaError(
                    f"rule {rr.id!r}: when predicate {w!r} does not resolve "
                    f"against the input schema: {e}"
                ) from e
            from pyspark.sql.types import BooleanType

            if not isinstance(analyzed.schema["_w"].dataType, BooleanType):
                raise SchemaError(
                    f"rule {rr.id!r}: when predicate {w!r} is not boolean "
                    f"(got {analyzed.schema['_w'].dataType.simpleString()})"
                )
        # moments of a non-numeric column would be silent all-NULL metrics
        # after the cast — SchemaError now, before any job
        for sr in self.program.stats_rules:
            if sr.moments:
                agg_rules._require_numeric(self.df, sr, "moments")
        # numeric metrics of a non-numeric column would be silent all-NULL
        # (→ spurious 'no value' violations) after the cast — reject now
        for mb in self.program.metric_bound_rules:
            family, _q = parse_bound_metric(mb.metric)
            if family == "quantile" or mb.metric in NUMERIC_BOUND_METRICS:
                agg_rules._require_numeric(self.df, mb, mb.metric)
        for r in self.program.ref_rules:
            if r.dim_name not in self.dims:
                    raise SchemaError(
                    f"rule {r.id!r}: dimension table {r.dim_name!r} not provided"
                )
        for r in (*self.program.group_rules, *self.program.volume_rules):
            if getattr(r, "universe", "") and r.universe not in self.dims:
                    raise SchemaError(
                    f"rule {r.id!r}: universe table {r.universe!r} not provided"
                )
        for r in self.program.drift_rules:
            if r.reference and r.reference not in self.dims:
                    raise SchemaError(
                    f"rule {r.id!r}: reference table {r.reference!r} not "
                    "provided (pass it in the dims dict)"
                )
            if (
                r.reference
                and r.sweep_by
                and drift_ops.is_snapshot(self.dims[r.reference])
            ):
                    raise SchemaError(
                    f"rule {r.id!r}: a profile snapshot is a whole-table "
                    "profile — sweep_by needs a live reference table with "
                    "the group column"
                )
        self.manifest = (
            Manifest.load(checkpoint_dir, self.run_id)
            if checkpoint_dir
            else Manifest(run_id=self.run_id)
        )
        # in-memory accumulation (checkpointed runs also persist to parquet)
        self._violation_dfs: list[DataFrame] = []
        self._metric_dfs: list[DataFrame] = []
        # mergeable partials of the incremental rule families (partials.py):
        # one tiny frame per batch per checkpoint key; finalize merges them
        # instead of rescanning the table
        self._partial_units = partial_units(self.program)
        self._partials: dict[str, list[DataFrame]] = {}
        # incremental sweep drift: bin edges frozen on the first batch
        self._drift_frozen_edges: dict[str, list] = {}
        self._finalized = False
        self._schema_checked = False
        self._schema_violations = 0
        self._drift_edge_futs: dict[str, object] = {}
        self._drift_pool = None
        self._drift_prefetch_attempted = False
        # per-run memo of the pixel stage's driver-side gate probing (native
        # vs arrow decision + parquet footer stats): the frame is fixed for
        # the run, so re-probing per batch is pure repeated driver latency —
        # the r2 bench regression's prime suspect (VERDICT r2 #1)
        self._pixel_cache: dict = {}
        # every frame this run persists, so release() can free the executor
        # blocks: a long-lived session validating many runs would otherwise
        # accumulate cached frames without bound (and, because a persisted
        # plan with no run_id literal — e.g. the pixel checks frame — is
        # plan-matched by Spark's CacheManager, a LATER run over the same
        # input silently reuses this run's blocks instead of re-reading)
        self._persisted: list[DataFrame] = []
        # content-gated revalidation (operators/reconcile.py): with
        # fingerprint_gate=True and a checkpointed prior run, partitions
        # whose per-partition content fingerprint is UNCHANGED are marked
        # validated up front (one decode-free column scan instead of full
        # revalidation) and their persisted lineage/violations carry
        # forward through the ordinary resume reload below
        self.fingerprint_gate = bool(fingerprint_gate)
        if self.fingerprint_gate and not checkpoint_dir:
            # refuse loudly (the n_buckets convention): a gate with nowhere
            # to persist its snapshot would silently full-revalidate every
            # run while the caller believes content gating is active
            raise SchemaError(
                "fingerprint_gate=True requires checkpoint_dir — the gate "
                "persists per-partition fingerprints there at finalize"
            )
        self._fingerprint_columns = (
            tuple(fingerprint_columns) if fingerprint_columns else None
        )
        if self._fingerprint_columns is not None:
            missing = sorted(
                c for c in self._fingerprint_columns if c not in df.columns
            )
            if missing:
                # typed refusal now beats an AnalysisException from the
                # fingerprint scan later (the gate would otherwise fail on
                # the FIRST gated run, after the snapshot write started)
                raise SchemaError(
                    f"fingerprint_columns not in table: {missing} "
                    f"(table columns: {sorted(df.columns)})"
                )
        self._fingerprint_df: DataFrame | None = None
        self._dim_fp_cache: dict | None = None
        self.gate_skipped: list[int] = []
        if checkpoint_dir:
            if self.fingerprint_gate:
                self._apply_fingerprint_gate()
            self._reload_persisted()

    # ------------------------------------------------------------ discovery

    def all_partitions(self) -> list[int]:
        """Partition ids this run must validate.

        When the ENGINE derives partition_id (pmod(xxhash64(key), n)), the id
        set is range(n) by construction. When partition ids come from the
        DATA (a pre-existing partition_id column or spec.partition_column),
        trusting range(spec.n_partitions) would silently skip any id outside
        it — discovered the hard way: a table written with 8 partitions run
        under a spec saying 4 validated only half its rows. Data-supplied ids
        are discovered with one distinct scan, cached for the run."""
        if not self._data_partitioned:
            return list(range(self.spec.n_partitions))
        if self._discovered_partitions is None:
            self.spark.sparkContext.setJobDescription("partition discovery")
            self._discovered_partitions = sorted(
                r["partition_id"]
                for r in self.df.select("partition_id").distinct().collect()
                if r["partition_id"] is not None
            )
            self.spark.sparkContext.setJobDescription(None)
        return self._discovered_partitions

    def pending_partitions(self) -> list[int]:
        return self.manifest.pending(self.all_partitions())

    # ------------------------------------------------------------ lifecycle

    def _keep(self, frame: DataFrame) -> DataFrame:
        """persist(MEMORY_AND_DISK) + track for release()."""
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(frame)
        return frame

    def release(self) -> None:
        """Unpersist every frame this run cached on the executors.

        Call after the report's frames are consumed (counted, written,
        collected). A long-lived session running many validations MUST call
        this between runs or cached blocks accumulate without bound; it also
        guarantees a later run over the same input re-reads the data instead
        of plan-matching this run's blocks through Spark's CacheManager
        (correct, but it makes repeat-run timings measure the cache, not the
        engine — this corrupted a scaling measurement once). Reading the
        report's DataFrames after release() recomputes them from source."""
        for frame in self._persisted:
            try:
                frame.unpersist()
            except Exception:  # noqa: BLE001 - session may already be gone
                pass
        self._persisted.clear()

    # ------------------------------------------------------------ execution

    # ------------------------------------------------- fingerprint gate

    def _fingerprint_value_columns(self) -> list[str]:
        """Columns hashed into the per-partition content fingerprint.

        Default: every column except the key, partition_id, and BINARY
        columns — fingerprinting `bytes` would read every image byte on
        both the snapshot write and every gated run, turning the cheap
        metadata scan into a full 100 TB read. The trade is explicit: a
        byte-level corruption that changes NOTHING else is invisible to
        the default gate (the pixel stage catches it when the partition
        revalidates for any other reason); pass
        ``fingerprint_columns=(..., "bytes")`` to pay the full read and
        close that window."""
        if self._fingerprint_columns is not None:
            return sorted(self._fingerprint_columns)
        from pyspark.sql.types import BinaryType

        skip = {self.spec.key_column, "partition_id"}
        return sorted(
            f.name
            for f in self.df.schema.fields
            if f.name not in skip and not isinstance(f.dataType, BinaryType)
        )

    def partition_fingerprints(self) -> DataFrame:
        """Per-partition content fingerprints of THIS run's input (ONE
        map-only scan reduced to #partitions rows; computed once and
        cached for the run)."""
        if self._fingerprint_df is None:
            from .operators.reconcile import partition_fingerprint

            self._fingerprint_df = self._keep(
                partition_fingerprint(
                    self.df,
                    [self.spec.key_column],
                    self._fingerprint_value_columns(),
                )
            )
        return self._fingerprint_df

    def _spec_hash(self) -> str:
        from .spec_io import spec_to_dict

        return hashlib.md5(
            json.dumps(spec_to_dict(self.spec), sort_keys=True).encode()
        ).hexdigest()

    def _dim_fingerprints(self) -> dict:
        """1-bucket whole-table fingerprint per dimension table (dims are
        broadcast-sized — each costs one tiny job). Sums rendered as
        strings for exact JSON round-tripping. Memoized: dims are fixed for
        the life of a run (the gate relies on that), and the gate check at
        init plus the snapshot write at finalize would otherwise each pay
        one collect per dim."""
        from .operators.reconcile import table_fingerprint

        if self._dim_fp_cache is not None:
            return self._dim_fp_cache
        out = {}
        for name in sorted(self.dims):
            d = self.dims[name]
            rows = table_fingerprint(
                d, sorted(d.columns), n_buckets=1
            ).collect()
            out[name] = (
                [str(rows[0]["n_rows"]), str(rows[0]["key_sum"]),
                 str(rows[0]["row_sum"])]
                if rows
                else ["0", "0", "0"]
            )
        self._dim_fp_cache = out
        return out

    def _fingerprint_dir(self) -> str:
        return self._sink("fingerprint")

    def _apply_fingerprint_gate(self) -> None:
        """Mark partitions whose content fingerprint matches the persisted
        snapshot as VALIDATED, carrying the prior run's per-partition
        rows/violations from its manifest — the subsequent resume reload
        then restores their persisted violations/metrics/partials exactly
        as if this run had validated them (the engine is deterministic:
        same content + same spec + same dims ⇒ same verdicts). Carried
        violation rows keep their ORIGINAL run_id — honest lineage: that
        run computed the verdict, this one only proved it still holds.

        The gate stands down ENTIRELY (full revalidation, no error) when
        anything that could change a verdict moved: the spec (hash of its
        canonical dict), the fingerprinted column set, or any dimension
        table (1-bucket fingerprints — a dim edit can flip per-partition
        ref verdicts without touching the fact table) — or when the
        checkpoint's manifest was not written by the SAME run that wrote
        the fingerprint snapshot, or that run never finalized: an
        interrupted gated run leaves the prior snapshot but a newer
        manifest (and overwritten per-partition violations), so pairing
        them would carry counters measured on content the snapshot does
        not describe."""
        from .operators.reconcile import PARTITION_FINGERPRINT_DDL

        meta_path = os.path.join(self._fingerprint_dir(), "meta.json")
        if not os.path.exists(meta_path):
            return  # first gated run: finalize() writes the snapshot
        with open(meta_path) as f:
            meta = json.load(f)
        if (
            meta.get("spec_hash") != self._spec_hash()
            or meta.get("columns") != self._fingerprint_value_columns()
            or meta.get("dims") != self._dim_fingerprints()
        ):
            return
        # the carried per-partition rows/violations counters come from the
        # prior manifest — but ONLY if it was written by the same run that
        # committed the fingerprint snapshot AND that run finalized; any
        # other pairing (an interrupted later run, a non-gated run's
        # manifest) can describe different content than the snapshot does
        mpath = Manifest._path(self.checkpoint_dir)
        if not os.path.exists(mpath):
            return
        with open(mpath) as f:
            doc = json.load(f)
        if doc.get("run_id") != meta.get("run_id") or not doc.get(
            "complete"
        ):
            return
        prev_entries = {
            int(k): v for k, v in doc.get("entries", {}).items()
        }
        prev_fp = {
            r["partition_id"]: r
            for r in self.spark.read.schema(PARTITION_FINGERPRINT_DDL)
            .parquet(os.path.join(self._fingerprint_dir(), "partitions"))
            .collect()
        }
        cur = {
            r["partition_id"]: r
            for r in self.partition_fingerprints().collect()
        }
        for pid, c in cur.items():
            p = prev_fp.get(pid)
            e = prev_entries.get(pid)
            if p is None or e is None or e.get("status") not in (
                VALIDATED,
                FINALIZED,
            ):
                continue
            if (p["n_rows"], p["key_sum"], p["row_sum"]) != (
                c["n_rows"],
                c["key_sum"],
                c["row_sum"],
            ):
                continue
            self.manifest.mark(
                pid,
                VALIDATED,
                rows=e.get("rows"),
                violations=e.get("violations"),
            )
            self.manifest.entries[pid]["fingerprint_skipped"] = True
            if e.get("failed"):
                # carry the red-partition annotation with the counters —
                # ops tooling listing failed partitions must see carried
                # red partitions exactly like freshly revalidated ones
                self.manifest.entries[pid]["failed"] = True
            self.gate_skipped.append(pid)
        self.gate_skipped.sort()

    def _save_fingerprint_snapshot(self) -> None:
        """Persist this run's per-partition fingerprints + gate metadata.
        meta.json is written LAST (tmp + rename) as the commit point — a
        crash mid-write leaves the old meta, and the next gated run either
        matches the old snapshot or revalidates; never a torn gate."""
        fdir = self._fingerprint_dir()
        self.partition_fingerprints().write.mode("overwrite").parquet(
            os.path.join(fdir, "partitions")
        )
        meta = {
            "spec_hash": self._spec_hash(),
            "columns": self._fingerprint_value_columns(),
            "dims": self._dim_fingerprints(),
            "run_id": self.run_id,
        }
        fd, tmp = tempfile.mkstemp(dir=fdir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, os.path.join(fdir, "meta.json"))

    def _check_schema(self) -> int:
        """Schema-drift rules run ONCE per run, BEFORE any data stage — the
        reference surfaces structure errors while walking, before content
        (nodes.rs:174-221). Driver-side metadata compare: no scan, no job;
        recomputed (idempotently, cheaply) on resume rather than reloaded."""
        if self._schema_checked:
            return self._schema_violations
        self._schema_checked = True
        if not self.program.schema_rules:
            return 0
        from .operators.schema_rules import schema_violations

        sv = _union(
            [schema_violations(self.df, r, self.run_id) for r in self.program.schema_rules],
            self.spark,
            _VIOLATIONS_DDL,
        )
        self._schema_violations = sv.count()  # local rows ≤ #columns — no job cost
        self._violation_dfs.append(sv)
        if self.checkpoint_dir:
            sv.write.mode("overwrite").parquet(self._sink("violations_schema"))
        return self._schema_violations

    def validate_pending(
        self, batch_size: int | None = None, _defer_counts: bool = False
    ) -> "ValidationRun":
        """Validate all pending partitions in batches; fast-fail stops
        scheduling after the first batch with violations — and schema drift,
        checked first, fast-fails before any partition is scanned.

        ``_defer_counts`` (internal, set by validate()): on the whole-table
        fast path, leave the batch's two bookkeeping count jobs in flight so
        finalize's global jobs overlap them instead of following them —
        finalize joins the futures before anything reads the manifest. Only
        taken when nothing needs the counts early: no fast_fail (its verdict
        is the violation count), no row cap, and no volume/overlap rules
        (manifest rows / discovered ids feed their evaluation)."""
        if self._check_schema() > 0 and self.spec.fast_fail:
            return self
        self._prefetch_drift_edges()
        # Whole-table fast path (round 6): a FRESH one-shot run over a
        # data-partitioned input validates every partition in one batch, and
        # every normalized partition_id is by construction a member of the
        # discovered id set — so the discovery scan (a full pid-column
        # distinct + collect, a serial job on the critical path before any
        # batch can be planned) and the isin() batch filter are both no-ops.
        # Skip them: the per-partition row counts the batch collects anyway
        # define the id set (guide §1.2: don't compute things you throw
        # away). Excluded: resumed/checkpointed runs (manifest knows prior
        # ids), explicit batch_size (ids are needed up front to slice
        # batches), and per-partition min-count rules (a partition with zero
        # IN-SCOPE rows after the rule's `when` filter is only detectable
        # against the enumerated id universe).
        if (
            batch_size is None
            and self._data_partitioned
            and self._discovered_partitions is None
            and not self.manifest.entries
            and not any(
                cr.min is not None and not cr.group_by
                for cr in self.program.count_rules
            )
        ):
            defer = (
                _defer_counts
                and not self.spec.fast_fail
                and self.spec.max_violations_per_rule is None
                and not self.program.volume_rules
                and not self.program.overlap_rules
            )
            n_viol = self._validate_batch(None, defer=defer)
            if self.spec.fast_fail and n_viol > 0:
                self._cancel_drift_prefetch()
            return self
        pending = self.pending_partitions()
        batch_size = batch_size or len(pending) or 1
        for start in range(0, len(pending), batch_size):
            batch = pending[start : start + batch_size]
            n_viol = self._validate_batch(batch)
            if self.spec.fast_fail and n_viol > 0:
                # the run is already red: interrupt the drift bin-edge
                # prefetch jobs too (full-table quantile scans on non-daemon
                # threads would otherwise run to completion and delay exit
                # even when the caller never reaches validate()/finalize())
                self._cancel_drift_prefetch()
                break
        return self

    def _validate_batch(
        self, partitions: list[int] | None, defer: bool = False
    ) -> int:
        """Validate one batch. ``partitions=None`` is the whole-table fast
        path (see validate_pending): no isin filter, and the partition id
        set is derived from the per-partition row counts afterwards.
        ``defer=True`` (whole-table only) skips waiting on the bookkeeping
        count jobs — finalize joins them via _join_deferred_counts()."""
        batch_t0 = time.time()
        prog, spec = self.program, self.spec
        whole = partitions is None
        batch_df = (
            self.df
            if whole
            else self.df.where(F.col("partition_id").isin(partitions))
        )

        viols: list[DataFrame] = []
        mets: list[DataFrame] = []

        # NOTE (round 6): riding these row counts on the violations pass via
        # df.observe was tried and reverted — the CollectMetrics node lands
        # inside the persisted union's InMemoryRelation, and the first
        # cache-mediated action latches the one-shot Observation with an
        # EMPTY row. The standalone count job below is column-pruned to the
        # key and runs CONCURRENTLY with the violations job (same pool).
        #
        # Broadcast-dim referential rules FUSE into the row pass: the orphan
        # check becomes one more violation struct evaluated in the same scan
        # (left broadcast join + fused checks — one pass over the fact table
        # instead of one per family). Huge dims (broadcast_dim=False) and
        # specs with no row rules keep the standalone anti-join path.
        from .operators.ref_rules import ref_fused_check

        fused_refs = (
            [rr for rr in prog.ref_rules if rr.broadcast_dim]
            if prog.row_rules
            else []
        )
        if prog.row_rules:
            src = batch_df
            extra = []
            for i, rr in enumerate(fused_refs):
                src, chk = ref_fused_check(
                    src, rr, self.dims[rr.dim_name], i
                )
                extra.append(chk)
            viols.append(
                row_violations(src, prog, self.run_id, extra_checks=extra)
            )
        for rr in prog.ref_rules:
            if rr in fused_refs:
                continue
            viols.append(
                ref_violations(
                    batch_df, rr, self.dims[rr.dim_name], self.run_id, spec.key_column
                )
            )
        for cr in prog.count_rules:  # per-partition count bounds
            viols.append(
                agg_rules.count_violations(
                    batch_df, cr, self.run_id, expected_partitions=partitions
                )
            )
        comp_caps = [
            r for r in prog.row_rules
            if isinstance(r, CompositeRegexRule) and r.capture
        ]
        if prog.capture_rules or comp_caps:
            # array-report rules: ordered per-partition capture arrays;
            # as_rows rules: the spill-safe one-row-per-capture path (the
            # documented 100x-safe variant, reachable from a spec).
            # Composite rules with capture=True ride the same pass: one rule
            # validates (row stage) AND captures its matcher segment —
            # routed to either path by capture_as_rows, same as CaptureRule.
            arr = [r for r in prog.capture_rules if not r.as_rows] + [
                r for r in comp_caps if not r.capture_as_rows
            ]
            as_rows = [r for r in prog.capture_rules if r.as_rows] + [
                r for r in comp_caps if r.capture_as_rows
            ]
            if arr:
                mets.append(
                    agg_rules.capture_metrics(
                        batch_df, arr, self.run_id, spec.key_column
                    )
                )
            if as_rows:
                mets.append(
                    agg_rules.capture_rows_metrics(
                        batch_df, as_rows, self.run_id, spec.key_column
                    )
                )

        pixel_checks = None
        quality_checks_by_bytes: dict = {}
        for pr in prog.pixel_rules:
            # pass the UNfiltered frame + the partition list: the native scan
            # path re-reads files directly and must apply the batch filter
            # itself (a .where() on batch_df would be silently ignored there)
            if whole:
                part_arg = None
            else:
                all_parts = set(self.all_partitions())
                part_arg = None if set(partitions) >= all_parts else partitions
            # decode-once: a DegenerateImageRule on the same bytes column
            # rides its quality stats on THIS rule's decode pass instead of
            # paying a second full decode of the corpus
            want_quality = (
                pr.bytes_column not in quality_checks_by_bytes
                and any(
                    dr.bytes_column == pr.bytes_column
                    for dr in prog.degenerate_rules
                )
            )
            pixel_checks = self._keep(
                pixel_ops.pixel_check_results(
                    self.df, pr, spec.key_column, partitions=part_arg,
                    cache=self._pixel_cache, scan_df=self._scan_df,
                    quality=want_quality,
                )
            )
            if want_quality:
                quality_checks_by_bytes[pr.bytes_column] = pixel_checks
            pv, pm = pixel_ops.pixel_outputs(pixel_checks, pr, self.run_id)
            viols.append(pv)
            mets.append(pm)

        for dgr in prog.degenerate_rules:
            checks = quality_checks_by_bytes.get(dgr.bytes_column)
            if checks is None:
                # no PixelRule shares this payload column: standalone
                # decode→stats pass (same batch-filter semantics), memoized
                # per bytes column so N degenerate rules on one payload
                # still decode the corpus ONCE (compile guarantees they
                # share one sample_rate)
                if whole:
                    part_arg = None
                else:
                    all_parts = set(self.all_partitions())
                    part_arg = (
                        None if set(partitions) >= all_parts else partitions
                    )
                checks = self._keep(
                    pixel_ops.quality_only_results(
                        self.df, dgr, spec.key_column, partitions=part_arg
                    )
                )
                quality_checks_by_bytes[dgr.bytes_column] = checks
            dv, dm = pixel_ops.degenerate_outputs(checks, dgr, self.run_id)
            viols.append(dv)
            mets.append(dm)

        for fam, key, rules in self._partial_units:
            frame = self._keep(fam.partial(self, rules, batch_df))
            self._partials.setdefault(key, []).append(frame)
            if self.checkpoint_dir:
                write_partitioned(frame, self._sink(key))

        cap = spec.max_violations_per_rule
        full_viol = _union(viols, self.spark, _VIOLATIONS_DDL)
        if cap is not None:
            # bounded sink: exact totals survive as metric rows computed by
            # an aggregation-only pass (map-side count partials — no
            # violation row materialized anywhere); the persisted/reported
            # frame is the deterministic two-phase sample. Costs a second
            # evaluation of the rule expressions (one per pass) — at scale
            # that trade replaces materializing up to one violation row per
            # input row.
            from .operators import sampling

            viol_totals = self._keep(
                sampling.violation_count_metrics(full_viol, self.run_id)
            )
            mets.append(viol_totals)
            batch_viol = self._keep(sampling.cap_violations(full_viol, cap))
        else:
            batch_viol = self._keep(full_viol)
        # metric frames are small aggregates — persist so report-time reads
        # never re-run the capture groupBys / pixel derivations
        batch_met = self._keep(_union(mets, self.spark, _METRICS_DDL))

        # per-partition bookkeeping in ONE aggregation each; the two collects
        # are independent → submitted concurrently (row-count scan overlaps
        # the tail of the violation job instead of following it)
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.time()

        def _collect_counts(frame: DataFrame, label: str) -> dict:
            # job description is thread-local — label inside the pooled task
            self.spark.sparkContext.setJobDescription(label)
            return {
                r["partition_id"]: r["n"]
                for r in frame.groupBy("partition_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        def _collect_totals() -> dict:
            # manifest counts must stay EXACT under a row cap — sum the
            # violations_total metric rows instead of counting sampled rows
            self.spark.sparkContext.setJobDescription("batch: violation totals")
            return {
                r["partition_id"]: r["n"]
                for r in viol_totals.groupBy("partition_id")
                .agg(F.sum("value").cast("long").alias("n"))
                .collect()
            }

        pool = ThreadPoolExecutor(max_workers=2)
        viol_fut = pool.submit(
            _collect_totals if cap is not None else
            lambda: _collect_counts(batch_viol, "batch: violations")
        )
        rows_fut = pool.submit(
            _collect_counts, batch_df, "batch: per-partition row counts"
        )

        self._persist_batch(batch_viol, batch_met)
        self._violation_dfs.append(batch_viol)
        self._metric_dfs.append(batch_met)

        if defer:
            # whole-table deferral (see validate()): leave the two count
            # jobs in flight and let finalize's global jobs overlap them —
            # _join_deferred_counts() marks the manifest once they resolve
            self._deferred_counts = (pool, viol_fut, rows_fut, batch_t0, t0)
            return 0
        viol_counts = viol_fut.result()
        row_counts = rows_fut.result()
        pool.shutdown(wait=False)
        _prof("batch violations + row counts (row+ref+count+pixel)", t0)
        self._mark_batch(partitions, viol_counts, row_counts, batch_t0)
        return sum(viol_counts.values())

    def _mark_batch(
        self,
        partitions: list[int] | None,
        viol_counts: dict,
        row_counts: dict,
        batch_t0: float,
    ) -> None:
        """Manifest bookkeeping for one batch's resolved counts."""
        batch_seconds = time.time() - batch_t0
        if partitions is None:
            # the row counts define the id set (every discovered id carries
            # >= 1 row by construction; violation pids are a subset) — latch
            # it so all_partitions() never pays its discovery scan
            partitions = sorted(set(row_counts) | set(viol_counts))
            self._discovered_partitions = partitions
        for pid in partitions:
            nv = viol_counts.get(pid, 0)
            self.manifest.mark(
                pid,
                FAILED if nv > 0 else VALIDATED,
                rows=row_counts.get(pid, 0),
                violations=nv,
                seconds=batch_seconds,
            )
        # a failed partition is still *validated* for resume purposes — it
        # won't be re-run; FAILED only affects the report flag. Promote:
        for pid in partitions:
            if self.manifest.entries[pid]["status"] == FAILED:
                self.manifest.entries[pid]["status"] = VALIDATED
                self.manifest.entries[pid]["failed"] = True
        self._save_manifest()

    def _join_deferred_counts(self) -> None:
        """Resolve a deferred whole-table batch's count futures (no-op when
        nothing was deferred). Called by finalize before anything reads the
        manifest or the discovered id set."""
        deferred = getattr(self, "_deferred_counts", None)
        if deferred is None:
            return
        self._deferred_counts = None
        pool, viol_fut, rows_fut, batch_t0, t0 = deferred
        viol_counts = viol_fut.result()
        row_counts = rows_fut.result()
        pool.shutdown(wait=False)
        _prof("batch violations + row counts (deferred join)", t0)
        self._mark_batch(None, viol_counts, row_counts, batch_t0)

    def _frozen_edges(self, rule, batch_df: DataFrame) -> list:
        """Frozen bin edges for an incremental sweep rule: loaded from the
        checkpoint if a prior run froze them, else computed from the FIRST
        validated batch with in-scope rows and persisted. Bins only set the
        comparison's resolution — every group is compared against the rest
        on the same bins — so first-batch quantiles are a sound bin
        definition. A batch with no in-scope rows yields no edges (and an
        empty partial): the record stays open for the next batch, so a
        leading empty batch cannot pin every group into one bin."""
        edges = self._drift_frozen_edges.get(rule.id)
        path = self._sink(f"drift_edges_{rule.id}.json")
        if edges is None and path and os.path.exists(path):
            with open(path) as f:
                edges = json.load(f)
        if not edges and batch_df is not None:
            edges = drift_ops.compute_edges(batch_df, rule)
            if path:
                os.makedirs(self.checkpoint_dir, exist_ok=True)
                with open(path, "w") as f:
                    json.dump(edges, f)
        if edges is None:
            raise RuntimeError(
                f"rule {rule.id!r}: drift partials exist but the frozen-edge "
                "record is missing (checkpoint incomplete?) — cannot bin-merge"
            )
        self._drift_frozen_edges[rule.id] = edges
        return edges

    def _prefetch_drift_edges(self) -> None:
        """Launch the drift rules' bin-edge jobs on driver threads so they
        overlap the per-partition batch stage — finalize then pays only the
        histogram job per rule instead of two serial jobs. Spark job
        submission from multiple driver threads is the standard pattern; the
        edges read the full (final) table, which in the incremental model is
        identical at prefetch time and finalize time for batch inputs.
        Incremental sweep rules are excluded: their edges freeze on the
        first batch and their histograms come from partials — a full-table
        prefetch would defeat the point."""
        # guard on ATTEMPTED, not on the futures dict: when every eligible
        # rule is snapshot-referenced the submit loop below adds nothing, and
        # a futures-dict guard would recreate (and abandon) a fresh pool on
        # every validate_pending call
        if self._drift_prefetch_attempted:
            return
        self._drift_prefetch_attempted = True
        to_submit = [
            dr
            for dr in self.program.drift_rules
            if not dr.incremental
            and not (
                dr.reference and drift_ops.is_snapshot(self.dims[dr.reference])
            )
        ]
        if not to_submit:
            return
        from concurrent.futures import ThreadPoolExecutor

        self._drift_pool = ThreadPoolExecutor(
            max_workers=len(to_submit),
            thread_name_prefix="mdv-drift-edges",
        )

        def _edge_job(dr):
            # job group is thread-local: tag the prefetch scans so a
            # fast-fail can cancel them instead of letting full-table
            # quantile jobs run to completion after the run already died
            self.spark.sparkContext.setJobGroup(
                f"mdv-drift-edges-{self.run_id}",
                "drift bin-edge prefetch",
                interruptOnCancel=True,
            )
            if dr.reference:
                # two-table rule: bins are defined by the REFERENCE table
                return drift_ops.reference_edges(self.dims[dr.reference], dr)
            return drift_ops.compute_edges(self.df, dr)

        for dr in to_submit:
            self._drift_edge_futs[dr.id] = self._drift_pool.submit(_edge_job, dr)

    def _cancel_drift_prefetch(self) -> None:
        """Fast-fail cleanup: cancel queued edge jobs, interrupt running
        ones, and release the pool's non-daemon threads (otherwise they keep
        scanning the full table and delay interpreter exit)."""
        if self._drift_pool is None:
            return
        self._drift_pool.shutdown(wait=False, cancel_futures=True)
        self._drift_pool = None
        self.spark.sparkContext.cancelJobGroup(f"mdv-drift-edges-{self.run_id}")

    def _drift_edges(self, rule) -> list[float] | None:
        fut = self._drift_edge_futs.get(rule.id)
        if fut is None or fut.cancelled():
            return None  # drift_check recomputes edges itself
        return fut.result()

    def finalize(self) -> Report:
        """Global rules over the full table — the canonical EOF pass.

        Drift rules need driver-interactive jobs (approxQuantile, histogram
        collect), so they run on a thread pool CONCURRENTLY with the
        unique/count evaluation: the fixed latency of the global pass is the
        max of the two, not the sum. (Spark job submission from multiple
        driver threads is a supported, standard pattern.)"""
        from concurrent.futures import ThreadPoolExecutor

        # idempotent: a caller may reach finalize() without validate_pending
        # (resume with nothing pending) — schema drift must still be checked
        if self._check_schema() > 0 and self.spec.fast_fail:
            self._cancel_drift_prefetch()
            return self.report()

        prog = self.program
        # global-stage kinds evaluate through GLOBAL_EVALUATORS, in two calls
        # around the merge of the incremental families' partials (which the
        # table skips) so frames and eager jobs keep their order
        scope = GlobalScope(
            self.df, self.run_id, self.spec, self.dims, self._keep,
            lambda: len(self.all_partitions()), self.manifest,
        )
        viols, mets = global_results(scope, (
            *(r for r in prog.group_rules if not getattr(r, "incremental", False)),
            *prog.metric_bound_rules,
        ))

        # full-scan stats and plain drift histograms FUSE into one global
        # aggregation job (see _run_fused_global below) — the stats rules
        # are pulled out of `mets` here and merged back after the fused job
        # resolves, so the whole global-metrics stage costs ONE table scan
        full_stats = tuple(r for r in prog.stats_rules if not r.incremental)
        vp = tuple(r for r in full_stats if r.top_values or r.entropy)
        if vp:  # exact value-distribution metrics: one shared grouped pass
            mets.append(agg_rules.value_profile_metrics(self.df, vp, self.run_id))

        # incremental families merge their kept partials — O(#partitions),
        # never a table rescan (the incremental EOF pass); a run finalized
        # before any batch takes the partial of the whole table instead
        for fam, key, rules in self._partial_units:
            pieces = self._partials.get(key)
            p_viol, p_met = fam.result(
                self, rules,
                reduce(DataFrame.unionByName, pieces) if pieces
                else fam.partial(self, rules, self.df),
            )
            if p_viol is not None:
                viols.append(p_viol)
            mets.append(p_met)

        more_viols, more_mets = global_results(
            scope, (*prog.sequence_rules, *prog.overlap_rules, *prog.volume_rules)
        )
        viols += more_viols
        mets += more_mets

        t0 = time.time()
        drift_futs = []
        uc_viol = None
        pre_met = None
        n_uc = 0
        cap = self.spec.max_violations_per_rule
        full_uc = _union(viols, self.spark, _VIOLATIONS_DDL) if viols else None
        uc_totals = None
        if viols and cap is not None:
            # global rules (uniqueness on a duplicate-heavy key, grouped
            # counts) can emit violation rows proportional to the input —
            # same bounded-sink treatment as the batch stage
            from .operators import sampling

            uc_totals = self._keep(
                sampling.violation_count_metrics(full_uc, self.run_id)
            )
            mets.append(uc_totals)
        # consolidate the accumulated per-batch pieces into ONE compact
        # cached frame each, materialized CONCURRENTLY with the global jobs:
        # the union of dozens of 64-partition batch caches is expensive to
        # re-analyze and re-scan on every report access (hundreds of
        # near-empty tasks + a large plan), and that cost is width-
        # independent — pure Amdahl serial time at 4N. Paying it once here,
        # hidden behind the unique/stats/drift jobs, makes report-time
        # counts a ~width·2-task cached scan.
        width = 2 * self.spark.sparkContext.defaultParallelism
        old_viols, old_mets = list(self._violation_dfs), list(self._metric_dfs)

        def _consolidate(pieces: list[DataFrame], ddl: str) -> DataFrame:
            # a single-batch run has nothing to consolidate: its one piece is
            # already a persisted (and counted) frame — re-caching a coalesced
            # copy would pay a full extra pass for an identical cache
            if len(pieces) == 1:
                return pieces[0]
            return self._keep(
                _union(pieces, self.spark, ddl).coalesce(width)
            )

        batch_viol_c = _consolidate(old_viols, _VIOLATIONS_DDL)
        batch_met_c = _consolidate(old_mets, _METRICS_DDL)
        def _desc(label, fn, *a):
            # job description is thread-local — label inside the pooled task
            self.spark.sparkContext.setJobDescription(label)
            return fn(*a)

        with ThreadPoolExecutor(max_workers=6 + len(prog.drift_rules)) as pool:
            def _run_drift(dr):
                # resolve the prefetched edges INSIDE the pooled task so a
                # still-running edge job never blocks submission of the rest
                self.spark.sparkContext.setJobDescription(
                    f"finalize: drift {dr.id}"
                )
                return drift_ops.drift_check(
                    self.df, dr, self.run_id, self._drift_edges(dr)
                )

            def _run_drift_ref(ref_name, drs):
                # two-table rules sharing one reference frame FUSE into a
                # single drift_vs_reference call: one stacked histogram scan
                # of each table covers all of them. sweep_by rules are the
                # per-group variant (candidate group g vs reference group g)
                # and each pay their own two groupBy(group, bin) passes.
                whole = [dr for dr in drs if not dr.sweep_by]
                sweeps = [dr for dr in drs if dr.sweep_by]
                viols, mets, n = [], [], 0
                if whole and drift_ops.is_snapshot(self.dims[ref_name]):
                    # persisted profile snapshot: frozen bins + reference
                    # histogram ride in the frame itself — one candidate
                    # scan, no reference-table IO (sweeps rejected at open)
                    v, m, k = drift_ops.drift_vs_snapshot(
                        self.dims[ref_name], self.df, list(whole), self.run_id
                    )
                    viols.append(v)
                    mets.append(m)
                    n += k
                elif whole:
                    em = {}
                    for dr in whole:
                        e = self._drift_edges(dr)
                        if e is not None:
                            em[dr.id] = e
                    v, m, k = drift_ops.drift_vs_reference(
                        self.dims[ref_name], self.df, list(whole),
                        self.run_id, em,
                    )
                    viols.append(v)
                    mets.append(m)
                    n += k
                for dr in sweeps:
                    v, m, k = drift_ops.drift_sweep_vs_reference(
                        self.dims[ref_name], self.df, dr, self.run_id,
                        edges=self._drift_edges(dr),
                    )
                    viols.append(v)
                    mets.append(m)
                    n += k
                from functools import reduce as _reduce

                return (
                    _reduce(lambda a, b: a.unionByName(b), viols),
                    _reduce(lambda a, b: a.unionByName(b), mets),
                    n,
                )

            def _run_fused_global():
                # ONE aggregation job covers every full-scan global metric:
                # the fused stats aggregates PLUS a frozen-edge histogram
                # per plain drift rule (count_if columns) — the stage that
                # used to pay one full scan per family now pays one total
                # (guide §1.2; plan diff: stats agg + drift groupBy → one
                # Aggregate). Edges resolve here so a still-running
                # prefetch job never blocks submission of the other tasks.
                self.spark.sparkContext.setJobDescription(
                    "finalize: fused global stats + drift histograms"
                )
                aggs = (
                    agg_rules.stats_agg_columns(self.df, full_stats)
                    if full_stats
                    else []
                )
                specs = []
                for j, dr in enumerate(fusable_drift):
                    edges = self._drift_edges(dr)
                    if edges is None:
                        edges = drift_ops.compute_edges(self.df, dr)
                    h, nb = drift_ops.fused_hist_aggs(dr, edges, f"__h{j}")
                    specs.append((dr, nb, len(aggs), len(h)))
                    aggs += h
                wide = self._keep(self.df.agg(*aggs))
                row = wide.collect()[0]
                results = [
                    drift_ops.drift_check_from_counts(
                        self.spark, dr, self.run_id,
                        [row[i] for i in range(off, off + width)], nb,
                    )
                    for dr, nb, off, width in specs
                ]
                stats_met = (
                    agg_rules.stats_melt_from_wide(
                        wide, full_stats, self.run_id
                    )
                    if full_stats
                    else None
                )
                return stats_met, results

            ref_groups: dict[str, list] = {}
            plain_drift = []
            for dr in prog.drift_rules:
                if dr.incremental:
                    continue  # merged from its partials above
                if dr.reference:
                    ref_groups.setdefault(dr.reference, []).append(dr)
                else:
                    plain_drift.append(dr)
            # plain non-sweep rules ride the fused global aggregation;
            # sweeps need their per-group histogram pass
            fusable_drift = [dr for dr in plain_drift if not dr.sweep_by]
            fused_fut = (
                pool.submit(_run_fused_global)
                if (full_stats or fusable_drift)
                else None
            )
            drift_futs = [
                pool.submit(_run_drift, dr)
                for dr in plain_drift
                if dr not in fusable_drift
            ] + [
                pool.submit(_run_drift_ref, name, drs)
                for name, drs in ref_groups.items()
            ]
            bv_fut = pool.submit(
                _desc, "finalize: consolidate batch violations",
                batch_viol_c.count,
            )
            bm_fut = pool.submit(
                _desc, "finalize: consolidate batch metrics",
                batch_met_c.count,
            )

            # the metrics union (the one real job among the metric frames)
            # materializes HERE, overlapped with the unique/count and drift
            # jobs — report-time metrics reads become cache hits instead of
            # a trailing serial job. The fused job's stats frame joins the
            # union as soon as it resolves (its melt is a cached 1-row read).
            def _build_met():
                pieces = list(mets)
                if fused_fut is not None:
                    stats_met, _ = fused_fut.result()
                    if stats_met is not None:
                        pieces.append(stats_met)
                if not pieces:
                    return None
                pm = self._keep(_union(pieces, self.spark, _METRICS_DDL))
                self.spark.sparkContext.setJobDescription(
                    "finalize: global metrics union"
                )
                pm.count()
                return pm

            met_fut = (
                pool.submit(_build_met)
                if (mets or fused_fut is not None)
                else None
            )
            # a deferred whole-table batch's count jobs have been in flight
            # since the batch stage — join them now that every global job is
            # submitted, so they resolve WHILE the pool works instead of
            # before it starts (guide §2.6)
            self._join_deferred_counts()
            if viols:
                if cap is not None:
                    from .operators import sampling

                    uc_viol = self._keep(sampling.cap_violations(full_uc, cap))
                    pool.submit(
                        _desc, "finalize: capped global violations",
                        uc_viol.count,
                    )  # materialize the sample
                    n_uc = int(
                        sum(
                            r["n"] or 0
                            for r in uc_totals.groupBy()
                            .agg(F.sum("value").cast("long").alias("n"))
                            .collect()
                        )
                    )
                else:
                    uc_viol = self._keep(full_uc)
                    n_uc = pool.submit(
                        _desc, "finalize: global violations (unique/count)",
                        uc_viol.count,
                    ).result()
            drift_results = [f.result() for f in drift_futs]
            if fused_fut is not None:
                drift_results += fused_fut.result()[1]
            if met_fut is not None:
                pre_met = met_fut.result()
            bv_fut.result()
            bm_fut.result()
        _prof("global pass (unique+count ∥ stats ∥ drift ∥ consolidate)", t0)
        if self._drift_pool is not None:
            self._drift_pool.shutdown(wait=False)
            self._drift_pool = None
        # the consolidated frames now hold the data — release the per-batch
        # piece caches (their checkpoint parquet, if any, is already written);
        # a piece REUSED as the consolidated frame stays cached
        for piece in old_viols + old_mets:
            if piece is batch_viol_c or piece is batch_met_c:
                continue
            piece.unpersist()  # no-op on never-persisted pieces (schema sv)

        viols = [uc_viol] if uc_viol is not None else []
        mets = [pre_met] if pre_met is not None else []
        n_drift = 0
        for dv, dm, n_dv in drift_results:
            viols.append(dv)
            n_drift += n_dv  # counted driver-side when the rows were built
            mets.append(dm)

        g_viol = self._keep(_union(viols, self.spark, _VIOLATIONS_DDL))
        g_met = _union(mets, self.spark, _METRICS_DDL)
        n_global = n_uc + n_drift

        self._persist_global(g_viol, g_met)
        self._violation_dfs = [batch_viol_c, g_viol]
        self._metric_dfs = [batch_met_c, g_met]

        for pid in self.all_partitions():
            if pid in self.manifest.entries:
                self.manifest.mark(pid, FINALIZED)
        self.manifest.complete = True
        self._save_manifest()
        if self.fingerprint_gate and self.checkpoint_dir:
            self._save_fingerprint_snapshot()
        self._finalized = True
        self._global_violations = n_global
        return self.report()

    def validate(self, batch_size: int | None = None) -> Report:
        """One-shot: validate everything then finalize (the library one-shot
        entry, reference examples/simple.rs)."""
        self.validate_pending(batch_size, _defer_counts=True)
        if self.spec.fast_fail and (
            self.manifest.total_violations > 0 or self._schema_violations > 0
        ):
            self._cancel_drift_prefetch()
            if self.fingerprint_gate:
                # finalize() is the only place the fingerprint snapshot is
                # written, so a fast-fail abort leaves the gate unarmed —
                # say so loudly, or every later gated run over a red table
                # fully revalidates while the caller believes content
                # gating is active (the same silent-stand-down class the
                # smoke+gate combination is refused for)
                import warnings

                warnings.warn(
                    "fingerprint_gate: fast_fail aborted the run before "
                    "finalize, so no fingerprint snapshot was written — "
                    "the next gated run will fully revalidate. Fix the "
                    "violations (or drop fast_fail) to arm the gate.",
                    stacklevel=2,
                )
            return self.report()
        return self.finalize()

    # -------------------------------------------------------------- report

    def report(self) -> Report:
        if getattr(self, "_cached_report", None) is not None:
            return self._cached_report
        # post-finalize this is a 2-frame union (consolidated batch cache +
        # small global cache) — already compact and fully materialized, so
        # report reads are cache hits with a trivial plan. Pre-finalize
        # (incremental inspection mid-run) it is the raw piece list.
        violations = _union(self._violation_dfs, self.spark, _VIOLATIONS_DDL)
        metrics = _union(self._metric_dfs, self.spark, _METRICS_DDL)
        manifest_df = self.spark.createDataFrame(
            self.manifest.rows(),
            "run_id string, partition_id int, status string, rows long, "
            "violations long, started_at string, finished_at string, "
            "seconds double",
        )
        soft = {
            r.id: r.max_violation_rate
            for r in self.spec.rules
            if getattr(r, "max_violation_rate", None) is not None
        }
        if not soft:
            # hard semantics: the cheap int-counter path, zero extra jobs
            errored = (
                self.manifest.total_violations > 0
                or bool(getattr(self, "_global_violations", 0))
                or self._schema_violations > 0
            )
        else:
            errored = self._verdict_with_tolerances(soft, violations, metrics)
        rep = Report(violations, metrics, manifest_df, errored)
        if self._finalized:
            self._cached_report = rep
        return rep

    def _verdict_with_tolerances(
        self, soft: dict[str, float], violations: DataFrame, metrics: DataFrame
    ) -> bool:
        """Run verdict with per-rule tolerances (Rule.max_violation_rate):
        a hard rule (no rate) fails the run on ANY violation; a soft rule
        fails it only when exact_violations / rows_validated exceeds its
        rate. Per-rule totals start from a count of the violations frame and
        are OVERRIDDEN by the aggregation-only ``violations_total`` metric
        sums wherever those exist — under max_violations_per_rule the frame
        is a bounded sample, but the metrics carry the exact counts, so the
        verdict never degrades to sampled arithmetic. Denominator: the
        manifest's validated row sum — EXCEPT for decode-sampled rules
        (pixel/degenerate with sample_rate < 1), whose own
        ``pixel_checked``/``degenerate_checked`` metric sums ARE the honest
        denominator: those kernels only emit (and can only violate on) the
        sampled rows, so dividing by the full corpus would deflate the
        observed rate by the sample factor and let a poisoned corpus
        validate clean under its tolerance. Cost: three tiny aggregations
        over already-cached frames, paid only when a tolerance is
        declared."""
        if self._schema_violations > 0:
            return True  # schema rules are metadata-level, always hard
        totals = {
            r["rule_id"]: int(r["n"])
            for r in violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for r in (
            metrics.where(F.col("metric") == "violations_total")
            .groupBy("rule_id")
            .agg(F.sum("value").cast("long").alias("n"))
            .collect()
        ):
            totals[r["rule_id"]] = int(r["n"])
        checked = {
            r["rule_id"]: int(r["n"])
            for r in metrics.where(
                F.col("metric").isin("pixel_checked", "degenerate_checked")
            )
            .groupBy("rule_id")
            .agg(F.sum("value").cast("long").alias("n"))
            .collect()
        }
        rows_total = self.manifest.total_rows
        for rid, n in totals.items():
            if n <= 0:
                continue
            rate = soft.get(rid)
            if rate is None:
                return True  # hard rule with violations
            denom = checked.get(rid, rows_total)
            if denom <= 0 or n / denom > rate:
                return True  # soft rule over budget
        return False

    # ---------------------------------------------------------- persistence

    def _sink(self, name: str) -> str | None:
        return os.path.join(self.checkpoint_dir, name) if self.checkpoint_dir else None

    def _persist_batch(self, viol: DataFrame, met: DataFrame) -> None:
        if not self.checkpoint_dir:
            return
        # dynamic partition overwrite → re-running a partition replaces its
        # lineage instead of appending duplicates (idempotent resume)
        write_partitioned(viol, self._sink("violations"))
        write_partitioned(met, self._sink("metrics"))

    def _persist_global(self, viol: DataFrame, met: DataFrame) -> None:
        if not self.checkpoint_dir:
            return
        viol.write.mode("overwrite").parquet(self._sink("violations_global"))
        met.write.mode("overwrite").parquet(self._sink("metrics_global"))

    def _reload_persisted(self) -> None:
        """On resume, load already-persisted per-partition outputs so report()
        includes prior batches."""
        done = sorted(
            p
            for p, e in self.manifest.entries.items()
            if e["status"] in (VALIDATED, FINALIZED)
        )
        if not done:
            return
        # explicit schemas throughout: a batch with no in-scope rows leaves
        # a part-file-less directory that schema inference refuses
        reloads = [
            ("violations", _VIOLATIONS_DDL, self._violation_dfs),
            ("metrics", _METRICS_DDL, self._metric_dfs),
        ] + [
            (key, fam.schema(self, rules), self._partials.setdefault(key, []))
            for fam, key, rules in self._partial_units
        ]
        for name, schema, target in reloads:
            path = self._sink(name)
            if os.path.exists(path):
                target.append(
                    read_partials(self.spark, path, schema).where(
                        F.col("partition_id").isin(done)
                    )
                )

    def _save_manifest(self) -> None:
        if self.checkpoint_dir:
            self.manifest.save(self.checkpoint_dir)


def validate_table(
    spark: SparkSession,
    df: DataFrame,
    spec: Spec,
    dims: dict[str, DataFrame] | None = None,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    fingerprint_gate: bool = False,
    fingerprint_columns: tuple | None = None,
) -> Report:
    """One-call API (reference examples/simple.rs:1-43).

    ``fingerprint_gate=True`` (requires ``checkpoint_dir``): persist
    per-partition content fingerprints at finalize; a LATER gated run over
    a new snapshot of the same table re-validates only the partitions
    whose fingerprint moved and carries the rest forward — see
    ValidationRun._apply_fingerprint_gate."""
    return ValidationRun(
        spark, spec, df, dims=dims, run_id=run_id, checkpoint_dir=checkpoint_dir,
        fingerprint_gate=fingerprint_gate, fingerprint_columns=fingerprint_columns,
    ).validate()


def smoke_validate(
    spark: SparkSession,
    df: DataFrame,
    spec: Spec,
    fraction: float,
    dims: dict[str, DataFrame] | None = None,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    batch_size: int | None = None,
) -> Report:
    """Validate a deterministic keyed SAMPLE of the table and extrapolate
    per-rule violation rates with Wilson confidence bounds — the cheap,
    statistically honest preview before committing a cluster to the full
    pass (operators/smoke.py has the full design note).

    The sample is the real engine's input: everything downstream —
    compile, batching, manifest/resume, every rule family, sinks — is the
    unmodified ``ValidationRun``; smoke mode adds only a scan-stage filter
    (md5-threshold on ``spec.key_column``, shuffle-free, stable across
    runs/resumes/cluster sizes, portable to the DuckDB oracle) and an
    estimation layer appended as ordinary metric rows (``smoke_rate``,
    ``smoke_rate_lo``/``_hi``, ``smoke_est_total`` per rule;
    ``sample_fraction``/``sample_rows`` under rule_id ``__smoke__``)."""
    from .operators import sampling, smoke

    run = ValidationRun(
        spark, spec, df.where(smoke.sample_predicate(spec.key_column, fraction)),
        dims=dims, run_id=run_id, checkpoint_dir=checkpoint_dir,
    )
    rep = run.validate(batch_size=batch_size)
    # sampled row count: already tallied per partition in the manifest as
    # batches validated — a driver-side sum, no extra job
    sample_rows = sum(
        e.get("rows") or 0 for e in run.manifest.entries.values()
    )
    # per-rule violation totals. With a violation cap the materialized rows
    # are a sample, but the exact totals survive as violations_total metric
    # rows (operators/sampling.py) — prefer those; otherwise one
    # aggregation-only job over the consolidated (cached) violation frames.
    # Either way the collect is #rules-sized, never data-sized.
    if spec.max_violations_per_rule is not None:
        counts = {
            r["rule_id"]: int(r["k"])
            for r in rep.metrics.where(
                F.col("metric") == sampling.VIOLATIONS_TOTAL
            )
            .groupBy("rule_id")
            .agg(F.sum("value").cast("long").alias("k"))
            .collect()
        }
    else:
        counts = {
            r["rule_id"]: int(r["k"])
            for r in rep.violations.groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("k"))
            .collect()
        }
    est = smoke.smoke_metrics(
        spark, counts, sample_rows, fraction, run.run_id,
        rule_ids=tuple(r.id for r in spec.rules),
    )
    return Report(
        rep.violations, rep.metrics.unionByName(est), rep.manifest, rep.errored
    )
