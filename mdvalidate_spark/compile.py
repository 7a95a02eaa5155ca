"""Spec → ConstraintProgram compilation (the analog of matcher compilation +
schema lint, reference: matchers/matcher.rs:175-208 and the schema-sanity
walkers count_non_literal_matchers_in_children.rs:40-85 /
check_repeating_matchers.rs:8-37).

Compilation is pure Python on the driver: it validates every rule, rejects
malformed specs with typed SchemaError (never at run time, never per-row), and
groups rules into execution *stages* so each stage is one fused DataFrame pass
— the engine-level equivalent of the reference evaluating all constraints of a
container in a single child sweep (containers.rs:212-230) rather than one walk
per rule.

Each rule kind declares its stage once, as ``stage`` beside its ``kind`` on
its spec.py class; stage ``s`` fills ``ConstraintProgram.s_rules`` (STAGES):
  schema  — SchemaRule: driver-side metadata compare, before any scan
  row     — the per-row kinds: ONE fused select over the scan (+ ref: broadcast
            joins fused into it)
  count / capture — per-partition Count (no group_by) / capture metrics
  pixel / degenerate — the Arrow-batched decode stage, the only one that reads
            the binary column (column pruning keeps it out of all others)
  stats   — ColumnStats: one agg pass emitting metrics
  group   — Unique, grouped Count and the other whole-table kinds: shuffling
            aggregations; metric_bound fuses all bounds into one aggregation
  drift, sequence, overlap, volume — global, finalize-only

Incremental semantics (reference validator.rs:101-185): the schema, row, ref,
count, capture, pixel and degenerate stages are per-partition (evaluated only
on pending partitions); the others are *global* and run in the finalize pass
— the analog of the reference's EOF full revalidation (validator.rs:162-168)
that produces the canonical error set once all input has arrived.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields

from .errors import (
    ConflictingRulesError,
    DuplicateRuleIdError,
    InvalidBoundsError,
    MalformedRegexError,
    MixedLiteralAndBoundsError,
    SchemaError,
)
from .spec import (
    AlignmentRule,
    AssociationRule,
    BenfordRule,
    CaptureRule,
    ConcentrationRule,
    EmbeddingHealthRule,
    GapRule,
    ColumnStatsRule,
    CompositeRegexRule,
    CountRule,
    SequenceRule,
    DomainRule,
    DriftRule,
    ExprRule,
    FORMATS,
    FormatRule,
    FreshnessRule,
    FunctionalDependencyRule,
    HeaderRule,
    LiteralRule,
    MetricBoundRule,
    MonotonicRule,
    OutlierRule,
    OverlapRule,
    PiiRule,
    DegenerateImageRule,
    PixelRule,
    RangeRule,
    RefIntegrityRule,
    RegexRule,
    RepetitionRule,
    Rule,
    SchemaRule as SchemaDriftRule,
    Spec,
    TextQualityRule,
    UniqueRule,
    VectorRule,
    VolumeRule,
    parse_bound_metric,
)

@dataclass(frozen=True)
class ConstraintProgram:
    """Compiled, validated constraint DAG grouped into stages."""

    spec: Spec
    row_rules: tuple[Rule, ...] = ()
    group_rules: tuple[Rule, ...] = ()      # Unique + global Count
    count_rules: tuple[CountRule, ...] = () # per-partition Count
    ref_rules: tuple[RefIntegrityRule, ...] = ()
    stats_rules: tuple[ColumnStatsRule, ...] = ()
    metric_bound_rules: tuple[MetricBoundRule, ...] = ()
    pixel_rules: tuple[PixelRule, ...] = ()
    degenerate_rules: tuple[DegenerateImageRule, ...] = ()
    drift_rules: tuple[DriftRule, ...] = ()
    overlap_rules: tuple[OverlapRule, ...] = ()
    capture_rules: tuple[CaptureRule, ...] = ()
    sequence_rules: tuple[SequenceRule, ...] = ()
    volume_rules: tuple[VolumeRule, ...] = ()
    schema_rules: tuple[SchemaDriftRule, ...] = ()
    # columns any per-partition stage needs (for pruned scans)
    scan_columns: tuple[str, ...] = field(default=())


# stage names, in ConstraintProgram order: a rule compiles into <stage>_rules
STAGES = tuple(
    f.name[: -len("_rules")] for f in fields(ConstraintProgram)
    if f.name.endswith("_rules")
)


def _lookup(available, path: str):
    """(found, DataType or None) for a (possibly dotted) column path. A
    StructType is walked into nested structs (the reference steps INTO nested
    structure and validates inside — QuoteVsQuote,
    walkers/validators/quotes.rs:21-66); a plain column-name list only
    matches top-level names and carries no types."""
    try:
        from pyspark.sql.types import StructType
    except ImportError:  # pure-python compile callers without pyspark
        return path in available, None
    if not isinstance(available, StructType):
        return path in available, None
    cur = available
    for part in path.split("."):
        match = isinstance(cur, StructType) and next(
            (f for f in cur.fields if f.name == part), None
        )
        if not match:
            return False, None
        cur = match.dataType
    return True, cur


def _require_type(r: Rule, column: str, available_columns, types, what="",
                  message=None) -> None:
    """Typed-column lint: when a typed schema resolves ``column``, its type
    must be one of ``types`` (pyspark.sql.types class names). A wrong type
    would otherwise be cast silently instead of failing loudly. ``message(t)``
    replaces the standard "must be <what>" wording."""
    t = None if available_columns is None else _lookup(available_columns, column)[1]
    if t is None:
        return
    from pyspark.sql import types as T

    if isinstance(t, tuple(getattr(T, n) for n in types)):
        return
    t = t.simpleString()
    article = "an" if r.kind[0] in "aeiou" else "a"
    raise SchemaError(f"rule {r.id!r}: " + (
        message(t) if message else
        f"column {column!r} must be {what} for {article} {r.kind} rule, got {t}"
    ))


def compile_spec(spec: Spec, available_columns=None) -> ConstraintProgram:
    """Validate + stage a Spec. Raises SchemaError subclasses on invalid specs;
    never raises for data problems (those become violation rows).

    ``available_columns`` may be a list of top-level column names or a full
    ``StructType`` (pass ``df.schema``); with a StructType, rule targets may
    be dotted struct paths like ``meta.width`` — resolved recursively, so
    image+caption tables with struct metadata validate without flattening."""

    seen_ids: set[str] = set()
    pattern_rules_by_col: dict[str, list[str]] = {}

    for r in spec.rules:
        if r.id in seen_ids:
            raise DuplicateRuleIdError(r.id)
        seen_ids.add(r.id)

        if r.max_violation_rate is not None:
            if not (0.0 <= r.max_violation_rate < 1.0):
                raise SchemaError(
                    f"rule {r.id!r}: max_violation_rate must be in [0, 1), "
                    f"got {r.max_violation_rate}"
                )
            if isinstance(r, (ColumnStatsRule, CaptureRule)):
                # metric-only rules never emit violations — a tolerance on
                # them is vacuous and almost certainly a spec mistake
                raise SchemaError(
                    f"rule {r.id!r}: max_violation_rate is meaningless on a "
                    "metric-only rule (it emits no violations)"
                )
            if isinstance(r, SchemaDriftRule):
                # schema drift is metadata-level (≤ one violation per
                # column, denominator-free) and fast-fails before any scan
                raise SchemaError(
                    f"rule {r.id!r}: max_violation_rate does not apply to "
                    "schema rules (metadata-level, not per-row)"
                )
            if isinstance(r, MetricBoundRule):
                # ≤ one violation per rule regardless of table size — a
                # per-row rate tolerance has no denominator here
                raise SchemaError(
                    f"rule {r.id!r}: max_violation_rate does not apply to "
                    "metric bounds (aggregate-level, not per-row)"
                )

        if isinstance(r, RegexRule):
            try:
                re.compile(r.pattern)
            except re.error as e:  # reject before touching data (matcher.rs:175-208)
                raise MalformedRegexError(r.id, r.pattern, str(e)) from e
            pattern_rules_by_col.setdefault(r.column, []).append(r.id)

        if isinstance(r, CompositeRegexRule):
            if not r.pattern:
                raise SchemaError(f"rule {r.id!r}: composite rule needs a pattern")
            try:
                re.compile(r.pattern)
            except re.error as e:
                raise MalformedRegexError(r.id, r.pattern, str(e)) from e
            # counts as the column's one non-literal matcher, like RegexRule
            pattern_rules_by_col.setdefault(r.column, []).append(r.id)

        if isinstance(r, SequenceRule):
            if not r.steps:
                raise SchemaError(f"rule {r.id!r}: sequence needs >=1 step")
            if not r.group_by or not r.order_column:
                raise SchemaError(
                    f"rule {r.id!r}: sequence needs group_by and order_column"
                )
            for i, s in enumerate(r.steps):
                try:
                    re.compile(s.pattern)
                except re.error as e:
                    raise MalformedRegexError(r.id, s.pattern, str(e)) from e
                if s.min < 0 or (s.max is not None and s.max < s.min):
                    raise InvalidBoundsError(r.id, s.min, s.max)
                # a variable-length step anywhere but last is unresolvable —
                # RepeatingMatcherUnbounded (lists.rs:151-162)
                if i < len(r.steps) - 1 and (s.max is None or s.max != s.min):
                    raise SchemaError(
                        f"rule {r.id!r}: step {i} is variable-length "
                        f"({s.min},{s.max}) — only the LAST step may be"
                    )

        if isinstance(r, CaptureRule):
            try:
                compiled = re.compile(r.pattern)
            except re.error as e:
                raise MalformedRegexError(r.id, r.pattern, str(e)) from e
            if r.group < 0 or r.group > compiled.groups:
                raise SchemaError(
                    f"rule {r.id!r}: capture group {r.group} not in pattern "
                    f"({compiled.groups} group(s))"
                )

        if isinstance(r, PiiRule):
            from .operators.pii import PII_KINDS

            if r.max_total < 0:
                raise SchemaError(f"rule {r.id!r}: max_total must be >= 0")
            bad = [k for k in r.kinds if k not in PII_KINDS]
            if bad:
                raise SchemaError(
                    f"rule {r.id!r}: unknown PII kind(s) {bad}; "
                    f"valid: {', '.join(PII_KINDS)}"
                )
            _require_type(r, r.column, available_columns, ("StringType",), "STRING")

        if isinstance(r, FormatRule):
            if r.format not in FORMATS:
                raise SchemaError(
                    f"rule {r.id!r}: unknown format {r.format!r}; "
                    f"valid: {', '.join(FORMATS)}"
                )
            # format checks parse CHARACTERS: on an already-typed column the
            # implicit cast would re-render the value (e.g. a real DATE column
            # prints as yyyy-MM-dd and trivially passes) — that's a no-op
            # check hiding a spec mistake, so demand STRING like PII/repetition
            _require_type(r, r.column, available_columns, ("StringType",), "STRING")

        if isinstance(r, RepetitionRule):
            from .operators.text import REPETITION_METRIC_LIMITS, REPETITION_METRICS

            if r.metric not in REPETITION_METRICS:
                raise SchemaError(
                    f"rule {r.id!r}: unknown repetition metric {r.metric!r}; "
                    f"valid: {', '.join(REPETITION_METRICS)}"
                )
            limit = REPETITION_METRIC_LIMITS[r.metric]
            if not (0.0 <= r.max <= limit):
                raise SchemaError(
                    f"rule {r.id!r}: max must be a fraction in [0, {limit}] "
                    f"for {r.metric}, got {r.max}"
                )
            if r.min_words < 0:
                raise SchemaError(f"rule {r.id!r}: min_words must be >= 0")
            _require_type(r, r.column, available_columns, ("StringType",), "STRING")

        if isinstance(r, TextQualityRule):
            from .operators.text import _QUALITY_COLS

            metrics = tuple(m for m in _QUALITY_COLS if m != "n_lines")
            if r.metric not in metrics:
                raise SchemaError(
                    f"rule {r.id!r}: unknown quality metric {r.metric!r}; "
                    f"valid: {', '.join(metrics)}"
                )
            if r.min is None and r.max is None:
                raise SchemaError(
                    f"rule {r.id!r}: a quality gate needs min and/or max"
                )
            if r.min is not None and r.max is not None and r.min > r.max:
                raise SchemaError(
                    f"rule {r.id!r}: min {r.min} > max {r.max}"
                )
            _require_type(r, r.column, available_columns, ("StringType",), "STRING")

        if isinstance(r, LiteralRule):
            if (r.value is None) == (r.other_column is None):
                raise SchemaError(
                    f"rule {r.id!r}: exactly one of value/other_column required"
                )
            # literal escape cannot carry bounds (matcher_extras.rs:163-170) —
            # bounds live on CountRule; a LiteralRule with bounds is unrepresentable
            # by construction, but a dict-built spec may smuggle them:
            if getattr(r, "min", None) is not None or getattr(r, "max", None) is not None:
                raise MixedLiteralAndBoundsError(r.id)

        if isinstance(r, (RangeRule, CountRule)):
            lo, hi = r.min, r.max
            if lo is not None and hi is not None and lo > hi:
                raise InvalidBoundsError(r.id, lo, hi)
            if isinstance(r, CountRule) and (
                (lo is not None and lo < 0) or (hi is not None and hi < 0)
            ):
                raise InvalidBoundsError(r.id, lo, hi)
            if isinstance(r, CountRule) and r.universe:
                if not r.group_by:
                    raise SchemaError(
                        f"rule {r.id!r}: universe needs group_by (per-"
                        "partition rules use the run's own partition set)"
                    )
                if r.min is None:
                    raise SchemaError(
                        f"rule {r.id!r}: universe without min is vacuous — "
                        "a zero-row group can only violate a lower bound"
                    )
                if r.universe_columns and len(r.universe_columns) != len(r.group_by):
                    raise SchemaError(
                        f"rule {r.id!r}: universe_columns arity "
                        f"({len(r.universe_columns)}) != group_by arity "
                        f"({len(r.group_by)})"
                    )

        if isinstance(r, DomainRule) and not r.values:
            raise SchemaError(f"rule {r.id!r}: empty domain")

        if isinstance(r, MetricBoundRule):
            try:
                parse_bound_metric(r.metric)
            except ValueError as e:
                raise SchemaError(f"rule {r.id!r}: {e}") from e
            if r.min is None and r.max is None:
                # a bound rule with no bound checks nothing — reject the
                # vacuity (ColumnStatsRule is the report-only form)
                raise SchemaError(
                    f"rule {r.id!r}: metric bound needs min and/or max "
                    "(metrics without bounds belong on ColumnStatsRule)"
                )
            if r.min is not None and r.max is not None and r.min > r.max:
                raise InvalidBoundsError(r.id, r.min, r.max)

        if isinstance(r, VectorRule):
            if r.dim is None and not r.forbid_nan and (
                r.min_norm is None and r.max_norm is None
            ):
                raise SchemaError(
                    f"rule {r.id!r}: vector rule checks nothing — set dim, "
                    "forbid_nan, and/or norm bounds"
                )
            if r.dim is not None and r.dim <= 0:
                raise SchemaError(f"rule {r.id!r}: dim must be > 0, got {r.dim}")
            if (
                r.min_norm is not None
                and r.max_norm is not None
                and r.min_norm > r.max_norm
            ):
                raise InvalidBoundsError(r.id, r.min_norm, r.max_norm)

        if isinstance(r, AlignmentRule):
            if not r.column_a or not r.column_b:
                raise SchemaError(
                    f"rule {r.id!r}: alignment rule needs column_a and column_b"
                )
            if r.column_a == r.column_b:
                raise SchemaError(
                    f"rule {r.id!r}: alignment of a column with itself is "
                    "vacuous (cos = 1 wherever defined)"
                )
            if r.min_cos is None and r.max_cos is None:
                raise SchemaError(
                    f"rule {r.id!r}: alignment rule needs min_cos and/or "
                    "max_cos (a band-less cosine checks nothing)"
                )
            for name, v in (("min_cos", r.min_cos), ("max_cos", r.max_cos)):
                if v is not None and not -1.0 <= v <= 1.0:
                    raise SchemaError(
                        f"rule {r.id!r}: {name} must be in [-1, 1], got {v}"
                    )
            if (
                r.min_cos is not None
                and r.max_cos is not None
                and r.min_cos > r.max_cos
            ):
                raise InvalidBoundsError(r.id, r.min_cos, r.max_cos)

        if isinstance(r, UniqueRule) and not r.columns:
            raise SchemaError(f"rule {r.id!r}: unique rule needs >=1 column")

        if isinstance(r, BenfordRule):
            if not r.column:
                raise SchemaError(f"rule {r.id!r}: benford rule needs a column")
            if not (0.0 < r.max_mad < 1.0):
                raise SchemaError(
                    f"rule {r.id!r}: max_mad must be in (0, 1) (a share "
                    f"deviation), got {r.max_mad}"
                )
            if r.min_rows < 1:
                raise SchemaError(
                    f"rule {r.id!r}: min_rows must be >= 1, got {r.min_rows}"
                )
            _require_type(r, r.column, available_columns, ("NumericType",), "numeric")

        if isinstance(r, EmbeddingHealthRule):
            if not r.column:
                raise SchemaError(
                    f"rule {r.id!r}: embedding_health rule needs a column"
                )
            from .operators.similarity import _HEALTH_DIM_MAX

            # dim <= 512 runs as one unrolled codegen'd aggregation;
            # wider (768/1024/1536-class encoders) dispatches to the
            # Arrow-kernel wide path — both one-scan. Beyond the absolute
            # cap the column is not an embedding axis; refuse loudly.
            if not 1 <= r.dim <= _HEALTH_DIM_MAX:
                raise SchemaError(
                    f"rule {r.id!r}: dim must be in [1, {_HEALTH_DIM_MAX}]"
                    f", got {r.dim}"
                )
            if r.max_dead_dims is None and r.max_anisotropy is None:
                raise SchemaError(
                    f"rule {r.id!r}: embedding_health rule needs "
                    "max_dead_dims and/or max_anisotropy — with neither "
                    "bound set the rule can never fire"
                )
            if r.max_dead_dims is not None and not 0 <= r.max_dead_dims <= r.dim:
                raise SchemaError(
                    f"rule {r.id!r}: max_dead_dims must be in [0, dim="
                    f"{r.dim}], got {r.max_dead_dims}"
                )
            # anisotropy = ||mean vec|| / mean norm <= 1 by the triangle
            # inequality — a bound above 1 is unsatisfiable-proof vacuity
            if r.max_anisotropy is not None and not 0.0 < r.max_anisotropy <= 1.0:
                raise SchemaError(
                    f"rule {r.id!r}: max_anisotropy must be in (0, 1], "
                    f"got {r.max_anisotropy}"
                )
            if r.min_rows < 1:
                raise SchemaError(
                    f"rule {r.id!r}: min_rows must be >= 1, got {r.min_rows}"
                )
            _require_type(r, r.column, available_columns, ("ArrayType",), "an array type")

        if isinstance(r, ConcentrationRule):
            if not r.column:
                raise SchemaError(
                    f"rule {r.id!r}: concentration rule needs a column"
                )
            if r.max_top_share is None and r.max_hhi is None:
                raise SchemaError(
                    f"rule {r.id!r}: concentration rule needs max_top_share "
                    "and/or max_hhi — with neither bound set the rule can "
                    "never fire"
                )
            for nm, b in (
                ("max_top_share", r.max_top_share),
                ("max_hhi", r.max_hhi),
            ):
                if b is not None and not (0.0 < b <= 1.0):
                    raise SchemaError(
                        f"rule {r.id!r}: {nm} must be in (0, 1] (a share), "
                        f"got {b}"
                    )
            if r.min_rows < 1:
                raise SchemaError(
                    f"rule {r.id!r}: min_rows must be >= 1, got {r.min_rows}"
                )
            if r.column in r.group_by:
                raise SchemaError(
                    f"rule {r.id!r}: column {r.column!r} cannot also be a "
                    "group_by key — every group would be perfectly "
                    "concentrated by construction"
                )
            if r.incremental and r.group_by:
                raise SchemaError(
                    f"rule {r.id!r}: incremental concentration does not "
                    "support group_by (partials are keyed per value; "
                    "grouped partials would need (group, value) keys)"
                )

        if isinstance(r, GapRule):
            if not r.column:
                raise SchemaError(f"rule {r.id!r}: gap rule needs a column")
            if r.min_gap_seconds <= 0:
                raise SchemaError(
                    f"rule {r.id!r}: min_gap_seconds must be > 0, got "
                    f"{r.min_gap_seconds} — every consecutive pair has "
                    "gap >= 0; a zero threshold reports the entire series"
                )
            if r.bucket_seconds <= 0:
                raise SchemaError(
                    f"rule {r.id!r}: bucket_seconds must be > 0, "
                    f"got {r.bucket_seconds}"
                )
            _require_type(
                r, r.column, available_columns, ("DateType", "TimestampType"),
                "a timestamp/date",
            )

        if isinstance(r, FreshnessRule):
            if not r.column:
                raise SchemaError(f"rule {r.id!r}: freshness rule needs a column")
            if r.max_age_seconds < 0:
                raise SchemaError(
                    f"rule {r.id!r}: max_age_seconds must be >= 0, "
                    f"got {r.max_age_seconds}"
                )
            if not r.as_of:
                raise SchemaError(
                    f"rule {r.id!r}: freshness needs an explicit as_of "
                    "timestamp — the engine never reads the wall clock "
                    "(determinism/replay); pass the batch watermark"
                )
            from datetime import datetime

            try:
                datetime.fromisoformat(r.as_of)
            except ValueError as e:
                raise SchemaError(
                    f"rule {r.id!r}: as_of {r.as_of!r} is not an ISO "
                    f"timestamp: {e}"
                ) from e

        if isinstance(r, FunctionalDependencyRule):
            if not r.determinants or not r.dependents:
                raise SchemaError(
                    f"rule {r.id!r}: fd rule needs >=1 determinant and "
                    ">=1 dependent column"
                )
            overlap = set(r.determinants) & set(r.dependents)
            if overlap:
                # a dependent that is also a determinant is trivially
                # functional — the rule can never fire; reject the vacuity
                raise SchemaError(
                    f"rule {r.id!r}: column(s) {sorted(overlap)} appear as "
                    "both determinant and dependent (vacuously satisfied)"
                )

        if isinstance(r, ExprRule):
            if not r.expr:
                raise SchemaError(f"rule {r.id!r}: expr rule needs an expression")
            if not r.columns:
                # the declared columns ARE the pruned-scan contract — an
                # undeclared read would only surface as an AnalysisException
                # against the pruned frame mid-run; demand the declaration
                raise SchemaError(
                    f"rule {r.id!r}: expr rule must declare the columns its "
                    "expression reads (scan pruning + schema lint)"
                )

        if isinstance(r, HeaderRule):
            if not r.column:
                raise SchemaError(f"rule {r.id!r}: header rule needs a column")
            if not (
                r.magic or r.magic_by_fmt or r.fmt_codes or r.w_column or r.h_column
            ):
                raise SchemaError(
                    f"rule {r.id!r}: header rule checks nothing — set magic, "
                    "magic_by_fmt, fmt_codes, and/or w/h columns"
                )
            if r.magic and r.magic_by_fmt:
                raise SchemaError(
                    f"rule {r.id!r}: magic and magic_by_fmt are exclusive "
                    "(one shared prefix OR per-format prefixes)"
                )
            if (r.magic_by_fmt or r.fmt_codes) and not r.fmt_column:
                raise SchemaError(
                    f"rule {r.id!r}: per-format checks need fmt_column"
                )
            for hx in (r.magic, *(h for _, h in r.magic_by_fmt)):
                if hx and (
                    len(hx) % 2 != 0
                    or any(ch not in "0123456789ABCDEF" for ch in hx)
                ):
                    raise SchemaError(
                        f"rule {r.id!r}: magic {hx!r} is not an even-length "
                        "hex string"
                    )
            for k, code in r.fmt_codes:
                try:
                    ok = 0 <= int(code) <= 255
                except (TypeError, ValueError):
                    ok = False
                if not ok:
                    raise SchemaError(
                        f"rule {r.id!r}: fmt code for {k!r} must be one "
                        f"byte (0-255), got {code!r}"
                    )
            for off in (r.code_offset, r.w_offset, r.h_offset):
                if off < 0:
                    raise SchemaError(
                        f"rule {r.id!r}: header offsets must be >= 0"
                    )
            if r.w_column and r.h_column and abs(r.w_offset - r.h_offset) < 2:
                raise SchemaError(
                    f"rule {r.id!r}: w/h u16 offsets overlap "
                    f"({r.w_offset}, {r.h_offset})"
                )
            # the code byte must not sit inside either u16 dim field — an
            # overlapping layout reads the same bytes as two different
            # things and one of the checks is then always wrong (ADVICE r3)
            if r.fmt_codes:
                for name, col, off in (
                    ("w", r.w_column, r.w_offset),
                    ("h", r.h_column, r.h_offset),
                ):
                    if col and off <= r.code_offset < off + 2:
                        raise SchemaError(
                            f"rule {r.id!r}: code_offset {r.code_offset} "
                            f"overlaps the {name} u16 field "
                            f"[{off}, {off + 2})"
                        )
            if r.magic and r.fmt_codes and r.code_offset < len(r.magic) // 2:
                raise SchemaError(
                    f"rule {r.id!r}: code_offset {r.code_offset} sits inside "
                    f"the {len(r.magic) // 2}-byte magic prefix — the code "
                    "byte would be constrained to a magic byte"
                )
            # header extraction is byte arithmetic: on a STRING column
            # substring/hex operate per CHARACTER, so multibyte text
            # silently mis-extracts instead of failing loudly — demand
            # BinaryType when a typed schema is available (ADVICE r3)
            _require_type(
                r, r.column, available_columns, ("BinaryType",),
                message=lambda t: f"header rule column {r.column!r} must be BINARY, "
                f"got {t} (byte offsets are not character offsets)",
            )

        if isinstance(r, (PixelRule, DegenerateImageRule)):
            # lower bound 1e-6: the kernel's sample threshold is integer
            # micro-units, so a smaller rate rounds to ZERO kept rows — a
            # gate that can never fire while claiming a sampled verdict
            if not 1e-6 <= r.sample_rate <= 1:
                raise SchemaError(
                    f"rule {r.id!r}: sample_rate must be in [1e-6, 1], got "
                    f"{r.sample_rate} (1.0 decodes every row; the sample "
                    "threshold has micro-unit resolution)"
                )
            # sampled decode membership hashes the STRINGIFIED key, and the
            # native kernel sees raw arrow values while the Arrow path sees
            # Spark's string cast — for non-string keys whose Python repr
            # differs from Spark's cast (binary -> "b'..'", large floats ->
            # '1e+20' vs '1.0E20') the two paths would pick DIFFERENT
            # sample rows. Demand a string key when sampling is on and a
            # typed schema is available (ADVICE r4); cast upstream.
            if r.sample_rate < 1:
                _require_type(
                    r, spec.key_column, available_columns, ("StringType",),
                    message=lambda t: "sample_rate < 1 requires a STRING key column "
                    "for path-identical sample membership; key "
                    f"{spec.key_column!r} is {t} — cast it upstream",
                )

        if isinstance(r, DegenerateImageRule):
            if r.contrast_floor < 0:
                raise SchemaError(
                    f"rule {r.id!r}: contrast_floor must be >= 0, got "
                    f"{r.contrast_floor}"
                )
            if not 0 < r.saturated_ceiling <= 1:
                raise SchemaError(
                    f"rule {r.id!r}: saturated_ceiling must be in (0, 1], "
                    f"got {r.saturated_ceiling} (it is a fraction of samples)"
                )
            if r.grayscale_floor is not None and r.grayscale_floor < 0:
                raise SchemaError(
                    f"rule {r.id!r}: grayscale_floor must be >= 0, got "
                    f"{r.grayscale_floor}"
                )
            _require_type(
                r, r.bytes_column, available_columns, ("BinaryType",),
                message=lambda t: f"degenerate-image column {r.bytes_column!r} must "
                f"be BINARY, got {t} (the payload is decoded as image bytes)",
            )

        if isinstance(r, VolumeRule):
            if r.k <= 0:
                raise SchemaError(f"rule {r.id!r}: k must be > 0, got {r.k}")
            if r.abs_tol < 0:
                raise SchemaError(
                    f"rule {r.id!r}: abs_tol must be >= 0, got {r.abs_tol}"
                )
            if r.min_partitions < 2:
                raise SchemaError(
                    f"rule {r.id!r}: min_partitions must be >= 2 "
                    "(one partition has no distribution)"
                )
            if r.universe_column and not r.universe:
                raise SchemaError(
                    f"rule {r.id!r}: universe_column without universe is "
                    "vacuous — name the dims table enumerating expected "
                    "partition ids"
                )

        if isinstance(r, RefIntegrityRule):
            if r.columns and (r.column or r.dim_column):
                raise SchemaError(
                    f"rule {r.id!r}: give either column/dim_column or "
                    "columns/dim_columns, not both"
                )
            if r.columns and len(r.columns) != len(r.dim_columns):
                raise SchemaError(
                    f"rule {r.id!r}: columns ({len(r.columns)}) and "
                    f"dim_columns ({len(r.dim_columns)}) must pair up"
                )
            if not r.columns and not r.column:
                raise SchemaError(
                    f"rule {r.id!r}: ref rule needs column or columns"
                )

        if isinstance(r, SchemaDriftRule):
            if not r.expected:
                raise SchemaError(f"rule {r.id!r}: schema rule needs >=1 expected column")
            names = [n for n, _ in r.expected]
            if len(names) != len(set(names)):
                raise SchemaError(f"rule {r.id!r}: duplicate column in expected schema")

        if isinstance(r, DriftRule) and r.method not in ("ks", "psi"):
            raise SchemaError(f"rule {r.id!r}: unknown drift method {r.method!r}")
        if isinstance(r, DriftRule) and r.categorical and r.method != "psi":
            # KS is a statement about an ORDERED ECDF; category order is
            # arbitrary, so a categorical KS statistic would silently depend
            # on the reference frequency ranking — reject at compile
            raise SchemaError(
                f"rule {r.id!r}: categorical drift requires method='psi'"
            )
        if isinstance(r, DriftRule) and r.expr and r.column:
            raise SchemaError(
                f"rule {r.id!r}: give either column or expr, not both"
            )
        if isinstance(r, DriftRule) and not r.expr and not r.column:
            raise SchemaError(
                f"rule {r.id!r}: drift rule needs a column or an expr"
            )
        if isinstance(r, DriftRule) and r.sweep_by and (
            r.group_column or r.group_value
        ):
            # a sweep compares EVERY group against the rest — a probe slice
            # selection contradicts it and would be silently ignored
            raise SchemaError(
                f"rule {r.id!r}: sweep_by is mutually exclusive with "
                "group_column/group_value"
            )
        if isinstance(r, DriftRule) and r.reference and (
            r.group_column or r.group_value
        ):
            # two-table drift compares against the reference table: a probe
            # slice selection would be silently ignored — reject at compile.
            # (reference + sweep_by IS meaningful: every group's candidate
            # distribution vs the reference's SAME group — routed to
            # drift_sweep_vs_reference in finalize.)
            raise SchemaError(
                f"rule {r.id!r}: reference (two-table drift) is mutually "
                "exclusive with group_column/group_value"
            )
        if isinstance(r, DriftRule) and r.reference and r.incremental:
            # incremental partials accumulate the CANDIDATE's histograms
            # across batches; the reference side is a separate table read
            # fresh each finalize — the combination has no partials story
            raise SchemaError(
                f"rule {r.id!r}: incremental drift does not combine with "
                "reference (two-table) comparison"
            )
        if isinstance(r, DriftRule) and (
            not r.sweep_by and not r.group_column and not r.reference
        ):
            raise SchemaError(
                f"rule {r.id!r}: drift rule needs group_column (probe vs "
                "rest), sweep_by (per-group sweep), or reference "
                "(two-table drift)"
            )
        if isinstance(r, DriftRule) and r.incremental and not r.sweep_by:
            raise SchemaError(
                f"rule {r.id!r}: incremental drift is the per-group sweep "
                "over mergeable histogram partials — set sweep_by"
            )

        if isinstance(r, ColumnStatsRule) and r.incremental and (
            r.exact_distinct or r.exact_quantiles
        ):
            # incremental stats merge persisted per-partition partials —
            # exact aggregates are not mergeable; keep exact modes on the
            # full-scan path via a separate non-incremental rule.
            # (quantiles ARE supported incrementally: KLL sketch partials.)
            raise SchemaError(
                f"rule {r.id!r}: incremental stats are sketch-based "
                "(HLL cardinality, KLL quantiles) — exact_distinct and "
                "exact_quantiles need the full-scan path"
            )

        if isinstance(r, ColumnStatsRule) and r.incremental and (
            r.top_values or r.entropy
        ):
            # exact top-k / entropy partials are O(distinct values) per
            # partition — persisting them at key-like cardinality is the
            # table again, so they stay on the full-scan path; the
            # mergeable approximations are CMS heavy hitters (skew.py)
            raise SchemaError(
                f"rule {r.id!r}: top_values/entropy are exact value-"
                "distribution metrics — full-scan path only (the mergeable "
                "analog is the CMS heavy-hitter sketch in skew_stats)"
            )

        if isinstance(r, ColumnStatsRule) and r.top_values < 0:
            raise SchemaError(f"rule {r.id!r}: top_values must be >= 0")

        if isinstance(r, MonotonicRule):
            if r.direction not in ("nondecreasing", "nonincreasing"):
                raise SchemaError(
                    f"rule {r.id!r}: unknown direction {r.direction!r}; "
                    "valid: nondecreasing, nonincreasing"
                )
            if not r.group_by or not r.order_column or not r.column:
                # an ungrouped (corpus-wide) window is one partition — a
                # single-task bottleneck at any real scale; demand a group
                raise SchemaError(
                    f"rule {r.id!r}: monotonic needs column, order_column "
                    "and a non-empty group_by (check global ordering per "
                    "partition/day group, never in one window)"
                )

        if isinstance(r, OutlierRule):
            if r.method not in ("iqr", "mad"):
                raise SchemaError(
                    f"rule {r.id!r}: unknown outlier method {r.method!r}; "
                    "valid: iqr, mad"
                )
            if r.k <= 0:
                raise SchemaError(f"rule {r.id!r}: k must be > 0, got {r.k}")
            if bool(r.column) == bool(r.expr):
                raise SchemaError(
                    f"rule {r.id!r}: outlier rule needs exactly one of "
                    "column or expr"
                )
            # quantiles of strings are meaningless; a silent cast("double")
            # would yield an all-NULL envelope that flags nothing
            # (expr-typed rules are analyzed at run init instead — the
            # DriftRule.expr discipline)
            if r.column:
                _require_type(r, r.column, available_columns, ("NumericType",), "numeric")

        if isinstance(r, AssociationRule):
            if not r.col_a or not r.col_b or r.col_a == r.col_b:
                raise SchemaError(
                    f"rule {r.id!r}: association needs two DISTINCT columns "
                    f"(got col_a={r.col_a!r}, col_b={r.col_b!r}) — a column "
                    "is perfectly associated with itself"
                )
            if r.min_v is None and r.max_v is None:
                raise SchemaError(
                    f"rule {r.id!r}: association rule asserts nothing "
                    "without min_v and/or max_v (Cramér's V band)"
                )
            for name, bound in (("min_v", r.min_v), ("max_v", r.max_v)):
                if bound is not None and not (0.0 <= bound <= 1.0):
                    raise SchemaError(
                        f"rule {r.id!r}: {name} must be in [0, 1], "
                        f"got {bound}"
                    )
            if (
                r.min_v is not None
                and r.max_v is not None
                and r.min_v > r.max_v
            ):
                raise SchemaError(
                    f"rule {r.id!r}: min_v {r.min_v} > max_v {r.max_v} — "
                    "an empty band can never pass"
                )
            if r.max_cells < 0:
                raise SchemaError(
                    f"rule {r.id!r}: max_cells must be >= 0, got {r.max_cells}"
                )

        if isinstance(r, OverlapRule):
            if r.max_jaccard is None and r.max_common is None:
                raise SchemaError(
                    f"rule {r.id!r}: overlap rule needs max_jaccard and/or "
                    "max_common"
                )
            if r.max_jaccard is not None and not (0.0 <= r.max_jaccard <= 1.0):
                raise SchemaError(
                    f"rule {r.id!r}: max_jaccard must be in [0, 1], "
                    f"got {r.max_jaccard}"
                )
            if r.max_common is not None and r.max_common < 0:
                raise SchemaError(
                    f"rule {r.id!r}: max_common must be >= 0, got {r.max_common}"
                )

        if available_columns is not None:
            for c in r.targets():
                if c and not _lookup(available_columns, c)[0]:
                    from .errors import UnknownColumnError

                    raise UnknownColumnError(r.id, c)

    # >1 regex rule on one column is a conflict, like >1 non-literal matcher
    # per container (count_non_literal_matchers_in_children.rs:40-85)
    for col, ids in pattern_rules_by_col.items():
        if len(ids) > 1:
            raise ConflictingRulesError(col, ids)

    # decode-once compatibility: every decode rule (PixelRule and
    # DegenerateImageRule alike) on one bytes column shares ONE decode pass
    # and therefore ONE sample — differing sample_rates would silently
    # narrow (or widen) one rule's declared coverage. Loud at compile, not
    # a surprise in the metrics.
    decode_by_bytes: dict[str, Rule] = {}
    for r in spec.rules:
        if isinstance(r, (PixelRule, DegenerateImageRule)):
            first = decode_by_bytes.setdefault(r.bytes_column, r)
            if first is not r and first.sample_rate != r.sample_rate:
                raise SchemaError(
                    f"rule {r.id!r}: sample_rate {r.sample_rate} differs "
                    f"from rule {first.id!r}'s {first.sample_rate} on the "
                    f"shared column {r.bytes_column!r} — decode rules on "
                    "one column share one decode pass, so they must share "
                    "one sample"
                )

    stages: dict[str, list[Rule]] = {s: [] for s in STAGES}
    for r in spec.rules:
        stages[r.stage].append(r)

    scan_cols: list[str] = [spec.key_column]
    if spec.partition_column:
        scan_cols.append(spec.partition_column)
    for s in ("row", "count", "ref", "stats", "metric_bound", "capture"):
        for r in stages[s]:
            for c in r.targets():
                if c and c not in scan_cols:
                    scan_cols.append(c)

    return ConstraintProgram(
        spec=spec,
        scan_columns=tuple(scan_cols),
        **{f"{s}_rules": tuple(rs) for s, rs in stages.items()},
    )
