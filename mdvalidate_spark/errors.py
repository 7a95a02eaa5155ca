"""Typed error taxonomy for the constraint engine.

Mirrors the reference's two-level split (reference: src/mdschema/validation/
errors.rs:137-152): *SchemaError* — the spec itself is invalid, rejected at
compile time before any data is touched — versus *SchemaViolation* — the data
fails a valid rule, reported as violation rows, never raised.

Violation "kinds" extend the reference's NodeContentMismatchKind
(errors.rs:294-303 — Prefix/Suffix/Matcher/Literal) with the tabular rule
families this engine adds (see FIXTURES.md §3).
"""

from __future__ import annotations


class MdvSparkError(Exception):
    """Base for all engine errors."""


class SchemaError(MdvSparkError):
    """The constraint spec is invalid (compile-time).

    Analog of reference SchemaError (errors.rs:191-263): bad regex, conflicting
    rules on one target, malformed bounds, etc. Raised by ``compile_spec``.
    """


class DuplicateRuleIdError(SchemaError):
    def __init__(self, rule_id: str):
        super().__init__(f"duplicate rule id: {rule_id!r}")
        self.rule_id = rule_id


class ConflictingRulesError(SchemaError):
    """>1 pattern-matching rule on the same target column.

    Analog of MultipleMatchersInNodeChildren (reference
    count_non_literal_matchers_in_children.rs:40-85, errors.rs:192-197): a
    container may hold at most one non-literal matcher; here, a column may hold
    at most one regex rule (literal rules, like literal matchers, don't count).
    """

    def __init__(self, column: str, rule_ids: list[str]):
        super().__init__(
            f"conflicting pattern rules on column {column!r}: {rule_ids}"
        )
        self.column = column
        self.rule_ids = rule_ids


class MalformedRegexError(SchemaError):
    def __init__(self, rule_id: str, pattern: str, cause: str):
        super().__init__(f"rule {rule_id!r}: invalid regex {pattern!r}: {cause}")
        self.rule_id = rule_id
        self.pattern = pattern


class MixedLiteralAndBoundsError(SchemaError):
    """Literal-escape combined with repetition bounds is illegal.

    Analog of MixedLiteralAndOthers (reference matcher_extras.rs:163-170): the
    ``!`` literal escape cannot be combined with ``{min,max}`` extras.
    """

    def __init__(self, rule_id: str):
        super().__init__(
            f"rule {rule_id!r}: literal comparison cannot carry {{min,max}} bounds"
        )
        self.rule_id = rule_id


class InvalidBoundsError(SchemaError):
    """min > max, or negative bounds (analog matcher_extras.rs:129-157)."""

    def __init__(self, rule_id: str, min_v, max_v):
        super().__init__(f"rule {rule_id!r}: invalid bounds min={min_v} max={max_v}")
        self.rule_id = rule_id


class UnknownColumnError(SchemaError):
    def __init__(self, rule_id: str, column: str):
        super().__init__(f"rule {rule_id!r}: unknown column {column!r}")
        self.rule_id = rule_id
        self.column = column


# Violation kinds — superset of reference NodeContentMismatchKind
# (errors.rs:294-303). These are *data* in violation rows, not exceptions.
KIND_LITERAL = "literal"
KIND_MATCHER = "matcher"
KIND_PREFIX = "prefix"
KIND_SUFFIX = "suffix"
KIND_DOMAIN = "domain"
KIND_RANGE = "range"
KIND_NULL = "null"
KIND_DUPLICATE = "duplicate"
KIND_ORPHAN = "orphan"
KIND_COUNT = "count"
KIND_DRIFT = "drift"
KIND_OVERLAP = "overlap"  # shard-pair distinct-set overlap bound
KIND_PIXEL = "pixel"
# runtime schema drift — MalformedNodeStructure analog (errors.rs:320-397)
KIND_MISSING_COLUMN = "missing_column"
KIND_EXTRA_COLUMN = "extra_column"
KIND_DTYPE = "dtype_mismatch"
# vector-payload rules (VectorRule over array<float> embedding columns)
KIND_DIM = "dim_mismatch"
KIND_NAN = "nan"
KIND_EXPR = "expr"  # cross-column row invariant (ExprRule) evaluated FALSE
KIND_FORMAT = "format"  # string value fails its declared typed format (FormatRule)
KIND_ALIGNMENT = "alignment"  # cross-modal pair cosine outside its band (AlignmentRule)
KIND_PII = "pii"  # typed PII matches above the declared budget (PiiRule)
KIND_REPETITION = "repetition"  # Gopher repetition metric above its gate
KIND_QUALITY = "quality"  # Gopher quality metric outside its envelope
KIND_OUTLIER = "outlier"  # value outside the robust IQR/MAD envelope (OutlierRule)
KIND_ORDER = "order"  # value regressed within its ordered group (MonotonicRule)
KIND_ASSOCIATION = "association"  # Cramér's V outside its declared band (AssociationRule)
KIND_FD = "fd"  # functional dependency violated (determinant maps to >1 dependent)
KIND_STALE = "stale"  # freshness bound violated (max timestamp older than allowed)
KIND_BENFORD = "benford"  # first-digit distribution outside its MAD conformity band
KIND_GAP = "gap"  # silence between consecutive timestamps above the declared bound
KIND_METRIC_BOUND = "metric_bound"  # aggregate metric outside its declared bounds
KIND_CONCENTRATION = "concentration"  # one value dominates a column beyond its share/HHI bound
# binary payload header rules (HeaderRule — container integrity sans decode)
KIND_TRUNCATED = "truncated"  # payload shorter than the declared header
KIND_FMT_CODE = "fmt_code"  # header format-code byte contradicts the fmt column
# volume anomaly (VolumeRule / volume_anomaly / stream_volume_anomaly)
KIND_OVER_VOLUME = "over_volume"  # partition/batch row count above the envelope
KIND_UNDER_VOLUME = "under_volume"  # partition/batch row count below the envelope
KIND_DEGENERATE = "degenerate"  # decoded image is blank/saturated/undecodable
KIND_EMBEDDING_HEALTH = "embedding_health"  # embedding matrix has dead dims / collapsed anisotropy

ALL_KINDS = (
    KIND_LITERAL,
    KIND_MATCHER,
    KIND_PREFIX,
    KIND_SUFFIX,
    KIND_DOMAIN,
    KIND_RANGE,
    KIND_NULL,
    KIND_DUPLICATE,
    KIND_ORPHAN,
    KIND_COUNT,
    KIND_DRIFT,
    KIND_OVERLAP,
    KIND_PIXEL,
    KIND_MISSING_COLUMN,
    KIND_EXTRA_COLUMN,
    KIND_DTYPE,
    KIND_DIM,
    KIND_NAN,
    KIND_EXPR,
    KIND_FORMAT,
    KIND_PII,
    KIND_REPETITION,
    KIND_QUALITY,
    KIND_OUTLIER,
    KIND_ORDER,
    KIND_FD,
    KIND_STALE,
    KIND_METRIC_BOUND,
    KIND_CONCENTRATION,
    KIND_TRUNCATED,
    KIND_FMT_CODE,
    KIND_OVER_VOLUME,
    KIND_UNDER_VOLUME,
    KIND_DEGENERATE,
    KIND_ALIGNMENT,
    KIND_ASSOCIATION,
    KIND_BENFORD,
    KIND_GAP,
    KIND_EMBEDDING_HEALTH,
)
