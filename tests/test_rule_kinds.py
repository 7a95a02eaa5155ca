"""Kind completeness: every Rule subclass is registered everywhere it must be.

Each kind declares its JSON name (``kind``) and its stage (``stage``) once, on
its spec.py class. These tests pin that the declaration is all a new kind
needs: it round-trips through spec_io, compiles into exactly one
ConstraintProgram stage tuple, and — when its stage is evaluated in finalize —
has an entry in the shared finalize table. A sample rule per kind is listed
below, so a kind added without one fails here first."""

from dataclasses import fields

import pytest

from mdvalidate_spark.compile import STAGES, ConstraintProgram, compile_spec
from mdvalidate_spark.run import GLOBAL_EVALUATORS, GLOBAL_STAGES
from mdvalidate_spark.spec import (
    AlignmentRule,
    AssociationRule,
    BenfordRule,
    CaptureRule,
    ColumnStatsRule,
    CompositeRegexRule,
    ConcentrationRule,
    CountRule,
    DegenerateImageRule,
    DomainRule,
    DriftRule,
    EmbeddingHealthRule,
    ExprRule,
    FormatRule,
    FreshnessRule,
    FunctionalDependencyRule,
    GapRule,
    HeaderRule,
    LiteralRule,
    MetricBoundRule,
    MonotonicRule,
    NotNullRule,
    OutlierRule,
    OverlapRule,
    PiiRule,
    PixelRule,
    RangeRule,
    RefIntegrityRule,
    RegexRule,
    RepetitionRule,
    Rule,
    SchemaRule,
    SequenceRule,
    SequenceStep,
    Spec,
    TextQualityRule,
    UniqueRule,
    VectorRule,
    VolumeRule,
)
from mdvalidate_spark.spec_io import RULE_KINDS, rule_from_dict, rule_to_dict

# one valid rule per kind (two for CountRule, whose stage depends on group_by)
SAMPLES = {
    NotNullRule: (NotNullRule("r", column="a"),),
    RegexRule: (RegexRule("r", column="a", pattern="a+"),),
    CompositeRegexRule: (
        CompositeRegexRule("r", column="a", prefix="id-", pattern="[0-9]+"),
    ),
    LiteralRule: (LiteralRule("r", column="a", value="v"),),
    RangeRule: (RangeRule("r", column="a", min=0, max=10),),
    DomainRule: (DomainRule("r", column="a", values=("p", "q")),),
    VectorRule: (VectorRule("r", column="v", dim=3),),
    AlignmentRule: (AlignmentRule("r", column_a="u", column_b="v", min_cos=0.5),),
    HeaderRule: (HeaderRule("r", column="bytes", magic="FFD8"),),
    ExprRule: (ExprRule("r", expr="a > 0", columns=("a",)),),
    FormatRule: (FormatRule("r", column="a", format="date"),),
    PiiRule: (PiiRule("r", column="text"),),
    RepetitionRule: (RepetitionRule("r", column="text"),),
    TextQualityRule: (TextQualityRule("r", column="text", min=5),),
    UniqueRule: (UniqueRule("r", columns=("a",)),),
    CountRule: (
        CountRule("r", min=1),
        CountRule("r", group_by=("g",), min=1, max=9),
    ),
    FunctionalDependencyRule: (
        FunctionalDependencyRule("r", determinants=("g",), dependents=("v",)),
    ),
    MonotonicRule: (
        MonotonicRule("r", column="a", group_by=("g",), order_column="t"),
    ),
    OutlierRule: (OutlierRule("r", column="a", k=1.5),),
    AssociationRule: (AssociationRule("r", col_a="g", col_b="v", max_v=0.5),),
    BenfordRule: (BenfordRule("r", column="a"),),
    GapRule: (GapRule("r", column="t", min_gap_seconds=60),),
    ConcentrationRule: (ConcentrationRule("r", column="a", max_top_share=0.5),),
    EmbeddingHealthRule: (
        EmbeddingHealthRule("r", column="v", dim=4, max_dead_dims=1),
    ),
    FreshnessRule: (
        FreshnessRule("r", column="t", max_age_seconds=60, as_of="2026-01-01T00:00:00"),
    ),
    VolumeRule: (VolumeRule("r"),),
    RefIntegrityRule: (
        RefIntegrityRule("r", column="a", dim_name="dim", dim_column="a"),
    ),
    ColumnStatsRule: (ColumnStatsRule("r", column="a", quantiles=(0.5,)),),
    MetricBoundRule: (MetricBoundRule("r", column="a", metric="max", max=100),),
    CaptureRule: (CaptureRule("r", column="a", pattern="(a+)"),),
    SequenceRule: (
        SequenceRule(
            "r", column="a", group_by=("g",), order_column="t",
            steps=(SequenceStep("x", 1, 1), SequenceStep("y", 0, None)),
        ),
    ),
    SchemaRule: (SchemaRule("r", expected=(("a", "string"), ("w", "int"))),),
    OverlapRule: (OverlapRule("r", column="a", max_jaccard=0.1),),
    DriftRule: (DriftRule("r", column="a", group_column="g", group_value="1"),),
    PixelRule: (PixelRule("r"),),
    DegenerateImageRule: (DegenerateImageRule("r"),),
}

KINDS = Rule.__subclasses__()
STAGE_FIELDS = [f.name for f in fields(ConstraintProgram) if f.name.endswith("_rules")]


def _samples(cls):
    assert cls in SAMPLES, f"{cls.__name__} has no sample rule in this test"
    return SAMPLES[cls]


def test_kinds_are_unique_and_all_registered():
    assert len({cls.kind for cls in KINDS}) == len(KINDS)
    assert RULE_KINDS == {cls.kind: cls for cls in KINDS}
    assert set(SAMPLES) == set(KINDS)


def test_every_stage_is_declared_by_some_kind():
    declared = {r.stage for cls in KINDS for r in _samples(cls)}
    assert declared == set(STAGES)
    assert set(GLOBAL_STAGES) <= set(STAGES)


@pytest.mark.parametrize("cls", KINDS, ids=lambda c: c.kind)
def test_kind_round_trips_through_spec_io(cls):
    assert RULE_KINDS[cls.kind] is cls
    for r in _samples(cls):
        assert rule_from_dict(rule_to_dict(r)) == r


@pytest.mark.parametrize("cls", KINDS, ids=lambda c: c.kind)
def test_kind_lands_in_exactly_one_stage(cls):
    for r in _samples(cls):
        program = compile_spec(Spec(rules=(r,)))
        holding = [f for f in STAGE_FIELDS if r in getattr(program, f)]
        assert holding == [f"{r.stage}_rules"]


@pytest.mark.parametrize("cls", KINDS, ids=lambda c: c.kind)
def test_global_stage_kind_has_finalize_evaluator(cls):
    for r in _samples(cls):
        if r.stage in GLOBAL_STAGES:
            assert type(r) in GLOBAL_EVALUATORS, f"{cls.__name__} not in the table"


def test_finalize_table_holds_only_global_stage_kinds():
    for cls in GLOBAL_EVALUATORS:
        assert any(r.stage in GLOBAL_STAGES for r in _samples(cls)), cls.__name__
