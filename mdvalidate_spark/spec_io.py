"""Spec (de)serialization — the textual mdschema analog.

A spec file is JSON: {"key_column": ..., "n_partitions": ..., "fast_fail":
..., "max_violations_per_rule": ..., "rules": [{"kind": ..., "id": ...,
...}, ...]}. A rule's "kind" is its class's ``kind`` (the keys of
``RULE_KINDS``). Unknown kinds or params raise SchemaError at load
(reference: matcher parse errors, matcher.rs:175-208 — reject before touching
data).
"""

from __future__ import annotations

import dataclasses
import json

from .errors import SchemaError
from .spec import Rule, SequenceStep, Spec

# JSON name -> class, from each kind's declaration in spec.py
RULE_KINDS: dict[str, type] = {cls.kind: cls for cls in Rule.__subclasses__()}


def rule_from_dict(d: dict) -> Rule:
    d = dict(d)
    kind = d.pop("kind", None)
    cls = RULE_KINDS.get(kind)
    if cls is None:
        raise SchemaError(f"unknown rule kind {kind!r}")
    valid = {f.name for f in dataclasses.fields(cls) if f.init}
    unknown = set(d) - valid
    if unknown:
        raise SchemaError(f"rule kind {kind!r}: unknown params {sorted(unknown)}")
    if kind == "sequence" and "steps" in d:
        try:
            d["steps"] = tuple(
                SequenceStep(**s) if isinstance(s, dict) else s for s in d["steps"]
            )
        except TypeError as e:
            raise SchemaError(f"rule kind {kind!r}: bad step: {e}") from e
    # JSON has no tuples: coerce every remaining list param (and its inner
    # lists, e.g. SchemaRule.expected pairs) back to tuples so the loaded
    # rule compares equal to the saved one
    for k, v in d.items():
        if isinstance(v, list):
            d[k] = tuple(tuple(x) if isinstance(x, list) else x for x in v)
    try:
        return cls(**d)
    except TypeError as e:
        raise SchemaError(f"rule kind {kind!r}: {e}") from e


def rule_to_dict(r: Rule) -> dict:
    out = {"kind": r.kind}
    for f in dataclasses.fields(r):
        if not f.init:
            continue
        v = getattr(r, f.name)
        if isinstance(v, tuple):
            v = [dataclasses.asdict(x) if dataclasses.is_dataclass(x) else x for x in v]
        out[f.name] = v
    return out


_SPEC_KEYS = {
    "rules",
    "key_column",
    "partition_column",
    "n_partitions",
    "fast_fail",
    "max_violations_per_rule",
}


def spec_from_dict(d: dict) -> Spec:
    # same strictness as rule params: a typo ("fastfail", "key_col") must
    # raise, not silently run with defaults the user didn't choose
    unknown = set(d) - _SPEC_KEYS
    if unknown:
        raise SchemaError(f"spec: unknown top-level keys {sorted(unknown)}")
    rules = tuple(rule_from_dict(r) for r in d.get("rules", []))
    return Spec(
        rules=rules,
        key_column=d.get("key_column", "image_id"),
        partition_column=d.get("partition_column"),
        n_partitions=int(d.get("n_partitions", 8)),
        fast_fail=bool(d.get("fast_fail", False)),
        max_violations_per_rule=(
            int(d["max_violations_per_rule"])
            if d.get("max_violations_per_rule") is not None
            else None
        ),
    )


def spec_to_dict(spec: Spec) -> dict:
    return {
        "key_column": spec.key_column,
        "partition_column": spec.partition_column,
        "n_partitions": spec.n_partitions,
        "fast_fail": spec.fast_fail,
        "max_violations_per_rule": spec.max_violations_per_rule,
        "rules": [rule_to_dict(r) for r in spec.rules],
    }


def load_spec(path: str) -> Spec:
    with open(path) as f:
        return spec_from_dict(json.load(f))


def save_spec(spec: Spec, path: str) -> None:
    with open(path, "w") as f:
        json.dump(spec_to_dict(spec), f, indent=2)
