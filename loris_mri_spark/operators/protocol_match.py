"""Protocol identification — the reference's most important computation
(SURVEY §2.3 J7; `uploadNeuroDB/NeuroDB/MRI.pm:307-526`,
`python/lib/imaging.py:555-704`).

Semantics re-expressed Spark-first:

- Every scan row is matched against a small rule table where each rule has
  up to N simultaneous ``[min,max]`` range conditions (NULL bound = open),
  exact-or-NULL (wildcard) equality conditions, and optional regex
  conditions (`MRI.pm:481-484`).
- NULL three-valued logic follows ``in_range`` exactly
  (`imaging.py:1261-1299`): both bounds NULL = unrestricted; a bound set but
  the scan value NULL = no match.
- First-match priority: rules are ordered (`ORDER BY CenterID ASC,
  ScannerID DESC` in `MRI.pm:397`); the first matching rule wins, evaluated
  INDEPENDENTLY PER SCAN ROW (the reference matches one file at a time).

Physical strategy (``identify_protocol``, the default): the rule table is
O(10..1000) rows even in production — small enough to compile into the
plan itself. The driver sorts the rules into priority order and builds one
``CASE WHEN`` chain, one branch per rule with the rule's values as typed
literals, so the first true branch is the first match: **zero shuffle,
zero extra scan, one pass over the scan table inside whole-stage
codegen**. Building the chain costs O(rules) expression construction on
the driver and no Spark job. At 100 TB this is embarrassingly parallel —
each task matches its partition's rows with no exchange at all. (An
earlier form matched with ``filter`` + ``transform`` + ``array_min`` over
an inlined ``array<struct>``; Spark evaluates those higher-order functions
interpreted, outside codegen. Round-1 used a broadcast join + window +
re-join, which scanned the big table twice and shuffled it once.)
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from loris_mri_spark.functions.predicates import (
    in_range,
    regex_or_wildcard,
    wildcard_eq,
)


@dataclass(frozen=True)
class RangeSpec:
    """One [min,max] condition: scan column vs rule bound columns."""

    value_col: str
    min_col: str
    max_col: str


@dataclass(frozen=True)
class ExactSpec:
    """Exact-or-wildcard condition (NULL rule value matches anything)."""

    value_col: str
    rule_col: str


@dataclass(frozen=True)
class RegexSpec:
    """Case-insensitive regex-or-wildcard condition."""

    value_col: str
    pattern_col: str


@dataclass(frozen=True)
class PrioritySpec:
    """One priority key for first-match ordering. ``ascending=False`` is
    supported for numeric columns only (encoded as negation, so a NULL key
    sorts first in either direction)."""

    col: str
    ascending: bool = True


def _rule_condition(
    rule: Mapping[str, Column],
    ranges: Sequence[RangeSpec],
    exacts: Sequence[ExactSpec],
    regexes: Sequence[RegexSpec],
) -> Column:
    """Match condition between one rule's values and the current scan row."""
    cond = F.lit(True)
    for spec in exacts:
        cond = cond & wildcard_eq(rule[spec.rule_col], F.col(spec.value_col))
    for spec in regexes:
        cond = cond & regex_or_wildcard(F.col(spec.value_col), rule[spec.pattern_col])
    for spec in ranges:
        cond = cond & in_range(
            F.col(spec.value_col), rule[spec.min_col], rule[spec.max_col]
        )
    return cond


def _ascending(v: Any) -> tuple:
    """Spark's ascending order for one struct field: NULL first, NaN last."""
    if v is None:
        return (0,)
    if isinstance(v, float) and math.isnan(v):
        return (2,)
    return (1, v)


def _priority_order(
    rule_rows: list[Row],
    priority: Sequence[PrioritySpec],
    rule_output_cols: Sequence[str],
) -> list[Row]:
    """The rules in first-match order: ascending on the priority keys (a
    descending key negated, so a NULL there still sorts first), then on the
    output columns, so that full ties resolve as a struct comparison of
    ``(keys..., outputs...)`` would."""

    def key(row: Row) -> tuple:
        keys = []
        for p in priority:
            v = row[p.col]
            keys.append(_ascending(v if p.ascending or v is None else -v))
        keys.extend(_ascending(row[c]) for c in rule_output_cols)
        return tuple(keys)

    return sorted(rule_rows, key=key)


def identify_protocol(
    scans: DataFrame,
    rules: DataFrame,
    ranges: Sequence[RangeSpec] = (),
    exacts: Sequence[ExactSpec] = (),
    regexes: Sequence[RegexSpec] = (),
    priority: Sequence[PrioritySpec] = (PrioritySpec("rule_id"),),
    rule_output_cols: Sequence[str] = ("scan_type",),
    unmatched_label: str | None = "unidentified",
    label_col: str = "scan_type",
) -> DataFrame:
    """Match every scan row against the rule table; the first matching rule
    (by ``priority``) wins; unmatched rows keep their row with ``label_col``
    = ``unmatched_label`` (the caller routes those to the violation sink, as
    `imaging.py:235-301` does).

    The rule table is collected to the driver (the same small-side contract
    as a broadcast join, made explicit), sorted into priority order and
    compiled into one ``CASE WHEN cond_1 THEN outputs_1 WHEN cond_2 ...``
    chain whose rule values are typed literals: the first true branch is
    the first match. Catalyst folds the wildcard branches away and each
    regex becomes a literal pattern compiled once, and the chain runs
    inside the scan's whole-stage codegen with NO shuffle and ONE scan of
    ``scans``. Building it is O(rules) expression construction on the
    driver. (The earlier ``filter``/``array_min`` form over an inlined
    ``array<struct>`` ran interpreted, through higher-order functions'
    ``CodegenFallback``.)

    Returns all ``scans`` columns + ``rule_output_cols``.
    """
    rule_rows = rules.collect()  # small-side contract: O(10..1000) rules
    types = {f.name: f.dataType for f in rules.schema.fields}
    used = dict.fromkeys(
        [
            *(s.rule_col for s in exacts),
            *(s.pattern_col for s in regexes),
            *(c for s in ranges for c in (s.min_col, s.max_col)),
            *rule_output_cols,
        ]
    )

    best = None
    for row in _priority_order(rule_rows, priority, rule_output_cols):
        rule = {c: F.lit(row[c]).cast(types[c]) for c in used}
        cond = _rule_condition(rule, ranges, exacts, regexes)
        outputs = F.struct(*[rule[c].alias(c) for c in rule_output_cols])
        best = F.when(cond, outputs) if best is None else best.when(cond, outputs)

    out = scans.withColumn("__match", best).select(
        *scans.columns,
        *[F.col("__match")[c].alias(c) for c in rule_output_cols],
    )
    if unmatched_label is not None:
        out = out.withColumn(
            label_col, F.coalesce(F.col(label_col), F.lit(unmatched_label))
        )
    return out
