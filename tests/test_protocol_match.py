"""First-match protocol identification semantics (MRI.pm:307-526,
imaging.py:555-704), pinned on small hand-built rule tables and against a
pure-Python first-match reference over seeded random rules.

The rules: NULL exact value = wildcard; NULL/'' regex = wildcard, regexes
match case-insensitively; ``in_range`` with NULL = open end, 0.0 a real
bound and a NULL scan value failing any set bound; the first matching rule
by priority wins, where a priority key sorts NULL first (a descending key
is negated, so a NULL there also sorts first); unmatched rows, and rows
whose winning rule has a NULL label, are labelled ``unidentified``.
"""

from __future__ import annotations

import random
import re

from loris_mri_spark.operators.protocol_match import (
    ExactSpec,
    PrioritySpec,
    RangeSpec,
    RegexSpec,
    identify_protocol,
)

SCANS_SCHEMA = "id long, a string, s string, x double, y double"
RULES_SCHEMA = (
    "rule_id long, ra string, pat string, x_min double, x_max double, "
    "y_min double, y_max double, p1 long, p2 long, scan_type string"
)
RANGES = (RangeSpec("x", "x_min", "x_max"), RangeSpec("y", "y_min", "y_max"))
EXACTS = (ExactSpec("a", "ra"),)
REGEXES = (RegexSpec("s", "pat"),)
PRIORITY = (
    PrioritySpec("p1"),
    PrioritySpec("p2", ascending=False),
    PrioritySpec("rule_id"),
)


def _rule(rule_id, scan_type, ra=None, pat=None, x=(None, None),
          y=(None, None), p1=0, p2=0):
    return (rule_id, ra, pat, x[0], x[1], y[0], y[1], p1, p2, scan_type)


def _match(spark, scans, rules) -> dict:
    out = identify_protocol(
        spark.createDataFrame(scans, SCANS_SCHEMA),
        spark.createDataFrame(rules, RULES_SCHEMA),
        ranges=RANGES,
        exacts=EXACTS,
        regexes=REGEXES,
        priority=PRIORITY,
        rule_output_cols=("scan_type", "rule_id"),
    )
    assert out.columns == ["id", "a", "s", "x", "y", "scan_type", "rule_id"]
    return {r["id"]: (r["scan_type"], r["rule_id"]) for r in out.collect()}


def test_null_exact_value_is_a_wildcard(spark):
    scans = [(1, "A", "", 0.0, 0.0), (2, "B", "", 0.0, 0.0),
             (3, None, "", 0.0, 0.0)]
    rules = [_rule(1, "only_a", ra="A", p1=0), _rule(2, "any", p1=1)]
    assert _match(spark, scans, rules) == {
        1: ("only_a", 1), 2: ("any", 2), 3: ("any", 2),
    }


def test_zero_bound_is_a_real_bound(spark):
    scans = [(1, "A", "", -1.0, 0.0), (2, "A", "", 0.0, 0.0),
             (3, "A", "", 5.0, 0.0)]
    rules = [_rule(1, "nonneg", x=(0.0, None)), _rule(2, "le_zero", x=(None, 0.0), p1=1)]
    assert _match(spark, scans, rules) == {
        1: ("le_zero", 2), 2: ("nonneg", 1), 3: ("nonneg", 1),
    }


def test_null_scan_value_fails_set_bounds(spark):
    scans = [(1, "A", "", None, 1.0), (2, "A", "", 3.0, None)]
    rules = [
        _rule(1, "x_bounded", x=(1.0, 10.0)),
        _rule(2, "y_min_only", y=(0.0, None), p1=1),
        _rule(3, "open", p1=2),
    ]
    assert _match(spark, scans, rules) == {
        1: ("y_min_only", 2), 2: ("x_bounded", 1),
    }


def test_regex_null_empty_and_case_insensitive(spark):
    scans = [(1, "A", "T1/Axial", 0.0, 0.0), (2, "A", "t2/sag", 0.0, 0.0),
             (3, "A", None, 0.0, 0.0), (4, "A", "flair", 0.0, 0.0)]
    rules = [
        _rule(1, "t1", pat="^t1/"),
        _rule(2, "sag", pat="SAG$", p1=1),
        _rule(3, "empty", pat="", p1=2, x=(1.0, None)),
        _rule(4, "null", pat=None, p1=3, x=(None, -1.0)),
        _rule(5, "empty_open", pat="", p1=4, ra="A"),
    ]
    assert _match(spark, scans, rules) == {
        1: ("t1", 1), 2: ("sag", 2), 3: ("empty_open", 5),
        4: ("empty_open", 5),
    }
    rules[3] = _rule(4, "null", pat=None, p1=3)
    got = _match(spark, scans, rules)
    assert got[3] == ("null", 4) and got[4] == ("null", 4)


def test_descending_priority_key(spark):
    scans = [(1, "A", "", 0.0, 0.0)]
    rules = [_rule(1, "low", p2=1), _rule(2, "high", p2=5), _rule(3, "mid", p2=3)]
    assert _match(spark, scans, rules) == {1: ("high", 2)}


def test_null_priority_keys_sort_first(spark):
    scans = [(1, "A", "", 0.0, 0.0)]
    rules = [_rule(1, "zero", p1=0), _rule(2, "one", p1=1), _rule(3, "null", p1=None)]
    assert _match(spark, scans, rules) == {1: ("null", 3)}
    rules = [_rule(1, "five", p2=5), _rule(2, "null", p2=None), _rule(3, "zero", p2=0)]
    assert _match(spark, scans, rules) == {1: ("null", 2)}


def test_ties_broken_by_rule_id(spark):
    scans = [(1, "A", "", 0.0, 0.0)]
    rules = [_rule(7, "seven"), _rule(3, "three"), _rule(5, "five")]
    assert _match(spark, scans, rules) == {1: ("three", 3)}


def test_unmatched_rows_labelled_unidentified(spark):
    scans = [(1, "A", "", 0.0, 0.0), (2, "B", "", 0.0, 0.0)]
    rules = [_rule(1, "only_a", ra="A"), _rule(2, None, ra="B")]
    assert _match(spark, scans, rules) == {
        1: ("only_a", 1), 2: ("unidentified", 2),
    }
    assert _match(spark, scans, [_rule(1, "only_c", ra="C")]) == {
        1: ("unidentified", None), 2: ("unidentified", None),
    }


def _reference(scans, rules) -> dict:
    """Pure-Python first match: MRI.pm's ordered rule walk, per scan row."""

    def in_range(v, lo, hi):
        if lo is None and hi is None:
            return True
        return (v is not None and (lo is None or v >= lo)
                and (hi is None or v <= hi))

    def matches(s, r):
        _, a, text, x, y = s
        _, ra, pat, x_min, x_max, y_min, y_max, _, _, _ = r
        return (
            (ra is None or ra == a)
            and (pat is None or pat == ""
                 or (text is not None
                     and re.search(pat, text, re.IGNORECASE) is not None))
            and in_range(x, x_min, x_max)
            and in_range(y, y_min, y_max)
        )

    def null_first(v):
        return (0, 0) if v is None else (1, v)

    ordered = sorted(
        rules,
        key=lambda r: (
            null_first(r[7]),
            null_first(None if r[8] is None else -r[8]),
            r[0],
        ),
    )
    out = {}
    for s in scans:
        hit = next((r for r in ordered if matches(s, r)), None)
        label = hit[9] if hit else None
        out[s[0]] = (label or "unidentified", hit[0] if hit else None)
    return out


def test_random_rules_match_python_reference(spark):
    rng = random.Random(20240611)

    def maybe(v, p=0.4):
        return None if rng.random() < p else v

    def bounds():
        lo = maybe(float(rng.randint(0, 6)), 0.5)
        hi = maybe(float(rng.randint(4, 10)), 0.5)
        return lo, hi

    flags = ["A", "B", "C"]
    texts = ["t1/axial", "T2/Sag", "flair", "dwi/AX", "", None]
    patterns = [None, "", "^t", "ax", "SAG$", "^flair$", "/"]
    rules = [
        _rule(
            rule_id,
            maybe(f"type_{rule_id}", 0.05),
            ra=maybe(rng.choice(flags), 0.6),
            pat=rng.choice(patterns),
            x=bounds(),
            y=bounds(),
            p1=maybe(rng.randint(0, 3), 0.15),
            p2=maybe(rng.randint(0, 3), 0.15),
        )
        for rule_id in rng.sample(range(1, 1000), 100)
    ]
    scans = [
        (
            i,
            maybe(rng.choice(flags), 0.1),
            rng.choice(texts),
            maybe(float(rng.randint(-1, 11)), 0.1),
            maybe(rng.randint(-10, 110) / 10.0, 0.1),
        )
        for i in range(300)
    ]
    expected = _reference(scans, rules)
    assert len(set(expected.values())) > 10
    assert _match(spark, scans, rules) == expected
