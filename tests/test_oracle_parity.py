"""Every registered query must match its DuckDB or golden oracle on the
test tables — the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import importlib.util
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

from loris_mri_spark import workload
from tests.oracle import assert_parity

workload.load_all()

REPO = Path(__file__).resolve().parent.parent

# Golden oracles: built from the catalog under check by a replay outside
# Spark (a callable in ORACLES), not SQL over its tables.
_GOLDENS = [
    "ann_imi_recall",
    "ann_imi_topk",
    "c5_blake2b_hash",
    "dedup_semdedup_twolevel",
    "text_bpe_apply_subwords",
    "text_bpe_tokenize_corpus",
    "text_bpe_train_merges",
    "text_bpe_train_vocab",
    "vec_cosine_clusters",
    "vec_cosine_pairs_lsh",
]


@pytest.mark.parametrize("name", sorted(workload.QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = workload.QUERIES[name](spark, sf_dir)
    assert_parity(df, workload.ORACLES[name], sf_dir, name=name)


@pytest.fixture(scope="module")
def generated_catalog(tmp_path_factory) -> str:
    """The benchmark generator's seed-1 catalog written as parquet: same
    schemas as the test catalog, other values."""
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "_perfbench_gen", REPO / "perfbench" / "gen.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    out = tmp_path_factory.mktemp("generated_catalog")
    for table, tb in gen.catalog_tables(1).items():
        pq.write_table(tb, out / f"{table}.parquet")
    return str(out)


def test_goldens_are_the_callable_oracles():
    callables = [n for n, o in workload.ORACLES.items() if callable(o)]
    assert sorted(callables) == _GOLDENS


@pytest.mark.parametrize("name", _GOLDENS)
def test_golden_matches_on_generated_catalog(spark, generated_catalog, name):
    """A golden oracle answers for the catalog it is given, not for the
    test catalog it was first written against."""
    df = workload.QUERIES[name](spark, generated_catalog)
    assert_parity(df, workload.ORACLES[name], generated_catalog, name=name)


def test_load_all_reads_no_catalog():
    """Registration reads no table: golden oracles are built when a
    catalog is checked, so a process that only registers pays nothing."""
    code = (
        "import pyarrow.parquet as pq\n"
        "def no_read(*a, **k):\n"
        "    raise AssertionError('parquet read while registering')\n"
        "pq.read_table = no_read\n"
        "from loris_mri_spark import workload\n"
        "workload.load_all()\n"
        "print(len(workload.QUERIES), len(workload.ORACLES))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == [str(len(workload.QUERIES))] * 2


def _check(green: bool) -> dict:
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": green,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": None,
    }


def _write_round(d: Path, n: int, checks: dict) -> None:
    (d / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(checks))


def _committed_keys() -> dict:
    """Each query's sort key, read from the committed history
    independently of the engine: (green at last check, its round if
    green, name)."""
    last = {}
    history = {
        int(p.stem.removeprefix("CORRECTNESS_r")): p
        for p in REPO.glob("CORRECTNESS_r*.json")
    }
    for n, path in sorted(history.items()):
        for name, c in json.loads(path.read_text()).items():
            green = c["err"] is None and (
                c["rows_match"] and c["schema_match"] and c["hash_match"]
            )
            last[name] = (n, green)
    keys = {}
    for name in workload.QUERIES:
        n, green = last.get(name, (0, False))
        keys[name] = (green, n if green else 0, name)
    return keys


def test_queries_permute_every_registration():
    """The driver hash-checks only the first 50 entries of QUERIES:
    reordering may never drop or repeat a query. ORACLES keeps the
    registration order (load_all reorders only QUERIES), and every query
    registers an oracle."""
    names = list(workload.QUERIES)
    assert len(names) == len(set(names))
    assert sorted(names) == sorted(workload.ORACLES)


def test_queries_follow_correctness_history():
    """Along QUERIES the history-derived sort key never decreases: the
    never-checked and red first, then greens by oldest round."""
    keys = _committed_keys()
    seq = [keys[n] for n in workload.QUERIES]
    assert all(a <= b for a, b in zip(seq, seq[1:]))


def test_correctness_order_rule(tmp_path):
    _write_round(tmp_path, 1, {
        "b_green_r1": _check(True),
        "a_green_r1": _check(True),
        "c_fixed_r2": _check(False),
        "d_green_r2": _check(True),
        "z_red": _check(True),
        "gone": _check(False),
    })
    _write_round(tmp_path, 2, {
        "c_fixed_r2": _check(True),
        "d_green_r2": _check(True),
        "z_red": {**_check(True), "err": "boom"},
        "gone": _check(False),
    })
    # would green z_red and make y_new a red if read
    (tmp_path / "CORRECTNESS_r09.json.bak").write_text(
        json.dumps({"z_red": _check(True), "y_new": _check(False)})
    )
    (tmp_path / "CORRECTNESS_r9.txt").write_text("not json")
    (tmp_path / "CORRECTNESS_rx.json").write_text("not json")
    names = [
        "d_green_r2", "z_red", "a_green_r1", "y_new", "c_fixed_r2",
        "b_green_r1",
    ]
    assert workload.correctness_order(names, tmp_path) == [
        "y_new",  # never checked, first; "gone" is not registered
        "z_red",  # red at its last check, ahead of every green
        "a_green_r1",  # oldest green round first, ties by name
        "b_green_r1",
        "c_fixed_r2",  # a later green overrides an earlier red
        "d_green_r2",
    ]


def test_correctness_order_without_history_is_name_order(tmp_path):
    assert workload.correctness_order(["b", "c", "a"], tmp_path) == [
        "a", "b", "c"
    ]


def test_new_round_rotates_the_window(tmp_path):
    """A committed round that greens the current window moves it to the
    back: the next window shares no name with it, with no code edit."""
    for path in REPO.glob("CORRECTNESS_r*.json"):
        (tmp_path / path.name).write_text(path.read_text())
    window = list(workload.QUERIES)[:50]
    assert workload.correctness_order(workload.QUERIES, tmp_path) == list(
        workload.QUERIES
    )
    _write_round(tmp_path, 99, {n: _check(True) for n in window})
    rotated = workload.correctness_order(workload.QUERIES, tmp_path)
    assert not set(rotated[:50]) & set(window)
    assert rotated[-50:] == sorted(window)


def test_no_hugeint_oracle_output_columns(sf_dir):
    """DuckDB widens un-cast SUM(BIGINT) to HUGEINT (int128), which the
    external driver's strict value-hasher serializes differently from
    Spark's int64 even when every value is identical (the r5
    dedup_substring_spans red). Guard: no oracle may emit HUGEINT —
    final-output integer aggregates must CAST(... AS BIGINT)."""
    import duckdb

    from loris_mri_spark.catalog import TESTDATA_TABLES, table_path

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    offenders = []
    for name, oracle in workload.ORACLES.items():
        rel = con.sql(oracle(sf_dir) if callable(oracle) else oracle)
        for c, t in zip(rel.columns, rel.types):
            if str(t) in ("HUGEINT", "UHUGEINT"):
                offenders.append((name, c))
    assert offenders == [], offenders


def test_entry_smoke(spark):
    import __spark_entry__ as se

    out = se.entry(spark)
    assert out.count() > 0


def test_registry_consistency():
    import __spark_entry__ as se

    qs, os_ = se.queries(), se.oracle_sql()
    assert set(os_) == set(qs)
    assert all(isinstance(sql, str) for sql in os_.values())
    assert len(qs) > 0


def _broadcast_build_sides(plan: str) -> list:
    """The detail block of each node directly under a BroadcastExchange
    in a formatted physical plan description."""
    tree, _, details = plan.partition("\n\n\n")
    blocks = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=\n\n|\Z)", details, re.M | re.S)
    }
    lines = tree.splitlines()
    return [
        blocks[int(re.search(r"\((\d+)\)", lines[i + 1]).group(1))]
        for i, line in enumerate(lines)
        if re.search(r"BroadcastExchange \(\d+\)", line)
    ]


def test_gdpr_roster_aggregated_before_broadcast(spark, sf_dir):
    """Every erasure anti-join broadcasts a roster aggregated on user_id,
    so the broadcast collects one driver row per erased user rather than
    one per matching event. Read from the executed plans of the query's
    store rewrites in the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    workload.QUERIES["pipeline_gdpr_erasure"](spark, sf_dir).collect()
    plans = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > seen
    ]
    anti = [p for p in plans if "LeftAnti" in p]
    assert len(anti) >= 2, plans
    for plan in anti:
        sides = _broadcast_build_sides(plan)
        assert sides, plan
        for side in sides:
            assert re.match(r"\(\d+\) HashAggregate", side), side
            assert re.search(r"^Keys \[1\]: \[user_id#\d+L?\]$", side, re.M), side
