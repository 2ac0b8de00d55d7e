"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import report  # noqa: E402
import steal  # noqa: E402
from spans import Span, Tracer, attribute_jobs, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


@pytest.fixture
def at_root(monkeypatch):
    monkeypatch.chdir(ROOT)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator ---------------------------------------------------------------


def test_generator_is_deterministic_per_seed(at_root, tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7)
    b = gen.generate(str(tmp_path / "b"), 7)
    c = gen.generate(str(tmp_path / "c"), 8)
    assert a == b
    assert a["sha256"] != c["sha256"]
    assert a["files"] == c["files"]
    for kind in ("dicom", "nifti", "minc"):
        assert a["imaging"][kind]["malformed"] > 0


def test_ensure_reuses_a_generated_seed(at_root, tmp_path):
    first = gen.ensure(str(tmp_path), 3)
    mtime = os.path.getmtime(os.path.join(first, "manifest.json"))
    assert gen.ensure(str(tmp_path), 3) == first
    assert os.path.getmtime(os.path.join(first, "manifest.json")) == mtime
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    assert os.path.basename(first).startswith("seed-3-")


# -- metric names ------------------------------------------------------------


def test_metric_names_and_units_are_well_formed():
    bench = _benchmark()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    for key in ("end_to_end", "per_layer"):
        for m in bench[key]:
            assert UNIT.fullmatch(m["unit"]), m
    for m in bench["per_layer"]:
        assert report.unit_of(m["name"]) == m["unit"], m


def _synthetic_result() -> dict:
    """A traced run of two operations and two warm passes, one traced."""
    stage = dict.fromkeys(
        ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
         "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
         "diskBytesSpilled", "stages", "jobs_missing"), 1
    )

    def rec(op, build_jobs, exec_jobs):
        return {"op": op, "ok": True, "build_s": 0.5, "exec_s": 1.0,
                "build": dict(stage, jobs=build_jobs),
                "exec": dict(stage, jobs=exec_jobs)}

    ops = [rec("sources.scan_dicom_dir", 0, 2), rec("j9_transitive_closure", 3, 1)]
    spans = [
        {"name": "op", "pass": 0, "s": 1.5, "self_s": 0.0, "jobs": 2, "parent": None},
        {"name": "op", "pass": 0, "s": 1.5, "self_s": 0.0, "jobs": 4, "parent": None},
        {"name": "workload.build", "pass": 0, "s": 0.5, "self_s": 0.1, "jobs": 3,
         "parent": 1},
        {"name": "operators.transitive_closure", "pass": 0, "s": 0.4,
         "self_s": 0.4, "jobs": 3, "parent": 2},
    ]
    trig = {"op": "t1", "pass": 0, "traced": True, "rows": 5, "state_rows": 2,
            "state_bytes": 64, "ms": {"triggerExecution": 10, "addBatch": 4}}
    return {
        "first": {"wall_s": 9.0, "traced": False, "ops": ops},
        "warm": [
            {"wall_s": 3.2, "traced": True, "ops": ops},
            {"wall_s": 3.0, "traced": False, "ops": ops},
        ],
        "spans": spans,
        "triggers": [trig, {**trig, "pass": 1}, {**trig, "pass": -1}],
        "checks": {"sources.scan_dicom_dir": {"ok": True, "rows": 25,
                                             "malformed": 9}},
        "sink_files": 2, "sink_bytes": 100,
    }


def test_per_layer_reports_exactly_the_declared_metrics():
    manifest = {"imaging": {"dicom": {"files": 192, "bytes": 1000}}}
    res = _synthetic_result()
    got = report.per_layer("batch", res, manifest, [1.0, 2.0, 3.0])
    declared = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    assert {k: u for k, (_, u) in got.items()} == declared
    assert got["spark.jobs"][0] == 6
    assert got["workload.build_jobs"][0] == 3
    assert got["workload.build_job_share"][0] == pytest.approx(0.5)
    assert got["operators.transitive_closure.calls"][0] == 1
    assert got["operators.transitive_closure.jobs"][0] == 3
    assert got["tracing.overhead_s"][0] == pytest.approx(0.2)
    assert got["session.get_spark_s"][0] == 2.0
    assert got["session.first_pass_s"][0] == 9.0


# -- stolen CPU time -----------------------------------------------------------


def test_stolen_share_is_of_busy_time():
    assert steal.share((100, 5), (180, 25)) == pytest.approx(0.2)
    assert steal.share((100, 5), (100, 5)) == 0.0
    busy, stolen = steal.sample()
    assert busy > 0 and stolen >= 0


# -- span arithmetic ---------------------------------------------------------


def test_self_times_subtract_merged_child_coverage():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        Span("c", 8.0, 12.0, parent=0),  # clipped to the parent: 8..10
        Span("a.inner", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 3.0, 4.0, 1.0])


def test_self_jobs_subtract_child_jobs():
    spans = [
        {"jobs": 10, "parent": None},
        {"jobs": 4, "parent": 0},
        {"jobs": 1, "parent": 1},
    ]
    assert report.self_jobs(spans) == [6, 3, 1]


def test_tracer_nests_spans_and_records_job_watermarks():
    clock = iter(range(100))
    tracer = Tracer(lambda: next(clock))
    tracer.enabled = True
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    tracer.enabled = False
    with tracer.span("ignored"):
        pass
    outer, inner = tracer.spans
    assert inner.parent == 0 and outer.parent is None
    assert (outer.job_lo, inner.job_lo, inner.job_hi, outer.job_hi) == (0, 1, 2, 3)


def test_attribute_jobs_by_id_range():
    regions = [("a.build", 3, 5), ("a.exec", 5, 6), ("b.build", 6, 6),
               ("b.exec", 6, 9)]
    got = attribute_jobs([8, 1, 3, 4, 5, 7, 12], regions)
    assert got == {"a.build": [3, 4], "a.exec": [5], "b.build": [],
                   "b.exec": [7, 8]}


def test_job_attribution_on_a_two_operation_run(at_root, tmp_path):
    """Build and exec job counts of two toy operations, from the status
    store, match the jobs each call fires."""
    from pyspark.sql import SparkSession

    import ops
    import worker

    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        def eager(spark, inp):  # one job while building, one to run
            spark.range(10).count()
            return spark.range(100).selectExpr("id % 3 AS k")

        def lazy(spark, inp):  # no job while building
            return spark.range(100).selectExpr("id % 5 AS k").groupBy("k").count()

        toy = [ops.Op("eager", eager, None, "workload"),
               ops.Op("lazy", lazy, None, "workload")]
        counters = worker.Counters(spark)
        tracer = Tracer(counters.watermark)
        tracer.enabled = True
        result, _ = worker.run_pass(spark, toy, None, tracer, counters)
        eager_rec, lazy_rec = result["ops"]
        assert eager_rec["ok"] and lazy_rec["ok"]
        assert eager_rec["build"]["jobs"] == 1
        assert eager_rec["exec"]["jobs"] >= 1
        assert lazy_rec["build"]["jobs"] == 0
        assert lazy_rec["exec"]["jobs"] >= 1
        for r in (eager_rec, lazy_rec):
            for k in ("build", "exec"):
                assert r[k]["jobs_missing"] == 0
                assert r[k]["stages"] >= r[k]["jobs"]
        assert eager_rec["build"]["numTasks"] >= 1
        # a second run of the same operations fires the same jobs
        again, _ = worker.run_pass(spark, toy, None, tracer, counters)
        for a, b in zip(result["ops"], again["ops"]):
            assert (a["build"]["jobs"], a["exec"]["jobs"]) == (
                b["build"]["jobs"], b["exec"]["jobs"])
    finally:
        spark.stop()
