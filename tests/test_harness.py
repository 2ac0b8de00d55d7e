"""Guards for the bench harness (bench.py, bench_scale.py, tools/): none of
it runs in the suite, so an import or a query name that rots there would
otherwise go unnoticed until the next bench run."""

from __future__ import annotations

import ast
import copy
import py_compile
import re
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
HARNESS = [REPO / "bench.py", REPO / "bench_scale.py",
           *sorted((REPO / "tools").glob("*.py"))]


@pytest.mark.parametrize("path", HARNESS, ids=lambda p: p.name)
def test_harness_file_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"),
                       doraise=True)


def test_bench_scripts_import_without_starting_spark():
    code = (
        "import bench, bench_scale\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                   timeout=120)


def test_bench_reads_only_deployment_settings():
    src = (REPO / "bench.py").read_text()
    assert "LORIS_BENCH_" not in src
    read = set(re.findall(r"environ\.get\(\s*\"(\w+)\"", src))
    assert read == {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
                    "SPARK_GRAFT_DRIVER_MEM"}


def test_sweep_table_names_registered_queries():
    import bench_scale
    from loris_mri_spark import workload

    workload.load_all()
    keys = [s.key for s in bench_scale.SWEEPS]
    assert len(keys) == len(set(keys))
    assert not set(bench_scale.RUNNERS) & set(workload.QUERIES)
    for sweep in bench_scale.SWEEPS:
        assert len(sweep.queries) == len(set(sweep.queries)), sweep.key
        unknown = [
            n for n in sweep.queries
            if n not in workload.QUERIES and n not in bench_scale.RUNNERS
        ]
        assert not unknown, (sweep.key, unknown)
        # the growth fit needs a tier one decade below the last
        ratios = [t.ratio for t in sweep.tiers]
        assert ratios == sorted(ratios), sweep.key
        assert ratios[-1] % 10 == 0 and ratios[-1] // 10 in ratios, sweep.key


def test_merge_touches_only_the_sweeps_key():
    import bench_scale

    sweeps = {s.key: s for s in bench_scale.SWEEPS}
    doc = {
        "metric": "scale_growth",
        "queries": {"dedup_exact": {"old": 1}},
        "eeg_bids_probe": {"1x": {"warm_median3_sec": 4.3}},
        "media_extension": {"queries": {"mm_audio_wav_meta": {"old": 2}}},
    }
    before = copy.deepcopy(doc)
    warm = {"sf1": 1.0, "sf10": 20.0, "sf100": 300.0}
    rec = {"warm_median3_sec": warm,
           **bench_scale.growth(sweeps["media_extension"], warm)}
    assert rec["super_linear"] and rec["ratio_last_decade"] == 15.0
    bench_scale.merge(doc, sweeps["media_extension"],
                      {"mm_audio_features": rec}, {"input_scaled": True})
    section = doc.pop("media_extension")
    assert section["queries"] == {
        "mm_audio_wav_meta": {"old": 2}, "mm_audio_features": rec}
    assert section["super_linear"] == ["mm_audio_features"]
    assert section["data_ratios"] == [1, 10, 100]
    assert section["input_scaled"] is True
    before.pop("media_extension")
    assert doc == before

    # the main sweep's section is the document root
    bench_scale.merge(doc, sweeps["queries"], {"j9_transitive_closure": rec},
                      {})
    assert set(doc["queries"]) == {"dedup_exact", "j9_transitive_closure"}
    assert doc["eeg_bids_probe"] == before["eeg_bids_probe"]
    assert bench_scale.growth(sweeps["queries"], {"sf0.1": -1.0})[
        "growth_exponent"] is None


# bench.py's final stdout line: the per-query warm map, its totals and
# the two one-shot calibration timings.
FINAL_LINE_KEYS = {
    "metric", "value", "unit", "sf", "n_queries", "queries",
    "cold_total_sec", "calib_python_loop_sec", "calib_jvm_agg_sec",
}


def _bench_tree():
    return ast.parse((REPO / "bench.py").read_text())


def test_bench_final_line_keeps_its_nine_keys():
    """The `result` dict bench.py prints last, and the line its module
    docstring documents, both carry exactly the nine keys."""
    tree = _bench_tree()
    (result,) = [
        node.value for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and [getattr(t, "id", None) for t in node.targets] == ["result"]
    ]
    assert {k.value for k in result.keys} == FINAL_LINE_KEYS
    doc = ast.get_docstring(tree)
    documented = doc[doc.index("{"):doc.index("}\n") + 1]
    assert set(re.findall(r'"(\w+)":', documented)) == FINAL_LINE_KEYS


def test_bench_never_reads_its_own_record():
    """bench.py writes BENCH_DETAIL.json and never reads a record back:
    runs are compared outside it."""
    reads = [
        ast.unparse(node.func) for node in ast.walk(_bench_tree())
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Attribute)
             and node.func.attr in {"read_text", "read_bytes", "open",
                                    "load", "loads", "exists"})
            or (isinstance(node.func, ast.Name) and node.func.id == "open")
        )
    ]
    # the only path probe is the warm-up's check for a catalog table
    assert reads == ["os.path.exists"], reads


def test_bench_detail_drops_the_comparator_fields():
    src = (REPO / "bench.py").read_text()
    for field in ("regressions_vs_prev", "flags", "calib_jvm_hot_sec",
                  "host_speed_ratio_vs_prev", "midrun_recalib_jvm_sec",
                  "adjudication"):
        assert f'"{field}"' not in src, field
