"""The Python worker daemon of ``get_spark`` sessions
(``loris_mri_spark._daemon``).

``spark.python.daemon.module`` is a static conf and the session fixture is
vanilla, so the pins run in one child process with its own JVM. The child
runs from a foreign working directory with ``PYTHONPATH`` unset, as a
user's driver script would, and reports each part separately.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
FIXTURES = REPO / "tests" / "fixtures"

_CHILD = r'''
import pickle, sys, traceback, zipfile
repo, fixtures, out = sys.argv[1:4]
sys.path.insert(0, repo)

from loris_mri_spark.session import get_spark
from loris_mri_spark.sources import read_edf_channels, read_nifti_headers


def probe(batches):
    """Count the zip-archive re-reads of one importlib.invalidate_caches()
    and check that it still invalidates a directory finder."""
    import importlib, os, tempfile, zipimport
    import pandas as pd

    for _ in batches:
        pass
    def zips():
        return sorted(p for p, f in sys.path_importer_cache.items()
                      if isinstance(f, zipimport.zipimporter))
    d = tempfile.mkdtemp(dir=out)
    sys.path.append(d)
    open(os.path.join(d, "loris_probe_a.py"), "w").close()
    import loris_probe_a  # the directory's finder lists it now
    st = os.stat(d)
    open(os.path.join(d, "loris_probe_b.py"), "w").close()
    # Same directory mtime: only invalidate_caches() can make the finder
    # list the directory again.
    os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    before, calls = zips(), []
    reread = zipimport.zipimporter.invalidate_caches
    def counting(self):
        calls.append(self.archive)
        return reread(self)
    zipimport.zipimporter.invalidate_caches = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport.zipimporter.invalidate_caches = reread
    try:
        import loris_probe_b
        imported = True
    except ImportError:
        imported = False
    yield pd.DataFrame({"zips": [len(before)], "rereads": [len(calls)],
                        "restored": [zips() == before],
                        "imported": [imported]})


def shipped(batches):
    import pandas as pd
    import loris_addpy_probe

    for _ in batches:
        pass
    yield pd.DataFrame({"value": [loris_addpy_probe.VALUE]})


def part(name, fn):
    try:
        result[name] = fn()
    except Exception:
        result[name] = traceback.format_exc()


result = {}
spark = get_spark(master="local[1]", extra_conf={"spark.driver.memory": "1g"})
one = spark.range(1, numPartitions=1)
part("probe", lambda: one.mapInPandas(
    probe, "zips int, rereads int, restored boolean, imported boolean"
).collect()[0].asDict())

zpath = out + "/addpy.zip"
with zipfile.ZipFile(zpath, "w") as zf:
    zf.writestr("loris_addpy_probe.py", "VALUE = 42\n")
spark.sparkContext.addPyFile(zpath)
part("addpy", lambda: one.mapInPandas(shipped, "value int").collect()[0].value)

for reader in (read_nifti_headers, read_edf_channels):
    part(reader.__name__, lambda: sorted(
        repr(r.asDict(recursive=True)) for r in reader(spark, fixtures).collect()
    ))
spark.stop()
with open(out + "/result.pkl", "wb") as f:
    pickle.dump(result, f)
'''


@pytest.fixture(scope="module")
def child(tmp_path_factory) -> dict:
    tmp = tmp_path_factory.mktemp("daemon")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(REPO), str(FIXTURES), str(tmp)],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    with open(tmp / "result.pkl", "rb") as f:
        return pickle.load(f)


def _part(child: dict, name: str):
    value = child[name]
    assert not (isinstance(value, str) and value.startswith("Traceback")), value
    return value


def test_task_invalidate_caches_rereads_no_zip_archive(child):
    """One importlib.invalidate_caches() inside a task re-reads no zip
    archive, puts the zip importers back, and still makes a directory
    finder see a module written after the directory was first listed."""
    probe = _part(child, "probe")
    assert probe["zips"] > 0  # pyspark.zip and friends are on the path
    assert probe["rereads"] == 0
    assert probe["restored"]
    assert probe["imported"]


def test_addpyfile_after_first_task_imports(child):
    """A zip shipped with addPyFile after a Python task has run (the
    ``__spark_entry__._ensure_pkg_shipped`` path) imports in the next task."""
    assert _part(child, "probe")["zips"] > 0  # a task ran before addPyFile
    assert _part(child, "addpy") == 42


@pytest.mark.parametrize("reader", ["read_nifti_headers", "read_edf_channels"])
def test_foreign_cwd_rows_match_vanilla_session(child, spark, reader):
    """Started from a foreign working directory with PYTHONPATH unset, a
    get_spark session's workers import the daemon and the package, and
    the parsers return the vanilla session's rows."""
    from loris_mri_spark import sources

    rows = getattr(sources, reader)(spark, str(FIXTURES)).collect()
    assert rows
    assert _part(child, reader) == sorted(repr(r.asDict(recursive=True)) for r in rows)
