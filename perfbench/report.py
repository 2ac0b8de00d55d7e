"""Per-layer metrics and the per-layer table of a traced run.

A traced run alternates traced and untraced warm passes. Every per-layer
value is computed per traced warm pass and reported as the median over
those passes, so counters such as ``spark.jobs`` repeat exactly for a
seed. Layers are named after the engine's modules; ``spark.*`` is the
execution of the declared plan, ``workload.*`` the build call that
returns it.
"""

from __future__ import annotations

import statistics

from ops import workload_ops
from spans import OPERATOR_NAMES
from worker import CPUS

# Ingest operations, by the layer function they time (the parse runs in
# the exec call, the sink write in the build call).
SOURCE_FNS = (
    "scan_dicom_dir", "read_nifti_headers", "read_edf_channels",
    "read_minc_headers", "read_brainvision_channels", "read_events_tsv",
)
SINK_FNS = ("append_with_ids", "overwrite_partitions")
PHASES = ("addBatch", "queryPlanning", "walCommit", "latestOffset",
          "commitOffsets")


def percentile(values: list[float], q: float) -> float:
    """``q``-quantile (0..1) by linear interpolation between order
    statistics; 0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    x = q * (len(v) - 1)
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def self_jobs(spans: list[dict]) -> list[int]:
    """Per span: the jobs it fired minus those its child spans fired."""
    out = [s["jobs"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["jobs"]
    return out


def _stage_sum(rec: dict, field: str) -> int:
    return sum(rec[k][field] for k in ("build", "exec") if k in rec)


def _pass_layers(p: dict, spans: list[dict], sjobs: list[int]) -> dict:
    """Per-layer values of one traced pass."""
    ops = [r for r in p["ops"] if r["ok"]]
    build_jobs = sum(r["build"]["jobs"] for r in ops)
    jobs = build_jobs + sum(r["exec"]["jobs"] for r in ops)
    run_s = sum(_stage_sum(r, "executorRunTime") for r in ops) / 1e3
    out = {
        "catalog.scan_bytes": sum(_stage_sum(r, "inputBytes") for r in ops),
        "workload.build_s": sum(r["build_s"] for r in ops),
        "workload.build_jobs": build_jobs,
        "workload.build_job_share": build_jobs / jobs if jobs else 0.0,
        "spark.exec_s": sum(r["exec_s"] for r in ops),
        "spark.shuffle_read_bytes": sum(_stage_sum(r, "shuffleReadBytes") for r in ops),
        "spark.shuffle_write_bytes": sum(_stage_sum(r, "shuffleWriteBytes") for r in ops),
        "spark.spill_bytes": sum(_stage_sum(r, "diskBytesSpilled") for r in ops),
        "spark.jobs": jobs,
        "spark.stages": sum(_stage_sum(r, "stages") for r in ops),
        "spark.tasks": sum(_stage_sum(r, "numTasks") for r in ops),
        "spark.idle_slot_s": CPUS * sum(r["build_s"] + r["exec_s"] for r in ops) - run_s,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(_stage_sum(r, "executorCpuTime") for r in ops) / 1e9,
        "spark.gc_s": sum(_stage_sum(r, "jvmGcTime") for r in ops) / 1e3,
    }
    mine = [(s, j) for s, j in zip(spans, sjobs) if s["pass"] == p["pass"]]
    out["catalog.load_table_s"] = sum(
        s["self_s"] for s, _ in mine if s["name"] == "catalog.load_table"
    )
    for fn in OPERATOR_NAMES:
        hits = [(s, j) for s, j in mine if s["name"] == f"operators.{fn}"]
        out[f"operators.{fn}.calls"] = len(hits)
        out[f"operators.{fn}.s"] = sum(s["self_s"] for s, _ in hits)
        out[f"operators.{fn}.jobs"] = sum(j for _, j in hits)
    by_op = {r["op"]: r for r in ops}
    for layer, fns in (("sources", SOURCE_FNS), ("sinks", SINK_FNS)):
        for fn in fns:
            r = by_op.get(f"{layer}.{fn}")
            out[f"{layer}.{fn}.s"] = r["build_s"] + r["exec_s"] if r else 0.0
    out["tracing.span_coverage"] = (
        sum(s["s"] for s, _ in mine if s["parent"] is None) / p["wall_s"]
    )
    return out


def _sources(workload: str, res: dict, manifest: dict) -> dict:
    """What the ingest parsers read and produced (the checked output of
    the last pass; every pass parses the same files)."""
    files = nbytes = rows = bad = attempted_bad = 0
    for op in workload_ops(workload):
        if op.layer != "sources":
            continue
        m = manifest["imaging"][op.kind]
        files += m["files"]
        nbytes += m["bytes"]
        chk = res["checks"].get(op.name, {})
        rows += chk.get("rows", 0)
        if op.malformed:
            bad += chk.get("malformed", 0)
            attempted_bad += m["files"]
    return {
        "sources.files": files,
        "sources.input_bytes": nbytes,
        "sources.rows_out": rows,
        "sources.malformed_share": bad / attempted_bad if attempted_bad else 0.0,
    }


def _streaming(res: dict) -> dict:
    """Micro-batch figures per warm pass (median over passes), and the
    trigger-time percentiles pooled over every warm pass."""
    warm = [t for t in res["triggers"] if t["pass"] >= 0]
    passes = sorted({t["pass"] for t in warm}) or [0]
    per_pass = {k: [] for k in ("triggers", "input_rows", "state_rows", "state_bytes",
                                *PHASES)}
    for n in passes:
        ts = [t for t in warm if t["pass"] == n]
        per_pass["triggers"].append(len(ts))
        per_pass["input_rows"].append(sum(t["rows"] for t in ts))
        per_pass["state_rows"].append(max((t["state_rows"] for t in ts), default=0))
        per_pass["state_bytes"].append(max((t["state_bytes"] for t in ts), default=0))
        for ph in PHASES:
            per_pass[ph].append(sum(t["ms"].get(ph, 0) for t in ts))
    out = {}
    for k, v in per_pass.items():
        out[f"streaming.{k}_ms" if k in PHASES else f"streaming.{k}"] = _median(v)
    trig = [t["ms"].get("triggerExecution", 0) for t in warm]
    out["streaming.trigger_p50_ms"] = percentile(trig, 0.5)
    out["streaming.trigger_p90_ms"] = percentile(trig, 0.9)
    out["streaming.trigger_samples"] = len(trig)
    return out


UNITS = {
    "_s": "s", ".s": "s", "_ms": "ms", "_bytes": "bytes", "_share": "ratio",
    "_coverage": "ratio",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(workload: str, res: dict, manifest: dict,
              get_spark_s: list[float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of a traced run as ``name -> (value, unit)``."""
    spans = res["spans"]
    sjobs = self_jobs(spans)
    traced = [dict(p, **{"pass": n}) for n, p in enumerate(res["warm"]) if p["traced"]]
    untraced = [p for p in res["warm"] if not p["traced"]]
    rows = [_pass_layers(p, spans, sjobs) for p in traced]
    vals = {k: _median(r[k] for r in rows) for k in rows[0]}
    vals["session.get_spark_s"] = _median(get_spark_s)
    # The cold pass is one sample per run, too noisy on a shared host to
    # bound as an end-to-end metric; it is reported here.
    vals["session.first_pass_s"] = res["first"]["wall_s"]
    vals.update(_sources(workload, res, manifest))
    out = res.get("sink_files", 0), res.get("sink_bytes", 0)
    vals["sinks.files_written"], vals["sinks.output_bytes"] = out
    vals.update(_streaming(res))
    vals["tracing.overhead_s"] = (
        _median(p["wall_s"] for p in traced) - _median(p["wall_s"] for p in untraced)
    )
    return {k: (float(v), unit_of(k)) for k, v in sorted(vals.items())}


def table(workload: str, seed: int, res: dict, layers: dict) -> str:
    """Human-readable per-layer report: span self time by layer, reconciled
    against the traced pass wall time, then every per-layer metric."""
    traced = [n for n, p in enumerate(res["warm"]) if p["traced"]]
    walls = [res["warm"][n]["wall_s"] for n in traced]
    self_by: dict[str, float] = {}
    for s in res["spans"]:
        if s["pass"] in traced:
            self_by[s["name"]] = self_by.get(s["name"], 0.0) + s["self_s"]
    k = len(traced)
    wall = _median(walls)
    lines = [
        f"perfbench trace: workload {workload}, seed {seed}, "
        f"{k} traced and {len(res['warm']) - k} untraced warm passes",
        f"traced pass wall_s {wall:.4f}; tracing overhead_s "
        f"{layers['tracing.overhead_s'][0]:.4f}",
        "",
        f"{'span':44s} {'self_s/pass':>12s} {'share':>7s}",
    ]
    total = 0.0
    for name, v in sorted(self_by.items(), key=lambda kv: -kv[1]):
        total += v / k
        lines.append(f"{name:44s} {v / k:12.4f} {v / k / wall:7.1%}")
    lines.append(f"{'sum of span self times':44s} {total:12.4f} {total / wall:7.1%}")
    lines += ["", f"{'operation':44s} {'build_s':>9s} {'exec_s':>9s} "
              f"{'b.jobs':>6s} {'e.jobs':>6s}"]
    missing = 0
    for r in res["warm"][traced[0]]["ops"]:
        if r["ok"]:
            lines.append(
                f"{r['op']:44s} {r['build_s']:9.4f} {r['exec_s']:9.4f} "
                f"{r['build']['jobs']:6d} {r['exec']['jobs']:6d}"
            )
            missing += r["build"]["jobs_missing"] + r["exec"]["jobs_missing"]
    lines.append(f"jobs missing from the status store: {missing}")
    lines += ["", f"{'per-layer metric':44s} {'value':>14s} unit"]
    for name, (v, unit) in layers.items():
        lines.append(f"{name:44s} {v:14.4f} {unit}")
    return "\n".join(lines) + "\n"
