"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch --seed 1 --trace 0

Run from the repository root. The seed's inputs are generated (untimed,
cached under ``perfbench/.data``), then two fresh Python+JVM processes
are started side by side. Each builds its session, loads the engine and
first-touches the inputs; the median of the two is ``setup_s``. Once the
set-up-only process has ended, the other runs the workload: one first
pass, warm passes for ``--seconds`` (10 by default, as in
``BENCHMARK.json``; at least three passes), and an untimed output check.
End-to-end timings are net of the CPU time the host took from this
machine's busy CPUs (``steal.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced run and writes a per-layer table to
``perfbench/.out``. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import steal  # noqa: E402

SETUPS = 2
RUN_SECONDS = 10.0
DEADLINE_S = 170.0
WORKLOADS = ("batch", "ingest")


def _kill(proc: subprocess.Popen) -> None:
    """Kill a worker's process group: worker, JVM and Python workers."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _start(args: list[str], env: dict) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env,
        start_new_session=True, text=True,
    )


def _line(proc: subprocess.Popen) -> dict:
    """The worker's next JSON line on stdout."""
    for line in proc.stdout:
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker ended without a result (exit {proc.wait()})")


def _run_workers(common: list[str], env: dict, deadline: float):
    """Start the set-up-only workers and the main worker together; return
    (set-up times net of stolen CPU time, get_spark times, main result). Every worker's process group is killed
    and waited for before this returns."""
    t0, cpu0 = time.monotonic(), steal.sample()
    main = _start(common, env)
    others = [_start(common + ["--setup-only"], env) for _ in range(SETUPS - 1)]
    procs = [main, *others]
    timer = threading.Timer(max(1.0, deadline - t0), lambda: [_kill(p) for p in procs])
    timer.start()
    try:
        setup = [_line(p) for p in procs]
        stolen = steal.share(cpu0, steal.sample())
        for p in others:  # gone before the main worker starts measuring
            _kill(p)
            p.wait()
        main.stdin.write("go\n")
        main.stdin.flush()
        result = _line(main)
    finally:
        timer.cancel()
        for p in procs:
            _kill(p)
            p.stdout.close()
            p.stdin.close()
            p.wait()
    return ([(r["setup_end"] - t0) * (1 - stolen) for r in setup],
            [r["get_spark_s"] for r in setup], result)


def _op_total(rec: dict) -> float:
    """An operation's time net of the CPU time stolen from it."""
    return rec["build_s"] + rec["exec_s"] - rec["stolen_s"]


def _timing(name: str, values: list[float]) -> str:
    """Median, high percentile and sample count of one timing."""
    from report import percentile

    return (f"{name} median {statistics.median(values):.4f} "
            f"p90 {percentile(values, 0.9):.4f} n {len(values)}")


def end_to_end(setups: list[float], main: dict, input_files: int) -> dict:
    """The end-to-end metrics. A warm operation's time is its fastest warm
    pass: the host only ever adds time."""
    warm = [p for p in main["warm"] if not p["traced"]]
    per_op: dict[str, list[float]] = {}
    for p in warm:
        for r in p["ops"]:
            if r["ok"]:
                per_op.setdefault(r["op"], []).append(_op_total(r))
    best = [min(v) for v in per_op.values()]
    wall_s = sum(best)
    ok = [r for p in warm for r in p["ops"] if r["ok"]]
    stolen = sum(r["stolen_s"] for r in ok) / sum(r["build_s"] + r["exec_s"] for r in ok)
    print("perfbench: " + "; ".join([
        _timing("setup_s", setups),
        f"first_pass_s {main['first']['wall_s']:.4f}",
        _timing("pass_s", [p["wall_s"] for p in warm]),
        _timing("op_s", [t for v in per_op.values() for t in v]),
        f"stolen share of warm op time {stolen:.3f}",
    ]), file=sys.stderr)
    for op, v in per_op.items():
        print(f"perfbench: {op} warm s " + " ".join(f"{t:.3f}" for t in v),
              file=sys.stderr)
    # Printed, not a metric: the JVM grows its heap when its collector
    # decides to, so the peak spreads too widely between runs to bound.
    print(f"perfbench: jvm_peak_rss_mb {main['jvm_peak_rss_mb']:.1f}", file=sys.stderr)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (wall_s, "s"),
        "query_geomean_s": (math.exp(statistics.fmean(math.log(b) for b in best)), "s"),
        "files_per_s": (input_files / wall_s, "1/s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    start = time.monotonic()
    root = os.getcwd()
    for need in ("loris_mri_spark", os.path.join("tests", "fixtures", "generate.py")):
        if not os.path.exists(os.path.join(root, need)):
            print(f"perfbench: run from the repository root ({need} not found)",
                  file=sys.stderr)
            return 2

    import gen

    inputs = gen.ensure(os.path.join(HERE, ".data"), args.seed)
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed string-hash seed keeps set order in the engine's Python code
    # the same in every run; with a fresh seed per process the warm
    # passes settled at levels up to 1.4x apart from run to run.
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PYTHONHASHSEED="0")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    common = ["--workload", args.workload, "--inputs", inputs, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace)]
    deadline = start + DEADLINE_S
    try:
        setups, get_spark, main_res = _run_workers(common, env, deadline)
    except (RuntimeError, BrokenPipeError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    execs = [r for p in [main_res["first"], *main_res["warm"]] for r in p["ops"]]
    checks = main_res["checks"]
    failed = sum(not r["ok"] for r in execs) + sum(not c["ok"] for c in checks.values())
    attempted = len(execs) + len(checks)
    print(f"perfbench: {args.workload} seed {args.seed}: "
          f"{len(main_res['warm'])} warm passes of {len(checks)} ops; "
          f"error_rate {failed / attempted:.4f} ({failed} of {attempted})",
          file=sys.stderr)
    if args.trace:
        import report

        metrics = report.per_layer(args.workload, main_res, manifest, get_spark)
        text = report.table(args.workload, args.seed, main_res, metrics)
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(text)
    else:
        files = (manifest["imaging_files"] if args.workload == "ingest"
                 else len(manifest["tables"]))
        metrics = end_to_end(setups, main_res, files)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
