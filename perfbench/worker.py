"""One fresh benchmark process: set up a session, then run and check a
workload's operations.

Started by ``run.py`` with the repository root as working directory. The
first JSON line on stdout reports the monotonic clock at the end of
set-up, so the parent, which read the same clock just before starting
this process, measures set-up from interpreter start. The process then
waits for a line on stdin before it runs anything. The last line of
stdout is one JSON object with the raw measurements; ``run.py`` turns
them into metrics.

Each operation is two timed calls: ``build`` returns a DataFrame, and
``exec`` runs it and collects its rows to the driver (``toPandas``).
After the timed passes every operation's rows from the last pass are
checked, untimed; collecting them inside the timed call spares the run a
second execution of every plan just for the check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import ops as opsmod  # noqa: E402
import steal  # noqa: E402
from spans import (  # noqa: E402
    OPERATORS, Tracer, attribute_jobs, self_times, wrap_import_sites,
)

# Two task slots on the four-CPU host: the driver thread, the Python
# workers, the JIT and the collector keep the other CPUs, so the timings
# measure the engine rather than the scheduler.
CPUS = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
# The JVM runs with its C1 compiler only. With the default tiered JIT the
# warm passes kept speeding up for ten passes and settled at levels up to
# 1.5x apart from one JVM to the next; with C1 alone they level off within
# the first warm passes.
JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"

CATALOG = {"loris_mri_spark.catalog": ("load_table",)}

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
)


def _session(local_dir: str):
    from loris_mri_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir} {JAVA_OPTIONS}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.monotonic() - t


def _first_touch(spark, workload: str, inp: opsmod.Inputs) -> None:
    """Open the workload's inputs once: parquet footers and the imaging
    file listing are read while the DataFrames are defined. The first
    footer read is the session's first Spark job."""
    from loris_mri_spark.catalog import load_table

    for t in opsmod.TABLES[workload]:
        load_table(spark, inp.catalog, t).schema
    if workload == "ingest":
        spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(
            inp.imaging
        ).schema


class Counters:
    """Spark job and stage counters from the status store, by job id."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.dag = self.jsc.dagScheduler()
        self.gw = spark.sparkContext._gateway

    def watermark(self) -> int:
        """The id the next job will get."""
        return int(self.dag.nextJobId())

    def drain(self) -> None:
        """Wait until every posted listener event (job ends, stream
        progress) has been delivered."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _stage_ids(self, store, job_id: int) -> list[int] | None:
        try:
            ids = store.job(job_id).stageIds()
        except Exception:  # noqa: BLE001  (job not in the status store)
            return None
        it = ids.iterator()
        out = []
        while it.hasNext():
            out.append(int(it.next()))
        return out

    def harvest(self, regions: list[tuple[str, int, int]]) -> dict[str, dict]:
        """Counters per region ``(label, lo, hi)``: consecutive job-id
        watermarks taken around the calls of one serial operation. The
        jobs the status store holds are attributed to regions by id;
        ``jobs`` is the width of the region's id range."""
        store = self.jsc.statusStore()
        lo, hi = regions[0][1], regions[-1][2]
        stages_of = {j: self._stage_ids(store, j) for j in range(lo, hi)}
        held = [j for j, ids in stages_of.items() if ids is not None]
        no_tasks = self.gw.jvm.java.util.ArrayList()
        no_quantiles = self.gw.new_array(self.gw.jvm.double, 0)
        out = {}
        for label, jobs in attribute_jobs(held, regions).items():
            rec = dict.fromkeys(STAGE_FIELDS, 0)
            r_lo, r_hi = next((a, b) for lab, a, b in regions if lab == label)
            rec["jobs"] = r_hi - r_lo
            rec["jobs_missing"] = rec["jobs"] - len(jobs)
            stage_ids = {sid for j in jobs for sid in stages_of[j]}
            stages = 0
            for sid in stage_ids:
                attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    if st.status().toString() == "SKIPPED":
                        continue
                    stages += 1
                    for f in STAGE_FIELDS:
                        rec[f] += int(getattr(st, f)())
            rec["stages"] = stages
            out[label] = rec
        return out


def _listener(tracer: Tracer, triggers: list):
    """Records every micro-batch's progress with the operation and pass it
    belongs to. Stream threads do not inherit job groups, so trigger
    phases come from the listener rather than from spans."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Triggers(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            triggers.append({
                "op": tracer.op,
                "pass": tracer.pass_no,
                "traced": tracer.enabled,
                "ms": {k: int(v) for k, v in p.durationMs.items()},
                "rows": int(p.numInputRows),
                "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                "state_bytes": sum(
                    int(s.memoryUsedBytes) for s in p.stateOperators
                ),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Triggers()


def run_pass(spark, op_list, inp, tracer: Tracer, counters):
    """One serial pass. Returns per-op records and the rows collected."""
    records, outputs = [], {}
    t_pass = time.perf_counter()
    for op in op_list:
        tracer.op = op.name
        rec = {"op": op.name, "ok": True}
        j0 = counters.watermark() if tracer.enabled else 0
        cpu0 = steal.sample()
        try:
            with tracer.span("op"):
                t0 = time.perf_counter()
                with tracer.span("workload.build"):
                    df = op.build(spark, inp)
                t1 = time.perf_counter()
                j1 = counters.watermark() if tracer.enabled else 0
                with tracer.span("spark.exec"):
                    outputs[op.name] = df.toPandas()
                t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1,
                       stolen_s=(t2 - t0) * steal.share(cpu0, steal.sample()))
        except Exception:  # noqa: BLE001  (a failing op must not end the run)
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)[-600:]
            print(f"perfbench: {op.name} failed:\n{rec['error']}", file=sys.stderr)
        # Deliver this operation's stream progress events before the next
        # operation starts, so each trigger is recorded under its own op.
        counters.drain()
        if tracer.enabled and rec["ok"]:
            rec.update(counters.harvest(
                [("build", j0, j1), ("exec", j1, counters.watermark())]
            ))
        records.append(rec)
    tracer.op = None
    return {"wall_s": time.perf_counter() - t_pass, "ops": records,
            "traced": tracer.enabled}, outputs


def check(op_list, outputs, inp) -> dict:
    """Check every operation's rows from the last pass (untimed)."""
    out = {}
    for op in op_list:
        pdf = outputs.get(op.name)
        if pdf is None:
            out[op.name] = {"ok": False, "error": "no output"}
        else:
            try:
                err = op.check(pdf, inp)
                out[op.name] = {"ok": err is None, "rows": len(pdf), "error": err}
                if op.malformed:
                    out[op.name]["malformed"] = op.malformed(pdf)
            except Exception:  # noqa: BLE001
                out[op.name] = {"ok": False,
                                "error": traceback.format_exc(limit=3)[-600:]}
        if not out[op.name]["ok"]:
            print(f"perfbench: check {op.name}: {out[op.name]['error']}",
                  file=sys.stderr)
    return out


def _sink_files(out_dir: str) -> tuple[int, int]:
    """Data files and bytes under the sink directory."""
    files = nbytes = 0
    for d, _, names in os.walk(out_dir):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def _jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the session's JVM, a child of this
    process, read once after the timed passes."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if fields.get("PPid", "").strip() == me and "VmHWM" in fields:
            return int(fields["VmHWM"].split()[0]) / 1024
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=opsmod.WORKLOADS)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)

    with open(os.path.join(args.inputs, "manifest.json")) as f:
        manifest = json.load(f)
    inp = opsmod.Inputs(
        catalog=os.path.join(args.inputs, "catalog"),
        imaging=os.path.join(args.inputs, "imaging"),
        out=os.path.join(args.work, "sinks"),
        manifest=manifest,
    )
    local_dir = os.path.join(args.work, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    scratch = os.path.join(os.getcwd(), ".scratch")
    before = set(os.listdir(scratch)) if os.path.isdir(scratch) else set()

    spark, get_spark_s = _session(local_dir)
    from loris_mri_spark import workload

    workload.load_all()
    op_list = opsmod.workload_ops(args.workload)
    _first_touch(spark, args.workload, inp)
    print(json.dumps({"setup_end": time.monotonic(), "get_spark_s": get_spark_s}),
          flush=True)
    # Wait until the parent says go: it has ended the set-up-only process
    # that ran side by side with this one. A set-up-only process waits
    # here until the parent kills its process group, JVM included.
    if not sys.stdin.readline() or args.setup_only:
        os._exit(0)

    counters = Counters(spark)
    tracer = Tracer(counters.watermark)
    triggers: list = []
    spark.streams.addListener(_listener(tracer, triggers))
    if args.trace:
        for layer, targets in (("operators", OPERATORS), ("catalog", CATALOG)):
            wrap_import_sites(tracer, targets, layer)

    tracer.pass_no = -1
    first, _ = run_pass(spark, op_list, inp, tracer, counters)
    warm, outputs = [], {}
    t_warm = time.perf_counter()
    # Warm passes until the run's seconds are spent, at least three: each
    # operation's fastest pass is its time, and the host's load varies from
    # pass to pass. A traced run alternates untraced and traced passes, so
    # that the untraced ones bracket a traced one; the difference between
    # the two kinds is the tracing overhead.
    while len(warm) < 3 or time.perf_counter() - t_warm < args.seconds:
        tracer.enabled = bool(args.trace) and len(warm) % 2 == 1
        tracer.pass_no = len(warm)
        p, outputs = run_pass(spark, op_list, inp, tracer, counters)
        warm.append(p)
    tracer.enabled = False
    counters.drain()

    result = dict(first=first, warm=warm, checks=check(op_list, outputs, inp),
                  triggers=triggers, jvm_peak_rss_mb=_jvm_peak_rss_mb())
    if args.trace:
        result["spans"] = [
            {"name": s.name, "op": s.op, "pass": s.pass_no, "s": s.end - s.start,
             "self_s": st, "jobs": s.job_hi - s.job_lo, "parent": s.parent}
            for s, st in zip(tracer.spans, self_times(tracer.spans))
        ]
        result["sink_files"], result["sink_bytes"] = _sink_files(inp.out)
    spark.stop()
    if os.path.isdir(scratch):
        for name in set(os.listdir(scratch)) - before:
            shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
