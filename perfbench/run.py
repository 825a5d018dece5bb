"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_cron --seed 1 --seconds 6 --trace 0

Run it from the root of a source tree. One process runs one workload: it
stages the seeded inputs, starts Spark, warms up, then issues ops one at a
time until their timed wall reaches ``--seconds`` and at least ``MIN_OPS``
have run, checks every op's output and prints one JSON line last. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the same ops with the observers on and reports the
per-layer metrics. Both write a full record (environment, warm-up curve,
per-op figures, spans) under ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import contextmanager

import probes
from stats import steal_adjusted, summarize
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_hadoop_consumer_spark"

# Pinned settings. local[2] leaves two of the four vCPUs of the reference
# box to JIT and GC threads, Python workers and helper processes.
CPUS = "2"
SHUFFLE_PARTITIONS = "4"
DRIVER_MEM = "3g"

# A run times at least this many ops, however long --seconds is, so that
# its median stands on more than one or two samples and one op slowed by
# a neighbour on the host does not move it.
MIN_OPS = 3

# A warm-up round has settled when its codegen compiles, newly loaded
# classes and process-tree CPU each stopped falling: at least this share of
# the round before, or under the floor (counts of a settled JVM). Warm-up
# runs a fixed number of rounds per workload, chosen from the measured
# curves in RESULTS.md; the record says whether the last round settled.
SETTLED_SHARE = 0.9
SETTLED_FLOOR = {"codegen_compiles": 5, "classes_loaded": 50, "cpu_s": 0.0}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup-rounds", type=int, default=None,
                    help="warm-up rounds (default: the workload's own)")
    return ap.parse_args(argv)


def pin_environment(work: str, java_options: str) -> dict[str, str]:
    """Fix every setting the program and PySpark read from the
    environment; keep every file they write inside ``work``."""
    env = {
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": SHUFFLE_PARTITIONS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM (the launcher too): no perf-data file under /tmp, and
        # temp files (native libraries, spill) inside ``work``
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            "-XX:+PerfDisableSharedMem", f"-Djava.io.tmpdir={work}/tmp", java_options))),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


class Trace:
    """The observers of a traced run."""

    def __init__(self, spark, tracer) -> None:
        self.collector = probes.ProgressCollector()
        spark.streams.addListener(self.collector.listener())
        self.stages = probes.StageReader(spark)
        self.tracer = tracer


class Meter:
    """Measures the timed part of each op: wall, process-tree CPU, host
    forks and steal, and in traced runs the JVM counters."""

    def __init__(self, spark, trace: Trace | None) -> None:
        self.spark = spark
        self.trace = trace
        self.pid = os.getpid()

    def jvm(self) -> dict[str, float]:
        return probes.jvm_counters(self.spark)

    @contextmanager
    def measure(self, op):
        j0 = self.jvm() if self.trace else None
        h0, c0 = probes.host_counters(), probes.tree_cpu(self.pid)
        t0 = time.perf_counter()
        yield
        op.wall = time.perf_counter() - t0
        c1, h1 = probes.tree_cpu(self.pid), probes.host_counters()
        op.cpu = {k: c1[k] - c0[k] for k in c1}
        op.host = {k: h1[k] - h0[k] for k in h1}
        if j0 is not None:
            j1 = self.jvm()
            op.jvm = {k: (j1[k] if k == "heap_used_mb" else j1[k] - j0[k]) for k in j1}


def settled(prev: dict, cur: dict) -> bool:
    """Whether warm-up round ``cur`` has stopped falling against ``prev``."""
    return all(cur[k] <= floor or cur[k] >= SETTLED_SHARE * prev[k]
               for k, floor in SETTLED_FLOOR.items())


def warm_up(workload, spark, meter, rounds: int, tracer) -> tuple[list, list[dict]]:
    """Run ``rounds`` warm-up ops; return them and their counter curve."""
    ops, curve = [], []
    for r in range(rounds):
        j0 = meter.jvm()
        with tracer.span("warmup", op_id=-(r + 1)):
            op = workload.op(spark, meter, -(r + 1), None)
        j1 = meter.jvm()
        ops.append(op)
        curve.append({
            "round": r, "wall_s": op.wall, "cpu_s": op.cpu["total"],
            "codegen_compiles": j1["codegen_compiles"] - j0["codegen_compiles"],
            "classes_loaded": j1["classes_loaded"] - j0["classes_loaded"],
            "jit_s": j1["jit_s"] - j0["jit_s"],
        })
        if r:
            curve[-1]["settled"] = settled(curve[-2], curve[-1])
    return ops, curve


# End-to-end metrics printed by an untraced run: (name, unit). Peak RSS is a
# per-layer figure: G1 grows the heap to a size that varies from run to run
# (1.7 or 2.3 GB on curation), wider than any end-to-end bound allows.
END_TO_END = (("setup_s", "s"), ("op_s.p50", "s"), ("cpu_s_per_op", "s"))

# Per-layer figures printed by a traced run: (name, unit). Each is measured
# on every workload; a layer a workload does not use reads 0 only in counts
# and sizes. Figures that are structurally 0 on one workload (helper CPU
# on curation, codegen time once ingest has settled) and the per-key and
# per-phase detail go to the record only.
PRINTED_LAYERS = (
    ("session.get_spark_s", "s"),
    ("op.wall_s", "s"), ("op.build_s", "s"), ("op.plan_s", "s"),
    ("op.exec_s", "s"), ("op.other_s", "s"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"), ("exec.executor_cpu_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("jvm.jit_s", "s"), ("jvm.gc_s", "s"), ("jvm.classes_loaded", "count"),
    ("jvm.heap_used_mb", "MB"), ("codegen.compiles", "count"),
    ("streaming.batches", "count"),
    ("sink.files", "count"), ("sink.mb", "MB"),
    ("ckpt.files", "count"), ("ckpt.kb", "kB"),
    ("proc.forks", "count"), ("proc.peak_rss_mb", "MB"),
    ("cpu.jvm_s", "s"), ("cpu.python_s", "s"),
)


def _flat(prefix: str, d: dict, out: dict) -> None:
    for k, v in d.items():
        if isinstance(v, dict):
            _flat(f"{prefix}{k}.", v, out)
        elif isinstance(v, (int, float)):
            out[prefix + k] = out.get(prefix + k, 0.0) + v


def layer_figures(ops, session_s: float) -> dict[str, float]:
    """Every per-layer figure of a traced run, each the mean over its ops.

    The phases of an op: ``build`` is Python-side construction up to the
    engine starting work (curation: the ``QUERIES[key]`` calls; ingest:
    the call up to the query's start event), ``plan`` is Spark planning
    (curation: forcing ``executedPlan``; ingest: the latestOffset,
    getBatch and queryPlanning progress phases), ``exec`` is execution
    (curation: the collects; ingest: addBatch), and ``other`` is the rest
    of the op's wall time."""
    sums: dict[str, float] = {}
    for o in ops:
        _flat("op.", {"wall_s": o.wall, **o.phases}, sums)
        _flat("exec.", o.exec, sums)
        _flat("cpu.", {f"{k}_s": v for k, v in o.cpu.items()}, sums)
        _flat("", {"proc.forks": o.host["forks"], "host.steal_s": o.host["steal_s"]}, sums)
        jvm = {("codegen." + k[8:] if k.startswith("codegen_") else "jvm." + k): v
               for k, v in o.jvm.items()}
        _flat("", jvm, sums)
        _flat("", o.detail, sums)
    out = {k: v / len(ops) for k, v in sums.items()}
    out["op.other_s"] = out["op.wall_s"] - sum(out[f"op.{p}"] for p in
                                               ("build_s", "plan_s", "exec_s"))
    out["session.get_spark_s"] = session_s
    return out


def run(args, work: str) -> tuple[dict, dict]:
    from kafka_hadoop_consumer_spark.session import get_spark

    pid = os.getpid()
    proc_start = probes.process_start_epoch(pid)
    steal0 = probes.host_counters()["steal_s"]
    workload = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    tracer = probes.Tracer()
    with tracer.span("stage"):
        workload.stage()
    conf = {
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        return measure(args, workload, spark, tracer, (proc_start, steal0), session_s)
    finally:
        stop_spark(spark)


def measure(args, workload, spark, tracer, start: tuple[float, float],
            session_s: float) -> tuple[dict, dict]:
    """Warm up, run the timed ops, check them; ``start`` is the process's
    start time and the host's steal counter when the run began."""
    pid = os.getpid()
    trace = Trace(spark, tracer) if args.trace else None
    meter = Meter(spark, trace)
    rounds = args.warmup_rounds if args.warmup_rounds is not None else workload.warmup_rounds
    warm_ops, curve = warm_up(workload, spark, meter, rounds, tracer)
    # set-up: process start to here, with its CPU and the host's steal
    setup = {"wall_s": time.time() - start[0],
             "cpu_s": probes.tree_cpu(pid)["total"],
             "steal_s": probes.host_counters()["steal_s"] - start[1]}

    ops, timed = [], 0.0
    while timed < args.seconds or len(ops) < MIN_OPS:
        i = len(ops)
        with tracer.span("op", op_id=i):
            op = workload.op(spark, meter, i, trace)
        if trace:
            op.exec = trace.stages.op_metrics(op.job_groups)
        ops.append(op)
        timed += op.wall
    peak_rss = probes.tree_peak_rss_mb(pid)
    with tracer.span("final_check"):
        workload.final_check(spark, warm_ops + ops)
    setup_s = steal_adjusted(setup["wall_s"], setup["cpu_s"], setup["steal_s"])
    op_s = [steal_adjusted(o.wall, o.cpu["total"], o.host["steal_s"]) for o in ops]

    layers = layer_figures(ops, session_s) if trace else {}
    if trace:
        layers["proc.peak_rss_mb"] = peak_rss
        printed, values = PRINTED_LAYERS, layers
    else:
        printed, values = END_TO_END, {
            "setup_s": setup_s,
            "op_s.p50": statistics.median(op_s),
            "cpu_s_per_op": statistics.median(o.cpu["total"] for o in ops),
        }
    metrics = {k: (values.get(k, 0.0), u) for k, u in printed}
    failed = sum(not o.ok for o in ops)
    result = {
        "correct": failed == 0 and all(o.ok for o in warm_ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "op_s": summarize(op_s),
        "op_wall_s": summarize([o.wall for o in ops]),
        "warmup": curve,
        "ops": [{
            "wall_s": o.wall, "rows": o.rows, "ok": o.ok, "error": o.error,
            "cpu": o.cpu, "host": o.host, "jvm": o.jvm, "exec": o.exec,
            "phases": o.phases, "detail": o.detail,
        } for o in ops],
        "warmup_errors": [o.error for o in warm_ops if not o.ok],
        "layers": layers,
        "spans": tracer.spans,
        "session_s": session_s,
        "setup_s": setup_s,
        "setup": setup,
        "peak_rss_mb": peak_rss,
    }
    return result, record


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and every process under this one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    me = os.getpid()
    deadline = time.monotonic() + 30
    sig = signal.SIGTERM
    while True:
        rest = [st.pid for st in probes.process_tree(me) if st.pid != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in rest:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def environment(args, env: dict[str, str]) -> dict:
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "loadavg": loadavg,
        "python": sys.version.split()[0], "env": env,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: no {PACKAGE}/ package next to {os.path.basename(HERE)}/; "
              "run from a full source tree", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    try:
        env = pin_environment(work, WORKLOADS[args.workload].java_options)
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["environment"] = environment(args, env)
    record["result"] = result
    os.makedirs(os.path.join(out_dir, "records"), exist_ok=True)
    path = os.path.join(out_dir, "records",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    steal = [round(o["host"]["steal_s"], 3) for o in record["ops"]]
    print(json.dumps({"environment": record["environment"], "steal_s_per_op": steal,
                      "setup": record["setup"], "op_wall_s": record["op_wall_s"],
                      "warmup": record["warmup"], "record": os.path.relpath(path, ROOT)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
