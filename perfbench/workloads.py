"""The closed-loop workloads: one harness thread issues one op at a
time and starts the next when the previous one has returned.

Each workload stages its inputs from the seed, runs warm-up rounds and
timed ops, and checks every op's output outside the timed region."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import corpus
import probes
from stats import result_digest

# One key per operator family: the composed pipeline, MinHash dedup,
# text statistics, iterative graph and vector similarity.
CURATION_KEYS = (
    "q_e2e_curation",
    "q_dedup_minhash",
    "q_text_tfidf",
    "q_graph_cc",
    "q_sim_cosine_topk",
)
PARTITIONS = 4
PAYLOAD_SCHEMA = "k string, seq bigint, part int"


@dataclass
class Op:
    """What one op did: rows it consumed, whether its output checked out,
    and (traced runs) its phase split and extra layer figures."""

    rows: int
    op_id: int = 0
    ok: bool = True
    error: str = ""
    phases: dict[str, float] = field(default_factory=dict)   # build/plan/exec
    detail: dict = field(default_factory=dict)
    job_groups: set[str] = field(default_factory=set)
    digests: dict[str, tuple[int, str]] = field(default_factory=dict)
    # filled by the harness's meter around the timed part
    wall: float = 0.0
    cpu: dict[str, float] = field(default_factory=dict)
    host: dict[str, float] = field(default_factory=dict)
    jvm: dict[str, float] = field(default_factory=dict)
    exec: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    warmup_rounds = 1
    # JVM options the workload's run adds to every JVM it starts
    java_options = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed

    def stage(self) -> None:
        """Write the inputs (counted in set-up time)."""

    def op(self, spark, meter, i: int, trace) -> Op:
        """Run op ``i``; its timed part runs inside ``meter.measure``."""
        raise NotImplementedError

    def final_check(self, spark, ops: list[Op]) -> None:
        """Checks that need every op to have run; marks the ops they fail."""


# ------------------------------------------------------------- ingest


def _ingest_spec(n_messages: int, topic: str):
    from kafka_hadoop_consumer_spark.streaming.ingest import SourceSpec

    return SourceSpec(kind="kafka_sim", topic=topic, extra_options={
        "n_partitions": str(PARTITIONS),
        "n_messages": str(n_messages),
        "payload": "json",
    })


def _run_ingest(spark, meter, op: Op, n_messages: int, topic: str, out: str,
                ckpt: str, trace) -> dict:
    """One timed ``run_ingest`` call; traced runs split it by listener
    events and scope its stages by run id (a streaming query runs its
    jobs in a job group named after the run)."""
    from kafka_hadoop_consumer_spark.streaming.ingest import run_ingest

    mark = trace.collector.mark() if trace else 0
    with meter.measure(op):
        t0 = time.time()
        res = run_ingest(spark, _ingest_spec(n_messages, topic), out, ckpt,
                         json_schema=PAYLOAD_SCHEMA)
        t1 = time.time()
    if trace:
        runs = trace.collector.runs_since(mark)
        s = probes.streaming_phases(runs, t0, t1)
        trace.tracer.add("streaming.run_ingest", t0, t1, op.op_id)
        started = t0 + s["start_s"]
        trace.tracer.add("streaming.start", t0, started, op.op_id)
        trace.tracer.add("streaming.pre_trigger", started,
                         started + s["pre_trigger_s"], op.op_id)
        op.phases = {
            "build_s": s["start_s"],
            "plan_s": s["latestOffset_s"] + s["getBatch_s"] + s["queryPlanning_s"],
            "exec_s": s["addBatch_s"],
        }
        op.detail["streaming"] = s
        op.job_groups = {r.run_id for r in runs}
    return res


def _source_probes(spark, lo: int, hi: int, topic: str) -> dict[str, float]:
    """Time the op's offset range through kafka_sim's batch reader into the
    noop sink, then the same scan plus ``decode_payload``."""
    from kafka_hadoop_consumer_spark.sources import kafka_sim
    from kafka_hadoop_consumer_spark.streaming.ingest import decode_payload

    kafka_sim.register(spark)
    df = (spark.read.format("kafka_sim")
          .option("topic", topic).option("n_partitions", str(PARTITIONS))
          .option("n_messages", str(hi)).option("starting_offset", str(lo))
          .option("payload", "json").load())
    out = {}
    for name, frame in (("sources.scan_s", df),
                        ("streaming.decode_s", decode_payload(df, json_schema=PAYLOAD_SCHEMA))):
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t0
    return out


class IngestCron(Workload):
    """Small deltas drained on one persistent checkpoint, as a cron job
    would: op time is the per-run lifecycle, not rows."""

    name = "ingest_cron"
    warmup_rounds = 3
    DELTA = 2_500            # new messages per partition per op

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.topic = f"cron{seed}"
        self.backlog = 1_000 + seed % 1_000   # drained by the first run
        self.hwm = 0                          # messages per partition so far
        self.out = os.path.join(work, "cron", "out")
        self.ckpt = os.path.join(work, "cron", "ckpt")

    def op(self, spark, meter, i, trace) -> Op:
        lo = self.hwm
        self.hwm = lo + (self.DELTA if lo else self.backlog)
        op = Op(rows=PARTITIONS * (self.hwm - lo), op_id=i)
        res = _run_ingest(spark, meter, op, self.hwm, self.topic, self.out, self.ckpt, trace)
        if res["rows"] != op.rows:
            op.ok, op.error = False, f"ingested {res['rows']} rows, expected {op.rows}"
        if trace:
            op.detail.update(_source_probes(spark, lo, self.hwm, self.topic))
            files, size = probes.dir_usage(self.out)
            op.detail["sink"] = {"files": files, "mb": size / probes.MB}
            files, size = probes.dir_usage(self.ckpt)
            op.detail["ckpt"] = {"files": files, "kb": size / 1024}
        return op

    def final_check(self, spark, ops: list[Op]) -> None:
        """Exactly once: every produced (part, seq) is in the sink once.
        A miss cannot be pinned on one run, so it fails them all."""
        from pyspark.sql import functions as F

        produced = PARTITIONS * self.hwm
        r = (spark.read.parquet(self.out)
             .agg(F.count("*").alias("n"),
                  F.count_distinct("part", "seq").alias("d")).first())
        if not r["n"] == r["d"] == produced:
            for op in ops:
                op.ok = False
                op.error = (f"sink holds {r['n']} rows, {r['d']} distinct "
                            f"(part, seq); {produced} were produced")


# ----------------------------------------------------------- curation


class LlmCuration(Workload):
    """One pass over the curation keys in fixed order, each result
    collected into this process. Switching keys releases the previous key's
    persisted frames, so every key runs cold."""

    name = "llm_curation"
    warmup_rounds = 1
    # Each pass compiles new code, so C2 never settles within a run and
    # its compile threads contend with the pass; C1 alone keeps the timed
    # passes flat. C1 alone would get a 48 MB code cache, which fills by
    # the fourth pass; 240 MB is what tiered compilation gets.
    java_options = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.data = os.path.join(work, "corpus")
        self.input_rows = 0

    def stage(self) -> None:
        self.input_rows = sum(corpus.write_corpus(self.data, self.seed).values())

    def op(self, spark, meter, i, trace) -> Op:
        from kafka_hadoop_consumer_spark.queries import QUERIES

        op = Op(rows=self.input_rows, op_id=i, job_groups={f"op{i}"})
        spark.sparkContext.setJobGroup(f"op{i}", "llm_curation pass")
        stamps, results = {}, {}
        with meter.measure(op):
            for key in CURATION_KEYS:
                t0 = time.time()
                df = QUERIES[key](spark, self.data)
                t1 = time.time()
                df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                results[key] = (df.columns, df.collect())
                stamps[key] = (t0, t1, t2, time.time())
        op.digests = {k: result_digest(c, r) for k, (c, r) in results.items()}
        if trace:
            per_key = {}
            for key, (t0, t1, t2, t3) in stamps.items():
                per_key[key] = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
                for phase, a, b in (("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3)):
                    trace.tracer.add(f"queries.{key}.{phase}", a, b, i)
            op.phases = {ph: sum(v[ph] for v in per_key.values())
                         for ph in ("build_s", "plan_s", "exec_s")}
            op.detail["queries"] = per_key
        return op

    def final_check(self, spark, ops: list[Op]) -> None:
        """Each key's (rows, digest) must equal its DuckDB oracle's."""
        want = self.expected()
        for op in ops:
            bad = [k for k in CURATION_KEYS if op.digests.get(k) != want[k]]
            if bad:
                op.ok, op.error = False, "output differs from the oracle: " + ", ".join(bad)

    def expected(self) -> dict[str, tuple[int, str]]:
        """Each key's (rows, digest) from its DuckDB oracle on this corpus."""
        import duckdb

        from kafka_hadoop_consumer_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in corpus.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t)}.parquet'")
            out = {}
            for key in CURATION_KEYS:
                cur = con.execute(ORACLES[key])
                cols = [d[0] for d in cur.description]
                out[key] = result_digest(cols, cur.fetchall())
            return out
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (IngestCron, LlmCuration)}
