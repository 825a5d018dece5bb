"""Unit tests of the benchmark harness's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import probes  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

# ------------------------------------------------------------ percentiles


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 90) == pytest.approx(3.7)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, tail", [
    (1, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (999, 90.0), (1000, 99.0),
])
def test_tail_percentile_needs_ten_samples_beyond_it(n, tail):
    assert stats.tail_percentile(n) == tail


def test_summarize_reports_count_and_only_supported_tails():
    few = stats.summarize([3.0, 1.0, 2.0])
    assert few == {"n": 3, "p50": 2.0}
    many = stats.summarize([float(i) for i in range(100)])
    assert many["n"] == 100 and many["p50"] == 49.5
    assert many["p90"] == pytest.approx(89.1)
    assert "p99" not in many


def test_steal_adjusted_takes_out_stolen_time_at_the_ops_parallelism():
    # 2 threads busy for 10 s, 4 s of it stolen: 16 CPU-s + 4 s stolen
    # over 10 s is 2 threads at once; 16 CPU-s on 2 threads take 8 s
    assert stats.steal_adjusted(10.0, 16.0, 4.0) == pytest.approx(8.0)
    assert stats.steal_adjusted(10.0, 16.0, 0.0) == 10.0
    assert stats.steal_adjusted(3.0, 0.0, 0.0) == 3.0


# ------------------------------------------------------------------ /proc

TCK = probes.CLK_TCK


def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0, start=100):
    # fields after comm: state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime prio nice threads
    # itreal starttime ...
    rest = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime,
            cstime, 20, 0, 1, 0, start, 0, 0]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


@pytest.fixture
def fake_proc(tmp_path):
    procs = [
        # pid, comm, ppid, utime, stime, cutime, cstime, VmHWM kB, cmdline
        (100, "python3", 1, 2 * TCK, 1 * TCK, 1 * TCK, 0, 100_000, "python3 run.py"),
        (101, "java", 100, 10 * TCK, 2 * TCK, 3 * TCK, 1 * TCK, 2_000_000, "java"),
        (102, "python3", 101, 1 * TCK, 0, 4 * TCK, 0, 50_000, "python3 -m pyspark.daemon"),
        (103, "python3", 102, 2 * TCK, 0, 0, 0, 60_000, "python3 -m pyspark.daemon"),
        (104, "chmod", 101, 0, 1 * TCK, 0, 0, 1_000, "chmod 644 f"),
        (105, "odd (name) x", 100, 1 * TCK, 0, 0, 0, 1_000, "odd"),
        (106, "python3", 101, 3 * TCK, 0, 0, 0, 1_000, "python3 -m pyspark.worker"),
        (200, "java", 1, 50 * TCK, 0, 0, 0, 9_000_000, "java"),       # not ours
    ]
    for pid, comm, ppid, ut, st, cut, cst, hwm, cmd in procs:
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat_line(pid, comm, ppid, ut, st, cut, cst))
        (d / "cmdline").write_bytes(cmd.replace(" ", "\0").encode() + b"\0")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm} kB\nVmRSS:\t1 kB\n")
    (tmp_path / "stat").write_text(
        "cpu  1 2 3 4 5 6 7 250 0 0\ncpu0 1 2 3 4 5 6 7 250 0 0\n"
        "btime 1700000000\nprocesses 4242\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_read_stat_parses_comm_with_spaces_and_parens(fake_proc):
    st = probes.read_stat(105, fake_proc)
    assert st.comm == "odd (name) x" and st.ppid == 100 and st.utime == TCK
    assert probes.read_stat(999, fake_proc) is None


def test_process_tree_holds_only_descendants(fake_proc):
    pids = sorted(st.pid for st in probes.process_tree(100, fake_proc))
    assert pids == [100, 101, 102, 103, 104, 105, 106]


def test_tree_cpu_sums_live_and_reaped_time_by_kind(fake_proc):
    cpu = probes.tree_cpu(100, fake_proc)
    # jvm: its own 10+2
    assert cpu["jvm"] == pytest.approx(12)
    # python: harness 3, daemon 1 + its reaped workers 4, its worker 2
    assert cpu["python"] == pytest.approx(10)
    # helpers: harness reaped 1, JVM reaped 3+1, chmod 1, odd-named 1, and
    # the worker the JVM started without the daemon 3 (it lands in the
    # JVM's cutime once reaped, so it counts as a helper while live too)
    assert cpu["helpers"] == pytest.approx(10)
    assert cpu["total"] == pytest.approx(32)


def test_tree_peak_rss_sums_each_process_peak(fake_proc):
    mb = probes.tree_peak_rss_mb(100, fake_proc)
    assert mb == pytest.approx((100_000 + 2_000_000 + 50_000 + 60_000 + 3_000) / 1024)


def test_readers_skip_a_process_that_exits_mid_read(fake_proc, monkeypatch):
    real_open = open

    def flaky_open(path, *args, **kwargs):
        f = real_open(path, *args, **kwargs)
        if str(path).endswith(("/102/cmdline", "/103/status")):
            # /proc reads of a process that just exited fail with ESRCH
            f.close()
            raise ProcessLookupError(3, "No such process")
        return f

    monkeypatch.setattr(probes, "open", flaky_open, raising=False)
    cpu = probes.tree_cpu(100, fake_proc)
    # 102 no longer reads as the daemon, so its own and reaped time count as
    # helpers; its worker 103 still reads as a daemon process
    assert cpu["total"] == pytest.approx(32)
    assert cpu["python"] == pytest.approx(5)
    assert probes.tree_peak_rss_mb(100, fake_proc) == pytest.approx(
        (100_000 + 2_000_000 + 50_000 + 3_000) / 1024)


def test_host_counters_and_start_time(fake_proc):
    assert probes.host_counters(fake_proc) == {"forks": 4242, "steal_s": 250 / TCK}
    assert probes.process_start_epoch(100, fake_proc) == 1_700_000_000 + 100 / TCK


# --------------------------------------------- listener attribution


def _progress(ts, rows, **ms):
    return {"timestamp": ts, "numInputRows": rows, "durationMs": ms}


def test_runs_are_attributed_by_run_id_not_query_id():
    c = probes.ProgressCollector()
    # the previous op's run of the same query (same checkpoint, same id)
    c.on_started("q1", "runA", "2026-01-01T00:00:00.000Z")
    mark = c.mark()
    c.on_started("q1", "runB", "2026-01-01T00:00:05.000Z")
    c.on_progress("runA", _progress("2026-01-01T00:00:01.000Z", 7, addBatch=100))
    c.on_progress("runB", _progress("2026-01-01T00:00:06.000Z", 10, addBatch=300))
    c.on_progress("nobody", _progress("2026-01-01T00:00:06.000Z", 99))
    c.on_terminated("runA")
    c.on_terminated("runB")
    runs = c.runs_since(mark)
    assert [r.run_id for r in runs] == ["runB"]
    assert [p["numInputRows"] for p in runs[0].progress] == [10]


def test_runs_since_waits_for_the_termination_event():
    c = probes.ProgressCollector()
    c.on_started("q", "r1", "2026-01-01T00:00:00.000Z")
    timer = threading.Timer(0.2, c.on_terminated, args=("r1",))
    timer.start()
    try:
        runs = c.runs_since(0, timeout=10)
    finally:
        timer.join(timeout=10)
    assert not timer.is_alive()
    assert runs[0].terminated.is_set()


def test_runs_since_times_out_without_termination():
    c = probes.ProgressCollector()
    c.on_started("q", "r1", "2026-01-01T00:00:00.000Z")
    with pytest.raises(TimeoutError):
        c.runs_since(0, timeout=0.05)


def test_streaming_phases_split_the_call():
    c = probes.ProgressCollector()
    start = probes._epoch("2026-01-01T00:00:00.500Z")
    c.on_started("q", "r", "2026-01-01T00:00:00.500Z")
    c.on_progress("r", _progress("2026-01-01T00:00:01.500Z", 10_000,
                                 latestOffset=5, queryPlanning=20, addBatch=900,
                                 walCommit=40, commitOffsets=30,
                                 triggerExecution=1_000))
    c.on_terminated("r")
    s = probes.streaming_phases(c.runs_since(0), start - 0.25, start + 2.0)
    assert s["batches"] == 1 and s["rows"] == 10_000
    assert s["start_s"] == pytest.approx(0.25)
    assert s["pre_trigger_s"] == pytest.approx(1.0)
    assert s["addBatch_s"] == pytest.approx(0.9)
    assert s["trigger_s"] == pytest.approx(1.0)
    assert s["run_s"] == pytest.approx(2.25)
    assert s["other_s"] == pytest.approx(0.0, abs=1e-6)


# --------------------------------------------------- expected-output check


def test_digest_ignores_row_and_column_order():
    a = stats.result_digest(["x", "y"], [(1, "a"), (2, "b"), (2, "b")])
    b = stats.result_digest(["y", "x"], [("b", 2), ("a", 1), ("b", 2)])
    assert a == b and a[0] == 3


def test_digest_sees_values_duplicates_and_nested_lists():
    base = stats.result_digest(["x"], [(1,), (2,)])
    assert stats.result_digest(["x"], [(1,), (3,)]) != base
    assert stats.result_digest(["x"], [(1,), (2,), (2,)])[0] == 3
    assert stats.result_digest(["v"], [([1.0, 2.0],)]) == stats.result_digest(["v"], [((1.0, 2.0),)])
    assert stats.result_digest(["x"], [(0.0,)]) != stats.result_digest(["x"], [(-0.0,)])


def test_curation_check_fails_exactly_the_ops_that_differ(monkeypatch, tmp_path):
    wl = workloads.LlmCuration(str(tmp_path), seed=1)
    want = {k: (5, f"h-{k}") for k in workloads.CURATION_KEYS}
    monkeypatch.setattr(wl, "expected", lambda: want)
    good = workloads.Op(rows=1, digests=dict(want))
    bad = workloads.Op(rows=1, digests={**want, "q_graph_cc": (4, "other")})
    wl.final_check(None, [good, bad])
    assert good.ok and not bad.ok
    assert "q_graph_cc" in bad.error and "q_e2e_curation" not in bad.error


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_what_the_harness_prints():
    import json

    import run

    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        bench = json.load(f)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PRINTED_LAYERS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
