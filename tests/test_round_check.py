"""round_check --boot: absorbs the driver's post-commit artifacts
(regen ledger, commit) but refuses to touch real uncommitted work."""

import importlib.util
import os
import subprocess

spec = importlib.util.spec_from_file_location(
    "round_check",
    os.path.join(os.path.dirname(__file__), "..", "tools", "round_check.py"),
)
rc = importlib.util.module_from_spec(spec)
spec.loader.exec_module(rc)


def test_boot_ok_set_is_exactly_the_driver_artifacts():
    ok = ["BENCH_r10.json", "CORRECTNESS_r10.json", "bench_detail.json",
          "bench_100x.json", "VERDICT.md", "ADVICE.md", "COVERAGE.md",
          "COVERAGE_DEFS.json", "PROGRESS.jsonl"]
    for p in ok:
        assert rc.BOOT_OK.match(p), p
    bad = ["bench.py", "__spark_entry__.py", "SURVEY.md",
           "kafka_hadoop_consumer_spark/queries/text.py",
           "tools/round_check.py", "BENCH_r10.json.bak",
           "xCORRECTNESS_r10.json"]
    for p in bad:
        assert not rc.BOOT_OK.match(p), p


def _scratch_repo(tmp_path, dirty):
    subprocess.run(["git", "init", "-q", str(tmp_path)], check=True)
    for cfg in ("user.email=t@t", "user.name=t"):
        k, v = cfg.split("=")
        subprocess.run(["git", "-C", str(tmp_path), "config", k, v],
                       check=True)
    (tmp_path / "seed").write_text("")
    subprocess.run(["git", "-C", str(tmp_path), "add", "-A"], check=True)
    subprocess.run(["git", "-C", str(tmp_path), "commit", "-q", "-m", "seed"],
                   check=True)
    for name, content in dirty.items():
        (tmp_path / name).write_text(content)


def test_boot_refuses_real_work(tmp_path, monkeypatch):
    _scratch_repo(tmp_path, {"CORRECTNESS_r10.json": "{}",
                             "real_module.py": "x = 1"})
    monkeypatch.setattr(rc, "REPO", str(tmp_path))
    assert rc.boot() == 1
    # nothing committed: the artifact file must still be untracked
    out = subprocess.run(["git", "-C", str(tmp_path), "status",
                          "--porcelain"], capture_output=True, text=True)
    assert "CORRECTNESS_r10.json" in out.stdout


def test_stale_100x_receipt_warns(tmp_path, monkeypatch):
    # r10 verdict item 6: a receipt whose stamped def-hash no longer
    # matches the operator's current hash must surface a warning naming
    # the command that re-earns it; fresh receipts and absent sidecars
    # stay silent.
    import json

    tools = tmp_path / "tools"
    tools.mkdir()
    (tools / "coverage_ledger.py").write_text(
        "def def_hash(k, q, o):\n    return 'cur'\n"
    )
    monkeypatch.setattr(rc, "REPO", str(tmp_path))
    assert rc.stale_100x_receipts() == []  # no sidecar: silent
    (tmp_path / "bench_100x.json").write_text(json.dumps({
        "embedding_100x": {
            "recorded": "2026-08-15",
            "def_hashes": {"q_agg_groupby": "cur"},
        },
        "minhash_100x": {
            "recorded": "2026-08-16",
            "command": "python tools/scale100_probe.py --minhash",
            "def_hashes": {"q_agg_groupby": "old"},
        },
        "cc_100x": {
            "recorded": "2026-08-16",
            "def_hashes": {"q_not_registered": "cur"},
        },
    }))
    warns = rc.stale_100x_receipts()
    assert len(warns) == 2, warns
    # the command is derived from the section, not echoed from the
    # receipt's stored (historical) one
    assert any(
        "minhash_100x" in w
        and "`python tools/scale_probe.py minhash_100x`" in w
        and "--minhash" not in w
        for w in warns
    ), warns
    assert any("unregistered" in w and "cc_100x" in w for w in warns)


def test_committed_100x_receipts_are_fresh():
    # The real sidecar's stamped hashes vs the live registry. WARN-ONLY
    # by default, mirroring round_check's deliberate policy (r11 ADVICE):
    # a receipt costs ~300 s to re-earn, and an edit to a measured
    # operator must not hard-block unrelated test runs. Opt into hard
    # failure with SPARK_GRAFT_STRICT_RECEIPTS=1 (the round-end sweep).
    stale = rc.stale_100x_receipts()
    if stale and os.environ.get("SPARK_GRAFT_STRICT_RECEIPTS"):
        raise AssertionError(stale)
    if stale:
        import warnings

        for w in stale:
            warnings.warn("stale 100x receipt (warn-only; re-run the "
                          "named probe before round end): " + w,
                          stacklevel=1)


def test_boot_parses_quoted_and_renamed_paths(tmp_path, monkeypatch):
    # r10 ADVICE: textual --porcelain mangled quote-wrapped paths
    # ("with space.py" reported as '"with space.py"') and rename
    # entries ("R  old -> new"). With -z parsing the refusal message
    # must carry the real paths, and a rename must surface BOTH sides.
    _scratch_repo(tmp_path, {"with space.py": "x = 1"})
    (tmp_path / "naïve.py").write_text("y = 2")
    subprocess.run(["git", "-C", str(tmp_path), "mv", "seed", "seed2"],
                   check=True)
    monkeypatch.setattr(rc, "REPO", str(tmp_path))
    assert rc.boot() == 1, "non-artifact dirt must refuse"
    out = subprocess.run(
        ["git", "-C", str(tmp_path), "status", "--porcelain", "-z"],
        capture_output=True, text=True).stdout
    fields = [f for f in out.split("\0") if f]
    # reproduce boot's parse directly and check no quotes/arrows leak
    paths, i = [], 0
    while i < len(fields):
        paths.append(fields[i][3:])
        if fields[i][:2][0] in "RC":
            i += 1
            paths.append(fields[i])
        i += 1
    assert "with space.py" in paths, paths
    assert "naïve.py" in paths, paths
    assert {"seed", "seed2"} <= set(paths), paths
    assert not any('"' in p or " -> " in p for p in paths), paths


def test_boot_absorbs_driver_artifacts(tmp_path, monkeypatch):
    _scratch_repo(tmp_path, {"CORRECTNESS_r10.json": "{}",
                             "BENCH_r10.json": "{}",
                             "bench_detail.json": "{}"})
    tools = tmp_path / "tools"
    tools.mkdir()
    # ledger stub: regen writes the two ledger files like the real one
    (tools / "coverage_ledger.py").write_text(
        "import sys, os\n"
        "repo = os.path.join(os.path.dirname(__file__), '..')\n"
        "open(os.path.join(repo, 'COVERAGE.md'), 'w').write('regen')\n"
        "open(os.path.join(repo, 'COVERAGE_DEFS.json'), 'w').write('{}')\n"
    )
    subprocess.run(["git", "-C", str(tmp_path), "add", "tools"], check=True)
    subprocess.run(["git", "-C", str(tmp_path), "commit", "-q", "-m", "t"],
                   check=True)
    monkeypatch.setattr(rc, "REPO", str(tmp_path))
    monkeypatch.setattr(rc, "main", lambda: 0)  # gate itself not under test
    assert rc.boot() == 0
    out = subprocess.run(["git", "-C", str(tmp_path), "status",
                          "--porcelain"], capture_output=True, text=True)
    assert out.stdout.strip() == "", f"tree not clean: {out.stdout}"
    log = subprocess.run(["git", "-C", str(tmp_path), "log", "-1",
                          "--format=%s"], capture_output=True, text=True)
    assert "round-10 driver artifacts" in log.stdout
