"""Round-end hygiene gate: one command that fails if the repo is about
to end a round in a state a past verdict has flagged.

Checks (each a VERDICT/ADVICE item that has actually bitten a round):
1. COVERAGE.md is regenerated (tools/coverage_ledger.py --check, r5 #2);
2. README's key count matches the live registry (r6 test pin);
3. every never-checked/STALE key fits the driver's 50-slot window
   (fresh-first ordering is only a guarantee while fresh <= 50);
4. no internal-tooling paths leak into package source (r5 "what's
   wrong" #1);
5. the work tree is clean (round artifacts committed, r4/r5 ADVICE).

Usage:
    python tools/round_check.py          # round-end gate
    python tools/round_check.py --boot   # round-boot gate: the driver
        writes BENCH_r{N}.json / CORRECTNESS_r{N}.json / bench_detail
        AFTER the round's final commit, so a fresh round always boots
        with exactly those artifacts uncommitted and a ledger that lags
        the new CORRECTNESS file (the chore recurred r7-r10, VERDICT r9
        item 5). --boot absorbs exactly that state — regen ledger,
        commit artifacts+ledger — then runs the normal gate; it refuses
        to commit if any path outside the driver-artifact set is dirty.

Exit nonzero on any failure.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.normpath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
)
sys.path.insert(0, REPO)

WINDOW = 50
# assembled so this file never literally contains what it hunts for
LEAK_PATTERNS = [r"\." + "cla" + "ude", "anthro" + "pic"]
LEAK_SCOPE = ["kafka_hadoop_consumer_spark", "tools", "tests", "bench.py",
              "__spark_entry__.py"]


# what the driver legitimately leaves uncommitted at round boot
BOOT_OK = re.compile(
    r"^(BENCH_r\d+\.json|CORRECTNESS_r\d+\.json|bench_detail\.json|"
    r"bench_100x\.json|VERDICT\.md|ADVICE\.md|COVERAGE\.md|"
    r"COVERAGE_DEFS\.json|PROGRESS\.jsonl)$"
)


def boot() -> int:
    """Absorb the driver's post-commit artifacts so a round boots clean
    in one command: regen the ledger, commit artifacts+ledger, then run
    the normal gate. Refuses (no commit) if anything OUTSIDE the known
    driver-artifact set is dirty — that's real uncommitted work."""
    # -z: NUL-separated, unquoted paths — the `ln[3:]` textual parse
    # mangled rename entries ("R  old -> new") and quote-wrapped paths
    # (spaces/non-ASCII), blocking boot with a confusing message
    # (r10 ADVICE). Entry layout: "XY <path>" [NUL <origpath> for R/C].
    r = subprocess.run(["git", "-C", REPO, "status", "--porcelain", "-z"],
                       capture_output=True, text=True)
    fields = [f for f in r.stdout.split("\0") if f]
    dirty = []
    i = 0
    while i < len(fields):
        status, path = fields[i][:2], fields[i][3:]
        dirty.append(path)
        if status[0] in "RC":  # rename/copy: next field is the source path
            i += 1
            if i < len(fields):
                dirty.append(fields[i])
        i += 1
    unexpected = [p for p in dirty if not BOOT_OK.match(p)]
    if unexpected:
        print("BOOT FAIL: dirty paths beyond the driver-artifact set "
              "(real uncommitted work — resolve by hand): "
              + ", ".join(unexpected))
        return 1
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "coverage_ledger.py")],
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        print(f"BOOT FAIL: ledger regen failed: {r.stdout}{r.stderr}")
        return 1
    subprocess.run(["git", "-C", REPO, "add", "--", "COVERAGE.md",
                    "COVERAGE_DEFS.json", *dirty], capture_output=True)
    staged = subprocess.run(
        ["git", "-C", REPO, "diff", "--cached", "--name-only"],
        capture_output=True, text=True,
    ).stdout.split()
    if staged:
        import glob as _glob

        rounds = [
            int(m.group(1))
            for p in _glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
            if (m := re.search(r"_r(\d+)\.json$", p))
        ]
        msg = (f"Absorb round-{max(rounds, default=0)} driver artifacts "
               "and regenerate the coverage ledger")
        c = subprocess.run(["git", "-C", REPO, "commit", "-q", "-m", msg],
                           capture_output=True, text=True)
        if c.returncode != 0:
            print(f"BOOT FAIL: commit failed: {c.stdout}{c.stderr}")
            return 1
        print(f"boot: committed {len(staged)} paths ({msg!r})")
    else:
        print("boot: nothing to absorb")
    return main()


def stale_100x_receipts() -> list[str]:
    """Freshness check for the single-run scale receipts (r10 verdict
    item 6): each bench_100x.json section snapshots the measured
    operators' def-hashes at record time (tools/scale_probe.py); a
    mismatch with the CURRENT def-hash means the operator changed after
    its receipt, and the warning names the command that re-earns it
    (derived from the section: a stored ``command`` is historical).
    Returns warning strings; never fails the gate (receipts cost up to
    ~300 s each)."""
    import json

    import importlib.util

    path = os.path.join(REPO, "bench_100x.json")
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return []
    spec = importlib.util.spec_from_file_location(
        "_cov_ledger", os.path.join(REPO, "tools", "coverage_ledger.py")
    )
    led = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(led)
    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    out = []
    for name, sec in doc.items():
        hashes = sec.get("def_hashes") if isinstance(sec, dict) else None
        if not isinstance(hashes, dict):
            continue
        for key, snap in hashes.items():
            if key not in QUERIES:
                out.append(
                    f"receipt {name} measures unregistered key {key}"
                )
            elif led.def_hash(key, QUERIES, ORACLES) != snap:
                out.append(
                    f"receipt {name} (recorded "
                    f"{sec.get('recorded', '?')}) predates a change to "
                    f"{key} — re-run `python tools/scale_probe.py {name}`"
                )
    return out


def main() -> int:
    failures: list[str] = []

    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "coverage_ledger.py"),
         "--check"],
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        failures.append(f"COVERAGE.md stale: {r.stdout.strip()}"
                        f"{r.stderr.strip()}")

    from kafka_hadoop_consumer_spark.queries import QUERIES

    readme = open(os.path.join(REPO, "README.md")).read()
    m = re.search(r"operator inventory \((\d+) keys", readme)
    if not m or int(m.group(1)) != len(QUERIES):
        failures.append(
            f"README key count {m.group(1) if m else '?'} != registry "
            f"{len(QUERIES)}"
        )

    import __spark_entry__ as entry

    ordered = list(entry.queries())
    checked = entry._driver_checked_keys()
    fresh = sum(1 for k in ordered if k not in checked)
    if fresh > WINDOW:
        failures.append(
            f"{fresh} fresh/STALE keys exceed the {WINDOW}-slot driver "
            "window — some will not be evidenced this round"
        )

    for scope in LEAK_SCOPE:
        path = os.path.join(REPO, scope)
        if not os.path.exists(path):
            # a renamed/missing scope must FAIL the gate, not silently
            # scan nothing — this check's whole job is to fail loudly
            failures.append(f"leak-scan scope missing: {scope}")
            continue
        files = []
        if os.path.isfile(path):
            files = [path]
        else:
            for root, _dirs, names in os.walk(path):
                files += [os.path.join(root, n) for n in names
                          if n.endswith(".py")]
        for f in files:
            text = open(f, errors="replace").read()
            for pat in LEAK_PATTERNS:
                if re.search(pat, text, re.IGNORECASE):
                    failures.append(f"leak pattern {pat!r} in {f}")

    r = subprocess.run(["git", "-C", REPO, "status", "--porcelain"],
                       capture_output=True, text=True)
    dirty = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if dirty:
        failures.append(f"work tree not clean ({len(dirty)} paths): "
                        + ", ".join(ln.split()[-1] for ln in dirty[:5]))

    for w in stale_100x_receipts():
        # freshness WARNING only (r10 verdict item 6): the receipts are
        # single-run ~300 s probes; a def-hash drift means the receipt
        # predates a change to the operator it measures — re-run the
        # named probe when convenient, but don't fail the round on it
        print(f"warning: {w}")

    print(f"fresh-window load: {fresh}/{WINDOW}; registry {len(QUERIES)} keys")
    if failures:
        for f in failures:
            print(f"FAIL: {f}")
        return 1
    print("round_check: all clear")
    return 0


if __name__ == "__main__":
    sys.exit(boot() if "--boot" in sys.argv[1:] else main())
