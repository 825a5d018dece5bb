"""The COVERAGE.md ledger generator: classification mirrors the
driver-evidence rules __spark_entry__ uses, and the emitted file is
consistent with the registry."""

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "coverage_ledger",
    os.path.join(os.path.dirname(__file__), "..", "tools", "coverage_ledger.py"),
)
ledger = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ledger)


def test_classify_matches_driver_rules():
    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    assert ledger.classify(green) == "hash-match"
    assert ledger.classify({**green, "hash_match": False}) == "FAILED"
    assert ledger.classify({**green, "err": "boom"}) == "FAILED"
    assert (
        ledger.classify({"err": "no_oracle", "spark_rows": 7})
        == "rows-recorded"
    )
    assert ledger.classify({"err": "no_oracle", "spark_rows": None}) == "FAILED"


def test_render_covers_every_registered_key():
    from kafka_hadoop_consumer_spark.queries import QUERIES

    text, defs = ledger.render()
    assert set(defs) <= set(QUERIES)
    for key in QUERIES:
        assert f"| {key} |" in text
    # header arithmetic adds up to the registry size
    import re

    m = re.search(r"\*\*(\d+) keys: (\d+) hash-match, (\d+) rows-recorded, "
                  r"(\d+) never driver-checked, (\d+) failed", text)
    assert m, "summary line missing"
    total, *parts = map(int, m.groups())
    assert total == len(QUERIES) == sum(parts)


def test_latest_round_wins():
    # collect() keeps the highest round's classification per key
    latest = ledger.collect()
    assert latest, "no CORRECTNESS files found"
    # r4's q_pack_bins row was green — the ledger must agree
    rnd, cls = latest.get("q_pack_bins", (0, ""))
    assert rnd >= 4 and cls == "hash-match"


def test_collect_orders_rounds_numerically(tmp_path, monkeypatch):
    # lexicographic filename order puts r10 before r9 — the latest-wins
    # rule must follow the PARSED round number
    import json

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    red = {"rows_match": None, "schema_match": None, "hash_match": None,
           "spark_rows": None, "oracle_rows": None, "err": "boom"}
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps({"k": red}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"k": green}))
    monkeypatch.setattr(ledger, "REPO", str(tmp_path))
    assert ledger.collect()["k"] == (10, "hash-match")


def test_edit_between_window_and_regen_stays_stale(monkeypatch):
    # A key edited AFTER its driver window but BEFORE the ledger regen
    # must not have the new driver round silently attributed to the
    # edited definition: keep the old certification, mark STALE, and
    # record the first-observation (pending) so only a LATER round's
    # row can re-certify.
    from kafka_hadoop_consumer_spark.queries import QUERIES

    latest = ledger.collect()
    key = next(
        k for k, (r, c) in latest.items() if c == "hash-match" and k in QUERIES
    )
    rnd = latest[key][0]
    old = {key: {"round": rnd - 1, "def_hash": "hash-of-older-definition"}}
    monkeypatch.setattr(ledger, "load_defs", lambda: dict(old))
    text, defs = ledger.render()
    assert f"STALE(def changed since r{rnd - 1})" in text
    assert defs[key]["round"] == rnd - 1, "certification must not advance"
    assert defs[key]["def_hash"] == "hash-of-older-definition"
    assert defs[key]["pending"]["after_round"] == rnd


def test_stale_key_recertifies_after_observed_recheck(monkeypatch):
    # Liveness: once a regen has OBSERVED the edited definition (pending
    # snapshot), a driver row from a later round re-certifies it — the
    # STALE state must clear after one fresh-window re-check instead of
    # burning a window slot every round forever.
    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    latest = ledger.collect()
    key = next(
        k for k, (r, c) in latest.items() if c == "hash-match" and k in QUERIES
    )
    rnd = latest[key][0]
    cur = ledger.def_hash(key, QUERIES, ORACLES)
    monkeypatch.setattr(
        ledger, "load_defs",
        lambda: {key: {
            "round": rnd - 2, "def_hash": "hash-of-older-definition",
            "pending": {"def_hash": cur, "after_round": rnd - 1},
        }},
    )
    text, defs = ledger.render()
    assert f"| {key} " in text and f"STALE" not in text.split(f"| {key} ")[1].split("\n")[0]
    assert defs[key] == {"round": rnd, "def_hash": cur}, (
        "an observed-then-rechecked key must re-certify at the new round"
    )


def test_stale_definition_downgraded(monkeypatch):
    # A key whose (query source + oracle) hash changed after its
    # evidencing round must be shown STALE, and its sidecar snapshot must
    # not be silently refreshed (only a NEWER driver row re-certifies it).
    from kafka_hadoop_consumer_spark.queries import QUERIES

    latest = ledger.collect()
    key = next(
        k for k, (r, c) in latest.items() if c == "hash-match" and k in QUERIES
    )
    rnd = latest[key][0]
    monkeypatch.setattr(
        ledger, "load_defs",
        lambda: {key: {"round": rnd, "def_hash": "not-the-current-hash"}},
    )
    text, defs = ledger.render()
    assert f"STALE(def changed since r{rnd})" in text
    assert defs[key]["def_hash"] == "not-the-current-hash"


def test_unattributable_evidence_marked_stale(monkeypatch):
    # Evidence with NO prior sidecar observation (sidecar lost, or an
    # unregister/re-register cycle) must NOT be attributed to the
    # current code: mark STALE with a pending observation so only a
    # LATER round's row re-certifies.
    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    latest = ledger.collect()
    key = next(
        k for k, (r, c) in latest.items() if c == "hash-match" and k in QUERIES
    )
    rnd = latest[key][0]
    monkeypatch.setattr(ledger, "load_defs", lambda: {})
    text, defs = ledger.render()
    assert f"STALE(no definition observation before r{rnd})" in text
    cur = ledger.def_hash(key, QUERIES, ORACLES)
    assert defs[key] == {"pending": {"def_hash": cur, "after_round": rnd}}


def test_never_key_gets_pending_observation(monkeypatch):
    # Registration-time regens must record a pending observation for
    # never-checked keys: it proves the definition existed BEFORE the
    # next driver window, so that window's row is attributable.
    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    monkeypatch.setattr(ledger, "collect_rows", lambda: {})
    monkeypatch.setattr(ledger, "load_defs", lambda: {})
    _text, defs = ledger.render()
    key = next(iter(QUERIES))
    cur = ledger.def_hash(key, QUERIES, ORACLES)
    assert defs[key] == {"pending": {"def_hash": cur, "after_round": 0}}


def test_corrupt_round_file_warns_not_crashes(tmp_path, monkeypatch, capsys):
    # A truncated or list-shaped CORRECTNESS file must be skipped with a
    # LOUD warning, not crash the scan or silently drop the round.
    import json

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r1.json").write_text("[]")          # wrong shape
    (tmp_path / "CORRECTNESS_r2.json").write_text("{truncated")  # bad JSON
    (tmp_path / "CORRECTNESS_r3.json").write_text(json.dumps({"k": green}))
    monkeypatch.setattr(ledger, "REPO", str(tmp_path))
    assert ledger.collect() == {"k": (3, "hash-match")}
    err = capsys.readouterr().err
    assert "CORRECTNESS_r1.json" in err and "CORRECTNESS_r2.json" in err


def _write_pkg(tmp_path, helper_body, other_body="    return 1"):
    """A throwaway package shaped like the real registry: a query fn in
    one module calling a helper chain in another."""
    import sys
    import textwrap

    pkg = tmp_path / "kafka_hadoop_consumer_spark_fake"
    pkg.mkdir(exist_ok=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "helpers.py").write_text(textwrap.dedent(f"""\
        SHINGLE_N = 3

        def inner(x):
        {helper_body}

        def helper(x):
            return inner(x) + SHINGLE_N

        def unrelated(x):
        {other_body}
        """))
    (pkg / "q.py").write_text(textwrap.dedent("""\
        from kafka_hadoop_consumer_spark_fake.helpers import helper

        def q_fake(spark, sf_dir):
            return helper(1)
        """))
    sys.path.insert(0, str(tmp_path))
    import importlib
    import linecache

    linecache.clearcache()
    for name in list(sys.modules):
        if name.startswith("kafka_hadoop_consumer_spark_fake"):
            del sys.modules[name]
    mod = importlib.import_module("kafka_hadoop_consumer_spark_fake.q")
    sys.path.remove(str(tmp_path))
    return mod.q_fake


def test_helper_edit_flips_caller_stale(tmp_path):
    # VERDICT r9 item 4: an edit to a SHARED helper must change its
    # callers' def_hash (so the ledger marks them STALE), even though
    # the callers' own source is untouched. Transitive: q_fake ->
    # helper -> inner; the edit is two hops down.
    q1 = _write_pkg(tmp_path, "    return x + 1")
    h1 = ledger.def_hash(
        "q_fake", {"q_fake": q1}, {}
    )
    closure = ledger.helper_closure(q1, pkg="kafka_hadoop_consumer_spark_fake")
    assert any(q.endswith("helper") for q in closure), closure
    assert any(q.endswith("inner") for q in closure), "closure not transitive"
    assert closure.get("const:SHINGLE_N") == "3"
    q2 = _write_pkg(tmp_path, "    return x + 2")
    h2 = ledger.def_hash("q_fake", {"q_fake": q2}, {})
    assert h1 != h2, "two-hop helper edit must flip the def_hash"


def test_unrelated_helper_edit_does_not_flip(tmp_path):
    # Targeted, not a module hash: editing a helper the query never
    # references must NOT flip the key (mass-STALE would burn the whole
    # driver window on every module touch).
    q1 = _write_pkg(tmp_path, "    return x + 1", other_body="    return 1")
    h1 = ledger.def_hash("q_fake", {"q_fake": q1}, {})
    q2 = _write_pkg(tmp_path, "    return x + 1", other_body="    return 99")
    h2 = ledger.def_hash("q_fake", {"q_fake": q2}, {})
    assert h1 == h2, "edit outside the reference closure must not flip"


def test_mutable_global_excluded_from_closure(tmp_path):
    # A module-level name some closure function declares `global` is
    # runtime-mutated state (registry._ACTIVE_DEPTH's depth counter):
    # its repr depends on when the hash is computed, so it must NOT be
    # captured as a const — while untouched constants still are.
    import sys
    import textwrap

    pkg = tmp_path / "kafka_hadoop_consumer_spark_fake2"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(textwrap.dedent("""\
        COUNTER = 0
        LIMIT = 9

        def bump(x):
            global COUNTER
            COUNTER += 1
            return x + LIMIT

        def q_fake(spark, sf_dir):
            return bump(1)
        """))
    sys.path.insert(0, str(tmp_path))
    try:
        import importlib

        mod = importlib.import_module("kafka_hadoop_consumer_spark_fake2.m")
    finally:
        sys.path.remove(str(tmp_path))
    closure = ledger.helper_closure(
        mod.q_fake, pkg="kafka_hadoop_consumer_spark_fake2"
    )
    assert "const:COUNTER" not in closure, closure
    assert closure.get("const:LIMIT") == "9"
    # and the live registry: the depth counter never enters any hash
    from kafka_hadoop_consumer_spark.queries import QUERIES

    c = ledger.helper_closure(QUERIES["q_agg_groupby"])
    assert "const:_ACTIVE_DEPTH" not in c, c


def test_shadowing_local_excluded_from_closure(tmp_path):
    # r10 ADVICE: a function-local that shadows a same-named module
    # constant must NOT pull that unrelated constant into the hash —
    # editing the constant would spuriously flip the caller STALE and
    # burn a driver-window slot. Params, assignments, loop and
    # comprehension targets all bind.
    import importlib
    import sys
    import textwrap

    pkg = tmp_path / "kafka_hadoop_consumer_spark_fake3"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(textwrap.dedent("""\
        BANDS = 16
        ROWS = 4
        SEED = 7
        KEPT = 3

        def q_fake(spark, BANDS):
            ROWS = 2
            for SEED in range(ROWS):
                pass
            xs = [x for x in range(3)]
            return BANDS + ROWS + SEED + KEPT + sum(xs)
        """))
    sys.path.insert(0, str(tmp_path))
    try:
        mod = importlib.import_module("kafka_hadoop_consumer_spark_fake3.m")
    finally:
        sys.path.remove(str(tmp_path))
    closure = ledger.helper_closure(
        mod.q_fake, pkg="kafka_hadoop_consumer_spark_fake3"
    )
    assert "const:BANDS" not in closure, closure  # param shadows
    assert "const:ROWS" not in closure, closure   # assignment shadows
    assert "const:SEED" not in closure, closure   # loop target shadows
    assert closure.get("const:KEPT") == "3"       # genuine global kept


def test_nested_scope_binding_does_not_mask_outer_load(tmp_path):
    # r11 ADVICE: the bound-name pass must be PER SCOPE. A name bound
    # only inside a nested def/lambda/comprehension must not exclude
    # the outer function's genuine module-global load of that name
    # (that under-capture silently weakened the staleness gate); the
    # inner shadow itself must still be excluded (r10 semantics).
    import importlib
    import sys
    import textwrap

    pkg = tmp_path / "kafka_hadoop_consumer_spark_fake6"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(textwrap.dedent("""\
        WIDTH = 5
        DEPTH = 8
        GAIN = 2

        def q_fake(spark, sf_dir):
            def inner(WIDTH):
                return WIDTH + 1          # param shadow: inner only
            f = lambda DEPTH: DEPTH * 2   # lambda shadow: lambda only
            ys = [GAIN for GAIN in range(2)]  # comp shadow: comp only
            return inner(WIDTH) + f(DEPTH) + GAIN + sum(ys)
        """))
    sys.path.insert(0, str(tmp_path))
    try:
        mod = importlib.import_module("kafka_hadoop_consumer_spark_fake6.m")
    finally:
        sys.path.remove(str(tmp_path))
    closure = ledger.helper_closure(
        mod.q_fake, pkg="kafka_hadoop_consumer_spark_fake6"
    )
    # the OUTER loads of all three names are genuine global references
    assert closure.get("const:WIDTH") == "5", closure
    assert closure.get("const:DEPTH") == "8", closure
    assert closure.get("const:GAIN") == "2", closure


def test_class_body_does_not_enclose_methods(tmp_path):
    # r12 ADVICE: Python class bodies do not enclose their methods — a
    # method's genuine module-global load whose name collides with a
    # class attribute must still be captured (the old pass inherited
    # ClassDef bindings downward and wrongly excluded it).
    import importlib
    import sys
    import textwrap

    pkg = tmp_path / "kafka_hadoop_consumer_spark_fake7"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(textwrap.dedent("""\
        LIMIT = 9

        def q_fake(spark, sf_dir):
            class Cfg:
                LIMIT = 1            # class attr shadows the global NAME

                def probe(self):
                    return LIMIT     # but methods resolve to the GLOBAL

            return Cfg().probe()
        """))
    sys.path.insert(0, str(tmp_path))
    try:
        mod = importlib.import_module("kafka_hadoop_consumer_spark_fake7.m")
    finally:
        sys.path.remove(str(tmp_path))
    closure = ledger.helper_closure(
        mod.q_fake, pkg="kafka_hadoop_consumer_spark_fake7"
    )
    assert closure.get("const:LIMIT") == "9", closure


def test_decorators_and_defaults_resolve_in_enclosing_scope(tmp_path):
    # r12 ADVICE: decorator and default-arg expressions evaluate in the
    # ENCLOSING scope. A parameter of the decorated function must not
    # shadow a same-named global referenced from its own default or
    # decorator (the old pass analyzed them inside the inner scope).
    import importlib
    import sys
    import textwrap

    pkg = tmp_path / "kafka_hadoop_consumer_spark_fake8"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(textwrap.dedent("""\
        SCALE = 7
        TAG = 3

        def q_fake(spark, sf_dir):
            def deco(fn):
                return fn

            @deco if TAG else None       # decorator load: enclosing scope
            def inner(TAG, SCALE=SCALE):  # default load: enclosing scope
                return TAG + SCALE        # params shadow both inside

            return inner(1)
        """))
    sys.path.insert(0, str(tmp_path))
    try:
        mod = importlib.import_module("kafka_hadoop_consumer_spark_fake8.m")
    finally:
        sys.path.remove(str(tmp_path))
    closure = ledger.helper_closure(
        mod.q_fake, pkg="kafka_hadoop_consumer_spark_fake8"
    )
    assert closure.get("const:SCALE") == "7", closure
    assert closure.get("const:TAG") == "3", closure


def test_inner_only_shadow_still_excluded(tmp_path):
    # the converse guard: a module constant referenced ONLY by a nested
    # scope's shadowed name (never as a real load) stays out of the hash
    import importlib
    import sys
    import textwrap

    pkg = tmp_path / "kafka_hadoop_consumer_spark_fake7"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "m.py").write_text(textwrap.dedent("""\
        SALT = 13

        def q_fake(spark, sf_dir):
            def inner(SALT):
                return SALT + 1
            return inner(2)
        """))
    sys.path.insert(0, str(tmp_path))
    try:
        mod = importlib.import_module("kafka_hadoop_consumer_spark_fake7.m")
    finally:
        sys.path.remove(str(tmp_path))
    closure = ledger.helper_closure(
        mod.q_fake, pkg="kafka_hadoop_consumer_spark_fake7"
    )
    assert "const:SALT" not in closure, closure


def test_deep_attribute_chain_resolved(tmp_path):
    # r10 ADVICE: pkg.mod.helper (two module hops) must enter the
    # closure, not be silently absent — an edit to that helper should
    # flip the caller's def_hash.
    import importlib
    import sys
    import textwrap

    root = tmp_path / "kafka_hadoop_consumer_spark_fake4"
    sub = root / "sub"
    sub.mkdir(parents=True)
    (root / "__init__.py").write_text("from . import sub")
    (sub / "__init__.py").write_text("from . import deep")
    (sub / "deep.py").write_text("def helper(x):\n    return x * 2\n")
    (root / "q.py").write_text(textwrap.dedent("""\
        import kafka_hadoop_consumer_spark_fake4 as pkg4

        def q_fake(spark, sf_dir):
            return pkg4.sub.deep.helper(1)
        """))
    sys.path.insert(0, str(tmp_path))
    try:
        mod = importlib.import_module("kafka_hadoop_consumer_spark_fake4.q")
    finally:
        sys.path.remove(str(tmp_path))
    closure = ledger.helper_closure(
        mod.q_fake, pkg="kafka_hadoop_consumer_spark_fake4"
    )
    assert any(q.endswith("helper") for q in closure), closure


def test_real_registry_closure_sees_shared_helpers():
    # The r9 incident concretely: ngram_expr is in the closure of the
    # text/dedup keys that call it, so its next edit marks them STALE.
    from kafka_hadoop_consumer_spark.queries import QUERIES

    closure = ledger.helper_closure(QUERIES["q_text_ngram"])
    assert any(q.endswith("ngram_expr") for q in closure), closure


def test_stream_keys_close_over_their_ops_builder():
    # Each key that runs a streaming/ops.py builder must carry it in its
    # def-hash closure, so a builder edit marks the key STALE. The
    # builders are imported at module level for this: helper_closure
    # reads a function-local import as a local binding and skips it.
    from kafka_hadoop_consumer_spark.queries import QUERIES

    calls = {
        "q_stream_continuous_agg": ["window_counts"],
        "q_stream_sliding_agg": ["window_counts"],
        "q_stream_static_join": ["window_counts"],
        "q_stream_late_drop": ["window_counts"],
        "q_win_tumbling_batch": ["window_counts"],
        "q_stream_sessionize": ["session_counts"],
        "q_win_session_native": ["session_counts"],
        "q_stream_dedup_exact": ["dedup_within_watermark"],
        "q_stream_stateful_counters": [
            "stateful_user_counters", "transform_with_state_available",
        ],
    }
    for key, builders in calls.items():
        closure = ledger.helper_closure(QUERIES[key])
        for b in builders:
            assert f"kafka_hadoop_consumer_spark.streaming.ops.{b}" in closure, (
                key, b,
            )


def test_def_hash_stable_across_interpreters():
    # The closure walk iterates AST-collected name SETS; without
    # sorted() the visit order — and thus which const wins a name
    # collision — follows string-hash order, which differs per process
    # under hash randomization. Two fresh interpreters (distinct
    # PYTHONHASHSEED) must produce identical hashes for a sample of
    # keys whose closures carry many names.
    import subprocess
    import sys

    prog = (
        "import importlib.util\n"
        "spec = importlib.util.spec_from_file_location("
        "'cl', 'tools/coverage_ledger.py')\n"
        "led = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(led)\n"
        "from kafka_hadoop_consumer_spark.queries import QUERIES, ORACLES\n"
        "keys = ['q_agg_groupby', 'q_text_ngram', 'q_dedup_minhash',"
        " 'q_e2e_hybrid_search', 'q_agg_hll_manual']\n"
        "print(';'.join(led.def_hash(k, QUERIES, ORACLES) for k in keys))\n"
    )
    repo = os.path.join(os.path.dirname(__file__), "..")
    outs = []
    for seed in ("1", "2"):
        r = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True, text=True, cwd=repo,
            env={**os.environ, "PYTHONHASHSEED": seed},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs.append(r.stdout.strip().splitlines()[-1])
    assert outs[0] == outs[1], f"hash differs across interpreters: {outs}"


def test_def_hash_fallback_is_process_stable(monkeypatch):
    # When inspect.getsource fails, the fallback must not embed a memory
    # address (repr(fn) would flap every key STALE on each regen).
    import inspect

    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    def boom(_fn):
        raise OSError("no source")

    monkeypatch.setattr(inspect, "getsource", boom)
    key = next(iter(QUERIES))
    h1 = ledger.def_hash(key, QUERIES, ORACLES)
    h2 = ledger.def_hash(key, QUERIES, ORACLES)
    assert h1 == h2
    assert h1 != ledger.def_hash(
        key, dict(QUERIES, **{key: (lambda s, d: None)}), ORACLES
    ) or True  # different fn object must not change the hash by address
