"""Registry bookkeeping guards.

The registered-key count is the repo's shop-window number (README, judge
inventory); it drifted once (r2 README said 172 vs 170 registered), so it
is now generated-checked: README must state exactly ``len(QUERIES)``.
Also pins that the 100 TB ``cluster_profile()`` overlay actually LANDS on
a SparkSession (conf round-trip), not merely constructs a dict.
"""

import os
import re

from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES


def test_readme_key_count_matches_registry():
    with open("README.md") as f:
        readme = f.read()
    m = re.search(r"operator inventory \((\d+) keys", readme)
    assert m, "README.md must state the operator-inventory key count"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} keys but registry has {len(QUERIES)} — "
        "update the README count"
    )


def test_every_oracle_key_is_a_query_key():
    orphans = set(ORACLES) - set(QUERIES)
    assert not orphans, f"oracle_sql keys without queries(): {sorted(orphans)}"


def test_no_complex_output_columns(spark):
    """No driver-facing key may return an Array/Map/Struct-typed column:
    the driver's canonicalizer sorts raw pandas values and dies on
    unhashable ndarray cells (r3's only red row, q_text_boilerplate —
    CORRECTNESS_r03.json). Complex payloads must be stringified
    (array_join / to_json) in BOTH engines. Schema-only: builds each
    plan at sf0.001 without executing it."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {}
    for key, fn in QUERIES.items():
        schema = fn(spark, "/root/testdata/sf0.001").schema
        complex_cols = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            offenders[key] = complex_cols
    assert not offenders, (
        "driver-facing keys returning complex-typed columns (stringify them "
        f"in both engines): {offenders}"
    )


def test_failed_driver_rows_reenter_fresh_window(tmp_path, monkeypatch):
    """_driver_checked_keys must count only green (or rows-recorded) rows:
    a key whose CORRECTNESS row carries an error re-enters the fresh-first
    window so its fix earns a fresh driver check (VERDICT r3 item 2)."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    rows = {
        "green_key": {
            "rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None,
        },
        "failed_key": {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": "TypeError: boom",
        },
        "rows_only_key": {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": 7, "oracle_rows": None, "err": "no_oracle",
        },
        "mismatch_key": {
            "rows_match": True, "schema_match": True, "hash_match": False,
            "spark_rows": 5, "oracle_rows": 5, "err": None,
        },
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rows))
    # symlinked tools/ makes _evidence_state load the REAL ledger module
    # against tmp_path: its collect_rows/classify are the one scan
    (tmp_path / "tools").symlink_to(
        os.path.join(os.path.dirname(entrymod.__file__), "tools")
    )
    monkeypatch.setattr(entrymod, "_repo_root", lambda: str(tmp_path))
    checked = entrymod._driver_checked_keys()
    assert "green_key" in checked
    assert "rows_only_key" in checked
    assert "failed_key" not in checked, "failed rows must re-enter the window"
    assert "mismatch_key" not in checked, "hash-mismatch rows must re-enter"


def test_stale_definition_reenters_fresh_window(tmp_path, monkeypatch):
    """A key with a green driver row whose (query source + oracle) hash
    changed since the snapshotted evidencing round must be treated as
    never-checked, so the next window re-earns evidence for the CURRENT
    definition (closes the STALE gap the r5 advisor flagged: the ledger
    DISPLAYED staleness but the ordering never acted on it)."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({"q_agg_groupby": green, "q_agg_global": green})
    )
    # symlinked tools/ makes the loaded ledger resolve REPO to tmp_path,
    # so load_defs() reads the sidecar written here
    (tmp_path / "tools").symlink_to("/root/repo/tools")
    (tmp_path / "COVERAGE_DEFS.json").write_text(
        json.dumps({"q_agg_groupby": {"round": 99, "def_hash": "stale!"}})
    )
    monkeypatch.setattr(entrymod, "_repo_root", lambda: str(tmp_path))
    checked = entrymod._driver_checked_keys()
    assert "q_agg_global" in checked  # no snapshot -> evidence stands
    assert "q_agg_groupby" not in checked, (
        "definition changed since its evidencing round -> must re-enter"
    )


def test_unusable_ledger_falls_back_to_registration_order(
    tmp_path, monkeypatch, capsys
):
    """Without a loadable tools/coverage_ledger.py the driver-key order
    degrades to plain registration order, with a loud warning, rather
    than presenting old green rows as current evidence."""
    import json

    import __spark_entry__ as entrymod

    (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps({
        "q_agg_groupby": {
            "rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None,
        },
    }))
    monkeypatch.setattr(entrymod, "_repo_root", lambda: str(tmp_path))
    assert list(entrymod.queries()) == list(QUERIES)
    assert "falls back to plain registration order" in capsys.readouterr().err


def test_cluster_profile_lands_on_session(spark):
    """The 100 TB overlay's runtime-settable knobs must round-trip through
    SparkSession.conf — guards against typo'd config keys that Spark would
    silently accept-and-ignore at builder time."""
    from kafka_hadoop_consumer_spark.session import cluster_profile

    profile = cluster_profile(total_cores=64, target_partition_mb=64)
    # Static (non-runtime) SQL configs would raise here; every knob in the
    # overlay is runtime-settable by design so the whole map must land.
    saved = {k: spark.conf.get(k, None) for k in profile}
    try:
        for k, v in profile.items():
            spark.conf.set(k, v)
        for k, v in profile.items():
            assert spark.conf.get(k) == v, f"{k} did not land"
        # Derivations, not magic numbers: partitions scale with cores,
        # partition bytes with the MB target.
        assert profile["spark.sql.shuffle.partitions"] == "128"
        assert profile["spark.sql.files.maxPartitionBytes"] == str(64 * 1024 * 1024)
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_zorder_key_validates_arguments():
    """bits=0 would build sequence(0, -1) — a DESCENDING array in Spark,
    silently folding a wrong key; column args are spliced into SQL text so
    non-identifiers must be rejected, not executed."""
    import pytest

    from kafka_hadoop_consumer_spark.functions import zorder_key

    for bad_bits in (0, -1, 32):
        with pytest.raises(ValueError, match="bits"):
            zorder_key("x", "y", bad_bits)
    with pytest.raises(ValueError, match="plain column names"):
        zorder_key("x + 1", "y", 8)
    zorder_key("x", "y", 31)  # boundary accepted


def test_bad_sf_dir_raises_cleanly(spark):
    """A wrong sf_dir must fail with Spark's AnalysisException (path not
    found) — not a hang, not a silent empty result."""
    import pytest
    from pyspark.errors import AnalysisException

    from kafka_hadoop_consumer_spark.queries import QUERIES

    with pytest.raises(AnalysisException):
        QUERIES["q_agg_groupby"](spark, "/root/testdata/sf_nonexistent").collect()


def test_recheck_ordering_fronts_oldest_evidence(tmp_path, monkeypatch):
    """Previously-checked keys must be re-offered to the driver OLDEST
    evidencing round first (r7 verdict item 5): with a capped ~50-key
    window, r1-era rows would otherwise never refresh while shared
    helpers keep evolving under them. Fresh (never-checked) keys still
    front the window ahead of any recheck."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }
    # q_agg_groupby evidenced r1, q_agg_global r5; q_scan_parquet never
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({"q_agg_groupby": green})
    )
    (tmp_path / "CORRECTNESS_r5.json").write_text(
        json.dumps({"q_agg_global": green})
    )
    # symlinked tools/ makes _evidence_state load the REAL ledger module
    # against tmp_path
    (tmp_path / "tools").symlink_to("/root/repo/tools")
    monkeypatch.setattr(entrymod, "_repo_root", lambda: str(tmp_path))
    ordered = list(entrymod.queries())
    pos = {k: ordered.index(k) for k in
           ("q_scan_parquet", "q_agg_groupby", "q_agg_global")}
    assert pos["q_scan_parquet"] < pos["q_agg_groupby"], (
        "never-checked keys must front the window"
    )
    assert pos["q_agg_groupby"] < pos["q_agg_global"], (
        "older evidence (r1) must be re-offered before newer (r5)"
    )
