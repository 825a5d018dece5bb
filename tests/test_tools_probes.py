"""tools/scale100_probe.py writes the def-hash-stamped 100x receipts in
bench_100x.json. These tests import it (no Spark session: it only builds
one inside main()) and pin its wiring to the registry."""

import importlib.util
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from kafka_hadoop_consumer_spark.queries import QUERIES  # noqa: E402


def _load(name):
    spec = importlib.util.spec_from_file_location(
        name,
        os.path.join(os.path.dirname(__file__), "..", "tools", f"{name}.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale100_probe_wiring_and_receipt_keys():
    """bench_100x.json receipts are def-hash-stamped against registry
    keys; a key rename (or a probe function deletion) would make the
    receipts unre-earnable without failing anywhere. Pin both: every
    stamped key still exists in the registry, and every probe entry
    point the receipts' recorded commands name is still defined."""
    import json

    sp = _load("scale100_probe")
    for fn in ("probe_minhash", "probe_substring", "probe_cc",
               "probe_hybrid", "probe_pagerank", "probe_bootstrap"):
        assert callable(getattr(sp, fn)), f"scale100_probe.{fn} missing"

    path = os.path.join(os.path.dirname(__file__), "..", "bench_100x.json")
    with open(path) as f:
        receipts = json.load(f)
    stamped = set()
    for section, rec in receipts.items():
        if isinstance(rec, dict):
            stamped |= set(rec.get("def_hashes", {}))
    # top-level ANN receipt keeps def_hashes at the root
    stamped |= set(receipts.get("def_hashes", {}))
    assert stamped, "no def-hash-stamped keys found in bench_100x.json"
    missing = stamped - set(QUERIES)
    assert not missing, (
        f"bench_100x.json stamps keys absent from the registry: {missing}"
    )
