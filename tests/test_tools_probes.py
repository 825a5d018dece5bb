"""tools/scale_probe.py writes the def-hash-stamped scale receipts in
bench_100x.json. These tests import it (no Spark session: it only builds
one inside earn()) and pin its wiring to the registry."""

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


def test_scale_probe_wiring_and_receipt_keys():
    """bench_100x.json receipts are def-hash-stamped against registry
    keys; a key rename (or a dropped section) would make the receipts
    unre-earnable without failing anywhere. Pin all three: every
    committed section is a CLI choice of the tool, every choice stamps
    registry keys, and every key a committed receipt stamps still
    exists in the registry."""
    import json

    sp = _load("scale_probe")
    path = os.path.join(os.path.dirname(__file__), "..", "bench_100x.json")
    with open(path) as f:
        receipts = json.load(f)
    unearnable = set(receipts) - set(sp.SECTIONS)
    assert not unearnable, (
        f"bench_100x.json sections no CLI choice re-earns: {unearnable}"
    )
    for section, (keys, body) in sp.SECTIONS.items():
        assert callable(body), section
        assert keys and set(keys) <= set(QUERIES), (
            f"section {section} stamps {keys}, not all registry keys"
        )

    stamped = set()
    for rec in receipts.values():
        stamped |= set(rec.get("def_hashes", {}))
    assert stamped, "no def-hash-stamped keys found in bench_100x.json"
    missing = stamped - set(QUERIES)
    assert not missing, (
        f"bench_100x.json stamps keys absent from the registry: {missing}"
    )
