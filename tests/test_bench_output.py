"""The driver captures only the last ~2000 chars of bench output and
parses the final JSON line found there. Round 4 lost its bench evidence
because the (single) JSON line outgrew that buffer. These tests lock the
contract: the final stdout line is valid JSON, stays under the budget
with a full-size realistic payload, and carries the evidence the judge
reads (control summary, extras)."""

import json

import bench


def _full_detail() -> dict:
    """A payload at least as large as a real round's (r4 shapes)."""
    headline = dict.fromkeys(bench.HEADLINE, 12.345)
    headline["s_ingest_e2e"] = 12.345
    return {
        "metric": "headline query wall-clock (median of 3, noop sink)",
        "value": 123.456,
        "unit": "sec",
        "queries": headline,
        "control_rerun": {"value": 123.456, "queries": dict(headline)},
        "ingest_rows_per_sec": 155364,
        "r3_ops": {
            k: 12.345
            for k in (
                "q_text_heavy_hitters", "q_graph_pagerank", "q_sim_pq_topk",
                "q_stats_bootstrap", "q_dedup_substring", "q_graph_triangles",
                "q_dedup_semdedup", "q_text_bpe_encode", "q_e2e_dedup_cascade",
            )
        },
        "sf": 0.1,
    }


def test_final_line_parses_and_fits_budget():
    line = bench.format_final_line(_full_detail())
    assert "\n" not in line
    assert len(line) <= bench.FINAL_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == 123.456
    assert parsed["sf"] == 0.1
    assert set(parsed["queries"]) == set(bench.HEADLINE) | {"s_ingest_e2e"}


def test_final_line_carries_judge_evidence():
    parsed = json.loads(bench.format_final_line(_full_detail()))
    # control summary (r3 verdict item 5) survives compaction
    assert parsed["control"]["value"] == 123.456
    assert parsed["control"]["max_query_ratio"] == 1.0
    assert parsed["extras"]["q_graph_triangles"] == 12.345


def test_committed_real_payload_fits_budget():
    # The synthetic payload above tracks the INTENDED shape; the
    # committed bench_detail.json is the real one and gains fields as
    # probes are added (r10: lsh candidate ratios left 59 chars of
    # margin). If the real payload ever overflows, the driver records
    # the minimal fallback and silently loses the control and extras
    # evidence — fail here first.
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")
    with open(path) as f:
        detail = json.load(f)
    line = bench.format_final_line(detail)
    parsed = json.loads(line)
    assert "control" in parsed, (
        "real payload fell back to the minimal line — evidence dropped"
    )
    # Margin tripwire (r10 ADVICE): fail while there is still headroom,
    # not at the hard fallback. Numeric widths wobble a few chars per
    # round; a new probe field costs tens. If this fires, trim the
    # compact line BEFORE the driver silently drops evidence.
    headroom = bench.FINAL_LINE_BUDGET - len(line)
    assert headroom >= 40, (
        f"only {headroom} chars of final-line headroom left "
        f"({len(line)}/{bench.FINAL_LINE_BUDGET}) — trim "
        "format_final_line before the minimal-line fallback bites"
    )


def test_overflow_falls_back_to_minimal_line():
    detail = _full_detail()
    detail["metric"] = "x" * 2000  # pathological: force the fallback
    line = bench.format_final_line(detail)
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}


def test_budget_is_under_driver_tail_buffer():
    # The driver tail holds ~2000 chars; leave margin for a trailing
    # newline and any final progress-bar erase sequences.
    assert bench.FINAL_LINE_BUDGET <= 1700
