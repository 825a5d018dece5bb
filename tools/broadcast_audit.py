#!/usr/bin/env python
"""Broadcast-hint boundedness audit (r7 verdict item 3).

Every explicit ``F.broadcast(x)`` forces a broadcast REGARDLESS of x's
actual size — Spark honors the hint over autoBroadcastJoinThreshold —
so each site must argue a size bound that holds at 100 TB, not just at
fixture scale. This tool AST-scans the package for every F.broadcast
call site and checks it against the committed classification ledger
below. A NEW site (or a moved/edited one whose argument text changed)
fails tests/test_plans.py::test_broadcast_sites_classified until it is
classified here — the same quality gate the r7 fix applied untooled:
cc_from_edges broadcast a per-component aggregate (O(|V|) rows) and the
audit that caught it also caught per-user (q_time_cohort_ltv), per-doc
(pair_overlap_counts) and per-node (q_graph_pagerank) hints, all now
plain equi-joins that AQE still broadcasts when genuinely small.

Classes (the size bound being claimed):
  one-row        scalar aggregate (count/sum/min/quantile) — 1..k rows
  enum-keyed     keyed by a bounded-cardinality column (event_type,
                 lang, label, dow, digit, class) — rows = |enum|
  time-bounded   keyed by day/week/month — rows grow with the TIME
                 RANGE, not the data volume
  dim            reference/dimension table or a filtered dim — the
                 conventional BHJ build side (region/nation are O(1);
                 customer/supplier/part scale with SF and on a real
                 100 TB cluster would flip to shuffle join by dropping
                 the hint — kept because the §2B keys pin BHJ plans and
                 the bound is documented per site)
  k-capped       query set / top-k / probe list / codebook — rows
                 bounded by a compile-time constant in the operator
  zipf-head      token/shingle COUNT table — rows = vocabulary, the
                 docstring documents the vocab ≪ corpus (Heaps/Zipf)
                 assumption; the hot-shingle head is smaller still
  candidates     near-dup candidate pair/doc list — rows track planted
                 duplicates (linear in dup count, not corpus²); bounded
                 by the banding design, documented in queries/dedup.py

Run: python tools/broadcast_audit.py   (exit 1 on unclassified sites)
"""
from __future__ import annotations

import ast
import os
import sys

PKG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "kafka_hadoop_consumer_spark")

# (relpath, enclosing function, argument source text) -> class
LEDGER: dict[tuple[str, str, str], str] = {}

# keys whose argument text legitimately appears MORE THAN ONCE in the
# same function; every other key is expected exactly once, so adding or
# deleting a textually identical twin is a count mismatch, not invisible
# (r8 advice: the un-counted ledger collapsed 143 sites onto 138 keys)
MULTI: dict[tuple[str, str, str], int] = {
    ("queries/dedup.py", "pagerank_from_edges", "nv"): 2,
    ("queries/e2e.py", "q_e2e_q7", "n"): 2,
    ("queries/e2e_tpch.py", "q_e2e_q8", "n"): 2,
    ("queries/quality.py", "q_ml_logreg", "beta"): 2,
}


def _add(path: str, func: str, arg: str, cls: str) -> None:
    LEDGER[(path, func, arg)] = cls


# --- aggregates ----------------------------------------------------------
for f, a, c in [
    ("q_agg_rollup", "n", "dim"), ("q_agg_rollup", "r", "dim"),
    ("q_agg_mad", "med", "enum-keyed"),
    ("q_agg_gini", "c", "dim"), ("q_agg_gini", "n", "dim"),
    ("q_agg_kmv_distinct", "est", "one-row"),
    ("q_agg_abc", "tot_1row", "one-row"),
    ("q_agg_kmv_setops", "s", "one-row"),
    ("q_agg_assoc_rules", "p", "dim"),
    ("q_agg_assoc_rules",
     "sup.select(F.col('item').alias('i1'), F.col('s').alias('s1'))", "dim"),
    ("q_agg_assoc_rules",
     "sup.select(F.col('item').alias('i2'), F.col('s').alias('s2'))", "dim"),
    ("q_agg_assoc_rules", "nb", "one-row"),
    ("q_agg_percentile_weighted", "tot", "one-row"),
]:
    _add("queries/aggregates.py", f, a, c)
# --- continuous ----------------------------------------------------------
_add("queries/continuous.py", "q_stream_static_join",
     "load_table(spark, sf_dir, 'customer').select('c_custkey', "
     "'c_mktsegment')", "dim")
# --- dedup ---------------------------------------------------------------
for f, a, c in [
    ("q_dedup_contamination", "hot", "zipf-head"),
    ("minhash_near_dup_pairs", "cand_docs", "candidates"),
    ("minhash_near_dup_pairs", "candidates", "candidates"),
    ("pagerank_from_edges", "nv", "one-row"),
]:
    _add("queries/dedup.py", f, a, c)
# --- e2e (TPC-H-ish) -----------------------------------------------------
for f, a in [
    ("q_e2e_q3", "c"), ("q_e2e_q7", "n"), ("q_e2e_q7", "s"),
    ("q_e2e_q7", "c"), ("q_e2e_q10", "n"), ("q_e2e_q14", "p"),
    ("q_e2e_q19", "p"), ("q_e2e_q11", "p"), ("q_e2e_kpi_daily", "new_u"),
]:
    _add("queries/e2e.py", f, a,
         "time-bounded" if a == "new_u" else "dim")
_add("queries/e2e.py", "q_e2e_q11", "total_1row", "one-row")
_add("queries/e2e.py", "q_e2e_q22", "thresh", "one-row")
for f, a in [
    ("q_e2e_q2", "p"), ("q_e2e_q2", "n"), ("q_e2e_q2", "r"),
    ("q_e2e_q2", "dim"), ("q_e2e_q5", "n"), ("q_e2e_q5", "r"),
    ("q_e2e_q5", "sn"), ("q_e2e_q8", "n"), ("q_e2e_q8", "r"),
    ("q_e2e_q8", "p"), ("q_e2e_q8", "sup"), ("q_e2e_q8", "cust"),
    ("q_e2e_q9", "n"), ("q_e2e_q9", "p"), ("q_e2e_q9", "s"),
    ("q_e2e_q15", "s"), ("q_e2e_q16", "bad"), ("q_e2e_q16", "p"),
    ("q_e2e_q17", "p"), ("q_e2e_q20", "p"), ("q_e2e_q20", "n"),
    ("q_e2e_q21", "s"),
]:
    _add("queries/e2e_tpch.py", f, a, "dim")
_add("queries/e2e_tpch.py", "q_e2e_q15", "mx", "one-row")
# --- joins ---------------------------------------------------------------
for f, a, c in [
    ("q_join_broadcast", "p", "dim"),
    ("q_join_multiway", "n", "dim"), ("q_join_multiway", "r", "dim"),
    ("q_join_multiway", "dim", "dim"),
    ("q_join_theta", "s", "dim"),
    ("q_join_bloom_prefilter", "bloom", "one-row"),
    ("q_join_bloom_prefilter", "keys", "dim"),
]:
    _add("queries/joins.py", f, a, c)
# --- pipeline ------------------------------------------------------------
for f, a, c in [
    ("q_pack_curriculum", "uc", "zipf-head"),
    ("q_pack_curriculum", "tot", "one-row"),
    ("q_pack_curriculum", "qs", "one-row"),
    ("q_pack_mixture_budget", "n_total", "one-row"),
    ("q_pack_mixture_budget", "pw_total", "one-row"),
    ("q_pack_mixture_budget", "budgets", "enum-keyed"),
]:
    _add("queries/pipeline.py", f, a, c)
# --- quality -------------------------------------------------------------
for f, a, c in [
    ("q_time_anomaly", "stats", "enum-keyed"),
    ("q_fn_winsorize", "b", "enum-keyed"),
    ("q_stats_chisq", "colt", "enum-keyed"),
    ("q_stats_chisq", "grand", "one-row"),
    ("q_stats_chisq", "obs", "enum-keyed"),
    ("q_quality_benford", "total", "one-row"),
    ("q_stats_bootstrap", "ci", "enum-keyed"),
    ("q_quality_tukey", "fences", "enum-keyed"),
    ("q_stats_cuped", "theta", "one-row"),
    ("q_ml_logreg", "st", "one-row"),
    ("q_ml_logreg", "beta", "one-row"),
    ("q_ml_naive_bayes", "n_train", "one-row"),
    ("q_ml_naive_bayes", "class_tot.withColumnRenamed('lang', 'cand')",
     "enum-keyed"),
    ("q_ml_naive_bayes", "vocab", "zipf-head"),
    ("q_ml_naive_bayes", "priors.withColumnRenamed('lang', 'cand')",
     "enum-keyed"),
    ("q_quality_behavior_entropy", "k_1row", "one-row"),
    ("_gini_splits", "labels", "enum-keyed"),
    ("q_ml_auc", "classes", "enum-keyed"),
]:
    _add("queries/quality.py", f, a, c)
# --- sampling ------------------------------------------------------------
for f, a, c in [
    ("q_sample_mixture", "n_total", "one-row"),
    ("q_sample_mixture", "pw_total", "one-row"),
    ("q_sample_balanced", "floor_n", "one-row"),
]:
    _add("queries/sampling.py", f, a, c)
# --- similarity ----------------------------------------------------------
for f, a in [
    # broadcast_cosine_topk subsumes the former q_sim_cosine_topk /
    # q_e2e_semsearch / mmr_candidates / topk / ranked per-key "q"
    # sites (r9 dedup); lsh_topk's q_ids join is gone (probes now hash
    # qv directly)
    ("broadcast_cosine_topk", "q"), ("lsh_topk", "probes"),
    ("lsh_topk", "qn"), ("_ivf_assign", "cents"), ("q_sim_ivf_topk", "cent"),
    ("q_sim_ivf_topk", "probes"),
    ("q_e2e_semsearch", "hits"), ("q_embed_outliers", "cent"),
    ("q_sim_pq_topk", "qn"),
    # r14: ADC shortlist re-rank join — ≤ PQ_SHORTLIST×N_QUERY rows by
    # the shortlist window's construction
    ("q_sim_pq_topk", "shortlist"),
    ("q_sample_negative", "q"), ("q_sample_negative", "q.select('q_id')"),
    ("q_sample_coreset", "sel"),
    ("q_ml_knn", "q"), ("q_sim_range_search", "q"),
    ("hybrid_search", "centv"), ("hybrid_search", "hits"),
]:
    _add("queries/similarity.py", f, a, "k-capped")
_add("queries/similarity.py", "q_embed_outliers", "stats", "enum-keyed")
# --- text ----------------------------------------------------------------
for f, a, c in [
    ("q_text_tfidf", "n", "one-row"),
    ("q_text_tfidf", "dfc", "zipf-head"),
    ("bm25_scores", "qt", "k-capped"),
    ("bm25_scores", "df_", "k-capped"),  # df only over the query terms
    ("bm25_scores", "stats", "one-row"),
    ("q_text_cooccur", "n", "one-row"),
    ("q_text_cooccur",
     "cx.withColumnRenamed('tok', 't1').withColumnRenamed('c', 'cx1')",
     "zipf-head"),
    ("q_text_cooccur",
     "cx.withColumnRenamed('tok', 't2').withColumnRenamed('c', 'cx2')",
     "zipf-head"),
    ("q_text_lmscore", "tf", "zipf-head"),
    ("q_text_lmscore", "n", "one-row"),
    ("q_text_heavy_hitters", "candidates", "k-capped"),
    ("q_text_heavy_hitters", "total", "one-row"),
    ("q_agg_countmin", "cells", "k-capped"),
    ("q_text_bigram_lm", "bc", "zipf-head"),
    ("q_text_bigram_lm", "uc", "zipf-head"),
    ("q_text_bigram_lm", "vocab", "one-row"),
    ("q_text_bpe_encode", "codebook", "k-capped"),
]:
    _add("queries/text.py", f, a, c)
# --- timeseries ----------------------------------------------------------
for f, a, c in [
    ("q_time_growth", "c", "dim"), ("q_time_growth", "n", "dim"),
    ("q_time_seasonal", "seasonal", "enum-keyed"),
    ("q_time_wau", "active", "time-bounded"),
    ("q_time_cohort_ltv", "sizes", "time-bounded"),
    ("q_quality_freshness", "mx", "one-row"),
]:
    _add("queries/timeseries.py", f, a, c)
# --- windows -------------------------------------------------------------
for f, a, c in [
    ("q_win_ratio_to_report", "c", "dim"),
    ("q_win_ratio_to_report", "n", "dim"),
    ("q_win_ratio_to_report", "r", "dim"),
    ("q_win_ratio_to_report", "glob_1row", "one-row"),
    ("q_win_attribution_linear", "tc_1row", "one-row"),
]:
    _add("queries/windows.py", f, a, c)


def scan(root: str = PKG) -> list[tuple[str, str, str]]:
    """Every F.broadcast call site under ``root`` as
    (relpath, enclosing function, argument source text)."""
    sites = []
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            tree = ast.parse(open(p).read())

            # functions-module aliases resolved from THIS file's imports
            # (r8 advice: a hardcoded ("F","functions","sf") whitelist let
            # `import pyspark.sql.functions as pf` bypass the lint); the
            # restriction to aliases of the functions MODULE stays, so
            # sparkContext.broadcast — a broadcast VARIABLE, not a join
            # hint — doesn't false-positive
            mod_aliases: set[str] = set()
            bare_names: set[str] = {"broadcast"}
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name == "pyspark.sql.functions":
                            mod_aliases.add(a.asname or a.name)
                        # parent-module imports reach functions through
                        # attribute access (r9 review: `import pyspark.sql
                        # as psql; psql.functions.broadcast(...)` bypassed
                        # the ledger)
                        elif a.name == "pyspark.sql":
                            mod_aliases.add(
                                f"{a.asname or a.name}.functions")
                        elif a.name == "pyspark":
                            mod_aliases.add(
                                f"{a.asname or a.name}.sql.functions")
                elif isinstance(node, ast.ImportFrom):
                    if node.module == "pyspark.sql":
                        for a in node.names:
                            if a.name == "functions":
                                mod_aliases.add(a.asname or a.name)
                    elif node.module == "pyspark":
                        for a in node.names:
                            if a.name == "sql":
                                mod_aliases.add(
                                    f"{a.asname or a.name}.functions")
                    elif node.module == "pyspark.sql.functions":
                        for a in node.names:
                            if a.name == "broadcast":
                                bare_names.add(a.asname or a.name)

            def _is_broadcast_call(call: ast.Call) -> bool:
                """Every spelling of a forced broadcast: F.broadcast(x),
                a bare imported broadcast(x), and df.hint('broadcast'/
                'broadcastjoin'/'mapjoin', ...) — a site written in any
                of these forms must not bypass the ledger."""
                f = call.func
                if (isinstance(f, ast.Attribute) and f.attr == "broadcast"
                        and ast.unparse(f.value) in mod_aliases):
                    return True  # <any functions-module alias>.broadcast
                if isinstance(f, ast.Name) and f.id in bare_names:
                    return True  # from pyspark.sql.functions import broadcast
                if (isinstance(f, ast.Attribute) and f.attr == "hint"
                        and call.args
                        and isinstance(call.args[0], ast.Constant)
                        and str(call.args[0].value).lower()
                        in ("broadcast", "broadcastjoin", "mapjoin")):
                    return True
                return False

            def walk(node, fname):
                for child in ast.iter_child_nodes(node):
                    cf = fname
                    if isinstance(child, (ast.FunctionDef,
                                          ast.AsyncFunctionDef)):
                        cf = child.name
                    if (isinstance(child, ast.Call)
                            and _is_broadcast_call(child)):
                        if isinstance(child.func, ast.Attribute) and \
                                child.func.attr == "hint":
                            arg = ast.unparse(child.func.value)
                        else:
                            arg = (ast.unparse(child.args[0])
                                   if child.args else "?")
                        sites.append((rel, cf or "<module>", arg))
                    walk(child, cf)

            walk(tree, None)
    return sites


def audit() -> tuple[list, list, list]:
    """(unclassified sites, stale ledger entries, count mismatches)."""
    from collections import Counter

    counts = Counter(scan())
    unclassified = [s for s in counts if s not in LEDGER]
    stale = [k for k in LEDGER if k not in counts]
    miscount = [
        (k, n, MULTI.get(k, 1))
        for k, n in counts.items()
        if k in LEDGER and n != MULTI.get(k, 1)
    ]
    miscount += [
        (k, 0, exp) for k, exp in MULTI.items() if k not in counts
    ]
    return unclassified, stale, miscount


if __name__ == "__main__":
    unclassified, stale, miscount = audit()
    for s in unclassified:
        print(f"UNCLASSIFIED broadcast: {s[0]}:{s[1]} arg={s[2]!r}")
    for s in stale:
        print(f"STALE ledger entry (site gone/edited): {s}")
    for k, got, exp in miscount:
        print(f"COUNT MISMATCH {k}: {got} sites scanned, ledger expects "
              f"{exp} — update MULTI (or a twin was added/deleted)")
    n = len(scan())
    print(f"{n} sites scanned, {len(LEDGER)} classified, "
          f"{len(unclassified)} unclassified, {len(stale)} stale, "
          f"{len(miscount)} count-mismatched")
    sys.exit(1 if (unclassified or stale or miscount) else 0)
