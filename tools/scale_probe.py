#!/usr/bin/env python
"""Scale and skew receipts: (re)earn one section of bench_100x.json.

Each operator family has ONE measuring function, ``<family>(spark, n)``,
that runs the family's operator once on an n-sized synthetic input and
returns that point's deterministic counts (candidate pairs, rounds,
bins, wedges, ...) and its wall. Section ``<family>_<s>x`` runs it once
untimed at 1x (JVM JIT, codegen and shuffle warm-up), then once per
point at 1x and s x, and writes each figure suffixed with its point
(``candidate_pairs_1x``, ``candidate_pairs_10x``) into bench_100x.json
under the section's name. The counts are the claim: they change only
when the operator's code does, so each receipt is stamped with the
measured operators' def-hashes (tools/round_check.py warns when one
goes stale) and with its host. A wall is one run on that host: context,
not a claim.

``skew_join`` is the one section without size points: an 8M-row fact
with one hot key (half the rows) joined to a small dim and aggregated
four ways, each reporting its straggler (the longest task of the join's
reduce stage, read off the Spark REST status API) and that stage's id;
the straggler is the number that grows with cluster size.

Run: python tools/scale_probe.py <section>   # e.g. minhash_10x, cc_100x, skew_join
"""
from __future__ import annotations

import datetime
import functools
import hashlib
import inspect
import json
import os
import shutil
import sys
import tempfile
import time
from typing import Callable, NamedTuple

REPO = os.path.normpath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
)
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from kafka_hadoop_consumer_spark import get_spark  # noqa: E402
from kafka_hadoop_consumer_spark.queries.registry import (  # noqa: E402
    release_tracked,
)

N1 = 2_000  # the 1x corpus size every size-point section scales from


def _timed(action: Callable):
    """(seconds, result) of one run of ``action``, then release the
    operator's persist pins: direct operator calls bypass the registry's
    per-query release hook, so pins would otherwise pile up across the
    probe's runs and skew the later ones with cache pressure."""
    t0 = time.perf_counter()
    out = action()
    wall = round(time.perf_counter() - t0, 3)
    release_tracked()
    return wall, out


# ---------------------------------------------------------------------------
# Synthetic corpora, cached per n


def _synth_embeddings(spark, n: int, out_dir: str) -> None:
    """Deterministic gaussian corpus shaped like the embeddings fixture
    (vec_id int64, label int32, embedding array<float>)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(2024)
    V = rng.randn(n, 64).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "label": (np.arange(n) % 10).astype("int32"),
            "embedding": list(V),
        }
    )
    spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def _synth_documents(spark, n: int, out_dir: str) -> None:
    """Deterministic word-salad corpus shaped like the documents fixture,
    with every 10th doc a 1-token edit of its predecessor (planted
    near-dups whose shared runs the substring miner must find; the
    40-word vocabulary makes accidental 8-gram collisions negligible)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    vocab = np.array([f"w{i}" for i in range(40)])
    texts = [" ".join(rng.choice(vocab, size=80)) for _ in range(n)]
    for i in range(10, n, 10):
        # positional edit (not str.replace: "w3" is a prefix of "w30"/"w31",
        # and the token may occur earlier — a substring replace would move
        # the planted edit away from position 40)
        toks = texts[i - 1].split(" ")
        toks[40] = "EDIT"
        texts[i] = " ".join(toks)
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype="int64"), "text": texts})
    spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


# The corpora are DETERMINISTIC (fixed RandomState seeds), so they are
# cached under the temp dir in a directory keyed on n and a hash of both
# generators' source: editing a generator lands in a fresh directory.
# This caches probe INPUT, never any query output or intermediate.
_PROBE_CACHE_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_probe_cache")


def _probe_corpus_dir(spark, n: int) -> str:
    """Return a directory holding the deterministic n-row synthetic
    embeddings+documents corpora, synthesizing on first use. A build
    goes into a private temp dir beside the cache and is renamed into
    place, so an interrupted or concurrent build never leaves a partial
    corpus under the final name."""
    src = "".join(inspect.getsource(g) for g in (_synth_embeddings, _synth_documents))
    tag = hashlib.sha256(f"{n}\0{src}".encode()).hexdigest()[:16]
    d = os.path.join(_PROBE_CACHE_ROOT, f"n{n}-{tag}")
    if os.path.isdir(d):
        return d
    os.makedirs(_PROBE_CACHE_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".n{n}-{tag}-", dir=_PROBE_CACHE_ROOT)
    try:
        _synth_embeddings(spark, n, tmp)
        _synth_documents(spark, n, tmp)
        try:
            os.replace(tmp, d)
        except OSError:
            # a concurrent run renamed its (identical) build in first
            if not os.path.isdir(d):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def _embeddings(spark, n: int):
    """vec_id + double-vector view of the n-row synthetic embeddings."""
    from kafka_hadoop_consumer_spark.queries.similarity import _vec_double

    d = _probe_corpus_dir(spark, n)
    return spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
        "vec_id", _vec_double().alias("v")
    )


def _documents(spark, n: int):
    d = _probe_corpus_dir(spark, n)
    return spark.read.parquet(os.path.join(d, "documents.parquet"))


# ---------------------------------------------------------------------------
# One measuring function per operator family: fn(spark, n) -> {figure: value}

EMBED_TABLES = 12
# bits per table re-tuned ~log2(n) per scale point, the operators' scale
# contract: bucket size stays bounded, so candidates grow ~linearly
EMBED_BITS = {1: 5, 10: 8, 100: 12}
# the candidate self-join and the cascade run only where the bucket
# histogram bounds them under this many pair slots; above it (bits 5 at
# 100x: ~8e9, the all-pairs blow-up re-tuning avoids) the bound is the
# receipt
EMBED_JOIN_CAP = 200_000_000


def _planes(bits: int) -> list:
    """Seed-7 hyperplane family: the same LSH family at every point."""
    import numpy as np

    return np.random.RandomState(7).randn(EMBED_TABLES, bits, 64).tolist()


def _bucket_pairs(ed, bits: int) -> tuple[int, int | None]:
    """(Σ C(bucket,2) over (table, bucket), DISTINCT candidate pairs) at
    ``bits``. The sum counts a multi-table collision once per table, so
    it upper-bounds the distinct pairs the cascade cosine-verifies (the
    same (table, bucket) self-join + distinct the operator performs),
    which are counted only under EMBED_JOIN_CAP (else None)."""
    from kafka_hadoop_consumer_spark.queries.similarity import _table_buckets

    # persist: the histogram and both self-join sides share the bucketing
    bucketed = ed.select(
        "vec_id",
        F.posexplode(
            F.array(*_table_buckets(F.col("v"), _planes(bits)))
        ).alias("l", "bucket"),
    ).persist()
    try:
        bound = int(
            bucketed.groupBy("l", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.expr("c * (c - 1) / 2")).cast("long"))
            .first()[0] or 0
        )
        if bound > EMBED_JOIN_CAP:
            return bound, None
        pairs = (
            bucketed.alias("a")
            .join(
                bucketed.alias("b"),
                (F.col("a.l") == F.col("b.l"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
            .distinct()
            .count()
        )
        return bound, pairs
    finally:
        bucketed.unpersist()


def _lsh_candidate_pairs(ed, q) -> int:
    """DISTINCT (q_id, vec_id) candidate pairs the ANN cosine-verifies —
    mirrors lsh_topk's candidate stage (corpus bucketed per table, each
    query probes its bucket + the k Hamming-1 neighbors) through the
    operator's OWN _sim_lsh_bits/_sim_planes/_table_buckets helpers, so
    the count measures the same LSH family the timed run uses.

    Same-math, not bit-identical: this mirror buckets via the
    interpreted _table_buckets HOF while lsh_topk buckets via its
    numpy/Arrow UDF — same planes and bit convention, but a different FP
    summation order, so a dot product landing EXACTLY at 0.0 could
    bucket differently. Acceptable for a candidate count."""
    from kafka_hadoop_consumer_spark.queries.similarity import (
        _sim_lsh_bits,
        _sim_planes,
        _table_buckets,
    )

    k = _sim_lsh_bits(ed.count())
    planes = _sim_planes(k)

    def buckets(df, idc, vc):
        return df.select(
            idc,
            F.posexplode(
                F.array(*_table_buckets(F.col(vc), planes))
            ).alias("l", "bucket"),
        )

    probes = buckets(q, "q_id", "qv").select(
        "q_id",
        "l",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("int")
                    for j in range(k)
                ],
            )
        ).alias("bucket"),
    )
    return (
        buckets(ed, "vec_id", "v")
        .join(F.broadcast(probes), ["l", "bucket"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
        .count()
    )


def embedding(spark, n: int) -> dict:
    """LSH top-k ANN and the embedding near-dup cascade. The cascade runs
    at every re-tuned bits config up to this point's (at 10x: the 1x
    config, like-for-like, and the re-tuned one, the production
    posture); the candidate-pair counts are the noise-free claim."""
    from kafka_hadoop_consumer_spark.queries.similarity import (
        embedding_near_dup_pairs,
        lsh_topk,
    )

    ed = _embeddings(spark, n)
    q = ed.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    wall, rows = _timed(lambda: lsh_topk(ed, q).count())
    out = {
        "lsh_candidate_pairs": _lsh_candidate_pairs(ed, q),
        "lsh_topk_rows": rows,
        "lsh_topk_wall_sec": wall,
    }
    for scale, bits in EMBED_BITS.items():
        if scale * N1 > n:
            break
        bound, pairs = _bucket_pairs(ed, bits)
        out[f"sigma_pair_bound_bits{bits}"] = bound
        if pairs is not None:
            wall, kept = _timed(
                lambda: embedding_near_dup_pairs(ed, _planes(bits)).count()
            )
            out[f"candidate_pairs_bits{bits}"] = pairs
            out[f"near_dup_pairs_out_bits{bits}"] = kept
            out[f"dedup_wall_sec_bits{bits}"] = wall
    return out


def minhash(spark, n: int) -> dict:
    """The MinHash+LSH+verify cascade. Band buckets key on the signature
    itself, so there is no bits knob: the band-bucket Σ C(bucket,2)
    bound, the largest bucket and the DISTINCT candidate pairs (a pair
    colliding in several bands counts once) track the planted near-dup
    density (one per 10 docs), not n²."""
    from kafka_hadoop_consumer_spark.queries.dedup import (
        minhash_banded,
        minhash_near_dup_pairs,
        minhash_signatures,
        shingles,
    )

    docs = _documents(spark, n)
    # persist: the histogram and both self-join sides share the banding
    banded = minhash_banded(minhash_signatures(shingles(docs))).persist()
    try:
        hist = (
            banded.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.expr("c * (c - 1) / 2")).cast("long").alias("s"),
                F.max("c").alias("mx"),
            )
            .first()
        )
        cand = (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct()
            .count()
        )
    finally:
        banded.unpersist()
    wall, pairs = _timed(lambda: minhash_near_dup_pairs(docs).count())
    return {
        "sigma_band_pair_bound": int(hist["s"] or 0),
        "max_band_bucket": int(hist["mx"] or 0),
        "candidate_pairs": cand,
        "near_dup_pairs_out": pairs,
        "wall_sec": wall,
    }


def substring(spark, n: int) -> dict:
    """The verbatim-run miner. The positions the within-doc OCC_CAP
    budget drops and the matched positions that reach the pair join
    must grow ~linearly (planted near-dups are linear in n): zero drops
    shows the positional-shingle index does not saturate."""
    from kafka_hadoop_consumer_spark.queries.dedup import (
        OCC_CAP,
        kept_positions,
        verbatim_runs,
    )

    docs = _documents(spark, n)
    row = kept_positions(docs).select(
        F.sum((F.col("occ") > OCC_CAP).cast("long")).alias("dropped"),
        F.sum((F.col("occ") <= OCC_CAP).cast("long")).alias("kept"),
    ).first()
    release_tracked()
    wall, runs = _timed(lambda: verbatim_runs(docs).count())
    return {
        "occ_cap_dropped": int(row["dropped"] or 0),
        "joinable_positions": int(row["kept"] or 0),
        "verbatim_runs_out": runs,
        "wall_sec": wall,
    }


HYBRID_QUERIES = {"hq1": ("w1", "w2"), "hq2": ("w3", "w4"), "hq3": ("w5", "w6")}


def hybrid(spark, n: int) -> dict:
    """q_e2e_hybrid_search's hybrid_search core with vocabulary-matched
    query terms. The tokens surviving the term IN-filter — the BM25
    stage's shuffle input — must stay the query-term fraction of the
    corpus (6 of 40 vocab words): the filter prunes BEFORE the shuffle."""
    from kafka_hadoop_consumer_spark.queries.similarity import hybrid_search

    # synth docs lack the metadata cols the hydration projects
    docs = (
        _documents(spark, n)
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("synth"))
    )
    terms = [t for ts in HYBRID_QUERIES.values() for t in ts]
    row = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("term").isin(*terms), 1)).alias("pruned"),
        )
        .first()
    )
    emb = spark.read.parquet(
        os.path.join(_probe_corpus_dir(spark, n), "embeddings.parquet")
    )
    wall, rows = _timed(
        lambda: hybrid_search(spark, docs, emb, HYBRID_QUERIES).count()
    )
    tot, pr = int(row["total"]), int(row["pruned"])
    return {
        "tokens_total": tot,
        "tokens_after_in_filter": pr,
        "prune_fraction": round(pr / tot, 3) if tot else None,
        "result_rows": rows,
        "wall_sec": wall,
    }


def stump(spark, n: int) -> dict:
    """Histogram-split decision stump: its candidate thresholds —
    distinct (feature, bin) pairs — are bounded by the bin GRID, not
    corpus size; per-row candidate generation would grow them ~10x."""
    from kafka_hadoop_consumer_spark.queries.quality import (
        _stump_points,
        q_ml_decision_stump,
    )

    d = _probe_corpus_dir(spark, n)
    bins = _stump_points(spark, d).select("feat", "bin").distinct().count()
    wall, rows = _timed(lambda: q_ml_decision_stump(spark, d).count())
    return {"bins": bins, "result_rows": rows, "wall_sec": wall}


CLIQUE = 8


def triangles(spark, n: int) -> dict:
    """Degree-ordered triangle enumeration on n/8 disjoint 8-cliques
    PLUS a disjoint star whose hub has n/2 leaves — the adversarial hub
    that makes unoriented wedge enumeration quadratic. Enumerated
    wedges track triangles EXACTLY (every clique wedge closes; the hub
    emits none, orientation gives it out-degree 0), while the
    unoriented per-center probe count Σ C(deg,2), dominated by
    C(n/2, 2) at the hub, grows ~n²."""
    from kafka_hadoop_consumer_spark.queries.graph import triangles_from_edges

    pairs = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
        for i in range(CLIQUE) for j in range(i + 1, CLIQUE)
    ])
    g = spark.range(n // CLIQUE).select(
        (F.col("id") * CLIQUE).alias("base"), F.explode(pairs).alias("p")
    )
    cliques = g.select(
        (F.col("base") + F.col("p.i")).alias("u"),
        (F.col("base") + F.col("p.j")).alias("v"),
    )
    hub = F.lit(10 * n)  # id above every leaf -> u < v holds
    star = spark.range(n, n + n // 2).select(
        F.col("id").alias("u"), hub.alias("v")
    )
    tri, deg, wedges = triangles_from_edges(cliques.unionAll(star))
    t0 = time.perf_counter()
    n_tri = tri.count()
    wall = round(time.perf_counter() - t0, 3)
    unoriented = deg.agg(F.sum(F.expr("d * (d - 1) / 2")).cast("long")).first()[0]
    n_wedges = wedges.count()
    release_tracked()
    return {
        "triangles": n_tri,
        "wedges": n_wedges,
        "unoriented_probes": int(unoriented),
        "wall_sec": wall,
    }


def cc(spark, n: int) -> dict:
    """Large-star/small-star connected components on a PATH graph
    (diameter n-1), the adversarial case for label propagation: a
    linear-round algorithm needs ~n rounds, this one ~log2(n)."""
    from kafka_hadoop_consumer_spark.queries.graph import (
        CC_LAST_EDGE_COUNTS,
        CC_LAST_ROUNDS,
        cc_from_edges,
    )

    key = f"probe_cc_{n}"
    edges = spark.range(1, n).select(
        (F.col("id") - 1).alias("u"), F.col("id").alias("v")
    )
    wall, n_comp = _timed(
        lambda: cc_from_edges(edges, key=key, max_rounds=40)
        .select("component_id").distinct().count()
    )
    return {
        "rounds": CC_LAST_ROUNDS[key],
        "edge_counts_per_round": CC_LAST_EDGE_COUNTS[key],
        "n_components": n_comp,
        "wall_sec": wall,
    }


def minlabel(spark, diam: int) -> dict:
    """q_dedup_clusters' diameter-round min-label propagation on a
    planted near-dup chain (doc i ~ doc i+1, one component of diameter
    ``diam``): rounds-to-fixpoint must equal diameter + 1 confirm
    round, the data behind the operator's round cap."""
    from kafka_hadoop_consumer_spark.queries.dedup import (
        MINLABEL_LAST_ROUNDS,
        min_label_components,
    )

    key = f"probe_chain_{diam}"
    e = spark.range(diam).select(
        F.col("id").alias("doc1"), (F.col("id") + 1).alias("doc2")
    )
    e = e.union(e.select(F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2")))
    # per-round localCheckpoints make the fixpoint loop eager, so the
    # operator's work is done when it returns
    t0 = time.perf_counter()
    labels = min_label_components(e, key=key)
    wall = round(time.perf_counter() - t0, 3)
    not_min = labels.where(F.col("label") != 0).count()
    release_tracked()
    assert not_min == 0, (
        f"chain diam={diam}: {not_min} nodes never reached the "
        "component min — propagation broke"
    )
    return {"rounds": MINLABEL_LAST_ROUNDS[key], "wall_sec": wall}


def pagerank(spark, n: int) -> dict:
    """pagerank_from_edges — q_graph_pagerank's iteration core — on a
    ring+skip7 graph (degree 4, no dangling nodes, so the wall isolates
    the per-iteration join+groupBy cost) at 1 and 3 iterations:
    (wall₃ − wall₁)/2 cancels the shared setup, and must track |E|."""
    from kafka_hadoop_consumer_spark.queries.dedup import pagerank_from_edges

    nodes = spark.range(n)
    fwd = nodes.select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    ).unionByName(
        nodes.select(F.col("id").alias("src"), ((F.col("id") + 7) % n).alias("dst"))
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    out = {"edges": 4 * n}
    for iters in (1, 3):
        wall, mass = _timed(
            lambda: pagerank_from_edges(edges, iters=iters).agg(F.sum("r")).first()[0]
        )
        # power iteration on a connected regular graph preserves mass
        assert abs(mass - 1.0) < 1e-6, mass
        out[f"wall_sec_iters{iters}"] = wall
    out["per_iteration_sec"] = round(
        (out["wall_sec_iters3"] - out["wall_sec_iters1"]) / 2, 3
    )
    return out


def bootstrap(spark, n: int) -> dict:
    """q_stats_bootstrap itself over synthetic events: all BOOT_B
    resamples ride ONE scan as in-projection weights, collapsing
    map-side into |event_types| × BOOT_B resample means — state
    CONSTANT in n, while rows and wall grow ~linearly."""
    from kafka_hadoop_consumer_spark.queries.quality import (
        BOOT_B,
        q_stats_bootstrap,
    )

    d = tempfile.mkdtemp(prefix="scale_probe_boot_")
    try:
        # same shape as the events fixture; 3 event types, like sf0.1
        spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
            (F.col("id") % 997).alias("user_id"),
            F.element_at(
                F.array(F.lit("browse"), F.lit("click"), F.lit("purchase")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("event_type"),
            (F.sin(F.col("id").cast("double")) * 50 + 50).alias("value"),
            F.lit("{}").alias("props"),
        ).coalesce(8).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        wall, rows = _timed(lambda: q_stats_bootstrap(spark, d).count())
        types = (
            spark.read.parquet(os.path.join(d, "events.parquet"))
            .select("event_type").distinct().count()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return {
        "exploded_rows": n * BOOT_B,
        "resample_means_state": types * BOOT_B,
        "result_rows": rows,
        "wall_sec": wall,
    }


# ---------------------------------------------------------------------------
# Skew join: the "salting for skew" claim measured, not asserted.
#
# Wall-clock on a many-core box understates the claim: the other cores
# absorb the non-hot work while the hot task runs, so total time barely
# moves. The number that scales to a 1000-executor cluster is the
# STRAGGLER — the longest single task of the join's reduce side, the
# completed stage with the largest shuffle read: a job is as slow as its
# slowest task, and salting's point is to cut it. Map-side tasks are not
# counted; each scans an even slice of the range whatever the skew.
SKEW_ROWS = 8_000_000
SKEW_HOT_FRACTION = 0.5
SKEW_N_KEYS = 1_000
_AQE_OFF = {"spark.sql.adaptive.skewJoin.enabled": "false"}
# force the shuffle path: a broadcast dim would bypass skew entirely
_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1",
                 "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}


def _completed_stage_reads(base: str) -> dict[int, int] | None:
    """Shuffle-read bytes by completed stage id. None on any REST
    failure — that run then records no straggler."""
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(
            f"{base}/stages?status=complete", timeout=10
        ) as r:
            return {s["stageId"]: s["shuffleReadBytes"] for s in json.load(r)}
    except (urllib.error.URLError, urllib.error.HTTPError, OSError, ValueError):
        return None


def _max_task_ms(base: str, stage_id: int) -> float | None:
    """Longest task duration (ms) of one completed stage."""
    import urllib.error
    import urllib.request

    url = f"{base}/stages/{stage_id}/0/taskSummary?quantiles=1.0"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            dur = json.load(r).get("duration") or []
    except (urllib.error.URLError, urllib.error.HTTPError, OSError, ValueError):
        return None
    return float(dur[0]) if dur else None


def skew_join(spark) -> dict:
    """A fact with one hot key (SKEW_HOT_FRACTION of SKEW_ROWS) joined
    to a small dim and aggregated: naive sort-merge join with AQE skew
    splitting off (what dies at scale), the salted_join operator (AQE
    off: pure operator effect), plain join with AQE skew handling on,
    and AQE tuned. Two defaults stop AQE's split at local scale, both
    thresholds rather than capability gaps: the hot partition's
    shuffle bytes (~10 MB, near-constant rows compress hard) sit under
    the 256 MB skew threshold, hence 4 MB; and OptimizeSkewedJoin
    declines a split that adds a shuffle (the downstream groupBy would
    have reused the join's partitioning), which forceOptimizeSkewedJoin
    accepts — the documented knob for agg-after-join shapes."""
    from kafka_hadoop_consumer_spark.operators.salting import salted_join

    fact = spark.range(SKEW_ROWS).select(
        F.when(F.col("id") % int(1 / SKEW_HOT_FRACTION) == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(SKEW_N_KEYS)))
        .cast("long")
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = spark.range(SKEW_N_KEYS).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id") % 10).alias("grp")
    )

    def agg(joined):
        return joined.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 2).alias("s")
        )

    variants = {
        "naive_no_aqe": (_AQE_OFF, lambda: agg(fact.join(dim, "k"))),
        "salted_no_aqe": (
            _AQE_OFF, lambda: agg(salted_join(fact, dim, on="k", n_salts=32))
        ),
        "aqe_skew": (
            {"spark.sql.adaptive.skewJoin.enabled": "true"},
            lambda: agg(fact.join(dim, "k")),
        ),
        "aqe_tuned": (
            {
                "spark.sql.adaptive.skewJoin.enabled": "true",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
                "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
            },
            lambda: agg(fact.join(dim, "k")),
        ),
    }
    sc = spark.sparkContext
    rest = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def run(conf: dict, build) -> tuple[float, int | None, float | None]:
        """(wall sec, reduce stage id, its straggler ms) of one run under
        ``conf``."""
        saved = {k: spark.conf.get(k, None) for k in {**_NO_BROADCAST, **conf}}
        try:
            for k, v in {**_NO_BROADCAST, **conf}.items():
                spark.conf.set(k, v)
            before = _completed_stage_reads(rest)
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            wall = round(time.perf_counter() - t0, 3)
            after = _completed_stage_reads(rest)
            if before is None or after is None:
                return wall, None, None
            reads = {sid: b for sid, b in after.items() if sid not in before}
            if not reads:
                return wall, None, None
            reduce_side = max(reads, key=reads.get)
            return wall, reduce_side, _max_task_ms(rest, reduce_side)
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    run(*variants["naive_no_aqe"])  # untimed warm-up
    out = {"rows": SKEW_ROWS, "hot_fraction": SKEW_HOT_FRACTION,
           "aqe_tuned_threshold": "4m+force"}
    for name, (conf, build) in variants.items():
        (out[f"{name}_sec"], out[f"{name}_reduce_stage"],
         out[f"{name}_max_task_ms"]) = run(conf, build)
    return out


# ---------------------------------------------------------------------------
# Sections


class Family(NamedTuple):
    measure: Callable[..., dict]  # (spark, n) -> that point's figures
    keys: tuple  # registry keys whose def-hashes stamp the receipt
    about: str  # the synthetic input, recorded in the receipt
    base: int  # the 1x size
    scales: tuple  # one section per scale: points 1x and that scale


FAMILIES = {
    "embedding": Family(
        embedding, ("q_dedup_embedding", "q_sim_lsh_topk"),
        f"gaussian 64-dim vectors; {EMBED_TABLES} tables, bits per point "
        f"{EMBED_BITS}", N1, (10, 100)),
    "minhash": Family(minhash, ("q_dedup_minhash",),
                      "word-salad docs, every 10th a 1-token edit",
                      N1, (10, 100)),
    "substring": Family(substring, ("q_dedup_substring",),
                        "word-salad docs, every 10th a 1-token edit",
                        N1, (10, 100)),
    "hybrid": Family(hybrid, ("q_e2e_hybrid_search",),
                     "word-salad docs + gaussian vectors, 3 two-term queries",
                     N1, (10, 100)),
    "stump": Family(stump, ("q_ml_decision_stump",),
                    "gaussian 64-dim vectors, 10 labels", N1, (10,)),
    "triangles": Family(triangles, ("q_graph_triangles",),
                        f"disjoint {CLIQUE}-cliques + (n/2)-leaf hub star",
                        N1, (10, 100)),
    "cc": Family(cc, ("q_graph_cc",), "path (diameter = n-1)", N1, (10, 100)),
    "minlabel": Family(minlabel, ("q_dedup_clusters",),
                       "planted near-dup chain, n = diameter", 5, (4,)),
    "pagerank": Family(pagerank, ("q_graph_pagerank",),
                       "ring+skip7 (degree 4, |E| = 4n directed, no dangling)",
                       N1, (100,)),
    "bootstrap": Family(bootstrap, ("q_stats_bootstrap",),
                        "events, 3 event types", N1, (100,)),
}


def _size_points(spark, fam: Family, scale: int) -> dict:
    """One untimed warm-up run at 1x, then one run per point."""
    fam.measure(spark, fam.base)
    out = {"input": fam.about}
    for p in (1, scale):
        out[f"n_{p}x"] = fam.base * p
        out.update(
            (f"{k}_{p}x", v) for k, v in fam.measure(spark, fam.base * p).items()
        )
    return out


# section -> (stamped registry keys, body(spark) -> receipt figures)
SECTIONS = {
    f"{name}_{s}x": (fam.keys, functools.partial(_size_points, fam=fam, scale=s))
    for name, fam in FAMILIES.items()
    for s in fam.scales
}
SECTIONS["skew_join"] = (("q_join_skewed",), skew_join)


def _def_hashes(keys: tuple) -> dict:
    """Snapshot the measured operators' CURRENT def-hashes into the
    receipt: a receipt is a single-run artifact, so round_check can warn
    when an operator's definition changed AFTER it was recorded."""
    import importlib.util

    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    spec = importlib.util.spec_from_file_location(
        "_cov_ledger", os.path.join(REPO, "tools", "coverage_ledger.py")
    )
    led = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(led)
    return {k: led.def_hash(k, QUERIES, ORACLES) for k in keys}


def _host() -> dict:
    """What the walls were measured on."""
    model = None
    try:
        with open("/proc/cpuinfo") as f:
            model = next(
                (ln.split(":", 1)[1].strip() for ln in f
                 if ln.startswith("model name")),
                None,
            )
    except OSError:
        pass
    return {"cpus": os.cpu_count(), "cpu_model": model}


def earn(section: str) -> dict:
    """Run ``section`` and merge its receipt into bench_100x.json,
    keeping every other section as recorded."""
    keys, body = SECTIONS[section]
    # UI on (free port): skew_join reads stragglers off the REST API
    spark = get_spark(
        app_name=f"scale_probe_{section}",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0"},
    )
    receipt = {
        "recorded": datetime.date.today().isoformat(),
        "def_hashes": _def_hashes(keys),
        "host": _host(),
        **body(spark),
    }
    path = os.path.join(REPO, "bench_100x.json")
    with open(path) as f:
        doc = json.load(f)
    doc[section] = receipt
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    return receipt


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("section", choices=sorted(SECTIONS),
                    help="the bench_100x.json section to (re)earn")
    args = ap.parse_args()
    print(json.dumps(earn(args.section), indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
