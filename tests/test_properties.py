"""Property-based cross-engine tests (SURVEY.md §5.2.4): hypothesis
generates adversarial small frames; Spark and DuckDB must agree on the
scalar-function families and dedup invariants hold.

These catch semantics drift the fixture-based oracle tests can't reach
(weird floats, empty strings, boundary ints).
"""

from __future__ import annotations

import itertools
from collections import Counter

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# printable ASCII without backslashes/quotes (SQL-literal-safe isn't needed
# — data goes through DataFrames — but keep regexes simple)
_texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=40,
)
_ints = st.integers(min_value=-(2**31), max_value=2**31 - 1)
_floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _both(spark, pdf: pd.DataFrame, spark_cols, duck_sql: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    sdf = spark.createDataFrame(pdf).select(*spark_cols).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(duck_sql).df()
    con.close()
    s = sdf.sort_values("i").reset_index(drop=True)
    o = odf.sort_values("i").reset_index(drop=True)
    return s, o


@SLOW
@given(st.lists(_texts, min_size=1, max_size=8))
def test_string_functions_agree(spark, texts):
    pdf = pd.DataFrame({"i": range(len(texts)), "s": texts})
    s, o = _both(
        spark,
        pdf,
        [
            "i",
            F.upper("s").alias("u"),
            F.length("s").cast("long").alias("n"),
            F.trim("s").alias("t"),
            F.substring("s", 2, 3).alias("sub"),
            F.reverse("s").alias("rev"),
        ],
        "SELECT i, upper(s) u, length(s) n, trim(s) t, substring(s, 2, 3) sub, reverse(s) rev FROM t",
    )
    pd.testing.assert_frame_equal(s, o, check_dtype=False)


@SLOW
@given(st.lists(_ints, min_size=1, max_size=8))
def test_int_math_agrees(spark, xs):
    pdf = pd.DataFrame({"i": range(len(xs)), "x": pd.array(xs, dtype="int64")})
    s, o = _both(
        spark,
        pdf,
        [
            "i",
            F.abs("x").alias("a"),
            F.pmod("x", F.lit(7)).cast("long").alias("m"),
            (F.col("x") + 1).alias("inc"),
            F.greatest("x", F.lit(0)).alias("g"),
        ],
        "SELECT i, abs(x) a, CAST((x % 7 + 7) % 7 AS BIGINT) m, x + 1 inc, greatest(x, 0) g FROM t",
    )
    pd.testing.assert_frame_equal(s, o, check_dtype=False)


@SLOW
@given(st.lists(_floats, min_size=1, max_size=8))
def test_float_scalar_exprs_bitwise_identical(spark, xs):
    """Scalar IEEE expressions must agree BIT-FOR-BIT across engines (the
    no-rounding rule for pass-through expressions rests on this)."""
    pdf = pd.DataFrame({"i": range(len(xs)), "x": pd.array(xs, dtype="float64")})
    s, o = _both(
        spark,
        pdf,
        [
            "i",
            (F.col("x") * 0.7 + 1.3).alias("lin"),
            F.abs("x").alias("a"),
            F.floor("x").cast("double").alias("fl"),
            F.sqrt(F.abs("x")).alias("sq"),
        ],
        "SELECT i, x * 0.7 + 1.3 lin, abs(x) a, floor(x) fl, sqrt(abs(x)) sq FROM t",
    )
    for c in ("lin", "a", "fl", "sq"):
        assert (s[c].to_numpy() == o[c].to_numpy()).all(), c


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 3), _texts), min_size=1, max_size=10
    )
)
def test_keyed_dedup_idempotent(spark, rows):
    """dedup(dedup(x)) == dedup(x), and one survivor per key."""
    pdf = pd.DataFrame(
        {
            "i": range(len(rows)),
            "k": [k for k, _ in rows],
            "v": [v for _, v in rows],
        }
    )
    df = spark.createDataFrame(pdf)
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.col("i").desc())
    dedup = lambda d: (
        d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )
    once = dedup(df).toPandas().sort_values("k").reset_index(drop=True)
    twice = dedup(dedup(df)).toPandas().sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(once, twice)
    assert once["k"].is_unique


_words = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=80
)


@SLOW
@given(st.lists(_words, min_size=1, max_size=6))
def test_chunking_reassembles_exactly(spark, docs):
    """q_text_chunk invariants on arbitrary token streams: chunk starts
    stride the stream exactly; de-overlapped chunks concatenate back to
    the original text (lossless coverage, no token duplicated/dropped)."""
    from kafka_hadoop_consumer_spark.queries.pipeline import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(len(docs)), "text": [" ".join(w) for w in docs]}
    )
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf.text.str.len()
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("documents_prop")

    import kafka_hadoop_consumer_spark.queries.pipeline as pl

    # pipeline.py binds load_table by name — patch the module-local symbol
    orig = pl.load_table
    try:
        pl.load_table = lambda s, d, n: sdf  # noqa: E731
        chunks = pl.q_text_chunk(spark, "ignored").toPandas()
    finally:
        pl.load_table = orig

    for doc_id, w in zip(range(len(docs)), docs):
        mine = chunks[chunks.doc_id == doc_id].sort_values("chunk_idx")
        n = len(w)
        expected_starts = list(range(0, n, CHUNK_STRIDE))
        assert list(mine.chunk_idx) == list(range(len(expected_starts)))
        # strip the overlap (tokens beyond the stride) from every chunk,
        # keep the final chunk whole, and the stream reassembles
        rebuilt: list[str] = []
        rows = list(mine.chunk)
        for i, chunk in enumerate(rows):
            toks = chunk.split(" ")
            rebuilt.extend(toks if i == len(rows) - 1 else toks[:CHUNK_STRIDE])
        assert rebuilt == w
        assert all(mine.n_chunk_tokens <= CHUNK_TOKENS)


@SLOW
@given(st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=40))
def test_sequence_packing_invariants(spark, lengths):
    """q_pack_sequences invariants: offsets are the prefix sums in key
    order; bins are contiguous; every bin's start offset lands inside its
    256-token budget window."""
    from kafka_hadoop_consumer_spark.queries.pipeline import PACK_BUDGET
    import kafka_hadoop_consumer_spark.queries.pipeline as pl

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(lengths)),
            "text": [" ".join(["w"] * k) for k in lengths],
            "lang": ["en" if i % 2 else "de" for i in range(len(lengths))],
            "source": "t",
            "n_chars": 1,
        }
    )
    sdf = spark.createDataFrame(pdf)
    orig = pl.load_table
    try:
        pl.load_table = lambda s, d, n: sdf  # noqa: E731
        packed = pl.q_pack_sequences(spark, "ignored").toPandas()
    finally:
        pl.load_table = orig

    for lang, grp in packed.groupby("lang"):
        grp = grp.sort_values("doc_id").reset_index(drop=True)
        cum = 0
        prev_bin = 0
        for r in grp.itertuples():
            assert r.start_offset == cum
            assert r.bin_id == cum // PACK_BUDGET
            assert r.bin_id >= prev_bin  # bins contiguous, never backward
            prev_bin = r.bin_id
            cum += r.n_tokens


def test_pack_bins_respects_budget_and_covers_all_docs(spark):
    """FFD packing invariants under the sharded (lang, shard) grouping:
    every doc placed exactly once; no bin's token sum exceeds the budget
    unless it is a singleton oversize doc; groups genuinely bounded
    (every language with enough docs splits into >1 shard); result
    deterministic across runs."""
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.queries import QUERIES
    from kafka_hadoop_consumer_spark.queries.udfs import BIN_BUDGET, N_PACK_SHARDS
    from tests.conftest import SF_DIR

    packed = QUERIES["q_pack_bins"](spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents").select("doc_id").toPandas()
    assert sorted(packed.doc_id) == sorted(docs.doc_id)
    assert packed.shard.between(0, N_PACK_SHARDS - 1).all()
    sums = packed.groupby(["lang", "shard", "bin_id"]).agg(
        total=("n_tokens", "sum"), n=("doc_id", "count")
    )
    over = sums[(sums.total > BIN_BUDGET) & (sums.n > 1)]
    assert over.empty, over
    # the scale guarantee: languages with ≥ 4*N_PACK_SHARDS docs actually
    # spread across multiple shards (no degenerate all-in-one-group hash)
    by_lang = packed.groupby("lang").agg(
        n=("doc_id", "count"), shards=("shard", "nunique")
    )
    big = by_lang[by_lang.n >= 4 * N_PACK_SHARDS]
    assert (big.shards > 1).all(), big
    again = QUERIES["q_pack_bins"](spark, SF_DIR).toPandas()
    a = packed.sort_values("doc_id", ignore_index=True)
    b = again.sort_values("doc_id", ignore_index=True)
    assert a.equals(b)


def test_bpe_matches_pure_python_reference(spark):
    """q_text_bpe must EXACTLY reproduce a from-scratch pure-Python BPE
    trainer (same word-freq table, same greedy leftmost merge, same
    count-desc / pair-lexicographic tie-break) — merge rules, order, and
    counts, at sf0.001."""
    from collections import Counter

    from kafka_hadoop_consumer_spark.queries import QUERIES
    from kafka_hadoop_consumer_spark.queries.text import BPE_MERGES
    from tests.conftest import SF_SMALL

    got = (
        QUERIES["q_text_bpe"](spark, SF_SMALL)
        .toPandas()
        .sort_values("merge_rank", ignore_index=True)
    )

    docs = duckdb.sql(
        f"SELECT text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).df()
    freqs = Counter()
    for text in docs.text:
        for w in text.split(" "):
            if w:
                freqs[w] += 1
    vocab = {tuple(w): f for w, f in freqs.items()}

    def merge_word(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    expected = []
    for rank in range(1, BPE_MERGES + 1):
        pair_counts = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += f
        if not pair_counts:
            break
        (a, b), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((rank, a, b, a + b, cnt))
        vocab = {merge_word(s, a, b): f for s, f in vocab.items()}

    assert len(got) == len(expected)
    for row, (rank, a, b, ab, cnt) in zip(got.itertuples(index=False), expected):
        assert (row.merge_rank, row.pair_a, row.pair_b, row.merged,
                row.pair_count) == (rank, a, b, ab, cnt)


def test_misra_gries_summary_guarantee():
    """Pure-Python gate for the q_text_heavy_hitters building block: the
    batch-merged MG summary must (a) never exceed its counter budget,
    (b) always retain every item with frequency > n/(M+1) — exercised
    with 50k items over 20k distinct values, far past eviction."""
    import numpy as np

    from kafka_hadoop_consumer_spark.queries.text import (
        MG_COUNTERS,
        _mg_summarize,
    )

    rng = np.random.default_rng(7)
    # heavy items: 60 items at ~400 occurrences each; tail: 20k singles
    heavy = np.repeat([f"H{i}" for i in range(60)], 400)
    tail = np.array([f"t{i}" for i in range(20000)])
    stream = np.concatenate([heavy, tail])
    rng.shuffle(stream)
    batches = [
        pd.DataFrame({"gram": stream[i:i + 5000]})
        for i in range(0, len(stream), 5000)
    ]
    (summary,) = list(_mg_summarize(iter(batches)))
    kept = set(summary["gram"])
    assert len(kept) <= MG_COUNTERS
    n = len(stream)
    threshold = n / (MG_COUNTERS + 1)   # 44400/4096 ≈ 10.8 < 400
    for i in range(60):
        assert f"H{i}" in kept, f"heavy item H{i} evicted (freq 400 > {threshold:.1f})"
    # eviction genuinely happened: far fewer survivors than distinct items
    assert len(kept) < 20060


def test_url_canonicalization_idempotent_and_collapsing(spark):
    """canonical_url_expr must be IDEMPOTENT (a canonical URL maps to
    itself) and must collapse all spelling variants of one page to one
    key — over a constructed matrix of scheme-case × host-case × :443 ×
    trailing-slash × utm params × fragment × param order."""
    import itertools

    from kafka_hadoop_consumer_spark.queries.dedup import canonical_url_expr

    rows = []
    for i, (scheme, host, port, slash, utm, frag, order) in enumerate(
        itertools.product(
            ("https", "HTTPS"), ("x.example.com", "X.Example.COM"),
            ("", ":443"), ("", "/"), ("", "utm_source=a&"), ("", "#f"),
            (("a=1", "b=2"), ("b=2", "a=1")),
        )
    ):
        qs = "&".join(order)
        rows.append((i, f"{scheme}://{host}{port}/p/7{slash}?{utm}{qs}{frag}"))
    df = spark.createDataFrame(rows, "i long, url string")
    out = df.select(
        "url",
        canonical_url_expr("url").alias("c1"),
    ).select(
        "url", "c1", canonical_url_expr("c1").alias("c2")
    ).collect()
    canons = {r["c1"] for r in out}
    assert canons == {"https://x.example.com/p/7?a=1&b=2"}, canons
    for r in out:
        assert r["c2"] == r["c1"], (r["url"], r["c1"], r["c2"])


def test_distributed_prefix_equals_reference_window(spark):
    """registry.distributed_prefix (the r4 two-pass global running
    sum/max behind q_win_ntile / q_agg_skyline / q_agg_abc) must equal
    the literal single-partition window it replaces, for every (op,
    frame) combination — including duplicate order-values that straddle
    range-partition boundaries, empty exclusive frames on partition
    heads, and negative values (the max-offset null path)."""
    from pyspark.sql import Window

    from kafka_hadoop_consumer_spark.queries.registry import (
        distributed_prefix,
        release_tracked,
    )

    # 10k rows, heavy duplicate keys (k has ~50 distinct values) so range
    # boundaries are forced to split peer groups; unique id tie-break.
    df = spark.range(10_000).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), F.lit(50))).alias("k"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) - 500).alias("v"),
    )
    order = (F.col("k").asc(), F.col("id").asc())
    for op, incl in (("sum", True), ("sum", False), ("max", True), ("max", False)):
        got = distributed_prefix(
            df, order, "v", op=op, out_col="got", include_current=incl
        ).select("id", "got")
        end = Window.currentRow if incl else -1
        w = (
            Window.orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, end)
        )
        agg = F.sum("v") if op == "sum" else F.max("v")
        want = df.select("id", agg.over(w).alias("want"))
        diff = (
            got.join(want, "id")
            .where(
                ~(
                    (F.col("got") == F.col("want"))
                    | (F.col("got").isNull() & F.col("want").isNull())
                )
            )
            .count()
        )
        assert diff == 0, f"distributed_prefix({op}, include_current={incl})"
        release_tracked()

    # NULL-heavy variant: ~a third of values NULL, and the ENTIRE lowest
    # key range NULL so leading range partitions carry no value at all —
    # the all-null-partition path whose None-accumulator handling was
    # the r7 fix (a null partition must forward its predecessor's prefix
    # unchanged, not reset it).
    dfn = df.select(
        "id",
        "k",
        F.when((F.col("k") <= 2) | (F.col("id") % 3 == 0), F.lit(None))
        .otherwise(F.col("v"))
        .alias("v"),
    )
    for op, incl in (("sum", True), ("sum", False), ("max", True), ("max", False)):
        got = distributed_prefix(
            dfn, order, "v", op=op, out_col="got", include_current=incl
        ).select("id", "got")
        end = Window.currentRow if incl else -1
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, end)
        agg = F.sum("v") if op == "sum" else F.max("v")
        want = dfn.select("id", agg.over(w).alias("want"))
        diff = (
            got.join(want, "id")
            .where(
                ~(
                    (F.col("got") == F.col("want"))
                    | (F.col("got").isNull() & F.col("want").isNull())
                )
            )
            .count()
        )
        assert diff == 0, f"null-heavy distributed_prefix({op}, incl={incl})"
        release_tracked()


def test_round_half_up_matches_engines():
    """similarity._round_half_up must agree with BOTH Spark's F.round
    (BigDecimal HALF_UP on the exact double) and DuckDB's round() —
    the rounding contract every cross-engine-hashed UDF path relies on.
    Sweeps sign, magnitude, and near-tie values."""
    import duckdb

    from kafka_hadoop_consumer_spark.queries.similarity import _round_half_up

    vals = [
        0.2590005, -0.2590005, 0.1234565, -0.1234565, 0.9999995,
        -0.9999995, 1e-07, -1e-07, 0.0, 0.7 - 0.3, 0.1 + 0.2,
        0.30000000000000004, -0.0000005, 0.0000005, 123.4567894999,
    ]
    con = duckdb.connect()
    for v in vals:
        duck = con.execute(
            "SELECT round(CAST(? AS DOUBLE), 6)", [v]
        ).fetchone()[0]
        assert _round_half_up(v, 6) == duck + 0.0, (v, _round_half_up(v, 6), duck)


def test_round_half_up_matches_spark_round(spark):
    from kafka_hadoop_consumer_spark.queries.similarity import _round_half_up

    vals = [0.2590005, -0.1234565, 0.9999995, 0.30000000000000004, 0.1 + 0.2]
    rows = spark.createDataFrame([(v,) for v in vals], "v double").select(
        "v", F.round("v", 6).alias("r")
    ).collect()
    for r in rows:
        assert _round_half_up(r["v"], 6) == r["r"] + 0.0, (r["v"], r["r"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cc_from_edges_matches_union_find(spark, raw_edges):
    """Large-star/small-star CC must agree with a driver-side union-find
    on arbitrary small graphs — the structural edge cases (singleton
    components, chains, already-converged inputs, duplicate edges) the
    fixture oracle can't enumerate. Guards the r8 observe()-fused
    fingerprint refactor: a wrong fixpoint test would surface here as a
    premature or missed convergence."""
    from kafka_hadoop_consumer_spark.queries.graph import cc_from_edges

    edges = sorted({(min(u, v), max(u, v)) for u, v in raw_edges if u != v})
    if not edges:
        return  # cc_from_edges contract: a distinct (u < v) edge frame

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    comp = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    expected = {}
    for members in comp.values():
        root, size = min(members), len(members)
        for m in members:
            expected[m] = (root, size)

    E = spark.createDataFrame(edges, "u long, v long")
    got = {
        r.user_id: (r.component_id, r.component_size)
        for r in cc_from_edges(E, key="prop_cc", max_rounds=40).collect()
    }
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user_id
            st.integers(min_value=0, max_value=5_400_000_000),  # ts µs (0..3 gaps)
        ),
        min_size=1,
        max_size=24,
    )
)
def test_sessionize_matches_pure_python(spark, rows):
    """The shared session model (lag + cumsum over (ts, event_id)) vs a
    pure-Python splitter on adversarial streams: duplicate timestamps
    (tie-broken by event_id), gaps exactly == the threshold (same
    session — the split is strictly-greater), multi-user interleaving.
    Guards the r11 µs-pre-projection and r12 collision-guard edits of
    THE single source five keys derive from."""
    from kafka_hadoop_consumer_spark.queries.timeseries import (
        SESSION_GAP_US,
        sessionize,
    )

    data = [(i, uid, ts) for i, (uid, ts) in enumerate(rows)]
    expected = {}
    by_user: dict[int, list] = {}
    for eid, uid, ts in data:
        by_user.setdefault(uid, []).append((ts, eid))
    for uid, evs in by_user.items():
        sid, prev = 0, None
        for ts, eid in sorted(evs):
            if prev is None or ts - prev > SESSION_GAP_US:
                sid += 1
            expected[eid] = sid
            prev = ts
    e = spark.createDataFrame(
        data, "event_id long, user_id long, ts_us long"
    ).select("event_id", "user_id", F.timestamp_micros("ts_us").alias("ts"))
    got = {
        r.event_id: r.session_id for r in sessionize(e).collect()
    }
    assert got == expected


@SLOW
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)),  # (by, lts)
        min_size=1, max_size=12,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)),  # (by, rts)
        min_size=0, max_size=12,
    ),
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.sampled_from([None, 0, 7, 30]),
    how=st.sampled_from(["inner", "left"]),
)
def test_asof_join_matches_pure_python(spark, left, right, direction, tolerance, how):
    """asof_join vs a pure-Python reference over random integer series:
    duplicate right timestamps (tie-broken by the unique right id —
    DESC for backward, ASC for forward, mirroring the window order),
    zero tolerance, empty right side, unmatched-left handling."""
    from kafka_hadoop_consumer_spark.operators.temporal import asof_join

    lrows = [(i, by, ts) for i, (by, ts) in enumerate(left)]
    rrows = [(i, by, ts) for i, (by, ts) in enumerate(right)]

    expected = {}
    for lid, lby, lts in lrows:
        cands = []
        for rid, rby, rts in rrows:
            if rby != lby:
                continue
            if direction == "backward":
                if rts > lts or (tolerance is not None and rts < lts - tolerance):
                    continue
            else:
                if rts < lts or (tolerance is not None and rts > lts + tolerance):
                    continue
            cands.append((rts, rid))
        if cands:
            if direction == "backward":
                best = max(cands)            # max ts, then max rid (DESC tie)
            else:
                best = min(cands)            # min ts, then min rid (ASC tie)
            expected[lid] = best[1]
        elif how == "left":
            expected[lid] = None
        # inner: unmatched left rows are absent

    ldf = spark.createDataFrame(lrows, "lid long, by long, lts long")
    rdf = spark.createDataFrame(rrows, "rid long, by long, rts long")
    out = asof_join(
        ldf, rdf, by="by", left_ts="lts", right_ts="rts",
        left_key="lid", direction=direction, tolerance=tolerance,
        how=how, tie_break="rid",
    )
    got = {r.lid: r.rid for r in out.collect()}
    assert got == expected


_SPLIT_RUNS = itertools.count()


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    cuts=st.lists(
        st.integers(min_value=1, max_value=999), max_size=4, unique=True
    ),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    per_trigger=st.integers(min_value=1, max_value=5),
)
@example(cuts=[250, 500, 750], seed=0, per_trigger=2)
@example(cuts=[200, 400, 600, 800], seed=1, per_trigger=1)
def test_stream_matches_batch_over_any_split(
    spark, tmp_path, cuts, seed, per_trigger
):
    """Prefix consistency, Structured Streaming's core claim: the events
    land as 1-5 parquet chunks (a seeded shuffle cut at the drawn
    boundaries, so every user's events arrive out of time order) and are
    read maxFilesPerTrigger=per_trigger at a time. window_counts and
    session_counts over that stream must give exactly the rows they give
    over the batch frame. Sums are integer cents, so equality is exact;
    the watermark outlasts the fixture's time span, so no row is late.
    Spark filters late rows by the watermark of two batches back, so
    only a run of 3+ micro-batches can drop any: the second example
    (5 chunks, one per trigger) is the one that catches a session
    watermark shorter than the data's disorder. (A complete-mode window
    aggregate keeps late rows whatever its watermark.)"""
    from kafka_hadoop_consumer_spark.catalog import load_table
    from kafka_hadoop_consumer_spark.streaming.ops import (
        session_counts,
        window_counts,
    )
    from tests.conftest import SF_SMALL

    events = load_table(spark, SF_SMALL, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).alias("cents"),
    )
    run = next(_SPLIT_RUNS)
    landing = str(tmp_path / f"landing{run}")
    rank = F.pmod(F.xxhash64("event_id", F.lit(seed)), F.lit(1000))
    bounds = [0, *sorted(cuts), 1000]
    for lo, hi in zip(bounds, bounds[1:]):
        events.where((rank >= lo) & (rank < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(landing)
    )
    builders = {
        "windows": lambda df: window_counts(
            df, sum_col="cents", watermark="3650 days"
        ),
        "sessions": lambda df: session_counts(df, watermark="3650 days"),
    }
    for shape, build in builders.items():
        name = f"split_{shape}_{run}"
        q = (
            build(stream).writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = Counter(spark.table(name).collect())
        assert got == Counter(build(events).collect()), (shape, cuts, seed)
