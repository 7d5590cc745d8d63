"""Property-based tests (hypothesis): the API algorithms vs brute-force
references on tiny generated inputs — catches edge cases the fixed fixtures
can't (empty groups, all-equal timestamps, single-row sides, ties).

Examples are kept small and bounded so the suite stays fast; each example
builds DataFrames from in-memory rows (no parquet involved).
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, example, given, settings, strategies as st

from pyspark.sql import functions as F

from python_kinesis_streaming_spark import api

BASE = datetime.datetime(2024, 1, 1)

# (key, seconds-offset) event strategies: few keys → collisions guaranteed.
_evt = st.tuples(st.integers(0, 2), st.integers(0, 5000))
_evts = st.lists(_evt, min_size=1, max_size=25)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _ts(off: int) -> datetime.datetime:
    return BASE + datetime.timedelta(seconds=off)


@given(left=_evts, right=_evts)
@_SETTINGS
def test_asof_join_matches_bruteforce(spark, left, right):
    """api.asof_join == per-row max(right_time ≤ left_time) reference."""
    ldf = spark.createDataFrame(
        [(k, _ts(o), i) for i, (k, o) in enumerate(left)], "k long, lt timestamp, lid long"
    )
    rdf = spark.createDataFrame(
        [(k, _ts(o)) for k, o in right], "k long, rt timestamp"
    )
    got = {
        (r.lid, r.asof_rt)
        for r in api.asof_join(ldf, rdf, on="k", left_time="lt", right_time="rt").collect()
    }
    expected = set()
    for i, (k, o) in enumerate(left):
        cands = [ro for rk, ro in right if rk == k and ro <= o]
        expected.add((i, _ts(max(cands)) if cands else None))
    assert got == expected


@given(evts=_evts, gap=st.integers(1, 600))
@_SETTINGS
def test_sessionize_matches_bruteforce(spark, evts, gap):
    """api.sessionize session count + sizes == sorted-scan reference."""
    df = spark.createDataFrame(
        [(k, _ts(o)) for k, o in evts], "k long, ts timestamp"
    )
    got = sorted(
        (r.k, r.session_start, r.n_events)
        for r in api.sessionize(df, key="k", ts="ts", gap_seconds=gap).collect()
    )
    expected = []
    for k in {k for k, _ in evts}:
        offs = sorted(o for kk, o in evts if kk == k)
        start, n, prev = offs[0], 0, None
        for o in offs:
            if prev is not None and o - prev > gap:
                expected.append((k, _ts(start), n))
                start, n = o, 0
            n += 1
            prev = o
        expected.append((k, _ts(start), n))
    assert got == sorted(expected)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=1, max_size=20
    )
)
@_SETTINGS
def test_dedup_exact_property(spark, rows):
    """dedup keeps exactly one row per distinct content; idempotent."""
    df = spark.createDataFrame([(a, b) for a, b in rows], "a long, b long")
    out = api.dedup_exact(df, ["a", "b"])
    assert out.count() == len(set(rows))
    assert api.dedup_exact(out, ["a", "b"]).count() == len(set(rows))
    assert {(r.a, r.b) for r in out.collect()} == set(rows)


@given(
    vecs=st.lists(
        st.lists(st.floats(-1, 1, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=2,
        max_size=12,
    )
)
@example(vecs=[[0.5, -0.25, 0.0, 1.0], [0.0] * 4, [1.0, 0.5, 0.0, -1.0]])
@example(vecs=[[0.0] * 4, [1.0, 0.5, 0.0, -1.0], [0.0] * 4])
@_SETTINGS
def test_knn_matches_numpy(spark, vecs):
    """api.knn_cosine ranking == numpy cosine ranking (modulo exact ties);
    a pair with a zero vector (norm product 0) scores 0.0."""
    import numpy as np

    a = np.array(vecs, dtype=np.float64)
    norms = np.linalg.norm(a, axis=1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs[1:], start=1)],
        "vid long, v array<float>",
    )
    got = api.knn_cosine(df, "v", vecs[0], k=len(vecs)).collect()
    sims = {r.vid: r.sim for r in got}
    nprod = norms[1:] * norms[0]
    ref = np.divide(a[1:] @ a[0], nprod, out=np.zeros_like(nprod), where=nprod != 0)
    for i, expected in enumerate(ref, start=1):
        # float32 storage on the Spark side vs float64 numpy: tolerance.
        assert abs(sims[i] - expected) < 1e-5


@given(iv=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(1, 100)),
                   min_size=1, max_size=25))
@_SETTINGS
def test_merge_intervals_matches_bruteforce(spark, iv):
    """api.merge_intervals == sorted-sweep reference: islands are disjoint,
    cover every input, and match the classic merge algorithm exactly."""
    rows = [(k, s, s + d) for k, s, d in iv]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    got = sorted(
        (r.k, r.island_start, r.island_end, r.n_source_rows)
        for r in api.merge_intervals(df, key="k", start="s", end="e").collect()
    )
    expected = []
    for k in {k for k, _, _ in rows}:
        spans = sorted(((s, e) for kk, s, e in rows if kk == k))
        cur_s, cur_e, n = spans[0][0], spans[0][1], 1
        for s, e in spans[1:]:
            if s > cur_e:
                expected.append((k, cur_s, cur_e, n))
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        expected.append((k, cur_s, cur_e, n))
    assert got == sorted(expected)


@given(evts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 5000),
                               st.integers(0, 2)), min_size=1, max_size=25, unique=True))
@_SETTINGS
def test_scd2_matches_bruteforce(spark, evts):
    """api.scd2 == sorted-scan reference: one row per state change, validity
    intervals chain without gaps, exactly one is_current per key."""
    rows = [(k, _ts(o), i, f"s{sv}") for i, (k, o, sv) in enumerate(evts)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, oid long, st string")
    out = api.scd2(df, key="k", state="st", ts="ts", order_col="oid").collect()
    got = sorted((r.k, r.state, r.valid_from, r.valid_to, r.is_current) for r in out)
    expected = []
    for k in {k for k, *_ in rows}:
        seq = sorted(((ts, oid, stv) for kk, ts, oid, stv in rows if kk == k),
                     key=lambda t: (t[0], t[1]))
        changes = [x for i, x in enumerate(seq)
                   if i == 0 or x[2] != seq[i - 1][2]]
        for i, (ts, oid, stv) in enumerate(changes):
            nxt = changes[i + 1][0] if i + 1 < len(changes) else None
            expected.append((k, stv, ts, nxt, nxt is None))
    assert got == sorted(expected)
    # exactly one current row per key
    per_key = {}
    for r in out:
        per_key[r.k] = per_key.get(r.k, 0) + (1 if r.is_current else 0)
    assert all(v == 1 for v in per_key.values())


@given(
    tgt=st.lists(st.tuples(st.integers(0, 9), st.integers(-100, 100)),
                 min_size=1, max_size=12, unique_by=lambda t: t[0]),
    src=st.lists(st.tuples(st.integers(0, 14), st.integers(-100, 100)),
                 min_size=0, max_size=12, unique_by=lambda t: t[0]),
    thresh=st.integers(-50, 50),
)
@_SETTINGS
def test_merge_upsert_matches_bruteforce(spark, tgt, src, thresh):
    """api.merge_upsert == dict-based MERGE reference on random snapshots."""
    t = spark.createDataFrame(tgt, "key long, bal long")
    s = spark.createDataFrame(src or [(999, 0)], "key long, delta long")
    if not src:
        s = s.where(F.lit(False))
    out = {
        r["key"]: (r["action"], r["bal"])
        for r in api.merge_upsert(
            t, s, "key", "bal", "delta",
            delete_cond=F.col("delta") >= thresh,
        ).collect()
    }
    td, sd = dict(tgt), dict(src)
    expected = {}
    for k, v in td.items():
        if k not in sd:
            expected[k] = ("keep", v)
        elif sd[k] >= thresh:
            continue  # deleted
        else:
            expected[k] = ("update", v + sd[k])
    for k, d in sd.items():
        if k not in td:
            # the delete condition only guards WHEN MATCHED; unmatched
            # source rows always insert.
            expected[k] = ("insert", d)
    assert out == expected


@given(xs=st.lists(st.floats(-100, 100, allow_nan=False, width=32),
                   min_size=1, max_size=20))
@_SETTINGS
def test_holt_smooth_matches_python_fold(spark, xs):
    """api.holt_smooth == the sequential Python recursion, bit-for-bit."""
    rows = [(0, i, float(x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    got = api.holt_smooth(df, "k", "t", "v").collect()[0]
    l, b = float(rows[0][2]), 0.0
    for _, _, x in rows[1:]:
        nl = 0.6 * x + 0.4 * (l + b)
        b = 0.3 * (nl - l) + 0.7 * b
        l = nl
    assert got["n_events"] == len(xs)
    assert got["level"] == l, (got["level"], l)
    assert got["trend"] == b, (got["trend"], b)


@given(keys=st.lists(st.integers(0, 10000), min_size=1, max_size=40,
                     unique=True),
       probes=st.lists(st.integers(0, 10000), min_size=1, max_size=60))
@_SETTINGS
def test_bloom_prefilter_never_false_negative(spark, keys, probes):
    """Every probe whose key IS in the key set must pass the bloom."""
    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(probes)], "rid long, p long"
    )
    passed = {
        r["rid"] for r in api.bloom_prefilter(pdf, "p", kdf, "k").collect()
    }
    member = {i for i, p in enumerate(probes) if p in set(keys)}
    assert member <= passed, member - passed


def test_velocity_horizons_are_nested(spark, sf_dir):
    """Trailing counts must be monotone in the horizon: 1h <= 6h <= 24h."""
    from python_kinesis_streaming_spark.registry import all_queries

    df = all_queries()["feat_velocity_multi_horizon"](spark, sf_dir)
    bad = df.where(
        (df.n_1h > df.n_6h) | (df.n_6h > df.n_24h) | (df.n_1h < 1)
    ).count()
    assert bad == 0


def test_markov_accuracy_bounded(spark, sf_dir):
    from python_kinesis_streaming_spark.registry import all_queries

    rows = all_queries()["events_markov_accuracy"](spark, sf_dir).collect()
    assert rows, "model must cover every prev_type present in test"
    for r in rows:
        assert 0.0 <= r.accuracy <= 1.0
        assert r.n_correct <= r.n_test


def test_knn_graph_edges_are_mutual_and_canonical(spark, sf_dir):
    """Every edge appears once, vec_a < vec_b, within a single label."""
    from python_kinesis_streaming_spark.registry import all_queries

    rows = all_queries()["emb_knn_graph"](spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert (r.vec_a, r.vec_b) not in seen
        seen.add((r.vec_a, r.vec_b))
        assert -1.0001 <= r.sim <= 1.0001


def test_dedup_eval_recall_is_high(spark, sf_dir):
    """16-perm/8-band LSH must recover nearly all injected near-dups —
    the recall floor that makes the banding parameters defensible."""
    from python_kinesis_streaming_spark.registry import all_queries

    row = all_queries()["dedup_eval_precision_recall"](spark, sf_dir).collect()[0]
    assert row.recall_ >= 0.9, row
    assert 0.0 <= row.precision_ <= 1.0


def test_lifecycle_states_partition_weekly_actives(spark, sf_dir):
    """Per week, sum of state counts == distinct active users that week;
    week 0 must be all 'new'."""
    from pyspark.sql import functions as F

    from python_kinesis_streaming_spark.registry import all_queries
    from python_kinesis_streaming_spark.sources.tables import load_table

    df = all_queries()["events_user_lifecycle_states"](spark, sf_dir)
    per_wk = {
        r.wk: r.total
        for r in df.groupBy("wk").agg(F.sum("n_users").alias("total")).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    actual = {
        r.wk: r.n
        for r in ev.select(
            F.floor(
                F.datediff(
                    F.date_trunc("day", "ts"),
                    F.lit("2024-01-01").cast("timestamp"),
                )
                / 7
            ).cast("int").alias("wk"),
            "user_id",
        )
        .distinct()
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_wk == actual
    wk0_states = {r.state for r in df.where(df.wk == 0).collect()}
    assert wk0_states == {"new"}


def test_rounding_helper_cross_engine_parity(spark):
    """Property: rnd (Spark) and sql_rnd (DuckDB) agree bit-for-bit on a
    hypothesis-generated float panel — the foundation every hash-matched
    float column rests on."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from pyspark.sql import functions as F

    from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd

    con = duckdb.connect()

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=20,
        ),
        st.integers(min_value=0, max_value=6),
    )
    def check(xs, scale):
        sdf = spark.createDataFrame([(x,) for x in xs], "x double")
        got = [r.r for r in sdf.select(rnd(F.col("x"), scale).alias("r")).collect()]
        expr = sql_rnd("x", scale)
        want = [
            con.execute(f"SELECT {expr} FROM (SELECT ? AS x)", [x]).fetchone()[0]
            for x in xs
        ]
        assert got == want, (xs, scale, got, want)

    check()
