"""The benchmark workloads.

Each workload is a function ``(bench) -> Outcome``. ``bench`` carries the
parsed arguments, the generated fixture directories, the Spark session
factory and the tracing state (see ``run.py``). A workload sets up the
system several times (``setup_s`` is their median), checks the outputs it
gets against DuckDB or against the generated input, measures for
``bench.seconds`` and returns its end-to-end metrics plus, when traced, its
per-layer metrics.
"""

from __future__ import annotations

import base64
import json
import math
import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import checks
import headline
import tracing as tr

#: set-ups per run; setup_s is their median
SETUP_REPS = 3


@dataclass
class Outcome:
    metrics: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    failures: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)


def quantile(values, q: float) -> float:
    """Inclusive-method quantile (``q`` in (0, 1)); the value itself for n=1."""
    values = sorted(values)
    if len(values) == 1:
        return float(values[0])
    return float(statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1])


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def _median_setup(bench, setup_once) -> tuple[object, object, float, dict]:
    """Run the workload's set-up SETUP_REPS times, each from an empty
    scratch dir, and keep the last one. ``setup_once`` fills the timed parts
    it knows and returns (state, close function).

    Peak memory is counted from the end of the last set-up: workers of a
    stopped context may still be exiting while the next one starts.

    Returns (state, close, median seconds, median of each set-up part)."""
    totals, parts_by_rep, state, close = [], [], None, None
    for rep in range(SETUP_REPS):
        if close is not None:
            close()
        bench.clear_scratch()
        parts: dict[str, float] = {}
        t0 = time.perf_counter()
        with bench.spans.span("setup", rep=rep):
            state, close = setup_once(parts)
        totals.append(time.perf_counter() - t0)
        parts_by_rep.append(parts)
    keys = {k for p in parts_by_rep for k in p}
    medians = {k: statistics.median(p[k] for p in parts_by_rep if k in p) for k in keys}
    bench.mem.reset()
    return state, close, statistics.median(totals), medians


def _session(bench, parts: dict):
    t = time.perf_counter()
    spark = bench.new_session()
    parts["setup.session_s"] = time.perf_counter() - t
    return spark


# --------------------------------------------------------------------------
# closed loops over prepared or rebuilt ops


@dataclass
class Call:
    op: str
    traced: bool
    ms: float
    rows: int  # input rows the call processed, where the workload counts them
    layers: dict[str, float]


def _closed_loop(bench, names, run_call, min_rounds=1) -> tuple[list[Call], float]:
    """One client: every round runs each op once, in a seed-permuted order,
    until ``bench.seconds`` have passed and at least ``min_rounds`` rounds
    (twice that when traced) are done. With tracing on, every other round
    is traced, so the traced and untraced calls of one run give the tracing
    overhead. Returns the calls and the measured wall time in seconds."""
    rng = random.Random(bench.seed)
    calls: list[Call] = []
    t_start = time.perf_counter()
    deadline = t_start + bench.seconds
    rnd = 0
    min_rounds *= 2 if bench.trace else 1
    while time.perf_counter() < deadline or rnd < min_rounds:
        order = list(names)
        rng.shuffle(order)
        traced = bench.trace and rnd % 2 == 1
        for name in order:
            calls.append(run_call(name, rnd, traced))
        rnd += 1
    return calls, time.perf_counter() - t_start


def _latency_metrics(calls: list[Call], names) -> dict[str, float]:
    untraced = [c for c in calls if not c.traced]
    per_op = {n: [c.ms for c in untraced if c.op == n] for n in names}
    return {
        "latency_p50_ms": geomean(statistics.median(v) for v in per_op.values()),
        "latency_tail_ms": quantile([c.ms for c in untraced], 0.9),
    }


def _layer_rollup(calls: list[Call], names) -> dict[str, float]:
    """Per-layer value per round: for each op the median over its traced
    calls, summed over the ops of a round."""
    traced = [c for c in calls if c.traced]
    out: dict[str, float] = {}
    for n in names:
        mine = [c.layers for c in traced if c.op == n]
        if not mine:
            continue
        for k in {k for m in mine for k in m}:
            out[k] = out.get(k, 0.0) + statistics.median(m.get(k, 0.0) for m in mine)
    return out


def _overhead_pct(calls: list[Call], names) -> float:
    """Gap between the traced and untraced calls of one run, in percent of
    the untraced geomean of per-op medians."""
    def p50(sel):
        return geomean(statistics.median([c.ms for c in sel if c.op == n]) for n in names)

    traced = [c for c in calls if c.traced]
    untraced = [c for c in calls if not c.traced]
    if not traced or not untraced:
        return 0.0
    return (p50(traced) / p50(untraced) - 1.0) * 100.0


class _CallTracer:
    """Wraps one op call with spans and Spark counters when it is traced."""

    def __init__(self, bench, spark) -> None:
        self.bench = bench
        self.counters = tr.SparkCounters(spark) if bench.trace else None
        self.progress: list[dict] = []
        self._planned: dict[int, object] = {}
        if bench.trace:
            tr.progress_listener(spark, self.progress)

    def mark_planned(self, dfs) -> None:
        """DataFrames planned before the loop: their calls plan nothing."""
        for df in dfs:
            self._planned[id(df)] = df

    def run(self, name: str, rnd: int, traced: bool, build, collect) -> tuple[float, object, dict]:
        """``build()`` returns a DataFrame, ``collect(df)`` a pandas frame.
        Returns (call ms, pandas result, layer values)."""
        layers: dict[str, float] = {}
        if traced:
            self.counters.drain_jobs()  # drop jobs of the untraced work before
            n_progress = len(self.progress)
        t0 = time.perf_counter()
        wall0 = time.time() * 1000.0
        with self.bench.spans.span("call", op=name, round=rnd, traced=traced):
            with self.bench.spans.span("registry.build", op=name):
                df = build()
            t1 = time.perf_counter()
            with self.bench.spans.span("collect", op=name):
                pdf = collect(df)
        t2 = time.perf_counter()
        wall1 = time.time() * 1000.0
        if traced:
            jobs = self.counters.drain_jobs()
            intervals = jobs.pop("job_intervals")
            layers.update(jobs)
            if id(df) not in self._planned:
                self._planned[id(df)] = df
                layers.update(tr.SparkCounters.phases(df))
            layers["registry.build_ms"] = (t1 - t0) * 1000.0
            layers["driver.outside_job_ms"] = tr.outside_job_ms(wall0, wall1, intervals)
            # drain_jobs waited for the listener bus, so this call's
            # progress events have all been delivered
            layers.update(_stream_layers(self.progress[n_progress:], per_call=True))
        return (t2 - t0) * 1000.0, pdf, layers


def _stream_layers(events: list[dict], per_call: bool) -> dict[str, float]:
    """Micro-batch metrics from listener events: batch count (per call) and
    medians over batches of durations, input rows and state sizes."""
    out = {"stream.batches": float(len(events))} if per_call else {}
    if not events:
        return out

    def med(key_fn, sel=events):
        vals = [key_fn(e) for e in sel]
        return float(statistics.median(vals)) if vals else 0.0

    for name, key in [("trigger", "triggerExecution"), ("latest_offset", "latestOffset"),
                      ("get_batch", "getBatch"), ("query_planning", "queryPlanning"),
                      ("add_batch", "addBatch"), ("wal_commit", "walCommit")]:
        out[f"stream.{name}_ms"] = med(lambda e, k=key: e["duration"].get(k, 0))
    out["stream.input_rows"] = med(lambda e: e["rows"])
    stateful = [e for e in events if e["has_state"]]
    if stateful:
        out["state.rows_total"] = med(lambda e: e["state_rows"], stateful)
        out["state.memory_bytes"] = med(lambda e: e["state_bytes"], stateful)
        out["state.commit_ms"] = med(lambda e: e["state_commit_ms"], stateful)
        out["state.partitions"] = med(lambda e: e["state_partitions"], stateful)
    return out


def _check_call(ref: dict, name: str, pdf, failures: list[str]) -> None:
    got = checks.result_hash(pdf)
    if got != ref[name]:
        failures.append(f"{name}: result {got} differs from first result {ref[name]}")


# --------------------------------------------------------------------------
# batch_headline


def batch_headline(bench) -> Outcome:
    from python_kinesis_streaming_spark.registry import all_oracles, all_queries
    from python_kinesis_streaming_spark.sources.tables import load_table

    sf_dir = bench.sf_dir("batch")
    reg, oracles = all_queries(), all_oracles()

    def setup_once(parts):
        spark = _session(bench, parts)
        t = time.perf_counter()
        tables = {}
        for name in ["lineitem", "orders", "customer", "supplier", "nation",
                     "region", "events", "documents", "embeddings"]:
            tables[name] = load_table(spark, sf_dir, name)
            tables[name].count()
        parts["setup.tables_s"] = time.perf_counter() - t
        return (spark, tables), spark.stop

    (spark, tables), close, setup_s, setup_parts = _median_setup(bench, setup_once)

    # Prepared DataFrames, as bench.py builds them: analysis and planning
    # happen once, timed calls measure execution and result transfer.
    t = time.perf_counter()
    dfs = {q: reg[op](spark, sf_dir) for q, op in headline.REGISTRY_QUERIES.items()}
    dfs.update(headline.inline_queries(tables))
    build_ms = (time.perf_counter() - t) * 1000.0
    names = list(dfs)

    # Correctness: each query's first result against DuckDB on the same
    # parquet, then every later call against that first result.
    con = checks.duckdb_connection(sf_dir, threads=4)
    sql = {q: oracles[op] for q, op in headline.REGISTRY_QUERIES.items()}
    sql.update(headline.INLINE_SQL)
    failures: list[str] = []
    ref = {}
    t = time.perf_counter()
    for name in names:
        pdf = dfs[name].toPandas()
        why = checks.same_result(pdf, con.execute(sql[name]).fetchdf())
        if why:
            failures.append(f"{name}: differs from DuckDB: {why}")
        ref[name] = checks.result_hash(pdf)
    for _ in range(2):  # two more warm rounds: code generation and JIT
        for name in names:
            dfs[name].toPandas()
    warmup_s = time.perf_counter() - t

    tracer = _CallTracer(bench, spark)
    tracer.mark_planned(dfs.values())

    def run_call(name, rnd, traced):
        ms, pdf, layers = tracer.run(name, rnd, traced, lambda: dfs[name], lambda df: df.toPandas())
        _check_call(ref, name, pdf, failures)
        return Call(name, traced, ms, 0, layers)

    calls, wall = _closed_loop(bench, names, run_call)
    untraced = [c for c in calls if not c.traced]
    metrics = {
        "setup_s": setup_s,
        **_latency_metrics(calls, names),
        "throughput_per_s": len(untraced) / sum(c.ms / 1000.0 for c in untraced),
    }
    layers = {}
    duck = {}
    if bench.trace:
        layers = _layer_rollup(calls, names)
        layers["trace.overhead_pct"] = _overhead_pct(calls, names)
        for name in names:  # same-host reference: DuckDB, 4 threads, warm
            con.execute(sql[name]).fetchall()
            samples = []
            for _ in range(5):
                t = time.perf_counter()
                con.execute(sql[name]).fetchall()
                samples.append((time.perf_counter() - t) * 1000.0)
            duck[name] = statistics.median(samples)
        layers["duckdb.query_p50_ms"] = geomean(duck.values())
    layers.update(setup_parts)
    layers["setup.warmup_s"] = warmup_s
    layers["registry.prepare_ms"] = build_ms
    con.close()
    report = {
        "per_query": {
            n: {"p50_ms": statistics.median(c.ms for c in untraced if c.op == n),
                "calls": sum(1 for c in untraced if c.op == n),
                **({"duckdb_p50_ms": duck[n]} if duck else {})}
            for n in names
        },
        "tail": "p90 of all untraced calls pooled",
        "tail_samples": len(untraced),
        "measured_s": wall,
    }
    close()
    return Outcome(metrics, layers, attempted=len(calls) + len(names),
                   failed=len(failures), failures=failures, report=report)


# --------------------------------------------------------------------------
# stream_replay

#: registry streaming ops that keep state across the 4-chunk replay, with
#: how many times each reads the whole events table per call
STREAM_OPS = {
    "stream_stateful_sessionizer": 1,
    "stream_idempotent_sink": 2,  # replays twice to prove its idempotence
}


def stream_replay(bench) -> Outcome:
    from python_kinesis_streaming_spark.registry import all_oracles, all_queries
    from python_kinesis_streaming_spark.sources.tables import load_table
    from python_kinesis_streaming_spark.streaming.replay import ensure_chunks

    sf_dir = bench.sf_dir("stream")
    reg, oracles = all_queries(), all_oracles()
    names = list(STREAM_OPS)

    def setup_once(parts):
        spark = _session(bench, parts)
        t = time.perf_counter()
        n_events = load_table(spark, sf_dir, "events").count()
        parts["setup.tables_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ensure_chunks(spark, sf_dir)
        parts["setup.replay_chunks_s"] = time.perf_counter() - t
        return (spark, n_events), spark.stop

    (spark, n_events), close, setup_s, setup_parts = _median_setup(bench, setup_once)

    con = checks.duckdb_connection(sf_dir, threads=4)
    failures: list[str] = []
    ref = {}
    t = time.perf_counter()
    for name in names:  # warm-up round, checked against the DuckDB oracle
        pdf = reg[name](spark, sf_dir).toPandas()
        why = checks.same_result(pdf, con.execute(oracles[name]).fetchdf())
        if why:
            failures.append(f"{name}: differs from DuckDB: {why}")
        ref[name] = checks.result_hash(pdf)
    warmup_s = time.perf_counter() - t
    con.close()

    tracer = _CallTracer(bench, spark)

    def run_call(name, rnd, traced):
        ms, pdf, layers = tracer.run(
            name, rnd, traced, lambda: reg[name](spark, sf_dir), lambda df: df.toPandas()
        )
        _check_call(ref, name, pdf, failures)
        return Call(name, traced, ms, n_events * STREAM_OPS[name], layers)

    # each op call takes seconds: at least two calls of every op
    calls, wall = _closed_loop(bench, names, run_call, min_rounds=2)
    untraced = [c for c in calls if not c.traced]
    metrics = {
        "setup_s": setup_s,
        **_latency_metrics(calls, names),
        "throughput_per_s": sum(c.rows for c in untraced) / sum(c.ms / 1000.0 for c in untraced),
    }
    layers = {}
    if bench.trace:
        layers = _layer_rollup(calls, names)
        # durations and state sizes are per micro-batch: take their median
        # over all traced batches instead of a per-round sum
        layers.update(_stream_layers(tracer.progress, per_call=False))
        layers["trace.overhead_pct"] = _overhead_pct(calls, names)
    layers.update(setup_parts)
    layers["setup.warmup_s"] = warmup_s
    report = {
        "per_op": {
            n: {"p50_ms": statistics.median(c.ms for c in untraced if c.op == n),
                "calls": sum(1 for c in untraced if c.op == n)}
            for n in names
        },
        "events": n_events,
        "tail": "p90 of all untraced calls pooled",
        "tail_samples": len(untraced),
        "measured_s": wall,
    }
    close()
    return Outcome(metrics, layers, attempted=len(calls) + len(names),
                   failed=len(failures), failures=failures, report=report)


# --------------------------------------------------------------------------
# kinesis_ingest

SHARDS = 4
#: open-loop generator rate (records/s) and tick; about half the drain
#: capacity measured on a 4-core host, so the pipeline keeps up
RATE = 2000
TICK_S = 0.02
#: open-loop seconds before the measured window
WARM_IN_S = 2.0
#: records pre-loaded for the drain phase
BACKLOG = 100000
#: records pushed through the pipeline to finish its set-up
WARM = 500
PAYLOAD_SCHEMA = "id long, t double, pk string, user_id long, event_type string, value double"


class _MockProbe:
    """Counts, and when traced times, every action the mock service
    dispatches; also counts records that reach each stream."""

    def __init__(self, service, timed: bool) -> None:
        self.timed = timed
        self.calls: dict[str, int] = {}
        self.ms: dict[str, float] = {}
        self.put_into: dict[str, int] = {}
        self.put_calls: dict[str, int] = {}
        self.gets = 0
        self.got = 0
        self.empty_gets = 0
        self.first_read_at: float | None = None  # of a GetRecords with data
        self._lock = threading.Lock()
        inner = service.dispatch

        def dispatch(target, body):
            action = target.split(".", 1)[-1]
            t = time.perf_counter()
            resp = inner(target, body)
            dt = (time.perf_counter() - t) * 1000.0
            with self._lock:
                self.calls[action] = self.calls.get(action, 0) + 1
                if self.timed:
                    self.ms[action] = self.ms.get(action, 0.0) + dt
                if action == "PutRecords":
                    ok = len(body["Records"]) - resp["FailedRecordCount"]
                    stream = body["StreamName"]
                    self.put_into[stream] = self.put_into.get(stream, 0) + ok
                    self.put_calls[stream] = self.put_calls.get(stream, 0) + 1
                elif action == "GetRecords":
                    self.gets += 1
                    self.got += len(resp["Records"])
                    self.empty_gets += not resp["Records"]
                    if resp["Records"] and self.first_read_at is None:
                        self.first_read_at = time.time() - dt / 1000.0
            return resp

        service.dispatch = dispatch

    def delivered(self, stream: str) -> int:
        with self._lock:
            return self.put_into.get(stream, 0)

    def snapshot(self) -> dict:
        with self._lock:
            return {"calls": dict(self.calls), "ms": dict(self.ms), "gets": self.gets,
                    "sink_puts": self.put_calls.get("out", 0),
                    "got": self.got, "empty_gets": self.empty_gets}


def _put(service, stream: str, entries: list[dict]) -> None:
    for i in range(0, len(entries), 500):
        resp = service.dispatch("Kinesis_20131202.PutRecords",
                                {"StreamName": stream, "Records": entries[i:i + 500]})
        if resp["FailedRecordCount"]:
            raise RuntimeError(f"mock rejected {resp['FailedRecordCount']} generator records")


def _entry(row: dict, rec_id: int, t: float) -> dict:
    payload = {"id": rec_id, "t": t, "pk": row["pk"], "user_id": row["user_id"],
               "event_type": row["event_type"], "value": row["value"]}
    return {"PartitionKey": row["pk"],
            "Data": base64.b64encode(json.dumps(payload).encode()).decode()}


def _read_stream(endpoint: str, stream: str) -> list[dict]:
    """Every record of ``stream``, through the package's Kinesis client."""
    from python_kinesis_streaming_spark.sources.kinesis_consumer import KinesisClient

    client = KinesisClient(endpoint)
    out = []
    for shard in client.list_shard_ids(stream):
        it = client.get_shard_iterator(stream, shard, "TRIM_HORIZON")
        while it:
            resp = client.get_records(it, limit=10000)
            out.extend(resp["Records"])
            if not resp["Records"]:
                break
            it = resp.get("NextShardIterator")
    return out


def _decoded(records: list[dict]) -> list[tuple[int, float, float]]:
    """(id, creation stamp, arrival) per output record."""
    out = []
    for r in records:
        d = json.loads(base64.b64decode(r["Data"]))
        out.append((int(d["id"]), float(d["t"]), float(r["ApproximateArrivalTimestamp"])))
    return out


def _exactly_once(name: str, expected_ids, got: list[tuple], failures: list[str]) -> int:
    """Checks every id arrived once; returns the number of checked ids."""
    seen: dict[int, int] = {}
    for rec_id, _, _ in got:
        seen[rec_id] = seen.get(rec_id, 0) + 1
    expected = set(expected_ids)
    missing = len(expected - seen.keys())
    dup = sum(1 for k, v in seen.items() if v > 1)
    extra = len(seen.keys() - expected)
    for what, n in (("missing", missing), ("duplicated", dup), ("unexpected", extra)):
        if n:
            failures.append(f"{name}: {n} event ids {what} in the output stream")
    return len(expected)


def _wait_for(probe: _MockProbe, stream: str, n: int, timeout_s: float) -> float:
    """Polls until ``n`` records reached ``stream``; returns the wall time."""
    deadline = time.time() + timeout_s
    while probe.delivered(stream) < n:
        if time.time() > deadline:
            raise TimeoutError(f"{stream}: {probe.delivered(stream)} of {n} records after {timeout_s}s")
        time.sleep(0.005)
    return time.time()


def _start_pipeline(spark, url: str, src: str, dst: str, ckpt: str):
    """read_kinesis_stream -> from_json -> project -> foreach_batch_writer."""
    from pyspark.sql import functions as F

    from python_kinesis_streaming_spark.sources.kinesis_sink import foreach_batch_writer
    from python_kinesis_streaming_spark.sources.kinesis_stream_source import read_kinesis_stream

    parsed = read_kinesis_stream(spark, url, src).select(
        F.from_json(F.col("data").cast("string"), PAYLOAD_SCHEMA).alias("e")
    ).select("e.*")
    out = parsed.select(
        F.col("pk").alias("partition_key"),
        F.to_json(F.struct("id", "t", "user_id", "event_type",
                           F.round("value", 1).alias("value"))).alias("data"),
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    return out.writeStream.foreachBatch(foreach_batch_writer(url, dst)).option(
        "checkpointLocation", ckpt).start()


def kinesis_ingest(bench) -> Outcome:
    import pyarrow.parquet as pq

    from python_kinesis_streaming_spark.sources.kinesis_mock import MockKinesisServer

    rate = RATE if not bench.smoke else 200
    backlog = BACKLOG if not bench.smoke else 2000
    events = pq.read_table(os.path.join(bench.sf_dir("stream"), "events.parquet"),
                           columns=["user_id", "event_type", "value"]).to_pylist()
    rng = random.Random(bench.seed)
    rng.shuffle(events)  # the seed picks the payload rows and their keys
    for row in events:
        row["pk"] = f"pk-{rng.randrange(1 << 30):08x}"
    next_id = 0

    def rows(n: int):
        nonlocal next_id
        for _ in range(n):
            yield events[next_id % len(events)], next_id
            next_id += 1

    ckpt = os.path.join(bench.work, "ckpt")

    sessions: list = []

    def setup_once(parts):
        """Ready to ingest: mock streams, the pipeline started and a first
        tranche of WARM records through it. The Spark session is built by
        the first set-up and kept: restarting it would only add the Python
        workers' start-up, which the first set-up already measures."""
        if not sessions:
            sessions.append(_session(bench, parts))
        spark = sessions[0]
        t = time.perf_counter()
        server = MockKinesisServer().__enter__()
        probe = _MockProbe(server.service, timed=False)
        for stream in ("in", "out", "backlog", "drained", "backlog2", "drained2"):
            server.service.dispatch("Kinesis_20131202.CreateStream",
                                    {"StreamName": stream, "ShardCount": SHARDS})
        parts["setup.stream_s"] = time.perf_counter() - t
        t = time.perf_counter()
        first = next_id
        q = _start_pipeline(spark, server.endpoint_url, "in", "out", os.path.join(ckpt, "in"))
        _put(server.service, "in", [_entry(r, i, time.time()) for r, i in rows(WARM)])
        _wait_for(probe, "out", WARM, 120)
        parts["setup.pipeline_s"] = time.perf_counter() - t

        def close():
            q.stop()
            server.__exit__(None, None, None)

        return (spark, server, probe, q, first), close

    (spark, server, probe, q, first_id), close, setup_s, setup_parts = _median_setup(
        bench, setup_once)
    url = server.endpoint_url
    probe.timed = bench.trace
    progress: list[dict] = []
    counters = None
    if bench.trace:
        tr.progress_listener(spark, progress)
        counters = tr.SparkCounters(spark)
    failures: list[str] = []
    attempted = 0

    # Open loop: records are due every TICK_S at a fixed rate, stamped with
    # their due time, whatever the pipeline does. The first WARM_IN_S bring
    # the pipeline to its steady state; the next bench.seconds are measured.
    warm_ticks = int(WARM_IN_S / TICK_S)
    n_ticks = warm_ticks + max(1, int(bench.seconds / TICK_S))
    per_tick = rate * TICK_S
    measured_ids: list[int] = []
    late_ms_max = 0.0
    backlog_samples: list[tuple[float, int]] = []
    sent = WARM
    t0 = time.time()
    for k in range(n_ticks):
        if k == warm_ticks:
            mock_before = probe.snapshot()
            batches_before = len(progress)
            if counters:
                counters.drain_jobs()
            t_measure = time.time()
        due = t0 + k * TICK_S
        now = time.time()
        if now < due:
            time.sleep(due - now)
            now = time.time()
        n = int((k + 1) * per_tick) - int(k * per_tick)
        batch = []
        for r, i in rows(n):
            batch.append(_entry(r, i, due))
            if k >= warm_ticks:
                measured_ids.append(i)
        _put(server.service, "in", batch)
        sent += n
        if k >= warm_ticks:
            late_ms_max = max(late_ms_max, (now - due) * 1000.0)
            if k % 5 == 0:
                backlog_samples.append((now - t_measure, sent - probe.delivered("out")))
    _wait_for(probe, "out", sent, 60)
    open_s = time.time() - t_measure
    mock_open = probe.snapshot()
    batches_open = progress[batches_before:]
    jobs_open = counters.drain_jobs() if counters else None

    q.stop()

    out_recs = _decoded(_read_stream(url, "out"))
    attempted += _exactly_once("open loop", range(first_id, first_id + sent), out_recs, failures)
    measured = set(measured_ids)
    lat_ms = [(arr - t) * 1000.0 for rec_id, t, arr in out_recs if rec_id in measured]

    # Drain: a freshly started pipeline reads a backlog of BACKLOG records
    # pre-loaded into another stream. Its drain rate, from the first read of
    # the backlog to the last record written, is the pipeline's capacity;
    # the query's own start-up is left out (it varies by a second or more).
    def drain(src: str, dst: str) -> float:
        nonlocal attempted
        ids = range(next_id, next_id + backlog)
        _put(server.service, src, [_entry(r, i, time.time()) for r, i in rows(backlog)])
        probe.first_read_at = None
        dq = _start_pipeline(spark, url, src, dst, os.path.join(ckpt, src))
        t_done = _wait_for(probe, dst, backlog, 120)
        dq.stop()
        attempted += _exactly_once(f"drain {src}", ids, _decoded(_read_stream(url, dst)), failures)
        return backlog / (t_done - probe.first_read_at)

    layers: dict[str, float] = {}
    if bench.trace:
        probe.timed = False
        untraced_rps = drain("backlog2", "drained2")
        probe.timed = True
    drain_rps = drain("backlog", "drained")

    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat_ms),
        "latency_tail_ms": quantile(lat_ms, 0.99),
        "throughput_per_s": drain_rps,
    }
    if bench.trace:
        n_b = max(1, len(batches_open))
        calls = {a: mock_open["calls"].get(a, 0) - mock_before["calls"].get(a, 0)
                 for a in mock_open["calls"]}
        ms = {a: mock_open["ms"].get(a, 0.0) - mock_before["ms"].get(a, 0.0)
              for a in mock_open["ms"]}
        gets = mock_open["gets"] - mock_before["gets"]
        for a in ("ListShards", "GetShardIterator", "GetRecords", "PutRecords"):
            layers[f"kinesis_mock.{a}_calls"] = calls.get(a, 0) / n_b
            layers[f"kinesis_mock.{a}_ms"] = ms.get(a, 0.0) / n_b
        layers["kinesis_mock.records_per_get"] = (mock_open["got"] - mock_before["got"]) / max(1, gets)
        layers["kinesis_mock.empty_get_share"] = (
            mock_open["empty_gets"] - mock_before["empty_gets"]) / max(1, gets)
        mock_ms_per_batch = sum(ms.values()) / n_b
        layers["kinesis_mock.share_of_lat_p50"] = mock_ms_per_batch / metrics["latency_p50_ms"]
        layers["sink.put_records_calls"] = (mock_open["sink_puts"] - mock_before["sink_puts"]) / n_b
        jobs_open.pop("job_intervals")
        layers.update({k: v / n_b for k, v in jobs_open.items()})
        layers.update(_stream_layers(batches_open, per_call=False))
        layers["stream.batches"] = float(len(batches_open))
        layers["trace.overhead_pct"] = (untraced_rps / drain_rps - 1.0) * 100.0
    layers.update(setup_parts)
    layers["gen.late_ms_max"] = late_ms_max
    slope = _slope(backlog_samples)
    layers["backlog.records_max"] = float(max(b for _, b in backlog_samples))
    layers["backlog.slope_rps"] = slope
    report = {
        "rate_rps": rate, "shards": SHARDS, "open_s": open_s,
        "records": len(lat_ms), "tail": "p99 of record latency",
        "backlog_records": backlog,
    }
    close()
    spark.stop()
    return Outcome(metrics, layers, attempted=attempted, failed=len(failures),
                   failures=failures, report=report)


def _slope(samples: list[tuple[float, int]]) -> float:
    """Least-squares slope of backlog size over time (records/s)."""
    if len(samples) < 2:
        return 0.0
    xs, ys = [s[0] for s in samples], [s[1] for s in samples]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


WORKLOADS = {
    "batch_headline": batch_headline,
    "stream_replay": stream_replay,
    "kinesis_ingest": kinesis_ingest,
}
