"""Open-loop tweet stream: the paper's ETL/decay job and its Count-Min
(running keyword count) job, fed by a generator thread that writes
JSON-lines tweet files on a fixed schedule.

Phases:

1. backlog: pre-written files are drained with ``availableNow``; the
   drain rate is the workload's throughput.
2. paced: both queries restart from their checkpoints on one-second
   processing-time triggers while the generator writes a file every
   ``INTERVAL_S`` at ``RATE`` events/s, whether or not the engine keeps
   up. An event's latency runs from its ``created_at`` (its scheduled
   creation time) to the return of the sink write of its batch.

After the run, the sink must hold exactly the rows of a batch
``edw_transform`` over every generated tweet, and the keyword counts
must equal a DuckDB count over the generated texts.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa

from perfbench import gen
from perfbench.common import Ctx, tree_cpu_s

#: Events per second offered in the paced phase: the rate at which the
#: one-second trigger's fixed costs (offset listing, WAL and commit-log
#: writes, about 130 ms of a 640-800 ms trigger) were first measured for
#: this engine's ETL job.
RATE = 2_000
INTERVAL_S = 0.25  # one file per interval
BACKLOG_FILES = 12
BACKLOG_FILE_EVENTS = 1000
TRIGGER = "1 second"


class Landing:
    """Writes tweet files atomically into the stream's input directory."""

    def __init__(self, root: str, seed: int):
        self.dir = os.path.join(root, "landing")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.dir)
        os.makedirs(self.staging)
        self.rng = np.random.default_rng(seed)
        self.texts: list[str] = []
        self.files = 0
        self.log: list[tuple[float, int]] = []  # (wall time written, events so far)

    def write(self, n: int, created_at: dt.datetime) -> None:
        lines, texts = gen.tweet_lines(self.rng, n, created_at)
        name = f"t{self.files:06d}.json"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.dir, name))
        self.files += 1
        self.texts.extend(texts)
        self.log.append((time.time(), len(self.texts)))


def _utc(ts: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc)


class Generator(threading.Thread):
    """Open loop: file k is due at start + k * INTERVAL_S, never later
    because the engine is slow. Records how late each write landed."""

    def __init__(self, landing: Landing, per_file: int):
        super().__init__(daemon=True)
        self.landing = landing
        self.per_file = per_file
        self.stop_event = threading.Event()
        self.late_s: list[float] = []
        self.start_wall = None

    def run(self) -> None:
        t0_mono = time.monotonic()
        self.start_wall = time.time()
        k = 0
        while not self.stop_event.is_set():
            due = t0_mono + k * INTERVAL_S
            delay = due - time.monotonic()
            if delay > 0 and self.stop_event.wait(delay):
                break
            due_wall = self.start_wall + k * INTERVAL_S
            self.landing.write(self.per_file, _utc(due_wall))
            self.late_s.append(time.time() - due_wall)
            k += 1


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def run(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.streaming.jobs import running_keyword_counts
    from big_data_trend_analysis_spark.streaming.pipeline import edw_transform
    from big_data_trend_analysis_spark.streaming.sinks import (
        parquet_idempotent_writer,
        start_foreach_batch,
    )
    from big_data_trend_analysis_spark.streaming.sources import parse_tweet_frame

    tracer = ctx.tracer
    parse = tracer.wrap("streaming.sources.parse_tweet_frame", parse_tweet_frame)
    keyword_counts = tracer.wrap("streaming.jobs.running_keyword_counts", running_keyword_counts)
    transform = tracer.wrap("streaming.pipeline.edw_transform", edw_transform)
    start = tracer.wrap("streaming.sinks.start_foreach_batch", start_foreach_batch)

    with ctx.generating():
        landing = Landing(ctx.work, ctx.args.seed)
        for _ in range(BACKLOG_FILES):
            landing.write(BACKLOG_FILE_EVENTS, _utc(time.time()))
        backlog_events = len(landing.texts)
        warm_landing = Landing(os.path.join(ctx.work, "warm"), ctx.args.seed + 1)
        warm_landing.write(50, _utc(time.time()))
    anchor = _utc(time.time()).strftime("%Y-%m-%d %H:%M:%S")
    paced_per_file = int(RATE * INTERVAL_S)
    ctx.inputs = {
        "backlog_events": backlog_events,
        "backlog_files": BACKLOG_FILES,
        "paced_rate_per_s": RATE,
        "paced_file_events": paced_per_file,
        "trigger": TRIGGER,
    }

    def source(spark, path, max_files):
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", max_files)
            .load(path)
            .select(F.col("value").cast("binary").alias("value"))
        )
        return parse(raw)

    sink_dir = os.path.join(ctx.work, "sink")
    returns: dict[int, float] = {}
    write_s: list[float] = []
    write_sink = tracer.wrap("streaming.sinks.write", parquet_idempotent_writer(sink_dir))

    def handle(batch_df, batch_id):
        out = transform(batch_df, anchor, batch_id)
        t0 = time.perf_counter()
        write_sink(out, batch_id)
        write_s.append(time.perf_counter() - t0)
        returns[batch_id] = time.time()

    kw_name = f"kw_counts_{os.getpid()}"

    def start_queries(spark, path, tag, available_now):
        trigger = {"availableNow": True} if available_now else {"processingTime": TRIGGER}
        max_files = 10 if available_now else 100
        etl = start(
            source(spark, path, max_files),
            handle if tag == "main" else _discard,
            os.path.join(ctx.work, f"ckpt-etl-{tag}"),
            trigger_available_now=available_now,
            processing_time=None if available_now else TRIGGER,
        )
        kw = (
            keyword_counts(source(spark, path, max_files)).writeStream.outputMode("complete")
            .format("memory").queryName(f"{kw_name}_{tag}")
            .option("checkpointLocation", os.path.join(ctx.work, f"ckpt-kw-{tag}"))
            .trigger(**trigger).start()
        )
        return etl, kw

    def session_warm(spark):
        raw = spark.read.text(warm_landing.dir).select(F.col("value").cast("binary").alias("value"))
        tweets = parse_tweet_frame(raw)
        edw_transform(tweets, anchor).collect()
        running_keyword_counts(tweets).collect()

    def workload_warm(spark):
        for q in start_queries(spark, warm_landing.dir, "warm", True):
            q.awaitTermination()

    ctx.setup(session_warm, workload_warm)
    spark = ctx.spark
    obs = None
    if tracer.enabled:
        from perfbench import sparkobs

        obs = sparkobs.SparkObserver(spark)

    # -- backlog phase ------------------------------------------------------
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with tracer.span("backlog"):
        queries = start_queries(spark, landing.dir, "main", True)
        for q in queries:
            q.awaitTermination()
    drain_s = time.perf_counter() - t0
    drain_cpu_s = tree_cpu_s() - cpu0
    backlog_batches = set(returns)

    # -- paced phase ----------------------------------------------------------
    if obs is not None:
        obs.new_jobs()
        w0 = sparkobs.wall_ms()
    write_s.clear()
    generator = Generator(landing, paced_per_file)
    t_paced = time.perf_counter()
    with tracer.span("paced"):
        paced = start_queries(spark, landing.dir, "main", False)
        generator.start()
        time.sleep(ctx.args.seconds)
        generator.stop_event.set()
        generator.join()
        for q in paced:
            q.processAllAvailable()
    paced_wall_s = time.perf_counter() - t_paced
    for q in paced:
        q.stop()
    progress = {"etl": _progress(paced[0]), "kw": _progress(paced[1])}
    if obs is not None:
        jobs = obs.new_jobs()
        job_stats = obs.job_counters(jobs, w0, sparkobs.wall_ms())

    latencies = _check(ctx, spark, landing, sink_dir, anchor, f"{kw_name}_main",
                       returns, backlog_batches, generator.start_wall)

    if tracer.enabled:
        _stream_layers(ctx, progress, write_s, generator, landing, job_stats, paced_wall_s)
    drain_rate = backlog_events / drain_s
    return {
        "latency_samples": latencies,
        "ops_per_s": drain_rate,
        "cpu_s_per_op": drain_cpu_s / BACKLOG_FILES,
        "drain_s": drain_s,
        "timed_s": drain_s + paced_wall_s,
        "paced_events": len(latencies),
        "generator_late_s_max": max(generator.late_s, default=0.0),
        "named": {"event_latency_s": latencies, "drain_events_per_s": drain_rate},
    }


def _discard(batch_df, batch_id) -> None:
    batch_df.write.format("noop").mode("overwrite").save()


def _check(ctx, spark, landing, sink_dir, anchor, kw_table, returns,
           backlog_batches, paced_start_wall) -> list[float]:
    """Correctness of both sinks; returns paced-phase event latencies."""
    import duckdb
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.streaming.pipeline import edw_transform
    from big_data_trend_analysis_spark.streaming.sources import parse_tweet_frame

    cols = "text, created_at, sentiment, entities, weight, weighted_sentiment, processing_time"
    expected_dir = os.path.join(ctx.work, "expected")
    raw = spark.read.text(landing.dir).select(F.col("value").cast("binary").alias("value"))
    edw_transform(parse_tweet_frame(raw), anchor).write.parquet(expected_dir)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet('{sink_dir}/*/*.parquet', hive_partitioning=false)")
    con.execute(f"CREATE VIEW want AS SELECT * FROM read_parquet('{expected_dir}/*.parquet')")
    n_events = len(landing.texts)
    ctx.attempt(n_events)
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got)").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)").fetchone()[0]
    want_n = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if want_n != n_events:
        ctx.fail(f"batch edw_transform read {want_n} rows, {n_events} generated")
    if missing or extra:
        ctx.fail(f"sink rows: {missing} missing, {extra} unexpected", count=missing + extra)

    con.register("texts", pa.table({"text": landing.texts}))
    want_kw = dict(con.execute(
        "SELECT token, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS token FROM texts) GROUP BY 1"
    ).fetchall())
    got_kw = {r["token"]: r["freq"] for r in spark.table(kw_table).collect()}
    ctx.attempt(len(want_kw))
    for token in set(want_kw) | set(got_kw):
        if want_kw.get(token) != got_kw.get(token):
            ctx.fail(f"keyword {token!r}: {got_kw.get(token)} != {want_kw.get(token)}")

    rows = con.execute(
        "SELECT batch_id, epoch_us(created_at) FROM got WHERE epoch_us(created_at) >= $s",
        {"s": int(paced_start_wall * 1e6)},
    ).fetchall()
    latencies = []
    for batch_id, created_us in rows:
        if batch_id in backlog_batches or batch_id not in returns:
            ctx.fail(f"paced event in batch {batch_id} without a recorded sink return")
            continue
        latencies.append(returns[batch_id] - created_us / 1e6)
    return latencies


def _stream_layers(ctx, progress, write_s, generator, landing, job_stats, paced_wall_s) -> None:
    triggers = [p for ps in progress.values() for p in ps if "addBatch" in p.get("durationMs", {})]
    dur = lambda key: [p["durationMs"].get(key, 0) / 1e3 for p in triggers]  # noqa: E731
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
    kw = [p for p in progress["kw"] if p.get("stateOperators")]
    last_state = kw[-1]["stateOperators"][0] if kw else {}
    # backlog: paced files written but not yet taken by the ETL query,
    # at the start of each of its triggers
    backlog_events = landing.log[BACKLOG_FILES - 1][1]
    paced_log = [(t, n - backlog_events) for t, n in landing.log[BACKLOG_FILES:]]
    backlog_max = 0
    taken = 0
    for p in sorted(progress["etl"], key=lambda p: p["batchId"]):
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        written = max((n for t, n in paced_log if t <= start), default=0)
        backlog_max = max(backlog_max, (written - taken) // generator.per_file)
        taken += p.get("numInputRows", 0)
    from perfbench.sparkobs import per_op

    out = per_op(job_stats, len(triggers), paced_wall_s)
    out.update(
        {
            "streaming.triggers": len(triggers),
            "streaming.trigger_s_p50": statistics.median(dur("triggerExecution")) if triggers else 0.0,
            "streaming.add_batch_s": mean(dur("addBatch")),
            "streaming.latest_offset_s": mean(dur("latestOffset")),
            "streaming.query_planning_s": mean(dur("queryPlanning")),
            "streaming.wal_commit_s": mean(dur("walCommit")),
            "streaming.commit_offsets_s": mean(dur("commitOffsets")),
            "streaming.state_rows": last_state.get("numRowsTotal", 0),
            "streaming.state_memory_bytes": last_state.get("memoryUsedBytes", 0),
            "streaming.state_commit_s": mean(
                [p["stateOperators"][0].get("commitTimeMs", 0) / 1e3 for p in kw]
            ),
            "streaming.backlog_files_max": backlog_max,
            "sinks.write_s": mean(write_s),
            "generator.late_s_max": max(generator.late_s, default=0.0),
        }
    )
    ctx.layer.update(out)
