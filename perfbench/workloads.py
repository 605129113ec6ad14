"""The benchmark's workloads, each driven closed-loop through the
engine's public entry points.

- ``route_steady``: a backlog of small files of events as envelopes,
  drained one file per trigger through ``ZigguratEngine.start_route``
  (86% of records succeed), retry pumps at advancing horizons until
  the queue is empty, then dead-set view, replay and delete through
  ``OpsServer``. Stresses the per-batch job chain and Spark's
  micro-batch overhead.
- ``fold_pipeline``: registered streaming folds from
  ``queries.streaming_surface``, each built and then materialized
  through the noop sink. The route engine and fabric are not involved.

Every workload is a fixed amount of work derived from ``--seconds``,
so counts (batches, jobs, rows) repeat from run to run. Each has a
miniature twin that runs first as the warm-up.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from perfbench import inputs
from perfbench.stats import median

ROUTE = "events"
#: the events table's columns, as ``inputs`` writes them to JSON
PAYLOAD_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
RETRY_TIMEOUT_MS = 5_000
#: delivery attempts per retry-class record
ATTEMPTS = 2
#: dead-set rows the ops steps view, replay and delete
VIEW_N, REPLAY_N, DELETE_N = 20, 40, 20
#: pumps on a route must empty its queue within this many cycles
MAX_PUMP_CYCLES = 20
#: files the route warm-up drains before the timed region
WARM_FILES = 6
#: passes over FOLD_OPS the fold warm-up makes
WARM_FOLD_PASSES = 2

#: nominal costs on a 4-core host at local[3], used only to turn
#: ``--seconds`` into a fixed amount of work
ROUTE_STEADY_S_PER_FILE = 2.5
FOLD_S_PER_CALL = 5.0

#: registered streaming folds run by ``fold_pipeline``, and the vendored
#: table each one streams
FOLD_OPS = {"x_stream_cms_maintain": "events"}
FOLD_TABLES = sorted(set(FOLD_OPS.values()))


#: handler outcome per inputs.CLASS_BOUNDS class; the stale class
#: never reaches the handler (the T2 filter drops it)
OUTCOMES = {
    "success": "success", "skip": "skip", "retry": "retry",
    "dead": "dead-letter", "channel": "channel:audit",
}


def handler(df):
    """Outcome by the event's id (classes in inputs.CLASS_BOUNDS)."""
    from pyspark.sql import functions as F

    block = F.col("payload.event_id") % inputs.ID_BLOCK
    outcome = F
    for cls, hi in inputs.CLASS_BOUNDS:
        if cls in OUTCOMES:
            outcome = outcome.when(block < hi, OUTCOMES[cls])
    return df.withColumn("outcome", outcome.otherwise("success"))


def audit_channel(df):
    """Channel handler: accepts every record."""
    return None


@dataclass
class Run:
    """What a workload needs from the harness."""

    spark: object
    work: str
    seed: int
    seconds: int
    tracer: object
    progress: object
    jobs: object  # () -> int, the JVM's next job id
    data_dir: str
    #: (label, jobs) per engine batch, pump cycle and fold call — kept
    #: in every run for the job-count repeatability record
    job_log: list = field(default_factory=list)
    checks: list = field(default_factory=list)
    notes: list = field(default_factory=list)
    rss: object = None  # host.RssSampler, stopped at the timed region's end
    #: False during the warm-up; the timed region is marked only when set
    measuring: bool = False
    t_measure_wall: float | None = None
    t_measure_end_wall: float | None = None

    def mark_start(self) -> None:
        """The first timed record: set-up ends here."""
        if self.measuring:
            self.t_measure_wall = time.time()

    def mark_end(self) -> None:
        """The end of the timed region: the RSS peak is taken here, so
        the correctness checks that follow are not in it."""
        if self.measuring:
            self.t_measure_end_wall = time.time()
            self.rss.stop()

    def check(self, name: str, ok: bool, detail: str = "", failed_ops: int = 0) -> None:
        self.checks.append(
            {"name": name, "ok": bool(ok), "detail": detail,
             "failed_ops": 0 if ok else max(1, int(failed_ops))}
        )

    def counted(self, label: str, fn):
        """Record the job-counter delta of every call (two counter
        reads, ~0.2 ms each)."""

        def inner(*a, **kw):
            j0 = self.jobs()
            try:
                return fn(*a, **kw)
            finally:
                self.job_log.append((label, self.jobs() - j0))

        return inner

    def flush_listeners(self) -> None:
        """Block until Spark's listener bus (which also carries the
        streaming progress events) has delivered every queued event."""
        from py4j.protocol import Py4JError

        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Py4JError as exc:  # private API: ProgressLog.wait_for still polls
            self.notes.append(f"listener bus flush unavailable: {exc!r}")


# -- route engine plumbing ------------------------------------------------


def build_engine(run: Run, workdir: str, name: str, in_dir: str):
    from ziggurat_spark.envelope import ENVELOPE_SCHEMA
    from ziggurat_spark.functions.middleware import json_value
    from ziggurat_spark.sources.files import file_stream_source
    from ziggurat_spark.streaming.engine import Route, ZigguratEngine
    from ziggurat_spark.streaming.retry_fabric import RetryConfig

    spark, tr = run.spark, run.tracer
    engine = ZigguratEngine(spark, workdir, app_name="perfbench")
    mw = tr.traced("middleware.json_value", json_value(schema=PAYLOAD_SCHEMA))
    engine.register_route(
        Route(
            name=name,
            source=lambda: file_stream_source(
                spark, in_dir, schema=ENVELOPE_SCHEMA, max_files_per_trigger=1
            ),
            handler=handler,
            middleware=(mw,),
            channels={"audit": audit_channel},
            retry=RetryConfig(
                max_attempts=ATTEMPTS, timeout_ms=RETRY_TIMEOUT_MS
            ),
        )
    )
    engine.process_batch = run.counted("engine.process_batch", engine.process_batch)
    engine.fabric.pump = run.counted("fabric.pump", engine.fabric.pump)
    for obj, attr, span in (
        (engine, "process_batch", "engine.process_batch"),
        (engine, "_deliver_channel", "engine.deliver_channel"),
        (engine.fabric, "enqueue_retry", "fabric.enqueue_retry"),
        (engine.fabric, "enqueue_dead", "fabric.enqueue_dead"),
        (engine.fabric, "pump", "fabric.pump"),
        (engine.metrics, "prometheus_text", "metrics.prometheus_text"),
    ):
        tr.wrap(obj, attr, span)
    return engine


def drain(run: Run, engine, name: str, n_files: int) -> list[dict]:
    """Drain the staged backlog (availableNow, one file per trigger);
    returns the progress records of its micro-batches."""
    with run.tracer.span("route.drain"):
        q = engine.start_route(name)
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"route {name} failed: {q.exception()}")
    run.flush_listeners()
    return run.progress.wait_for(name, n_files)


def retry_files(engine, name: str) -> list[str]:
    """Parquet files queued for ``name`` (a directory listing, no Spark
    job)."""
    out = []
    for base in (engine.fabric.retry_dir, engine.fabric.inflight_dir):
        root = os.path.join(base, f"route={name}")
        for dirpath, _dirs, files in os.walk(root):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def pump_until_empty(engine, name: str, horizon: datetime) -> list[tuple[float, int]]:
    """Pump at advancing horizons, each one backoff step (plus 1 s)
    past the previous or the wall clock, whichever is later, until the
    queue is empty. Never sleeps. Returns [(seconds, rows)] per cycle."""
    cycles = []
    step = timedelta(milliseconds=RETRY_TIMEOUT_MS + 1_000)
    while retry_files(engine, name):
        if len(cycles) >= MAX_PUMP_CYCLES:
            raise RuntimeError(f"retry queue of {name} not empty after {len(cycles)} pumps")
        horizon = max(horizon, datetime.now(timezone.utc)) + step
        t0 = time.perf_counter()
        rows = engine.pump_retries(name, now=horizon)
        cycles.append((time.perf_counter() - t0, rows))
    return cycles


def _offsets(files: list[str]) -> list[int]:
    """Sorted ``offset`` column of the given parquet files (DuckDB)."""
    import duckdb

    if not files:
        return []
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(
            'SELECT "offset" FROM read_parquet(?) ORDER BY 1', [files]).fetchall()]
    finally:
        con.close()


def staged_classes(in_dir: str, cutoff: datetime) -> dict[str, list[int]]:
    """Offsets per outcome class, counted by DuckDB over the staged
    files: stale by timestamp, the rest by the payload's ``event_id``."""
    import duckdb

    bounds = dict(inputs.CLASS_BOUNDS)
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT cls, list("offset" ORDER BY "offset") FROM (
              SELECT "offset",
                CASE WHEN "timestamp" < ?::TIMESTAMPTZ THEN 'stale'
                     WHEN block < {bounds['success']} THEN 'success'
                     WHEN block < {bounds['skip']} THEN 'skip'
                     WHEN block < {bounds['retry']} THEN 'retry'
                     WHEN block < {bounds['dead']} THEN 'dead'
                     ELSE 'channel' END AS cls
              FROM (
                SELECT "offset", "timestamp",
                  CAST(regexp_extract(decode(value), '"event_id": ([0-9]+)', 1) AS BIGINT)
                    % {inputs.ID_BLOCK} AS block
                FROM read_parquet(?)
              )
            ) GROUP BY cls
            """,
            [cutoff.isoformat(), os.path.join(in_dir, "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    out = {c: [] for c in ("success", "skip", "retry", "dead", "channel", "stale")}
    for cls, offs in rows:
        out[cls] = list(offs)
    return out


def check_route_tallies(run: Run, engine, cls: dict[str, list[int]],
                        deliveries: dict[str, int]) -> None:
    """Drain batches' BatchStats and the registry's counters against
    the DuckDB counts over the staged inputs. ``deliveries`` adds the
    pump/replay deliveries each outcome counter also saw."""
    drained = [s for s in engine.stats if s.batch_id >= 0]
    got = {
        "success": sum(s.success for s in drained),
        "skip": sum(s.skip for s in drained),
        "retry": sum(s.retry for s in drained),
        "dead": sum(s.dead_letter for s in drained),
        "channel": sum(s.channel for s in drained),
        "stale": sum(s.stale_dropped for s in drained),
    }
    want = {c: len(v) for c, v in cls.items()}
    diff = sum(abs(got[c] - want[c]) for c in want)
    run.check("route.batch_stats_vs_duckdb", diff == 0, f"got {got} want {want}", diff)
    m = engine.metrics
    counters = {
        "success": m.counter("message-processing.success"),
        "skip": m.counter("message-processing.skip"),
        "retry": m.counter("message-processing.retry"),
        "dead": m.counter("message-processing.dead-letter"),
        "channel": m.counter("audit.message-processing.success"),
    }
    want_c = {c: want[c] + deliveries.get(c, 0) for c in counters}
    diff = sum(abs(counters[c] - want_c[c]) for c in counters)
    run.check("route.metrics_vs_duckdb", diff == 0, f"got {counters} want {want_c}", diff)


# -- workloads -----------------------------------------------------------


def route_steady(run: Run, warm: bool) -> dict:
    """Drain the backlog and pump retries until the queue is empty (the
    timed region), then view, replay and delete dead-set rows through
    OpsServer (replayed rows go back to the retry queue). The warm-up
    drains and pumps WARM_FILES full-size files: batch latency keeps
    falling for several batches after a cold start. The dead-set
    operations are not warmed; their timings are first calls."""
    from ziggurat_spark.streaming.ops_server import OpsServer

    if warm:
        tag, name, n_files = "warm", "warm", WARM_FILES
    else:
        tag, name = "measure", ROUTE
        n_files = max(3, round(run.seconds / ROUTE_STEADY_S_PER_FILE))
    in_dir = os.path.join(run.work, tag, "in")
    inputs.stage_envelopes(os.path.join(run.data_dir, "events.parquet"), in_dir,
                           n_files, run.seed, time.time())
    engine = build_engine(run, os.path.join(run.work, tag, "engine"), name, in_dir)
    tr = run.tracer
    start = datetime.now(timezone.utc)
    run.mark_start()
    t0 = time.perf_counter()
    recs = drain(run, engine, name, n_files)
    with tr.span("fabric.pump_until_empty"):
        pumps = pump_until_empty(engine, name, start)
    backlog_s = time.perf_counter() - t0
    run.mark_end()
    if warm:
        return {}
    left = retry_files(engine, name)

    ops = OpsServer(engine).start()
    for attr in ("view", "replay", "delete"):
        tr.wrap(ops, attr, f"ops.{attr}")
    view_n, replay_n, delete_n = VIEW_N, REPLAY_N, DELETE_N
    ops_s = {}
    try:
        t = time.perf_counter()
        viewed = ops.view(name, view_n)
        ops_s["view"] = time.perf_counter() - t
        t = time.perf_counter()
        ops.replay(name, replay_n)
        ops_s["replay"] = time.perf_counter() - t
        t = time.perf_counter()
        ops.delete(name, delete_n)
        ops_s["delete"] = time.perf_counter() - t
    finally:
        ops.stop()
    with tr.span("metrics.scrape"):
        t = time.perf_counter()
        engine.metrics.prometheus_text()
        scrape_s = time.perf_counter() - t

    # correctness, outside the timed region
    cls = staged_classes(in_dir, start - timedelta(days=7))
    records = sum(len(v) for v in cls.values())
    n_retry = len(cls["retry"])
    # each retry-class record is redelivered once per attempt; replay
    # delivers the replayed rows once more, back into the retry queue
    redeliveries = ATTEMPTS * n_retry
    check_route_tallies(run, engine, cls,
                        {"retry": redeliveries + replay_n})
    run.check("route.batches", len(recs) == n_files,
              f"{len(recs)} progress records for {n_files} files", abs(len(recs) - n_files))
    run.check("retry.queue_empty", not left, f"{len(left)} queued files left", len(left))
    pumped = sum(n for _s, n in pumps)
    run.check("retry.redeliveries", pumped == redeliveries,
              f"pumped {pumped} want {redeliveries}", abs(pumped - redeliveries))
    # exhausted retries all die in the same pump, so newest-first
    # order is offset order within the retry class
    want_view = cls["retry"][:view_n]
    got_view = sorted(int(r["offset"]) for r in viewed)
    run.check("ops.view", got_view == want_view, f"{len(got_view)} rows viewed",
              len(set(want_view) ^ set(got_view)))
    replayed = cls["retry"][:replay_n]
    queued = _offsets(retry_files(engine, name))
    run.check("ops.replay_requeued", queued == replayed,
              f"{len(queued)} rows queued, want {len(replayed)}",
              len(set(queued) ^ set(replayed)))
    # delete takes the newest remaining rows: the next exhausted retries
    deleted = cls["retry"][replay_n:replay_n + delete_n]
    want_dead = sorted(set(cls["dead"]) | set(cls["retry"]) - set(replayed) - set(deleted))
    got_dead = _offsets(_files(engine.fabric.dead_dir))
    run.check("ops.dead_set_rows", got_dead == want_dead,
              f"{len(got_dead)} dead rows, want {len(want_dead)}",
              len(set(got_dead) ^ set(want_dead)))

    drained = [s for s in engine.stats if s.batch_id >= 0]
    fab = engine.fabric
    layers = {
        "microbatch.overhead_ms": median([r["triggerExecution"] - r["addBatch"] for r in recs]),
        "microbatch.query_planning_ms": median([r["queryPlanning"] for r in recs]),
        "microbatch.wal_commit_ms": median([r["walCommit"] for r in recs]),
        "sources.latest_offset_ms": median([r["latestOffset"] for r in recs]),
        "sources.rows_per_trigger": median([r["rows"] for r in recs]),
        "engine.process_batch_ms_p50": median([s.processing_s * 1000 for s in drained]),
        "engine.batches": len(drained),
        "metrics.scrape_ms": scrape_s * 1000,
        "fabric.pump_ms_p50": median([s * 1000 for s, _n in pumps]),
        "fabric.pump_cycles": len(pumps),
        "fabric.pump_rows": pumped,
        "fabric.redelivered_per_enqueued": pumped / max(n_retry, 1),
        "fabric.retry_files": len(_files(fab.retry_dir)),
        "fabric.dead_files": len(_files(fab.dead_dir)),
        "fabric.dead_rows": len(got_dead),
        "ops.view_ms": ops_s["view"] * 1000,
        "ops.replay_ms": ops_s["replay"] * 1000,
        "ops.delete_ms": ops_s["delete"] * 1000,
    }
    return {
        "records": records,
        "attempted": records + redeliveries + replay_n,
        "records_per_s": records / backlog_s,
        "latency_ms": [r["triggerExecution"] for r in recs],
        "layers": layers,
    }


def _files(root: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


def fold_pipeline(run: Run, warm: bool) -> dict:
    """Call each fold query function and materialize its result through the
    noop sink, in ``round(seconds / 5)`` passes over FOLD_OPS; every
    call streams into fresh state. The warm-up makes WARM_FOLD_PASSES
    passes: call times keep falling over the first few calls."""
    from ziggurat_spark.queries import all_queries
    from ziggurat_spark.scratch import dir_footprint, track_scratch

    tag = "warm" if warm else "measure"
    sf_dir = os.path.join(run.work, tag, "sf")
    inputs.stage_tables(run.data_dir, sf_dir, FOLD_TABLES, run.seed)
    specs = all_queries()
    calls = []
    records = 0
    run.mark_start()
    t_all = time.perf_counter()
    passes = WARM_FOLD_PASSES if warm else max(
        1, round(run.seconds / FOLD_S_PER_CALL / len(FOLD_OPS)))
    for _ in range(passes):
        for op, table in FOLD_OPS.items():
            build = run.tracer.traced(f"fold.{op}.build", specs[op].spark)
            with track_scratch() as dirs:
                n0 = len(run.progress.records)
                j0 = run.jobs()
                t0 = time.perf_counter()
                df = build(run.spark, sf_dir)
                t1 = time.perf_counter()
                with run.tracer.span(f"fold.{op}.materialize"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                jobs = run.jobs() - j0
            run.job_log.append((f"fold.{op}", jobs))
            run.flush_listeners()
            state_bytes, state_files = dir_footprint(dirs)
            calls.append({"op": op, "df": df, "stream_s": t1 - t0, "grade_s": t2 - t1,
                          "jobs": jobs, "recs": run.progress.records[n0:],
                          "state_bytes": state_bytes, "state_files": state_files})
            records += inputs.table_rows(sf_dir, table)
    result_s = time.perf_counter() - t_all
    run.mark_end()
    if warm:
        return {}

    # correctness, outside the timed region
    from ziggurat_spark.oracle import compare
    from ziggurat_spark.state_bounds import violations

    con = _duck_views(sf_dir, FOLD_TABLES)
    try:
        for c in calls:
            res = compare(c["op"], c["df"], con.execute(specs[c["op"]].oracle).df())
            run.check(f"fold.{c['op']}.oracle", res.ok, res.detail, 1)
    finally:
        con.close()
    for c in calls:
        bad = [v for v in violations({c["op"]: {"files": c["state_files"]}})
               if v["op"] == c["op"]]
        run.check("fold.state_bounds", not bad, f"{c['op']}: {bad}", len(bad))
    layers = {}
    for op in FOLD_OPS:
        mine = [c for c in calls if c["op"] == op]
        recs = [r for c in mine for r in c["recs"]]
        layers.update({
            f"fold.{op}.stream_s": median(c["stream_s"] for c in mine),
            f"fold.{op}.grade_s": median(c["grade_s"] for c in mine),
            f"fold.{op}.jobs": median(c["jobs"] for c in mine),
            f"fold.{op}.triggers": median(len(c["recs"]) for c in mine),
            f"fold.{op}.addbatch_ms_p50": median(r["addBatch"] for r in recs),
            f"fold.{op}.trigger_ms_p50": median(r["triggerExecution"] for r in recs),
            f"fold.{op}.state_bytes": median(c["state_bytes"] for c in mine),
            f"fold.{op}.state_files": median(c["state_files"] for c in mine),
        })
    return {
        "records": records,
        "attempted": len(calls),
        "records_per_s": records / result_s,
        "latency_ms": [r["triggerExecution"] for c in calls for r in c["recs"]],
        "layers": layers,
    }


def _duck_views(sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    return con


WORKLOADS = {"route_steady": route_steady, "fold_pipeline": fold_pipeline}
