"""Route engine: registration, the per-batch dataflow, lifecycle.

The reference's unit of deployment is a *route*: a topic source, a
middleware chain, a handler, optional channels, and the retry fabric
around it (init.clj:244-273 validates exactly this shape at
:187-200). Here a route is:

    source (streaming or batch DataFrame)
      → staleness filter (T2, timestamp_transformer.clj:9-12)
      → middleware chain (DataFrame → DataFrame fns)
      → handler → `outcome` column (R1 contract, mapper.clj:55-65)
      → one tally, then filtered writes per success/skip/retry/dead/
        channel outcome (retry & dead go through RetryFabric)

Streaming execution wraps the same batch function in
``foreachBatch`` — identical semantics in both modes, which is how
the reference's at-least-once ack-after-process maps onto Spark's
checkpointed micro-batches (stronger: effectively-once bookkeeping).

Scale: per-batch cost is set by the driver's job chain, not compute,
so a batch runs ONE aggregation for every count it needs. The raw
batch and the handler output are each persisted once; a single
groupBy over the output's outcome keys unioned with the raw rows'
fresh/stale tag yields the outcome counts, the consume-delay means,
the read count, the staleness drops and the retry rows' dead-set
split. The sinks then filter the cached output — never recomputing
the handler per sink (the reference similarly publishes from one
in-memory record, mapper.clj:55-65) — and take their counts from the
tally instead of probing. A batch with every outcome class runs six
Spark jobs: two cache builds, the tally's two, and the retry and
dead-set appends. Parallelism is decoupled from source partitions
with an optional repartition(n) — the Spark-native replacement for
the channels scale-out pattern (doc/CONCEPTS.md:20-43).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ziggurat_spark.operators.routing import VALID_OUTCOMES
from ziggurat_spark.streaming.metrics import (
    DELAY_NS,
    MESSAGE_PROCESSING,
    MESSAGE_READ_NS,
    MetricsRegistry,
)
from ziggurat_spark.streaming.retry_fabric import (
    RetryConfig,
    RetryFabric,
    exhausted,
)

#: T2 default: drop records older than 7 days (streams.clj:26).
DEFAULT_OLDEST_PROCESSED_S = 604_800

Middleware = Callable[[DataFrame], DataFrame]
Handler = Callable[[DataFrame], DataFrame]


@dataclass
class Route:
    """A registered stream route (schema parity: init.clj:187-200)."""

    name: str
    source: Callable[[], DataFrame]
    handler: Handler
    middleware: tuple[Middleware, ...] = ()
    channels: dict[str, Handler] = field(default_factory=dict)
    retry: RetryConfig = field(default_factory=RetryConfig)
    #: per-channel retry overrides (config.clj:117-121); falls back
    #: to the route-level policy for channels not present
    channel_retry: dict[str, RetryConfig] = field(default_factory=dict)
    oldest_processed_s: int | None = DEFAULT_OLDEST_PROCESSED_S
    timestamp_col: str = "timestamp"
    parallelism: int | None = None


@dataclass
class BatchStats:
    """Per-batch tallies ≈ consumer_handler.clj:17-24, 59-65."""

    route: str
    batch_id: int
    total: int = 0
    success: int = 0
    skip: int = 0
    retry: int = 0
    dead_letter: int = 0
    channel: int = 0
    stale_dropped: int = 0
    failure: int = 0
    processing_s: float = 0.0


class _Group(NamedTuple):
    """One group of the batch tally (see ``ZigguratEngine._tally``)."""

    n: int = 0
    #: mean consume delay, None when the rows carry no timestamp
    delay_ms: float | None = None
    #: rows the retry split sends to the dead set
    dead: int = 0


class ZigguratEngine:
    """Route registry + executor (start/stop/drain ≈ R9/R10)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        app_name: str = "ziggurat-spark",
        metrics: MetricsRegistry | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        self.routes: dict[str, Route] = {}
        self.queries: dict[str, object] = {}
        self.stats: list[BatchStats] = []
        self.metrics = metrics or MetricsRegistry(service_name=app_name)
        # fabric writes report publish-time / message_loss here
        # (producer.clj:128-156 parity)
        self.fabric = RetryFabric(spark, workdir, metrics=self.metrics)
        os.makedirs(workdir, exist_ok=True)

    # -- registration ---------------------------------------------------

    def register_route(self, route: Route) -> None:
        if route.name in self.routes:
            raise ValueError(f"route already registered: {route.name}")
        bad = [c for c in route.channels if not c.isidentifier()]
        if bad:
            raise ValueError(f"invalid channel names: {bad}")
        self.routes[route.name] = route

    # -- the per-batch dataflow ------------------------------------------

    def _marker_path(self, route_name: str) -> str:
        return os.path.join(self.workdir, "commits", route_name)

    def _last_committed(self, route_name: str) -> int:
        try:
            with open(self._marker_path(route_name)) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _is_committed(self, route_name: str, batch_id: int) -> bool:
        return batch_id <= self._last_committed(route_name)

    def _mark_committed(self, route_name: str, batch_id: int) -> None:
        """Atomic (write-then-rename) completion high-watermark — the
        standard foreachBatch idempotence pattern. Spark's checkpoint
        commits a micro-batch only AFTER foreachBatch returns; a kill
        inside the body makes the restart replay the same batch_id, so
        every side effect (stats, metrics, fabric appends, channel
        delivery) must be guarded by this marker to get
        effectively-once delivery on top of the source's at-least-once
        replay (R6; the reference is at-least-once by design —
        mapper.clj acks after process — this is the stronger
        Spark-native spelling). Batch ids are monotone within a route's
        single query, so one O(1) watermark file suffices — no
        per-batch marker accumulation over a long-running route."""
        if batch_id <= self._last_committed(route_name):
            return
        path = self._marker_path(route_name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, path)

    def process_batch(
        self,
        route: Route,
        batch: DataFrame,
        batch_id: int = -1,
        now: datetime | None = None,
    ) -> BatchStats:
        """Run one (micro-)batch through the full route dataflow."""
        t0 = time.perf_counter()
        now = now or datetime.now(timezone.utc)
        stats = BatchStats(route=route.name, batch_id=batch_id)
        # Replayed micro-batch (killed after the body ran but before
        # Spark committed the offset range): every side effect already
        # happened — skip, don't double-deliver. Only real streaming
        # batch ids participate (pump/batch-route calls use negative
        # sentinels and manage their own redelivery semantics).
        if batch_id >= 0 and self._is_committed(route.name, batch_id):
            return stats

        # Persist the raw batch: the tally and the handler's input both
        # read it, and without the cache each would rescan the source
        # (2x read amplification per micro-batch — observed via
        # numInputRows doubling).
        batch = batch.persist()
        df = batch
        fresh = F.lit(True)
        # T2 staleness filter, placed first (streams.clj:185-186);
        # Catalyst pushes it into the scan anyway.
        if route.oldest_processed_s is not None:
            horizon = now - timedelta(seconds=route.oldest_processed_s)
            keep = F.col(route.timestamp_col) >= F.lit(horizon)
            df = df.filter(keep)
            # honest staleness accounting: the tally tags each raw row
            # with the filter's own predicate (a NULL timestamp is
            # dropped, so it counts as stale), not an inference from
            # handler-output cardinality, which filters/fan-outs
            # would corrupt
            fresh = F.coalesce(keep, F.lit(False))
        if route.parallelism:
            # channels-style scale-out (doc/CONCEPTS.md:20-43): decouple
            # worker parallelism from source partition count.
            df = df.repartition(route.parallelism)
        # create-user-payload parity (mapper.clj:18-26): the handler
        # sees how many retries this delivery has consumed —
        # configured − remaining; first delivery (NULL attempt) = 0.
        if "attempt" in df.columns:
            configured = route.retry.max_attempts if route.retry.enabled else 0
            df = df.withColumn(
                "retry_count",
                F.lit(configured)
                - F.coalesce(F.col("attempt"), F.lit(configured)),
            )
        pre_middleware = df
        for mw in route.middleware:
            df = mw(df)

        out = route.handler(df)
        if "outcome" not in out.columns:
            raise TypeError(
                f"route {route.name}: handler must add an 'outcome' column"
            )
        out = out.persist()
        raw = self._raw_tally(route, batch, fresh)
        try:
            try:
                tally = self._tally(
                    self._outcome_tally(route, out, now).unionByName(raw)
                )
            except Exception:
                # R1 catch-Throwable parity (mapper.clj:66-69): failure
                # metric + the whole delivery goes back through retry,
                # then processing CONTINUES (the reference acks and
                # moves on; it never crashes the stream thread). Not
                # re-raising is also what keeps the retry pump from
                # double-enqueueing a failed redelivery. The raw half
                # of the tally, re-run alone, still measures staleness
                # at the filter.
                tally = self._tally(raw)
                fresh_g = tally.get(("raw", "fresh"), _Group())
                stats.stale_dropped = tally.get(("raw", "stale"), _Group()).n
                self.metrics.inc(
                    route.name, MESSAGE_PROCESSING, "failure", fresh_g.n
                )
                stats.failure = fresh_g.n
                if route.retry.enabled:
                    self.fabric.enqueue_retry(
                        pre_middleware,
                        route.name,
                        route.retry,
                        now=now,
                        split=(fresh_g.dead, fresh_g.n - fresh_g.dead),
                    )
                stats.processing_s = time.perf_counter() - t0
                self.stats.append(stats)
                if batch_id >= 0:
                    self._mark_committed(route.name, batch_id)
                return stats
            n_fresh = tally.get(("raw", "fresh"), _Group()).n
            stats.stale_dropped = tally.get(("raw", "stale"), _Group()).n
            outcomes = {o: g for (part, o), g in tally.items() if part == "out"}
            counts = {o: g.n for o, g in outcomes.items()}
            unknown = [
                o
                for o in counts
                if o not in VALID_OUTCOMES
                and not (
                    str(o).startswith("channel:")
                    # dispatching to a channel the route never declared
                    # is the reference's invalid-return-code error, not
                    # a silent drop (mapper.clj:62-64)
                    and str(o)[len("channel:"):] in route.channels
                )
            ]
            if unknown:
                # InvalidReturnTypeException parity
                # (consumer_handler.clj:36-44, mapper.clj:62-64)
                raise TypeError(
                    f"route {route.name}: invalid outcomes {unknown}"
                )
            stats.total = sum(counts.values())
            stats.success = counts.get("success", 0)
            stats.skip = counts.get("skip", 0)
            stats.retry = counts.get("retry", 0)
            stats.dead_letter = counts.get("dead-letter", 0)
            # read = records consumed past the staleness gate (the
            # reference counts consumed messages, streams.clj:45-64),
            # independent of how many rows the handler emits
            self.metrics.inc(route.name, MESSAGE_READ_NS, "read", n_fresh)
            for metric in ("success", "skip", "retry", "dead-letter"):
                self.metrics.inc(
                    route.name,
                    MESSAGE_PROCESSING,
                    metric,
                    counts.get(metric, 0),
                )
            for g in outcomes.values():
                if g.delay_ms is not None:
                    self.metrics.report_histogram(
                        route.name, DELAY_NS, g.delay_ms, n=g.n
                    )

            oc = F.col("outcome")
            if stats.retry:
                n_dead = outcomes["retry"].dead
                self.fabric.enqueue_retry(
                    out.filter(oc == "retry"),
                    route.name,
                    route.retry,
                    now=now,
                    split=(n_dead, stats.retry - n_dead),
                )
            if stats.dead_letter:
                self.fabric.enqueue_dead(
                    out.filter(oc == "dead-letter"), route.name, now=now
                )
            for ch in route.channels:
                n_ch = counts.get(f"channel:{ch}", 0)
                if n_ch:
                    stats.channel += n_ch
                    self._deliver_channel(
                        route, ch, out.filter(oc == f"channel:{ch}"), now,
                        n_rows=n_ch,
                    )
        finally:
            out.unpersist()
            batch.unpersist()
        stats.processing_s = time.perf_counter() - t0
        self.stats.append(stats)
        if batch_id >= 0:
            self._mark_committed(route.name, batch_id)
        return stats

    # -- the batch tally ----------------------------------------------------
    #
    # One aggregation per batch feeds every count the batch needs: the
    # handler output's rows keyed ("out", outcome) and the raw batch's
    # rows keyed ("raw", "fresh" | "stale"), unioned and grouped once.
    # Each group carries its row count, its mean consume delay, and how
    # many of its rows the retry split sends to the dead set.

    @staticmethod
    def _tally_cols(part: str, key, delay_ms, dead) -> list:
        return [
            F.lit(part).alias("part"),
            key.cast("string").alias("key"),
            delay_ms.cast("long").alias("delay_ms"),
            dead.alias("dead"),
        ]

    def _raw_tally(self, route: Route, batch: DataFrame, fresh) -> DataFrame:
        """Raw-batch rows tagged by the staleness filter's predicate;
        the fresh rows' dead-set split is what a handler failure
        re-enqueues."""
        return batch.select(
            *self._tally_cols(
                "raw",
                F.when(fresh, "fresh").otherwise("stale"),
                F.lit(None),
                fresh & self._exhausted(route, batch),
            )
        )

    def _outcome_tally(
        self, route: Route, out: DataFrame, now: datetime
    ) -> DataFrame:
        """Handler-output rows keyed by outcome, with the consume delay
        (kafka_delay.clj:5-13) when the output keeps the timestamp."""
        delay = F.lit(None)
        if route.timestamp_col in out.columns:
            delay = F.lit(int(now.timestamp() * 1000)) - F.unix_millis(
                F.col(route.timestamp_col).cast("timestamp")
            )
        return out.select(
            *self._tally_cols(
                "out", F.col("outcome"), delay, self._exhausted(route, out)
            )
        )

    @staticmethod
    def _exhausted(route: Route, df: DataFrame):
        """The retry split of ``df``'s rows under the route policy; a
        frame without an ``attempt`` column is on its first delivery."""
        attempt = F.col("attempt") if "attempt" in df.columns else F.lit(None)
        return exhausted(route.retry, attempt)

    @staticmethod
    def _tally(rows: DataFrame) -> dict[tuple[str, str], _Group]:
        """Run the tally: one ``_Group`` per ``(part, key)``."""
        return {
            (r["part"], r["key"]): _Group(
                r["n"],
                None if r["delay_ms"] is None else float(r["delay_ms"]),
                r["dead"],
            )
            for r in rows.groupBy("part", "key")
            .agg(
                F.count("*").alias("n"),
                F.avg("delay_ms").alias("delay_ms"),
                F.count_if("dead").alias("dead"),
            )
            .collect()
        }

    def _deliver_channel(
        self,
        route: Route,
        channel: str,
        rows: DataFrame,
        now: datetime,
        n_rows: int | None = None,
    ) -> None:
        """Channel delivery (R8): run the channel handler immediately
        (Spark already decouples parallelism); failures take the
        channel retry path (mapper.clj:71-111). ``n_rows`` is the
        caller's count of ``rows`` when it holds one (the batch tally);
        otherwise one count job runs."""
        handler = route.channels[channel]
        # per-channel retry override (config.clj:117-121) with the
        # route policy as fallback
        cfg = route.channel_retry.get(channel, route.retry)
        ns = f"{channel}.{MESSAGE_PROCESSING}"  # mapper.clj:76-86 naming
        if n_rows is None:
            n_rows = rows.count()
        try:
            result = handler(rows.drop("outcome"))
            n_retry = 0
            if result is not None and "outcome" in result.columns:
                retries = result.filter(F.col("outcome") == "retry")
                n_retry = retries.count()
                if n_retry:
                    self.fabric.enqueue_retry(
                        retries, route.name, cfg, channel=channel, now=now
                    )
            self.metrics.inc(route.name, ns, "retry", n_retry)
            self.metrics.inc(route.name, ns, "success", n_rows - n_retry)
        except Exception:
            self.metrics.inc(route.name, ns, "failure", n_rows)
            self.fabric.enqueue_retry(
                rows, route.name, cfg, channel=channel, now=now
            )

    # -- retry pump -------------------------------------------------------

    def pump_retries(self, route_name: str, now: datetime | None = None) -> int:
        """One pump cycle: re-deliver due retry rows through the
        ROUTE handler (instant-queue worker, messaging/consumer.clj:
        122-148) or — for channel-attributed rows — through that
        channel's handler (channel instant queues, 150-186)."""
        route = self.routes[route_name]

        def _process(env: DataFrame, channel: str | None) -> None:
            if channel is None:
                self.process_batch(route, env, batch_id=-2, now=now)
            else:
                self._deliver_channel(
                    route, channel, env, now or datetime.now(timezone.utc)
                )

        return self.fabric.pump(route_name, _process, now=now)

    # -- batch routes (S3 poll-cycle equivalent) ---------------------------

    def run_batch_route(
        self, route_name: str, now: datetime | None = None
    ) -> BatchStats:
        """Process a batch route's (non-streaming) source as one
        bounded batch — the engine's equivalent of one S3 poll cycle
        (consumer_handler.clj:98-115); drive repeatedly for a poll
        loop, or register the same route over a streaming source with
        maxOffsetsPerTrigger for the continuous form."""
        route = self.routes[route_name]
        src = route.source()
        if src.isStreaming:
            raise ValueError(
                f"route {route_name}: source is streaming — use start_route"
            )
        return self.process_batch(route, src, batch_id=-3, now=now)

    # -- streaming lifecycle (R9/R10) --------------------------------------

    def start_route(
        self,
        route_name: str,
        trigger_available_now: bool = True,
        processing_time: str | None = None,
    ):
        """Start the route as a Structured Streaming query with the
        batch dataflow inside foreachBatch + checkpointing (R6: the
        manual-commit analogue, stronger per-micro-batch bookkeeping)."""
        route = self.routes[route_name]
        src = route.source()
        if not src.isStreaming:
            raise ValueError(f"route {route_name}: source is not streaming")

        def _for_each(batch_df: DataFrame, batch_id: int) -> None:
            self.process_batch(route, batch_df, batch_id=batch_id)

        writer = (
            src.writeStream.queryName(route_name)
            .foreachBatch(_for_each)
            .option(
                "checkpointLocation",
                os.path.join(self.workdir, "checkpoints", route_name),
            )
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        q = writer.start()
        self.queries[route_name] = q
        return q

    def stop_route(self, route_name: str, drain: bool = True) -> None:
        """Stop a single route (R10, streams.clj:100-123). ``drain``
        waits for the in-flight micro-batch like the reference's
        drain-timeout shutdown (R9, messaging/consumer.clj:210-228)."""
        q = self.queries.pop(route_name, None)
        if q is None:
            return
        if drain:
            try:
                q.processAllAvailable()
            except Exception:
                pass
        q.stop()

    def active_routes(self) -> list[str]:
        return [name for name, q in self.queries.items() if q.isActive]

    def stop_all(self, drain: bool = True) -> None:
        for name in list(self.queries):
            self.stop_route(name, drain=drain)
