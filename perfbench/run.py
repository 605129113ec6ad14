#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload route_steady --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run builds nothing: it stages
seeded inputs under ``perfbench/_work/``, starts Spark as
``local[n]`` (n = min(3, cores - 1)), warms up on a miniature of the
workload, measures the workload, checks its outputs, stops every
process it started and removes its work directory. Human-readable
lines come first; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Exits 1 when a correctness check fails and 2 when the program under
test is not next to this directory. ``perfbench/README.md`` defines
every workload and metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the program and this package from the checkout root, never
# from this directory (its module names could shadow others)
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench import eventlog, host  # noqa: E402
from perfbench.progress import ProgressLog  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from perfbench.stats import median, tail  # noqa: E402
from perfbench.workloads import FOLD_OPS, WORKLOADS, Run  # noqa: E402

NO_PERF_DATA = "-XX:-UsePerfData"

#: end-to-end metrics, printed with --trace 0: name -> unit
END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

_FOLD_LAYERS = {
    f"fold.{op}.{m}": unit
    for op in FOLD_OPS
    for m, unit in (
        ("stream_s", "s"), ("grade_s", "s"), ("jobs", "count"),
        ("triggers", "count"), ("addbatch_ms_p50", "ms"),
        ("trigger_ms_p50", "ms"), ("state_bytes", "bytes"),
        ("state_files", "count"),
    )
}

#: per-layer metrics, printed with --trace 1: name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "microbatch.overhead_ms": "ms",
    "microbatch.query_planning_ms": "ms",
    "microbatch.wal_commit_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "sources.rows_per_trigger": "count",
    "engine.process_batch_ms_p50": "ms",
    "engine.batches": "count",
    "engine.jobs_per_batch": "count",
    "middleware.build_ms": "ms",
    "fabric.enqueue_retry_ms": "ms",
    "fabric.enqueue_dead_ms": "ms",
    "fabric.enqueue_calls": "count",
    "fabric.jobs_per_enqueue": "count",
    "fabric.pump_ms_p50": "ms",
    "fabric.pump_cycles": "count",
    "fabric.pump_rows": "count",
    "fabric.jobs_per_pump": "count",
    "fabric.redelivered_per_enqueued": "ratio",
    "fabric.retry_files": "count",
    "fabric.dead_files": "count",
    "fabric.dead_rows": "count",
    "ops.view_ms": "ms",
    "ops.replay_ms": "ms",
    "ops.delete_ms": "ms",
    "metrics.scrape_ms": "ms",
    **_FOLD_LAYERS,
    "self.drain_s": "s",
    "self.engine_s": "s",
    "self.middleware_s": "s",
    "self.fabric_s": "s",
    "self.ops_s": "s",
    "self.fold_s": "s",
    "spark.jobs": "count",
    "spark.job_busy_s": "s",
    "spark.job_gap_s": "s",
    "spark.task_s": "s",
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
}

#: span names whose self time makes up each ``self.*`` layer
SELF_LAYERS = {
    "self.drain_s": ("route.drain",),
    "self.engine_s": ("engine.process_batch", "engine.deliver_channel"),
    "self.middleware_s": ("middleware.json_value",),
    "self.fabric_s": ("fabric.enqueue_retry", "fabric.enqueue_dead", "fabric.pump",
                      "fabric.pump_until_empty"),
    "self.ops_s": ("ops.view", "ops.replay", "ops.delete"),
    "self.fold_s": tuple(
        f"fold.{op}.{part}"
        for op in FOLD_OPS
        for part in ("build", "materialize")
    ),
}


def process_start_wall() -> float:
    """Wall-clock time at which this process started (interpreter
    start included), from /proc."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = process_start_wall()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ziggurat_spark", "__init__.py")):
        print(f"perfbench: no ziggurat_spark package in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    out_dir = os.path.join(HERE, "out")
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # keep every file the run writes inside the checkout: the engine's
    # scratch dirs (tempfile), Spark's block manager and the JVM's tmp
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVMs would otherwise keep perf counters under /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), NO_PERF_DATA]))
    try:
        return _run(args, t_start, run_id, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


def _run(args, t_start: float, run_id: str, work: str, out_dir: str) -> int:
    meta = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_start": host.loadavg_1m(),
        **host.source_version(ROOT),
    }
    parallelism = max(1, min(3, meta["nproc"] - 1))
    meta["spark_parallelism"] = parallelism
    ticks0 = host.cpu_ticks()
    rss = host.RssSampler().start()

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {NO_PERF_DATA}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
    }
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from ziggurat_spark.session import get_session

    t = time.perf_counter()
    spark = get_session(app_name="perfbench", master=f"local[{parallelism}]",
                        shuffle_partitions=parallelism, extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        progress = ProgressLog()
        spark.streams.addListener(progress)
        run = Run(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            tracer=Tracer(run_id, bool(args.trace), {"jobs": lambda: int(dag.nextJobId())}),
            progress=progress, jobs=lambda: int(dag.nextJobId()),
            data_dir=os.path.join(HERE, "data", "sf0.01"), rss=rss,
        )
        workload = WORKLOADS[args.workload]
        error = None
        try:
            workload(run, warm=True)
            run.tracer.spans.clear()
            run.job_log.clear()
            run.measuring = True
            res = workload(run, warm=False)
        except Exception:  # noqa: BLE001 — a failed run still reports and stops Spark
            error = traceback.format_exc()
            res = None
        # measured while the JVM is up: the span wrapper reads the job counter
        span_cost_s = run.tracer.span_cost_s() if args.trace else 0.0
        peak_rss = rss.stop()  # a no-op unless the timed region never ended
    finally:
        _stop_spark(spark)
    meta["loadavg_1m_end"] = host.loadavg_1m()
    meta["steal_share"] = host.steal_share(ticks0, host.cpu_ticks())

    if error is not None:
        print(error, file=sys.stderr)
        run.check("workload.completed", False, error.strip().splitlines()[-1], 1)
        res = {"attempted": 1, "records_per_s": 0.0, "latency_ms": [], "layers": {}}

    setup_s = (run.t_measure_wall or time.time()) - t_start
    e2e = {
        "setup_s": setup_s,
        "records_per_s": res["records_per_s"],
        "latency_p50_ms": median(res["latency_ms"]),
        "peak_rss_mb": peak_rss / 2**20,
    }
    layers = _layers(run, res, session_s, span_cost_s, evdir if args.trace else None)
    failed = sum(c["failed_ops"] for c in run.checks)
    correct = all(c["ok"] for c in run.checks)

    record = {
        "meta": meta, "correct": correct, "end_to_end": e2e, "per_layer": layers,
        "latency_ms": res["latency_ms"],
        "job_counts": _job_counts(run.job_log), "checks": run.checks,
        "notes": run.notes,
    }
    repeat = _repeatability(out_dir, record)
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, f"trace-{run_id}.json"))
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    _report(record, repeat, out_dir, args)
    metrics = (
        {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
        if args.trace
        else {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    )
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _layers(run, res, session_s: float, span_cost_s: float, evdir: str | None) -> dict:
    tr = run.tracer
    out = dict(res["layers"])
    out["session.start_s"] = session_s
    batches = [j for lbl, j in run.job_log if lbl == "engine.process_batch"]
    pumps = [j for lbl, j in run.job_log if lbl == "fabric.pump"]
    if batches:
        out["engine.jobs_per_batch"] = median(batches)
    if pumps:
        out["fabric.jobs_per_pump"] = median(pumps)
    if not tr.enabled:
        return out
    mw = tr.durations("middleware.json_value")
    if mw:
        out["middleware.build_ms"] = median(mw) * 1000
    enq = ("fabric.enqueue_retry", "fabric.enqueue_dead")
    if tr.durations(enq[0]) or tr.durations(enq[1]):
        out.update({
            "fabric.enqueue_retry_ms": median(tr.durations(enq[0])) * 1000,
            "fabric.enqueue_dead_ms": median(tr.durations(enq[1])) * 1000,
            "fabric.enqueue_calls": sum(len(tr.durations(n)) for n in enq),
            "fabric.jobs_per_enqueue": median(
                tr.counter_deltas(enq[0], "jobs") + tr.counter_deltas(enq[1], "jobs")
            ),
        })
    selfs = tr.self_times()
    for layer, names in SELF_LAYERS.items():
        if any(n in selfs for n in names):
            out[layer] = sum(selfs[n]["self_s"] for n in names if n in selfs)
    out["trace.spans"] = len(tr.spans)
    out["trace.overhead_ms"] = len(tr.spans) * span_cost_s * 1000
    if evdir and run.t_measure_wall:
        out.update(eventlog.summarize(evdir, run.t_measure_wall * 1000,
                                      run.t_measure_end_wall * 1000))
    return out


def _job_counts(job_log) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for label, n in job_log:
        out.setdefault(label, []).append(int(n))
    return out


def _prior_runs(out_dir: str, meta: dict):
    """Earlier run records of the same workload, size and program
    source in ``out_dir``."""
    path = os.path.join(out_dir, "runs.jsonl")
    if not os.path.exists(path):
        return
    with open(path) as f:
        for line in f:
            try:
                prev = json.loads(line)
            except ValueError:
                continue
            pm = prev.get("meta", {})
            if all(pm.get(k) == meta[k] for k in ("workload", "seconds", "source_sha256")):
                yield prev


def _repeatability(out_dir: str, record: dict) -> dict:
    """Compare this run's job counts with every earlier recorded run of
    the same workload, size and program source: for each label, whether
    the count sequence repeated exactly, and the range of totals seen."""
    mine = record["job_counts"]
    seen: dict[str, list[int]] = {lbl: [sum(v)] for lbl, v in mine.items()}
    exact = {lbl: True for lbl in mine}
    for prev in _prior_runs(out_dir, record["meta"]):
        for lbl, counts in prev.get("job_counts", {}).items():
            if lbl in mine:
                seen[lbl].append(sum(counts))
                exact[lbl] = exact[lbl] and counts == mine[lbl]
    return {lbl: {"exact": exact[lbl], "runs": len(seen[lbl]),
                  "min_total": min(seen[lbl]), "max_total": max(seen[lbl])}
            for lbl in mine}


def _report(record: dict, repeat: dict, out_dir: str, args) -> None:
    m = record["meta"]
    print(f"# perfbench {m['workload']} seed={m['seed']} seconds={m['seconds']} "
          f"trace={m['trace']} local[{m['spark_parallelism']}] nproc={m['nproc']}")
    print(f"# host: loadavg_1m {m['loadavg_1m_start']} -> {m['loadavg_1m_end']}, "
          f"steal {m['steal_share']}, commit {m['git_commit']}, "
          f"source {m['source_sha256']}")
    for name, unit in END_TO_END.items():
        print(f"{name:<20} {record['end_to_end'][name]:>14.4f} {unit}")
    lat = record["latency_ms"]
    t = tail(lat)
    print(f"latency: {len(lat)} micro-batch samples; tail: "
          + (f"p{t[0]:.0f} = {t[1]:.1f} ms" if t else
             "none (no percentile above the median has 10 samples beyond it)"))
    for c in record["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail'][:200]}")
    for lbl, r in sorted(repeat.items()):
        counts = record["job_counts"][lbl]
        print(f"jobs {lbl}: {len(counts)} calls, per call {sorted(set(counts))}, "
              f"total {sum(counts)}; "
              + (f"repeats exactly over {r['runs']} runs" if r["exact"]
                 else f"varies over {r['runs']} runs: totals {r['min_total']}..{r['max_total']}"))
    if args.trace:
        layers = record["per_layer"]
        for name, unit in PER_LAYER.items():
            v = layers.get(name)
            why = "" if v is not None else "  (not exercised by this workload)"
            print(f"{name:<44} {0.0 if v is None else v:>14.4f} {unit}{why}")
        _overhead_vs_untraced(out_dir, record)
    for n in record["notes"]:
        print(f"note: {n}")


def _overhead_vs_untraced(out_dir: str, record: dict) -> None:
    """Print this traced run's records/s against the median of the
    untraced runs of the same workload, size and program source
    recorded so far."""
    vals = [
        prev["end_to_end"]["records_per_s"]
        for prev in _prior_runs(out_dir, record["meta"])
        if prev["meta"].get("trace") == 0 and prev.get("correct")
    ]
    if not vals:
        print("tracing overhead: no untraced run of this workload recorded yet")
        return
    base = median(vals)
    mine = record["end_to_end"]["records_per_s"]
    print(f"tracing overhead: records_per_s {mine:.2f} traced vs {base:.2f} "
          f"untraced median of {len(vals)} runs ({(base / mine - 1) * 100:+.1f}% time)")


def _stop_spark(spark) -> None:
    """Stop Spark and the gateway JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — JVM may already be gone
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
