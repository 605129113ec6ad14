"""run_fold_stream — the one spelling of the streaming fold scaffold:
its contract (a raising fold, a zero-row source, newest-batch replay,
restart arrivals over one checkpoint), _stage_src's batch order, and
the exact warm job census of registered streams at sf0.001."""

from __future__ import annotations

import os
import tempfile

import pytest

from conftest import SF_SMALL


def _next_job_id(spark) -> int:
    """The JVM's monotone job counter (one read is ~0.2 ms)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_raising_fold_propagates_and_removes_checkpoint(spark, monkeypatch):
    """A fold that raises fails the call, leaves no ``zs_ck_*``
    checkpoint dir behind, and never reaches the replay."""
    from ziggurat_spark.queries import streaming_surface as ss

    made: list = []
    real = tempfile.mkdtemp

    def spy(*a, **kw):
        d = real(*a, **kw)
        made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    replayed: list = []

    def boom(b, bid):
        raise RuntimeError("fold-boom-sentinel")

    with pytest.raises(Exception, match="fold-boom-sentinel"):
        ss.run_fold_stream(
            spark,
            spark.range(10),
            2,
            boom,
            replay=lambda b, bid: replayed.append(bid),
        )
    ckpts = [d for d in made if os.path.basename(d).startswith("zs_ck_")]
    assert len(ckpts) == 1
    assert not os.path.exists(ckpts[0])
    assert replayed == []


def test_zero_row_source_never_replays(spark):
    """A zero-row source still stages one (empty) file, so the stream
    runs one empty trigger — but there is nothing to re-deliver."""
    from ziggurat_spark.queries import streaming_surface as ss

    folded: list = []
    replayed: list = []
    ss.run_fold_stream(
        spark,
        spark.range(0),
        3,
        lambda b, bid: folded.append(bid),
        replay=lambda b, bid: replayed.append(bid),
    )
    assert folded  # the empty trigger did run the fold
    assert replayed == []


def test_replay_redelivers_newest_batch_verbatim(spark):
    """Three files, three triggers: the replay gets the newest batch's
    id and exactly the rows that batch folded — once, after the
    stream (the fold saw every batch before it)."""
    from ziggurat_spark.queries import streaming_surface as ss

    folded: dict = {}
    replayed: list = []

    def fold(b, bid):
        folded[bid] = sorted(r.id for r in b.collect())

    src_dir = ss.run_fold_stream(
        spark,
        spark.range(30),
        3,
        fold,
        replay=lambda b, bid: replayed.append(
            (bid, sorted(r.id for r in b.collect()))
        ),
    )
    assert sorted(folded) == [0, 1, 2]
    assert all(folded.values())
    assert sorted(x for v in folded.values() for x in v) == list(range(30))
    assert replayed == [(2, folded[2])]
    assert os.path.isdir(src_dir)


def _ids_by_file(src_dir: str) -> dict:
    """part-file name -> the ``id`` values it holds (driver-side)."""
    import pyarrow.parquet as pq

    from ziggurat_spark.queries import streaming_surface as ss

    return {
        f: pq.read_table(os.path.join(src_dir, f)).column("id").to_pylist()
        for f in ss._part_files(src_dir)
    }


def test_restart_arrivals_share_one_checkpoint(spark):
    """Two arrivals of 2 files each: run 1 folds bids 0-1 over the
    first arrival, run 2 resumes on the same checkpoint and folds ONLY
    the second arrival's files as bids 2-3, whose files are all newer
    than the first arrival's; the replay gets bid 3 verbatim."""
    from ziggurat_spark.queries import streaming_surface as ss

    folded: dict = {}
    replayed: list = []

    def fold(b, bid):
        folded[bid] = sorted(r.id for r in b.collect())

    src_dir = ss.run_fold_stream(
        spark,
        [spark.range(0, 20), spark.range(20, 40)],
        2,
        fold,
        replay=lambda b, bid: replayed.append(
            (bid, sorted(r.id for r in b.collect()))
        ),
    )
    assert sorted(folded) == [0, 1, 2, 3]
    assert all(folded.values())
    assert sorted(folded[0] + folded[1]) == list(range(0, 20))
    assert sorted(folded[2] + folded[3]) == list(range(20, 40))
    assert replayed == [(3, folded[3])]
    by_file = _ids_by_file(src_dir)
    assert len(by_file) == 4
    mtime = {f: os.path.getmtime(os.path.join(src_dir, f)) for f in by_file}
    first = [mtime[f] for f, ids in by_file.items() if max(ids) < 20]
    second = [mtime[f] for f, ids in by_file.items() if min(ids) >= 20]
    assert len(first) == len(second) == 2
    assert min(second) > max(first)


def test_raising_fold_in_restart_run_removes_checkpoint(spark, monkeypatch):
    """A fold that raises in run 2 fails the call, leaves no
    ``zs_ck_*`` dir behind and never replays — run 1's committed
    batches included."""
    from ziggurat_spark.queries import streaming_surface as ss

    made: list = []
    real = tempfile.mkdtemp

    def spy(*a, **kw):
        d = real(*a, **kw)
        made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    folded: list = []
    replayed: list = []

    def fold(b, bid):
        if bid >= 2:
            raise RuntimeError("run2-boom-sentinel")
        folded.append(bid)

    with pytest.raises(Exception, match="run2-boom-sentinel"):
        ss.run_fold_stream(
            spark,
            [spark.range(0, 20), spark.range(20, 40)],
            2,
            fold,
            replay=lambda b, bid: replayed.append(bid),
        )
    assert folded == [0, 1]
    ckpts = [d for d in made if os.path.basename(d).startswith("zs_ck_")]
    assert len(ckpts) == 1
    assert not os.path.exists(ckpts[0])
    assert replayed == []


def test_stage_src_batches_in_part_file_order(spark, tmp_path):
    """One 4-file source staged three times: drained one file per
    trigger, trigger i reads part file i on every staging (the
    parallel write's own mtimes are in task-finish order)."""
    from ziggurat_spark.queries import streaming_surface as ss

    for k in range(3):
        src_dir, schema = ss._stage_src(spark, spark.range(40), 4)
        ck = str(tmp_path / f"ck{k}")
        seen: dict = {}

        def fold(b, bid, ck=ck, seen=seen):
            seen[bid] = [
                f.rsplit("/", 1)[-1] for f in ss._src_log_files(ck, bid)
            ]

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        parts = ss._part_files(src_dir)
        assert len(parts) == 4
        assert [seen[i] for i in range(4)] == [[p] for p in parts]


#: op -> (input table warmed first, exact warm job count at sf0.001):
#: build + materialize of the registered query, around one call
FOLD_JOB_PINS = {
    "x_stream_cms_maintain": ("events", 32),
    "x_stream_hll_maintain": ("events", 30),
    "x_stream_loghist_maintain": ("lineitem", 40),
    "x_stream_weighted_sample": ("documents", 33),
    "x_stream_snapshot_apply": ("documents", 43),
    "x_stream_dsir_maintain": ("documents", 19),
    "x_stream_lsh_maintain": ("documents", 47),
    "x_stream_bottomk_sample": ("documents", 21),
    "x_stream_quality_gate": ("documents", 18),
    "x_stream_mixture_monitor": ("documents", 17),
    "x_stream_decontaminate": ("documents", 24),
    "x_stream_pii_redact": ("documents", 13),
}

#: the same census for the streams outside the fold ops above: the
#: restart ops, the streams staged through _stage_src, the memory-sink
#: drains, the budget fold and the bucketed-store folds
STREAM_JOB_PINS = {
    "x_stream_upsert_state": ("events", 25),
    "x_stream_ann_maintain": ("embeddings", 39),
    "x_stream_ivf_cadence": ("embeddings", 87),
    "x_stream_select_corpus": ("documents", 52),
    "x_stream_budget_restart": ("documents", 70),
    "x_stream_budget_maintenance": ("documents", 60),
    "x_stream_dedup_historic_loop": ("documents", 43),
    "x_stream_exactly_once_restart": ("events", 9),
    "x_stream_upsert_keyed": ("events", 9),
    "x_stream_listener_metrics": ("events", 11),
    "x_stream_state_recovery": ("events", 9),
    "x_stream_poison_shunt": ("events", 10),
    "x_stream_window_finalize": ("events", 10),
    "x_stream_tumbling_counts": ("events", 4),
    "x_stream_windowed_join": ("events", 3),
    "x_stream_session_window": ("events", 4),
    "x_stream_left_join": ("events", 3),
    "x_stream_full_outer_join": ("events", 3),
    "x_stream_dedup": ("events", 4),
    "x_stream_sliding_counts": ("events", 4),
    "x_stream_join_chain": ("events", 3),
    "x_stream_stateful_counts": ("events", 5),
}

JOB_PINS = {**FOLD_JOB_PINS, **STREAM_JOB_PINS}


@pytest.mark.parametrize("op", sorted(JOB_PINS))
def test_fold_job_count_pin(spark, op):
    """Job counts are deterministic for fixed data and triggers, so a
    probe, recount or re-inference that creeps back into the scaffold
    or a fold shows up here as an exact-count miss."""
    if os.path.basename(SF_SMALL.rstrip("/")) != "sf0.001":
        pytest.skip("job-count pins are calibrated at sf0.001")
    from ziggurat_spark.queries import all_queries
    from ziggurat_spark.queries.streaming_surface import _stream_events
    from ziggurat_spark.tables import load_table

    table, want = JOB_PINS[op]
    # load_table and _stream_events infer an input table's schema once
    # per process: warm both so the pin counts the op, not the
    # first-call inference
    load_table(spark, SF_SMALL, table)
    _stream_events(spark, SF_SMALL)
    build = all_queries()[op].spark
    j0 = _next_job_id(spark)
    build(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
    assert _next_job_id(spark) - j0 == want
