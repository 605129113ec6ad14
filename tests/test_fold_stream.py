"""run_fold_stream — the one spelling of the streaming fold scaffold:
its contract (a raising fold, a zero-row source, newest-batch replay)
and the exact job census of the cheap registered folds built on it."""

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


@pytest.mark.parametrize("op", sorted(FOLD_JOB_PINS))
def test_fold_job_count_pin(spark, op):
    """Job counts are deterministic for fixed data and triggers, so a
    probe, recount or re-inference that creeps back into the scaffold
    or a fold shows up here as an exact-count miss."""
    if os.path.basename(SF_SMALL.rstrip("/")) != "sf0.001":
        pytest.skip("job-count pins are calibrated at sf0.001")
    from ziggurat_spark.queries import all_queries
    from ziggurat_spark.tables import load_table

    table, want = FOLD_JOB_PINS[op]
    # load_table infers an input table's schema once per process:
    # warm it so the pin counts the op, not the first-call inference
    load_table(spark, SF_SMALL, table)
    build = all_queries()[op].spark
    j0 = _next_job_id(spark)
    build(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
    assert _next_job_id(spark) - j0 == want
