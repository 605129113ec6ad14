"""EpochStore fault and cold-restart drill.

Store level, for both fold policies (``cadence=None``, the sketch
policy, and ``cadence=K``, size-tiered): a failure injected mid-write,
after the write but before the commit, mid-delete, and in one of the
pool's two writes. Reopening the store over the same dir must leave
live exactly the rows that were committed — none lost, none counted
twice. The store-level writers are the driver-side pyarrow count
writers, so these tests start no Spark job.

The sketch policy's combined step (``write_runs`` with epoch writers:
the batch's run and the fold of older state, one commit): either
writer dying after the other finished, a crash between the commit and
the deletes, and a re-delivery of the newest batch after the step.

Op level: the CMS fold, the tiered LSH fold and ER's count state are
cold-restarted — two batches through one closure, the third through a
fresh closure over the same dir — and must equal a one-shot run. One
CMS stream commits once per trigger.

Bucketed state (``write_buckets``, the committed bucket map behind
``bucketed_lww_merge``, the budget fold and the IVF serving index):
untouched buckets carry over and emptied ones leave the map; a crash
mid-write or before the commit keeps the old map; a crash between the
commit and the prune counts each key once after a reopen; an LWW
stream cold-reopened halfway equals the one-shot merge; and a
re-delivered batch over the bucket it last wrote holds its contents.

Single-version state (``_version_fold``, driven with the bottom-k
step): a store reopened between two halves of a stream equals the
one-shot sample and keeps one version on disk, and a crash between
the version write and its commit leaves the old version live.

Order stamps: a CC forest fold that re-delivers its newest batch and
then relabels a node that re-delivery wrote labels it as a one-shot
fold does.
"""

from __future__ import annotations

import os
import threading

import pytest

from ziggurat_spark.queries import epoch_store as es
from ziggurat_spark.queries.epoch_store import EpochStore
from ziggurat_spark.queries.streaming_surface import (
    _count_fold,
    _count_rows,
    _write_counts,
)


class Crash(Exception):
    """The injected failure."""


def _fold_writer(ins, out):
    _write_counts(out, _count_rows(ins))


def _put(store, bid, kinds=("a",), n=None):
    """Commit batch ``bid``: ten keys per batch, each counted once
    (or one key counted ``n`` times)."""
    rows = {0: n} if n else {k: 1 for k in range(bid * 10, bid * 10 + 10)}
    store.write_runs(
        bid, {k: (lambda p, r=rows: _write_counts(p, r)) for k in kinds}
    )


def _state(store, kinds=("a",)) -> dict:
    return {k: _count_rows(store.live(k)) for k in kinds}


def _clean(store, kinds=("a",)) -> bool:
    """Every entry under the root is the manifest or a live dir."""
    live = {os.path.basename(p) for k in kinds for p in store.live(k)}
    return set(os.listdir(store.root)) == live | {es.MANIFEST}


def _committed(tmp_path, kinds=("a",)) -> EpochStore:
    """Four committed, unfolded batches."""
    store = EpochStore(str(tmp_path / "st"))
    for bid in range(4):
        _put(store, bid, kinds)
    return store


CADENCES = [None, 2]


@pytest.mark.parametrize("cadence", CADENCES)
def test_fold_without_faults_keeps_every_row(tmp_path, cadence):
    store = _committed(tmp_path)
    want = _state(store)
    events = store.fold(4, {"a": _fold_writer}, cadence)
    assert events and _state(store) == want
    assert list(store.runs("a")) == []
    assert _clean(store)  # the store that folded deleted its inputs
    reopened = EpochStore(store.root)
    assert _state(reopened) == want and _clean(reopened)


@pytest.mark.parametrize("cadence", CADENCES)
def test_crash_mid_epoch_write(tmp_path, cadence):
    """The epoch writer dies after writing part of its output: the
    half-written epoch is not state, the inputs stay live."""
    store = _committed(tmp_path)
    want = _state(store)

    def torn(ins, out):
        _write_counts(out, {0: 999})
        raise Crash

    with pytest.raises(Crash):
        store.fold(4, {"a": torn}, cadence)
    reopened = EpochStore(store.root)
    assert _state(reopened) == want
    assert list(reopened.runs("a")) == [0, 1, 2, 3]
    assert _clean(reopened)


@pytest.mark.parametrize("cadence", CADENCES)
def test_crash_after_write_before_commit(tmp_path, cadence, monkeypatch):
    """The epoch is fully written but the manifest commit never
    happens: the epoch is dropped on open, the inputs stay live."""
    store = _committed(tmp_path)
    want = _state(store)

    def no_commit(*_a):
        raise Crash

    monkeypatch.setattr(es.os, "replace", no_commit)
    with pytest.raises(Crash):
        store.fold(4, {"a": _fold_writer}, cadence)
    monkeypatch.undo()
    reopened = EpochStore(store.root)
    assert _state(reopened) == want
    assert list(reopened.runs("a")) == [0, 1, 2, 3]
    assert _clean(reopened)


@pytest.mark.parametrize("cadence", CADENCES)
def test_crash_mid_delete(tmp_path, cadence, monkeypatch):
    """The commit happened and the delete of its inputs dies after
    one dir: open finishes the delete, nothing is counted twice."""
    store = _committed(tmp_path)
    want = _state(store)
    real = es._remove
    calls: list = []

    def dying(path):
        calls.append(path)
        if len(calls) == 2:
            raise Crash
        real(path)

    monkeypatch.setattr(es, "_remove", dying)
    with pytest.raises(Crash):
        store.fold(4, {"a": _fold_writer}, cadence)
    monkeypatch.undo()
    leftovers = set(os.listdir(store.root))
    reopened = EpochStore(store.root)
    assert _state(reopened) == want
    assert _clean(reopened)
    assert len(set(os.listdir(reopened.root))) < len(leftovers)
    # the store goes on folding from the committed state
    _put(reopened, 4)
    reopened.fold(5, {"a": _fold_writer}, cadence)
    want["a"].update({k: 1 for k in range(40, 50)})
    assert _state(EpochStore(store.root)) == want


@pytest.mark.parametrize("cadence", CADENCES)
def test_crash_in_one_pool_write(tmp_path, cadence):
    """Two kinds fold on the 2-worker pool and one write fails: no
    commit, so neither kind's epoch is state."""
    kinds = ("a", "b")
    store = _committed(tmp_path, kinds)
    want = _state(store, kinds)

    def failing(ins, out):
        raise Crash

    with pytest.raises(Crash):
        store.fold(4, {"a": _fold_writer, "b": failing}, cadence)
    reopened = EpochStore(store.root)
    assert _state(reopened, kinds) == want
    assert _clean(reopened, kinds)
    reopened.fold(4, {"a": _fold_writer, "b": _fold_writer}, cadence)
    assert _state(EpochStore(store.root), kinds) == want


def test_crash_mid_run_rewrite_keeps_committed_run(tmp_path):
    """A re-delivered batch whose run rewrite dies: its committed run
    stays live until a rewrite commits."""
    store = _committed(tmp_path)
    want = _state(store)

    def torn(p):
        _write_counts(p, {0: 999})
        raise Crash

    with pytest.raises(Crash):
        store.write_runs(3, {"a": torn})
    reopened = EpochStore(store.root)
    assert _state(reopened) == want and _clean(reopened)
    _put(reopened, 3)  # the replay, this time whole
    assert _state(EpochStore(store.root)) == want
    assert list(reopened.runs("a")) == [0, 1, 2, 3]


def test_fold_reads_only_strictly_older_runs(tmp_path):
    store = _committed(tmp_path)
    store.fold(2, {"a": _fold_writer}, None)
    assert list(store.runs("a")) == [2, 3]
    assert store.live("a", skip=3) == store.live("a")[:-1]


def test_restart_of_the_tier_fold_loses_no_rows(tmp_path):
    """A tiered store reopened mid-stream (a process restart) goes on
    numbering from the manifest's seq (a compactor that kept its
    sequence number in memory overwrote its first level-1 epoch here
    and kept 30 of the 50 rows)."""
    root = str(tmp_path / "st")
    store = EpochStore(root)
    for bid in range(3):
        store.fold(bid, {"a": _fold_writer}, 2)
        _put(store, bid)
    store = EpochStore(root)  # restart
    for bid in range(3, 5):
        store.fold(bid, {"a": _fold_writer}, 2)
        _put(store, bid)
    assert _state(store)["a"] == {k: 1 for k in range(50)}
    assert len(store.live("a")) == 2  # one level-2 epoch + run 4
    assert _clean(store)


def test_tier_cascade_keeps_epochs_oldest_first(tmp_path):
    """Six unfolded runs (a restart that found many) folded at K=2 in
    one call: three level-1 epochs, the oldest two of which climb to
    level 2. Epochs stay oldest first, every row is live once, and
    the store that folded deleted every input."""
    store = EpochStore(str(tmp_path / "st"))
    for bid in range(6):
        _put(store, bid)
    want = _state(store)
    events = store.fold(6, {"a": _fold_writer}, 2)
    assert [e["level"] for e in events] == [0, 0, 0, 1]
    assert _state(store) == want and _clean(store)
    # the level-2 epoch (batches 0-3) before the level-1 one (4-5)
    assert [min(_count_rows([p])) for p in store.live("a")] == [0, 40]
    assert EpochStore(store.root).live("a") == store.live("a")


def test_failed_delete_raises_after_the_commit(tmp_path, monkeypatch):
    """A superseded dir that cannot be deleted raises, after the fold
    committed; the next open removes it."""
    store = _committed(tmp_path)
    want = _state(store)
    real = es.shutil.rmtree

    def denied(path, *a, **kw):
        if not kw.get("ignore_errors"):
            raise PermissionError(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(es.shutil, "rmtree", denied)
    with pytest.raises(PermissionError):
        store.fold(4, {"a": _fold_writer}, None)
    monkeypatch.undo()
    assert _state(store) == want and not _clean(store)
    reopened = EpochStore(store.root)
    assert _state(reopened) == want and _clean(reopened)


def test_replay_after_restart_replaces_the_run(tmp_path):
    """The newest batch re-delivered by a fresh process: its new run
    gets a fresh name (seq comes from the manifest), so replacing the
    committed run never deletes the rows just written."""
    root = str(tmp_path / "st")
    _put(EpochStore(root), 0)
    store = EpochStore(root)
    _put(store, 0)
    assert _state(EpochStore(root))["a"] == {k: 1 for k in range(10)}


def test_crash_between_epoch_write_and_delete_counts_once(
    tmp_path, monkeypatch
):
    """The sketch policy's crash after the epoch write and the first
    input delete (a reader that unioned every epoch and partial dir on
    disk summed 15 here where the true total is 10)."""
    store = EpochStore(str(tmp_path / "st"))
    for bid in range(2):
        _put(store, bid, n=5)
    real = es._remove
    calls: list = []

    def dying(path):
        calls.append(path)
        if len(calls) == 2:
            raise Crash
        real(path)

    monkeypatch.setattr(es, "_remove", dying)
    with pytest.raises(Crash):
        store.fold(2, {"a": _fold_writer})
    monkeypatch.undo()
    assert _state(EpochStore(store.root))["a"] == {0: 10}


def test_count_state_cold_restart(tmp_path):
    """ER's candidate-count state: two batches, then a fresh store over
    the same dir for batch 3 and its replay — equal to a one-shot."""
    root = str(tmp_path / "candn")
    first = EpochStore(root)
    for bid, n in ((0, 5), (1, 7)):
        _count_fold(first, bid, n)
    again = EpochStore(root)
    _count_fold(again, 2, 11)
    _count_fold(again, 2, 11)  # the newest batch re-delivered
    one = EpochStore(str(tmp_path / "one"))
    _count_fold(one, 0, 23)
    assert _count_rows(again.live("n")) == _count_rows(one.live("n"))


def _step(store, bid, run=None, epoch=None):
    """Batch ``bid``'s combined sketch step: its ten-key run and the
    fold of every older run and epoch, under one commit."""
    rows = {k: 1 for k in range(bid * 10, bid * 10 + 10)}
    store.write_runs(
        bid,
        {"a": run or (lambda p: _write_counts(p, rows))},
        {"a": epoch or _fold_writer},
    )


def _one_shot(n: int) -> dict:
    """The state one batch carrying batches 0..n-1's rows commits."""
    return {"a": {k: 1 for k in range(n * 10)}}


def _stepped(tmp_path, n: int) -> EpochStore:
    """Batches 0..n-1 through the combined step: one epoch holding
    0..n-2 and the live run n-1."""
    store = EpochStore(str(tmp_path / "st"))
    for bid in range(n):
        _step(store, bid)
    assert _state(store) == _one_shot(n) and _clean(store)
    assert list(store.runs("a")) == [n - 1] and len(store.live("a")) == 2
    return store


@pytest.mark.parametrize("dies", ["run", "epoch"])
def test_combined_step_writer_dies_after_the_other_wrote(tmp_path, dies):
    """One writer of the combined step raises after the other one's
    dir is fully written: nothing commits, so a cold reopen holds the
    state before the step; the re-delivered step then commits whole
    and the store that ran it leaves only live dirs on disk."""
    store = _stepped(tmp_path, 3)
    before = _state(store)
    wrote = threading.Event()

    def survivor_run(p):
        _write_counts(p, {k: 1 for k in range(30, 40)})
        wrote.set()

    def survivor_epoch(ins, out):
        _fold_writer(ins, out)
        wrote.set()

    def torn_run(p):
        assert wrote.wait(30)
        _write_counts(p, {0: 999})
        raise Crash

    def torn_epoch(ins, out):
        assert wrote.wait(30)
        _write_counts(out, {0: 999})
        raise Crash

    if dies == "run":
        run, epoch = torn_run, survivor_epoch
    else:
        run, epoch = survivor_run, torn_epoch
    with pytest.raises(Crash):
        _step(store, 3, run, epoch)
    assert wrote.is_set()
    reopened = EpochStore(store.root)
    assert _state(reopened) == before and _clean(reopened)
    _step(reopened, 3)
    assert _clean(reopened)
    assert _state(EpochStore(store.root)) == _one_shot(4)


def test_combined_step_crash_between_commit_and_deletes(
    tmp_path, monkeypatch
):
    """The combined step committed and its first delete dies: the
    superseded epoch and run stay on disk but are not state, so a cold
    reopen counts every row once; the reopened store goes on stepping
    and deletes what each step supersedes."""
    store = _stepped(tmp_path, 3)

    def dying(path):
        raise Crash

    monkeypatch.setattr(es, "_remove", dying)
    with pytest.raises(Crash):
        _step(store, 3)
    monkeypatch.undo()
    assert _state(store) == _one_shot(4) and not _clean(store)
    reopened = EpochStore(store.root)
    assert _state(reopened) == _one_shot(4) and _clean(reopened)
    _step(reopened, 4)
    assert _clean(reopened)
    assert _state(EpochStore(store.root)) == _one_shot(5)


def test_combined_step_redelivery_replaces_only_its_run(tmp_path):
    """The newest batch re-delivered after a combined step: it folds
    nothing (no run is strictly older), so the epoch stays as it was
    and only the batch's own run is replaced."""
    store = _stepped(tmp_path, 4)
    epoch = store.live("a")[0]
    run = store.runs("a")[3]
    _step(store, 3)
    assert store.live("a")[0] == epoch
    assert list(store.runs("a")) == [3] and store.runs("a")[3] != run
    assert _state(store) == _one_shot(4) and _clean(store)
    assert _state(EpochStore(store.root)) == _one_shot(4)


def _thirds(df, col: str):
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(col), F.lit(3))
    return [df.filter(h == i) for i in range(3)]


def test_cms_fold_cold_restart(spark, tmp_path):
    from pyspark.sql import functions as F

    from ziggurat_spark.queries.streaming_surface import (
        _cms_partial,
        _sum_fold,
    )
    from ziggurat_spark.tables import load_table

    from conftest import SF_SMALL

    ev = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    keys = ("j", "cell")

    def counters(store):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(*store.live("part"))
            .groupBy(*keys)
            .agg(F.sum("c").alias("c"))
            .collect()
        )

    root = str(tmp_path / "cms")
    b = _thirds(ev, "user_id")
    fold = _sum_fold(spark, EpochStore(root), _cms_partial, keys)
    fold(b[0], 0)
    fold(b[1], 1)
    store = EpochStore(root)
    fresh = _sum_fold(spark, store, _cms_partial, keys)
    fresh(b[2], 2)
    fresh(b[2], 2)  # the newest batch re-delivered
    one = EpochStore(str(tmp_path / "one"))
    _sum_fold(spark, one, _cms_partial, keys)(ev, 0)
    assert counters(store) == counters(one)
    assert len(store.live("part")) == 2  # one epoch + the live partial


def test_lsh_cadence_fold_cold_restart(spark, tmp_path):
    from ziggurat_spark.queries.streaming_surface import (
        _lsh_fold,
        _lsh_tiered_fold,
    )
    from ziggurat_spark.tables import load_table

    from conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")

    def pairs(store):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(*store.live("pairs"))
            .distinct()
            .collect()
        )

    root = str(tmp_path / "lsh")
    b = _thirds(docs, "doc_id")
    folds: list = []
    fold = _lsh_tiered_fold(spark, EpochStore(root), 2, [], folds)
    fold(b[0], 0)
    fold(b[1], 1)
    store = EpochStore(root)
    fresh = _lsh_tiered_fold(spark, store, 2, [], folds)
    fresh(b[2], 2)
    fresh(b[2], 2)  # the newest batch re-delivered
    assert folds == [{"level": 0, "inputs": 2}]
    one = EpochStore(str(tmp_path / "one"))
    _lsh_fold(spark, one)(docs, 0)
    want = pairs(one)
    assert want and pairs(store) == want


def test_cms_stream_commits_once_per_trigger(spark, monkeypatch):
    """One CMS maintenance stream commits its store once per trigger
    (the run and the fold of older state together) plus once for the
    newest-batch replay: 6 triggers + 1 (a fold commit and a run
    commit per trigger made it 12)."""
    from ziggurat_spark.queries import streaming_surface as ss

    from conftest import SF_SMALL

    assert ss.STREAM_CMS_SRC_FILES == 6
    real = EpochStore._commit
    commits: list = []

    def counted(self, *a):
        commits.append(self.root)
        real(self, *a)

    monkeypatch.setattr(EpochStore, "_commit", counted)
    store, _ev = ss._cms_stream_state(spark, SF_SMALL)
    assert len(commits) == 7 and set(commits) == {store.root}


# -- bucketed state: write_buckets and the committed bucket map --


def _buckets_put(store, rows_by_kb, touched=None):
    """One bucket version: bucket -> {key: n} rows, each written under
    the version's ``kb=`` subdir; ``touched`` defaults to the buckets
    written (a touched bucket left without rows empties)."""

    def write(path):
        for b, rows in rows_by_kb.items():
            _write_counts(os.path.join(path, f"kb={b}"), rows)

    store.write_buckets(
        write, sorted(rows_by_kb if touched is None else touched)
    )


def _buckets_state(store) -> dict:
    """key -> summed n over the live bucket dirs."""
    return _count_rows(list(store.buckets().values()))


def _buckets_clean(store) -> bool:
    """Every entry under the root is the manifest or a version some
    live bucket points into."""
    live = {
        os.path.relpath(d, store.root).split(os.sep)[0]
        for d in store.buckets().values()
    }
    return set(os.listdir(store.root)) == live | {es.MANIFEST}


def _two_versions(tmp_path) -> EpochStore:
    """Buckets 0 and 1 written by the first version; bucket 1 then
    rewritten with one more key (the LWW merge's content: the old
    rows plus the new ones)."""
    store = EpochStore(str(tmp_path / "bk"))
    _buckets_put(store, {0: {0: 1, 2: 1}, 1: {1: 1}})
    _buckets_put(store, {1: {1: 1, 3: 1}})
    assert _buckets_state(store) == {0: 1, 1: 1, 2: 1, 3: 1}
    assert _buckets_clean(store)
    return store


def test_write_buckets_carries_untouched_and_drops_emptied(tmp_path):
    """Untouched buckets keep their dir by reference, a touched bucket
    without a kb= subdir leaves the map, and a version no bucket
    references any more is deleted once the map commits."""
    store = _two_versions(tmp_path)
    zero = store.buckets()[0]
    _buckets_put(store, {2: {4: 1}}, touched=[1, 2])
    assert store.buckets()[0] == zero
    assert sorted(store.buckets()) == [0, 2]
    assert _buckets_state(store) == {0: 1, 2: 1, 4: 1}
    assert _buckets_clean(store)
    # a version whose every touched bucket emptied is not kept either
    _buckets_put(store, {}, touched=[2])
    assert sorted(store.buckets()) == [0] and _buckets_clean(store)
    reopened = EpochStore(store.root)
    assert reopened.buckets() == store.buckets()


@pytest.mark.parametrize("where", ["mid_write", "before_commit"])
def test_bucket_crash_before_commit_keeps_the_old_map(
    tmp_path, monkeypatch, where
):
    """A crash while the new version is written, or after it is
    written and before the manifest commit: a reopened store holds the
    old bucket map and no torn version dir."""
    store = _two_versions(tmp_path)
    before = store.buckets()
    want = _buckets_state(store)

    if where == "mid_write":

        def write(path):
            _write_counts(os.path.join(path, "kb=0"), {0: 999})
            raise Crash

        with pytest.raises(Crash):
            store.write_buckets(write, [0, 2])
    else:

        def no_commit(*_a):
            raise Crash

        monkeypatch.setattr(es.os, "replace", no_commit)
        with pytest.raises(Crash):
            _buckets_put(store, {0: {0: 999}, 2: {5: 1}})
        monkeypatch.undo()
    assert not _buckets_clean(store)  # the torn version is on disk
    reopened = EpochStore(store.root)
    assert reopened.buckets() == before
    assert _buckets_state(reopened) == want
    assert _buckets_clean(reopened)


def test_bucket_crash_between_commit_and_prune_counts_once(
    tmp_path, monkeypatch
):
    """The new map committed and the prune of the version it
    superseded dies: that version still holds bucket 1's old rows on
    disk, but a reopen reads only the committed map — each key once —
    and leaves only the manifest and the live versions."""
    store = _two_versions(tmp_path)

    def dying(path):
        raise Crash

    monkeypatch.setattr(es, "_remove", dying)
    # rewrite both buckets: the first two versions are superseded
    with pytest.raises(Crash):
        _buckets_put(store, {0: {0: 1, 2: 1, 6: 1}, 1: {1: 1, 3: 1}})
    monkeypatch.undo()
    want = {0: 1, 1: 1, 2: 1, 3: 1, 6: 1}
    assert _buckets_state(store) == want and not _buckets_clean(store)
    reopened = EpochStore(store.root)
    assert _buckets_state(reopened) == want
    assert _buckets_clean(reopened)
    assert len(os.listdir(reopened.root)) == 2  # manifest + 1 version


def _lww_events():
    """40 (user_id, ts, event_id, val) events over 10 keys, coarse ts
    so the event_id tie-break matters."""
    import random

    rng = random.Random(20261019)
    return [
        (rng.randrange(10), rng.randrange(4), i, f"v{i}")
        for i in range(40)
    ]


def _lww_merge(spark, store, rows):
    from pyspark.sql import functions as F

    from ziggurat_spark.queries.streaming_surface import bucketed_lww_merge

    proj = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, val string"
    ).withColumn("kb", F.pmod(F.col("user_id"), F.lit(4)))
    return bucketed_lww_merge(
        spark,
        store,
        proj,
        key="user_id",
        order_cols=(F.desc("ts"), F.desc("event_id")),
    )


def _lww_rows(spark, store) -> list:
    return sorted(
        tuple(r)
        for r in spark.read.parquet(*store.buckets().values())
        .select("user_id", "ts", "event_id", "val")
        .collect()
    )


def test_lww_cold_reopen_between_halves_equals_one_shot(spark, tmp_path):
    """Half an LWW stream, then a fresh store over the same root (the
    process's pinned read schema dropped too, as in a new process)
    takes the second half: the result equals one merge of the whole
    log, and only the manifest and live versions are on disk."""
    from ziggurat_spark.queries import streaming_surface as ss

    events = _lww_events()
    # the first batch alone writes bucket 3 (keys 3 and 7) and the rest
    # of the first half never touches it, so the first version is
    # still live at the reopen: a reopened store that named versions
    # from zero again would overwrite it
    pin = (3, 9, 99, "pin")
    early = [e for e in events if e[0] % 4 != 3][:16]
    late = [e for e in events if e not in early]
    root = str(tmp_path / "lww")
    first = EpochStore(root)
    _lww_merge(spark, first, [pin])
    for i in range(0, 16, 4):
        _lww_merge(spark, first, early[i : i + 4])
    ss._READ_SCHEMA.pop(("lww", root), None)
    again = EpochStore(root)
    assert again.buckets() == first.buckets()
    for i in range(0, len(late), 6):
        _lww_merge(spark, again, late[i : i + 6])
    one = EpochStore(str(tmp_path / "one"))
    _lww_merge(spark, one, events + [pin])
    assert _lww_rows(spark, again) == _lww_rows(spark, one)
    assert _buckets_clean(again)


def test_lww_redelivery_over_the_bucket_it_last_wrote(spark, tmp_path):
    """The newest batch re-delivered after it was the last writer of
    its bucket: the merge reads that bucket's version and commits a
    fresh one beside it (reusing the name would overwrite the dir the
    merge is reading), so the contents hold and the replaced version
    is deleted."""
    store = EpochStore(str(tmp_path / "lww"))
    _lww_merge(spark, store, [(1, 1, 1, "a"), (2, 1, 2, "b")])
    last = [(2, 2, 3, "c"), (6, 2, 4, "d")]  # bucket 2 only
    assert _lww_merge(spark, store, last) == [2]
    want = _lww_rows(spark, store)
    one, two = store.buckets()[1], store.buckets()[2]
    assert _lww_merge(spark, store, last) == [2]
    assert store.buckets()[1] == one and store.buckets()[2] != two
    assert not os.path.exists(os.path.dirname(two))
    assert _lww_rows(spark, store) == want
    assert _buckets_clean(store)
    assert _lww_rows(spark, EpochStore(store.root)) == want


def _bottomk_fold(spark, store):
    from ziggurat_spark.queries.streaming_surface import (
        _bottomk_step,
        _version_fold,
    )

    return _version_fold(spark, store, _bottomk_step(("hk", "doc_id"), 3))


def _sample(spark, store) -> list:
    from ziggurat_spark.queries.streaming_surface import _version_read

    rows = _version_read(spark, store).select("source", "doc_id").collect()
    return sorted(tuple(r) for r in rows)


def _hashed_docs(spark):
    from pyspark.sql import functions as F

    from ziggurat_spark.tables import load_table

    from conftest import SF_SMALL

    return load_table(spark, SF_SMALL, "documents").select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
    )


def _one_version(store) -> bool:
    """Only the manifest and the one live version are on disk."""
    (live,) = store.live("v")
    return sorted(os.listdir(store.root)) == sorted(
        [os.path.basename(live), es.MANIFEST]
    )


def test_version_fold_cold_reopen_between_halves(spark, tmp_path):
    """The single-version fold with the bottom-k step: two batches,
    then a fresh store over the same root (the pinned read schema
    dropped too, as in a new process) takes the other two and a
    re-delivery of the newest. The sample equals the one-shot sample,
    and one version is all that is left on disk."""
    from pyspark.sql import functions as F

    from ziggurat_spark.queries import streaming_surface as ss

    docs = _hashed_docs(spark)
    h = F.pmod(F.xxhash64("doc_id"), F.lit(4))
    b = [docs.filter(h == i) for i in range(4)]
    root = str(tmp_path / "bk")
    fold = _bottomk_fold(spark, EpochStore(root))
    fold(b[0], 0)
    fold(b[1], 1)
    ss._READ_SCHEMA.pop(("st", root), None)
    store = EpochStore(root)
    fresh = _bottomk_fold(spark, store)
    fresh(b[2], 2)
    fresh(b[3], 3)
    fresh(b[3], 3)  # the newest batch re-delivered
    one = EpochStore(str(tmp_path / "one"))
    _bottomk_fold(spark, one)(docs, 0)
    want = _sample(spark, one)
    assert want and _sample(spark, store) == want
    assert list(store.runs("v")) == [3]
    assert _one_version(store)


def test_version_fold_crash_before_commit_keeps_old_version(
    spark, tmp_path, monkeypatch
):
    """A trigger that dies after writing its version and before the
    commit leaves the old version live: a reopen removes the
    uncommitted dir and the sample is the committed one."""
    from pyspark.sql import functions as F

    docs = _hashed_docs(spark)
    h = F.pmod(F.xxhash64("doc_id"), F.lit(2))
    root = str(tmp_path / "bk")
    store = EpochStore(root)
    fold = _bottomk_fold(spark, store)
    fold(docs.filter(h == 0), 0)
    want = _sample(spark, store)

    def boom(*_a, **_k):
        raise Crash()

    monkeypatch.setattr(store, "commit_runs", boom)
    with pytest.raises(Crash):
        fold(docs.filter(h == 1), 1)
    assert len(os.listdir(root)) == 3  # the torn version is on disk
    reopened = EpochStore(root)
    assert list(reopened.runs("v")) == [0]
    assert _sample(spark, reopened) == want
    assert _one_version(reopened)


def test_cc_replay_then_relabel_equals_one_shot(spark, tmp_path):
    """A CC forest fold re-delivers its newest batch, then a later
    batch relabels a node the re-delivery wrote (7 moves from root 5
    to root 3). The forest labels every node as a one-shot fold does:
    the later batch's order stamp outranks the re-delivery's. A
    re-delivery stamped above the batches that follow it would keep
    7 -> 5 here."""
    from ziggurat_spark.queries.dedup import _forest_label
    from ziggurat_spark.queries.streaming_surface import (
        _cc_forest_fold,
        _lww_read,
    )

    def forest_fold(name):
        forest = EpochStore(str(tmp_path / name / "forest"))
        ridx = EpochStore(str(tmp_path / name / "ridx"))
        return forest, _cc_forest_fold(spark, forest, ridx, [])

    def edges(*pairs):
        return spark.createDataFrame(list(pairs), "a long, b long")

    def labels(forest) -> dict:
        nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
        stars = _lww_read(spark, forest).select("a", "b")
        return {
            r["id"]: r["comp"] for r in _forest_label(nodes, stars).collect()
        }

    forest, fold = forest_fold("stream")
    fold(edges((1, 2)), 0)
    fold(edges((5, 7)), 1)
    fold(edges((5, 7)), 1)  # the newest batch re-delivered
    fold(edges((3, 5)), 2)
    one, one_fold = forest_fold("one")
    one_fold(edges((1, 2), (5, 7), (3, 5)), 0)
    want = labels(one)
    assert want[7] == 3
    assert labels(forest) == want
