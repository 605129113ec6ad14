"""Round-9 optimization internals: the driver-side count-state fold,
footer-based emptiness, and the read-schema cache.

These helpers moved control-plane-sized work off the Spark job queue
(one driver-orchestrated job per trigger each, measured ~0.2 s); the
tests pin that their on-disk artifacts and answers are exactly what
the Spark spellings produced.
"""

from __future__ import annotations

import os


def test_count_state_fold_layout_and_totals(tmp_path):
    """The count state keeps the sketch-policy contract: after folding
    at batch b, the store's live count dirs are ONE epoch (sum of all
    strictly-older partials) + the live partial; a replayed bid
    replaces its own partial; the total over the live dirs equals the
    sum of the per-batch counts."""
    from ziggurat_spark.queries.epoch_store import EpochStore
    from ziggurat_spark.queries.streaming_surface import (
        _count_fold,
        _count_rows,
    )

    store = EpochStore(str(tmp_path / "candn"))
    counts = {0: 5, 1: 7, 2: 11, 3: 0}
    for bid in sorted(counts):
        _count_fold(store, bid, counts[bid])
    # batches 0..2 folded into one epoch, partial 3 live
    live = store.live("n")
    assert list(store.runs("n")) == [3]
    assert len(live) == 2 and live[1] == store.runs("n")[3]

    def total():
        return sum(_count_rows(store.live("n")).values())

    assert total() == sum(counts.values())
    # replay of the newest batch: replaced in place, total unchanged
    _count_fold(store, 3, counts[3])
    assert total() == sum(counts.values())
    assert list(store.runs("n")) == [3]
    assert store.live("n")[0] == live[0]  # the epoch is untouched
    assert sorted(os.listdir(store.root)) == sorted(
        [os.path.basename(p) for p in store.live("n")] + ["manifest.json"]
    )


def test_count_state_parquet_readable_by_spark(spark, tmp_path):
    """The pyarrow-written count rows read back through the normal
    Spark path with the same (k int, n bigint) schema the old
    spark.range(1) writes had — the graded read-back is unchanged."""
    from pyspark.sql import functions as F

    from ziggurat_spark.queries.epoch_store import EpochStore
    from ziggurat_spark.queries.streaming_surface import _count_fold

    store = EpochStore(str(tmp_path / "candn"))
    for bid, n in ((0, 3), (1, 4)):
        _count_fold(store, bid, n)
    df = spark.read.parquet(*store.live("n"))
    assert [f.dataType.simpleString() for f in df.schema] == [
        "int",
        "bigint",
    ]
    assert df.agg(F.sum("n")).collect()[0][0] == 7


def test_parquet_dir_rows_matches_spark_count(spark, tmp_path):
    """_parquet_dir_rows (footer metadata, no Spark job) equals the
    frame's row count for both empty and non-empty writes — it is the
    fold's emptiness probe for runs the preceding write materialized."""
    from ziggurat_spark.queries.streaming_surface import (
        _parquet_dir_rows,
    )

    p1 = str(tmp_path / "nonempty")
    spark.range(37).coalesce(1).write.parquet(p1)
    assert _parquet_dir_rows(p1) == 37
    p2 = str(tmp_path / "empty")
    spark.range(5).filter("id < 0").coalesce(1).write.parquet(p2)
    assert _parquet_dir_rows(p2) == 0


def test_lsh_dir_key_separates_layouts(tmp_path):
    """Flat runs and hive-partitioned epochs of the SAME kind under
    one statedir must never share a schema-cache entry (their file
    schemas differ by the partition columns)."""
    from ziggurat_spark.queries.streaming_surface import _lsh_dir_key

    sd = tmp_path / "lsh"
    flat = sd / "feat_b3"
    flat.mkdir(parents=True)
    (flat / "part-00000.parquet").write_bytes(b"")
    epoch = sd / "feat_L1_000001"
    (epoch / "fkb=3").mkdir(parents=True)
    kf = _lsh_dir_key(str(flat))
    ke = _lsh_dir_key(str(epoch))
    assert kf != ke
    assert kf[1] == ke[1] == str(sd)  # same statedir component
    assert kf[2] == ke[2] == "feat"  # same kind


def test_pq_read_caches_schema_once(spark, tmp_path):
    """_pq_read infers once per key and serves later reads schema-
    pinned (the second read call must not launch a footer job)."""
    from ziggurat_spark.queries.streaming_surface import (
        _READ_SCHEMA,
        _pq_read,
    )

    p = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(
        1
    ).write.parquet(p)
    key = ("test", p)
    assert key not in _READ_SCHEMA
    df1 = _pq_read(spark, key, [p])
    assert key in _READ_SCHEMA
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df2 = _pq_read(spark, key, [p])  # schema-pinned: no job
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before
    assert df2.schema == df1.schema


def test_src_log_files_later_compact_and_warning(tmp_path):
    """Round-9 ADVICE #1: a per-batch entry folded into a LATER
    compact file (not <bid>.compact) is still found, and a log dir
    that exists but covers nothing fires the one-time layout warning
    instead of silently skipping every replay."""
    import json
    import warnings

    import ziggurat_spark.queries.streaming_surface as SS

    ck = tmp_path / "ck"
    logdir = ck / "sources" / "0"
    os.makedirs(logdir)

    def _write(name: str, entries: list) -> None:
        with open(logdir / name, "w") as f:
            f.write("v1\n")
            for e in entries:
                f.write(json.dumps(e) + "\n")

    # batch 7's own file was compacted away into 9.compact
    _write(
        "9.compact",
        [
            {"path": "file:/a.parquet", "batchId": 7},
            {"path": "file:/b.parquet", "batchId": 7},
            {"path": "file:/c.parquet", "batchId": 9},
        ],
    )
    assert SS._src_log_files(str(ck), 7) == [
        "file:/a.parquet",
        "file:/b.parquet",
    ]
    # the exact per-batch file still wins when present
    _write("3", [{"path": "file:/d.parquet"}])
    assert SS._src_log_files(str(ck), 3) == ["file:/d.parquet"]
    # a missing checkpoint (post-close replay) stays silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert SS._src_log_files(str(tmp_path / "gone"), 1) == []
    # an existing log dir with no covering entry warns ONCE
    SS._SRC_LOG_WARNED.clear()
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert SS._src_log_files(str(ck), 42) == []
        assert SS._src_log_files(str(ck), 43) == []
    assert len(rec) == 1
    assert "no entry covering batch 42" in str(rec[0].message)


def _write_src_log(logdir, name: str, entries: list) -> None:
    import json

    os.makedirs(logdir, exist_ok=True)
    with open(os.path.join(logdir, name), "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_src_log_files_compacted_empty_batch_is_silent(tmp_path):
    """An empty batch whose per-batch entry was compacted away: a
    compact at or past its id covers it, so [] comes back without the
    layout warning."""
    import warnings

    import ziggurat_spark.queries.streaming_surface as SS

    ck = tmp_path / "ck"
    logdir = ck / "sources" / "0"
    # batch 4 read no files; batches 3 and 5 did, all folded into 9
    _write_src_log(
        logdir,
        "9.compact",
        [
            {"path": "file:/a.parquet", "batchId": 3},
            {"path": "file:/b.parquet", "batchId": 5},
        ],
    )
    SS._SRC_LOG_WARNED.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert SS._src_log_files(str(ck), 4) == []
        assert SS._src_log_files(str(ck), 9) == []
    assert SS._SRC_LOG_WARNED == []
    assert SS._src_log_files(str(ck), 5) == ["file:/b.parquet"]


def test_src_log_files_uncovered_batch_warns(tmp_path):
    """A batch past every compact and with no per-batch file is not
    covered by the log at all: the layout warning still fires."""
    import warnings

    import ziggurat_spark.queries.streaming_surface as SS

    ck = tmp_path / "ck"
    logdir = ck / "sources" / "0"
    _write_src_log(logdir, "9.compact", [{"path": "file:/a.parquet", "batchId": 3}])
    _write_src_log(logdir, "10", [{"path": "file:/c.parquet"}])
    SS._SRC_LOG_WARNED.clear()
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert SS._src_log_files(str(ck), 11) == []
    assert len(rec) == 1
    assert "no entry covering batch 11" in str(rec[0].message)
