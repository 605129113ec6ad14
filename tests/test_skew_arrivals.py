"""Skewed-ARRIVAL drill for the streaming state family (round-5
judge #6). Two axes:

- CONTENT skew through the real registered ops: a corpus where one
  LSH band bucket holds most documents (120 identical texts), one
  IVF cell holds every vector, and one source carries ~100x the
  others — each op graded ORACLE-EXACT on that corpus (same DuckDB
  compare the driver runs).
- ARRIVAL-SIZE skew through the shared folds directly: one
  micro-batch carrying 100x the others — graded equal to the
  even-delivery / one-shot answer, with state-size bounds asserted
  (budget state tokens <= budget; ANN state = one dir per touched
  cell; LSH state = 2 files per batch key).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ziggurat_spark.tables import TABLES

SRC = "/root/testdata/sf0.001"

#: the registered streaming-state ops the drill grades oracle-exact
STATE_OPS = (
    "x_stream_budget_maintenance",
    "x_stream_budget_restart",
    "x_stream_dsir_maintain",
    "x_stream_dsir_compact",
    "x_stream_ann_maintain",
    "x_stream_lsh_maintain",
    "x_stream_lsh_compact",
    "x_stream_lsh_cadence",
    "x_stream_select_corpus",
    "x_stream_components_maintain",
    "x_stream_multimodal_neardup",
    "x_stream_ivf_cadence",
    # round-7 session 2: the weighted sample rides the same
    # documents fixture (priority keys collapse on the identical
    # texts' token counts but stay distinct by id-hash); snapshot
    # apply's delta slicing hits the 120-identical-doc group
    "x_stream_weighted_sample",
    "x_stream_snapshot_apply",
    # round 8 (judge #5): the three sketch maintenance streams on a
    # hot-KEY corpus — one user carries ~98% of events (HLL register
    # + CMS cell collisions concentrate) and ~95% of lineitem prices
    # collapse into ONE log2 bucket; state stays bounded by algebra,
    # the grade must stay oracle-exact
    "x_stream_hll_maintain",
    "x_stream_loghist_maintain",
    "x_stream_cms_maintain",
    # round 8: the composed flagship on the hot corpus — the 120
    # identical gate-passing texts drive the exact-hash stage's dup
    # path (one hash = one banded node), the hot band buckets drive
    # the probe, and one component absorbs nearly every doc
    "x_stream_corpus_pipeline",
    # round 9: the VERIFIED flagship on the same hot corpus — the
    # hot band bucket floods the candidate stage, the estimate gate
    # and exact-Jaccard verify run on the flood's survivors, and the
    # graded funnel counts must match the one-shot batch funnel
    "x_stream_corpus_pipeline_verified",
    # round 9: online entity resolution on a HOT BLOCKING KEY — 120
    # customers share ONE name (identical digit string, so one
    # (segment, deletion-key) block holds a fifth of them each),
    # balances chain within the verify tolerance, and the forest
    # absorbs the resulting catastrophic transitive merge; the
    # graded funnel (precision collapses by construction) must stay
    # oracle-exact
    "x_stream_entity_resolution",
)


@pytest.fixture(scope="module")
def skew_sf(spark, tmp_path_factory):
    """An sf-dir with adversarial documents/embeddings: 120 identical
    texts (one LSH bucket per band; also one md5 group), src0 holds
    ~100x the docs of the other sources, every embedding lands in
    IVF cell 0 except the cell-97 seed itself."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path_factory.mktemp("skewsf"))
    for t in TABLES:
        if t not in (
            "documents",
            "embeddings",
            "events",
            "lineitem",
            "customer",
        ):
            os.symlink(
                os.path.join(SRC, f"{t}.parquet"),
                os.path.join(base, f"{t}.parquet"),
            )

    # customer: 120 rows share ONE name (hot entity-resolution
    # blocking key; identical digit strings and balances chaining
    # within the verify tolerance force a catastrophic transitive
    # merge) + 30 ordinary distinct serials
    segs = ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
    cust = []
    for i in range(150):
        name = (
            "Customer#000000042"
            if i < 120
            else f"Customer#{i:09d}"
        )
        # same-segment hot rows are 5 apart in i, so balances step
        # 55 — inside the verify tolerance: each segment's hot block
        # chains into one merged pseudo-entity
        cust.append((i, name, i % 25, float((i * 11) % 300), segs[i % 5]))
    # one NULL name: its three registry records (custkey 152 keeps
    # both variants) have a NULL digit string, which must still emit
    # one deletion key ('' like a digitless name) — three candidate
    # pairs in the oracle, none verified
    cust.append((152, None, 2, 100.0, "MACHINERY"))
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([c[0] for c in cust], pa.int64()),
                "c_name": pa.array([c[1] for c in cust]),
                "c_nationkey": pa.array(
                    [c[2] for c in cust], pa.int32()
                ),
                "c_acctbal": pa.array(
                    [c[3] for c in cust], pa.float64()
                ),
                "c_mktsegment": pa.array([c[4] for c in cust]),
            }
        ),
        os.path.join(base, "customer.parquet"),
    )

    # texts are built to PASS the quality-classifier gate (enough
    # tokens, ~20% stopwords, ~5-char mean word length) so the
    # select-corpus op exercises its state on this corpus too; doc
    # 130 ("single") genuinely fails the gate
    stops = ("the", "of", "and", "to", "in")
    bwords = []
    for i in range(150):
        if i % 5 == 0:
            bwords.append(stops[(i // 5) % 5])
        else:
            bwords.append(f"tok{i % 7}ws"[:6].ljust(5, "x"))
    boiler = " ".join(bwords)
    docs = [(i, boiler, "en", "src0") for i in range(120)]
    ustops = ("the", "is", "that", "with", "for")
    for i in range(120, 130):
        uws = [f"w{i}x{j}word"[:6] for j in range(50)]
        for k in range(0, 50, 5):
            uws[k] = ustops[k // 5 % 5]
        docs.append(
            (
                i,
                f"unique document {i} " + " ".join(uws),
                "en",
                "src1" if i % 2 else "src2",
            )
        )
    docs.append((130, "single", "en", "src3"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs]),
                "lang": pa.array([d[2] for d in docs]),
                "source": pa.array([d[3] for d in docs]),
                "n_chars": pa.array(
                    [len(d[1]) for d in docs], pa.int64()
                ),
            }
        ),
        os.path.join(base, "documents.parquet"),
    )

    # embeddings: dim 8; vec 97 is the only y-dominant vector, so
    # every other vector assigns to cell 0 — one hot cell
    n = 150
    embs = []
    for i in range(n):
        v = np.zeros(8, dtype=np.float32)
        if i == 97:
            v[1] = 1.0
        else:
            v[0] = 0.5 + (i % 40) / 100.0
            v[1] = (i % 7) / 100.0
        embs.append(v.tolist())
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float32())),
                "label": pa.array(
                    [i % 3 for i in range(n)], pa.int32()
                ),
            }
        ),
        os.path.join(base, "embeddings.parquet"),
    )

    # events: user 42 carries ~98% of rows (hot HLL register / hot
    # CMS cells), a tail of 50 cold users, plus NULL user_ids that
    # the ops must filter identically to the oracle
    uid: list = []
    etype: list = []
    for i in range(3000):
        uid.append(42)
        etype.append(("click", "view")[i % 2])
    for u in range(50):
        uid.append(1000 + u)
        etype.append(("click", "view", "buy")[u % 3])
    for _ in range(7):
        uid.append(None)
        etype.append("click")
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array(uid, pa.int64()),
                "event_type": pa.array(etype),
            }
        ),
        os.path.join(base, "events.parquet"),
    )

    # lineitem: ~95% of prices collapse into ONE log2 cents bucket;
    # a few rows span decades so the quantile walk still has a tail
    prices = [163.84] * 950  # 16384 cents -> bucket 15
    prices += [1.27, 2.55, 40.95, 655.35, 2621.43] * 10
    pq.write_table(
        pa.table({"l_extendedprice": pa.array(prices, pa.float64())}),
        os.path.join(base, "lineitem.parquet"),
    )
    return base


@pytest.mark.parametrize("name", STATE_OPS)
def test_streaming_state_op_oracle_exact_on_skewed_corpus(
    spark, skew_sf, name
):
    """Every streaming-state op stays ORACLE-EXACT on the hot-bucket/
    hot-cell/hot-source corpus — the same DuckDB compare the driver
    runs, pointed at the adversarial sf-dir."""
    from ziggurat_spark.oracle import check_query, duck_connection

    con = duck_connection(skew_sf)
    res = check_query(spark, con, name, skew_sf)
    assert res.ok, (name, res.detail)
    assert res.spark_rows > 0, name


def test_budget_fold_hundredfold_batch_matches_one_shot(spark, tmp_path):
    """Arrival-size skew for the budget watermark fold: one batch
    carrying 100x the others must grade exactly like delivering
    everything in one batch, and the kept state's token mass stays
    <= the budget per source at every step."""
    from ziggurat_spark.queries.epoch_store import EpochStore
    from ziggurat_spark.queries.streaming_surface import (
        STREAM_BUDGET_TOKENS,
        _budget_fold,
        _budget_grade,
        _budget_state_kept,
    )

    rows = [
        ("src0", i, 30 + i % 5) for i in range(100)  # the 100x batch
    ] + [("src1", 1000, 40), ("src0", 1001, 35)]
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, nt long"
    )

    def run(batches, sub):
        store = EpochStore(str(tmp_path / sub))
        fold = _budget_fold(spark, store)
        for i, b in enumerate(batches):
            fold(b, i)
            kept = _budget_state_kept(spark, store)
            mx = (
                kept.groupBy("source")
                .agg(F.sum("nt").alias("t"))
                .agg(F.max("t").alias("m"))
                .collect()[0]["m"]
            )
            assert mx <= STREAM_BUDGET_TOKENS  # state stays bounded
        return sorted(
            tuple(r) for r in _budget_grade(spark, docs, store).collect()
        )

    skewed = run(
        [
            docs.filter(F.col("doc_id") < 100),      # 100 docs
            docs.filter(F.col("doc_id") == 1000),    # 1 doc
            docs.filter(F.col("doc_id") == 1001),    # 1 doc
        ],
        "skewed",
    )
    one_shot = run([docs], "oneshot")
    assert skewed == one_shot
    assert len(skewed) == 2  # both sources graded


def test_lsh_fold_hundredfold_identical_batch(spark, tmp_path):
    """Arrival-size + content skew for the online LSH fold: a 100-doc
    batch of IDENTICAL texts followed by two 1-doc identical
    arrivals. The pair union must be the complete clique over all
    102 docs, and state stays 2 files per batch key (bands_ +
    pairs_), with the history side never replicated."""
    from ziggurat_spark.queries.epoch_store import EpochStore
    from ziggurat_spark.queries.streaming_surface import _lsh_fold

    store = EpochStore(str(tmp_path / "state"))
    fold = _lsh_fold(spark, store)
    text = " ".join(f"tok{i % 7}" for i in range(30))
    big = spark.createDataFrame(
        [(i, text) for i in range(100)], "doc_id long, text string"
    )
    fold(big, 0)
    for j, did in enumerate((500, 501)):
        fold(
            spark.createDataFrame(
                [(did, text)], "doc_id long, text string"
            ),
            j + 1,
        )
    assert list(store.runs("bands")) == [0, 1, 2]
    assert store.live("bands") == list(store.runs("bands").values())
    pair_dirs = store.live("pairs")
    assert list(store.runs("pairs")) == [0, 1, 2]
    # on disk: the six runs and the manifest, nothing else
    assert sorted(os.listdir(store.root)) == sorted(
        [os.path.basename(p) for p in store.live("bands") + pair_dirs]
        + ["manifest.json"]
    )
    got = {
        (r["a"], r["b"])
        for r in spark.read.parquet(*pair_dirs).distinct().collect()
    }
    ids = sorted(list(range(100)) + [500, 501])
    want = {
        (a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]
    }
    assert got == want  # the full clique: 102*101/2 pairs


def test_ann_upsert_hundredfold_hot_cell_batch(spark, tmp_path):
    """Arrival-size + hot-cell skew for the streaming IVF fold: a
    100-vector batch all landing in ONE cell, then two 1-vector
    arrivals into the same cell. Only that cell's directory ever
    exists/rewrites; the final index holds every vector exactly
    once (replay of the big batch included)."""
    from ziggurat_spark.queries.epoch_store import EpochStore
    from ziggurat_spark.queries.streaming_surface import (
        _ann_upsert_batch,
    )

    cent = spark.createDataFrame(
        [(0, [127, 0, 0, 0]), (97, [0, 127, 0, 0])],
        "cent_id long, cq array<bigint>",
    )
    store = EpochStore(str(tmp_path / "ann"))

    def batch(ids):
        return spark.createDataFrame(
            [(i, [0.5 + (i % 40) / 100.0, 0.0, 0.0, 0.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    t0 = _ann_upsert_batch(spark, store, batch(range(100)), cent)
    assert t0 == [0]  # one hot cell
    t1 = _ann_upsert_batch(spark, store, batch([500]), cent)
    t2 = _ann_upsert_batch(spark, store, batch([501]), cent)
    assert t1 == [0] and t2 == [0]
    # replay the 100x batch: keyed overwrite, contents unchanged
    _ann_upsert_batch(spark, store, batch(range(100)), cent)
    state = store.buckets()
    assert sorted(state) == [0]  # cell 97 never materialized
    vecs = sorted(
        r["vec_id"] for r in spark.read.parquet(state[0]).collect()
    )
    assert vecs == sorted(list(range(100)) + [500, 501])


def test_select_corpus_state_bounded_on_skewed_corpus(spark, skew_sf):
    """The streamed selection-corpus state stays bounded under the
    hot-source corpus (120 identical docs = ONE content hash): the
    bucketed merge holds at most 16 bucket directories and exactly
    one state row per DISTINCT surviving content hash — never one
    per arrival (a naive append would hold 120 rows for the boiler
    text)."""
    from pyspark.sql import functions as F

    from ziggurat_spark.queries.streaming_surface import (
        _select_corpus_state,
    )
    from ziggurat_spark.queries.training_ops import (
        QC_KEEP_MICRO,
        _qc_feature_frame,
    )
    from ziggurat_spark.tables import load_table

    state = _select_corpus_state(spark, skew_sf).buckets()
    assert 1 <= len(state) <= 16  # hash-bucket dirs, never O(batches)
    rows = spark.read.parquet(*sorted(state.values()))
    n_rows = rows.count()
    docs = load_table(spark, skew_sf, "documents")
    survivors = (
        docs.join(
            _qc_feature_frame(docs)
            .filter(F.col("score_micro") >= QC_KEEP_MICRO)
            .select("doc_id"),
            "doc_id",
        )
        .select(F.md5("text"))
        .distinct()
        .count()
    )
    assert n_rows == survivors  # one row per distinct kept hash
    assert n_rows < docs.count()  # the 120-dup hot text collapsed
