"""Per-trigger probe-I/O growth probe (round 9): measure whether the
online LSH family's history-probe I/O tracks BATCH size or HISTORY
size, on an sf1-sized corpus (no sf1 testdata exists in this
container, so the stand-in is a 10x suffix-jittered clone of the
sf0.1 documents table — every clone is a distinct text, so the
standing band index really grows 10x).

Two runs of the composed corpus pipeline (x_stream_corpus_pipeline's
state fn) with the SAME per-batch row count:
 (a) sf0.1 documents, 4 triggers  — index reaches   1x at close;
 (b) sf1 stand-in,   40 triggers  — index reaches ~10x at close.

If the probe scanned the full standing index per trigger (the
round-8 weak item), run (b)'s late-trigger bytes_opened would grow
~linearly toward 10x run (a)'s. With bucket-shard pruning
(partitionBy(band, bshard) epochs + _lsh_probe_pairs) it must stay
~flat at the batch-proportional level while the index grows ~8x
between (b)'s early and late triggers.

Results land in SCALE.md §23. Run:
    python examples/probe_pipe_io.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def jittered_docs_sfdir(sf: str, copies: int) -> str:
    """A temp sf-dir whose documents table is ``copies`` clones of
    the source, each clone's text suffixed with a distinct token so
    every row is a DISTINCT text (distinct md5 → the exact-merge
    fresh set passes everything through to the band index: the
    standing index genuinely grows ``copies``x)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf, "documents.parquet"))
    n = t.num_rows
    parts = []
    for c in range(copies):
        parts.append(
            pa.table(
                {
                    "doc_id": pc.add(t["doc_id"], c * 10 * n),
                    "source": t["source"],
                    "text": pc.binary_join_element_wise(
                        pc.cast(t["text"], pa.string()),
                        f"copytok{c}",
                        " ",
                    ),
                }
            )
        )
    base = tempfile.mkdtemp(prefix="zs_probe_pipe_sf_")
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(base, "documents.parquet"),
    )
    return base


def run_pipe(spark, sf: str, n_files: int) -> dict:
    """One pipeline stream run; returns its io_audit plus the final
    band-index footprint."""
    from ziggurat_spark.queries import streaming_surface as ss
    from ziggurat_spark.scratch import dir_footprint

    prev = ss.STREAM_PIPE_SRC_FILES
    try:
        ss.STREAM_PIPE_SRC_FILES = n_files
        st = ss._pipe_stream_state(spark, sf)
    finally:
        ss.STREAM_PIPE_SRC_FILES = prev
    bbytes, bfiles = dir_footprint(st["lsh"].live("bands"))
    return {
        "io_audit": st["io_audit"],
        "index_bytes_final": bbytes,
        "index_files_final": bfiles,
    }


def selective_probe(spark, sf: str) -> dict:
    """The steady-state regime measurement: a standing band index
    from the WHOLE corpus, probed by small arrival batches. Pruning
    reduces probe I/O by (touched shards)/(bands x S): a seconds-
    cadence trigger at 100 TB touches few distinct buckets relative
    to the shard grid, so its probe opens a small index fraction;
    bulk backfill triggers (batch buckets >= grid) degrade
    gracefully to the previous full-index scan. Measured at the
    local S=8 and at the 100 TB dial S=64."""
    from ziggurat_spark.functions import texthash_udfs as THU
    from ziggurat_spark.queries import streaming_surface as ss
    from ziggurat_spark.queries.dedup import (
        BANDS,
        MINHASH_SHINGLE_K,
        ROWS_PER_BAND,
    )
    from pyspark.sql import functions as F
    from ziggurat_spark.tables import load_table

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    bands = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.posexplode(
                THU.lsh_buckets_udf(
                    MINHASH_SHINGLE_K, BANDS, ROWS_PER_BAND
                )("text")
            ).alias("band", "bucket"),
        )
        .localCheckpoint()
    )
    out: dict = {}
    prev_s = ss.LSH_BUCKET_SHARDS
    try:
        for S in (8, 64):
            ss.LSH_BUCKET_SHARDS = S
            statedir = tempfile.mkdtemp(prefix=f"zs_probe_sel_s{S}_")
            ss._lsh_write_band_epoch(
                bands, os.path.join(statedir, "bands_L1_000001")
            )
            idx_bytes = ss._tree_bytes(
                os.path.join(statedir, "bands_L1_000001")
            )
            rows = []
            for nb in (2, 8, 32, 128, 1250):
                batch = bands.join(
                    docs.select("doc_id").orderBy("doc_id").limit(nb),
                    "doc_id",
                ).localCheckpoint()
                io: list = []
                # the epoch is the whole history: a pure probe
                ss._lsh_probe_pairs(
                    spark,
                    [os.path.join(statedir, "bands_L1_000001")],
                    batch,
                    io=io,
                ).count()
                r = io[0]
                rows.append(
                    {
                        "batch_docs": nb,
                        "shards_opened": r["shards_opened"],
                        "shards_total": r["shards_opened"]
                        + r["shards_skipped"],
                        "bytes_opened": r["bytes_opened"],
                        "index_bytes": idx_bytes,
                        "frac": round(
                            r["bytes_opened"] / idx_bytes, 3
                        ),
                    }
                )
                batch.unpersist()
            out[f"S{S}"] = rows
            for r in rows:
                print(f" S={S}", r, flush=True)
    finally:
        ss.LSH_BUCKET_SHARDS = prev_s
    return out


def main() -> None:
    from ziggurat_spark.session import get_session

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mode = sys.argv[2] if len(sys.argv) > 2 else "all"
    spark = get_session(
        app_name="probe_pipe_io",
        extra_conf={"spark.driver.memory": "8g"},
    )
    out: dict = {}

    if mode in ("all", "selective"):
        out["selective"] = selective_probe(spark, sf)
        print(json.dumps(out["selective"], indent=1))
    if mode == "selective":
        return

    a = run_pipe(spark, sf, n_files=4)
    out["sf0.1_4trig"] = a
    print("sf0.1 / 4 triggers:", flush=True)
    for r in a["io_audit"]:
        print(" ", r, flush=True)
    print(" index:", a["index_bytes_final"], "bytes", flush=True)

    big = jittered_docs_sfdir(sf, copies=10)
    b = run_pipe(spark, big, n_files=40)
    out["sf1like_40trig"] = b
    print("sf1 stand-in / 40 triggers:", flush=True)
    for r in b["io_audit"]:
        print(" ", r, flush=True)
    print(" index:", b["index_bytes_final"], "bytes", flush=True)

    # summary ratios for SCALE.md: late-trigger probe bytes vs
    # early-trigger probe bytes (history ~8x larger), and vs run
    # (a)'s late trigger (history ~10x larger at same batch size)
    ba = [r["bytes_opened"] for r in b["io_audit"]]
    early = sum(ba[4:9]) / 5  # triggers 5..9 (history warm)
    late = sum(ba[-6:-1]) / 5  # last committed triggers pre-replay
    out["summary"] = {
        "b_early_avg_bytes": round(early),
        "b_late_avg_bytes": round(late),
        "b_late_over_early": round(late / early, 2) if early else None,
        "a_last_bytes": a["io_audit"][-2]["bytes_opened"],
        "index_ratio_b_over_a": round(
            b["index_bytes_final"] / a["index_bytes_final"], 2
        ),
    }
    print(json.dumps(out["summary"], indent=1))


if __name__ == "__main__":
    main()
