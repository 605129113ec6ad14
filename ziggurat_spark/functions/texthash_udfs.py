"""Arrow-batched pandas UDFs over the texthash primitives.

The Spark-side fast path for the dedup/fingerprint family: Spark
evaluates higher-order lambda functions interpreted (no whole-stage
codegen), which measured 2-4s per query at sf0.1; these UDFs compute
the identical modular-integer arithmetic via texthash.np_* (exact in
any evaluation order — parity with the DuckDB oracle is unaffected)
vectorized across each Arrow batch.

Scale: embarrassingly parallel over batches, no state, no shuffle;
batch size is governed by spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ziggurat_spark.functions import texthash as TH


def fingerprint_udf():
    @F.pandas_udf("bigint")
    def fp(text: pd.Series) -> pd.Series:
        return pd.Series(TH.np_char_fingerprints(list(text)), dtype="object")

    return fp


def simhash_udf():
    @F.pandas_udf("bigint")
    def sim(text: pd.Series) -> pd.Series:
        whs = TH.np_word_hashes(list(text))
        return pd.Series(
            [None if w is None else TH.np_simhash32(w) for w in whs],
            dtype="object",
        )

    return sim


def shingles_udf(k: int):
    @F.pandas_udf("array<bigint>")
    def sh(text: pd.Series) -> pd.Series:
        whs = TH.np_word_hashes(list(text))
        return pd.Series(
            [
                None if w is None else TH.np_shingle_hashes(w, k).tolist()
                for w in whs
            ]
        )

    return sh


def minhash_sig_udf(k: int):
    @F.pandas_udf("array<bigint>")
    def sig(text: pd.Series) -> pd.Series:
        whs = TH.np_word_hashes(list(text))
        out = []
        for w in whs:
            if w is None:
                out.append(None)
                continue
            s = TH.np_minhash_signature(TH.np_shingle_hashes(w, k))
            out.append(None if s is None else s.tolist())
        return pd.Series(out)

    return sig


def lsh_buckets_udf(k: int, bands: int, rows_per_band: int):
    """Per-document LSH bucket keys: band b's key mixes its
    ``rows_per_band`` signature rows as ``(mh0*C1 + mh1) % P``
    (texthash.C1 chaining, same as the oracle's band key)."""
    if bands * rows_per_band > len(TH.MINHASH_PERMS):
        raise ValueError(
            f"bands*rows_per_band = {bands * rows_per_band} exceeds the "
            f"{len(TH.MINHASH_PERMS)}-row minhash signature"
        )

    @F.pandas_udf("array<bigint>")
    def buckets(text: pd.Series) -> pd.Series:
        whs = TH.np_word_hashes(list(text))
        out = []
        for w in whs:
            if w is None:
                out.append(None)
                continue
            s = TH.np_minhash_signature(TH.np_shingle_hashes(w, k))
            if s is None:
                out.append(None)
                continue
            bks = []
            for b in range(bands):
                key = 0
                for t in range(rows_per_band):
                    key = (key * TH.C1 + int(s[b * rows_per_band + t])) % TH.P
                bks.append(key)
            out.append(bks)
        return pd.Series(out)

    return buckets


def dot64_udf(dim: int = 64):
    """Exact-order dot product of two float arrays: sequential numpy
    accumulation in index order == the oracle's left fold
    (similarity._dot) — bit-identical doubles, vectorized per batch."""
    import numpy as np

    @F.pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.vstack([np.asarray(v, dtype=np.float64) for v in a])
        B = np.vstack([np.asarray(v, dtype=np.float64) for v in b])
        acc = np.zeros(A.shape[0])
        for i in range(dim):
            acc = acc + A[:, i] * B[:, i]
        return pd.Series(acc)

    return dot


def qdot_int_udf():
    """Exact integer dot product of two ``array<bigint>`` columns —
    the Arrow twin of the interpreted
    ``aggregate(zip_with(a, b, *), 0, +)`` spelling used by the
    quantized-ANN family. Integer arithmetic is exact in any
    evaluation order, so parity with the DuckDB oracle is unaffected;
    vectorized over the Arrow batch (the interpreted lambda runs
    row-at-a-time with no codegen — the round-3 bloom lesson).
    Agrees with the interpreted spelling on the FULL input domain:
    a NULL array on either side yields NULL (the interpreted lambda
    propagates it) instead of crashing the Arrow batch in
    np.vstack — so a corpus pass that meets a null embedding (the
    IVF retrain and cadence refresh use this twin) degrades exactly
    like the interpreted spelling."""
    import numpy as np

    @F.pandas_udf("bigint")
    def qdot(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if n == 0:
            return pd.Series([], dtype="Int64")
        mask = np.array(
            [x is not None and y is not None for x, y in zip(a, b)]
        )
        out = pd.array([pd.NA] * n, dtype="Int64")
        if mask.any():
            A = np.vstack(
                [np.asarray(v, dtype=np.int64) for v in a[mask]]
            )
            B = np.vstack(
                [np.asarray(v, dtype=np.int64) for v in b[mask]]
            )
            out[mask] = (A * B).sum(axis=1)
        return pd.Series(out)

    return qdot


def marker_counts_udf(marker_sets: tuple[tuple[str, ...], ...]):
    """One tokenization pass counting hits per marker set (the SQL
    spelling re-evaluates the tokenize chain once per language when
    Catalyst collapses the projections)."""

    @F.pandas_udf("array<int>")
    def counts(text: pd.Series) -> pd.Series:
        sets = [frozenset(m) for m in marker_sets]
        out = []
        for t in text:
            if t is None:
                out.append(None)
                continue
            ws = [w for w in t.lower().split(" ") if w]
            out.append([sum(w in s for w in ws) for s in sets])
        return pd.Series(out)

    return counts


def quality_counts_udf(long_min: int, stopwords: tuple[str, ...]):
    """One tokenize pass emitting [n_words, long_words, stop_hits]
    (the three independent size(filter(...)) spellings each re-run
    tokenization and pay their own codegen compile)."""

    @F.pandas_udf("array<bigint>")
    def counts(text: pd.Series) -> pd.Series:
        stops = frozenset(stopwords)
        out = []
        for t in text:
            if t is None:
                out.append(None)
                continue
            ws = [w for w in t.lower().split(" ") if w]
            out.append(
                [
                    len(ws),
                    sum(len(w) >= long_min for w in ws),
                    sum(w in stops for w in ws),
                ]
            )
        return pd.Series(out)

    return counts
