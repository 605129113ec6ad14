"""Deserialization middleware — byte payloads to typed columns.

The reference imposes schema lazily per route via middleware fns:
protobuf (middleware/default.clj:36-85), JSON (middleware/json.clj:
12-50), batch key+value proto (batch/batch_proto_deserializer.clj:
4-21), stream-join pair (stream_joins.clj:4-21). Parse failure
yields nil + a metric, and the RMQ consumer shunts undeserializable
payloads to the DLQ as-is (R4, messaging/consumer.clj:28-48).

Spark-first: `from_json` / `from_protobuf` are JVM-side columnar
expressions; failure is a NULL payload column which `poison_split`
routes to the dead set. Middleware are ordinary DataFrame→DataFrame
functions composed at route registration — no interface, no wrapper
classes.
"""

from __future__ import annotations

# module-level so pandas_udf type-hint resolution ('pd.Series' under
# postponed annotations) finds it in __globals__
import pandas as pd  # noqa: F401

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Middleware = Callable[[DataFrame], DataFrame]


def json_value(
    schema: str | None = None,
    value_col: str = "value",
    output_col: str = "payload",
) -> Middleware:
    """T6 JSON middleware: decode UTF-8 bytes, parse into ``output_col``.

    With a schema → typed struct (malformed rows become NULL, Spark's
    PERMISSIVE behavior ≈ the reference's nil-on-failure json.clj:31-39).
    Without → keeps the decoded string plus a validity flag.
    """

    def mw(df: DataFrame) -> DataFrame:
        # malformed-UTF-8-safe decode: strict decode() THROWS on bad
        # bytes in Spark 4 (kills the query); the cast interprets
        # bytes leniently and try_validate_utf8 turns invalid
        # sequences into NULL — which flows to poison (R4), the nil
        # contract
        decoded = F.expr(f"try_validate_utf8(CAST({value_col} AS STRING))")
        if schema is None:
            return df.withColumn(output_col, decoded).withColumn(
                f"{output_col}_valid", F.try_parse_json(decoded).isNotNull()
            )
        # from_json PERMISSIVE yields a struct of NULL fields for
        # malformed input, which poison_split could not distinguish
        # from a legitimately-all-null record; gate on JSON validity
        # AND object-ness (a bare scalar/array parses as valid JSON
        # but would also yield the ambiguous all-NULL struct) so
        # failure is a NULL payload (the nil contract).
        is_object = F.try_parse_json(decoded).isNotNull() & F.ltrim(
            decoded
        ).startswith("{")
        return df.withColumn(
            output_col,
            F.when(is_object, F.from_json(decoded, schema)),
        )

    return mw


def json_field(
    path: str, alias: str, cast: str | None = None, value_col: str = "value"
) -> Middleware:
    """Extract one JSON field from the value bytes (cheap projection
    middleware for routes that need a single key)."""

    def mw(df: DataFrame) -> DataFrame:
        col = F.get_json_object(
            F.expr(f"try_validate_utf8(CAST({value_col} AS STRING))"), path
        )
        if cast:
            col = col.cast(cast)
        return df.withColumn(alias, col)

    return mw


def protobuf_value(
    message_name: str,
    desc_file_path: str | None = None,
    value_col: str = "value",
    output_col: str = "payload",
    options: dict[str, str] | None = None,
) -> Middleware:
    """T4 proto middleware via pyspark.sql.protobuf.from_protobuf.

    `mode=PERMISSIVE` maps parse failures to NULL records — the exact
    analogue of deserialize-message returning nil + metric
    (middleware/default.clj:36-77); pair with ``poison_split``.
    Requires the spark-protobuf artifact; raises a clear error if the
    runtime lacks it (this container has no protoc/descriptor files,
    so tests gate on availability).
    """

    def mw(df: DataFrame) -> DataFrame:
        try:
            from pyspark.sql.protobuf.functions import from_protobuf
        except ImportError as exc:  # pragma: no cover
            raise RuntimeError(
                "protobuf middleware needs pyspark.sql.protobuf "
                "(spark-protobuf jar on the classpath)"
            ) from exc
        opts = {"mode": "PERMISSIVE"}
        opts.update(options or {})
        return df.withColumn(
            output_col,
            from_protobuf(value_col, message_name, desc_file_path, options=opts),
        )

    return mw


def protobuf_value_py(
    desc,
    spark_schema: str,
    value_col: str = "value",
    output_col: str = "payload",
) -> Middleware:
    """T4/T5 executable proto middleware: pure-Python wire-format
    decode (functions/protowire.py — the public encoding spec; no
    spark-protobuf jar needed) in an Arrow-batched Pandas UDF that
    emits a canonical JSON string, typed JVM-side by ``from_json``.
    Parse failure → NULL payload (the nil + metric contract,
    middleware/default.clj:36-77); Struct fields arrive recursively
    flattened to plain maps/lists/scalars (default.clj:9-34).

    Scale note: the Python hop is one wire→JSON transform per record,
    Arrow-batched; everything downstream (typing, projection,
    filtering) stays in the JVM. With the spark-protobuf jar present,
    ``protobuf_value`` is the zero-Python spelling of the same
    middleware.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ziggurat_spark.functions import protowire

    @pandas_udf("string")
    def _decode(vals: pd.Series) -> pd.Series:
        out = []
        for raw in vals:
            if raw is None:
                out.append(None)
                continue
            try:
                msg = protowire.decode(bytes(raw), desc)
                out.append(protowire.to_canonical_json(msg, desc))
            except Exception:
                out.append(None)  # poison → NULL payload
        return pd.Series(out, dtype=object)

    def mw(df: DataFrame) -> DataFrame:
        return df.withColumn(
            output_col, F.from_json(_decode(F.col(value_col)), spark_schema)
        )

    return mw


def protobuf_key_value(
    key_message: str,
    value_message: str,
    desc_file_path: str | None = None,
) -> Middleware:
    """T7 batch deserializer: both key and value are proto payloads
    (batch_proto_deserializer.clj:4-21)."""

    def mw(df: DataFrame) -> DataFrame:
        df = protobuf_value(key_message, desc_file_path, "key", "key_payload")(df)
        return protobuf_value(value_message, desc_file_path, "value", "payload")(df)

    return mw


def protobuf_key_value_py(
    key_desc, key_schema: str, value_desc, value_schema: str
) -> Middleware:
    """T7 executable batch deserializer: both key and value decoded by
    the pure-Python wire codec (batch_proto_deserializer.clj:4-21
    deserializes :key and :value with separate proto classes)."""

    def mw(df: DataFrame) -> DataFrame:
        df = protobuf_value_py(key_desc, key_schema, "key", "key_payload")(df)
        return protobuf_value_py(value_desc, value_schema, "value", "payload")(df)

    return mw


def pair_middleware(left: Middleware, right: Middleware) -> Callable:
    """T8 stream-joins deserializer: apply per-side middleware to the
    {left, right} struct a windowed join emits (stream_joins.clj:4-21
    walks both topic keys, with a per-side proto class)."""

    def mw(joined: DataFrame) -> DataFrame:
        flat = joined.select(F.col("left.*")).columns
        lcols = [F.col(f"left.{c}").alias(c) for c in flat]
        ldf = left(joined.select(*lcols, "right"))
        rflat = joined.select(F.col("right.*")).columns
        keep = [c for c in ldf.columns if c != "right"]
        rdf = right(
            ldf.select(
                F.struct(*[F.col(c) for c in keep]).alias("left"),
                *[F.col(f"right.{c}").alias(c) for c in rflat],
            )
        )
        rkeep = [c for c in rdf.columns if c != "left"]
        return rdf.select(
            "left", F.struct(*[F.col(c) for c in rkeep]).alias("right")
        )

    return mw


def poison_split(
    df: DataFrame, payload_col: str = "payload"
) -> tuple[DataFrame, DataFrame]:
    """R4: split parsed batch into (good, poison). Poison rows keep
    their raw bytes untouched — they go to the dead set as-is, exactly
    like the reference publishes the unparseable payload verbatim
    (messaging/consumer.clj:28-48)."""
    ok = F.col(payload_col).isNotNull()
    return df.filter(ok), df.filter(~ok)


def ingestion_time(ts_col: str = "timestamp") -> Column:
    """S6 IngestionTimeExtractor (timestamp_transformer.clj:14-19):
    use the record timestamp unless it's missing/negative, else wall
    clock. NOTE: non-deterministic by design (current_timestamp), so
    it lives in streaming routes, never in oracle-checked queries."""
    c = F.col(ts_col)
    return F.when(
        c.isNull() | (c < F.lit("1970-01-01 00:00:00").cast("timestamp")),
        F.current_timestamp(),
    ).otherwise(c)
