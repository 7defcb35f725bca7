"""File-format sources mirroring the reference's ingest surface (SURVEY §2.1).

- S6 delimited scans: space-delimited REDD ``channel_*.dat`` (ts, power) and
  comma-delimited GREEND ``dataset_*.csv`` with header, ragged columns and
  embedded repeated headers (``producer_REDD_avro.py:66-98``,
  ``producer_GREEND_avro.py:45-85``);
- S7 JSON lookup dim: ``labels.json`` house -> appliance-name list
  (``producer_GREEND_avro.py:64-67``), exploded positionally to the
  (house_id, channel_idx, appliance_name) dim that J1 joins on;
- S2 Avro decode: ``from_avro`` behind an import gate (the spark-avro jar is
  an external module; reference hand-rolled a py4j bridge at
  ``duty_cycle_avro.py:12-19`` for the same reason);
- S1/S4/S5 Kafka source/sink builders, constructed lazily so environments
  without brokers (or the kafka connector jar) can still import the engine.

All scans use explicit schemas (never inferSchema — SURVEY §1.3) and
``input_file_name()`` to recover the house directory the reference encoded in
the filesystem layout.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from insight_de_smart_grid_spark.operators.cleanse import (
    skip_embedded_headers,
    try_double,
)

REDD_SCHEMA = T.StructType([
    T.StructField("ts_raw", T.StringType()),
    T.StructField("power_raw", T.StringType()),
])


def read_redd_channels(spark: SparkSession, path_glob: str) -> DataFrame:
    """Space-delimited (epoch_seconds, power) channel files; house and
    channel recovered from the path (`.../house_<id>/channel_<idx>.dat`)."""
    raw = (spark.read.schema(REDD_SCHEMA)
           .option("sep", " ").csv(path_glob)
           .withColumn("src", F.input_file_name()))
    return raw.select(
        F.timestamp_seconds(try_double("ts_raw").cast("long")).alias("ts"),
        try_double("power_raw").alias("power"),
        F.regexp_extract("src", r"house_(\d+)", 1).alias("house_id"),
        F.regexp_extract("src", r"channel_(\d+)", 1).cast("int")
        .alias("channel_idx"),
    )


def read_greend_csv(spark: SparkSession, path_glob: str,
                    n_channels: int = 9) -> DataFrame:
    """Comma-delimited GREEND building files: header row, a timestamp column
    and up to ``n_channels`` power columns; dirty rows (embedded repeated
    headers, non-numeric cells) cleaned exactly like the producer
    (``producer_GREEND_avro.py:138-146,207-208``). Output is long format
    (ts, channel_idx, power, building)."""
    fields = [T.StructField("timestamp", T.StringType())] + [
        T.StructField(f"c{i}", T.StringType()) for i in range(n_channels)]
    raw = (spark.read.schema(T.StructType(fields))
           .option("header", True).option("mode", "PERMISSIVE")
           .csv(path_glob)
           .withColumn("src", F.input_file_name()))
    clean = skip_embedded_headers(raw, "timestamp", "timestamp")
    channels = F.array(*[
        F.struct(F.lit(i).alias("channel_idx"),
                 try_double(f"c{i}").alias("power"))
        for i in range(n_channels)])
    return (clean
            .select(
                F.timestamp_seconds(try_double("timestamp").cast("long"))
                .alias("ts"),
                F.explode(channels).alias("ch"),
                F.regexp_extract("src", r"(building\w+)", 1).alias("building"))
            .select("ts", F.col("ch.channel_idx"), F.col("ch.power"),
                    "building"))


def read_labels_json(spark: SparkSession, path: str) -> DataFrame:
    """labels.json ({house: [name, ...]}) -> positional dim
    (house_id, channel_idx, appliance_name) via posexplode — the J1 join key
    the producers build with list indexing (producer_GREEND_avro.py:196-200)."""
    raw = spark.read.option("multiLine", True).json(path)
    houses = [F.struct(F.lit(c).alias("house_id"),
                       F.col(c).alias("names"))
              for c in raw.columns]
    return (raw.select(F.explode(F.array(*houses)).alias("h"))
            .select(F.col("h.house_id"),
                    F.posexplode(F.col("h.names"))
                    .alias("channel_idx", "appliance_name")))


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro module is on the classpath."""
    try:
        from pyspark.sql.avro.functions import from_avro  # noqa: F401
        df = spark.range(1).select(F.lit(b"x").alias("v"))
        df.select(from_avro("v", '{"type":"string"}')).schema
        return True
    except Exception:
        return False


# The reference's wire record (stream_processing/schema.avsc:1-27): one
# power reading per Kafka message, epoch-millis timestamp, float power.
REFERENCE_AVRO_SCHEMA: str = json.dumps({
    "namespace": "powerraw",
    "name": "valueall",
    "type": "record",
    "fields": [
        {"name": "house_id", "type": "string"},
        {"name": "appliance_name", "type": "string"},
        {"name": "appliance_id", "type": "string"},
        {"name": "timestamp", "type": "long"},
        {"name": "power", "type": "float"},
    ],
})


def decode_avro_stream(stream: DataFrame, schema_json: str,
                       value_col: str = "value") -> DataFrame:
    """S2: Kafka envelope bytes -> struct via from_avro (Spark built-in;
    replaces the reference's py4j bridge, duty_cycle_avro.py:12-19).
    Raises a clear error when spark-avro isn't deployed — either as a
    missing Python module or as the AVRO_NOT_LOADED analysis error."""
    from pyspark.errors.exceptions.base import AnalysisException

    try:
        from pyspark.sql.avro.functions import from_avro
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            "spark-avro module not on the classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        ) from exc
    try:
        return stream.select(
            from_avro(F.col(value_col), schema_json).alias("r")).select("r.*")
    except AnalysisException as exc:
        if "AVRO" in str(exc).upper():
            raise RuntimeError(
                "spark-avro module not on the classpath; submit with "
                "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
            ) from exc
        raise


def avro_envelope_to_readings(envelope: DataFrame,
                              schema_json: str = REFERENCE_AVRO_SCHEMA
                              ) -> DataFrame:
    """Kafka envelope -> readings shape: from_avro decode, epoch-millis ->
    timestamp, reference column order (duty_cycle_avro.py:71-73)."""
    decoded = decode_avro_stream(envelope, schema_json)
    return decoded.select(
        F.timestamp_millis(F.col("timestamp")).alias("ts"),
        "house_id", "appliance_id", "appliance_name", "power")


def kafka_source_options(brokers: str, topic: str,
                         starting_offsets: str | None = None,
                         fail_on_data_loss: bool = False,
                         max_offsets_per_trigger: int | None = None
                         ) -> dict[str, str]:
    """S1/ST8 source spec as a pure dict (testable without a broker or the
    connector jar): subscription, replay position, loss tolerance, and the
    per-trigger backpressure bound."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if starting_offsets is not None:
        opts["startingOffsets"] = starting_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_sink_options(brokers: str, topic: str,
                       checkpoint_dir: str | None = None) -> dict[str, str]:
    """S4/S5 sink spec as a pure dict. ``checkpoint_dir`` is the streaming
    sink's exactly-once ledger; BATCH produce (S5, druid_batch.py:110-116)
    has no checkpoint — pass None and the key is absent (the connector
    rejects unknown options only in strict mode, but the spelling contract
    here is exact either way; pinned in test_kafka_options)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
    }
    if checkpoint_dir is not None:
        opts["checkpointLocation"] = checkpoint_dir
    return opts


def kafka_reader(spark: SparkSession, brokers: str, topic: str,
                 streaming: bool = True, fail_on_data_loss: bool = False,
                 **spec_kwargs):
    """S1: Kafka source builder (ST8 knobs: failOnDataLoss, startingOffsets).
    Returns an unloaded reader so callers compose options; requires the
    spark-sql-kafka connector jar at runtime."""
    reader = (spark.readStream if streaming else spark.read)
    return reader.format("kafka").options(**kafka_source_options(
        brokers, topic, fail_on_data_loss=fail_on_data_loss, **spec_kwargs))


def kafka_payload(df: DataFrame,
                  key_col: str | None = "house_id") -> DataFrame:
    """The wire shape both Kafka sinks write: every column JSON-serialized
    into ``value`` (S3, duty_cycle_avro.py:84 ``to_json(struct(...))``;
    druid_batch.py:113 ``row.to_json()``), plus a string ``key`` for
    keyed produce (ST7) unless ``key_col`` is None (the batch reference
    uses a constant key — pass key_col=None and attach it, or a literal
    column)."""
    payload = F.to_json(F.struct(*df.columns)).alias("value")
    cols = [payload] if key_col is None else [
        F.col(key_col).cast("string").alias("key"), payload]
    return df.select(*cols)


def kafka_sink(df: DataFrame, brokers: str, topic: str,
               checkpoint_dir: str | None = None,
               key_col: str | None = "house_id", streaming: bool = True):
    """S4 (streaming) / S5 (batch) Kafka sink; key by house_id to preserve
    the reference's per-house partition ordering (ST7,
    producer_REDD_avro.py:173).

    streaming=True returns the checkpointed append-mode DataStreamWriter
    (duty_cycle_avro.py:85-89); streaming=False returns a batch
    DataFrameWriter — the Spark-first form of druid_batch.py:110-116's
    driver-side confluent producer loop (per-row produce from a pandas
    export; here the produce runs distributed, one task per partition).
    The wire shape is identical; only the checkpoint option differs.
    ``tests/test_sources.py`` round-trips the batch path through the
    mockkafka capture writer."""
    if streaming and checkpoint_dir is None:
        # the exactly-once ledger is not optional for the streaming sink;
        # omitting it would otherwise only surface at .start() (or be
        # silently absorbed by a session-wide checkpointLocation)
        raise ValueError("streaming kafka_sink requires checkpoint_dir "
                         "(pass streaming=False for the batch produce)")
    shaped = kafka_payload(df, key_col)
    if streaming:
        return (shaped
                .writeStream.format("kafka")
                .options(**kafka_sink_options(brokers, topic,
                                              checkpoint_dir))
                .outputMode("append"))
    return (shaped.write.format("kafka")
            .options(**kafka_sink_options(brokers, topic)))


def duty_cycle_kafka_pipeline(spark: SparkSession, brokers: str,
                              in_topic: str, out_topic: str,
                              checkpoint_dir: str,
                              schema_json: str = REFERENCE_AVRO_SCHEMA,
                              **plan_kwargs):
    """The reference's full deployment shape (duty_cycle_avro.py:63-89):
    Kafka source -> from_avro decode -> readings projection -> watermarked
    sliding duty cycle -> JSON-serialized Kafka sink. Returns the unstarted
    DataStreamWriter; requires the connector + avro jars at analysis time
    (environment-gated here; test_sources asserts the composition and
    xfails on the known jar gaps only)."""
    from insight_de_smart_grid_spark.streaming.duty_cycle_stream import (
        duty_cycle_stream_plan,
    )

    envelope = kafka_reader(spark, brokers, in_topic).load()
    readings = avro_envelope_to_readings(envelope, schema_json)
    result = duty_cycle_stream_plan(readings, **plan_kwargs)
    return kafka_sink(result, brokers, out_topic, checkpoint_dir,
                      key_col="house_id")
