"""Simulated Kafka source: a Python DataSource producing the EXACT schema
and payload bytes the spark-sql-kafka connector would deliver, backed by the
events table instead of a broker.

Purpose: the container has no Kafka broker, so the live S1/S4 path cannot be
integration-tested. This source closes the gap from the schema side — every
downstream stage (binary Avro ``value`` decode, key-by-house ordering,
envelope columns ``topic/partition/offset/timestamp``) runs against a frame
indistinguishable from a real Kafka scan, so the composed reference pipeline
(kafka → from_avro → duty-cycle window → JSON sink;
``stream_processing/duty_cycle_avro.py:63-89``) executes end-to-end minus
only the socket. Swapping in the real connector is a one-line
``format("mockkafka") -> format("kafka")`` change with identical schema.

Fidelity choices mirroring the producer (``ingestion/producer_REDD_avro.py``):
- ``value``: raw Avro datum bytes of schema.avsc (same pure-Python codec the
  roundtrip query proves against the spec).
- ``key``: house_id bytes; messages assigned to partitions by
  ``md5(house_id) % n`` — Kafka's keyed-produce contract (SURVEY ST7), so
  per-house ordering holds within a partition.
- ``offset``: contiguous per-partition, in source row order per partition.
- ``timestamp``: the event time (epoch millis, like the producer sets).

Batch and stream read alike: each Spark input partition is one simulated
Kafka partition's offset range, read from the events parquet with pyarrow
and Avro-encoded inside its task (no driver materialization, no JVM
round-trip). The stream's driver side only counts each partition's
messages from the ``user_id`` column.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

KAFKA_SOURCE_SCHEMA = StructType([
    StructField("key", BinaryType()),
    StructField("value", BinaryType()),
    StructField("topic", StringType()),
    StructField("partition", IntegerType()),
    StructField("offset", LongType()),
    StructField("timestamp", TimestampType()),
    StructField("timestampType", IntegerType()),
])


class MockKafkaPartition(InputPartition):
    """Messages ``[start, end)`` of Kafka partition ``idx``; ``end=None``
    reads to the end of the log, ``idx=None`` is the flush sentinel."""

    def __init__(self, idx: "int | None", start: int = 0,
                 end: "int | None" = None):
        self.idx = idx
        self.start = start
        self.end = end


def _kafka_partitions(uid, n: int):
    """Each row's Kafka partition: ``md5(house_id) % n``, the keyed produce
    (SURVEY ST7), hashed once per distinct house. md5, not Python's
    ``hash()``, which is randomized per process."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    houses = pc.unique(uid)
    part = pa.array([int(hashlib.md5(str(h).encode()).hexdigest()[:8], 16) % n
                     for h in houses.to_pylist()], pa.int32())
    return pc.take(part, pc.index_in(uid, value_set=houses))


def _epoch_ms(ts) -> list:
    """Whole epoch millis of an events ``ts`` column: folded to micros with
    integer division (matches ``tables.normalize_event_ts``'s ``ts DIV
    1000`` for nanos), then to ms via the double recipe every oracle uses
    (``floor(epoch * 1000)``), so both engines round identically."""
    import math

    import pyarrow as pa

    unit = ts.type.unit if pa.types.is_timestamp(ts.type) else "ns"
    to_us = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}[unit]
    return [math.floor((r // 1000 if to_us is None else r * to_us) / 1e6
                       * 1000)
            for r in ts.cast(pa.int64()).to_pylist()]


class MockKafkaReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.topic = options.get("topic", "power-raw")
        self.n_partitions = int(options.get("partitions", "4"))

    def partitions(self):
        return [MockKafkaPartition(i) for i in range(self.n_partitions)]

    def read(self, partition):
        from insight_de_smart_grid_spark.sources.avro_codec import (
            encode_record,
            parse_flat_record_schema,
        )
        from insight_de_smart_grid_spark.sources.files import (
            REFERENCE_AVRO_SCHEMA,
        )

        fields = parse_flat_record_schema(REFERENCE_AVRO_SCHEMA)
        for house, etype, ms, power, part, offset in self._messages(partition):
            record = {"house_id": house, "appliance_name": etype,
                      "appliance_id": f"{house}_{etype}", "timestamp": ms,
                      "power": power}
            yield (house.encode(), encode_record(record, fields), self.topic,
                   part, offset,
                   datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc), 0)

    def _messages(self, partition):
        """(house, appliance, epoch ms, power, partition, offset) of each
        message in ``partition``, in offset order."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition.idx is None:
            # one day beyond the last real event, on partition 0 at
            # offset -1, keyed by the house "-1" that consumers filter
            ts = pq.read_table(self.path, columns=["ts"]).column("ts")
            yield ("-1", "__flush", max(_epoch_ms(ts), default=0) + 86_400_000,
                   0.0, 0, -1)
            return
        tbl = pq.read_table(self.path,
                            columns=["ts", "user_id", "event_type", "value"])
        mine = pc.equal(_kafka_partitions(tbl.column("user_id"),
                                          self.n_partitions), partition.idx)
        tbl = tbl.filter(mine)
        end = tbl.num_rows if partition.end is None else partition.end
        tbl = tbl.slice(partition.start, end - partition.start)
        cols = zip(tbl.column("user_id").to_pylist(),
                   tbl.column("event_type").to_pylist(),
                   _epoch_ms(tbl.column("ts")),
                   tbl.column("value").to_pylist())
        for offset, (uid, etype, ms, val) in enumerate(cols, partition.start):
            yield str(uid), etype, ms, float(val), partition.idx, offset


class MockKafkaStreamReader(MockKafkaReader, DataSourceStreamReader):
    """The stream over the same log: an offset is one end offset per Kafka
    partition plus a ``sentinel`` flag, and each micro-batch reads one
    partition per Kafka partition that advanced, through the batch
    reader's ``read``.

    The whole backlog arrives in one micro-batch (the events fixture is
    not time-ordered; chunked delivery would race the watermark exactly
    like a real unordered topic). With ``flush_sentinel=true`` the next
    micro-batch, once the log stops growing, adds one far-future sentinel
    message that advances the watermark so every real window finalizes,
    the same replay convention as ``streaming/replay.py``. The sentinel
    carries house_id "-1"; consumers filter it from RESULTS (never before
    the watermark, or the flush never happens).

    ``latestOffset`` raises the flag once the last offset planned (by this
    reader, or the checkpointed one Spark re-plans on a restart) already
    holds the current ends, so a restart after the flush sends no second
    sentinel."""

    def __init__(self, options):
        super().__init__(options)
        self.flush = options.get("flush_sentinel", "false").lower() == "true"
        self._planned: "dict | None" = None

    def initialOffset(self):
        return {"ends": [0] * self.n_partitions, "sentinel": False}

    def latestOffset(self):
        import numpy as np
        import pyarrow.parquet as pq

        uid = pq.read_table(self.path, columns=["user_id"]).column("user_id")
        ends = np.bincount(
            _kafka_partitions(uid, self.n_partitions).to_numpy(),
            minlength=self.n_partitions).tolist()
        prev = self._planned
        sentinel = self.flush and prev is not None and (
            prev["sentinel"] or prev["ends"] == ends)
        self._planned = {"ends": ends, "sentinel": sentinel}
        return self._planned

    def partitions(self, start, end):
        self._planned = end
        parts = [MockKafkaPartition(i, s, e) for i, (s, e)
                 in enumerate(zip(start["ends"], end["ends"])) if e > s]
        if end["sentinel"] and not start["sentinel"]:
            parts.append(MockKafkaPartition(None))
        return parts


class MockKafkaWriter(DataSourceWriter):
    """Batch-produce capture: accepts the exact frame shape the real
    connector's batch sink takes (``key`` string/binary optional, ``value``
    string/binary required — the `kafka_payload` contract) and lands each
    Spark partition as one parquet file of (key, value, topic, partition)
    envelope rows under ``capture_dir``. This is the S5 counterpart of the
    read-side mock: swap ``format("mockkafka")`` for ``format("kafka")``
    and the same writer call hits a broker (druid_batch.py:110-116's
    producer loop, distributed). Commit is rename-free (files are written
    once, task retries overwrite by task id), matching Kafka's
    at-least-once batch produce semantics."""

    def __init__(self, options, schema):
        if "value" not in schema.fieldNames():
            raise ValueError(
                "kafka batch produce requires a 'value' column "
                f"(got {schema.fieldNames()})")
        self.capture_dir = options["capture_dir"]
        self.topic = options.get("topic", "power-raw")
        self.has_key = "key" in schema.fieldNames()

    def write(self, iterator):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        keys, vals = [], []
        for row in iterator:
            k = row["key"] if self.has_key else None
            v = row["value"]
            keys.append(k.encode() if isinstance(k, str) else k)
            vals.append(v.encode() if isinstance(v, str) else v)
        os.makedirs(self.capture_dir, exist_ok=True)
        tbl = pa.table({
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(vals, pa.binary()),
            "topic": pa.array([self.topic] * len(vals), pa.string()),
            "partition": pa.array([pid] * len(vals), pa.int32()),
        })
        pq.write_table(tbl, os.path.join(self.capture_dir,
                                         f"produce-{pid:05d}.parquet"))
        return WriterCommitMessage()


class MockKafkaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "mockkafka"

    def schema(self):
        return KAFKA_SOURCE_SCHEMA

    def reader(self, schema):
        return MockKafkaReader(self.options)

    def writer(self, schema, overwrite):
        return MockKafkaWriter(self.options, schema)

    def streamReader(self, schema):
        return MockKafkaStreamReader(self.options)


def register_mock_kafka(spark) -> None:
    """Register the source on ``spark``; a session reads only the sources
    registered on it. Spark checks the name against the thread's active
    session, which for a ``session.query_session`` is its parent, and
    refuses a name the parent already has, so ``spark`` is made active
    for the call."""
    sessions = spark.sparkContext._jvm.org.apache.spark.sql.SparkSession
    prev = sessions.getActiveSession()
    sessions.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(MockKafkaDataSource)
    finally:
        if prev.isDefined():
            sessions.setActiveSession(prev.get())
        else:
            sessions.clearActiveSession()
