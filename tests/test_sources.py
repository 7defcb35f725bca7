"""Tests for the file-source surface (S6/S7) with reference-shaped fixtures
written on the fly (dirty rows, embedded headers, positional labels)."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

from insight_de_smart_grid_spark.sources import files as fs


def test_read_redd_channels_recovers_house_and_channel(spark):
    root = Path(tempfile.mkdtemp(prefix="redd_"))
    try:
        d = root / "house_3"
        d.mkdir()
        (d / "channel_1.dat").write_text("1303132929 222.3\n1303132932 221.9\n")
        (d / "channel_2.dat").write_text("1303132929 4.0\nnotanumber bad\n")
        out = fs.read_redd_channels(spark, str(root / "*" / "*.dat"))
        rows = {(r.house_id, r.channel_idx, r.power) for r in out.collect()}
        assert ("3", 1, 222.3) in rows and ("3", 1, 221.9) in rows
        assert ("3", 2, 4.0) in rows
        # dirty row coerced to 0.0 with epoch 0 ts (producer parity)
        assert ("3", 2, 0.0) in rows
        assert out.count() == 4
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_read_greend_skips_embedded_headers_and_coerces(spark):
    root = Path(tempfile.mkdtemp(prefix="greend_"))
    try:
        d = root / "building0"
        d.mkdir()
        (d / "dataset_2014.csv").write_text(
            "timestamp,c0,c1,c2,c3,c4,c5,c6,c7,c8\n"
            "1388530800,1.5,2.5,,bad,5.0,6,7,8,9\n"
            "timestamp,c0,c1,c2,c3,c4,c5,c6,c7,c8\n"  # embedded header
            "1388530801,10,20,30,40,50,60,70,80,90\n")
        out = fs.read_greend_csv(spark, str(root / "*" / "*.csv"))
        rows = out.collect()
        # 2 data rows x 9 channels; the embedded header row is dropped
        assert len(rows) == 18
        by_key = {(r.ts.isoformat(), r.channel_idx): r.power for r in rows}
        assert by_key[("2013-12-31T23:00:00", 0)] == 1.5
        assert by_key[("2013-12-31T23:00:00", 2)] == 0.0  # empty -> 0.0
        assert by_key[("2013-12-31T23:00:00", 3)] == 0.0  # 'bad' -> 0.0
        assert by_key[("2013-12-31T23:00:01", 8)] == 90.0
        assert rows[0].building == "building0"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_read_labels_json_positional_dim(spark):
    root = Path(tempfile.mkdtemp(prefix="labels_"))
    try:
        p = root / "labels.json"
        p.write_text(json.dumps({
            "0": ["fridge", "dishwasher", "kettle"],
            "1": ["tv", "radio"],
        }))
        dim = fs.read_labels_json(spark, str(p))
        rows = {(r.house_id, r.channel_idx, r.appliance_name)
                for r in dim.collect()}
        assert rows == {("0", 0, "fridge"), ("0", 1, "dishwasher"),
                        ("0", 2, "kettle"), ("1", 0, "tv"), ("1", 1, "radio")}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_avro_roundtrip_over_reference_schema(spark):
    """S2 hard gate: with the spark-avro jar present, a to_avro/from_avro
    round trip over the reference wire schema (schema.avsc:1-27) must
    reproduce the records exactly; without the jar the test xfails — it can
    no longer pass vacuously."""
    import pytest

    from pyspark.sql import functions as F

    if not fs.avro_available(spark):
        pytest.xfail("no spark-avro jar on the classpath")

    from pyspark.sql.avro.functions import to_avro

    rows = [("h1", "fridge", "h1_fridge", 1_600_000_000_123, 42.5),
            ("h2", "kettle", "h2_kettle", 1_600_000_000_456, 0.0)]
    df = spark.createDataFrame(
        rows, "house_id string, appliance_name string, appliance_id string, "
              "timestamp long, power float")
    envelope = df.select(
        to_avro(F.struct(*df.columns), fs.REFERENCE_AVRO_SCHEMA)
        .alias("value"))
    decoded = fs.decode_avro_stream(envelope, fs.REFERENCE_AVRO_SCHEMA)
    assert sorted(tuple(r) for r in decoded.collect()) == sorted(rows)


def test_avro_decode_gate_raises_clear_error_when_missing(spark):
    """Without the jar the decode must fail with actionable guidance, not a
    raw analysis error (and with the jar this test is covered by the
    round-trip above)."""
    import pytest

    from pyspark.sql import functions as F

    if fs.avro_available(spark):
        pytest.skip("spark-avro present; gate error path not reachable")
    envelope = spark.range(1).select(F.lit(b"x").alias("value"))
    with pytest.raises(RuntimeError, match="spark-avro"):
        fs.decode_avro_stream(envelope, fs.REFERENCE_AVRO_SCHEMA)


def test_kafka_option_specs():
    """S1/S4/ST8 spec builders are pure and exact — this is what the live
    reader/sink submit to the connector."""
    assert fs.kafka_source_options(
        "b1:9092,b2:9092", "power_raw", starting_offsets="earliest",
        fail_on_data_loss=False, max_offsets_per_trigger=100_000) == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "power_raw",
        "failOnDataLoss": "false",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "100000",
    }
    assert fs.kafka_sink_options("b1:9092", "duty_out", "/ck/duty") == {
        "kafka.bootstrap.servers": "b1:9092",
        "topic": "duty_out",
        "checkpointLocation": "/ck/duty",
    }


def test_duty_cycle_kafka_pipeline_composes(spark, tmp_path):
    """The reference's full Kafka->avro->window->Kafka shape
    (duty_cycle_avro.py:63-89) must compose; only the two known environment
    gaps (connector jar, avro jar) may stop it, and then as an xfail. Any
    Python-level wiring break (bad kwargs, renamed column, broken builder)
    raises a different error and fails the test."""
    import pytest
    from pyspark.errors.exceptions.base import AnalysisException

    try:
        writer = fs.duty_cycle_kafka_pipeline(
            spark, "localhost:9092", "power_raw", "duty_out",
            str(tmp_path / "ckpt"))
    except AnalysisException as exc:
        assert "kafka" in str(exc).lower()
        pytest.xfail("no spark-sql-kafka connector jar on the classpath")
    except RuntimeError as exc:
        assert "spark-avro" in str(exc)
        pytest.xfail("no spark-avro jar on the classpath")
    # jars present: the composed unstarted writer must carry the sink spec
    assert writer is not None


# ---------------------------------------------------------------------------
# Pluggable Python DataSource (Spark 4 API): batch + incremental stream
# ---------------------------------------------------------------------------

def _write_redd_fixture(root):
    import os

    rows = {
        ("1", 1): [(1303132929, 4.15), (1303132930, 7.0), (1303132931, "bad")],
        ("1", 2): [(1303132929, 191.3), (1303132930, 192.0)],
        ("2", 1): [(1303132929, 55.0)],
    }
    for (house, chan), data in rows.items():
        d = os.path.join(root, f"house_{house}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"channel_{chan}.dat"), "w") as fh:
            for ts, p in data:
                fh.write(f"{ts} {p}\n")
    return rows


def test_redd_datasource_batch(spark, tmp_path):
    from insight_de_smart_grid_spark.sources.redd_source import ReddDataSource

    _write_redd_fixture(str(tmp_path))
    spark.dataSource.register(ReddDataSource)
    df = spark.read.format("redd").load(str(tmp_path))
    rows = df.collect()
    assert len(rows) == 6
    by_key = {(r.house_id, r.channel_idx): r for r in rows}
    assert by_key[("2", 1)].power == 55.0
    # producer's dirty-data policy: non-numeric power -> 0.0
    bad = [r for r in rows if r.house_id == "1" and r.channel_idx == 1
           and r.power == 0.0]
    assert len(bad) == 1
    # one input partition per file -> parallel scan units
    assert df.rdd.getNumPartitions() == 3


def _replay_to_sink(spark, fmt, path, base, **options):
    """Start a stream of ``fmt`` over ``path`` into the parquet sink and
    checkpoint under ``base``, run it until the source has nothing new,
    and return the input rows of each micro-batch it ran."""
    reader = spark.readStream.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (reader.load(path).writeStream.format("parquet")
         .option("path", f"{base}/out")
         .option("checkpointLocation", f"{base}/ckpt")
         .trigger(processingTime="100 milliseconds").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return [int(p["numInputRows"]) for p in q.recentProgress]


def test_redd_datasource_stream_replays_incrementally(spark, tmp_path):
    """The stream reads what the batch reader reads; a file that arrives
    later is read alone on the next start, and a restart from the
    checkpointed offset re-reads nothing."""
    import os

    from insight_de_smart_grid_spark.sources.redd_source import ReddDataSource

    root = str(tmp_path / "redd")
    _write_redd_fixture(root)
    spark.dataSource.register(ReddDataSource)
    base = str(tmp_path / "run")
    assert sum(_replay_to_sink(spark, "redd", root, base)) == 6
    got = spark.read.parquet(f"{base}/out").collect()
    batch = spark.read.format("redd").load(root).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))

    with open(os.path.join(root, "house_2", "channel_2.dat"), "w") as fh:
        fh.write("1303132929 3.5\n1303132930 4.5\n")
    assert sum(_replay_to_sink(spark, "redd", root, base)) == 2
    assert sum(_replay_to_sink(spark, "redd", root, base)) == 0
    assert spark.read.parquet(f"{base}/out").count() == 8


def test_redd_stream_plans_one_partition_per_new_file(tmp_path):
    """A micro-batch's partitions are the files its end offset names and
    its start does not, whatever order they sort in."""
    from insight_de_smart_grid_spark.sources.redd_source import (
        ReddStreamReader,
    )

    _write_redd_fixture(str(tmp_path))
    r = ReddStreamReader({"path": str(tmp_path)})
    first = r.latestOffset()
    assert len(r.partitions(r.initialOffset(), first)) == 3
    (tmp_path / "house_0").mkdir()
    (tmp_path / "house_0" / "channel_1.dat").write_text("1303132929 1.0\n")
    second = r.latestOffset()
    assert [p.path for p in r.partitions(first, second)] == [
        str(tmp_path / "house_0" / "channel_1.dat")]
    assert r.partitions(second, r.latestOffset()) == []


def test_redd_datasource_matches_csv_reader_on_dirty_file(spark, tmp_path):
    """The pluggable source and the CSV path are row-for-row
    interchangeable, INCLUDING the dirty-data policy: embedded headers and
    non-numeric cells coerce to 0.0 on both surfaces."""
    import os

    from insight_de_smart_grid_spark.sources.files import read_redd_channels
    from insight_de_smart_grid_spark.sources.redd_source import ReddDataSource

    d = tmp_path / "house_9"
    d.mkdir()
    (d / "channel_3.dat").write_text(
        "1303132929 4.15\n"
        "timestamp power\n"        # embedded header -> epoch-0, 0.0
        "1303132930 notanum\n"     # bad power -> 0.0
        "1303132931 7.5\n")
    spark.dataSource.register(ReddDataSource)
    via_source = {tuple(r) for r in
                  spark.read.format("redd").load(str(tmp_path)).collect()}
    via_csv = {tuple(r) for r in
               read_redd_channels(
                   spark, str(tmp_path / "*" / "*.dat"))
               .select("ts", "power", "house_id", "channel_idx").collect()}
    assert via_source == via_csv
    assert len(via_source) == 4


def test_merge_schema_reads_evolved_partitions(spark, tmp_path):
    """Schema evolution on the lake: an old partition lacking a column added
    later must read back null-filled when mergeSchema is on, with the
    unioned schema — the append-only evolution contract a long-lived 100 TB
    table relies on."""
    from pyspark.sql import functions as F

    v1 = spark.range(3).select(
        F.col("id"), F.lit("a").alias("source"))
    v2 = spark.range(3, 6).select(
        F.col("id"), F.lit("b").alias("source"),
        (F.col("id") * 10).alias("quality"))
    v1.write.parquet(str(tmp_path / "t" / "batch=1"))
    v2.write.parquet(str(tmp_path / "t" / "batch=2"))

    merged = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "t"))
    assert set(merged.columns) == {"id", "source", "quality", "batch"}
    old = merged.where("batch = 1")
    assert old.where(F.col("quality").isNull()).count() == 3
    assert merged.where("quality = 40").count() == 1


def test_ignore_corrupt_files_skips_garbage(spark, tmp_path):
    """Lake resilience: with ignoreCorruptFiles a truncated/garbage parquet
    part must be skipped, not fail the whole scan — and without the option
    the scan fails loudly (no silent default)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    spark.range(10).write.parquet(str(tmp_path / "t"))
    (tmp_path / "t" / "part-corrupt.parquet").write_bytes(
        b"PAR1 this is not a parquet file")

    with _pytest.raises(Exception):
        spark.read.parquet(str(tmp_path / "t")).count()

    ok = (spark.read.option("ignoreCorruptFiles", "true")
          .parquet(str(tmp_path / "t")))
    assert ok.agg(F.sum("id")).first()[0] == 45


def test_kafka_batch_sink_option_spec():
    """S5: batch produce has no checkpoint ledger — the option dict must
    NOT carry checkpointLocation (the spelling the live connector gets)."""
    assert fs.kafka_sink_options("b1:9092", "power_agg") == {
        "kafka.bootstrap.servers": "b1:9092",
        "topic": "power_agg",
    }


def test_kafka_batch_produce_roundtrip_via_mock(spark, tmp_path):
    """S5 end-to-end against the mock envelope: the reference's batch
    producer loop (druid_batch.py:110-116 — pydruid reagg export, per-row
    JSON value with the batch timestamp spliced in, constant key) as a
    distributed batch produce. The payload frame is byte-for-byte what
    `kafka_sink(streaming=False)` submits to the real connector; the mock
    writer captures (key, value, topic) per partition."""
    import pytest
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.operators import rollup as ru
    from insight_de_smart_grid_spark.sources.mock_kafka import (
        register_mock_kafka,
    )
    from insight_de_smart_grid_spark.sources.tables import readings_view
    from tests.conftest import SF_SMOKE

    register_mock_kafka(spark)
    cube = ru.rollup_time(readings_view(spark, SF_SMOKE), "1 second",
                          dims=("house_id", "appliance_id"))
    reagg = ru.reaggregate(cube, ("house_id", "appliance_id"),
                           avg_col="avg_power")
    # druid_batch splices {"timestamp": utc_timestamp} into each row's JSON
    stamped = reagg.withColumn(
        "timestamp", F.lit("2024-01-01T00:00:00+00:00"))
    out = (fs.kafka_payload(stamped, key_col=None)
           .withColumn("key", F.lit("key")))  # constant key, like acked loop
    cap = str(tmp_path / "cap")
    (out.write.format("mockkafka")
     .option("capture_dir", cap).option("topic", "power_agg")
     .mode("append").save())

    captured = spark.read.parquet(cap).collect()
    assert len(captured) == reagg.count() > 0
    assert all(r.topic == "power_agg" for r in captured)
    assert all(bytes(r.key) == b"key" for r in captured)
    got = sorted(
        (d["house_id"], d["appliance_id"], round(d["avg_power"], 9),
         d["timestamp"])
        for d in (json.loads(bytes(r.value).decode()) for r in captured))
    want = sorted(
        (r.house_id, r.appliance_id, round(r.avg_power, 9),
         "2024-01-01T00:00:00+00:00")
        for r in reagg.collect())
    assert got == want

    # wire-shape contract: a frame without `value` is rejected up front
    with pytest.raises(Exception, match="value"):
        (reagg.write.format("mockkafka")
         .option("capture_dir", cap).mode("append").save())


KAFKA_COLUMNS = ("key", "value", "topic", "partition", "offset",
                 "timestamp", "timestampType")


def _kafka_rows(df):
    return sorted(tuple(r[c] for c in KAFKA_COLUMNS) for r in df.collect())


def test_mockkafka_stream_reads_what_the_batch_reads(spark, tmp_path):
    """The stream's messages are the batch read's, column for column; the
    flush sentinel comes only with ``flush_sentinel=true``, alone, in the
    micro-batch after the data; and a restart on the same checkpoint and
    sink adds nothing, the sentinel included."""
    from pyspark.sql import functions as F

    from insight_de_smart_grid_spark.sources.mock_kafka import (
        register_mock_kafka,
    )
    from tests.conftest import SF_SMOKE

    register_mock_kafka(spark)
    path = f"{SF_SMOKE}/events.parquet"
    batch = _kafka_rows(spark.read.format("mockkafka")
                        .option("path", path).load())
    assert len(batch) == 1000

    plain = str(tmp_path / "plain")
    assert _replay_to_sink(spark, "mockkafka", path, plain)[0] == 1000
    assert _kafka_rows(spark.read.parquet(f"{plain}/out")) == batch

    flush = str(tmp_path / "flush")
    rows = _replay_to_sink(spark, "mockkafka", path, flush,
                           flush_sentinel="true")
    assert [n for n in rows if n] == [1000, 1]
    out = spark.read.parquet(f"{flush}/out")
    sentinel = out.where(F.col("key") == F.lit(b"-1"))
    assert sentinel.count() == 1
    assert _kafka_rows(out.where(F.col("key") != F.lit(b"-1"))) == batch
    s = sentinel.first()
    assert (s.partition, s.offset) == (0, -1)
    assert s.timestamp > max(r[5] for r in batch)

    assert sum(_replay_to_sink(spark, "mockkafka", path, flush,
                               flush_sentinel="true")) == 0
    assert spark.read.parquet(f"{flush}/out").count() == 1001


def test_mockkafka_stream_plans_one_partition_per_kafka_partition():
    """The data micro-batch has one input partition per Kafka partition,
    each the offset range its log advanced by; the sentinel's micro-batch
    has the sentinel alone, and after it nothing is planned."""
    from insight_de_smart_grid_spark.sources.mock_kafka import (
        MockKafkaStreamReader,
    )
    from tests.conftest import SF_SMOKE

    r = MockKafkaStreamReader({"path": f"{SF_SMOKE}/events.parquet",
                               "flush_sentinel": "true"})
    start = r.initialOffset()
    data = r.latestOffset()
    assert not data["sentinel"] and sum(data["ends"]) == 1000
    parts = r.partitions(start, data)
    assert [(p.idx, p.start, p.end) for p in parts] == [
        (i, 0, e) for i, e in enumerate(data["ends"])]
    flush = r.latestOffset()
    assert flush == {"ends": data["ends"], "sentinel": True}
    assert [p.idx for p in r.partitions(data, flush)] == [None]
    assert r.latestOffset() == flush
    assert r.partitions(flush, flush) == []
