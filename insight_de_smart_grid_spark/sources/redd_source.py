"""Pluggable Spark data source for the reference's REDD channel-file layout
(Spark 4 Python DataSource API).

The reference ingests REDD by looping files in a producer process
(``ingestion/producer_REDD_avro.py:66-98,161-184``). Here the same format is
a first-class source: ``spark.read.format("redd").load(dir)`` scans every
``house_*/channel_*.dat`` in parallel (one input partition per file — file-
level parallelism is the natural unit; a 1000-executor cluster reads 1000
files at once), and ``spark.readStream.format("redd")`` replays the same
files incrementally with checkpointable offsets (each micro-batch reads the
files that arrived since the last one, one partition per file, through the
batch reader — the event-time replay source, SURVEY ST6, as a real source
instead of a harness helper).

Dirty-data policy matches the producer exactly (non-numeric power -> 0.0,
``producer_REDD_avro.py`` / ``producer_GREEND_avro.py:138-146``).

Python-source rows cross the Python<->JVM boundary through Arrow batches;
for the hot path the built-in CSV reader (``files.read_redd_channels``)
stays available — this source exists for API parity (a user can plug any
bespoke format the same way) and for the offset-tracked streaming replay.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

REDD_SOURCE_SCHEMA = StructType([
    StructField("ts", TimestampType()),
    StructField("power", DoubleType()),
    StructField("house_id", StringType()),
    StructField("channel_idx", IntegerType()),
])


def _list_channel_files(root: str) -> list[str]:
    return sorted(str(p) for p in Path(root).glob("house_*/channel_*.dat"))


def _parse_file(path: str):
    """Yield (ts, power, house_id, channel_idx) rows from one channel file.
    Streams line-by-line (the batch reader never holds a whole file).

    Dirty-data policy is IDENTICAL to ``files.read_redd_channels`` (P11:
    ``coalesce(try_cast(c AS double), 0.0)``): any unparsable timestamp or
    power coerces to 0.0 — embedded headers become an epoch-0 row, exactly
    as the CSV path emits them — so the two REDD surfaces are row-for-row
    interchangeable. Only blank lines are skipped (the CSV reader drops
    them too)."""
    import re
    from datetime import datetime, timezone

    m_house = re.search(r"house_(\d+)", path)
    m_chan = re.search(r"channel_(\d+)", path)
    house = m_house.group(1) if m_house else "unknown"
    chan = int(m_chan.group(1)) if m_chan else -1

    def num(s: str) -> float:
        try:
            return float(s)
        except ValueError:
            return 0.0

    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if not parts:
                continue  # blank line (CSV reader drops these too)
            ts_s = num(parts[0])
            power = num(parts[1]) if len(parts) > 1 else 0.0
            ts = datetime.fromtimestamp(ts_s, tz=timezone.utc) \
                .replace(tzinfo=None)
            yield ts, power, house, chan


class _ReddFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ReddBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("redd source requires a path")

    def partitions(self):
        return [_ReddFilePartition(p) for p in _list_channel_files(self.root)]

    def read(self, partition):
        yield from _parse_file(partition.path)


class ReddStreamReader(ReddBatchReader, DataSourceStreamReader):
    """Incremental replay with BY-NAME offsets: the offset records the
    sorted list of files (relative to the root) read so far, so a
    late-arriving file is picked up on the next trigger regardless of where
    it sorts — a count-based offset would silently skip a file that sorts
    into the consumed prefix and re-emit ones after it. Offsets are plain
    JSON; checkpoints restart exactly where they stopped.

    A micro-batch reads one partition per file named in its end offset
    but not in its start, through the batch reader's ``read``, so new
    files are parsed in parallel; the driver only lists names."""

    def initialOffset(self):
        return {"consumed": []}

    def latestOffset(self):
        return {"consumed": [str(Path(p).relative_to(self.root))
                             for p in _list_channel_files(self.root)]}

    def partitions(self, start, end):
        seen = set(start["consumed"])
        return [_ReddFilePartition(str(Path(self.root) / rel))
                for rel in end["consumed"] if rel not in seen]


class ReddDataSource(DataSource):
    @classmethod
    def name(cls):
        return "redd"

    def schema(self):
        return REDD_SOURCE_SCHEMA

    def reader(self, schema):
        return ReddBatchReader(self.options)

    def streamReader(self, schema):
        return ReddStreamReader(self.options)
