"""Custom connector via Spark 4's Python DataSource API — the
extension point for sources Spark has no built-in reader for
(internal telemetry endpoints, bespoke binary logs, web APIs).

``SyntheticTelemetrySource`` is a deterministic ARITHMETIC source:
row i of n yields (row_id, device, metric, day) by pure integer
formulas, split across ``partitions`` contiguous InputPartitions, so
(a) the reader demonstrates real partition planning — Spark schedules
one Python read task per partition, exactly how a production connector
would shard an API keyspace — and (b) every value is reproducible in
ANSI SQL from ``generate_series``, which makes queries over this
connector strictly oracle-checkable: the oracle replays the
generator's arithmetic, so the differential check covers the whole
read path (partition planning → Python iterator → Arrow conversion).

At 100 TB the same shape holds: partitions() returns one split per
shard of the remote system, reads stream per-partition (no driver
materialization), and Spark parallelizes across executors running the
Python reader.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator, Sequence

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

#: metric = ((i * 31 + 7) % 99991) / 100 — exact in both engines
#: (integer arithmetic + one deterministic double division).
METRIC_MOD = 99991
N_DEVICES = 97
N_DAYS = 30


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SyntheticTelemetryReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 10_000))
        self.num_partitions = int(options.get("partitions", 8))

    def partitions(self) -> Sequence[InputPartition]:
        step = -(-self.rows // self.num_partitions)  # ceil division
        return [
            _RangePartition(lo, min(lo + step, self.rows))
            for lo in range(0, self.rows, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield (
                i,
                i % N_DEVICES,
                ((i * 31 + 7) % METRIC_MOD) / 100.0,
                i % N_DAYS,
            )


class SyntheticTelemetrySource(DataSource):
    """spark.read.format("synthetic_telemetry").option("rows", n)"""

    @classmethod
    def name(cls) -> str:
        return "synthetic_telemetry"

    def schema(self) -> str:
        return "row_id long, device long, metric double, day int"

    def reader(self, schema) -> SyntheticTelemetryReader:  # noqa: ARG002
        return SyntheticTelemetryReader(self.options)

    def simpleStreamReader(self, schema):  # noqa: ARG002
        return SyntheticTelemetryStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the custom format.

    The module imports nothing from the package, so it is pickled by
    value: Spark's Python workers rebuild the source without importing
    the package, which they cannot do when the driver found it only
    through its own ``sys.path``."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(SyntheticTelemetrySource)


class SyntheticTelemetryStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor of the same connector
    (``SimpleDataSourceStreamReader``): offsets are plain row counters,
    each micro-batch serves the next ``batch_rows`` generator rows, so
    the stream replays the identical arithmetic the batch reader (and
    the DuckDB oracle) produce — offset tracking, replay-on-restart,
    and exactly-once sink behavior are therefore all differentially
    checkable against the batch read."""

    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 10_000))
        self.batch_rows = int(options.get("batch_rows", 1_000))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        lo = int(start["next"])
        hi = min(lo + self.batch_rows, self.rows)
        rows = [
            (i, i % N_DEVICES, ((i * 31 + 7) % METRIC_MOD) / 100.0,
             i % N_DAYS)
            for i in range(lo, hi)
        ]
        return iter(rows), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([
            (i, i % N_DEVICES, ((i * 31 + 7) % METRIC_MOD) / 100.0,
             i % N_DAYS)
            for i in range(int(start["next"]), int(end["next"]))
        ])

    def commit(self, end: dict) -> None:
        pass
