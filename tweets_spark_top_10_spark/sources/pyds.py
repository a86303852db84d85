"""Custom Python DataSource (Spark 4 DataSource API): deterministic
synthetic event generator.

The reference's input arrives via Kafka-Connect hour dirs; every
engine also needs a LOAD-GENERATOR source — schema-stable synthetic
rows at arbitrary scale with no files at all.  Spark 4's Python
DataSource API makes that a first-class ``spark.read.format(...)``
citizen: the driver plans one ``InputPartition`` per requested
partition and each executor task generates its own rows — embarrassing
parallelism, zero I/O, linear scale-out (1000 partitions on 1000
cores generate in the same wall time as 4 on 4).

Rows are a PURE FUNCTION of (partition, row index): no RNG state, so
(a) two reads are bit-identical, (b) any slice can be regenerated in
isolation (retry-safe), and (c) the generation rule is replayable as
plain SQL arithmetic — which is how the DuckDB oracle checks a query
over a source DuckDB cannot run (``synthetic_events_by_type``
replays the rule over ``range()``).

Generation rule (documented because the oracle depends on it)::

    id    = partition * rows_per_partition + i
    ts    = 2024-01-01T00:00:00Z + id seconds
    user  = (id * 2654435761) % 97          (Knuth multiplicative hash)
    type  = types[id % 5]
    value = (id * 31 % 1000) / 10.0
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

EVENT_TYPES = ["click", "view", "purchase", "scroll", "share"]
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


class _Partition(InputPartition):
    def __init__(self, index: int, rows: int):
        self.index = index
        self.rows = rows


class _SyntheticReader(DataSourceReader):
    def __init__(self, options):
        self.n_partitions = int(options.get("partitions", "4"))
        self.rows = int(options.get("rows_per_partition", "1000"))
        if self.n_partitions < 1 or self.rows < 1:
            raise ValueError(
                "partitions and rows_per_partition must be >= 1"
            )

    def partitions(self):
        return [_Partition(p, self.rows) for p in range(self.n_partitions)]

    def read(self, partition: _Partition):
        import datetime

        base = partition.index * partition.rows
        for i in range(partition.rows):
            rid = base + i
            yield (
                rid,
                datetime.datetime.utcfromtimestamp(EPOCH_2024 + rid),
                (rid * 2654435761) % 97,
                EVENT_TYPES[rid % 5],
                (rid * 31 % 1000) / 10.0,
            )


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events")`` after
    ``register_synthetic_events(spark)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        )

    def reader(self, schema) -> DataSourceReader:
        return _SyntheticReader(self.options)


def register_synthetic_events(spark) -> None:
    """Idempotent registration (re-register is a no-op overwrite)."""
    spark.dataSource.register(SyntheticEventsDataSource)
