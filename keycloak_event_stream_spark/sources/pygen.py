"""Custom Python DataSource **reader** with filter pushdown.

The reference reads its event store exclusively through Athena's
external-table scan (``AbstractAthenaQuery.java:54-80`` —
startQueryExecution/getQueryResults over the SQL that
``AthenaEventQuery.java`` assembles) and relies on the engine to
prune partitions from the WHERE clause. This
module is that capability rebuilt on Spark's Python DataSource API
(Spark 4.1 ``pushFilters``): a deterministic sharded event generator
whose reader

- receives the query's conjunctive filters once at planning time,
- CONSUMES the shard-key predicates (EqualTo / In / ranged compares on
  ``shard``) to prune entire input partitions — the Python-source
  equivalent of hive-partition pruning, so a ``shard = 3`` query plans
  1 of 8 partitions and the executors never see the other 7,
- CONSUMES ``EqualTo(event_type)`` as a row-level generator filter,
- returns every other filter unsupported, so Spark still evaluates the
  residual predicate above the scan (correctness never depends on the
  source's cooperation).

Observability: planning for Python sources happens in a separate
Python worker process, so the reader records what it pushed/pruned
into an audit JSON file named by the ``audit`` option — the test
asserts pushed-vs-residual filters and the pruned partition count from
that file, not from trusting this docstring.

Scale posture: a generator source stands in for any sharded external
system (REST shards, key-ranged KV store, kafka-partition snapshot).
The pattern that matters at 100 TB is partition pruning BEFORE task
scheduling plus row filtering INSIDE the source — both demonstrated
here and both oracle-checked (the generator's arithmetic is replayed
in DuckDB)."""

from __future__ import annotations

import json
import os
import tempfile
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from keycloak_event_stream_spark.registry import register as _q

try:  # Spark >= 4.1: Python DataSource API with filter pushdown
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        Filter,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        InputPartition,
        LessThan,
        LessThanOrEqual,
    )

    _HAVE_PUSHDOWN = True
except ImportError:  # pragma: no cover - older Spark
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]
    _HAVE_PUSHDOWN = False


# deterministic row recipe, replayed verbatim in the DuckDB oracle:
#   event_id   = shard * rows_per_shard + i
#   event_type = ('click','view','purchase')[event_id % 3]
#   amount     = (event_id * 2654435761) % 10000     (Knuth hash step)
_TYPES = ("click", "view", "purchase")
_MULT = 2654435761


def _gen_row(shard: int, event_id: int):
    return (
        shard,
        event_id,
        _TYPES[event_id % 3],
        (event_id * _MULT) % 10000,
    )


if _HAVE_PUSHDOWN:

    class _ShardPartition(InputPartition):
        def __init__(self, shard: int):
            self.shard = shard

    class EventGenReader(DataSourceReader):
        """Sharded generator with shard-pruning + row-filter pushdown."""

        def __init__(self, options):
            self.n_shards = int(options.get("shards", "8"))
            self.rows_per_shard = int(options.get("rows_per_shard", "1000"))
            self.audit_path = options.get("audit")
            # pushdown state (filled by pushFilters, read by
            # partitions()/read() — the documented self-mutation flow)
            self.shard_pred = []  # list of (op, value) on `shard`
            self.type_eq = None  # event_type equality
            self.pushed: list[str] = []
            self.residual: list[str] = []

        def pushFilters(self, filters: list["Filter"]):
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("shard",):
                    self.shard_pred.append(("in", {f.value}))
                elif isinstance(f, In) and f.attribute == ("shard",):
                    self.shard_pred.append(("in", set(f.value)))
                elif isinstance(f, GreaterThan) and f.attribute == ("shard",):
                    self.shard_pred.append(("gt", f.value))
                elif (
                    isinstance(f, GreaterThanOrEqual)
                    and f.attribute == ("shard",)
                ):
                    self.shard_pred.append(("ge", f.value))
                elif isinstance(f, LessThan) and f.attribute == ("shard",):
                    self.shard_pred.append(("lt", f.value))
                elif (
                    isinstance(f, LessThanOrEqual)
                    and f.attribute == ("shard",)
                ):
                    self.shard_pred.append(("le", f.value))
                elif isinstance(f, EqualTo) and f.attribute == (
                    "event_type",
                ):
                    self.type_eq = f.value
                else:
                    # anything else stays Spark's job (residual filter
                    # evaluated above the scan)
                    self.residual.append(repr(f))
                    yield f
                    continue
                self.pushed.append(repr(f))

        def _keep_shard(self, s: int) -> bool:
            for op, v in self.shard_pred:
                if op == "in" and s not in v:
                    return False
                if op == "gt" and not s > v:
                    return False
                if op == "ge" and not s >= v:
                    return False
                if op == "lt" and not s < v:
                    return False
                if op == "le" and not s <= v:
                    return False
            return True

        def partitions(self):
            parts = [
                _ShardPartition(s)
                for s in range(self.n_shards)
                if self._keep_shard(s)
            ]
            if self.audit_path:
                with open(self.audit_path, "w") as fh:
                    json.dump(
                        {
                            "pushed": self.pushed,
                            "residual": self.residual,
                            "planned_partitions": len(parts),
                            "total_shards": self.n_shards,
                        },
                        fh,
                    )
            return parts

        def read(self, partition) -> Iterator[tuple]:
            base = partition.shard * self.rows_per_shard
            for i in range(self.rows_per_shard):
                row = _gen_row(partition.shard, base + i)
                if self.type_eq is not None and row[2] != self.type_eq:
                    continue
                yield row

    class EventGenSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "kes_eventgen"

        def schema(self) -> str:
            return (
                "shard int, event_id bigint, "
                "event_type string, amount bigint"
            )

        def reader(self, schema) -> "EventGenReader":
            return EventGenReader(self.options)


def register(spark: SparkSession) -> None:
    if not _HAVE_PUSHDOWN:  # pragma: no cover
        raise NotImplementedError(
            "Python DataSource filter pushdown needs Spark >= 4.1"
        )
    spark.dataSource.register(EventGenSource)


_SHARDS, _ROWS = 8, 500


def read_eventgen(
    spark: SparkSession, audit_path: str | None = None
) -> DataFrame:
    register(spark)
    # get_spark declares it; a caller's session needs it, on at plan time
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    r = (
        spark.read.format("kes_eventgen")
        .option("shards", str(_SHARDS))
        .option("rows_per_shard", str(_ROWS))
    )
    if audit_path:
        r = r.option("audit", audit_path)
    return r.load()


@_q(
    "q_source_pydatasource_pushdown",
    oracle=f"""
    WITH g AS (
      SELECT CAST(s.range AS INTEGER) AS shard,
             CAST(s.range * {_ROWS} + r.range AS BIGINT) AS event_id
      FROM range({_SHARDS}) s CROSS JOIN range({_ROWS}) r
    ),
    t AS (
      SELECT shard, event_id,
             ['click','view','purchase'][CAST(event_id % 3 AS INTEGER) + 1]
               AS event_type,
             (event_id * {_MULT}) % 10000 AS amount
      FROM g
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(amount) AS BIGINT) AS sum_amount,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id
    FROM t
    WHERE shard >= 5 AND event_type = 'click' AND amount > 100
    GROUP BY shard
    ORDER BY shard
    """,
)
def q_source_pydatasource_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scan the pushdown-capable Python DataSource with a mixed
    predicate: ``shard >= 5`` prunes 5 of 8 partitions at PLANNING
    time, ``event_type = 'click'`` filters inside the generator, and
    ``amount > 100`` is left residual for Spark — then aggregate per
    shard. The DuckDB oracle replays the generator arithmetic over
    ``range()``, so the values prove the pushdown dropped no rows it
    should have kept (sf_dir unused: the source IS the data)."""
    from pyspark.sql import functions as F

    df = read_eventgen(spark)
    return (
        df.filter(
            (F.col("shard") >= 5)
            & (F.col("event_type") == "click")
            & (F.col("amount") > 100)
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("amount").cast("bigint").alias("sum_amount"),
            F.min("event_id").cast("bigint").alias("min_id"),
            F.max("event_id").cast("bigint").alias("max_id"),
        )
        .orderBy("shard")
    )


def _tmp_audit() -> str:
    fd, path = tempfile.mkstemp(prefix="kes_eventgen_audit_", suffix=".json")
    os.close(fd)
    os.unlink(path)
    return path


# This module defines code that executes in Python workers; ship it by
# value so executors never need the package importable (see _shipping).
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
