"""Custom Python DataSource **writer**: a two-phase-commit NDJSON sink.

The reference's write path is fire-and-forget: one ``putRecord`` per
event, failures logged and dropped (at-most-once,
``FirehoseEventStoreProvider.java:141-150``). Spark's Python DataSource
writer API is the idiomatic place to do this *correctly*: each task
writes its partition to a temp file and reports a commit message; the
driver's ``commit`` publishes all temp files with one atomic rename
pass + a ``_SUCCESS`` manifest, and ``abort`` removes the orphans — so
a failed job leaves no partial output visible (the all-or-nothing
upgrade over the reference's silent drops, same contract as Spark's
file sinks).

Wire format is the engine's NDJSON dialect (``sources/formats.py``):
timestamps at microsecond precision, shortest-round-trip doubles — so
the sink round-trips bitwise against the parquet source of truth and
the registry entry is oracle-checked like any other query.

Scale: one temp file per task, commit cost O(#partitions) renames on
the driver, no data movement at commit. A production variant points
``write`` at an object store's multipart API and ``commit`` at its
completion call — the shape (task-local upload, driver-side publish)
is exactly this.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from keycloak_event_stream_spark.registry import register as _q

try:  # Spark >= 4: Python DataSource API
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    _HAVE_DATASOURCE = True
except ImportError:  # pragma: no cover - older Spark
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceWriter = object  # type: ignore[assignment,misc]
    WriterCommitMessage = object  # type: ignore[assignment,misc]
    _HAVE_DATASOURCE = False


if _HAVE_DATASOURCE:

    class _Committed(WriterCommitMessage):
        def __init__(self, tmp_name: str, n_rows: int):
            self.tmp_name = tmp_name
            self.n_rows = n_rows

    class NdjsonSinkWriter(DataSourceWriter):
        """Task side: serialize rows to an attempt-private temp file.

        Temp names carry (job id, partition id, task attempt id), so
        concurrent speculative or zombie attempts of the same task can
        never write the same file — only the attempt whose commit
        message reaches the driver gets published (the same contract as
        Hadoop's FileOutputCommitter v1). Published part names embed
        the per-job id, so a second ``mode("append")`` write to the
        same path adds files instead of renaming over earlier output.
        """

        def __init__(self, options, overwrite: bool):
            import uuid

            self.path = options.get("path")
            if not self.path:
                raise ValueError("ndjson_sink requires a 'path' option")
            self.overwrite = overwrite
            # generated driver-side once per write job, serialized to
            # every task: distinguishes this job's files from any
            # earlier job's output in the same directory
            self.job_id = uuid.uuid4().hex[:12]

        def write(self, iterator):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId()
            attempt = ctx.taskAttemptId()
            os.makedirs(self.path, exist_ok=True)
            tmp = f"_tmp-{self.job_id}-{pid}-{attempt}.jsonl"
            n = 0
            with open(os.path.join(self.path, tmp), "w") as fh:
                for row in iterator:
                    rec = {}
                    for k, v in row.asDict().items():
                        if hasattr(v, "strftime"):  # datetime -> micros
                            rec[k] = v.strftime("%Y-%m-%d %H:%M:%S.%f")
                        else:
                            rec[k] = v
                    fh.write(json.dumps(rec) + "\n")
                    n += 1
            return _Committed(tmp, n)

        def commit(self, messages):
            # publish: one rename per *winning* task file + a _SUCCESS
            # manifest; then sweep this job's losing-attempt temps.
            total = 0
            for i, m in enumerate(messages):
                os.rename(
                    os.path.join(self.path, m.tmp_name),
                    os.path.join(
                        self.path, f"part-{self.job_id}-{i:05d}.jsonl"
                    ),
                )
                total += m.n_rows
            for leftover in os.listdir(self.path):
                if leftover.startswith(f"_tmp-{self.job_id}-"):
                    try:
                        os.remove(os.path.join(self.path, leftover))
                    except FileNotFoundError:
                        pass
            with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
                fh.write(json.dumps({"rows": total, "job": self.job_id}))

        def abort(self, messages):
            for leftover in os.listdir(self.path) if os.path.isdir(self.path) else []:
                if leftover.startswith(f"_tmp-{self.job_id}-"):
                    try:
                        os.remove(os.path.join(self.path, leftover))
                    except FileNotFoundError:
                        pass

    class NdjsonSinkDataSource(DataSource):
        """``df.write.format("ndjson_sink").option("path", ...)``."""

        @classmethod
        def name(cls) -> str:
            return "ndjson_sink"

        def writer(self, schema, overwrite: bool) -> NdjsonSinkWriter:
            return NdjsonSinkWriter(self.options, overwrite)


def register(spark: SparkSession) -> None:
    if not _HAVE_DATASOURCE:  # pragma: no cover
        raise NotImplementedError("Python DataSource API needs Spark >= 4")
    spark.dataSource.register(NdjsonSinkDataSource)


_EVENTS_ORACLE = """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
"""


@_q("q_sink_pydatasource_roundtrip", oracle=_EVENTS_ORACLE)
def q_sink_pydatasource_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events -> custom two-phase-commit Python sink -> read back with
    the declared schema. The oracle is the original parquet, so the
    custom writer is held to the same bit-losslessness bar as the
    built-in format round-trips (timestamp micros, shortest-round-trip
    doubles, JSON quoting in props)."""
    import tempfile

    from keycloak_event_stream_spark.catalog import load_table
    from keycloak_event_stream_spark.sources.formats import read_ndjson

    register(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    out = tempfile.mkdtemp(prefix="pysink_")
    ev.write.format("ndjson_sink").option("path", out).mode(
        "append"
    ).save()
    return read_ndjson(spark, out, ev.schema)


# This module defines code that executes in Python workers; ship it by
# value so executors never need the package importable (see _shipping).
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
