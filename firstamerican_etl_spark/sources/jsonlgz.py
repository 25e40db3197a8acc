"""Custom Python DataSource WRITER (Spark 4 API): export a DataFrame
as sharded ``.jsonl.gz`` — the interchange format LLM training
pipelines consume (one JSON object per line, gzip per shard, one
shard per task, written ON EXECUTORS).

The read side needs no custom code — Spark's JSON reader decompresses
``.gz`` transparently (``spark.read.schema(s).json(dir)``), which is
what the round-trip test uses. This module exists for the write side,
which Spark cannot otherwise produce as gzip-jsonl shards without a
repartition-to-text detour.

Usage::

    spark.dataSource.register(JsonlGzDataSource)
    df.write.format("jsonlgz").mode("overwrite").option("path", out).save()

Commit protocol: each task writes ``part-<partitionId>-<uuid>.jsonl.gz``;
``sources/io.ManifestShardWriter`` publishes a ``_SUCCESS`` manifest of
exactly the committed shards, keeps overwrite crash-safe and removes
orphans on abort. Readers that honor the manifest get task-retry
atomicity; plain directory readers see at-least-once files (same
contract as Hadoop's v1 committer without the rename).

Supported value types: the JSON-native scalars (str/int/float/bool/
None) plus date/timestamp (ISO strings) and arrays/structs of those —
i.e. everything the driver testdata uses. Binary columns are not
supported (encode upstream).
"""

from __future__ import annotations

import datetime as _dt
import gzip
import json

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource

from firstamerican_etl_spark.sources.io import ManifestShardWriter


def _jsonable(v):
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if hasattr(v, "asDict"):
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    return v


class JsonlGzWriter(ManifestShardWriter):
    shard_prefix, shard_suffix = "part", ".jsonl.gz"

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        self.fields = [f.name for f in schema.fields]
        super().__init__(options["path"], overwrite)

    def write_shard(self, path: str, rows) -> None:
        with gzip.open(path, "wt", encoding="utf-8") as out:
            for row in rows:
                rec = {k: _jsonable(v) for k, v in zip(self.fields, row)}
                out.write(json.dumps(rec, ensure_ascii=False))
                out.write("\n")


class JsonlGzDataSource(DataSource):
    """``df.write.format("jsonlgz")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "jsonlgz"

    def writer(self, schema: T.StructType, overwrite: bool) -> JsonlGzWriter:
        return JsonlGzWriter(schema, self.options, overwrite)
