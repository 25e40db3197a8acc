"""WebDataset-style tar-shard DataSource (Spark 4 Python DataSource
API, stdlib ``tarfile`` only): the sample-per-key, file-per-field
sharded tar layout multimodal LLM training loaders stream
(sample ``1234`` with an image and a metadata record is stored as
members ``1234.ppm`` + ``1234.json`` inside ``shard-*.tar``).

Write side::

    spark.dataSource.register(WdsDataSource)
    (df  # one column named __key__, the rest become member files
       .write.format("wds").mode("overwrite")
       .option("path", out_dir).save())

Each task writes ``shard-<partitionId>-<uuid>.tar``; the commit
protocol (a ``_SUCCESS`` manifest of exactly the committed shards,
crash-safe overwrite, orphan removal on abort) is
``sources/io.ManifestShardWriter``. Binary columns are stored as-is;
strings as UTF-8; anything else is rejected (encode upstream — engine
discipline, no silent coercion).

Read side::

    (spark.read.format("wds")
       .option("path", out_dir)
       .option("columns", "ppm:binary,json:string")
       .load())  # => __key__ string, ppm binary, json string

One input partition per SHARD — the webdataset contract: a shard is
the unit of sequential I/O and shuffling, never split within (tar has
no random access without an index). Readers honor the ``_SUCCESS``
manifest when present (task-retry atomicity); without it they glob
``*.tar``. The ``columns`` option fixes the schema explicitly; when
absent, the first sample of the first shard is inspected (extension →
column, ``.json``/``.txt``/``.cls`` as string, the rest binary).

Scale notes: shards are independent, so a 100M-sample corpus is
|shards| parallel sequential reads with zero coordination; member
bytes never pass through the driver. Spark's shuffle never sees the
payloads unless a downstream op asks — the decode/transform chain
(operators/multimodal.py) is narrow mapInPandas over shard-aligned
partitions.
"""

from __future__ import annotations

import glob
import io
import os
import tarfile

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from firstamerican_etl_spark.sources.io import ManifestShardWriter

_KEY = "__key__"
_STRING_EXTS = {"json", "txt", "cls"}


class _Shard(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WdsWriter(ManifestShardWriter):
    shard_prefix, shard_suffix = "shard", ".tar"

    def __init__(self, schema: T.StructType, options: dict, overwrite: bool):
        names = [f.name for f in schema.fields]
        if _KEY not in names:
            raise ValueError(f"wds writer needs a '{_KEY}' column; got {names}")
        for f in schema.fields:
            if f.name == _KEY:
                continue
            if not isinstance(f.dataType, (T.BinaryType, T.StringType)):
                raise ValueError(
                    f"wds member column {f.name} must be binary or string, "
                    f"got {f.dataType.simpleString()} (encode upstream)"
                )
        self.fields = names
        super().__init__(options["path"], overwrite)

    def write_shard(self, path: str, rows) -> None:
        key_idx = self.fields.index(_KEY)
        with tarfile.open(path, "w") as tar:
            for row in rows:
                key = str(row[key_idx])
                for col, val in zip(self.fields, row):
                    if col == _KEY or val is None:
                        continue
                    payload = val if isinstance(val, (bytes, bytearray)) else str(val).encode()
                    info = tarfile.TarInfo(f"{key}.{col}")
                    info.size = len(payload)
                    tar.addfile(info, io.BytesIO(bytes(payload)))


def _shard_paths(path: str) -> list[str]:
    manifest = os.path.join(path, "_SUCCESS")
    if os.path.exists(manifest):
        with open(manifest) as f:
            names = [ln.strip() for ln in f if ln.strip()]
        return [os.path.join(path, n) for n in names]
    return sorted(glob.glob(os.path.join(path, "*.tar")))


class WdsReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema = schema
        self.path = options["path"]

    def partitions(self):
        return [_Shard(p) for p in _shard_paths(self.path)]

    def read(self, partition: _Shard):
        if partition is None:  # empty partitions() → PySpark passes [None]
            return
        cols = [f.name for f in self.schema.fields if f.name != _KEY]
        types = {
            f.name: f.dataType for f in self.schema.fields if f.name != _KEY
        }
        current_key: str | None = None
        sample: dict[str, object] = {}

        def emit():
            return tuple(
                [current_key]
                + [sample.get(c) for c in cols]
            )

        with tarfile.open(partition.path) as tar:
            for member in tar:
                if not member.isfile():
                    continue
                key, _, ext = member.name.rpartition(".")
                if ext not in types:
                    continue  # pathGlobFilter-equivalent: skip junk members
                if key != current_key and current_key is not None:
                    yield emit()
                    sample = {}
                current_key = key
                data = tar.extractfile(member).read()
                sample[ext] = (
                    data
                    if isinstance(types[ext], T.BinaryType)
                    else data.decode("utf-8")
                )
            if current_key is not None:
                yield emit()


class WdsDataSource(DataSource):
    """``spark.read.format("wds")`` / ``df.write.format("wds")`` —
    see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "wds"

    def schema(self) -> T.StructType:
        fields = [T.StructField(_KEY, T.StringType(), nullable=False)]
        spec = self.options.get("columns")
        if spec:
            for part in spec.split(","):
                col, _, kind = part.strip().partition(":")
                dt = T.BinaryType() if kind.strip() in ("", "binary") else T.StringType()
                fields.append(T.StructField(col, dt, nullable=True))
            return T.StructType(fields)
        shards = _shard_paths(self.options["path"])
        if not shards:
            raise FileNotFoundError(self.options["path"])
        # inspect the first sample of the first shard
        exts: list[str] = []
        first_key: str | None = None
        with tarfile.open(shards[0]) as tar:
            for member in tar:
                if not member.isfile():
                    continue
                key, _, ext = member.name.rpartition(".")
                if first_key is None:
                    first_key = key
                if key != first_key:
                    break
                exts.append(ext)
        for ext in exts:
            dt = T.StringType() if ext in _STRING_EXTS else T.BinaryType()
            fields.append(T.StructField(ext, dt, nullable=True))
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> WdsReader:
        return WdsReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> WdsWriter:
        return WdsWriter(schema, dict(self.options), overwrite)
