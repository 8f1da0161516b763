"""First-class ``spark.read.format("warc")`` connector via the Python
DataSource API (Spark 4, SPARK-44076).

The map_rows path (sources/formats.explode_warc) treats WARC ingestion
as a transformation over a pre-loaded binaryFile frame. This module makes
the crawl container a SOURCE in its own right — the idiomatic Spark 4 way
to add a format the built-ins lack:

  spark.dataSource.register(WarcDataSource)
  df = (spark.read.format("warc")
        .option("with_body", "true")          # carry bodies (heavy column)
        .load("/data/crawl/*.warc"))

Scale/engine integration the transformation path cannot give:

  * partition planning — ``partitions()`` returns one InputPartition per
    WARC file, so a 10k-file crawl drop fans out to 10k tasks with NO
    driver-side data movement and no binaryFile 2 GiB-row ceiling;
  * filter pushdown — Catalyst hands the reader its predicates via
    ``pushFilters``; equality/IN on ``rec_type`` and prefix/contains on
    ``target_uri`` are applied INSIDE the parser loop, so non-matching
    records are dropped before a row is ever materialized to Arrow (on a
    response-only read of a typical crawl file that is ~2/3 of rows never
    built). Unsupported filters are returned to Spark, which keeps
    evaluating them post-scan — pushdown is an optimization, never a
    semantics change;
  * column pruning — bodies are parsed lazily: ``with_body=false``
    (default) digests bodies to md5 without shipping them.

The record parser is the length-driven parse_warc (ISO 28500) shared with
the transformation path — one parser, two access paths.
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    StringContains,
    StringStartsWith,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["WarcDataSource"]


@dataclass
class _WarcFilePartition(InputPartition):
    paths: tuple[str, ...]


def _warc_schema(with_body: bool) -> StructType:
    fields = [
        StructField("warc_file", StringType()),
        StructField("rec_idx", IntegerType()),
        StructField("rec_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("content_len", LongType()),
        StructField("content_md5", StringType()),
    ]
    if with_body:
        fields.append(StructField("body", BinaryType()))
    return StructType(fields)


class WarcReaderBase(DataSourceReader):
    """Byte-bin-packed partitions; records filtered during the parse.

    This base class has NO ``pushFilters`` — that lives on the
    ``WarcReader`` subclass, used only when ``option("pushdown","true")``.
    Pushdown is OPT-IN because of an engine-level sharp edge measured on
    Spark 4.1 (tests/test_formats.py::test_warc_datasource_pushdown_*):
    the planned Python scan node is cached per DataFrame, so after a
    filtered query on a DataFrame the reader's pushed-filter state is
    REUSED by later queries on the same DataFrame — an unfiltered
    ``df.count()`` after ``df.where(...)`` would silently see the
    filtered stream. With pushdown enabled, treat each ``load()`` as
    single-query (exactly how the registry entry uses it); the default
    reader has no such state by construction."""

    def __init__(self, schema: StructType, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("warc source requires a path: .load('/dir/*.warc')")
        self._path = path
        self._gzipped = options.get("gzipped", "false").lower() == "true"
        self._with_body = "body" in schema.fieldNames()
        self._target_bytes = int(
            options.get("target_partition_bytes", str(128 * 1024 * 1024))
        )
        self._pushed: list[Filter] = []

    # -- planning -----------------------------------------------------------
    def partitions(self) -> list[InputPartition]:
        """Split planning by BYTES, not file count (the same discipline as
        spark.sql.files.maxPartitionBytes): greedily bin-pack the sorted
        file list into partitions of ~``target_partition_bytes``. A crawl
        drop of 10k × 1 GiB files fans out to 10k tasks; a directory of
        10k tiny test fixtures collapses to a handful — neither floods
        the scheduler nor starves the executors."""
        pattern = self._path
        if os.path.isdir(pattern):
            pattern = os.path.join(pattern, "*")
        files = sorted(p for p in glob.glob(pattern) if os.path.isfile(p))
        if not files:
            raise FileNotFoundError(f"no WARC files match {self._path!r}")
        bins: list[list[str]] = [[]]
        acc = 0
        for p in files:
            sz = os.path.getsize(p)
            if bins[-1] and acc + sz > self._target_bytes:
                bins.append([])
                acc = 0
            bins[-1].append(p)
            acc += sz
        return [_WarcFilePartition(tuple(b)) for b in bins]

    # -- execution ----------------------------------------------------------
    def _keep(self, rec_type: str, uri: str | None) -> bool:
        for f in self._pushed:
            if isinstance(f, EqualTo):
                if rec_type != f.value:
                    return False
            elif isinstance(f, In):
                if rec_type not in f.value:
                    return False
            elif isinstance(f, StringStartsWith):
                if uri is None or not uri.startswith(f.value):
                    return False
            elif isinstance(f, StringContains):
                if uri is None or f.value not in uri:
                    return False
        return True

    def read(self, partition: _WarcFilePartition) -> Iterator[tuple]:
        # Imported here so the executor-side unpickle needs only this module.
        from bigdatacw1_spark.sources.formats import gunzip_bounded, parse_warc

        for path in partition.paths:
            with open(path, "rb") as fh:
                raw = fh.read()
            if self._gzipped:
                # bounded inflate — an unbounded gzip.decompress on
                # untrusted crawl archives is a decompression bomb
                raw = gunzip_bounded(raw)
            name = os.path.basename(path)
            for idx, (rec_type, uri, body) in enumerate(parse_warc(raw)):
                if not self._keep(rec_type, uri):
                    continue
                row = (
                    name,
                    idx,
                    rec_type,
                    uri,
                    len(body),
                    hashlib.md5(body).hexdigest(),
                )
                yield row + (body,) if self._with_body else row


class WarcReader(WarcReaderBase):
    """Pushdown-capable reader (``option("pushdown", "true")``): applies
    rec_type equality/IN and target_uri prefix/contains predicates inside
    the parser loop; everything else is returned to Spark untouched.
    Requires spark.sql.python.filterPushdown.enabled=true."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if isinstance(f, (EqualTo, In)) and f.attribute == ("rec_type",):
                self._pushed.append(f)
            elif isinstance(f, (StringStartsWith, StringContains)) and f.attribute == (
                "target_uri",
            ):
                self._pushed.append(f)
            else:
                # unsupported → Spark keeps evaluating it after the scan
                yield f


class WarcDataSource(DataSource):
    """``format("warc")``: options path (file/dir/glob), gzipped
    (true/false), with_body (true/false), target_partition_bytes (int),
    pushdown (true/false — see WarcReaderBase for why it is opt-in)."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> StructType:
        return _warc_schema(self.options.get("with_body", "false").lower() == "true")

    def reader(self, schema: StructType) -> WarcReaderBase:
        cls = (
            WarcReader
            if self.options.get("pushdown", "false").lower() == "true"
            else WarcReaderBase
        )
        return cls(schema, dict(self.options))
