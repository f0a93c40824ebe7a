"""``spark.read.format("marcxml")`` — a Spark 4 Python DataSource for
MARCXML record files.

The reference's reader walks files on ONE machine
(/root/reference/mc2skos/reader.py:15-26); the convert CLI used to do
the same on the driver.  This source moves the XML parse to EXECUTORS:
one :class:`InputPartition` per file, so a 10k-file vocabulary dump
parses 10k-way parallel and no file's bytes ever visit the driver.
Rows are the pipeline's MARC_RECORDS shape ``(record_id, conv_id,
record_xml)`` — ``conv_id`` is the file stem (the "conversation" a
record came from) and ``record_id = "<stem>#<index>"``, exactly as the
driver-side loader minted them (golden byte tests pin the
equivalence).

Filter pushdown: equality/IN/prefix filters on ``conv_id`` prune whole
FILES before any byte is read (the stem is derivable from the path
alone) — the same skip-don't-decide contract as the manifest zone
maps: unsupported filters are returned to Spark, which re-applies
everything post-scan, so pushdown can only skip provably-irrelevant
files, never change results.

Usage::

    from mc2skos_spark.sources.marcxml_source import register
    register(spark)
    df = (spark.read.format("marcxml")
          .option("path", "/data/vocab/*.xml").load())
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    EqualTo, In, InputPartition,
                                    StringStartsWith)

SCHEMA = "record_id string, conv_id string, record_xml string"


def _stem(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


class _FilePartition(InputPartition):

    def __init__(self, path: str):
        self.path = path


class MarcXmlReader(DataSourceReader):

    def __init__(self, options):
        # 'paths' (a JSON array) is the exact form: file names survive
        # verbatim, commas included.  'path' (file, glob, or comma-list)
        # stays for hand-typed use; it cannot express a comma in a name.
        encoded = options.get("paths")
        pattern = options.get("path")
        if not encoded and not pattern:
            raise ValueError("marcxml source needs .option('paths', "
                             "<JSON array>) or .option('path', "
                             "<file, glob, or comma-list>)")
        if encoded:
            # exact names: "a[1].xml" is that file, not a glob class
            paths = list(json.loads(encoded))
        else:
            paths = []
            for part in (p.strip() for p in pattern.split(",")):
                paths.extend(sorted(glob.glob(part)) if any(
                    c in part for c in "*?[") else [part])
        if not paths:
            raise ValueError("marcxml source matched no files for %r"
                             % (encoded or pattern))
        self.paths = paths

    def pushFilters(self, filters):
        """Prune FILES for conv_id (file-stem) predicates; the rest is
        handed back to Spark (which re-applies all filters post-scan,
        so this can only skip, never decide)."""
        unsupported = []
        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("conv_id",) and isinstance(f, EqualTo):
                self.paths = [p for p in self.paths
                              if _stem(p) == f.value]
            elif col == ("conv_id",) and isinstance(f, In):
                keep = set(f.values)
                self.paths = [p for p in self.paths
                              if _stem(p) in keep]
            elif col == ("conv_id",) and isinstance(f, StringStartsWith):
                self.paths = [p for p in self.paths
                              if _stem(p).startswith(f.value)]
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        # one partition per FILE: a vocabulary dump's natural grain —
        # record extraction inside a file is a sequential SAX walk, and
        # cross-file parallelism is what a 1000-executor cluster needs
        return [_FilePartition(p) for p in self.paths]

    def read(self, partition):
        # imports INSIDE read(): this body runs on executors, where
        # only the shipped package is importable
        from mc2skos_spark.sources.synth import records_in_xml_file
        stem = _stem(partition.path)
        for i, xml in enumerate(records_in_xml_file(partition.path)):
            yield ("%s#%d" % (stem, i), stem, xml)


class MarcXmlDataSource(DataSource):

    @classmethod
    def name(cls) -> str:
        return "marcxml"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> MarcXmlReader:
        return MarcXmlReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on this session (and enable
    Python-source filter pushdown, off by default in Spark 4.1 — a
    reader implementing ``pushFilters`` REFUSES to run without it
    rather than silently skipping the pushdown)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MarcXmlDataSource)


def read_marcxml(spark, pattern):
    """One-call convenience: register + load.  ``pattern`` is a file /
    glob / comma-list string, or a list of exact paths (passed as a
    JSON option, so names containing commas survive)."""
    register(spark)
    reader = spark.read.format("marcxml")
    if isinstance(pattern, (list, tuple)):
        reader = reader.option("paths", json.dumps(list(pattern)))
    else:
        reader = reader.option("path", pattern)
    return reader.load()
