"""Catalog commits take per-file lineage and zone maps from the parquet
footers of the files just written.  These tests pin that the footer
path answers exactly what the read-back scan answers (file order, part
ids, input spans, row counts, min/max/null counts), that the scan still
runs where footers cannot reproduce it, and that a footer commit adds
no Spark job to the write."""

import os
import uuid

import pytest

from mc2skos_spark.sinks import icebergish
from mc2skos_spark.sinks.icebergish import IcebergishCatalog

pytestmark = pytest.mark.spark

# one literal per _STATS_TYPES entry: (SQL type, three distinct values)
_TYPED_VALUES = {
    "tinyint": ("-7", "0", "100"),
    "smallint": ("-300", "2", "30000"),
    "int": ("-5", "7", "123456"),
    "bigint": ("-9000000000", "1", "9000000000"),
    "float": ("-0.5", "0.25", "1.5"),
    "double": ("-2.5", "0.125", "3.75"),
    "string": ("'Zebra'", "'apple'", "'ü-umlaut'"),
    "date": ("DATE'1999-12-31'", "DATE'2020-02-29'", "DATE'0999-01-01'"),
    "timestamp": ("TIMESTAMP'2001-01-01 00:00:00'",
                  "TIMESTAMP'1970-01-01 12:30:00'",
                  "TIMESTAMP'2030-06-01 08:00:00'"),
    "timestamp_ntz": ("TIMESTAMP_NTZ'2001-01-01 00:00:00'",
                      "TIMESTAMP_NTZ'1970-01-01 12:30:00'",
                      "TIMESTAMP_NTZ'2030-06-01 08:00:00'"),
    "boolean": ("true", "false", "true"),
}
_SCAN_ONLY_TYPES = {"float", "double", "timestamp", "timestamp_ntz"}


def _typed(spark, sql_type):
    a, b, c = _TYPED_VALUES[sql_type]
    return spark.sql(
        "SELECT cast(id AS string) AS k, CAST(CASE id %% 4 WHEN 0 THEN %s "
        "WHEN 1 THEN %s WHEN 2 THEN %s END AS %s) AS v FROM range(40)"
        % (a, b, c, sql_type)).repartition(3)


def _scan_lineage(cat, table, manifest, key, base_lineage):
    """The lineage the read-back scan derives for the manifest's newest
    snapshot dir, built the way _write_snapshot builds entries."""
    from pyspark.sql import types as T
    snap = manifest["dirs"][-1]
    rows = cat._scan_file_stats(
        os.path.join(cat._table_dir(table), snap),
        T.StructType.fromJson(manifest["schema"]), key,
        manifest["stats_columns"])
    stat_cols = manifest["stats_columns"]
    return base_lineage + [
        {"part_id": len(base_lineage) + i,
         "file": os.path.basename(r["file"]), "dir": snap,
         "input_min": r["mn"], "input_max": r["mx"], "row_count": r["cnt"],
         **({"stats": r["stats"]} if stat_cols else {})}
        for i, r in enumerate(rows)]


def _commit_typed(sql_type):
    def commit(spark, cat):
        return [cat.write("t", _typed(spark, sql_type), lineage_key="k",
                          stats_columns=["k", "v"])], "k"
    return commit


def _commit_key(sql_type):
    def commit(spark, cat):
        df = spark.sql("SELECT CAST(id * 37 %% 101 - 50 AS %s) AS key, "
                       "id FROM range(60)" % sql_type).repartition(4)
        return [cat.write("t", df, lineage_key="key",
                          stats_columns=["id"])], "key"
    return commit


def _commit_empty(spark, cat):
    df = spark.createDataFrame([], "k string, v bigint")
    return [cat.write("t", df, lineage_key="k",
                      stats_columns=["v"])], "k"


def _commit_all_null(spark, cat):
    df = spark.sql("SELECT cast(id AS string) AS k, cast(null AS string) "
                   "AS v, if(id < 5, cast(null AS int), id) AS w "
                   "FROM range(20)").repartition(2)
    return [cat.write("t", df, lineage_key="k",
                      stats_columns=["v", "w"])], "k"


def _commit_partitioned(spark, cat):
    df = spark.sql("SELECT cast(id AS string) AS k, CASE id % 4 "
                   "WHEN 0 THEN 'a b' WHEN 1 THEN 'x/y%z' WHEN 2 THEN "
                   "'ü<>|' END AS p, id AS v FROM range(50)")
    return [cat.write("t", df.repartition(3), partition_by=["p"],
                      lineage_key="k", stats_columns=["v"])], "k"


def _commit_partition_key(spark, cat):
    df = spark.sql("SELECT id, cast(id % 3 AS string) AS p FROM range(30)")
    return [cat.write("t", df, partition_by=["p"],
                      lineage_key="p")], "p"


def _commit_append_compact(spark, cat):
    def batch(lo, hi):
        return spark.sql("SELECT cast(id AS string) AS k, id AS v "
                         "FROM range(%d, %d)" % (lo, hi)).repartition(2)
    return [cat.write("t", batch(0, 30), lineage_key="k",
                      stats_columns=["v"]),
            cat.append("t", batch(30, 45), lineage_key="k"),
            cat.compact("t", target_files=2, lineage_key="k")], "k"


def _commit_long_key(spark, cat):
    # parquet-mr leaves min/max out of the footer for binary values
    # over 4 KB; only the scan can answer
    df = spark.sql("SELECT if(id = 3, repeat('x', 5000), cast(id AS "
                   "string)) AS k, id AS v FROM range(12)").coalesce(1)
    return [cat.write("t", df, lineage_key="k",
                      stats_columns=["v"])], "k"


def _commit_invalid_utf8_key(spark, cat):
    # pyarrow cannot decode footer stats that are not UTF-8
    df = spark.sql("SELECT if(id = 2, CAST(unhex('FF') AS string), "
                   "cast(id AS string)) AS k, id AS v FROM range(6)")
    return [cat.write("t", df.coalesce(1), lineage_key="k",
                      stats_columns=["v"])], "k"


def _commit_row_groups(spark, cat):
    # a tiny parquet block size splits every file into several row
    # groups, so per-file min/max/nulls are merged across chunks
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("parquet.block.size", "2048")
    try:
        df = spark.sql("SELECT sha2(cast(id AS string), 256) AS k, "
                       "if(id % 9 = 0, NULL, id) AS v FROM range(6000)"
                       ).repartition(2)
        m = cat.write("t", df, lineage_key="k", stats_columns=["k", "v"])
    finally:
        conf.unset("parquet.block.size")
    return [m], "k"


CASES = {
    **{"stats_%s" % t: (_commit_typed(t), t in _SCAN_ONLY_TYPES)
       for t in icebergish._STATS_TYPES},
    **{"key_%s" % t: (_commit_key(t), t not in icebergish._FOOTER_KEY_TYPES)
       for t in ("tinyint", "smallint", "int", "bigint", "double")},
    "empty": (_commit_empty, False),
    "all_null_stats": (_commit_all_null, False),
    "partitioned": (_commit_partitioned, False),
    "partition_column_key": (_commit_partition_key, True),
    "append_compact": (_commit_append_compact, False),
    "long_string_key": (_commit_long_key, True),
    "invalid_utf8_key": (_commit_invalid_utf8_key, True),
    "row_groups": (_commit_row_groups, False),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_footer_manifest_matches_scan(spark, tmp_path, monkeypatch, case):
    commit, scan_expected = CASES[case]
    scans = []
    real_scan = IcebergishCatalog._scan_file_stats

    def counting_scan(self, *args, **kwargs):
        scans.append(args)
        return real_scan(self, *args, **kwargs)

    monkeypatch.setattr(IcebergishCatalog, "_scan_file_stats",
                        counting_scan)
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)
    manifests, key = commit(spark, cat)
    assert len(scans) == (len(manifests) if scan_expected else 0)

    base = []
    for m in manifests:
        if m["operation"] != "append":
            base = []
        assert m["lineage"] == _scan_lineage(cat, "t", m, key, base), case
        assert m["row_count"] == sum(e["row_count"] for e in m["lineage"])
        base = m["lineage"]

    final = manifests[-1]
    assert final["row_count"] == cat.read("t").count()
    if case == "empty":
        assert final["lineage"] == []
    if case == "row_groups":
        import pyarrow.parquet as pq
        snap = os.path.join(cat._table_dir("t"), final["dir"])
        assert any(pq.read_metadata(os.path.join(snap, e["file"]))
                   .num_row_groups > 1 for e in final["lineage"])
    if case == "append_compact":
        assert [m["operation"] for m in manifests] == [
            "overwrite", "append", "replace"]
        assert [e["part_id"] for e in manifests[1]["lineage"]] == list(
            range(len(manifests[1]["lineage"])))


def test_pipeline_tables_match_scan(spark, tmp_path, monkeypatch):
    """Every table a KgPipeline run commits (partitioned ones included)
    takes the footer path, with the scan's lineage."""
    from mc2skos_spark.plans import schemas
    from mc2skos_spark.plans.pipeline import KgPipeline
    from mc2skos_spark.sources.synth import (make_transcript_rows,
                                             synth_marc_records)
    keys = {"records": "record_id", "extracted": "record_id",
            "triples_raw": "subj", "quarantine": "record_id",
            "warnings": "record_id", "triples_canonical": "subj",
            "triples": "subj"}
    monkeypatch.setattr(IcebergishCatalog, "_scan_file_stats",
                        lambda *a, **k: pytest.fail("scan fallback ran"))
    rows = make_transcript_rows(synth_marc_records(60, seed=21), seed=22)
    pipe = KgPipeline(spark, str(tmp_path / "wh"))
    pipe.run(spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS))
    monkeypatch.undo()
    cat = pipe.catalog
    assert cat.tables() == sorted(keys)
    for table, key in keys.items():
        m = cat.current_manifest(table)
        assert m["lineage"] == _scan_lineage(cat, table, m, key, []), table
    assert len(cat.current_manifest("extracted")["lineage"]) > 1

def test_file_uri_matches_input_file_name(spark, tmp_path):
    """Footer lineage sorts files by the URI input_file_name() reports;
    quoting must agree even for dir names Spark and java.net.URI both
    escape."""
    from pyspark.sql import functions as F
    root = str(tmp_path / "we ird%dir" / "ü")
    df = spark.sql("SELECT id, CASE id % 5 WHEN 0 THEN 'a b' WHEN 1 "
                   "THEN 'x/y%z' WHEN 2 THEN 'ü<>|`' WHEN 3 THEN "
                   "'[q]#?' END AS p FROM range(20)")
    df.write.partitionBy("p").parquet(root)
    spark_uris = sorted(r[0] for r in spark.read.parquet(root)
                        .select(F.input_file_name()).distinct().collect())
    ours = sorted(icebergish._file_uri(p)
                  for p in icebergish._data_files(root))
    assert ours == spark_uris


def test_footer_commit_runs_only_the_write_jobs(spark, tmp_path,
                                                monkeypatch):
    """A commit of a materialized frame with a string key runs exactly
    the jobs of writing the frame; the scan path costs more."""
    sc = spark.sparkContext
    df = spark.range(200).selectExpr(
        "cast(id AS string) AS k", "id AS v").repartition(3).cache()
    df.count()
    cat = IcebergishCatalog(str(tmp_path / "wh"), spark)

    def jobs(action):
        group = "footer-stats-%s" % uuid.uuid4().hex
        sc.setJobGroup(group, "job-count probe")
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        write_jobs = jobs(lambda: df.write.parquet(str(tmp_path / "raw")))
        commit_jobs = jobs(lambda: cat.write("a", df, lineage_key="k",
                                             stats_columns=["v"]))
        monkeypatch.setattr(icebergish, "_footer_file_stats",
                            lambda *a, **k: None)
        scan_jobs = jobs(lambda: cat.write("b", df, lineage_key="k",
                                           stats_columns=["v"]))
    finally:
        df.unpersist()
    assert write_jobs >= 1
    assert commit_jobs == write_jobs
    assert scan_jobs > write_jobs
    assert (cat.current_manifest("a")["row_count"]
            == cat.current_manifest("b")["row_count"] == 200)

