"""Spark 4 Python DataSource for MARCXML files: executor-side parse,
one partition per file, conv_id filter pushdown pruning whole files,
row parity with the driver-side loader."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.sources.marcxml_source import (MarcXmlReader,
                                                  read_marcxml)

pytestmark = pytest.mark.spark

EXAMPLES = "/root/reference/examples"


def test_rows_match_driver_side_loader(spark):
    from mc2skos_spark.sources.synth import records_in_xml_file
    df = read_marcxml(spark, EXAMPLES + "/ddc*.xml")
    got = {(r["record_id"], r["conv_id"], r["record_xml"])
           for r in df.collect()}
    want = set()
    import glob as g
    for path in g.glob(EXAMPLES + "/ddc*.xml"):
        stem = os.path.splitext(os.path.basename(path))[0]
        for i, xml in enumerate(records_in_xml_file(path)):
            want.add(("%s#%d" % (stem, i), stem, xml))
    assert got == want and len(got) > 5


def test_one_partition_per_file_and_pushdown(spark):
    df = read_marcxml(spark, EXAMPLES + "/ddc*.xml")
    n_files = df.select("conv_id").distinct().count()
    assert df.rdd.getNumPartitions() == n_files
    # equality pushdown prunes to ONE file-partition
    one = read_marcxml(spark, EXAMPLES + "/ddc*.xml").filter(
        F.col("conv_id") == "ddc23no-001")
    assert one.rdd.getNumPartitions() == 1
    assert one.count() >= 1
    # prefix pushdown
    pre = read_marcxml(spark, EXAMPLES + "/*.xml").filter(
        F.col("conv_id").startswith("ddc23no"))
    assert pre.rdd.getNumPartitions() < read_marcxml(
        spark, EXAMPLES + "/*.xml").rdd.getNumPartitions()
    # pushdown can only SKIP, never decide: same rows as post-filter
    allrows = {r["record_id"] for r in
               read_marcxml(spark, EXAMPLES + "/*.xml")
               .filter(F.col("conv_id") == "ddc23no-001").collect()}
    assert allrows == {r["record_id"] for r in one.collect()}


def test_comma_list_and_guards(spark):
    two = read_marcxml(spark, "%s/ddc23no-001.xml, %s/gnd-1020118989.xml"
                       % (EXAMPLES, EXAMPLES))
    assert two.select("conv_id").distinct().count() == 2
    with pytest.raises(ValueError, match="no files"):
        MarcXmlReader({"path": "/nonexistent/*.xml"})
    with pytest.raises(ValueError, match="path"):
        MarcXmlReader({})


def test_exact_paths_are_not_glob_expanded(spark, tmp_path):
    record = ('<record xmlns="http://www.loc.gov/MARC21/slim">'
              '<leader>00000nw  a2200000n  4500</leader></record>')
    for name in ("a[1].xml", "a1.xml", "a2.xml"):
        (tmp_path / name).write_text(record, encoding="utf-8")
    bracketed = str(tmp_path / "a[1].xml")
    # the JSON 'paths' form names files verbatim: the glob class [1]
    # would match a1.xml instead
    assert MarcXmlReader({"paths": json.dumps([bracketed])}).paths == [
        bracketed]
    rows = read_marcxml(spark, [bracketed]).collect()
    assert [(r["record_id"], r["conv_id"]) for r in rows] == [
        ("a[1]#0", "a[1]")]
    # the hand-typed 'path' form still globs
    assert MarcXmlReader({"path": str(tmp_path / "a[12].xml")}).paths == [
        str(tmp_path / "a1.xml"), str(tmp_path / "a2.xml")]
