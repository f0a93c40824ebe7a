"""Ordered Turtle / NDJSON sinks and the incremental streaming path."""

import json

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.operators.extract import extract_triples, triples_from_extracted
from mc2skos_spark.plans import schemas
from mc2skos_spark.sinks.serializers import (triples_to_ndjson,
                                             triples_to_turtle,
                                             turtle_sort_key)
from mc2skos_spark.sources.synth import (fixture_records,
                                         make_transcript_rows,
                                         synth_marc_records)
from mc2skos_spark.sources.transcripts import reassemble_records
from mc2skos_spark.streaming.incremental import (stream_transcripts,
                                                 streamed_triples)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def ddc_triples(spark):
    # ddc21en has table + schedule numbers (sort families); ddc23no adds
    # records with 005/008 dates for the typed-literal rendering
    recs = [(s, x) for s, x in fixture_records() if s.startswith("ddc")]
    df = spark.createDataFrame(make_transcript_rows(recs, seed=3),
                               schema=schemas.TRANSCRIPTS)
    return triples_from_extracted(
        extract_triples(reassemble_records(df),
                        {"include_webdewey": True})).cache()


def test_turtle_sort_key_families(spark):
    df = spark.createDataFrame(
        [("http://dewey.info/class/6--98/e21/",),
         ("http://dewey.info/class/003.5/e21/",),
         ("http://example.org/whatever",)], ["subj"])
    keys = [r["k"] for r in
            df.select(turtle_sort_key(F.col("subj")).alias("k")).collect()]
    assert keys[0].startswith("C6--98")
    assert keys[1].startswith("B003.5")
    assert keys[2].startswith("Ahttp://")
    assert sorted(keys) == [keys[2], keys[1], keys[0]]  # A < B < C


def test_turtle_blocks_ordered_and_wellformed(ddc_triples):
    blocks = [r["block"] for r in triples_to_turtle(ddc_triples).collect()]
    assert blocks, "no output"
    # schedule numbers (B) before table numbers (C)
    schedule_pos = [i for i, b in enumerate(blocks) if "/class/003" in b]
    table_pos = [i for i, b in enumerate(blocks) if "/class/6--98" in b]
    assert schedule_pos and table_pos
    assert max(schedule_pos) < min(table_pos)
    sample = blocks[0]
    assert sample.startswith("<http://") and sample.rstrip().endswith(".")
    assert "skos/core#Concept" in "".join(blocks)
    # language tags and typed dates render
    joined = "".join(blocks)
    assert '"@en' in joined or '"@nb' in joined
    assert "^^<http://www.w3.org/2001/XMLSchema#date>" in joined


def test_ndjson_lines_parse(ddc_triples):
    lines = [r["line"] for r in triples_to_ndjson(ddc_triples).collect()]
    assert lines
    obj = json.loads(lines[0])
    assert obj["uri"].startswith("http://")
    assert any(p.endswith("notation") for p in obj["preds"])


def test_jskos_concept_shape(spark, ddc_triples):
    from mc2skos_spark.sinks.jskos import triples_to_jskos
    lines = [json.loads(r["line"])
             for r in triples_to_jskos(ddc_triples).collect()]
    by_uri = {obj["uri"]: obj for obj in lines}
    concept = by_uri["http://dewey.info/class/001/e23/"]
    # ddc23no + ddc23de mint the same class URI → two language labels
    assert concept["prefLabel"]["nb"] == "Kunnskap"
    assert concept["prefLabel"]["de"] == "Wissen"
    assert concept["notation"] == ["001"]
    assert "ocd00116591" in concept["identifier"]  # + the de edition's id
    created = concept["created"]
    assert created == "2009-12-03" or "2009-12-03" in created
    assert {"uri": "http://dewey.info/class/00/e23/"} in concept["broader"]
    assert {"uri": "http://www.w3.org/2004/02/skos/core#Concept"} \
        in concept["type"]
    assert concept["@context"].startswith("https://gbv.github.io/jskos")
    # language-container note family
    assert isinstance(concept["scopeNote"]["nb"], list)
    # wd: extras keep full-URI keys (unmapped in the context)
    assert any(k.startswith("http://data.ub.uio.no/webdewey-terms#")
               for k in concept)


def test_streaming_incremental_matches_batch(spark, tmp_path):
    records = synth_marc_records(30, seed=31)
    rows = make_transcript_rows(records, seed=32)
    transcripts = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)

    input_dir = str(tmp_path / "in")
    # several files so the stream sees multiple batches
    transcripts.repartition(8).write.parquet(input_dir)
    warehouse = str(tmp_path / "wh")
    # 1 file per trigger over 8 files → 8 micro-batches, so the
    # pending-conversation carry-forward is genuinely exercised
    stream_transcripts(spark, input_dir, warehouse,
                       str(tmp_path / "ckpt"), available_now=True,
                       max_files_per_trigger=1, compact_every=3)

    streamed = {(r["subj"], r["pred"], r["obj"], r["obj_lang"],
                 r["obj_datatype"], r["component_pos"])
                for r in streamed_triples(spark, warehouse).collect()}
    batch = {(r["subj"], r["pred"], r["obj"], r["obj_lang"],
              r["obj_datatype"], r["component_pos"])
             for r in triples_from_extracted(
                 extract_triples(reassemble_records(transcripts)))
             .collect()}
    assert streamed == batch

    # pending state is APPENDED per batch (delta tables keyed by batch
    # id), never rewritten wholesale: 8 micro-batches → 8 add-deltas,
    # each with exactly ONE committed snapshot, plus periodic compacts
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog
    catalog = IcebergishCatalog(warehouse, spark)
    adds = catalog.tables("pend_add_batch_")
    assert len(adds) == 8, adds
    for t in adds:
        assert catalog.current_manifest(t)["snapshot_id"] == 0, \
            "pending delta %s was rewritten" % t
    compacts = catalog.tables("pend_compact_")
    assert compacts == ["pend_compact_000002", "pend_compact_000005"]
    # per-batch pending writes are O(batch delta): each add-delta holds
    # at most the rows of one input file, not the accumulated pending
    per_file_rows = transcripts.count() / 8
    for t in adds:
        assert catalog.current_manifest(t)["row_count"] <= \
            per_file_rows * 1.5 + 10


def test_streaming_conv_id_reuse_after_completion(spark, tmp_path):
    """A done marker must erase only the pending rows its completion
    consumed (adds with batch id ≤ the marker's): turns for the SAME
    conv_id arriving in later batches survive and complete on their
    own.  (A blanket conv_id anti-join dropped them or not depending on
    compaction cadence — nondeterministic loss.)"""
    from mc2skos_spark.streaming.incremental import IncrementalExtractor

    recs = synth_marc_records(2, seed=91, duplicate_every=0)
    rows_a = make_transcript_rows(recs[:1], seed=92)  # conv-000000
    rows_b = make_transcript_rows(recs[1:], seed=93)  # conv-000000 again
    max_b = max(r[1] for r in rows_b)
    b_first = [r for r in rows_b if r[1] <= max_b // 2]
    b_rest = [r for r in rows_b if r[1] > max_b // 2]

    warehouse = str(tmp_path / "wh")
    extractor = IncrementalExtractor(warehouse, compact_every=0)
    mk = lambda rows: spark.createDataFrame(rows,
                                            schema=schemas.TRANSCRIPTS)
    extractor.process_batch(mk(rows_a), 0)    # conv completes → done_0
    extractor.process_batch(mk(b_first), 1)   # same conv_id, new turns
    extractor.process_batch(mk(b_rest), 2)    # completes the reuse

    streamed = {(r["subj"], r["pred"], r["obj"])
                for r in streamed_triples(spark, warehouse).collect()}
    expected = set()
    for rows in (rows_a, rows_b):
        expected |= {(r["subj"], r["pred"], r["obj"])
                     for r in triples_from_extracted(extract_triples(
                         reassemble_records(mk(rows)))).collect()}
    assert streamed == expected


def test_streaming_replay_idempotent(spark, tmp_path):
    """Crash-and-replay of any micro-batch must reproduce its snapshots
    byte-for-byte: batch N reads only state keyed <N and writes only
    tables keyed N, so recomputation is deterministic even though the
    original run already consumed carried-pending turns."""
    from mc2skos_spark.sinks.icebergish import IcebergishCatalog
    from mc2skos_spark.streaming.incremental import IncrementalExtractor

    records = synth_marc_records(18, seed=71)
    rows = make_transcript_rows(records, seed=72)
    transcripts = spark.createDataFrame(
        rows, schema=schemas.TRANSCRIPTS).cache()
    warehouse = str(tmp_path / "wh")
    extractor = IncrementalExtractor(warehouse, compact_every=2)

    # drive foreachBatch by hand with a deterministic 5-way split
    chunks = [transcripts.filter(F.crc32(F.col("conv_id")) % 5 == i).cache()
              for i in range(5)]
    for i, chunk in enumerate(chunks):
        extractor.process_batch(chunk, i)

    catalog = IcebergishCatalog(warehouse, spark)

    def table_rows(name):
        return frozenset(map(tuple, catalog.read(name).collect()))

    snap_before = {t: table_rows(t) for t in catalog.tables("")}
    streamed_before = {tuple(r) for r in
                       streamed_triples(spark, warehouse).collect()}

    # replay batch 3 (a mid-stream batch whose original run consumed
    # pending turns carried from batches 0-2)
    extractor.process_batch(chunks[3], 3)

    for name, before in snap_before.items():
        assert table_rows(name) == before, "%s diverged on replay" % name
    streamed_after = {tuple(r) for r in
                      streamed_triples(spark, warehouse).collect()}
    assert streamed_after == streamed_before


def test_streaming_mid_done_and_null_text_match_batch(spark, tmp_path):
    """A mid-conversation assistant 'done' turn must not mask the
    terminal marker when turns arrive out of order (the gate takes the
    max done index), and a NULL-text payload turn contributes nothing
    to the reassembled payload, as in the batch path."""
    from datetime import datetime
    xml = ('<record xmlns="http://www.loc.gov/MARC21/slim">'
           '<leader>00000nw  a2200000n  4500</leader>'
           '<controlfield tag="001">mid1</controlfield>'
           '<controlfield tag="008">091203aaaaaaaa</controlfield>'
           '<datafield tag="084" ind1="0" ind2=" ">'
           '<subfield code="a">ddc</subfield>'
           '<subfield code="c">23</subfield></datafield>'
           '<datafield tag="153" ind1=" " ind2=" ">'
           '<subfield code="a">111</subfield>'
           '<subfield code="j">Caption</subfield></datafield>'
           '</record>')
    ts = datetime(2026, 1, 1)
    half = len(xml) // 2
    rows = [
        ("c0", 0, "user", "export please", None, ts),
        ("c0", 1, "assistant", "done", None, ts),      # mid-conv 'done'
        ("c0", 2, "tool", xml[:half], "marc_export", ts),
        ("c0", 3, "tool", None, "marc_export", ts),    # NULL payload
        ("c0", 4, "tool", xml[half:], "marc_export", ts),
        ("c0", 5, "assistant", "done", None, ts),      # terminal marker
    ]
    transcripts = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    input_dir = str(tmp_path / "in")
    # one row per file, filename order ≠ turn order → the terminal
    # 'done' is processed BEFORE the mid-conversation one
    for i, row in enumerate(reversed(rows)):
        spark.createDataFrame([row], schema=schemas.TRANSCRIPTS) \
            .coalesce(1).write.parquet("%s/f%02d" % (input_dir, i))
    warehouse = str(tmp_path / "wh")
    # the file source does not recurse into the per-row directories
    stream_transcripts(spark, input_dir + "/*", warehouse,
                       str(tmp_path / "ckpt"), available_now=True,
                       max_files_per_trigger=1)

    def triple_set(df):
        return {(r["subj"], r["pred"], r["obj"], r["obj_lang"],
                 r["obj_datatype"], r["component_pos"])
                for r in df.collect()}

    batch = triple_set(triples_from_extracted(
        extract_triples(reassemble_records(transcripts))))
    assert batch, "the record must extract to triples"
    assert triple_set(streamed_triples(spark, warehouse)) == batch
