"""Spark-path tests: transcript reassembly round-trip, Arrow extraction
parity with the golden oracle, quarantine side-channel, SKOS expansion,
and union-find canonicalization."""

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.core import constants as C
from mc2skos_spark.core.turtle import parse_turtle_file, precision_recall
from mc2skos_spark.operators.canonicalize import (canonical_mapping,
                                                  connected_components,
                                                  rewrite_canonical)
from mc2skos_spark.operators.expand import expand_inferred
from mc2skos_spark.operators.extract import (extract_triples,
                                             quarantine_from_extracted,
                                             triples_from_extracted)
from mc2skos_spark.plans import schemas
from mc2skos_spark.sources.synth import (fixture_records,
                                         make_transcript_rows,
                                         synth_marc_records)
from mc2skos_spark.sources.transcripts import reassemble_records

from .golden import golden_cases

pytestmark = pytest.mark.spark


def make_transcripts_df(spark, records, **kwargs):
    rows = make_transcript_rows(records, **kwargs)
    return spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)


def test_reassembly_roundtrip_fixtures(spark):
    """Every fixture record must come back byte-exact from sharded,
    shuffled transcript rows (the input_hint invariant)."""
    records = fixture_records()
    df = make_transcripts_df(spark, records, seed=7)
    result = reassemble_records(df)
    got = {r["record_xml"] for r in result.collect()}
    want = {xml for _, xml in records}
    assert got == want
    assert result.count() == len(records)


def test_reassembly_roundtrip_synth_with_skew(spark):
    records = synth_marc_records(120, seed=3)
    df = make_transcripts_df(spark, records, seed=5, skew_factor=40)
    result = reassemble_records(df)
    assert {r["record_xml"] for r in result.collect()} == \
        {xml for _, xml in records}


def test_extraction_parity_with_goldens_all_files(spark):
    """Full Spark path (transcripts → reassembly → mapInPandas extract)
    over EVERY golden example, batched per conversion-flag family (one
    pipeline invocation per distinct (options, default_scheme) pair),
    scored against the union of that family's golden triples."""
    families: dict = {}
    for name, xml_path, ttl_path, options, default_scheme in golden_cases():
        key = (tuple(sorted(options.items())), default_scheme)
        families.setdefault(key, []).append((name, ttl_path))

    fixtures = fixture_records()
    for (opt_items, default_scheme), members in families.items():
        options = dict(opt_items)
        stems = {name for name, _ in members}
        recs = [(s, x) for s, x in fixtures if s in stems]
        df = make_transcripts_df(spark, recs, seed=11)
        triples = triples_from_extracted(
            extract_triples(reassemble_records(df), options,
                            default_scheme))
        produced = [(r["subj"], r["pred"], r["obj"], r["obj_is_literal"],
                     r["obj_lang"], r["obj_datatype"], r["component_pos"])
                    for r in triples.collect()]
        golden = [row for _, ttl_path in members
                  for row in parse_turtle_file(ttl_path)]
        precision, recall, missing, extra = precision_recall(produced, golden)
        assert recall == 1.0, (options, sorted(missing)[:5])
        # rvk.ttl is a stale golden (see test_examples_golden.py)
        assert precision >= 0.95, (options, sorted(extra)[:8])


def test_quarantine_side_channel(spark):
    bad = [("bad1", "<record xmlns='http://www.loc.gov/MARC21/slim'>"
                    "<leader>00000aa  a2200000n  4500</leader></record>"),
           ("bad2", "not xml at all")]
    good = synth_marc_records(3, seed=1, duplicate_every=0)
    df = spark.createDataFrame(
        [(rid, "c0", xml) for rid, xml in bad + good],
        schema=schemas.MARC_RECORDS)
    extracted = extract_triples(df).cache()
    quarantine = {r["record_id"]: r["reason"]
                  for r in quarantine_from_extracted(extracted).collect()}
    assert set(quarantine) == {"bad1", "bad2"}
    assert "not a Marc21" in quarantine["bad1"]
    assert triples_from_extracted(extracted).count() > 0


# two DDC records with 750 index terms (from tests/test_record_level.py):
# their skos:altLabel triples appear only under include_altlabels
_INDEX_TERM_XMLS = [
    '<mx:record xmlns:mx="http://www.loc.gov/MARC21/slim">'
    '<mx:leader>00000nw  a2200000n  4500</mx:leader>'
    '<mx:controlfield tag="001">ocd00146759</mx:controlfield>'
    '<mx:controlfield tag="008">100204aaaaaaaa</mx:controlfield>'
    '<mx:datafield tag="084" ind2=" " ind1="0">'
    '<mx:subfield code="a">ddc</mx:subfield>'
    '<mx:subfield code="c">23no</mx:subfield></mx:datafield>'
    '<mx:datafield tag="153" ind2=" " ind1=" ">'
    '<mx:subfield code="a">543.17</mx:subfield>'
    '<mx:subfield code="e">543.1</mx:subfield>'
    '<mx:subfield code="j">Analytisk organisk kjemi</mx:subfield>'
    '</mx:datafield>'
    '<mx:datafield tag="750" ind2="7" ind1=" ">'
    '<mx:subfield code="a">Analytisk kjemi</mx:subfield>'
    '<mx:subfield code="x">organisk kjemi</mx:subfield>'
    '<mx:subfield code="0">(OCoLC-D)8c2057ce</mx:subfield>'
    '<mx:subfield code="2">ddcri</mx:subfield></mx:datafield>'
    '</mx:record>',
    '<mx:record xmlns:mx="http://www.loc.gov/MARC21/slim">'
    '<mx:leader>00000nw  a2200000n  4500</mx:leader>'
    '<mx:controlfield tag="008">091203aaaaaabb</mx:controlfield>'
    '<mx:datafield tag="084" ind2=" " ind1="0">'
    '<mx:subfield code="a">ddc</mx:subfield>'
    '<mx:subfield code="c">23no</mx:subfield>'
    '<mx:subfield code="e">nob</mx:subfield></mx:datafield>'
    '<mx:datafield tag="153" ind2=" " ind1=" ">'
    '<mx:subfield code="a">006.686</mx:subfield>'
    '<mx:subfield code="e">006.68</mx:subfield>'
    '<mx:subfield code="9">ess=ien</mx:subfield></mx:datafield>'
    '<mx:datafield tag="730" ind2="7" ind1=" ">'
    '<mx:subfield code="a">CorelDRAW</mx:subfield>'
    '<mx:subfield code="0">(OCoLC-D)99928acf</mx:subfield>'
    '<mx:subfield code="2">ddcri</mx:subfield>'
    '<mx:subfield code="9">ps=EO</mx:subfield></mx:datafield>'
    '</mx:record>',
]


def test_extract_options_by_key_matches_core_per_family(spark):
    """Records with an ``opt_key`` column are each extracted under
    their own flag set in one pass: the result is the union of
    ``core.api.process_records`` per family, and swapping the keys
    changes it (a key mix-up cannot pass)."""
    from mc2skos_spark.core.api import process_records

    families = {"alt": ({"include_altlabels": True}, None),
                "plain": ({}, None)}
    keyed = list(zip(["alt", "plain"], _INDEX_TERM_XMLS))
    df = spark.createDataFrame(
        [("r%d" % i, "c0", xml, key) for i, (key, xml) in enumerate(keyed)],
        "record_id string, conv_id string, record_xml string, "
        "opt_key string")
    cols = ["subj", "pred", "obj", "obj_is_literal", "obj_lang",
            "obj_datatype", "component_pos"]
    got = {tuple(r) for r in triples_from_extracted(
        extract_triples(df, options_by_key=families))
        .select(*cols).collect()}

    def union(assignment):
        out = set()
        for key, xml in assignment:
            options, scheme = families[key]
            out |= set(process_records([xml], options,
                                       default_scheme=scheme))
        return out

    expected = union(keyed)
    swapped = union(zip(["plain", "alt"], _INDEX_TERM_XMLS))
    assert got == expected
    assert got != swapped
    labels = {t[2] for t in got if t[1] == C.SKOS + "altLabel"}
    assert "Analytisk kjemi--organisk kjemi" in labels
    assert "CorelDRAW" not in labels


def test_expand_inferred_bk_narrower(spark):
    """--expand derives bk:54 skos:narrower bk:54.65
    (/root/reference/test/test_skosify.py:19-23)."""
    recs = [(stem, xml) for stem, xml in fixture_records()
            if stem == "bk-54.65"]
    df = make_transcripts_df(spark, recs, seed=2)
    triples = triples_from_extracted(
        extract_triples(reassemble_records(df), {"include_altlabels": True}))
    expanded = expand_inferred(triples)
    bk = "http://uri.gbv.de/terminology/bk/"
    hit = expanded.filter(
        (F.col("subj") == bk + "54") &
        (F.col("pred") == C.SKOS + "narrower") &
        (F.col("obj") == bk + "54.65")).count()
    assert hit == 1
    # inference is idempotent
    assert expand_inferred(expanded).count() == expanded.count()


def test_expand_inferred_narrower_to_broader(spark):
    """Hierarchical inference is bidirectional: an authority 5XX $w='h'
    record emits skos:narrower directly (record.py:679-708), and
    skosify.infer.skos_hierarchical then adds the broader inverse —
    --expand output must contain it too."""
    xml = (
        '<record xmlns="http://www.loc.gov/MARC21/slim">'
        '<leader>00000nz  a2200000n  4500</leader>'
        '<controlfield tag="001">sh0000001</controlfield>'
        '<controlfield tag="008">120224n|aana               a aaa     </controlfield>'
        '<datafield tag="040" ind1=" " ind2=" ">'
        '<subfield code="b">eng</subfield></datafield>'
        '<datafield tag="150" ind1=" " ind2=" ">'
        '<subfield code="a">Parent topic</subfield></datafield>'
        '<datafield tag="550" ind1=" " ind2=" ">'
        '<subfield code="w">h</subfield>'
        '<subfield code="0">sh0000002</subfield>'
        '<subfield code="a">child term</subfield></datafield>'
        '</record>')
    df = make_transcripts_df(spark, [("sh0000001", xml)], seed=3)
    triples = triples_from_extracted(
        extract_triples(reassemble_records(df)))
    narrower = triples.filter(F.col("pred") == C.SKOS + "narrower").collect()
    assert len(narrower) == 1, "5XX $w='h' must emit skos:narrower"
    subj, obj = narrower[0]["subj"], narrower[0]["obj"]
    expanded = expand_inferred(triples)
    inverse = expanded.filter(
        (F.col("subj") == obj) & (F.col("pred") == C.SKOS + "broader") &
        (F.col("obj") == subj)).count()
    assert inverse == 1, "expand must infer broader from narrower"


def test_connected_components_chain_and_star(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),      # chain
         ("x", "y"), ("x", "z"),                  # star
         ("p", "q")],
        ["src", "dst"])
    labels = {r["vertex"]: r["comp"]
              for r in connected_components(edges).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "a",
                      "x": "x", "y": "x", "z": "x",
                      "p": "p", "q": "p"}


def test_canonicalization_merges_edition_duplicates(spark):
    """synth duplicates share dcterms:identifier across DDC editions;
    canonicalization must collapse the e22/e23 URI pairs."""
    records = synth_marc_records(40, seed=9, duplicate_every=17)
    df = make_transcripts_df(spark, records, seed=13)
    triples = triples_from_extracted(
        extract_triples(reassemble_records(df))).cache()
    mapping = canonical_mapping(triples)
    pairs = mapping.collect()
    assert len(pairs) >= 1
    for row in pairs:
        # canonical is the lexicographic min → the e22 URI wins
        assert "/e23/" in row["uri"] and "/e22/" in row["canonical"]
    rewritten = rewrite_canonical(triples, mapping)
    # no merged URI survives anywhere in the rewritten graph
    merged = [r["uri"] for r in pairs]
    assert rewritten.filter(F.col("subj").isin(merged) |
                            F.col("obj").isin(merged)).count() == 0
    assert rewritten.count() < triples.count()
