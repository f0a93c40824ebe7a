"""Stage 1 — Arrow-batch extraction: record XML → triple + quarantine rows.

The semantic work happens in the pure core (:mod:`..core.extract` /
:mod:`..core.triples`); this module is the thin Spark wrapper:

* ONE ``mapInPandas`` pass per record emits every output row kind
  (SURVEY.md §4: "eager single-pass parse … instead of 30 xpath
  re-scans").  Triples and quarantine rows share a tagged union schema
  (:data:`...plans.schemas.EXTRACTED`) and are split by a cheap filter —
  the parse is never repeated;
* errors NEVER throw on the executor: every failed record becomes a
  quarantine row (reference behavior /root/reference/mc2skos/
  mc2skos.py:184-190 re-expressed as a side-output);
* before the UDF we ``repartition`` by a hash of record_id: Arrow
  batches get size-balanced partitions regardless of how skewed the
  upstream conversations were (north_rule: salted, size-balanced
  partitions before Arrow UDFs);
* rdflib's Graph-set semantics (G1) are the ``dropDuplicates`` in
  :func:`triples_from_extracted` — a hash aggregate with partial
  (map-side) combine from Catalyst.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.api import build_vocabularies
from ..core.errors import InvalidRecordError
from ..core.extract import extract_concept
from ..core.marcxml import parse_record_xml
from ..core.triples import concept_to_triples
from ..plans import schemas

_EXTRACTED_COLS = [f.name for f in schemas.EXTRACTED.fields]


def _extract_batches(options_by_key: dict):
    """Build the mapInPandas function over ``{opt_key: (options,
    default_scheme)}``; the input carries an ``opt_key`` column and each
    record is extracted under its own flag set in the SAME single pass.
    Everything it closes over is picklable plain data: each key's
    Vocabularies registry (a few KB, the broadcast-dim analog) is built
    once per python worker, on first use.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        built: dict = {}
        for batch in batches:
            rows = []
            for record_id, xml, key in zip(batch["record_id"],
                                           batch["record_xml"],
                                           batch["opt_key"]):
                entry = built.get(key)
                if entry is None:
                    opts, scheme = options_by_key[key]
                    entry = built[key] = (dict(opts),
                                          build_vocabularies(scheme))
                row_options, vocabularies = entry
                try:
                    bag = extract_concept(parse_record_xml(xml),
                                          vocabularies, row_options)
                except InvalidRecordError as exc:
                    rows.append(("quarantine", None, None, None, None,
                                 None, None, None, record_id, str(exc)))
                    continue
                except Exception as exc:  # malformed XML etc.
                    rows.append(("quarantine", None, None, None, None,
                                 None, None, None, record_id,
                                 "%s: %s" % (type(exc).__name__, exc)))
                    continue
                if bag is None:
                    continue
                # P7/P8 warning side-channel: non-fatal anomalies (unknown
                # mapping schemes, invalid 005 dates, guessed types)
                for warning in bag["warnings"]:
                    rows.append(("warning", None, None, None, None,
                                 None, None, None, record_id, warning))
                if not bag["is_public"]:
                    continue
                # per-record set-dedup (rdflib Graph semantics are a set;
                # nearly all duplicate triples are intra-record, so this
                # keeps the global dedup's shuffle input minimal)
                seen = set()
                for (subj, pred, obj, is_lit, lang, dtype,
                     pos) in concept_to_triples(bag, row_options):
                    row = (subj, pred, obj, is_lit, lang, dtype, pos)
                    if row in seen:
                        continue
                    seen.add(row)
                    rows.append(("triple", subj, pred, obj, is_lit, lang,
                                 dtype, pos, record_id, None))
            yield pd.DataFrame(rows, columns=_EXTRACTED_COLS)

    return fn


def extract_triples(records: DataFrame, options: dict | None = None,
                    default_scheme: str | None = None,
                    options_by_key: dict | None = None) -> DataFrame:
    """MARC_RECORDS → EXTRACTED (tagged union of triples + quarantine).

    The input is hash-repartitioned by record_id into
    ``spark.sql.shuffle.partitions`` partitions so Arrow batches get
    size-balanced partitions regardless of upstream skew (north_rule).

    ``options_by_key``: per-record conversion flags (``{opt_key:
    (options, default_scheme)}``); ``records`` must then carry an
    ``opt_key`` column.  This is the production path for a corpus that
    mixes vocabularies with different flags — ONE extraction DAG, flags
    resolved per record inside the same Arrow pass, instead of one DAG
    (and one shuffle set) per flag family.  Without it, every record is
    extracted under ``options``/``default_scheme`` (a one-key map).
    """
    if options_by_key is None:
        options_by_key = {"": (options or {}, default_scheme)}
        key = F.lit("")
    else:
        key = F.col("opt_key")
    partitions = int(records.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    return (records.select("record_id", "record_xml", key.alias("opt_key"))
            .repartition(partitions, F.xxhash64("record_id"))
            .mapInPandas(_extract_batches(options_by_key),
                         schema=schemas.EXTRACTED))


def triples_from_extracted(extracted: DataFrame,
                           deduplicate: bool = True) -> DataFrame:
    """EXTRACTED → TRIPLES with Graph-set dedup (G1).

    lineage column record_id is retained; the dedup key is the triple
    value itself (subj,pred,obj,lang,datatype,pos) matching rdflib set
    semantics (SURVEY.md §1c).  The UDF already set-dedups per record,
    so pass ``deduplicate=False`` when a later stage (e.g. the
    canonicalization rewrite) performs the global dedup anyway — saves
    one full-data shuffle.
    """
    triples = (extracted.filter(F.col("row_kind") == "triple")
               .drop("row_kind", "reason"))
    if deduplicate:
        triples = triples.dropDuplicates(["subj", "pred", "obj", "obj_lang",
                                          "obj_datatype", "component_pos"])
    return triples


def quarantine_from_extracted(extracted: DataFrame) -> DataFrame:
    """EXTRACTED → QUARANTINE (P7) with duplicate-warning dedup (P8)."""
    return (extracted.filter(F.col("row_kind") == "quarantine")
            .select("record_id", "reason")
            .dropDuplicates(["record_id", "reason"]))


def warnings_from_extracted(extracted: DataFrame) -> DataFrame:
    """Non-fatal warnings, one row per distinct message — the
    reference's DuplicateFilter log suppression (mc2skos/record.py:17-27)
    instead of one row per occurrence."""
    return (extracted.filter(F.col("row_kind") == "warning")
            .groupBy("reason")
            .agg(F.min("record_id").alias("record_id"),
                 F.count(F.lit(1)).alias("occurrences")))
