"""Stage 0 — transcript reassembly: conversations → MARCXML records.

Input: the BASELINE.json input_hint table
``(conv_id, turn_idx, role, text, tool, ts)`` where record payloads ride
in the ``text`` of ``tool='marc_export'`` turns, split across consecutive
turns.  The per-row invariant is *per-turn text equality under stable
(conv_id, turn_idx) ordering* — so stage 0 is a deterministic sort-and-
concatenate per conversation followed by record-boundary recovery.

Scale notes (the part that must survive 100 TB):

* filter to payload turns FIRST — predicate pushdown drops the filler
  turns (and every non-``text`` column) at the scan;
* ONE shuffle: ``groupBy(conv_id)`` with an ``array_sort(collect_list
  (struct(turn_idx, text)))`` aggregate.  A window + separate groupBy
  would shuffle twice for the same result; sorting inside the aggregated
  array replaces a per-partition global sort;
* record spans are recovered with ``regexp_extract_all`` + ``explode``
  — JVM-side, no Python;
* conversations are independent units (a record never spans
  conversations), so the stage parallelizes perfectly across conv_ids;
  a pathologically hot conv_id is bounded by conversation length, and
  AQE's skew-join/partition splitting handles stragglers.  The record
  payload itself is the unit of work downstream, where we explicitly
  ``repartition`` for balance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# A standalone serialized MARC record span, any namespace prefix.
RECORD_SPAN_PATTERN = r"(?s)<(?:\w+:)?record[\s>].*?</(?:\w+:)?record>"
# The 001 controlfield value: the record_id when present and non-empty.
CONTROL_001_PATTERN = r'<(?:\w+:)?controlfield[^>]*tag="001"[^>]*>([^<]*)<'


def reassemble_records(transcripts: DataFrame,
                       block_size: int | None = None) -> DataFrame:
    """Transcripts → MARC_RECORDS (record_id, conv_id, record_xml).

    record_id is derived from the 001 controlfield when present, else a
    deterministic ``<conv_id>#<k>`` position id.

    ``block_size``: the explicit skew/scale path (SURVEY.md §4 item 1).
    A pathologically hot conv_id (one conversation with millions of
    turns) would force all its rows through one reduce task, one
    in-memory array, AND one single-task regex scan over the whole
    reassembled payload.  With ``block_size=B`` the stage has NO
    per-conversation serial step: ``groupBy(conv_id, turn_idx div B)``
    concatenates each *contiguous* B-turn block (the salt — cardinality
    rises by x(turns/B), keys become uniform), record spans are
    recovered PER BLOCK in parallel, and only the block-boundary
    residues (the partial record at each block's edges — bounded by
    record size, not conversation size) are stitched and re-scanned.
    Exact same output, including positional fallback ids (global record
    positions are rebuilt from block/region-level prefix sums — window
    functions over per-BLOCK stats, never over records).  The one
    assumption: a record's ``</record>`` closes before the next
    ``<record`` opens (true for any well-formed MARC export; an input
    violating it is malformed and quarantines downstream on either
    path).
    """
    payload_turns = (transcripts
                     .filter(F.col("tool") == "marc_export")
                     .select("conv_id", "turn_idx", "text"))

    def ordered_concat(order_col, text_col):
        # struct sort orders by the leading field → turn/block order
        return (F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(order_col, text_col))),
                lambda s: s[text_col]), ""))

    if block_size:
        blocks = (payload_turns
                  .withColumn("block",
                              F.floor(F.col("turn_idx") / block_size))
                  .groupBy("conv_id", "block")
                  .agg(ordered_concat("turn_idx", "text").alias("text")))
        records = _blocked_records(blocks, ordered_concat)
    else:
        assembled = (payload_turns.groupBy("conv_id")
                     .agg(ordered_concat("turn_idx", "text")
                          .alias("payload")))
        records = (
            assembled
            .select(
                "conv_id",
                F.posexplode(
                    F.regexp_extract_all("payload",
                                         F.lit(RECORD_SPAN_PATTERN), 0)
                ).alias("pos", "record_xml"))
        )
    return records.select(
        F.coalesce(
            F.regexp_extract("record_xml", CONTROL_001_PATTERN, 1),
            F.lit(""),
        ).alias("raw_001"),
        "conv_id", "pos", "record_xml",
    ).select(
        F.when(F.col("raw_001") != "", F.col("raw_001"))
         .otherwise(F.concat_ws("#", "conv_id", "pos"))
         .alias("record_id"),
        "conv_id", "record_xml",
    )


def _blocked_records(blocks: DataFrame, ordered_concat) -> DataFrame:
    """(conv_id, block, text) → (conv_id, pos, record_xml), identical to
    regex-extracting over the full ordered payload but with no
    per-conversation serial work.

    Per block, ``regexp_extract_all`` recovers the record spans that
    complete inside the block; ``split`` on the same pattern yields the
    residue around them (head = text before the first span, tail = text
    after the last; a block with no span is all residue).  Consecutive
    residues between two span-bearing blocks ("anchors") form a region
    — tail(anchor r), any span-free blocks, head(anchor r+1) — which is
    contiguous payload bounded by ~one record size, so stitching and
    re-scanning regions is cheap and parallel (groupBy conv_id+region).
    Global positions: every record sorts by (key_block, slot, local)
    where completes of block b carry (b, 1, p) and region records carry
    (first piece block, 2, q) — region r starts at anchor r's tail, so
    this interleaves exactly as the single-payload scan would.  Offsets
    come from a running sum over per-block/per-region COUNTS (window
    over block-level rows — tiny), joined back to the records."""
    from pyspark.sql import Window

    spans = F.regexp_extract_all("text", F.lit(RECORD_SPAN_PATTERN), 0)
    parts = F.split("text", RECORD_SPAN_PATTERN)
    w = (Window.partitionBy("conv_id").orderBy("block")
         .rowsBetween(Window.unboundedPreceding, -1))
    b = (blocks
         .select("conv_id", "block", spans.alias("spans"),
                 parts.alias("parts"))
         .withColumn("n_spans", F.size("spans"))
         .withColumn("anchors_before",
                     F.coalesce(F.sum(F.when(F.col("n_spans") > 0, 1))
                                .over(w), F.lit(0))))
    # four consumers (completes, head, tail, units) fan out from here:
    # cut the lineage once (lazy) so the phase-1 fold + regex pass run
    # once, not per consumer
    b = b.localCheckpoint(False)

    completes = (b.filter(F.col("n_spans") > 0)
                 .select("conv_id", F.col("block").alias("key_block"),
                         F.lit(1).alias("slot"),
                         F.posexplode("spans").alias("local_idx",
                                                     "record_xml")))

    # residue pieces: split() with limit -1 keeps leading/trailing empty
    # strings, so parts[1] is always "text before the first span" (the
    # whole text when span-free) and parts[-1] "after the last"
    head = b.select("conv_id", "block",
                    F.element_at("parts", 1).alias("piece"),
                    F.col("anchors_before").alias("region"))
    tail = (b.filter(F.col("n_spans") > 0)
            .select("conv_id", "block",
                    F.element_at("parts", -1).alias("piece"),
                    (F.col("anchors_before") + 1).alias("region")))
    pieces = head.unionByName(tail).filter(F.col("piece") != "")

    regions = (pieces.groupBy("conv_id", "region")
               .agg(F.min("block").alias("key_block"),
                    ordered_concat("block", "piece").alias("text")))
    region_recs = regions.select(
        "conv_id", "key_block", F.lit(2).alias("slot"),
        F.posexplode(
            F.regexp_extract_all("text", F.lit(RECORD_SPAN_PATTERN), 0)
        ).alias("local_idx", "record_xml"))

    # per-unit record counts → running offsets (block-granularity rows)
    units = (b.filter(F.col("n_spans") > 0)
             .select("conv_id", F.col("block").alias("key_block"),
                     F.lit(1).alias("slot"),
                     F.col("n_spans").cast("long").alias("cnt"))
             .unionByName(
                 region_recs.groupBy("conv_id", "key_block", "slot")
                 .agg(F.count(F.lit(1)).alias("cnt"))))
    wu = (Window.partitionBy("conv_id").orderBy("key_block", "slot")
          .rowsBetween(Window.unboundedPreceding, -1))
    units = units.withColumn(
        "offset", F.coalesce(F.sum("cnt").over(wu), F.lit(0)))

    recs = completes.unionByName(region_recs)
    return (recs.join(units.select("conv_id", "key_block", "slot",
                                   "offset"),
                      ["conv_id", "key_block", "slot"])
            .select("conv_id",
                    (F.col("offset") + F.col("local_idx")).alias("pos"),
                    "record_xml"))

