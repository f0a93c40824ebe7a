"""Sequence packing for pre-training pipelines.

The step between a cleaned document corpus and a trainer: concatenate
documents in a stable order and cut the token stream into fixed-
capacity training sequences.  Each document's placement is decided by
the EXCLUSIVE prefix sum of token counts in id order — `seq_id =
start_offset div capacity` is the sequence in which the document's
first token lands.

A bare ``sum() OVER (ORDER BY id)`` collapses the corpus into ONE
window partition (single task at scale), so the prefix sum uses the
same scalable shape as ``operators/rank.py:global_rank``:
range-partition on the id, per-partition running sums, plus
per-partition token-total base offsets from one metadata-scale
aggregate (#partitions rows to the driver, never the data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .textstats import tokens

_CHUNK_STRUCT = ("array<struct<chunk_idx: int, chunk_start: int,"
                 " n_chunk_tokens: int, chunk_text: string>>")


def pack_sequences(docs: DataFrame, capacity: int,
                   id_col: str = "doc_id",
                   tokens_col: str = "n_tokens",
                   num_partitions: int | None = None) -> DataFrame:
    """Append ``start_offset`` (exclusive prefix sum of ``tokens_col``
    in ``id_col`` order — must be a unique key) and ``seq_id``
    (``start_offset div capacity``, integer arithmetic end-to-end: a
    double division would lose exactness past 2^53 total tokens).
    """
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
    # lazy: the totals collect below materializes the checkpoint (one
    # job instead of materialize + collect), the final pass reads the
    # pinned blocks
    parted = (docs.repartitionByRange(num_partitions, id_col)
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint(eager=False))
    totals = {r["__pid"]: r["tot"]
              for r in (parted.groupBy("__pid")
                        .agg(F.sum(tokens_col).cast("long").alias("tot"))
                        .collect())}
    if not totals:
        # empty input: an empty literal map types as map<void,void> and
        # fails analysis on the lookup — emit the (empty) typed result
        return (parted.drop("__pid")
                .withColumn("start_offset", F.lit(0).cast("long"))
                .withColumn("seq_id", F.lit(0).cast("long")))
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_map = F.create_map(*[F.lit(x) for pid in sorted(offsets)
                             for x in (pid, offsets[pid])])
    w = (Window.partitionBy("__pid").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    start = (off_map[F.col("__pid")].cast("long")
             + F.coalesce(F.sum(tokens_col).over(w).cast("long"),
                          F.lit(0).cast("long")))
    return (parted
            .withColumn("start_offset", start)
            .withColumn("seq_id",
                        F.expr("start_offset div %d" % int(capacity)))
            .drop("__pid"))


def chunk_documents(docs: DataFrame, max_len: int, stride: int,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sliding-window chunking — the long-document counterpart of
    :func:`pack_sequences`: split each document's whitespace-token
    stream into windows of ``max_len`` tokens advancing by ``stride``
    (``stride < max_len`` gives overlapping context windows, the usual
    shape for feeding long documents to a fixed-context trainer).

    chunk count = 1 if n <= max_len else
    1 + ceil((n - max_len) / stride), so the final window always
    reaches the last token and no window starts past the end.  An
    empty document yields one empty chunk (kept: downstream filters
    decide, the chunker stays total).

    Scale shape: a pure projection + explode — ZERO shuffle, no
    window, nothing on the driver; Catalyst pushes the upstream column
    pruning into the scan.  The token array is tokenized ONCE per
    document (bound through a single-element ``aggregate`` fold — the
    repo-wide HOF discipline; Catalyst does not CSE across lambda
    bodies).  The per-chunk ``slice`` is evaluated twice (size +
    join): bounded at max_len refs/chunk, cheap next to the regex
    tokenize it avoids duplicating.

    ceil-div note: computed as ``floor((n - max_len + stride-1) /
    stride)`` in DOUBLE — exact below 2^52 tokens/document, and
    identical in the SQL oracle's integer ``//`` for the same range.
    """
    if not 0 < stride <= max_len:
        raise ValueError("need 0 < stride <= max_len, got "
                         f"stride={stride} max_len={max_len}")
    toks = tokens(F.col(text_col))

    def chunks_of(tk):
        n = F.size(tk)
        nch = (F.when(n <= F.lit(max_len), F.lit(1))
               .otherwise((F.lit(1) + F.floor(
                   (n - F.lit(max_len) + F.lit(stride - 1))
                   / F.lit(float(stride)))).cast("int")))

        def one(i):
            start = i * F.lit(stride)
            return F.struct(
                i.cast("int").alias("chunk_idx"),
                start.cast("int").alias("chunk_start"),
                F.size(F.slice(tk, start + 1, max_len))
                 .alias("n_chunk_tokens"),
                F.array_join(F.slice(tk, start + 1, max_len), " ")
                 .alias("chunk_text"))

        return F.transform(F.sequence(F.lit(0), nch - 1), one)

    bound = F.aggregate(F.array(toks),
                        F.array().cast(_CHUNK_STRUCT),
                        lambda acc, tk: chunks_of(tk))
    return (docs
            .select(id_col, bound.alias("__chunks"))
            .select(id_col, F.explode("__chunks").alias("c"))
            .select(id_col, "c.chunk_idx", "c.chunk_start",
                    "c.n_chunk_tokens", "c.chunk_text"))
