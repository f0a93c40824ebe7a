"""Native session-window streaming: append-mode output must equal the
batch sessionizer on the same events (modulo Spark's [first, last+gap)
window-end convention); plus the watermarked turn-rate window metrics."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from mc2skos_spark.operators.sessionize import session_stats
from mc2skos_spark.plans import schemas
from mc2skos_spark.sources.synth import make_transcript_rows, synth_marc_records
from mc2skos_spark.streaming.sessions import streaming_session_stats

pytestmark = pytest.mark.spark

SCHEMA = "user_id long, event_id long, ts timestamp_ntz"


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


def test_streaming_sessions_equal_batch(spark, tmp_path):
    # two users, gaps well away from the 10-minute boundary:
    # user 1 -> sessions {0,2,5}, {40,42}; user 2 -> {1}, {90}
    real = [(1, 10, _ts(0)), (1, 11, _ts(2)), (1, 12, _ts(5)),
            (1, 13, _ts(40)), (1, 14, _ts(42)),
            (2, 20, _ts(1)), (2, 21, _ts(90))]
    # sentinel user 99: two far-future files so (a) the watermark
    # advances past every real session and (b) a further batch runs to
    # evict+emit them (watermark updates take effect one batch later)
    sent1 = [(99, 900, _ts(100000))]
    sent2 = [(99, 901, _ts(100001))]

    input_dir = tmp_path / "sess_in"
    input_dir.mkdir()
    for i, batch in enumerate([real, sent1, sent2]):
        path = str(input_dir / ("batch_%d" % i))
        spark.createDataFrame(batch, SCHEMA).coalesce(1) \
            .write.parquet(path)
        # file-stream ordering follows modification time: force it
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (1000 + i, 1000 + i))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(input_dir) + "/batch_*"))
    out = str(tmp_path / "sess_out")
    q = (streaming_session_stats(stream, gap="10 minutes",
                                 watermark_delay="1 minute")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "sess_ck"))
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    # compare in exact epoch micros (the streaming output is LTZ, the
    # batch output NTZ — micros are the TZ-proof common form)
    from mc2skos_spark.operators.sessionize import event_micros
    got = {(r["user_id"], r["s_us"]): (r["n_events"], r["e_us"])
           for r in spark.read.parquet(out)
           .select("user_id", "n_events",
                   event_micros("session_start").alias("s_us"),
                   event_micros("session_end_gap").alias("e_us"))
           .collect()
           if r["user_id"] != 99}

    batch_df = spark.createDataFrame(real, SCHEMA)
    gap_us = 600 * 1_000_000
    expected = {(r["user_id"], r["s_us"]):
                (r["n_events"], r["e_us"] + gap_us)
                for r in session_stats(batch_df, gap_seconds=600)
                .select("user_id", "n_events",
                        event_micros("session_start").alias("s_us"),
                        event_micros("session_end").alias("e_us"))
                .collect()}
    assert got == expected
    assert len(got) == 4


def test_streaming_sessions_batch_df_no_watermark_effect(spark):
    """The transformation is batch/stream agnostic: on a batch frame
    the watermark is a no-op and results match the window semantics."""
    from mc2skos_spark.operators.sessionize import event_micros
    rows = [(1, 10, _ts(0)), (1, 11, _ts(2)), (1, 12, _ts(40))]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {(r["user_id"], r["s_us"]): r["n_events"]
           for r in streaming_session_stats(df, gap="10 minutes")
           .select("user_id", "n_events",
                   event_micros("session_start").alias("s_us"))
           .collect()}

    def us(minute):
        return (_ts(minute) - dt.datetime(1970, 1, 1)) \
            // dt.timedelta(microseconds=1)

    assert out == {(1, us(0)): 2, (1, us(40)): 1}


def test_watermarked_turn_rate_metrics(spark, tmp_path):
    from pyspark.sql import functions as F

    from mc2skos_spark.streaming.metrics import turn_rate_metrics

    rows = make_transcript_rows(synth_marc_records(20, seed=45), seed=46)
    transcripts = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    input_dir = str(tmp_path / "metrics_in")
    transcripts.repartition(4).write.parquet(input_dir)

    stream = (spark.readStream.schema(schemas.TRANSCRIPTS)
              .option("maxFilesPerTrigger", "1")
              .parquet(input_dir))
    out = str(tmp_path / "metrics_out")
    q = (turn_rate_metrics(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "metrics_ck"))
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    metrics = spark.read.parquet(out)
    finalized = metrics.agg(F.sum("turns")).collect()[0][0] or 0
    total = transcripts.count()
    # append mode withholds windows the watermark has not passed — the
    # finalized windows must never overcount, and with synth timestamps
    # spanning minutes most windows do finalize
    assert 0 < finalized <= total
    row = metrics.orderBy("window_start").first()
    assert row["payload_turns"] <= row["turns"]
    assert row["window_end"] > row["window_start"]
