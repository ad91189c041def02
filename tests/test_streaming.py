"""Batch ≡ streaming equivalence (SURVEY §5.2.4): the Structured Streaming
twins must produce exactly the batch queries' rows, plus a watermark
state-bounding smoke check."""

from __future__ import annotations

import pytest

from spark_ml_pipelines_example_spark.queries.registry import load_all
from spark_ml_pipelines_example_spark.streaming import jobs as sjobs

REGISTRY = load_all()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "batch_name,streaming_fn",
    [
        ("q_stream_tumbling", sjobs.streaming_tumbling),
        ("q_stream_sliding", sjobs.streaming_sliding),
        ("q_stream_session", sjobs.streaming_session),
        ("q_stream_late_dedup", sjobs.streaming_dedup),
    ],
)
def test_streaming_equals_batch(spark, sf_dir, batch_name, streaming_fn):
    batch = REGISTRY[batch_name].fn(spark, sf_dir)
    stream = streaming_fn(spark, sf_dir)
    assert sorted(batch.columns) == sorted(stream.columns)
    assert _rows(batch.select(*sorted(batch.columns))) == _rows(
        stream.select(*sorted(batch.columns))
    )


def test_stateful_user_totals_equal_batch(spark, sf_dir):
    """applyInPandasWithState running totals, driven to completion, must
    equal the batch per-user aggregate (count exactly; sum to float
    tolerance — the stream folds in arrival order). The input is staged
    as two files with maxFilesPerTrigger=1 so state genuinely carries
    across micro-batches (state.exists=True path)."""
    import shutil

    from pyspark.sql import functions as F

    from spark_ml_pipelines_example_spark.queries._util import scratch_dir
    from spark_ml_pipelines_example_spark.streaming.stateful import user_running_totals

    ev_batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = scratch_dir("stateful_two_files", sf_dir)
    shutil.rmtree(src, ignore_errors=True)
    ev_batch.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/f0")
    ev_batch.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/f1")

    stream = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(src)
    )
    q = (
        user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.sql("SELECT * FROM user_totals_out")
    # >1 micro-batch ⇒ users updated in both batches emit twice
    assert updates.count() > updates.select("user_id").distinct().count()
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in updates.groupBy("user_id")
        .agg(
            F.max_by("sum_value", "n_events").alias("sum_value"),
            F.max("n_events").alias("n_events"),
        )
        .collect()
    }
    want = {
        r.user_id: (r.n_events, r.sum_value)
        for r in ev_batch.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert set(got) == set(want)
    for u, (n, s) in want.items():
        assert got[u][0] == n
        assert got[u][1] == pytest.approx(s, rel=1e-9)


def test_watermark_bounds_state(spark, sf_dir):
    """Append-mode tumbling agg with a watermark: finalized windows emit,
    and the watermark column survives the plan (state eviction armed)."""
    from pyspark.sql import functions as F

    ev = sjobs.read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w")).count()
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM wm_out")
    # availableNow advances the watermark to max(ts)-30min at the final
    # micro-batch; every window ending before that must have been emitted.
    assert out.count() > 0


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (watermarked both sides) must produce
    exactly the batch join's rows."""
    stream = sjobs.streaming_interval_join(spark, sf_dir)
    batch = sjobs.batch_interval_join(spark, sf_dir)
    cols = sorted(batch.columns)
    assert sorted(stream.columns) == cols
    assert _rows(stream.select(*cols)) == _rows(batch.select(*cols))
    assert batch.count() > 0


def test_stream_stream_outer_interval_join_equals_batch(spark, sf_dir):
    """Watermarked LEFT OUTER stream-stream interval join must produce
    exactly the batch left join's rows — including the null-extended
    purchases with no click in the preceding hour, which streaming may
    only emit after the watermark passes the join bound."""
    stream = sjobs.streaming_interval_join_outer(spark, sf_dir)
    batch = sjobs.batch_interval_join_outer(spark, sf_dir)
    cols = sorted(batch.columns)
    assert sorted(stream.columns) == cols

    def rows_nullsafe(df):  # null c_id/c_epoch on unmatched rows
        return sorted(
            (tuple(-(2**62) if v is None else v for v in r) for r in df.collect())
        )

    assert rows_nullsafe(stream.select(*cols)) == rows_nullsafe(batch.select(*cols))
    # the outer join must actually exercise null extension
    assert batch.filter(batch.c_id.isNull()).count() > 0


def test_stream_stream_full_interval_join_equals_batch(spark, sf_dir):
    """Watermarked FULL OUTER stream-stream interval join must produce
    exactly the batch full join's rows — null-extension on BOTH sides
    (purchases without a click AND clicks without a purchase)."""
    stream = sjobs.streaming_interval_join_full(spark, sf_dir)
    batch = sjobs.batch_interval_join_full(spark, sf_dir)
    cols = sorted(batch.columns)
    assert sorted(stream.columns) == cols

    def rows_nullsafe(df):
        return sorted(
            (tuple(-(2**62) if v is None else v for v in r) for r in df.collect())
        )

    assert rows_nullsafe(stream.select(*cols)) == rows_nullsafe(batch.select(*cols))
    # both null-extension directions must actually occur
    assert batch.filter(batch.c_id.isNull()).count() > 0
    assert batch.filter(batch.p_id.isNull()).count() > 0


def test_streaming_state_metrics_show_eviction(spark, sf_dir):
    """State-store progress for the outer interval join: state must be
    populated AND evicted (numRowsRemoved > 0 proves the interval bound
    let the join drop aged state), and the watermark must end beyond the
    epoch start."""
    m = sjobs.streaming_state_metrics(spark, sf_dir).collect()
    assert m, "no state operator progress captured"
    assert sum(r.state_rows_updated for r in m) > 0
    assert sum(r.state_rows_removed for r in m) > 0
    assert any(r.watermark > "2000-" for r in m)


def test_foreach_batch_upsert_partitions(spark, sf_dir):
    """foreachBatch overwrite-by-partition sink: final parquet equals the
    batch aggregate, laid out one directory per event_type."""
    import os

    from pyspark.sql import functions as F

    from spark_ml_pipelines_example_spark.queries._util import scratch_dir

    out_dir = scratch_dir("foreach_batch_upsert", sf_dir)
    got = sjobs.run_foreach_batch_upsert(spark, sf_dir, out_dir)
    want = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    g = {(r.event_type): (r.n, r.sum_value) for r in got.collect()}
    w = {(r.event_type): (r.n, r.sum_value) for r in want.collect()}
    assert g == w
    assert any(d.startswith("event_type=") for d in os.listdir(out_dir))


def test_stream_static_dim_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment join must equal the batch join (static
    side broadcast per micro-batch, no state store involved)."""
    stream = sjobs.streaming_static_dim_join(spark, sf_dir)
    batch = sjobs.batch_static_dim_join(spark, sf_dir)
    cols = sorted(batch.columns)
    assert sorted(stream.columns) == cols
    assert _rows(stream.select(*cols)) == _rows(batch.select(*cols))


def test_stateful_session_equals_native_session_window(spark, sf_dir):
    """applyInPandasWithState sessionization (event-time timeout flush)
    must reproduce the native session_window batch result row-for-row:
    same sessions, same bounds, counts exact, sums to float tolerance
    (pandas folds in event order; the batch twin sums in decimal)."""
    batch = {
        (r["user_id"], r["sess_start"], r["sess_end"]): (r["n_events"], r["sum_value"])
        for r in REGISTRY["q_stream_session"].fn(spark, sf_dir).collect()
    }
    stateful = {
        (r["user_id"], r["sess_start"], r["sess_end"]): (r["n_events"], r["sum_value"])
        for r in sjobs.streaming_stateful_session(spark, sf_dir).collect()
    }
    assert set(batch) == set(stateful)
    for k, (n_b, s_b) in batch.items():
        n_s, s_s = stateful[k]
        assert n_b == n_s, k
        assert abs(s_b - s_s) < 1e-6, k


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir):
    """Exactly-once file-source semantics: a checkpointed availableNow run
    commits its progress; a second run over the same source plus one new
    file must process ONLY the new file — no reprocessing, no duplicate
    rows in the sink."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spark_ml_pipelines_example_spark.queries._util import scratch_dir

    base = scratch_dir("ckpt_resume", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    src, ckpt, sink = f"{base}/src", f"{base}/ckpt", f"{base}/sink"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/f0")
    n_even = ev.filter(F.col("event_id") % 2 == 0).count()
    n_odd = ev.filter(F.col("event_id") % 2 == 1).count()

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("recursiveFileLookup", "true")
            .format("parquet")
            .load(src)
            .select("event_id", "user_id", "value")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == n_even
    # second batch of source data arrives...
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/f1")
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == n_even + n_odd  # f0 not reprocessed
    assert out.select("event_id").distinct().count() == n_even + n_odd


def test_streaming_ingest_dedup_equals_batch(spark, sf_dir):
    """The streamed per-micro-batch near-dup admission must admit exactly
    the docs the one-shot batch probe admits, across >1 micro-batch."""
    from spark_ml_pipelines_example_spark.queries._util import scratch_dir
    from spark_ml_pipelines_example_spark.queries.ingest import (
        INCREMENT_MOD,
        INCREMENT_REMAINDER,
    )
    from spark_ml_pipelines_example_spark.queries.registry import load_all
    from spark_ml_pipelines_example_spark.sources.io import load_table
    from spark_ml_pipelines_example_spark.streaming.jobs import (
        run_streaming_ingest_dedup,
    )

    from pyspark.sql import functions as F

    out = scratch_dir("stream_neardup_out", sf_dir)
    got = run_streaming_ingest_dedup(spark, sf_dir, out)
    admitted = {r.doc_id for r in got.select("doc_id").collect()}

    reg = load_all()
    matched = {
        r.batch_doc
        for r in reg["q_dedup_incremental_neardup"]
        .fn(spark, sf_dir)
        .filter(F.col("verdict") == "reject")
        .collect()
    }
    batch_ids = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCREMENT_MOD == INCREMENT_REMAINDER)
        .select("doc_id")
        .collect()
    }
    assert admitted == batch_ids - matched
    # multi-batch actually exercised (3 staged files, 1 per trigger)
    assert got.select("batch_id").distinct().count() >= 2


def test_streaming_daily_users_equals_batch(spark, sf_dir):
    from spark_ml_pipelines_example_spark.streaming.jobs import (
        batch_daily_users,
        streaming_daily_users,
    )

    got = {
        (str(r["day"]), r["dau"])
        for r in streaming_daily_users(spark, sf_dir).collect()
    }
    want = {
        (str(r["day"]), r["dau"]) for r in batch_daily_users(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_drift_monitor_scores_batches(spark, sf_dir, tmp_path):
    """One PSI alarm row per event-time WEEK (the week-per-micro-batch
    staging); weeks partition the stream exactly; PSI is non-negative and
    finite; and re-running over the same data reproduces the identical
    log (the determinism the SQL oracle relies on)."""
    import math
    import shutil

    from pyspark.sql import functions as F

    from spark_ml_pipelines_example_spark.sources.io import load_table
    from spark_ml_pipelines_example_spark.streaming.jobs import (
        run_streaming_drift_monitor,
    )

    out = str(tmp_path / "drift_out")
    log = run_streaming_drift_monitor(spark, sf_dir, out).collect()
    ev = load_table(spark, sf_dir, "events")
    weeks = {
        r["w"]: r["n"]
        for r in ev.groupBy(
            F.date_trunc("week", F.col("ts").cast("timestamp")).cast("date").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert len(log) == len(weeks)
    assert {r["week_start"]: r["n_rows"] for r in log} == weeks
    assert sum(r["n_rows"] for r in log) == ev.count()
    for r in log:
        assert r["psi"] >= 0.0 and math.isfinite(r["psi"])
    out2 = str(tmp_path / "drift_out2")
    log2 = run_streaming_drift_monitor(spark, sf_dir, out2).collect()
    assert sorted((r["week_start"], r["n_rows"], r["psi"]) for r in log) == sorted(
        (r["week_start"], r["n_rows"], r["psi"]) for r in log2
    )
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out2, ignore_errors=True)


def test_dedup_within_watermark_suppresses_late_duplicates(spark, sf_dir):
    """dropDuplicatesWithinWatermark must keep exactly the first arrival
    of every key while late re-emissions (10% of events, +30 s, in a
    later micro-batch) are suppressed — output equals the ORIGINAL
    corpus, proving bounded-state dedup loses nothing and admits no
    duplicate."""
    from pyspark.sql import functions as F

    stream = sjobs.streaming_dedup_within_watermark(spark, sf_dir)
    from spark_ml_pipelines_example_spark.sources.io import load_table

    batch = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("first_epoch"),
        "user_id",
        "value",
    )
    cols = sorted(batch.columns)
    assert sorted(stream.columns) == cols
    assert _rows(stream.select(*cols)) == _rows(batch.select(*cols))


def test_state_reader_matches_batch_and_metadata(spark, sf_dir):
    """The statestore batch source must read back exactly the final
    aggregation state (= the batch group-by), and the state-metadata
    source must expose the operator layout: one stateStoreSave operator,
    the pinned 32 state partitions, and committed batch bounds."""
    from pyspark.sql import functions as F

    from spark_ml_pipelines_example_spark.queries._util import scratch_dir
    from spark_ml_pipelines_example_spark.sources.io import load_table

    out = sjobs.streaming_state_reader(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    cols = sorted(out.columns)
    assert _rows(out.select(*cols)) == _rows(batch.select(*cols))

    ck = scratch_dir("stream_state_reader_ck", sf_dir)
    md = spark.read.format("state-metadata").load(ck).collect()
    assert len(md) == 1
    row = md[0].asDict()
    assert row["operatorName"] == "stateStoreSave"
    assert row["numPartitions"] == 32
    assert row["minBatchId"] == 0 and row["maxBatchId"] >= row["minBatchId"]


@pytest.mark.parametrize(
    "cents", [[100, 250, 7, 40, 5], [100, None, 7, None, 5]], ids=["int", "null"]
)
def test_fold_type_totals_matches_pandas_groupby(cents):
    """The v1 map-state fold equals a plain pandas groupby on the same
    batch, null event_type and null cents included: both drop the null
    key, and a null cents is not counted."""
    import pandas as pd
    from pandas.testing import assert_frame_equal

    pdf = pd.DataFrame(
        {"event_type": ["view", None, "buy", "view", None], "cents": cents}
    )
    m: dict[str, list[int]] = {}
    touched = sjobs._fold_type_totals(m, pdf)
    expected = pdf.groupby("event_type")["cents"].agg(["count", "sum"]).astype("int64")
    result = pd.DataFrame.from_dict(m, orient="index", columns=["count", "sum"])
    result = result.rename_axis("event_type").sort_index()
    assert touched == set(expected.index)
    assert_frame_equal(result, expected)

