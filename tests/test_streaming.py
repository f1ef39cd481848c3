"""Structured Streaming: the same event-time expressions must produce
identical results when fed through a file stream with availableNow, and
streaming dedup must drop within-watermark duplicates."""

import os

import pytest
from pyspark.sql import functions as F

from pystreams_spark.io import load_table
from pystreams_spark.streaming.event_time import (
    events_file_stream,
    run_to_memory,
    sessionize,
    streaming_dedup,
    streaming_tumbling_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    """Materialize events (ts already µs) as a parquet dir to replay."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(path)
    return path, ev


def _collect_sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_streaming_tumbling_equals_batch(spark, stream_src):
    path, ev = stream_src
    batch = tumbling_counts(ev, "1 day")

    stream = events_file_stream(spark, path, ev.schema, max_files_per_trigger=2)
    agg = streaming_tumbling_counts(stream, "1 day", watermark="1 hour")
    run_to_memory(agg, "t_tumbling", spark)
    streamed = spark.table("t_tumbling")

    cols = ["bucket_start", "event_type", "n_events", "sum_value"]
    assert _collect_sorted(batch, cols) == _collect_sorted(streamed, cols)


def test_streaming_session_equals_batch(spark, stream_src):
    path, ev = stream_src
    batch = sessionize(ev, "30 minutes")

    stream = events_file_stream(spark, path, ev.schema)
    agg = sessionize(stream.withWatermark("ts", "1 hour"), "30 minutes")
    run_to_memory(agg, "t_session", spark)
    streamed = spark.table("t_session")

    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert _collect_sorted(batch, cols) == _collect_sorted(streamed, cols)


def test_streaming_dedup_drops_duplicates(spark, stream_src, tmp_path):
    path, ev = stream_src
    doubled = ev.unionByName(ev)
    dup_path = str(tmp_path / "dup_events")
    doubled.repartition(2).write.mode("overwrite").parquet(dup_path)

    stream = events_file_stream(spark, dup_path, ev.schema)
    deduped = streaming_dedup(stream, ["event_id"], watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("t_dedup").count() == ev.count()


def test_stateful_running_totals_match_batch(spark, stream_src):
    from pyspark.sql import functions as F

    from pystreams_spark.streaming.event_time import running_user_totals_stateful

    path, ev = stream_src
    stream = events_file_stream(spark, path, ev.schema, max_files_per_trigger=1)
    out = running_user_totals_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # in update mode the memory sink accumulates one row per key per
    # batch; the LAST row per key is the final running total
    import pandas as pd

    got = spark.table("t_stateful").toPandas()
    final = got.groupby("user_id").last()
    batch = {
        r.user_id: (r.n, round(r.total, 4))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got_map = {
        int(uid): (int(row.n_events), round(float(row.total_value), 4))
        for uid, row in final.iterrows()
    }
    assert got_map == batch


def test_foreach_batch_parquet_sink(spark, stream_src, tmp_path):
    """foreachBatch: arbitrary batch-sink logic (e.g. partitioned parquet
    upsert) driven from a stream."""
    path, ev = stream_src
    out_dir = str(tmp_path / "fb_out")
    stream = events_file_stream(spark, path, ev.schema, max_files_per_trigger=2)

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    assert back.count() == ev.count()
    assert back.select("batch_id").distinct().count() >= 2


def test_foreach_batch_cdc_upsert_state_table(spark, stream_src, tmp_path):
    """The CDC pattern: stream of change events → per-batch latest-per-
    key reduction → MERGE into a keyed state table via foreachBatch.
    Composes streaming replay with the merge_upsert operator (the plan
    Delta/Iceberg MERGE runs underneath); the final state table must
    equal the batch-computed latest-value-per-user over all events."""
    import os

    from pyspark.sql import Window

    path, ev = stream_src
    state_dir = str(tmp_path / "user_state")
    stream = events_file_stream(spark, path, ev.schema, max_files_per_trigger=2)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def upsert(batch_df, batch_id):
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "ts", "event_id", "value")
        )
        if os.path.exists(state_dir):
            # event-time upsert: file replay is NOT ordered, so a later
            # batch can carry an older event — keep max (ts, event_id)
            # per key rather than blindly overwriting (merge_upsert is
            # the right tool only for in-order CDC feeds)
            state = spark.read.parquet(state_dir)
            merged = (
                latest.unionByName(state)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            merged = latest
        # materialize before overwriting the path we just read (a table
        # format's MERGE owns this step transactionally in production)
        merged.cache()
        merged.count()
        merged.write.mode("overwrite").parquet(state_dir)
        merged.unpersist()

    q = stream.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination()

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        (r.user_id, r.event_id)
        for r in ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    got = {(r.user_id, r.event_id) for r in spark.read.parquet(state_dir).collect()}
    assert got == want


def test_stream_static_dim_join(spark, stream_src, sf_dir):
    """Stream-static join: enrich a stream with a static dimension (the
    standard pattern for dimension lookups on an unbounded stream —
    the static side is re-planned per micro-batch, no state store)."""
    from pystreams_spark.io import load_table

    path, ev = stream_src
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = events_file_stream(spark, path, ev.schema)
    enriched = (
        stream.join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_dim_join")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.c_mktsegment: r.n for r in spark.table("t_dim_join").collect()}
    batch = {
        r.c_mktsegment: r.n
        for r in ev.join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch and got


def test_transform_with_state_matches_batch(spark, stream_src):
    from pystreams_spark.streaming.event_time import running_user_totals_tws

    path, ev = stream_src
    stream = events_file_stream(spark, path, ev.schema, max_files_per_trigger=2)
    try:
        out = running_user_totals_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except Exception as ex:  # pragma: no cover - API availability guard
        import pytest

        pytest.skip(f"transformWithStateInPandas unavailable: {ex}")
    got = spark.table("t_tws").toPandas().groupby("user_id").last()
    batch = {
        r.user_id: (r.n, round(r.total, 4))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    got_map = {
        int(uid): (int(row.n_events), round(float(row.total_value), 4))
        for uid, row in got.iterrows()
    }
    assert got_map == batch


def test_stream_stream_join_matches_batch(spark, stream_src):
    from pystreams_spark.streaming.event_time import purchases_after_clicks

    path, ev = stream_src
    stream = events_file_stream(spark, path, ev.schema)
    s_clicks = stream.filter(F.col("event_type") == "click")
    s_purch = stream.filter(F.col("event_type") == "purchase")
    out = purchases_after_clicks(s_clicks, s_purch)
    q = (
        out.writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    b_clicks = ev.filter(F.col("event_type") == "click")
    b_purch = ev.filter(F.col("event_type") == "purchase")
    batch = purchases_after_clicks(b_clicks, b_purch)
    key = lambda df: sorted(
        (r.click_id, r.purchase_id) for r in df.select("click_id", "purchase_id").collect()
    )
    got, expected = key(spark.table("t_ss_join")), key(batch)
    assert got == expected and len(got) > 0


def test_rate_micro_batch_source(spark):
    """The rate-micro-batch source works offline: deterministic
    rowsPerBatch, so a bounded number of micro-batches yields an exact
    row count — the no-network stand-in for kafka/rate smoke tests."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("numPartitions", 2)
        .load()
        .withColumn("bucket", F.col("value") % 10)
    )
    q = (
        stream.groupBy("bucket")
        .count()
        .writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.table("t_rate").count()
            if n >= 10:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = {r.bucket for r in spark.table("t_rate").collect()}
    assert rows == set(range(10))


def test_streaming_dedup_rocksdb_state_store(spark, stream_src, tmp_path):
    """Same dedup, RocksDB state store: keyed state lives off-heap on
    local disk with incremental checkpoints — the state backend that
    holds billion-key dedup state at corpus scale, vs the default
    in-memory HDFS-backed provider."""
    path, ev = stream_src
    doubled = ev.unionByName(ev)
    dup_path = str(tmp_path / "dup_events_rocks")
    doubled.repartition(2).write.mode("overwrite").parquet(dup_path)

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_conf, None)
    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = events_file_stream(spark, dup_path, ev.schema)
        deduped = streaming_dedup(stream, ["event_id"], watermark="10 minutes")
        q = (
            deduped.writeStream.format("memory")
            .queryName("t_dedup_rocks")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.table("t_dedup_rocks").count() == ev.count()
    finally:
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)


def test_streaming_dedup_rocksdb_changelog_checkpoint_restart(
    spark, stream_src, tmp_path
):
    """RocksDB changelog checkpointing + restart: per-batch checkpoints
    upload the write-ahead changelog instead of a full state snapshot —
    at billion-key dedup state, snapshot upload time grows with state
    size while changelog upload grows with the batch's delta, so this is
    the conf that keeps micro-batch latency flat at corpus scale.
    The second run starts from the same checkpoint and feeds only
    duplicate keys: zero new output rows proves the dedup state survived
    the restart through changelog replay."""
    path, ev = stream_src
    batch1 = str(tmp_path / "cl_batch")
    ev.repartition(2).write.mode("overwrite").parquet(batch1)

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    changelog_conf = (
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    )
    prev = spark.conf.get(provider_conf, None)
    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(changelog_conf, "true")
    ckpt = str(tmp_path / "ckpt_changelog")
    out = str(tmp_path / "dedup_out")

    def run_once():
        stream = events_file_stream(spark, batch1, ev.schema)
        # no watermark: state is unbounded on purpose so run-2 duplicates
        # of run-1 keys are provably dropped via the restored state
        deduped = stream.dropDuplicates(["event_id"])
        # parquet sink (memory sink can't recover from a checkpoint)
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        run_once()
        assert spark.read.parquet(out).count() == ev.count()

        # append a second copy of every event (pure duplicates), restart
        # the query from the same checkpoint
        ev.repartition(2).write.mode("append").parquet(batch1)
        run_once()
        assert spark.read.parquet(out).count() == ev.count()

        # hard evidence the changelog path was taken: .changelog files
        # in the state-store checkpoint tree
        changelogs = [
            os.path.join(r, f)
            for r, _, files in os.walk(ckpt)
            for f in files
            if f.endswith(".changelog")
        ]
        assert changelogs, "no RocksDB changelog files written under checkpoint"
    finally:
        spark.conf.set(changelog_conf, "false")
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)


def test_custom_python_stream_source(spark, tmp_path):
    # Spark 4 Python DataSourceStreamReader: offset-tracked micro-batch
    # source; rows are a deterministic function of the offset range, so
    # a batch is replayable (the exactly-once building block)
    import time

    from pystreams_spark.sources import register_data_sources

    register_data_sources(spark)
    q = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 50)
        .option("partitions", 3)
        .load()
        .writeStream.format("memory")
        .queryName("synth_events")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT COUNT(*) c FROM synth_events").collect()[0].c >= 100:
                break
            time.sleep(1)
        rows = spark.sql(
            "SELECT event_id, user_id, event_type FROM synth_events ORDER BY event_id"
        ).collect()
        assert len(rows) >= 100
        # contiguous offsets, each exactly once
        ids = [r.event_id for r in rows]
        assert ids == list(range(len(ids)))
        # deterministic generator: spot-check a row recomputes identically
        import numpy as np

        r7 = np.random.RandomState((42 * 999_983 + 7) % (2**31))
        assert rows[7].user_id == int(r7.randint(0, 1000))
    finally:
        q.stop()


def test_custom_stream_source_checkpoint_restart(spark, tmp_path):
    # stop the query, start a NEW one on the same checkpoint with a
    # parquet sink (fault-tolerant, unlike memory): event ids across
    # both runs must be exactly-once — contiguous 0..max, no duplicate,
    # no gap — even though the reader's in-memory counter restarted
    import time

    from pystreams_spark.sources import register_data_sources

    register_data_sources(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("synthetic_events")
            .option("rows_per_batch", 40)
            .option("partitions", 2)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def rows_now():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    def wait_rows(n, timeout=60):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if rows_now() >= n:
                return
            time.sleep(0.5)
        raise AssertionError(f"sink never reached {n} rows (have {rows_now()})")

    q1 = start()
    try:
        wait_rows(80)
    finally:
        q1.stop()
        q1.awaitTermination()
    n1 = spark.read.parquet(out).count()

    q2 = start()
    try:
        wait_rows(n1 + 40)
    finally:
        q2.stop()
        q2.awaitTermination()

    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == list(range(len(ids))), (
        f"not exactly-once across restart: {len(ids)} rows, "
        f"min {ids[0]}, max {ids[-1]}"
    )
    assert len(ids) > n1  # run 2 made progress


def test_stateful_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Streaming funnel (keyed state, event-time-ordered replay) ends at
    the same per-user stage as the batch first-view → first-later-click
    → first-later-purchase chain."""
    import time

    from pystreams_spark.streaming.event_time import (
        events_file_stream,
        funnel_progress_stateful,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    path = str(tmp_path / "ordered_events")
    # event-time-ordered replay: 4 sequential appends of consecutive
    # ts ranges (the kappa contract the operator documents); sleeps
    # separate file mtimes so the file source discovers them in order
    bounds = [r[0] for r in ev.selectExpr(
        "percentile(cast(ts as double), array(0.25, 0.5, 0.75))"
    ).collect()][0]
    lo = [None] + list(bounds)
    hi = list(bounds) + [None]
    for i, (a, b) in enumerate(zip(lo, hi)):
        part = ev
        if a is not None:
            part = part.filter(F.col("ts").cast("double") > a)
        if b is not None:
            part = part.filter(F.col("ts").cast("double") <= b)
        part.orderBy("ts").coalesce(1).write.mode("append").parquet(path)
        time.sleep(1.1)

    stream = events_file_stream(spark, path, ev.schema, max_files_per_trigger=1)
    out = funnel_progress_stateful(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_funnel")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_funnel").toPandas().groupby("user_id").last()
    got_map = {int(u): int(r.stage_reached) for u, r in got.iterrows()}

    # batch chain
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id").filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id").filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    users = [r[0] for r in ev.select("user_id").distinct().collect()]
    expected = {u: 0 for u in users}
    for stage, df in ((1, s1), (2, s2), (3, s3)):
        for r in df.collect():
            expected[r["user_id"]] = stage
    assert got_map == expected


def test_custom_stream_writer_epoch_manifests(spark, stream_src, tmp_path):
    """Streaming Python DataSourceStreamWriter: per-epoch manifests
    publish staged temps atomically; the union of all epoch manifests
    accounts for every source row exactly once."""
    import glob
    import json
    import os

    from pystreams_spark.sources import ManifestJsonSink
    from pystreams_spark.streaming.event_time import events_file_stream

    spark.dataSource.register(ManifestJsonSink)
    path, ev = stream_src
    out = str(tmp_path / "stream_manifest")
    stream = events_file_stream(spark, path, ev.schema, max_files_per_trigger=1)
    q = (
        stream.writeStream.format("manifest_json")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    manifests = sorted(glob.glob(os.path.join(out, "_MANIFEST-*.json")))
    assert len(manifests) >= 2  # one per micro-batch (4 input files)
    total = 0
    for mf in manifests:
        m = json.load(open(mf))
        for f in m["files"]:
            assert os.path.exists(os.path.join(out, f["file"]))
        total += m["total_rows"]
    assert total == ev.count()
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]


# ---------------------------------------------------------------------------
# Continuous near-dup ingest (streaming/neardup_ingest.py)
# ---------------------------------------------------------------------------


def _ingest_corpus():
    """Synthetic word-soup corpus: 45 distinct docs + planted near-copy
    cliques, split over 3 batches. Cross-batch chains included: clique
    C spans batches 0→1→2."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    docs = {}
    for i in range(45):
        docs[i] = " ".join(rng.choice(vocab) for _ in range(60))

    def copy_of(src, new_id):
        words = docs[src].split()
        j = rng.randrange(len(words))
        words[j] = rng.choice(vocab)  # 1-word edit: Jaccard stays high
        docs[new_id] = " ".join(words)

    # clique A: original 3 (batch 0), copies 100 (batch 1), 101 (batch 2)
    copy_of(3, 100); copy_of(3, 101)
    # clique B: original 20 (batch 1), copy 120 (batch 2)
    copy_of(20, 120)
    # clique C: intra-batch dup pair in batch 0
    copy_of(7, 50)
    batches = [
        sorted([*range(0, 15), 50]),
        sorted([*range(15, 30), 100]),
        sorted([*range(30, 45), 101, 120]),
    ]
    return docs, batches


def test_neardup_ingest_across_batches_and_replay(spark, tmp_path):
    from pystreams_spark.operators.dedup import neardup_dedup
    from pystreams_spark.streaming.neardup_ingest import NeardupIngest

    docs, batches = _ingest_corpus()
    ingest = NeardupIngest(str(tmp_path / "state"), threshold=0.6)

    def bdf(ids):
        return spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id long, text string"
        )

    for epoch, ids in enumerate(batches):
        ingest.process_batch(bdf(ids), epoch)

    surv = {r.doc_id for r in ingest.survivors(spark).collect()}
    # each planted copy dropped, each original kept
    assert {100, 101, 120, 50}.isdisjoint(surv)
    assert {3, 20, 7}.issubset(surv)
    # cliques -> online result equals batch CC result on the full corpus
    all_df = bdf(sorted(docs))
    batch_surv = {r.doc_id for r in neardup_dedup(all_df, threshold=0.6).collect()}
    assert surv == batch_surv

    # replay of the FINAL epoch is idempotent: same state view, same output
    ingest.process_batch(bdf(batches[2]), 2)
    surv2 = {r.doc_id for r in ingest.survivors(spark).collect()}
    assert surv2 == surv


def test_neardup_ingest_under_structured_streaming(spark, tmp_path):
    """End-to-end under a real file stream: 3 parquet drops, one per
    micro-batch (maxFilesPerTrigger=1). Batch order may vary with file
    mtimes, so assert the order-independent invariant: exactly one
    survivor per duplicate clique."""
    import os
    import time

    from pystreams_spark.streaming.neardup_ingest import NeardupIngest

    docs, batches = _ingest_corpus()
    src = str(tmp_path / "in")
    os.makedirs(src)
    for epoch, ids in enumerate(batches):
        spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b{epoch}")
        time.sleep(0.05)

    ingest = NeardupIngest(str(tmp_path / "state"), threshold=0.6)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        stream.writeStream.foreachBatch(ingest.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    surv = {r.doc_id for r in ingest.survivors(spark).collect()}
    n_total = sum(len(b) for b in batches)
    # 5 planted copies collapse onto 3 originals + 1 intra-batch copy on 1:
    # 49 docs, 4 copies -> 45 survivors, one per distinct content clique
    assert len(surv) == n_total - 4
    # exactly one member of each clique survives (whichever arrived first)
    for clique in ({3, 100, 101}, {20, 120}, {7, 50}):
        assert len(clique & surv) == 1


def test_neardup_ingest_rejects_changed_params(spark, tmp_path):
    """The signature store is bound to its parameters: a restart with a
    different banding would silently never match stored signatures,
    so it must refuse (review finding)."""
    from pystreams_spark.streaming.neardup_ingest import NeardupIngest

    docs, batches = _ingest_corpus()
    state = str(tmp_path / "state")

    def bdf(ids):
        return spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id long, text string"
        )

    NeardupIngest(state, threshold=0.6).process_batch(bdf(batches[0]), 0)
    with pytest.raises(ValueError, match="never match"):
        NeardupIngest(state, threshold=0.6, bands=4).process_batch(bdf(batches[1]), 1)
    # same params resume fine
    resumed = NeardupIngest(state, threshold=0.6)
    resumed.process_batch(bdf(batches[1]), 1)
    # r12: the stored-params read is memoized per instance after one
    # success (it cost a read job + driver collect EVERY micro-batch);
    # a FRESH instance against the same store must still re-check
    assert resumed._params_checked is True
    fresh = NeardupIngest(state, threshold=0.6, bands=4)
    assert not getattr(fresh, "_params_checked", False)
    with pytest.raises(ValueError, match="never match"):
        fresh.process_batch(bdf(batches[2]), 2)


def test_neardup_ingest_refuses_store_bound_with_a_seed(spark, tmp_path):
    """A store whose ``_params`` still carry the ``"seed": 42`` of the
    retired engine-seeded signatures holds SipHash-derived band keys the
    md5 kernel never reproduces, so the ingest must refuse it."""
    from pystreams_spark.streaming.epoch_store import check_params
    from pystreams_spark.streaming.neardup_ingest import NeardupIngest

    docs, batches = _ingest_corpus()
    state = str(tmp_path / "state")
    ingest = NeardupIngest(state, threshold=0.6)
    check_params(
        spark, state, {**ingest._params(), "seed": 42}, "NeardupIngest",
        "signatures would silently never match",
    )
    bdf = spark.createDataFrame(
        [(i, docs[i]) for i in batches[0]], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="never match"):
        ingest.process_batch(bdf, 0)


# ---------------------------------------------------------------------------
# Streaming drift monitor (streaming/drift_monitor.py)
# ---------------------------------------------------------------------------


def test_drift_monitor_flags_shifted_batch(spark, tmp_path):
    """Per-epoch PSI vs a frozen reference: stable batches score ~0,
    a planted mean shift spikes, and epoch replay is idempotent. Also
    proven under a real maxFilesPerTrigger=1 file stream."""
    import numpy as np

    from pystreams_spark.streaming.drift_monitor import DriftMonitor

    rng = np.random.RandomState(9)

    def vdf(vals):
        return spark.createDataFrame([(float(x),) for x in vals], "v double")

    ref = vdf(rng.normal(0, 1, 3000))
    monitor = DriftMonitor(str(tmp_path / "mon"), ref, ["v"])

    monitor.process_batch(vdf(rng.normal(0, 1, 1000)), 0)
    monitor.process_batch(vdf(rng.normal(0, 1, 1000)), 1)
    monitor.process_batch(vdf(rng.normal(3, 1, 1000)), 2)

    h = {r.epoch: r.psi for r in monitor.history(spark).collect()}
    assert h[0] < 0.1 and h[1] < 0.1
    assert h[2] > 1.0

    # replay idempotence: same epoch -> same single row
    monitor.process_batch(vdf(rng.normal(0, 1, 1000)), 1)
    assert monitor.history(spark).count() == 3

    # end-to-end under Structured Streaming
    import os

    src = str(tmp_path / "in")
    os.makedirs(src)
    vdf(rng.normal(0, 1, 500)).coalesce(1).write.parquet(f"{src}/a")
    vdf(rng.normal(3, 1, 500)).coalesce(1).write.parquet(f"{src}/b")
    m2 = DriftMonitor(str(tmp_path / "mon2"), ref, ["v"])
    q = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(m2.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    scores = sorted(r.psi for r in m2.history(spark).collect())
    assert len(scores) == 2 and scores[0] < 0.1 and scores[1] > 1.0


def test_stats_maintainer_streaming_equals_batch(spark, tmp_path):
    """StatsMaintainer: published stats after a real file stream equal
    the from-scratch batch aggregate over the same data, and epoch
    replay is idempotent."""
    import os

    from pystreams_spark.operators.incremental import (
        finalize_stats,
        stats_state,
    )
    from pystreams_spark.streaming.stats_maintainer import StatsMaintainer

    rows = [(i, "g" + str(i % 3), float((i * 13) % 97)) for i in range(600)]
    full = spark.createDataFrame(rows, "id long, grp string, v double")

    src = str(tmp_path / "in")
    os.makedirs(src)
    full.filter("id < 200").coalesce(1).write.parquet(f"{src}/a")
    full.filter("id >= 200 AND id < 400").coalesce(1).write.parquet(f"{src}/b")
    full.filter("id >= 400").coalesce(1).write.parquet(f"{src}/c")

    m = StatsMaintainer(str(tmp_path / "stats"), ["grp"], "v")
    q = (
        spark.readStream.schema("id long, grp string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(m.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.grp: r for r in m.current(spark).collect()}
    want = {r.grp: r for r in finalize_stats(
        stats_state(full, ["grp"], "v")
    ).collect()}
    assert set(got) == set(want)
    for g in want:
        for f in ("n", "sum", "min", "max", "mean", "stddev"):
            assert getattr(got[g], f) == getattr(want[g], f), (g, f)

    # replay idempotence: a COMPLETED epoch partition is never
    # rewritten — even replaying it with different data is a no-op,
    # so recovery can neither double-count nor clobber
    m.process_batch(full.limit(5), 0)
    got2 = {r.grp: r for r in m.current(spark).collect()}
    for g in want:
        assert got2[g].n == want[g].n and got2[g].sum == want[g].sum

    # an IN-FLIGHT epoch (part files present, _SUCCESS not committed)
    # is invisible to current() — no transient double-count / partial
    # read through the mid-write window (ADVICE r5)
    inflight = str(tmp_path / "stats" / "state" / "epoch=99")
    stats_state(full, ["grp"], "v").coalesce(1).write.parquet(inflight)
    os.remove(os.path.join(inflight, "_SUCCESS"))
    got3 = {r.grp: r for r in m.current(spark).collect()}
    for g in want:
        assert got3[g].n == want[g].n and got3[g].sum == want[g].sum

    # current() before any commit refuses with a clear error
    import pytest as _pytest

    m3 = StatsMaintainer(str(tmp_path / "empty"), ["grp"], "v")
    with _pytest.raises(ValueError, match="no committed state"):
        m3.current(spark)
    # a state dir that exists but holds ONLY uncommitted epochs also
    # refuses (nothing is published mid-write)
    m4 = StatsMaintainer(str(tmp_path / "onlyinflight"), ["grp"], "v")
    fly = str(tmp_path / "onlyinflight" / "state" / "epoch=0")
    stats_state(full, ["grp"], "v").coalesce(1).write.parquet(fly)
    os.remove(os.path.join(fly, "_SUCCESS"))
    with _pytest.raises(ValueError, match="no committed"):
        m4.current(spark)
    with _pytest.raises(ValueError, match="reserved|collide"):
        StatsMaintainer(str(tmp_path / "x"), ["epoch"], "v")


def test_skyline_maintainer_streaming_equals_batch(spark, sf_dir, tmp_path):
    """SkylineMaintainer: the frontier after replaying `part` as a file
    stream equals the from-scratch batch pareto_frontier — the
    streaming face of the part_price_size_skyline analytic (skyline
    fold property: skyline(A ∪ B) = skyline(skyline(A) ∪ B)). Replay
    of a committed epoch is a no-op, and a mid-stream current() is a
    VALID frontier of the data seen so far (prefix soundness)."""
    import os

    from pystreams_spark.operators.topk import pareto_frontier
    from pystreams_spark.streaming.skyline_maintainer import SkylineMaintainer

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    src = str(tmp_path / "in")
    os.makedirs(src)
    # 3 files -> 3 micro-batches with maxFilesPerTrigger=1
    parts.filter("p_partkey % 3 = 0").coalesce(1).write.parquet(f"{src}/a")
    parts.filter("p_partkey % 3 = 1").coalesce(1).write.parquet(f"{src}/b")
    parts.filter("p_partkey % 3 = 2").coalesce(1).write.parquet(f"{src}/c")

    dims = [("p_retailprice", "min"), ("p_size", "max")]
    m = SkylineMaintainer(str(tmp_path / "sky"), dims)
    q = (
        spark.readStream.schema(parts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(m.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = _collect_sorted(m.current(spark), ["p_partkey", "p_retailprice", "p_size"])
    want = _collect_sorted(
        pareto_frontier(parts, dims), ["p_partkey", "p_retailprice", "p_size"]
    )
    assert got == want and len(want) > 0

    # replaying a committed epoch is a no-op — even with DIFFERENT data
    m.process_batch(parts.limit(1), 0)
    assert _collect_sorted(
        m.current(spark), ["p_partkey", "p_retailprice", "p_size"]
    ) == want

    # every committed epoch is a sound frontier of SOME prefix: no
    # frontier row is dominated by another row of the full corpus
    cur = m.current(spark).alias("a")
    other = parts.alias("b")
    dominated = cur.join(
        other,
        (F.col("b.p_retailprice") <= F.col("a.p_retailprice"))
        & (F.col("b.p_size") >= F.col("a.p_size"))
        & (
            (F.col("b.p_retailprice") < F.col("a.p_retailprice"))
            | (F.col("b.p_size") > F.col("a.p_size"))
        ),
        "left_semi",
    )
    assert dominated.count() == 0

    # current() before any commit refuses loudly
    m2 = SkylineMaintainer(str(tmp_path / "empty"), dims)
    with pytest.raises(ValueError, match="no committed"):
        m2.current(spark)


def test_quality_stats_maintainer_streaming_equals_batch(spark, sf_dir, tmp_path):
    """The r5 batch text-quality analytics run UNCHANGED inside a
    streaming fold: StatsMaintainer over quality_score(text) per lang,
    fed by a documents file stream, publishes exactly the batch
    aggregate — Column-algebra text ops compose with foreachBatch with
    no streaming-specific code."""
    import os

    from pystreams_spark.functions.text import quality_score
    from pystreams_spark.operators.incremental import finalize_stats, stats_state
    from pystreams_spark.streaming.stats_maintainer import StatsMaintainer

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score("text").alias("q")
    )
    src = str(tmp_path / "docs_in")
    os.makedirs(src)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{src}/a")
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(f"{src}/b")

    m = StatsMaintainer(str(tmp_path / "qstats"), ["lang"], "q")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(m.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.lang: r for r in m.current(spark).collect()}
    want = {
        r.lang: r
        for r in finalize_stats(stats_state(docs, ["lang"], "q")).collect()
    }
    assert set(got) == set(want) and len(want) >= 3
    for g in want:
        for f in ("n", "sum", "min", "max", "mean", "stddev"):
            assert getattr(got[g], f) == getattr(want[g], f), (g, f)


def test_novelty_ingest_equals_batch_and_replays(spark, sf_dir, tmp_path):
    """r9: continuous novelty scoring — id-ordered micro-batches must
    reproduce the BATCH novelty scores exactly (first
    arrival == min id in that regime), replay of a finished epoch must
    be idempotent, and a changed gram width against existing state
    must refuse."""
    import pytest as _pytest

    from pystreams_spark.io import load_table
    from pystreams_spark.operators.dedup import ngram_novelty_scores
    from pystreams_spark.streaming.novelty_ingest import NoveltyIngest

    docs = load_table(spark, sf_dir, "documents").limit(240).select(
        "doc_id", "text"
    )
    rows = docs.collect()
    rows.sort(key=lambda r: r.doc_id)
    thirds = [rows[:80], rows[80:160], rows[160:]]

    ing = NoveltyIngest(str(tmp_path / "state"), n=3)
    for epoch, chunk in enumerate(thirds):
        ing.process_batch(
            spark.createDataFrame(chunk, "doc_id long, text string"), epoch
        )

    streamed = {
        r.doc_id: (r.n_grams, r.novel_grams, r.novelty)
        for r in ing.scores(spark).collect()
    }
    batch = {
        r.doc_id: (r.n_grams, r.novel_grams, r.novelty)
        for r in ngram_novelty_scores(docs, n=3).collect()
    }
    assert streamed == batch and len(streamed) == 240

    # replay the final epoch: same state view -> identical output
    ing.process_batch(
        spark.createDataFrame(thirds[2], "doc_id long, text string"), 2
    )
    assert {
        r.doc_id: (r.n_grams, r.novel_grams, r.novelty)
        for r in ing.scores(spark).collect()
    } == batch

    # state is bound to its gram width
    with _pytest.raises(ValueError, match="gram classes"):
        NoveltyIngest(str(tmp_path / "state"), n=2).process_batch(
            spark.createDataFrame(thirds[0], "doc_id long, text string"), 3
        )


def test_novelty_ingest_skips_uncommitted_epoch_dirs(spark, sf_dir, tmp_path):
    """r10 (ADVICE r9): a crash mid-write of ``grams/epoch=N`` leaves
    part files WITHOUT ``_SUCCESS`` — the store read must skip the
    torn directory entirely (not trip on listing/schema inference, not
    read partial state), and the replayed epoch must rewrite it."""
    from pystreams_spark.io import load_table
    from pystreams_spark.operators.dedup import ngram_novelty_scores
    from pystreams_spark.streaming.novelty_ingest import NoveltyIngest

    docs = load_table(spark, sf_dir, "documents").limit(120).select(
        "doc_id", "text"
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    halves = [rows[:60], rows[60:]]

    ing = NoveltyIngest(str(tmp_path / "state"), n=3)
    ing.process_batch(
        spark.createDataFrame(halves[0], "doc_id long, text string"), 0
    )
    # simulate the torn write: a garbage part file, no _SUCCESS marker
    torn = tmp_path / "state" / "grams" / "epoch=1"
    torn.mkdir(parents=True)
    (torn / "part-00000.snappy.parquet").write_bytes(b"torn, not parquet")
    # restart replays epoch 1 over the dirty directory
    ing.process_batch(
        spark.createDataFrame(halves[1], "doc_id long, text string"), 1
    )
    assert (torn / "_SUCCESS").exists()
    streamed = {
        r.doc_id: (r.n_grams, r.novel_grams, r.novelty)
        for r in ing.scores(spark).collect()
    }
    batch = {
        r.doc_id: (r.n_grams, r.novel_grams, r.novelty)
        for r in ngram_novelty_scores(docs, n=3).collect()
    }
    assert streamed == batch and len(streamed) == 120


def test_novelty_ingest_under_structured_streaming(spark, tmp_path):
    """End-to-end under a real file stream (availableNow, one file per
    micro-batch): the order-independent invariant — every distinct
    gram is novel for EXACTLY one document, whichever carried it
    first — plus a planted verbatim copy scoring novelty 0."""
    import os
    import time

    from pyspark.sql import functions as F

    from pystreams_spark.streaming.novelty_ingest import NoveltyIngest

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "alpha beta gamma delta epsilon zeta",   # verbatim copy of 1
        3: "one two three four five six seven",
        4: "one two three completely new tail here",
    }
    src = str(tmp_path / "in")
    os.makedirs(src)
    for epoch, ids in enumerate([[1, 2], [3], [4]]):
        spark.createDataFrame(
            [(i, texts[i]) for i in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/b{epoch}")
        time.sleep(0.05)

    ing = NoveltyIngest(str(tmp_path / "state"), n=3)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        stream.writeStream.foreachBatch(ing.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.doc_id: r for r in ing.scores(spark).collect()}
    assert set(got) == {1, 2, 3, 4}
    # copy pair: exactly one of {1, 2} owns all its grams
    pair = sorted((got[1].novelty, got[2].novelty))
    assert pair == [0.0, 1.0]
    assert got[3].novelty == 1.0
    # doc 4 shares the 'one two three' window with doc 3: 1 of 5 grams seen
    assert got[4].n_grams == 5 and got[4].novel_grams == 4
    # conservation: every distinct gram novel exactly once
    total_novel = sum(r.novel_grams for r in got.values())
    distinct = (
        ing.scores(spark).sparkSession.read.parquet(
            str(tmp_path / "state" / "grams")
        ).select("g").distinct().count()
    )
    assert total_novel == distinct


# ---------------------------------------------------------------------------
# Continuous perceptual-hash image ingest (streaming/imagedup_ingest.py)
# ---------------------------------------------------------------------------


def _image_corpus():
    """Synthetic BMP corpus: 45 distinct 11x6 images + planted
    perceptual-dup cliques split over 3 batches. Copies are a 2x
    pixel-duplication upscale (identical dHash) or a one-cell
    inversion (Hamming <= 2); distinct grids are rng-independent
    (~30 bits apart). Clique A spans batches 0->1->2."""
    import numpy as np

    from pystreams_spark.operators.multimodal import encode_bmp

    grids = {}
    for i in range(45):
        rng = np.random.RandomState(1000 + i)
        grids[i] = rng.randint(0, 256, size=(6, 11, 3)).astype(np.uint8)

    def upscale_of(src, new_id):
        grids[new_id] = np.repeat(np.repeat(grids[src], 2, 0), 2, 1)

    def edit_of(src, new_id):
        g = grids[src].copy()
        g[2, 5] = 255 - g[2, 5]
        grids[new_id] = g

    upscale_of(3, 100)   # batch 1
    edit_of(3, 101)      # batch 2
    upscale_of(20, 120)  # batch 2
    edit_of(7, 50)       # batch 0 (intra-batch pair)
    payloads = {i: encode_bmp(g) for i, g in grids.items()}
    batches = [
        sorted([*range(0, 15), 50]),
        sorted([*range(15, 30), 100]),
        sorted([*range(30, 45), 101, 120]),
    ]
    return payloads, batches


def _image_bdf(spark, payloads, ids):
    return spark.createDataFrame(
        [(i, bytearray(payloads[i])) for i in ids],
        "doc_id long, payload binary",
    )


def test_imagedup_ingest_across_batches_and_replay(spark, tmp_path):
    from pystreams_spark.operators.dedup import cc_keep_min
    from pystreams_spark.operators.imagehash import (
        image_dhash,
        image_dhash_candidates,
    )
    from pystreams_spark.streaming.imagedup_ingest import ImagedupIngest

    payloads, batches = _image_corpus()
    ingest = ImagedupIngest(str(tmp_path / "state"))

    for epoch, ids in enumerate(batches):
        ingest.process_batch(_image_bdf(spark, payloads, ids), epoch)

    surv = {r.doc_id for r in ingest.survivors(spark).collect()}
    assert {100, 101, 120, 50}.isdisjoint(surv)
    assert {3, 20, 7}.issubset(surv)

    # cliques -> online result equals the batch pipeline on the corpus
    all_df = _image_bdf(spark, payloads, sorted(payloads))
    sig = image_dhash(all_df)
    pairs = image_dhash_candidates(sig, max_hamming=8).select("id_a", "id_b")
    labels = cc_keep_min(pairs, all_df.select("doc_id"))
    batch_surv = {
        r.doc_id
        for r in labels.filter(
            F.col("doc_id") == F.col("cluster_id")
        ).collect()
    }
    assert surv == batch_surv

    # replay of the final epoch is idempotent
    ingest.process_batch(_image_bdf(spark, payloads, batches[2]), 2)
    surv2 = {r.doc_id for r in ingest.survivors(spark).collect()}
    assert surv2 == surv


def test_imagedup_ingest_under_structured_streaming(spark, tmp_path):
    """End-to-end under a real file stream (one parquet drop per
    micro-batch); batch order may vary, so assert the order-free
    invariant: exactly one survivor per perceptual clique."""
    import os
    import time

    from pystreams_spark.streaming.imagedup_ingest import ImagedupIngest

    payloads, batches = _image_corpus()
    src = str(tmp_path / "in")
    os.makedirs(src)
    for epoch, ids in enumerate(batches):
        _image_bdf(spark, payloads, ids).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{epoch}")
        time.sleep(0.05)

    ingest = ImagedupIngest(str(tmp_path / "state"))
    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        stream.writeStream.foreachBatch(ingest.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    surv = {r.doc_id for r in ingest.survivors(spark).collect()}
    n_total = sum(len(b) for b in batches)
    assert len(surv) == n_total - 4
    for clique in ({3, 100, 101}, {20, 120}, {7, 50}):
        assert len(clique & surv) == 1


def test_imagedup_ingest_commit_filter_and_params(spark, tmp_path):
    """Hardened commit filter (ADVICE r10): a torn EMPTY marker-less
    epoch dir is skipped; a marker-less dir below the replay horizon
    that holds committed-looking part files RAISES (silently skipping
    it would silently drop its signatures from dedup); and a restart
    with different hash parameters must refuse (the NeardupIngest
    contract)."""
    import os

    from pystreams_spark.streaming.imagedup_ingest import ImagedupIngest

    payloads, batches = _image_corpus()
    state = str(tmp_path / "state")
    ImagedupIngest(state).process_batch(
        _image_bdf(spark, payloads, batches[0]), 0
    )

    # torn EMPTY epoch below the next read's bound (crash between
    # mkdir and first task commit): carries no data, skipped
    torn = f"{state}/sigs/epoch=1"
    os.makedirs(torn)
    ImagedupIngest(state).process_batch(
        _image_bdf(spark, payloads, batches[1]), 2
    )
    # cross-batch dedup still worked through the filter: 100 dropped
    surv = {
        r.doc_id
        for r in ImagedupIngest(state).survivors(spark).collect()
    }
    assert 100 not in surv and 3 in surv

    # marker-less dir WITH part files below the horizon: nothing will
    # ever rewrite it → loud failure naming the dir, not a silent
    # recall hole
    os.makedirs(f"{state}/sigs/epoch=3")
    with open(f"{state}/sigs/epoch=3/part-00000.parquet", "wb") as fh:
        fh.write(b"\x00not parquet")
    with pytest.raises(Exception, match="no\\s+_SUCCESS|committed-"):
        ImagedupIngest(state).process_batch(
            _image_bdf(spark, payloads, batches[2]), 4
        )
    # documented recovery: restore the marker after verifying -> but
    # the garbage part file is unreadable, so discard the epoch
    os.remove(f"{state}/sigs/epoch=3/part-00000.parquet")
    os.rmdir(f"{state}/sigs/epoch=3")
    ImagedupIngest(state).process_batch(
        _image_bdf(spark, payloads, batches[2]), 4
    )

    with pytest.raises(ValueError, match="never match"):
        ImagedupIngest(state, band_bits=12, bands=5).process_batch(
            _image_bdf(spark, payloads, batches[2]), 5
        )


def test_neardup_ingest_commit_filter_skips_torn_epoch(spark, tmp_path):
    """Hardened commit filter (ADVICE r10): a torn EMPTY marker-less
    epoch dir in the text signature store is skipped (cross-batch
    dedup still works through it); a marker-less dir WITH part files
    below the replay horizon raises loudly; and a session configured
    not to write _SUCCESS markers is refused at the first batch."""
    import os

    from pystreams_spark.streaming.neardup_ingest import NeardupIngest

    docs, batches = _ingest_corpus()
    state = str(tmp_path / "state")

    def bdf(ids):
        return spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id long, text string"
        )

    NeardupIngest(state, threshold=0.6).process_batch(bdf(batches[0]), 0)
    torn = f"{state}/sigs/epoch=1"
    os.makedirs(torn)
    NeardupIngest(state, threshold=0.6).process_batch(bdf(batches[1]), 2)
    surv = {
        r.doc_id
        for r in NeardupIngest(state, threshold=0.6)
        .survivors(spark)
        .collect()
    }
    # 100 (copy of 3, which landed in epoch 0) dropped via the store
    assert 100 not in surv and 3 in surv

    # committed-looking part files without a marker below the horizon:
    # raise, never silently drop the epoch's signatures
    os.makedirs(f"{state}/sigs/epoch=3")
    with open(f"{state}/sigs/epoch=3/part-00000.parquet", "wb") as fh:
        fh.write(b"\x00not parquet")
    with pytest.raises(Exception, match="no\\s+_SUCCESS|committed-"):
        NeardupIngest(state, threshold=0.6).process_batch(bdf(batches[2]), 4)
    # the committed epochs are listed before the batch writes anything,
    # so the refusal leaves no state behind
    assert not os.path.exists(f"{state}/sigs/epoch=4")


def test_epoch_store_refuses_markerless_session(spark, tmp_path):
    """ADVICE r10: with mapreduce.fileoutputcommitter.
    marksuccessfuljobs=false the commit filter would read every epoch
    as uncommitted forever — the ingest must refuse at init instead of
    silently disabling cross-batch dedup."""
    from pystreams_spark.streaming.neardup_ingest import NeardupIngest

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    old = conf.get(key, "true")
    conf.set(key, "false")
    try:
        docs, batches = _ingest_corpus()
        bdf = spark.createDataFrame(
            [(i, docs[i]) for i in batches[0]], "doc_id long, text string"
        )
        with pytest.raises(RuntimeError, match="marksuccessfuljobs"):
            NeardupIngest(str(tmp_path / "state")).process_batch(bdf, 0)
    finally:
        conf.set(key, old)


# ---------------------------------------------------------------------------
# The epoch-store plumbing shared by the three ingests (streaming/epoch_store.py)
# ---------------------------------------------------------------------------

# ingest kind → (class, store subdirectory, parameter change that must
# be refused, the refusal's own reason)
_INGESTS = {
    "neardup": ("NeardupIngest", "sigs", {"bands": 4}, "never match"),
    "novelty": ("NoveltyIngest", "grams", {"n": 2}, "gram classes"),
    "imagedup": (
        "ImagedupIngest", "sigs", {"bands": 5, "band_bits": 12},
        "hash grid or banding",
    ),
}


def _ingest_module(kind):
    import importlib

    return importlib.import_module(f"pystreams_spark.streaming.{kind}_ingest")


def _make_ingest(kind, state, **changed):
    if kind == "neardup":
        changed.setdefault("threshold", 0.6)
    cls = getattr(_ingest_module(kind), _INGESTS[kind][0])
    return cls(str(state), **changed)


def _ingest_frames(spark, kind):
    """The kind's three-batch test stream as frames."""
    if kind == "imagedup":
        payloads, batches = _image_corpus()
        return [_image_bdf(spark, payloads, ids) for ids in batches]
    docs, batches = _ingest_corpus()
    return [
        spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id long, text string"
        )
        for ids in batches
    ]


def _rows(spark, path):
    """A parquet directory's rows (partition column included), sorted,
    arrays as tuples."""
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in spark.read.parquet(path).collect()
    )


# Most Spark jobs one micro-batch of each ingest may start: the count
# measured on a batch that also reads the store, at 4 and 8 cores. Each
# includes the state write, the output write and their
# adaptive-execution stage jobs.
_BATCH_JOB_BUDGET = {"neardup": 13, "novelty": 9, "imagedup": 13}


@pytest.mark.parametrize("kind", sorted(_INGESTS))
def test_ingest_job_budget(spark, tmp_path, kind):
    """Two micro-batches of each ingest start at most two batches'
    budget of Spark jobs: the params check runs none, and the state
    write is the batch's only pin."""
    frames = _ingest_frames(spark, kind)[:2]
    ingest = _make_ingest(kind, tmp_path / "state")
    sc = spark.sparkContext
    group = f"ingest-job-budget-{kind}"
    sc.setJobGroup(group, group)
    try:
        for epoch, frame in enumerate(frames):
            ingest.process_batch(frame, epoch)
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    budget = 2 * _BATCH_JOB_BUDGET[kind]
    assert n_jobs <= budget, (
        f"{kind}: two micro-batches ran {n_jobs} Spark jobs, budget {budget}"
    )


@pytest.mark.parametrize("kind", sorted(_INGESTS))
def test_ingest_replays_crash_between_state_and_output_writes(
    spark, tmp_path, monkeypatch, kind
):
    """The state write comes first: a crash before the output write
    leaves a committed state epoch and no output. Replaying the epoch
    (bounded to ``epoch < e``, overwriting both) must leave the store
    and the output equal to an uninterrupted run's."""
    mod = _ingest_module(kind)
    store_sub = _INGESTS[kind][1]
    frames = _ingest_frames(spark, kind)

    clean = _make_ingest(kind, tmp_path / "clean")
    for epoch, frame in enumerate(frames):
        clean.process_batch(frame, epoch)

    real_write = mod.write_epoch
    crashed = []

    def crash_once_on_output(df, root, epoch):
        if root.endswith("/out") and epoch == 1 and not crashed:
            crashed.append(epoch)
            raise RuntimeError("simulated crash before the output write")
        return real_write(df, root, epoch)

    monkeypatch.setattr(mod, "write_epoch", crash_once_on_output)
    state = tmp_path / "crashed"
    _make_ingest(kind, state).process_batch(frames[0], 0)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _make_ingest(kind, state).process_batch(frames[1], 1)
    assert (state / store_sub / "epoch=1" / "_SUCCESS").exists()
    assert not (state / "out" / "epoch=1").exists()

    # restart: the stream replays epoch 1, then carries on
    resumed = _make_ingest(kind, state)
    for epoch in (1, 2):
        resumed.process_batch(frames[epoch], epoch)
    for sub in (store_sub, "out"):
        assert _rows(spark, str(state / sub)) == _rows(
            spark, str(tmp_path / "clean" / sub)
        ), sub


@pytest.mark.parametrize("kind", sorted(_INGESTS))
def test_check_params_refuses_with_each_ingests_reason(spark, tmp_path, kind):
    """A store bound to one parameter set refuses another with the
    ingest's own reason; the first instance's check is memoized."""
    _, _, changed, reason = _INGESTS[kind]
    bound = _make_ingest(kind, tmp_path / "state")
    bound._check_params(spark)
    assert bound._params_checked is True
    with pytest.raises(ValueError, match=reason):
        _make_ingest(kind, tmp_path / "state", **changed)._check_params(spark)
    _make_ingest(kind, tmp_path / "state")._check_params(spark)


def test_novelty_ingest_refuses_a_store_of_xxhash64_grams(spark, tmp_path):
    """A store bound before the gram value became md5 (its ``_params``
    has no "gram" entry and holds xxhash64 grams) is refused, and the
    refusal names the stored and the current parameters."""
    from pystreams_spark.streaming.epoch_store import check_params
    from pystreams_spark.streaming.novelty_ingest import NoveltyIngest

    state = str(tmp_path / "state")
    old = {"n": 3, "text_col": "text", "id_col": "doc_id"}
    check_params(spark, state, old, "NoveltyIngest", "bound")
    ing = NoveltyIngest(state, n=3)
    with pytest.raises(ValueError, match="gram classes") as err:
        ing._check_params(spark)
    msg = str(err.value)
    assert str(dict(sorted(old.items()))) in msg
    assert str(ing._params()) in msg


def test_check_params_verifies_spark_text_layout_and_runs_no_job(
    spark, tmp_path
):
    """Stores bound by Spark's text writer (``_params/part-*`` plus
    ``_SUCCESS``) still verify; the binding written now reads back
    through Spark's text reader; and neither the first-use write nor
    the later read starts a Spark job."""
    import json

    from pystreams_spark.streaming.epoch_store import check_params

    params = {"n": 3, "text_col": "text", "id_col": "doc_id"}
    old = str(tmp_path / "old")
    spark.createDataFrame(
        [(json.dumps(params, sort_keys=True),)], "value string"
    ).coalesce(1).write.mode("overwrite").text(f"{old}/_params")
    new = str(tmp_path / "new")

    sc = spark.sparkContext
    group = "check-params-no-job"
    sc.setJobGroup(group, group)
    try:
        check_params(spark, old, params, "T", "old layout")
        with pytest.raises(ValueError, match="T: .*old layout"):
            check_params(spark, old, {**params, "n": 2}, "T", "old layout")
        check_params(spark, new, params, "T", "new layout")  # binds
        check_params(spark, new, params, "T", "new layout")  # verifies
        with pytest.raises(ValueError, match="new layout"):
            check_params(spark, new, {**params, "n": 2}, "T", "new layout")
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 0, f"check_params started {n_jobs} Spark job(s)"

    assert os.path.exists(f"{new}/_params/_SUCCESS")
    (line,) = spark.read.text(f"{new}/_params").collect()
    assert json.loads(line.value) == params


def _plant_torn_epoch(spark, root, src_epoch, epoch):
    """Copy ``root/epoch=<src_epoch>`` to ``root/epoch=<epoch>`` and
    drop the copy's ``_SUCCESS``: part files with no commit marker."""
    dst = f"{root}/epoch={epoch}"
    spark.read.parquet(f"{root}/epoch={src_epoch}").write.parquet(dst)
    os.remove(os.path.join(dst, "_SUCCESS"))


@pytest.mark.parametrize("kind", sorted(_INGESTS))
def test_ingest_readers_skip_a_torn_newest_epoch(spark, tmp_path, kind):
    """``survivors()``/``scores()`` read only committed output epochs: a
    marker-less newest ``epoch=N`` holding a part file (a write in
    flight) is left out, and a marker-less epoch below a committed one
    raises instead of silently vanishing."""
    ingest = _make_ingest(kind, tmp_path / "state")
    for epoch, frame in enumerate(_ingest_frames(spark, kind)[:2]):
        ingest.process_batch(frame, epoch)
    read = ingest.scores if kind == "novelty" else ingest.survivors

    def rows():
        return sorted(tuple(r) for r in read(spark).collect())

    want = rows()
    assert want
    out = str(tmp_path / "state" / "out")
    _plant_torn_epoch(spark, out, 0, 9)
    assert rows() == want
    os.remove(os.path.join(out, "epoch=0", "_SUCCESS"))
    with pytest.raises(RuntimeError, match="no _SUCCESS marker"):
        read(spark)


def test_drift_history_skips_a_torn_newest_epoch(spark, tmp_path):
    from pystreams_spark.streaming.drift_monitor import DriftMonitor

    def vdf(lo):
        return spark.createDataFrame([(float(lo + i),) for i in range(50)], "v double")

    monitor = DriftMonitor(str(tmp_path / "mon"), vdf(0), ["v"])
    monitor.process_batch(vdf(0), 0)
    monitor.process_batch(vdf(30), 1)
    want = sorted(tuple(r) for r in monitor.history(spark).collect())
    assert [r[-1] for r in want] == [0, 1]
    _plant_torn_epoch(spark, str(tmp_path / "mon" / "scores"), 1, 7)
    assert sorted(tuple(r) for r in monitor.history(spark).collect()) == want
