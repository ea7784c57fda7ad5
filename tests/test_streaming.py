"""Structured Streaming jobs: stream≡batch equivalence on the events table."""

import pytest
from pyspark.sql import functions as F

from data_integration_celery_spark import catalog
from data_integration_celery_spark.operators import bars
from data_integration_celery_spark.streaming import jobs


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # file stream source needs a directory; re-land the events table
    path = str(tmp_path_factory.mktemp("events_stream"))
    catalog.load(spark, "events", sf_dir).write.mode("overwrite").parquet(path)
    return path


def test_stream_bars_match_batch(spark, sf_dir, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = jobs.stream_ohlc_bars(stream, ["event_type"], "ts", "value")
    q = (out.writeStream.format("memory").queryName("bars_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from bars_test")

    batch = bars.ohlc_bars(catalog.load(spark, "events", sf_dir),
                           ["event_type"], "ts", "value")
    # one bar rule: every column of the stream equals the batch bars
    key = ["event_type", "bar_start"]
    g = {tuple(r[k] for k in key): r.asDict() for r in got.collect()}
    b = {tuple(r[k] for k in key): r.asDict() for r in batch.collect()}
    assert g == b and len(g) > 0


def test_tied_timestamps_give_one_bar_in_any_row_order(spark, tmp_path):
    """Ticks that share a timestamp: ohlc_bars gives the same bar for every
    input row order, and it equals the stream's bar — open is the least
    price at the first timestamp, close the greatest at the last."""
    import datetime
    t0 = datetime.datetime(2024, 1, 2, 9, 30, 0)
    t1 = t0 + datetime.timedelta(seconds=30)
    rows = [("A", t0, 10.0), ("A", t0, 5.0), ("A", t1, 7.0), ("A", t1, 9.0)]
    schema = "code string, ts timestamp, price double"
    cols = ["open", "high", "low", "close", "n_ticks"]

    def batch_bar(order):
        ticks = spark.createDataFrame([rows[i] for i in order],
                                      schema).coalesce(1)
        out = bars.ohlc_bars(ticks, ["code"], "ts", "price").collect()
        assert len(out) == 1
        return tuple(out[0][c] for c in cols)

    src = str(tmp_path / "ticks")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (jobs.stream_ohlc_bars(stream, ["code"], "ts", "price")
         .writeStream.format("memory").queryName("tied_bars")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = [tuple(r) for r in spark.sql(
        f"select {', '.join(cols)} from tied_bars").collect()]
    assert streamed == [(5.0, 10.0, 5.0, 9.0, 4)]
    assert batch_bar([0, 1, 2, 3]) == batch_bar([1, 0, 3, 2]) == streamed[0]


def test_stream_dedup(spark, events_dir, tmp_path):
    # duplicate the source: every tick appears twice across two files
    dup_dir = str(tmp_path / "dup")
    src = spark.read.parquet(events_dir)
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)
    schema = src.schema
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    deduped = jobs.stream_dedup_ticks(stream, ["event_id"], "ts")
    q = (deduped.writeStream.format("memory").queryName("dedup_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    n = spark.sql("select count(*) c from dedup_test").collect()[0]["c"]
    assert n == src.count()


def test_stream_upsert_sink(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    writer = jobs.upsert_sink(stream.select("event_id", "ts", "value"),
                              target, keys=["event_id"], checkpoint=ckpt)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.read.parquet(target)
    assert got.count() == got.select("event_id").distinct().count()


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir,
                                          tmp_path):
    """Stream-stream attribution join ≡ the same join run statically: every
    (click, view-within-window) pair appears exactly once — across
    micro-batch boundaries (1 file per trigger, time-range-split files, so
    a click's matching view routinely arrives in a later batch and must be
    matched from the state store)."""
    src = spark.read.parquet(events_dir)
    split_dir = str(tmp_path / "attr_split")
    src.repartitionByRange(4, "ts").write.mode("overwrite").parquet(split_dir)
    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 1).parquet(split_dir))
    # the sf0.001 event stream is sparse (1k events/month): a 4h window
    # yields a meaningful pair set where the production-default 10min is
    # dry. Watermark exceeds the table's 30-day span because the file
    # source does NOT deliver the range files in time order — this test
    # pins cross-batch state matching; late-event drop semantics are
    # pinned by test_stream_watermark_bounds_dedup_state.
    out = jobs.stream_click_view_attribution(stream, max_delay="4 hours",
                                             watermark="35 days")
    q = (out.writeStream.format("memory").queryName("attr_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["click_id"], r["view_id"]): round(r["lag_s"], 6)
           for r in spark.sql("select * from attr_test").collect()}

    ev = catalog.load(spark, "events", sf_dir)
    batch = jobs.stream_click_view_attribution(  # same body, static input
        ev, max_delay="4 hours", watermark="35 days")
    want = {(r["click_id"], r["view_id"]): round(r["lag_s"], 6)
            for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_rate_limited_microbatches(spark, events_dir, tmp_path):
    """maxFilesPerTrigger bounds per-batch intake (the streaming analogue of
    the reference's vendor rate caps): the same result arrives over several
    micro-batches instead of one replay."""
    src = spark.read.parquet(events_dir)
    split_dir = str(tmp_path / "split")
    src.repartition(4).write.mode("overwrite").parquet(split_dir)
    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 1).parquet(split_dir))
    q = (stream.groupBy().count().writeStream.format("memory")
         .queryName("rate_limited").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, "expected several rate-limited micro-batches"
    got = spark.sql("select count from rate_limited").collect()[0]["count"]
    assert got == src.count()


def test_stream_exactly_once_across_restart(spark, events_dir, tmp_path):
    """Kill the upsert query mid-stream, restart from the same checkpoint:
    every event lands exactly once (checkpoint replay + PK-idempotent
    foreachBatch = effective exactly-once)."""
    src = spark.read.parquet(events_dir).select("event_id", "ts", "value")
    split_dir = str(tmp_path / "split")
    src.repartition(6).write.mode("overwrite").parquet(split_dir)
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")

    def start():
        stream = (spark.readStream.schema(src.schema)
                  .option("maxFilesPerTrigger", 1).parquet(split_dir))
        return (jobs.upsert_sink(stream, target, keys=["event_id"],
                                 checkpoint=ckpt)
                .trigger(availableNow=True).start())

    q1 = start()
    # stop as soon as at least one micro-batch committed, mid-stream
    import time
    for _ in range(600):
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.1)
    q1.stop()
    q1.awaitTermination(60)
    # the kill may land mid-overwrite (parquet has no commit protocol — a
    # real deployment uses Delta/Iceberg for atomic swaps); the contract is
    # the END state after restart, so the mid-stream peek is best-effort
    try:
        partial = spark.read.parquet(target).count()
    except Exception:
        partial = 0
    q2 = start()
    q2.awaitTermination(120)
    got = spark.read.parquet(target)
    assert partial <= src.count()
    assert got.count() == src.count()
    assert got.count() == got.select("event_id").distinct().count()
    # values survived intact (no half-written batch)
    dec = "decimal(38,6)"
    assert (got.agg(F.sum(F.col("value").cast(dec))).collect()[0][0]
            == src.agg(F.sum(F.col("value").cast(dec))).collect()[0][0])


def test_stream_watermark_bounds_dedup_state(spark, tmp_path):
    """Watermark semantics actually guaranteed by Spark's stateful dedup:
    duplicates within the watermark horizon dedup exactly, and the state
    store stays bounded — keys older than the horizon are evicted after
    commit (boundary rows dedup best-effort, per the Spark contract). The
    O(horizon) state bound is what keeps the operator viable at 100 TB; the
    reference's duplicate-repair job has the same reach limit (PK rebuild
    touches the current partition only)."""
    import datetime as dt
    import glob
    import os
    src_dir = str(tmp_path / "late_src")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    old_ts = base - dt.timedelta(hours=2)
    schema = "event_id long, ts timestamp, value double"
    batch1 = [(1, base, 1.0), (2, base + dt.timedelta(minutes=5), 2.0),
              (9, old_ts, 9.0)]
    batch2 = [(2, base + dt.timedelta(minutes=5), 2.0),   # in-horizon dup
              (9, old_ts, 9.0)]                           # beyond-horizon dup
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src_dir)
    os.rename(sorted(glob.glob(f"{src_dir}/part-*"))[0],
              f"{src_dir}/a-batch1.parquet")
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    os.rename(glob.glob(f"{src_dir}/part-*")[0], f"{src_dir}/b-batch2.parquet")

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    deduped = jobs.stream_dedup_ticks(stream, ["event_id"], "ts",
                                      watermark="10 minutes")
    q = (deduped.writeStream.format("memory").queryName("late_state")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    counts = {}
    for r in spark.sql("select event_id from late_state").collect():
        counts[r["event_id"]] = counts.get(r["event_id"], 0) + 1
    assert counts[1] == 1
    assert counts[2] == 1, "duplicate within the watermark horizon must dedup"
    # at the horizon boundary Spark documents dedup as best-effort ("may or
    # may not"); the hard guarantee is BOUNDED STATE — the evicted old key
    # must not remain in the state store at end of stream
    state_rows = max(p["stateOperators"][0]["numRowsTotal"]
                     for p in q.recentProgress if p["stateOperators"])
    final_rows = [p["stateOperators"][0]["numRowsTotal"]
                  for p in q.recentProgress if p["stateOperators"]][-1]
    assert final_rows <= 2, f"old-horizon state must be evicted: {final_rows}"
    assert state_rows <= 3


def test_stream_session_merge_on_late_event(spark, tmp_path):
    """Watermarked session merging (NOTES backlog): two sessions already in
    state merge into ONE when a late-but-in-watermark event bridges their
    gap, and append mode emits the merged session exactly once after the
    watermark passes — matching the batch session_window oracle."""
    import datetime as dt
    import glob
    import os

    schema = "user_id long, ts timestamp, value double"
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def land(name, rows):
        d = str(tmp_path / "sess_src")
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(d)
        newest = max(glob.glob(f"{d}/part-*"), key=os.path.getmtime)
        os.rename(newest, f"{d}/{name}.parquet")
        return d

    # batch a: two u1 events 18 min apart → two separate 10-min-gap sessions
    src = land("a", [(1, base, 1.0),
                     (1, base + dt.timedelta(minutes=18), 2.0)])
    # batch b: late bridging event at +9 min (inside the 30-min watermark)
    # merges them; 13:30 event advances the watermark on the next commit
    land("b", [(1, base + dt.timedelta(minutes=9), 3.0),
               (2, base + dt.timedelta(minutes=90), 4.0)])
    # batch c: pushes the watermark past the merged session's end → emit
    land("c", [(2, base + dt.timedelta(minutes=150), 5.0)])

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    sessions = jobs.stream_sessionize(stream, ["user_id"], "ts",
                                      gap="10 minutes",
                                      watermark="30 minutes")
    q = (sessions.writeStream.format("memory").queryName("sess_merge")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [r for r in spark.sql("select * from sess_merge").collect()
           if r["user_id"] == 1]
    # exactly one merged session: 12:00 → 12:18 + gap, all three events
    assert len(got) == 1, f"expected one merged session, got {got}"
    s = got[0]
    assert s["n_events"] == 3
    assert s["session_start"] == base
    assert s["session_end"] == base + dt.timedelta(minutes=28)

    # batch oracle: same events through the batch session_window
    all_rows = spark.read.parquet(src).where(F.col("user_id") == 1)
    batch = (all_rows.groupBy("user_id", F.session_window("ts", "10 minutes"))
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select("user_id", F.col("session_window.start").alias("session_start"),
                     F.col("session_window.end").alias("session_end"), "n_events"))
    b = [tuple(r) for r in batch.collect()]
    assert b == [(1, s["session_start"], s["session_end"], 3)]


def test_stream_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Micro-batched arrival of the documents corpus through the streaming
    incremental-dedup job must discover exactly the full-batch LSH pair
    set, each pair exactly once (in the batch where its later doc arrives),
    and leave an index covering the whole corpus."""
    from data_integration_celery_spark.operators import dedup

    docs = catalog.load(spark, "documents", sf_dir).select("doc_id", "text")
    src_dir = str(tmp_path / "docs_src")
    # three files -> three micro-batches with maxFilesPerTrigger=1
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1) \
            .write.mode("append").parquet(src_dir)
    schema = docs.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src_dir))
    index_path = str(tmp_path / "index")
    pairs_path = str(tmp_path / "pairs")
    q = jobs.stream_incremental_dedup(
        stream, index_path, pairs_path, str(tmp_path / "ckpt")) \
        .trigger(availableNow=True).start()
    q.awaitTermination(300)

    got_rows = spark.read.parquet(pairs_path).collect()
    got = {(r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
           for r in got_rows}
    assert len(got) == len(got_rows), "a pair was emitted in two batches"
    full = {(r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
            for r in dedup.minhash_lsh_candidates(docs).collect()}
    assert got == full and len(full) > 0
    # index covers every document exactly once per band
    idx = spark.read.parquet(index_path)
    assert idx.select("doc_id").distinct().count() == docs.count()
    assert idx.groupBy("doc_id", "band").count() \
              .where("count > 1").count() == 0


def test_stream_incremental_semdedup_matches_batch(spark, sf_dir, tmp_path):
    """Micro-batched arrival of the embeddings corpus through the streaming
    SemDeDup job must discover exactly the all-corpus within-cluster pair
    set (same fixed centroids), each pair once — in the batch where its
    later-arriving side lands — and leave a member table covering the
    corpus."""
    from data_integration_celery_spark.operators import similarity

    emb = catalog.load(spark, "embeddings", sf_dir) \
        .select("vec_id", "embedding")
    # centroids fixed up front from the full corpus's 8 lowest ids (the
    # production shape: the index's dense state predates the arrivals)
    _, cents = similarity.semdedup_index(emb, n_clusters=8)
    src_dir = str(tmp_path / "emb_src")
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).coalesce(1) \
            .write.mode("append").parquet(src_dir)
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", "1").parquet(src_dir))
    member_path = str(tmp_path / "members")
    pairs_path = str(tmp_path / "pairs")
    q = jobs.stream_incremental_semdedup(
        stream, member_path, pairs_path, str(tmp_path / "ckpt"),
        cents, tau=0.3) \
        .trigger(availableNow=True).start()
    assert q.awaitTermination(300)

    got_rows = spark.read.parquet(pairs_path).collect()
    got = {frozenset((r["id_a"], r["id_b"])): r["cos"] for r in got_rows}
    assert len(got) == len(got_rows), "a pair was emitted in two batches"
    # batch reference: assign whole corpus to the same centroids, all
    # within-cluster pairs >= tau
    nv = F.transform(F.col("embedding"),
                     lambda x: x.cast("double") / similarity._norm(
                         F.col("embedding")))
    allm = similarity._assign_to_centroids(
        emb.select(F.col("vec_id").alias("id"), nv.alias("nv")), cents, 6)
    a = allm.select(F.col("cluster").alias("cl"), F.col("id").alias("ia"),
                    F.col("nv").alias("va"))
    b = allm.select(F.col("cluster").alias("cl"), F.col("id").alias("ib"),
                    F.col("nv").alias("vb"))
    full = {frozenset((r["ia"], r["ib"])): r["cos"] for r in
            (a.join(b, "cl").where(F.col("ia") < F.col("ib"))
             .select("ia", "ib",
                     F.round(similarity._dot(F.col("va"), F.col("vb")),
                             6).alias("cos"))
             .where(F.col("cos") >= 0.3)).collect()}
    assert got == full and len(full) > 0
    mem = spark.read.parquet(member_path)
    assert mem.select("id").distinct().count() == emb.count()


def test_stream_incremental_semdedup_replay_idempotent(spark, sf_dir,
                                                       tmp_path):
    """Replaying every batch against the already-written member/pairs
    tables (checkpoint wiped, data dirs kept) must reproduce the byte-
    identical pair set: the probe reads batch_id < N only, so a replayed
    batch never pairs against its own previously-written rows (no (x,x)
    self-pairs, no duplicated in-batch pairs)."""
    import shutil

    from data_integration_celery_spark.operators import similarity

    emb = catalog.load(spark, "embeddings", sf_dir) \
        .select("vec_id", "embedding").where(F.col("vec_id") < 200)
    _, cents = similarity.semdedup_index(emb, n_clusters=4)
    src_dir = str(tmp_path / "emb_src")
    for i in range(2):
        emb.where(F.col("vec_id") % 2 == i).coalesce(1) \
            .write.mode("append").parquet(src_dir)
    member_path = str(tmp_path / "members")
    pairs_path = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(emb.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src_dir))
        q = jobs.stream_incremental_semdedup(
            stream, member_path, pairs_path, ckpt, cents, tau=0.3) \
            .trigger(availableNow=True).start()
        assert q.awaitTermination(300)
        return sorted((r["id_a"], r["id_b"], r["cos"])
                      for r in spark.read.parquet(pairs_path).collect())

    first = run()
    shutil.rmtree(ckpt)            # lose the offsets: full replay
    second = run()
    assert first == second
    assert all(a != b for a, b, _ in first) and first


def test_stream_incremental_pq_index_matches_batch(spark, sf_dir, tmp_path):
    """Micro-batched arrival of the embeddings corpus through the streaming
    PQ-encode job must leave a codes table identical to a full-corpus
    pq_encode against the same fixed codebook (each vector coded exactly
    once, in its arrival batch), so an ADC top-k scan over the
    accumulated index equals the scan over the batch-encoded corpus."""
    from data_integration_celery_spark.operators import similarity

    emb = catalog.load(spark, "embeddings", sf_dir) \
        .select("vec_id", "embedding")
    cb = similarity.pq_train(emb, m_sub=8, k_codes=16, iters=1)
    src_dir = str(tmp_path / "emb_src")
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).coalesce(1) \
            .write.mode("append").parquet(src_dir)
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", "1").parquet(src_dir))
    codes_path = str(tmp_path / "codes")
    q = jobs.stream_incremental_pq_index(
        stream, codes_path, str(tmp_path / "ckpt"), cb) \
        .trigger(availableNow=True).start()
    assert q.awaitTermination(300)

    got_rows = spark.read.parquet(codes_path).collect()
    got = {r["vec_id"]: tuple(r["codes"]) for r in got_rows}
    assert len(got) == len(got_rows), "a vector was coded in two batches"
    full = {r["vec_id"]: tuple(r["codes"])
            for r in similarity.pq_encode(emb, cb).collect()}
    assert got == full and len(full) == emb.count()
    # the scan consumer sees the same top-k through either index
    queries = emb.where(F.col("vec_id") % 100 == 0)
    via_stream = {(r.query_id, r.rank, r.cand_id) for r in
                  similarity.pq_topk(
                      spark.read.parquet(codes_path)
                      .select("vec_id", "codes"),
                      queries, cb, k=3).collect()}
    via_batch = {(r.query_id, r.rank, r.cand_id) for r in
                 similarity.pq_topk(similarity.pq_encode(emb, cb),
                                    queries, cb, k=3).collect()}
    assert via_stream == via_batch


def test_stream_incremental_pq_index_replay_idempotent(spark, sf_dir,
                                                       tmp_path):
    """Replaying every batch against the already-written codes table
    (checkpoint wiped, data kept) must reproduce the byte-identical
    index: encoding is a pure function of (vector, fixed codebook) and
    each batch owns its batch_id partition."""
    import shutil

    from data_integration_celery_spark.operators import similarity

    emb = catalog.load(spark, "embeddings", sf_dir) \
        .select("vec_id", "embedding").where(F.col("vec_id") < 200)
    cb = similarity.pq_train(emb, m_sub=8, k_codes=16, iters=1)
    src_dir = str(tmp_path / "emb_src")
    for i in range(2):
        emb.where(F.col("vec_id") % 2 == i).coalesce(1) \
            .write.mode("append").parquet(src_dir)
    codes_path = str(tmp_path / "codes")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(emb.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src_dir))
        q = jobs.stream_incremental_pq_index(stream, codes_path, ckpt, cb) \
            .trigger(availableNow=True).start()
        assert q.awaitTermination(300)
        return sorted((r["vec_id"], tuple(r["codes"]), r["batch_id"])
                      for r in spark.read.parquet(codes_path).collect())

    first = run()
    shutil.rmtree(ckpt)            # lose the offsets: full replay
    second = run()
    assert first == second and first


def test_stream_upsert_first_batch_beats_preexisting_base(spark, tmp_path):
    """batch_id 0 previously tied with write_upsert's synthetic base stamp
    (0), making the very first micro-batch's last-write-wins
    nondeterministic against a pre-existing table — the update must win."""
    base = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    path = str(tmp_path / "target")
    base.write.parquet(path)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame([(1, "new")], "k int, v string") \
        .coalesce(1).write.parquet(src_dir)
    stream = (spark.readStream.schema("k int, v string").parquet(src_dir))
    q = jobs.upsert_sink(stream, path, ["k"], str(tmp_path / "ckpt")) \
        .trigger(availableNow=True).start()
    assert q.awaitTermination(300)
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "new", 2: "keep"}


def test_stream_incremental_semdedup_rejects_empty_centroids(spark,
                                                             tmp_path):
    """A stream started against no index would silently discard every
    arrival (or crash per batch in assignment) — construction must fail
    fast, unlike the batch twin's one-shot empty-probe semantics."""
    import numpy as np
    import pytest as _pt

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, [0.5] * 4)],
                          "vec_id long, embedding array<float>") \
        .write.parquet(src)
    stream = (spark.readStream.schema("vec_id long, embedding array<float>")
              .parquet(src))
    with _pt.raises(ValueError, match="centroid"):
        jobs.stream_incremental_semdedup(
            stream, str(tmp_path / "m"), str(tmp_path / "p"),
            str(tmp_path / "c"), np.zeros((0, 0)))


def test_stream_txlog_sink_append_exactly_once(spark, events_dir, tmp_path):
    """The ACID-table sink (jobs.txlog_sink) in APPEND mode — the mode where
    checkpoint replay WOULD duplicate rows — restarted mid-stream: the txn
    stamp (app_id, batch_id) skips replayed batches and every event lands
    exactly once, with every state a committed snapshot (no torn reads, the
    gap the plain-parquet exactly-once test has to shrug at)."""
    import time

    from data_integration_celery_spark.sinks.txlog import TxTable

    src = spark.read.parquet(events_dir).select("event_id", "ts", "value")
    split_dir = str(tmp_path / "split")
    src.repartition(6).write.mode("overwrite").parquet(split_dir)
    target, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")

    def start():
        stream = (spark.readStream.schema(src.schema)
                  .option("maxFilesPerTrigger", 1).parquet(split_dir))
        return (jobs.txlog_sink(stream, target, keys=None, checkpoint=ckpt,
                                app_id="events-append")
                .trigger(availableNow=True).start())

    q1 = start()
    for _ in range(600):
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.1)
    q1.stop()
    q1.awaitTermination(60)
    table = TxTable(spark, target)
    mid = table.snapshot().count()  # ALWAYS readable: commits are atomic
    q2 = start()
    q2.awaitTermination(120)
    got = table.snapshot()
    assert mid <= src.count()
    assert got.count() == src.count(), "replayed batch duplicated rows"
    assert got.select("event_id").distinct().count() == src.count()
    # the log records one txn per distinct batch, none twice
    txns = [c["txn"]["batch_id"] for c in table.history() if c.get("txn")]
    assert len(txns) == len(set(txns))


def test_stream_txlog_sink_merge_mode(spark, events_dir, tmp_path):
    """MERGE mode: duplicated source (every event twice) still lands one row
    per PK, equal to the batch upsert oracle."""
    src = spark.read.parquet(events_dir).select("event_id", "ts", "value")
    dup_dir = str(tmp_path / "dup")
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)
    target, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(src.schema).parquet(dup_dir)
    q = (jobs.txlog_sink(stream, keys=["event_id"], path=target,
                         checkpoint=ckpt, app_id="events-merge")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    from data_integration_celery_spark.sinks.txlog import TxTable
    got = TxTable(spark, target).snapshot()
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()


def test_stream_txlog_sink_delete_mode(spark, events_dir, tmp_path):
    """RETRACTION mode (r10): the stream carries key tuples to erase; each
    micro-batch lands as a merge-on-read DV delete — no data file is ever
    rewritten — and a restart replay is idempotent through the txn stamp."""
    import time

    from data_integration_celery_spark.sinks.txlog import TxTable

    src = spark.read.parquet(events_dir).select("event_id", "ts", "value")
    target, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    t = TxTable(spark, target, batch_partitions=4)
    t.create(src)
    files_before = {a["path"] for a in t.live_files()}
    # erasure requests: every third event, streamed in small batches
    erase = src.where(F.col("event_id") % 3 == 0).select("event_id")
    erase_dir = str(tmp_path / "erase")
    erase.repartition(4).write.mode("overwrite").parquet(erase_dir)

    def start():
        stream = (spark.readStream.schema(erase.schema)
                  .option("maxFilesPerTrigger", 1).parquet(erase_dir))
        return (jobs.txlog_sink(stream, target, keys=["event_id"],
                                checkpoint=ckpt, app_id="erasure",
                                mode="delete")
                .trigger(availableNow=True).start())

    q1 = start()
    for _ in range(600):
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.1)
    q1.stop()
    q1.awaitTermination(60)
    q2 = start()  # restart: replayed batches must be no-ops
    q2.awaitTermination(120)
    got = t.snapshot()
    want = src.where(F.col("event_id") % 3 != 0)
    assert got.count() == want.count()
    assert got.where(F.col("event_id") % 3 == 0).count() == 0
    # merge-on-read: the original data files all survive untouched
    assert files_before <= {a["path"] for a in t.live_files()}
    txns = [c["txn"]["batch_id"] for c in t.history() if c.get("txn")]
    assert len(txns) == len(set(txns))
    # mode='delete' without keys is a hard error
    import pytest as _pt
    with _pt.raises(ValueError):
        jobs.txlog_sink(spark.readStream.schema(erase.schema)
                        .parquet(erase_dir), target, keys=None,
                        checkpoint=ckpt, app_id="x", mode="delete")
    # an unknown mode is a hard error AT SINK-BUILD TIME: a typo like
    # 'Delete' or 'retract' must never fall through to the merge branch
    # and NULL out non-key columns of every matched row (r10 ADVICE #1)
    for bad in ("Delete", "retract", "upsert", ""):
        with _pt.raises(ValueError, match="unknown mode"):
            jobs.txlog_sink(spark.readStream.schema(erase.schema)
                            .parquet(erase_dir), target, keys=["event_id"],
                            checkpoint=ckpt, app_id="x", mode=bad)
    # and against a MISSING table it fails fast instead of bootstrapping a
    # key-only table that would poison later full-row writes
    from pyspark.errors import StreamingQueryException
    q3 = (jobs.txlog_sink(
            spark.readStream.schema(erase.schema).parquet(erase_dir),
            str(tmp_path / "missing"), keys=["event_id"],
            checkpoint=str(tmp_path / "ckpt2"), app_id="erasure2",
            mode="delete")
          .trigger(availableNow=True).start())
    with _pt.raises(StreamingQueryException):
        q3.awaitTermination(120)


def test_stream_delete_mode_bounded_sidecars(spark, events_dir, tmp_path):
    """coalesce_refs_every on the retraction sink: a long-lived erasure
    stream appends one DV sidecar per micro-batch; with in-stream
    coalescing the table's referenced-sidecar count stays bounded at ~N
    instead of growing with stream lifetime."""
    import pytest as _pt

    from data_integration_celery_spark.sinks.txlog import TxTable

    src = spark.read.parquet(events_dir).select("event_id", "ts", "value")
    target, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    t = TxTable(spark, target, batch_partitions=4)
    t.create(src)
    erase = src.where(F.col("event_id") % 3 == 0).select("event_id")
    erase_dir = str(tmp_path / "erase")
    erase.repartition(6).write.mode("overwrite").parquet(erase_dir)

    stream = (spark.readStream.schema(erase.schema)
              .option("maxFilesPerTrigger", 1).parquet(erase_dir))
    q = (jobs.txlog_sink(stream, target, keys=["event_id"],
                         checkpoint=ckpt, app_id="erasure-coal",
                         mode="delete", coalesce_refs_every=2)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = t.snapshot()
    assert got.where(F.col("event_id") % 3 == 0).count() == 0
    assert got.count() == src.where(F.col("event_id") % 3 != 0).count()
    # 6 micro-batches with a coalesce after every 2nd: at most
    # coalesce_every refs ever referenced at once (1 coalesced + the
    # batches since the last coalesce)
    refs = {r for a in t.live_files()
            for r in a.get("dv", {}).get("refs", [])}
    assert len(refs) <= 2
    # the knob is delete-mode-only: merge/append batches never add DVs
    with _pt.raises(ValueError, match="coalesce_refs_every"):
        jobs.txlog_sink(stream, target, keys=["event_id"],
                        checkpoint=ckpt, app_id="x",
                        coalesce_refs_every=2)
