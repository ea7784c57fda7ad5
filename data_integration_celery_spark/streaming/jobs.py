"""Structured Streaming jobs (SURVEY §2.10).

The reference is batch-only (Celery beat micro-batches); these are the
streaming-native forms of its tick pipeline:

- tick stream → 1-minute OHLCV bars with a watermark for late ticks
  (batch twin: operators.bars.ohlc_bars — same aggregation body);
- stateful tick dedup within the watermark horizon
  (the reference rebuilds the PK and `replace into`s a new table,
  tasks/merge/delete_duplicate_ticks.py:15-67);
- incremental upsert via foreachBatch (the streaming form of the
  bunch_insert upsert sink).

Tests drive these with the file source over the events parquet and the
memory sink, asserting stream≡batch results (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..functions.numeric import DEC


def stream_ohlc_bars(ticks: DataFrame, key_cols: list[str], ts_col: str,
                     price_col: str, vol_col: str | None = None,
                     duration: str = "1 minute",
                     watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window OHLCV bars over a streaming DataFrame.

    open/close via min/max over a (ts, price) struct — struct min/max ARE
    supported in streaming aggregations and are order-independent, unlike
    first/last whose result depends on partial-aggregation arrival order
    across partitions and micro-batch state merges. Matches the batch twin's
    min_by/max_by-with-timestamp-tiebreak semantics exactly.
    """
    ts_price = F.struct(F.col(ts_col).alias("t"), F.col(price_col).alias("p"))
    aggs = [
        F.min(ts_price).getField("p").alias("open"),
        F.max(price_col).alias("high"),
        F.min(price_col).alias("low"),
        F.max(ts_price).getField("p").alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    ]
    if vol_col:
        aggs += [
            F.sum(F.col(vol_col).cast(DEC)).cast("double").alias("vol"),
            F.sum((F.col(price_col) * F.col(vol_col)).cast(DEC)).cast("double").alias("amount"),
        ]
    return (ticks.withWatermark(ts_col, watermark)
            .groupBy(*key_cols, F.window(F.col(ts_col), duration))
            .agg(*aggs)
            .withColumn("bar_start", F.col("window.start"))
            .withColumn("bar_end", F.col("window.end"))
            .drop("window"))


def stream_dedup_ticks(ticks: DataFrame, key_cols: list[str], ts_col: str,
                       watermark: str = "10 minutes") -> DataFrame:
    """Stateful dedup on the tick PK within the watermark horizon —
    the streaming replacement for the reference's PK-rebuild repair job."""
    return (ticks.withWatermark(ts_col, watermark)
                 .dropDuplicates([*key_cols, ts_col]))


def upsert_sink(stream: DataFrame, path: str, keys: list[str],
                checkpoint: str) -> DataStreamWriter:
    """foreachBatch upsert into a parquet target — each micro-batch merges
    last-write-wins on the PK (streaming form of operators.upsert)."""
    from ..operators.upsert import write_upsert

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # +1: write_upsert stamps the existing base with order 0, so a raw
        # batch_id of 0 would TIE with the base and make batch 0's
        # last-write-wins nondeterministic against a pre-existing table.
        # The stamp uses a RESERVED column name: stamping literal
        # "batch_id" would silently clobber (and, post-merge, drop) a user
        # data column of that name — the repo's own documented convention
        # for callers carrying ingest versions.
        stamped = batch_df.withColumn("__mb_batch", F.lit(batch_id + 1))
        write_upsert(batch_df.sparkSession, stamped, path, keys,
                     order_col="__mb_batch")

    return (stream.writeStream
            .foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update"))


def txlog_sink(stream: DataFrame, path: str, keys: list[str] | None,
               checkpoint: str, app_id: str,
               mode: str = "auto",
               coalesce_refs_every: int = 0) -> "DataStreamWriter":
    """Exactly-once foreachBatch sink into the ACID table (sinks/txlog.py).

    The checkpoint gives at-least-once batch replay; the table's ``txn``
    stamp (app_id, batch_id) turns the replay into exactly-once — a
    restarted query re-emitting an already-committed micro-batch finds
    batch_id at or below the app's mark in the table's replayed state and
    writes and commits nothing (the public idempotent-writer design Delta
    documents for its streaming sink). With ``keys`` each batch is a
    last-write-wins MERGE commit, and an empty batch (e.g. a watermark-only
    trigger) commits nothing; ``keys=None`` is a pure append stream — the
    case where replay WOULD duplicate rows without the txn stamp
    (plain-parquet upsert replay is only idempotent because the merge is;
    appends have no such luck).

    ``mode="delete"`` turns the stream into a RETRACTION feed: each
    micro-batch carries key tuples to erase, applied as a merge-on-read
    deletion-vector commit (``delete_matching`` — no data file rewritten;
    the streaming GDPR-erasure/bad-batch-retraction shape). Replayed
    batches are idempotent through the same txn stamp: re-deleting an
    already-deleted key matches nothing. ``mode="auto"`` keeps the
    original behavior (merge with keys, append without).

    ``coalesce_refs_every=N`` (delete mode only) runs ``coalesce_dv``
    after every Nth micro-batch, so a long-lived retraction stream —
    which appends one DV sidecar per batch — keeps its sidecar count
    bounded at ~N instead of growing with stream lifetime. Safe under
    replay: a re-run coalesce on an already-coalesced table sees max
    refs < 2 and burns no commit."""
    from ..sinks.txlog import TxTable

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..sinks.txlog import ConflictError
        table = TxTable(batch_df.sparkSession, path)
        if table.latest_version() == 0:
            if mode == "delete":
                # bootstrapping from the RETRACTION stream would create the
                # table with the key-only schema and silently poison every
                # later full-row write (merge's _conform projects onto the
                # table schema) — and there is nothing to delete from a
                # table that does not exist. Fail fast: start ingest first.
                raise FileNotFoundError(
                    f"txlog_sink(mode='delete'): no TxTable at {path} — "
                    f"the retraction sink requires an existing table")
            # bootstrap an EMPTY table (one atomic commit) so batch 0 flows
            # through the same txn-stamped merge/append path as every other
            # batch; a concurrent bootstrap loses the version-1 race cleanly
            # (as FileExistsError from create's precheck, or ConflictError
            # from the version-1 put-if-absent race itself)
            try:
                table.create(batch_df.sparkSession.createDataFrame(
                    [], batch_df.schema), stats_cols=list(keys or [])[:1])
            except (FileExistsError, ConflictError):
                pass
        txn = {"app_id": app_id, "batch_id": batch_id}
        if mode == "delete":
            table.delete_matching(batch_df, keys, txn=txn)
            if (coalesce_refs_every
                    and batch_id % coalesce_refs_every
                    == coalesce_refs_every - 1):
                table.coalesce_dv()
        elif keys:
            # reserved stamp name — never clobber a user batch_id column
            stamped = batch_df.withColumn("__mb_batch", F.lit(batch_id + 1))
            table.merge_upsert(stamped, keys, order_col="__mb_batch", txn=txn)
        else:
            table.append(batch_df, txn=txn)

    if mode not in ("auto", "delete"):
        # fail at sink-build time: a typo ('Delete', 'retract') silently
        # falling through to the merge/append branch would merge-upsert the
        # key-only erasure frame and NULL every non-key column it matches
        raise ValueError(
            f"txlog_sink: unknown mode {mode!r} (expected 'auto' or 'delete')")
    if mode == "delete" and not keys:
        raise ValueError("txlog_sink(mode='delete') requires keys")
    if coalesce_refs_every and mode != "delete":
        raise ValueError(
            "txlog_sink: coalesce_refs_every only applies to mode='delete' "
            "(merge/append batches never add DV sidecars)")
    return (stream.writeStream
            .foreachBatch(commit_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update" if keys else "append"))


def stream_sessionize(events: DataFrame, key_cols: list[str], ts_col: str,
                      gap: str = "30 minutes",
                      watermark: str = "30 minutes") -> DataFrame:
    """Watermarked gap-based sessionization (streaming twin of the batch
    a13 query): ``session_window`` keeps per-key open sessions in the state
    store, merges them when a late event (within the watermark) bridges the
    gap, and finalizes a session once the watermark passes its end. Append
    mode therefore emits each session exactly once, post-merge — the
    guarantee the batch gap-islands formulation gets for free by seeing all
    rows. State per key is O(open sessions), bounded by the watermark.
    """
    return (events.withWatermark(ts_col, watermark)
            .groupBy(*key_cols, F.session_window(F.col(ts_col), gap))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min(ts_col).alias("first_ts"),
                 F.max(ts_col).alias("last_ts"))
            .withColumn("session_start", F.col("session_window.start"))
            .withColumn("session_end", F.col("session_window.end"))
            .drop("session_window"))


def stream_click_view_attribution(events: DataFrame,
                                  max_delay: str = "10 minutes",
                                  watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream inner join: each click joined to the views the same
    user produced within ``max_delay`` after it (event-time attribution).

    The canonical Structured Streaming two-stream join: both sides carry a
    watermark and the join condition bounds ``view_ts`` relative to
    ``click_ts`` in BOTH directions, so the state store can evict — a click
    older than watermark+delay can never match a future view and is
    dropped; unbounded conditions would accumulate state forever. At scale
    the join shuffles both streams on user_id once; state per key is the
    in-horizon rows only.

    Returns (user_id, click_id, click_ts, view_id, view_ts, lag_s); exact
    batch twin asserted in tests/test_streaming.py (same join expressed
    statically).
    """
    clicks = (events.where(F.col("event_type") == "click")
              .select("user_id",
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    views = (events.where(F.col("event_type") == "view")
             .select(F.col("user_id").alias("view_user_id"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", watermark))
    return (clicks.join(
                views,
                (F.col("user_id") == F.col("view_user_id"))
                & (F.col("view_ts") >= F.col("click_ts"))
                & (F.col("view_ts")
                   <= F.col("click_ts") + F.expr(f"INTERVAL {max_delay}")),
                "inner")
            .drop("view_user_id")
            .withColumn("lag_s",
                        F.col("view_ts").cast("double")
                        - F.col("click_ts").cast("double")))


def stream_running_stats(ticks: DataFrame, key_col: str, value_col: str,
                         out_schema: str | None = None) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key running
    (n, total, peak) maintained across micro-batches.

    The streaming form of the reference's incremental per-key accumulators —
    arbitrary state the built-in windowed aggs can't express (e.g. running
    peak for drawdown monitoring). State is a 3-tuple per key; each
    micro-batch emits the key's updated row (outputMode update).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = out_schema or f"{key_col} long, n long, total double, peak double"

    def update(key, pdfs, state: GroupState):
        n, total, peak = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += len(vals)
            total += float(vals.sum()) if len(vals) else 0.0
            if len(vals):
                peak = max(peak, float(vals.max()))
        state.update((n, total, peak))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total],
                            "peak": [peak]})

    return (ticks.groupBy(key_col)
            .applyInPandasWithState(update, schema,
                                    "n long, total double, peak double",
                                    "update", GroupStateTimeout.NoTimeout))


def stream_incremental_dedup(docs: DataFrame, index_path: str,
                             pairs_path: str, checkpoint: str,
                             text_col: str = "text", id_col: str = "doc_id",
                             num_hashes: int = 32,
                             bands: int = 8,
                             hasher: str = "xxhash64") -> DataStreamWriter:
    """Streaming near-dup detection against a persisted MinHash index — the
    arrival-time form of batch incremental dedup (operators.dedup.
    incremental_minhash_pairs): each micro-batch of new documents is banded
    ONCE, probes the index for candidate pairs touching the batch, then
    extends the index with its own rows. The corpus is never re-hashed; the
    index grows by exactly the increment.

    Exactly-once without a transaction log: both outputs land under a
    ``batch_id=N`` partition via dynamic partition overwrite
    (operators.upsert.overwrite_partitions), so a replayed batch rewrites
    its own partitions and nothing else; re-probing an index that already
    contains the batch's rows from a failed attempt yields the identical
    pair set (see incremental_pairs_from_banded). At scale, write the index
    bucketed by (band, bucket) so probes co-locate with index partitions —
    the probe's two-join form keeps the bucketed scan Exchange-free
    (proven by tests/test_dedup_methods.py
    test_incremental_probe_on_bucketed_index_no_index_shuffle).
    """
    from ..operators.dedup import (banded_signatures,
                                   incremental_pairs_from_banded,
                                   _perm_hash_md5, _perm_hash_xxhash64,
                                   _bucket_hash_md5, _bucket_hash_xxhash64)
    from ..operators.upsert import _exists, overwrite_partitions

    # 'md5' is the engine-portable twin form (exact-oracle evidence for the
    # streaming probe, see queries.stream_dedup_incremental_md5); production
    # stays on seeded xxhash64 (8-byte keys).
    perm, bkt = ((_perm_hash_md5, _bucket_hash_md5) if hasher == "md5"
                 else (_perm_hash_xxhash64, _bucket_hash_xxhash64))

    def probe_and_extend(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_banded = banded_signatures(
            batch_df, text_col, id_col, num_hashes, bands,
            perm, bkt).persist()
        try:
            # existence-branch, not read-exception branch: a transient read
            # error on a real index must propagate, never silently restart
            # the index from empty (same rule as operators.upsert)
            if _exists(spark, index_path):
                index = spark.read.parquet(index_path) \
                    .select(id_col, "sig", "band", "bucket")
            else:
                index = new_banded.limit(0)  # first batch: empty index
            pairs = incremental_pairs_from_banded(new_banded, index, id_col,
                                                  num_hashes=num_hashes)
            overwrite_partitions(
                pairs.withColumn("batch_id", F.lit(batch_id)),
                pairs_path, ["batch_id"])
            overwrite_partitions(
                new_banded.withColumn("batch_id", F.lit(batch_id)),
                index_path, ["batch_id"])
        finally:
            new_banded.unpersist()

    return (docs.writeStream
            .foreachBatch(probe_and_extend)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))


def stream_incremental_semdedup(emb: DataFrame, member_path: str,
                                pairs_path: str, checkpoint: str,
                                centroids, tau: float = 0.7,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                round_dp: int = 6) -> DataStreamWriter:
    """Streaming SemDeDup against a persisted cluster index — the
    arrival-time form of ``similarity.incremental_semdedup_pairs``: each
    micro-batch of new vectors assigns to the FIXED broadcast centroids
    (no drift under increments), probes the member table for semantic-dup
    pairs touching the batch (new×old + new×new per-cluster cogroup
    BLAS), then extends the member table with its own rows. Old-vs-old
    is never rescored; the index grows by exactly the increment.

    Exactly-once by the same mechanism as ``stream_incremental_dedup``:
    both outputs land under a ``batch_id=N`` partition via dynamic
    partition overwrite, so a replayed batch rewrites only itself, and
    re-probing a member table that already holds the batch's rows from a
    failed attempt yields the identical pair set (assignment is a pure
    function of the vector and the fixed centroids). At scale the member
    table is written bucketed by ``cluster`` so probes co-locate.

    Raises ValueError on an empty centroid matrix at CONSTRUCTION time:
    the batch twin returns an empty pair frame there (a one-shot bootstrap
    probe), but a stream started against no index would silently discard
    every arrival forever — fail fast instead. Null/empty/zero-norm
    vectors are dropped at the batch boundary (``_normalized_vecs``): a
    zero vector would normalize to an all-NULL array and persist as a
    NaN row in the member index that can never match.
    """
    from ..operators.similarity import (_assign_to_centroids,
                                        _incremental_pairs_from_members,
                                        _normalized_vecs)
    from ..operators.upsert import _exists, overwrite_partitions

    if getattr(centroids, "size", 0) == 0:
        raise ValueError(
            "stream_incremental_semdedup needs a non-empty centroid index "
            "(build one with semdedup_index first): every micro-batch "
            "would fail assignment, or worse, drop arrivals silently")

    def probe_and_extend(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_m = _assign_to_centroids(
            _normalized_vecs(batch_df, id_col, vec_col),
            centroids, round_dp).persist()
        try:
            # existence-branch, not read-exception branch (upsert rule):
            # transient index read errors must propagate, never silently
            # restart the member table from empty
            if _exists(spark, member_path):
                # probe STRICTLY earlier batches: a replayed batch N whose
                # member partition was already written must not see its
                # own rows as "old" (self-pairs + duplicated in-batch
                # pairs) — batch_id partition pruning makes this a free
                # filter and the replay output byte-identical
                member = (spark.read.parquet(member_path)
                          .where(F.col("batch_id") < F.lit(batch_id))
                          .select("id", "cluster", "nv"))
            else:
                # first batch: an INDEPENDENT empty frame, never
                # new_m.limit(0) — a cogroup whose two sides share
                # lineage hits Spark's conflicting-attribute dedup,
                # which mangles the right child's projection to the
                # grouping key alone (observed: Project [cluster,
                # cluster] and a KeyError('id') in the kernel)
                member = spark.createDataFrame(
                    [], "id long, cluster long, nv array<double>")
            pairs = _incremental_pairs_from_members(member, new_m,
                                                    tau, round_dp)
            overwrite_partitions(
                pairs.withColumn("batch_id", F.lit(batch_id)),
                pairs_path, ["batch_id"])
            overwrite_partitions(
                new_m.withColumn("batch_id", F.lit(batch_id)),
                member_path, ["batch_id"])
        finally:
            new_m.unpersist()

    return (emb.writeStream
            .foreachBatch(probe_and_extend)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))


def stream_incremental_pq_index(emb: DataFrame, codes_path: str,
                                checkpoint: str, codebook,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> DataStreamWriter:
    """Streaming PQ-ANN index maintenance against a FIXED codebook — the
    arrival-time form of ``similarity.pq_encode`` and the last ANN family
    member to get an operational increment path (minhash: stream_
    incremental_dedup; SemDeDup: stream_incremental_semdedup): each
    micro-batch of new vectors is encoded in one Arrow pass against the
    broadcast codebook and appended to the codes table under a
    ``batch_id=N`` partition. Old vectors are never re-encoded; the index
    grows by exactly m_sub bytes per arrival — at 100 TB the raw vectors
    stream through once and only the 8-byte codes land in the index, so
    an ADC scan (``pq_topk``) over the accumulated table is identical to
    a scan over a full-corpus encode (pinned stream ≡ batch by test).

    Exactly-once by the same mechanism as the other incremental streams:
    dynamic partition overwrite means a replayed batch rewrites only its
    own partition, and encoding is a pure function of (vector, fixed
    codebook), so replays are byte-identical (pinned by test). Null or
    empty vectors are dropped at the batch boundary; zero-norm vectors
    pass through and take pq_encode's deterministic zero-point code
    (smallest-norm centroid per subspace — see pq_encode's docstring),
    never NaN-derived garbage.
    """
    from ..operators.similarity import pq_encode
    from ..operators.upsert import overwrite_partitions

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.where(F.col(vec_col).isNotNull()
                                  & (F.size(vec_col) > 0))
        codes = pq_encode(batch_df, codebook, id_col, vec_col)
        overwrite_partitions(
            codes.withColumn("batch_id", F.lit(batch_id)),
            codes_path, ["batch_id"])

    return (emb.writeStream
            .foreachBatch(encode_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))
