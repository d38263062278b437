"""§2.7 — Structured Streaming mirror of the batch semantics.

The reference is a cron-driven batch job; each run appends a
timestamped snapshot (``index.js:336``). The streaming equivalent: the
price feed is an append stream keyed by Id with event time, W1 becomes
stateful latest-per-key, and the run metrics become windowed counts
with a watermark for late data.

These run under ``trigger(availableNow=True)`` in tests (bounded file
source) and unchanged against Kafka/object-store streams in production.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout


def read_event_stream(spark, path: str, schema) -> DataFrame:
    """File-based append stream of event rows (one parquet dir; in prod
    a Kafka topic or autoloader-style object-store listing)."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_counts(stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts + avg with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def latest_per_key_stream(stream: DataFrame) -> DataFrame:
    """Stateful latest-value-per-key (streaming W1) via
    applyInPandasWithState: state = the max-ts row seen per user_id;
    each trigger emits the updated latest row for keys that changed."""
    import pandas as pd

    out_schema = "user_id bigint, ts timestamp, event_type string, value double"
    state_schema = "ts timestamp, event_type string, value double"

    def _update(key, pdfs, state):
        latest = state.get if state.exists else None
        ts, et, val = latest if latest else (None, None, None)
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            last = pdf.iloc[-1]
            if ts is None or last["ts"] > ts:
                ts, et, val = last["ts"], last["event_type"], last["value"]
        state.update((ts, et, val))
        yield pd.DataFrame(
            {"user_id": [key[0]], "ts": [ts], "event_type": [et], "value": [val]}
        )

    return (
        stream.withWatermark("ts", "1 day")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def run_microbatch_etl(
    stream: DataFrame,
    dim_src: DataFrame,
    dim_path: str,
    fact_path: str,
    checkpoint: str,
):
    """§2.7 — the full reference pipeline as a stream: each micro-batch
    is one "cron run" (index.js:29-60). foreachBatch applies the batch
    sinks — insert-if-absent dim upsert + run-stamped fact append — so
    the exact S4/S5 semantics (and their tests) are reused unchanged;
    checkpointing makes each batch effectively exactly-once.
    """
    from pyspark.sql import functions as F

    from etl_fuel_priceguide_ec2_spark import sinks

    def _one_run(batch_df: DataFrame, batch_id: int) -> None:
        # persist once: this body reads the batch 3-4 times (isEmpty,
        # the fact write incl. the max-ts aggregate, the distinct-keys
        # dim path) and each action would otherwise re-read the source
        # (code-review r16)
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # run_ts = the batch's max event time, attached via a
            # broadcast cross join with the 1-row aggregate — stays
            # inside the plan (no driver-side collect in the per-batch
            # hot path). The run IDENTITY additionally carries the
            # batch id (code-review r16): max event time alone is not
            # unique per batch — a later batch holding only late or
            # duplicate events can share an earlier batch's max ts, and
            # the dynamic partition overwrite would then DELETE the
            # earlier batch's fact rows. batch_id is replay-stable, so
            # a replayed batch still overwrites exactly its own
            # partition (idempotent), while distinct batches never
            # collide.
            run = batch_df.agg(F.max("ts").alias("run_ts"))
            snapshot = batch_df.select(
                F.col("user_id").alias("Id"),
                F.col("value").alias("price"),
                F.col("event_type").alias("fuel_type"),
            ).crossJoin(F.broadcast(run))
            sinks.append_fact(snapshot, fact_path, run_id_suffix=f"-b{batch_id}")
            keys = batch_df.select(F.col("user_id").alias("Id")).distinct()
            src = keys.join(dim_src, "Id", "inner")
            sinks.upsert_dim(src, dim_path, key="Id")
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(_one_run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(stream: DataFrame, keys: list[str], watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup (X1's streaming mirror): exactly one
    surviving row per key over the stream's whole life.

    State caveat (code-review r16): ``dropDuplicates`` state is only
    watermark-evicted when the event-time column is PART of ``keys`` —
    with plain keys (the common call), the watermark bounds nothing
    and state holds every distinct key forever. That is the right
    trade only for BOUNDED key spaces (entity ids, dimension keys);
    for unbounded per-event keys use
    :func:`dedup_stream_within_watermark`, which expires each key at
    the horizon (and may therefore keep both of two duplicates farther
    apart than the watermark)."""
    return stream.withWatermark("ts", watermark).dropDuplicates(keys)


def dedup_stream_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "1 day"
) -> DataFrame:
    """State-BOUNDED streaming dedup: ``dropDuplicatesWithinWatermark``
    expires each key's dedup state once the watermark passes its event
    time, unlike ``dropDuplicates`` whose state grows with every
    distinct key forever. The only viable form when the key space is
    unbounded (per-event ids at 100 TB/day) and replays arrive within a
    bounded lateness horizon — the at-least-once-delivery dedup
    pattern. Duplicates farther apart than the watermark may BOTH
    survive (the documented trade for bounded state)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    purchases: DataFrame, views: DataFrame, join_window: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase pairs with the same
    user's view events from the preceding ``join_window`` (attribution
    join). Both sides are watermarked so state is bounded — the join
    condition's time band tells Spark exactly when to evict."""
    p = purchases.withWatermark("ts", "2 hours").alias("p")
    v = views.withWatermark("ts", "2 hours").alias("v")
    return p.join(
        v,
        F.expr(
            f"""
            p.user_id = v.user_id AND
            v.ts <= p.ts AND
            v.ts >= p.ts - INTERVAL {join_window}
            """
        ),
        "inner",
    ).select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("v.ts").alias("view_ts"),
        F.col("p.value").alias("purchase_value"),
    )


def running_stats_stream(stream: DataFrame) -> DataFrame:
    """Per-key running aggregate via Spark 4's transformWithStateInPandas
    (the StatefulProcessor API, successor to applyInPandasWithState):
    ValueState holds (n, total, max) per user_id, updated per
    micro-batch from Arrow-batched pandas input. Requires the RocksDB
    state store provider — the production choice anyway at scale
    (incremental checkpointing, state larger than heap, changelog
    uploads), which local tests enable via conf.

    Reference parity note: this is the streaming generalization of the
    reference's run-over-run accumulation (each ETL run appends one
    snapshot, index.js:178-200); here each micro-batch folds into
    bounded per-key state instead of an unbounded append scan.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    class _RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("n", LongType()),
                    StructField("total", DoubleType()),
                    StructField("vmax", DoubleType()),
                ]
            )
            self._state = handle.getValueState("stats", schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, total, vmax = self._state.get()
            else:
                n, total, vmax = 0, 0.0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                vmax = max(vmax, float(pdf["value"].max()))
            self._state.update((n, total, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "max_value": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningStats(),
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE, max_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


def session_window_counts(
    stream: DataFrame, gap: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming SESSION windows (dynamic-gap merging, the streaming
    form of the batch ``session_window_agg`` query): per-user sessions
    close ``gap`` after their last event; the watermark bounds how long
    an open session's state is retained before it can be finalized and
    emitted. State size is O(open sessions), not O(events) — Spark
    merges events into session state incrementally, which is what makes
    sessionization feasible on an unbounded 100 TB/day feed where the
    batch lag+cumsum construction (one sort of ALL history per run)
    cannot be."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


def hll_register_stream(
    stream: DataFrame,
    key_col: str,
    registers_path: str,
    checkpoint: str,
    b: int = 8,
):
    """Streaming cardinality: each micro-batch sketches its rows into
    an HLL register table (``sketches.hll_registers``) and APPENDS it
    to a register store; the estimate at any time is
    ``hll_estimate(hll_merge(read(registers_path)))``. Because the
    merge is a per-bucket MAX — associative AND idempotent — appended
    per-batch registers fold to exactly the registers of the full
    history: the streaming estimate is bit-identical to a batch sketch
    over everything seen (pinned by test). No stateful-operator state
    store is needed at all; replayed batches (at-least-once delivery)
    cannot change the answer. At 100 TB the store is 2^b rows per
    batch, compacted by rewriting with ``hll_merge`` whenever file
    count grows."""
    from etl_fuel_priceguide_ec2_spark.operators import sketches

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            sketches.hll_registers(batch_df, key_col, b=b)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(registers_path)
        )

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def kmv_sketch_stream(
    stream: DataFrame,
    key_col: str,
    sketch_path: str,
    checkpoint: str,
    k: int = 256,
):
    """Streaming KMV set sketch (the hll_register_stream symmetry):
    each micro-batch keeps its k smallest distinct key hashes
    (``sketches.kmv_sketch``) and APPENDS them to a value store; the
    sketch at any time is ``kmv_merge(read(sketch_path), k)``. The
    merge (distinct + global min-k) is associative and idempotent, so
    appended per-batch sketches fold to exactly the sketch of the full
    history — bit-identical to batch, invariant under at-least-once
    replay (pinned by test). Per-segment streams each keep such a
    store; intersection / jaccard / difference questions then run on
    state alone via ``kmv_intersection_report``'s algebra. At 100 TB
    the store grows k rows per batch, compacted by rewriting with
    ``kmv_merge`` whenever file count grows."""
    from etl_fuel_priceguide_ec2_spark.operators import sketches

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            sketches.kmv_sketch(batch_df, key_col, k=k)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(sketch_path)
        )

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dd_register_stream(
    stream: DataFrame,
    value_col: str,
    registers_path: str,
    checkpoint: str,
):
    """Streaming quantiles: each micro-batch bins its rows into a
    DDSketch register table (``sketches.dd_registers``) and APPENDS it
    to a register store; the quantile at any time is
    ``dd_estimate(dd_merge(read(registers_path)))``. Per-bin SUM is
    associative, so appended per-batch bins fold to exactly the bins
    of the full history — the streaming estimate is bit-identical to a
    batch sketch over everything seen (pinned by test). NOT replay-
    idempotent (sums double under at-least-once delivery, unlike the
    HLL max / KMV min-k) — the `_batch` column exists so a compaction
    or reader can drop duplicate batch ids first, which restores
    exactly-once semantics from the store itself."""
    from etl_fuel_priceguide_ec2_spark.operators import sketches

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            sketches.dd_registers(batch_df, value_col)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(registers_path)
        )

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_dedup_stream(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    store_dir: str,
    checkpoint: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
):
    """Streaming corpus dedup over a persisted LSH state store — the
    production form of ``minhash_lsh_pairs_incremental``: every
    micro-batch (an ingest slice) mines verified near-dup pairs
    between ITS docs and everything seen so far, then appends its own
    band buckets + hashed shingle sets to the store. History is never
    re-mined and never re-tokenized: each batch reads only the state
    relations off parquet. The union of all batches' pairs equals the
    from-scratch batch relation over the full corpus (pinned by test —
    the incremental reconstruction property, applied per batch).

    At-least-once caveat: a replayed batch re-appends state and pairs;
    both relations dedupe exactly on their natural keys
    ((doc, band_id) / id / (id_a, id_b)) — read with dropDuplicates,
    or compact the store periodically."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    bands_path = f"{store_dir}/bands"
    sets_path = f"{store_dir}/sets"
    pairs_path = f"{store_dir}/pairs"

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        bands_new = dedup.lsh_band_buckets(
            batch_df, id_col, text_col, n, num_hashes, bands
        ).localCheckpoint(eager=True)
        sets_new = dedup.hashed_shingle_sets(
            batch_df, id_col, text_col, n
        ).localCheckpoint(eager=True)
        try:
            bands_hist = spark.read.parquet(bands_path)
            sets_hist = spark.read.parquet(sets_path)
        except AnalysisException:  # first batch: store path not yet created
            # ONLY path-not-found/analysis failures mean "first batch";
            # a transient executor/IO error must fail the micro-batch
            # (and be retried by the engine) rather than silently mine
            # the new slice against an empty history (ADVICE r08).
            bands_all, sets_all = bands_new, sets_new
        else:
            # union OUTSIDE the try: a schema-drift AnalysisException
            # from unionByName must fail loudly, not be mistaken for
            # "first batch" and silently discard the history
            # (code-review r13)
            bands_all = bands_hist.unionByName(bands_new)
            sets_all = sets_hist.unionByName(sets_new)
        pairs = dedup.lsh_pairs_from_state(
            bands_new, bands_all, sets_all, id_col, threshold
        )
        pairs.withColumn("_batch", F.lit(batch_id)).write.mode("append").parquet(
            pairs_path
        )
        bands_new.write.mode("append").parquet(bands_path)
        sets_new.write.mode("append").parquet(sets_path)

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def exact_substring_stream(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    store_dir: str,
    checkpoint: str,
    k: int = 8,
    min_span_tokens: int = 30,
    max_gram_freq: int | None = 64,
):
    """Streaming exact-substring dedup over a persisted positional-gram
    store — the micro-batch form of
    ``exact_substring_spans_incremental``: every batch mines the
    maximal shared spans between ITS docs and everything seen so far
    (new x all, never history x history), appends them, then appends
    its own gram state. History is never re-tokenized: each batch reads
    only the (id, pos, hash) state off parquet. With no frequency cap,
    the union of all batches' spans equals the from-scratch relation
    over the full corpus (pinned by test); with a cap, each batch
    applies it over the union-so-far — a gram crossing the cap in a
    later batch does not retro-drop earlier spans (the incremental
    miner's documented caveat).

    At-least-once caveat: a replayed batch re-appends state and spans;
    spans dedupe on their full row — read them with dropDuplicates, or
    compact the store periodically. The gram store is dedup'd on
    (id, pos) at EVERY history read below, not just by external
    readers (code-review r16): unlike the LSH/perceptual stores, where
    duplicated state rows only yield duplicate (removable) pair rows,
    duplicated grams change VALUES — per-gram frequencies double
    (spuriously crossing ``max_gram_freq``, silently dropping real
    spans) and duplicated match rows fragment the run-length diagonal
    grouping (long spans split into sub-``min_span_tokens`` pieces).
    """
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    grams_path = f"{store_dir}/grams"
    spans_path = f"{store_dir}/spans"

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        grams_new = dedup.positional_gram_state(
            batch_df, id_col, text_col, k
        ).localCheckpoint(eager=True)
        try:
            grams_hist = spark.read.parquet(grams_path)
        except AnalysisException:  # first batch: store path not yet created
            # Same contract as the LSH store above: real IO errors
            # propagate and fail the micro-batch instead of dropping
            # every historical span for the slice (ADVICE r08).
            grams_hist = grams_new.limit(0)
        else:
            # replay armor, applied OUTSIDE the try (a missing-column
            # schema drift must fail loudly, not read as "first
            # batch" — the r13 union-outside-the-try lesson)
            grams_hist = grams_hist.dropDuplicates([id_col, "pos"])
        spans = dedup.exact_substring_spans_incremental(
            grams_hist, grams_new, k, min_span_tokens, max_gram_freq
        )
        spans.withColumn("_batch", F.lit(batch_id)).write.mode("append").parquet(
            spans_path
        )
        grams_new.write.mode("append").parquet(grams_path)

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def embedding_moment_stream(
    stream: DataFrame,
    id_col: str,
    vec_col: str,
    sij_path: str,
    si_path: str,
    checkpoint: str,
    store_id: str | None = None,
):
    """Streaming embedding statistics: each micro-batch aggregates its
    vectors into the DECIMAL moment state (``embeddings.
    embedding_second_moment_state`` / ``_first_moment_state``,
    d(d+1)/2 + d rows per batch) and APPENDS it to the two state
    stores; the covariance at any time is
    ``embedding_covariance_from_state(read(sij), read(si))`` —
    bit-identical to a batch covariance over everything seen, because
    decimal sums are associative (pinned by test). Unlike the HLL
    register store (idempotent MAX), SUM state is NOT replay-proof:
    the ``_batch`` column makes at-least-once replays detectable (and
    removable) by batch id — the standard transactional-append caveat
    every SUM-based streaming store carries. At 100 TB the store grows
    ~2 k tiny rows per batch; compact by re-aggregating with
    groupBy-SUM whenever file count grows.

    ``store_id``: _batch ids are only unique WITHIN one stream, so
    states from TWO independent streams unioned into one merge would
    collide on (_batch, dim key) and the replay dedupe would silently
    drop real rows (ADVICE r11). Pass a distinct ``store_id`` per
    stream to stamp a ``_store`` column that namespaces the replay key
    at merge time (``embedding_covariance_from_state`` picks it up
    automatically); single-store pipelines can omit it."""
    from etl_fuel_priceguide_ec2_spark.operators import embeddings

    def _stamp(state: DataFrame, batch_id: int) -> DataFrame:
        state = state.withColumn("_batch", F.lit(batch_id))
        if store_id is not None:
            state = state.withColumn("_store", F.lit(store_id))
        return state

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            _stamp(
                embeddings.embedding_second_moment_state(batch_df, id_col, vec_col),
                batch_id,
            )
            .write.mode("append")
            .parquet(sij_path)
        )
        (
            _stamp(
                embeddings.embedding_first_moment_state(batch_df, id_col, vec_col),
                batch_id,
            )
            .write.mode("append")
            .parquet(si_path)
        )

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def training_export_stage_stream(
    stream: DataFrame,
    id_col: str,
    n_shards: int,
    staged_path: str,
    checkpoint: str,
    seed: str = "",
):
    """Streaming half of the training-export sharder
    (``operators/export.py``): each micro-batch of curated documents
    gets the deterministic (shard, __h) keys — PURE per-row map work,
    so it runs inside the micro-batch with no state — and APPENDS to
    the staged store with a ``_batch`` column. Positions are
    deliberately NOT assigned here: dense in-shard positions need the
    global rank, but the total order (shard, __h, id) is
    append-stable, so ``finalize_training_export`` over the
    accumulated store yields BIT-identical (shard, shard_pos)
    assignments to a batch ``shard_positions`` over the same rows
    (pinned by test) — batch boundaries are invisible, exactly the
    moment-state argument. Replay safety: at-least-once foreachBatch
    redelivery duplicates whole batches; a batch writes each id at
    most once, so the finalizer dedupes on (_batch, id) exactly.

    Reference parity: the streaming form of the reference's
    incremental load loop (``index.js:63-79,153-168`` — compare the
    arriving slice against persisted state, write only what the slice
    adds), re-expressed for training-data scale."""
    from etl_fuel_priceguide_ec2_spark.operators import export as _export

    if n_shards < 1:
        # fail BEFORE the stream starts — inside foreachBatch this
        # would surface as an opaque first-micro-batch query failure
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            _export.with_shard_keys(batch_df, id_col, n_shards, seed)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(staged_path)
        )

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def finalize_training_export(spark, staged_path: str, id_col: str) -> DataFrame:
    """Assign dense in-shard positions over everything the stage
    stream accumulated: read the staged store, strip replayed batches
    (dropDuplicates on (_batch, id) — SUM-free, so unlike the moment
    stores a replay can only duplicate rows, never skew values), and
    run the SAME global-rank position assignment the batch sharder
    uses. Equal to ``shard_positions`` over the union of all staged
    micro-batches, regardless of how the stream was chopped.

    The (_batch, id) dedupe strips WHOLE-BATCH replays only; the same
    id delivered in two DIFFERENT micro-batches (a duplicate at the
    source) survives it, shares h, and would silently tie-break the
    strict-total-order contract positions rely on — so finalize pays
    one cheap count-vs-count-distinct aggregate and raises instead
    (``export.assert_unique_ids``). Source duplicates are an upstream
    contract violation (the stage stream's input is a curated
    keep-list), not something finalize may pick a winner for."""
    from etl_fuel_priceguide_ec2_spark.operators import export as _export

    staged = spark.read.parquet(staged_path)
    staged = staged.dropDuplicates(["_batch", id_col]).drop("_batch")
    staged = _export.assert_unique_ids(staged, id_col)
    return _export.positions_from_staged(staged, id_col)


def perceptual_dedup_stream(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    hasher,
    max_hamming: int = 3,
):
    """Streaming perceptual near-dup mining over a persisted band-state
    store — the media-ingest form of ``incremental_dedup_stream``, and
    the streaming consumer of the polymorphic four-band relation:
    ``hasher`` maps a media micro-batch (doc_id, payload, ...) to its
    (doc_id, b0..b3) bands — ``multimodal.image_ahash``,
    ``image_phash``, or ``audio_fingerprint`` interchangeably — so ONE
    stream shape serves all three hash families.

    Per micro-batch: decode+hash the new payloads ONCE (Arrow batches,
    4 longs per item downstream), mine pairs between the new slice and
    everything seen so far via the band-state miner (history x history
    never re-forms, payloads never re-decode), append pairs and the
    new bands to the store. Union of all batches' pairs equals the
    from-scratch relation over the full corpus with no pair mined
    twice (pinned by test).

    At-least-once caveat: a replayed batch re-appends bands and pairs;
    both relations dedupe exactly on their natural keys (doc_id /
    (id_a, id_b)) — read with dropDuplicates, or compact the store
    periodically."""
    from etl_fuel_priceguide_ec2_spark.operators import multimodal

    if max_hamming >= 4:
        # validate BEFORE the stream starts (the training_export_stage
        # pattern): inside foreachBatch this surfaces as an opaque
        # first-micro-batch StreamingQueryException (code-review r16)
        raise ValueError(
            "band blocking guarantees recall only for max_hamming <= 3"
        )

    bands_path = f"{store_dir}/bands"
    pairs_path = f"{store_dir}/pairs"

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        bands_new = hasher(batch_df).localCheckpoint(eager=True)
        try:
            bands_hist = spark.read.parquet(bands_path)
        except AnalysisException:  # first batch: store path not yet created
            # ONLY path-not-found/analysis failures mean "first batch";
            # a transient IO error must fail (and retry) the micro-batch
            # rather than silently mine against an empty history.
            bands_all = bands_new
        else:
            # union OUTSIDE the try: a hasher schema drift must fail
            # loudly, not read as "first batch" and drop the history
            bands_all = bands_hist.unionByName(bands_new)
        pairs = multimodal.image_ahash_pairs_from_state(
            bands_new, bands_all, max_hamming=max_hamming
        )
        pairs.withColumn("_batch", F.lit(batch_id)).write.mode("append").parquet(
            pairs_path
        )
        bands_new.write.mode("append").parquet(bands_path)

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ann_query_stream(
    stream: DataFrame,
    codes_path: str,
    corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str,
    vec_col: str,
    centroids: list,
    pq_codebooks: list,
    k: int = 5,
    nprobe: int = 2,
    rerank_m: int | None = None,
    residual: bool = False,
    prune_cells: bool = True,
):
    """Streaming ANN over the persisted PQ-codes store — the similarity
    ladder's micro-batch mirror (VERDICT r13 item 4), completing the
    streaming symmetry the dedup/export/moments/perceptual families
    already have: QUERY vectors arrive as a stream; the INDEX is the
    ``pq_encode`` relation persisted once at ingest (read back off
    parquet, 8-byte codes — never re-encoded per batch).

    Per micro-batch: run ``topk_ivf_pq(codes=stored)`` for the batch's
    queries against the code store + the full-precision corpus (rerank
    only), append (query_id, neighbor_id, rank, score) to ``out_path``.
    Each query's result depends only on the store — never on other
    queries — so the union over micro-batches equals the batch search
    over the full query set BIT-FOR-BIT however the stream is chopped
    (pinned by test for raw AND residual codes).

    At-least-once caveat: a replayed batch re-appends its result rows
    verbatim (each query's result is a pure function of the store, so
    a replay can only duplicate rows, never change values); read the
    result relation with a full-row ``dropDuplicates()`` — the pinned
    recovery recipe (test_streaming_ann_replay_recovery_recipe). Note
    the full row includes ``_batch``: a query id legitimately
    RE-submitted in a later batch keeps both results under this
    recipe; dedupe on (query_id, neighbor_id, rank) instead only if
    re-submissions should collapse (ADVICE r14).

    100 TB shape: the code store is the corpus at 64x compression,
    written ``partitionBy("cell")``; with ``prune_cells`` (default)
    each trigger collects the batch's probed cells (bounded by the
    coarse-cell count) and pushes a static IN filter into the store
    scan, so the read prunes to ~nprobe/cells at the PARTITION level
    (plan-pinned — the scan never depends on runtime DPP). The trigger
    then broadcasts only the micro-batch's ADC tables. The rerank is
    NOT per-query yet: it joins the rerank_m candidates per query
    against the WHOLE full-vector ``corpus`` relation (AQE broadcasts
    it when small), so each trigger pays a corpus-sized read; a
    cell-partitioned vector store the rerank could prune like the code
    store is open (docs/SCALE.md, "Streaming ANN"). Pruning cannot
    change results: the rung's candidate join is an equi-join on cell
    (equality pinned by the union==batch test)."""
    from etl_fuel_priceguide_ec2_spark.operators import similarity

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        codes = spark.read.parquet(codes_path)
        if prune_cells:
            codes = similarity.prune_codes_to_probed_cells(
                codes, batch_df, id_col, vec_col, centroids, nprobe
            )
        out = similarity.topk_ivf_pq(
            corpus,
            batch_df,
            id_col,
            vec_col,
            k=k,
            nprobe=nprobe,
            rerank_m=rerank_m,
            m=len(pq_codebooks),
            ks=len(pq_codebooks[0]),
            centroids=centroids,
            pq_codebooks=pq_codebooks,
            codes=codes,
            residual=residual,
        )
        out.withColumn("_batch", F.lit(batch_id)).write.mode("append").parquet(
            out_path
        )

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
