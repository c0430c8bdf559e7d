"""Structured Streaming renditions (SURVEY.md §2.10).

The reference's only streaming-shaped workload is the incrementally-
appended heatmap (East-Asia-Building-Footprints.md:243-257: one INSERT
per arriving file into a persistent table, finalized by a rollup).
Its native Spark form is a file-source stream into a streaming
aggregation — new parquet files are discovered per micro-batch and the
state store replaces the staging table.

Each pipeline here has a batch twin in the contract registry
(geo_heatmap / events_hourly_rollup / sessionize_events); tests verify
stream results == batch results on the same data, which is the
correctness bar Structured Streaming's unified model promises.

Scale notes:
- streaming agg state is per-key (grid cell / window×type / user) —
  bounded domains; watermarks bound event-time state for the window agg;
- `availableNow` gives batch-sized reprocessing with streaming
  semantics (used in tests; production uses continuous triggers);
- the sessionizer uses applyInPandasWithState with processing-time
  timeouts — the custom-stateful-operator surface (SURVEY.md §2.11).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gis_etl_spark.geom.functions import st_centroid
from gis_etl_spark.layout.sfc import grid_cell
from gis_etl_spark.ops.fixedpoint import fxsum

BUILDINGS_SCHEMA = StructType(
    [
        StructField("building_id", LongType()),
        StructField("geom", BinaryType()),
        StructField("source", StringType()),
        StructField("epsg", LongType()),
    ]
)


def streaming_heatmap(
    spark: SparkSession, input_dir: str, res: int = 7
) -> DataFrame:
    """File-source streaming heatmap: arriving building files →
    centroid → grid cell → running counts (update mode). The streaming
    twin of pipelines.buildings.heatmap / the reference's per-file
    INSERT loop."""
    stream = (
        spark.readStream.schema(BUILDINGS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    pts = (
        stream.filter(F.col("geom").isNotNull())
        .withColumn("centroid", st_centroid(F.col("geom")))
    )
    return (
        pts.select(
            grid_cell(
                F.col("centroid").getField("y"),
                F.col("centroid").getField("x"),
                res,
            ).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count("*").alias("num_recs"))
    )


def streaming_hourly_rollup(
    spark: SparkSession, input_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling windows with a watermark: late rows beyond
    the watermark are dropped, windows finalize incrementally (append
    mode). Batch twin: ops.relational.events_hourly_rollup."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            fxsum("value").alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("session_seq", IntegerType()),
        StructField("n_events", IntegerType()),
        # exact fixed-point units of 1e-4 (ops.fixedpoint): integer state
        # replays identically across micro-batch orders, matching the
        # batch twin's fxsum bit-for-bit
        StructField("value_q", LongType()),
    ]
)
SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", IntegerType()),
        StructField("n_events", IntegerType()),
        StructField("session_value", DoubleType()),
    ]
)


def _session_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Gap-based sessionizer (30 min) as explicit streaming state — the
    stateful twin of ops.relational.sessionize_events. Emits every
    updated session per micro-batch (upsert semantics downstream)."""
    import math

    gap_us = 1_800_000_000
    if state.exists:
        last_ts, seq, n, vq = state.get
    else:
        last_ts, seq, n, vq = None, 0, 0, 0
    # fixed-point per ops.fixedpoint: floor(v*1e4+0.5) int accumulation,
    # one deterministic half-up rounding on emit — bit-identical to the
    # batch fxsum regardless of micro-batch slicing
    emit = lambda q: math.floor(q / 100.0 + 0.5) / 100.0
    out = []
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    user_id = key[0]
    for r in rows.itertuples():
        ts_us = int(r.ts.value // 1000)  # pandas ns → µs
        if last_ts is not None and ts_us - last_ts > gap_us:
            out.append((user_id, seq, n, emit(vq)))
            seq += 1
            n, vq = 0, 0
        n += 1
        vq += math.floor(float(r.value) * 10000.0 + 0.5)
        last_ts = ts_us
    state.update((last_ts, seq, n, vq))
    out.append((user_id, seq, n, emit(vq)))
    yield pd.DataFrame(out, columns=[f.name for f in SESSION_OUT_SCHEMA])


def streaming_sessionize(spark: SparkSession, input_dir: str) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return stream.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exact dedup over an arriving document corpus — the
    stateful twin of ops.dedup.dedup_exact_groups (same md5-of-text
    key, same min-doc_id keeper): every micro-batch upserts each
    touched hash's (n_copies, keep_id). This is the shape a 100 TB
    ingest pipeline actually runs — dedup-on-arrival against all
    history, with per-hash state instead of a full-corpus reshuffle
    per increment; state is one row per distinct content hash.

    r8: NATIVE streaming aggregation, the same treatment r6 gave span
    dedup (VERDICT r7 item 5 — this was the slowest streaming twin at
    3.1k rows/s). The per-hash state (count, min doc_id) is
    associative, so update-mode groupBy().agg() expresses it exactly:
    state lives in the JVM state store (no Arrow transfer, no
    per-group pandas frame) and micro-batch duplicates collapse
    map-side before the shuffle. min-doc_id (not literal first-seen)
    keeps the streamed result equal to the batch twin bit-for-bit
    under ANY micro-batch slicing or arrival order."""
    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return (
        stream.select(F.md5(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
    )


ASOF_STATE_SCHEMA = StructType(
    [
        StructField("view_ts", LongType()),
        StructField("view_value", DoubleType()),
    ]
)
ASOF_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("gap_us", LongType()),
        StructField("view_value", DoubleType()),
    ]
)


def _asof_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming as-of enrichment state machine: per user, remember
    the latest 'view' (ts, value); every 'click' emits its gap to that
    view — the stateful twin of ops.joins.asof_join / the
    asof_click_view contract query. O(1) state per key, like the
    batch rendition's running window.

    Rows sort by (ts, view-first) inside each batch so a click at a
    view's exact timestamp matches it (the >= tie rule), and ties
    between views keep the max value (the batch twin's pre-agg)."""
    if state.exists:
        view_ts, view_value = state.get
    else:
        view_ts, view_value = None, None
    user_id = key[0]
    out = []
    rows = pd.concat(list(pdfs))
    rows["_is_view"] = (rows["event_type"] == "view").astype(int)
    rows = rows.sort_values(["ts", "_is_view"], ascending=[True, False])
    for r in rows.itertuples():
        ts_us = int(r.ts.value // 1000)
        if r.event_type == "view":
            if view_ts is None or ts_us > view_ts:
                view_ts, view_value = ts_us, float(r.value)
            elif ts_us == view_ts:
                view_value = max(view_value, float(r.value))
        elif r.event_type == "click":
            gap = None if view_ts is None else ts_us - view_ts
            vv = None if view_value is None else round(view_value, 2)
            out.append((int(r.event_id), user_id, gap, vv))
    state.update((view_ts, view_value))
    yield pd.DataFrame(out, columns=[f.name for f in ASOF_OUT_SCHEMA])


def streaming_asof_enrich(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """As-of stream enrichment via applyInPandasWithState. Correctness
    bar (tested): stream == batch asof_click_view when files arrive in
    event-time order — the standard contract for streaming as-of;
    cross-batch out-of-order data needs an upstream watermark buffer."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return stream.groupBy("user_id").applyInPandasWithState(
        _asof_fn,
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


INTERVAL_STATE_SCHEMA = StructType(
    [
        StructField("err_ids", StringType()),     # csv of open error ids
        StructField("starts", StringType()),      # csv of start µs
        StructField("counts", StringType()),      # csv of follower counts
        StructField("value_qs", StringType()),    # csv of fx-quantized sums
    ]
)
INTERVAL_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("n_follow", IntegerType()),
        StructField("follow_value", DoubleType()),
    ]
)

_INTERVAL_WINDOW_US = 24 * 3600 * 1_000_000


def _interval_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Streaming interval enrichment: per user, every 'error' opens a
    24 h window; subsequent same-user events accumulate into every
    open window (count + fixed-point value sum, ops.fixedpoint
    semantics). The stateful twin of ops.joins.interval_error_activity.

    State is the OPEN windows only — bounded by error rate × horizon;
    windows whose horizon has passed are evicted as event time
    advances (their final row was already emitted — upsert semantics
    downstream, matching the sessionizer contract). Encoded as csv
    strings: applyInPandasWithState state columns are scalars, and the
    open-window count is small by construction."""
    import math

    if state.exists:
        ids_s, starts_s, counts_s, vqs_s = state.get
        open_w = [
            [int(a), int(b), int(c), int(d)]
            for a, b, c, d in zip(
                *(s.split(",") if s else [] for s in
                  (ids_s, starts_s, counts_s, vqs_s))
            )
        ]
    else:
        open_w = []
    user_id = key[0]
    touched: dict[int, tuple[int, int]] = {}
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for r in rows.itertuples():
        ts_us = int(r.ts.value // 1000)
        still = []
        for w in open_w:
            if w[1] + _INTERVAL_WINDOW_US < ts_us:
                continue  # horizon passed; last emission stands
            if ts_us > w[1]:  # strict: followers are AFTER the error
                w[2] += 1
                w[3] += math.floor(float(r.value) * 10000.0 + 0.5)
                touched[w[0]] = (w[2], w[3])
            still.append(w)
        open_w = still
        if r.event_type == "error":
            open_w.append([int(r.event_id), ts_us, 0, 0])
            touched[int(r.event_id)] = (0, 0)
    state.update(
        (
            ",".join(str(w[0]) for w in open_w),
            ",".join(str(w[1]) for w in open_w),
            ",".join(str(w[2]) for w in open_w),
            ",".join(str(w[3]) for w in open_w),
        )
    )
    out = [
        (eid, user_id, n, math.floor(q / 100.0 + 0.5) / 100.0)
        for eid, (n, q) in touched.items()
    ]
    yield pd.DataFrame(out, columns=[f.name for f in INTERVAL_OUT_SCHEMA])


def streaming_interval_enrich(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Interval blast-radius enrichment via applyInPandasWithState;
    stream == batch interval_error_activity when files arrive in
    event-time order (tested across micro-batch splits)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return stream.groupBy("user_id").applyInPandasWithState(
        _interval_fn,
        outputStructType=INTERVAL_OUT_SCHEMA,
        stateStructType=INTERVAL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Persisted static-snapshot frames created by streaming builders
# (currently streaming_incremental_dedup). A stream-static join needs
# the snapshot cached for the QUERY's lifetime — longer than the
# builder call — so builders register them here and long-lived
# sessions (bench suite, test modules) drop them once the query has
# drained, instead of accumulating one cached snapshot per invocation.
# Not an io.memo: a registry of frames to unpersist, never looked up by key.
_SNAPSHOT_CACHES: list[DataFrame] = []


def release_snapshot_caches() -> None:
    """Unpersist every snapshot frame registered by streaming
    builders. Call after the stream(s) defined by those builders have
    stopped (e.g. after an availableNow drain)."""
    while _SNAPSHOT_CACHES:
        _SNAPSHOT_CACHES.pop().unpersist()


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "update"
) -> None:
    """Drain a stream with availableNow into a memory sink (tests /
    local verification); blocks until all input is processed."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_checkpointed(
    sdf: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    output_mode: str = "update",
) -> None:
    """Drain a stream with availableNow through a FAULT-TOLERANT,
    idempotent sink — the production counterpart of run_to_memory
    (memory sinks cannot recover from a checkpoint). Each micro-batch
    writes its rows to ``{out_dir}/_bid=N`` with overwrite: if a batch
    is replayed after a crash/restart, it overwrites its own directory,
    so the sink is exactly-once per batch id — precisely the
    foreachBatch idempotency contract Structured Streaming's recovery
    semantics require. Restarting with the SAME checkpoint_dir resumes
    the file-source log (already-processed files are skipped) and the
    state store (stateful aggs continue from their saved state); the
    stream==batch restart receipts in tests/test_streaming.py pin this
    (VERDICT r14 item 1); the crash-injection receipts (VERDICT r15
    item 4) fail _sink_write mid-batch after a PARTIAL write and pin
    that the replayed batch overwrites it."""

    def _write(bdf: DataFrame, bid: int) -> None:
        # indirection through the module global so tests can inject a
        # mid-write crash (the replayed-batch path of the exactly-once
        # contract is untestable from a graceful stop alone)
        _sink_write(bdf, bid, out_dir)

    q = (
        sdf.writeStream.foreachBatch(_write)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _sink_write(bdf: DataFrame, bid: int, out_dir: str) -> None:
    """THE idempotency mechanism of run_checkpointed: a micro-batch
    owns the directory named by its batch id and writes it with
    overwrite, so a batch REPLAYED after a crash (foreachBatch may be
    re-invoked for a bid whose previous attempt died mid-write)
    replaces its own partial output instead of duplicating rows."""
    bdf.write.mode("overwrite").parquet(f"{out_dir}/_bid={bid}")


def checkpointed_final_state(
    spark: SparkSession, out_dir: str, key_cols: list[str]
) -> DataFrame:
    """Per-key FINAL state across every micro-batch a
    run_checkpointed sink has drained (possibly across several
    restarts of the same checkpoint): update mode emits one row per
    changed key per batch and batch ids are monotonic across restarts,
    so the row with the highest _bid per key is the final state — the
    same per-key tail(1) the memory-sink tests take, expressed over
    the durable sink."""
    from pyspark.sql import Window

    df = spark.read.option("basePath", out_dir).parquet(
        f"{out_dir}/_bid=*"
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col("_bid").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_bid")
    )


def streaming_span_dedup(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming span-level dedup — the stateful twin of
    ops.dedup.dedup_spans (same SPAN_K-word chunking expression, same
    min-(doc_id, cid) keeper): each arriving document's spans upsert
    their span's (keeper, occurrence count). This is the sub-document
    rendition of dedup-on-arrival: a 100 TB ingest filters repeated
    boilerplate against ALL history with one state row per distinct
    span, never reshuffling the accumulated corpus per micro-batch.
    A downstream consumer keeps an arriving span iff the upsert names
    it as its own keeper.

    r6: NATIVE streaming aggregation, not applyInPandasWithState. The
    per-span state is (count, min(doc_id, cid)) — both associative —
    so Spark's built-in stateful agg expresses it exactly: update-mode
    groupBy().agg(count, min(struct)) keeps state in the JVM state
    store (no Arrow transfer, no per-group pandas frame — that Python
    constant was the measured 1 k docs/s bottleneck) and gains
    map-side PARTIAL aggregation, so a micro-batch's repeated spans
    collapse before the shuffle. The custom-state demonstration lives
    on in the sessionizer/funnel/CDC twins, whose transition logic is
    genuinely non-associative."""
    from gis_etl_spark.ops.dedup import SPAN_K

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    k = SPAN_K
    spans = (
        stream.filter(
            F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
        )
        .select("doc_id", F.split(F.trim("text"), " +").alias("ws"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, (size(ws) + {k - 1}) div {k} - 1),"
                    f" i -> concat_ws(' ', slice(ws, i * {k} + 1, {k})))"
                )
            ).alias("cid", "span"),
        )
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(
                F.struct(
                    F.col("doc_id").alias("d"), F.col("cid").alias("c")
                )
            ).alias("keeper"),
        )
        .select(
            "span",
            "n_occurrences",
            F.col("keeper.d").alias("keep_doc_id"),
            F.col("keeper.c").cast("int").alias("keep_cid"),
        )
    )


def streaming_chunk_dedup(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming chunk-level dedup — the stateful twin of
    ops.text.chunk_dedup_groups (same CHUNK_TOKENS/CHUNK_STRIDE
    overlapping windows via the shared chunk_select expression, same
    min-(doc_id, chunk_idx) keeper): each arriving document's chunks
    upsert their window's (n_copies, keeper). Sub-document
    dedup-on-arrival one level below streaming_span_dedup's disjoint
    spans: the overlapping-window rendition a RAG-index ingest runs,
    state = one row per DISTINCT chunk content hash, never a reshuffle
    of history.

    Same native-stateful-agg shape as the exact/span twins: chunking
    is pure select/explode (stateless, stream-legal), and the per-hash
    (count, min-struct) state is associative, so the final census
    equals the batch twin bit-for-bit under ANY micro-batch slicing.
    A downstream consumer keeps an arriving chunk iff the upsert names
    it as its own keeper."""
    from gis_etl_spark.ops.text import chunk_select

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    chunks = chunk_select(stream)
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(
                F.struct(
                    F.col("doc_id").alias("d"),
                    F.col("chunk_idx").alias("c"),
                )
            ).alias("keeper"),
        )
        .select(
            "chunk_md5",
            "n_copies",
            F.col("keeper.d").alias("keep_doc_id"),
            F.col("keeper.c").cast("int").alias("keep_chunk_idx"),
        )
    )


def streaming_minhash_dedup(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Streaming NEAR-dup detection on arrival — the stateful twin of
    the batch MinHash+LSH chain (ops.dedup.minhash_candidates): each
    arriving document computes its 16-lane minhash signature in the
    vectorized stateless stage (ops.dedup.minhash_signature_arrow —
    JVM shingle hashing + one numpy mapInPandas hop, so the stream's
    one stateful-operator budget goes to the bucket store), explodes
    its 8 LSH band buckets, and upserts each bucket's
    (n_docs, keep_id = min doc_id) — the same native-stateful-agg shape
    as streaming_exact_dedup/streaming_span_dedup, state = one row per
    OCCUPIED band bucket, never per document pair.

    A downstream consumer flags an arriving doc as a near-dup candidate
    iff any of its buckets upserts with keep_id < doc_id (then verifies
    with exact Jaccard on the shortlist, exactly like the batch chain).
    min-doc_id keeps the final state equal to the batch bucket census
    bit-for-bit under ANY micro-batch slicing or arrival order — the
    count/min pair is associative, so the JVM state store + map-side
    partial agg do the stateful work; the only Python in the plan is
    the single vectorized signature hop upstream of the agg."""
    from gis_etl_spark.ops.dedup import (
        _band_keys,
        minhash_signature_arrow,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    # r10: signatures via the fully-vectorized Arrow stage (shingling,
    # hashlib md5 AND all 16 lanes in one mapInPandas hop — bit-equal
    # to minhash_signature_narrow, still stateless/stream-legal; the
    # per-shingle JVM md5 expression chain was the real 4k rows/s
    # bottleneck, now 17k+). Band keys via the SAME _band_keys as the
    # batch chain (select/explode only, stream-safe) so batch/stream
    # census parity is one formula.
    sig = minhash_signature_arrow(stream)
    keyed = _band_keys(sig)
    return keyed.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_id"),
    )


FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("view_us", LongType()),
        StructField("click_us", LongType()),
        StructField("purch_us", LongType()),
    ]
)
FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", IntegerType()),
        StructField("view_us", LongType()),
        StructField("delta_us", LongType()),
    ]
)


def _funnel_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user funnel state machine (view → click → purchase, each
    stage within the window of the previous). Events are folded in
    event-time order WITHIN each delivery; like the sessionizer, the
    stream contract is event-time-ordered arrival per user (a
    watermarked production source), under which 'first seen' equals
    the batch twin's MIN semantics."""
    from gis_etl_spark.ops.relational import FUNNEL_WINDOW_US as W

    if state.exists:
        view_us, click_us, purch_us = state.get
    else:
        view_us = click_us = purch_us = None
    rows = []
    for pdf in pdfs:
        for et, us in zip(pdf["event_type"], pdf["us"]):
            rows.append((int(us), str(et)))
    rows.sort()
    for us, et in rows:
        if et == "view":
            if view_us is None:
                view_us = us
        elif et == "click":
            if (
                view_us is not None
                and click_us is None
                and view_us < us <= view_us + W
            ):
                click_us = us
        elif et == "purchase":
            if (
                click_us is not None
                and purch_us is None
                and click_us < us <= click_us + W
            ):
                purch_us = us
    state.update((view_us, click_us, purch_us))
    stage = (
        0 if view_us is None
        else 1 if click_us is None
        else 2 if purch_us is None
        else 3
    )
    last = purch_us or click_us or view_us
    delta = None if view_us is None else int(last - view_us)
    yield pd.DataFrame(
        [(key[0], stage, view_us, delta)],
        columns=[f.name for f in FUNNEL_OUT_SCHEMA],
    )


def streaming_funnel(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming conversion funnel — the stateful twin of
    ops.relational.funnel_events: each micro-batch advances every
    touched user's (view, click, purchase) stage machine and emits the
    user's current stage + time-from-first-view. O(1) state per user
    (three timestamps); a 100 TB event stream answers 'where is each
    user in the funnel RIGHT NOW' without ever rescanning history."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    keyed = stream.select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CDC_STATE_SCHEMA = StructType(
    [
        StructField("date_us", LongType()),
        StructField("orderkey", LongType()),
        StructField("status", StringType()),
        StructField("price", DoubleType()),
    ]
)
CDC_OUT_SCHEMA = StructType(
    [
        StructField("o_custkey", LongType()),
        StructField("last_orderkey", LongType()),
        StructField("last_status", StringType()),
        StructField("last_totalprice", DoubleType()),
        StructField("last_update_us", LongType()),
    ]
)


def streaming_latest_state(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming CDC compaction — the stateful twin of
    ops.cdc.cdc_latest_state: each arriving change upserts its key's
    current row. O(1) state per key (one change tuple); this is the
    continuously-maintained materialized view whose batch rebuild is
    the max(struct) aggregate — a 100 TB changelog keeps current state
    fresh without recompaction.

    The keeper runs as the NATIVE update-mode max(struct) aggregate —
    the exact aggregate the batch twin runs, so stream == batch under
    any micro-batch slicing is the associativity of max, with no
    JVM↔Python boundary. (r18: this replaced an applyInPandasWithState
    keeper whose per-key-group pandas protocol cost ~6 ms × |keys in
    batch| — 97.9 s of allUpdatesTimeMs across 32 partitions on a
    150k-change drain — while the logic is exactly expressible as the
    built-in; the native agg also gets MAP-SIDE partial aggregation,
    so a micro-batch with a billion changes to a million keys shuffles
    a million rows, and its state is the ONE agg row per key.
    unix_micros is monotone in o_orderdate, so the (us, orderkey, …)
    struct order equals the batch twin's (o_orderdate, o_orderkey, …)
    order exactly. applyInPandasWithState coverage stays on the twins
    whose state logic built-ins cannot express: sessionize, funnel,
    rolling anomaly, heavy hitters.)"""
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    latest = F.max(
        F.struct(
            F.unix_micros("o_orderdate").alias("us"),
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice"),
        )
    ).alias("s")
    return (
        stream.groupBy("o_custkey")
        .agg(latest)
        .select(
            "o_custkey",
            F.col("s.o_orderkey").alias("last_orderkey"),
            F.col("s.o_orderstatus").alias("last_status"),
            F.col("s.o_totalprice").alias("last_totalprice"),
            F.col("s.us").alias("last_update_us"),
        )
    )


ANOM_STATE_SCHEMA = StructType(
    [StructField("qs", ArrayType(LongType()))]
)
ANOM_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("n_window", LongType()),
    ]
)


def _anomaly_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Trailing-window z-test with a per-user ring buffer of the last
    ANOM_WINDOW quantized values. The test is the batch op's exact
    cross-multiplied int64 inequality — no float mean/std — so the
    flag set equals ops.relational.events_rolling_anomaly under the
    event-time-ordered arrival contract (the sessionizer contract)."""
    import math

    from gis_etl_spark.ops.relational import (
        ANOM_MIN_N,
        ANOM_WINDOW,
        ANOM_Z,
    )

    qs: list[int] = list(state.get[0]) if state.exists else []
    # running Σq / Σq² over the ring: the per-event test needs both,
    # and recomputing them with sum() made each event O(window) in
    # pure Python (~2·ANOM_WINDOW int ops × |events|). Maintained
    # incrementally they are O(1) per event with the SAME exact
    # integer arithmetic (ints add/subtract losslessly), so the flag
    # set is bit-identical. Rederived from state once per group.
    s = sum(qs)
    ss = sum(x * x for x in qs)
    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["us", "event_id"])
        for eid, v in zip(pdf["event_id"], pdf["value"]):
            q = int(math.floor(float(v) * 100.0 + 0.5))
            n = len(qs)
            if n >= ANOM_MIN_N:
                lhs = q * n - s
                var_num = n * ss - s * s
                if lhs * lhs * (n - 1) > ANOM_Z * ANOM_Z * n * var_num:
                    out.append((int(eid), int(key[0]), float(v), n))
            qs.append(q)
            s += q
            ss += q * q
            if len(qs) > ANOM_WINDOW:
                old = qs.pop(0)
                s -= old
                ss -= old * old
    state.update((qs,))
    yield pd.DataFrame(
        out, columns=[f.name for f in ANOM_OUT_SCHEMA]
    )


def streaming_rolling_anomaly(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Streaming rolling-window anomaly detection — the stateful twin
    of ops.relational.events_rolling_anomaly: O(ANOM_WINDOW) ints of
    state per user, each arriving event tested against its trailing
    baseline THEN pushed into the ring buffer. A 100 TB event stream
    flags outliers on arrival without rescanning history."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    keyed = stream.select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("us")
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _anomaly_fn,
        outputStructType=ANOM_OUT_SCHEMA,
        stateStructType=ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming heavy hitters (r10) ------------------------------------------

MG_NB = 32  # candidate buckets: tokens hash-route, state caps at k per bucket

MG_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)
MG_OUT_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("token", StringType()),
        StructField("cnt_lb", LongType()),
        StructField("n_seen", LongType()),
    ]
)


def _mg_stream_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-bucket Misra-Gries summary — the same mg_update contraction
    as the batch candidates pass (ops.scale), so the summary evolves
    identically for any micro-batch slicing of the same rows. Emits
    the bucket's full current summary each trigger; the latest
    emission per bucket (max n_seen) IS the state snapshot."""
    from gis_etl_spark.ops.scale import mg_k, mg_update
    from gis_etl_spark.ops.text import HH_FRAC

    k = mg_k(HH_FRAC)
    if state.exists:
        keys, counts, n_seen = state.get
        d = dict(zip(keys, counts))
        n_seen = int(n_seen)
    else:
        d, n_seen = {}, 0
    for pdf in pdfs:
        col = pdf["token"].dropna()
        n_seen += len(col)
        d = mg_update(d, col.value_counts().items(), k)
    state.update((list(d.keys()), [int(v) for v in d.values()], n_seen))
    b = int(key[0])
    yield pd.DataFrame(
        {
            "bucket": [b] * len(d),
            "token": list(d.keys()),
            "cnt_lb": [int(v) for v in d.values()],
            "n_seen": [n_seen] * len(d),
        }
    )


def streaming_heavy_hitter_candidates(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Streaming half of the heavy-hitters pair — the stateful twin of
    ops.scale.heavy_hitters' candidates pass: arriving documents'
    tokens hash-route to MG_NB buckets and each bucket maintains ONE
    bounded Misra-Gries summary (≤ k counters regardless of how much
    vocabulary streams past — the whole point at 100 TB: candidate
    state never grows with history). A token's every occurrence lands
    in the same bucket, so the per-bucket pigeonhole guarantee is the
    batch one verbatim and the candidate set is a superset of the true
    heavy hitters under ANY micro-batch slicing.

    Exactness is restored at snapshot time (hh_snapshot_exact): the
    accumulated table is re-read ONCE for exact counts of the ≤ k·NB
    candidates — the same candidates-then-verify composition as batch,
    with the candidate pass incremental instead of rescanned."""
    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    from gis_etl_spark.ops.text import words_col

    stream = spark.readStream.schema(schema).parquet(input_dir)
    toks = stream.filter(F.col("text").isNotNull()).select(
        F.explode(words_col(F.col("text"))).alias("token")
    )
    keyed = toks.withColumn(
        "bucket", F.pmod(F.hash("token"), F.lit(MG_NB)).cast("int")
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _mg_stream_fn,
        outputStructType=MG_OUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hh_snapshot_exact(
    spark: SparkSession, emissions: DataFrame, input_dir: str
) -> DataFrame:
    """Compose the stream's latest per-bucket summaries with one exact
    verification pass over the accumulated table — output equals
    ops.text.heavy_hitter_tokens on the same rows (same ceil(φ·N)
    arithmetic, same ordering)."""
    import math

    from pyspark.sql import Window

    from gis_etl_spark.ops.text import HH_FRAC, words_col

    w = Window.partitionBy("bucket").orderBy(F.desc("n_seen"))
    latest = (
        emissions.withColumn("rn", F.dense_rank().over(w))
        .filter(F.col("rn") == 1)
    )
    buckets = latest.groupBy("bucket").agg(F.max("n_seen").alias("n"))
    total = int(
        buckets.agg(F.sum("n").alias("t")).collect()[0]["t"] or 0
    )
    threshold = int(math.ceil(HH_FRAC * total))
    cand = [
        r["token"] for r in latest.select("token").distinct().collect()
    ]
    candidates = spark.createDataFrame(
        [(c,) for c in cand], "token string"
    )
    docs = spark.read.schema(
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).parquet(f"{input_dir}/*.parquet")
    toks = docs.filter(F.col("text").isNotNull()).select(
        F.explode(words_col(F.col("text"))).alias("token")
    )
    return (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(threshold))
        .orderBy(F.desc("cnt"), F.asc("token"))
    )


def streaming_chunk_decontaminate(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Streaming twin of ops.text.chunk_decontaminate — the ingest-time
    decontamination gate: every arriving non-eval document's
    CHUNK_TOKENS-token windows report, per (doc_id, chunk_idx), how
    many of their distinct 5-gram shingles hit the held-out eval set
    (doc_id % EVAL_MOD == 0), zero-overlap chunks included. A
    downstream consumer drops (or flags) a chunk on arrival iff
    n_shared >= DECON_T — contaminated windows never reach the
    training shard.

    Plan: the eval shingle set is a STATIC batch frame (eval sets are
    fixed, small artifacts) on the build side of a stream-static left
    join — the streaming rendition of the batch twin's broadcast
    semi-join, re-resolved per micro-batch with no state of its own.
    Chunking + per-chunk shingling are stateless select/explodes
    (posexplode_OUTER keeps shingle-less short chunks alive through
    the join so they report n_shared = 0). The only state is the
    per-chunk counter — associative, so the native update-mode agg
    matches the batch twin bit-for-bit under any micro-batch slicing;
    one state row per chunk, never a reshuffle of history.

    Static-eval-set assumption: eval_sh is resolved from the files
    present in {input_dir} at QUERY DEFINITION. Eval docs landing in
    files added after the stream starts never join the shingle set —
    fine for the availableNow rigs here (all files exist up front) and
    for the production shape (the eval set is a frozen artifact at a
    dedicated path); a continuous deployment that must track a GROWING
    eval set should rebuild eval_sh per trigger via foreachBatch."""
    from gis_etl_spark.ops.text import (
        DECON_T,
        EVAL_MOD,
        chunk_token_windows,
        decon_shingle_arr,
        words_col,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    eval_sh = (
        spark.read.schema(schema)
        .parquet(f"{input_dir}/*.parquet")
        .filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(words_col(F.col("text")).alias("ws"))
        .select(F.explode(decon_shingle_arr("ws")).alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )

    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .filter(F.col("doc_id") % EVAL_MOD != 0)
    )
    shingles = chunk_token_windows(stream).select(
        "doc_id",
        "chunk_idx",
        "n_tok",
        F.posexplode_outer(decon_shingle_arr("cw")).alias("_i", "sh"),
    )
    return (
        shingles.join(eval_sh, "sh", "left")
        .groupBy("doc_id", "chunk_idx", "n_tok")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_shared"))
        .select(
            "doc_id",
            "chunk_idx",
            "n_tok",
            "n_shared",
            (F.col("n_shared") >= DECON_T).alias("contaminated"),
        )
    )


def streaming_cms_cells(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming Count-Min Sketch maintenance — the stateful twin of
    ops.text.cms_cells: every arriving document's tokens upsert their
    CMS_D (row, bucket) counters. The flagship bounded-state example:
    state is AT MOST CMS_D × CMS_W rows (4,096) no matter how many
    tokens or how much vocabulary streams past, and the per-cell count
    is associative, so the final table equals the batch sketch
    bit-for-bit under any micro-batch slicing (native update-mode agg,
    map-side partial combine per micro-batch).

    A serving tier reads the latest cells and answers point-frequency
    queries with min-over-rows — the streaming analog of
    cms_token_counts' estimate stage, with no rescan of history."""
    from gis_etl_spark.ops.text import cms_cell_array, words_col

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    toks = stream.filter(F.col("text").isNotNull()).select(
        F.explode(words_col(F.col("text"))).alias("token")
    )
    return (
        toks.select(F.explode(cms_cell_array(F.col("token"))).alias("x"))
        .groupBy(F.col("x.r").alias("r"), F.col("x.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def streaming_incremental_dedup(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Streaming twin of ops.dedup.incremental_dedup_pairs — dedup the
    ARRIVING crawl increment against the persisted corpus snapshot,
    on arrival: each new document (doc_id % INC_MOD == INC_NEW_REM)
    computes its content fingerprint, shingle set, and minhash lanes
    in ONE vectorized stateless hop (incremental_stage_arrow), then

    1. exact pass: fingerprints probe the STATIC snapshot fingerprint
       frame (stream-static inner join) → ('exact', 1.0) pairs;
    2. fuzzy pass: docs with no exact hit (stream-static left join +
       null filter — the stream-legal anti-join) explode their 8 band
       keys, probe the static band table, and every candidate verifies
       with trigram-shingle-set Jaccard via array_intersect of the two
       int64 HASH sets (h60%P31 — ~3× smaller to carry through the
       band explode and ~5× cheaper to intersect than the string
       arrays; equal to the batch twin's string-set Jaccard absent
       60-bit collisions) — all JVM expressions.

    The one stateful operator is the final per-pair max-agg (collapses
    the per-shared-band candidate duplicates; all values per pair are
    equal, so max is just the associative dedup), state = one row per
    DETECTED pair — bounded by true duplicates, never by corpus or
    traffic. Final state equals the batch twin row-for-row under any
    micro-batch slicing (pinned in tests/test_streaming.py).

    Static-snapshot assumption (same contract as
    streaming_chunk_decontaminate): the snapshot frames resolve from
    {input_dir}'s files at query definition — exactly the production
    shape, where the snapshot artifacts are frozen bucketed tables
    (SCALE.md §r12) and a NEW snapshot version means a new query."""
    from gis_etl_spark.ops.dedup import (
        INC_MOD,
        INC_NEW_REM,
        MINHASH_JACCARD_T,
        N_BANDS,
        ROWS_PER_BAND,
        _band_keys,
        incremental_stage_arrow,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    is_new = F.col("doc_id") % INC_MOD == INC_NEW_REM

    snap = (
        spark.read.schema(schema)
        .parquet(f"{input_dir}/*.parquet")
        .filter(~is_new)
    )
    # ALL static snapshot frames derive from ONE vectorized Arrow pass
    # (fingerprint + hash set + minhash lanes per doc), persisted: a
    # stream-static join re-evaluates the static side every
    # micro-batch, and the signature chain is the expensive part.
    # The cache outlives this builder (the stream holds it until the
    # query stops), so it is tracked module-side; callers that define
    # many queries in one session (bench/tests) release finished
    # queries' snapshots with release_snapshot_caches().
    snap_stage = incremental_stage_arrow(snap).persist()
    _SNAPSHOT_CACHES.append(snap_stage)
    snap_fp = snap_stage.select(
        F.col("doc_id").alias("snap_id"), "fph"
    )
    fp_set = snap_fp.select("fph").distinct().withColumn("_e", F.lit(1))
    snap_bands = (
        _band_keys(snap_stage.filter(F.size("hs") > 0))
        .select(F.col("doc_id").alias("snap_id"), "band_idx", "band_key")
    )
    snap_hs = snap_stage.filter(F.size("hs") > 0).select(
        F.col("doc_id").alias("snap_id"), F.col("hs").alias("snap_hs")
    )

    stream = (
        spark.readStream.schema(schema).parquet(input_dir).filter(is_new)
    )
    staged = incremental_stage_arrow(stream)

    exact = staged.join(snap_fp, "fph").select(
        F.col("doc_id").alias("new_id"),
        "snap_id",
        F.lit("exact").alias("kind"),
        F.lit(1.0).alias("jaccard"),
    )

    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{j}").cast("string")
                            for j in range(
                                b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND
                            )
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    newb = (
        staged.join(fp_set, "fph", "left")
        .filter(F.col("_e").isNull())
        .filter(F.size("hs") > 0)
        .select(
            F.col("doc_id").alias("new_id"),
            "hs",
            F.explode(bands_arr).alias("band"),
        )
        .select("new_id", "hs", "band.band_idx", "band.band_key")
    )
    inter = F.size(F.array_intersect(F.col("hs"), F.col("snap_hs")))
    na = F.size("hs")
    nb = F.size("snap_hs")
    jac = F.round(inter / (na + nb - inter), 4)
    fuzzy = (
        newb.join(snap_bands, ["band_idx", "band_key"])
        .join(snap_hs, "snap_id")
        .select(
            "new_id",
            "snap_id",
            F.lit("fuzzy").alias("kind"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
    )
    # The per-pair collapse takes max of the (kind, jaccard) PAIR as
    # one struct so the row stays atomic: the exact/fuzzy paths are
    # disjoint by construction today (a fuzzy probe only runs for docs
    # with no exact hit), but independent column maxes would silently
    # splice kind='fuzzy' with jaccard=1.0 from different rows if that
    # ever relaxed. 'fuzzy' > 'exact' lexicographically, matching the
    # "best evidence" precedence; within a kind all jaccards per pair
    # are equal, so the struct max is just the associative dedup.
    return (
        exact.unionByName(fuzzy)
        .groupBy("new_id", "snap_id")
        .agg(F.max(F.struct("kind", "jaccard")).alias("kj"))
        .select(
            "new_id",
            "snap_id",
            F.col("kj.kind").alias("kind"),
            F.col("kj.jaccard").alias("jaccard"),
        )
    )


def streaming_pii_redact(spark: SparkSession, input_dir: str) -> DataFrame:
    """Redaction-on-ingest — the STATELESS member of the streaming
    family, and the deployment shape PII handling actually requires:
    raw text must be scrubbed BEFORE anything persists, so the
    redaction runs inside the ingest stream, not as a later batch over
    already-stored data. Pure map expressions (the exact ops.text
    pii_redact chain: planted positives, SSN → phone → email pinned
    order, all occurrences), no state, no watermark — every micro-batch
    is independent and output == batch on any slicing (pinned in
    tests). Emits the per-doc counts + redacted-text md5 + length
    delta, the same audit row the batch contract query verifies
    against DuckDB."""
    from gis_etl_spark.ops.text import pii_planted_txt, pii_redact_audit_cols

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return stream.select(
        "doc_id", *pii_redact_audit_cols(pii_planted_txt())
    )


def streaming_event_dedup(spark: SparkSession, input_dir: str) -> DataFrame:
    """Watermarked at-least-once ingest dedup — the state-EVICTING
    member of the streaming dedup family: dropDuplicatesWithinWatermark
    on event_id with a 1-hour event-time horizon.

    streaming_exact_dedup's per-hash state is permanent BY CONTRACT
    (recurring content is the signal it exists to catch); redelivery
    dedup is the opposite contract — a duplicate event_id can only
    arrive within the delivery system's replay horizon, so state only
    needs to remember ids that recent. The watermark makes Spark evict
    older id state automatically: at ingest scale this is the
    difference between O(all ids ever) and O(horizon throughput) state
    rows, and it is the missing rung between 'dedup forever' and 'no
    dedup'.

    Output (append mode): the deduplicated event stream itself. The
    final output set equals batch dropDuplicates on event_id whenever
    every redelivery lands inside the horizon — pinned in tests with
    duplicates injected into time-ordered micro-batches (the rig shape
    where watermark semantics are deterministic; out-of-horizon
    replays are dropped-as-late by design, not silently kept)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_postings_build(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Postings-build-on-arrival — the live-search-index twin of
    build_bm25_index's tf pass (r15's stored BM25 family): every
    arriving document's tokens upsert their (token, doc_id) posting
    count, so the inverted index grows per micro-batch instead of
    re-exploding the corpus per refresh. Production shape: foreachBatch
    appends the batch's postings into the token-bucketed postings
    table (frozen impact stats between rebuilds — the df/avgdl
    staleness economics SCALE.md's BM25 entry records); here the
    update-mode state IS the postings table.

    Native stateful agg (the span/chunk-dedup shape): tokenization is
    a stateless explode, the per-(token, doc) count is associative, so
    the final state equals the batch tf frame bit-for-bit under ANY
    micro-batch slicing — pinned in tests. State = one row per
    DISTINCT posting, bounded by the index size itself (the thing a
    live index must hold anyway), never by traffic."""
    from gis_etl_spark.ops.text import words_col

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.filter(
            F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
        )
        .select("doc_id", F.explode(words_col(F.col("text"))).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def streaming_ann_drift(
    spark: SparkSession,
    input_dir: str,
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """Drift monitoring ON INGEST — the streaming twin of
    ann_drift_stat's incoming-batch rollup, and the shape the
    SCALE.md operating rule actually deploys: every arriving
    embedding is assigned to the FROZEN coarse codebook (map-side
    argmin over broadcast literals, the exact expression the batch
    monitor and the index build use) and updates its list's running
    (count, int64-fixedpoint error-units) counters. State is K_KMEANS
    rows TOTAL regardless of ingest volume — the cheapest stateful
    twin in the family — and the consumer charts
    err_units/n per list against the training baseline
    (ann_drift_stat's avg_units_train) to trigger the recall probe /
    rebuild.

    `cents` is the frozen codebook (production passes the served
    index's quantizer); None self-trains on the replay's batch
    snapshot — the rig/floor convenience path.

    Output (update mode): (list_id, n_inc, err_units_inc) — the same
    int64 fixedpoint contract as the batch monitor, so stream == batch
    on any input slicing (pinned in tests)."""
    from gis_etl_spark.ops.similarity import (
        DRIFT_ERR_SCALE,
        _d2_cols,
        kmeans_fit,
    )

    schema = "vec_id long, embedding array<float>, label int"
    if cents is None:
        cents = kmeans_fit(
            spark.read.schema(schema)
            .parquet(input_dir)
            .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    m = F.array_min(_d2_cols("v", cents))
    per = stream.select(
        F.col("embedding").cast("array<double>").alias("v")
    ).select(
        m.getField("c_id").cast("long").alias("list_id"),
        F.floor(
            m.getField("d2") * F.lit(float(DRIFT_ERR_SCALE)) + F.lit(0.5)
        ).alias("u"),
    )
    return per.groupBy("list_id").agg(
        F.count("*").alias("n_inc"), F.sum("u").alias("err_units_inc")
    )


def streaming_ingest_curation(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """The INGEST rung of corpus curation — the streaming counterpart
    of the batch funnel's first three stages in ONE stateful pass:
    every arriving document computes its content hash, token count,
    quality gate, PII hit count, and redacted-text md5 map-side (the
    exact expressions of dedup_exact_groups / the quality composite /
    pii_redact), and the per-hash state keeps the MIN-doc_id copy's
    audit row. A 100 TB ingest runs precisely this: scrub + score on
    arrival, dedup against all history with one state row per distinct
    content, and hand downstream the canonical copy's audit.

    min(struct(doc_id, …)) is associative, so update-mode
    groupBy().agg() expresses the state exactly (the
    streaming_exact_dedup / CDC max-struct shape — JVM state store,
    no Arrow transfer) and the result equals the batch rollup
    bit-for-bit under ANY micro-batch slicing or arrival order.

    Output per distinct content (update mode): (content_hash,
    n_copies, keep_id, n_tokens, q_ok, pii_hits, redacted_md5)."""
    from gis_etl_spark.ops.dedup import PREP_QUALITY_T
    from gis_etl_spark.ops.text import (
        STOPWORDS,
        pii_hits_col,
        pii_planted_txt,
        pii_redacted_col,
        quality_score_from_counts,
        words_col,
    )

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    w = words_col(F.col("text"))
    txt = pii_planted_txt()
    red = pii_redacted_col(txt)
    hits = pii_hits_col(txt)
    n = F.size(w).cast("long")
    nd = F.size(F.array_distinct(w))
    nstop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    q = quality_score_from_counts(n, nd, nstop)
    staged = stream.select(
        F.md5(F.col("text")).alias("content_hash"),
        F.struct(
            F.col("doc_id").alias("keep_id"),
            n.alias("n_tokens"),
            (q >= F.lit(PREP_QUALITY_T)).alias("q_ok"),
            hits.cast("long").alias("pii_hits"),
            F.md5(red).alias("redacted_md5"),
        ).alias("s"),
    )
    return (
        staged.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("s").alias("k"),
        )
        .select(
            "content_hash",
            "n_copies",
            F.col("k.keep_id").alias("keep_id"),
            F.col("k.n_tokens").alias("n_tokens"),
            F.col("k.q_ok").alias("q_ok"),
            F.col("k.pii_hits").alias("pii_hits"),
            F.col("k.redacted_md5").alias("redacted_md5"),
        )
    )


from pyspark.sql.streaming import StatefulProcessor


def tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf for its
    state-server protocol; absent in this container (not in the baked
    dependency set) — the capability gate the TWS rendition and its
    test consult."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return False
    return True


class _LatestStateTws(StatefulProcessor):
    """StatefulProcessor rendition of the CDC latest-state keeper —
    the Spark 4 transformWithStateInPandas surface (typed per-key
    ValueState in the JVM state store, no whole-state pickle per
    batch, TTL/timers available). A plain module-level subclass: the
    processor instance pickles to the state-server worker by
    reference, which a dynamically-built class cannot."""

    def init(self, handle) -> None:
        self._st = handle.getValueState("latest", CDC_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        best = self._st.get() if self._st.exists() else None
        for pdf in rows:
            for ok, stt, pr, us in zip(
                pdf["o_orderkey"], pdf["o_orderstatus"],
                pdf["o_totalprice"], pdf["us"],
            ):
                cand = (int(us), int(ok), str(stt), float(pr))
                if best is None or (cand[0], cand[1]) > (
                    int(best[0]), int(best[1])
                ):
                    best = cand
        self._st.update(tuple(best))
        yield pd.DataFrame(
            [
                (
                    int(key[0]),
                    int(best[1]),
                    str(best[2]),
                    float(best[3]),
                    int(best[0]),
                )
            ],
            columns=[f.name for f in CDC_OUT_SCHEMA],
        )

    def close(self) -> None:
        pass


def streaming_latest_state_tws(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """streaming_latest_state on the MODERN arbitrary-state API
    (transformWithStateInPandas, Spark 4): identical semantics to the
    applyInPandasWithState twin — per-key max (change_us, orderkey)
    keeper — but the state is a TYPED ValueState row in the JVM state
    store instead of a whole-group pickled tuple, and the processor
    object carries timers/TTL hooks the legacy API lacks. Kept beside
    the legacy twin deliberately: both drain the same rig and must
    equal the batch max(struct) (pinned in tests), documenting the
    migration path a production pipeline takes as the old API
    deprecates."""
    # transformWithState requires the RocksDB state store provider
    # (the recommended production provider regardless); the legacy
    # twins keep working under it — providers are per-query state
    # machinery, not data format.
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    keyed = stream.select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice",
        F.unix_micros("o_orderdate").alias("us"),
    )
    return keyed.groupBy("o_custkey").transformWithStateInPandas(
        statefulProcessor=_LatestStateTws(),
        outputStructType=CDC_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
