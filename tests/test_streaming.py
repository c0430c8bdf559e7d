"""Streaming-equals-batch tests: each streaming pipeline must produce
the same final answer as its batch twin on the same files, fed through
the file source in multiple micro-batches (maxFilesPerTrigger /
availableNow)."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from gis_etl_spark.fixtures import ensure_buildings
from gis_etl_spark.io import read_table
from gis_etl_spark.ops.fixedpoint import fxsum
from gis_etl_spark.ops.relational import events_hourly_rollup, sessionize_events
from gis_etl_spark.pipelines import buildings as B
from gis_etl_spark.pipelines import streaming as S


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path / "incoming")


def _split_into_files(df, out_dir, n_files):
    df.repartition(n_files).write.mode("overwrite").parquet(out_dir)


def _stage_micro_batches(spark, docs, tmp_path, sub, n=3):
    """Write `docs` rows as n flat parquet files with staggered mtimes
    (mtime ordering is load-bearing: the file source picks up batches
    mtime-ascending) — the shared replay rig for the stream==batch
    twins that consume the documents table."""
    import time

    rows = docs.collect()
    per = len(rows) // n
    parts = [
        rows[i * per: (i + 1) * per if i < n - 1 else len(rows)]
        for i in range(n)
    ]
    flat = str(tmp_path / sub)
    os.makedirs(flat)
    for i, part in enumerate(parts):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(part, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")
    return flat


def test_streaming_heatmap_matches_batch(spark, stream_dir):
    bpath, _ = ensure_buildings(3_000)
    src = spark.read.parquet(bpath)
    # many small files → several micro-batches (maxFilesPerTrigger=4)
    _split_into_files(src, stream_dir, 12)

    name = f"hm_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_heatmap(spark, stream_dir), name, output_mode="complete"
    )
    got = {
        r.cell: r.num_recs
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    want = {
        r.cell: r.num_recs
        for r in B.heatmap(spark.read.parquet(stream_dir)).collect()
    }
    assert got == want


def test_streaming_hourly_matches_batch(spark, sf_dir, stream_dir):
    ev = read_table(spark, sf_dir, "events")
    _split_into_files(ev, stream_dir, 8)

    name = f"hr_{uuid.uuid4().hex[:8]}"
    # complete mode: no dropped-late-data ambiguity on a finite replay
    S.run_to_memory(
        S.streaming_hourly_rollup(spark, stream_dir), name,
        output_mode="complete",
    )
    got = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # batch twin over the SAME files (stream_dir re-read in batch)
    batch = events_hourly_rollup.__wrapped__ if hasattr(
        events_hourly_rollup, "__wrapped__"
    ) else None
    bdf = (
        spark.read.parquet(stream_dir)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            fxsum("value").alias("total_value"),
        )
    )
    want = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in bdf.collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark, sf_dir, tmp_path):
    """Append-mode watermark semantics end-to-end: a row arriving after
    the watermark has passed its window is DROPPED, and finalized
    windows are emitted exactly once. Two micro-batches: batch 1
    advances event time far ahead; batch 2 delivers a straggler for an
    old window → the straggler must not appear."""
    import time as _time

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    rows1 = [
        (1, ts("2024-01-01 00:10:00"), 1, "click", 1.0, "{}"),
        (2, ts("2024-01-01 00:20:00"), 1, "click", 2.0, "{}"),
        # this row advances the watermark (2h conf) far past hour 0
        (3, ts("2024-01-01 09:00:00"), 1, "click", 4.0, "{}"),
    ]
    rows2 = [
        # straggler for hour 0: watermark is now 07:00 → must be dropped
        (4, ts("2024-01-01 00:30:00"), 1, "click", 100.0, "{}"),
        (5, ts("2024-01-01 09:30:00"), 1, "click", 8.0, "{}"),
    ]
    checkpoint = str(tmp_path / "ckpt")

    def deliver(i, rows):
        df = spark.createDataFrame(rows, schema)
        p = os.path.join(flat, f"{i:02d}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p + ".dir")
        part = glob.glob(p + ".dir/part-*.parquet")[0]
        shutil.move(part, p)
        shutil.rmtree(p + ".dir")
        os.utime(p, (_time.time() - 100 + i * 10,) * 2)

    out_dir = str(tmp_path / "out")

    def run_once():
        # separate availableNow runs over a SHARED checkpoint: a hard
        # micro-batch boundary, so the watermark from run 1 governs
        # run 2's late-row dropping (memory sink can't recover from a
        # checkpoint — parquet sink can)
        sdf = spark.readStream.schema(schema).parquet(flat)
        agg = (
            sdf.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.round(F.sum("value"), 2).alias("total"))
            .select(
                F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "hour"
                ),
                "total",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.hour: r.total for r in spark.read.parquet(out_dir).collect()
        }

    deliver(0, rows1)
    got = run_once()
    deliver(1, rows2)
    got = run_once()
    # hour-0 window finalized from batch 1 only: 1+2, straggler's 100
    # dropped; the 09:00 window is NOT final (watermark hasn't passed
    # it) so append mode hasn't emitted it
    assert got.get("2024-01-01 00:00:00") == 3.0
    assert "2024-01-01 09:00:00" not in got


def test_streaming_sessionize_matches_batch(spark, sf_dir, stream_dir):
    ev = read_table(spark, sf_dir, "events")
    # ONE file = one micro-batch: the stateful operator sees each user's
    # full history in order (multi-batch replay is exercised below)
    ev.coalesce(1).write.mode("overwrite").parquet(stream_dir)

    name = f"ss_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.streaming_sessionize(spark, stream_dir), name)
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.session_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    want = {
        (r.user_id, r.session_seq): (r.n_events, r.session_value)
        for r in sessionize_events(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_sessionize_incremental_state(spark, sf_dir, tmp_path):
    """Feed the same events in TWO time-ordered chunks: the state store
    must carry open sessions across micro-batches (upsert semantics —
    last emission per (user, session) wins)."""
    import time

    ev = read_table(spark, sf_dir, "events").orderBy("ts")
    stream_dir = str(tmp_path / "inc")
    os.makedirs(stream_dir)
    rows = ev.collect()
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], ev.schema).coalesce(1).write.parquet(
        os.path.join(stream_dir, "a")
    )
    spark.createDataFrame(rows[half:], ev.schema).coalesce(1).write.parquet(
        os.path.join(stream_dir, "b")
    )
    # flatten: file source watches one dir; mtimes force arrival order
    # (the file source picks oldest-first — equal mtimes are ambiguous)
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(stream_dir, "*", "part-*.parquet")))
    ):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)

    sdf = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    name = f"inc_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.groupBy("user_id")
        .applyInPandasWithState(
            S._session_fn,
            outputStructType=S.SESSION_OUT_SCHEMA,
            stateStructType=S.SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # upsert: keep the LAST emission per (user, session_seq)
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    final = (
        pdf.groupby(["user_id", "session_seq"]).tail(1)
        .set_index(["user_id", "session_seq"])
    )
    want = {
        (r.user_id, r.session_seq): (r.n_events, r.session_value)
        for r in sessionize_events(spark, sf_dir).collect()
    }
    got = {
        idx: (int(row.n_events), float(row.session_value))
        for idx, row in final.iterrows()
    }
    assert got == want


def test_streaming_asof_matches_batch(spark, sf_dir, tmp_path):
    """Stream == batch for the as-of enrichment: every click's
    (gap_us, view_value) from the stateful stream must equal the
    asof_click_view contract query, with state carrying the latest
    view across micro-batch boundaries (2 time-ordered chunks)."""
    import time

    from gis_etl_spark.ops.joins import asof_click_view
    from gis_etl_spark.pipelines.streaming import (
        run_to_memory,
        streaming_asof_enrich,
    )

    ev = read_table(spark, sf_dir, "events").orderBy("ts")
    rows = ev.collect()
    half = len(rows) // 2
    flat = str(tmp_path / "asof_in")
    os.makedirs(flat)
    for i, chunk in enumerate((rows[:half], rows[half:])):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    sdf = streaming_asof_enrich(spark, flat, max_files_per_trigger=1)
    name = f"asof_{uuid.uuid4().hex[:8]}"
    run_to_memory(sdf, name, output_mode="append")
    got = {
        r.event_id: (r.gap_us, r.view_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    exp = {
        r.event_id: (r.gap_us, r.view_value)
        for r in asof_click_view(spark, sf_dir).collect()
    }
    assert set(got) == set(exp)
    mismatches = {k: (got[k], exp[k]) for k in exp if got[k] != exp[k]}
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_streaming_interval_matches_batch(spark, sf_dir, tmp_path):
    """Stream == batch for the interval blast-radius enrichment: every
    error's (n_follow, follow_value) from the stateful stream must
    equal the interval_error_activity contract query, with open windows
    carried across micro-batch boundaries (2 time-ordered chunks,
    upsert semantics — last emission per error wins)."""
    import time

    from gis_etl_spark.ops.joins import interval_error_activity
    from gis_etl_spark.pipelines.streaming import (
        run_to_memory,
        streaming_interval_enrich,
    )

    ev = read_table(spark, sf_dir, "events").orderBy("ts")
    rows = ev.collect()
    half = len(rows) // 2
    flat = str(tmp_path / "iv_in")
    os.makedirs(flat)
    for i, chunk in enumerate((rows[:half], rows[half:])):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    sdf = streaming_interval_enrich(spark, flat, max_files_per_trigger=1)
    name = f"iv_{uuid.uuid4().hex[:8]}"
    run_to_memory(sdf, name, output_mode="update")
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby("event_id").tail(1).set_index("event_id")
    got = {
        int(eid): (int(r.n_follow), float(r.follow_value))
        for eid, r in last.iterrows()
    }
    exp = {
        r.event_id: (r.n_follow, r.follow_value)
        for r in interval_error_activity(spark, sf_dir).collect()
    }
    assert set(got) == set(exp)
    mismatches = {k: (got[k], exp[k]) for k in exp if got[k] != exp[k]}
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_streaming_exact_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming dedup-on-arrival == batch exact dedup: feed the
    augmented corpus in 3 micro-batches (shuffled split, so duplicate
    pairs straddle batch boundaries) and require the final per-hash
    (n_copies, keep_id) state to equal dedup_exact_groups exactly."""
    import time

    from gis_etl_spark.fixtures import ensure_documents_aug
    from gis_etl_spark.ops.dedup import dedup_exact_groups

    docs = spark.read.parquet(ensure_documents_aug())
    rows = docs.collect()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "dd_in")
    os.makedirs(flat)
    for i, chunk in enumerate(chunks):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"dd_{uuid.uuid4().hex[:8]}"
    sdf = S.streaming_exact_dedup(spark, flat, max_files_per_trigger=1)
    S.run_to_memory(sdf, name, output_mode="update")
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby("content_hash").tail(1).set_index("content_hash")
    got = {
        h: (int(r.n_copies), int(r.keep_id))
        for h, r in last.iterrows()
        if int(r.n_copies) > 1
    }
    exp = {
        r.content_hash: (r.n_copies, r.keep_id)
        for r in dedup_exact_groups(spark, sf_dir).collect()
    }
    assert got == exp
    # singletons: every hash must have been seen exactly as often as it
    # occurs in the corpus
    assert int(last["n_copies"].sum()) == len(rows)


def test_streaming_span_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming span dedup == batch dedup_spans semantics: feed the
    raw documents in 3 micro-batches and require the final per-span
    (n_occurrences, keeper) state to equal a sequential reference scan
    — duplicate spans straddle batch boundaries by construction."""
    import time

    from gis_etl_spark.ops.dedup import SPAN_K
    from gis_etl_spark.pipelines import streaming as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.collect()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "sd_in")
    os.makedirs(flat)
    for i, chunk in enumerate(chunks):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"sd_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_span_dedup(spark, flat), name, output_mode="update"
    )
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby("span").tail(1).set_index("span")
    got = {
        s: (int(r.n_occurrences), int(r.keep_doc_id), int(r.keep_cid))
        for s, r in last.iterrows()
    }

    exp: dict[str, tuple[int, int, int]] = {}
    for r in rows:
        if not r.text or not r.text.strip():
            continue
        words = r.text.strip().split()
        n_chunks = (len(words) + SPAN_K - 1) // SPAN_K
        for cid in range(n_chunks):
            s = " ".join(words[cid * SPAN_K : (cid + 1) * SPAN_K])
            if s in exp:
                n, kd, kc = exp[s]
                exp[s] = (n + 1, *min((kd, kc), (r.doc_id, cid)))
            else:
                exp[s] = (1, r.doc_id, cid)
    assert got == exp


def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Streaming funnel == batch funnel semantics under the
    event-time-ordered arrival contract (same as the sessionizer):
    feed the events in 3 TIME-ORDERED chunks and require the final
    per-user stage/delta state to equal a sequential reference."""
    import time

    from gis_etl_spark.ops.relational import FUNNEL_WINDOW_US as W
    from gis_etl_spark.pipelines import streaming as S

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    rows = sorted(ev.collect(), key=lambda r: r.ts)
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "fn_in")
    os.makedirs(flat)
    for i, chunk in enumerate(chunks):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"fn_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_funnel(spark, flat), name, output_mode="update"
    )
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby("user_id").tail(1).set_index("user_id")
    got = {
        int(u): (int(r.stage), int(r.view_us), int(r.delta_us))
        for u, r in last.iterrows()
        if r.view_us == r.view_us  # view reached
    }

    # sequential reference over the time-ordered event log
    import datetime as dt

    exp: dict[int, list] = {}
    for r in rows:
        st = exp.setdefault(int(r.user_id), [None, None, None])
        us = int(r.ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
        if r.event_type == "view":
            if st[0] is None:
                st[0] = us
        elif r.event_type == "click":
            if st[0] is not None and st[1] is None and st[0] < us <= st[0] + W:
                st[1] = us
        elif r.event_type == "purchase":
            if st[1] is not None and st[2] is None and st[1] < us <= st[1] + W:
                st[2] = us
    exp_out = {}
    for u, (v, c, p) in exp.items():
        if v is None:
            continue
        stage = 1 if c is None else 2 if p is None else 3
        lastus = p or c or v
        exp_out[u] = (stage, v, lastus - v)
    assert got == exp_out
    assert any(s == 3 for s, _, _ in got.values())  # full conversions exist


def test_streaming_latest_state_matches_batch(spark, sf_dir, stream_dir):
    """Streaming CDC compaction == batch cdc_latest_state: replay the
    order changelog as several micro-batch files (repartitioned, so a
    key's changes straddle batches in arbitrary order) and require the
    final per-key state to equal the batch max(struct) exactly."""
    from gis_etl_spark.ops.cdc import cdc_latest_state

    orders = read_table(spark, sf_dir, "orders")
    _split_into_files(orders, stream_dir, 8)

    name = f"cdc_{uuid.uuid4().hex[:8]}"
    sdf = S.streaming_latest_state(spark, stream_dir)
    S.run_to_memory(sdf, name, output_mode="update")
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby("o_custkey").tail(1)
    got = {
        int(r.o_custkey): (
            int(r.last_orderkey),
            r.last_status,
            float(r.last_totalprice),
            int(r.last_update_us),
        )
        for r in last.itertuples()
    }
    batch = cdc_latest_state(spark, sf_dir).withColumn(
        "us", F.unix_micros("last_update")
    )
    want = {
        r.o_custkey: (
            r.last_orderkey,
            r.last_status,
            r.last_totalprice,
            int(r.us),
        )
        for r in batch.collect()
    }
    assert got == want


def test_streaming_rolling_anomaly_matches_batch(spark, sf_dir, tmp_path):
    """Streaming anomaly-on-arrival == batch trailing-window z-test:
    feed the events in two TIME-ORDERED chunks (ring buffers must carry
    across micro-batches) and require the identical flag set."""
    import time as _t

    from gis_etl_spark.ops.relational import events_rolling_anomaly

    ev = read_table(spark, sf_dir, "events").orderBy("ts", "event_id")
    stream_dir = str(tmp_path / "anom")
    os.makedirs(stream_dir)
    rows = ev.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        sub = os.path.join(stream_dir, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            sub + ".dir"
        )
        src = glob.glob(os.path.join(sub + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, sub)
        os.utime(sub, (_t.time() - 100 + i * 10,) * 2)
        shutil.rmtree(sub + ".dir")

    name = f"an_{uuid.uuid4().hex[:8]}"
    sdf = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select(
            "user_id", "event_id", "value",
            F.unix_micros("ts").alias("us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            S._anomaly_fn,
            outputStructType=S.ANOM_OUT_SCHEMA,
            stateStructType=S.ANOM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
    S.run_to_memory(sdf, name, output_mode="append")
    got = {
        (r.event_id, r.user_id, r.n_window)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    want = {
        (r.event_id, r.user_id, r.n_window)
        for r in events_rolling_anomaly(spark, sf_dir).collect()
    }
    assert got == want
    assert want, "fixture produced no anomalies — threshold signal lost"


def test_streaming_minhash_dedup_matches_batch(spark, tmp_path):
    """Streaming near-dup bucket census == batch LSH bucket census:
    feed the augmented corpus (which carries injected near-dups) in 3
    shuffled micro-batches and require the final per-bucket
    (n_docs, keep_id) state to equal the batch chain's groupBy over
    _band_keys(_minhash_signatures(...)) exactly — which also pins
    minhash_signature_narrow == _minhash_signatures bit-for-bit on the
    real corpus."""
    import time

    from gis_etl_spark.fixtures import ensure_documents_aug
    from gis_etl_spark.ops.dedup import _band_keys, _minhash_signatures

    docs = spark.read.parquet(ensure_documents_aug())
    rows = docs.collect()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "mh_in")
    os.makedirs(flat)
    for i, chunk in enumerate(chunks):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"mh_{uuid.uuid4().hex[:8]}"
    sdf = S.streaming_minhash_dedup(spark, flat)
    S.run_to_memory(sdf, name, output_mode="update")
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = (
        pdf.groupby(["band_idx", "band_key"])
        .tail(1)
        .set_index(["band_idx", "band_key"])
    )
    got = {
        k: (int(r.n_docs), int(r.keep_id)) for k, r in last.iterrows()
    }
    exp_df = (
        _band_keys(_minhash_signatures(docs))
        .groupBy("band_idx", "band_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .collect()
    )
    exp = {
        (r.band_idx, r.band_key): (r.n_docs, r.keep_id) for r in exp_df
    }
    assert got == exp
    # the corpus's injected near-dups must actually collide somewhere
    assert any(n > 1 for n, _ in got.values())


def test_streaming_chunk_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming chunk-level dedup == the batch chunk census: feed the
    documents in 3 micro-batches and require the final per-chunk-hash
    (n_copies, keeper) state to equal a sequential reference built
    with the same overlapping-window chunker — duplicate chunks
    straddle batch boundaries by construction."""
    import hashlib
    import re
    import time

    from gis_etl_spark.ops.text import CHUNK_STRIDE, CHUNK_TOKENS
    from gis_etl_spark.pipelines import streaming as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.collect()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "cd_in")
    os.makedirs(flat)
    for i, chunk in enumerate(chunks):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"cd_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_chunk_dedup(spark, flat), name, output_mode="update"
    )
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby("chunk_md5").tail(1).set_index("chunk_md5")
    got = {
        h: (int(r.n_copies), int(r.keep_doc_id), int(r.keep_chunk_idx))
        for h, r in last.iterrows()
    }

    C, St = CHUNK_TOKENS, CHUNK_STRIDE
    exp: dict[str, tuple[int, int, int]] = {}
    for r in rows:
        if r.text is None:
            continue
        toks = re.split(" +", r.text.strip(" "))
        n = len(toks)
        n_chunks = 1 if n <= C else 1 + -(-(n - C) // St)
        for ci in range(n_chunks):
            h = hashlib.md5(
                " ".join(toks[ci * St : ci * St + C]).encode()
            ).hexdigest()
            if h in exp:
                cnt, kd, kc = exp[h]
                exp[h] = (cnt + 1, *min((kd, kc), (r.doc_id, ci)))
            else:
                exp[h] = (1, r.doc_id, ci)
    assert got == exp


def test_streaming_heavy_hitters_matches_batch(spark, sf_dir, tmp_path):
    """Streaming MG candidates + snapshot exact-verify == the batch
    heavy_hitter_tokens output on the same documents, fed in 3
    micro-batches; every per-bucket summary emission stays within the
    k-counter state cap."""
    import time

    from gis_etl_spark.ops.scale import mg_k
    from gis_etl_spark.ops.text import HH_FRAC, heavy_hitter_tokens
    from gis_etl_spark.pipelines import streaming as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.collect()
    third = len(rows) // 3
    parts = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "hh_in")
    os.makedirs(flat)
    for i, part in enumerate(parts):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(part, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"hh_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_heavy_hitter_candidates(spark, flat),
        name,
        output_mode="update",
    )
    emissions = spark.sql(f"SELECT * FROM {name}")

    # state cap: no (bucket, n_seen) snapshot exceeds k counters
    k = mg_k(HH_FRAC)
    sizes = (
        emissions.groupBy("bucket", "n_seen")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert sizes <= k, (sizes, k)

    got = S.hh_snapshot_exact(spark, emissions, flat).collect()
    exp = heavy_hitter_tokens(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert len(exp) > 0  # the corpus actually has heavy hitters


def test_streaming_chunk_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """Streaming chunk-level decontamination == the batch twin: feed
    the documents in 3 micro-batches and require the final per-chunk
    (n_tok, n_shared, contaminated) state to equal
    ops.text.chunk_decontaminate on the same corpus — the stream-static
    eval-shingle join must re-resolve identically per micro-batch."""
    import time

    from gis_etl_spark.ops.text import chunk_decontaminate
    from gis_etl_spark.pipelines import streaming as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat = _stage_micro_batches(spark, docs, tmp_path, "cdc_in")

    name = f"cdc_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_chunk_decontaminate(spark, flat),
        name,
        output_mode="update",
    )
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby(["doc_id", "chunk_idx"]).tail(1)
    got = {
        (int(r.doc_id), int(r.chunk_idx)): (
            int(r.n_tok), int(r.n_shared), bool(r.contaminated)
        )
        for r in last.itertuples()
    }
    exp = {
        (int(r.doc_id), int(r.chunk_idx)): (
            int(r.n_tok), int(r.n_shared), bool(r.contaminated)
        )
        for r in chunk_decontaminate(spark, sf_dir).collect()
    }
    assert got == exp
    assert any(v[1] > 0 for v in exp.values())  # eval overlap exists


def test_streaming_cms_cells_matches_batch(spark, sf_dir, tmp_path):
    """Streaming CMS == the batch sketch: feed the documents in 3
    micro-batches and require the final (row, bucket) counter state to
    equal ops.text.cms_cells on the same corpus — associative counts
    must be slicing-invariant, and state stays <= CMS_D*CMS_W rows."""
    from pyspark.sql import functions as F

    from gis_etl_spark.ops.text import CMS_D, CMS_W, cms_cells, words_col
    from gis_etl_spark.pipelines import streaming as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat = _stage_micro_batches(spark, docs, tmp_path, "cms_in")

    name = f"cms_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_cms_cells(spark, flat), name, output_mode="update"
    )
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby(["r", "b"]).tail(1)
    got = {(int(x.r), int(x.b)): int(x.c) for x in last.itertuples()}
    toks = docs.select(F.explode(words_col(F.col("text"))).alias("token"))
    exp = {(r.r, r.b): r.c for r in cms_cells(toks).collect()}
    assert got == exp
    assert len(got) <= CMS_D * CMS_W


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Streaming incremental dedup == the batch bipartite twin: feed
    the augmented corpus (injected exact copies + paraphrases) in 3
    micro-batches and require the final per-(new_id, snap_id) state —
    kind and jaccard — to equal ops.dedup.incremental_dedup_pairs
    row-for-row. Pins the stream-legal anti-join (left join + null
    filter), the array_intersect verify == the batch shared-shingle
    join, and the vectorized stage == the JVM signature chain."""
    import time

    from gis_etl_spark.fixtures import ensure_documents_aug
    from gis_etl_spark.ops.dedup import incremental_dedup_pairs

    docs = spark.read.parquet(ensure_documents_aug())
    rows = docs.collect()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "inc_in")
    os.makedirs(flat)
    for i, chunk in enumerate(chunks):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"inc_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_incremental_dedup(spark, flat), name,
        output_mode="update",
    )
    S.release_snapshot_caches()  # drained — drop the cached snapshot
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = (
        pdf.groupby(["new_id", "snap_id"])
        .tail(1)
        .set_index(["new_id", "snap_id"])
    )
    got = {k: (r.kind, float(r.jaccard)) for k, r in last.iterrows()}
    exp = {
        (r.new_id, r.snap_id): (r.kind, float(r.jaccard))
        for r in incremental_dedup_pairs(spark, None).collect()
    }
    assert got == exp
    # both duplicate classes must actually cross the snapshot split
    kinds = {k for k, _ in got.values()}
    assert kinds == {"exact", "fuzzy"}, kinds


def test_streaming_pii_redact_matches_batch(spark, sf_dir, tmp_path):
    """The stateless redaction-on-ingest twin == the batch pii_redact
    audit row-for-row (same shared expressions), under a 3-file input
    split and append mode — every micro-batch is independent."""
    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.text import pii_redact

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    in_dir = str(tmp_path / "pii_in")
    docs.repartition(3).write.mode("overwrite").parquet(in_dir)

    name = f"pii_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_pii_redact(spark, in_dir), name, output_mode="append"
    )
    got = {
        r["doc_id"]: (
            r["n_emails"], r["n_phones"], r["n_ssns"],
            r["redacted_md5"], r["len_delta"],
        )
        for r in spark.table(name).collect()
    }
    exp = {
        r["doc_id"]: (
            r["n_emails"], r["n_phones"], r["n_ssns"],
            r["redacted_md5"], r["len_delta"],
        )
        for r in pii_redact(spark, sf_dir).collect()
    }
    assert got == exp
    # the planted positives actually got redacted somewhere
    assert any(v[4] != 0 for v in got.values())


def test_streaming_event_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Watermarked redelivery dedup: feed time-ordered micro-batches
    with every event duplicated inside its own batch (the
    within-horizon redelivery case) and require the appended output to
    equal batch dropDuplicates(event_id) exactly — no duplicate
    survives, no on-time row is lost."""
    import time

    from gis_etl_spark.io import read_table

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("ts", "event_id")
        .limit(1500)
    )
    rows = ev.collect()
    third = len(rows) // 3
    chunks = (rows[:third], rows[third : 2 * third], rows[2 * third :])
    flat = str(tmp_path / "evdd_in")
    os.makedirs(flat)
    for i, chunk in enumerate(chunks):
        dst = os.path.join(flat, f"{i:03d}.parquet")
        # duplicate every row within the batch — the redelivery shape
        spark.createDataFrame(
            list(chunk) + list(chunk), ev.schema
        ).coalesce(1).write.mode("overwrite").parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    name = f"evdd_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_event_dedup(spark, flat), name, output_mode="append"
    )
    got = {
        r.event_id: (r.user_id, r.event_type)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    exp = {r.event_id: (r.user_id, r.event_type) for r in rows}
    assert got == exp
    # and the sink really saw each id exactly once
    n_rows = spark.sql(f"SELECT count(*) c FROM {name}").first().c
    assert n_rows == len(exp)


def test_streaming_ann_drift_matches_batch(spark, sf_dir, tmp_path):
    """The drift-monitor twin == the batch rollup of the SAME drifted
    input against the SAME frozen codebook, under a 6-file split
    (state = K_KMEANS rows total); and the monitored error reads
    materially above the training baseline, so the monitor fires."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.similarity import (
        _assign_err_rollup,
        _coarse_codebook,
        ann_drift_stat,
    )

    cents = _coarse_codebook(spark, sf_dir)
    shifted = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "cast(transform(cast(embedding as array<double>),"
            " x -> x + 0.5D) as array<float>)"
        ).alias("embedding"),
        "label",
    )
    in_dir = str(tmp_path / "emb_in")
    shifted.repartition(6).write.mode("overwrite").parquet(in_dir)

    name = f"drift_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_ann_drift(spark, in_dir, cents), name,
        output_mode="complete",
    )
    got = {
        r["list_id"]: (r["n_inc"], r["err_units_inc"])
        for r in spark.table(name).collect()
    }
    want = {
        r["list_id"]: (r["n"], r["units"])
        for r in _assign_err_rollup(
            spark.read.parquet(in_dir).select(
                F.col("embedding").cast("array<double>").alias("v")
            ),
            cents,
        ).collect()
    }
    assert got == want and got
    # the monitor fires: streamed error avg >> training baseline avg
    base = {
        r["list_id"]: r["avg_units_train"]
        for r in ann_drift_stat(spark, sf_dir).collect()
        if r["avg_units_train"] is not None
    }
    fired = [
        (units / n) / base[lid]
        for lid, (n, units) in got.items()
        if lid in base and n > 0
    ]
    assert fired and all(ratio > 2.0 for ratio in fired)


def test_streaming_ingest_curation_matches_batch(spark, sf_dir, tmp_path):
    """The composed ingest twin (dedup-on-arrival + quality gate +
    redaction audit in one stateful pass) == the identical batch
    rollup under a 5-file split with duplicates injected; keepers
    agree with dedup_exact_kept; the min-struct state is
    slicing-invariant because it is associative."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.dedup import PREP_QUALITY_T
    from gis_etl_spark.ops.text import (
        _PII_PATTERNS,
        _PII_REDACTIONS,
        STOPWORDS,
        pii_planted_txt,
        quality_score_from_counts,
        words_col,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # inject exact duplicates under new ids — the dedup pressure the
    # twin exists for
    dupes = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    corpus = docs.unionAll(dupes)
    in_dir = str(tmp_path / "cur_in")
    corpus.repartition(5).write.mode("overwrite").parquet(in_dir)

    name = f"cur_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_ingest_curation(spark, in_dir), name,
        output_mode="complete",
    )
    got = {
        r["content_hash"]: tuple(r)[1:]
        for r in spark.table(name).collect()
    }

    # batch rollup with the same expressions
    w = words_col(F.col("text"))
    txt = pii_planted_txt()
    red = txt
    for kind, repl in _PII_REDACTIONS:
        red = F.regexp_replace(red, _PII_PATTERNS[kind], repl)
    hits = F.lit(0)
    for pat in _PII_PATTERNS.values():
        hits = hits + F.regexp_count(txt, F.lit(pat))
    n = F.size(w).cast("long")
    q = quality_score_from_counts(
        n,
        F.size(F.array_distinct(w)),
        F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))),
    )
    want = {
        r["content_hash"]: tuple(r)[1:]
        for r in spark.read.parquet(in_dir)
        .select(
            F.md5("text").alias("content_hash"),
            F.struct(
                F.col("doc_id").alias("keep_id"),
                n.alias("n_tokens"),
                (q >= F.lit(PREP_QUALITY_T)).alias("q_ok"),
                hits.cast("long").alias("pii_hits"),
                F.md5(red).alias("redacted_md5"),
            ).alias("s"),
        )
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("s").alias("k"))
        .select(
            "content_hash", "n_copies", "k.keep_id", "k.n_tokens",
            "k.q_ok", "k.pii_hits", "k.redacted_md5",
        )
        .collect()
    }
    assert got == want and got
    # injected duplicates collapsed onto the original keeper
    dup_hashes = [h for h, v in got.items() if v[0] > 1]
    assert dup_hashes and all(got[h][1] < 1_000_000 for h in dup_hashes)


def test_streaming_ann_drift_self_train_default(spark, sf_dir, tmp_path):
    """cents=None trains the codebook from the replay's own batch
    snapshot (the rig convenience path): result equals passing the
    explicitly-trained codebook for the same input."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.similarity import kmeans_fit

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    in_dir = str(tmp_path / "emb_default")
    emb.repartition(3).write.mode("overwrite").parquet(in_dir)

    n1 = f"dd_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_ann_drift(spark, in_dir), n1, output_mode="complete"
    )
    cents = kmeans_fit(
        spark.read.parquet(in_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    n2 = f"de_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_ann_drift(spark, in_dir, cents), n2,
        output_mode="complete",
    )
    a = {tuple(r) for r in spark.table(n1).collect()}
    b = {tuple(r) for r in spark.table(n2).collect()}
    assert a == b and a


def test_streaming_latest_state_tws_matches_batch(spark, sf_dir, stream_dir):
    """The transformWithStateInPandas rendition == batch
    cdc_latest_state under the same multi-file replay — the modern
    arbitrary-state API computes the identical keeper as the legacy
    applyInPandasWithState twin. Skips where the container lacks
    google.protobuf (the TWS state protocol's dependency — the
    documented environment gate)."""
    import pytest

    if not S.tws_available():
        pytest.skip("google.protobuf absent: TWS state protocol gated")
    from gis_etl_spark.ops.cdc import cdc_latest_state

    orders = read_table(spark, sf_dir, "orders")
    _split_into_files(orders, stream_dir, 8)

    name = f"tws_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_latest_state_tws(spark, stream_dir), name,
        output_mode="update",
    )
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby("o_custkey").tail(1)
    got = {
        int(r.o_custkey): (
            int(r.last_orderkey),
            r.last_status,
            float(r.last_totalprice),
            int(r.last_update_us),
        )
        for r in last.itertuples()
    }
    batch = cdc_latest_state(spark, sf_dir).withColumn(
        "us", F.unix_micros("last_update")
    )
    want = {
        r.o_custkey: (
            r.last_orderkey,
            r.last_status,
            r.last_totalprice,
            int(r.us),
        )
        for r in batch.collect()
    }
    assert got == want and got


def test_latest_state_tws_processor_logic():
    """The TWS processor's keeper logic, unit-tested against a fake
    typed-state handle (the integration is environment-gated on
    google.protobuf, so the semantics are pinned here): max
    (change_us, orderkey) keeper across slicings, state survives
    between batches, emitted row mirrors the state."""
    import pandas as pd

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, t):
            self.v = tuple(t)

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()

        def getValueState(self, name, schema):
            return self.state

    p = S._LatestStateTws()
    h = FakeHandle()
    p.init(h)

    def batch(rows):
        return pd.DataFrame(
            rows,
            columns=["o_orderkey", "o_orderstatus", "o_totalprice", "us"],
        )

    out1 = list(
        p.handleInputRows(
            (7,), iter([batch([(10, "O", 1.5, 100), (11, "F", 2.5, 90)])]),
            None,
        )
    )
    assert h.state.v == (100, 10, "O", 1.5)
    assert out1[0].iloc[0].tolist() == [7, 10, "O", 1.5, 100]
    # later batch with an older change: keeper unchanged; same-us
    # higher orderkey wins the tiebreak
    list(
        p.handleInputRows(
            (7,), iter([batch([(9, "P", 9.9, 50), (12, "X", 3.0, 100)])]),
            None,
        )
    )
    assert h.state.v == (100, 12, "X", 3.0)


# ---------------------------------------------------------------------------
# Checkpoint-restart receipts (VERDICT r14 item 1): stop a stream after
# draining HALF its input, restart a freshly-built query from the SAME
# checkpoint over the remaining files, and pin the combined final state
# == the batch twin. Structured Streaming's recovery contract has two
# halves — the file-source log (already-processed files are skipped on
# restart) and the state store (stateful aggs resume from saved state)
# — and these tests make both load-bearing: keys whose inputs straddle
# the restart boundary can only come out right if the resumed run
# loaded run-1 state instead of starting cold.
# ---------------------------------------------------------------------------


def _present(staged_dir, in_dir, names):
    """Move the named staged files into the live input dir (mtimes are
    preserved, keeping the file source's mtime-ascending pickup)."""
    os.makedirs(in_dir, exist_ok=True)
    for n in names:
        shutil.move(os.path.join(staged_dir, n), os.path.join(in_dir, n))


def test_streaming_latest_state_restarts_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """CDC compaction across a stop/restart: drain 4 of 8 changelog
    files, restart from the checkpoint over the other 4, and require
    the per-key final state to equal batch cdc_latest_state. Custkeys'
    changes straddle the boundary, so the resumed applyInPandasWithState
    keeper must have loaded run-1 state. Also pins sink idempotency: a
    third restart with NO new input emits no new micro-batch."""
    from gis_etl_spark.ops.cdc import cdc_latest_state

    orders = read_table(spark, sf_dir, "orders")
    staged = _stage_micro_batches(spark, orders, tmp_path, "cdc_staged", n=8)
    in_dir = str(tmp_path / "cdc_live")
    ckpt = str(tmp_path / "cdc_ckpt")
    out = str(tmp_path / "cdc_out")
    names = sorted(os.listdir(staged))

    _present(staged, in_dir, names[:4])
    S.run_checkpointed(S.streaming_latest_state(spark, in_dir), ckpt, out)

    _present(staged, in_dir, names[4:])
    # a FRESH builder + query object — the process-restart shape
    S.run_checkpointed(S.streaming_latest_state(spark, in_dir), ckpt, out)

    got = {
        r["o_custkey"]: (
            r["last_orderkey"],
            r["last_status"],
            float(r["last_totalprice"]),
            int(r["last_update_us"]),
        )
        for r in S.checkpointed_final_state(
            spark, out, ["o_custkey"]
        ).collect()
    }
    batch = cdc_latest_state(spark, sf_dir).withColumn(
        "us", F.unix_micros("last_update")
    )
    want = {
        r.o_custkey: (
            r.last_orderkey,
            r.last_status,
            r.last_totalprice,
            int(r.us),
        )
        for r in batch.collect()
    }
    assert got == want
    # straddle receipt: at least one custkey was emitted in BOTH runs
    # (so its final value provably went through resumed state)
    import re as _re

    bids = sorted(
        int(_re.search(r"_bid=(\d+)", d).group(1))
        for d in os.listdir(out)
        if d.startswith("_bid=")
    )
    assert len(bids) >= 2
    first = {
        r["o_custkey"]
        for r in spark.read.parquet(f"{out}/_bid={bids[0]}").collect()
    }
    later = {
        r["o_custkey"]
        for r in spark.read.parquet(f"{out}/_bid={bids[-1]}").collect()
    }
    assert first & later, "no key straddled the restart boundary"

    # idempotency receipt: restart with no new files → no new batches
    before = set(os.listdir(out))
    S.run_checkpointed(S.streaming_latest_state(spark, in_dir), ckpt, out)
    assert set(os.listdir(out)) == before


def test_streaming_ingest_curation_restarts_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """The ingest-curation twin across a stop/restart: originals drain
    in run 1, their exact duplicates (new ids) arrive after the
    restart. n_copies and the min-doc_id keeper for those hashes can
    only be right if run 2 resumed run-1 state (cold state would
    report n_copies=1 with the duplicate as keeper). Final state is
    pinned equal to an UNINTERRUPTED single-run drain of the same
    files on a fresh checkpoint."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    dupes = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    staged = _stage_micro_batches(
        spark, docs.unionAll(dupes), tmp_path, "cur_staged", n=2
    )
    names = sorted(os.listdir(staged))
    # file 0 = originals, file 1 = the injected duplicates (unionAll
    # preserves order through the row-slice staging)
    in_dir = str(tmp_path / "cur_live")
    ckpt = str(tmp_path / "cur_ckpt")
    out = str(tmp_path / "cur_out")

    _present(staged, in_dir, names[:1])
    S.run_checkpointed(S.streaming_ingest_curation(spark, in_dir), ckpt, out)
    _present(staged, in_dir, names[1:])
    S.run_checkpointed(S.streaming_ingest_curation(spark, in_dir), ckpt, out)

    got = {
        r["content_hash"]: (
            r["n_copies"], r["keep_id"], r["n_tokens"],
            r["q_ok"], r["pii_hits"], r["redacted_md5"],
        )
        for r in S.checkpointed_final_state(
            spark, out, ["content_hash"]
        ).collect()
    }

    # uninterrupted run over the same files, fresh checkpoint
    ckpt2 = str(tmp_path / "cur_ckpt2")
    out2 = str(tmp_path / "cur_out2")
    S.run_checkpointed(
        S.streaming_ingest_curation(spark, in_dir), ckpt2, out2
    )
    want = {
        r["content_hash"]: (
            r["n_copies"], r["keep_id"], r["n_tokens"],
            r["q_ok"], r["pii_hits"], r["redacted_md5"],
        )
        for r in S.checkpointed_final_state(
            spark, out2, ["content_hash"]
        ).collect()
    }
    assert got == want and got
    # the state-resumption receipt: duplicate hashes straddled the
    # restart, yet count both copies and keep the ORIGINAL id
    dup = {h: v for h, v in got.items() if v[0] > 1}
    assert dup and all(v[1] < 1_000_000 for v in dup.values())


def test_streaming_incremental_dedup_restarts_from_checkpoint(
    spark, tmp_path
):
    """Incremental snapshot-dedup across a stop/restart: the snapshot
    docs plus half the arriving increment drain in run 1, the other
    half after the restart; the combined pair set must equal the batch
    bipartite twin. Pins the file-source log (run 2 must NOT reprocess
    run-1 files — the snapshot-side cache is rebuilt but the stream
    side resumes) and the idempotent sink across restarts."""
    import time

    from gis_etl_spark.fixtures import ensure_documents_aug
    from gis_etl_spark.ops.dedup import (
        INC_MOD,
        INC_NEW_REM,
        incremental_dedup_pairs,
    )

    docs = spark.read.parquet(ensure_documents_aug())
    rows = docs.collect()
    snap_rows = [r for r in rows if r["doc_id"] % INC_MOD != INC_NEW_REM]
    new_rows = [r for r in rows if r["doc_id"] % INC_MOD == INC_NEW_REM]
    half = len(new_rows) // 2
    in_dir = str(tmp_path / "inc_live")
    os.makedirs(in_dir)

    def _write_flat(part, name, age):
        dst = os.path.join(in_dir, name)
        spark.createDataFrame(part, docs.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - age,) * 2)
        shutil.rmtree(dst + ".dir")

    # snapshot docs present from the start (the builder's static side
    # reads {input_dir}/*.parquet and filters to snapshot docs, so it
    # resolves identically in both runs); the increment splits 2/2
    _write_flat(snap_rows, "000.parquet", 100)
    _write_flat(new_rows[:half], "001.parquet", 90)

    ckpt = str(tmp_path / "inc_ckpt")
    out = str(tmp_path / "inc_out")
    S.run_checkpointed(
        S.streaming_incremental_dedup(spark, in_dir), ckpt, out
    )
    S.release_snapshot_caches()

    _write_flat(new_rows[half:], "002.parquet", 80)
    S.run_checkpointed(
        S.streaming_incremental_dedup(spark, in_dir), ckpt, out
    )
    S.release_snapshot_caches()

    got = {
        (r["new_id"], r["snap_id"]): (r["kind"], float(r["jaccard"]))
        for r in S.checkpointed_final_state(
            spark, out, ["new_id", "snap_id"]
        ).collect()
    }
    exp = {
        (r.new_id, r.snap_id): (r.kind, float(r.jaccard))
        for r in incremental_dedup_pairs(spark, None).collect()
    }
    assert got == exp
    # both runs contributed pairs (the restart boundary split real work)
    kinds = {k for k, _ in got.values()}
    assert kinds == {"exact", "fuzzy"}, kinds


def test_streaming_postings_build_matches_batch(spark, sf_dir, tmp_path):
    """Postings-on-arrival == the batch inverted-index tf pass: feed
    the documents in 3 micro-batches and require the final per-(token,
    doc_id) state to equal build_bm25_index's tf frame row-for-row
    (the count state is associative, so any slicing lands on the batch
    answer)."""
    from gis_etl_spark.ops.text import words_col

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    flat = _stage_micro_batches(spark, docs, tmp_path, "postings_in", n=3)

    name = f"post_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.streaming_postings_build(spark, flat), name, output_mode="update"
    )
    pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    last = pdf.groupby(["token", "doc_id"]).tail(1)
    got = {
        (r.token, int(r.doc_id)): int(r.tf) for r in last.itertuples()
    }
    want = {
        (r["token"], r["doc_id"]): r["tf"]
        for r in docs.filter(
            F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
        )
        .select(
            "doc_id", F.explode(words_col(F.col("text"))).alias("token")
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .collect()
    }
    assert got == want and got
    # multi-occurrence postings exist (tf really counts)
    assert any(v > 1 for v in got.values())


def test_streaming_funnel_restarts_from_checkpoint(spark, sf_dir, tmp_path):
    """Custom-state (applyInPandasWithState) restart receipt beyond
    the CDC keeper: the funnel stage machine drains the FIRST half of
    the timeline, stops, and resumes over the second half from the
    same checkpoint — final per-user state must equal an uninterrupted
    run, and at least one user must ADVANCE a stage across the restart
    boundary (provable only if the resumed run loaded run-1's
    (view, click, purchase) timestamps)."""
    import time

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    rows = sorted(ev.collect(), key=lambda r: r.ts)
    half = len(rows) // 2
    staged = str(tmp_path / "fnr_staged")
    os.makedirs(staged)
    for i, chunk in enumerate((rows[:half], rows[half:])):
        dst = os.path.join(staged, f"{i:03d}.parquet")
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dst + ".dir")
        src = glob.glob(os.path.join(dst + ".dir", "part-*.parquet"))[0]
        shutil.copy(src, dst)
        os.utime(dst, (time.time() - 100 + i * 10,) * 2)
        shutil.rmtree(dst + ".dir")

    in_dir = str(tmp_path / "fnr_live")
    ckpt = str(tmp_path / "fnr_ckpt")
    out = str(tmp_path / "fnr_out")
    names = sorted(os.listdir(staged))

    _present(staged, in_dir, names[:1])
    S.run_checkpointed(S.streaming_funnel(spark, in_dir), ckpt, out)
    _present(staged, in_dir, names[1:])
    S.run_checkpointed(S.streaming_funnel(spark, in_dir), ckpt, out)

    got = {
        r["user_id"]: (r["stage"], r["view_us"], r["delta_us"])
        for r in S.checkpointed_final_state(
            spark, out, ["user_id"]
        ).collect()
    }

    ckpt2 = str(tmp_path / "fnr_ckpt2")
    out2 = str(tmp_path / "fnr_out2")
    S.run_checkpointed(S.streaming_funnel(spark, in_dir), ckpt2, out2)
    want = {
        r["user_id"]: (r["stage"], r["view_us"], r["delta_us"])
        for r in S.checkpointed_final_state(
            spark, out2, ["user_id"]
        ).collect()
    }
    assert got == want and got

    # resumed-state receipt: some user RE-EMITTED in run 2 carries a
    # first-view timestamp older than every run-2 event — a cold
    # restart would have re-anchored view_us at a run-2 timestamp
    import re as _re

    bids = sorted(
        int(_re.search(r"_bid=(\d+)", d).group(1))
        for d in os.listdir(out)
        if d.startswith("_bid=")
    )
    assert len(bids) >= 2
    run2_min_us = (
        spark.read.parquet(os.path.join(in_dir, names[1]))
        .agg(F.min(F.unix_micros("ts")))
        .collect()[0][0]
    )
    later = {
        r["user_id"]: r["view_us"]
        for r in spark.read.parquet(f"{out}/_bid={bids[-1]}").collect()
        if r["view_us"] is not None
    }
    carried = [u for u, v in later.items() if v < run2_min_us]
    assert carried, "no run-2 emission carried run-1 state"


def test_streaming_postings_build_restarts_on_rocksdb(spark, sf_dir, tmp_path):
    """Checkpoint recovery across the ROCKSDB state store — the
    provider the index-sized postings twin runs on in production
    (SCALE.md r15): drain half the corpus, stop, restart from the same
    checkpoint over the rest, and require the combined output to equal
    the batch tf frame. A (token, doc) posting lives in one file, so
    the pinned properties are the ones a RocksDB restart can actually
    break: the resumed query must LOAD the RocksDB snapshot (a broken
    recovery fails the restart outright), skip run-1 files via the
    source log, and not lose or duplicate run-1 postings through the
    idempotent sink. Provider conf restored afterwards."""
    from gis_etl_spark.ops.text import words_col

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    staged = _stage_micro_batches(spark, docs, tmp_path, "pbr_staged", n=2)
    names = sorted(os.listdir(staged))
    in_dir = str(tmp_path / "pbr_live")
    ckpt = str(tmp_path / "pbr_ckpt")
    out = str(tmp_path / "pbr_out")

    KEY = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(KEY, None)
    spark.conf.set(
        KEY,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        _present(staged, in_dir, names[:1])
        S.run_checkpointed(
            S.streaming_postings_build(spark, in_dir), ckpt, out
        )
        _present(staged, in_dir, names[1:])
        S.run_checkpointed(
            S.streaming_postings_build(spark, in_dir), ckpt, out
        )
    finally:
        if prev is None:
            spark.conf.unset(KEY)
        else:
            spark.conf.set(KEY, prev)

    got = {
        (r["token"], r["doc_id"]): r["tf"]
        for r in S.checkpointed_final_state(
            spark, out, ["token", "doc_id"]
        ).collect()
    }
    want = {
        (r["token"], r["doc_id"]): r["tf"]
        for r in docs.filter(
            F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
        )
        .select(
            "doc_id", F.explode(words_col(F.col("text"))).alias("token")
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .collect()
    }
    assert got == want and got


# ---------------------------------------------------------------------------
# Crash-injection receipts (VERDICT r15 item 4): the graceful-stop
# restart tests above never exercise the per-batch-id overwrite — the
# actual exactly-once mechanism of run_checkpointed — on a REPLAYED
# batch. These tests fail the sink mid-write (a PARTIAL batch
# directory is on disk when the query dies), restart from the same
# checkpoint, and pin that the replayed batch id overwrites its
# partial output and the final state still equals an uninterrupted
# drain. One test per sink-consuming state machinery: native
# streaming agg (ingest_curation) and applyInPandasWithState
# (latest_state).
# ---------------------------------------------------------------------------


def _inject_sink_crash(monkeypatch):
    """Patch S._sink_write to, on its FIRST invocation only, write a
    1-row PARTIAL batch directory and then die — the mid-write crash
    whose replay the per-batch-id overwrite must absorb. Returns the
    dict that records the crashed batch id."""
    rec = {}
    real = S._sink_write

    def failing(bdf, bid, out_dir):
        if "bid" not in rec:
            rec["bid"] = bid
            bdf.limit(1).write.mode("overwrite").parquet(
                f"{out_dir}/_bid={bid}"
            )
            raise RuntimeError("injected mid-write crash")
        real(bdf, bid, out_dir)

    monkeypatch.setattr(S, "_sink_write", failing)
    return rec, real


def test_run_checkpointed_replays_partial_batch_native_agg(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Replayed-batch receipt on the native-agg machinery: run 1
    drains the originals cleanly; run 2's batch (the duplicates) dies
    AFTER writing a 1-row partial _bid dir; the restart replays that
    batch id, overwrites the partial dir with the full emission, and
    the final state equals an uninterrupted drain — duplicate hashes
    still count both copies with the original id as keeper."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    dupes = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    staged = _stage_micro_batches(
        spark, docs.unionAll(dupes), tmp_path, "crash_staged", n=2
    )
    names = sorted(os.listdir(staged))
    in_dir = str(tmp_path / "crash_live")
    ckpt = str(tmp_path / "crash_ckpt")
    out = str(tmp_path / "crash_out")

    _present(staged, in_dir, names[:1])
    S.run_checkpointed(S.streaming_ingest_curation(spark, in_dir), ckpt, out)

    _present(staged, in_dir, names[1:])
    rec, real = _inject_sink_crash(monkeypatch)
    with pytest.raises(Exception):
        S.run_checkpointed(
            S.streaming_ingest_curation(spark, in_dir), ckpt, out
        )
    assert "bid" in rec, "the injected crash never fired"
    bid = rec["bid"]
    # the partial write is on disk — the crash state a restart inherits
    assert spark.read.parquet(f"{out}/_bid={bid}").count() == 1

    monkeypatch.setattr(S, "_sink_write", real)
    S.run_checkpointed(S.streaming_ingest_curation(spark, in_dir), ckpt, out)
    # the SAME batch id was replayed and overwrote its partial output
    replayed = spark.read.parquet(f"{out}/_bid={bid}").count()
    assert replayed > 1, (bid, replayed)

    got = {
        r["content_hash"]: (r["n_copies"], r["keep_id"])
        for r in S.checkpointed_final_state(
            spark, out, ["content_hash"]
        ).collect()
    }
    ckpt2 = str(tmp_path / "crash_ckpt2")
    out2 = str(tmp_path / "crash_out2")
    S.run_checkpointed(
        S.streaming_ingest_curation(spark, in_dir), ckpt2, out2
    )
    want = {
        r["content_hash"]: (r["n_copies"], r["keep_id"])
        for r in S.checkpointed_final_state(
            spark, out2, ["content_hash"]
        ).collect()
    }
    assert got == want and got
    dup = {h: v for h, v in got.items() if v[0] > 1}
    assert dup and all(v[1] < 1_000_000 for v in dup.values())


def test_run_checkpointed_replays_partial_batch_custom_state(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The same replayed-batch receipt on applyInPandasWithState
    (the CDC latest-state keeper): crash mid-write on run 2's first
    batch, restart, and pin per-key final state == batch
    cdc_latest_state — keys straddling the crash can only be right if
    the replay went through resumed state AND the partial emission
    was overwritten, never double-kept."""
    from gis_etl_spark.ops.cdc import cdc_latest_state

    orders = read_table(spark, sf_dir, "orders")
    staged = _stage_micro_batches(
        spark, orders, tmp_path, "crash2_staged", n=8
    )
    names = sorted(os.listdir(staged))
    in_dir = str(tmp_path / "crash2_live")
    ckpt = str(tmp_path / "crash2_ckpt")
    out = str(tmp_path / "crash2_out")

    _present(staged, in_dir, names[:4])
    S.run_checkpointed(S.streaming_latest_state(spark, in_dir), ckpt, out)

    _present(staged, in_dir, names[4:])
    rec, real = _inject_sink_crash(monkeypatch)
    with pytest.raises(Exception):
        S.run_checkpointed(S.streaming_latest_state(spark, in_dir), ckpt, out)
    assert "bid" in rec
    bid = rec["bid"]
    assert spark.read.parquet(f"{out}/_bid={bid}").count() == 1

    monkeypatch.setattr(S, "_sink_write", real)
    S.run_checkpointed(S.streaming_latest_state(spark, in_dir), ckpt, out)
    assert spark.read.parquet(f"{out}/_bid={bid}").count() > 1

    got = {
        r["o_custkey"]: (
            r["last_orderkey"], r["last_status"],
            float(r["last_totalprice"]), int(r["last_update_us"]),
        )
        for r in S.checkpointed_final_state(
            spark, out, ["o_custkey"]
        ).collect()
    }
    batch = cdc_latest_state(spark, sf_dir).withColumn(
        "us", F.unix_micros("last_update")
    )
    want = {
        r.o_custkey: (
            r.last_orderkey, r.last_status, r.last_totalprice, int(r.us),
        )
        for r in batch.collect()
    }
    assert got == want and got
