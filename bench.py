"""Benchmark harness — the driver runs this per round and records the
single JSON line it prints as BENCH_r{N}.json.

Covers the engine's three workload families at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- relational: TPC-H-shaped scans/joins/aggs/windows on the driver
  tables (sf-scaled);
- geometry: the reference's signature pipeline on a 200k-row
  buildings fixture — full convert (clean/reproject/flip), grid
  heatmap, Hilbert-clustered compaction write;
- north-star: MinHash dedup, brute-force + LSH similarity, text
  quality scan.

Each timing is end-to-end (plan + execute + materialize). Output:
{"metric": "suite_wall_sec", "value": N, "unit": "sec",
 "queries": {...}, "sf": 0.1}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from gis_etl_spark.queries import REGISTRY
from gis_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GEO_BENCH_ROWS = 200_000
# crossover arm: scale the funnel corpus this many× (replica-suffixed
# words — replicas are NOT near-dups) so the full flags rebuild pays a
# genuinely larger pair graph while the increment stays ~1%. Measured
# ladder (local[32]): 1× rebuild wins (fixed job latencies), 8× ≈ tie,
# 24× increment wins ~1.3× — the wall-clock crossover the structural
# claim predicts.
XOVER_REPLICAS = 24

# a broken operator records an error row here instead of killing the
# run (r9: one ImportError in the streaming section discarded ~2,650
# stages of completed measurements — BENCH_r09.json was rc=1/parsed
# null). Every error surfaces in the artifacts line + local file.
ERRORS: dict[str, str] = {}

# every entry the noise gate re-measured: name → [first-pass wall,
# re-measured wall] (the recorded timing is the min of the two). Goes
# to the local record only; the stdout lines are unchanged.
REMEASURED: dict[str, list[float]] = {}
NOISE_GATE_FACTOR = 1.3


def noise_gate_suspects(
    timings: dict[str, float], prior: dict[str, float]
) -> list[str]:
    """Entries whose first-pass wall exceeds NOISE_GATE_FACTOR × their
    prior-round record (entries with no positive prior never are)."""
    return sorted(
        k
        for k, v in timings.items()
        if prior.get(k, 0) > 0 and v > NOISE_GATE_FACTOR * prior[k]
    )


def _flush_partial(
    timings: dict[str, float], artifacts: dict[str, int], done: str
) -> None:
    """Incremental artifact write: after every section the local record
    is replaced, so a crash (even SIGKILL) loses at most one section."""
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local_latest.json"
    )
    # tmp + os.replace: a SIGKILL mid-write (the exact scenario this
    # incremental flush exists to survive) must not leave a truncated
    # artifact — same discipline as the fixture writers.
    tmp_path = full_path + ".tmp"
    with open(tmp_path, "w") as f:
        json.dump(
            {
                "metric": "suite_wall_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": _sf_from_dir(SF_DIR),
                "artifacts": artifacts,
                "errors": ERRORS,
                "remeasured": REMEASURED,
                "progress": done,
            },
            f,
            indent=1,
        )
    os.replace(tmp_path, full_path)

# Hard budget for the FINAL stdout line: the driver records only the
# last ~2,000 bytes of stdout and parses the last line — r4 cut a fat
# line mid-JSON and r10's full-queries line came back parsed:null.
# Unit-tested in tests/test_cli.py against pathological inputs.
FINAL_LINE_BUDGET = 1800


def compact_final_line(
    timings: dict[str, float],
    sections: dict[str, list[str]],
    sf: float,
    errors: dict[str, str],
    prior_names: tuple[str, ...] = (),
) -> str:
    """The driver-facing summary line: suite wall + per-section sums +
    as many top-wall queries as fit, shrunk ITERATIVELY under
    FINAL_LINE_BUDGET so it can never outgrow the driver's stdout tail
    window (full detail lives in the repo artifact and an earlier,
    sacrificial stdout line).

    ``prior_names`` (r19, VERDICT r18 item 7): queries the PREVIOUS
    round's recorded line reported are kept first when the budget
    forces truncation — otherwise every query that merely got FASTER
    falls below the top-wall cutoff and the round-over-round diff
    manufactures phantom "dropped_from_bench" entries (7 in r18, five
    of them improvements). Ordering inside each group stays wall-desc;
    the shrink loop and budget are unchanged."""
    compact: dict = {
        "metric": "suite_wall_sec",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "sections": {
            s: round(sum(timings[k] for k in ks if k in timings), 2)
            for s, ks in sections.items()
            if ks
        },
    }
    if errors:
        # keys truncated too: a pathological section name must cost
        # bytes proportionally, not evict the query timings below
        compact["errors"] = {
            k[:40]: v[:80] for k, v in list(errors.items())[:5]
        }
    prior = [k for k in timings if k in set(prior_names)]
    rest = [k for k in timings if k not in set(prior_names)]
    by_wall = sorted(prior, key=timings.get, reverse=True) + sorted(
        rest, key=timings.get, reverse=True
    )
    keep = len(by_wall)
    while True:
        compact["queries"] = {
            k: round(timings[k], 2) for k in by_wall[:keep]
        }
        if keep < len(by_wall):
            compact["queries_omitted"] = len(by_wall) - keep
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= FINAL_LINE_BUDGET or keep == 0:
            break
        keep = max(
            0, keep - max(1, (len(line) - FINAL_LINE_BUDGET) // 30)
        )
    if len(line) > FINAL_LINE_BUDGET:
        # last resort (a pathological errors dict): the headline
        # metric still must reach the driver
        compact.pop("errors", None)
        compact["queries"] = {}
        line = json.dumps(compact, separators=(",", ":"))
    return line


# contract queries timed end-to-end through a noop sink (a count()
# would let Catalyst prune computed columns out of SELECT-shaped
# queries — the export queries' UDF columns would never run)
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "top3_orders_per_customer",
    "events_hourly_rollup",
    "sessionize_events",
    "text_quality_scores",
    "asof_click_view",
    "interval_error_activity",
    "dedup_minhash_pairs",
    "dedup_embedding_lsh",
    "similarity_topk",
    "similarity_ann_lsh",
    "training_data_prep",
    "text_repetition",
    "mixture_sample",
    "multimodal_features",
    "h3_parent_rollup",
    "points_in_polygons",
    "geo_heatmap_export",
    "hex_heatmap_export",
    # round-4 session 2: TPC-H completion + span dedup + PQ rerank,
    # event analytics, LM-scoring/BPE, per-source cap, geometry area
    "q13_order_count_distribution",
    "q21_waiting_suppliers",
    "dedup_spans",
    "similarity_pq_rerank",
    "funnel_events",
    "events_rolling_anomaly",
    "cohort_retention",
    "source_cap_sample",
    "text_unigram_surprisal",
    "bpe_segment_stats",
    "geo_area_stats",
    "geo_tile_census",
    "geo_geohash_census",
    "training_data_prep_v2",
    "similarity_ivfpq",
    # round-4 session 3: SemDeDup, CDC pack, exact-int PageRank,
    # scale-safe global deciles
    "semdedup",
    "cdc_latest_state",
    "scd2_intervals",
    "pagerank_trade",
    "quality_deciles",
    "multimodal_ahash_groups",
    "event_pattern_match",
    "supplier_copurchase_pairs",
    "spatial_nearest_neighbor",
    "multimodal_ahash_near_pairs",
    "geo_haversine_span",
    "geo_spatial_clusters",
    # round 5: hub-cap audit for the (now enforced) co-purchase cap
    "supplier_copurchase_audit",
    # round 8 session 2: Bloom-pruned semi-join, interval-dim lookup,
    # RAG chunking
    "bloom_semi_orders",
    "price_band_revenue",
    "document_chunks",
    # round 10: chunk-level dedup, KMV sketch, triangle census,
    # champion-list inverted index, hash-sampled quantiles
    "chunk_dedup_groups",
    "kmv_distinct_customers",
    "copurchase_triangles",
    "inverted_index_topk",
    "sampled_price_quantiles",
    "heavy_hitter_tokens",
    "weighted_sample_docs",
    "customer_name_ed1_pairs",
    "embedding_int8_stats",
    # round 11: int8-ADC serving, chunk-level + fuzzy decontamination,
    # leakage-safe splits
    "similarity_int8_adc",
    "chunk_decontaminate",
    "fuzzy_decontaminate",
    "leakage_safe_splits",
    "cms_token_counts",
    "bpe_fertility_by_lang",
    # round 12: IVFADC+R rerank rung, incremental corpus-snapshot dedup
    "similarity_ivfpq_rerank",
    "incremental_dedup_pairs",
    "similarity_hard_negatives",
    "corpus_dup_ngram_fraction",
    "kmv_source_overlap",
    "asof_click_view_tolerance",
    "source_data_card",
    # round 13: sketch-only KMV (the deployable plan, no exact audit),
    # IVFPQ index served from persisted bucketed tables, canonical
    # keeper policy per near-dup cluster
    "kmv_overlap_sketch",
    "similarity_ivfpq_serve",
    "dedup_canonical_keepers",
    "dedup_cluster_stats",
    "mixture_temperature_weights",
    "mixture_token_plan",
    "pii_redact",
    # round 14: keeper policy applied (data-card delta), quota draw,
    # span-level PII audit, the composed curation funnel, and the
    # always-on ANN drift monitor
    "dedup_apply_keepers",
    "mixture_draw_plan",
    "mixture_draw_split",
    "pii_spans",
    "corpus_build_funnel",
    "ann_drift_stat",
    "bm25_topk",
    "cdc_merge_apply",
    # round 15: champion-list-pruned BM25 (same oracle as bm25_topk —
    # the hash match is the exactness proof) and the ordered
    # multi-batch MERGE (compaction + one merge)
    "bm25_topk_pruned",
    "bm25_topk_stored",
    "bm25_stats_drift",
    "bm25_topk_after_append",
    "cdc_merge_apply_log",
    # round 16: the incremental-funnel contract query (frozen-history
    # probes; its full-rebuild economics land as flags_*_ms
    # artifacts), its displacement-risk operating monitor, and the
    # stored-snapshot dedup probe (same oracle as the in-plan rung)
    "corpus_flags_increment",
    "flags_increment_risk",
    "incremental_dedup_pairs_stored",
    # round 17: the remediation the risk monitor schedules — targeted
    # re-derive of exactly the affected merged components, patched
    # over the frozen flags (oracle = full re-derive over base ∪ risky
    # increment, increment ids + changed base ids)
    "corpus_flags_rederive",
]


def _materialize(df) -> None:
    """Execute the FULL plan including select-only computed columns."""
    df.write.format("noop").mode("overwrite").save()


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _geo_benches(
    spark, artifacts: dict[str, int], archival: bool = True
) -> dict[str, float]:
    """Reference-pipeline benches on the 200k buildings fixture
    (FIXTURES.md scale ladder: large enough that clustering effects and
    Arrow-batch throughput dominate, not job setup)."""
    import glob

    from gis_etl_spark.fixtures import ensure_buildings
    from gis_etl_spark.layout.geohex import hex_export_arrow
    from gis_etl_spark.pipelines import buildings as B

    bpath, _ = ensure_buildings(GEO_BENCH_ROWS)
    src = spark.read.parquet(bpath)
    out: dict[str, float] = {}

    def steady(label: str, fn) -> None:
        # warm once (Python worker fork, Arrow serializer init, codegen),
        # then report the MIN of two timed runs — same policy as the
        # HEADLINE loop; a single post-warm run still carries JIT
        # tiering noise (measured ±40% on q1)
        try:
            fn()
            t0 = time.time()
            fn()
            t1 = time.time()
            fn()
            out[label] = round(min(t1 - t0, time.time() - t1), 3)
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS[label] = f"{type(e).__name__}: {e}"[:300]

    steady("geo_heatmap_200k", lambda: B.heatmap(src).count())

    # icosahedral hex heatmap: fused WKB→centroid→cell Arrow kernel
    # (one Python hop), exact near-uniform-area cells at ~lattice cost
    steady("hex_heatmap_200k", lambda: B.hex_heatmap(src).count())

    # hex export at 200k source rows (~20k cells): fused Arrow
    # center+boundary pass; sum(length) defeats column pruning.
    # r19: respread the cell aggregate to cluster width before the
    # boundary kernel — AQE coalesced the ~20k-cell frame to ONE
    # partition and the export Arrow UDF ran as a single 2.2 s task
    # (same fix as the registry hex_heatmap_export; the benched
    # computation is unchanged, the kernel just runs cluster-wide).
    steady(
        "hex_heatmap_export_200k",
        lambda: B.hex_heatmap(src)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("exp", hex_export_arrow(F.col("cell"), 7))
        .agg(F.sum(F.length("exp.boundary"))).collect(),
    )

    # sum(length(geom)) forces the transform/flip UDFs to materialize —
    # count() would let Catalyst prune every geometry column
    steady(
        "geo_convert_200k",
        lambda: B.convert(src).agg(F.sum(F.length("geom"))).collect(),
    )

    # Hilbert key computation, both implementations, on the narrow
    # (key-only) shape where the comparison is meaningful. Runs BEFORE
    # the merge writes: round 2 benched it right after an 88 s ZSTD-22
    # write and measured 10.6 s for a chain that runs in <1 s on a quiet
    # JVM — heavy-write memory churn pollutes whatever follows, so the
    # write benches go last.
    keyed_narrow = B.with_centroid(src).select(
        F.col("centroid").getField("y").alias("cy"),
        F.col("centroid").getField("x").alias("cx"),
    )
    from gis_etl_spark.layout.sfc import with_hilbert_key_native

    steady(
        "hilbert_native_narrow_200k",
        lambda: with_hilbert_key_native(
            keyed_narrow, F.col("cy"), F.col("cx")
        ).agg(F.max("hkey")).collect(),
    )

    tmp = tempfile.mkdtemp(prefix="bench_merge_")
    try:
        runs = iter(("warm", "t1", "t2"))  # steady() = warm + 2 timed

        def merge_once() -> None:
            B.merge_compact(
                src.filter(F.col("geom").isNotNull()),
                os.path.join(tmp, next(runs)),
                max_records_per_file=50_000,
            )

        def tree_bytes(sub: str) -> int:
            return sum(
                os.path.getsize(f)
                for f in glob.glob(os.path.join(tmp, sub, "part-*"))
            )

        # fast path: default ZSTD level 3 — the hot intermediate-write
        # configuration (round-2's level-22 default cost 56× here).
        steady("geo_merge_compact_200k", merge_once)
        artifacts["merge_compact_bytes_200k"] = tree_bytes("t2")

        # archival path: the reference's ZSTD level 22 final sink
        # (east_asia.py:79-82). Single run on a 50k-row slice — the
        # point of this entry is recording the CPU-vs-bytes trade
        # (~17× write CPU for ~14% fewer bytes). The SECONDS are
        # host-clock sensitive (measured 20-36 s run-to-run on one
        # single-shot level-22 write, commit 746e753), so they are
        # recorded as an ARTIFACT annotated `_sec_variable` and kept
        # OUT of the suite wall / per-query timings — the bytes are
        # the stable, comparable control.
        if archival:
            t0 = time.time()
            B.merge_compact_archival(
                src.filter(F.col("geom").isNotNull()).limit(50_000),
                os.path.join(tmp, "archival"),
                max_records_per_file=50_000,
            )
            artifacts["merge_compact_archival_50k_sec_variable"] = int(
                round(time.time() - t0)
            )
            artifacts["merge_compact_archival_bytes_50k"] = tree_bytes(
                "archival"
            )
            # compression/clustering envelope vs the reference's one
            # hard number (81 GB -> 14 GB, BASELINE.md): the SAME keyed
            # 50k slice written at the archival policy (zstd-22,
            # ~15k-row groups) clustered vs unclustered, then the
            # standard 1-degree bbox probe counted in prunable row
            # groups via parquet min/max stats on the sort key.
            try:
                _compression_envelope(spark, src, tmp, tree_bytes, artifacts)
            except Exception as e:  # noqa: BLE001 — bench must survive
                ERRORS["compression_envelope"] = (
                    f"{type(e).__name__}: {e}"[:300]
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _compression_envelope(
    spark, src, tmp: str, tree_bytes, artifacts: dict[str, int]
) -> None:
    """clustered_bytes / unclustered_bytes / rg_pruned artifacts
    (VERDICT r9 item 6). Both trees carry identical columns (hkey
    included) at the identical writer policy — the ONLY difference is
    the Hilbert sort — so the byte delta is the clustering effect on
    zstd's context, and the row-group delta is the locality effect."""
    import glob

    import pyarrow.parquet as _pq

    from gis_etl_spark.io import ZSTD_ARCHIVAL_LEVEL, write_clustered_parquet
    from gis_etl_spark.pipelines.buildings import with_centroid, with_hilbert_key

    keyed = with_hilbert_key(
        src.filter(F.col("geom").isNotNull()).limit(50_000)
    )
    # 20 output splits either way (range-partitioned on hkey vs round-
    # robin) so both trees expose the same stats granularity to the
    # pruning probe; a single 50k-row file would hide the locality win
    # behind 3-5 coarse row groups
    write_clustered_parquet(
        keyed,
        os.path.join(tmp, "env_clustered"),
        sort_col="hkey",
        num_files=20,
        zstd_level=ZSTD_ARCHIVAL_LEVEL,
    )
    write_clustered_parquet(
        keyed.repartition(20),
        os.path.join(tmp, "env_unclustered"),
        sort_col=None,
        zstd_level=ZSTD_ARCHIVAL_LEVEL,
    )
    artifacts["clustered_bytes"] = tree_bytes("env_clustered")
    artifacts["unclustered_bytes"] = tree_bytes("env_unclustered")

    # standard bbox probe: the 1°×1° cell at the corpus median centroid
    # → its [min, max] hkey envelope (conservative interval hull), then
    # count row groups a stats-pruning scan could skip in each layout
    pts = with_centroid(keyed.select("geom", "hkey")).select(
        "hkey",
        F.col("centroid").getField("x").alias("cx"),
        F.col("centroid").getField("y").alias("cy"),
    )
    mx, my = (
        pts.approxQuantile("cx", [0.5], 0.01)[0],
        pts.approxQuantile("cy", [0.5], 0.01)[0],
    )
    x0, y0 = float(int(mx)), float(int(my))
    box = pts.filter(
        F.col("cx").between(x0, x0 + 1.0) & F.col("cy").between(y0, y0 + 1.0)
    ).agg(F.min("hkey").alias("lo"), F.max("hkey").alias("hi")).collect()[0]
    qlo, qhi = box["lo"], box["hi"]
    for sub in ("env_clustered", "env_unclustered"):
        spans = []
        for fpath in glob.glob(os.path.join(tmp, sub, "part-*.parquet")):
            md = _pq.ParquetFile(fpath).metadata
            sch = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            ci = sch["hkey"]
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                spans.append((st.min, st.max))
        tag = sub.replace("env_", "")
        artifacts[f"rg_total_{tag}"] = len(spans)
        artifacts[f"rg_pruned_{tag}"] = sum(
            1 for s, e in spans if e < qlo or s > qhi
        )


def _source_benches(spark, artifacts: dict[str, int]) -> dict[str, float]:
    """Binary-source decode throughput at realistic feature counts
    (VERDICT r7 item 2: the contract fixtures are 26/56-row — decode
    rate was unmeasured while the reference's workload is 358
    Shapefiles / 281M features). Full Spark path: binaryFile scan →
    mapInPandas decode → geometry materialized (sum(length) defeats
    pruning). features/s and input bytes land in artifacts."""
    import glob

    from gis_etl_spark.fixtures import ensure_filegdb, ensure_shapefiles
    from gis_etl_spark.sources.filegdb import read_filegdb
    from gis_etl_spark.sources.shapefile import read_shapefile

    out: dict[str, float] = {}

    def decode_bench(label: str, scan, nbytes: int) -> None:
        try:
            n_feat = scan()  # warm
            t0 = time.time()
            scan()
            t1 = time.time()
            scan()
            dt = min(t1 - t0, time.time() - t1)
            out[label] = round(dt, 3)
            artifacts[f"{label}_features"] = n_feat
            artifacts[f"{label}_bytes"] = nbytes
            artifacts[f"{label}_features_per_sec"] = int(n_feat / dt)
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS[label] = f"{type(e).__name__}: {e}"[:300]

    shp_dir, _ = ensure_shapefiles(100_000)
    shp_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(shp_dir, "*.shp"))
    )

    def shp_scan() -> int:
        df = read_shapefile(spark, os.path.join(shp_dir, "*.shp"))
        return df.agg(
            F.count("*").alias("n"), F.sum(F.length("geom"))
        ).collect()[0]["n"]

    decode_bench("shp_decode_100k", shp_scan, shp_bytes)

    # ONE nationwide-style .shp: without the r8 .shx-chunked scan this
    # is a single serial task no matter the cluster
    from gis_etl_spark.fixtures import ensure_shapefile_single

    single = ensure_shapefile_single(100_000)

    def shp_single_scan() -> int:
        df = read_shapefile(spark, single, chunk_records=8_192)
        return df.agg(
            F.count("*").alias("n"), F.sum(F.length("geom"))
        ).collect()[0]["n"]

    decode_bench(
        "shp_decode_single_100k", shp_single_scan, os.path.getsize(single)
    )

    gdb_dir, _ = ensure_filegdb(100_000)
    gdb_bytes = sum(
        os.path.getsize(os.path.join(gdb_dir, f))
        for f in os.listdir(gdb_dir)
    )

    def gdb_scan() -> int:
        df = read_filegdb(spark, gdb_dir)
        return df.agg(
            F.count("*").alias("n"), F.sum(F.length("Shape"))
        ).collect()[0]["n"]

    decode_bench("gdb_decode_100k", gdb_scan, gdb_bytes)
    return out


def _streaming_benches(spark, artifacts: dict[str, int]) -> dict[str, float]:
    """Micro-benches for the stateful streaming twins — the
    incremental forms a 100 TB ingest actually runs. Timed as one
    availableNow drain of the full sf table through a memory sink
    (plan + state store + upserts, end-to-end); rows/s and final state
    size (rows of per-key state) land in artifacts so the 'state stays
    bounded' claim carries numbers."""
    from gis_etl_spark.io import read_table
    from gis_etl_spark.pipelines import streaming as S

    out: dict[str, float] = {}
    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        ev = read_table(spark, SF_DIR, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        ev_dir = os.path.join(tmp, "events_in")
        # 8 input files ≈ 8 micro-batch partitions of arriving data
        ev.repartition(8).write.mode("overwrite").parquet(ev_dir)
        n_ev = spark.read.parquet(ev_dir).count()

        # sacrificial warm drains: the FIRST streaming query of a
        # session pays one-time micro-batch/state-store machinery init
        # (measured 3.0 s vs 1.2 s steady on the same tiny drain, r8)
        # that would otherwise be booked to whichever twin runs first —
        # warm both state flavors (applyInPandasWithState + native agg)
        warm_dir = os.path.join(tmp, "warm_in")
        ev.limit(200).coalesce(1).write.mode("overwrite").parquet(warm_dir)
        S.run_to_memory(S.streaming_sessionize(spark, warm_dir), "bench_w1")
        wdoc_dir = os.path.join(tmp, "warm_docs")
        read_table(spark, SF_DIR, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).limit(200).coalesce(1).write.mode("overwrite").parquet(wdoc_dir)
        S.run_to_memory(S.streaming_exact_dedup(spark, wdoc_dir), "bench_w2")

        def timed(label, drain, n_rows, state_fn) -> None:
            # one broken twin records an error row; the rest still bench
            try:
                t0 = time.time()
                drain()
                dt = time.time() - t0
                out[label] = round(dt, 3)
                artifacts[f"{label}_rows_per_sec"] = int(n_rows / dt)
                state_key, state_val = state_fn()
                artifacts[f"{label}_{state_key}"] = state_val
            except Exception as e:  # noqa: BLE001 — bench must survive
                ERRORS[label] = f"{type(e).__name__}: {e}"[:300]
            finally:
                # each memory sink pins its full result set in driver/
                # executor memory for the rest of the suite — a real
                # slice of the per-twin suite tax the fresh floors
                # exposed. Drop sinks once their state is read.
                for t in spark.catalog.listTables():
                    if t.isTemporary and t.name.startswith("bench_"):
                        spark.catalog.dropTempView(t.name)

        timed(
            "streaming_sessionize",
            lambda: S.run_to_memory(
                S.streaming_sessionize(spark, ev_dir), "bench_sess"
            ),
            n_ev,
            lambda: (
                "state_rows",
                spark.table("bench_sess").select("user_id")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_event_dedup",
            lambda: S.run_to_memory(
                S.streaming_event_dedup(spark, ev_dir), "bench_evdd",
                output_mode="append",
            ),
            n_ev,
            lambda: ("out_rows", spark.table("bench_evdd").count()),
        )

        # dedup twins get a ×10 duplication-pressure corpus (doc_ids
        # remapped per replica, text unchanged): 5k unique rows mostly
        # measured micro-batch setup, not throughput, and dedup-on-
        # arrival's whole point is heavy duplicate traffic against
        # BOUNDED state (state_rows stays == distinct hashes/spans
        # while rows processed grow 10×)
        docs = read_table(spark, SF_DIR, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        rep = spark.range(10).crossJoin(docs).select(
            (F.col("doc_id") + F.col("id") * F.lit(10_000_000)).alias(
                "doc_id"
            ),
            "text", "lang", "source", "n_chars",
        )
        docs_dir = os.path.join(tmp, "docs_in")
        rep.repartition(8).write.mode("overwrite").parquet(docs_dir)
        n_docs = spark.read.parquet(docs_dir).count()

        timed(
            "streaming_exact_dedup",
            lambda: S.run_to_memory(
                S.streaming_exact_dedup(spark, docs_dir), "bench_dd"
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_dd").select("content_hash")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_span_dedup",
            lambda: S.run_to_memory(
                S.streaming_span_dedup(spark, docs_dir), "bench_sd"
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_sd").select("span").distinct().count(),
            ),
        )

        timed(
            "streaming_chunk_dedup",
            lambda: S.run_to_memory(
                S.streaming_chunk_dedup(spark, docs_dir), "bench_cd"
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_cd").select("chunk_md5")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_chunk_decontaminate",
            lambda: S.run_to_memory(
                S.streaming_chunk_decontaminate(spark, docs_dir),
                "bench_cdc",
                output_mode="update",
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_cdc").select("doc_id", "chunk_idx")
                .distinct().count(),
            ),
        )

        # postings-on-arrival drains through the DURABLE foreachBatch
        # parquet sink (run_checkpointed), not a memory sink, and keeps
        # its state in ROCKSDB: the state IS the inverted index
        # (~1.2M rows at this rig — an order of magnitude beyond the
        # dedup twins), and both the memory sink and the in-heap
        # HDFSBackedStateStore OOM the 1g driver (measured). This is
        # also the twin's honest production shape: off-heap state,
        # each micro-batch landing in the index table.
        pb_ck = os.path.join(tmp, "pb_ck")
        pb_out = os.path.join(tmp, "pb_out")
        _SS_KEY = "spark.sql.streaming.stateStore.providerClass"
        _ss_prev = spark.conf.get(_SS_KEY, None)

        def _drain_pb() -> None:
            spark.conf.set(
                _SS_KEY,
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
            try:
                S.run_checkpointed(
                    S.streaming_postings_build(spark, docs_dir),
                    pb_ck,
                    pb_out,
                    output_mode="update",
                )
            finally:
                if _ss_prev is None:
                    spark.conf.unset(_SS_KEY)
                else:
                    spark.conf.set(_SS_KEY, _ss_prev)

        timed(
            "streaming_postings_build",
            _drain_pb,
            n_docs,
            lambda: (
                "state_rows",
                spark.read.option("basePath", pb_out)
                .parquet(f"{pb_out}/_bid=*")
                .select("token", "doc_id")
                .distinct()
                .count(),
            ),
        )

        timed(
            "streaming_cms_cells",
            lambda: S.run_to_memory(
                S.streaming_cms_cells(spark, docs_dir),
                "bench_cms",
                output_mode="update",
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_cms").select("r", "b")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_heavy_hitters",
            lambda: S.run_to_memory(
                S.streaming_heavy_hitter_candidates(spark, docs_dir),
                "bench_hh",
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_hh").select("bucket", "token")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_minhash_dedup",
            lambda: S.run_to_memory(
                S.streaming_minhash_dedup(spark, docs_dir), "bench_mh"
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_mh").select("band_idx", "band_key")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_pii_redact",
            lambda: S.run_to_memory(
                S.streaming_pii_redact(spark, docs_dir), "bench_pii",
                output_mode="append",
            ),
            n_docs,
            lambda: (
                "redacted_docs",
                spark.table("bench_pii")
                .filter("len_delta != 0").count(),
            ),
        )

        timed(
            "streaming_ingest_curation",
            lambda: S.run_to_memory(
                S.streaming_ingest_curation(spark, docs_dir),
                "bench_cur",
                output_mode="update",
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_cur").select("content_hash")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_incremental_dedup",
            lambda: S.run_to_memory(
                S.streaming_incremental_dedup(spark, docs_dir),
                "bench_inc",
                output_mode="update",
            ),
            n_docs,
            lambda: (
                "state_rows",
                spark.table("bench_inc").select("new_id", "snap_id")
                .distinct().count(),
            ),
        )
        # the drained query no longer needs its cached snapshot frames
        S.release_snapshot_caches()

        timed(
            "streaming_funnel",
            lambda: S.run_to_memory(
                S.streaming_funnel(spark, ev_dir), "bench_fn"
            ),
            n_ev,
            lambda: (
                "state_rows",
                spark.table("bench_fn").select("user_id")
                .distinct().count(),
            ),
        )

        timed(
            "streaming_rolling_anomaly",
            lambda: S.run_to_memory(
                S.streaming_rolling_anomaly(spark, ev_dir), "bench_an",
                output_mode="append",
            ),
            n_ev,
            lambda: ("flags", spark.table("bench_an").count()),
        )

        orders = read_table(spark, SF_DIR, "orders")
        ord_dir = os.path.join(tmp, "orders_in")
        orders.repartition(8).write.mode("overwrite").parquet(ord_dir)
        n_ord = spark.read.parquet(ord_dir).count()

        timed(
            "streaming_latest_state",
            lambda: S.run_to_memory(
                S.streaming_latest_state(spark, ord_dir), "bench_cdc"
            ),
            n_ord,
            lambda: (
                "state_rows",
                spark.table("bench_cdc").select("o_custkey")
                .distinct().count(),
            ),
        )

        # drift-monitor twin: shifted embeddings against the FROZEN
        # codebook (memoized; the ANN section trains it anyway) —
        # state is K_KMEANS rows total however much arrives
        from gis_etl_spark.ops.similarity import _coarse_codebook

        cents = _coarse_codebook(spark, SF_DIR)
        emb_dir = os.path.join(tmp, "emb_in")
        (
            read_table(spark, SF_DIR, "embeddings")
            .select(
                "vec_id",
                F.expr(
                    "cast(transform(cast(embedding as array<double>),"
                    " x -> x + 0.5D) as array<float>)"
                ).alias("embedding"),
                "label",
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(emb_dir)
        )
        n_emb = spark.read.parquet(emb_dir).count()
        timed(
            "streaming_ann_drift",
            lambda: S.run_to_memory(
                S.streaming_ann_drift(spark, emb_dir, cents),
                "bench_drift",
                output_mode="complete",
            ),
            n_emb,
            lambda: (
                "state_rows",
                spark.table("bench_drift").count(),
            ),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _scale_benches(
    spark, artifacts: dict[str, int], quick: bool = False
) -> dict[str, float]:
    """bloom_semi_join on a NON-broadcastable dim (VERDICT r9 item 7 /
    r8 item 7): broadcast disabled for the section so both twins face
    the plan a too-big-to-broadcast dim forces at 100 TB — the plain
    semi-join shuffles every fact row into a sort-merge join; the Bloom
    path shuffles only prune survivors (true matches + false
    positives). The candidate count IS the fact-side shuffle volume, so
    the reduction factor lands in artifacts alongside both wall times
    and an equality check of the two results."""
    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.scale import bloom_prune, bloom_semi_join

    out: dict[str, float] = {}
    orders = read_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # selective dim: one nation's customers (~4% of orders match) — the
    # shape where Bloom pruning pays; a 50% dim would cap the win at 2x
    dim = read_table(spark, SF_DIR, "customer").filter(
        F.col("c_nationkey") == 7
    )

    conf_keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {}
    for k in conf_keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            saved[k] = None
        spark.conf.set(k, "-1")
    try:
        n_fact = orders.count()
        artifacts["bloom_semi_fact_rows"] = n_fact
        artifacts["bloom_semi_dim_rows"] = dim.count()

        plain = orders.join(
            dim.select(F.col("c_custkey").alias("_vkey")).distinct(),
            orders["o_custkey"] == F.col("_vkey"),
            "left_semi",
        )
        bloom = bloom_semi_join(orders, dim, "o_custkey", "c_custkey")

        def steady(label: str, fn) -> None:
            try:
                fn()
                t0 = time.time()
                fn()
                t1 = time.time()
                fn()
                out[label] = round(min(t1 - t0, time.time() - t1), 3)
            except Exception as e:  # noqa: BLE001 — bench must survive
                ERRORS[label] = f"{type(e).__name__}: {e}"[:300]

        steady("plain_semi_bigdim", plain.count)
        steady("bloom_semi_bigdim", bloom.count)

        n_cand = bloom_prune(orders, dim, "o_custkey", "c_custkey").count()
        n_match = bloom.count()
        artifacts["bloom_semi_candidate_rows"] = n_cand
        artifacts["bloom_semi_match_rows"] = n_match
        artifacts["bloom_semi_shuffle_reduction_x"] = (
            int(n_fact / n_cand) if n_cand else -1
        )
        if n_match != plain.count():
            ERRORS["bloom_semi_equivalence"] = (
                f"bloom={n_match} plain rows differ"
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # heavy hitters: the aggregation-state story — a plain groupBy
    # carries |vocab| through the shuffle; the MG candidate pass ships
    # ≤ k rows per partition and the verify shuffle carries only
    # candidate-key rows. Record vocab vs candidates.
    try:
        from gis_etl_spark.ops.text import HH_FRAC, words_col
        from gis_etl_spark.ops.scale import heavy_hitters

        docs = read_table(spark, SF_DIR, "documents")
        toks = docs.select(
            F.explode(words_col(F.col("text"))).alias("token")
        )
        hh_stats: dict[str, int] = {}
        t0 = time.time()
        n_hh = heavy_hitters(toks, "token", HH_FRAC, stats=hh_stats).count()
        out["heavy_hitters_tokens"] = round(time.time() - t0, 3)
        artifacts["hh_vocab_keys"] = toks.distinct().count()
        artifacts["hh_candidate_keys"] = hh_stats["candidate_keys"]
        artifacts["hh_result_keys"] = n_hh
        artifacts["hh_total_rows"] = hh_stats["total_rows"]

        # the documents vocabulary is tiny by construction, so the
        # candidate bound can't show there; the high-cardinality twin
        # (l_partkey: |vocab| ~ 2k/sf0.001 … 200k/sf0.1) is where the
        # MG cap pays — candidates ≤ k·P regardless of vocab, and the
        # exact verify proves the (correct) empty answer: no part is
        # 5% of a uniform TPC-H lineitem
        li_keys = read_table(spark, SF_DIR, "lineitem").select(
            F.col("l_partkey").cast("string").alias("pk")
        )
        pk_stats: dict[str, int] = {}
        t0 = time.time()
        n_pk = heavy_hitters(li_keys, "pk", 0.05, stats=pk_stats).count()
        out["heavy_hitters_partkey"] = round(time.time() - t0, 3)
        artifacts["hh_partkey_vocab"] = li_keys.distinct().count()
        artifacts["hh_partkey_candidates"] = pk_stats["candidate_keys"]
        artifacts["hh_partkey_result"] = n_pk
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["heavy_hitters_tokens"] = f"{type(e).__name__}: {e}"[:300]

    # BM25 pruning receipt: postings the champion rung actually
    # touches (champion lists + unsafe queries' full postings) vs the
    # full scorer's posting union, and how many queries the θ>UB bound
    # discharged for — the WAND-style reduction bm25_topk_pruned buys.
    try:
        from gis_etl_spark.ops.text import bm25_prune_stats

        ps = bm25_prune_stats(spark, SF_DIR)
        artifacts["bm25_total_postings"] = ps["total_postings"]
        artifacts["bm25_champion_postings"] = ps["champion_postings"]
        artifacts["bm25_safe_queries"] = len(ps["safe_query_ids"])
        artifacts["bm25_pruned_postings_pct"] = int(ps["touched_pct"])
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["bm25_prune_stats"] = f"{type(e).__name__}: {e}"[:300]

    # Stored BM25 index: build cost + artifact footprint (the text
    # mirror of ann_index_build_ms — the once-per-corpus price every
    # bm25_topk_stored query batch amortizes).
    try:
        from urllib.parse import urlparse as _urlparse2

        from gis_etl_spark.ops.text import bm25_index_tables, build_bm25_index

        names = bm25_index_tables(SF_DIR)
        for t_ in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
        t0 = time.time()
        build_bm25_index(spark, SF_DIR)
        artifacts["bm25_index_build_ms"] = int((time.time() - t0) * 1000)
        wh = _urlparse2(spark.conf.get("spark.sql.warehouse.dir", "")).path
        for role, t_ in names.items():
            artifacts[f"bm25_index_{role}_rows"] = spark.table(t_).count()
            loc = os.path.join(wh, t_.lower())
            if os.path.isdir(loc):
                artifacts[f"bm25_index_{role}_bytes"] = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _dns, fns in os.walk(loc)
                    for f in fns
                )
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["bm25_index_build"] = f"{type(e).__name__}: {e}"[:300]

    # BM25 frozen-stats staleness, quantified (the text analog of the
    # ANN recall-after-append pair): append the deterministic drift
    # increment IN-PLAN (stored ∪ delta — the shared table is not
    # mutated mid-suite), serve the same query workload, and measure
    # per-query top-k agreement against a full fresh-stats rebuild
    # over the augmented corpus. The df-drift trigger the operating
    # rule charts lands next to it.
    try:
        from gis_etl_spark.io import read_table as _rt
        from gis_etl_spark.ops.text import (
            BM25_DRIFT_MOD,
            BM25_NTERMS,
            BM25_TOPK,
            STOPWORDS,
            _bm25_delta_postings,
            _bm25_per_term_score,
            _bm25_serve_from,
            bm25_stats_drift,
            bm25_index_tables,
            words_col,
        )
        from pyspark.sql import Window as _W

        names = bm25_index_tables(SF_DIR)
        docs = _rt(spark, SF_DIR, "documents").select("doc_id", "text")
        delta_docs = docs.filter(
            F.col("doc_id") % BM25_DRIFT_MOD == 0
        ).select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
        delta = _bm25_delta_postings(spark, names, delta_docs)
        append_serve = _bm25_serve_from(
            spark.table(names["postings"]).unionByName(delta),
            spark.table(names["stats"]),
        )
        got_append = {}
        for r in append_serve.collect():
            got_append.setdefault(r["query_id"], set()).add(r["doc_id"])

        # fresh-stats rebuild over the augmented corpus, SAME query
        # workload (the frozen qterms tokens — queries belong to the
        # user, not the index)
        qtok = (
            spark.table(names["stats"])
            .filter(~F.col("token").isin(*STOPWORDS))
            .orderBy(F.desc("corpus_tf"), F.asc("token"))
            .limit(BM25_NTERMS)
            .select(
                "token",
                F.row_number()
                .over(_W.orderBy(F.desc("corpus_tf"), F.asc("token")))
                .alias("trk"),
            )
            .select(
                "token",
                F.expr("cast((trk - 1) div 2 as bigint)").alias("query_id"),
            )
        )
        aug = docs.unionByName(delta_docs)
        terms = aug.select(
            "doc_id", F.explode(words_col(F.col("text"))).alias("token")
        )
        tf = terms.groupBy("token", "doc_id").agg(
            F.count("*").cast("long").alias("tf")
        )
        dl = terms.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("dl")
        )
        fresh_stats = tf.groupBy("token").agg(
            F.countDistinct("doc_id").cast("long").alias("df")
        )
        fresh_corpus = dl.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").alias("n_tokens"),
        )
        scored = (
            tf.join(F.broadcast(qtok), "token")
            .join(fresh_stats, "token")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(fresh_corpus))
            .select(
                "query_id", "doc_id",
                _bm25_per_term_score().alias("sc"),
            )
            .groupBy("query_id", "doc_id")
            .agg(
                F.floor(F.sum("sc") * F.lit(1e6) + F.lit(0.5)).alias(
                    "u"
                )
            )
        )
        wq = _W.partitionBy("query_id").orderBy(
            F.desc("u"), F.asc("doc_id")
        )
        got_rebuild = {}
        for r in (
            scored.withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= BM25_TOPK)
            .collect()
        ):
            got_rebuild.setdefault(r["query_id"], set()).add(r["doc_id"])
        common_q = sorted(set(got_append) & set(got_rebuild))
        if common_q:
            agree = [
                100
                * len(got_append[q] & got_rebuild[q])
                / max(len(got_rebuild[q]), 1)
                for q in common_q
            ]
            artifacts["bm25_agreement_after_append_pct"] = int(
                sum(agree) / len(agree)
            )
        drift_rows = bm25_stats_drift(spark, SF_DIR).collect()
        artifacts["bm25_df_drift_max_x1000"] = max(
            r["df_drift_x1000"] for r in drift_rows
        )

        # The full drift→probe→decide loop (VERDICT r15 item 3 — the
        # ANN ann_rebuild_triggered pattern applied to the text
        # index): the monitor fires at the pinned df-drift trigger,
        # the agreement probe above is consulted, and the decision
        # lands on the cheap rung (minor compaction: frozen-stats
        # ranking still agrees with a fresh rebuild) or the expensive
        # one (full rebuild: the frozen stats themselves mis-rank).
        # In production the probe runs only when the monitor fires.
        from gis_etl_spark.ops.text import (
            BM25_AGREEMENT_REBUILD_T,
            BM25_DRIFT_TRIGGER_X1000,
        )

        fired = int(
            artifacts["bm25_df_drift_max_x1000"]
            >= BM25_DRIFT_TRIGGER_X1000
        )
        artifacts["bm25_drift_monitor_fired"] = fired
        ap = artifacts.get("bm25_agreement_after_append_pct")
        if fired and ap is not None:
            rebuild = int(ap < BM25_AGREEMENT_REBUILD_T)
            artifacts["bm25_rebuild_triggered"] = rebuild
            artifacts["bm25_compact_triggered"] = int(not rebuild)
            artifacts["bm25_rebuild_decision_margin_pts"] = (
                ap - BM25_AGREEMENT_REBUILD_T
            )
        else:
            artifacts["bm25_rebuild_triggered"] = 0
            artifacts["bm25_compact_triggered"] = 0
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["bm25_append_drift"] = f"{type(e).__name__}: {e}"[:300]

    if quick:
        # noise-gate rerun: re-time the timed entries only — the
        # dashboard/footprint blocks below are artifacts, not timings,
        # and re-running 7 retrieval collects + 2 parquet writes would
        # just burn suite wall that inflates the NEXT round's numbers
        return out

    # Incremental-funnel economics (VERDICT r15 item 5): flagging the
    # deterministic increment against FROZEN history (snapshot probes,
    # no history re-derive) vs re-deriving every doc's flags over
    # base ∪ increment from scratch — the dedup/ANN/BM25 refresh story
    # applied to the curation funnel, measured.
    try:
        import tempfile as _tmpf

        from gis_etl_spark.ops import corpus as CB
        from gis_etl_spark.ops.corpus import _flagged_docs
        from gis_etl_spark.ops.dedup import _docs as _ddocs

        from gis_etl_spark.ops.dedup import (
            build_dedup_snapshot,
            dedup_snapshot_tables,
        )

        docs = _ddocs(spark)
        inc = CB.increment_docs(docs)
        # one-time history indexing cost (amortized across increments
        # — the build_bm25_index economics applied to the snapshot)
        names = dedup_snapshot_tables(None, "full")
        for t_ in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
        t0 = time.time()
        build_dedup_snapshot(spark, SF_DIR, None, "full")
        artifacts["flags_snapshot_build_ms"] = int(
            (time.time() - t0) * 1000
        )
        t0 = time.time()
        artifacts["flags_increment_rows"] = CB.increment_curation_flags(
            spark, SF_DIR, inc, use_stored_snapshot=True
        ).count()
        artifacts["flags_increment_ms"] = int((time.time() - t0) * 1000)

        aug_path = os.path.join(
            _tmpf.mkdtemp(prefix="flags_aug_"), "docs.parquet"
        )
        docs.unionByName(inc).write.mode("overwrite").parquet(aug_path)
        t0 = time.time()
        artifacts["flags_full_rebuild_rows"] = _flagged_docs(
            spark, SF_DIR, aug_path
        ).count()
        artifacts["flags_full_rebuild_ms"] = int(
            (time.time() - t0) * 1000
        )

        # the monitor's decision loop (the ann/bm25 rebuild pattern
        # applied to the funnel): displacement-risk census over the
        # risky canary → full re-derive scheduled iff any increment
        # doc would out-rank history or bridge existing clusters
        row = CB.flags_increment_risk(spark, SF_DIR).collect()[0]
        artifacts["flags_risk_dup_pairs"] = int(row["n_dup_pairs"])
        artifacts["flags_risk_risky_docs"] = int(row["n_risky_docs"])
        artifacts["flags_risk_bridging_docs"] = int(
            row["n_bridging_docs"]
        )
        artifacts["flags_risk_chained_docs"] = int(row["n_chained_docs"])
        artifacts["flags_rederive_triggered"] = int(
            row["n_risky_docs"]
            + row["n_bridging_docs"]
            + row["n_chained_docs"]
            > 0
        )
        # r17: the trigger's remediation EXECUTED — targeted re-derive
        # of only the affected merged components (VERDICT r16 item 3),
        # measured next to the full rebuild it replaces
        if artifacts["flags_rederive_triggered"]:
            inc_risky = CB.increment_docs_risky(docs)
            t0 = time.time()
            artifacts["flags_rederive_rows"] = (
                CB.rederive_risky_component_flags(
                    spark, SF_DIR, inc_risky
                ).count()
            )
            artifacts["flags_rederive_ms"] = int(
                (time.time() - t0) * 1000
            )
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["flags_increment"] = f"{type(e).__name__}: {e}"[:300]

    # Increment-vs-rebuild CROSSOVER (VERDICT r16 item 2): at fixture
    # scale ~15 fixed job latencies dominate a 620-doc corpus and the
    # increment path honestly loses; this arm scales the SAME corpus
    # {XOVER_REPLICAS}× (replica-suffixed words, so replicas are not
    # near-dups of each other and the pair graph grows proportionally)
    # with a ~1% verbatim-recrawl increment, and measures the frozen-
    # history increment flags against the full re-derive — the
    # wall-clock demonstration of the structural claim.
    try:
        import shutil as _shutil
        import tempfile as _tmpf

        from gis_etl_spark.ops import corpus as CB
        from gis_etl_spark.ops.corpus import _flagged_docs
        from gis_etl_spark.ops.dedup import _docs as _ddocs

        scratch = _tmpf.mkdtemp(prefix="flags_xover_")
        base0 = _ddocs(spark)
        reps = []
        for k in range(XOVER_REPLICAS):
            suffixed = F.concat_ws(
                " ",
                F.transform(
                    F.split(F.trim("text"), " +"),
                    lambda w: F.concat(w, F.lit(f"_{k}")),
                ),
            )
            reps.append(
                base0.select(
                    (F.col("doc_id") + k * 400_000).alias("doc_id"),
                    suffixed.alias("text"),
                    "lang",
                    "source",
                    F.length(suffixed)
                    .cast(base0.schema["n_chars"].dataType)
                    .alias("n_chars"),
                )
            )
        big = reps[0]
        for r in reps[1:]:
            big = big.unionByName(r)
        big_path = os.path.join(scratch, "base.parquet")
        big.write.mode("overwrite").parquet(big_path)
        big = spark.read.parquet(big_path)
        # +15M offset: base ids reach ~9.5M at 24 replicas — the
        # increment must stay disjoint
        inc_x = big.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 15_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        artifacts["flags_xover_base_docs"] = big.count()
        artifacts["flags_xover_inc_docs"] = inc_x.count()

        from gis_etl_spark.ops.dedup import build_dedup_snapshot

        t0 = time.time()
        build_dedup_snapshot(spark, SF_DIR, big_path, "full")
        artifacts["flags_xover_snapshot_build_ms"] = int(
            (time.time() - t0) * 1000
        )
        t0 = time.time()
        CB.increment_curation_flags(
            spark, SF_DIR, inc_x, docs_path=big_path,
            use_stored_snapshot=True,
        ).count()
        artifacts["flags_xover_increment_ms"] = int(
            (time.time() - t0) * 1000
        )
        aug_path = os.path.join(scratch, "aug.parquet")
        big.unionByName(inc_x).write.mode("overwrite").parquet(aug_path)
        t0 = time.time()
        _flagged_docs(spark, SF_DIR, aug_path).count()
        artifacts["flags_xover_full_rebuild_ms"] = int(
            (time.time() - t0) * 1000
        )
        # remediation at the same scale: a RISKY ~1% increment (the
        # appended-token recipe) drives the targeted component
        # re-derive against the 24× snapshot — measured next to the
        # rebuild above (their honest fixture-scale pair is
        # flags_rederive_ms / flags_full_rebuild_ms)
        extra = F.concat(
            F.lit(" zq"), F.col("doc_id").cast("string"),
            F.lit("a zq"), F.col("doc_id").cast("string"),
            F.lit("b zq"), F.col("doc_id").cast("string"), F.lit("c"),
        )
        rt = F.concat(F.col("text"), extra)
        inc_r = big.filter(F.col("doc_id") % 97 == 1).select(
            (F.col("doc_id") + 15_000_000).alias("doc_id"),
            rt.alias("text"),
            "lang",
            "source",
            F.length(rt)
            .cast(big.schema["n_chars"].dataType)
            .alias("n_chars"),
        )
        t0 = time.time()
        artifacts["flags_xover_rederive_rows"] = (
            CB.rederive_risky_component_flags(
                spark, SF_DIR, inc_r, docs_path=big_path
            ).count()
        )
        artifacts["flags_xover_rederive_ms"] = int(
            (time.time() - t0) * 1000
        )
        # the xover snapshot is keyed to a per-run temp path — drop its
        # managed tables so repeated bench runs don't accumulate
        # orphaned warehouse directories
        from gis_etl_spark.ops.dedup import dedup_snapshot_tables

        for t_ in dedup_snapshot_tables(big_path, "full").values():
            spark.sql(f"DROP TABLE IF EXISTS {t_}")
        _shutil.rmtree(scratch, ignore_errors=True)
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["flags_xover"] = f"{type(e).__name__}: {e}"[:300]

    # ANN quality dashboard: recall@TOPK of every retrieval variant vs
    # its own metric's brute-force ground truth (cosine for the
    # hyperplane/IVF family, L2 for the PQ/int8 family), measured at
    # the bench SF each round — the retrieval stack's quality and its
    # cost (the timed entries above) land in one artifact set.
    try:
        import numpy as np
        import pyarrow.parquet as pq

        from gis_etl_spark.ops import similarity as SIM

        t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
        ids = np.asarray(t["vec_id"])
        V = np.array(t["embedding"].to_pylist(), dtype="f8")
        order = np.argsort(ids)
        ids, V = ids[order], V[order]
        norms = np.sqrt((V * V).sum(axis=1))
        brute_cos, brute_l2 = set(), set()
        for q in range(SIM.N_QUERIES):
            qi = int(np.searchsorted(ids, q))
            cos = (V @ V[qi]) / (norms * norms[qi])
            d2 = ((V - V[qi]) ** 2).sum(axis=1)
            cand_c = sorted(
                (-cos[j], int(ids[j])) for j in range(len(ids))
                if ids[j] != q
            )[: SIM.TOPK]
            cand_d = sorted(
                (d2[j], int(ids[j])) for j in range(len(ids))
                if ids[j] != q
            )[: SIM.TOPK]
            brute_cos.update((q, v) for _, v in cand_c)
            brute_l2.update((q, v) for _, v in cand_d)
        variants = {
            "ann_recall_lsh": (SIM.similarity_ann_lsh, brute_cos),
            "ann_recall_ivf": (SIM.similarity_ivf, brute_cos),
            "ann_recall_ivf_kmeans": (
                SIM.similarity_ivf_kmeans, brute_cos,
            ),
            "ann_recall_pq_adc": (SIM.similarity_pq_adc, brute_l2),
            "ann_recall_pq_rerank": (SIM.similarity_pq_rerank, brute_l2),
            "ann_recall_ivfpq": (SIM.similarity_ivfpq, brute_l2),
            "ann_recall_ivfpq_rerank": (
                SIM.similarity_ivfpq_rerank, brute_l2,
            ),
            "ann_recall_ivfpq_serve": (
                SIM.similarity_ivfpq_serve, brute_l2,
            ),
            "ann_recall_int8_adc": (SIM.similarity_int8_adc, brute_l2),
        }
        for label, (fn, truth) in variants.items():
            try:
                got = {
                    (r["query_id"], r["neighbor_id"])
                    for r in fn(spark, SF_DIR).collect()
                }
                artifacts[f"{label}_pct"] = int(
                    100 * len(got & truth) / len(truth)
                )
            except Exception as e:  # noqa: BLE001 — bench must survive
                ERRORS[label] = f"{type(e).__name__}: {e}"[:300]

        # IVFPQ+R quality/cost frontier (VERDICT r12 item 4): recall@k
        # and candidate volume across (n_probe × shortlist R), recorded
        # per round so the pinned knee (N_PROBE, IVFPQ_RERANK_R) stays
        # an informed choice. Findings at pin time: candidate volume is
        # probe-determined; recall is shortlist-capped (r=50 → 70%
        # regardless of probes; r=100 → 90% at n_probe=2).
        try:
            for p in (2, 8):
                approx = SIM._ivfpq_adc_units(spark, SF_DIR, n_probe=p)
                artifacts[f"ann_frontier_ivfpq_p{p}_cand_rows"] = (
                    approx.count()
                )
                for r in (50, 100, 200):
                    got = {
                        (row["query_id"], row["neighbor_id"])
                        for row in SIM._rerank_exact(
                            spark, SF_DIR, approx, r=r
                        ).collect()
                    }
                    artifacts[f"ann_frontier_ivfpq_p{p}_r{r}_pct"] = int(
                        100 * len(got & brute_l2) / len(brute_l2)
                    )
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS["ann_frontier"] = f"{type(e).__name__}: {e}"[:300]

        # Index BUILD cost + stored footprint (VERDICT r13 item 4):
        # the unmeasured half of the append-vs-rebuild cadence story.
        # Training memos are cleared first so the number is a genuine
        # cold rebuild (train coarse + PQ, encode, write bucketed),
        # not just the encode+write tail. Also records which path the
        # suite's serve entries actually used (a silent fallback would
        # show up here as 0, not just in pytest).
        try:
            from urllib.parse import urlparse as _urlparse

            from gis_etl_spark.io import forget

            names = SIM.ivfpq_index_tables(SF_DIR)
            for t_ in names.values():
                spark.sql(f"DROP TABLE IF EXISTS {t_}")
            forget("kmeans", "ivfpq")
            t0 = time.time()
            SIM.build_ivfpq_index(spark, SF_DIR)
            artifacts["ann_index_build_ms"] = int(
                (time.time() - t0) * 1000
            )
            wh = _urlparse(
                spark.conf.get("spark.sql.warehouse.dir", "")
            ).path
            for role, t_ in names.items():
                artifacts[f"ann_index_{role}_rows"] = (
                    spark.table(t_).count()
                )
                loc = os.path.join(wh, t_.lower())
                if os.path.isdir(loc):
                    artifacts[f"ann_index_{role}_bytes"] = sum(
                        os.path.getsize(os.path.join(dp, f))
                        for dp, _dns, fns in os.walk(loc)
                        for f in fns
                    )
            artifacts["ann_serve_path_stored"] = {
                "stored": 1, "fallback": 0,
            }.get(SIM.SERVE_PATH_USED, -1)
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS["ann_index_build"] = f"{type(e).__name__}: {e}"[:300]

        # Recall-after-append under DRIFT (VERDICT r13 item 7): append
        # a mean-shifted increment against the FROZEN quantizers and
        # measure recall@TOPK on queries targeting the increment, vs
        # the full-retrain path on the same augmented corpus — the
        # quantitative trigger for 'when is append no longer enough'.
        # The increment's codes are built with the exact map-only
        # encode append_to_ivfpq_index uses (byte-identical per the
        # r13 receipt test) but unioned in-plan so the shared stored
        # table isn't mutated mid-suite. The query's own drifted clone
        # is excluded on both sides (it would be a free rank-1 hit).
        try:
            DRIFT = 0.5
            OFF = 20_000_000
            emb_df = SIM._emb(spark, SF_DIR).select("vec_id", "v")
            inc = emb_df.select(
                (F.col("vec_id") + OFF).alias("vec_id"),
                F.transform(
                    "v", lambda x: x + F.lit(DRIFT)
                ).alias("v"),
            )
            qd = inc.filter(
                F.col("vec_id") < OFF + SIM.N_QUERIES
            ).select((F.col("vec_id") - OFF).alias("vec_id"), "v")
            combined = emb_df.unionByName(inc)

            # brute-force truth over the augmented corpus (numpy V/ids
            # from the dashboard block above)
            Vc = np.vstack([V, V + DRIFT])
            ids_c = np.concatenate([ids, ids + OFF])
            truth_drift = set()
            for q in range(SIM.N_QUERIES):
                qi = int(np.searchsorted(ids, q))
                qv = V[qi] + DRIFT
                d2 = ((Vc - qv) ** 2).sum(axis=1)
                cand = sorted(
                    (d2[j], int(ids_c[j]))
                    for j in range(len(ids_c))
                    if ids_c[j] != q and ids_c[j] != q + OFF
                )[: SIM.TOPK]
                truth_drift.update((q, v) for _, v in cand)

            def _drift_recall(cents, cbs, codes) -> int:
                approx = SIM._ivfpq_probe_adc(
                    spark, qd, codes, cents, cbs
                ).filter(F.col("vec_id") != F.col("query_id") + OFF)
                got = {
                    (r["query_id"], r["neighbor_id"])
                    for r in SIM._rerank_exact(
                        spark, SF_DIR, approx,
                        r=SIM.IVFPQ_RERANK_R,
                        emb=combined, queries=qd,
                    ).collect()
                }
                return int(
                    100 * len(got & truth_drift) / len(truth_drift)
                )

            cents, cbs = SIM._load_ivfpq_index(spark, names)
            inc_codes = SIM._residuals(inc, cents).select(
                "vec_id",
                "list_id",
                F.posexplode(SIM.pq_codes_col(cbs)).alias("m", "code"),
            )
            codes_aug = spark.table(names["codes"]).unionByName(
                inc_codes
            )
            artifacts["ann_recall_after_append_pct"] = _drift_recall(
                cents, cbs, codes_aug
            )

            cents2 = SIM.kmeans_fit(combined)
            res2 = SIM._residuals(combined, cents2)
            cbs2 = SIM.pq_fit(res2.select("vec_id", "v"))
            codes2 = res2.select(
                "vec_id",
                "list_id",
                F.posexplode(SIM.pq_codes_col(cbs2)).alias("m", "code"),
            )
            artifacts["ann_recall_after_rebuild_pct"] = _drift_recall(
                cents2, cbs2, codes2
            )
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS["ann_drift"] = f"{type(e).__name__}: {e}"[:300]

        # The FULL drift→probe→rebuild loop a production operator
        # pages on (VERDICT r14 item 7): run the always-on monitor on
        # the drifted increment, fire when the corpus-weighted drift
        # ratio crosses the pinned DRIFT_TRIGGER_X1000, consult the
        # recall probe (the two artifacts above), and record the
        # decision + its three inputs. In production the probe runs
        # ONLY when the monitor fires — here it ran above for its own
        # artifacts; this block is the decision wiring.
        try:
            ds = SIM.ann_drift_stat(spark, SF_DIR).collect()
            tn = sum(r["n_train"] for r in ds)
            tu = sum(r["err_units_train"] for r in ds)
            inn = sum(r["n_inc"] for r in ds)
            iu = sum(r["err_units_inc"] for r in ds)
            agg = (
                ((iu // inn) * 1000) // (tu // tn)
                if tn and inn and tu // tn > 0
                else 0
            )
            artifacts["ann_drift_agg_x1000"] = int(agg)
            fired = int(agg >= SIM.DRIFT_TRIGGER_X1000)
            artifacts["ann_drift_monitor_fired"] = fired
            ap = artifacts.get("ann_recall_after_append_pct")
            rb = artifacts.get("ann_recall_after_rebuild_pct")
            if fired and ap is not None and rb is not None:
                gap = rb - ap
                artifacts["ann_rebuild_decision_gap_pts"] = gap
                artifacts["ann_rebuild_triggered"] = int(
                    gap >= SIM.RECALL_REBUILD_GAP_PTS
                )
            else:
                artifacts["ann_rebuild_triggered"] = 0
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS["ann_rebuild_loop"] = f"{type(e).__name__}: {e}"[:300]
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["ann_recall"] = f"{type(e).__name__}: {e}"[:300]

    # int8 serving footprint: the memory-bound claim behind
    # similarity_int8_adc, measured — the same corpus written as raw
    # float64 vectors vs packed int8 codes (the ADC-resident form),
    # compression off so the bytes are the representations, not zstd.
    try:
        import pandas as pd

        from gis_etl_spark.ops.similarity import _emb

        emb = _emb(spark, SF_DIR).select("vec_id", "v")
        ex = emb.select(
            "vec_id", F.posexplode("v").alias("dim", "x")
        )
        rng = ex.groupBy("dim").agg(
            F.min("x").alias("mn"), F.max("x").alias("mx")
        )
        mnmx = {r["dim"]: (r["mn"], r["mx"]) for r in rng.collect()}
        import numpy as np

        mn_arr = np.array([mnmx[d][0] for d in sorted(mnmx)])
        scale_arr = np.array(
            [
                (mnmx[d][1] - mnmx[d][0]) / 255.0 or 1.0
                for d in sorted(mnmx)
            ]
        )

        def _pack_fn(v):
            if len(v) == 0:
                return pd.Series([], dtype="object")
            X = np.array(v.tolist(), dtype="f8")
            codes = np.rint((X - mn_arr) / scale_arr).astype(np.uint8)
            return pd.Series([c.tobytes() for c in codes])

        _pack = F.pandas_udf(_pack_fn, "binary")

        def _bytes(df, sub):
            path = os.path.join(tmp_i8, sub)
            df.write.mode("overwrite").option(
                "compression", "none"
            ).parquet(path)
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )

        tmp_i8 = tempfile.mkdtemp(prefix="bench_int8_")
        try:
            artifacts["int8_float64_bytes"] = _bytes(emb, "f64")
            artifacts["int8_codes_bytes"] = _bytes(
                emb.select("vec_id", _pack("v").alias("codes")), "i8"
            )
            if artifacts["int8_codes_bytes"]:
                artifacts["int8_serving_reduction_x"] = int(
                    artifacts["int8_float64_bytes"]
                    / artifacts["int8_codes_bytes"]
                )
        finally:
            shutil.rmtree(tmp_i8, ignore_errors=True)
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["int8_footprint"] = f"{type(e).__name__}: {e}"[:300]
    return out


def _prior_round_timings() -> tuple[dict[str, float], tuple[str, ...]]:
    """Per-query timings from the latest recorded driver round
    (BENCH_r{N}.json), gap-filled from the local record, plus the names
    the driver line itself reported (the final line keeps those first).
    The timings are the noise reference: an entry whose
    fresh value exceeds 1.3x its prior-round value is re-measured
    before recording (VERDICT r5 item 3 / r7 item 4 — per-entry
    min-of-two within ONE pass does not remove suite-level host
    contention; a targeted second pass later in the run does)."""
    import glob as _g

    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(_g.glob(os.path.join(here, "BENCH_r*.json")))
    # newest round with USABLE timings: a crashed round's artifact
    # (parsed=null, e.g. BENCH_r09) must not disable the gate for the
    # whole next round — walk back until a non-empty queries dict
    out: dict[str, float] = {}
    for path in reversed(files):
        try:
            with open(path) as f:
                d = json.load(f)
            # the driver wraps the parsed JSON line under "parsed"
            q = (d.get("parsed") or {}).get("queries") or d.get(
                "queries"
            ) or {}
            if q:
                out = dict(q)
                break
        except (OSError, ValueError):
            continue
    driver_names = tuple(out)
    # r19 (measurement-bug fix, documented in OPTIMIZATION_r19.md):
    # the driver's recorded line keeps only the ~57 slowest entries,
    # so 70+ queries had NO prior and an arbitrary in-suite spike on
    # them stood uncorrected (observed: an untouched query recording
    # 15.8 s against a 0.8 s quiet floor because the gate could not
    # fire). The committed previous-round full local record fills the
    # gaps — fallback only, the driver's own numbers stay the primary
    # reference. NOTE: main() snapshots this BEFORE any section runs;
    # _flush_partial overwrites BENCH_local_latest.json during the
    # run, so a late read would see this run's own partial data.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_local_latest.json")) as f:
            local_q = json.load(f).get("queries") or {}
        for k, v in local_q.items():
            out.setdefault(k, v)
    except (OSError, ValueError):
        pass
    return out, driver_names


def main() -> None:
    # snapshot the noise-gate priors BEFORE any section runs:
    # _flush_partial rewrites BENCH_local_latest.json incrementally,
    # so reading it later would compare this run against itself
    prior, prior_names = _prior_round_timings()

    spark = get_spark("gis-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/Python bridge once so per-query numbers measure the
    # query, not session startup.
    try:
        REGISTRY["count_lineitem"][0](spark, SF_DIR).count()
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["warmup"] = f"{type(e).__name__}: {e}"[:300]

    timings: dict[str, float] = {}
    artifacts: dict[str, int] = {}
    for name in HEADLINE:
        if name not in REGISTRY:
            continue
        builder, _ = REGISTRY[name]
        # warm once (JIT/codegen/broadcast caches), then min of two
        # timed runs — the steady state a recurring production query
        # actually pays (one post-warm run still carries JIT tiering
        # noise: q1 measured 0.87/0.72/0.65 on consecutive runs)
        try:
            _materialize(builder(spark, SF_DIR))
            t0 = time.time()
            _materialize(builder(spark, SF_DIR))
            t1 = time.time()
            _materialize(builder(spark, SF_DIR))
            timings[name] = round(min(t1 - t0, time.time() - t1), 3)
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS[name] = f"{type(e).__name__}: {e}"[:300]
    _flush_partial(timings, artifacts, "headline")

    # each section guarded AND flushed: a section-setup crash records
    # an error row and moves on; a hard kill loses at most one section
    stream_t: dict[str, float] = {}
    geo_t: dict[str, float] = {}
    src_t: dict[str, float] = {}
    scale_t: dict[str, float] = {}
    for sect_name, sink, fn in (
        ("streaming", stream_t, _streaming_benches),
        ("geo", geo_t, _geo_benches),
        ("sources", src_t, _source_benches),
        ("scale", scale_t, _scale_benches),
    ):
        try:
            sink.update(fn(spark, artifacts))
        except Exception as e:  # noqa: BLE001 — bench must survive
            ERRORS[f"section_{sect_name}"] = f"{type(e).__name__}: {e}"[:300]
        timings.update(sink)
        _flush_partial(timings, artifacts, sect_name)

    # noise gate: any entry >1.3x its prior-round record gets a second
    # measurement pass late in the run (headline queries individually,
    # section benches as a section), and the per-entry MIN is recorded;
    # both walls of every re-measured entry go to REMEASURED.
    # (prior snapshot hoisted to main() start — see _prior_round_timings)
    suspect = set(noise_gate_suspects(timings, prior))

    def remeasured(name: str, wall: float) -> None:
        REMEASURED[name] = [timings[name], wall]
        timings[name] = min(timings[name], wall)

    if suspect:
        print(f"# re-measuring {len(suspect)} noisy entries: "
              f"{sorted(suspect)}", file=sys.stderr)
        try:
            for name in sorted(suspect & set(HEADLINE) & set(REGISTRY)):
                builder, _ = REGISTRY[name]
                t0 = time.time()
                _materialize(builder(spark, SF_DIR))
                remeasured(name, round(time.time() - t0, 3))
            rerun_art: dict[str, int] = {}
            for sect_t, fn in (
                (stream_t, _streaming_benches),
                (geo_t, lambda s, a: _geo_benches(s, a, archival=False)),
                (src_t, _source_benches),
                (scale_t, lambda s, a: _scale_benches(s, a, quick=True)),
            ):
                if suspect & set(sect_t):
                    for k, v in fn(spark, rerun_art).items():
                        remeasured(k, v)
            for k, v in rerun_art.items():
                if k.endswith("_per_sec"):
                    artifacts[k] = max(artifacts.get(k, 0), v)
        except Exception as e:  # noqa: BLE001 — keep first-pass data
            ERRORS["noise_gate"] = f"{type(e).__name__}: {e}"[:300]

    # fresh-session floors for the top-5 wall entries (VERDICT r11
    # item 5): each runs via tools/fresh_floor.py in its OWN
    # subprocess/JVM, so the number is the quiesced-executor floor —
    # the suite-tax reference the r10-r11 emb-lsh investigation lacked.
    # Registry-backed entries only: section benches (streaming/geo/
    # sources) need their own fixture rigs and already record
    # per-section context. Milliseconds, to fit the int artifacts dict.
    try:
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        top5 = sorted(
            (k for k in timings if k in REGISTRY),
            key=timings.get,
            reverse=True,
        )[:5]
        for name in top5:
            try:
                proc = subprocess.run(
                    [sys.executable, os.path.join(here, "tools", "fresh_floor.py"), name],
                    capture_output=True,
                    text=True,
                    timeout=300,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
                )
                rec = json.loads(proc.stdout.strip().splitlines()[-1])
                artifacts[f"fresh_min_{name}_ms"] = int(
                    rec["fresh_min_sec"] * 1000
                )
            except Exception as e:  # noqa: BLE001 — bench must survive
                ERRORS[f"fresh_{name}"] = f"{type(e).__name__}: {e}"[:300]

        # streaming fresh floors (VERDICT r12 item 1, widened to ALL
        # benched twins per r13 item 6): the streaming section is ~30%
        # of suite wall and its twins drift in-suite with zero plan
        # changes — the floors prove it's suite tax (per-twin query +
        # state-store init in a loaded JVM), not regressions. Every
        # benched twin, each in its own JVM draining the SAME rig
        # (events/orders/docs10), so every future in-suite move has
        # its floor on record.
        stream_all = sorted(
            (k for k in timings if k.startswith("streaming_")),
            key=timings.get,
            reverse=True,
        )
        for name in stream_all:
            try:
                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.join(here, "tools", "fresh_floor.py"),
                        "--stream",
                        name,
                    ],
                    capture_output=True,
                    text=True,
                    timeout=300,
                    env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR},
                )
                rec = json.loads(proc.stdout.strip().splitlines()[-1])
                artifacts[f"fresh_min_{name}_ms"] = int(
                    rec["fresh_min_sec"] * 1000
                )
            except Exception as e:  # noqa: BLE001 — bench must survive
                ERRORS[f"fresh_{name}"] = f"{type(e).__name__}: {e}"[:300]
        _flush_partial(timings, artifacts, "fresh_floors")
    except Exception as e:  # noqa: BLE001 — bench must survive
        ERRORS["fresh_floors"] = f"{type(e).__name__}: {e}"[:300]

    result = {
        "metric": "suite_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
    }
    if ERRORS:
        result["errors"] = ERRORS

    # The driver records only the TAIL of stdout (~2,000 bytes) and
    # parses the FINAL line. r4 cut a fat line mid-JSON; r10's "fits
    # under 2,600" guard was the wrong budget and the 84-query line
    # came back parsed:null again. So: (1) the full record — every
    # query + artifacts — goes to the repo file and to an earlier,
    # sacrificial stdout line; (2) the FINAL line is a compact summary
    # (suite wall + per-section sums + as many top-wall queries as
    # fit) shrunk ITERATIVELY under a hard 1,800-byte budget, with an
    # assert so an overflow fails loudly here instead of silently
    # driver-side.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local_latest.json"
    )
    tmp_path = full_path + ".tmp"
    with open(tmp_path, "w") as f:
        json.dump(
            {**result, "artifacts": artifacts, "remeasured": REMEASURED},
            f,
            indent=1,
        )
    os.replace(tmp_path, full_path)
    print(json.dumps({"artifacts": artifacts}, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))  # sacrificial full line

    sections = {
        "headline": [k for k in timings if k in REGISTRY],
        "streaming": list(stream_t),
        "geo": list(geo_t),
        "sources": list(src_t),
        "scale": list(scale_t),
    }
    line = compact_final_line(
        timings, sections, result["sf"], ERRORS,
        prior_names=prior_names,
    )
    assert len(line) <= FINAL_LINE_BUDGET, len(line)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
