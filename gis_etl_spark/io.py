"""Sources and sinks.

Maps the reference's scan/sink inventory (SURVEY.md §2.1/§2.2) onto
Spark's declarative readers/writers:

- multi-file scans with provenance  — reference `READ_PARQUET([...],
  filename=True)` (east_asia.py:398-400) → `spark.read.parquet` +
  `input_file_name()`; Catalyst prunes columns/filters into the scan.
- NDJSON scan/sink                  — reference `READ_JSON` /
  per-line json.dump (east_asia.py:364-372) → `spark.read.json` /
  `df.write.json`.
- CSV with header                   — reference `READ_CSV(?, header=True)`
  (east_asia.py:72-74) → `spark.read.option('header', True).csv`.
- clustered parquet writer          — reference `COPY ... (FORMAT PARQUET,
  CODEC ZSTD, COMPRESSION_LEVEL 22, ROW_GROUP_SIZE 15000)`
  (east_asia.py:79-82) → zstd parquet with small row groups so
  space-filling-curve clustering (layout/sfc.py) yields tight row-group
  min/max stats for predicate pushdown.
- idempotent write                  — reference skip-if-done / delete-if-
  empty restart discipline (east_asia.py:101-106).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import threading
from collections.abc import Callable, Sequence
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Reference writer policy: ROW_GROUP_SIZE 15000 at ~100 B/row ≈ 1.5 MB
# blocks. parquet.block.size is bytes in Spark's writer; 2 MiB gives
# row groups in the same regime (small → fine-grained row-group skipping
# after Hilbert clustering). tests/test_pipelines.py pins the achieved
# rows-per-group band on the fixture.
SMALL_ROW_GROUP_BYTES = 2 * 1024 * 1024
# The reference pins COMPRESSION_LEVEL 22 (east_asia.py:79-82) for its
# write-once archival output. Probed on the buildings fixture: level 22 is
# ~17× write CPU for ~14-18% fewer bytes than parquet-mr's default level 3.
# That trade is wrong as a *default* — at cluster scale every intermediate
# write would burn 17× CPU for a size win only the final artifact needs —
# so the default writer level is 3 (fast path) and archival sinks opt into
# 22 explicitly (merge_compact_archival).
ZSTD_LEVEL = "3"
ZSTD_ARCHIVAL_LEVEL = "22"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver test table (TESTDATA.md layout).

    `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS), which
    Spark has no native type for (SPARK-40819): read it as a long of
    nanoseconds and convert to a microsecond timestamp — the same
    truncation DuckDB applies viewing TIMESTAMP_NS as TIMESTAMP, so
    oracle comparisons stay exact. The conf is runtime-settable and
    harmless for non-nano files.

    Naive (isAdjustedToUTC=false) parquet timestamps must come back as
    TIMESTAMP, not TIMESTAMP_NTZ: with the session pinned to UTC the
    epoch values are identical, NTZ merely breaks epoch functions
    (`unix_micros` rejects it) while DuckDB's naive TIMESTAMP accepts
    them — so we turn off NTZ inference and cast away any NTZ column
    that still arrives (e.g. from a caller-cached read).
    """
    # Pin UTC on whatever session calls us (the driver brings its own):
    # timestamp → string rendering must match the TZ-naive ANSI oracle.
    # Guarded sets: RuntimeConfig.set invalidates cached plans/relations
    # even when the value is unchanged (measured ~0.25 s per query on
    # repeat reads), so only write a conf that actually differs.
    _ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    _ensure_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    # Lazy-frame memo — spark.read.parquet pays file listing + footer
    # schema + analysis py4j on every call (profiled 0.15-0.3 s), and
    # the bench re-invokes every builder per timed run. The memoized
    # object is an UNEXECUTED plan root: each consumer still computes
    # from the parquet bytes; this only dedups plan construction.
    path = table_path(sf_dir, name)

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # integer `div`, not float `/`: epoch-nanos (~1.7e18) exceeds
            # double's 53-bit mantissa and float division would corrupt
            # the low digits.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _ntz_to_utc(df)

    return memo(spark, "read_table", [path], (), build)


def table_path(sf_dir: str, name: str) -> str:
    """Path of one test table (TESTDATA.md layout)."""
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table_spread(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """read_table, widened to cluster parallelism WHEN THE TABLE IS
    SMALLER THAN ONE SCAN SPLIT (scale-adaptive partitioning, not a
    local constant).

    A fixture-scale table is one small parquet file → one scan
    partition, so operators that do heavy per-row compute (tokenize,
    regex, shingle) run serial regardless of cluster width (profiled:
    0.5-1.1 s single-task corpus passes in the text pack). Round-robin
    respreading such an input costs one exchange of a
    less-than-a-split payload and buys cluster-wide compute. A table
    bigger than one split (summed over every part file of a
    directory-layout table) already scans wide — the gate makes this a
    no-op there, so no extra shuffle ever touches a 100 TB input.
    Row placement is deterministic (sortBeforeRepartition is on), and
    the consumers below it are per-row maps + aggregates + sorts, so
    results are partition-count independent."""
    df = read_table(spark, sf_dir, name)
    try:
        size = sum(e[1] for e in _walk(table_path(sf_dir, name)))
    except OSError:
        return df
    conf = spark._jsparkSession.sessionState().conf()
    if size <= conf.filesMaxPartitionBytes():
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """The read_table lazy-frame memo for an arbitrary parquet path
    (fixture corpora, CLI inputs, directory-layout tables): one plan
    root per (session, input fingerprint) instead of a fresh
    listing+schema+analysis round per call. Unexecuted plan —
    consumers still compute from the bytes."""
    return memo(spark, "read_parquet", [path], (), lambda: spark.read.parquet(path))


# --- input fingerprint + session memo ---------------------------------------
# The one answer to "is this input unchanged in this session?". Every
# module-level memo of the engine goes through memo(); every catalog
# table named after its input uses fingerprint().


def _walk(path: str) -> list[tuple[str, int, int]]:
    """(relative path, size, mtime_ns) of every file under `path` —
    one ("", size, mtime_ns) entry for a plain file. A directory-layout
    table is walked once with os.scandir, so a part file rewritten
    under the same name still changes the result. OSError if the path
    is missing."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return [("", st.st_size, st.st_mtime_ns)]
    out, todo = [], [""]
    while todo:
        rel = todo.pop()
        with os.scandir(os.path.join(path, rel)) as it:
            for e in it:
                r = os.path.join(rel, e.name)
                if e.is_dir():
                    todo.append(r)
                else:
                    s = e.stat()
                    out.append((r, s.st_size, s.st_mtime_ns))
    return sorted(out)


def fingerprint(*paths: str) -> str:
    """Short hex digest of the current state of every input path (file
    or directory-layout table): changes when any file under them is
    added, removed or rewritten. OSError if a path is missing."""
    state = [(p, _walk(p)) for p in paths]
    return hashlib.md5(repr(state).encode()).hexdigest()[:16]


T = TypeVar("T")
_MEMO: dict[tuple, object] = {}
# builders run concurrently (ops.corpus._eager_concurrently); the lock
# guards the dict, never a build, so nested memo calls cannot deadlock
_MEMO_LOCK = threading.Lock()


def memo(
    spark: SparkSession,
    kind: str,
    inputs: Sequence[str],
    params: tuple,
    build: Callable[[], T],
) -> T:
    """Session-scoped memo: `build()` once per (applicationId, kind,
    fingerprint(*inputs), params), where `inputs` must name every file
    the build reads. A new application id drops every entry of the
    older ones (their frames, persists and checkpoints died with that
    SparkContext). A missing input is not memoized: `build()` runs and
    reports its own error. Two threads missing the same key may both
    build; both get the value stored first."""
    try:
        fp = fingerprint(*inputs)
    except OSError:
        return build()
    app_id = spark.sparkContext.applicationId
    key = (app_id, kind, fp, params)
    with _MEMO_LOCK:
        if key in _MEMO:
            return _MEMO[key]
        for k in [k for k in _MEMO if k[0] != app_id]:
            del _MEMO[k]
    value = build()
    with _MEMO_LOCK:
        return _MEMO.setdefault(key, value)


def forget(*kinds: str) -> None:
    """Drop every memo entry of the given kinds (forces a cold rebuild)."""
    with _MEMO_LOCK:
        for k in [k for k in _MEMO if k[1] in kinds]:
            del _MEMO[k]


def _ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    try:
        cur = spark.conf.get(key)
    except Exception:  # noqa: BLE001 - unset conf
        cur = None
    if cur != value:
        spark.conf.set(key, value)


def _ntz_to_utc(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (session tz is UTC, so
    the wall clock is preserved and epoch math matches the oracle).

    Limitation: only TOP-LEVEL columns are rewritten — an NTZ field
    nested inside a struct/array/map would pass through uncast and
    still break unix_micros-style epoch math. Fine for the driver's
    flat tables; recurse into nested types if nested timestamps ever
    appear."""
    ntz = [n for n, t in df.dtypes if t == "timestamp_ntz"]
    for n in ntz:
        df = df.withColumn(n, F.col(n).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Load the driver tables and register each as a temp view so
    `spark.sql` runbook-style queries work 1:1 (SURVEY.md §3.4)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_with_provenance(
    spark: SparkSession, *paths: str, source_col: str = "source"
) -> DataFrame:
    """Multi-file scan exposing the origin file path as a column.

    Spark rendition of `READ_PARQUET([globs], filename=True)`
    (east_asia.py:398-400): one distributed scan over all files; the
    filename comes from the scan's split metadata, costing nothing.
    """
    df = spark.read.parquet(*paths)
    return df.withColumn(source_col, F.input_file_name())


def read_ndjson(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """NDJSON scan (`READ_JSON`, East-Asia-Building-Footprints.md:113)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """NDJSON sink (shape_stats.json writer, east_asia.py:364-372)."""
    df.write.mode(mode).json(path)


def read_csv_header(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV-with-header scan (`READ_CSV(?, header=True)`, east_asia.py:72-74)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_clustered_parquet(
    df: DataFrame,
    path: str,
    *,
    sort_col: str | None = None,
    max_records_per_file: int = 10_000_000,
    num_files: int | None = None,
    mode: str = "overwrite",
    zstd_level: str = ZSTD_LEVEL,
) -> None:
    """Clustered parquet writer — the reference's signature sink.

    Reference: `COPY (... ORDER BY HILBERT_ENCODE(...)) TO f.pq (FORMAT
    PARQUET, CODEC ZSTD, COMPRESSION_LEVEL 22, ROW_GROUP_SIZE 15000)`
    (east_asia.py:75-83) plus ≤10M-row bin-packing in merge-pqs
    (east_asia.py:384-393).

    Spark-first: a global `orderBy(sort_col)` is a range-partitioned
    sort (sample → range exchange → per-partition sort), which at
    cluster scale is exactly the balanced bin-packing the reference
    does by hand with resp.json; `maxRecordsPerFile` caps file size the
    way the reference's 10M-row batches do.

    zstd_level defaults to 3 (parquet-mr's default; the hot path). Pass
    ZSTD_ARCHIVAL_LEVEL (22, the reference's archival setting) for
    write-once-read-many final output where ~14-18% fewer bytes pays
    back on every scan — measured at ~17× write CPU on the buildings
    fixture, so never for intermediate tables.
    """
    out = df
    if sort_col is not None:
        if num_files is not None:
            out = out.repartitionByRange(num_files, F.col(sort_col)).sortWithinPartitions(
                sort_col
            )
        else:
            out = out.orderBy(sort_col)
    (
        out.write.mode(mode)
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", zstd_level)
        .option("parquet.block.size", SMALL_ROW_GROUP_BYTES)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def idempotent_write(df: DataFrame, path: str, writer=None) -> bool:
    """Skip-if-done / delete-and-retry-if-empty restart semantics.

    Reference: east_asia.py:101-106 — if the output exists and is
    non-empty, skip; if it exists but is zero-byte, delete and redo.
    Returns True if a write happened.
    """
    if os.path.exists(path):
        has_data = any(
            f.startswith("part-") and os.path.getsize(os.path.join(path, f)) > 0
            for f in os.listdir(path)
        ) if os.path.isdir(path) else os.path.getsize(path) > 0
        if has_data:
            return False
        shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    if writer is None:
        write_clustered_parquet(df, path)
    else:
        writer(df, path)
    return True
