"""The benchmark's workloads.

A workload prepares its seeded inputs, then hands the runner passes of
operations. Each operation is a ``(name, prep, body)`` triple: ``prep``
runs untimed before the operation (a fresh input batch, for instance),
``body(span)`` is the timed call into the engine and returns an
``OpResult`` whose ``check`` runs untimed afterwards.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

from perfbench import inputs

SF = 0.01  # the TESTDATA.md sf0.01 rung: 60k lineitem rows
GEO_BATCH_ROWS = 10_000  # between the FIXTURES.md B1 rungs; sized to the run budget

# An even count keeps latency_p50_s the mean of two operations, so two
# neighbours trading places under host noise do not flip it.
QUERY_MIX = (
    "q5_local_supplier_volume", "funnel_events", "bm25_topk",
    "top3_orders_per_customer",
)


@dataclass
class OpResult:
    """What an operation read and wrote, and how to check its output."""

    check: Callable[[], str | None]
    rows_in: int
    bytes_in: int
    # (kind, path): kind "table"/"sink" count as io bytes, "checkpoint"
    # as checkpoint bytes; sizes are read after the timed region.
    outputs: list[tuple[str, str]] = field(default_factory=list)
    cleanup: Callable[[], None] = lambda: None


Op = tuple[str, Callable[[], object], Callable]


class Workload:
    # Passes made before timing. Each workload gets as many as its
    # operation latencies took to level off (within ~5% of later passes).
    warm_passes = 1

    def generate(self) -> None:
        """Write the seeded inputs that live for the whole run."""

    def prepare(self, spark) -> None:
        """Session-bound preparation before the warm passes."""

    def passes(self, rng: random.Random):
        """Yield one list of operations per pass, forever."""
        raise NotImplementedError


def _hash_check(value_hash, rows, cols, want) -> str | None:
    want_n, want_cols, want_hash = want
    if len(rows) != want_n:
        return f"rowcount {len(rows)} != oracle {want_n}"
    if sorted(cols) != want_cols:
        return f"schema {sorted(cols)} != oracle {want_cols}"
    if value_hash(rows, cols, naive_dt_is_local=True) != want_hash:
        return "value-hash mismatch against the DuckDB oracle"
    return None


class QueryMix(Workload):
    """Short registry queries over one seeded dataset, replayed in a
    seed-shuffled order with unchanged inputs, checked against their
    DuckDB ``oracle_sql()`` by the value hash of tools/check_oracle.py."""

    def __init__(self, run_dir: str, fixture_dir: str, seed: int) -> None:
        self.seed = seed
        self.sf_dir = os.path.join(run_dir, "sf")
        self.fixture_dir = fixture_dir

    def generate(self) -> None:
        tables = inputs.tpch_tables(SF, self.seed)
        inputs.write_tables(tables, self.sf_dir)
        aug = os.path.join(self.fixture_dir, "documents_aug")
        os.makedirs(aug, exist_ok=True)
        pq.write_table(
            inputs.documents_aug(tables["documents"], self.seed),
            os.path.join(aug, "documents_aug.parquet"),
        )

    def prepare(self, spark) -> None:
        import duckdb

        from gis_etl_spark.io import TPCH_TABLES
        from gis_etl_spark.queries import REGISTRY
        from tools.check_oracle import value_hash

        self.spark = spark
        self.value_hash = value_hash
        self.builders = {q: REGISTRY[q][0] for q in QUERY_MIX}
        self.oracle = {}
        with duckdb.connect() as con:
            for t in TPCH_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in QUERY_MIX:
                res = con.execute(REGISTRY[q][1])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.oracle[q] = (len(rows), sorted(cols), value_hash(rows, cols))
        self.rows_per_pass = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, f in self._input_files()
        )
        self.bytes_per_pass = sum(
            os.path.getsize(os.path.join(d, f)) for d, f in self._input_files()
        )

    def _input_files(self):
        yield from ((self.sf_dir, f) for f in sorted(os.listdir(self.sf_dir)))

    def _op(self, q: str) -> Op:
        builder, want = self.builders[q], self.oracle[q]
        per_op_rows = self.rows_per_pass // len(QUERY_MIX)
        per_op_bytes = self.bytes_per_pass // len(QUERY_MIX)

        def body(span):
            with span("build"):
                df = builder(self.spark, self.sf_dir)
            with span("exec"):
                rows = df.collect()
            cols = df.columns
            return OpResult(
                check=lambda: _hash_check(self.value_hash, rows, cols, want),
                rows_in=per_op_rows,
                bytes_in=per_op_bytes,
            )

        return q, lambda: None, body

    def passes(self, rng):
        ops = [self._op(q) for q in QUERY_MIX]
        while True:
            rng.shuffle(ops)
            yield list(ops)


class GeoEtl(Workload):
    """The reference pipeline per fresh seeded buildings batch: convert →
    Hilbert-clustered merge_compact over one table path → read back →
    QA queries, each batch checked against its generated expectation."""

    warm_passes = 2

    def __init__(self, run_dir: str, seed: int) -> None:
        self.seed = seed
        self.dir = os.path.join(run_dir, "geo")
        self.table = os.path.join(self.dir, "table")
        self.iteration = 0

    def prepare(self, spark) -> None:
        from gis_etl_spark import io
        from gis_etl_spark.pipelines import buildings

        self.spark, self.io, self.B = spark, io, buildings
        os.makedirs(self.dir, exist_ok=True)

    def _batch(self):
        """Write the next seeded batch; return its path and expectation."""
        from gis_etl_spark.fixtures import make_buildings

        i = self.iteration
        self.iteration += 1
        b, golden, _, _ = make_buildings(GEO_BATCH_ROWS, self.seed * 1000 + i)
        path = os.path.join(self.dir, f"batch-{i}.parquet")
        b.to_parquet(path, index=False, row_group_size=15_000)
        return path, len(b), _expectation(b, golden)

    def passes(self, rng):
        while True:
            state = {}

            def prep():
                for f in os.listdir(self.dir):
                    if f.startswith("batch-"):
                        os.remove(os.path.join(self.dir, f))
                state["batch"] = self._batch()

            def body(span):
                from pyspark.sql import functions as F

                path, n_rows, want = state["batch"]
                B = self.B
                with span("build"), span("convert"):
                    converted = B.convert(self.spark.read.parquet(path))
                with span("exec"):
                    with span("compact_write"):
                        B.merge_compact(converted, self.table)
                    with span("readback"):
                        table = self.io.read_parquet_cached(self.spark, self.table)
                    with span("qa"):
                        census = B.shape_type_census(table).collect()
                        bbox = B.global_bbox(table).collect()[0]
                        totals = [
                            f(table).agg(F.sum("num_recs")).collect()[0][0]
                            for f in (B.heatmap, B.hex_heatmap)
                        ]
                got = (census, bbox, totals)
                return OpResult(
                    check=lambda: _geo_check(got, want),
                    rows_in=n_rows,
                    bytes_in=os.path.getsize(path),
                    outputs=[("table", self.table)],
                )

            yield [("merge_compact_batch", prep, body)]


def _expectation(b, golden) -> dict:
    """Expected QA answers for one batch, from the generator's own
    side-table: convert keeps non-NULL geometries whose WKB type byte is
    < 8 (every EPSG in the batch is reprojectable), and the flipped
    source's coordinates come back swapped. The UTM block's bbox is left
    out because its reprojection is what is under test; its footprint
    (lon 113-121, lat >= 18.07) lies strictly inside the envelope the
    other rows span."""
    kept = b["geom"].map(lambda g: g is not None and g[1] < 8).to_numpy()
    g = golden[kept].copy()
    src = b["source"].to_numpy()[kept]
    flipped = src == "regionE/flipped.pq"
    g.loc[flipped, ["xmin", "ymin", "xmax", "ymax"]] = (
        g.loc[flipped, ["ymin", "xmin", "ymax", "xmax"]].to_numpy()
    )
    plain = g[src != "regionF/utm.pq"]
    return {
        "rows": int(kept.sum()),
        "types": {int(k): int(v) for k, v in g["shape_type"].value_counts().items()},
        "bbox": (plain["xmin"].min(), plain["ymin"].min(),
                 plain["xmax"].max(), plain["ymax"].max()),
    }


def _geo_check(got, want) -> str | None:
    census, bbox, totals = got
    types: dict[int, int] = {}
    for r in census:
        types[r.shape_type] = types.get(r.shape_type, 0) + r.num_recs
    if sum(types.values()) != want["rows"]:
        return f"compacted rows {sum(types.values())} != expected {want['rows']}"
    if types != want["types"]:
        return f"shape types {types} != expected {want['types']}"
    if tuple(bbox) != want["bbox"]:
        return f"bbox {tuple(bbox)} != expected {want['bbox']}"
    for total, f in zip(totals, ("heatmap", "hex_heatmap")):
        if total != want["rows"]:
            return f"{f} total {total} != expected {want['rows']}"
    return None


class StreamIngest(Workload):
    """Seeded arrival files of order changes and of the duplicate-injected
    documents, each drained with availableNow through
    ``pipelines.streaming.run_checkpointed`` into a fresh checkpoint; the
    checkpointed final state is checked against the batch twin."""

    warm_passes = 3

    def __init__(self, run_dir: str, seed: int) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "sf")
        self.docs_path = os.path.join(run_dir, "documents_aug.parquet")
        self.drains = 0
        self.expected: dict[str, dict] = {}

    def generate(self) -> None:
        tables = inputs.tpch_tables(SF, self.seed)
        inputs.write_tables({"orders": tables["orders"]}, self.sf_dir)
        docs = inputs.documents_aug(tables["documents"], self.seed)
        pq.write_table(docs, self.docs_path)
        arrive = os.path.join(self.run_dir, "arrivals")
        shutil.rmtree(arrive, ignore_errors=True)
        self.inputs = {}
        for name, table, n in (
            ("orders", tables["orders"], 4),
            ("documents", docs, 3),
        ):
            d = os.path.join(arrive, name)
            files = inputs.split_into_files(table, d, n, self.seed)
            self.inputs[name] = (d, len(table), sum(map(os.path.getsize, files)))

    def prepare(self, spark) -> None:
        from gis_etl_spark.pipelines import streaming as S

        self.spark, self.S = spark, S
        # (twin, builder, arrival files, key of the final state)
        self.twins = [
            ("streaming_latest_state", S.streaming_latest_state, "orders",
             ["o_custkey"]),
            ("streaming_postings_build", S.streaming_postings_build,
             "documents", ["token", "doc_id"]),
        ]

    def _op(self, twin) -> Op:
        name, builder, source, keys = twin
        in_dir, n_rows, n_bytes = self.inputs[source]

        def body(span):
            k = self.drains
            self.drains += 1
            ckpt = os.path.join(self.run_dir, "stream", f"ckpt-{k}")
            sink = os.path.join(self.run_dir, "stream", f"sink-{k}")
            with span("build"):
                sdf = builder(self.spark, in_dir)
            with span("exec"):
                self.S.run_checkpointed(sdf, ckpt, sink)

            def check():
                final = self.S.checkpointed_final_state(self.spark, sink, keys)
                return self._check(name, final.collect())

            def cleanup():
                shutil.rmtree(ckpt, ignore_errors=True)
                shutil.rmtree(sink, ignore_errors=True)

            return OpResult(
                check=check, rows_in=n_rows, bytes_in=n_bytes,
                outputs=[("checkpoint", ckpt), ("sink", sink)],
                cleanup=cleanup,
            )

        return name, lambda: None, body

    def passes(self, rng):
        ops = [self._op(t) for t in self.twins]
        while True:
            rng.shuffle(ops)
            yield list(ops)

    # -- batch twins --------------------------------------------------------
    def _check(self, twin: str, rows) -> str | None:
        if twin not in self.expected:
            self.expected[twin] = self._batch_twin(twin)
        want = self.expected[twin]
        if twin == "streaming_latest_state":
            got = {r.o_custkey: (r.last_orderkey, r.last_status,
                                 float(r.last_totalprice), int(r.last_update_us))
                   for r in rows}
        else:
            got = {(r.token, r.doc_id): r.tf for r in rows}
        if got != want:
            return f"final state differs from the batch twin ({len(got)} vs {len(want)} keys)"
        return None

    def _batch_twin(self, twin: str) -> dict:
        """The twin's batch answer over the same rows (the pairings of
        tests/test_streaming.py)."""
        from pyspark.sql import functions as F

        spark = self.spark
        if twin == "streaming_latest_state":
            from gis_etl_spark.ops.cdc import cdc_latest_state

            batch = cdc_latest_state(spark, self.sf_dir).withColumn(
                "us", F.unix_micros("last_update")
            )
            return {r.o_custkey: (r.last_orderkey, r.last_status,
                                  r.last_totalprice, int(r.us))
                    for r in batch.collect()}
        from gis_etl_spark.ops.text import words_col

        docs = spark.read.parquet(self.docs_path)
        tf = (
            docs.filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
            .select("doc_id", F.explode(words_col(F.col("text"))).alias("token"))
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        return {(r.token, r.doc_id): r.tf for r in tf.collect()}
