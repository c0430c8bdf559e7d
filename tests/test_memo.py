"""The input fingerprint and session memo in gis_etl_spark.io.

Three layers:

- unit tests of io.fingerprint / io.memo against a stub session (no JVM);
- a structural guard: no module outside io.py keeps its own memo dict or
  builds a key from os.stat / os.path.getsize;
- behaviour on Spark: the read_table_spread size gate on directory-layout
  tables, and memos that must miss when any one of their inputs is
  rewritten.
"""

from __future__ import annotations

import ast
import os
import re
import shutil
import sys
import threading
from types import SimpleNamespace

import pandas as pd
import pytest

from gis_etl_spark import io

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "gis_etl_spark")


def _stub(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def clean_memo(monkeypatch):
    monkeypatch.setattr(io, "_MEMO", {})


def _part_table(root) -> str:
    path = os.path.join(root, "t.parquet")
    os.makedirs(os.path.join(path, "k=1"))
    for rel, data in (("part-0", b"aaaa"), ("k=1/part-1", b"bbbbbb")):
        with open(os.path.join(path, rel), "wb") as f:
            f.write(data)
    return path


def _counting_build():
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    return build, calls


def test_memo_same_inputs_build_once(tmp_path, clean_memo):
    path = _part_table(tmp_path)
    build, calls = _counting_build()
    s = _stub("app-1")
    assert io.memo(s, "k", [path], (1,), build) == 1
    assert io.memo(s, "k", [path], (1,), build) == 1
    assert len(calls) == 1
    # kind and params are part of the key
    assert io.memo(s, "k", [path], (2,), build) == 2
    assert io.memo(s, "other", [path], (1,), build) == 3


def test_memo_misses_on_part_file_rewritten_in_place(tmp_path, clean_memo):
    path = _part_table(tmp_path)
    build, calls = _counting_build()
    s = _stub("app-1")
    fp = io.fingerprint(path)
    io.memo(s, "k", [path], (), build)
    # same file name, new bytes: the directory's own stat does not move
    with open(os.path.join(path, "k=1", "part-1"), "wb") as f:
        f.write(b"cccccccc")
    assert io.fingerprint(path) != fp
    assert io.memo(s, "k", [path], (), build) == 2
    assert len(calls) == 2


def test_memo_new_application_id_misses_and_drops_old(tmp_path, clean_memo):
    path = _part_table(tmp_path)
    build, calls = _counting_build()
    io.memo(_stub("app-1"), "a", [path], (), build)
    io.memo(_stub("app-1"), "b", [path], (), build)
    assert io.memo(_stub("app-2"), "a", [path], (), build) == 3
    assert {k[0] for k in io._MEMO} == {"app-2"}
    assert len(calls) == 3


def test_memo_missing_input_is_not_memoized(tmp_path, clean_memo):
    build, calls = _counting_build()
    missing = str(tmp_path / "nope.parquet")
    s = _stub("app-1")
    io.memo(s, "k", [missing], (), build)
    io.memo(s, "k", [missing], (), build)
    assert len(calls) == 2
    assert io._MEMO == {}


def test_forget_drops_only_named_kinds(tmp_path, clean_memo):
    path = _part_table(tmp_path)
    build, calls = _counting_build()
    s = _stub("app-1")
    for kind in ("kmeans", "ivfpq", "pq"):
        io.memo(s, kind, [path], (), build)
    io.forget("kmeans", "ivfpq")
    assert {k[1] for k in io._MEMO} == {"pq"}


def test_memo_concurrent_callers_share_one_value(tmp_path, clean_memo):
    """Threads (as in ops.corpus._eager_concurrently) hitting the memo
    at once, then all switching to a new application id, never raise,
    and every caller of one key gets the same object."""
    path = _part_table(tmp_path)
    n = 16
    results: dict[tuple, set] = {}
    errors = []
    barrier = threading.Barrier(n, timeout=60)

    def worker() -> None:
        try:
            for app in ("app-1", "app-2"):
                barrier.wait()
                for j in range(100):
                    key = (app, f"k{j % 5}")
                    v = io.memo(_stub(app), key[1], [path], (), object)
                    results.setdefault(key, set()).add(id(v))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(results) == 10
    assert all(len(ids) == 1 for ids in results.values())
    assert {k[0] for k in io._MEMO} == {"app-2"}


def test_fingerprint_names_the_path(tmp_path):
    a = _part_table(tmp_path / "a")
    b = str(tmp_path / "b.parquet")
    shutil.copytree(a, b)  # copy2 keeps sizes and mtimes
    assert io.fingerprint(a) != io.fingerprint(b)
    assert re.fullmatch(r"[0-9a-f]{16}", io.fingerprint(a, b))


# --- structural guard -------------------------------------------------------

# (module, name) of the module-level caches that are not input memos
ALLOWED_CACHES = {
    ("ops/jpeg.py", "_HUFF_LUT_CACHE"),  # pure function of DHT bytes
    ("pipelines/streaming.py", "_SNAPSHOT_CACHES"),  # unpersist registry
}
# (module, function) allowed to call os.stat / os.path.getsize
ALLOWED_STAT_CALLS = {
    ("io.py", "_walk"),  # the one fingerprint
    ("io.py", "idempotent_write"),  # skip-if-non-empty, not a key
    ("sources/shapefile.py", "read_shapefile"),  # .shx record count
}
STAT_FUNCS = {("os", "stat"), ("os.path", "getsize")}


def _os_aliases(tree: ast.Module) -> dict[str, str]:
    """Local name → module path for every import of os / os.path."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in ("os", "os.path"):
                    out[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module in ("os", "os.path"):
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full == "os.path" or (node.module, a.name) in STAT_FUNCS:
                    out[a.asname or a.name] = full
    return out


def _dotted(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return base and f"{base}.{node.attr}"
    return None


def _stat_calls(tree: ast.Module):
    """(enclosing function, line) of every os.stat / os.path.getsize call."""
    aliases = _os_aliases(tree)
    targets = {f"{m}.{f}" for m, f in STAT_FUNCS}

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                name = _dotted(child.func)
                if name:
                    head, _, rest = name.partition(".")
                    full = aliases.get(head, head) + (f".{rest}" if rest else "")
                    if full in targets:
                        yield func, child.lineno
            yield from visit(child, func)

    yield from visit(tree, "<module>")


def _modules():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path) as fh:
                    yield rel, ast.parse(fh.read(), path)


def test_only_io_keeps_input_memos_and_stat_keys():
    caches, stats = [], []
    for rel, tree in _modules():
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and re.match(r"_\w*CACHE", t.id)
                    and (rel, t.id) not in ALLOWED_CACHES
                ):
                    caches.append(f"{rel}:{node.lineno} {t.id}")
        for func, line in _stat_calls(tree):
            if (rel, func) not in ALLOWED_STAT_CALLS:
                stats.append(f"{rel}:{line} in {func}")
    assert not caches, f"module-level caches outside io.memo: {caches}"
    assert not stats, f"os.stat/getsize outside io.fingerprint: {stats}"


def test_guard_sees_aliased_stat_calls():
    tree = ast.parse(
        "import os as _o\nfrom os.path import getsize\n"
        "def f(p):\n    return _o.stat(p), getsize(p)\n"
    )
    assert [f for f, _ in _stat_calls(tree)] == ["f", "f"]


# --- Spark behaviour ---------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_read_table_spread_gates_on_directory_bytes(spark, tmp_path):
    """A directory-layout table bigger than one scan split already scans
    wide and must not be respread; a single file under one split must."""
    sf = str(tmp_path)
    big = os.path.join(sf, "big.parquet")
    spark.range(60_000).selectExpr("id", "sha2(cast(id as string), 256) AS s") \
        .repartition(4).write.parquet(big)
    pd.DataFrame({"id": [1, 2, 3]}).to_parquet(
        os.path.join(sf, "small.parquet"), index=False
    )
    total = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(big)
        for f in fs
    )
    split = total // 2
    assert split > 64 * 1024  # far above a directory inode's size
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(split))
    try:
        assert "Repartition" not in _plan(io.read_table_spread(spark, sf, "big"))
        assert "Repartition" in _plan(io.read_table_spread(spark, sf, "small"))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture
def sf001(sf_dir) -> str:
    """The sf0.01 test tables, beside the suite's default directory."""
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip("needs the sf0.01 test tables")
    return path


def _copy_tables(src: str, dst, names) -> str:
    os.makedirs(dst)
    for n in names:
        shutil.copyfile(
            os.path.join(src, f"{n}.parquet"), os.path.join(dst, f"{n}.parquet")
        )
    return str(dst)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _rewrite(sf: str, name: str, pdf: pd.DataFrame) -> None:
    path = os.path.join(sf, f"{name}.parquet")
    os.remove(path)
    pdf.to_parquet(path, index=False)


def test_corpus_memo_misses_on_documents_only_rewrite(spark, sf001, tmp_path):
    """dedup_embedding_lsh verifies pairs against a memoized
    documents ⋈ embeddings matrix: rewriting documents alone must
    rebuild it, or new doc ids gather the wrong vectors."""
    from gis_etl_spark.ops.similarity import dedup_embedding_lsh

    sf = _copy_tables(sf001, tmp_path / "a", ["documents", "embeddings"])
    docs = pd.read_parquet(os.path.join(sf001, "documents.parquet"))
    _rewrite(sf, "documents", docs[docs.doc_id < 300])
    first = _rows(dedup_embedding_lsh(spark, sf))
    _rewrite(sf, "documents", docs)  # doc ids 300..499 are new
    got = _rows(dedup_embedding_lsh(spark, sf))
    fresh = _copy_tables(sf, tmp_path / "b", ["documents", "embeddings"])
    want = _rows(dedup_embedding_lsh(spark, fresh))
    assert got == want
    assert got != first


def test_triangle_edges_miss_on_supplier_only_rewrite(spark, sf001, tmp_path):
    """copurchase_triangles keeps the top TRI_EDGE_FACTOR·|supplier|
    edges: rewriting supplier alone must rebuild the memoized edges."""
    from gis_etl_spark.ops.graph import copurchase_triangles

    tables = ["orders", "lineitem", "supplier"]
    sf = _copy_tables(sf001, tmp_path / "a", tables)
    first = _rows(copurchase_triangles(spark, sf))
    sup = pd.read_parquet(os.path.join(sf001, "supplier.parquet"))
    _rewrite(sf, "supplier", sup.head(10))
    got = _rows(copurchase_triangles(spark, sf))
    fresh = _copy_tables(sf, tmp_path / "b", tables)
    want = _rows(copurchase_triangles(spark, fresh))
    assert got == want
    assert got != first
