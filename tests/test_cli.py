"""CLI smoke test: the reference-parity command surface end-to-end in
a subprocess (shapefiles → merge-pqs → output audit)."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pyarrow.parquet as pq

from gis_etl_spark.fixtures import ensure_shapefiles

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_merge_pqs_roundtrip(tmp_path):
    shp_dir, twin = ensure_shapefiles()
    out = str(tmp_path / "merged")
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "merge-pqs",
            "--input", shp_dir, "--output", out,
            "--max-rows", "2000", "--master", "local[4]",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert files
    import pandas as pd

    total = sum(pq.read_metadata(f).num_rows for f in files)
    assert total == len(pd.read_parquet(twin))
    assert all(pq.read_metadata(f).num_rows <= 2000 for f in files)
    # clustered output carries the layout key
    cols = pq.read_schema(files[0]).names
    assert "hkey" in cols and "geom" in cols and "source" in cols


def test_cli_tiles_and_dedup_spans(tmp_path):
    """New subcommands end-to-end, each in a subprocess (cli main
    stops its session — never run it inside the test process)."""
    import shutil

    from gis_etl_spark.fixtures import ensure_buildings

    env = dict(os.environ, PYTHONPATH=REPO)

    def run(*argv):
        res = subprocess.run(
            [sys.executable, "-m", "gis_etl_spark.cli", *argv],
            env=env, capture_output=True, text=True,
        )
        assert res.returncode == 0, res.stderr[-2000:]

    bpath, _ = ensure_buildings(5_000)
    bdir = str(tmp_path / "bld_in")
    os.makedirs(bdir)
    shutil.copy(bpath, os.path.join(bdir, "buildings.parquet"))
    tiles_out = str(tmp_path / "tiles")
    run("tiles", "--input", bdir, "--output", tiles_out,
        "--zoom", "8", "--master", "local[4]")
    tiles = pq.read_table(tiles_out).to_pydict()
    assert len(tiles["quadkey"]) > 10
    assert all(0 <= x < 256 for x in tiles["x"])

    docs_dir = str(tmp_path / "docs_in")
    os.makedirs(docs_dir)
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        os.path.join(docs_dir, "documents.parquet"),
    )
    dd_out = str(tmp_path / "dd")
    run("dedup-spans", "--input", docs_dir, "--output", dd_out,
        "--master", "local[4]")
    dd = pq.read_table(dd_out).to_pydict()
    assert len(dd["doc_id"]) == 500
    assert all(k <= n for k, n in zip(dd["n_kept"], dd["n_spans"]))


def test_cli_semdedup_cdc_pagerank(tmp_path):
    """The three session-3 subcommands end-to-end in subprocesses over
    the sf0.001 tables; outputs carry the expected columns and
    non-trivial row counts."""
    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    for cmd, cols, min_rows in [
        ("semdedup", {"vec_id", "list_id", "dropped"}, 100),
        (
            "cdc-compact",
            {"o_custkey", "last_orderkey", "last_status",
             "last_totalprice", "last_update"},
            50,
        ),
        ("pagerank", {"node_id", "kind", "rank_units"}, 100),
    ]:
        out = str(tmp_path / cmd)
        res = subprocess.run(
            [
                sys.executable, "-m", "gis_etl_spark.cli", cmd,
                "--input", sf, "--output", out, "--master", "local[4]",
            ],
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert res.returncode == 0, (cmd, res.stderr[-2000:])
        pdf = pd.read_parquet(out)
        assert set(pdf.columns) == cols, cmd
        assert len(pdf) >= min_rows, cmd


def test_bench_final_line_never_exceeds_budget():
    """The driver parses only the last ~2,000 stdout bytes; 3 of the
    first 10 rounds lost their timings to an overgrown or missing
    final line. compact_final_line must stay under budget and keep the
    headline metric for ANY inputs — hundreds of long-named queries,
    huge error dicts, or both."""
    import json

    from bench import FINAL_LINE_BUDGET, compact_final_line

    cases = [
        # normal suite shape
        (
            {f"query_with_a_rather_long_name_{i:03d}": i * 0.173
             for i in range(300)},
            {},
        ),
        # pathological error dict
        (
            {f"q{i}": 1.0 for i in range(50)},
            {f"section_{i}_" + "x" * 200: "Boom: " + "y" * 500
             for i in range(40)},
        ),
        # both extremes
        (
            {("n" * 120) + str(i): 9999.999 for i in range(500)},
            {"e" * 300: "z" * 1000},
        ),
        # empty suite (total crash upstream) still emits a metric
        ({}, {"section_headline": "everything died"}),
    ]
    for timings, errors in cases:
        sections = {"headline": list(timings)[: len(timings) // 2],
                    "scale": list(timings)[len(timings) // 2:]}
        line = compact_final_line(timings, sections, 0.1, errors)
        assert len(line) <= FINAL_LINE_BUDGET, len(line)
        d = json.loads(line)
        assert d["metric"] == "suite_wall_sec"
        assert d["value"] == round(sum(timings.values()), 2)
        assert d["n_queries"] == len(timings)
        # inline queries are the TOP-wall subset, values 2dp
        for k, v in d["queries"].items():
            assert v == round(timings[k], 2)
        if d["queries"]:
            inline_min = min(d["queries"].values())
            omitted = [k for k in timings if k not in d["queries"]]
            assert all(
                round(timings[k], 2) <= inline_min + 0.01 for k in omitted
            )


def test_bench_final_line_keeps_prior_reported_queries():
    """r19 (VERDICT r18 item 7): entries the previous round's recorded
    line reported must stay in this round's final line even when they
    got fast enough to fall below the top-wall cutoff — otherwise the
    round-over-round diff manufactures phantom dropped_from_bench
    artifacts out of improvements."""
    import json

    from bench import FINAL_LINE_BUDGET, compact_final_line

    # 300 slow fillers + 10 prior-reported queries that are now FAST
    timings = {f"filler_query_number_{i:03d}": 50.0 + i
               for i in range(300)}
    prior = tuple(f"prior_reported_{i}" for i in range(10))
    for name in prior:
        timings[name] = 0.01  # far below any top-wall cutoff
    sections = {"headline": list(timings)}
    line = compact_final_line(timings, sections, 0.1, {},
                              prior_names=prior)
    assert len(line) <= FINAL_LINE_BUDGET
    d = json.loads(line)
    for name in prior:
        assert name in d["queries"], name
    # and without prior_names they would have been cut (sanity)
    d0 = json.loads(compact_final_line(timings, sections, 0.1, {}))
    assert not any(n in d0["queries"] for n in prior)


def test_bench_prior_names_are_the_driver_line_only(tmp_path, monkeypatch):
    """The noise gate's priors merge the newest driver line with the
    local full record, but only the driver line's names may be kept
    first in the final line: the merged set covers every entry, which
    leaves the final line ordered by wall alone."""
    import json

    import bench

    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"parsed": {"queries": {"a": 1.0, "b": 2.0}}})
    )
    (tmp_path / "BENCH_local_latest.json").write_text(
        json.dumps({"queries": {"a": 9.0, "c": 3.0, "d": 4.0}})
    )
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    prior, prior_names = bench._prior_round_timings()
    assert prior == {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}
    assert sorted(prior_names) == ["a", "b"]


def test_bench_noise_gate_suspects_and_record(tmp_path, monkeypatch):
    """The noise gate re-measures only entries above 1.3x a positive
    prior, and every re-measured entry lands in the local record with
    its first-pass and re-measured wall."""
    import json

    import bench

    timings = {"up": 2.7, "edge": 1.3, "flat": 1.0, "new": 5.0, "zero": 4.0}
    prior = {"up": 2.0, "edge": 1.0, "flat": 1.0, "zero": 0.0}
    assert bench.noise_gate_suspects(timings, prior) == ["up"]
    assert bench.noise_gate_suspects(timings, {}) == []

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "REMEASURED", {"up": [2.7, 2.1]})
    bench._flush_partial({"up": 2.1}, {}, "noise_gate")
    rec = json.loads((tmp_path / "BENCH_local_latest.json").read_text())
    assert rec["remeasured"] == {"up": [2.7, 2.1]}
    assert rec["queries"] == {"up": 2.1}


def test_cli_incremental_dedup_and_hard_negatives(tmp_path):
    """The r12 subcommands end-to-end in subprocesses; outputs carry
    the contract columns and plausible row counts."""
    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    for cmd, cols, min_rows in [
        (
            "incremental-dedup",
            {"new_id", "snap_id", "kind", "jaccard"},
            1,
        ),
        (
            "hard-negatives",
            {"query_id", "neighbor_id", "rank", "sim"},
            8,
        ),
    ]:
        out = str(tmp_path / cmd)
        res = subprocess.run(
            [
                sys.executable, "-m", "gis_etl_spark.cli", cmd,
                "--input", sf, "--output", out, "--master", "local[4]",
            ],
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert res.returncode == 0, (cmd, res.stderr[-2000:])
        pdf = pd.read_parquet(out)
        assert set(pdf.columns) == cols, cmd
        assert len(pdf) >= min_rows, cmd


def test_cli_canonical_dedup_and_build_ann_index(tmp_path):
    """The r13 subcommands end-to-end in subprocesses: the keeper
    policy writes the contract columns with exactly one keeper per
    component; the index builder prints all three table roles (it
    writes into the subprocess's own spark-warehouse under cwd)."""
    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = str(tmp_path / "canon")
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "canonical-dedup",
            "--input", sf, "--output", out, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    pdf = pd.read_parquet(out)
    assert set(pdf.columns) == {
        "doc_id", "component", "quality_score", "keeper_id", "is_kept"
    }
    assert len(pdf) > 0, (
        "--input must be honored (ADVICE r13): the raw corpus has "
        "verified near-dup pairs of its own"
    )
    assert (pdf.groupby("component")["is_kept"].sum() == 1).all()

    # --write-survivors: the keeper-only corpus (input schema, input
    # rows minus exactly the non-keeper cluster members) + the rollup
    surv = str(tmp_path / "survivors")
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "canonical-dedup",
            "--input", sf, "--output", surv, "--master", "local[4]",
            "--write-survivors",
        ],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    sdf = pd.read_parquet(surv)
    src = pd.read_parquet(os.path.join(sf, "documents.parquet"))
    assert set(sdf.columns) == set(src.columns)
    dropped = set(src.doc_id) - set(sdf.doc_id)
    non_keepers = set(pdf[~pdf.is_kept].doc_id)
    assert dropped == non_keepers
    assert "canonical-dedup: wrote survivor corpus" in res.stdout
    assert "-> " in res.stdout  # the before/after rollup printed

    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "build-ann-index",
            "--input", sf, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    for role in ("coarse", "codebooks", "codes"):
        assert f"build-ann-index: {role} -> " in res.stdout, res.stdout

    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "build-bm25-index",
            "--input", sf, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    for role in ("postings", "stats", "corpus"):
        assert f"build-bm25-index: {role} -> bm25_" in res.stdout, res.stdout


def test_cli_build_corpus(tmp_path):
    """The r14 capstone subcommand end-to-end in a subprocess: one
    command writes the curated training corpus and prints the funnel
    card. The written corpus must carry the input schema, and its
    per-source doc counts must equal the card's mixture_draw stage."""
    import collections
    import re

    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = str(tmp_path / "corpus")
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "build-corpus",
            "--input", sf, "--output", out, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    pdf = pd.read_parquet(out)
    assert {"doc_id", "source", "text"} <= set(pdf.columns)
    assert len(pdf) > 0
    card = collections.Counter()
    for m in re.finditer(
        r"stage 4 mixture_draw\s+(\S+)\s+docs\s+(\d+)", res.stdout
    ):
        card[m.group(1)] = int(m.group(2))
    assert card, res.stdout[-2000:]
    got = pdf.groupby("source")["doc_id"].count()
    for src, n in card.items():
        assert int(got.get(src, 0)) == n, (src, n, dict(got))


def test_cli_build_corpus_flags_table(tmp_path):
    """build-corpus --flags-table: the amortized nightly-build path
    materializes the per-doc flags table once and reads it for card +
    draw + writer (one corpus scan total — receipt in
    test_properties). Same funnel-card-vs-written-corpus invariant as
    the in-plan path, plus the materialization line must print."""
    import collections
    import re

    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = str(tmp_path / "corpus_ft")
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "build-corpus",
            "--input", sf, "--output", out, "--master", "local[4]",
            "--flags-table",
        ],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert re.search(
        r"materialized flags table curation_flags_[0-9a-f]{10}",
        res.stdout,
    ), res.stdout[-2000:]
    pdf = pd.read_parquet(out)
    assert {"doc_id", "source", "text"} <= set(pdf.columns)
    assert len(pdf) > 0
    card = collections.Counter()
    for m in re.finditer(
        r"stage 4 mixture_draw\s+(\S+)\s+docs\s+(\d+)", res.stdout
    ):
        card[m.group(1)] = int(m.group(2))
    assert card, res.stdout[-2000:]
    got = pdf.groupby("source")["doc_id"].count()
    for src, n in card.items():
        assert int(got.get(src, 0)) == n, (src, n, dict(got))


def test_cli_ann_drift(tmp_path):
    """The drift-monitor subcommand end-to-end in a subprocess: the
    per-list table carries the contract columns and at least one list
    fires on the +0.5/dim canary."""
    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    out = str(tmp_path / "drift")
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "ann-drift",
            "--input", sf, "--output", out, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    pdf = pd.read_parquet(out)
    assert {
        "list_id", "n_train", "err_units_train", "avg_units_train",
        "n_inc", "err_units_inc", "avg_units_inc", "drift_x1000",
    } <= set(pdf.columns)
    assert "FIRED" in res.stdout, res.stdout[-1000:]


def test_cli_merge_apply(tmp_path):
    """The generic MERGE subcommand end-to-end in a subprocess over a
    hand-built base + changes pair: delete vanishes, update payload
    lands, insert appears, untouched row passes through."""
    import pandas as pd

    base_dir = str(tmp_path / "base")
    ch_dir = str(tmp_path / "changes")
    out = str(tmp_path / "merged")
    pd.DataFrame(
        {"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]}
    ).to_parquet(os.path.join(tmp_path, "b.parquet"))
    os.makedirs(base_dir)
    os.replace(
        os.path.join(tmp_path, "b.parquet"),
        os.path.join(base_dir, "part-0.parquet"),
    )
    pd.DataFrame(
        {"op": ["U", "D", "I"], "k": [2, 3, 9], "v": ["B", None, "z"]}
    ).to_parquet(os.path.join(tmp_path, "c.parquet"))
    os.makedirs(ch_dir)
    os.replace(
        os.path.join(tmp_path, "c.parquet"),
        os.path.join(ch_dir, "part-0.parquet"),
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "merge-apply",
            "--input", base_dir, "--changes", ch_dir, "--key", "k",
            "--output", out, "--master", "local[2]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = pd.read_parquet(out).sort_values("k")
    assert list(zip(got["k"], got["v"])) == [
        (1, "a"), (2, "B"), (4, "d"), (9, "z")
    ]
    assert "1 inserts, 1 updates, 1 deletes" in res.stdout


def test_cli_compact_bm25_index_without_build_errors_cleanly(tmp_path):
    """ADVICE r15: compact-bm25-index before build-bm25-index must
    print a usable 'run build-bm25-index first' error, not a raw
    AnalysisException from reading a missing table."""
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "compact-bm25-index",
            "--input", sf, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),  # fresh warehouse: no index tables exist
    )
    assert res.returncode != 0
    err = res.stderr + res.stdout
    assert "run build-bm25-index first" in err, err[-2000:]
    assert "AnalysisException" not in err.splitlines()[-1]


def test_cli_append_flags(tmp_path):
    """The nightly-increment subcommand end-to-end in a subprocess:
    materialize base flags, probe a 3-doc increment against frozen
    history, append its flag rows, print the count."""
    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(3)
    src["doc_id"] = src["doc_id"] + 9_000_000  # verbatim recrawls
    inc = str(tmp_path / "increment.parquet")
    src.to_parquet(inc, index=False)
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "append-flags",
            "--input", sf, "--increment", inc, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "append-flags: appended 3 doc flags to curation_flags_" in (
        res.stdout
    ), res.stdout


def test_cli_build_dedup_snapshot(tmp_path):
    """Snapshot build + increment append in a subprocess: four
    bucketed artifact tables, then an increment batch appended."""
    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli",
            "build-dedup-snapshot",
            "--input", sf, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    for role in ("fingerprints", "bands", "shingles", "sizes"):
        assert f"build-dedup-snapshot: {role} -> dedup_snap_" in (
            res.stdout
        ), res.stdout

    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(2)
    src["doc_id"] = src["doc_id"] + 9_500_000
    inc = str(tmp_path / "snap_inc.parquet")
    src.to_parquet(inc, index=False)
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli",
            "build-dedup-snapshot",
            "--input", sf, "--increment", inc, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "appended 2 docs' artifacts" in res.stdout, res.stdout


def test_cli_append_bm25_index(tmp_path):
    """The BM25 append rung end-to-end in a subprocess: the command
    builds the index for --input if the session catalog lacks it (the
    default in-memory catalog does not survive across CLI
    invocations), appends a 2-doc increment under the frozen stats,
    and reports the pending delta sentinel count. (The duplicate-id
    rejection is unit-tested in
    test_bm25_append_rejects_existing_doc_ids.)"""
    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(2)
    src["doc_id"] = src["doc_id"] + 9_700_000
    inc = str(tmp_path / "bm25_inc.parquet")
    src[["doc_id", "text"]].to_parquet(inc, index=False)
    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "append-bm25-index",
            "--input", sf, "--increment", inc, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "append-bm25-index: appended 2 docs;" in res.stdout, res.stdout
    assert "delta postings pending compaction" in res.stdout


def test_cli_appends_survive_across_invocations(tmp_path):
    """r16 review (the severe finding): with the in-memory catalog,
    every fresh CLI process rebuilt the stored artifact from the base
    corpus and silently WIPED previously appended increments while
    reporting success. The CLI session now uses a durable (Hive/Derby)
    catalog; this receipt runs two append-flags invocations in
    separate processes and asserts the warehouse flags table holds
    BOTH increments afterwards."""
    import glob as _glob

    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(4)
    inc1 = src.head(2).copy()
    inc1["doc_id"] = inc1["doc_id"] + 9_100_000
    inc2 = src.tail(2).copy()
    inc2["doc_id"] = inc2["doc_id"] + 9_200_000
    p1, p2 = str(tmp_path / "inc1.parquet"), str(tmp_path / "inc2.parquet")
    inc1.to_parquet(p1, index=False)
    inc2.to_parquet(p2, index=False)

    for p in (p1, p2):
        res = subprocess.run(
            [
                sys.executable, "-m", "gis_etl_spark.cli", "append-flags",
                "--input", sf, "--increment", p, "--master", "local[4]",
            ],
            env=env, capture_output=True, text=True, timeout=300,
            cwd=str(tmp_path),
        )
        assert res.returncode == 0, res.stderr[-2000:]
        assert "appended 2 doc flags" in res.stdout, res.stdout

    dirs = _glob.glob(str(tmp_path / "spark-warehouse" / "curation_flags_*"))
    assert dirs, "flags table directory missing"
    flags = pd.concat(
        pd.read_parquet(f)
        for f in _glob.glob(os.path.join(dirs[0], "*.parquet"))
    )
    got = set(flags.doc_id)
    assert set(inc1.doc_id) <= got, "first increment was wiped"
    assert set(inc2.doc_id) <= got


def test_cli_dedup_snapshot_increments_survive_across_invocations(tmp_path):
    """The same durability receipt for the snapshot rung: two
    build-dedup-snapshot --increment invocations in separate
    processes; the stored fingerprint table must hold BOTH batches
    (plus the base corpus) afterwards."""
    import glob as _glob

    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(4)
    inc1 = src.head(2).copy()
    inc1["doc_id"] = inc1["doc_id"] + 9_300_000
    inc2 = src.tail(2).copy()
    inc2["doc_id"] = inc2["doc_id"] + 9_400_000
    p1, p2 = str(tmp_path / "s1.parquet"), str(tmp_path / "s2.parquet")
    inc1.to_parquet(p1, index=False)
    inc2.to_parquet(p2, index=False)

    for p in (p1, p2):
        res = subprocess.run(
            [
                sys.executable, "-m", "gis_etl_spark.cli",
                "build-dedup-snapshot",
                "--input", sf, "--increment", p, "--master", "local[4]",
            ],
            env=env, capture_output=True, text=True, timeout=300,
            cwd=str(tmp_path),
        )
        assert res.returncode == 0, res.stderr[-2000:]
        assert "appended 2 docs' artifacts" in res.stdout, res.stdout

    dirs = _glob.glob(str(tmp_path / "spark-warehouse" / "dedup_snap_fp_*"))
    assert dirs, "fingerprint table directory missing"
    fp = pd.concat(
        pd.read_parquet(f)
        for f in _glob.glob(os.path.join(dirs[0], "*.parquet"))
    )
    got = set(fp.doc_id)
    assert set(inc1.doc_id) <= got, "first increment was wiped"
    assert set(inc2.doc_id) <= got
    base_n = len(pd.read_parquet(os.path.join(sf, "documents.parquet")))
    assert len(got) == base_n + 4


def test_cli_ingest_increment_probe_then_extend(tmp_path):
    """The one-verb nightly rung (VERDICT r16 item 6): ingest-increment
    appends the batch's flags against frozen history FIRST, then
    extends the dedup snapshot with it — and a re-run of the SAME
    batch fails loudly on the duplicate guard instead of silently
    double-counting."""
    import glob as _glob

    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(2)
    src["doc_id"] = src["doc_id"] + 9_950_000
    p = str(tmp_path / "night1.parquet")
    src.to_parquet(p, index=False)

    cmd = [
        sys.executable, "-m", "gis_etl_spark.cli", "ingest-increment",
        "--input", sf, "--increment", p, "--master", "local[4]",
    ]
    res = subprocess.run(
        cmd, env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "appended 2 doc flags" in res.stdout, res.stdout
    assert "snapshot extended" in res.stdout

    flags_dirs = _glob.glob(
        str(tmp_path / "spark-warehouse" / "curation_flags_*")
    )
    fp_dirs = _glob.glob(
        str(tmp_path / "spark-warehouse" / "dedup_snap_fp_*")
    )
    assert flags_dirs and fp_dirs
    fp = pd.concat(
        pd.read_parquet(f)
        for f in _glob.glob(os.path.join(fp_dirs[0], "*.parquet"))
    )
    assert set(src.doc_id) <= set(fp.doc_id), "snapshot not extended"

    # the same batch again: the flags-path guard must fire (the batch
    # already has flag rows AND snapshot artifacts)
    res2 = subprocess.run(
        cmd, env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res2.returncode != 0
    assert (
        "already have flag rows" in res2.stderr
        or "already have artifacts" in res2.stderr
    ), res2.stderr[-2000:]

    # the remediation verb on the ingested batch: verbatim recrawls tie
    # and lose the keeper break — the census must report the
    # approximation exact and leave the table unpatched
    res3 = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "rederive-flags",
            "--input", sf, "--increment", p, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res3.returncode == 0, res3.stderr[-2000:]
    assert "rederive-flags: census" in res3.stdout, res3.stdout
    assert "approximation exact; nothing to patch" in res3.stdout


def test_cli_rederive_flags_fires_and_patches(tmp_path):
    """The fired path of the remediation verb: a batch of higher-
    quality recrawls (the appended-unique-token recipe — still
    near-dups of their originals, strictly better composites) makes
    the census fire on the risky channel and the verb patch the flags
    table."""
    import glob as _glob

    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(2)
    src["doc_id"] = src["doc_id"] + 9_960_000
    src["text"] = [
        t + f" zq{i}a zq{i}b zq{i}c" for i, t in enumerate(src["text"])
    ]
    src["n_chars"] = src["text"].str.len()
    p = str(tmp_path / "risky.parquet")
    src.to_parquet(p, index=False)

    res = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "ingest-increment",
            "--input", sf, "--increment", p, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res.returncode == 0, res.stderr[-2000:]

    res2 = subprocess.run(
        [
            sys.executable, "-m", "gis_etl_spark.cli", "rederive-flags",
            "--input", sf, "--increment", p, "--master", "local[4]",
        ],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),
    )
    assert res2.returncode == 0, res2.stderr[-2000:]
    assert "rederive-flags: census" in res2.stdout, res2.stdout
    assert "patched" in res2.stdout, res2.stdout
    # the patch flipped survival: the recrawls now win their keeper
    # argmax, so the table's displaced rows must include the ORIGINALS
    dirs = _glob.glob(
        str(tmp_path / "spark-warehouse" / "curation_flags_*")
    )
    dirs = [d for d in dirs if not d.endswith(("_old", "_patching"))]
    assert dirs
    flags = pd.concat(
        pd.read_parquet(f)
        for f in _glob.glob(os.path.join(dirs[0], "*.parquet"))
    )
    new_rows = flags[flags.doc_id.isin(set(src.doc_id))]
    assert len(new_rows) == 2
    assert bool(new_rows.s1.all()), "recrawls should now be keepers"
    orig_ids = set(src.doc_id - 9_960_000)
    orig_rows = flags[flags.doc_id.isin(orig_ids)]
    assert not bool(orig_rows.s1.any()), "originals should be displaced"


def test_cli_warehouse_flag_survives_cwd_change(tmp_path):
    """ADVICE r16: durability used to be keyed to the process cwd —
    invoking the CLI from a different directory silently got a fresh
    empty catalog and rebuilt base-only artifacts (the same silent
    wipe/divergence class durable_catalog fixed). With --warehouse the
    metastore + warehouse anchor under an explicit directory: two
    build-dedup-snapshot --increment invocations from two DIFFERENT
    cwds land in the same stored tables."""
    import glob as _glob

    import pandas as pd

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    env = dict(os.environ, PYTHONPATH=REPO)
    wh = tmp_path / "wh"
    cwd_a = tmp_path / "cwd_a"
    cwd_b = tmp_path / "cwd_b"
    for d in (wh, cwd_a, cwd_b):
        d.mkdir()
    src = pd.read_parquet(os.path.join(sf, "documents.parquet")).head(4)
    inc1 = src.head(2).copy()
    inc1["doc_id"] = inc1["doc_id"] + 9_800_000
    inc2 = src.tail(2).copy()
    inc2["doc_id"] = inc2["doc_id"] + 9_900_000
    p1, p2 = str(tmp_path / "w1.parquet"), str(tmp_path / "w2.parquet")
    inc1.to_parquet(p1, index=False)
    inc2.to_parquet(p2, index=False)

    for p, cwd in ((p1, cwd_a), (p2, cwd_b)):
        res = subprocess.run(
            [
                sys.executable, "-m", "gis_etl_spark.cli",
                "build-dedup-snapshot",
                "--input", sf, "--increment", p, "--master", "local[4]",
                "--warehouse", str(wh),
            ],
            env=env, capture_output=True, text=True, timeout=300,
            cwd=str(cwd),
        )
        assert res.returncode == 0, res.stderr[-2000:]
        assert "appended 2 docs' artifacts" in res.stdout, res.stdout

    # both increments landed under the EXPLICIT warehouse, and neither
    # cwd grew its own catalog
    dirs = _glob.glob(str(wh / "spark-warehouse" / "dedup_snap_fp_*"))
    assert dirs, "fingerprint table missing under --warehouse"
    fp = pd.concat(
        pd.read_parquet(f)
        for f in _glob.glob(os.path.join(dirs[0], "*.parquet"))
    )
    got = set(fp.doc_id)
    assert set(inc1.doc_id) <= got, "first increment invisible from cwd_b"
    assert set(inc2.doc_id) <= got
    for cwd in (cwd_a, cwd_b):
        assert not (cwd / "metastore_db").exists()
        assert not _glob.glob(str(cwd / "spark-warehouse" / "dedup_snap_*"))
