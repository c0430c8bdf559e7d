"""North-star operator quality tests — beyond oracle parity, check the
operators actually *do their job*: LSH finds most true neighbors, dedup
finds the injected duplicates, scores stay bounded."""

from __future__ import annotations

import pytest

from gis_etl_spark.ops import dedup as D
from gis_etl_spark.ops import similarity as S
from gis_etl_spark.ops import text as T


def test_ann_lsh_recall(spark, sf_dir):
    """LSH top-k must recover a solid fraction of brute-force top-k.
    2 bands × 8 bits is a coarse index; recall ≥ 0.4 guards against a
    silently-broken signature while allowing LSH's designed misses."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.similarity_topk(spark, sf_dir).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in S.similarity_ann_lsh(spark, sf_dir).collect()
    }
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.6, f"ANN recall collapsed: {recall:.2f}"


def test_embedding_dedup_lsh_recall(spark, sf_dir):
    """The banded-LSH semantic dedup must recover a solid fraction of
    the exact all-pairs baseline, and must never report a pair the
    exact path rejects (candidates are exactly verified, so precision
    is 1.0 by construction — assert it anyway)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in T.dedup_embedding_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in S.dedup_embedding_lsh(spark, sf_dir).collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"dedup LSH recall collapsed: {recall:.2f}"


def test_embedding_dedup_lsh_bucket_bound(spark, sf_dir):
    """The skew guard must hold: after the cap, no bucket used for pair
    generation exceeds EMB_LSH_BUCKET_CAP, so candidate volume is
    bounded by bands × n_buckets × cap² at ANY corpus size. The audit
    query reports what the cap dropped; on this fixture buckets are far
    below the cap, so nothing may be dropped."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = S._emb(spark, sf_dir)
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        F.col("doc_id").alias("vec_id"), "lang", "v"
    )
    bands = S._band_values_arrow(joined, S.EMB_LSH_BITS, S.EMB_LSH_BANDS)
    kept_max = (
        S._bucket_pairs(bands, S.EMB_LSH_BUCKET_CAP)
        .groupBy("doc_a")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # a member of only ≤cap-sized buckets pairs with < bands × cap others
    assert kept_max < S.EMB_LSH_BANDS * S.EMB_LSH_BUCKET_CAP

    audit = S.dedup_embedding_lsh_audit(spark, sf_dir).collect()
    assert len(audit) == S.EMB_LSH_BANDS
    assert all(r.n_dropped_buckets == 0 for r in audit), audit
    # and the config really is the derived one
    assert (S.EMB_LSH_BITS, S.EMB_LSH_BANDS) == S.emb_lsh_config(T.EMB_DEDUP_T)


def test_embedding_dedup_lsh_fallback_parity(spark, sf_dir, monkeypatch):
    """The verify stage's scale gate: above EMB_CORPUS_DRIVER_CAP the
    driver-side corpus gather is forbidden and the candidate⋈vectors
    join runs instead. Forcing the cap to 0 must (a) actually take the
    fallback path — _corpus_matrix poisoned to prove it — and (b)
    produce IDENTICAL pairs and cosines (both kernels accumulate over
    dimensions in order)."""
    gather = sorted(
        (r.doc_a, r.doc_b, r.lang_a, r.sim)
        for r in S.dedup_embedding_lsh(spark, sf_dir).collect()
    )
    assert gather

    def _poisoned(*a, **k):
        raise AssertionError("gather path used despite cap=0")

    monkeypatch.setattr(S, "EMB_CORPUS_DRIVER_CAP", 0)
    monkeypatch.setattr(S, "_corpus_matrix", _poisoned)
    fallback = sorted(
        (r.doc_a, r.doc_b, r.lang_a, r.sim)
        for r in S.dedup_embedding_lsh(spark, sf_dir).collect()
    )
    assert fallback == gather


def test_ivf_recall(spark, sf_dir):
    """IVF with nprobe=2 over 10 lists must recover a solid fraction of
    brute-force top-k — and beat a random 20% corpus sample would."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.similarity_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.similarity_ivf(spark, sf_dir).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.4, f"IVF recall collapsed: {recall:.2f}"


def test_exact_dedup_finds_injected(spark, sf_dir):
    groups = D.dedup_exact_groups(spark, sf_dir).collect()
    # the fixture injects exactly 60 exact duplicates
    assert len(groups) == 60
    assert all(g.n_copies == 2 for g in groups)
    # keeper is always the original (min doc_id < 100000)
    assert all(g.keep_id < 100000 for g in groups)


def test_minhash_finds_injected_near_dups(spark, sf_dir):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.dedup_minhash_pairs(spark, sf_dir).collect()
    }
    # exact duplicates have shingle-jaccard 1.0 and must all be caught
    # (every band collides when signatures are identical)
    exact_pairs = [
        ((i * 7) % 500, 100000 + i) for i in range(60)
    ]
    caught = sum(1 for p in exact_pairs if p in pairs)
    assert caught == 60, f"missed {60 - caught} exact-dup pairs"
    assert all(pairs[p] == 1.0 for p in exact_pairs if p in pairs)
    # a majority of injected near-dups (12% word swaps) should surface
    near_pairs = [((i * 11) % 500, 200000 + i) for i in range(60)]
    near_caught = sum(1 for p in near_pairs if p in pairs)
    assert near_caught >= 30, f"only {near_caught}/60 near-dups found"


def test_minhash_signature_arrow_bit_parity(spark, sf_dir):
    """The vectorized Arrow signature stage must produce the SAME
    integers as both stateless-narrow and the batch explode/groupBy
    chain, doc by doc, lane by lane — including dropping <3-token docs.
    This is the parity contract streaming_minhash_dedup relies on."""
    from gis_etl_spark.fixtures import ensure_documents_aug

    docs = spark.read.parquet(ensure_documents_aug())
    # include pathological short docs to pin the drop semantics
    extra = spark.createDataFrame(
        [
            (900001, "one two", "en", "t", 7),
            (900002, "", "en", "t", 0),
            (900003, None, "en", "t", 0),  # NULL text must drop, not crash
        ],
        docs.schema,
    )
    docs = docs.unionByName(extra)

    def _rows(df):
        return {
            r["doc_id"]: tuple(r[f"m{j}"] for j in range(D.N_HASHES))
            for r in df.collect()
        }

    arrow = _rows(D.minhash_signature_arrow(docs))
    narrow = _rows(D.minhash_signature_narrow(docs))
    batch = _rows(D._minhash_signatures(docs))
    assert arrow == narrow == batch
    assert not {900001, 900002, 900003} & set(arrow)
    assert len(arrow) == docs.count() - 3


def test_canonical_keeper_policy(spark, sf_dir):
    """dedup_canonical_keepers invariants: exactly one keeper per
    component, the keeper maximizes (quality_score, -doc_id) among its
    members, every member names the same keeper — and the policy is
    not a no-op (on this fixture dozens of clusters keep a NON-min-id
    member, i.e. a higher-quality recrawl beats the first-crawled
    copy)."""
    from gis_etl_spark.ops.dedup import dedup_canonical_keepers

    rows = dedup_canonical_keepers(spark, sf_dir).collect()
    byc: dict[int, list] = {}
    for r in rows:
        byc.setdefault(r.component, []).append(r)
    non_min = 0
    for comp, ms in byc.items():
        keepers = [m for m in ms if m.is_kept]
        assert len(keepers) == 1, (comp, ms)
        k = keepers[0]
        assert {m.keeper_id for m in ms} == {k.doc_id}
        best = max((m.quality_score, -m.doc_id) for m in ms)
        assert (k.quality_score, -k.doc_id) == best
        if k.doc_id != min(m.doc_id for m in ms):
            non_min += 1
    assert non_min > 0, "policy never deviated from min-id keeper"


def test_incremental_stage_arrow_bit_parity(spark, sf_dir):
    """The streaming incremental-dedup stage's columnar assembly
    (r13: reduceat lanes + dict-of-arrays, replacing the per-doc
    Python lane loop) must stay bit-equal to the batch chain on every
    emitted column: fph == F.md5(text), hs == the JVM _shingle_hashes
    set, m0..m15 == minhash_signature_arrow — and keep the edge
    semantics (<3-token docs emit hs=[] with NULL lanes; NULL text
    emits nothing)."""
    from pyspark.sql import functions as F

    from gis_etl_spark.fixtures import ensure_documents_aug

    docs = spark.read.parquet(ensure_documents_aug())
    extra = spark.createDataFrame(
        [
            (900001, "one two", "en", "t", 7),   # <3 tokens: kept, NULL lanes
            (900002, "", "en", "t", 0),           # empty: kept, NULL lanes
            (900003, None, "en", "t", 0),         # NULL text: dropped
        ],
        docs.schema,
    )
    docs = docs.unionByName(extra)

    staged = {r["doc_id"]: r for r in D.incremental_stage_arrow(docs).collect()}
    assert 900003 not in staged
    assert len(staged) == docs.count() - 1
    for short_id in (900001, 900002):
        assert staged[short_id]["hs"] == []
        assert all(
            staged[short_id][f"m{j}"] is None for j in range(D.N_HASHES)
        )

    fph = {
        r["doc_id"]: r["fph"]
        for r in docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.md5("text").alias("fph"))
        .collect()
    }
    assert {k: v["fph"] for k, v in staged.items()} == fph

    hs_jvm = {
        r["doc_id"]: sorted(r["hs"])
        for r in D._shingle_hashes(docs).collect()
    }
    assert {
        k: sorted(v["hs"]) for k, v in staged.items() if v["hs"]
    } == hs_jvm

    lanes = {
        r["doc_id"]: tuple(r[f"m{j}"] for j in range(D.N_HASHES))
        for r in D.minhash_signature_arrow(docs).collect()
    }
    assert {
        k: tuple(v[f"m{j}"] for j in range(D.N_HASHES))
        for k, v in staged.items()
        if v["hs"]
    } == lanes


def test_quality_scores_bounded(spark, sf_dir):
    rows = T.text_quality_scores(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 < r.diversity <= 1.0
        assert 0.0 <= r.quality_score <= 1.0


def test_quality_score_half_boundary_matches_duckdb(spark, tmp_path):
    """A doc of 64 words, 24 distinct, 3 stopwords scores
    0.64 · 0.375 · 0.953125 = 0.22874999999999998 in IEEE doubles.
    round(x, 4) gives 0.2287 in Spark (it rounds the shortest decimal
    form, BigDecimal.valueOf, half-up) and 0.2288 in DuckDB (the IEEE
    product x·1e4 rounds to exactly 2287.5); the composite's half-up
    quantize must give 0.2288 on both engines."""
    import duckdb

    others = [f"w{i}" for i in range(23)]
    words = ["the"] * 3 + others * 2 + others[:15]
    assert (len(words), len(set(words))) == (64, 24)
    docs_dir = tmp_path / "sf"
    spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(docs_dir / "documents.parquet"))
    got = T.text_quality_scores(spark, str(docs_dir)).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{docs_dir}/documents.parquet/*.parquet'"
    )
    want = con.execute(
        "SELECT quality_score FROM "
        f"({T.oracle_sqls()['text_quality_scores']})"
    ).fetchall()
    con.close()
    assert [r.quality_score for r in got] == [0.2288]
    assert [r[0] for r in want] == [0.2288]


def test_lang_id_deterministic_argmax(spark, sf_dir):
    rows = T.lang_id(spark, sf_dir).collect()
    assert rows
    assert all(r.predicted_lang in T.LANG_MARKERS for r in rows)
    assert all(r.best_hits >= 0 for r in rows)


def test_simhash_exact_dups_have_zero_hamming(spark, sf_dir):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.dedup_simhash_pairs(spark, sf_dir).collect()
    }
    exact_pairs = [((i * 7) % 500, 100000 + i) for i in range(60)]
    for p in exact_pairs:
        assert p in pairs, f"exact dup {p} missed by simhash bands"
        assert pairs[p] == 0


def test_training_data_prep_funnel_invariants(spark, sf_dir):
    """The prep funnel must be monotone per language
    (raw >= quality >= exact >= final), drop the 60 injected exact
    duplicates, and produce a final set consistent with rerunning the
    stage logic directly."""
    from pyspark.sql import functions as F

    from gis_etl_spark.ops.dedup import training_data_prep

    audit = training_data_prep(spark, sf_dir).collect()
    assert len(audit) > 0
    total_raw = total_final = 0
    for r in audit:
        assert r.n_raw >= r.n_quality >= r.n_exact >= r.n_final, r
        total_raw += r.n_raw
        total_final += r.n_final
    # fixture has 620 docs incl. injected exact + near dups; the funnel
    # must remove a nontrivial number at each stage overall
    assert total_raw == 620
    assert 0 < total_final < total_raw
    # exact-dedup stage must collapse every injected duplicate group:
    # n_exact == distinct md5(text) among quality survivors
    n_exact = sum(r.n_exact for r in audit)
    n_quality = sum(r.n_quality for r in audit)
    assert n_exact < n_quality


def test_kmeans_distributed_matches_sequential_reference(spark, sf_dir):
    """Distributed Lloyd (driver codebook + map-side assignment) must
    reproduce the sequential reference EXACTLY — the iteration-boundary
    rounding contract makes shuffle-order sum noise invisible."""
    from gis_etl_spark.ops import similarity as S

    emb = S._emb(spark, sf_dir)
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["v"]]
        for r in emb.select("vec_id", "v").collect()
    }
    assert S.kmeans_fit(emb) == S.kmeans_reference(vecs)


def test_kmeans_inertia_decreases(spark, sf_dir):
    """Lloyd monotonicity (up to the rounding quantum): total within-
    cluster d2 after 3 iterations is below the seed assignment's."""
    from gis_etl_spark.ops import similarity as S

    emb = S._emb(spark, sf_dir)
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["v"]]
        for r in emb.select("vec_id", "v").collect()
    }

    def inertia(cents):
        tot = 0.0
        for v in vecs.values():
            best = None
            for c in cents:
                acc = sum((x - y) * (x - y) for x, y in zip(v, c))
                best = acc if best is None else min(best, acc)
            tot += best
        return tot

    seed = S.kmeans_reference(vecs, iters=0)
    trained = S.kmeans_reference(vecs)
    assert inertia(trained) < inertia(seed)


def test_dedup_components_properties(spark, sf_dir):
    """Connected components over the near-dup pair graph: both
    endpoints of every pair share a component, the canonical doc is
    the component minimum, sizes are consistent, and exactly one doc
    per component is kept."""
    comp = {
        r.doc_id: (r.component, r.n_members, r.is_kept)
        for r in D.dedup_components(spark, sf_dir).collect()
    }
    pairs = D.dedup_minhash_pairs(spark, sf_dir).collect()
    assert pairs and comp
    for p in pairs:
        assert comp[p.doc_a][0] == comp[p.doc_b][0], (p.doc_a, p.doc_b)
    from collections import Counter

    sizes = Counter(c for c, _, _ in comp.values())
    for doc_id, (c, n, kept) in comp.items():
        assert c <= doc_id
        assert n == sizes[c]
        assert kept == (doc_id == c)
    assert sum(1 for _, _, k in comp.values() if k) == len(sizes)


def test_decontaminate_overlap_contract(spark, sf_dir):
    """Eval docs are excluded from the audit; a corpus duplicate of an
    eval doc is flagged; contamination is exactly the >= T rule."""
    from gis_etl_spark.ops.text import DECON_T, EVAL_MOD, decontaminate_overlap

    rows = decontaminate_overlap(spark, sf_dir).collect()
    assert rows
    assert all(r.doc_id % EVAL_MOD != 0 for r in rows)
    assert all((r.n_shared >= DECON_T) == r.contaminated for r in rows)
    assert any(r.contaminated for r in rows), "fixture has eval dups"


def test_pii_scan_detects_planted_tokens(spark, sf_dir):
    """Every 10th doc carries the planted email+phone, every 21st the
    SSN-shaped token, and unplanted docs stay clean."""
    from gis_etl_spark.ops.text import pii_scan

    rows = pii_scan(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.doc_id % 10 == 0:
            assert r.n_emails >= 1 and r.n_phones >= 1 and r.has_pii
        if r.doc_id % 21 == 0:
            assert r.n_ssns >= 1 and r.has_pii
        if r.doc_id % 10 != 0 and r.doc_id % 21 != 0:
            assert (r.n_emails, r.n_phones, r.n_ssns) == (0, 0, 0)
            assert not r.has_pii


def test_pii_regexes_on_adversarial_literals(spark):
    """Regex edge cases the fixture scan can't exercise: boundary
    anchoring, multiple hits, near-miss shapes."""
    import pandas as pd

    from gis_etl_spark.ops.text import _PII_EMAIL, _PII_PHONE, _PII_SSN

    cases = pd.DataFrame(
        {
            "s": [
                "a@b.co and c.d+e@f-g.org twice",
                "x123-456-7890y",          # no word boundary break: 'x' is
                                           # a word char, digits too → \b
                                           # fails at x|1, matches at 0y? no
                "call 123-456-7890 now",
                "ssn 123-45-6789.",
                "not-a-phone 12-345-6789 1234-56-7890",
                "plain text only",
            ]
        }
    )
    sdf = spark.createDataFrame(cases)
    from pyspark.sql import functions as F

    got = sdf.select(
        F.regexp_count("s", F.lit(_PII_EMAIL)).alias("e"),
        F.regexp_count("s", F.lit(_PII_PHONE)).alias("p"),
        F.regexp_count("s", F.lit(_PII_SSN)).alias("n"),
    ).collect()
    assert [r.e for r in got] == [2, 0, 0, 0, 0, 0]
    assert [r.p for r in got] == [0, 0, 1, 0, 0, 0]
    assert [r.n for r in got] == [0, 0, 0, 1, 0, 0]


def test_training_shards_properties(spark, sf_dir):
    """Shard manifest: conserves the exportable corpus, deterministic
    across runs, and exact duplicates co-shard (their shard is a pure
    content property) — the invariant that keeps per-shard dedup
    exact."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table

    rows = T.training_shards(spark, sf_dir).collect()
    assert {r.shard for r in rows} <= set(range(T.N_SHARDS))
    n_export = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_export
    again = {(r.shard, r.n_docs, r.id_sum)
             for r in T.training_shards(spark, sf_dir).collect()}
    assert again == {(r.shard, r.n_docs, r.id_sum) for r in rows}
    # injected exact duplicates share text → share shard: doc pairs
    # ((i*7)%500, 100000+i) must never split across shards, which the
    # id checksum can't see — check directly on the assignment
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    from gis_etl_spark.ops.text import h60

    assign = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", (h60(F.col("text")) % T.N_SHARDS).alias("s")
        ).collect()
    }
    for i in range(60):
        a, b = (i * 7) % 500, 100000 + i
        if a in assign and b in assign:
            assert assign[a] == assign[b], (a, b)


def test_sequence_pack_invariants(spark, sf_dir):
    """Concat-and-chunk arithmetic: per shard, the packed-sequence
    count is EXACTLY ceil(total_tokens / budget); straddlers are
    bounded by the sequence count; the layout is deterministic."""
    rows = T.sequence_pack(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_seqs == (r.n_tokens - 1) // T.PACK_BUDGET + 1, r
        assert 0 <= r.n_straddlers <= r.n_seqs
        assert r.n_docs > 0 and r.n_tokens > 0
    again = {tuple(r) for r in T.sequence_pack(spark, sf_dir).collect()}
    assert again == {tuple(r) for r in rows}


def test_mixture_sample_hits_targets(spark, sf_dir):
    """Mixture resampling: over-represented languages are cut to
    ~budget-share (within hash-rounding), under-represented ones keep
    every doc (no upsampling), and the keep decision is a pure content
    hash (re-running yields identical ids)."""
    from gis_etl_spark.ops.text import (
        MIX_BUDGET_DEN,
        MIX_BUDGET_NUM,
        MIX_D,
        MIX_N_LANGS,
        mixture_sample,
    )

    rows = mixture_sample(spark, sf_dir).collect()
    total = sum(r.n_in for r in rows)
    target = (total * MIX_BUDGET_NUM // MIX_BUDGET_DEN) // MIX_N_LANGS
    for r in rows:
        if r.threshold >= MIX_D:  # under target → keep everything
            assert r.n_kept == r.n_in, r
            assert r.n_in <= target or r.n_in * MIX_N_LANGS <= total
        else:
            # kept count concentrates around target; hash rounding on a
            # few hundred docs → generous band
            assert r.n_kept <= r.n_in
            assert abs(r.n_kept - target) <= max(10, target * 0.35), (
                r, target,
            )
    again = {
        (r.lang, r.n_kept, r.id_sum)
        for r in mixture_sample(spark, sf_dir).collect()
    }
    assert again == {(r.lang, r.n_kept, r.id_sum) for r in rows}


def test_dedup_spans_invariants(spark, sf_dir):
    """Span dedup conservation: kept spans are globally unique, every
    span survives exactly once corpus-wide, and per-doc reassembly
    preserves word order and count."""
    from gis_etl_spark.ops.dedup import SPAN_K, dedup_spans

    rows = dedup_spans(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        if r.text
    }
    assert {r.doc_id for r in rows} == set(docs)

    seen = set()
    total_spans = total_kept = 0
    for r in sorted(rows, key=lambda r: r.doc_id):
        assert 0 <= r.n_kept <= r.n_spans
        words = docs[r.doc_id].strip().split()
        n_chunks = (len(words) + SPAN_K - 1) // SPAN_K
        assert r.n_spans == n_chunks
        spans = [
            " ".join(words[i * SPAN_K : (i + 1) * SPAN_K])
            for i in range(n_chunks)
        ]
        kept = [s for s in spans if s not in seen]
        seen.update(spans)
        # first-occurrence keeper in (doc_id, cid) order == scan order
        assert r.n_kept == len(kept), r.doc_id
        assert r.text_dedup == " ".join(kept), r.doc_id
        total_spans += r.n_spans
        total_kept += r.n_kept

    # every distinct span survives exactly once corpus-wide
    assert total_kept == len(seen)
    assert total_kept < total_spans  # the fixture really has span dups


def test_pq_adc_and_rerank_properties(spark, sf_dir):
    """PQ invariants: codes are in range, ADC self-consistency, and the
    exact rerank recovers most of the true top-k (recall floor pinned
    well under the measured 0.75-0.83 — isotropic synthetic embeddings
    are the hardest case for any space partitioner) while raw ADC@k
    does not."""
    import numpy as np

    from gis_etl_spark.ops.similarity import (
        N_QUERIES,
        PQ_KSUB,
        PQ_M,
        TOPK,
        _emb,
        _pq_codebooks,
        pq_codes_col,
        similarity_pq_adc,
        similarity_pq_rerank,
    )
    import pyspark.sql.functions as F

    cbs = _pq_codebooks(spark, sf_dir)
    assert len(cbs) == PQ_M and all(len(cb) == PQ_KSUB for cb in cbs)

    emb = _emb(spark, sf_dir)
    codes = emb.select(pq_codes_col(cbs).alias("codes")).collect()
    for r in codes:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_KSUB for c in r.codes)

    V = {r.vec_id: np.array(r.v) for r in emb.select("vec_id", "v").collect()}
    exact = {}
    for q in range(N_QUERIES):
        d = sorted(
            (float(np.sum((V[q] - V[i]) ** 2)), i) for i in V if i != q
        )
        exact[q] = {i for _, i in d[:TOPK]}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert set(got) == set(range(N_QUERIES))
        assert all(len(v) == TOPK for v in got.values())
        return sum(
            len(exact[q] & got[q]) / TOPK for q in range(N_QUERIES)
        ) / N_QUERIES

    r_rerank = recall(similarity_pq_rerank(spark, sf_dir))
    r_adc = recall(similarity_pq_adc(spark, sf_dir))
    assert r_rerank >= 0.6, r_rerank
    assert r_rerank > r_adc, (r_rerank, r_adc)

    # rerank distances are the TRUE distances on its picks
    for r in similarity_pq_rerank(spark, sf_dir).collect():
        true_d2 = float(np.sum((V[r.query_id] - V[r.neighbor_id]) ** 2))
        assert abs(r.d2 - round(true_d2, 6)) < 1e-9


def test_incremental_dedup_bipartite(spark, sf_dir):
    """Incremental snapshot dedup invariants: every pair is (new-side,
    snapshot-side); exact pairs are byte-identical text at jaccard 1.0;
    fuzzy pairs clear the MinHash threshold; exact-dup'd new docs never
    reach the fuzzy stage; and both bipartite probes stay broadcast
    joins (the new side is the small side by design)."""
    from gis_etl_spark.ops.dedup import (
        INC_MOD,
        INC_NEW_REM,
        MINHASH_JACCARD_T,
        _docs,
        incremental_dedup_pairs,
    )

    df = incremental_dedup_pairs(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    rows = df.collect()
    assert rows
    texts = {
        r.doc_id: r.text
        for r in _docs(spark).select("doc_id", "text").collect()
    }
    exact_new = {r.new_id for r in rows if r.kind == "exact"}
    kinds = set()
    for r in rows:
        kinds.add(r.kind)
        assert r.new_id % INC_MOD == INC_NEW_REM
        assert r.snap_id % INC_MOD != INC_NEW_REM
        if r.kind == "exact":
            assert texts[r.new_id] == texts[r.snap_id]
            assert r.jaccard == 1.0
        else:
            assert r.kind == "fuzzy"
            assert r.jaccard >= MINHASH_JACCARD_T
            assert r.new_id not in exact_new
    # the dedup fixture injects both exact copies and paraphrases, and
    # the 25% split must catch some of each across the boundary
    assert kinds == {"exact", "fuzzy"}, kinds


def test_ivfpq_rerank_recall(spark, sf_dir):
    """IVFADC+R (VERDICT r11 item 1): the rerank rung must recover most
    of the true L2 top-k — the floor sits well under the measured
    0.78-0.95 — and must strictly beat raw probed-ADC@k (the 15%-recall
    variant the dashboard flagged). Rerank distances are the TRUE
    distances on its picks."""
    import numpy as np
    import pyspark.sql.functions as F  # noqa: F401

    from gis_etl_spark.ops.similarity import (
        N_QUERIES,
        TOPK,
        _emb,
        similarity_ivfpq,
        similarity_ivfpq_rerank,
    )

    emb = _emb(spark, sf_dir)
    V = {r.vec_id: np.array(r.v) for r in emb.select("vec_id", "v").collect()}
    exact = {}
    for q in range(N_QUERIES):
        d = sorted(
            (float(np.sum((V[q] - V[i]) ** 2)), i) for i in V if i != q
        )
        exact[q] = {i for _, i in d[:TOPK]}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        assert set(got) == set(range(N_QUERIES))
        assert all(len(v) == TOPK for v in got.values())
        return sum(
            len(exact[q] & got[q]) / TOPK for q in range(N_QUERIES)
        ) / N_QUERIES

    r_rerank = recall(similarity_ivfpq_rerank(spark, sf_dir))
    r_adc = recall(similarity_ivfpq(spark, sf_dir))
    # floor raised with the r13 knee (R=100): measured 0.90-0.95 at
    # sf0.1/sf0.01 — recall is shortlist-capped, not probe-capped
    assert r_rerank >= 0.85, r_rerank
    assert r_rerank > r_adc, (r_rerank, r_adc)

    for r in similarity_ivfpq_rerank(spark, sf_dir).collect():
        true_d2 = float(np.sum((V[r.query_id] - V[r.neighbor_id]) ** 2))
        assert abs(r.d2 - round(true_d2, 6)) < 1e-9


def test_bpe_invariants(spark, sf_dir):
    """BPE trainer/segmenter invariants: monotone nonincreasing merge
    counts, lossless segmentation (subwords concatenate back to the
    word), and subword counts bounded by chars and words."""
    from gis_etl_spark.ops.text import (
        _bpe_apply_merge,
        _bpe_word_freq,
        bpe_fit,
        bpe_segment_stats,
        bpe_train_merges,
    )

    merges = [tuple(r) for r in bpe_train_merges(spark, sf_dir).collect()]
    assert merges == bpe_fit(spark, sf_dir)  # cache coherent
    ranks = [m[0] for m in merges]
    assert ranks == list(range(1, len(ranks) + 1))
    # each merge's count can exceed a LATER count (counts re-derive
    # after each merge) but the argmax sequence must be nontrivial
    assert all(m[2] > 0 for m in merges)
    assert len({m[1] for m in merges}) == len(merges)

    freq = _bpe_word_freq(spark, sf_dir)
    for _, pr, _ in merges:
        freq = _bpe_apply_merge(freq, pr)
    for r in freq.collect():
        # segmentation is lossless: symbols concatenate to the word
        assert r.s.replace(" ", "") == r.w, (r.w, r.s)
        assert 1 <= len(r.s.split(" ")) <= len(r.w)

    stats = bpe_segment_stats(spark, sf_dir).collect()
    for r in stats:
        assert r.n_words <= r.n_subwords  # ≥1 subword per word


def test_ivfpq_structural_invariants(spark, sf_dir):
    """IVFADC invariants: every returned neighbor belongs to one of
    its query's probed coarse lists; per-query ranks are 1..k with
    nondecreasing approximate distances; repeat runs are identical.
    (No recall floor: isotropic synthetic embeddings give any coarse
    partitioner near-chance list separation — the oracle hash match
    is the correctness bar; this test pins the retrieval STRUCTURE.)"""
    import numpy as np
    import pyspark.sql.functions as F

    from gis_etl_spark.ops.similarity import (
        N_PROBE,
        N_QUERIES,
        TOPK,
        _coarse_codebook,
        _d2_cols,
        _emb,
        similarity_ivfpq,
    )

    rows = similarity_ivfpq(spark, sf_dir).collect()
    emb = _emb(spark, sf_dir)
    cents = _coarse_codebook(spark, sf_dir)
    assigned = {
        r.vec_id: r.list_id
        for r in emb.select(
            "vec_id",
            F.array_min(_d2_cols("v", cents))
            .getField("c_id")
            .alias("list_id"),
        ).collect()
    }
    probes: dict[int, set] = {}
    for r in (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.posexplode(F.array_sort(_d2_cols("v", cents))).alias(
                "rk", "s"
            ),
        )
        .filter(F.col("rk") < N_PROBE)
        .select("qid", F.col("s").getField("c_id").alias("list_id"))
        .collect()
    ):
        probes.setdefault(r.qid, set()).add(r.list_id)

    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(N_QUERIES))
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOPK
        d = [r.approx_d2 for r in rs]
        assert all(x >= 0 for x in d) and d == sorted(d)
        for r in rs:
            assert assigned[r.neighbor_id] in probes[q], (
                q, r.neighbor_id,
            )

    again = [(r.query_id, r.neighbor_id, r.rank) for r in
             similarity_ivfpq(spark, sf_dir).collect()]
    assert again == [(r.query_id, r.neighbor_id, r.rank) for r in rows]


def test_training_prep_v2_monotone_funnel(spark, sf_dir):
    """v2 funnel invariants per shard: n_final ≤ n_span_ok ≤
    n_surprisal ≤ n_raw, budgets/checksums zero iff no survivors,
    and totals conserve across shards (every doc lands in exactly
    one shard)."""
    from gis_etl_spark.ops.dedup import _docs, training_data_prep_v2

    rows = training_data_prep_v2(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_final <= r.n_span_ok <= r.n_surprisal <= r.n_raw
        assert (r.n_final == 0) == (r.id_sum == 0)
        assert (r.n_final == 0) == (r.tok_budget == 0)
    n_docs = (
        _docs(spark)
        .filter("text IS NOT NULL AND length(trim(text)) > 0")
        .count()
    )
    assert sum(r.n_raw for r in rows) == n_docs
    assert 0 < sum(r.n_final for r in rows) < n_docs


def test_semdedup_sound_and_recall(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) contract: (a) soundness — every
    dropped vector has a lower-id near-twin at cosine >= SEMDEDUP_T
    (intra-cluster pairs are a subset of ALL pairs, so drops must be a
    subset of the exact global higher-id near-dup set, recomputed here
    with numpy); (b) the cluster restriction still catches >= 30% of
    that global set (the price of never comparing across clusters);
    (c) keep/drop is deterministic across runs."""
    import numpy as np

    rows = S.semdedup(spark, sf_dir).collect()
    assert len(rows) == S._emb(spark, sf_dir).count()
    dropped = {r.vec_id for r in rows if r.dropped}
    assert dropped, "threshold dropped nothing — contract signal lost"

    emb = sorted(
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in S._emb(spark, sf_dir).collect()
    )
    ids = np.array([e[0] for e in emb])
    M = np.array([e[1] for e in emb])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = Mn @ Mn.T
    higher = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if C[i, j] >= S.SEMDEDUP_T - 1e-9:
                higher.add(int(ids[j]))
    assert dropped <= higher, f"unsound drops: {sorted(dropped - higher)[:5]}"
    recall = len(dropped) / len(higher)
    assert recall >= 0.3, f"intra-cluster recall collapsed: {recall:.2f}"

    again = {r.vec_id for r in S.semdedup(spark, sf_dir).collect() if r.dropped}
    assert again == dropped


def test_quality_deciles_matches_global_ntile(spark, sf_dir):
    """The distributed closed-form bucketing must reproduce Spark's own
    ntile() over a global window (the plan we refuse to run at scale),
    and decile score ranges must be non-overlapping and ordered."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    got = T.quality_deciles(spark, sf_dir).collect()
    q = T.text_quality_scores(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    w = Window.orderBy("quality_score", "doc_id")
    want = {
        (r.decile, r.n_docs, r.id_sum)
        for r in q.withColumn("decile", F.ntile(T.N_DECILES).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
        )
        .collect()
    }
    assert {(r.decile, r.n_docs, r.id_sum) for r in got} == want
    assert [r.decile for r in got] == list(range(1, T.N_DECILES + 1))
    for a, b in zip(got, got[1:]):
        assert a.max_score <= b.min_score


def test_lit_vec_sql_literals_bit_exact(spark):
    """_lit_vec builds double literals as `repr(x)D` SQL text (one
    parsed expression instead of per-element py4j lits). repr is
    shortest-exact and Java's Double parsing is correctly rounded, so
    the round-trip must be BIT-exact — including subnormals, extremes,
    and negative zero."""
    import struct

    vals = [
        0.05424950644373894, -0.2524777352809906, 1e-300, 5e-324,
        1.7976931348623157e308, -0.0, 123456789.123456789,
        float.fromhex("0x1.fffffffffffffp-3"),
    ]
    row = (
        spark.range(1)
        .select(S._lit_vec(vals).alias("a"))
        .collect()[0]
    )
    for got, want in zip(row.a, vals):
        assert struct.pack("<d", got) == struct.pack("<d", want)


def test_semdedup_cluster_audit_conserves_and_bounds(spark, sf_dir):
    """Audit invariants: cluster sizes sum to the corpus, pair counts
    follow n(n-1)/2 exactly, and the fixture stays under the cap (the
    audit exists to catch the day that stops being true)."""
    rows = S.semdedup_cluster_audit(spark, sf_dir).collect()
    n_corpus = S._emb(spark, sf_dir).count()
    assert sum(r.n_vecs for r in rows) == n_corpus
    for r in rows:
        assert r.n_pairs == r.n_vecs * (r.n_vecs - 1) // 2
        assert r.over_cap == (r.n_vecs > S.SEMDEDUP_CLUSTER_CAP)
    assert not any(r.over_cap for r in rows)
    # audit clusters == the clusters semdedup actually uses
    sd = S.semdedup(spark, sf_dir).groupBy("list_id").count().collect()
    assert {(r.list_id, r["count"]) for r in sd} == {
        (r.list_id, r.n_vecs) for r in rows
    }


def test_semdedup_blocked_kernel_parity_and_bounded_tiles(spark, sf_dir, monkeypatch):
    """The mega-cluster enforcement (VERDICT r4 'What's wrong #2'):
    the per-cluster pairwise kernel is tile-blocked, so (a) a forced
    multi-block execution (block << cluster size) returns EXACTLY the
    unblocked keeps — bit-identical, since each cosine element keeps
    the same dimension-ordered IEEE accumulation; (b) no tile larger
    than block² is ever allocated (peak memory bounded regardless of
    cluster size); (c) the full semdedup query under a tiny forced
    block matches its own default-block output."""
    import numpy as np

    rng = np.random.default_rng(41)
    # one synthetic "mega-cluster": 157 unit vectors, dims 16, with
    # planted near-dup pairs (157 deliberately not a block multiple)
    M = rng.normal(size=(157, 16))
    for i in range(0, 150, 10):  # plant twins: row i+1 ≈ row i
        M[i + 1] = M[i] + rng.normal(scale=0.01, size=16)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    t = 0.8

    unblocked = S._semdedup_dropped(M, t, block=10**9)

    seen_shapes = []
    orig_zeros = np.zeros

    def spy_zeros(shape, *a, **k):
        if isinstance(shape, tuple) and len(shape) == 2:
            seen_shapes.append(shape)
        return orig_zeros(shape, *a, **k)

    monkeypatch.setattr(np, "zeros", spy_zeros)
    blocked = S._semdedup_dropped(M, t, block=13)
    monkeypatch.setattr(np, "zeros", orig_zeros)

    assert (blocked == unblocked).all()
    assert blocked.any(), "planted twins must be dropped"
    assert seen_shapes, "blocked path allocated no tiles?"
    assert max(r * c for r, c in seen_shapes) <= 13 * 13

    # end-to-end: the registry query under a forced tiny block equals
    # the default — multi-block execution on every real cluster
    base = {
        (r.vec_id, r.dropped) for r in S.semdedup(spark, sf_dir).collect()
    }
    monkeypatch.setattr(S, "SEMDEDUP_BLOCK", 7)
    forced = {
        (r.vec_id, r.dropped) for r in S.semdedup(spark, sf_dir).collect()
    }
    assert forced == base


# --- document_chunks (overlapping token-window chunking) -------------------


def _ref_chunks(text: str):
    """Sequential reference chunker: same tokenizer convention as
    words_col (split trimmed text on runs of spaces)."""
    import hashlib
    import re

    toks = re.split(" +", text.strip())
    C, S = T.CHUNK_TOKENS, T.CHUNK_STRIDE
    n = len(toks)
    n_chunks = 1 if n <= C else 1 + -(-(n - C) // S)
    out = []
    for i in range(n_chunks):
        window = toks[i * S : i * S + C]
        out.append(
            (
                i,
                len(window),
                hashlib.md5(" ".join(window).encode()).hexdigest(),
            )
        )
    return out


def test_document_chunks_match_sequential_reference(spark, sf_dir):
    """Every (offset, size, content-md5) triple must equal the
    sequential chunker's on the real corpus."""
    from gis_etl_spark.io import read_table

    docs = {
        r["doc_id"]: r["text"]
        for r in read_table(spark, sf_dir, "documents").collect()
    }
    got: dict = {}
    for r in T.document_chunks(spark, sf_dir).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_tok"], r["chunk_md5"])
        )
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        assert got[doc_id] == _ref_chunks(text), doc_id


def test_document_chunks_edge_lengths(spark, sf_dir):
    """Boundary token counts: n == C → one chunk; n == C+1 → two chunks
    with the straddler rule; tiny and empty docs → one chunk."""
    import pandas as pd

    C, S = T.CHUNK_TOKENS, T.CHUNK_STRIDE
    cases = {
        1: "w " * C,           # exactly C tokens
        2: "w " * (C + 1),     # one past → second (short) chunk
        3: "w " * (C + S),     # exactly fills two strides
        4: "single",
        5: "",
        6: "a b",
    }
    pdf = pd.DataFrame(
        {"doc_id": list(cases), "text": [cases[k] for k in cases]}
    )
    df = spark.createDataFrame(pdf)

    import gis_etl_spark.ops.text as tx

    orig = tx.read_table
    tx.read_table = lambda sp, sd, name: df
    try:
        rows = tx.document_chunks(spark, "unused").collect()
    finally:
        tx.read_table = orig
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_tok"]))
    assert got[1] == [(0, C)]
    assert got[2] == [(0, C), (1, C + 1 - S)]
    assert got[3] == [(0, C), (1, S + C - S)]  # second chunk: tokens S..S+C
    assert got[4] == [(0, 1)]
    assert got[5] == [(0, 1)]  # split('') -> [''] — one empty token, as the oracle
    assert got[6] == [(0, 2)]
    # sequential-reference agreement on every case
    for k, text in cases.items():
        assert [(i, n) for i, n, _ in _ref_chunks(text)] == got[k]


def test_chunk_dedup_groups_keeper_and_counts(spark):
    """Chunk-level dedup on a crafted corpus: a 64-token window shared
    by three docs (one of them twice, via an exact-stride repeat)
    collapses to the lexicographically-min (doc_id, chunk_idx) keeper
    with the right copy/doc counts; unique chunks don't appear."""
    import pandas as pd

    C, S = T.CHUNK_TOKENS, T.CHUNK_STRIDE
    boiler = " ".join(f"b{i}" for i in range(C))  # the shared window
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    cases = {
        # doc 3: boilerplate at chunk 0 AND repeated at an exact stride
        # boundary — [S*2 : S*2+C] must reproduce the same window, so
        # pad the gap between copies with S tokens then re-emit
        3: boiler + " " + uniq("x", 2 * S - C) + " " + boiler
        if 2 * S > C
        else boiler + " " + boiler,
        # doc 5: boilerplate as its only (full) chunk
        5: boiler,
        # doc 7: unique text only — must not appear in output
        7: uniq("z", C),
    }
    pdf = pd.DataFrame(
        {"doc_id": list(cases), "text": [cases[k] for k in cases]}
    )
    df = spark.createDataFrame(pdf)

    import gis_etl_spark.ops.text as tx

    orig = tx.read_table
    tx.read_table = lambda sp, sd, name: df
    try:
        rows = tx.chunk_dedup_groups(spark, "unused").collect()
    finally:
        tx.read_table = orig
    # exactly one duplicated group: the boilerplate window
    import hashlib

    boiler_md5 = hashlib.md5(boiler.encode()).hexdigest()
    assert len(rows) == 1
    r = rows[0]
    assert r["chunk_md5"] == boiler_md5
    assert r["n_copies"] == 3  # doc3 ×2 (chunk 0 and chunk 2) + doc5
    assert r["n_docs"] == 2
    assert (r["keeper_doc"], r["keeper_idx"]) == (3, 0)


def test_weighted_sample_length_proportional(spark, sf_dir):
    """Efraimidis–Spirakis inclusion is weight-proportional: the
    sampled docs' mean n_chars must exceed the corpus mean by a
    margin, the plan must be a TakeOrdered (no global sort), and the
    output must be bit-stable across repartitioning."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.text import WS_N, weighted_sample_docs

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    n_docs = docs.count()
    budget = max(20, n_docs // 5)  # a REAL subsample at any sf
    out = weighted_sample_docs(spark, sf_dir, n=budget)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]

    rows = out.collect()
    assert len(rows) == min(budget, n_docs)
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean * 1.05, (sample_mean, corpus_mean)

    again = weighted_sample_docs(spark, sf_dir, n=budget).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_edit1_pairs_matches_bruteforce(spark):
    """Deletion-neighborhood candidates must be COMPLETE for ED≤1
    (substitution / insertion / deletion / prefix-suffix edits) and
    the verify must kill every ED≥2 near-miss — checked against a
    brute-force levenshtein over a crafted vocabulary."""
    import itertools

    from gis_etl_spark.ops.dedup import edit1_pairs

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(
                    prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)
                ))
            prev = cur
        return prev[-1]

    vocab = [
        "alpha", "alphb", "alpa", "alphas", "xalpha",   # sub/del/ins
        "beta", "betta", "bta", "eta", "betas",
        "gamma", "gamm", "gmma", "gamma2", "hamma",
        "x", "y", "xy", "yx", "zz",                       # short strings
        "same", "same",                                   # duplicates
    ]
    df = spark.createDataFrame([(v,) for v in vocab], "s string")
    got = {
        (r.a_val, r.b_val) for r in edit1_pairs(df, "s").collect()
    }
    uniq = sorted(set(vocab))
    exp = {
        (a, b)
        for a, b in itertools.combinations(uniq, 2)
        if lev(a, b) <= 1
    }
    assert got == exp
    assert ("alpha", "alphb") in got and ("x", "xy") in got
    assert ("alpha", "gamma") not in got


def test_embedding_int8_quantization_bounds(spark, sf_dir):
    """int8 audit invariants: codes stay in [0,255] (checksum bound),
    and the mean |reconstruction error| per value is ≤ scale/2 + ULP —
    the affine-quantizer contract."""
    from gis_etl_spark.ops.similarity import (
        INT8_ERR_DP,
        embedding_int8_stats,
    )

    rows = embedding_int8_stats(spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        assert 0 <= r["code_sum"] <= 255 * r["n"]
        scale = (r["dim_max"] - r["dim_min"]) / 255.0
        mean_err = r["err_units"] / (10**INT8_ERR_DP) / r["n"]
        assert mean_err <= scale / 2 + 1e-6, (r["dim"], mean_err, scale)


def test_int8_adc_recall_vs_exact(spark, sf_dir):
    """The int8-ADC + rerank top-k must recover nearly all of the
    exact-L2 top-k (8 bits/dim scalar quantization is a far finer
    code than PQ's 3 bits per 8-dim subspace, and the exact rerank
    fixes any shortlist-order noise) — floor 0.9, brute twin in numpy."""
    import numpy as np
    import pyarrow.parquet as pq

    from gis_etl_spark.ops.similarity import (
        N_QUERIES,
        TOPK,
        similarity_int8_adc,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.asarray(t["vec_id"])
    V = np.array(t["embedding"].to_pylist(), dtype="f8")
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    exact = set()
    for q in range(N_QUERIES):
        qi = int(np.searchsorted(ids, q))
        d2 = ((V - V[qi]) ** 2).sum(axis=1)
        cand = [
            (d2[j], int(ids[j])) for j in range(len(ids)) if ids[j] != q
        ]
        for d, vid in sorted(cand)[:TOPK]:
            exact.add((q, vid))
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity_int8_adc(spark, sf_dir).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"int8-ADC recall collapsed: {recall:.2f}"


def test_fuzzy_decontaminate_catches_planted_leaks(spark, sf_dir):
    """The bipartite MinHash decontamination must catch the fixture's
    planted leaks of eval doc 0 (doc_id % 97 == 0): its EXACT copy
    (100000, J=1.0) and its PARAPHRASED copy (200000, ~12% of words
    replaced — the case the exact 5-gram audit is blind to), and
    never emit a pair below the verify threshold."""
    from gis_etl_spark.ops.dedup import (
        MINHASH_JACCARD_T,
        fuzzy_decontaminate,
    )

    rows = fuzzy_decontaminate(spark, sf_dir).collect()
    got = {(r.doc_id, r.eval_id): r.jaccard for r in rows}
    assert got[(100000, 0)] == 1.0          # exact leak
    near = got[(200000, 0)]                 # paraphrased leak
    assert MINHASH_JACCARD_T <= near < 1.0
    assert all(j >= MINHASH_JACCARD_T for j in got.values())
    assert all(e % 97 == 0 and d % 97 != 0 for d, e in got)


def test_leakage_safe_splits_zero_component_leaks(spark, sf_dir):
    """Component-bucketed splits must leak NO near-dup pair across
    split boundaries (that is the operator's contract), while the
    naive per-doc hash audit must show the leaks it prevents; splits
    cover the whole corpus and stay roughly balanced."""
    from gis_etl_spark.ops.dedup import (
        LEAKAGE_N_SPLITS,
        _docs,
        leakage_safe_splits,
    )

    rows = leakage_safe_splits(spark, sf_dir).collect()
    assert len(rows) == LEAKAGE_N_SPLITS
    assert sum(r.leaky_pairs for r in rows) == 0
    assert sum(r.leaky_pairs_naive for r in rows) > 0
    n_total = _docs(spark).count()
    assert sum(r.n_docs for r in rows) == n_total
    assert max(r.n_docs for r in rows) <= 3 * min(r.n_docs for r in rows)


def test_cms_estimates_one_sided_and_tight(spark, sf_dir):
    """CMS contract: estimates NEVER undercount (min over rows of
    counters that each include the key's true mass), and the overcount
    stays within the classic eps*N envelope (eps ~ e/W) on this
    corpus — a collapsed hash (all keys one bucket) or a broken
    min-combine fails both."""
    from pyspark.sql import functions as F

    from gis_etl_spark.io import read_table
    from gis_etl_spark.ops.text import (
        CMS_TOP,
        CMS_W,
        cms_token_counts,
        words_col,
    )

    rows = cms_token_counts(spark, sf_dir).collect()
    assert len(rows) == CMS_TOP
    assert all(r.cms_est >= r.exact_n for r in rows)
    n_total = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(words_col(F.col("text"))).alias("t"))
        .count()
    )
    eps_n = 3.0 * n_total / CMS_W  # ~e/W with slack
    assert all(r.overcount <= eps_n for r in rows), (
        max(r.overcount for r in rows),
        eps_n,
    )


def test_per_query_topk_equals_single_window(spark):
    """_per_query_topk (salted two-level) must be row-identical to the
    naive one-window top-k under a total order — on data with heavy
    ties in the value column, multiple queries, k larger and smaller
    than group sizes, and ids straddling every salt class."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from gis_etl_spark.ops.similarity import _per_query_topk

    df = (
        spark.range(4000)
        .select(
            (F.col("id") % 7).alias("query_id"),
            F.col("id").alias("vec_id"),
            # heavy ties: only 11 distinct values
            (F.pmod(F.col("id") * 2654435761, F.lit(11))).alias("units"),
        )
    )
    for k in (1, 5, 64, 1000):
        order = [F.asc("units"), F.asc("vec_id")]
        got = {
            (r.query_id, r.vec_id, r.rk)
            for r in _per_query_topk(df, k, order, "vec_id").collect()
        }
        w = Window.partitionBy("query_id").orderBy(*order)
        exp = {
            (r.query_id, r.vec_id, r.rk)
            for r in df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .collect()
        }
        assert got == exp, (k, len(got), len(exp))
