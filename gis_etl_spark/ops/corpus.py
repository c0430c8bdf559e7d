"""End-to-end training-corpus build — the ONE funnel a curation run
publishes.

The policy layer computes its pieces separately (near-dup keepers,
quality scores, PII hits, the Hamilton token plan, the quota draw);
`corpus_build_funnel` composes them into the artifact a 100 TB corpus
build actually ships with: the per-source, per-stage funnel rollup

    raw → near_dedup → quality → pii_clean → mixture_draw

where each stage's (n_docs, n_tokens) answers "what did this policy
cost me, per source" — the number a curator reads before signing off
on a training set. Every stage reuses the EXACT expressions of its
standalone contract query (dedup_canonical_keepers' keeper argmax,
text_quality_scores' composite, pii_scan's patterns on the shared
planted-text convention, mixture_token_plan's integer Hamilton
apportionment, mixture_draw_plan's hash-ordered maximal prefix), so
the composed funnel stays hash-checkable against one composed SQL
twin.

Reference scope note: gis-etl has no corpus-curation surface; this is
north-star work (SURVEY.md scope note), the composition rung above
dedup_apply_keepers / mixture_draw_plan (VERDICT r13 items 1-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gis_etl_spark.io import fingerprint
from gis_etl_spark.ops.dedup import (
    PREP_QUALITY_T,
    _docs,
    _member_keepers,
    ensure_documents_aug,
    minhash_pairs_sql,
)
from gis_etl_spark.ops.text import (
    MIX_WEIGHT_DP,
    STOPWORDS,
    WORDS_SQL,
    _PII_PATTERNS,
    pii_hits_col,
    pii_planted_txt,
    pii_planted_txt_sql,
    quality_score_cte_sql,
    quality_score_from_counts,
    words_col,
)

# Draw budget for the funnel's final stage: must truncate (be smaller
# than the PII-clean survivors' token mass) at every SF so the maximal-
# prefix semantics are exercised wherever the gate runs; the funnel's
# survivors hold fewer tokens than the raw corpus mixture_draw_plan
# draws from, hence the smaller budget.
FUNNEL_DRAW_BUDGET = 8_192

_STAGES = ("raw", "near_dedup", "quality", "pii_clean", "mixture_draw")


def _eager_concurrently(thunks: list) -> list:
    """Run independent driver-side materializations (localCheckpoint /
    eager CC labels) as CONCURRENT Spark jobs from a small thread pool
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially — overlapping independent jobs lets one job's
    tasks back-fill executors idled by the other's tail). Thread-local
    job descriptions/groups are inherited via pyspark.InheritableThread.
    Exceptions re-raise in the caller in thunk order, so loud guards
    (probe-then-extend) still fire before any result is consumed."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list = [None] * len(thunks)

    def _run(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors[i] = e

    threads = [
        InheritableThread(target=_run, args=(i,))
        for i in range(len(thunks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def _flag_count_cols() -> list:
    """THE staging columns of the quality composite — (n, nd, nstop)
    over words_col(text). One definition: _flagged_docs, the increment
    flags path, and the risk monitor's quality lookups must all gate
    on byte-identical counts (the quality_score_from_counts
    hash-contract note applies to its INPUTS too — r16 review killed
    three restatements)."""
    w = words_col(F.col("text"))
    return [
        F.size(w).cast("long").alias("n"),
        F.size(F.array_distinct(w)).alias("nd"),
        F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).alias("nstop"),
    ]


def _flagged_docs(
    spark: SparkSession, sf_dir: str, docs_path: str | None = None
) -> DataFrame:
    """Per-doc (doc_id, source, n, s1, s2, s3): token count plus the
    cumulative stage-survival flags — near_dedup (s1: not a displaced
    cluster member), quality (s2: s1 ∧ quality_score ≥ threshold),
    pii_clean (s3: s2 ∧ zero PII hits). One corpus pass of map-side
    expressions plus a broadcast left join against the |non-keepers|
    id table; the shared core of the funnel card and the corpus
    write."""
    docs = _docs(spark, docs_path)
    non_keepers = (
        _member_keepers(spark, sf_dir, docs_path)
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id", F.lit(True).alias("removed"))
    )
    staged = docs.select(
        "doc_id",
        "source",
        *_flag_count_cols(),
        pii_hits_col(pii_planted_txt()).alias("pii_hits"),
    )
    q = quality_score_from_counts(
        F.col("n"), F.col("nd"), F.col("nstop")
    )
    return (
        staged.join(F.broadcast(non_keepers), "doc_id", "left")
        .withColumn("s1", F.col("removed").isNull())
        .withColumn("s2", F.col("s1") & (q >= F.lit(PREP_QUALITY_T)))
        .withColumn("s3", F.col("s2") & (F.col("pii_hits") == 0))
        .select("doc_id", "source", "n", "s1", "s2", "s3")
    )


def curation_flags_table(docs_path: str | None = None) -> str:
    """Catalog name of the materialized per-doc flags table, keyed by
    the corpus fingerprint (io.fingerprint — a regenerated corpus gets
    a new table; same contract as the ANN index artifacts)."""
    return f"curation_flags_{fingerprint(docs_path or ensure_documents_aug())}"


def materialize_curation_flags(
    spark: SparkSession, sf_dir: str, docs_path: str | None = None
) -> str:
    """Persist the per-doc stage-survival flags ONCE as a managed
    table — the production artifact a nightly corpus build stores
    (VERDICT r14 item 2): after this single corpus pass, the funnel
    card, the training-corpus writer, and the quota draw are all
    consumers of this |docs|-row, 6-column table instead of
    re-deriving flags (and the pair graph behind them) from the corpus
    per consumer. Idempotent while the corpus fingerprint is
    unchanged; a rewritten corpus gets a new table name.

    Scale: the flags table is |docs| rows of (doc_id, source, n,
    s1..s3) — ~50 bytes/row, i.e. ~0.005% of a 100 TB corpus — so
    every downstream read is effectively free next to a corpus scan.
    The one remaining corpus touch downstream is build_training_corpus'
    final broadcast-semi-join projection of the drawn ids."""
    name = curation_flags_table(docs_path)
    if spark.catalog.tableExists(name):
        return name
    # Same stale-location handling as the ANN index build: the default
    # catalog is in-memory, so a prior session can leave an orphaned
    # directory saveAsTable refuses to adopt.
    import os as _os
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme in ("", "file") and wh.path:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = _os.path.join(wh.path, name.lower())
        if _os.path.exists(loc):
            shutil.rmtree(loc, ignore_errors=True)
    _flagged_docs(spark, sf_dir, docs_path).write.mode(
        "overwrite"
    ).saveAsTable(name)
    return name


def _flags(
    spark: SparkSession,
    sf_dir: str,
    docs_path: str | None,
    flags_table: str | None,
) -> DataFrame:
    """The per-doc flags frame: the in-plan derivation by default, or
    the materialized table when the caller passes one (the
    amortized-nightly-build path). Both render the identical rows, so
    consumers are oracle-indifferent to the choice — receipt-tested in
    tests/test_properties.py."""
    if flags_table is not None:
        return spark.table(flags_table)
    return _flagged_docs(spark, sf_dir, docs_path)


def _hamilton_quota(per_src: DataFrame, budget: int) -> DataFrame:
    """(source, quota) — integer-exact Hamilton largest-remainder
    apportionment of `budget` tokens over sqrt-smoothed per-source
    token mass (mixture_token_plan's plan: all int64, Σ quota ==
    budget; the remainder-ranking window runs over the ≤ |sources|
    aggregate). `per_src` is (source, t) with t > 0."""
    units = per_src.select(
        "source",
        F.floor(
            F.sqrt(F.col("t")) * F.lit(float(10**MIX_WEIGHT_DP))
            + F.lit(0.5)
        ).cast("bigint").alias("u"),
    )
    tot = units.agg(F.sum("u").alias("t"))
    apportioned = units.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(f"({budget}L * u) div t").alias("base"),
        F.expr(f"({budget}L * u) % t").alias("rem"),
    )
    sb = apportioned.agg(F.sum("base").alias("sum_base"))
    wnd = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        apportioned.crossJoin(F.broadcast(sb))
        .withColumn("rk", F.row_number().over(wnd))
        .select(
            "source",
            (
                F.col("base")
                + (
                    F.col("rk") <= F.lit(budget) - F.col("sum_base")
                ).cast("long")
            ).alias("quota"),
        )
    )


def _drawn(flagged: DataFrame, quota: DataFrame) -> DataFrame:
    """(doc_id, source, n) of the stage-4 draw: per source, the
    md5(doc_id)-ordered maximal prefix of pii_clean survivors under
    that source's quota — in the RANGE-SPLIT rendition
    (ops.text.mixture_draw_split's two-pass running sum): md5-prefix
    buckets split each source so no whole-source window partition
    exists, cross-bucket offsets come from the ≤16-row per-source
    aggregate, and the selected set is provably identical to the
    plain per-source window (same-oracle hash proof on
    mixture_draw_split). The quota and offset tables broadcast."""
    from gis_etl_spark.ops.scale import bucketed_running_sum

    surv = flagged.filter(F.col("s3")).select(
        "doc_id",
        "source",
        "n",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    return (
        bucketed_running_sum(surv, "source", "h", "doc_id", "n", "cum")
        .join(F.broadcast(quota), "source")
        .filter(F.col("cum") <= F.col("quota"))
        .select("doc_id", "source", "n")
    )


def corpus_build_funnel(
    spark: SparkSession,
    sf_dir: str,
    docs_path: str | None = None,
    flags_table: str | None = None,
) -> DataFrame:
    """Per-source, per-stage (n_docs, n_tokens) of the full curation
    funnel, as ONE lazy plan:

    0. raw — the augmented corpus as ingested;
    1. near_dedup — drop every displaced near-dup cluster member
       (canonical keeper policy: the cluster's highest-quality member
       survives; singletons untouched);
    2. quality — survivors with quality_score ≥ {PREP_QUALITY_T}
       (text_quality_scores' composite, same 4dp round);
    3. pii_clean — survivors with ZERO PII detector hits (card / SSN /
       phone / email / IPv4 on the planted-text convention);
    4. mixture_draw — the Hamilton token plan ({FUNNEL_DRAW_BUDGET}
       tokens, sqrt-smoothed over stage-3 survivors) drawn per source
       as the hash-ordered maximal prefix under quota.

    Output: (stage_id, stage, source, n_docs, n_tokens), one row per
    (stage, source) — sources that lose everything report zeros, so
    the funnel never silently drops a source from the card. Ordered by
    (stage_id, source).

    Scale: stages 0-3 are ONE pass — per-doc flags are map-side
    expressions plus a broadcast left join against the |non-keepers|
    id table, rolled up by a single map-side-combined groupBy(source)
    with conditional sums. The pair graph behind the keeper table is
    the session-memoized materialized edge set (_verified_pair_edges).
    Stage 4 re-scans the corpus to project survivors (two corpus
    scans total for the card in the in-plan rendition) and shuffles
    only stage-3 survivors once on source (the running-sum window
    partitions BY SOURCE; the quota apportionment windows over the
    ≤ |sources| aggregate — allowlisted). Nothing single-partitions
    corpus rows. Passing `flags_table` (see
    materialize_curation_flags) replaces BOTH corpus derivations with
    reads of the materialized |docs|-row flags table — the amortized
    nightly-build path: card + corpus writer + draw then cost one
    corpus scan total across all three (the writer's final
    projection). Measured scan-count receipt in SCALE.md."""
    flagged = _flags(spark, sf_dir, docs_path, flags_table)
    roll = flagged.groupBy("source").agg(
        F.count("*").alias("n0"),
        F.sum("n").alias("t0"),
        F.count_if("s1").alias("n1"),
        F.sum(F.when(F.col("s1"), F.col("n")).otherwise(0)).alias("t1"),
        F.count_if("s2").alias("n2"),
        F.sum(F.when(F.col("s2"), F.col("n")).otherwise(0)).alias("t2"),
        F.count_if("s3").alias("n3"),
        F.sum(F.when(F.col("s3"), F.col("n")).otherwise(0)).alias("t3"),
    )
    # Sources with zero surviving tokens are excluded from the
    # apportionment — they get quota 0, and their stage-4 row reports
    # zeros via the left join below.
    quota = _hamilton_quota(
        roll.filter(F.col("t3") > 0).select("source", F.col("t3").alias("t")),
        FUNNEL_DRAW_BUDGET,
    )
    drawn = (
        _drawn(flagged, quota)
        .groupBy("source")
        .agg(F.count("*").alias("n4"), F.sum("n").alias("t4"))
    )
    full = roll.join(drawn, "source", "left").select(
        "source",
        "n0", "t0", "n1", "t1", "n2", "t2", "n3", "t3",
        F.coalesce("n4", F.lit(0)).alias("n4"),
        F.coalesce("t4", F.lit(0)).alias("t4"),
    )
    # ONE evaluation of the rollup, exploded into the 5 stage rows —
    # a 5-way unionAll would re-execute the whole subtree (pair-graph
    # joins included) per stage: measured 56 parquet scans vs 12.
    stage_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("stage"),
                F.col(f"n{i}").alias("nd"),
                F.col(f"t{i}").alias("nt"),
            )
            for i, s in enumerate(_STAGES)
        ]
    )
    return (
        full.select(
            "source", F.posexplode(stage_structs).alias("stage_id", "st")
        )
        .select(
            "stage_id",
            F.col("st.stage").alias("stage"),
            "source",
            F.col("st.nd").alias("n_docs"),
            F.col("st.nt").alias("n_tokens"),
        )
        .orderBy("stage_id", "source")
    )


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    docs_path: str | None = None,
    flags_table: str | None = None,
) -> DataFrame:
    """The corpus the funnel DESCRIBES — the training set a curation
    run actually writes: every document surviving all four policy
    stages (keeper-only, quality ≥ threshold, zero PII hits, drawn
    within its source's Hamilton token quota), with the input corpus
    schema so downstream tooling is none the wiser. The funnel card
    (corpus_build_funnel stage mixture_draw) is this frame's exact
    per-source rollup — receipt-tested in tests/test_properties.py.

    Scale: shares every policy expression with the funnel by
    construction, ending in one broadcast semi-join of the corpus
    against the drawn id set instead of a rollup. |drawn ids| ≤
    budget / min-doc-tokens rows — small by construction; at 100 TB
    the ids broadcast and the corpus never reshuffles (the
    apply_keepers_corpus posture). With `flags_table`, the drawn-id
    derivation reads the materialized flags and the ONLY corpus scan
    left is this final semi-join projection."""
    flagged = _flags(spark, sf_dir, docs_path, flags_table)
    quota = _hamilton_quota(
        flagged.filter(F.col("s3"))
        .groupBy("source")
        .agg(F.sum("n").alias("t"))
        .filter(F.col("t") > 0),
        FUNNEL_DRAW_BUDGET,
    )
    ids = _drawn(flagged, quota).select("doc_id")
    return _docs(spark, docs_path).join(F.broadcast(ids), "doc_id", "left_semi")


def increment_docs(docs: DataFrame) -> DataFrame:
    """The deterministic nightly-increment fixture over a corpus frame
    (the BM25_DRIFT_MOD convention applied to the funnel): every
    doc_id % 7 == 0 re-ingested verbatim under id+5M (a recrawl — its
    exact duplicate lives in the snapshot, so it must be displaced at
    the near_dedup stage) and every doc_id % 7 == 1 re-ingested under
    id+6M with REVERSED word order (word-trigram shingles are
    order-sensitive, so the reversal is a genuinely new document that
    must SURVIVE the stage — while its quality composite, which is
    count-based and order-invariant, stays the original's). Both arms
    keep the source (per-source funnel accounting) and both are
    derivable token-for-token in SQL, so the oracle can rebuild the
    identical increment."""
    rev = F.concat_ws(
        " ", F.reverse(F.split(F.trim("text"), " +"))
    )
    clones = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    reversed_docs = docs.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"),
        rev.alias("text"),
        "lang",
        "source",
        F.length(rev).cast(docs.schema["n_chars"].dataType).alias(
            "n_chars"
        ),
    )
    return clones.unionByName(reversed_docs)


def increment_curation_flags(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    docs_path: str | None = None,
    use_stored_snapshot: bool = False,
    shared_pairs: DataFrame | None = None,
    shared_intra: DataFrame | None = None,
) -> DataFrame:
    """Per-doc stage flags for an INCREMENT, computed against frozen
    history (VERDICT r15 item 5 — the dedup/ANN/BM25 refresh story
    applied to the funnel): token count, quality, and PII are the same
    map-side expressions as _flagged_docs; the near_dedup flag is
    decided WITHOUT re-deriving history's pair graph —

    1. snapshot probe: a new doc with any exact or verified fuzzy
       duplicate in the snapshot (bipartite band probe,
       ops.dedup.bipartite_dup_new_ids) is displaced — history's
       member beat it by the doc_id tiebreak or was already placed;
    2. intra-increment pass: the surviving new docs run the standard
       keeper policy among THEMSELVES (minhash pairs → components →
       quality argmax), so a batch carrying its own near-dup cluster
       keeps exactly one member.

    Frozen-history approximation, stated: equality with the full
    re-derive holds when no new doc would displace an existing keeper
    or bridge existing clusters. The fixture increment satisfies it
    structurally — a verbatim clone TIES its original's count-based
    quality and loses the doc_id ASC tiebreak, and a reversal carries
    its original's exact counts, so increments never out-rank history
    — and the contract query corpus_flags_increment pins the equality
    against a full-re-derive oracle over base ∪ increment. (This is
    the same approximation the frozen BM25 stats make; the analogue of
    its drift monitor is a scheduled full re-derive.)

    Output: (doc_id, source, n, s1, s2, s3) — the _flagged_docs
    schema, appendable to the materialized flags table.

    Scale: history is touched by exactly two broadcast-probe scans
    (fingerprints + band keys vs the increment's broadcast sets);
    with `use_stored_snapshot` those probes read the PERSISTED
    whole-corpus snapshot tables (build_dedup_snapshot scope='full')
    instead of re-deriving history's artifacts in-plan — the
    production posture, pinned row-identical to the in-plan probe by
    test_increment_flags_stored_probe_equals_inplan; everything else
    is increment-sized. The displaced-id set and the verified
    intra-pair edge set are materialized (localCheckpoint) because
    several downstream branches consume them — unmaterialized, the
    bipartite probe subtree re-executes per consumer (measured ~2×
    on the fixture).

    Frame sharing (r17): a COMPOSING caller that already materialized
    the stored-probe pair frame and/or the intra-increment verified
    edge set (corpus_flags_rederive runs both for the monitor/
    remediation anyway) passes them as `shared_pairs` ((new_id,
    snap_id), already localCheckpoint-ed) / `shared_intra` ((doc_a,
    doc_b) over ALL new docs) — the same localCheckpoint discipline
    applied ACROSS the composition instead of only within each
    operator; this path skips the probe, the ordering guard (the
    caller owns it), and the candidate re-derivation. Equivalences
    are pairwise properties: displaced ids = the pair frame's
    distinct new_ids, and clean-intra edges = the all-docs edge set
    filtered to undisplaced endpoints."""
    from gis_etl_spark.ops.dedup import (
        MINHASH_JACCARD_T,
        _docs,
        _exact_jaccard,
        _stored_bipartite_pairs,
        bipartite_dup_new_ids,
        build_dedup_snapshot,
        label_components,
        minhash_candidates,
    )

    intra_all: DataFrame | None = shared_intra
    if shared_pairs is not None:
        displaced_snap = shared_pairs.select(
            F.col("new_id").alias("doc_id")
        ).distinct().localCheckpoint()
    elif use_stored_snapshot:
        names = build_dedup_snapshot(spark, sf_dir, docs_path, "full")

        # Ordering guard (VERDICT r16 item 6 / ADVICE r16): the nightly
        # contract is probe-then-extend — flag the batch against the
        # snapshot FIRST, extend the snapshot with it after. An operator
        # who ran build-dedup-snapshot --increment before append-flags
        # would make every batch doc its own stored duplicate; the
        # probe's self-match filter (_stored_bipartite_pairs) keeps the
        # output correct even then, but the mis-ordering deserves a loud
        # error, not silent tolerance: tomorrow's REAL recrawl of the
        # same content would now be displaced by tonight's batch.
        def _guard() -> None:
            n_self = (
                spark.table(names["fingerprints"])
                .select("doc_id")
                .join(
                    F.broadcast(new_docs.select("doc_id").distinct()),
                    "doc_id",
                    "left_semi",
                )
                .count()
            )
            if n_self:
                raise ValueError(
                    f"increment_curation_flags: {n_self} doc_id(s) of the "
                    "increment already have artifacts in the stored dedup "
                    f"snapshot ({names['fingerprints']}); flags must be "
                    "appended BEFORE the snapshot is extended with the same "
                    "batch (probe-then-extend). Rebuild the snapshot, or fix "
                    "the CLI ordering: append-flags, then "
                    "build-dedup-snapshot --increment."
                )

        def _probe() -> DataFrame:
            return (
                _stored_bipartite_pairs(
                    spark, names, new_docs.select("doc_id", "text")
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
                .localCheckpoint()
            )

        # intra-increment verified edges over ALL new docs — a pairwise
        # property, so it is INDEPENDENT of the snapshot probe (the
        # clean-subset edges are this set filtered to undisplaced
        # endpoints — the shared_intra equivalence, receipt-tested);
        # deriving it over all docs instead of the probe's survivors
        # lets guard, probe and intra run as three CONCURRENT jobs
        # (guide §2.6) instead of a sequential chain.
        def _intra() -> DataFrame:
            return (
                _exact_jaccard(
                    new_docs.select("doc_id", "text"),
                    minhash_candidates(new_docs.select("doc_id", "text")),
                )
                .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
                .select("doc_a", "doc_b")
                .localCheckpoint()
            )

        _, displaced_snap, intra_all = _eager_concurrently(
            [_guard, _probe, _intra]
        )
    else:
        snap = _docs(spark, docs_path)
        displaced_snap = bipartite_dup_new_ids(
            snap, new_docs
        ).localCheckpoint()

    clean = new_docs.join(displaced_snap, "doc_id", "left_anti")
    staged = clean.select("doc_id", *_flag_count_cols())
    q = staged.select(
        "doc_id",
        quality_score_from_counts(
            F.col("n"), F.col("nd"), F.col("nstop")
        ).alias("quality_score"),
    )
    if intra_all is not None:
        # verified pairs are pairwise: edges among the CLEAN subset =
        # the all-docs edge set filtered to undisplaced endpoints.
        # No checkpoint here: label_components materializes its edge
        # frame immediately, so the filtered set is consumed once.
        d_a = displaced_snap.withColumnRenamed("doc_id", "doc_a")
        d_b = displaced_snap.withColumnRenamed("doc_id", "doc_b")
        intra_pairs = (
            intra_all.join(F.broadcast(d_a), "doc_a", "left_anti")
            .join(F.broadcast(d_b), "doc_b", "left_anti")
            .select("doc_a", "doc_b")
        )
    else:
        intra_pairs = (
            _exact_jaccard(
                clean.select("doc_id", "text"),
                minhash_candidates(clean.select("doc_id", "text")),
            )
            .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
            .select("doc_a", "doc_b")
            # materialize the verified edge set before
            # label_components (the _verified_pair_edges discipline)
            .localCheckpoint()
        )
    member = label_components(intra_pairs).join(q, "doc_id")
    keep = (
        member.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("quality_score").alias("q"),
                    (-F.col("doc_id")).alias("nid"),
                )
            ).alias("k")
        )
        .select("component", (-F.col("k.nid")).alias("keeper_id"))
    )
    displaced_intra = (
        member.join(keep, "component")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id")
    )
    displaced = displaced_snap.unionByName(displaced_intra).distinct()

    flagged = new_docs.select(
        "doc_id",
        "source",
        *_flag_count_cols(),
        pii_hits_col(pii_planted_txt()).alias("pii_hits"),
    )
    qq = quality_score_from_counts(
        F.col("n"), F.col("nd"), F.col("nstop")
    )
    return (
        flagged.join(
            F.broadcast(displaced.withColumn("removed", F.lit(True))),
            "doc_id",
            "left",
        )
        .withColumn("s1", F.col("removed").isNull())
        .withColumn("s2", F.col("s1") & (qq >= F.lit(PREP_QUALITY_T)))
        .withColumn("s3", F.col("s2") & (F.col("pii_hits") == 0))
        .select("doc_id", "source", "n", "s1", "s2", "s3")
    )


def append_curation_flags(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    docs_path: str | None = None,
) -> str:
    """Nightly-increment append to the materialized flags table: the
    base snapshot's flags exist (materialize_curation_flags — built
    once), the increment's flags come from increment_curation_flags
    probing the STORED dedup snapshot (build_dedup_snapshot
    scope='full' — the production posture; the CLI's sibling
    build-dedup-snapshot subcommand owns extending that snapshot with
    tonight's batch AFTER this probe, so tomorrow's increment dedups
    against it), and the union lands in the SAME table — the funnel
    card, the quota draw, and the corpus writer then read base +
    increment through the existing flags_table parameter unchanged.
    The table name stays keyed to the base snapshot fingerprint:
    appends extend that snapshot; a REWRITTEN base invalidates the
    name and everything rebuilds.

    Precondition, ENFORCED (r16 review): the increment must be NEW
    doc_ids — a re-appended batch would double-count those docs in
    every funnel-card stage — and unique WITHIN the batch (ADVICE
    r16): an intra-batch duplicate id passes the stored-table check
    yet appends two flag rows for one doc."""
    from gis_etl_spark.ops.dedup import _require_unique_batch

    name = materialize_curation_flags(spark, sf_dir, docs_path)
    _require_unique_batch(new_docs, "append_curation_flags")
    new_ids = new_docs.select("doc_id").distinct()
    n_dup = (
        spark.table(name)
        .select("doc_id")
        .join(F.broadcast(new_ids), "doc_id", "left_semi")
        .select("doc_id")
        .distinct()
        .count()
    )
    if n_dup:
        raise ValueError(
            f"append_curation_flags: {n_dup} doc_id(s) of the increment "
            f"already have flag rows in {name}; re-appending would "
            "double-count them in the funnel card. Re-ingest under new "
            "ids, or rebuild the flags table."
        )
    increment_curation_flags(
        spark, sf_dir, new_docs, docs_path, use_stored_snapshot=True
    ).write.mode("append").saveAsTable(name)
    return name


def compact_curation_flags(spark: SparkSession, sf_dir: str, docs_path: str | None = None) -> str:
    """MINOR compaction for the materialized flags table (VERDICT r16
    item 8 — the BM25 compaction pattern applied to the one index
    family that lacked it): nightly appends accumulate one parquet
    file batch per increment forever; this rewrites the table into a
    freshly-laid-out copy with BYTE-IDENTICAL rows, so every consumer
    (funnel card, quota draw, corpus writer) is provably unchanged
    while the file census shrinks back to a handful.

    Swap discipline (the compact_bm25_index pattern): write the
    compacted copy to a tmp table, rename live → *_old, tmp → live,
    drop *_old — never an in-place overwrite of a table being read,
    and the only failure window leaves *_old recoverable by a rename.
    Receipt: test_compact_curation_flags_preserves_rows_and_shrinks
    pins rows-before == rows-after and a strictly smaller data-file
    census after two appends."""
    import os as _os
    import shutil
    from urllib.parse import urlparse

    name = materialize_curation_flags(spark, sf_dir, docs_path)
    tmp_name = f"{name}_compacting"
    old_name = f"{name}_old"
    for t in (tmp_name, old_name):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
        if wh.scheme in ("", "file") and wh.path:
            loc = _os.path.join(wh.path, t.lower())
            if _os.path.exists(loc):
                shutil.rmtree(loc, ignore_errors=True)
    # |docs|-row, 6-column frame (~0.005% of its corpus): target ~4M
    # rows (~200 MB) per output file, floor 1 — the fixture compacts
    # to a single file, a 100 TB corpus's flags to a few dozen
    rows = spark.table(name).count()
    nfiles = max(1, min(64, -(-rows // 4_000_000)))
    spark.table(name).coalesce(nfiles).write.mode(
        "overwrite"
    ).saveAsTable(tmp_name)
    spark.sql(f"ALTER TABLE {name} RENAME TO {old_name}")
    spark.sql(f"ALTER TABLE {tmp_name} RENAME TO {name}")
    spark.sql(f"DROP TABLE {old_name}")
    return name


def corpus_flags_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-funnel contract query: the deterministic increment
    (increment_docs — verbatim recrawls + reversed-order new docs)
    gets its stage flags from the FROZEN-history path
    (increment_curation_flags), while the oracle re-derives the flags
    FROM SCRATCH over base ∪ increment (full pair graph, recursive
    closure, keeper argmax) and restricts to the increment's ids — the
    hash match pins incremental == full re-derive on this corpus, the
    funnel's analogue of the BM25 frozen-stats agreement proof.
    Served through the STORED snapshot tables (the production posture
    — build_dedup_snapshot scope='full', built once per corpus
    fingerprint), so the oracle additionally pins the stored
    artifacts; the in-plan probe is pinned equal in pytest."""
    docs = _docs(spark, None)
    inc = increment_docs(docs)
    return increment_curation_flags(
        spark, sf_dir, inc, use_stored_snapshot=True
    ).orderBy("doc_id")


def increment_docs_risky(docs: DataFrame) -> DataFrame:
    """increment_docs plus a third, deliberately DANGEROUS arm: every
    doc_id % 7 == 2 re-ingested under id+7M with three unique
    non-stopword tokens appended — still a near-dup of its original
    (the original's trigrams all survive, J ≈ (n−2)/(n+1) ≫ the
    threshold) but with a STRICTLY HIGHER quality composite (n, nd
    grow; nstop doesn't), i.e. a recrawl that would WIN the keeper
    argmax in a full re-derive. The clean fixture proves incremental
    == full; this one exists so the displacement-risk monitor has
    something real to fire on."""
    extra = F.concat(
        F.lit(" zq"),
        F.col("doc_id").cast("string"),
        F.lit("a zq"),
        F.col("doc_id").cast("string"),
        F.lit("b zq"),
        F.col("doc_id").cast("string"),
        F.lit("c"),
    )
    risky_text = F.concat(F.col("text"), extra)
    risky = docs.filter(F.col("doc_id") % 7 == 2).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"),
        risky_text.alias("text"),
        "lang",
        "source",
        F.length(risky_text).cast(docs.schema["n_chars"].dataType).alias(
            "n_chars"
        ),
    )
    return increment_docs(docs).unionByName(risky)


def flags_increment_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATING MONITOR for the incremental-flags approximation
    (the bm25_stats_drift / ann_drift_stat pattern applied to the
    funnel): increment_curation_flags is exact while no increment doc
    would out-rank history — this census detects, increment-sized,
    exactly when that stops holding. Over every detected (new, snap)
    duplicate pair of the RISKY increment fixture:

    - a pair is RISKY iff the new doc's quality composite strictly
      beats its matched snapshot partner's (new ids are always larger,
      so quality ties lose the doc_id ASC keeper tiebreak — never
      risky). Zero risky pairs ⇒ no new doc can be a strict argmax of
      any component it joins, and it loses every tie, so the keeper
      channel of the approximation is EXACT.
    - a new doc is BRIDGING iff its snapshot partners span more than
      one existing component (components from the snapshot keeper
      table; singleton partners count as their own) — the second
      divergence channel: a merge of two old clusters re-crowns one
      old keeper even when no new doc wins anything.
    - a new doc is CHAINED (r17 — the monitor now sees all three
      channels its remediation targets) iff it has a snapshot match
      AND an intra-increment near-dup pair: its displaced self drags
      intra-linked new docs into history's component, so a purely
      pairwise census would miss the divergence on its partners.
      With this channel counted, all-zero ⇒ the frozen-history flags
      are EXACT (the rederive_risky_component_flags coverage
      argument), not just keeper-channel-exact.

    Output: ONE row — (n_dup_pairs, n_risky_pairs, n_risky_docs,
    n_bridging_docs, n_chained_docs). The operating rule: any count
    beyond n_dup_pairs/n_risky_pairs > 0 → run the targeted
    re-derive for the affected components
    (rederive_risky_component_flags; bench records the counts, the
    decision as flags_rederive_triggered, and the executed
    remediation as flags_rederive_ms).

    Scale (r17 — the r16 weak, fixed): pairs come from the STORED
    bipartite probe, snapshot qualities from the PERSISTED per-doc
    quality table, and component labels from the PERSISTED members
    table (both written once by build_dedup_snapshot and extended
    batch-sized on append) — the monitor never re-derives history's
    pair graph, runs no component labelling, and never re-scans history
    text. History is touched only by column-pruned scans of the
    bucketed snapshot tables; everything derived in-plan is
    increment-sized. Receipt: test_risk_monitor_serves_from_stored_
    snapshot pins that the monitor works with the in-plan derivation
    paths (_member_keepers / label_components) monkeypatched to
    raise."""
    from gis_etl_spark.ops.dedup import _docs

    docs = _docs(spark, None)
    inc = increment_docs_risky(docs)
    return increment_risk_census(spark, sf_dir, inc)


def increment_risk_census(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    docs_path: str | None = None,
    shared_pairs: DataFrame | None = None,
    shared_intra: DataFrame | None = None,
) -> DataFrame:
    """The monitor census for an ARBITRARY increment — the serving
    core under flags_increment_risk (fixture wrapper) and the CLI's
    rederive-flags verb: ONE row of (n_dup_pairs, n_risky_pairs,
    n_risky_docs, n_bridging_docs, n_chained_docs) against the stored
    full-corpus snapshot. See flags_increment_risk for the channel
    semantics and scale posture. `shared_pairs`/`shared_intra` follow
    the cross-operator localCheckpoint discipline (see
    increment_curation_flags): a caller that will ALSO run the
    remediation materializes the probe frames once and passes them to
    both."""
    from gis_etl_spark.ops.dedup import (
        MINHASH_JACCARD_T,
        _exact_jaccard,
        build_dedup_snapshot,
        minhash_candidates,
    )

    inc = new_docs
    names = build_dedup_snapshot(spark, sf_dir, docs_path, "full")
    # three aggregations consume the pair frame; unmaterialized, each
    # re-executes the history-sized probe subtree (r16 review). The
    # probe and the intra chain are independent — materialize any
    # missing ones concurrently (guide §2.6).
    per_pair, shared_intra_in = shared_pairs, shared_intra
    thunks, slots = [], []
    if per_pair is None:
        slots.append("pairs")
        thunks.append(
            lambda: _risk_pairs_for(spark, names, inc).localCheckpoint()
        )
    if shared_intra_in is None:
        slots.append("intra")
        thunks.append(
            lambda: _exact_jaccard(
                inc.select("doc_id", "text"),
                minhash_candidates(inc.select("doc_id", "text")),
            )
            .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
    if thunks:
        got = dict(zip(slots, _eager_concurrently(thunks)))
        per_pair = got.get("pairs", per_pair)
        shared_intra_in = got.get("intra", shared_intra_in)
    pair_stats = per_pair.agg(
        F.count("*").cast("long").alias("n_dup_pairs"),
        F.count_if("risky").cast("long").alias("n_risky_pairs"),
    )
    doc_stats = (
        per_pair.groupBy("new_id")
        .agg(
            F.max(F.col("risky").cast("int")).alias("any_risky"),
            F.countDistinct("comp").alias("ncomp"),
        )
        .agg(
            F.count_if(F.col("any_risky") == 1)
            .cast("long")
            .alias("n_risky_docs"),
            F.count_if(F.col("ncomp") > 1)
            .cast("long")
            .alias("n_bridging_docs"),
        )
    )
    # chained census: increment-sized minhash pass among the new docs
    # only — history untouched
    intra = shared_intra_in
    intra_nodes = (
        intra.select(F.col("doc_a").alias("new_id"))
        .union(intra.select(F.col("doc_b").alias("new_id")))
        .distinct()
    )
    chained_stat = (
        per_pair.select("new_id")
        .distinct()
        .join(intra_nodes, "new_id", "left_semi")
        .agg(F.count("*").cast("long").alias("n_chained_docs"))
    )
    return pair_stats.crossJoin(doc_stats).crossJoin(chained_stat)


def _increment_quality(new_docs: DataFrame, idc: str, qc: str) -> DataFrame:
    """(idc, qc): the funnel's quality composite over an increment
    frame — increment-sized, map-side (the _flag_count_cols /
    quality_score_from_counts hash contract)."""
    staged = new_docs.select(
        F.col("doc_id").alias(idc), *_flag_count_cols()
    )
    return staged.select(
        idc,
        quality_score_from_counts(
            F.col("n"), F.col("nd"), F.col("nstop")
        ).alias(qc),
    )


def _increment_risk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(new_id, snap_id, q_new, q_snap, comp, risky) for every
    detected duplicate pair of the risky increment vs the snapshot —
    the monitor's per-pair frame, exposed so the divergence receipt
    test can link 'docs where incremental ≠ full' to 'docs the
    monitor marks risky'.

    Every history-side input is a STORED snapshot table (r17, closing
    the r16 weak): pairs from the stored fingerprint/band/shingle
    probes (_stored_bipartite_pairs), snapshot qualities from the
    stored per-doc quality table, component labels from the stored
    members table. Only the increment's qualities are derived in-plan
    (increment-sized, map-side). The pair frame and the increment
    qualities BROADCAST over the two column-pruned history scans; the
    members probe carries no broadcast hint — its table is
    doc_id-bucketed, so the join co-locates on its side without an
    exchange at any scale."""
    from gis_etl_spark.ops.dedup import _docs, build_dedup_snapshot

    docs = _docs(spark, None)
    inc = increment_docs_risky(docs)
    names = build_dedup_snapshot(spark, sf_dir, None, "full")
    return _risk_pairs_for(spark, names, inc)


def _risk_pairs_for(
    spark: SparkSession, names: dict[str, str], new_docs: DataFrame
) -> DataFrame:
    """The stored-probe risk-pair frame for an ARBITRARY increment —
    the serving core under _increment_risk_pairs (fixture wrapper) and
    rederive_risky_component_flags (remediation)."""
    from gis_etl_spark.ops.dedup import _stored_bipartite_pairs

    pairs = _stored_bipartite_pairs(
        spark, names, new_docs.select("doc_id", "text")
    ).select("new_id", "snap_id")

    q_snap = spark.table(names["quality"]).select(
        F.col("doc_id").alias("snap_id"),
        F.col("quality_score").alias("q_snap"),
    )
    comp = spark.table(names["members"]).select(
        F.col("doc_id").alias("snap_id"), "component"
    )
    pq = pairs.join(
        F.broadcast(_increment_quality(new_docs, "new_id", "q_new")),
        "new_id",
    )
    # the pair frame BROADCASTS over the quality scan; the members
    # probe carries no broadcast hint — at fixture scale Catalyst
    # broadcasts the small side anyway, and at 100 TB (where the
    # members table is |all paired docs| rows) the doc_id-bucketed
    # table serves the join co-located without an exchange on its
    # side (the r12 SMJ-without-exchange receipt)
    return (
        q_snap.join(F.broadcast(pq), "snap_id")
        .join(comp, "snap_id", "left")
        .select(
            "new_id",
            "snap_id",
            "q_new",
            "q_snap",
            F.coalesce("component", F.col("snap_id")).alias("comp"),
            (F.col("q_new") > F.col("q_snap")).alias("risky"),
        )
    )


def flags_increment_risk_sql() -> str:
    """Twin census: the identical bipartite probe (exact fingerprint
    pass, band candidates excluding exact-matched docs, rounded
    Jaccard verify), the shared quality CTE over base ∪ risky
    increment, snapshot components from the recursive closure over
    the BASE pair graph, and the intra-increment verified pairs for
    the chained channel — then the same five counts."""
    from gis_etl_spark.ops.dedup import (
        MINHASH_JACCARD_T,
        _minhash_prefix_sql,
        minhash_pairs_sql,
    )

    path = ensure_documents_aug()
    d = f"read_parquet('{path}')"
    mh_base = minhash_pairs_sql(d)
    qcte = quality_score_cte_sql("allv")
    risky_txt = (
        "text || ' zq' || doc_id::VARCHAR || 'a zq' || "
        "doc_id::VARCHAR || 'b zq' || doc_id::VARCHAR || 'c'"
    )
    return f"""
        WITH RECURSIVE
        allv AS MATERIALIZED (
          SELECT doc_id, text FROM {d}
          UNION ALL
          SELECT doc_id + 5000000 AS doc_id, text FROM {d}
          WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 6000000 AS doc_id,
                 array_to_string(list_reverse(
                   regexp_split_to_array(trim(text), ' +')), ' ') AS text
          FROM {d} WHERE doc_id % 7 = 1
          UNION ALL
          SELECT doc_id + 7000000 AS doc_id, {risky_txt} AS text
          FROM {d} WHERE doc_id % 7 = 2
        ),
        {_minhash_prefix_sql("allv")},
        fp AS (SELECT doc_id, md5(text) AS fph FROM allv),
        exact AS (
          SELECT n.doc_id AS new_id, s.doc_id AS snap_id
          FROM fp n JOIN fp s USING (fph)
          WHERE n.doc_id >= 5000000 AND s.doc_id < 5000000
        ),
        cands AS (
          SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS snap_id
          FROM bands n JOIN bands s
            ON n.band_idx = s.band_idx AND n.band_key = s.band_key
          WHERE n.doc_id >= 5000000 AND s.doc_id < 5000000
            AND n.doc_id NOT IN (SELECT new_id FROM exact)
        ),
        sizes AS (
          SELECT doc_id, count(*) AS nw FROM dw GROUP BY doc_id
        ),
        inter AS (
          SELECT c.new_id, c.snap_id, count(*) AS inter
          FROM cands c
          JOIN dw a ON a.doc_id = c.new_id
          JOIN dw b ON b.doc_id = c.snap_id AND b.w = a.w
          GROUP BY c.new_id, c.snap_id
        ),
        fuzzy AS (
          SELECT i.new_id, i.snap_id
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.new_id
          JOIN sizes sb ON sb.doc_id = i.snap_id
          WHERE round(i.inter * 1.0 / (sa.nw + sb.nw - i.inter), 4)
                >= {MINHASH_JACCARD_T}
        ),
        prs AS MATERIALIZED (
          SELECT new_id, snap_id FROM exact
          UNION ALL
          SELECT new_id, snap_id FROM fuzzy
        ),
        q AS MATERIALIZED {qcte},
        bp AS (SELECT doc_a, doc_b FROM ({mh_base}) mh),
        be AS (SELECT doc_a AS u, doc_b AS v FROM bp
               UNION ALL
               SELECT doc_b, doc_a FROM bp),
        reach(u, v) AS (
          SELECT u, v FROM be
          UNION
          SELECT r.u, be.v FROM reach r JOIN be ON be.u = r.v
        ),
        comp AS MATERIALIZED (
          SELECT u AS doc_id, least(u, min(v)) AS component
          FROM reach GROUP BY u
        ),
        per_pair AS MATERIALIZED (
          SELECT p.new_id, p.snap_id,
                 qn.quality_score AS q_new, qs.quality_score AS q_snap,
                 coalesce(c.component, p.snap_id) AS comp
          FROM prs p
          JOIN q qn ON qn.doc_id = p.new_id
          JOIN q qs ON qs.doc_id = p.snap_id
          LEFT JOIN comp c ON c.doc_id = p.snap_id
        ),
        per_new AS (
          SELECT new_id,
                 max(CASE WHEN q_new > q_snap THEN 1 ELSE 0 END)
                   AS any_risky,
                 count(DISTINCT comp) AS ncomp
          FROM per_pair GROUP BY new_id
        ),
        intra_c AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
          WHERE a.doc_id >= 5000000 AND b.doc_id >= 5000000
            AND a.doc_id < b.doc_id
        ),
        intra AS (
          SELECT i.doc_a, i.doc_b
          FROM (
            SELECT c.doc_a, c.doc_b, count(*) AS inter
            FROM intra_c c
            JOIN dw x ON x.doc_id = c.doc_a
            JOIN dw y ON y.doc_id = c.doc_b AND y.w = x.w
            GROUP BY c.doc_a, c.doc_b
          ) i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE round(i.inter * 1.0 / (sa.nw + sb.nw - i.inter), 4)
                >= {MINHASH_JACCARD_T}
        ),
        intra_nodes AS (
          SELECT doc_a AS new_id FROM intra
          UNION
          SELECT doc_b FROM intra
        )
        SELECT
          (SELECT count(*) FROM per_pair)::BIGINT AS n_dup_pairs,
          (SELECT count(*) FROM per_pair WHERE q_new > q_snap)::BIGINT
            AS n_risky_pairs,
          (SELECT count(*) FROM per_new WHERE any_risky = 1)::BIGINT
            AS n_risky_docs,
          (SELECT count(*) FROM per_new WHERE ncomp > 1)::BIGINT
            AS n_bridging_docs,
          (SELECT count(DISTINCT p.new_id)
           FROM (SELECT DISTINCT new_id FROM prs) p
           JOIN intra_nodes e ON e.new_id = p.new_id)::BIGINT
            AS n_chained_docs
    """


def rederive_risky_component_flags(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    docs_path: str | None = None,
    shared_pairs: DataFrame | None = None,
    shared_intra: DataFrame | None = None,
) -> DataFrame:
    """The TARGETED remediation rung the risk monitor schedules
    (VERDICT r16 item 3 — the ann_rebuild / bm25 compact-or-rebuild
    executed-remediation pattern, completing the funnel's
    monitor→remediation loop): re-derive stage flags for ONLY the
    merged near-dup components the increment can actually change, and
    return the corrected (doc_id, source, n, s1, s2, s3) rows for
    every member — base and increment — of those components. Rows
    outside the returned set are untouched by construction.

    Trigger channels (one doc per merged component suffices — the
    closure pulls the rest in):
      1. RISKY — a new doc whose quality strictly beats a matched
         snapshot partner's (could win the merged keeper argmax);
      2. BRIDGING — a new doc whose snapshot partners span >1 stored
         component (the merge re-crowns one old keeper);
      3. CHAINED — a new doc with a snapshot match that ALSO has an
         intra-increment pair (its displaced self drags intra-linked
         new docs into history's component; counted by the monitor's
         n_chained_docs channel since r17).
    With all three, the patched flags equal a full re-derive over
    base ∪ increment UNCONDITIONALLY: a merged component can differ
    from the frozen-history approximation only by a new keeper (1),
    a component merge (2), or membership chained through a displaced
    doc (3) — receipt-tested against _flagged_docs over the union in
    tests/test_properties.py, and oracle-pinned (corpus_flags_rederive)
    against the full recursive re-derive at the driver gate.

    Scale: every history-side input is a stored snapshot probe —
    bipartite pairs + qualities + component labels from
    build_dedup_snapshot's bucketed tables — and the re-derived
    subgraph (touched components' members + the increment's pair
    endpoints) is affected-sized; its label_components runs over
    edges that number |detected pairs| + |intra pairs| + |touched
    members|, not the corpus. The ONE corpus touch is a broadcast
    semi-join projection of the affected base docs' (source, n, text
    composites) — scope-sized output, the apply_keepers_corpus
    posture. Nothing in the plan re-derives history's pair graph
    (shares the stored-serving receipt discipline of
    flags_increment_risk)."""
    from gis_etl_spark.ops.dedup import (
        MINHASH_JACCARD_T,
        _exact_jaccard,
        build_dedup_snapshot,
        label_components,
        minhash_candidates,
    )

    names = build_dedup_snapshot(spark, sf_dir, docs_path, "full")
    # pair frame + intra edges feed several consumers below —
    # materialize so the stored-probe subtrees run once; a composing
    # caller (corpus_flags_rederive) that already materialized them
    # passes both in (the cross-operator localCheckpoint discipline).
    # The two frames are independent (stored-table probe vs intra-
    # increment chain), so any missing ones materialize CONCURRENTLY
    # (guide §2.6 — _eager_concurrently).
    per_pair, intra = shared_pairs, shared_intra
    thunks, slots = [], []
    if per_pair is None:
        slots.append("pairs")
        thunks.append(
            lambda: _risk_pairs_for(
                spark, names, new_docs
            ).localCheckpoint()
        )
    if intra is None:
        slots.append("intra")
        thunks.append(
            lambda: _exact_jaccard(
                new_docs.select("doc_id", "text"),
                minhash_candidates(new_docs.select("doc_id", "text")),
            )
            .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
            .select("doc_a", "doc_b")
            .localCheckpoint()
        )
    if thunks:
        got = dict(zip(slots, _eager_concurrently(thunks)))
        per_pair = got.get("pairs", per_pair)
        intra = got.get("intra", intra)

    risky_or_bridging = (
        per_pair.groupBy("new_id")
        .agg(
            F.max(F.col("risky").cast("int")).alias("any_risky"),
            F.countDistinct("comp").alias("ncomp"),
        )
        .filter((F.col("any_risky") == 1) | (F.col("ncomp") > 1))
        .select("new_id")
    )
    intra_nodes = (
        intra.select(F.col("doc_a").alias("new_id"))
        .union(intra.select(F.col("doc_b").alias("new_id")))
        .distinct()
    )
    chained = (
        per_pair.select("new_id")
        .distinct()
        .join(intra_nodes, "new_id", "left_semi")
    )
    triggers = (
        risky_or_bridging.unionByName(chained)
        .distinct()
        .withColumnRenamed("new_id", "doc_id")
    )

    # merged components over: bipartite pairs + intra pairs +
    # membership pseudo-edges (member ↔ its stored component id) for
    # every TOUCHED component — base-base connectivity is frozen, so
    # the stored labels summarize it exactly
    touched = per_pair.select(
        F.col("comp").alias("component")
    ).distinct()
    base_members = (
        spark.table(names["members"])
        .join(F.broadcast(touched), "component")
        .select("doc_id", "component")
    )
    edges = (
        per_pair.select(
            F.col("new_id").alias("doc_a"), F.col("snap_id").alias("doc_b")
        )
        .unionByName(intra)
        .unionByName(
            base_members.select(
                F.col("doc_id").alias("doc_a"),
                F.col("component").alias("doc_b"),
            )
        )
    )
    merged = label_components(edges).withColumnRenamed(
        "component", "merged"
    )
    affected = (
        merged.join(F.broadcast(triggers), "doc_id")
        .select("merged")
        .distinct()
    )
    scope = (
        merged.join(F.broadcast(affected), "merged")
        .select("doc_id", "merged")
        .localCheckpoint()
    )

    # per-member attributes: increment side in-plan (increment-sized);
    # base side from the STORED per-doc attrs + quality tables (r18 —
    # ADVICE r17 high + guide §2.3/§6): the previous broadcast
    # semi-join projection of _docs() was the remediation's one
    # history-proportional term (a full corpus TEXT scan to retrieve a
    # few hundred rows) AND silently dropped scope members whose text
    # lives only in prior increments (their artifacts are in the
    # snapshot, their text is not in documents.parquet — the keeper
    # argmax then mis-crowned). Both tables are doc_id-bucketed, so
    # the attrs↔quality join co-locates without an exchange on either
    # side, and every snapshot doc (base AND appended increments) has
    # rows by construction — the dropped-member class is structurally
    # closed.
    new_ids = new_docs.select("doc_id")
    base_scope_ids = scope.join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    ).select("doc_id")

    def _attrs(df: DataFrame) -> DataFrame:
        staged = df.select(
            "doc_id",
            "source",
            *_flag_count_cols(),
            pii_hits_col(pii_planted_txt()).alias("pii_hits"),
        )
        return staged.select(
            "doc_id",
            "source",
            "n",
            quality_score_from_counts(
                F.col("n"), F.col("nd"), F.col("nstop")
            ).alias("q"),
            "pii_hits",
        )

    base_attrs = (
        spark.table(names["attrs"])
        .join(F.broadcast(base_scope_ids), "doc_id", "left_semi")
        .join(
            spark.table(names["quality"]).select(
                "doc_id", F.col("quality_score").alias("q")
            ),
            "doc_id",
        )
        .select("doc_id", "source", "n", "q", "pii_hits")
    )
    attrs = _attrs(new_docs).unionByName(base_attrs)
    m = scope.join(attrs, "doc_id")
    keep = (
        m.groupBy("merged")
        .agg(
            F.max(
                F.struct(
                    F.col("q"), (-F.col("doc_id")).alias("nid")
                )
            ).alias("k")
        )
        .select("merged", (-F.col("k.nid")).alias("keeper_id"))
    )
    s1 = F.col("doc_id") == F.col("keeper_id")
    s2 = s1 & (F.col("q") >= F.lit(PREP_QUALITY_T))
    return m.join(F.broadcast(keep), "merged").select(
        "doc_id",
        "source",
        "n",
        s1.alias("s1"),
        s2.alias("s2"),
        (s2 & (F.col("pii_hits") == 0)).alias("s3"),
    )


def corpus_flags_rederive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remediation contract query: on the RISKY fixture (where the
    frozen-history flags GENUINELY diverge from a full re-derive —
    the divergence the monitor fires on), apply the targeted
    component re-derive as a PATCH over the frozen flags and emit

      * every increment doc's corrected flags, and
      * every BASE doc whose flags the increment changed (the
        re-crowned keepers the frozen path cannot see),

    while the oracle re-derives everything FROM SCRATCH over
    base ∪ risky-increment (full pair graph, recursive closure,
    keeper argmax) and emits the same id set (increment ids + base
    ids whose displaced-status differs from the base-only closure).
    The hash match therefore pins BOTH that the patch restores
    exactness where the approximation broke AND that it touches
    exactly the base rows a full rebuild would change."""
    from gis_etl_spark.ops.dedup import (
        MINHASH_JACCARD_T,
        _docs,
        _exact_jaccard,
        build_dedup_snapshot,
        minhash_candidates,
    )

    docs = _docs(spark, None)
    inc = increment_docs_risky(docs)
    names = build_dedup_snapshot(spark, sf_dir, None, "full")
    # the stored-probe pair frame and the intra-increment edge set are
    # consumed by BOTH the frozen pass and the remediation —
    # materialize each ONCE and share (without this the composed
    # contract query executed the bipartite probe twice more and the
    # intra chain once more; row-identity of the shared paths is
    # pinned by test_shared_frames_equal_probe_paths, and the steady-
    # state sf0.1 timing dropped 9.5 → 7.2 s). The two frames are
    # independent, and so are the frozen pass and the remediation
    # given the shared frames — both levels materialize CONCURRENTLY
    # (guide §2.6: overlap independent jobs so one job's tail
    # back-fills the other's idle executors).
    per_pair, intra = _eager_concurrently(
        [
            lambda: _risk_pairs_for(spark, names, inc).localCheckpoint(),
            lambda: _exact_jaccard(
                inc.select("doc_id", "text"),
                minhash_candidates(inc.select("doc_id", "text")),
            )
            .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
            .select("doc_a", "doc_b")
            .localCheckpoint(),
        ]
    )
    frozen, fix = _eager_concurrently(
        [
            lambda: increment_curation_flags(
                spark,
                sf_dir,
                inc,
                use_stored_snapshot=True,
                shared_pairs=per_pair,
                shared_intra=intra,
            ),
            lambda: rederive_risky_component_flags(
                spark, sf_dir, inc, shared_pairs=per_pair,
                shared_intra=intra,
            ).localCheckpoint(),
        ]
    )
    fix_ids = fix.select("doc_id")
    inc_ids = inc.select("doc_id")

    inc_part = frozen.join(
        F.broadcast(fix_ids), "doc_id", "left_anti"
    ).unionByName(fix.join(F.broadcast(inc_ids), "doc_id", "left_semi"))

    # base corrections: re-derived base rows whose survival flipped
    # vs the STORED snapshot's keeper labels (old s1 — doc was its
    # component's keeper, or a singleton)
    old_s1 = spark.table(names["members"]).select(
        "doc_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("old_s1"),
    )
    base_changed = (
        fix.join(F.broadcast(inc_ids), "doc_id", "left_anti")
        # no broadcast hint: the members table is doc_id-bucketed and
        # may be |all paired docs| rows at scale — the affected-sized
        # left side shuffles to its buckets instead
        .join(old_s1, "doc_id", "left")
        .withColumn("old_s1", F.coalesce("old_s1", F.lit(True)))
        .filter(F.col("s1") != F.col("old_s1"))
        .drop("old_s1")
    )
    return inc_part.unionByName(base_changed).orderBy("doc_id")


def apply_rederive_to_flags(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    docs_path: str | None = None,
    shared_pairs: DataFrame | None = None,
    shared_intra: DataFrame | None = None,
) -> tuple[str, int]:
    """The LAST link of the monitor→remediation loop: apply the
    targeted re-derive's corrected rows to the MATERIALIZED flags
    table, so the funnel card / quota draw / corpus writer — all
    consumers of that table — serve the exact flags after a risky
    night. Returns (table name, rows patched).

    Flow: materialize_curation_flags + append_curation_flags built the
    table (base + frozen-history increments); the monitor census
    fired; this computes rederive_risky_component_flags for the batch
    and rewrites the table with the affected rows OVERRIDDEN
    (anti-join on the affected ids ∪ corrected rows), through the
    compact_bm25_index tmp-write → rename-swap discipline (a table
    being read is never overwritten in place; the only failure window
    leaves *_old recoverable by a rename). No-op (zero patches, table
    untouched) when the re-derive returns no affected rows.

    Receipt: test_apply_rederive_patches_table_to_full_equality pins
    the PATCHED TABLE row-identical to a from-scratch re-derive over
    base ∪ increment for every doc.

    Scale: the patch frame is affected-sized and broadcasts into the
    anti-join; the rewrite streams the |docs|-row table once. (A
    delete-vector/merge-on-read sink would avoid even that rewrite;
    with plain parquet tables the swap is the honest primitive.)"""
    import os as _os
    import shutil
    from urllib.parse import urlparse

    name = materialize_curation_flags(spark, sf_dir, docs_path)
    fix = rederive_risky_component_flags(
        spark,
        sf_dir,
        new_docs,
        docs_path,
        shared_pairs=shared_pairs,
        shared_intra=shared_intra,
    ).localCheckpoint()
    n_patched = fix.count()
    if n_patched == 0:
        return name, 0
    # ordering guard (the probe-then-extend discipline): the batch's
    # frozen flags must already be IN the table (append_curation_flags
    # ran) — patching a table that lacks the batch would leave the
    # unaffected increment docs without rows, a silently partial state
    missing = (
        fix.select("doc_id")
        .join(spark.table(name).select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    if missing:
        raise ValueError(
            f"apply_rederive_to_flags: {missing} affected doc_id(s) "
            f"have no rows in {name}; run append_curation_flags for "
            "the batch before patching (append-then-patch)."
        )
    patched = (
        spark.table(name)
        .join(F.broadcast(fix.select("doc_id")), "doc_id", "left_anti")
        .unionByName(fix)
    )
    tmp_name = f"{name}_patching"
    old_name = f"{name}_old"
    for t in (tmp_name, old_name):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
        if wh.scheme in ("", "file") and wh.path:
            loc = _os.path.join(wh.path, t.lower())
            if _os.path.exists(loc):
                shutil.rmtree(loc, ignore_errors=True)
    patched.write.mode("overwrite").saveAsTable(tmp_name)
    spark.sql(f"ALTER TABLE {name} RENAME TO {old_name}")
    spark.sql(f"ALTER TABLE {tmp_name} RENAME TO {name}")
    spark.sql(f"DROP TABLE {old_name}")
    return name, n_patched


def corpus_flags_increment_sql() -> str:
    """Full-re-derive twin of the incremental flags path: rebuild the
    identical increment in SQL (verbatim +5M clones, reversed-order
    +6M docs), run the WHOLE pair-graph machinery over base ∪
    increment from scratch (minhash chain, recursive closure, quality
    argmax keeper — the corpus_build_funnel_sql CTEs over the
    augmented corpus), derive every doc's stage flags, and restrict to
    the increment's ids. A hash match therefore pins that the
    frozen-history probes (snapshot bipartite + intra-increment
    keeper) land on exactly the flags a full nightly rebuild would."""
    path = ensure_documents_aug()
    d = f"read_parquet('{path}')"
    mh = minhash_pairs_sql("aug")
    qcte = quality_score_cte_sql("aug")
    txt = pii_planted_txt_sql()
    hits = " + ".join(
        f"len(regexp_extract_all(txt, '{pat}'))"
        for pat in _PII_PATTERNS.values()
    )
    t = PREP_QUALITY_T
    return f"""
        WITH RECURSIVE
        aug AS MATERIALIZED (
          SELECT doc_id, text, source FROM {d}
          UNION ALL
          SELECT doc_id + 5000000 AS doc_id, text, source FROM {d}
          WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 6000000 AS doc_id,
                 array_to_string(list_reverse(
                   regexp_split_to_array(trim(text), ' +')), ' ') AS text,
                 source
          FROM {d} WHERE doc_id % 7 = 1
        ),
        p AS (SELECT doc_a, doc_b FROM ({mh}) mh),
        e AS (SELECT doc_a AS u, doc_b AS v FROM p
              UNION ALL
              SELECT doc_b, doc_a FROM p),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
        ),
        comp AS MATERIALIZED (
          SELECT u AS doc_id, least(u, min(v)) AS component
          FROM reach GROUP BY u
        ),
        q AS MATERIALIZED {qcte},
        member AS (
          SELECT c.doc_id, c.component, q.quality_score
          FROM comp c JOIN q USING (doc_id)
        ),
        keep AS (
          SELECT component, doc_id AS keeper_id FROM (
            SELECT component, doc_id,
                   row_number() OVER (
                     PARTITION BY component
                     ORDER BY quality_score DESC, doc_id ASC) AS rk
            FROM member
          ) WHERE rk = 1
        ),
        removed AS MATERIALIZED (
          SELECT m.doc_id FROM member m JOIN keep k USING (component)
          WHERE m.doc_id != k.keeper_id
        ),
        flagged AS (
          SELECT doc_id, source, len({WORDS_SQL})::BIGINT AS n,
                 {txt} AS txt
          FROM aug
        )
        SELECT b.doc_id, b.source, b.n,
               (r.doc_id IS NULL) AS s1,
               (r.doc_id IS NULL
                AND qq.quality_score >= {t}) AS s2,
               (r.doc_id IS NULL
                AND qq.quality_score >= {t}
                AND ({hits}) = 0) AS s3
        FROM flagged b
        LEFT JOIN removed r USING (doc_id)
        JOIN q qq ON qq.doc_id = b.doc_id
        WHERE b.doc_id >= 5000000
        ORDER BY b.doc_id
    """


def corpus_flags_rederive_sql() -> str:
    """Full-re-derive twin of the targeted patch: rebuild the RISKY
    increment in SQL (verbatim +5M clones, reversed +6M docs, +7M
    appended-token recrawls), run the whole pair-graph machinery over
    base ∪ increment from scratch (minhash chain, recursive closure,
    quality-argmax keeper), derive every doc's stage flags, and emit
    increment ids plus the base ids whose displaced-status differs
    from a SECOND, base-only closure — exactly the rows the targeted
    patch claims to correct."""
    path = ensure_documents_aug()
    d = f"read_parquet('{path}')"
    mh_all = minhash_pairs_sql("allv")
    mh_base = minhash_pairs_sql(d)
    qcte = quality_score_cte_sql("allv")
    txt = pii_planted_txt_sql()
    hits = " + ".join(
        f"len(regexp_extract_all(txt, '{pat}'))"
        for pat in _PII_PATTERNS.values()
    )
    t = PREP_QUALITY_T
    risky_txt = (
        "text || ' zq' || doc_id::VARCHAR || 'a zq' || "
        "doc_id::VARCHAR || 'b zq' || doc_id::VARCHAR || 'c'"
    )
    return f"""
        WITH RECURSIVE
        allv AS MATERIALIZED (
          SELECT doc_id, text, source FROM {d}
          UNION ALL
          SELECT doc_id + 5000000 AS doc_id, text, source FROM {d}
          WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 6000000 AS doc_id,
                 array_to_string(list_reverse(
                   regexp_split_to_array(trim(text), ' +')), ' ') AS text,
                 source
          FROM {d} WHERE doc_id % 7 = 1
          UNION ALL
          SELECT doc_id + 7000000 AS doc_id, {risky_txt} AS text, source
          FROM {d} WHERE doc_id % 7 = 2
        ),
        p AS (SELECT doc_a, doc_b FROM ({mh_all}) mh),
        e AS (SELECT doc_a AS u, doc_b AS v FROM p
              UNION ALL
              SELECT doc_b, doc_a FROM p),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
        ),
        comp AS MATERIALIZED (
          SELECT u AS doc_id, least(u, min(v)) AS component
          FROM reach GROUP BY u
        ),
        q AS MATERIALIZED {qcte},
        member AS (
          SELECT c.doc_id, c.component, q.quality_score
          FROM comp c JOIN q USING (doc_id)
        ),
        keep AS (
          SELECT component, doc_id AS keeper_id FROM (
            SELECT component, doc_id,
                   row_number() OVER (
                     PARTITION BY component
                     ORDER BY quality_score DESC, doc_id ASC) AS rk
            FROM member
          ) WHERE rk = 1
        ),
        removed AS MATERIALIZED (
          SELECT m.doc_id FROM member m JOIN keep k USING (component)
          WHERE m.doc_id != k.keeper_id
        ),
        bp AS (SELECT doc_a, doc_b FROM ({mh_base}) mhb),
        be AS (SELECT doc_a AS u, doc_b AS v FROM bp
               UNION ALL
               SELECT doc_b, doc_a FROM bp),
        reachb(u, v) AS (
          SELECT u, v FROM be
          UNION
          SELECT r.u, be.v FROM reachb r JOIN be ON be.u = r.v
        ),
        compb AS MATERIALIZED (
          SELECT u AS doc_id, least(u, min(v)) AS component
          FROM reachb GROUP BY u
        ),
        memberb AS (
          SELECT c.doc_id, c.component, q.quality_score
          FROM compb c JOIN q USING (doc_id)
        ),
        keepb AS (
          SELECT component, doc_id AS keeper_id FROM (
            SELECT component, doc_id,
                   row_number() OVER (
                     PARTITION BY component
                     ORDER BY quality_score DESC, doc_id ASC) AS rk
            FROM memberb
          ) WHERE rk = 1
        ),
        removedb AS MATERIALIZED (
          SELECT m.doc_id FROM memberb m JOIN keepb k USING (component)
          WHERE m.doc_id != k.keeper_id
        ),
        flagged AS (
          SELECT doc_id, source, len({WORDS_SQL})::BIGINT AS n,
                 {txt} AS txt
          FROM allv
        ),
        full_flags AS MATERIALIZED (
          SELECT b.doc_id, b.source, b.n,
                 (r.doc_id IS NULL) AS s1,
                 (r.doc_id IS NULL
                  AND qq.quality_score >= {t}) AS s2,
                 (r.doc_id IS NULL
                  AND qq.quality_score >= {t}
                  AND ({hits}) = 0) AS s3,
                 (rb.doc_id IS NULL) AS s1_base
          FROM flagged b
          LEFT JOIN removed r USING (doc_id)
          LEFT JOIN removedb rb USING (doc_id)
          JOIN q qq ON qq.doc_id = b.doc_id
        )
        SELECT doc_id, source, n, s1, s2, s3 FROM full_flags
        WHERE doc_id >= 5000000
        UNION ALL
        SELECT doc_id, source, n, s1, s2, s3 FROM full_flags
        WHERE doc_id < 5000000 AND s1 != s1_base
        ORDER BY doc_id
    """


def corpus_build_funnel_sql() -> str:
    """The composed ANSI twin: recursive-CTE closure + quality argmax
    (dedup_apply_keepers' keeper subplan), the quality CTE, the PII
    patterns on the planted text, the integer Hamilton quota, and the
    hash-ordered maximal-prefix draw — one statement. The shared CTEs
    are MATERIALIZED (DuckDB hint): without it the planner re-inlines
    the recursive closure once per stage reference (5× the whole
    MinHash chain — measured 500 s → 1 s at the dedup fixture)."""
    path = ensure_documents_aug()
    d = f"read_parquet('{path}')"
    mh = minhash_pairs_sql(d)
    qcte = quality_score_cte_sql(d)
    txt = pii_planted_txt_sql()
    hits = " + ".join(
        f"len(regexp_extract_all(txt, '{pat}'))"
        for pat in _PII_PATTERNS.values()
    )
    b = FUNNEL_DRAW_BUDGET
    dp = MIX_WEIGHT_DP
    stage_rows = " UNION ALL ".join(
        f"SELECT {i} AS stage_id, '{s}' AS stage, source, "
        f"n{i} AS n_docs, t{i} AS n_tokens FROM funnel"
        for i, s in enumerate(_STAGES)
    )
    return f"""
        WITH RECURSIVE
        p AS (SELECT doc_a, doc_b FROM ({mh}) mh),
        e AS (SELECT doc_a AS u, doc_b AS v FROM p
              UNION ALL
              SELECT doc_b, doc_a FROM p),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v
        ),
        comp AS MATERIALIZED (
          SELECT u AS doc_id, least(u, min(v)) AS component
          FROM reach GROUP BY u
        ),
        q AS MATERIALIZED {qcte},
        member AS (
          SELECT c.doc_id, c.component, q.quality_score
          FROM comp c JOIN q USING (doc_id)
        ),
        keep AS (
          SELECT component, doc_id AS keeper_id FROM (
            SELECT component, doc_id,
                   row_number() OVER (
                     PARTITION BY component
                     ORDER BY quality_score DESC, doc_id ASC) AS rk
            FROM member
          ) WHERE rk = 1
        ),
        removed AS MATERIALIZED (
          SELECT m.doc_id FROM member m JOIN keep k USING (component)
          WHERE m.doc_id != k.keeper_id
        ),
        base AS (
          SELECT doc_id, source, len({WORDS_SQL})::BIGINT AS n,
                 {txt} AS txt
          FROM {d}
        ),
        flagged AS MATERIALIZED (
          SELECT b.doc_id, b.source, b.n,
                 (r.doc_id IS NULL) AS s1,
                 (r.doc_id IS NULL
                  AND qq.quality_score >= {PREP_QUALITY_T}) AS s2,
                 (r.doc_id IS NULL
                  AND qq.quality_score >= {PREP_QUALITY_T}
                  AND ({hits}) = 0) AS s3
          FROM base b
          LEFT JOIN removed r USING (doc_id)
          JOIN q qq ON qq.doc_id = b.doc_id
        ),
        roll AS MATERIALIZED (
          SELECT source,
                 count(*)::BIGINT AS n0, sum(n)::BIGINT AS t0,
                 count_if(s1)::BIGINT AS n1,
                 sum(CASE WHEN s1 THEN n ELSE 0 END)::BIGINT AS t1,
                 count_if(s2)::BIGINT AS n2,
                 sum(CASE WHEN s2 THEN n ELSE 0 END)::BIGINT AS t2,
                 count_if(s3)::BIGINT AS n3,
                 sum(CASE WHEN s3 THEN n ELSE 0 END)::BIGINT AS t3
          FROM flagged GROUP BY source
        ),
        units AS (
          SELECT source,
                 CAST(floor(sqrt(t3) * 1e{dp} + 0.5) AS BIGINT) AS u
          FROM roll WHERE t3 > 0
        ),
        tot AS (SELECT sum(u)::BIGINT AS t FROM units),
        apportioned AS (
          SELECT u.source,
                 ({b} * u.u) // t.t AS base,
                 ({b} * u.u) % t.t AS rem
          FROM units u, tot t
        ),
        sb AS (SELECT sum(base)::BIGINT AS sum_base FROM apportioned),
        quota AS (
          SELECT a.source,
                 (a.base + CASE WHEN row_number() OVER (
                      ORDER BY a.rem DESC, a.source ASC)
                    <= {b} - sb.sum_base THEN 1 ELSE 0 END)::BIGINT
                   AS quota
          FROM apportioned a, sb
        ),
        cum AS (
          SELECT f.doc_id, f.source, f.n,
                 sum(f.n) OVER (
                   PARTITION BY f.source
                   ORDER BY md5(f.doc_id::VARCHAR), f.doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM flagged f WHERE f.s3
        ),
        drawn AS (
          SELECT c.source, count(*)::BIGINT AS n4, sum(c.n)::BIGINT AS t4
          FROM cum c JOIN quota qt USING (source)
          WHERE c.cum <= qt.quota
          GROUP BY c.source
        ),
        funnel AS MATERIALIZED (
          SELECT r.source, r.n0, r.t0, r.n1, r.t1, r.n2, r.t2,
                 r.n3, r.t3,
                 coalesce(d4.n4, 0)::BIGINT AS n4,
                 coalesce(d4.t4, 0)::BIGINT AS t4
          FROM roll r LEFT JOIN drawn d4 USING (source)
        )
        SELECT stage_id, stage, source, n_docs, n_tokens
        FROM ({stage_rows})
        ORDER BY stage_id, source
    """

