"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": tpch8_total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology — comparable to BASELINE.md: the reference ran its 8
TPC-H queries in <7 s at SF 0.1 against tables fully pre-loaded into
JVM heap with indexes pre-built at CREATE TABLE time
(Microbase.scala:962-1024) — i.e., a warm, steady-state measurement
excluding all setup. We mirror that stance exactly:

1. cache every TPC-H table once (the Spark analog of the eager load);
2. one untimed warm pass of each query — pays whole-stage-codegen
   compilation and JVM JIT, the cost the reference's interpreted
   executor never has but also never amortizes;
3. the timed pass measures per-query end-to-end latency (plan, AQE,
   execute, noop-sink write — see the round-14 epoch note in
   BASELINE.md; count() lets Catalyst prune computed columns).

``value`` is the 8-query TPC-H total (the number comparable to the
baseline's <7 s); ``queries`` also carries the extension-family
timings so regressions in the scale paths show up per-round.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rdbms_scala_spark.catalog import load_tables
from rdbms_scala_spark.session import get_spark

# The 8 TPC-H-shape acceptance queries (BASELINE.md).
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
]
# One representative of each extension family, plus the manual
# scale-path joins (skew salting, range binning) so their overhead
# shows up as a bench delta, not just a correctness row.
EXTENSION = [
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "similarity_lsh_ann",
    "similarity_ivf",
    "text_quality_score",
    "events_sessionize",
    "window_running_revenue",
    "join_skew_salted",
    "join_range_binned",
    "events_funnel",
    "sample_train_val_test",
    # round-4 additions: the heaviest derived-partsupp TPC-H shape and
    # the chunk/pack/mixture pipeline ops
    "tpch_q9",
    "text_chunk_documents",
    "text_pack_sequences",
    "sample_domain_mixture",
    # round-5: the reference's hash-index point-lookup latency story
    # (Microbase.scala:994-1006) tracked as a bench row
    "scan_point_lookup",
    # round-5: the two new physical/runtime levers, tracked per-round
    # (zorder pays its one-time layout write in the warm pass; timed
    # passes measure the pruned read)
    "scan_zorder_skipping",
    "join_bloom_pruned",
    # round-6: the remaining scale levers get per-round latency rows
    # (partition pruning pays its layout write in the warm pass too)
    "scan_partition_pruned",
    "pipeline_upsert_snapshot",
    # round-6: the zero-shuffle bucketed fact-fact join (pays its
    # one-time layout write in the warm pass) and the compressed-
    # domain PQ scan
    "join_bucketed_colocated",
    "similarity_pq",
    # round-6 (cont.): inverted-index retrieval and the per-batch
    # integer-GEMM Gram matrix — the two new corpus-pass ops
    "text_bm25_search",
    "embeddings_gram_matrix",
    # round-7: the de-globalized RFM cut-point rewrite (was the one
    # perf-weak op), pagerank over the shared materialized pair
    # relation (first pass pays the derivation, warm passes show the
    # cache), the Gram power iteration, and the DAU/WAU explode
    "events_rfm_segments",
    "graph_pagerank",
    "embeddings_power_iteration",
    "events_dau_stickiness",
    # round-8: the LSH-candidate triangle tier (the re-admitted scale
    # path for the one ex-perf-weak op), the sketch stats pass vs its
    # exact sibling above, the kNN-vote classifier readout, and the
    # two-window session path assembly
    "graph_triangle_count_lsh",
    "maintenance_table_stats_sketch",
    "embeddings_knn_vote",
    "events_session_paths",
    # round-9: the image phash tier (decode+hash pays once into the
    # session relation on the warm pass; timed passes measure the
    # banded join + verify), k-core peeling over its pairs, the
    # bitmap-retention popcount rewrite, the span-level dedup corpus
    # pass, and the codegen JL projection map pass
    "dedup_image_phash",
    "graph_kcore",
    "events_bitmap_retention",
    "dedup_span_exact",
    "embeddings_jl_projection",
    # round-9 (cont.): the winnowing fingerprint pair join (the new
    # position-aware dedup tier — its df-capped inverted index is the
    # row to watch), label-propagation over the shared pair relation,
    # and the offset-banded cosine histogram corpus pass
    "dedup_winnowing_pairs",
    "graph_label_propagation",
    "embeddings_cosine_histogram",
    # round-10: the corrected winnowing tier's incremental batch probe
    # (store join is the steady-state ingest cost), cluster-bounded
    # SemDeDup over the embedding corpus, and the map-only
    # Gopher-rules corpus readout
    "dedup_winnowing_incremental",
    "dedup_semdedup",
    "text_gopher_rules",
    # round-10 (cont.): DSIR hashed-ngram importance scoring (the
    # token-volume corpus pass + broadcast model), and the k-round
    # k-center greedy traversal (k corpus map passes + top-1 each)
    "sample_dsir_importance",
    "embeddings_kcenter_coreset",
    "sample_coverage_greedy",
    "similarity_kmeans_parallel_init",
    "dedup_minhash_bbit",
    # round-11: the exact-substring (Lee et al.) corpus pass — anchor
    # runs + occurrence count + islands merge — and the full-candidate
    # SimHash histogram (carries the whole simhash fingerprint+banding
    # derivation, the tier's first bench row). join_skew_salted now
    # carries the production auto threshold; the _demo row keeps the
    # fixed-threshold config comparable with rounds <= 10 (whose
    # "join_skew_salted" numbers were this config).
    "dedup_substring_exact",
    "dedup_simhash_candidate_histogram",
    "join_skew_salted_demo",
    # round-11 batch 2: the BPE encode loop-closer (trains the 5-round
    # merge table, then one token explode + broadcast vocab join), the
    # CUPED per-user moment pass (ab_lift plan family + second
    # moments), language-temperature resampling (two corpus passes,
    # language-key shuffle only), and common-neighbor link prediction
    # over the support-floored part co-purchase graph (the wedge
    # self-join is the row to watch).
    "text_bpe_apply_encode",
    "events_cuped",
    "sample_lang_temperature",
    "graph_link_prediction",
    # round-11 batch 3: the Poisson-bootstrap CI (x64 user-grain
    # weight explode + 64-key rollup — the materialization-free
    # resample), centroid-margin hard-negative mining (exploded
    # corpus x broadcast centroid table), and the real partitioned
    # write path (base partitionBy write + one-partition dynamic
    # overwrite + read-back, all inside the timed pass — the only
    # bench row whose cost is dominated by parquet WRITES).
    "events_bootstrap_ci",
    "embeddings_hard_negative_mining",
    "pipeline_dynamic_partition_overwrite",
    # round-11 batch 4: the closed-form NB source classifier — two
    # model aggregates + the tokens x classes broadcast-model scoring
    # pass (the quality-classifier family's bench row) — and the real
    # PNG decode + nearest-neighbor resize (map-only mapInPandas over
    # the image third of the corpus).
    "text_naive_bayes_source",
    "multimodal_image_resize",
    # round-12: the A/B sizing readout (one per-user moment pass —
    # should sit at the cuped/ab_lift floor), and the NB evaluation
    # pair's representative (rides the session-cached prediction
    # relation built by the NB warm pass; times the model-sized
    # metrics rollup, which is the point — evaluation must be ~free
    # once the scored relation exists).
    "events_ab_mde",
    "text_nb_class_metrics",
    # round-13: the two r12 additions that had no bench row (r12
    # verdict #5). ab_sequential rides the same per-user moment pass
    # as mde/cuped then windows over the calendar-bounded daily
    # relation; lsh_recall re-runs the multi-probe LSH queries against
    # the brute-force top-k, so it times the ANN tier's full
    # query-side path (the recall gate must not be blind in the
    # bench).
    "events_ab_sequential",
    "similarity_lsh_recall",
    # round-13 additions: the decontamination report card composes
    # three corpus tiers (shingle contamination join + substring
    # spans + the fingerprint split) so its wall is the sum of its
    # session-cached parts; quality AUC is one corpus map pass + the
    # bounded per-score histogram; the two new recall gates time the
    # PQ / IVF-PQ query paths against the shared brute-force ranking
    # (codes/LUT memoized — the steady-state read cost, like the
    # other ANN rows).
    "pipeline_decontamination_report",
    "text_quality_auc",
    "similarity_pq_recall",
    "similarity_ivfpq_recall",
    # the contamination threshold-tuning sweep: the check's broadcast
    # overlap aggregate collapsed per-doc, then a 10-row threshold
    # spine rollup — should sit at the contamination check's floor.
    "dedup_contamination_sweep",
    # round-14 (r13 verdict #4): the two diagnostics whose r13
    # session-cache rewrites moved their x64 SCALE rows 26.4->0.94 s
    # and 32.2->0.55 s get per-round steady-state tracking at sf0.1 —
    # both ride their family's session-cached relations (minhash
    # signatures / shingle firsts), so their bench wall is the
    # model-sized rollup each adds on top.
    "dedup_lsh_bucket_stats",
    "text_shingle_novelty",
    # round-14 additions: the streaming family's first
    # performance-shaped row — a known row count drained end-to-end
    # through a 4-micro-batch map-only stream (split write + drain;
    # rows/s is derivable from the row count and this wall) — and the
    # BH-guarded heterogeneity readout (two per-user corpus aggregates
    # + a 5-row rank ladder; should sit at the ab_mde/cuped floor).
    "streaming_throughput_progress",
    "events_ab_segments",
    # the DP release: one distinct-users-per-day exchange + a
    # calendar-bounded noise map — should sit at the daily-rollup
    # floor (the noise add is free).
    "events_dp_daily_counts",
    # round-15: the batch explain-yourself row (r14 verdict #7a) —
    # each timed pass executes the audited filter->join->agg query
    # (collect is bounded at 5 groups) plus the driver-side metric
    # walk, so the row tracks the cost of the readout a production
    # cost dashboard would run per query.
    "maintenance_plan_metrics_audit",
    # round-15 (r14 verdict #7c): the incremental decontamination
    # readout — CDC diff of two corpus epochs + delta-only rescoring
    # against the standing index + the merge arithmetic. Its wall is
    # the steady-state nightly-ingest cost: one key join of the two
    # snapshots plus batch-sized shingling, NOT a corpus re-score
    # (compare pipeline_decontamination_report, the full-scan row).
    "pipeline_decontamination_incremental",
    # round-15 (cont.): the retrieval family's quality gate — shingle-
    # BM25 MRR/recall against the contamination ground truth; rides
    # the session-cached shingle relation, so its wall is the
    # broadcast-index scoring + per-query bounded ranking windows.
    "retrieval_eval_mrr",
]

_CACHED_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "region")


def _calibration_sec(spark) -> tuple[float, list[float]]:
    """Fixed-cost host-speed probe: a 500M-row range with a pure-codegen
    Knuth-hash sum — no I/O, no shuffle variance (single exchange of 32
    partial rows), no data dependence, plan identical every round. Its
    min-of-5 time moves ONLY with host speed (CPU contention, thermal,
    JVM version), so the per-round ratio calibration_sec(rN) /
    calibration_sec(rM) separates host drift from engine regression in
    the TPC-H totals: if tpch8 inflates by the same ratio as the
    calibration row, the host moved, not the engine (three rounds of
    monotone tpch8 drift on unchanged plans motivated this — VERDICT r8).
    Runs BEFORE any table is cached so heap pressure from the bench's
    own caches cannot contaminate the probe."""
    q = lambda: (  # noqa: E731
        spark.range(500_000_000)
        .selectExpr("sum(id * 2654435761 % 1000) AS s")
        .collect()
    )
    q()  # untimed warm pass: codegen compile + JIT
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        q()
        times.append(round(time.perf_counter() - t0, 4))
    return min(times), times


def _membw_sec(spark) -> tuple[float, list[float]]:
    """Memory-BANDWIDTH host probe, the companion to the pure-CPU
    ``_calibration_sec`` (r12 verdict #1): a fixed 2 GB cached-columnar
    scan-sum (250M int64 rows through InMemoryTableScan, no shuffle
    beyond 32 partial rows, no I/O, data-independent of sf_dir). The
    CPU probe's integer mults are cache-resident ALU work and CANNOT
    see a co-tenant saturating DRAM bandwidth, while the cached TPC-H
    pack is exactly such a scan workload — r12 showed tpch8 +15-34% at
    a FASTER CPU probe, the signature the round-9 tripwire calls a
    real regression but which bandwidth contention also produces. With
    both probes recorded, the two host-drift modes are separable:
    tpch8 moves with membw_sec but not calibration_sec => bandwidth
    contention, not engine. The probe relation is unpersisted before
    the bench's own caching so it leaves no residue.

    The cached column is ``xxhash64(id)`` with the in-memory columnar
    compression DISABLED for the probe's build (ADVICE r13):
    sequential longs under the default delta/RLE encodings cache as a
    small fraction of 2 GB and the scan turns decode/CPU-bound, which
    is exactly the contamination the probe exists to separate out;
    high-entropy hashes + compression off pin the cached footprint at
    the full 8 B/row so the timed pass genuinely streams ~2 GB from
    DRAM. The conf flip is restored before any bench caching."""
    prev = spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed")
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    try:
        probe = (
            spark.range(250_000_000)
            .selectExpr("xxhash64(id) AS h")
            .cache()
        )
        probe.count()  # materialize + warm
        q = lambda: probe.selectExpr("sum(h) AS s").collect()  # noqa: E731
        q()
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            q()
            times.append(round(time.perf_counter() - t0, 4))
        probe.unpersist(blocking=True)
    finally:
        spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", prev)
    return min(times), times


def _amplify_factor(raw: str | None) -> int:
    """The amplified tier's factor from SPARK_GRAFT_BENCH_AMPLIFY's
    value: 4 when unset, 0 (tier off) when empty. A malformed value
    warns on stderr and falls back to 4 instead of raising after the
    whole base tier has been timed."""
    if raw is None:
        return 4
    try:
        return int(raw or "0")
    except ValueError:
        print(
            f"bench.py: SPARK_GRAFT_BENCH_AMPLIFY={raw!r} is not an integer; using 4",
            file=sys.stderr,
        )
        return 4


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    spark = get_spark("rdbms_scala_spark-bench")

    from rdbms_scala_spark.registry import all_queries

    specs = all_queries()
    # Optional subset filter (bisection / isolated-session runs —
    # BASELINE.md's cache-residency methodology): comma-separated
    # names, or "headline" for the TPC-H pack alone. Default: all.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    if only.strip() == "headline":
        keep = set(HEADLINE)
    elif only.strip():
        keep = {n.strip() for n in only.split(",") if n.strip()}
    else:
        keep = set(HEADLINE + EXTENSION)

    # 0. host-speed calibration (before any caching — see docstring):
    # the pure-CPU probe, then the memory-bandwidth probe (r13).
    # SPARK_GRAFT_BENCH_SKIP_PROBES=1 is a TEST-ONLY knob (the
    # subset-clobber regression test runs bench.py end-to-end in a
    # subprocess and the 500M/250M-row probes are the only parts that
    # cost real wall there); the driver never sets it, so every
    # recorded BENCH artifact carries real probe values.
    if os.environ.get("SPARK_GRAFT_BENCH_SKIP_PROBES"):
        calibration, calibration_passes = 0.0, []
        membw, membw_passes = 0.0, []
    else:
        calibration, calibration_passes = _calibration_sec(spark)
        membw, membw_passes = _membw_sec(spark)

    # 1. eager load (reference: CREATE TABLE materialization)
    tables = load_tables(spark, sf_dir)
    for name in _CACHED_TABLES:
        if name in tables:
            tables[name].cache().count()

    # 2./3. per family BLOCK: untimed warm pass (codegen compile + JIT
    # + the family's own session-cached relations), then FIVE timed
    # passes keeping the per-query minimum — the host shares cores
    # with the build harness, so min-of-N measures the engine rather
    # than transient machine load; the full pass list is recorded so a
    # uniform host-load shift is self-diagnosing from the JSON (spread
    # across passes >> spread across queries = noise, not regression).
    # Five passes (was three through round 4): the r3->r4 comparison
    # showed ±20% per-query drift on UNCHANGED plans at min-of-3, so
    # the floor estimate needed more samples.
    #
    # Blocks are family-prefix groups of the EXTENSION list (the
    # HEADLINE pack is its own first block), and ALL session-cached
    # relations are EVICTED after each block (then the TPC-H tables
    # re-cached): the round-10 bisect (BASELINE.md, cache-residency
    # note) measured rows timed behind a long tail of other families'
    # checkpoint blocks running ~20% slower than isolated (pagerank
    # 0.82s isolated vs 0.96s suite; PQ 0.43 vs 0.51 — GC pressure,
    # same plans). With per-block eviction each row is timed against
    # only ITS family's warm caches, so adding a new family in a later
    # round can no longer inflate existing rows. Within a family the
    # deliberate cache sharing (graph_* over the pair relation,
    # winnowing over its store) still holds — that reuse is the
    # operator design, not bench residue.
    # Queries that share NOTHING with their name-prefix family but
    # leave heavy per-pass residue (broadcasts, multi-branch shuffle
    # files) get their OWN block, so the eviction+GC boundary runs
    # before their family-mates are timed. Round-12 bisect: with
    # join_skew_salted leading the join block, join_bucketed_colocated
    # timed 0.55 s vs 0.27 s without it (and bloom/range +15-25%) at
    # matched calibration — the skew join's 6 passes x 4 broadcast
    # relations + 4-way-union shuffles were the block-local residue
    # the r11 per-family eviction couldn't see (same-block rows are
    # timed BEFORE the eviction runs). See BASELINE.md.
    # join_skew_salted_demo joins the set in round 13 (ADVICE r12):
    # after the r12 production fast path, join_skew_salted plans a
    # plain join at bench scale (empty hot sets — no broadcasts),
    # while the _demo row still creates the 4-broadcast/4-way-union
    # machinery every pass; it was only safe in the shared join block
    # because it happened to sit last in EXTENSION order.
    _OWN_BLOCK = {"join_skew_salted", "join_skew_salted_demo"}

    def _family_blocks(names: list[str]) -> list[list[str]]:
        order: list[str] = []
        by_fam: dict[str, list[str]] = {}
        for n in names:
            fam = "\x00own:" + n if n in _OWN_BLOCK else n.split("_", 1)[0]
            if fam not in by_fam:
                by_fam[fam] = []
                order.append(fam)
            by_fam[fam].append(n)
        return [by_fam[f] for f in order]

    from rdbms_scala_spark.session import evict_session_relations

    head = [n for n in HEADLINE if n in specs and n in keep]
    ext = [n for n in EXTENSION if n in specs and n in keep]
    blocks = ([head] if head else []) + _family_blocks(ext)

    # Timing action: a noop-SINK write, not count() (round 14).
    # count() lets Catalyst prune every computed column the group
    # keys don't depend on — dedup_contamination_sweep's full
    # contamination aggregate timed 1.9 s under count() vs 122 s
    # honestly computed at the x64 SCALE tier, because the final
    # 10-row threshold rollup's keys are independent of the heavy
    # per-doc overlap relation and the whole subtree was optimized
    # away. The noop sink materializes every output row with all
    # columns (the "run the query, discard the result" stance the
    # reference's stdout sink also takes) and discards it
    # executor-side — no driver transfer in the timed path.
    def run(df):
        if df.isStreaming:
            return
        df.write.format("noop").mode("overwrite").save()

    passes: dict[str, list[float]] = {}
    for block in blocks:
        for name in block:
            run(specs[name].fn(spark, sf_dir))
        for _rep in range(5):
            for name in block:
                t0 = time.perf_counter()
                run(specs[name].fn(spark, sf_dir))
                dt = round(time.perf_counter() - t0, 4)
                passes.setdefault(name, []).append(dt)
        evict_session_relations(spark)
        for name in _CACHED_TABLES:
            if name in tables:
                tables[name].cache().count()
    timings = {name: min(ts) for name, ts in passes.items()}
    tpch_total = round(sum(timings[n] for n in HEADLINE if n in timings), 4)

    # Amplified headline tier (r16, r15 verdict #6): at sf0.1 the
    # TPC-H pack sits at the job-dispatch floor (the r15 scaling block
    # measured 8 cores FASTER than 32 and every ratio ≈ 1), so
    # round-over-round deltas at the base tier carry no engine signal.
    # Run the same 8 queries once more against a k-times key-shifted
    # amplification of the fact tables (built fresh into a tempdir on
    # EVERY invocation — nothing persists across runs), mirroring the
    # base methodology (cached facts, untimed warm pass, min of timed
    # passes, noop sink). Additions-only: the base-tier `value` and
    # per-query rows are untouched; the amplified rows land in
    # `queries` as `<name>_x<k>`. SPARK_GRAFT_BENCH_AMPLIFY overrides
    # the factor (default 4; 0/1 disables); subset runs skip the tier.
    amp_k = _amplify_factor(os.environ.get("SPARK_GRAFT_BENCH_AMPLIFY"))
    if amp_k >= 2 and not only.strip():
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        amp_dir = tempfile.mkdtemp(prefix="bench_amp_")
        try:
            for name in _CACHED_TABLES:
                if name in tables:
                    tables[name].unpersist()
            orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            n_ord = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
            o_parts = [
                orders.withColumn("o_orderkey", F.col("o_orderkey") + i * n_ord)
                for i in range(amp_k)
            ]
            l_parts = [
                li.withColumn("l_orderkey", F.col("l_orderkey") + i * n_ord)
                for i in range(amp_k)
            ]
            for parts, name in ((o_parts, "orders"), (l_parts, "lineitem")):
                u = parts[0]
                for p in parts[1:]:
                    u = u.unionByName(p)
                u.write.parquet(os.path.join(amp_dir, f"{name}.parquet"))
            for name in (
                "customer", "part", "supplier", "nation", "region",
            ):
                src = os.path.join(sf_dir, f"{name}.parquet")
                dst = os.path.join(amp_dir, f"{name}.parquet")
                (shutil.copytree if os.path.isdir(src) else shutil.copy)(
                    src, dst
                )
            amp_tables = load_tables(spark, amp_dir)
            for name in _CACHED_TABLES:
                if name in amp_tables:
                    amp_tables[name].cache().count()
            for name in head:
                run(specs[name].fn(spark, amp_dir))
            for _rep in range(3):
                for name in head:
                    t0 = time.perf_counter()
                    run(specs[name].fn(spark, amp_dir))
                    dt = round(time.perf_counter() - t0, 4)
                    passes.setdefault(f"{name}_x{amp_k}", []).append(dt)
            for name in _CACHED_TABLES:
                if name in amp_tables:
                    amp_tables[name].unpersist()
            evict_session_relations(spark)
        finally:
            shutil.rmtree(amp_dir, ignore_errors=True)
        timings = {name: min(ts) for name, ts in passes.items()}
    # The stdout headline carries ONLY the 8 TPC-H rows in "queries":
    # the driver tail-captures the last 2,000 characters of stdout,
    # and the full per-query map (69 rows by r11) overflowed that
    # window twice (BENCH_r05 and BENCH_r11 both recorded
    # "parsed": null). The complete map + 5-pass detail lands in
    # BENCH_PASSES.json next to this file; the stdout line stays
    # well under 1 KB so it always parses.
    headline = {
        "metric": "tpch8_total_warm",
        "value": tpch_total,
        "unit": "sec",
        # Base-tier rows first, then the amplified-tier additions
        # (<name>_x<k>) so BENCH artifacts carry both tiers; the line
        # stays well under the driver's 2,000-char stdout tail.
        "queries": {
            n: timings[n]
            for n in HEADLINE + [f"{h}_x{amp_k}" for h in HEADLINE]
            if n in timings
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration_sec": calibration,
        "membw_sec": membw,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # Subset runs (SPARK_GRAFT_BENCH_QUERIES set) write their pass
    # detail to a SEPARATE file (r14 verdict #3): BENCH_PASSES.json is
    # the full-suite artifact the driver records per round, and the
    # isolated-run bisection methodology BASELINE.md prescribes was
    # destroying it — a "headline"-only adjudication run overwrote the
    # 83-row r14 file with an 8-row one. Full runs keep the canonical
    # path; anything filtered lands in BENCH_PASSES_subset.json.
    passes_name = "BENCH_PASSES_subset.json" if only.strip() else "BENCH_PASSES.json"
    with open(os.path.join(here, passes_name), "w") as f:
        json.dump(
            {
                **headline,
                "queries": timings,
                "passes": passes,
                "calibration_passes": calibration_passes,
                "membw_passes": membw_passes,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
