"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR.

Methodology mirrors the reference bench harness's ``eval_setting``
(bench/faiss_bench_official/bench_all_ivf.py:283-363): adaptive
warm-up (repeat until run-to-run improvement stabilizes, see
``timed_pair``), then repeat each query until ≥ ``MIN_DURATION``
seconds of measured time, report the median seconds per execution
(competing ANN/exact pairs are measured interleaved; speedup ratios
use per-run minima).

Prints exactly ONE JSON line:
  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {...}, "sf": ..., "extras": {...}}

``queries`` holds median sec per headline query. ``extras`` carries the
derived ratios the perf gate cares about (ANN-vs-exact speedup, build
wall-clock, trained recall).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MIN_DURATION = float(os.environ.get("BENCH_MIN_DURATION", "3.0"))
MAX_REPEATS = int(os.environ.get("BENCH_MAX_REPEATS", "20"))
MIN_TIMES: dict = {}  # query key -> fastest observed run (noise floor)

# Heavy scale sections (graph builds, 1M dedup corpus, bitext mining,
# media codecs, nprobe sweeps, the 1.6M MaxSim pair) produce
# EXTRAS-only evidence — none of them feeds a headline `queries` key.
# They are opt-in (BENCH_HEAVY=1 enables the lot; each per-section env
# still overrides) so the default bench — the one the harness times at
# TWO core counts — finishes well inside its timeout. r10 lesson: the
# default pile grew past the budget and both official runs died rc=124
# (BENCH_r10.json "parsed": null), costing the round its entire bench
# artifact. Committed heavy numbers come from explicit BENCH_HEAVY=1
# runs recorded in bench_extras.json (merge-written, see below).
_HEAVY_DEFAULT = os.environ.get("BENCH_HEAVY", "0")
# Deterministic quality bookkeeping (recall / overlap / score-ratio
# extras): identical on every run of the same code+seed, so the lean
# default run skips recomputing them — committed values come from the
# BENCH_HEAVY=1 evidence runs and survive via the merge-written sidecar.
_QUALITY = os.environ.get("BENCH_QUALITY", _HEAVY_DEFAULT) == "1"

_T0 = time.perf_counter()


def _mark(label: str) -> None:
    """Per-section stopwatch on stderr (stdout stays the JSON contract)."""
    print(
        f"[bench +{time.perf_counter() - _T0:8.1f}s] {label}",
        file=sys.stderr,
        flush=True,
    )



def timed_pair(fn_a, fn_b, key_a, key_b, min_duration: float = 6.0):
    """Interleaved A-B-A-B measurement of two competing queries: host
    noise bursts hit both sides equally, so the min-ratio stays fair
    even when a burst spans the whole window. Returns (min_a, min_b)
    — the committed values ARE the interleaved minima, the same
    numbers the speedup extras and BASELINE's isolated runs use, so
    the artifact no longer drifts from prose when earlier sections
    leave the heap churned (the r4/r7/r8 placement effect: medians
    measured up to 3.6x the isolated number while minima and ratios
    held). Minima are also recorded in MIN_TIMES.

    Warm-up is adaptive: the first pass over a freshly cached 1M-row
    table runs up to 20x slower than steady state (JIT of the Arrow
    IPC path + GC of the materialized cache — measured 95s → 51s →
    17s → 4.6s on the same query), so a fixed warm-up count records
    still-warming values. Repeat until both sides hold within 30% of
    their previous run for two consecutive pairs (cap 10 pairs), then
    measure."""
    prev_a = prev_b = float("inf")
    stable_streak = 0
    for _ in range(10):
        t0 = time.perf_counter()
        fn_a()
        da = time.perf_counter() - t0
        t0 = time.perf_counter()
        fn_b()
        db = time.perf_counter() - t0
        # warming shows as a consistent downward march; require two
        # consecutive <30%-improvement pairs so a mid-warmup plateau
        # (JIT compiles in stages) doesn't end warm-up early
        stable_streak = (
            stable_streak + 1
            if (da > prev_a * 0.7 and db > prev_b * 0.7)
            else 0
        )
        prev_a, prev_b = da, db
        if stable_streak >= 2:
            break
    ta: list = []
    tb: list = []
    total = 0.0
    while total < min_duration and len(ta) < MAX_REPEATS:
        t0 = time.perf_counter()
        fn_a()
        da = time.perf_counter() - t0
        t0 = time.perf_counter()
        fn_b()
        db = time.perf_counter() - t0
        ta.append(da)
        tb.append(db)
        total += da + db
    ta.sort()
    tb.sort()
    MIN_TIMES[key_a], MIN_TIMES[key_b] = ta[0], tb[0]
    return ta[0], tb[0]


def interleaved_min(
    variants: dict, rounds: int = 2, warmup_rounds: int = 0
) -> dict:
    """Round-robin interleaved measurement of N competing variants —
    the k-ary generalization of :func:`timed_pair_min` for sections
    that compare more than two plans (e.g. full vs capped vs
    cap+rescore). Runs each variant once per round in a fixed order
    and returns per-variant minima; the first round doubles as
    warm-up, and a host-noise burst spanning a round hits every
    variant equally so min-ratios stay fair.

    ``warmup_rounds`` runs that many UNTIMED full passes first: the
    first executions over a freshly cached 1M-row table run up to 20x
    slower than steady state (JIT of the Arrow IPC path + GC of the
    materialized cache — the documented timed_pair warm-up curve), so
    sections whose variants are all fresh-cache 1M scans need explicit
    warm passes before minima mean anything."""
    for _ in range(max(0, warmup_rounds)):
        for fn in variants.values():
            fn()
    times: dict = {k: [] for k in variants}
    for _ in range(max(1, rounds)):
        for key, fn in variants.items():
            t0 = time.perf_counter()
            fn()
            times[key].append(time.perf_counter() - t0)
    out = {k: min(v) for k, v in times.items()}
    MIN_TIMES.update(out)
    return out


def timed_pair_min(fn_a, fn_b, key_a, key_b, pairs: int = 3):
    """Fixed-count interleaved A-B measurement for HEAVY pairs (tens of
    seconds to minutes per side) where :func:`timed_pair`'s adaptive
    warm-up would cost tens of minutes: run ``pairs`` interleaved A-B
    rounds and commit the per-side minima. The first round doubles as
    warm-up — with minima, a still-warming or placement-noised round
    simply loses to a later clean one, and a noise burst spanning one
    round hits both sides equally so the min-ratio stays fair (the same
    argument as timed_pair; reference methodology repeats to a minimum
    duration, bench/faiss_bench_official/bench_all_ivf.py:283-363)."""
    ta: list = []
    tb: list = []
    for _ in range(max(1, pairs)):
        t0 = time.perf_counter()
        fn_a()
        ta.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        fn_b()
        tb.append(time.perf_counter() - t0)
    MIN_TIMES[key_a], MIN_TIMES[key_b] = min(ta), min(tb)
    return min(ta), min(tb)


def parquet_bytes(df, path: str) -> int:
    """On-disk parquet footprint of a frame — the bytes a cold scan of
    this tier must actually read. Wall-clock at 1M RAM-cached rows
    can't show a 16 B/vec tier beating a 512 B/vec tier (everything is
    memory-speed); the persisted byte count is the artifact-grade
    version of the footprint claim, and it's the number that scales to
    the I/O-bound 100-TB regime."""
    df.write.mode("overwrite").parquet(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def timed(fn, min_duration: float | None = None, key: str | None = None) -> float:
    """Warm up three times, then repeat until min_duration; median seconds
    (median over mean: local-mode GC/JIT outliers dominate the mean at
    sub-second query times)."""
    min_duration = min_duration or MIN_DURATION
    # three warm-up runs: the first timed query after a heavy build
    # phase otherwise absorbs JIT/GC spikes (measured up to 10x on the
    # first execution, independent of which query runs first)
    for _ in range(3):
        fn()
    total, runs = 0.0, []
    while total < min_duration and len(runs) < MAX_REPEATS:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        total += dt
        runs.append(dt)
    runs.sort()
    if key is not None:
        MIN_TIMES[key] = runs[0]
    return runs[len(runs) // 2]


def write_extras(path: str, extras: dict) -> None:
    """Merge-update the extras sidecar at ``path``: keys from sections
    this run skipped (the heavy opt-in ones) keep their last recorded
    values instead of being wiped by a lean run; keys this run computed
    are replaced. The write is atomic (tmp + rename), so a run that
    dies mid-write leaves the previous complete file — a truncated one
    would fail to parse and the next run would silently drop every key
    recorded in it."""
    from vector_indexer_spark.ioutil import atomic_write_json

    merged = {}
    try:
        with open(path) as f:
            prior = json.load(f)
        if isinstance(prior, dict):
            merged.update(prior)
    except (OSError, ValueError):
        pass
    merged.update(extras)
    # atomic_write_json keeps insertion order: a sort_keys round trip
    # keeps the sidecar's sorted key order, nested keys included
    atomic_write_json(path, json.loads(json.dumps(merged, sort_keys=True)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import functions as F

    from vector_indexer_spark.operators import dedup, text_analysis
    from vector_indexer_spark.operators.index_build import build_index
    from vector_indexer_spark.operators.knn import knn_exact
    from vector_indexer_spark.operators.search import (
        calculate_recall,
        search_index,
    )
    from vector_indexer_spark.session import get_spark

    from vector_indexer_spark.sources.files import read_events_ns

    spark = get_spark(app_name="vector-indexer-bench")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    events = read_events_ns(spark, f"{sf_dir}/events.parquet")
    emb.count(), docs.count()

    vec = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("values"))
    # deterministic query batch (a bare limit() varies with partition
    # arrival order; the predicate pushes down to the parquet scan)
    queries_df = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    ).cache()
    queries_df.count()

    results: dict[str, float] = {}
    extras: dict[str, float] = {}

    _mark("section: build+headline (sf inputs)")
    # --- index build (measured once — it is a minutes-scale pipeline) ---
    t0 = time.perf_counter()
    path = tempfile.mkdtemp(prefix="bench_ivf_") + "/index"
    idx = build_index(vec, path, seed=42)
    extras["build_sec"] = round(time.perf_counter() - t0, 3)
    extras["nlist"] = idx.nlist

    # hot index table: repeated search batches hit a cached scan, the
    # same footing as the cached table the exact path scans. Coalesce
    # first: the partitioned layout yields one sliver per cluster dir
    # at this sf, and per-task overhead would dominate the measurement
    # (at real scale task count is byte-driven via maxPartitionBytes).
    idx_vec = idx.vectors(spark).coalesce(8).cache()
    idx_vec.count()

    # --- headline queries (ANN comparison interleaved) ---
    results["knn_exact_100q"], results["ivf_search_100q"] = timed_pair(
        lambda: knn_exact(
            vec, queries_df, k=10, id_col="id", vec_col="values"
        ).count(),
        lambda: search_index(
            spark, idx, queries_df, k=10, n_probe=8, vectors=idx_vec
        ).count(),
        "knn_exact_100q",
        "ivf_search_100q",
    )
    results["dedup_exact"] = timed(
        lambda: dedup.exact_dup_groups(docs).count()
    )
    results["dedup_minhash_lsh"] = timed(
        lambda: dedup.lsh_candidate_pairs(docs).count()
    )
    results["dedup_simhash"] = timed(lambda: dedup.simhash(docs).count())
    results["text_stats"] = timed(
        lambda: text_analysis.text_stats(docs).agg(F.sum("n_tokens")).collect()
    )
    results["events_hourly"] = timed(
        lambda: events.groupBy(
            F.expr("ts div 3600000000000"), "event_type"
        ).count().count()
    )
    # corpus-cleaning scan: PII redaction + Gopher rules in one pass
    results["text_quality_scan"] = timed(
        lambda: text_analysis.gopher_quality(
            text_analysis.redact_pii(docs)
        ).agg(F.sum("passes")).collect()
    )
    # binary-quantized Hamming search over the packed-code table
    from vector_indexer_spark.operators.bq import bq_encode, bq_search, bq_train

    bq_model = bq_train(vec)
    bq_codes = bq_encode(vec, bq_model).cache()
    bq_codes.count()
    results["bq_hamming_100q"] = timed(
        lambda: bq_search(
            bq_codes, bq_model, queries_df, k=10, method="arrow"
        ).count()
    )

    # relational OLAP over the TPC-H-shaped facts (date-pruned scans,
    # broadcast dims, integer-cent map-side-combined sums)
    from vector_indexer_spark.operators.olap import (
        large_volume_customers,
        pricing_summary,
        revenue_by_nation,
        volume_shipping,
    )

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").cache()
    lineitem.count()
    orders_t = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer_t = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation_t = spark.read.parquet(f"{sf_dir}/nation.parquet")
    results["olap_pricing_summary"] = timed(
        lambda: pricing_summary(lineitem).count()
    )
    results["olap_q5_nation_revenue"] = timed(
        lambda: revenue_by_nation(
            customer_t,
            orders_t,
            lineitem,
            nation_t,
            spark.read.parquet(f"{sf_dir}/region.parquet"),
        ).count()
    )
    results["olap_q7_volume_shipping"] = timed(
        lambda: volume_shipping(
            spark.read.parquet(f"{sf_dir}/supplier.parquet"),
            lineitem,
            orders_t,
            customer_t,
            nation_t,
        ).count()
    )
    results["olap_q18_large_volume"] = timed(
        lambda: large_volume_customers(
            customer_t, orders_t, lineitem
        ).count()
    )
    # adapted Q9: two broadcast dims + the one orderkey fact-fact join
    from vector_indexer_spark.operators.olap import product_type_profit

    results["olap_q9_profit"] = timed(
        lambda: product_type_profit(
            lineitem,
            orders_t,
            spark.read.parquet(f"{sf_dir}/part.parquet"),
            spark.read.parquet(f"{sf_dir}/supplier.parquet"),
            nation_t,
        ).count()
    )
    lineitem.unpersist()

    # mergeable-sketch scan shape: one map-side-combined aggregation,
    # ≤2^p output rows — the COUNT(DISTINCT) replacement at 100 TB
    from vector_indexer_spark.operators.sketches import hll_registers

    results["sketch_hll_events"] = timed(
        lambda: hll_registers(events, "event_id", p=12).count()
    )

    # --- plan evidence: the search scan must actually prune ---
    from pyspark.sql import functions as SF

    from vector_indexer_spark.plans import audit

    probe_scan = idx.vectors(spark).where(
        SF.col("shard_id").isin([0]) & SF.col("cluster_id").isin([0, 1])
    )
    extras["scan_partition_pruned"] = audit.has_partition_filter(
        probe_scan, "shard_id"
    )
    extras["scan_cluster_pushdown"] = audit.has_pushed_filter(
        probe_scan, "cluster_id"
    )

    # --- derived perf gates ---
    exact = knn_exact(vec, queries_df, k=10, id_col="id", vec_col="values")
    # ratio of per-run minima: on a noisy shared VM the median embeds
    # whatever GC/steal spikes landed in its window; minima converge to
    # the true cost of each plan
    extras["ann_speedup_vs_exact"] = round(
        MIN_TIMES.get("knn_exact_100q", results["knn_exact_100q"])
        / MIN_TIMES.get("ivf_search_100q", results["ivf_search_100q"]),
        3,
    )
    if _QUALITY:
        extras["recall_at_10_nprobe8"] = round(
            calculate_recall(
                search_index(
                    spark, idx, queries_df, k=10, n_probe=8, vectors=idx_vec
                ),
                exact,
                10,
            ),
            4,
        )

    # --- late-interaction (MaxSim) yardstick: brute sum-of-max vs the
    # PLAID-shaped ANN path on a token corpus where pruning physically
    # pays (the sf tables hold only ~500 docs). 100k docs x 4 tokens,
    # d=32, clustered token space; 16 queries of 4 tokens each.
    # Interleaved min-of-pair, so placement affects only the absolute
    # seconds, never the ratio. Candidate recall is reported next to
    # the speedup — a fast wrong shortlist is not a win. ---
    _mark("section: maxsim 400k")
    if os.environ.get("BENCH_MAXSIM", "1") == "1":
        try:
            from vector_indexer_spark.operators.similarity import (
                maxsim_multivector,
                maxsim_multivector_ann,
            )
            from vector_indexer_spark.sources.files import (
                generate_clustered_vectors,
            )

            n_tok = int(os.environ.get("BENCH_MAXSIM_TOKENS", "400000"))
            mtoks = (
                generate_clustered_vectors(
                    spark, n_tok, 32, n_clusters=512, seed=13
                )
                .drop("true_cluster")
                .select(
                    F.expr("id div 4").alias("doc_id"),
                    F.col("id").alias("tok_id"),
                    F.col("values").alias("embedding"),
                )
                .cache()
            )
            mtoks.count()
            mq = (
                mtoks.filter(F.expr("doc_id % 6250 = 1"))
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.col("tok_id").alias("qtok_id"),
                    F.col("embedding").alias("query"),
                )
                .cache()
            )
            nq_m = mq.select("query_id").distinct().count()
            t0 = time.perf_counter()
            mpath = tempfile.mkdtemp(prefix="bench_maxsim_") + "/index"
            midx = build_index(
                mtoks.select(
                    F.col("tok_id").alias("id"),
                    F.col("embedding").alias("values"),
                ),
                mpath,
                seed=42,
                mode="minibatch",
            )
            extras["maxsim_index_build_sec"] = round(
                time.perf_counter() - t0, 3
            )
            extras["maxsim_n_tokens"] = n_tok
            extras["maxsim_nq"] = nq_m
            extras["maxsim_nlist"] = midx.nlist
            # hot index table, same footing as the cached token table
            # the brute side scans (the headline IVF pair's protocol —
            # without it the ANN side re-lists and re-reads ~1k cluster
            # sliver files per run and the pair measures file-open
            # overhead, not search)
            midx_vec = midx.vectors(spark).coalesce(8).cache()
            midx_vec.count()
            mlabel = f"maxsim{n_tok // 1000}k"
            (
                results[f"{mlabel}_brute_{nq_m}q"],
                results[f"{mlabel}_ann_{nq_m}q"],
            ) = timed_pair_min(
                lambda: maxsim_multivector(
                    mtoks, mq, k=10, vec_col="embedding"
                ).count(),
                lambda: maxsim_multivector_ann(
                    spark, mtoks, mq, midx, k=10, token_k=32, n_probe=16,
                    vectors=midx_vec,
                ).count(),
                f"{mlabel}_brute_{nq_m}q",
                f"{mlabel}_ann_{nq_m}q",
                pairs=6,
            )
            extras["maxsim_ann_speedup_vs_brute"] = round(
                MIN_TIMES[f"{mlabel}_brute_{nq_m}q"]
                / MIN_TIMES[f"{mlabel}_ann_{nq_m}q"],
                3,
            )
            if _QUALITY:
                # (nq x 10)-row result frames, each consumed by TWO quality
                # stats below (id overlap + score-mass ratio) — cache the
                # tiny outputs so the bookkeeping runs each side once, not
                # twice (untimed harness overhead)
                mb = maxsim_multivector(
                    mtoks, mq, k=10, vec_col="embedding"
                ).cache()
                ma = maxsim_multivector_ann(
                    spark, mtoks, mq, midx, k=10, token_k=32, n_probe=16,
                    vectors=midx_vec,
                ).cache()
                # id-overlap recall is a TIE LOTTERY on this synthetic: the
                # 512-cluster geometry gives hundreds of docs bit-identical
                # floored scores, ids break the ties, and the candidate set
                # can't know which tied ids the full scan would pick
                # (verified r10: ann and brute top-10 SCORE VECTORS agree
                # to within the tie groups — 6 of 160 cells differ by
                # ≤ 3 micros, the adjacent tied docs — while id overlap
                # reads 0.13–0.17). Report both — the score-mass ratio is
                # the honest shortlist-quality number.
                extras["maxsim_ann_id_overlap_at_10"] = round(
                    ma.select("query_id", "doc_id")
                    .join(mb.select("query_id", "doc_id"), ["query_id", "doc_id"])
                    .count() / (nq_m * 10),
                    4,
                )
                bsum = mb.groupBy("query_id").agg(
                    F.sum("score_micros").alias("b")
                )
                asum = ma.groupBy("query_id").agg(
                    F.sum("score_micros").alias("a")
                )
                ratio = (
                    bsum.join(asum, "query_id")
                    .select(
                        (F.col("a").cast("double") / F.col("b")).alias("r")
                    )
                    .agg(F.avg("r"))
                    .first()[0]
                )
                extras["maxsim_ann_score_ratio_at_10"] = round(float(ratio), 6)
                mb.unpersist(), ma.unpersist()
            mtoks.unpersist(), mq.unpersist(), midx_vec.unpersist()

            # --- 4x scale pair (new r10): the arrow fold-exact brute
            # kernel moved the pruning crossover past 400k tokens
            # (brute 8.8 -> 1.9 s interleaved min; ANN ~2.0 s at the
            # same point), so the 400k pair now measures the
            # below-crossover regime — like the graph 64-query row,
            # committed and documented, not hidden. This pair shows
            # where pruning pays again: measured 8.5 s brute vs 4.8 s
            # ANN (1.77x) at 1.6M tokens in the isolated run. ---
            _mark("section: maxsim scale 1.6M")
            if os.environ.get("BENCH_MAXSIM_SCALE", _HEAVY_DEFAULT) == "1":
                n_tok2 = int(
                    os.environ.get("BENCH_MAXSIM_SCALE_TOKENS", "1600000")
                )
                mtoks2 = (
                    generate_clustered_vectors(
                        spark, n_tok2, 32, n_clusters=512, seed=13
                    )
                    .drop("true_cluster")
                    .select(
                        F.expr("id div 4").alias("doc_id"),
                        F.col("id").alias("tok_id"),
                        F.col("values").alias("embedding"),
                    )
                    .cache()
                )
                mtoks2.count()
                mq2 = (
                    mtoks2.filter(
                        F.expr(f"doc_id % {n_tok2 // 64} = 1")
                    )
                    .select(
                        F.col("doc_id").alias("query_id"),
                        F.col("tok_id").alias("qtok_id"),
                        F.col("embedding").alias("query"),
                    )
                    .cache()
                )
                nq_m2 = mq2.select("query_id").distinct().count()
                t0 = time.perf_counter()
                mpath2 = tempfile.mkdtemp(prefix="bench_maxsim2_") + "/idx"
                midx2 = build_index(
                    mtoks2.select(
                        F.col("tok_id").alias("id"),
                        F.col("embedding").alias("values"),
                    ),
                    mpath2,
                    seed=42,
                    mode="minibatch",
                )
                extras["maxsim_scale_index_build_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                extras["maxsim_scale_n_tokens"] = n_tok2
                midx2_vec = midx2.vectors(spark).coalesce(16).cache()
                midx2_vec.count()
                mlabel2 = f"maxsim{n_tok2 // 1000}k"
                # heavy pair (several seconds per side at 4x corpus):
                # fixed-count interleaved minima, the graph sections'
                # protocol — timed_pair's adaptive warm-up costs tens
                # of minutes here when the host is unstable
                (
                    results[f"{mlabel2}_brute_{nq_m2}q"],
                    results[f"{mlabel2}_ann_{nq_m2}q"],
                ) = timed_pair_min(
                    lambda: maxsim_multivector(
                        mtoks2, mq2, k=10, vec_col="embedding"
                    ).count(),
                    lambda: maxsim_multivector_ann(
                        spark, mtoks2, mq2, midx2, k=10, token_k=32,
                        n_probe=16, vectors=midx2_vec,
                    ).count(),
                    f"{mlabel2}_brute_{nq_m2}q",
                    f"{mlabel2}_ann_{nq_m2}q",
                    pairs=3,
                )
                extras["maxsim_scale_ann_speedup_vs_brute"] = round(
                    MIN_TIMES[f"{mlabel2}_brute_{nq_m2}q"]
                    / MIN_TIMES[f"{mlabel2}_ann_{nq_m2}q"],
                    3,
                )
                mtoks2.unpersist(), mq2.unpersist(), midx2_vec.unpersist()
        except Exception as e:  # noqa: BLE001
            extras["maxsim_section_error"] = f"{type(e).__name__}: {e}"[:300]
            spark.catalog.clearCache()

    # --- Matryoshka (MRL) yardstick at 1M x 32: brute prefix scan vs
    # truncate-then-index (IVF over the 8-dim prefix slice), shared
    # exact-refine stage on both sides. The ANN side's candidate
    # shortlist covers n_probe/nlist of the prefix index per query;
    # top-10 agreement with the brute path is reported next to the
    # speedup. ---
    _mark("section: mrl 1M")
    if os.environ.get("BENCH_MRL", "1") == "1":
        try:
            from vector_indexer_spark.operators.similarity import (
                mrl_search,
                mrl_search_ann,
            )
            from vector_indexer_spark.sources.files import (
                generate_clustered_vectors,
            )

            n_mrl = int(os.environ.get("BENCH_MRL_N", "1000000"))
            pdims = 8
            mrlv = (
                generate_clustered_vectors(
                    spark, n_mrl, 32, n_clusters=1000, seed=17
                )
                .drop("true_cluster")
                .cache()
            )
            mrlv.count()
            # Bounded query region (same methodology as the synth
            # section): queries drawn from ~16 of the 1000 natural
            # clusters, so each query's probe set is small relative to
            # nlist. A batch spread uniformly over every cluster probes
            # ~75% of the index (measured: 2984/4000 clusters for 257
            # uniform queries) and forces ANY IVF into a near-full
            # scan — the per-query pruning advantage only shows on
            # localized batches.
            # orderBy before limit: the filter matches ~262 ids, and a
            # bare limit() takes whichever 256 arrive first — the query
            # set (and so the bench numbers) would vary with
            # partitioning. The sort is over ~262 rows, outside timing.
            mrlq = (
                mrlv.filter(
                    (F.col("id") % 1000 < 16) & (F.col("id") % 61 == 5)
                )
                .orderBy("id")
                .limit(256)
                .select(
                    F.col("id").alias("query_id"),
                    F.col("values").alias("query"),
                )
                .cache()
            )
            nq_mrl = mrlq.count()
            t0 = time.perf_counter()
            mrlpath = tempfile.mkdtemp(prefix="bench_mrl_") + "/index"
            mrlidx = build_index(
                mrlv.select(
                    "id", F.slice("values", 1, pdims).alias("values")
                ),
                mrlpath,
                seed=42,
                mode="minibatch",
            )
            extras["mrl_index_build_sec"] = round(
                time.perf_counter() - t0, 3
            )
            extras["mrl_n"] = n_mrl
            extras["mrl_prefix_dims"] = pdims
            extras["mrl_nlist"] = mrlidx.nlist
            # hot prefix-index table (1M x 8 dims, ~50 MB) — the same
            # pinned-scan protocol as the headline IVF and maxsim ANN
            # sides: without it each repeated batch re-lists ~nlist
            # cluster sliver dirs and the pair measures file-open
            # overhead, not the beam of the search
            mrl_vec = mrlidx.vectors(spark).coalesce(8).cache()
            mrl_vec.count()
            mrl_lbl = f"mrl{n_mrl // 1000}k"
            (
                results[f"{mrl_lbl}_brute_{nq_mrl}q"],
                results[f"{mrl_lbl}_ann_{nq_mrl}q"],
            ) = timed_pair_min(
                lambda: mrl_search(
                    mrlv, mrlq, k=10, prefix_dims=pdims, refine_factor=4,
                    id_col="id", vec_col="values",
                ).count(),
                lambda: mrl_search_ann(
                    spark, mrlv, mrlq, mrlidx, k=10, prefix_dims=pdims,
                    refine_factor=4, n_probe=16, id_col="id",
                    vec_col="values", index_vectors=mrl_vec,
                ).count(),
                f"{mrl_lbl}_brute_{nq_mrl}q",
                f"{mrl_lbl}_ann_{nq_mrl}q",
                pairs=6,
            )
            extras["mrl_ann_speedup_vs_brute"] = round(
                MIN_TIMES[f"{mrl_lbl}_brute_{nq_mrl}q"]
                / MIN_TIMES[f"{mrl_lbl}_ann_{nq_mrl}q"],
                3,
            )
            if _QUALITY:
                bt = mrl_search(
                    mrlv, mrlq, k=10, prefix_dims=pdims, refine_factor=4,
                    id_col="id", vec_col="values",
                ).select("query_id", "neighbor_id")
                at = mrl_search_ann(
                    spark, mrlv, mrlq, mrlidx, k=10, prefix_dims=pdims,
                    refine_factor=4, n_probe=16, id_col="id",
                    vec_col="values", index_vectors=mrl_vec,
                ).select("query_id", "neighbor_id")
                extras["mrl_ann_vs_brute_overlap_at_10"] = round(
                    at.join(bt, ["query_id", "neighbor_id"]).count()
                    / (nq_mrl * 10),
                    4,
                )

            mrlv.unpersist(), mrlq.unpersist(), mrl_vec.unpersist()
        except Exception as e:  # noqa: BLE001
            extras["mrl_section_error"] = f"{type(e).__name__}: {e}"[:300]
            spark.catalog.clearCache()

    # The 1M synthetic scale section runs AFTER the sf0.1 headline
    # queries: round-3 ran it first and every like-for-like sf0.1
    # query measured 1.5-2.6x slower than round 2 purely from the
    # heap/GC state the 1M suite leaves behind (round-4 triage:
    # BENCH_SYNTH=0 BENCH_SWEEP=0 isolation restored every number to
    # at-or-below the round-2 level — knn_exact 0.69->0.37,
    # dedup_minhash_lsh 4.58->1.12, dedup_simhash 2.02->0.76,
    # text_stats 1.04->0.32 — with zero plan changes; see BASELINE.md).
    # The synth section itself is aging-robust: its exact-vs-IVF
    # comparison uses interleaved min-of-pair, so section order only
    # affects the absolute seconds, not the speedup ratio it reports.
    # --- synthetic scale section (reference bench shape: d=128
    # synthetic, docker-compose.bench.yml:28-30; we default to n=1M —
    # the scale where nlist≈4k pruning physically pays; the sf tables
    # are far too small to exercise it) ---
    _mark("section: synth 1M ladder")
    if os.environ.get("BENCH_SYNTH", "1") == "1":
        try:
            from vector_indexer_spark.sources.files import generate_clustered_vectors

            # Gaussian-clustered corpus (the reference's own evaluation
            # distribution — uniform data defeats any IVF, reference or ours)
            n_synth = int(os.environ.get("BENCH_SYNTH_N", "1000000"))
            d_synth, nq_synth = 128, 256
            slabel = f"synth{n_synth // 1000}k"
            synth = generate_clustered_vectors(
                spark, n_synth, d_synth, n_clusters=256, seed=42
            ).drop("true_cluster").cache()
            synth.count()
            # Query batch drawn from a bounded region (16 of 256 true
            # clusters): each query's probe set is tiny relative to nlist,
            # which is the workload IVF exists for. (A batch spread across
            # every cluster forces a full scan on ANY IVF engine — its
            # per-query advantage shows in per-query-cost terms, reference
            # bench methodology, not batch-union terms.)
            # orderBy before limit: ~62.5k ids match the filter, and a
            # bare limit() takes whichever 256 arrive first — the query
            # set must not vary with partitioning (sort outside timing)
            sq = (
                synth.filter(F.col("id") % 256 < 16)
                .orderBy("id")
                .limit(nq_synth)
                .select(F.col("id").alias("query_id"), F.col("values").alias("query"))
                .cache()
            )
            sq.count()

            t0 = time.perf_counter()
            spath = tempfile.mkdtemp(prefix="bench_synth_") + "/index"
            sidx = build_index(synth, spath, seed=42, mode="minibatch")
            extras["synth_build_sec"] = round(time.perf_counter() - t0, 3)
            extras["synth_nlist"] = sidx.nlist
            extras["synth_n"] = n_synth
            sidx_vec = sidx.vectors(spark).coalesce(32).cache()
            sidx_vec.count()
            if os.environ.get("BENCH_BYTES", _HEAVY_DEFAULT) == "1":
                # flat tier footprint: what a cold IVF scan reads
                # (id + float vector + cluster id per row)
                extras["synth_bytes_flat"] = parquet_bytes(
                    sidx_vec, tempfile.mkdtemp(prefix="bench_bytes_") + "/flat"
                )
                extras["synth_bytes_flat_per_vec"] = round(
                    extras["synth_bytes_flat"] / n_synth, 1
                )

            if _QUALITY:
                # tiny (nq x k) reference frame, reused by every tier's
                # recall row below — cache it so the recall bookkeeping
                # doesn't re-run the exact 1M scan once per tier (harness
                # overhead, never part of a timed region)
                sexact = knn_exact(synth, sq, k=10).cache()
                sexact.count()

            # --- every ladder tier is TIMED in one k-ary interleaved
            # round-robin (interleaved_min — the fixed-count
            # interleaved-minimum protocol timed_pair_min gave the heavy
            # pairs in r10, generalized to the whole ladder) AFTER all
            # tiers are built and encoded. Committed values stay
            # interleaved minima; every tier sees the same heap/noise
            # state so the speedup ratios are fair; and the per-tier
            # adaptive warm-up + repeat-to-duration wall-clock (the r10
            # ladder spent ~10 min at 32 cores on timing alone, and an
            # 8-core run died on the harness timeout, BENCH_r10_c8
            # rc=124) collapses to rounds x one-ladder-pass. The
            # quantized-tier keys previously committed the MEDIAN of a
            # 12 s repeat window; the exact/ivf pair already committed
            # interleaved minima (the r9 MIN_TIMES fix) — this round
            # finishes that conversion for the whole ladder, documented
            # in OPTIMIZATION_r11.md with the old values kept.
            ladder: dict = {
                f"{slabel}_exact_256q": lambda: knn_exact(
                    synth, sq, k=10
                ).count(),
                f"{slabel}_ivf_256q": lambda: search_index(
                    spark, sidx, sq, k=10, n_probe=16, vectors=sidx_vec
                ).count(),
            }
            ladder_cleanup: list = []

            # Residual IVF-SQ at the same scale: the compressed tier that
            # SURVIVES this distribution. Flat SQ8 is useless here (global
            # per-dim ranges span all 256 cluster centers, so the cell size
            # dwarfs within-cluster separations — measured recall@10 0.05);
            # quantizing residuals x − c(x) shrinks the ranges to cluster
            # noise. Reuses the flat index's centroids/assignments — only
            # the encode pass and the pruned compressed search are new.
            if os.environ.get("BENCH_SYNTH_SQ", "1") == "1":
                from vector_indexer_spark.operators.sq import (
                    ivfsq_encode,
                    ivfsq_search,
                    ivfsq_train,
                )

                cents_df = spark.createDataFrame(
                    [
                        (int(i), [float(x) for x in sidx.centroids[i]])
                        for i in range(sidx.nlist)
                    ],
                    "centroid_id long, cvec array<float>",
                )
                kw = dict(id_col="id", vec_col="values")
                t0 = time.perf_counter()
                sqm = ivfsq_train(sidx_vec, cents_df, **kw)
                extras["synth_ivfsq_train_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                t0 = time.perf_counter()
                scodes = ivfsq_encode(sidx_vec, cents_df, sqm, **kw)
                scodes = scodes.coalesce(32).cache()
                scodes.count()
                extras["synth_ivfsq_encode_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                if os.environ.get("BENCH_BYTES", _HEAVY_DEFAULT) == "1":
                    extras["synth_bytes_ivfsq"] = parquet_bytes(
                        scodes,
                        tempfile.mkdtemp(prefix="bench_bytes_") + "/ivfsq",
                    )
                    extras["synth_bytes_ivfsq_per_vec"] = round(
                        extras["synth_bytes_ivfsq"] / n_synth, 1
                    )
                # wins even against a cached corpus: the probe mask prunes
                # the decode set to ~nprobe/nlist of rows and the codes
                # column ships 4x fewer bytes through Arrow (measured 27x
                # vs exact at n=1M, recall 0.987); the byte advantage only
                # grows in the I/O-bound regime.
                ladder[f"{slabel}_ivfsq_256q"] = lambda: ivfsq_search(
                    scodes, cents_df, sqm, sq, k=10, n_probe=16
                ).count()
                if _QUALITY:
                    extras["synth_ivfsq_recall_at_10_nprobe16"] = round(
                        calculate_recall(
                            ivfsq_search(
                                scodes, cents_df, sqm, sq, k=10, n_probe=16
                            ),
                            sexact,
                            10,
                        ),
                        4,
                    )
                ladder_cleanup.append(scodes)

            # IVF-BQ at the same scale: the 1-bit tier (d/8 bytes/vec —
            # 32x below flat, 8x below SQ8). Residual signs against each
            # vector's own centroid + ONE trained scalar/cluster; the
            # scaled ADC estimator keeps cross-cluster order, and the
            # deployment shape is shortlist -> exact refine. Reported:
            # search wall (arrow masked-GEMM), raw estimator recall, and
            # refined recall at shortlist 10k (what a user deploys).
            if os.environ.get("BENCH_SYNTH_BQ", "1") == "1":
                from vector_indexer_spark.operators.ivfbq import (
                    ivfbq_encode,
                    ivfbq_search,
                    ivfbq_search_refined,
                    ivfbq_train_scales,
                )

                bq_cents = spark.createDataFrame(
                    [
                        (int(i), [float(x) for x in sidx.centroids[i]])
                        for i in range(sidx.nlist)
                    ],
                    "centroid_id long, cvec array<float>",
                )
                kwb = dict(id_col="id", vec_col="values")
                t0 = time.perf_counter()
                bscales = ivfbq_train_scales(
                    sidx_vec, bq_cents, vec_col="values"
                ).coalesce(1).cache()
                bscales.count()
                extras["synth_ivfbq_scales_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                t0 = time.perf_counter()
                bcodes = ivfbq_encode(sidx_vec, bq_cents, **kwb)
                bcodes = bcodes.coalesce(32).cache()
                bcodes.count()
                extras["synth_ivfbq_encode_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                if os.environ.get("BENCH_BYTES", _HEAVY_DEFAULT) == "1":
                    extras["synth_bytes_ivfbq"] = parquet_bytes(
                        bcodes,
                        tempfile.mkdtemp(prefix="bench_bytes_") + "/ivfbq",
                    )
                    extras["synth_bytes_ivfbq_per_vec"] = round(
                        extras["synth_bytes_ivfbq"] / n_synth, 1
                    )
                ladder[f"{slabel}_ivfbq_256q"] = lambda: ivfbq_search(
                    bcodes, bq_cents, sq, k=10, n_probe=16,
                    scales=bscales, method="arrow",
                ).count()
                if _QUALITY:
                    extras["synth_ivfbq_recall_at_10"] = round(
                        calculate_recall(
                            ivfbq_search(
                                bcodes, bq_cents, sq, k=10, n_probe=16,
                                scales=bscales, method="arrow",
                            ),
                            sexact,
                            10,
                        ),
                        4,
                    )
                    t0 = time.perf_counter()
                    refined = ivfbq_search_refined(
                        bcodes, bq_cents, sidx_vec, sq, k=10, shortlist=100,
                        n_probe=16, scales=bscales, method="arrow", **kwb,
                    )
                    extras["synth_ivfbq_refined_recall_at_10"] = round(
                        calculate_recall(refined, sexact, 10), 4
                    )
                    extras["synth_ivfbq_refined_sec"] = round(
                        time.perf_counter() - t0, 3
                    )
                ladder_cleanup.extend([bcodes, bscales])

            # IVF-RaBitQ at the same scale: the principled 1-bit rung
            # (rotated residual signs vs each vector's own centroid +
            # two factor doubles, unbiased <obar,u>/<obar,o> estimator
            # — Gao & Long SIGMOD'24). Same storage class as IVF-BQ
            # (d/8 code bytes + 16 B factors/vec); same probe settings
            # as the ivfbq rows above, so raw-recall and wall-clock are
            # head-to-head at identical bits.
            if os.environ.get("BENCH_SYNTH_RABITQ", "1") == "1":
                from vector_indexer_spark.operators.rabitq import (
                    hadamard_rotation,
                    ivf_rabitq_encode,
                    ivf_rabitq_search,
                    ivf_rabitq_search_refined,
                )

                r_cents = spark.createDataFrame(
                    [
                        (int(i), [float(x) for x in sidx.centroids[i]])
                        for i in range(sidx.nlist)
                    ],
                    "centroid_id long, cvec array<float>",
                )
                rrot = tuple(
                    tuple(float(v) for v in row)
                    for row in hadamard_rotation(d_synth, seed=7)
                )
                t0 = time.perf_counter()
                rcodes = ivf_rabitq_encode(
                    sidx_vec, r_cents, rrot, method="arrow"
                ).coalesce(32).cache()
                rcodes.count()
                extras["synth_ivfrabitq_encode_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                if os.environ.get("BENCH_BYTES", _HEAVY_DEFAULT) == "1":
                    extras["synth_bytes_ivfrabitq"] = parquet_bytes(
                        rcodes,
                        tempfile.mkdtemp(prefix="bench_bytes_") + "/ivfrbq",
                    )
                    extras["synth_bytes_ivfrabitq_per_vec"] = round(
                        extras["synth_bytes_ivfrabitq"] / n_synth, 1
                    )
                ladder[f"{slabel}_ivfrabitq_256q"] = lambda: ivf_rabitq_search(
                    rcodes, r_cents, sq, rrot, k=10, n_probe=16,
                    method="arrow",
                ).count()
                if _QUALITY:
                    extras["synth_ivfrabitq_recall_at_10"] = round(
                        calculate_recall(
                            ivf_rabitq_search(
                                rcodes, r_cents, sq, rrot, k=10, n_probe=16,
                                method="arrow",
                            ),
                            sexact,
                            10,
                        ),
                        4,
                    )
                    t0 = time.perf_counter()
                    rrefined = ivf_rabitq_search_refined(
                        rcodes, r_cents, sidx_vec, sq, rrot, k=10,
                        shortlist=100, n_probe=16, method="arrow",
                    )
                    extras["synth_ivfrabitq_refined_recall_at_10"] = round(
                        calculate_recall(rrefined, sexact, 10), 4
                    )
                    extras["synth_ivfrabitq_refined_sec"] = round(
                        time.perf_counter() - t0, 3
                    )
                ladder_cleanup.append(rcodes)

            # one interleaved pass over the whole ladder; minima commit
            mins = interleaved_min(
                ladder,
                rounds=int(os.environ.get("BENCH_SYNTH_ROUNDS", "3")),
                warmup_rounds=int(
                    os.environ.get("BENCH_SYNTH_WARMUP", "3")
                ),
            )
            results.update({k_: round(v_, 4) for k_, v_ in mins.items()})
            exact_min = mins[f"{slabel}_exact_256q"]
            extras["synth_ann_speedup"] = round(
                exact_min / mins[f"{slabel}_ivf_256q"], 3
            )
            for tier in ("ivfsq", "ivfbq", "ivfrabitq"):
                tkey = f"{slabel}_{tier}_256q"
                if tkey in mins:
                    extras[f"synth_{tier}_speedup_vs_exact"] = round(
                        exact_min / mins[tkey], 3
                    )
            if _QUALITY:
                extras["synth_recall_at_10_nprobe16"] = round(
                    calculate_recall(
                        search_index(
                            spark, sidx, sq, k=10, n_probe=16, vectors=sidx_vec
                        ),
                        sexact,
                        10,
                    ),
                    4,
                )

            for _df in ladder_cleanup:
                _df.unpersist()
            if _QUALITY:
                sexact.unpersist()
            synth.unpersist()
            sidx_vec.unpersist()

        # --- nprobe sweep, reference methodology: the reference bench
        # default configuration (n=100k d=128 unclustered synthetic,
        # docker-compose.bench.yml:28-30; uniform components per the
        # reference's own generator, src/utils.rs:34-79), k=100, reporting
        # R@1/R@10/R@100 where R@r = fraction of queries whose TRUE nearest
        # neighbor appears in the returned top-r (bench_all_ivf.py:336-350,
        # 591-596; sweep values 600-605, docker-compose.bench.yml:32).
        # Unclustered data is the hard case for any IVF — recall is
        # genuinely < 1 at low nprobe, so the curve shows the trade-off
        # (the clustered 1M section above saturates recall by design).
        except Exception as e:  # noqa: BLE001
            extras["synth_section_error"] = f"{type(e).__name__}: {e}"[:300]
            # a failed section must not leave its cached frames
            # pinned — heap pressure skews every later timing
            spark.catalog.clearCache()

    # --- d=768 scale point (the reference bench grid's width axis,
    # bench.yaml:2: d in {128, 256, 768}): real embedding workloads are
    # 768-wide, and the engine's own sizing claims (SURVEY §4: the
    # broadcast centroid table is ~12 MB at d=768) deserve a measured
    # row, not arithmetic. 250k clustered vectors, the same bounded-
    # region 256-query methodology as the 1M d=128 ladder.
    _mark("section: d768 250k")
    if os.environ.get("BENCH_D768", "1") == "1":
        try:
            from vector_indexer_spark.sources.files import (
                generate_clustered_vectors,
            )

            n768 = int(os.environ.get("BENCH_D768_N", "250000"))
            lbl768 = f"d768_{n768 // 1000}k"
            v768 = (
                generate_clustered_vectors(
                    spark, n768, 768, n_clusters=256, seed=123
                )
                .drop("true_cluster")
                .cache()
            )
            v768.count()
            q768 = (
                v768.filter(F.col("id") % 256 < 16)
                .orderBy("id")
                .limit(256)
                .select(
                    F.col("id").alias("query_id"),
                    F.col("values").alias("query"),
                )
                .cache()
            )
            q768.count()
            t0 = time.perf_counter()
            p768 = tempfile.mkdtemp(prefix="bench_d768_") + "/index"
            idx768 = build_index(v768, p768, seed=42, mode="minibatch")
            extras["d768_build_sec"] = round(time.perf_counter() - t0, 3)
            extras["d768_nlist"] = idx768.nlist
            extras["d768_n"] = n768
            # the sizing claim, measured: nlist x 768 float64
            extras["d768_centroid_broadcast_mb"] = round(
                idx768.centroids.nbytes / 1e6, 2
            )
            iv768 = idx768.vectors(spark).coalesce(32).cache()
            iv768.count()
            (
                results[f"{lbl768}_exact_256q"],
                results[f"{lbl768}_ivf_256q"],
            ) = timed_pair_min(
                lambda: knn_exact(v768, q768, k=10).count(),
                lambda: search_index(
                    spark, idx768, q768, k=10, n_probe=16, vectors=iv768
                ).count(),
                f"{lbl768}_exact_256q",
                f"{lbl768}_ivf_256q",
                pairs=6,
            )
            extras["d768_ivf_speedup"] = round(
                MIN_TIMES[f"{lbl768}_exact_256q"]
                / MIN_TIMES[f"{lbl768}_ivf_256q"],
                3,
            )
            if _QUALITY:
                extras["d768_recall_at_10_nprobe16"] = round(
                    calculate_recall(
                        search_index(
                            spark, idx768, q768, k=10, n_probe=16,
                            vectors=iv768,
                        ),
                        knn_exact(v768, q768, k=10),
                        10,
                    ),
                    4,
                )
            # graph family at real embedding width (r9 VERDICT "Next
            # round" #6): the r9 d=768 pair covered IVF only. Build a
            # beam-walk graph over the first 50k rows of the same
            # corpus and run the exact-vs-local pair interleaved
            # (timed_pair_min — committed values are minima). The
            # beam walk is O(hops·beam·degree·d) per query vs the
            # exact scan's O(n·d); at this n the 768-wide broadcast
            # (~300 MB) still amortizes slowly, so the committed row
            # documents the crossover regime honestly rather than
            # cherry-picking a winning point.
            _mark("section: graph768")
            if os.environ.get("BENCH_GRAPH768", _HEAVY_DEFAULT) == "1":
                from vector_indexer_spark.operators.graph_index import (
                    build_graph_index,
                    search_graph_index_local,
                )

                ng768 = int(os.environ.get("BENCH_GRAPH768_N", "50000"))
                gv768 = v768.filter(F.col("id") < ng768).cache()
                gv768.count()
                t0 = time.perf_counter()
                gp768 = tempfile.mkdtemp(prefix="bench_g768_") + "/gidx"
                gidx768 = build_graph_index(gv768, gp768, k=8)
                extras["graph768_build_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                extras["graph768_n"] = ng768
                extras["graph768_iterations"] = gidx768.iterations
                gq768 = (
                    gv768.filter(F.col("id") % 20 == 3)
                    .select(
                        F.col("id").alias("query_id"),
                        F.col("values").alias("query"),
                    )
                    .cache()
                )
                gnq768 = gq768.count()
                stateg: dict = {}

                def _exact_g768():
                    if "t" in stateg:
                        stateg["t"].unpersist()
                    df = knn_exact(
                        gv768, gq768, k=10, method="arrow"
                    ).persist()
                    df.count()
                    stateg["t"] = df

                def _local_g768():
                    if "l" in stateg:
                        stateg["l"].unpersist()
                    df = search_graph_index_local(
                        spark, gidx768, gv768, gq768, k=10, beam=48,
                        max_hops=8, entry_fanout=16,
                    ).persist()
                    df.count()
                    stateg["l"] = df

                eg, lg = timed_pair_min(
                    _exact_g768, _local_g768,
                    "graph768_exact", "graph768_local",
                    pairs=int(os.environ.get("BENCH_GRAPH_PAIRS", "3")),
                )
                extras["graph768_nq"] = gnq768
                extras["graph768_exact_sec"] = round(eg, 3)
                extras["graph768_local_search_sec"] = round(lg, 3)
                extras["graph768_local_speedup_vs_exact"] = round(
                    eg / lg, 3
                )
                hits_g = (
                    stateg["l"].select("query_id", "neighbor_id")
                    .join(
                        stateg["t"].select("query_id", "neighbor_id"),
                        ["query_id", "neighbor_id"],
                    )
                    .count()
                )
                extras["graph768_local_recall_at_10"] = round(
                    hits_g / (gnq768 * 10), 4
                )
                stateg["l"].unpersist(), stateg["t"].unpersist()
                gq768.unpersist(), gv768.unpersist()

            v768.unpersist(), q768.unpersist(), iv768.unpersist()
        except Exception as e:  # noqa: BLE001
            extras["d768_section_error"] = f"{type(e).__name__}: {e}"[:300]
            spark.catalog.clearCache()

    # --- bitext mining at scale: 100k x 100k via IVF shortlist (the
    # paper's FAISS-shortlist practice, composed from this engine's own
    # index — r9 VERDICT "Next round" #5). Target side = deterministic
    # noise-perturbed copies of the source (planted twins), shortlist =
    # top-8 IVF neighbors per source, then margin-mine ONLY the
    # candidate pairs (the two-web-scale-sides path whose join plan the
    # r10 fix un-broadcast). Precision on the planted twins is the
    # quality row; wall-clock covers shortlist + mining end-to-end.
    # Placed BEFORE the cached-1M sections: these are single-shot
    # absolute-throughput rows, and at the tail of the bench the
    # 1M sections' heap churn inflated them 4-7x (measured 6.9 s
    # isolated vs 44.1 s tail-placed for the same shortlist). ---
    _mark("section: bitext 100k")
    if os.environ.get("BENCH_BITEXT", _HEAVY_DEFAULT) == "1":
        try:
            from vector_indexer_spark.operators.mining import mine_bitext
            from vector_indexer_spark.sources.files import (
                generate_clustered_vectors,
            )

            n_bx = int(os.environ.get("BENCH_BITEXT_N", "100000"))
            d_bx = 32
            src_bx = (
                generate_clustered_vectors(
                    spark, n_bx, d_bx, n_clusters=1000, seed=17
                )
                .drop("true_cluster")
                .cache()
            )
            src_bx.count()
            # planted twins: tgt[i] = src[i] + U(-0.05, 0.05) noise per
            # component, id-offset by 10^7 — deterministic (hash-seeded,
            # JVM-side), so precision is reproducible
            tgt_bx = src_bx.select(
                (F.col("id") + F.lit(10_000_000)).alias("id"),
                F.expr(
                    "transform(values, (x, i) -> x + "
                    "(pmod(xxhash64(id * 37 + i), 1000) / 1000.0 - 0.5)"
                    " * 0.1)"
                ).alias("values"),
            ).cache()
            tgt_bx.count()
            t0 = time.perf_counter()
            bxpath = tempfile.mkdtemp(prefix="bench_bitext_") + "/index"
            bxidx = build_index(tgt_bx, bxpath, seed=17, mode="minibatch")
            bxvec = bxidx.vectors(spark).coalesce(32).cache()
            bxvec.count()
            extras["bitext_index_build_sec"] = round(
                time.perf_counter() - t0, 3
            )
            bxq = src_bx.select(
                F.col("id").alias("query_id"), F.col("values").alias("query")
            )
            t0 = time.perf_counter()
            cand_bx = (
                # default dispatch: a 100k-query batch routes to the
                # bulk per-cluster GEMM tier (r10 — measured 1.5 s vs
                # 7.4 s relational vs 102 s masked-GEMM at 20k
                # queries); a corpus too large to broadcast would
                # route itself to the fully-relational plan
                search_index(
                    spark, bxidx, bxq, k=8, n_probe=8, vectors=bxvec
                )
                .select(
                    F.col("query_id").alias("src_id"),
                    F.col("neighbor_id").alias("tgt_id"),
                )
                .localCheckpoint()  # shortlist materialized once; the
                # miner consumes it in four branches
            )
            extras["bitext_shortlist_sec"] = round(
                time.perf_counter() - t0, 3
            )
            t0 = time.perf_counter()
            mined_bx = mine_bitext(
                src_bx, tgt_bx, k=4, threshold=1.0, candidates=cand_bx
            ).persist()
            n_mined = mined_bx.count()
            extras["bitext_mine_sec"] = round(time.perf_counter() - t0, 3)
            n_twin = mined_bx.filter(
                F.col("tgt_id") == F.col("src_id") + 10_000_000
            ).count()
            extras["bitext_n"] = n_bx
            extras["bitext_pairs_mined"] = n_mined
            extras["bitext_twin_precision"] = round(
                n_twin / max(1, n_mined), 4
            )
            extras["bitext_twin_recall"] = round(n_twin / n_bx, 4)
            mined_bx.unpersist()
            src_bx.unpersist(), tgt_bx.unpersist(), bxvec.unpersist()
        except Exception as e:  # noqa: BLE001
            extras["bitext_section_error"] = f"{type(e).__name__}: {e}"[:300]
            spark.catalog.clearCache()


    _mark("section: nprobe sweep")
    if os.environ.get("BENCH_SWEEP", _HEAVY_DEFAULT) == "1":
        try:
            from vector_indexer_spark.sources.files import generate_vectors

            n_swp, nq_swp, d_swp = (
                int(os.environ.get("BENCH_SWEEP_N", "100000")),
                256,
                128,
            )
            corpus = generate_vectors(spark, n_swp + nq_swp, d_swp, seed=7).cache()
            base = corpus.filter(F.col("id") < n_swp)
            swq = (
                corpus.filter(F.col("id") >= n_swp)
                .select(F.col("id").alias("query_id"), F.col("values").alias("query"))
                .cache()
            )
            corpus.count(), swq.count()
            wpath = tempfile.mkdtemp(prefix="bench_sweep_") + "/index"
            widx = build_index(base, wpath, seed=42, mode="minibatch")
            extras["sweep_nlist"] = widx.nlist
            extras["sweep_n"] = n_swp
            widx_vec = widx.vectors(spark).coalesce(32).cache()
            widx_vec.count()

            gt1 = knn_exact(base, swq, k=1).toPandas()  # true NN per query
            true_nn = dict(zip(gt1.query_id, gt1.neighbor_id))
            # stabilize the search path before the sweep: the first probe
            # values measured otherwise absorb the JIT/GC warm-up tail and
            # read slower than larger nprobe (measured 7.4s at nprobe=1 vs
            # 1.3s at nprobe=2 without this)
            prev = float("inf")
            for _ in range(6):
                t0 = time.perf_counter()
                search_index(spark, widx, swq, k=100, n_probe=8, vectors=widx_vec).count()
                dt = time.perf_counter() - t0
                if dt > prev * 0.7:
                    break
                prev = dt
            sweep: dict[str, dict] = {}
            for p in (1, 2, 4, 8, 16, 32, 64):
                fn = lambda: search_index(  # noqa: E731
                    spark, widx, swq, k=100, n_probe=p, vectors=widx_vec
                )
                res = fn().toPandas()  # also the warm-up run
                t_runs = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn().count()
                    t_runs.append(time.perf_counter() - t0)
                sec = min(t_runs)
                # NOTE: with exact (non-quantized) candidate scoring the
                # true NN, when its cluster is probed, always ranks 1 —
                # nothing in the candidate set can out-score it — so
                # R@1 = R@10 = R@100 is the EXPECTED shape here (in the
                # reference harness the three diverge only for quantized
                # variants whose ADC scores reorder candidates).
                found_rank = {
                    q: int(r)
                    for q, n, r in zip(res.query_id, res.neighbor_id, res["rank"])
                    if true_nn.get(q) == n
                }
                nq_run = len(true_nn)
                sweep[str(p)] = {
                    "sec": round(sec, 4),
                    "qps": round(nq_run / sec, 1),
                    **{
                        f"r{r}": round(
                            sum(
                                1
                                for q in true_nn
                                if found_rank.get(q, 10**9) <= r
                            )
                            / nq_run,
                            4,
                        )
                        for r in (1, 10, 100)
                    },
                }
            extras["nprobe_sweep"] = sweep
            corpus.unpersist()
            swq.unpersist()
            widx_vec.unpersist()

        # --- dedup at 1M docs: the LSH bucket-cap scale claim measured,
        # not argued (the sf0.1 corpus is only ~10k docs). Deterministic
        # scan-local synthetic corpus: ~30-token docs from a 5k-word
        # vocabulary; every id % 100 == 1 doc is a near-dup of its
        # predecessor (same token stream + one extra token), so the
        # banded-LSH path has real work to find at every scale.
        except Exception as e:  # noqa: BLE001
            extras["sweep_section_error"] = f"{type(e).__name__}: {e}"[:300]
            # a failed section must not leave its cached frames
            # pinned — heap pressure skews every later timing
            spark.catalog.clearCache()

    _mark("section: dedup 1M")
    if os.environ.get("BENCH_DEDUP1M", _HEAVY_DEFAULT) == "1":
        try:
            # section isolation: the preceding 1M ANN sections leave the
            # executor heap pressured (the identical LSH call runs 15 s
            # cold / 4.4 s warm in a fresh JVM but ~30 s placed here, and
            # this hygiene step recovers only part of that — see
            # BASELINE.md's position-sensitivity note). Drop stale cached
            # blocks and nudge GC so the number leans toward the operator,
            # not the neighbor.
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            n_docs = int(os.environ.get("BENCH_DEDUP_N", "1000000"))
            base = spark.range(n_docs).withColumn(
                "src_id",
                F.when(
                    (F.col("id") % 100 == 1) & (F.col("id") > 0),
                    F.col("id") - 1,
                ).otherwise(F.col("id")),
            )
            words = [
                F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.xxhash64(F.col("src_id") * F.lit(31) + F.lit(i)),
                        F.lit(5000),
                    ).cast("string"),
                )
                for i in range(30)
            ]
            docs1m = base.select(
                F.col("id").alias("doc_id"),
                F.when(
                    F.col("src_id") == F.col("id"),
                    F.concat_ws(" ", *words),
                )
                .otherwise(F.concat_ws(" ", *words, F.lit("extra")))
                .alias("text"),
            ).persist()
            docs1m.count()
            t0 = time.perf_counter()
            n_pairs = dedup.lsh_candidate_pairs(docs1m).count()
            extras["dedup1M_sec"] = round(time.perf_counter() - t0, 3)
            extras["dedup1M_n_docs"] = n_docs
            extras["dedup1M_pairs"] = int(n_pairs)

            # incremental dedup: a 1% delta against the other 99% as the
            # standing corpus. Per-batch cost must be delta-shaped — the
            # corpus participates only through its banded-signature
            # manifest (prebuilt+persisted here, as in production where it
            # is amortized across every future batch).
            corpus_side = docs1m.filter(F.col("doc_id") % 100 != 1)
            delta_side = docs1m.filter(F.col("doc_id") % 100 == 1)
            manifest = dedup.banded_signatures(corpus_side).persist()
            manifest.count()
            t0 = time.perf_counter()
            n_incr = dedup.incremental_lsh_candidates(
                delta_side, manifest
            ).count()
            extras["dedup1M_incr_sec"] = round(time.perf_counter() - t0, 3)
            extras["dedup1M_incr_matches"] = int(n_incr)
            manifest.unpersist()

            # sketch scan at 1M rows: HLL registers + estimate vs the
            # exact distinct — one map-side agg against a full distinct
            # shuffle, the trade the sketch exists for
            from vector_indexer_spark.operators.sketches import (
                hll_estimate,
                hll_registers,
            )

            t0 = time.perf_counter()
            regs = hll_registers(docs1m, "text", p=12)
            est = hll_estimate(regs, p=12)
            extras["hll1M_sec"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            exact = docs1m.select("text").distinct().count()
            extras["hll1M_exact_distinct_sec"] = round(
                time.perf_counter() - t0, 3
            )
            extras["hll1M_rel_err"] = round(abs(est - exact) / exact, 4)

            # scan-local text ops at 1M docs: docs/sec for the corpus-
            # cleaning pass (stats + lang-id + Gopher rules in one scan) —
            # the number that multiplies by executors at 100 TB
            t0 = time.perf_counter()
            text_analysis.gopher_quality(
                text_analysis.text_stats(docs1m).join(docs1m, "doc_id")
            ).agg(F.sum("passes")).collect()
            dt = time.perf_counter() - t0
            extras["text1M_clean_sec"] = round(dt, 3)
            extras["text1M_docs_per_sec"] = round(n_docs / dt)

            # sparse retrieval at 1M docs (inverted-index tf-idf posting
            # join, 16 text queries): full postings vs champion-capped
            # (top-1000 impact-ordered postings/term — the stopword-skew
            # lever). The ~5k-word vocab makes every term a hot term
            # (~6k postings each). Honest framing: the cap BOUNDS
            # worst-case join fan-out (its win grows with query count
            # and term skew); at 16 queries its one-off term-window
            # cost can exceed the scoring it saves — both numbers are
            # reported, with top-10 agreement next to the ratio.
            _mark("section: sparse 200k skew")
            if os.environ.get("BENCH_SPARSE", "1") == "1":
                from vector_indexer_spark.operators.sparse import (
                    sparse_search_tokens,
                    sparse_topk,
                )

                sq16 = docs1m.filter(F.col("doc_id") < 16).select(
                    "doc_id", "text"
                )
                t0 = time.perf_counter()
                sparse_search_tokens(
                    docs1m, sq16, k=10, query_id_col="doc_id"
                ).count()
                extras["sparse1M_full_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                t0 = time.perf_counter()
                sparse_search_tokens(
                    docs1m, sq16, k=10, query_id_col="doc_id",
                    max_postings_per_term=1000,
                ).count()
                extras["sparse1M_capped_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                extras["sparse1M_capped_speedup"] = round(
                    extras["sparse1M_full_sec"]
                    / extras["sparse1M_capped_sec"],
                    3,
                )
                full16 = sparse_search_tokens(
                    docs1m, sq16, k=10, query_id_col="doc_id"
                ).select("query_id", "doc_id")
                cap16 = sparse_search_tokens(
                    docs1m, sq16, k=10, query_id_col="doc_id",
                    max_postings_per_term=1000,
                ).select("query_id", "doc_id")
                extras["sparse1M_capped_overlap_at_10"] = round(
                    cap16.join(full16, ["query_id", "doc_id"]).count()
                    / (16 * 10),
                    4,
                )

                # --- skewed corpus: the workload the champion cap
                # exists for. Pre-encoded sparse vectors (the
                # operator's own data model — isolates the cap's
                # effect from tokenize/df costs): each doc carries 5
                # draws from a 10-term hot "stopword" pool (~82k
                # postings/term at 200k docs) next to a 100k-term rare
                # tail (~50 postings/term, far under the cap). A
                # 1024-query batch touches the hot pool in every
                # query, so the uncapped posting join fans out
                # ~queries x hot_df rows (~350M here); the cap bounds
                # every term to its top-1000 impact-ordered postings.
                # This row replaces the uniform-corpus anti-advert
                # (sparse1M_capped_speedup < 1 at 16 uniform-tf
                # queries, where the cap's window pass exceeds the
                # scoring it saves — kept above as the honest lower
                # bound; the cap's win grows with query count and
                # term skew, measured 1.2x @64q -> 2.7x @1024q).
                n_skew = int(os.environ.get("BENCH_SPARSE_SKEW_N", "200000"))
                nq_skew = 1024
                hot_idx = [
                    F.pmod(
                        F.xxhash64(
                            F.col("id") * F.lit(37) + F.lit(1000 + i)
                        ),
                        F.lit(10),
                    ).cast("int")
                    for i in range(5)
                ]
                rare_idx = [
                    (
                        F.lit(10)
                        + F.pmod(
                            F.xxhash64(
                                F.col("id") * F.lit(41) + F.lit(2000 + i)
                            ),
                            F.lit(100000),
                        )
                    ).cast("int")
                    for i in range(25)
                ]
                wts = [
                    (
                        F.lit(0.1)
                        + F.pmod(
                            F.xxhash64(F.col("id") * F.lit(53) + F.lit(i)),
                            F.lit(1000),
                        ).cast("double")
                        / F.lit(1000.0)
                    )
                    for i in range(30)
                ]
                skew = (
                    spark.range(n_skew)
                    .select(
                        F.col("id").alias("doc_id"),
                        F.array_distinct(
                            F.array(*hot_idx, *rare_idx)
                        ).alias("ind0"),
                        F.array(*wts).alias("w0"),
                    )
                    .select(
                        "doc_id",
                        F.expr(
                            "slice(array_sort(ind0), 1, size(ind0))"
                        ).alias("indices"),
                        F.expr("slice(w0, 1, size(ind0))").alias(
                            "weights"
                        ),
                    )
                    .persist()
                )
                skew.count()
                skq = skew.filter(F.col("doc_id") < nq_skew).select(
                    F.col("doc_id").alias("query_id"),
                    "indices",
                    "weights",
                )
                # overlap frames (deterministic results) materialized
                # once OUTSIDE the timing — doubling as warm-up; the
                # committed timings are round-robin interleaved minima
                # (the full-join single shot swung 131 s → 38 s between
                # r9 and r10 — the same placement disease the graph
                # section had; cap+rescore tier commentary: the capped
                # join only SELECTS a 40-candidate shortlist, scores
                # come from an exact rescore on the survivors' full
                # postings, so the hot-term join stays capped and the
                # rescore fans out by candidate doc, not term).
                # NOTE: timing runs BEFORE any persist — Spark's
                # CacheManager substitutes cached plans into ANY
                # matching subplan, so persisted overlap frames would
                # turn the timed runs into cache reads (observed 10x).
                mins = interleaved_min(
                    {
                        "sparse_skew_full_sec": lambda: sparse_topk(
                            skew, skq, k=10
                        ).count(),
                        "sparse_skew_capped_sec": lambda: sparse_topk(
                            skew, skq, k=10, max_postings_per_term=1000
                        ).count(),
                        "sparse_skew_rescored_sec": lambda: sparse_topk(
                            skew, skq, k=10, max_postings_per_term=1000,
                            rescore_shortlist=40,
                        ).count(),
                    },
                    rounds=3,
                )
                fullsk = sparse_topk(skew, skq, k=10).persist()
                capsk = sparse_topk(
                    skew, skq, k=10, max_postings_per_term=1000
                ).persist()
                rescsk = sparse_topk(
                    skew, skq, k=10, max_postings_per_term=1000,
                    rescore_shortlist=40,
                ).persist()
                fullsk.count(), capsk.count(), rescsk.count()
                for mk, mv in mins.items():
                    extras[mk] = round(mv, 3)
                extras["sparse_skew_capped_speedup"] = round(
                    mins["sparse_skew_full_sec"]
                    / mins["sparse_skew_capped_sec"],
                    3,
                )
                extras["sparse_skew_rescored_speedup"] = round(
                    mins["sparse_skew_full_sec"]
                    / mins["sparse_skew_rescored_sec"],
                    3,
                )
                extras["sparse_skew_n_docs"] = n_skew
                extras["sparse_skew_nq"] = nq_skew
                for lbl, frame in (("capped", capsk), ("rescored", rescsk)):
                    extras[f"sparse_skew_{lbl}_overlap_at_10"] = round(
                        frame.select("query_id", "doc_id")
                        .join(
                            fullsk.select("query_id", "doc_id"),
                            ["query_id", "doc_id"],
                        )
                        .count()
                        / (nq_skew * 10),
                        4,
                    )
                rescsk.unpersist()
                fullsk.unpersist(), capsk.unpersist()
                skew.unpersist()

                # idf-weighted skew variant: same corpus shape but hot
                # terms carry ~12x less weight (what tf-idf/BM25
                # weighting actually does to stopword-like terms —
                # the uniform-weight corpus above is the honest
                # worst case where the mass IS the hot terms and NO
                # cap-based method can recover it). Sorted indices
                # put the hot pool (ids 0-9) in the first positions,
                # so downweighting the first 5 weight slots
                # downweights the hot terms. This is the regime the
                # cap+rescore tier targets: the capped join keeps its
                # skew win and the rescore restores near-exact
                # ranking.
                wts_idf = [w * F.lit(0.08) for w in wts[:5]] + wts[5:]
                skew2 = (
                    spark.range(n_skew)
                    .select(
                        F.col("id").alias("doc_id"),
                        F.array_distinct(
                            F.array(*hot_idx, *rare_idx)
                        ).alias("ind0"),
                        F.array(*wts_idf).alias("w0"),
                    )
                    .select(
                        "doc_id",
                        F.expr(
                            "slice(array_sort(ind0), 1, size(ind0))"
                        ).alias("indices"),
                        F.expr("slice(w0, 1, size(ind0))").alias(
                            "weights"
                        ),
                    )
                    .persist()
                )
                skew2.count()
                skq2 = skew2.filter(F.col("doc_id") < nq_skew).select(
                    F.col("doc_id").alias("query_id"),
                    "indices",
                    "weights",
                )
                # same round-robin interleaved-minimum protocol as the
                # uniform-weight block above
                kw_cap = {"max_postings_per_term": 1000}
                kw_resc = {
                    "max_postings_per_term": 1000,
                    "rescore_shortlist": 40,
                }
                mins2 = interleaved_min(
                    {
                        "sparse_skewidf_full_sec": lambda: sparse_topk(
                            skew2, skq2, k=10
                        ).count(),
                        "sparse_skewidf_capped_sec": lambda: sparse_topk(
                            skew2, skq2, k=10, **kw_cap
                        ).count(),
                        "sparse_skewidf_rescored_sec": lambda: sparse_topk(
                            skew2, skq2, k=10, **kw_resc
                        ).count(),
                    },
                    rounds=3,
                )
                fullsk2 = sparse_topk(skew2, skq2, k=10).persist()
                capsk2 = sparse_topk(skew2, skq2, k=10, **kw_cap).persist()
                rescsk2 = sparse_topk(
                    skew2, skq2, k=10, **kw_resc
                ).persist()
                fullsk2.count(), capsk2.count(), rescsk2.count()
                for mk, mv in mins2.items():
                    extras[mk] = round(mv, 3)
                for lbl, frame in (
                    ("capped", capsk2),
                    ("rescored", rescsk2),
                ):
                    extras[f"sparse_skewidf_{lbl}_speedup"] = round(
                        mins2["sparse_skewidf_full_sec"]
                        / mins2[f"sparse_skewidf_{lbl}_sec"],
                        3,
                    )
                    extras[f"sparse_skewidf_{lbl}_overlap_at_10"] = round(
                        frame.select("query_id", "doc_id")
                        .join(
                            fullsk2.select("query_id", "doc_id"),
                            ["query_id", "doc_id"],
                        )
                        .count()
                        / (nq_skew * 10),
                        4,
                    )
                rescsk2.unpersist(), capsk2.unpersist(), fullsk2.unpersist()
                skew2.unpersist()
            docs1m.unpersist()

        # --- multimodal decode throughput: 50k synthetic PNGs decoded +
        # bilinear-resized to 32x32 through the full mapInPandas codec
        # path (pure-Python inflate + unfilter + NumPy resample + deflate).
        # The per-image work is embarrassingly parallel; this measures the
        # pipeline's per-core image rate, the number that scales linearly
        # with executors at 100 TB.
        except Exception as e:  # noqa: BLE001
            extras["dedup1M_section_error"] = f"{type(e).__name__}: {e}"[:300]
            # a failed section must not leave its cached frames
            # pinned — heap pressure skews every later timing
            spark.catalog.clearCache()

    _mark("section: media 50k")
    if os.environ.get("BENCH_MEDIA", _HEAVY_DEFAULT) == "1":
        try:
            from vector_indexer_spark.operators.multimodal import (
                encode_png,
                resize_images,
            )

            n_img = int(os.environ.get("BENCH_MEDIA_N", "50000"))

            def _mk_png(batches):
                import numpy as np  # noqa: PLC0415
                import pandas as pd  # noqa: PLC0415

                for pdf in batches:
                    if pdf.empty:
                        continue
                    payloads = []
                    for mid in pdf["id"]:
                        mid = int(mid)
                        h, w = 40 + mid % 25, 40 + (mid * 7) % 25
                        y, x, c = np.ogrid[0:h, 0:w, 0:3]
                        payloads.append(
                            encode_png(
                                ((mid + 3 * x + 7 * y + c) % 256).astype(
                                    np.uint8
                                )
                            )
                        )
                    yield pd.DataFrame(
                        {"media_id": pdf["id"], "content": payloads}
                    )

            media = (
                spark.range(n_img)
                .repartition(32)
                .mapInPandas(_mk_png, "media_id long, content binary")
                .persist()
            )
            media.count()  # materialize: time decode+resize, not generation
            t0 = time.perf_counter()
            resize_images(media, 32, 32, method="bilinear").count()
            dt = time.perf_counter() - t0
            extras["media_resize_sec"] = round(dt, 3)
            extras["media_resize_n_images"] = n_img
            extras["media_images_per_sec"] = round(n_img / dt, 1)
            media.unpersist()
        except Exception as e:  # noqa: BLE001
            extras["media_section_error"] = f"{type(e).__name__}: {e}"[:300]
            # a failed section must not leave its cached frames
            # pinned — heap pressure skews every later timing
            spark.catalog.clearCache()

    # --- graph-ANN section: the third ANN family next to IVF pruning
    # and PQ/SQ/BQ quantization. NN-Descent graph build (linear-scale,
    # O(n*k^2) candidates/round — never the O(n^2) exact build) feeding
    # hop-synchronous beam search; recall measured vs the exact GEMM
    # scan on the same query batch. ids are cluster-round-robin, so
    # entries 0..63 seed one node per cluster (the coarse layer HNSW's
    # upper levels provide). ---
    _mark("section: graph 20k")
    if os.environ.get("BENCH_GRAPH", _HEAVY_DEFAULT) == "1":
        # a failed section must never cost the round its artifact
        try:
            from vector_indexer_spark.operators.graph_index import (
                build_graph_index,
                search_graph_index,
            )
            from vector_indexer_spark.sources.files import (
                generate_clustered_vectors,
            )

            n_g = int(os.environ.get("BENCH_GRAPH_N", "20000"))
            gvec = (
                generate_clustered_vectors(
                    spark, n_g, 32, n_clusters=64, seed=7
                )
                .drop("true_cluster")
                .cache()
            )
            gvec.count()
            t0 = time.perf_counter()
            gpath = tempfile.mkdtemp(prefix="bench_graph_") + "/gidx"
            gidx = build_graph_index(gvec, gpath, k=8, iterations=3)
            extras["graph_build_sec"] = round(time.perf_counter() - t0, 3)
            extras["graph_n"] = n_g
            extras["graph_coarse_size"] = gidx.coarse_size

            gq = (
                gvec.filter((F.col("id") >= 1000) & (F.col("id") < 1064))
                .select(
                    F.col("id").alias("query_id"), F.col("values").alias("query")
                )
                .cache()
            )
            gq.count()
            # the full index surface: coarse-layer routing, no entry
            # seeding. Beam sweep = the recall/latency knob (HNSW's
            # ef-search analog; the graph twin of the nprobe sweep): the
            # SAME graph, wider beam → higher recall, measured per round.
            truth = knn_exact(gvec, gq, k=10, method="native").persist()
            truth.count()
            sweep = []
            for b, hops, fan in ((8, 4, 4), (24, 6, 8), (48, 8, 16)):
                t0 = time.perf_counter()
                got = search_graph_index(
                    spark, gidx, gvec, gq, k=10, beam=b, max_hops=hops,
                    entry_fanout=fan,
                ).persist()
                got.count()
                dt = round(time.perf_counter() - t0, 3)
                hits = (
                    got.select("query_id", "neighbor_id")
                    .join(
                        truth.select("query_id", "neighbor_id"),
                        ["query_id", "neighbor_id"],
                    )
                    .count()
                )
                got.unpersist()
                sweep.append(
                    {
                        "beam": b,
                        "hops": hops,
                        "sec": dt,
                        "recall_at_10": round(hits / (64 * 10), 4),
                    }
                )
            extras["graph_beam_sweep"] = sweep
            extras["graph_search_sec"] = sweep[1]["sec"]
            extras["graph_ann_recall_at_10"] = sweep[1]["recall_at_10"]

            # the local (fits-one-box) execution of the same walk at
            # the middle sweep point — identical results, one job
            from vector_indexer_spark.operators.graph_index import (
                search_graph_index_local,
            )

            t0 = time.perf_counter()
            gotloc = search_graph_index_local(
                spark, gidx, gvec, gq, k=10, beam=24, max_hops=6,
                entry_fanout=8,
            ).persist()
            gotloc.count()
            extras["graph_local_search_sec"] = round(
                time.perf_counter() - t0, 3
            )
            hits_loc = (
                gotloc.select("query_id", "neighbor_id")
                .join(
                    truth.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            extras["graph_local_recall_at_10"] = round(
                hits_loc / (64 * 10), 4
            )
            gotloc.unpersist()

            # quantized traversal + exact refine (DiskANN shape): same
            # index, walk on SQ8 reconstructions, refine the shortlist
            from vector_indexer_spark.operators.graph_index import (
                search_graph_index_sq,
            )
            from vector_indexer_spark.operators.sq import sq_encode, sq_train

            sqm = sq_train(gvec, vec_col="values")
            gcodes = sq_encode(gvec, sqm).cache()
            gcodes.count()
            t0 = time.perf_counter()
            gotq = search_graph_index_sq(
                spark, gidx, gcodes, gq, sqm, k=10, beam=24, max_hops=6,
                entry_fanout=8, refine_factor=4, vectors=gvec,
            ).persist()
            gotq.count()
            extras["graph_sq_optin_search_sec"] = round(time.perf_counter() - t0, 3)
            hits_q = (
                gotq.select("query_id", "neighbor_id")
                .join(
                    truth.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            extras["graph_sq_optin_recall_at_10"] = round(hits_q / (64 * 10), 4)
            # the quantizer's own ceiling: brute-force SQ8 top-10 with no
            # graph and no refine. On this wide-range synthetic the global
            # affine grid is coarse relative to cluster spread, so THIS is
            # the number the quantized traversal should be judged against
            # (graph+refine beats it; the full-precision gap is quantizer
            # fidelity, not traversal loss — BASELINE round-6)
            from vector_indexer_spark.operators.sq import sq_search

            gotb = sq_search(gcodes, sqm, gq, 10).persist()
            gotb.count()
            hits_b = (
                gotb.select("query_id", "neighbor_id")
                .join(
                    truth.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            extras["graph_sq_optin_brute_ceiling_recall"] = round(
                hits_b / (64 * 10), 4
            )

            # residual-SQ traversal (the DEFAULT quantized tier):
            # codes are SQ8 over residuals from each vector's nearest
            # coarse-sample anchor — range = local spread, so the
            # quantizer noise floor sits below within-cluster distance
            # differences (flat SQ8's failure mode on this synthetic)
            from vector_indexer_spark.operators.graph_index import (
                rsq_encode_graph,
                search_graph_index_rsq,
            )

            t0 = time.perf_counter()
            rcodes, ranchors, rmodel = rsq_encode_graph(spark, gidx, gvec)
            rcodes = rcodes.cache()
            rcodes.count()
            ranchors = ranchors.cache()
            ranchors.count()
            extras["graph_rsq_encode_sec"] = round(
                time.perf_counter() - t0, 3
            )
            t0 = time.perf_counter()
            gotr = search_graph_index_rsq(
                spark, gidx, rcodes, ranchors, gq, rmodel, k=10, beam=24,
                max_hops=6, entry_fanout=8, refine_factor=4, vectors=gvec,
            ).persist()
            gotr.count()
            extras["graph_rsq_search_sec"] = round(
                time.perf_counter() - t0, 3
            )
            hits_r = (
                gotr.select("query_id", "neighbor_id")
                .join(
                    truth.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            extras["graph_rsq_recall_at_10"] = round(hits_r / (64 * 10), 4)
            gotr.unpersist(), rcodes.unpersist(), ranchors.unpersist()
            gotb.unpersist(), gotq.unpersist(), gcodes.unpersist()
            truth.unpersist(), gvec.unpersist(), gq.unpersist()
        except Exception as e:  # noqa: BLE001
            extras["graph_section_error"] = f"{type(e).__name__}: {e}"[:300]
            # a failed section must not leave its cached frames
            # pinned — heap pressure skews every later timing
            spark.catalog.clearCache()

    # --- graph index at 1M x 32: the scale point that earns the graph
    # family its linearity argument (IVF has the synth1000k pair; the
    # graph evidence previously stopped at 100k). Same build config as
    # the 20k point; NN-Descent is O(n*k^2) candidates/round so build
    # should scale ~linearly from the 20k/100k committed numbers. ---
    _mark("section: graph 1M")
    if os.environ.get("BENCH_GRAPH_1M", _HEAVY_DEFAULT) == "1":
        try:
            from vector_indexer_spark.operators.graph_index import (
                build_graph_index,
                search_graph_index,
            )
            from vector_indexer_spark.operators.knn import knn_exact
            from vector_indexer_spark.sources.files import (
                generate_clustered_vectors,
            )

            n_g1 = int(os.environ.get("BENCH_GRAPH_1M_N", "1000000"))
            g1vec = (
                generate_clustered_vectors(
                    spark, n_g1, 32, n_clusters=1000, seed=11
                )
                .drop("true_cluster")
                .cache()
            )
            g1vec.count()
            t0 = time.perf_counter()
            g1path = tempfile.mkdtemp(prefix="bench_graph1m_") + "/gidx"
            # engine defaults on purpose: iterations='auto' (5 rounds at 1M
            # — 3 rounds leave recall at 0.23, see BASELINE round-6) and
            # the suggest_nlist-staged coarse layer (4000 at 1M)
            g1idx = build_graph_index(g1vec, g1path, k=8)
            extras["graph1M_build_sec"] = round(time.perf_counter() - t0, 3)
            extras["graph1M_iterations"] = g1idx.iterations
            extras["graph1M_n"] = n_g1
            extras["graph1M_coarse_size"] = g1idx.coarse_size

            g1q = (
                g1vec.filter((F.col("id") % 15625) == 7)
                .select(
                    F.col("id").alias("query_id"), F.col("values").alias("query")
                )
                .cache()
            )
            nq1 = g1q.count()
            t0 = time.perf_counter()
            truth1 = knn_exact(g1vec, g1q, k=10, method="arrow").persist()
            truth1.count()
            extras["graph1M_exact_sec"] = round(time.perf_counter() - t0, 3)
            sweep1 = []
            for b, hops, fan in ((24, 6, 8), (48, 8, 16)):
                t0 = time.perf_counter()
                got1 = search_graph_index(
                    spark, g1idx, g1vec, g1q, k=10, beam=b, max_hops=hops,
                    entry_fanout=fan,
                ).persist()
                got1.count()
                dt1 = round(time.perf_counter() - t0, 3)
                hits1 = (
                    got1.select("query_id", "neighbor_id")
                    .join(
                        truth1.select("query_id", "neighbor_id"),
                        ["query_id", "neighbor_id"],
                    )
                    .count()
                )
                got1.unpersist()
                sweep1.append(
                    {
                        "beam": b,
                        "hops": hops,
                        "sec": dt1,
                        "recall_at_10": round(hits1 / (nq1 * 10), 4),
                    }
                )
            extras["graph1M_beam_sweep"] = sweep1
            extras["graph1M_nq"] = nq1
            extras["graph1M_search_sec"] = sweep1[-1]["sec"]
            extras["graph1M_recall_at_10"] = sweep1[-1]["recall_at_10"]

            # LOCAL (fits-one-box) execution of the same recurrence:
            # one broadcast + one mapInPandas job instead of a Spark
            # job per hop. Same results row-for-row (pytest-locked);
            # this is where the graph family beats the exact scan —
            # per-query work is O(hops*beam*degree*d), not O(n*d).
            from vector_indexer_spark.operators.graph_index import (
                search_graph_index_local,
            )

            # min-of-2 (the 64q local row is broadcast-construction
            # dominated and swung 30.5 → 77.7 s between single-shot
            # rounds; it documents the LOSING regime, so it should at
            # least lose by a stable margin)
            lmins = interleaved_min(
                {
                    "graph1M_local_search_sec": lambda: (
                        search_graph_index_local(
                            spark, g1idx, g1vec, g1q, k=10, beam=48,
                            max_hops=8, entry_fanout=16,
                        ).count()
                    ),
                },
                rounds=2,
            )
            extras["graph1M_local_search_sec"] = round(
                lmins["graph1M_local_search_sec"], 3
            )
            gotl = search_graph_index_local(
                spark, g1idx, g1vec, g1q, k=10, beam=48, max_hops=8,
                entry_fanout=16,
            ).persist()
            gotl.count()
            hits_l = (
                gotl.select("query_id", "neighbor_id")
                .join(
                    truth1.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            extras["graph1M_local_recall_at_10"] = round(
                hits_l / (nq1 * 10), 4
            )
            gotl.unpersist()

            # the 1k-query batch: broadcast/prep amortizes across the
            # batch, the exact GEMM scan re-pays n*d per query — the
            # regime where the edges-only index WINS outright
            # Interleaved min-of-pair (r9 VERDICT #2): the committed
            # exact-vs-local rows were single-shot, so heap/placement
            # noise left the official artifact contradicting the
            # isolated runs (local1k 38.1 s committed vs ~12 s
            # isolated). Both 1k and 8k pairs now commit interleaved
            # minima — the synth-ladder treatment.
            g1q_big = (
                g1vec.filter((F.col("id") % 977) == 3)
                .select(
                    F.col("id").alias("query_id"),
                    F.col("values").alias("query"),
                )
                .cache()
            )
            nq_big = g1q_big.count()
            state1k: dict = {}

            def _exact_1k():
                if "t" in state1k:
                    state1k["t"].unpersist()
                df = knn_exact(
                    g1vec, g1q_big, k=10, method="arrow"
                ).persist()
                df.count()
                state1k["t"] = df

            def _local_1k():
                if "l" in state1k:
                    state1k["l"].unpersist()
                df = search_graph_index_local(
                    spark, g1idx, g1vec, g1q_big, k=10, beam=48,
                    max_hops=8, entry_fanout=16,
                ).persist()
                df.count()
                state1k["l"] = df

            e1k, l1k = timed_pair_min(
                _exact_1k, _local_1k,
                "graph1M_exact1k", "graph1M_local1k",
                pairs=int(os.environ.get("BENCH_GRAPH_PAIRS", "3")),
            )
            extras["graph1M_exact1k_sec"] = round(e1k, 3)
            extras["graph1M_local1k_search_sec"] = round(l1k, 3)
            extras["graph1M_local1k_speedup_vs_exact"] = round(e1k / l1k, 3)
            hits_lb = (
                state1k["l"].select("query_id", "neighbor_id")
                .join(
                    state1k["t"].select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            extras["graph1M_local1k_nq"] = nq_big
            extras["graph1M_local1k_recall_at_10"] = round(
                hits_lb / (nq_big * 10), 4
            )
            state1k["l"].unpersist(), state1k["t"].unpersist()
            g1q_big.unpersist()

            # the 8k-query batch: the committed artifact's winning row.
            # Exact re-pays n*d per query (8k x 1M x 32 GEMM); the local
            # walk's broadcast amortizes over the whole batch and each
            # query costs O(hops*beam*degree*d) — isolated-run crossover
            # measured 11.3x at this point (BASELINE round-7); this row
            # puts it in the per-round artifact, whatever the JVM's heap
            # state, because the margin dwarfs placement noise.
            _mark("section: graph 8k queries")
            if os.environ.get("BENCH_GRAPH_8K", "1") == "1":
                g1q_8k = (
                    g1vec.filter((F.col("id") % 122) == 3)
                    .select(
                        F.col("id").alias("query_id"),
                        F.col("values").alias("query"),
                    )
                    .cache()
                )
                nq_8k = g1q_8k.count()
                state8k: dict = {}

                def _exact_8k():
                    if "t" in state8k:
                        state8k["t"].unpersist()
                    df = knn_exact(
                        g1vec, g1q_8k, k=10, method="arrow"
                    ).persist()
                    df.count()
                    state8k["t"] = df

                def _local_8k():
                    if "l" in state8k:
                        state8k["l"].unpersist()
                    df = search_graph_index_local(
                        spark, g1idx, g1vec, g1q_8k, k=10, beam=48,
                        max_hops=8, entry_fanout=16,
                    ).persist()
                    df.count()
                    state8k["l"] = df

                e8k, l8k = timed_pair_min(
                    _exact_8k, _local_8k,
                    "graph1M_exact8k", "graph1M_local8k",
                    pairs=int(os.environ.get("BENCH_GRAPH_PAIRS", "3")),
                )
                extras["graph1M_exact8k_sec"] = round(e8k, 3)
                extras["graph1M_local8k_search_sec"] = round(l8k, 3)
                hits_8k = (
                    state8k["l"].select("query_id", "neighbor_id")
                    .join(
                        state8k["t"].select("query_id", "neighbor_id"),
                        ["query_id", "neighbor_id"],
                    )
                    .count()
                )
                extras["graph1M_local8k_nq"] = nq_8k
                extras["graph1M_local8k_recall_at_10"] = round(
                    hits_8k / (nq_8k * 10), 4
                )
                extras["graph1M_local8k_speedup_vs_exact"] = round(
                    e8k / l8k, 3
                )
                state8k["l"].unpersist()
                state8k["t"].unpersist()
                g1q_8k.unpersist()

            truth1.unpersist(), g1vec.unpersist(), g1q.unpersist()
        except Exception as e:  # noqa: BLE001
            extras["graph1M_section_error"] = f"{type(e).__name__}: {e}"[:300]
            # a failed section must not leave its cached frames
            # pinned — heap pressure skews every later timing
            spark.catalog.clearCache()

    _mark("sections done; writing artifacts")
    results = {k: round(v, 4) for k, v in results.items()}
    # extras (sweeps, 1M suite, plan audits) go to a sidecar file plus a
    # PRECEDING stdout line; the FINAL line is the compact headline only.
    # The driver tails stdout and parses the last line — round 5's single
    # ever-growing JSON line got truncated by the tail window and the
    # official artifact recorded "parsed": null (VERDICT r5 item #1).
    extras_path = os.environ.get(
        "BENCH_EXTRAS_PATH",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_extras.json"
        ),
    )
    try:
        write_extras(extras_path, extras)
    except OSError:
        extras_path = None
    print(json.dumps({"extras_file": extras_path, "extras": extras}))
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": round(sum(results.values()), 4),
                "unit": "sec",
                "queries": results,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
