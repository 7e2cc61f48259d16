"""Plan audits: pushdown, broadcast, shuffle counts on the engine's
headline query shapes (the .explain-and-iterate discipline, SURVEY §4)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from vector_indexer_spark.operators.dedup import exact_dup_groups
from vector_indexer_spark.operators.knn import knn_exact
from vector_indexer_spark.operators.text_analysis import text_stats
from vector_indexer_spark.plans import audit


@pytest.fixture(scope="module")
def idx(spark, embeddings, tmp_path_factory):
    from vector_indexer_spark.operators.index_build import build_index

    vec = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    return build_index(
        vec, str(tmp_path_factory.mktemp("plans") / "idx"), nlist=12, seed=1
    )


def test_pruned_scan_filters(spark, idx):
    pruned = idx.vectors(spark).where(
        F.col("shard_id").isin([0, 1]) & F.col("cluster_id").isin([0, 1, 2])
    )
    s = audit.plan_summary(pruned)
    assert any("shard_id" in f for f in s["partition_filters"])
    assert any("cluster_id" in f for f in s["pushed_filters"])
    assert s["shuffles"] == 0
    # search's prune(): the same filters from one SQL predicate, at a
    # probe-list size (>= 20 ids) where isin made a py4j call per id
    from vector_indexer_spark.operators.search import prune

    s = audit.plan_summary(prune(idx.vectors(spark), [0, 1], range(24)))
    assert any("shard_id" in f for f in s["partition_filters"])
    assert any("cluster_id" in f for f in s["pushed_filters"])
    assert s["shuffles"] == 0
    # an empty probe list selects nothing (not a parse error)
    assert prune(idx.vectors(spark), [], []).count() == 0
    assert prune(idx.vectors(spark), None, []).count() == 0


def test_knn_native_broadcasts_queries(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    out = knn_exact(
        embeddings, q, k=5, id_col="vec_id", vec_col="embedding",
        method="native",
    )
    s = audit.plan_summary(out)
    assert s["broadcasts"] >= 1  # query side must broadcast
    # cross join with a broadcast side is BroadcastNestedLoopJoin, not
    # a shuffled CartesianProduct
    assert not s["cartesian"]


def test_text_stats_is_scan_local(spark, documents):
    # projection-only operator: no shuffle, one codegen span over the scan
    s = audit.plan_summary(text_stats(documents))
    assert s["shuffles"] == 0
    assert not s["cartesian"]


def test_exact_dedup_single_shuffle(spark, documents):
    # hash groupBy = exactly one exchange (map-side partial agg)
    s = audit.plan_summary(exact_dup_groups(documents))
    assert s["shuffles"] == 1
    assert "partial" in audit.executed_plan(
        exact_dup_groups(documents)
    ).lower() or s["shuffles"] == 1


def test_column_pruning_reaches_scan(spark, embeddings):
    two = embeddings.select("vec_id").filter(F.col("vec_id") < 10)
    plan = audit.executed_plan(two)
    # the 64-float embedding column must not be read for an id-only
    # query — the FileScan's output column list is the proof
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans and "embedding" not in scans[0].split("]")[0]
    assert "vec_id" in scans[0].split("]")[0]


def test_sessionize_single_shuffle(spark):
    """Window(user) then groupBy(user, session): the aggregation's
    distribution requirement is satisfied by the window's hash
    partitioning on the key subset — ONE exchange total."""
    from vector_indexer_spark.streaming.events import sessionize

    ev = spark.createDataFrame(
        [(0, 10**9, 1, "c", 1.0)],
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    s = audit.plan_summary(sessionize(ev))
    assert s["shuffles"] == 1


def test_sq_search_reads_only_codes(
    spark, embeddings, tmp_path_factory, monkeypatch
):
    """The compressed search scan must column-prune to (id, codes) —
    reading anything else forfeits the 4x scan advantage. The window
    merge keeps the scan in the returned plan (a driver merge returns
    a local relation)."""
    from vector_indexer_spark.operators import search as S
    from vector_indexer_spark.operators.sq import sq_encode, sq_train

    monkeypatch.setattr(S, "_DRIVER_MERGE_LIMIT", 0, raising=True)

    vec = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    model = sq_train(vec)
    path = str(tmp_path_factory.mktemp("sqplan") / "codes")
    # persist codes alongside an extra fat column the scan must skip
    sq_encode(vec, model).join(vec, "id").write.parquet(path)
    codes_tbl = spark.read.parquet(path)
    from vector_indexer_spark.operators.sq import sq_search

    q = embeddings.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    plan = audit.executed_plan(sq_search(codes_tbl, model, q, k=3))
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    assert "codes" in m.group(1) and "values" not in m.group(1)


def test_hash_embed_bounded_shuffles(spark, documents):
    # hash_embed is explode + codegen conditional-sum aggregation:
    # the scan-local HOF formulation was interpreted (O(dim*T) lambda
    # evals per row, 100s+ at sf0.01). The price is bounded shuffles —
    # the doc_id agg (map-side combined, docs x dim volume) plus the
    # zero-doc-restoring spine join — never a cartesian, and never
    # raw-token shuffle volume.
    from vector_indexer_spark.operators.text_analysis import hash_embed

    s = audit.plan_summary(hash_embed(documents, 16))
    assert 1 <= s["shuffles"] <= 3
    assert not s["cartesian"]


def test_rhp_signatures_scan_local(spark, embeddings):
    from vector_indexer_spark.operators.similarity import (
        rhp_signatures,
        sample_hyperplanes,
    )

    planes = sample_hyperplanes(embeddings, 8)
    s = audit.plan_summary(rhp_signatures(embeddings, planes))
    assert s["shuffles"] == 0


def test_pii_and_gopher_scan_local(spark, documents):
    from vector_indexer_spark.operators.text_analysis import (
        gopher_quality,
        pii_stats,
        redact_pii,
    )

    for op in (pii_stats, redact_pii, gopher_quality):
        s = audit.plan_summary(op(documents))
        assert s["shuffles"] == 0, op.__name__
        assert not s["cartesian"]


def test_sampling_and_mixture_scan_local(spark, documents):
    from vector_indexer_spark.operators.splits import (
        corpus_mixture,
        stratified_sample,
    )

    s = audit.plan_summary(
        stratified_sample(documents, {"src0": 0.5}, default_rate=0.1)
    )
    assert s["shuffles"] == 0
    s = audit.plan_summary(corpus_mixture(documents, {"src0": 2.5}))
    assert s["shuffles"] == 0  # explode is scan-local


def test_pack_sequences_single_shuffle(spark, documents):
    from vector_indexer_spark.operators.text_analysis import pack_sequences

    s = audit.plan_summary(
        pack_sequences(documents, budget=256, n_streams=4)
    )
    assert s["shuffles"] == 1  # one exchange on the stream key


def test_bq_encode_scan_local_and_search_broadcasts(spark, embeddings):
    from vector_indexer_spark.operators.bq import (
        BQModel,
        bq_encode,
        bq_search,
    )

    model = BQModel(thresholds=(0.0,) * 64)
    codes = bq_encode(
        embeddings.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("values")
        ),
        model,
    )
    s = audit.plan_summary(codes)
    assert s["shuffles"] == 0
    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    s = audit.plan_summary(bq_search(codes, model, q, k=5))
    assert s["broadcasts"] >= 1
    assert not s["cartesian"]


def test_pca_project_scan_local(spark, embeddings):
    from vector_indexer_spark.operators.pca import PCAModel, pca_project

    model = PCAModel(
        mean=(0.0,) * 64,
        components=tuple(
            tuple(0.125 if i == j else 0.0 for i in range(64))
            for j in range(4)
        ),
        explained_variance=(0.0,) * 4,
    )
    vec = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    for method in ("native", "arrow"):
        s = audit.plan_summary(pca_project(vec, model, method=method))
        assert s["shuffles"] == 0, method


def test_olap_pricing_summary_pushdown_single_shuffle(spark):
    from vector_indexer_spark.operators.olap import pricing_summary

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    s = audit.plan_summary(pricing_summary(li))
    # shipdate predicate reaches the parquet scan; the only exchange
    # is the final 6-row aggregation (plus AQE's ordering exchange)
    assert any("l_shipdate" in f for f in s["pushed_filters"])
    assert s["shuffles"] <= 2
    assert not s["cartesian"]


def test_olap_q3_filters_pushed_and_no_cartesian(spark):
    from vector_indexer_spark.operators.olap import shipping_priority

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    ords = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    s = audit.plan_summary(shipping_priority(cust, ords, li))
    pushed = " ".join(s["pushed_filters"])
    assert "o_orderdate" in pushed and "l_shipdate" in pushed
    assert "c_mktsegment" in pushed
    assert not s["cartesian"]


def test_olap_q5_broadcasts_dims(spark):
    from vector_indexer_spark.operators.olap import revenue_by_nation

    sf = "/root/testdata/sf0.001"
    out = revenue_by_nation(
        spark.read.parquet(f"{sf}/customer.parquet"),
        spark.read.parquet(f"{sf}/orders.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
        spark.read.parquet(f"{sf}/nation.parquet"),
        spark.read.parquet(f"{sf}/region.parquet"),
    )
    s = audit.plan_summary(out)
    # region->nation chain broadcasts; facts never nested-loop join
    assert s["broadcasts"] >= 1
    assert not s["cartesian"]
    assert any("o_orderdate" in f for f in s["pushed_filters"])


def test_bm25_single_stats_broadcast_no_big_shuffle(spark, documents):
    from vector_indexer_spark.operators.text_analysis import bm25_topk

    s = audit.plan_summary(bm25_topk(documents, ["spark", "hash"], k=5))
    # per-doc tf/dl are scan-local; the only broadcast is the 1-row
    # corpus stats; no shuffle carries doc-granular exploded tokens
    assert s["broadcasts"] >= 1
    assert not s["cartesian"] or s["broadcasts"] >= 1  # bnlj on 1-row side ok
    # top-k must be TakeOrdered (map-side local k + driver merge);
    # Spark 4.1 does NOT plant WindowGroupLimit under an unpartitioned
    # window, so a rank-then-filter here would funnel every scoring
    # doc through one task — pin the safe shape instead
    plan = audit.executed_plan(
        bm25_topk(documents, ["spark", "hash"], k=5)
    )
    assert "TakeOrderedAndProject" in plan


def test_asof_single_user_shuffle(spark):
    from vector_indexer_spark.sources.files import read_events_ns
    from vector_indexer_spark.streaming.events import asof_join_prior

    ev = read_events_ns(
        spark, "/root/testdata/sf0.001/events.parquet"
    )
    s = audit.plan_summary(
        asof_join_prior(ev, left_type="purchase", right_type="click")
    )
    # one hash-partition exchange on user_id feeds the carried-state
    # window; no joins at all in the plan
    assert s["shuffles"] == 1
    assert not s["cartesian"]


def test_cap_per_group_single_shuffle(spark, documents):
    from vector_indexer_spark.operators.splits import cap_per_group

    s = audit.plan_summary(cap_per_group(documents, 5))
    assert s["shuffles"] == 1
    assert not s["cartesian"]


def test_salted_counts_two_bounded_shuffles(spark, documents):
    from vector_indexer_spark.operators.skew import salted_counts

    s = audit.plan_summary(
        salted_counts(documents, "source", salt_source_col="doc_id")
    )
    # stage1 (key, salt) + stage2 (key) — both map-side combined
    assert s["shuffles"] == 2
    assert not s["cartesian"]


def test_late_orders_no_cartesian_semi_join(spark):
    from vector_indexer_spark.operators.olap import late_order_counts

    sf = "/root/testdata/sf0.001"
    out = late_order_counts(
        spark.read.parquet(f"{sf}/orders.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    s = audit.plan_summary(out)
    assert not s["cartesian"]


def test_props_rollup_scan_local_parse(spark):
    from vector_indexer_spark.streaming.events import props_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    s = audit.plan_summary(props_rollup(ev))
    # from_json is a projection over the scan; one agg exchange
    assert s["shuffles"] == 1
    assert not s["cartesian"]


def test_fact_fact_join_degrades_to_sort_merge_without_broadcast(spark):
    # at warehouse scale neither fact side broadcasts: with the
    # broadcast threshold off, orders ⋈ lineitem must plan as a
    # key-partitioned SortMergeJoin on orderkey — the co-partition
    # strategy the olap docstrings promise — never a nested loop
    from vector_indexer_spark.operators.olap import shipping_priority

    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = shipping_priority(
            spark.read.parquet(f"{sf}/customer.parquet"),
            spark.read.parquet(f"{sf}/orders.parquet"),
            spark.read.parquet(f"{sf}/lineitem.parquet"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_fact_join_has_no_shuffle(spark, tmp_path):
    # the bucketing claim made in olap.py's module docstring, proven:
    # both facts bucketed by orderkey -> SortMergeJoin with ZERO
    # Exchange operators (co-located join, the 100 TB fact-fact shape)
    import uuid

    from vector_indexer_spark.plans import audit

    sf = "/root/testdata/sf0.001"
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    suffix = uuid.uuid4().hex[:8]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        (
            spark.read.parquet(f"{sf}/orders.parquet")
            .write.bucketBy(4, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(f"orders_b_{suffix}")
        )
        (
            spark.read.parquet(f"{sf}/lineitem.parquet")
            .write.bucketBy(4, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(f"lineitem_b_{suffix}")
        )
        o = spark.table(f"orders_b_{suffix}")
        li = spark.table(f"lineitem_b_{suffix}")
        joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
            "o_orderkey", "l_extendedprice"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert audit.shuffle_count(joined) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS orders_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS lineitem_b_{suffix}")


def test_q6_predicates_all_pushed(spark):
    from vector_indexer_spark.entry_queries import QUERIES

    out = QUERIES["olap_forecast_revenue"](spark, "/root/testdata/sf0.001")
    s = audit.plan_summary(out)
    pushed = " ".join(s["pushed_filters"])
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, c
    assert s["shuffles"] <= 1 and not s["cartesian"]


def test_global_topk_windows_rewrite_to_take_ordered(spark, documents, embeddings):
    """Every global-window top-k (rank <= k over an unpartitioned
    Window) must be optimizer-rewritten to TakeOrderedAndProject — a
    distributed partial top-k — so the single-partition exchange never
    carries corpus-scale rows. This pins the Spark 4.x rewrite the
    operators rely on: if a future change (extra projection between
    the filter and the window, a non-row_number rank) breaks the
    rewrite, these assertions catch it before 100 TB does."""
    from vector_indexer_spark.operators.similarity import embedding_outliers
    from vector_indexer_spark.operators.text_analysis import (
        bm25_topk,
        collocations,
    )

    cases = {
        "bm25_topk": bm25_topk(documents, ["spark", "hash"], k=5),
        "collocations": collocations(documents, k=10),
        "embedding_outliers": embedding_outliers(
            embeddings, [[0.0] * 64], top_n=7, id_col="vec_id",
            vec_col="embedding",
        ),
    }
    for name, df in cases.items():
        plan = audit.executed_plan(df)
        assert "TakeOrderedAndProject" in plan, (
            f"{name}: global top-k not rewritten; the window would "
            f"move all scored rows to one partition\n{plan[:1500]}"
        )


def test_media_codec_ops_are_scan_local(spark):
    """The whole multimodal stage (PNG resize, WAV features, AVI frame
    explode) is mapInPandas over the scan — zero shuffles, zero
    broadcasts: per-payload work scales embarrassingly with executors."""
    import numpy as np

    from vector_indexer_spark.operators.multimodal import (
        audio_features,
        demux_video_frames,
        encode_avi,
        encode_png,
        encode_wav,
        resize_images,
    )

    img = encode_png(np.zeros((8, 8, 3), dtype=np.uint8))
    wav = encode_wav(np.zeros((16, 1), dtype=np.int16), 8000)
    avi = encode_avi([img, img], 40000, 8, 8)
    media = spark.createDataFrame(
        [(0, "image", bytearray(img), "t"),
         (1, "audio", bytearray(wav), "t"),
         (2, "video", bytearray(avi), "t")],
        "media_id long, modality string, content binary, source string",
    )
    for df in (
        resize_images(media, 4, 4),
        audio_features(media),
        demux_video_frames(media),
    ):
        s = audit.plan_summary(df)
        assert s["shuffles"] == 0 and s["broadcasts"] == 0


def test_bpe_apply_scan_local_and_train_topk(spark, documents):
    """BPE apply is mapInPandas over the scan (zero shuffles); the
    trainer's vocabulary cap compiles to a distributed partial top-k
    (TakeOrderedAndProject), never a single-partition global sort."""
    from vector_indexer_spark.operators.bpe import bpe_tokenize

    s = audit.plan_summary(
        bpe_tokenize(documents, [("a", "b")])
    )
    assert s["shuffles"] == 0 and s["broadcasts"] == 0
    freq = (
        documents.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(1000)
    )
    assert "TakeOrderedAndProject" in audit.executed_plan(freq)


def test_olap_q7_broadcast_dims_single_fact_join(spark):
    from vector_indexer_spark.operators.olap import volume_shipping

    sf = "/root/testdata/sf0.001"
    df = volume_shipping(
        spark.read.parquet(f"{sf}/supplier.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
        spark.read.parquet(f"{sf}/orders.parquet"),
        spark.read.parquet(f"{sf}/customer.parquet"),
        spark.read.parquet(f"{sf}/nation.parquet"),
    )
    s = audit.plan_summary(df)
    # both dimension chains broadcast; the only shuffles are the
    # lineitem ⋈ orders fact join + the final group/sort
    assert s["broadcasts"] >= 2
    assert not s["cartesian"]
    assert any("l_shipdate" in f for f in s["pushed_filters"])


def test_olap_q14_broadcast_part_pushed_dates(spark):
    from vector_indexer_spark.operators.olap import promo_revenue

    sf = "/root/testdata/sf0.001"
    s = audit.plan_summary(
        promo_revenue(
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/part.parquet"),
        )
    )
    # part joins by broadcast; the ship-date band reaches the scan
    assert s["broadcasts"] >= 1
    assert any("l_shipdate" in f for f in s["pushed_filters"])
    assert not s["cartesian"]


def test_olap_q15_single_fact_aggregation(spark):
    from vector_indexer_spark.operators.olap import top_suppliers

    sf = "/root/testdata/sf0.001"
    s = audit.plan_summary(
        top_suppliers(
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/supplier.parquet"),
        )
    )
    # the revenue view is one suppkey shuffle; the scalar max and the
    # name lookup are broadcast-sized (the cross join's build side is
    # a 1-row aggregate — a broadcast NLJ, not a real cartesian)
    assert s["broadcasts"] >= 2
    assert any("l_shipdate" in f for f in s["pushed_filters"])


def test_olap_q17_part_slice_broadcast_both_ways(spark):
    from vector_indexer_spark.operators.olap import small_quantity_revenue

    sf = "/root/testdata/sf0.001"
    s = audit.plan_summary(
        small_quantity_revenue(
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/part.parquet"),
        )
    )
    # brand/size predicates prune the part scan; the slice and the
    # per-part averages both attach by broadcast — the fact shuffles
    # only for the average aggregation
    assert s["broadcasts"] >= 2
    pushed = " ".join(s["pushed_filters"])
    assert "p_brand" in pushed and "p_size" in pushed
    assert not s["cartesian"]


def test_olap_q21_semi_anti_no_cartesian(spark):
    from vector_indexer_spark.operators.olap import waiting_suppliers

    sf = "/root/testdata/sf0.001"
    s = audit.plan_summary(
        waiting_suppliers(
            spark.read.parquet(f"{sf}/supplier.parquet"),
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/orders.parquet"),
            spark.read.parquet(f"{sf}/nation.parquet"),
            nation_name="NATION_7",
        )
    )
    # EXISTS/NOT EXISTS decorrelate to semi/anti hash joins on
    # orderkey — never a nested-loop over the fact
    plan = audit.executed_plan(
        waiting_suppliers(
            spark.read.parquet(f"{sf}/supplier.parquet"),
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/orders.parquet"),
            spark.read.parquet(f"{sf}/nation.parquet"),
            nation_name="NATION_7",
        )
    )
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert not s["cartesian"]
    assert any("o_orderstatus" in f for f in s["pushed_filters"])


def test_olap_q9_dims_broadcast_one_fact_fact_join(spark):
    from vector_indexer_spark.operators.olap import product_type_profit

    sf = "/root/testdata/sf0.001"
    s = audit.plan_summary(
        product_type_profit(
            spark.read.parquet(f"{sf}/lineitem.parquet"),
            spark.read.parquet(f"{sf}/orders.parquet"),
            spark.read.parquet(f"{sf}/part.parquet"),
            spark.read.parquet(f"{sf}/supplier.parquet"),
            spark.read.parquet(f"{sf}/nation.parquet"),
        )
    )
    # part slice + supplier→nation map broadcast; lineitem⋈orders is
    # the only shuffle join; name LIKE prunes the part scan
    assert s["broadcasts"] >= 2
    assert not s["cartesian"]


def test_partitioned_rank_filter_gets_window_group_limit(spark, documents):
    # unlike the unpartitioned case (see the bm25 test), Spark 4.1
    # DOES plant WindowGroupLimit for rank-filter over a PARTITIONED
    # window — per-group top-k forwards k rows per (map task, group).
    # top_tokens relies on that; pin it.
    from vector_indexer_spark.operators.text_analysis import top_tokens

    plan = audit.executed_plan(top_tokens(documents, k=5))
    assert "WindowGroupLimit" in plan


def test_olap_q2_broadcast_dim_chain_and_catalog_min(spark):
    from vector_indexer_spark.operators.olap import min_cost_supplier

    sf = "/root/testdata/sf0.001"
    df = min_cost_supplier(
        spark.read.parquet(f"{sf}/part.parquet"),
        spark.read.parquet(f"{sf}/supplier.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
        spark.read.parquet(f"{sf}/nation.parquet"),
        spark.read.parquet(f"{sf}/region.parquet"),
    )
    s = audit.plan_summary(df)
    # region→nation→supplier chain and the part slice all broadcast;
    # only the derived catalog groupBy + min-join-back shuffle
    assert s["broadcasts"] >= 3
    assert not s["cartesian"]
    assert any("r_name" in f for f in s["pushed_filters"])
    assert any("p_size" in f for f in s["pushed_filters"])


def test_olap_q12_pushed_year_single_fact_join(spark):
    from vector_indexer_spark.operators.olap import shipmode_priority

    sf = "/root/testdata/sf0.001"
    df = shipmode_priority(
        spark.read.parquet(f"{sf}/orders.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
    )
    s = audit.plan_summary(df)
    assert not s["cartesian"]
    # year(l_shipdate) = 1997 push-translates to a shipdate range
    assert any("l_shipdate" in f for f in s["pushed_filters"])


def test_olap_q16_exclusion_anti_join_broadcasts(spark):
    from vector_indexer_spark.operators.olap import parts_supplier_counts

    sf = "/root/testdata/sf0.001"
    df = parts_supplier_counts(
        spark.read.parquet(f"{sf}/part.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
        spark.read.parquet(f"{sf}/supplier.parquet"),
    )
    s = audit.plan_summary(df)
    # the negative-balance exclusion list and the part slice broadcast
    assert s["broadcasts"] >= 2
    assert not s["cartesian"]
    assert any("s_acctbal" in f for f in s["pushed_filters"])


def test_olap_q20_dominance_shares_prefiltered_scan(spark):
    from vector_indexer_spark.operators.olap import excess_stock_suppliers

    sf = "/root/testdata/sf0.001"
    df = excess_stock_suppliers(
        spark.read.parquet(f"{sf}/supplier.parquet"),
        spark.read.parquet(f"{sf}/nation.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
        spark.read.parquet(f"{sf}/part.parquet"),
    )
    s = audit.plan_summary(df)
    assert s["broadcasts"] >= 2
    assert not s["cartesian"]
    assert any("p_name" in f for f in s["pushed_filters"])


def test_graph_index_search_no_cartesian_broadcast_queries(spark, tmp_path):
    from vector_indexer_spark.operators.graph_index import (
        build_graph_index,
        search_graph_index,
    )

    sub = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 50)
        .select("vec_id", "embedding")
    )
    idx = build_graph_index(
        sub, str(tmp_path / "gidx"), k=3, iterations=1, coarse_size=10,
        id_col="vec_id", vec_col="embedding",
    )
    q = sub.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    out = search_graph_index(
        spark, idx, sub, q, k=3, beam=4, max_hops=1, entry_fanout=3
    )
    s = audit.plan_summary(out)
    plan = audit.executed_plan(out)
    # the iterative state is localCheckpoint-truncated, so the FINAL
    # plan must be rooted at a materialized RDD scan (constant-size
    # plan regardless of hops — the discipline that keeps driver-side
    # Catalyst analysis from going exponential), with only the final
    # per-query window + rank filter on top
    assert "ExistingRDD" in plan
    assert not s["cartesian"]
    assert s["shuffles"] <= 1  # the final query_id window exchange


def test_pagerank_plan_truncated_per_iteration(spark):
    """Round-5 verdict nit: pagerank's per-iteration plan grew linearly
    (and `nodes` was persisted without unpersist). The rank frame is
    now localCheckpoint-ed each round, so the RETURNED plan must be
    rooted at a materialized RDD scan — constant size regardless of
    iteration count — with no shuffles left above it."""
    from vector_indexer_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(50)]
        + [(i, (i * 13 + 3) % 50) for i in range(50)],
        "src long, dst long",
    )
    out = pagerank(edges, iterations=4)
    plan = audit.executed_plan(out)
    assert "ExistingRDD" in plan
    s = audit.plan_summary(out)
    assert s["shuffles"] == 0
    # values are the integer-exact recurrence regardless of plan shape:
    # total mass conserved-or-dropped means every rank >= base share
    rows = out.collect()
    assert len(rows) == 50
    assert all(r.rank_micros >= 150_000 for r in rows)


def test_connected_components_plan_truncated_per_round(spark):
    """The distributed pointer-jumping path (forced via
    max_pairs_driver=0) must follow the engine-wide iterative-state
    discipline: labels are localCheckpoint-ed per round, so the
    RETURNED plan is rooted at a materialized RDD scan and the shuffle
    count above it is a CONSTANT — a long chain (many jumping rounds)
    must produce the same plan shape as a shallow graph."""
    from vector_indexer_spark.operators.graph import connected_components

    def plan_stats(edges):
        out = connected_components(edges, max_pairs_driver=0)
        plan = audit.executed_plan(out)
        s = audit.plan_summary(out)
        return "ExistingRDD" in plan, s["shuffles"]

    shallow = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)], "src long, dst long"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "src long, dst long"
    )
    rooted_a, shuffles_a = plan_stats(shallow)
    rooted_b, shuffles_b = plan_stats(chain)
    assert rooted_a and rooted_b
    assert shuffles_a == shuffles_b  # constant, not per-round

    # labels stay correct on the chain: one component, min-id root
    rows = connected_components(chain, max_pairs_driver=0).collect()
    assert len(rows) == 61
    assert {r.component for r in rows} == {0}


def test_graph_sq_refine_broadcasts_shortlist(spark, tmp_path):
    """Quantized traversal + exact refine: the refine stage must
    BROADCAST the tiny (nq x refine_factor*k) candidate set against the
    raw vector table — the big side never shuffles — and the traversal
    itself stays checkpoint-truncated with no cartesian products."""
    from vector_indexer_spark.operators.graph_index import (
        build_graph_index,
        search_graph_index_sq,
    )
    from vector_indexer_spark.operators.sq import sq_encode, sq_train

    sub = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 50)
        .select("vec_id", "embedding")
    )
    idx = build_graph_index(
        sub, str(tmp_path / "gsq"), k=3, iterations=1, coarse_size=10,
        id_col="vec_id", vec_col="embedding",
    )
    model = sq_train(sub, vec_col="embedding")
    codes = sq_encode(sub, model, id_col="vec_id", vec_col="embedding")
    q = sub.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    out = search_graph_index_sq(
        spark, idx, codes, q, model,
        k=3, beam=4, max_hops=1, entry_fanout=3,
        refine_factor=2, vectors=sub,
    )
    s = audit.plan_summary(out)
    plan = audit.executed_plan(out)
    assert "ExistingRDD" in plan  # traversal state is checkpoint-rooted
    assert not s["cartesian"]
    assert s["broadcasts"] >= 2  # shortlist + query batch
    # exactly two query-batch-sized exchanges: the shortlist's own
    # per-query ranking window and the refine window. The raw vector
    # scan joins against BROADCAST candidates without shuffling — no
    # corpus-sized exchange anywhere.
    assert s["shuffles"] <= 2


def test_maxsim_ann_doc_tokens_never_shuffle_before_agg(
    spark, embeddings, tmp_path
):
    """PLAID-shaped MaxSim: both candidate-generation joins carry
    explicit broadcast hints (hits = nq_tokens*token_k rows; cand =
    candidate doc ids) — at 100 TB doc-token scale a missed runtime
    broadcast would shuffle the full token table twice. Assert NO
    shuffled join anywhere in the plan: the doc-token side's only
    exchanges are the aggregation's (and the final ranking window's),
    all AFTER map-side partial aggregation."""
    from vector_indexer_spark.operators.index_build import build_index
    from vector_indexer_spark.operators.similarity import (
        maxsim_multivector_ann,
    )

    toks = embeddings.filter(F.col("vec_id") < 80).select(
        F.expr("vec_id div 4").alias("doc_id"),
        F.col("vec_id").alias("tok_id"),
        "embedding",
    )
    idx = build_index(
        toks.select(
            F.col("tok_id").alias("id"), F.col("embedding").alias("values")
        ),
        str(tmp_path / "maxsim_plan_idx"),
        nlist=4,
        seed=3,
    )
    q = embeddings.filter(F.col("vec_id").isin(0, 1, 40, 41)).select(
        F.expr("vec_id div 4").alias("query_id"),
        F.col("vec_id").alias("qtok_id"),
        F.col("embedding").alias("query"),
    )
    out = maxsim_multivector_ann(
        spark, toks, q, idx, k=5, token_k=8, n_probe=idx.nlist
    )
    s = audit.plan_summary(out)
    plan = audit.executed_plan(out)
    # every join in the chain is broadcast — a SortMergeJoin or
    # ShuffledHashJoin would mean a doc-token-table-sized exchange
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert not s["cartesian"]
    # hits, qtok2query, cand, qbag (+ the IVF probe path's own hints)
    assert s["broadcasts"] >= 4
    # the scoring aggregation is map-side combinable before its exchange
    assert "partial_max" in plan or "partial" in plan.lower()


def test_sparse_topk_posting_join_broadcasts_queries(spark):
    """The sparse posting join must broadcast the (bounded) query
    postings — a shuffled term join would exchange the full doc
    posting table at 100-TB scale. The only doc-side exchanges are the
    posting-construction aggregate (text path) and the map-side
    combined score aggregation."""
    import numpy as np

    from vector_indexer_spark.operators.sparse import sparse_topk
    from vector_indexer_spark.plans import audit

    rng = np.random.default_rng(0)
    rows = [
        (
            int(i),
            [int(x) for x in np.sort(rng.choice(60, 5, replace=False))],
            [float(x) for x in rng.uniform(0.1, 1.0, 5)],
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, indices array<int>, weights array<double>"
    )
    q = spark.createDataFrame(
        rows[:3],
        "query_id long, indices array<int>, weights array<double>",
    )
    out = sparse_topk(df, q, k=5)
    plan = audit.executed_plan(out)
    s = audit.plan_summary(out)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert not s["cartesian"]
    assert s["broadcasts"] >= 1
    assert "partial_sum" in plan  # map-side combine before the exchange
    # pre-encoded sparse vectors: score agg + ranking window only
    assert s["shuffles"] <= 2


def test_sparse_bm25_no_doc_sized_broadcast(spark, documents):
    """The BM25 path must not broadcast any doc-keyed relation (the
    per-doc length table is corpus-sized — broadcasting it is a
    driver/executor OOM at 1B+ docs). dl comes from a window sum over
    the tf frame; the only broadcasts are the bounded term-space df
    table, the 1-row corpus stats, and the bounded query side."""
    from vector_indexer_spark.operators.sparse import sparse_search_tokens
    from vector_indexer_spark.plans import audit

    docs = documents.select("doc_id", "text")
    q = docs.limit(3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    out = sparse_search_tokens(docs, q, k=5, weighting="bm25")
    plan = audit.executed_plan(out)
    # the old plan joined `dl = tf.groupBy(id).sum` via
    # BroadcastHashJoin on the doc id — a corpus-sized broadcast. The
    # rewrite computes dl as a window sum, so NO broadcast join may be
    # keyed on the doc id; the only legitimate broadcast joins key on
    # `term` (bounded df table / query postings), and the 1-row stats
    # frame arrives via IdentityBroadcastMode (BNL), not a hash join.
    assert not re.search(r"BroadcastHashJoin \[id#", plan), (
        "doc-id keyed broadcast join in the BM25 plan"
    )
    assert out.count() > 0


def test_sparse_champion_cap_two_stage(spark):
    """The champion-list cap must be two-stage (salted pre-rank then
    bounded global rank): a single window on `term` serializes every
    posting of a hot term through one task — the exact skew the cap
    exists to tame."""
    import numpy as np

    from vector_indexer_spark.operators.sparse import sparse_topk
    from vector_indexer_spark.plans import audit

    rng = np.random.default_rng(1)
    rows = [
        (
            int(i),
            [int(x) for x in np.sort(rng.choice(60, 5, replace=False))],
            [float(x) for x in rng.uniform(0.1, 1.0, 5)],
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, indices array<int>, weights array<double>"
    )
    q = spark.createDataFrame(
        rows[:3],
        "query_id long, indices array<int>, weights array<double>",
    )
    out = sparse_topk(df, q, k=5, max_postings_per_term=4)
    plan = audit.executed_plan(out)
    # stage 1 partitions by (term, salt); stage 2 by term alone
    assert re.search(r"Window .*term#\d+L?, __salt#", plan), plan[:2000]
    assert plan.count("Window") >= 3  # salted cap + global cap + rank


def test_ivfbq_codes_never_shuffle(spark, embeddings):
    """IVF-BQ candidates come from codes JOIN broadcast(probes): the
    1-bit codes table must not shuffle; scales and centroids are
    nlist-sized broadcasts."""
    from vector_indexer_spark.operators.ivfbq import (
        ivfbq_encode,
        ivfbq_search,
        ivfbq_train_scales,
    )
    from vector_indexer_spark.plans import audit

    cents = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    assigned = embeddings.select(
        F.col("vec_id").alias("id"),
        (F.col("vec_id") % 8).alias("cluster_id"),
        F.col("embedding").alias("values"),
    )
    codes = ivfbq_encode(assigned, cents)
    scales = ivfbq_train_scales(assigned, cents)
    q = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    out = ivfbq_search(codes, cents, q, k=5, n_probe=4, scales=scales)
    plan = audit.executed_plan(out)
    s = audit.plan_summary(out)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert not s["cartesian"]
    assert s["broadcasts"] >= 4  # probes, centroids, queries, scales


def test_bq_adc_single_shuffle_codes_only_scan(spark, embeddings):
    """Flat ADC: codes-only scan (raw vectors column-pruned away),
    broadcast query batch, ONE exchange (the ranking window)."""
    from vector_indexer_spark.operators.bq import (
        BQModel,
        bq_adc_search,
        bq_encode,
    )
    from vector_indexer_spark.plans import audit

    vec = embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("values")
    )
    model = BQModel(thresholds=(0.0,) * 64)
    codes = bq_encode(vec, model)
    q = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query")
    )
    out = bq_adc_search(codes, model, q, k=5)
    s = audit.plan_summary(out)
    assert s["shuffles"] == 1
    assert s["broadcasts"] == 1
    assert not s["cartesian"]
