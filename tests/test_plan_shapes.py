"""Physical-plan regression tests: the shapes that keep 100x scale-ups
safe.  These assert properties of the PLAN, not the results — a
regression here (a stray CartesianProduct, a lost broadcast, a filter
that stops reaching the scan) is invisible to result tests but fatal at
cluster scale."""

from __future__ import annotations

import numpy as np
import pytest


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pair_candidates_have_no_cartesian(spark):
    from geo_spark.operators.geom_join import _pair_candidates
    from geo_spark.operators.spatial_join import build_layer
    from geo_spark.sources.layers import city_loop_regions

    a = build_layer(spark, city_loop_regions(10), max_cells=8)
    b = build_layer(spark, city_loop_regions(6), max_cells=8)
    plan = _plan_of(_pair_candidates(a, b))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_join_broadcasts_dimension_covering(spark):
    from pyspark.sql import functions as F

    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.spatial_join import build_layer, spatial_join
    from geo_spark.sources.layers import city_loop_regions

    layer = build_layer(spark, city_loop_regions(10), max_cells=8)
    ev = with_geo_noise(spark.range(1000).withColumnRenamed("id", "pid"), "pid")
    ev = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    joined = spatial_join(ev, layer, point_key="pid", latlng=("lat", "lng"))
    plan = _plan_of(joined)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # refine stays a shuffle-free arrow stage for closure layers
    assert "MapInPandas" in plan


def test_range_predicates_push_to_parquet_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(spark.range(5000).withColumnRenamed("id", "pid"), "pid")
    ev = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    path = str(tmp_path / "cells")
    ev.select("pid", "cell_id").repartitionByRange(4, "cell_id").sortWithinPartitions(
        "cell_id"
    ).write.parquet(path)
    df = spark.read.parquet(path).where(
        "(cell_id BETWEEN 1000000 AND 2000000000) OR "
        "(cell_id BETWEEN -4000000000 AND -100)"
    )
    plan = _plan_of(df)
    assert "PushedFilters" in plan or "DataFilters" in plan
    assert "cell_id" in plan


def test_tile_pipeline_single_python_stage(spark, tmp_path):
    """The flagship path must stay one fused Arrow hop: scan -> one
    Python stage (extract+encode) -> JVM tile key + agg."""
    from geo_spark.operators.tiling import tile_counts
    from geo_spark.sources.extract import extract_encode
    from geo_spark.sources.pages import synth_pages

    src = str(tmp_path / "pages_plan")
    synth_pages(spark, 500, partitions=2).write.parquet(src)
    out = tile_counts(extract_encode(spark.read.parquet(src)), 10, sort=False)
    plan = _plan_of(out)
    # exactly one Arrow-boundary operator in the whole plan
    n_python = plan.count("MapInArrow") + plan.count("MapInPandas")
    assert n_python == 1, plan
    assert "HashAggregate" in plan


def test_pages_join_single_point_pass(spark, tmp_path, as_distributed):
    """spatial_join refines interior and boundary candidates in one
    pass: the point side (scan, extract, explode, join) is planned
    once, on both refine tiers — one parquet scan, one extract hop, one
    refine hop, no Union."""
    from geo_spark.operators.spatial_join import build_layer, spatial_join
    from geo_spark.sources.extract import extract_encode
    from geo_spark.sources.layers import city_loop_regions
    from geo_spark.sources.pages import synth_pages

    src = str(tmp_path / "pages_join_plan")
    synth_pages(spark, 500, partitions=2).write.parquet(src)
    layer = build_layer(spark, city_loop_regions(10), max_cells=8)
    for lay in (layer, as_distributed(layer)):
        enc = extract_encode(spark.read.parquet(src), keep=("url",))
        plan = _plan_of(
            spatial_join(enc, lay, point_key="url", latlng=("lat", "lng"))
        )
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("MapInArrow") == 1, plan
        assert plan.count("MapInPandas") == 1, plan
        assert "Union" not in plan, plan


def test_knn_brute_plan_is_pure_map(spark):
    from geo_spark.operators.knn import _knn_brute

    pts = spark.createDataFrame(
        [(i, float(i % 80 - 40), float(i % 170 - 85)) for i in range(200)],
        "pid long, lat double, lng double",
    )
    tg = spark.createDataFrame(
        [(i, float(i % 60 - 30), float(i % 150 - 75)) for i in range(30)],
        "tid long, lat double, lng double",
    )
    plan = _plan_of(_knn_brute(pts, tg, 3, "pid", "tid", ("lat", "lng"), ("lat", "lng")))
    # closure-shipped targets: no join, no shuffle exchange at all
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_knn_broadcast_ring_plan_is_pure_map(spark):
    # The middle tier ships targets in the closure: the plan must be
    # scan -> (optional repartition lift) -> ArrowEvalPython with no
    # join; with enough input partitions, no Exchange at all.
    from geo_spark.operators.knn import _knn_broadcast_ring

    from pyspark.sql import functions as F

    # spark.range carries defaultParallelism splits natively, so the
    # operator's under-partitioned-scan lift must NOT fire
    pts = spark.range(500).select(
        F.col("id").alias("pid"),
        (F.col("id") % 80 - 40).cast("double").alias("lat"),
        (F.col("id") % 170 - 85).cast("double").alias("lng"),
    )
    tg = spark.createDataFrame(
        [(i, float(i % 60 - 30), float(i % 150 - 75)) for i in range(300)],
        "tid long, lat double, lng double",
    )
    plan = _plan_of(
        _knn_broadcast_ring(
            pts, tg, 3, "pid", "tid", ("lat", "lng"), ("lat", "lng")
        )
    )
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_line_dedup_plan_native_and_combined(spark):
    # line_dedup must stay whole-stage-codegen native SQL: no Python
    # eval nodes, and the line-count aggregation must show a partial
    # (map-side) HashAggregate before its exchange.
    from geo_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(i, f"l{i}\ncommon\nl{i}b") for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan_of(line_dedup(docs))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_stay_points_single_exchange(spark):
    """The lag window and the (user, run) rollup must share the user
    hash partitioning — one full-data Exchange total."""
    from geo_spark.operators.sessionize import stay_points

    ev = spark.createDataFrame(
        [(1, 1, 10.0, 10.0, 0)],
        "user_id long, event_id long, lat double, lng double, ts_us long",
    )
    plan = _plan_of(stay_points(ev, zoom=3))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan and "MapInPandas" not in plan


def test_transition_matrix_no_python_two_exchanges(spark):
    """One window exchange over the data + the count aggregate; the
    ppm normalization must reuse the tiny aggregate, never reshuffle
    the input."""
    from geo_spark.operators.sessionize import transition_matrix

    ev = spark.createDataFrame(
        [(1, 1, "a")], "user_id long, ts long, event_type string"
    )
    plan = _plan_of(transition_matrix(ev, order_cols=("ts",)))
    assert "Python" not in plan
    # window(user) + groupBy(prev,state) + window(prev_state): 3 hash
    # exchanges max, all over the aggregate-or-smaller tables
    assert plan.count("Exchange hashpartitioning") <= 3


def test_bloom_prefilter_no_join_before_refine(spark):
    """The bloom stage must be a pure Filter over the scan (literal
    array bit tests) — the only join in the plan is the exact refine,
    and it must be broadcast, not shuffled."""
    from geo_spark.operators.sketches import bloom_semi_join

    big = spark.range(1000).select(F_col("id").alias("k"))
    probe = spark.range(100).select((F_col("id") * 3).alias("pk"))
    plan = _plan_of(bloom_semi_join(big, "k", probe, "pk", bits_log2=12))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_decayed_tile_counts_single_aggregate(spark):
    from geo_spark.operators.tiling import decayed_tile_counts

    ev = spark.createDataFrame(
        [(10.0, 10.0, 0)], "lat double, lng double, ts_us long"
    )
    plan = _plan_of(decayed_tile_counts(ev, zoom=3))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "Python" not in plan


def F_col(name):
    from pyspark.sql import functions as F

    return F.col(name)


def test_robots_filter_broadcasts_rules(spark):
    from geo_spark.operators.webcorpus import parse_robots, robots_filter

    robots = spark.createDataFrame(
        [("a.com", "Disallow: /x\n")], "domain string, robots_txt string"
    )
    urls = spark.createDataFrame(
        [("a.com", "/x/1")], "domain string, path string"
    )
    plan = _plan_of(robots_filter(urls, parse_robots(robots)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_warc_parse_single_python_stage(spark):
    from geo_spark.sources.warc import parse_warc, synth_warc_blobs

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], "doc_id long, text string"
    )
    plan = _plan_of(parse_warc(synth_warc_blobs(docs, per_blob=4)))
    # exactly one Arrow stage for the parser itself (the synthesizer's
    # applyInPandas is the second); no shuffle between them beyond the
    # blob groupBy
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_robots_wildcard_filter_stays_broadcast_hash(spark):
    """The regex tier must keep the plain tier's plan: domain equality
    drives a broadcast HASH join; the rlike rides as the residual
    condition (a lost equi-key would degrade to nested-loop)."""
    from geo_spark.operators.webcorpus import parse_robots, robots_filter

    robots = spark.createDataFrame(
        [("a.com", "Disallow: /x*/y$\n")], "domain string, robots_txt string"
    )
    urls = spark.createDataFrame(
        [("a.com", "/x1/y")], "domain string, path string"
    )
    plan = _plan_of(
        robots_filter(urls, parse_robots(robots, wildcards=True), wildcards=True)
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_morans_colocation_no_cartesian_no_python(spark):
    from pyspark.sql import functions as F

    from geo_spark.operators.tiling import colocation_lift, local_morans, morans_i

    occ = spark.createDataFrame(
        [(x, y, x + y + 1) for x in range(4) for y in range(4)],
        "tx long, ty long, cnt long",
    )
    for df in (morans_i(occ, 4), local_morans(occ, 4)):
        plan = _plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    pts = spark.createDataFrame(
        [(x, y, "t%d" % (x % 2)) for x in range(4) for y in range(3)],
        "tx long, ty long, event_type string",
    )
    plan = _plan_of(colocation_lift(pts, 4))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_containment_and_prefix_jaccard_python_free(spark):
    from geo_spark.operators.dedup import containment_pairs, jaccard_pairs_prefix

    docs = spark.createDataFrame(
        [(i, "abcdefghijkl mnopqr" + str(i)) for i in range(6)],
        "doc_id long, text string",
    )
    for df in (
        containment_pairs(docs, n=8, threshold=0.5, max_df=4),
        jaccard_pairs_prefix(docs, n=8, threshold=0.5),
    ):
        plan = _plan_of(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_hll_and_cms_partial_aggregation(spark):
    """Sketch builds must map-side combine: two HashAggregate nodes
    around the exchange (the mergeability story made visible)."""
    from geo_spark.operators.sketches import cms_sketch, hll_registers

    df = spark.createDataFrame(
        [("a", i % 7) for i in range(50)], "grp string, v long"
    )
    for out in (
        hll_registers(df, ["grp"], "v", p=4),
        cms_sketch(df, ["grp"], "v", depth=2, width=16),
    ):
        plan = _plan_of(out)
        assert plan.count("HashAggregate") >= 2
        assert "BatchEvalPython" not in plan


def test_substring_dedup_and_bpe_python_free(spark):
    """The substring-dedup pass and BPE training run entirely JVM-side
    (windows + aggregates), no Python rows, no cartesian joins."""
    from geo_spark.operators.dedup import dup_spans, remove_spans
    from geo_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(i, "shared boilerplate text here " + str(i)) for i in range(6)],
        "doc_id long, text string",
    )
    spans = dup_spans(docs, gram_len=10)
    for df in (spans, remove_spans(docs, spans)):
        plan = _plan_of(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
    plan = _plan_of(bpe_train(docs, n_merges=2))
    # bpe_train returns a driver-built table; assert the per-step scan
    # machinery instead: the token table plan after one loop is free of
    # Python and cartesian joins
    from pyspark.sql import functions as F

    words = (
        docs.select(F.explode(F.split(F.lower("text"), " +")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    p = _plan_of(words)
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p


def test_kcore_cocitation_python_free_no_cartesian(spark):
    from geo_spark.operators.linkgraph import cocitation_pairs, kcore

    edges = spark.range(200).selectExpr(
        "id as src", "(id * id + 1) % 200 as dst"
    )
    plan = _plan_of(kcore(edges, k=2, max_rounds=2))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = _plan_of(cocitation_pairs(edges, min_common=2, max_df=8))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the wedge self-join must be an equi-join on the citer key
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_session9_graph_ops_python_free_no_cartesian(spark):
    """weighted_distances / resolve_redirects / url_templates /
    snapshot_diff: equi-joins and map-combined aggregates only — no
    CartesianProduct, no BroadcastNestedLoopJoin, no Python nodes."""
    from pyspark.sql import functions as F

    from geo_spark.operators.linkgraph import (
        resolve_redirects,
        weighted_distances,
    )
    from geo_spark.operators.webcorpus import snapshot_diff, url_templates

    n = 500
    ev = spark.range(n).withColumnRenamed("id", "src")
    edges = ev.select(
        "src",
        ((F.col("src") * 7 + 3) % n).alias("dst"),
        (F.col("src") % 9 + 1).alias("w"),
    )
    seeds = spark.range(5).withColumnRenamed("id", "id")
    for df in (
        weighted_distances(edges, seeds, rounds=2),
        resolve_redirects(edges, rounds=2),
        url_templates(
            spark.range(200).select(
                F.concat(
                    F.lit("https://a.com/p/"), F.col("id")
                ).alias("url")
            )
        ),
        snapshot_diff(
            edges.select(F.col("src").alias("url"), F.col("w").cast("string").alias("fp")),
            edges.select(F.col("src").alias("url"), F.col("dst").cast("string").alias("fp")),
        ),
    ):
        plan = _plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_text_sign_projection_stays_jvm_side(spark):
    """The JL featurizer must be pure codegen: no Python nodes, no
    cartesian — one token shuffle, one vocab window, one broadcast
    rank attach, one final groupBy."""
    from geo_spark.operators.text import text_sign_projection

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} shared") for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan_of(text_sign_projection(docs, out_dim=8))
    assert "CartesianProduct" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def test_incremental_minhash_has_no_cartesian_and_bounded_rerank(spark):
    """Delta dedup: candidates come from the band equi-join (never a
    cross product) and the rerank set cut is a broadcast join."""
    from geo_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, f"document body number {i} with shared boilerplate text")
         for i in range(40)],
        "doc_id long, text string",
    )
    buckets, sets = minhash_index(docs.where("doc_id < 30"), n=8)
    out = incremental_minhash_pairs(
        buckets, sets, docs.where("doc_id >= 30"), n=8, threshold=0.3
    )
    plan = _plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the needed-ids semi cut
