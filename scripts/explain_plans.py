"""Dump .explain("formatted") for the headline plans into PLANS.md with
the plan properties we engineered for (pushdown, codegen spans,
broadcast, single Python hop) called out."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

NOTES = {
    "tile_pipeline": """Properties to check:
- ONE `ArrowEvalPython`/`MapInArrow` node (the fused extract+encode hop); the
  tile assignment (`Parent`) and aggregation stay inside WholeStageCodegen.
- `ReadSchema` prunes to the html column (+ carried keys) at the parquet scan.
- Partial aggregation (`HashAggregate` x2 around the exchange) = map-side combine.""",
    "cap_join": """Properties to check:
- Covering side is a `LocalTableScan` (materialized literal covering) feeding a
  `BroadcastExchange` — no recompute, no shuffle of the points side.
- The per-level keys are literal bit-masks inside codegen (no UDF before the join).
- The points side is planned once: ONE events `Scan parquet` and ONE
  `MapInPandas` (the refine, after the join filtered candidates; interior
  candidates pass it untested), no `Union`.""",
    "knn_cities": """Properties to check:
- No join or shuffle at all: targets ship in the closure; the plan is
  scan -> one MapInPandas -> (optional sort).  This is the
  brute-force-below-threshold strategy of s2/edge_query.go:469-488.""",
    "exact_dedup": """Properties to check:
- `HashAggregate`(partial) -> Exchange on md5 -> `HashAggregate`(final):
  classic map-side-combined dedup, everything codegen.""",
    "knn_broadcast_ring": """Properties to check:
- The middle kNN tier (4096 < targets <= 500k): targets ship in the task
  closure as sorted numpy arrays; the plan is scan -> ArrowEvalPython
  with NO Join and NO Exchange (the under-partitioned-scan lift only
  fires on tiny local fixtures).  Zero driver-synchronized rounds vs
  1 action/round on the distributed ring tier.""",
    "geohash_rollup": """Properties to check:
- The whole geohash token derivation (quantize + Morton spread + base-32
  chars) is inside `WholeStageCodegen` — no Python eval node anywhere.
- `Expand` + partial `HashAggregate` BEFORE the exchange (rollup's
  map-side combine): the 10^12-row side reduces to one row per
  (grouping set x tile) per partition before any network traffic.""",
    "url_dedup": """Properties to check:
- URL canonicalization (regex strip/extract + case/port rules) is all
  codegen — no Python eval node.
- `HashAggregate`(partial) -> Exchange on canon_url ->
  `HashAggregate`(final): the dedup shuffle only moves one row per
  distinct canonical URL per partition.""",
    "line_dedup": """Properties to check:
- Native SQL end to end: no Python eval nodes anywhere.
- Line counts: `HashAggregate`(partial_count) BEFORE the exchange on the
  md5-prefix — hot boilerplate lines collapse map-side.
- Count attach is a JOIN (SMJ/BHJ), not a count-over-window: WindowExec
  would buffer the hottest key's rows in one task.""",
    "spacetime_pairs": """Properties to check:
- ONE `MapInArrow` node (probe-grid emission) on the probe side only;
  the home side is a pure codegen projection.
- The join is a hash/sort-merge EQUI-join on (pcell, ptb) — no
  CartesianProduct, no BroadcastNestedLoopJoin: the radius AND window
  predicates are post-join codegen filters on banded candidates.
- The final `dropDuplicates` exchange hashes only the refined result
  columns (a, b, dt_us) — result-set-sized, not candidate-sized.""",
    "geo_sessions": """Properties to check:
- ONE `Exchange hashpartitioning(user_id)` total: both Window nodes and
  the final (user, session) HashAggregate run on the same partitioning
  (HashPartitioning(user) satisfies the aggregate's distribution).
- No Python eval node anywhere — xyz is native trig, the break flag and
  travel are codegen column arithmetic.""",
    "bm25_scores": """Properties to check:
- The token explode + term IN filter is a codegen projection feeding a
  partial/final HashAggregate pair (map-side combine on (doc, term)).
- df table enters via BroadcastExchange; no second pass over tokens.""",
    "link_pagerank": """Properties to check:
- Per power iteration: one Exchange for the edges x ranks equi-join +
  one partial/final `HashAggregate` pair on dst (map-side combine).
- The dangling-mass aggregate enters via `BroadcastExchange` of a
  1-row plan — no collect, no driver value in the loop.
- Rank-vector scans read from `localCheckpoint` (flat lineage): the
  K=3 plan does not nest iteration 1's join inside iteration 3's.""",
    "tile_user_kmv": """Properties to check:
- TWO `WindowGroupLimit` nodes (Partial before the exchange, Final
  after): each map task forwards at most k hashes per tile it sees, so
  the rank window shuffles k rows per (task, tile), never the hash set.
- The 32-bit LCG hash and the integer-floor estimator are codegen
  column arithmetic — no Python eval node anywhere.
- `HashAggregate`(partial/final) pair for the distinct on (tile, hash)
  before the window (map-side combine on duplicates).""",
    "dbscan_pairs": """Properties to check:
- The eps-pair join is a hash EQUI-join on the probe cell — no
  CartesianProduct, no BroadcastNestedLoopJoin; the chord^2 radius
  predicate is a post-join codegen filter on banded candidates.
- The cell 8-neighborhood table enters via `BroadcastExchange` of a
  DISTINCT-cell `MapInArrow` (Python touches one row per occupied
  cell, never per event).
- The exactly-once dedup exchange hashes only (a, b) on the refined
  result — result-set-sized, not candidate-sized.""",
    "weighted_paths": """Properties to check:
- Per relaxation round: ONE equi-join (edges x frontier) -> partial
  HashAggregate (map-combined min) -> full-outer SortMergeJoin merge;
  the round ends at a localCheckpoint scan, so round R's plan does NOT
  re-derive rounds 1..R-1 (flat lineage — look for `Scan ExistingRDD`
  as the incumbent side).
- No Python nodes, no CartesianProduct, no window.""",
    "snapshot_diff": """Properties to check:
- Both sides project (key, fp) BEFORE the full-outer join: `ReadSchema`
  carries two columns; the page payload never reaches the exchange.
- With bucketed inputs the exchanges disappear entirely
  (tests/test_bucketed_join.py pins it against the planner).""",
    "cdc_apply": """Properties to check:
- Union -> partial HashAggregate(max(struct)) -> Exchange -> final
  HashAggregate: the merge is a map-combined aggregate, NOT a
  row_number window (no `Window` node, no per-partition sort of the
  full base).""",
    "text_sign_projection": """Properties to check:
- ZERO Python nodes: tokenize/tf/rank/mix/sums are all codegen; the
  vocabulary rank is bucket-windowed (Window partitioned by the
  2-char prefix) with the bucket-offset attach a BroadcastHashJoin —
  no vocabulary-sized single-partition Window, no CartesianProduct.
- Final groupBy is partial-aggregated (HashAggregate x2).""",
    "incremental_dedup": """Properties to check:
- Candidates come from an equi-join on (band, bh) — no
  CartesianProduct, no BroadcastNestedLoopJoin anywhere.
- The rerank set cut is a BroadcastHashJoin against the candidate-id
  list; only candidate shingle sets flow into the pair join.
- Exactly the fused-signature Arrow passes touch text (MapInPandas),
  once per side.""",
    "mercator_tiles": """Properties to check:
- scan -> ONE MapInPandas (projection kernel) -> sort: no join, no
  aggregate, no second Python hop; the filter on the pure-arithmetic
  sinlat stream sits below the Arrow node (evaluated in codegen
  before rows cross to Python).""",
    "tile_slope": """Properties to check:
- ZERO Python nodes: snapping, Horn weights and the octant CASE are
  all codegen.
- TWO partial/final HashAggregate pairs: raw rows collapse to occupied
  tiles FIRST (the only full-data shuffle), then the 8x weighted
  scatter explode multiplies only the bounded tile table and re-sums.
- The occupied left-join is tile-table-sized on both sides.""",
    "trail_network_edges": """Properties to check:
- ZERO Python nodes: round-half-away snapping and site keys are
  codegen CASE + FLOOR.
- ONE Exchange hashpartitioning(user) for the LEAD window (per-user
  state = one trajectory), then partial/final HashAggregate on the
  (u, v) edge key — the shuffle carries long pairs only.""",
    "clip_length_join": """Properties to check:
- Candidates are a hash EQUI-join on covering (channel, cell) terms
  between two dimension-sized covering tables — no CartesianProduct,
  no BroadcastNestedLoopJoin.
- ONE MapInPandas refine on candidate pairs; geometries ride the
  closure, segments never become rows.""",
}


def main() -> None:
    from geo_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    plans: dict[str, str] = {}

    def cap(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    from geo_spark.operators.tiling import tile_counts
    from geo_spark.sources.extract import extract_encode
    from geo_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 1000, partitions=2)
    plans["tile_pipeline"] = cap(tile_counts(extract_encode(pages), 10))
    plans["cap_join"] = cap(entry._q_cap_join_counts(spark, SF))
    plans["knn_cities"] = cap(entry._q_knn_cities(spark, SF))
    plans["exact_dedup"] = cap(entry._q_exact_dedup(spark, SF))

    from pyspark.sql import functions as F

    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.knn import _knn_broadcast_ring

    ev = with_geo_noise(
        spark.read.parquet(f"{SF}/events.parquet").select("event_id"), "event_id"
    )
    tg = with_geo_noise(
        spark.range(5000).select(F.col("id").alias("tid")), "(tid + 500000)"
    )
    plans["knn_broadcast_ring"] = cap(
        _knn_broadcast_ring(
            ev, tg, 3, "event_id", "tid", ("lat", "lng"), ("lat", "lng")
        )
    )
    plans["line_dedup"] = cap(entry._q_line_dedup(spark, SF))
    plans["geohash_rollup"] = cap(entry._q_geohash_rollup(spark, SF))
    plans["url_dedup"] = cap(entry._q_url_dedup(spark, SF))
    plans["spacetime_pairs"] = cap(entry._q_spacetime_pairs(spark, SF))
    plans["link_pagerank"] = cap(entry._q_link_pagerank(spark, SF))
    plans["geo_sessions"] = cap(entry._q_geo_sessions(spark, SF))
    plans["bm25_scores"] = cap(entry._q_bm25_scores(spark, SF))
    plans["tile_user_kmv"] = cap(entry._q_tile_user_kmv(spark, SF))

    from geo_spark.operators.clustering import within_distance_pairs

    plans["dbscan_pairs"] = cap(
        within_distance_pairs(ev, 0.02, key="event_id")
    )
    plans["weighted_paths"] = cap(entry._q_weighted_paths(spark, SF))
    plans["snapshot_diff"] = cap(entry._q_snapshot_diff(spark, SF))
    plans["cdc_apply"] = cap(entry._q_cdc_apply(spark, SF))
    plans["text_sign_projection"] = cap(
        entry._q_text_sign_projection(spark, SF)
    )
    plans["incremental_dedup"] = cap(entry._q_incremental_dedup(spark, SF))
    plans["mercator_tiles"] = cap(entry._q_mercator_tiles(spark, SF))
    plans["tile_slope"] = cap(entry._q_tile_slope(spark, SF))

    from geo_spark.operators.network import trail_network_edges
    from geo_spark.operators.geo_noise import LAT_D_SQL, LNG_D_SQL

    nev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "ts", "event_id",
        F.expr(LAT_D_SQL.format(id="event_id")).alias("lat"),
        F.expr(LNG_D_SQL.format(id="event_id")).alias("lng"),
    )
    plans["trail_network_edges"] = cap(
        trail_network_edges(nev, order_cols=("ts", "event_id"))
    )
    plans["clip_length_join"] = cap(
        entry._q_region_route_length(spark, SF)
    )

    out = [
        "# PLANS — physical-plan evidence for the headline operators\n",
        "Generated by `python scripts/explain_plans.py` (sf0.01).  These are",
        "the plans we *engineered for*, not just the first ones that passed —",
        "each section lists the properties that make the plan scale and the",
        "formatted plan to verify them against.\n",
    ]
    for name, plan in plans.items():
        out.append(f"\n## {name}\n")
        out.append(NOTES[name])
        out.append("\n```\n" + plan.strip() + "\n```\n")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    # Preserve the manually-maintained narrative sections (everything
    # from the marker on) across regenerations of the plan dumps.
    marker = "<!-- MANUAL NOTES BELOW: preserved by scripts/explain_plans.py -->"
    tail = ""
    if os.path.exists(path):
        cur = open(path).read()
        if marker in cur:
            tail = "\n" + marker + cur.split(marker, 1)[1]
    with open(path, "w") as f:
        f.write("\n".join(out) + tail)
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
