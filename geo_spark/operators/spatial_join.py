"""Covering-term spatial join: points x regions at cluster scale.

The join blueprint follows the reference's RegionTermIndexer semantics
(s2/region_term_indexer.go:118-261): the region side emits its covering
cells (exterior, flagged interior where fully contained); the point side
emits ancestor keys ``Parent(point_cell, level)`` for each covering
level.  ``point matches region`` <=> ``some ancestor of the point's leaf
equals a covering cell`` (candidate) AND the exact containment test
passes (refine).  Interior covering cells skip the refine — the analog of
ShapeIndex ``containsCenter`` fast paths (s2/shapeindex.go:65-117).

Scale design (the part the reference, being single-node, doesn't have):
- layer prep is an ``applyInPandas`` fan-out — one row per geometry,
  coverings computed executor-side in parallel;
- the candidate join is a plain **equi-join** on ``(level, cell)`` —
  hash-partitioned, AQE-optimizable, broadcastable when the layer is
  small (the common case: polygon layers are dimension tables);
- hot covering cells (dense urban tiles) are split into their 4^s
  children (``split_hot_cells``) — a *semantic* salt: the children are
  still valid covering cells, so results are invariant to the split
  while the join keys fan out;
- one pass over the candidates: interior and boundary candidate rows
  reach the one refine path (``_refine_by_region``) together, so the
  point side (scan, extract, explode, join) is planned once; the kernel
  keeps interior rows untested and runs the exact predicate on the
  rest.  Dimension-table layers ship their regions in the task
  closure, huge layers attach the geometry blobs by an equi-join that
  leaves interior rows without a blob; each Arrow batch runs one
  vectorized predicate per geometry present (``mapInPandas``).  Never
  per-row Python, never a per-geometry keyed group.
"""

from __future__ import annotations

import functools
import pickle
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.functions import sql as s2sql
from geo_spark.kernel import cellid as ck
from geo_spark.kernel import cellunion as cu
from geo_spark.kernel.coverer import RegionCoverer
from geo_spark.kernel.regions import Region

COVER_SCHEMA = T.StructType(
    [
        T.StructField("geom_id", T.LongType(), False),
        T.StructField("cell", T.LongType(), False),  # biased int64
        T.StructField("level", T.IntegerType(), False),
        T.StructField("is_interior", T.BooleanType(), False),
    ]
)

GEOM_SCHEMA = T.StructType(
    [
        T.StructField("geom_id", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


# Below this many geometries the covering computation runs in the
# driver (literal-row layer, zero Spark jobs); above it, per-geometry
# distributed (the coverings, not the closure shipping, are the cost).
DRIVER_COVER_GEOMS = 256


class Layer:
    """A prepared join target: geometry blobs + exploded covering table.

    ``regions`` (driver-side dict) is kept when the layer is small enough
    to ship in task closures — the refine then runs as a shuffle-free
    mapInPandas instead of joining the geometry blobs onto the
    candidate rows (``_refine_by_region``)."""

    MAX_CLOSURE_GEOMS = 20000

    def __init__(
        self,
        geoms: DataFrame,
        covering: DataFrame,
        levels: list[int],
        regions: dict[int, Region] | None = None,
        covering_rows: int | None = None,
        n_geoms: int | None = None,
        radius_rad: float | None = None,
    ):
        self.geoms = geoms
        self.covering = covering
        self.levels = levels
        self.regions = regions
        # Known (or conservatively estimated) covering row count; None
        # means "unknown / large" and disables the broadcast hint.
        self.covering_rows = covering_rows
        # Geometry count (drives the blob-join broadcast hint in the
        # distributed refine tier); None = unknown.
        self.n_geoms = n_geoms
        # Buffer radius for distance layers (build_distance_layer) —
        # the distributed knn_regions tier is radius-bounded by it.
        self.radius_rad = radius_rad

    @functools.cached_property
    def prefilter_cells(self) -> list[int] | None:
        """Distinct ``levels[0]`` ancestors of the covering cells — the
        key set of ``_coarse_prefilter`` — or None above 10,000 keys.
        A fact of the layer, not of a join: one Spark job the first time
        it is read, none after (driver-built layers fill it for free)."""
        l0 = self.levels[0]
        rows = (
            self.covering.select(s2sql.parent(F.col("cell"), l0).alias("a"))
            .distinct()
            .limit(10001)
            .collect()
        )
        return _prefilter_keys([r["a"] for r in rows])


def _prefilter_keys(ancestors: list[int]) -> list[int] | None:
    return ancestors if len(ancestors) <= 10000 else None


def _build(
    spark: SparkSession,
    regions: Iterable[tuple[int, Region]],
    cells_of,
    num_partitions: int | None = None,
    radius_rad: float | None = None,
) -> Layer:
    """The one layer builder behind ``build_layer`` and
    ``distance_join.build_distance_layer``: ``cells_of(region)`` yields
    the region's (cell id, is_interior) covering rows, everything else —
    driver or distributed covering, level set, closure map — is here."""
    regions = list(regions)
    rows = [(int(gid), pickle.dumps(region)) for gid, region in regions]
    geoms = spark.createDataFrame(rows, GEOM_SCHEMA)
    if num_partitions:
        geoms = geoms.repartition(num_partitions, "geom_id")

    def cover(gids, regs) -> pd.DataFrame:
        out_gid, out_cell, out_int = [], [], []
        for gid, region in zip(gids, regs):
            for c, is_int in cells_of(region):
                out_gid.append(gid)
                out_cell.append(c)
                out_int.append(is_int)
        cells = np.array(out_cell, dtype=np.uint64)
        return pd.DataFrame(
            {
                "geom_id": pd.Series(out_gid, dtype="int64"),
                "cell": ck.to_signed(cells),
                "level": ck.level(cells).astype(np.int32),
                "is_interior": pd.Series(out_int, dtype="bool"),
            }
        )

    in_driver = len(regions) <= DRIVER_COVER_GEOMS
    if in_driver:
        # Dimension-table layer: run the identical covering computation
        # in the driver (it ends up collected as literal rows either
        # way), skipping two Spark jobs + a Python-worker round-trip —
        # the 50-loop city layer drops from ~7s to sub-second.  The
        # literal rows are pinned so downstream actions never re-run the
        # covering computation.
        pdf = cover([g for g, _ in rows], [r for _, r in regions])
        covering = spark.createDataFrame(pdf, COVER_SCHEMA)
        levels = sorted(pdf["level"].unique().tolist())
        n_cov = len(pdf)
    else:
        # Hundreds+ of geometries: the covering computation itself is
        # the cost (a complex region covers in ~10-30 ms) — distribute
        # it.  mapInPandas over the blob batches, NOT a per-geometry
        # groupBy: no shuffle, and batches of geometries amortize the
        # Arrow/pandas per-call overhead that one-row groups pay.
        def cover_iter(batches):
            for pdf in batches:
                if len(pdf):
                    yield cover(
                        pdf["geom_id"].tolist(),
                        [pickle.loads(b) for b in pdf["blob"]],
                    )

        covering = _ensure_parallelism(geoms).mapInPandas(
            cover_iter, COVER_SCHEMA
        )
        covering = covering.persist()
        # ONE metadata job: per-level counts give the level set and the
        # total row count together (and materialize the persist).
        lvl_rows = covering.groupBy("level").count().collect()
        levels = sorted(r["level"] for r in lvl_rows)
        n_cov = sum(r["count"] for r in lvl_rows)
    # The region MAP ships in closures when small enough (the map is the
    # input list, not the coverings); bigger layers refine through the
    # blob-join tier of ``_refine_by_region``.
    layer = Layer(
        geoms,
        covering,
        levels,
        {int(g): r for g, r in regions}
        if len(regions) <= Layer.MAX_CLOSURE_GEOMS
        else None,
        covering_rows=n_cov,
        n_geoms=len(regions),
        radius_rad=radius_rad,
    )
    if in_driver and levels:
        cells = ck.from_signed(pdf["cell"].to_numpy(np.int64))
        anc = ck.to_signed(ck.parent(cells, levels[0]))
        layer.prefilter_cells = _prefilter_keys(np.unique(anc).tolist())
    return layer


def build_layer(
    spark: SparkSession,
    regions: Iterable[tuple[int, Region]],
    min_level: int = 0,
    max_level: int = 30,
    max_cells: int = 8,
    interior: bool = True,
    num_partitions: int | None = None,
    subdivide: int = 2,
) -> Layer:
    """Covering layer prep — per-geometry parallel (SURVEY.md §3.2).

    ``interior=True`` marks covering cells fully inside the region
    (refine-skip fast path).  ``subdivide=s`` additionally splits each
    *boundary* covering cell up to s levels (the ShapeIndex subdivision
    analog, s2/shapeindex.go:1194-1213): disjoint children are dropped
    (fewer candidates), fully-contained children become interior (fewer
    refines); only the shrinking boundary band still refines.
    """
    from geo_spark.kernel.cell import Cell

    coverer = RegionCoverer(
        min_level=min_level, max_level=max_level, max_cells=max_cells
    )

    def cells_of(region: Region):
        covering = coverer.covering(region)
        if not interior:
            return [(c, False) for c in covering]
        # Level-synchronous BFS so every round's contains/may tests
        # run as ONE batched relate_cells call (LoopRegion vectorizes
        # the whole frontier; other shapes fall back to scalar).
        # Semantics identical to the per-cell DFS: interior cells
        # emit, disjoint children drop, boundary cells split until
        # the depth budget.  Root covering cells are never may-
        # filtered (the DFS pushed them unconditionally).
        out = []
        frontier = [(Cell.from_id(c), cu._level(c)) for c in covering]
        root = True
        while frontier:
            contains, may = region.relate_cells([c for c, _ in frontier])
            nxt = []
            for (cell, base), isc, m_ok in zip(frontier, contains, may):
                if not root and not m_ok:
                    continue
                if isc or cell.level - base >= subdivide or cell.level >= max_level:
                    out.append((cell.id, bool(isc)))
                    continue
                nxt.extend((child, base) for child in cell.children())
            frontier = nxt
            root = False
        return out

    return _build(spark, regions, cells_of, num_partitions=num_partitions)


def split_hot_cells(
    layer: Layer, hot_cells: list[int], split_levels: int = 1
) -> Layer:
    """Semantic salting: replace listed covering cells by their 4^s
    children.  Children of a covering cell cover exactly the same leaves
    (s2/cellid.go:177-205 range nesting), so join output is invariant —
    only the key-space fans out, defeating single-key skew.  ``hot_cells``
    is typically the top of a page-count histogram (see
    ``hot_cell_histogram``)."""
    if not hot_cells:
        return layer
    hot = {int(c) for c in hot_cells}

    s = split_levels

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def children_of(cell: pd.Series, level: pd.Series) -> pd.Series:
        out = []
        for c, lv in zip(cell.to_numpy(np.int64), level.to_numpy()):
            if int(c) not in hot or lv + s > 30:
                out.append([int(c)])
                continue
            u = int(ck.from_signed(np.array([c], dtype=np.int64))[0])
            out.append(
                [
                    int(ck.to_signed(np.uint64(k)))
                    for k in cu.denormalize([u], cu._level(u) + s, 1)
                ]
            )
        return pd.Series(out)

    cov = (
        layer.covering.withColumn(
            "cell", F.explode(children_of(F.col("cell"), F.col("level")))
        )
        .withColumn("level", s2sql.level(F.col("cell")).cast("int"))
    )
    # The level set is derived, not collected: a split cell at level lv
    # adds lv + s.  It may be a superset (a level whose every cell was
    # split keeps its explode key, which then matches no covering row);
    # hot cells at no covering level are not covering cells and split
    # nothing, so ``levels[0]`` stays.
    hot_levels = ck.level(ck.from_signed(np.array(sorted(hot), dtype=np.int64)))
    levels = set(layer.levels) | {
        int(lv) + s
        for lv in hot_levels
        if int(lv) in layer.levels and lv + s <= 30
    }
    est = (
        layer.covering_rows * (4**split_levels)
        if layer.covering_rows is not None
        else None
    )
    salted = Layer(
        layer.geoms,
        cov,
        sorted(levels),
        layer.regions,
        covering_rows=est,
        n_geoms=layer.n_geoms,
        radius_rad=layer.radius_rad,
    )
    if layer.levels:
        # Split children share their parent's ancestor at levels[0].
        salted.prefilter_cells = layer.prefilter_cells
    return salted


def hot_cell_histogram(
    points: DataFrame, layer: Layer, cell_col: str = "cell_id", top: int = 20
) -> list[tuple[int, int]]:
    """(covering_cell, point_count) for the heaviest covering cells —
    the skew diagnostic that feeds split_hot_cells."""
    return _cell_loads(points, layer, cell_col, top)[0]


def _cell_loads(
    points: DataFrame, layer: Layer, cell_col: str, top: int
) -> tuple[list[tuple[int, int]], int]:
    """The ``top`` heaviest covering cells by candidate count, and the
    total candidate count, from ONE aggregate over the candidate join
    (one driver action)."""
    cand = _candidates(points.select(F.col(cell_col).alias("_pt_cell")), layer, "_pt_cell")
    per_cell = cand.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
    row = per_cell.agg(
        F.sum("cnt").alias("total"),
        F.slice(
            F.sort_array(F.collect_list(F.struct("cnt", "cell")), asc=False),
            1,
            top,
        ).alias("top"),
    ).collect()[0]
    return [(r["cell"], r["cnt"]) for r in row["top"]], row["total"] or 0


def _coarse_prefilter(points: DataFrame, layer: Layer, cell_col: str) -> DataFrame:
    """Semi-join points against the coarse ancestors of ALL covering
    cells before the per-level explode: with a dimension-table layer the
    ancestor set is tiny, the filter is a broadcast isin at ONE level,
    and the x|levels| explode then runs only on surviving points (the
    covering-term join's row multiplier applied to ~the hit rate instead
    of the whole corpus)."""
    if not layer.levels or layer.prefilter_cells is None:
        return points
    l0 = layer.levels[0]
    return points.where(
        s2sql.parent(F.col(cell_col), l0).isin(layer.prefilter_cells)
    )


def _candidates(points: DataFrame, layer: Layer, cell_col: str) -> DataFrame:
    """points x covering equi-join on (level, Parent(point_cell, level)).

    The explode emits one row per covering *level* (bounded by the level
    window, typically <= 8 — s2/region_term_indexer.go:140-143 ancestor
    terms), not per covering cell.

    The candidate rows are spread over the cluster before the refine
    sees them: through a broadcast covering they keep the point side's
    partitioning, so the guard runs on the (pre-explode) points, where
    counting partitions plans no job; a shuffled covering sets its own
    partitioning, so the guard runs on the join."""
    points = _coarse_prefilter(points, layer, cell_col)
    small = _is_small(layer)
    if small:
        points = _ensure_parallelism(points)
    # One struct per covering level with a *literal* parent mask — the
    # whole key computation stays inside whole-stage codegen.
    pairs = F.array(
        *[
            F.struct(
                F.lit(l).cast("int").alias("_lvl"),
                s2sql.parent(F.col(cell_col), l).alias("_key"),
            )
            for l in layer.levels
        ]
    )
    pts = points.withColumn("_lk", F.explode(pairs)).select(
        "*", F.col("_lk._lvl").alias("_lvl"), F.col("_lk._key").alias("_key")
    ).drop("_lk")
    cov = layer.covering
    cand = pts.join(
        cov.hint("broadcast") if small else cov,
        (pts["_lvl"] == cov["level"]) & (pts["_key"] == cov["cell"]),
    ).drop("_lvl", "_key")
    return cand if small else _ensure_parallelism(cand)


# ~30 bytes/row -> a 200k-row covering broadcasts in a few MB.
BROADCAST_MAX_COVER_ROWS = 200_000

# Geometry-blob tables broadcast up to this many rows (road-segment
# blobs are a few hundred bytes -> tens of MB, torrent-distributed
# once per executor); bigger layers take a shuffle equi-join on
# geom_id and let AQE split skewed partitions at runtime.
BROADCAST_MAX_GEOM_ROWS = 200_000

# Per-task unpickled-region cache bound for the blob-refine tier: a
# road network's working set per input split is far smaller than the
# layer, so hits dominate; the clear() on overflow bounds memory.
_REGION_CACHE_CAP = 8192


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin a DataFrame up to the session's default parallelism
    when its plan would otherwise run on a handful of tasks.

    Why: a dimension-sized parquet input (one 2 MB file = one split)
    collapses the whole scan -> candidate-join -> Arrow-refine pipeline
    onto ONE core — the Python refine is the expensive stage, and it
    inherits the scan's partitioning through the broadcast join.  At
    production partition counts (any real table has >= thousands of
    splits) the guard makes this a no-op, so no shuffle is added where
    the input already parallelizes."""
    if df.isStreaming:
        # no .rdd on streams; micro-batch parallelism is the source's
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def _cached_region(cache: dict, gid: int, blob) -> Region:
    r = cache.get(gid)
    if r is None:
        if len(cache) >= _REGION_CACHE_CAP:
            cache.clear()
        r = pickle.loads(bytes(blob))
        cache[gid] = r
    return r


def _is_small(layer: Layer) -> bool:
    """Broadcast-hint the covering only when its row count is known and
    actually small; unknown/huge coverings take the shuffle join and let
    AQE pick the strategy at runtime."""
    return (
        layer.covering_rows is not None
        and layer.covering_rows <= BROADCAST_MAX_COVER_ROWS
    )


def _refine_by_region(
    cand: DataFrame,
    layer: Layer,
    kernel,
    schema: str,
    id_col: str = "geom_id",
    needs_region: Column | None = None,
) -> DataFrame:
    """The covering join's one refine path: how a layer's geometries
    reach the candidate rows.

    Each non-empty Arrow batch calls ``kernel(pdf, inv, regs)``, where
    ``regs`` are the regions of the batch's unique ``id_col`` values and
    ``inv[i]`` indexes row i's region; the kernel returns the output
    frame.  Closure-size layers ship their region map in the task
    closure (shuffle-free mapInPandas).  Bigger ones attach the
    geometry blobs to the candidate rows by an equi-join on ``id_col``
    — broadcast up to BROADCAST_MAX_GEOM_ROWS geometries, else a
    shuffle join whose skewed partitions AQE splits — and unpickle each
    region once per task.  Either way the grouping is batch-local, never
    a per-geometry keyed group, so one dense geometry never pins one
    task.

    ``needs_region`` marks the rows the kernel tests; on the blob tier
    the others keep a null blob (the JVM drops it before the Arrow hop)
    and an id that no row of the batch needs gets ``None`` in ``regs``."""
    regions = layer.regions
    if regions is None:
        geoms = layer.geoms.withColumnRenamed("geom_id", "_blob_id")
        if layer.n_geoms is not None and layer.n_geoms <= BROADCAST_MAX_GEOM_ROWS:
            geoms = F.broadcast(geoms)
        on = F.col(id_col) == F.col("_blob_id")
        if needs_region is not None:
            on = on & needs_region
        cand = cand.join(geoms, on, "left").drop("_blob_id")

    def fn(batches):
        cache: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            uniq, inv = np.unique(ids, return_inverse=True)
            if regions is not None:
                regs = [regions[int(g)] for g in uniq]
            else:
                blobs = pdf["blob"]
                has = np.flatnonzero(blobs.notna().to_numpy())
                ks, at = np.unique(inv[has], return_index=True)
                regs = [None] * len(uniq)
                for k, i in zip(ks, has[at]):
                    regs[k] = _cached_region(cache, int(uniq[k]), blobs.iloc[int(i)])
            yield kernel(pdf, inv, regs)

    return cand.mapInPandas(fn, schema)


def spatial_join(
    points: DataFrame,
    layer: Layer,
    point_key: str,
    cell_col: str = "cell_id",
    how: str = "inner",
    carry: tuple[str, ...] = (),
    latlng: tuple[str, str] | None = None,
) -> DataFrame:
    """Join points to layer geometries.

    Returns (point_key, carry..., geom_id) for ``how='inner'``; for
    ``'left_semi'``/``'left_anti'`` returns the matching/non-matching
    point rows.  Exactness: candidate rows from non-interior covering
    cells are re-tested with the geometry's exact batch predicate
    (cap chord / rect range / loop crossing-parity cascade) — on the
    original (lat,lng) when ``latlng`` names those columns, else on the
    leaf-cell center (~1 cm quantization at level 30).
    """
    cols = [point_key, cell_col, *carry]
    if latlng:
        cols += list(latlng)
    pts = points.select(*dict.fromkeys(cols))
    # Covering cells of one geometry are *disjoint* (normalized,
    # s2/cellunion.go:27-34), so a point's leaf lies in at most one of
    # them: (point, geom) candidate rows are already unique — no dedup
    # shuffle needed.  Interior and boundary candidates take the same
    # pass, so the point side is planned once.
    need = [point_key, *carry, *(latlng or (cell_col,)), "geom_id", "is_interior"]
    cand = _candidates(pts, layer, cell_col).select(*dict.fromkeys(need))

    key_type = cand.schema[point_key].dataType.simpleString()
    schema = ", ".join(
        ["geom_id long", f"{point_key} {key_type}"]
        + [f"{c} {cand.schema[c].dataType.simpleString()}" for c in carry]
    )

    def contains(pdf, inv, regs):
        # Interior rows are kept untested; only boundary rows run the
        # exact predicate, one vectorized call per geometry present.
        keep = pdf["is_interior"].to_numpy(dtype=bool, copy=True)
        test = np.flatnonzero(~keep)
        if len(test):
            pts = _points_xyz(pdf, cell_col, latlng, test)
            tinv = inv[test]
            for i in np.unique(tinv):
                m = tinv == i
                keep[test[m]] = regs[i].contains_points(pts[m])
        out = {
            "geom_id": pdf["geom_id"].to_numpy(np.int64)[keep],
            point_key: pdf[point_key].to_numpy()[keep],
        }
        for c in carry:
            out[c] = pdf[c].to_numpy()[keep]
        return pd.DataFrame(out)

    matches = _refine_by_region(
        cand, layer, contains, schema, needs_region=~F.col("is_interior")
    )

    if how == "inner":
        return matches
    if how in ("left_semi", "left_anti"):
        keys = matches.select(point_key).distinct()
        return points.join(keys, on=point_key, how=how)
    raise ValueError(f"unsupported how={how!r}")


def _points_xyz(
    pdf: pd.DataFrame, cell_col: str, latlng, rows: np.ndarray
) -> np.ndarray:
    if latlng:
        x, y, z = ck.latlng_to_xyz(
            pdf[latlng[0]].to_numpy(np.float64)[rows],
            pdf[latlng[1]].to_numpy(np.float64)[rows],
        )
        return np.stack([x, y, z], axis=1)
    cells = ck.from_signed(pdf[cell_col].to_numpy(np.int64)[rows])
    x, y, z = ck.cellid_to_xyz(cells)
    pts = np.stack([x, y, z], axis=1)
    return pts / np.sqrt((pts * pts).sum(axis=1))[:, None]


def auto_salt_layer(
    points: DataFrame,
    layer: Layer,
    cell_col: str = "cell_id",
    skew_ratio: float = 8.0,
    top: int = 20,
    split_levels: int = 2,
) -> tuple[Layer, list[int]]:
    """Adaptive cell-level salting (the north rule's phrase, made a
    one-call operator): measure the candidate histogram against THIS
    point distribution, split every covering cell whose candidate count
    exceeds ``skew_ratio`` x the mean per-cell load, and return the
    salted layer plus the split cells (for logging/metrics).

    Join output is provably invariant (split_hot_cells: children cover
    exactly the parent's leaves); only the shuffle key-space fans out.
    Cost: one aggregate over the candidate join, one driver action (the
    same join the query runs anyway — at production scale run it on a
    sample or reuse a previous run's histogram; both Compose, since the
    salting is correctness-neutral); the salted layer's levels and
    prefilter keys are derived on the driver."""
    hist, total = _cell_loads(points, layer, cell_col, top)
    if not hist or not layer.covering_rows:
        return layer, []
    mean_load = max(total / max(layer.covering_rows, 1), 1.0)
    hot = [c for c, cnt in hist if cnt > skew_ratio * mean_load]
    if not hot:
        return layer, []
    return split_hot_cells(layer, hot, split_levels=split_levels), hot
