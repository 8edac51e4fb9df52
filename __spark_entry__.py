"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship spatial pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` — per-operator DataFrame builders with
DuckDB oracle SQL, compared by the driver at sf0.01 (row count + schema +
order-insensitive value hash).

Oracle strategy: geometry-kernel internals (Hilbert bit interleaving,
coverings, PIP parity) are pinned by golden-vector pytest suites
(tests/test_cellid_kernel.py etc.); the oracle-checked queries here verify
the *engine pipeline* — encode -> decode -> tile grouping -> joins/aggs —
against independent ANSI-SQL re-derivations (see
geo_spark/operators/geo_noise.py for why grouping by (face, i>>k, j>>k)
equals grouping by Parent(cell_id, level)).

Float discipline for hash-stable comparison: aggregates over doubles go
through DECIMAL casts (exact in both engines) or integer counts; the only
float ops allowed in compared columns are IEEE-deterministic (+,-,*,/,sqrt)
chains on identical inputs.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DEFAULT = "/root/testdata/sf0.001"


def _ensure_pyfiles(spark: SparkSession) -> None:
    """Executors must import geo_spark even when the driver session was
    created from another cwd or runs multi-JVM (local-cluster)."""
    from geo_spark.session import ensure_pyfiles

    ensure_pyfiles(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_pyfiles(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_s2_tile_faceij_l8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> deterministic lat/lng -> S2 leaf cell (pandas UDF) ->
    decode (face,i,j) -> level-8 quadtree tile -> counts.

    Exercises the full encode+decode round trip: the oracle recomputes
    (face, i>>22, j>>22) from lat/lng with plain SQL, never touching the
    Hilbert code."""
    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    enc = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    dec = enc.withColumn("fij", s2_face_ij(F.col("cell_id")))
    return (
        dec.select(
            F.col("fij.face").cast("long").alias("face"),
            F.shiftright(F.col("fij.i"), 22).alias("ti"),
            F.shiftright(F.col("fij.j"), 22).alias("tj"),
        )
        .groupBy("face", "ti", "tj")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _q_cell_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-neighbor arithmetic under a relational oracle: per event,
    the 4 edge neighbors (kernel/cellid.py:edge_neighbors — the real
    wrap-capable code path) of its level-8 cell, decoded back to
    (face, ti, tj), restricted to cells strictly interior to their
    face grid so plain +-1 ij arithmetic is the ground truth.  The
    cross-face wrap cases keep their byte-exact pytest goldens
    (test suite: manual neighbor sets at face boundaries); this query
    certifies the bulk arithmetic relationally."""
    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel import cellid as ck
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id").select(
        "event_id", "lat", "lng"
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("dir", T.LongType()),
            T.StructField("n_face", T.LongType()),
            T.StructField("n_ti", T.LongType()),
            T.StructField("n_tj", T.LongType()),
        ]
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            ids = ck.cellid_from_latlng(
                pdf["lat"].to_numpy(np.float64),
                pdf["lng"].to_numpy(np.float64),
            )
            p8 = ck.parent(ids, 8)
            _f, i, j, _o = ck.face_ij_orientation(p8)
            ti = (i >> 22).astype(np.int64)
            tj = (j >> 22).astype(np.int64)
            keep = (ti > 0) & (ti < 255) & (tj > 0) & (tj < 255)
            eids = pdf["event_id"].to_numpy(np.int64)[keep]
            nb = ck.edge_neighbors(p8[keep])  # (m, 4): down,right,up,left
            frames = []
            for d in range(4):
                nf, ni, nj, _ = ck.face_ij_orientation(nb[:, d])
                frames.append(
                    pd.DataFrame(
                        {
                            "event_id": eids,
                            "dir": np.full(len(eids), d, np.int64),
                            "n_face": nf.astype(np.int64),
                            "n_ti": (ni >> 22).astype(np.int64),
                            "n_tj": (nj >> 22).astype(np.int64),
                        }
                    )
                )
            yield pd.concat(frames)

    return ev.mapInPandas(fn, schema).orderBy("event_id", "dir")


def _q_vertex_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex-neighbor arithmetic under a relational oracle
    (kernel/cellid.py:vertex_neighbors, s2/cellid.go:230-263): per
    event, the 4 level-8 cells around the vertex closest to its leaf
    cell, decoded to (face, ti, tj); interior-cell restriction as in
    q_cell_neighbors, so the closest-vertex selection ((i & half)
    bit tests) and the +-1 tile offsets are the SQL ground truth."""
    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel import cellid as ck
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id").select(
        "event_id", "lat", "lng"
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("vid", T.LongType()),
            T.StructField("n_face", T.LongType()),
            T.StructField("n_ti", T.LongType()),
            T.StructField("n_tj", T.LongType()),
        ]
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            ids = ck.cellid_from_latlng(
                pdf["lat"].to_numpy(np.float64),
                pdf["lng"].to_numpy(np.float64),
            )
            _f, i, j, _o = ck.face_ij_orientation(ids)
            ti = (i >> 22).astype(np.int64)
            tj = (j >> 22).astype(np.int64)
            keep = (ti > 0) & (ti < 255) & (tj > 0) & (tj < 255)
            eids = pdf["event_id"].to_numpy(np.int64)[keep]
            # interior cells always have isame & jsame, so every row
            # yields exactly 4 neighbors -> vectorizable (m, 4)
            nbrs = ck.vertex_neighbors(ids[keep], 8)
            mat = (
                np.stack(nbrs)
                if len(nbrs)
                else np.empty((0, 4), np.uint64)
            )
            frames = []
            for v in range(4):
                nf, ni, nj, _ = ck.face_ij_orientation(mat[:, v])
                frames.append(
                    pd.DataFrame(
                        {
                            "event_id": eids,
                            "vid": np.full(len(eids), v, np.int64),
                            "n_face": nf.astype(np.int64),
                            "n_ti": (ni >> 22).astype(np.int64),
                            "n_tj": (nj >> 22).astype(np.int64),
                        }
                    )
                )
            yield pd.concat(frames)

    return ev.mapInPandas(fn, schema).orderBy("event_id", "vid")


def _oracle_vertex_neighbors() -> str:
    from geo_spark.operators.geo_noise import (
        LAT_SQL,
        LNG_SQL,
        duckdb_face_ij_query,
    )

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = f"SELECT event_id, {lat} AS lat, {lng} AS lng FROM events"
    fij = duckdb_face_ij_query(src)
    return f"""
        WITH home AS (
          SELECT event_id, face,
                 i // 4194304 AS ti, j // 4194304 AS tj,
                 CASE WHEN (i & 2097152) != 0 THEN 1 ELSE -1 END AS di,
                 CASE WHEN (j & 2097152) != 0 THEN 1 ELSE -1 END AS dj
          FROM ({fij})
        ),
        interior AS (
          SELECT * FROM home
          WHERE ti > 0 AND ti < 255 AND tj > 0 AND tj < 255
        ),
        v(vid, use_i, use_j) AS (VALUES (0, 0, 0), (1, 1, 0),
                                        (2, 0, 1), (3, 1, 1))
        SELECT event_id, CAST(vid AS BIGINT) AS vid,
               CAST(face AS BIGINT) AS n_face,
               ti + use_i * di AS n_ti,
               tj + use_j * dj AS n_tj
        FROM interior, v ORDER BY event_id, vid
    """


def _oracle_cell_neighbors() -> str:
    from geo_spark.operators.geo_noise import (
        LAT_SQL,
        LNG_SQL,
        duckdb_face_ij_query,
    )

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = f"SELECT event_id, {lat} AS lat, {lng} AS lng FROM events"
    fij = duckdb_face_ij_query(src)
    return f"""
        WITH home AS (
          SELECT event_id, face, i // 4194304 AS ti, j // 4194304 AS tj
          FROM ({fij})
        ),
        interior AS (
          SELECT * FROM home
          WHERE ti > 0 AND ti < 255 AND tj > 0 AND tj < 255
        ),
        dirs(dir, di, dj) AS (VALUES (0, 0, -1), (1, 1, 0),
                                     (2, 0, 1), (3, -1, 0))
        SELECT event_id, CAST(dir AS BIGINT) AS dir,
               CAST(face AS BIGINT) AS n_face,
               ti + di AS n_ti, tj + dj AS n_tj
        FROM interior, dirs ORDER BY event_id, dir
    """


def _oracle_s2_tile_faceij_l8() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, duckdb_face_ij_query

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = f"SELECT event_id, {lat} AS lat, {lng} AS lng FROM events"
    fij = duckdb_face_ij_query(src)
    return f"""
        SELECT CAST(face AS BIGINT) AS face,
               i // 4194304 AS ti,
               j // 4194304 AS tj,
               COUNT(*) AS cnt
        FROM ({fij})
        GROUP BY 1, 2, 3
    """


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary; decimal-exact aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _oracle_tpch_q1() -> str:
    return """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                    AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """


def _q_doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document stats (training-data text analysis shell)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text").cast("long")).alias("total_text_len"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


def _oracle_doc_stats_by_lang() -> str:
    return """
        SELECT lang,
               COUNT(*) AS doc_cnt,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_text_len,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """


def _q_orders_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join shell: orders x customer, per-segment order stats."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.countDistinct("o_custkey").alias("active_custs"),
        )
        .orderBy("c_mktsegment")
    )


def _oracle_orders_join_agg() -> str:
    return """
        SELECT c_mktsegment,
               COUNT(*) AS order_cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               COUNT(DISTINCT o_custkey) AS active_custs
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue: pure filter + agg (pushdown shape)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _oracle_tpch_q6() -> str:
    return """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """


def _q_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-dimension revenue rollup (TPC-H Q14's shape without the
    ratio): lineitem x part on partkey (classic fact-dim broadcast),
    decimal-exact discounted revenue per (p_type, ship year) — the
    last fixture table (part) joined into the certified surface.
    year() is extracted identically on both engines from the same
    timestamps."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_type", "ship_year")
    )


def _oracle_part_type_revenue() -> str:
    return """
        SELECT p.p_type,
               CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                        (CAST(1 AS DECIMAL(18,4)) -
                         CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type, year(l.l_shipdate)
        ORDER BY p_type, ship_year
    """


def _q_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery parity: customers whose account balance
    exceeds their NATION's average — the classic decorrelation shape.
    The above-average test is cross-multiplied
    (balance * n_count > n_sum, both sides exact DECIMAL) so no
    engine-specific division rounding enters the compared columns.
    Spark side expresses it as the decorrelated join Catalyst would
    produce; the oracle keeps the CORRELATED scalar subqueries and
    lets DuckDB decorrelate — same rows either way is the parity."""
    c = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    stats = c.groupBy("c_nationkey").agg(
        F.sum(dec("c_acctbal")).alias("_sum"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    j = c.join(F.broadcast(stats), "c_nationkey").where(
        dec("c_acctbal") * F.col("_cnt") > F.col("_sum")
    )
    return (
        j.join(F.broadcast(na), j.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.min("c_custkey").alias("min_cust"),
        )
        .orderBy("n_name")
    )


def _oracle_above_nation_avg() -> str:
    return """
        SELECT n.n_name, COUNT(*) AS n_above, MIN(c.c_custkey) AS min_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) *
              (SELECT COUNT(*) FROM customer c2
               WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,4)))
                 FROM customer c3
                 WHERE c3.c_nationkey = c.c_nationkey)
        GROUP BY n.n_name ORDER BY n.n_name
    """


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume (adapted to the fixture's
    column set): revenue per nation over customer x orders x lineitem
    x supplier where the CUSTOMER'S nation == the SUPPLIER'S nation
    (the non-key equality that makes Q5 the classic multi-join plan
    test), nations restricted to one region, one order-year window.
    Plan shape: region/nation/supplier/customer broadcast (dims),
    orders->lineitem is the one fact-fact shuffle; decimal-exact
    revenue per the Q1 discipline."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dec = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    nr = F.broadcast(
        na.join(
            r.where(F.col("r_name") == "ASIA"),
            na.n_regionkey == r.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    rev = (
        li.join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nr, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        rev.groupBy("n_name")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("n_name")
    )


def _oracle_tpch_q5() -> str:
    return """
        SELECT n.n_name,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                        (CAST(1 AS DECIMAL(18,4)) -
                         CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND c.c_nationkey = s.s_nationkey
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name ORDER BY n.n_name
    """


# ---------------------------------------------------------------------------
# spatial joins (covering-term equi-join + exact refine)
# ---------------------------------------------------------------------------

# Cap layer: (geom_id, lat, lng, radius_rad) — uniform-sphere geo noise means
# a radius-r cap catches ~N*r^2/4 events.
_CAPS = [
    (1, 40.7128, -74.0060, 0.30),
    (2, -33.8688, 151.2093, 0.25),
    (3, 35.6762, 139.6503, 0.35),
    (4, -89.0, 0.0, 0.20),  # south-pole cap: faces 4/5, biased-id ordering
]

# Rect layer: (geom_id, lat_lo, lng_lo, lat_hi, lng_hi); 13 wraps the
# antimeridian (S1Interval inverted-interval semantics).
_RECTS = [
    (11, 30.0, -90.0, 50.0, -60.0),
    (12, -20.0, 10.0, 20.0, 60.0),
    (13, -10.0, 170.0, 10.0, -170.0),
]


def _cap_layer(spark: SparkSession):
    from geo_spark.kernel.regions import Cap
    from geo_spark.operators.spatial_join import build_layer

    return build_layer(
        spark,
        [(g, Cap.from_center_angle(la, ln, r)) for g, la, ln, r in _CAPS],
        max_cells=8,
    )


def _rect_layer(spark: SparkSession):
    from geo_spark.kernel.regions import RectRegion
    from geo_spark.operators.spatial_join import build_layer

    return build_layer(
        spark,
        [
            (g, RectRegion.from_degrees(la0, ln0, la1, ln1))
            for g, la0, ln0, la1, ln1 in _RECTS
        ],
        max_cells=8,
    )


def _events_with_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    return ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))


def _q_cap_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events x spherical caps via the covering-term join; per-cap counts."""
    from geo_spark.operators.spatial_join import spatial_join

    ev = _events_with_cells(spark, sf_dir)
    joined = spatial_join(
        ev, _cap_layer(spark), point_key="event_id", latlng=("lat", "lng")
    )
    return (
        joined.groupBy("geom_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("geom_id")
    )


def _oracle_cap_join_counts() -> str:
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    caps = ", ".join(
        "({g}, cos(radians({ln!r}))*cos(radians({la!r})), "
        "sin(radians({ln!r}))*cos(radians({la!r})), sin(radians({la!r})), {r2!r})".format(
            g=g, la=la, ln=ln, r2=chord2_from_angle(r)
        )
        for g, la, ln, r in _CAPS
    )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        caps(geom_id, cx, cy, cz, r2) AS (VALUES {caps})
        SELECT geom_id, COUNT(*) AS cnt
        FROM xyz, caps
        WHERE least((x-cx)*(x-cx) + (y-cy)*(y-cy) + (z-cz)*(z-cz), 4.0) <= r2
        GROUP BY geom_id ORDER BY geom_id
    """


def _q_rect_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events x lat/lng rectangles (incl. an antimeridian-wrapping one)."""
    from geo_spark.operators.spatial_join import spatial_join

    ev = _events_with_cells(spark, sf_dir)
    joined = spatial_join(
        ev, _rect_layer(spark), point_key="event_id", latlng=("lat", "lng")
    )
    return (
        joined.groupBy("geom_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("geom_id")
    )


def _oracle_rect_join_counts() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    conds = []
    for g, la0, ln0, la1, ln1 in _RECTS:
        lng_cond = (
            f"(lng >= {ln0!r} AND lng <= {ln1!r})"
            if ln0 <= ln1
            else f"(lng >= {ln0!r} OR lng <= {ln1!r})"
        )
        conds.append(
            f"SELECT {g} AS geom_id, COUNT(*) AS cnt FROM pts "
            f"WHERE lat >= {la0!r} AND lat <= {la1!r} AND {lng_cond}"
        )
    union = " UNION ALL ".join(conds)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events)
        SELECT geom_id, cnt FROM ({union}) WHERE cnt > 0 ORDER BY geom_id
    """


# Convex CCW quads (lat:lng text, reference fixture grammar) — convexity is
# what makes the DuckDB oracle below exact: containment == positive side of
# every edge great-circle.
_PIP_LOOPS = [
    (21, "30:-90, 30:-60, 50:-60, 50:-90"),
    (22, "-20:10, -20:60, 20:60, 20:10"),
    (23, "-15:140, -15:175, 15:175, 15:140"),
]


def _q_loop_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events x polygon loops — the flagship PIP join (crossing-parity
    refine).  The loops are convex, so the DuckDB oracle tests
    containment as sign(dot(p, a_k x a_{k+1})) > 0 for every edge;
    tests/test_spatial_join.py additionally pins the general-loop
    semantics against brute force."""
    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.kernel.regions import LoopRegion
    from geo_spark.operators.spatial_join import build_layer, spatial_join

    layer = build_layer(
        spark,
        [
            (g, LoopRegion.from_vertices(latlng_text_to_xyz(t)))
            for g, t in _PIP_LOOPS
        ],
        max_cells=12,
    )
    ev = _events_with_cells(spark, sf_dir)
    joined = spatial_join(ev, layer, point_key="event_id", latlng=("lat", "lng"))
    return (
        joined.groupBy("geom_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("event_id").alias("min_event"))
        .orderBy("geom_id")
    )


_BUFFER_R = 0.03  # buffer radius (rad)
_BUFFER_EF = 0.005  # buffer arc error fraction
_BUFFER_MARGIN = 0.001  # uncertainty annulus excluded from the contract
_BUFFER_STEP = 0.08  # fixture densification step (rad) before buffering


def _densify_loop(v: "np.ndarray", max_step: float) -> "np.ndarray":
    """Subdivide each geodesic edge so no piece exceeds max_step rad —
    normalized chord interpolation stays on the great circle, so the
    boundary curve (and the oracle's distance to it) is unchanged."""
    import numpy as np

    out = []
    m = len(v)
    for i in range(m):
        a, b = v[i], v[(i + 1) % m]
        theta = float(np.arccos(np.clip(a @ b, -1.0, 1.0)))
        k = max(1, int(np.ceil(theta / max_step)))
        for j in range(k):
            t = j / k
            p = (1.0 - t) * a + t * b
            out.append(p / np.sqrt(p @ p))
    return np.asarray(out)


def _q_buffer_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BufferOperation inversion certificate (kernel/buffer.buffer_loop,
    s2/buffer_operation.go:41-338): events PIP-joined against the
    BUFFERED _PIP_LOOPS must match the distance predicate "inside the
    original loop OR within chord-dist R of its boundary", outside an
    excluded annulus |d - R| <= margin that absorbs the documented
    tessellation error (arc sagitta R*ef + geodesic-vs-small-circle
    sag after 0.08-rad densification, both << margin).  The buffered
    layer goes through the REAL covering join (build_layer +
    spatial_join); the margin filter and the oracle replay the same
    point-to-segment chord2 chain as q_trail_pair_distance."""
    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel.buffer import buffer_loop
    from geo_spark.kernel.edges import point_to_edges_chord2
    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.kernel.regions import LoopRegion, chord2_from_angle
    from geo_spark.operators.spatial_join import build_layer, spatial_join
    import numpy as np

    loops = [(g, latlng_text_to_xyz(t)) for g, t in _PIP_LOOPS]
    blayer = build_layer(
        spark,
        [
            (
                g,
                LoopRegion.from_vertices(
                    buffer_loop(
                        _densify_loop(v, _BUFFER_STEP), _BUFFER_R, _BUFFER_EF
                    )
                ),
            )
            for g, v in loops
        ],
        max_cells=12,
    )
    ev = _events_with_cells(spark, sf_dir)
    hits = (
        spatial_join(ev, blayer, point_key="event_id", latlng=("lat", "lng"))
        .select("event_id", "geom_id")
        .withColumn("_hit", F.lit(1))
    )

    lo = chord2_from_angle(_BUFFER_R - _BUFFER_MARGIN)
    hi = chord2_from_angle(_BUFFER_R + _BUFFER_MARGIN)
    norms = {
        g: np.stack(
            [np.cross(v[k], v[(k + 1) % len(v)]) for k in range(len(v))]
        )
        for g, v in loops
    }
    chains = {g: np.vstack([v, v[:1]]) for g, v in loops}
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("geom_id", T.LongType()),
        ]
    )

    def kept_pairs(batches):
        from geo_spark.kernel.cellid import latlng_to_xyz

        for pdf in batches:
            x, y, z = latlng_to_xyz(
                pdf["lat"].to_numpy(np.float64),
                pdf["lng"].to_numpy(np.float64),
            )
            pts = np.stack([x, y, z], axis=1)
            ids = pdf["event_id"].to_numpy(np.int64)
            for g, _v in loops:
                inside_orig = (pts @ norms[g].T).min(axis=1) > 0
                c2 = point_to_edges_chord2(pts, chains[g])
                keep = inside_orig | (c2 < lo) | (c2 > hi)
                yield pd.DataFrame(
                    {
                        "event_id": ids[keep],
                        "geom_id": np.full(int(keep.sum()), g, np.int64),
                    }
                )

    pairs = ev.select("event_id", "lat", "lng").mapInPandas(kept_pairs, schema)
    return (
        pairs.join(hits, ["event_id", "geom_id"], "left")
        .select(
            "event_id",
            "geom_id",
            F.coalesce(F.col("_hit") == 1, F.lit(False)).alias("inside"),
        )
        .orderBy("event_id", "geom_id")
    )


def _oracle_buffer_pip() -> str:
    import numpy as np

    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    thr = chord2_from_angle(_BUFFER_R)
    lo = chord2_from_angle(_BUFFER_R - _BUFFER_MARGIN)
    hi = chord2_from_angle(_BUFFER_R + _BUFFER_MARGIN)
    nrows, erows = [], []
    for g, t in _PIP_LOOPS:
        v = latlng_text_to_xyz(t)
        for k in range(len(v)):
            a, b = v[k], v[(k + 1) % len(v)]
            n = np.cross(a, b)
            nrows.append(
                f"({g}, {float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
            )
            erows.append(
                f"({g}, {float(a[0])!r}, {float(a[1])!r}, {float(a[2])!r},"
                f" {float(b[0])!r}, {float(b[1])!r}, {float(b[2])!r},"
                f" {float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
            )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS px,
                       sin(radians(lng))*cos(radians(lat)) AS py,
                       sin(radians(lat)) AS pz
                FROM pts),
        norms(geom_id, nx, ny, nz) AS (VALUES {", ".join(nrows)}),
        edges(geom_id, ax, ay, az, bx, by, bz, nx, ny, nz)
            AS (VALUES {", ".join(erows)}),
        io AS (SELECT geom_id, event_id,
                      MIN(nx*px + ny*py + nz*pz) > 0 AS inside_orig
               FROM xyz, norms GROUP BY geom_id, event_id),
        vs AS (
            SELECT e.geom_id, v.event_id,
                   CASE WHEN ((e.ay*v.pz - e.az*v.py)*e.nx
                              + (e.az*v.px - e.ax*v.pz)*e.ny
                              + (e.ax*v.py - e.ay*v.px)*e.nz) >= 0
                         AND ((v.py*e.bz - v.pz*e.by)*e.nx
                              + (v.pz*e.bx - v.px*e.bz)*e.ny
                              + (v.px*e.by - v.py*e.bx)*e.nz) >= 0
                        THEN 2.0 * (1.0 - sqrt(greatest(0.0,
                             1.0 - power(abs(v.px*e.nx + v.py*e.ny + v.pz*e.nz)
                                         / sqrt(e.nx*e.nx + e.ny*e.ny + e.nz*e.nz),
                                         2))))
                        ELSE least(
                             (v.px-e.ax)*(v.px-e.ax) + (v.py-e.ay)*(v.py-e.ay)
                             + (v.pz-e.az)*(v.pz-e.az),
                             (v.px-e.bx)*(v.px-e.bx) + (v.py-e.by)*(v.py-e.by)
                             + (v.pz-e.bz)*(v.pz-e.bz))
                   END AS c2
            FROM xyz v, edges e),
        mind AS (SELECT geom_id, event_id, MIN(least(c2, 4.0)) AS min_c2
                 FROM vs GROUP BY geom_id, event_id)
        SELECT m.event_id, m.geom_id,
               (io.inside_orig OR m.min_c2 <= {thr!r}) AS inside
        FROM mind m
        JOIN io ON io.geom_id = m.geom_id AND io.event_id = m.event_id
        WHERE io.inside_orig OR m.min_c2 < {lo!r} OR m.min_c2 > {hi!r}
        ORDER BY m.event_id, m.geom_id
    """


def _oracle_loop_pip_join() -> str:
    """Convex-loop PIP in ANSI SQL: a point is inside iff it lies on the
    positive side of every edge plane (normals a_k x a_{k+1} precomputed
    here as literals; exact for the convex _PIP_LOOPS fixtures)."""
    import numpy as np

    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    rows = []
    for g, t in _PIP_LOOPS:
        v = latlng_text_to_xyz(t)
        for k in range(len(v)):
            n = np.cross(v[k], v[(k + 1) % len(v)])
            rows.append(
                f"({g}, {float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
            )
    norms = ", ".join(rows)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        norms(geom_id, nx, ny, nz) AS (VALUES {norms}),
        hits AS (SELECT geom_id, event_id
                 FROM xyz, norms
                 GROUP BY geom_id, event_id
                 HAVING MIN(nx*x + ny*y + nz*z) > 0)
        SELECT geom_id, COUNT(*) AS cnt, MIN(event_id) AS min_event
        FROM hits GROUP BY geom_id ORDER BY geom_id
    """


# Zipfian PIP fixture for q_salted_pip_join: 70% of events land in one
# 0.05-degree patch inside loop 21 (lat 39.0..39.05, lng -75.0..-74.95)
# — a single hot covering cell — the rest spread over the globe.  Pure
# integer mods + ONE float division per coordinate, so DuckDB replays
# the derivation bit-for-bit; the 0.0005 offsets keep spread points off
# the loops' vertex lat/lng grid.
_ZIPF_LAT_SQL = (
    "CASE WHEN {id} % 10 < 7"
    " THEN 39.0 + (({id} * 37) % 1000) / 20000.0"
    " ELSE -59.9995 + (({id} * 397) % 120000) / 1000.0 END"
)
_ZIPF_LNG_SQL = (
    "CASE WHEN {id} % 10 < 7"
    " THEN -75.0 + (({id} * 61) % 1000) / 20000.0"
    " ELSE -179.9995 + (({id} * 683) % 360000) / 1000.0 END"
)


def _zipf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.functions.s2 import s2_cellid

    ev = _t(spark, sf_dir, "events").select("event_id")
    ev = ev.selectExpr(
        "event_id",
        _ZIPF_LAT_SQL.format(id="event_id") + " AS lat",
        _ZIPF_LNG_SQL.format(id="event_id") + " AS lng",
    )
    return ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))


def _q_salted_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """auto_salt_layer as a CONTRACT (round-3 verdict #10): the PIP join
    of q_loop_pip_join run against a genuinely Zipfian point set — 70%
    of events in one 0.05-degree patch, so one covering cell of loop 21
    holds ~70% of all candidates.  auto_salt_layer measures the hot-cell
    histogram against THIS distribution and splits the hot cells before
    the join; the query RAISES if no cell tripped the skew valve (the
    fixture must actually exercise the salted path, not just compile
    it).  The oracle is salt-blind: the same convex-plane containment
    SQL as q_loop_pip_join over the replayed Zipfian coordinates —
    salting only fans out the shuffle key-space, never the result
    (split children cover exactly the parent's leaves)."""
    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.kernel.regions import LoopRegion
    from geo_spark.operators.spatial_join import (
        auto_salt_layer,
        build_layer,
        spatial_join,
    )

    layer = build_layer(
        spark,
        [
            (g, LoopRegion.from_vertices(latlng_text_to_xyz(t)))
            for g, t in _PIP_LOOPS
        ],
        max_cells=12,
    )
    ev = _zipf_events(spark, sf_dir)
    salted, hot = auto_salt_layer(ev, layer)
    if not hot:
        raise AssertionError(
            "q_salted_pip_join: the Zipfian fixture tripped no hot cell — "
            "the salted join path is not being exercised"
        )
    joined = spatial_join(
        ev, salted, point_key="event_id", latlng=("lat", "lng")
    )
    return (
        joined.groupBy("geom_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("event_id").alias("min_event"),
        )
        .orderBy("geom_id")
    )


def _oracle_salted_pip_join() -> str:
    """Salt-blind convex-loop PIP over the replayed Zipfian fixture."""
    import numpy as np

    from geo_spark.kernel.pip import latlng_text_to_xyz

    lat = _ZIPF_LAT_SQL.format(id="event_id")
    lng = _ZIPF_LNG_SQL.format(id="event_id")
    rows = []
    for g, t in _PIP_LOOPS:
        v = latlng_text_to_xyz(t)
        for k in range(len(v)):
            n = np.cross(v[k], v[(k + 1) % len(v)])
            rows.append(
                f"({g}, {float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
            )
    norms = ", ".join(rows)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        norms(geom_id, nx, ny, nz) AS (VALUES {norms}),
        hits AS (SELECT geom_id, event_id
                 FROM xyz, norms
                 GROUP BY geom_id, event_id
                 HAVING MIN(nx*x + ny*y + nz*z) > 0)
        SELECT geom_id, COUNT(*) AS cnt, MIN(event_id) AS min_event
        FROM hits GROUP BY geom_id ORDER BY geom_id
    """


def _q_validate_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed loop validation (FindValidationError / FindSelf-
    Intersection, s2/loop.go Validate + s2/shapeutil edge-pair
    crossings): one loop per user from their first 12 events, per-edge
    cell banding + robust-crossing refine counts non-adjacent interior
    crossings.  The DuckDB oracle rebuilds every loop edge with a
    modular wrap join and applies the literal SimpleCrossing sign
    pattern to each non-adjacent pair."""
    from pyspark.sql import Window

    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.validate import validate_loops

    ev = with_geo_noise(
        _t(spark, sf_dir, "events").select("user_id", "ts", "event_id"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    loops = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 12)
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rn", "lat", "lng"))
            ).alias("vs")
        )
        .where(F.size("vs") >= 4)
        .select(
            F.col("user_id").alias("geom_id"),
            F.transform("vs", lambda s: s["lat"]).alias("lats"),
            F.transform("vs", lambda s: s["lng"]).alias("lngs"),
        )
    )
    return (
        validate_loops(loops, level=4)
        .select(
            F.col("geom_id").alias("user_id"), "n_cross_pairs", "is_valid"
        )
        .orderBy("user_id")
    )


def _oracle_validate_loops() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    return f"""
        WITH pts AS (SELECT user_id, ts, event_id, {lat} AS lat, {lng} AS lng
                     FROM events),
        r AS (SELECT user_id, lat, lng,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) - 1 AS i
              FROM pts),
        k AS (SELECT * FROM r WHERE i < 12),
        v AS (SELECT user_id, i,
                     COUNT(*) OVER (PARTITION BY user_id) AS n,
                     cos(radians(lng))*cos(radians(lat)) AS px,
                     sin(radians(lng))*cos(radians(lat)) AS py,
                     sin(radians(lat)) AS pz
              FROM k),
        e AS (SELECT a.user_id, a.i AS ei, a.n,
                     a.px AS ax, a.py AS ay, a.pz AS az,
                     b.px AS bx, b.py AS by, b.pz AS bz,
                     a.py*b.pz - a.pz*b.py AS nx,
                     a.pz*b.px - a.px*b.pz AS ny,
                     a.px*b.py - a.py*b.px AS nz
              FROM v a JOIN v b
                ON a.user_id = b.user_id AND b.i = (a.i + 1) % a.n
              WHERE a.n >= 4),
        x AS (SELECT e1.user_id
              FROM e e1 JOIN e e2
                ON e1.user_id = e2.user_id
               AND e2.ei > e1.ei + 1
               AND NOT (e1.ei = 0 AND e2.ei = e1.n - 1)
              WHERE (-(e1.nx*e2.ax + e1.ny*e2.ay + e1.nz*e2.az))
                    * (e1.nx*e2.bx + e1.ny*e2.by + e1.nz*e2.bz) > 0
                AND (-(e1.nx*e2.ax + e1.ny*e2.ay + e1.nz*e2.az))
                    * (-(e2.nx*e1.bx + e2.ny*e1.by + e2.nz*e1.bz)) > 0
                AND (-(e1.nx*e2.ax + e1.ny*e2.ay + e1.nz*e2.az))
                    * (e2.nx*e1.ax + e2.ny*e1.ay + e2.nz*e1.az) > 0),
        h AS (SELECT user_id, COUNT(*) AS c FROM x GROUP BY user_id),
        u AS (SELECT user_id, COUNT(*) AS n FROM k GROUP BY user_id
              HAVING COUNT(*) >= 4)
        SELECT u.user_id,
               CAST(COALESCE(h.c, 0) AS BIGINT) AS n_cross_pairs,
               COALESCE(h.c, 0) = 0 AS is_valid
        FROM u LEFT JOIN h ON u.user_id = h.user_id
        ORDER BY u.user_id
    """


def _q_trajectory_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event trails x region boundaries — the CrossingEdgeQuery
    analog: which trajectories cross which loop boundaries, how often.
    Candidates via covering-range overlap, refine via the robust interior
    CrossingSign count; DuckDB oracle re-derives every trajectory edge
    with LAG and applies the SimpleCrossing sign pattern to the literal
    loop edges."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.kernel.regions import LoopRegion, PolylineRegion
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.geom_join import crossing_edge_join
    from geo_spark.operators.spatial_join import build_layer

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    pdf = (
        ev.select("user_id", "ts", "event_id", "lat", "lng")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    trails = []
    for uid, g in pdf.groupby("user_id"):
        if len(g) < 2:
            continue
        x, y, z = ck.latlng_to_xyz(
            g["lat"].to_numpy(np.float64), g["lng"].to_numpy(np.float64)
        )
        trails.append(
            (int(uid), PolylineRegion.from_vertices(np.stack([x, y, z], axis=1)))
        )
    a_layer = build_layer(spark, trails, max_cells=8, interior=False)
    b_layer = build_layer(
        spark,
        [
            (g, LoopRegion.from_vertices(latlng_text_to_xyz(t)))
            for g, t in _PIP_LOOPS
        ],
        max_cells=12,
    )
    return (
        crossing_edge_join(a_layer, b_layer)
        .select(
            F.col("aid").alias("user_id"),
            F.col("bid").alias("geom_id"),
            "n_crossings",
        )
        .orderBy("user_id", "geom_id")
    )


def _oracle_trajectory_crossings() -> str:
    import numpy as np

    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    rows = []
    for g, t in _PIP_LOOPS:
        v = latlng_text_to_xyz(t)
        for k in range(len(v)):
            c, d = v[k], v[(k + 1) % len(v)]
            n = np.cross(c, d)
            vals = ", ".join(format(float(x), ".17e") for x in (*c, *d, *n))
            rows.append(f"({g}, {vals})")
    loops = ", ".join(rows)
    return f"""
        WITH pts AS (SELECT user_id, ts, event_id, {lat} AS lat, {lng} AS lng
                     FROM events),
        xyz AS (SELECT user_id, ts, event_id,
                       cos(radians(lng))*cos(radians(lat)) AS px,
                       sin(radians(lng))*cos(radians(lat)) AS py,
                       sin(radians(lat)) AS pz
                FROM pts),
        seq AS (SELECT user_id, px AS bx, py AS by, pz AS bz,
                       LAG(px) OVER w AS ax,
                       LAG(py) OVER w AS ay,
                       LAG(pz) OVER w AS az
                FROM xyz
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        ed AS (SELECT user_id, ax, ay, az, bx, by, bz,
                      ay*bz - az*by AS nax,
                      az*bx - ax*bz AS nay,
                      ax*by - ay*bx AS naz
               FROM seq WHERE ax IS NOT NULL),
        loops(geom_id, cx, cy, cz, dx, dy, dz, mx, my, mz) AS (VALUES {loops}),
        x AS (SELECT user_id, geom_id
              FROM ed, loops
              WHERE (-(nax*cx + nay*cy + naz*cz)) * (nax*dx + nay*dy + naz*dz) > 0
                AND (-(nax*cx + nay*cy + naz*cz)) * (-(mx*bx + my*by + mz*bz)) > 0
                AND (-(nax*cx + nay*cy + naz*cz)) * (mx*ax + my*ay + mz*az) > 0)
        SELECT user_id, geom_id, CAST(COUNT(*) AS INT) AS n_crossings
        FROM x GROUP BY user_id, geom_id ORDER BY user_id, geom_id
    """


def _q_rect_distance_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event distance to each lat/lng rect (incl. the antimeridian
    one), bucketed at 0.2 rad — exercises Rect.DistanceToLatLng
    (kernel/interval.rect_distance_to_latlngs, s2/rect.go:475-520
    semantics).  Oracle re-derives the meridian-edge reduction in SQL."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel.interval import (
        R1Interval,
        Rect,
        S1Interval,
        rect_distance_to_latlngs,
    )
    from geo_spark.operators.geo_noise import with_geo_noise

    rects = [
        (
            g,
            Rect(
                R1Interval(math.radians(la0), math.radians(la1)),
                S1Interval(math.radians(ln0), math.radians(ln1)),
            ),
        )
        for g, la0, ln0, la1, ln1 in _RECTS
    ]

    ev = with_geo_noise(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    schema = T.StructType(
        [
            T.StructField("geom_id", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
        ]
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            lat = pdf["lat"].to_numpy(np.float64)
            lng = pdf["lng"].to_numpy(np.float64)
            frames = []
            for g, r in rects:
                d = rect_distance_to_latlngs(r, lat, lng)
                frames.append(
                    pd.DataFrame(
                        {
                            "geom_id": np.full(len(d), g, dtype=np.int64),
                            "bucket": np.minimum(
                                (d / 0.2).astype(np.int64), 15
                            ).astype(np.int32),
                        }
                    )
                )
            yield pd.concat(frames)

    return (
        ev.mapInPandas(fn, schema)
        .groupBy("geom_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("geom_id", "bucket")
    )


def _oracle_rect_distance_buckets() -> str:
    import math

    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    # rect rows + their two meridian edge segments as xyz literals
    import numpy as np

    from geo_spark.kernel import cellid as ck

    rect_rows = []
    edge_rows = []
    for g, la0, ln0, la1, ln1 in _RECTS:
        inverted = "TRUE" if ln0 > ln1 else "FALSE"
        rect_rows.append(
            f"({g}, {math.radians(la0)!r}, {math.radians(la1)!r}, "
            f"{ln0!r}, {ln1!r}, {inverted})"
        )
        for edge_lng in (ln0, ln1):
            ax, ay, az = ck.latlng_to_xyz(np.float64(la0), np.float64(edge_lng))
            bx, by, bz = ck.latlng_to_xyz(np.float64(la1), np.float64(edge_lng))
            n = np.cross(
                [float(ax), float(ay), float(az)],
                [float(bx), float(by), float(bz)],
            )
            vals = ", ".join(
                format(float(v), ".17e")
                for v in (ax, ay, az, bx, by, bz, *n)
            )
            edge_rows.append(f"({g}, {vals})")
    rvals = ", ".join(rect_rows)
    evals = ", ".join(edge_rows)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id, lat, lng,
                       cos(radians(lng))*cos(radians(lat)) AS px,
                       sin(radians(lng))*cos(radians(lat)) AS py,
                       sin(radians(lat)) AS pz
                FROM pts),
        rects(geom_id, lat_lo, lat_hi, lng_lo, lng_hi, inverted) AS
            (VALUES {rvals}),
        medges(geom_id, ax, ay, az, bx, by, bz, nx, ny, nz) AS
            (VALUES {evals}),
        flags AS (SELECT x.event_id, r.geom_id, x.lat, x.px, x.py, x.pz,
                         r.lat_lo, r.lat_hi,
                         CASE WHEN r.inverted
                              THEN (x.lng >= r.lng_lo OR x.lng <= r.lng_hi)
                              ELSE (x.lng >= r.lng_lo AND x.lng <= r.lng_hi)
                         END AS lng_in
                  FROM xyz x, rects r),
        lat_case AS (SELECT event_id, geom_id,
                            CASE WHEN radians(lat) > lat_hi
                                 THEN radians(lat) - lat_hi
                                 WHEN radians(lat) < lat_lo
                                 THEN lat_lo - radians(lat)
                                 ELSE 0.0 END AS dist
                     FROM flags WHERE lng_in),
        seg AS (SELECT f.event_id, f.geom_id,
                       CASE WHEN ((m.ay*f.pz - m.az*f.py)*m.nx
                                  + (m.az*f.px - m.ax*f.pz)*m.ny
                                  + (m.ax*f.py - m.ay*f.px)*m.nz) >= 0
                             AND ((f.py*m.bz - f.pz*m.by)*m.nx
                                  + (f.pz*m.bx - f.px*m.bz)*m.ny
                                  + (f.px*m.by - f.py*m.bx)*m.nz) >= 0
                            THEN 2.0 * (1.0 - sqrt(greatest(0.0,
                                 1.0 - power(abs(f.px*m.nx + f.py*m.ny + f.pz*m.nz)
                                             / sqrt(m.nx*m.nx + m.ny*m.ny + m.nz*m.nz),
                                             2))))
                            ELSE least(
                                 (f.px-m.ax)*(f.px-m.ax) + (f.py-m.ay)*(f.py-m.ay)
                                 + (f.pz-m.az)*(f.pz-m.az),
                                 (f.px-m.bx)*(f.px-m.bx) + (f.py-m.by)*(f.py-m.by)
                                 + (f.pz-m.bz)*(f.pz-m.bz))
                       END AS c2
                FROM flags f
                JOIN medges m ON m.geom_id = f.geom_id
                WHERE NOT f.lng_in),
        seg_min AS (SELECT event_id, geom_id,
                           2.0 * asin(0.5 * sqrt(least(MIN(c2), 4.0))) AS dist
                    FROM seg GROUP BY event_id, geom_id),
        dists AS (SELECT * FROM lat_case UNION ALL SELECT * FROM seg_min)
        SELECT geom_id,
               CAST(least(CAST(floor(dist / 0.2) AS BIGINT), 15) AS INT) AS bucket,
               COUNT(*) AS cnt
        FROM dists GROUP BY geom_id, bucket ORDER BY geom_id, bucket
    """


_TRAIL_RADIUS_RAD = 500_000.0 / 6_371_010.0  # 500 km on the mean-radius sphere


def _q_trail_pair_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory <-> trajectory within-distance join (edge-pair distance
    kernels, s2/edge_distances.go:334-419): pairs of 4-edge user trails
    within 500 km, with a crossed flag.  Buffered-covering candidates,
    exact chain-pair chord refine; DuckDB oracle re-derives the
    vertex-to-segment minima and the crossing sign pattern in SQL."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.regions import PolylineRegion
    from geo_spark.operators.distance_join import build_distance_layer
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.geom_join import polyline_distance_join
    from geo_spark.operators.spatial_join import build_layer

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    pdf = (
        ev.select("user_id", "ts", "event_id", "lat", "lng")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .groupby("user_id")
        .head(5)
    )
    trails = []
    for uid, g in pdf.groupby("user_id"):
        if len(g) < 2:
            continue
        x, y, z = ck.latlng_to_xyz(
            g["lat"].to_numpy(np.float64), g["lng"].to_numpy(np.float64)
        )
        trails.append(
            (int(uid), PolylineRegion.from_vertices(np.stack([x, y, z], axis=1)))
        )
    a = build_distance_layer(spark, trails, _TRAIL_RADIUS_RAD)
    b = build_layer(spark, trails, max_cells=8, interior=False)
    return (
        polyline_distance_join(a, b, _TRAIL_RADIUS_RAD)
        .where(F.col("aid") < F.col("bid"))
        .select(
            F.col("aid").alias("ua"), F.col("bid").alias("ub"), "crossed", "within"
        )
        .orderBy("ua", "ub")
    )


def _trail_oracle_prefix(lat: str | None = None, lng: str | None = None) -> str:
    """Shared CTE chain deriving per-user trail edges and the
    interior-crossing pair set (``crossings``) — reused by the
    trail-pair-distance oracle (global noise coordinates) and the
    crossing-components oracle (user-local coordinates)."""
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = lat or LAT_SQL.format(id="event_id")
    lng = lng or LNG_SQL.format(id="event_id")
    return f"""ranked AS (SELECT user_id, ts, event_id,
                               row_number() OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS rk
                        FROM events),
        pts AS (SELECT user_id, rk, {lat} AS lat, {lng} AS lng
                FROM ranked WHERE rk <= 5),
        xyz AS (SELECT user_id, rk,
                       cos(radians(lng))*cos(radians(lat)) AS px,
                       sin(radians(lng))*cos(radians(lat)) AS py,
                       sin(radians(lat)) AS pz
                FROM pts),
        ed AS (SELECT user_id, rk,
                      LAG(px) OVER w AS ax, LAG(py) OVER w AS ay,
                      LAG(pz) OVER w AS az,
                      px AS bx, py AS by, pz AS bz
               FROM xyz WINDOW w AS (PARTITION BY user_id ORDER BY rk)),
        edges AS (SELECT user_id, ax, ay, az, bx, by, bz,
                         ay*bz - az*by AS nx,
                         az*bx - ax*bz AS ny,
                         ax*by - ay*bx AS nz
                  FROM ed WHERE ax IS NOT NULL),
        -- interior crossings between trail pairs (SimpleCrossing pattern)
        crossings AS (
            SELECT DISTINCT e1.user_id AS ua, e2.user_id AS ub
            FROM edges e1, edges e2
            WHERE e1.user_id < e2.user_id
              AND (-(e1.nx*e2.ax + e1.ny*e2.ay + e1.nz*e2.az))
                  * (e1.nx*e2.bx + e1.ny*e2.by + e1.nz*e2.bz) > 0
              AND (-(e1.nx*e2.ax + e1.ny*e2.ay + e1.nz*e2.az))
                  * (-(e2.nx*e1.bx + e2.ny*e1.by + e2.nz*e1.bz)) > 0
              AND (-(e1.nx*e2.ax + e1.ny*e2.ay + e1.nz*e2.az))
                  * (e2.nx*e1.ax + e2.ny*e1.ay + e2.nz*e1.az) > 0)"""


def _oracle_trail_pair_distance() -> str:
    from geo_spark.kernel.regions import chord2_from_angle

    thr = chord2_from_angle(_TRAIL_RADIUS_RAD)
    return f"""
        WITH {_trail_oracle_prefix()},
        -- vertex-to-segment chord2, both directions
        vs AS (
            SELECT least(v.user_id, e.user_id) AS ua,
                   greatest(v.user_id, e.user_id) AS ub,
                   CASE WHEN ((e.ay*v.pz - e.az*v.py)*e.nx
                              + (e.az*v.px - e.ax*v.pz)*e.ny
                              + (e.ax*v.py - e.ay*v.px)*e.nz) >= 0
                         AND ((v.py*e.bz - v.pz*e.by)*e.nx
                              + (v.pz*e.bx - v.px*e.bz)*e.ny
                              + (v.px*e.by - v.py*e.bx)*e.nz) >= 0
                        THEN 2.0 * (1.0 - sqrt(greatest(0.0,
                             1.0 - power(abs(v.px*e.nx + v.py*e.ny + v.pz*e.nz)
                                         / sqrt(e.nx*e.nx + e.ny*e.ny + e.nz*e.nz),
                                         2))))
                        ELSE least(
                             (v.px-e.ax)*(v.px-e.ax) + (v.py-e.ay)*(v.py-e.ay)
                             + (v.pz-e.az)*(v.pz-e.az),
                             (v.px-e.bx)*(v.px-e.bx) + (v.py-e.by)*(v.py-e.by)
                             + (v.pz-e.bz)*(v.pz-e.bz))
                   END AS c2
            FROM xyz v, edges e
            WHERE v.user_id <> e.user_id),
        mind AS (SELECT ua, ub, MIN(least(c2, 4.0)) AS min_c2
                 FROM vs GROUP BY ua, ub)
        SELECT m.ua, m.ub,
               (x.ua IS NOT NULL) AS crossed,
               TRUE AS within
        FROM mind m
        LEFT JOIN crossings x ON x.ua = m.ua AND x.ub = m.ub
        WHERE x.ua IS NOT NULL OR m.min_c2 <= {thr!r}
        ORDER BY m.ua, m.ub
    """


# Rects for the Hausdorff contract query.  Ids 1-8 are the round-2
# moderate family; 9-15 (round 3) add the exotic configurations of
# SURVEY §8.1 #4 — antimeridian-crossing lng intervals (lo > hi wraps),
# pole-touching/pole-adjacent lat bands, full-lng polar caps, a
# near-full equatorial band, and a degenerate pole point — so the
# oracle replays the FULL reference case analysis (S1 circular-interval
# Hausdorff with wrap, s1/interval.go:416-447, plus the lngDiff > pi/2
# bisector / interior-maximum branches, s2/rect.go:527-646).
_HAUS_RECTS = [
    (1, 10.0, 10.0, 30.0, 40.0),
    (2, 15.0, 20.0, 25.0, 30.0),  # contained in 1
    (3, -20.0, 0.0, -5.0, 15.0),
    (4, -10.0, 50.0, 10.0, 80.0),  # equator-crossing
    (5, -15.0, 5.0, 20.0, 25.0),  # equator-crossing
    (6, 40.0, 60.0, 60.0, 75.0),
    (7, 5.0, 12.0, 6.0, 13.0),  # small
    (8, -45.0, 33.0, -40.0, 47.0),
    (9, 10.0, 170.0, 30.0, -170.0),  # antimeridian-crossing, mid-lat
    (10, 80.0, -30.0, 90.0, 30.0),  # north-pole-touching
    (11, 75.0, 160.0, 89.0, -160.0),  # pole-adjacent AND antimeridian
    (12, 70.0, -180.0, 90.0, 180.0),  # full-lng polar cap band
    (13, -90.0, -180.0, -85.0, 180.0),  # full-lng south-pole band
    (14, -5.0, -170.0, 5.0, 170.0),  # near-full (340 deg) equatorial band
    (15, 90.0, 17.0, 90.0, 17.0),  # degenerate point at the north pole
]


_MATCH_RADIUS_RAD = 100_000.0 / 6_371_010.0  # 100 km snap radius
_MATCH_JITTER_DEG = 0.5  # user-local trail/point spread


def _match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + the USER-LOCAL jittered (lat, lng) the map-matching
    fixtures share (base point per user + per-event jitter)."""
    from geo_spark.operators.geo_noise import local_latlng_sql

    lat_sql, lng_sql = local_latlng_sql("user_id", "event_id", _MATCH_JITTER_DEG)
    return (
        _t(spark, sf_dir, "events")
        .withColumn("lat", F.expr(lat_sql))
        .withColumn("lng", F.expr(lng_sql))
    )


def _match_trail_layer(spark: SparkSession, ev: DataFrame):
    """The shared trail layer: first-5-event polylines of every third
    user over the jittered coordinates, buffered by the snap radius."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.regions import PolylineRegion
    from geo_spark.operators.distance_join import build_distance_layer

    pdf = (
        ev.where(F.col("user_id") % 3 == 0)
        .select("user_id", "ts", "event_id", "lat", "lng")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .groupby("user_id")
        .head(5)
    )
    trails = []
    for uid, g in pdf.groupby("user_id"):
        if len(g) < 2:
            continue
        x, y, z = ck.latlng_to_xyz(
            g["lat"].to_numpy(np.float64), g["lng"].to_numpy(np.float64)
        )
        trails.append(
            (int(uid), PolylineRegion.from_vertices(np.stack([x, y, z], axis=1)))
        )
    return build_distance_layer(spark, trails, _MATCH_RADIUS_RAD)


def _q_event_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: snap every event point to the nearest segment of
    the nearest user trail within 100 km (ClosestEdgeQuery analog,
    s2/edge_query.go:30-230).  Trails = first-5-event polylines of every
    third user; coordinates are USER-LOCAL (base point per user +
    per-event jitter, geo_noise.local_latlng_sql) so trails are road-
    scale objects and the candidate join stays sparse — the realistic
    AND the scale-honest fixture.  Match = buffered-covering candidates
    + vectorized argmin-segment refine + one partial-aggregatable
    struct-min shuffle.  The DuckDB oracle replays the exact
    point->segment chord arithmetic and the (chord2, trail, segment)
    lexicographic selection."""
    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.mapmatch import map_match

    ev = _match_events(spark, sf_dir)
    layer = _match_trail_layer(spark, ev)

    pts = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    matched = map_match(pts, layer, _MATCH_RADIUS_RAD, point_key="event_id")
    step = chord2_from_angle(_MATCH_RADIUS_RAD) / 16.0
    return matched.select(
        "event_id",
        F.col("geom_id").alias("trail_id"),
        "seg_idx",
        F.least(F.floor(F.col("chord2") / F.lit(step)), F.lit(15).cast("long"))
        .cast("int")
        .alias("dist_bucket"),
    ).orderBy("event_id")


def _map_match_oracle_ctes() -> str:
    """The shared WITH-chain deriving ``best`` (rn = 1 rows are each
    event's nearest (trail, segment) within the radius) — reused by the
    map-match query oracle and the composed traffic rollup."""
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import local_latlng_sql

    lat, lng = local_latlng_sql("user_id", "event_id", _MATCH_JITTER_DEG)
    limit2 = chord2_from_angle(_MATCH_RADIUS_RAD)
    return f"""ranked AS (SELECT user_id, ts, event_id,
                               row_number() OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS rk
                        FROM events WHERE user_id % 3 = 0),
        tpts AS (SELECT user_id, rk, {lat} AS lat, {lng} AS lng
                 FROM ranked WHERE rk <= 5),
        txyz AS (SELECT user_id, rk,
                        cos(radians(lng))*cos(radians(lat)) AS px,
                        sin(radians(lng))*cos(radians(lat)) AS py,
                        sin(radians(lat)) AS pz
                 FROM tpts),
        ed AS (SELECT user_id, rk,
                      LAG(px) OVER w AS ax, LAG(py) OVER w AS ay,
                      LAG(pz) OVER w AS az,
                      px AS bx, py AS by, pz AS bz
               FROM txyz WINDOW w AS (PARTITION BY user_id ORDER BY rk)),
        edges AS (SELECT user_id, rk - 2 AS seg_idx,
                         ax, ay, az, bx, by, bz,
                         ay*bz - az*by AS nx,
                         az*bx - ax*bz AS ny,
                         ax*by - ay*bx AS nz
                  FROM ed WHERE ax IS NOT NULL),
        p AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        pxyz AS (SELECT event_id,
                        cos(radians(lng))*cos(radians(lat)) AS px,
                        sin(radians(lng))*cos(radians(lat)) AS py,
                        sin(radians(lat)) AS pz
                 FROM p),
        -- one row per (point, trail edge); the column expressions are the
        -- exact numpy ops of kernel.edges.point_segment_chord2
        raw AS (SELECT q.event_id, e.user_id AS trail_id, e.seg_idx,
                       (e.ay*q.pz - e.az*q.py)*e.nx
                       + (e.az*q.px - e.ax*q.pz)*e.ny
                       + (e.ax*q.py - e.ay*q.px)*e.nz AS d_a,
                       (q.py*e.bz - q.pz*e.by)*e.nx
                       + (q.pz*e.bx - q.px*e.bz)*e.ny
                       + (q.px*e.by - q.py*e.bx)*e.nz AS d_b,
                       e.nx*e.nx + e.ny*e.ny + e.nz*e.nz AS nn2,
                       abs(q.px*e.nx + q.py*e.ny + q.pz*e.nz) AS adot,
                       (q.px-e.ax)*(q.px-e.ax) + (q.py-e.ay)*(q.py-e.ay)
                       + (q.pz-e.az)*(q.pz-e.az) AS da,
                       (q.px-e.bx)*(q.px-e.bx) + (q.py-e.by)*(q.py-e.by)
                       + (q.pz-e.bz)*(q.pz-e.bz) AS db
                FROM pxyz q, edges e),
        cand AS (SELECT event_id, trail_id, seg_idx,
                        least(CASE WHEN d_a >= 0 AND d_b >= 0 AND nn2 > 0
                              THEN 2.0*(1.0 - sqrt(1.0
                                   - least(adot/sqrt(nn2), 1.0)
                                     * least(adot/sqrt(nn2), 1.0)))
                              ELSE least(da, db) END, 4.0) AS c2
                 FROM raw),
        best AS (SELECT event_id, trail_id, seg_idx, c2,
                        row_number() OVER (PARTITION BY event_id
                                           ORDER BY c2, trail_id, seg_idx) AS rn
                 FROM cand WHERE c2 <= {limit2!r})"""


def _oracle_event_map_match() -> str:
    from geo_spark.kernel.regions import chord2_from_angle

    step = chord2_from_angle(_MATCH_RADIUS_RAD) / 16.0
    return f"""
        WITH {_map_match_oracle_ctes()}
        SELECT event_id, trail_id, seg_idx,
               CAST(least(CAST(floor(c2 / {step!r}) AS BIGINT), 15) AS INT)
                   AS dist_bucket
        FROM best WHERE rn = 1 ORDER BY event_id
    """


_HMM_T = 6  # observations per trajectory (first-6 events per user)
_HMM_EMSCALE = 1e10  # emission = floor(chord2 * scale), integer domain
_HMM_SWITCH = 1_500_000  # trail-switch transition cost
_HMM_JUMP = 50_000  # per-segment jump cost along one trail


def _q_hmm_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-aware (HMM/Viterbi) map matching
    (operators/mapmatch.py:hmm_map_match): each user's first-6-event
    trajectory snaps to the trail layer as a PATH — integer emission
    floor(chord2 * 1e10) per candidate edge, trail-switch /
    segment-jump transition costs, min-cost Viterbi with (cost, trail,
    segment) lexicographic tie-breaks — the Newson-Krumm shape
    composed from the reference's ClosestEdgeQuery primitive
    (s2/edge_query.go:30-230; the reference has per-point nearest-edge
    only).  The DuckDB oracle replays candidates (exact chord
    arithmetic), emissions, SIX unrolled DP steps AND the backtrace,
    so path choice is verified state by state, not just cost."""
    from pyspark.sql import Window

    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.operators.mapmatch import hmm_map_match

    ev = _match_events(spark, sf_dir)
    layer = _match_trail_layer(spark, ev)
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (
        ev.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= _HMM_T)
        .withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    )
    out = hmm_map_match(
        pts,
        layer,
        _MATCH_RADIUS_RAD,
        traj_key="user_id",
        order_col="rk",
        point_key="event_id",
        em_scale=_HMM_EMSCALE,
        switch_cost=_HMM_SWITCH,
        jump_cost=_HMM_JUMP,
    )
    return out.select(
        "user_id",
        "t",
        F.col("geom_id").alias("trail_id"),
        "seg_idx",
        "total_cost",
    ).orderBy("user_id", "t")


def _oracle_hmm_map_match() -> str:
    """Candidates -> emissions -> T unrolled Viterbi steps ->
    final-state pick -> backtrace, all in one generated WITH-chain."""
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import local_latlng_sql

    lat, lng = local_latlng_sql("user_id", "event_id", _MATCH_JITTER_DEG)
    limit2 = chord2_from_angle(_MATCH_RADIUS_RAD)

    def trans(p: str, c: str) -> str:
        return (
            f"CASE WHEN {p}.g = {c}.g THEN {_HMM_JUMP}*abs({p}.s - {c}.s) "
            f"ELSE {_HMM_SWITCH} END"
        )

    ctes = [
        """ranked AS (SELECT user_id, ts, event_id,
                             row_number() OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS rk
                      FROM events)""",
        f"""tpts AS (SELECT user_id, rk, {lat} AS lat, {lng} AS lng
                     FROM ranked WHERE user_id % 3 = 0 AND rk <= 5)""",
        """txyz AS (SELECT user_id, rk,
                           cos(radians(lng))*cos(radians(lat)) AS px,
                           sin(radians(lng))*cos(radians(lat)) AS py,
                           sin(radians(lat)) AS pz
                    FROM tpts)""",
        """ed AS (SELECT user_id, rk,
                         LAG(px) OVER w AS ax, LAG(py) OVER w AS ay,
                         LAG(pz) OVER w AS az,
                         px AS bx, py AS by, pz AS bz
                  FROM txyz WINDOW w AS (PARTITION BY user_id ORDER BY rk))""",
        """edges AS (SELECT user_id, rk - 2 AS seg_idx,
                            ax, ay, az, bx, by, bz,
                            ay*bz - az*by AS nx,
                            az*bx - ax*bz AS ny,
                            ax*by - ay*bx AS nz
                     FROM ed WHERE ax IS NOT NULL)""",
        f"""tp AS (SELECT user_id AS traj, rk, {lat} AS lat, {lng} AS lng
                   FROM ranked WHERE rk <= {_HMM_T})""",
        """pxyz AS (SELECT traj, rk,
                           cos(radians(lng))*cos(radians(lat)) AS px,
                           sin(radians(lng))*cos(radians(lat)) AS py,
                           sin(radians(lat)) AS pz
                    FROM tp)""",
        # exact numpy ops of kernel.edges.point_segment_chord2
        """raw AS (SELECT q.traj, q.rk, e.user_id AS g, e.seg_idx AS s,
                          (e.ay*q.pz - e.az*q.py)*e.nx
                          + (e.az*q.px - e.ax*q.pz)*e.ny
                          + (e.ax*q.py - e.ay*q.px)*e.nz AS d_a,
                          (q.py*e.bz - q.pz*e.by)*e.nx
                          + (q.pz*e.bx - q.px*e.bz)*e.ny
                          + (q.px*e.by - q.py*e.bx)*e.nz AS d_b,
                          e.nx*e.nx + e.ny*e.ny + e.nz*e.nz AS nn2,
                          abs(q.px*e.nx + q.py*e.ny + q.pz*e.nz) AS adot,
                          (q.px-e.ax)*(q.px-e.ax) + (q.py-e.ay)*(q.py-e.ay)
                          + (q.pz-e.az)*(q.pz-e.az) AS da,
                          (q.px-e.bx)*(q.px-e.bx) + (q.py-e.by)*(q.py-e.by)
                          + (q.pz-e.bz)*(q.pz-e.bz) AS db
                   FROM pxyz q, edges e)""",
        """candi AS (SELECT traj, rk, g, s,
                            least(CASE WHEN d_a >= 0 AND d_b >= 0 AND nn2 > 0
                                  THEN 2.0*(1.0 - sqrt(1.0
                                       - least(adot/sqrt(nn2), 1.0)
                                         * least(adot/sqrt(nn2), 1.0)))
                                  ELSE least(da, db) END, 4.0) AS c2
                     FROM raw)""",
        # state per (observation, trail) = that trail's nearest segment
        # (the refine_candidates argmin contract: projection point per
        # polyline, ties to the lowest segment index)
        f"""candmin AS (SELECT traj, rk, g, s, c2 FROM (
                SELECT traj, rk, g, s, c2,
                       row_number() OVER (PARTITION BY traj, rk, g
                                          ORDER BY c2, s) AS rn
                FROM candi) WHERE rn = 1)""",
        f"""base0 AS (SELECT traj, rk, g, s,
                             CAST(floor(c2 * {_HMM_EMSCALE!r}) AS BIGINT) AS em
                      FROM candmin WHERE c2 <= {limit2!r})""",
        """tmap AS (SELECT traj, rk,
                           CAST(dense_rank() OVER (PARTITION BY traj
                                                   ORDER BY rk) AS BIGINT) AS t
                    FROM (SELECT DISTINCT traj, rk FROM base0))""",
        """base AS MATERIALIZED (SELECT b.traj, m.t, b.g, b.s, b.em
                    FROM base0 b
                    JOIN tmap m ON b.traj = m.traj AND b.rk = m.rk)""",
        "v1 AS MATERIALIZED (SELECT traj, g, s, em AS cost "
        "FROM base WHERE t = 1)",
    ]
    for t in range(2, _HMM_T + 1):
        ctes.append(
            f"""v{t} AS MATERIALIZED (
                SELECT c.traj, c.g, c.s,
                       c.em + MIN(pv.cost + {trans('pv', 'c')}) AS cost
                FROM base c JOIN v{t - 1} pv ON pv.traj = c.traj
                WHERE c.t = {t}
                GROUP BY c.traj, c.g, c.s, c.em)"""
        )
    allv = " UNION ALL ".join(
        f"SELECT traj, CAST({t} AS BIGINT) AS t, g, s, cost FROM v{t}"
        for t in range(1, _HMM_T + 1)
    )
    ctes.append(f"allv AS ({allv})")
    ctes.append("tmx AS (SELECT traj, MAX(t) AS tmax FROM base GROUP BY traj)")
    ctes.append(
        """last AS MATERIALIZED (SELECT traj, tmax, g, s, cost FROM (
               SELECT a.traj, x.tmax, a.g, a.s, a.cost,
                      row_number() OVER (PARTITION BY a.traj
                                         ORDER BY a.cost, a.g, a.s) AS rn
               FROM allv a JOIN tmx x ON a.traj = x.traj AND a.t = x.tmax)
           WHERE rn = 1)"""
    )
    ctes.append(
        f"ch{_HMM_T} AS (SELECT traj, g, s FROM last WHERE tmax = {_HMM_T})"
    )
    for t in range(_HMM_T - 1, 0, -1):
        ctes.append(
            f"""ch{t} AS MATERIALIZED (
                SELECT traj, g, s FROM last WHERE tmax = {t}
                UNION ALL
                SELECT traj, g, s FROM (
                  SELECT pv.traj, pv.g, pv.s,
                         row_number() OVER (PARTITION BY pv.traj
                             ORDER BY pv.cost + {trans('pv', 'c')},
                                      pv.g, pv.s) AS rn
                  FROM v{t} pv JOIN ch{t + 1} c ON pv.traj = c.traj)
                WHERE rn = 1)"""
        )
    path = " UNION ALL ".join(
        f"SELECT traj, CAST({t} AS BIGINT) AS t, g, s FROM ch{t}"
        for t in range(1, _HMM_T + 1)
    )
    ctes.append(f"path AS ({path})")
    return (
        "WITH "
        + ", ".join(ctes)
        + """ SELECT p.traj AS user_id, p.t, p.g AS trail_id,
                     p.s AS seg_idx, l.cost AS total_cost
              FROM path p JOIN last l ON p.traj = l.traj
              ORDER BY user_id, t"""
    )


def _q_trail_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed geo certificate: map matching -> per-segment traffic
    rollup.  Every matched event attributes to its nearest (trail,
    segment); the rollup reports match count, exact distinct users and
    first event per segment — the road-utilization aggregation a fleet/
    traffic pipeline runs after snapping.  ONE oracle replays snap +
    selection + rollup end to end (shared CTE chain with
    q_event_map_match's oracle)."""
    matched = _q_event_map_match(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    return (
        matched.join(ev, "event_id")
        .groupBy("trail_id", "seg_idx")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("first_event"),
        )
        .orderBy("trail_id", "seg_idx")
    )


def _oracle_trail_traffic() -> str:
    return f"""
        WITH {_map_match_oracle_ctes()}
        SELECT b.trail_id, b.seg_idx,
               COUNT(*) AS n_matched,
               CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users,
               MIN(b.event_id) AS first_event
        FROM best b JOIN events ev ON ev.event_id = b.event_id
        WHERE b.rn = 1
        GROUP BY b.trail_id, b.seg_idx
        ORDER BY b.trail_id, b.seg_idx
    """


# ---- q_bignet_map_match: the >MAX_CLOSURE_GEOMS distributed tier ----
# A 160x160 grid of 3-vertex polylines (25,600 > Layer.MAX_CLOSURE_GEOMS
# = 20,000) over a 10x10-degree window: the layer CANNOT ship in task
# closures, so map_match refines through the distributed blob-join tier
# (spatial_join._refine_by_region: blob join + batch-local grouping) — the
# EdgeQuery-has-no-index-ceiling contract (s2/edge_query.go:177-763).
_BN_G = 160  # grid side
_BN_PITCH = 0.0625  # 10 deg / 160, exact in binary
_BN_RADIUS_RAD = 2_000.0 / 6_371_010.0  # 2 km snap radius

# Pure-double uniforms (geo_noise._U1_D/_U2_D): every op is IEEE
# +,-,*,/ so Spark and DuckDB derive BITWISE-identical coordinates.
_BN_LAT_SQL = (
    "(40.0e0 + 10.0e0 * (CAST((event_id * 2654435761 + 12345) % 4294967296"
    " AS DOUBLE) / 4294967296e0))"
)
_BN_LNG_SQL = (
    "(10.0e0 * (CAST((event_id * 2246822519 + 54321) % 4294967296"
    " AS DOUBLE) / 4294967296e0))"
)


def _bignet_trails():
    """The 25,600 grid polylines: row r holds a horizontal 3-vertex
    chain at lat 40+(r+0.5)*pitch, column c spans lng fractions
    0.2/0.5/0.8 of cell c.  Expressions are written to match the
    oracle's SQL op-for-op (IEEE bitwise parity)."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.regions import PolylineRegion

    trails = []
    for gid in range(_BN_G * _BN_G):
        r, c = divmod(gid, _BN_G)
        slat = 40.0 + (r + 0.5) * _BN_PITCH
        lngs = np.array(
            [
                (c + 0.2) * _BN_PITCH,
                (c + 0.5) * _BN_PITCH,
                (c + 0.8) * _BN_PITCH,
            ]
        )
        x, y, z = ck.latlng_to_xyz(np.full(3, slat), lngs)
        trails.append(
            (gid, PolylineRegion.from_vertices(np.stack([x, y, z], axis=1)))
        )
    return trails


def _q_bignet_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching against a 25,600-polyline network — ABOVE the
    closure ceiling, so the refine runs through the distributed
    blob-join tier: candidate covering equi-join (shuffle; the ~500k
    covering rows exceed the broadcast gate) + broadcast blob attach +
    batch-local grouped argmin-segment refine + one struct-min shuffle.
    No per-geometry keyed exchange anywhere (tests/test_plan_shapes).

    The oracle replays the match with the GRID's own locality instead
    of the engine's coverings: a segment within 2 km of a point must
    lie in the point's 3x3 grid-cell neighborhood (min separation
    beyond it: 1.2*pitch*cos(50deg) ~ 5.4 km columns, 1.5*pitch ~
    10.4 km rows — both > 2 km), so 9 cells x 2 segments per point is
    an exact candidate set."""
    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.distance_join import build_distance_layer
    from geo_spark.operators.mapmatch import map_match
    from geo_spark.operators.spatial_join import Layer

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id")
        .withColumn("lat", F.expr(_BN_LAT_SQL))
        .withColumn("lng", F.expr(_BN_LNG_SQL))
    )
    layer = build_distance_layer(spark, _bignet_trails(), _BN_RADIUS_RAD)
    assert layer.regions is None and layer.n_geoms > Layer.MAX_CLOSURE_GEOMS
    pts = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    matched = map_match(pts, layer, _BN_RADIUS_RAD, point_key="event_id")
    step = chord2_from_angle(_BN_RADIUS_RAD) / 16.0
    return matched.select(
        "event_id",
        F.col("geom_id").alias("road_id"),
        "seg_idx",
        F.least(F.floor(F.col("chord2") / F.lit(step)), F.lit(15).cast("long"))
        .cast("int")
        .alias("dist_bucket"),
    ).orderBy("event_id")


def _oracle_bignet_map_match() -> str:
    from geo_spark.kernel.regions import chord2_from_angle

    limit2 = chord2_from_angle(_BN_RADIUS_RAD)
    step = limit2 / 16.0
    g = _BN_G
    return f"""
        WITH p AS (SELECT event_id, {_BN_LAT_SQL} AS lat, {_BN_LNG_SQL} AS lng
                   FROM events),
        pxyz AS (SELECT event_id,
                        cos(radians(lng))*cos(radians(lat)) AS px,
                        sin(radians(lng))*cos(radians(lat)) AS py,
                        sin(radians(lat)) AS pz,
                        CAST(floor((lat - 40.0e0) / 0.0625e0) AS BIGINT) AS pr,
                        CAST(floor(lng / 0.0625e0) AS BIGINT) AS pc
                 FROM p),
        offs AS (SELECT a.dr, b.dc
                 FROM (VALUES (-1),(0),(1)) a(dr), (VALUES (-1),(0),(1)) b(dc)),
        -- the 3x3 grid neighborhood is an exact candidate set: any
        -- segment two cells away is >= 5.4 km off, radius is 2 km
        cc AS (SELECT q.*, q.pr + o.dr AS r, q.pc + o.dc AS c
               FROM pxyz q, offs o
               WHERE q.pr + o.dr BETWEEN 0 AND {g - 1}
                 AND q.pc + o.dc BETWEEN 0 AND {g - 1}),
        segs AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT), 0.2e0, 0.5e0),
                                       (CAST(1 AS BIGINT), 0.5e0, 0.8e0))
                                       s(seg_idx, fa, fb)),
        geom AS (SELECT t.event_id, t.px, t.py, t.pz,
                        t.r * {g} + t.c AS road_id, s.seg_idx,
                        (40.0e0 + (t.r + 0.5e0) * 0.0625e0) AS slat,
                        ((t.c + s.fa) * 0.0625e0) AS alng,
                        ((t.c + s.fb) * 0.0625e0) AS blng
                 FROM cc t, segs s),
        exyz AS (SELECT event_id, road_id, seg_idx, px, py, pz,
                        cos(radians(alng))*cos(radians(slat)) AS ax,
                        sin(radians(alng))*cos(radians(slat)) AS ay,
                        sin(radians(slat)) AS az,
                        cos(radians(blng))*cos(radians(slat)) AS bx,
                        sin(radians(blng))*cos(radians(slat)) AS by,
                        sin(radians(slat)) AS bz
                 FROM geom),
        ecross AS (SELECT *, ay*bz - az*by AS nx,
                          az*bx - ax*bz AS ny,
                          ax*by - ay*bx AS nz
                   FROM exyz),
        -- exact numpy ops of kernel.edges.point_segment_chord2
        raw AS (SELECT event_id, road_id, seg_idx,
                       (ay*pz - az*py)*nx + (az*px - ax*pz)*ny
                       + (ax*py - ay*px)*nz AS d_a,
                       (py*bz - pz*by)*nx + (pz*bx - px*bz)*ny
                       + (px*by - py*bx)*nz AS d_b,
                       nx*nx + ny*ny + nz*nz AS nn2,
                       abs(px*nx + py*ny + pz*nz) AS adot,
                       (px-ax)*(px-ax) + (py-ay)*(py-ay)
                       + (pz-az)*(pz-az) AS da,
                       (px-bx)*(px-bx) + (py-by)*(py-by)
                       + (pz-bz)*(pz-bz) AS db
                FROM ecross),
        cand AS (SELECT event_id, road_id, seg_idx,
                        least(CASE WHEN d_a >= 0 AND d_b >= 0 AND nn2 > 0
                              THEN 2.0*(1.0 - sqrt(1.0
                                   - least(adot/sqrt(nn2), 1.0)
                                     * least(adot/sqrt(nn2), 1.0)))
                              ELSE least(da, db) END, 4.0) AS c2
                 FROM raw),
        best AS (SELECT event_id, road_id, seg_idx, c2,
                        row_number() OVER (PARTITION BY event_id
                                           ORDER BY c2, road_id, seg_idx) AS rn
                 FROM cand WHERE c2 <= {limit2!r})
        SELECT event_id, road_id, seg_idx,
               CAST(least(CAST(floor(c2 / {step!r}) AS BIGINT), 15) AS INT)
                   AS dist_bucket
        FROM best WHERE rn = 1 ORDER BY event_id
    """


_XC_JITTER_DEG = 5.0
_XC_RADIUS_RAD = 50_000.0 / 6_371_010.0


def _q_trail_crossing_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-network compose: user-LOCAL trails (base + 5-degree
    jitter — sparse, multi-component crossing structure; the global-
    noise trails collapse into one blob) cross pairwise via the
    `crossed` flag of the pair-distance join; connected components
    resolve with the same large-star/small-star operator that
    concludes web-scale dedup (operators/dedup.dedup_clusters); each
    component reports its min-id representative and size.  ONE oracle:
    shared trail/crossing CTE prefix + recursive-CTE reachability."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.regions import PolylineRegion
    from geo_spark.operators.dedup import dedup_clusters
    from geo_spark.operators.distance_join import build_distance_layer
    from geo_spark.operators.geo_noise import local_latlng_sql
    from geo_spark.operators.geom_join import polyline_distance_join
    from geo_spark.operators.spatial_join import build_layer

    lat_sql, lng_sql = local_latlng_sql("user_id", "event_id", _XC_JITTER_DEG)
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("lat", F.expr(lat_sql))
        .withColumn("lng", F.expr(lng_sql))
    )
    pdf = (
        ev.select("user_id", "ts", "event_id", "lat", "lng")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .groupby("user_id")
        .head(5)
    )
    trails = []
    for uid, g in pdf.groupby("user_id"):
        if len(g) < 2:
            continue
        x, y, z = ck.latlng_to_xyz(
            g["lat"].to_numpy(np.float64), g["lng"].to_numpy(np.float64)
        )
        trails.append(
            (int(uid), PolylineRegion.from_vertices(np.stack([x, y, z], axis=1)))
        )
    a = build_distance_layer(spark, trails, _XC_RADIUS_RAD)
    b = build_layer(spark, trails, max_cells=8, interior=False)
    pairs = (
        polyline_distance_join(a, b, _XC_RADIUS_RAD)
        .where(F.col("aid") < F.col("bid"))
        .where(F.col("crossed"))
    )
    comp = dedup_clusters(
        pairs.select(F.col("aid").alias("da"), F.col("bid").alias("db")),
        key="user_id",
    )
    return (
        comp.groupBy("rep")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("rep")
    )


def _oracle_trail_crossing_components() -> str:
    from geo_spark.operators.geo_noise import local_latlng_sql

    lat, lng = local_latlng_sql("user_id", "event_id", _XC_JITTER_DEG)
    return f"""
        WITH RECURSIVE {_trail_oracle_prefix(lat, lng)},
        e AS (SELECT ua AS u, ub AS v FROM crossings
              UNION SELECT ub, ua FROM crossings),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
        ),
        comp AS (
          SELECT u AS id, least(u, MIN(v)) AS rep FROM reach GROUP BY u
        )
        SELECT rep, COUNT(*) AS n_members
        FROM comp GROUP BY rep ORDER BY rep
    """


def _q_rect_hausdorff_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed Hausdorff distance h(A,B) for every ordered pair of the
    fixture rects (kernel/interval.rect_directed_hausdorff;
    s2/rect.go:494-613), bucketed at 0.02 rad.  The oracle re-derives the
    Voronoi case analysis in SQL: linear lng/lat Hausdorff when the
    longitude gap is zero, else the max of the two endpoint-to-meridian-
    segment distances plus the equator crossing when both lat intervals
    span it."""
    import math

    import pandas as pd

    from geo_spark.kernel.interval import (
        R1Interval,
        Rect,
        S1Interval,
        rect_directed_hausdorff,
    )

    rects = {
        g: Rect(
            R1Interval(math.radians(la0), math.radians(la1)),
            S1Interval(math.radians(ln0), math.radians(ln1)),
        )
        for g, la0, ln0, la1, ln1 in _HAUS_RECTS
    }
    pairs = spark.createDataFrame(
        [(a, b) for a in sorted(rects) for b in sorted(rects) if a != b],
        "ga long, gb long",
    )

    def fn(batches):
        for pdf in batches:
            h = [
                rect_directed_hausdorff(rects[int(a)], rects[int(b)])
                for a, b in zip(pdf["ga"], pdf["gb"])
            ]
            yield pd.DataFrame(
                {
                    "ga": pdf["ga"].astype("int64"),
                    "gb": pdf["gb"].astype("int64"),
                    "h_bucket": pd.Series(
                        [int(v // 0.02) for v in h], dtype="int64"
                    ),
                }
            )

    return (
        pairs.mapInPandas(fn, "ga long, gb long, h_bucket long")
        .orderBy("ga", "gb")
    )


def _oracle_rect_hausdorff_buckets() -> str:
    """Full-chain SQL twin of rect_directed_hausdorff: the S1
    circular-interval directed Hausdorff with wrap/full/singleton
    semantics (s1/interval.go:416-447), then the meridian-edge Voronoi
    case analysis including the lngDiff > pi/2 bisector and
    interior-maximum branches (s2/rect.go:527-646).  Every step is the
    kernel formula transliterated over scalar columns; buckets at 0.02
    rad absorb libm ulp differences between numpy and DuckDB."""
    import math

    rows = ", ".join(
        f"({g}, {math.radians(la0)!r}, {math.radians(la1)!r}, "
        f"{math.radians(ln0)!r}, {math.radians(ln1)!r})"
        for g, la0, ln0, la1, ln1 in _HAUS_RECTS
    )

    def norm(p):
        # S1Interval.contains normalizes -pi -> pi before the test
        return f"(CASE WHEN {p} = -pi() THEN pi() ELSE {p} END)"

    def s1_contains(lo, hi, p):
        pn = norm(p)
        return (
            f"(CASE WHEN {lo} > {hi} THEN ({pn} >= {lo} OR {pn} <= {hi}) "
            f"ELSE ({lo} <= {pn} AND {pn} <= {hi}) END)"
        )

    def pd(a, b):
        # _positive_distance along the circle (s1/interval.go:72-76)
        return (
            f"(CASE WHEN {b} - {a} >= 0 THEN {b} - {a} "
            f"ELSE ({b} + pi()) - ({a} - pi()) END)"
        )

    def clamp(v):
        return f"least(1.0, greatest(-1.0, {v}))"

    # point-to-meridian-segment angular distance (same wedge CASE as the
    # trail oracle) with a degenerate-segment guard (B's lat interval a
    # single point -> endpoint distance)
    seg = """
        CASE WHEN bax = bbx AND bay = bby AND baz = bbz
             THEN 2.0 * asin(0.5 * sqrt(least(4.0,
                  (px-bax)*(px-bax) + (py-bay)*(py-bay) + (pz-baz)*(pz-baz))))
             WHEN ((bay*pz - baz*py)*nx + (baz*px - bax*pz)*ny
                   + (bax*py - bay*px)*nz) >= 0
              AND ((py*bbz - pz*bby)*nx + (pz*bbx - px*bbz)*ny
                   + (px*bby - py*bbx)*nz) >= 0
             THEN 2.0 * asin(0.5 * sqrt(least(4.0,
                  2.0 * (1.0 - sqrt(greatest(0.0,
                  1.0 - power(abs(px*nx + py*ny + pz*nz)
                              / sqrt(nx*nx + ny*ny + nz*nz), 2)))))))
             ELSE 2.0 * asin(0.5 * sqrt(least(4.0, least(
                  (px-bax)*(px-bax) + (py-bay)*(py-bay) + (pz-baz)*(pz-baz),
                  (px-bbx)*(px-bbx) + (py-bby)*(py-bby) + (pz-bbz)*(pz-bbz)))))
        END
    """

    # _interior_max_distance over a sub-interval [lo, hi] of A's lat with
    # B endpoint (bx, *, bz): zero contribution unless the meridian's
    # farthest point from b lies strictly inside the sub-interval; the
    # distance there simplifies to acos(-sqrt(bx^2 + bz^2))
    def interior(lo, hi, bx, bz):
        nrm = f"sqrt({bx}*{bx} + {bz}*{bz})"
        latp = f"asin({clamp(f'-{bz} / {nrm}')})"
        return f"""
        (CASE WHEN {lo} > {hi} OR {bx} >= 0 THEN 0.0
              WHEN {lo} < {latp} AND {latp} < {hi}
              THEN acos({clamp(f'-{nrm}')})
              ELSE 0.0 END)
        """

    return f"""
        WITH rects(g, lat_lo, lat_hi, lng_lo, lng_hi) AS (VALUES {rows}),
        pairs AS (
          SELECT a.g AS ga, b.g AS gb,
                 a.lat_lo AS ala, a.lat_hi AS ahi,
                 a.lng_lo AS ilo, a.lng_hi AS ihi,
                 b.lat_lo AS bla, b.lat_hi AS bhi,
                 b.lng_lo AS ylo, b.lng_hi AS yhi
          FROM rects a, rects b WHERE a.g <> b.g),
        -- S1 directed Hausdorff h(i=a.lng, y=b.lng) with wrap
        s1a AS (
          SELECT *,
                 -- complement center of y (singleton -> antipode)
                 CASE WHEN ylo <> yhi THEN
                        CASE WHEN ylo > yhi THEN 0.5*(ylo + yhi)
                             ELSE CASE WHEN 0.5*(ylo + yhi) <= 0
                                       THEN 0.5*(ylo + yhi) + pi()
                                       ELSE 0.5*(ylo + yhi) - pi() END END
                      ELSE CASE WHEN yhi <= 0 THEN yhi + pi()
                                ELSE yhi - pi() END END AS ycc
          FROM pairs),
        s1b AS (
          SELECT *,
                 CASE WHEN ylo > yhi THEN
                        CASE WHEN ilo > ihi THEN (ilo >= ylo AND ihi <= yhi)
                             ELSE (ilo >= ylo OR ihi <= yhi) END
                      ELSE CASE WHEN ilo > ihi
                                THEN (ylo = -pi() AND yhi = pi())
                                ELSE (ilo >= ylo AND ihi <= yhi) END END
                   AS y_contains_i,
                 {s1_contains('ilo', 'ihi', 'ycc')} AS i_contains_ycc
          FROM s1a),
        s1c AS (
          SELECT ga, gb, ala, ahi, bla, bhi,
                 CASE WHEN y_contains_i THEN 0.0
                      WHEN i_contains_ycc THEN {pd('yhi', 'ycc')}
                      ELSE GREATEST(
                        CASE WHEN {s1_contains('yhi', 'ycc', 'ihi')}
                             THEN {pd('yhi', 'ihi')} ELSE 0.0 END,
                        CASE WHEN {s1_contains('ycc', 'ylo', 'ilo')}
                             THEN {pd('ilo', 'ylo')} ELSE 0.0 END) END AS d
          FROM s1b),
        -- meridian-edge geometry: A's lat endpoints at lng 0, B's
        -- meridian edge at lng d
        geom AS (
          SELECT *,
                 cos(ala) AS p1x, 0.0 AS p1y, sin(ala) AS p1z,
                 cos(ahi) AS p2x, 0.0 AS p2y, sin(ahi) AS p2z,
                 cos(bla)*cos(d) AS bax, cos(bla)*sin(d) AS bay, sin(bla) AS baz,
                 cos(bhi)*cos(d) AS bbx, cos(bhi)*sin(d) AS bby, sin(bhi) AS bbz
          FROM s1c),
        withn AS (
          SELECT *,
                 bay*bbz - baz*bby AS nx,
                 baz*bbx - bax*bbz AS ny,
                 bax*bby - bay*bbx AS nz
          FROM geom),
        -- perpendicular-bisector intersection with longitude 0
        -- (s2/rect.go:634-646): ortho-bisector per the kernel's two
        -- hemisphere branches (analytically equal, trig arguments kept
        -- identical), p = (0,-1,0) x ob = (-obz, 0, obx) normalized
        bis AS (
          SELECT *,
                 CASE WHEN 0.5*(bla + bhi) >= 0
                      THEN cos(0.5*(bla + bhi) - pi()/2) * cos(d)
                      ELSE cos(-0.5*(bla + bhi) - pi()/2) * cos(d - pi()) END
                   AS obx,
                 CASE WHEN 0.5*(bla + bhi) >= 0
                      THEN sin(0.5*(bla + bhi) - pi()/2)
                      ELSE sin(-0.5*(bla + bhi) - pi()/2) END AS obz
          FROM withn),
        bis2 AS (
          SELECT *,
                 sqrt(obz*obz + obx*obx) AS pnorm,
                 asin({clamp('obx / sqrt(obz*obz + obx*obx)')}) AS plat
          FROM bis),
        h AS (
          SELECT ga, gb,
            CASE WHEN d = 0
                 THEN GREATEST(0.0, ahi - bhi, bla - ala)
                 WHEN d <= pi()/2
                 THEN GREATEST(
                      (SELECT {seg} FROM (SELECT p1x AS px, p1y AS py,
                          p1z AS pz, bax, bay, baz, bbx, bby, bbz,
                          nx, ny, nz)),
                      (SELECT {seg} FROM (SELECT p2x AS px, p2y AS py,
                          p2z AS pz, bax, bay, baz, bbx, bby, bbz,
                          nx, ny, nz)),
                      CASE WHEN ala <= 0 AND ahi >= 0
                            AND bla <= 0 AND bhi >= 0
                           THEN d ELSE 0.0 END)
                 ELSE GREATEST(
                      (SELECT {seg} FROM (SELECT p1x AS px, p1y AS py,
                          p1z AS pz, bax, bay, baz, bbx, bby, bbz,
                          nx, ny, nz)),
                      (SELECT {seg} FROM (SELECT p2x AS px, p2y AS py,
                          p2z AS pz, bax, bay, baz, bbx, bby, bbz,
                          nx, ny, nz)),
                      CASE WHEN ala <= plat AND plat <= ahi
                           THEN acos({clamp('(-obz*bax + obx*baz) / pnorm')})
                           ELSE 0.0 END,
                      CASE WHEN plat > ala
                           THEN {interior('ala', 'least(plat, ahi)',
                                          'bax', 'baz')}
                           ELSE 0.0 END,
                      CASE WHEN plat < ahi
                           THEN {interior('greatest(plat, ala)', 'ahi',
                                          'bbx', 'bbz')}
                           ELSE 0.0 END)
            END AS hd
          FROM bis2)
        SELECT ga, gb, CAST(FLOOR(hd / 0.02) AS BIGINT) AS h_bucket
        FROM h ORDER BY ga, gb
    """


_DTW_ANCHOR = (10.0, 20.0)  # degrees; single-vertex anchor "trajectory"


def _q_dtw_anchor_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-timewarp alignment cost of each user trail against a
    single-point anchor (kernel/alignment.py; s2/polyline_alignment.go:
    385-403).  With a one-vertex target the optimal warp must match every
    trail vertex to the anchor, so the cost collapses to the ordered sum
    of vertex->anchor chordal distances — which a SQL oracle can compute
    independently.  Costs are bucketed at 0.05 so ulp-level float
    differences between engines cannot flip the hash."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.operators.alignment_ops import dtw_pair_costs
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    pdf = (
        ev.select("user_id", "ts", "event_id", "lat", "lng")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .groupby("user_id")
        .head(6)
    )
    chains: dict[int, np.ndarray] = {}
    for uid, g in pdf.groupby("user_id"):
        if len(g) < 2:
            continue
        x, y, z = ck.latlng_to_xyz(
            g["lat"].to_numpy(np.float64), g["lng"].to_numpy(np.float64)
        )
        chains[int(uid)] = np.stack([x, y, z], axis=1)
    ax, ay, az = ck.latlng_to_xyz(
        np.float64(_DTW_ANCHOR[0]), np.float64(_DTW_ANCHOR[1])
    )
    anchor_id = -1
    chains[anchor_id] = np.array([[float(ax), float(ay), float(az)]])
    pairs = spark.createDataFrame(
        [(uid, anchor_id) for uid in sorted(chains) if uid != anchor_id],
        "aid long, bid long",
    )
    return (
        dtw_pair_costs(pairs, chains)
        .select(
            F.col("aid").alias("user_id"),
            F.floor(F.col("dtw_cost") / F.lit(0.05)).cast("long").alias("dtw_bucket"),
        )
        .orderBy("user_id")
    )


def _oracle_dtw_anchor_cost() -> str:
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ax, ay, az = ck.latlng_to_xyz(
        np.float64(_DTW_ANCHOR[0]), np.float64(_DTW_ANCHOR[1])
    )
    return f"""
        WITH ranked AS (SELECT user_id, ts, event_id,
                               row_number() OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS rk,
                               count(*) OVER (PARTITION BY user_id) AS cnt
                        FROM events),
        pts AS (SELECT user_id, rk, {lat} AS lat, {lng} AS lng
                FROM ranked WHERE rk <= 6 AND cnt >= 2),
        xyz AS (SELECT user_id,
                       cos(radians(lng))*cos(radians(lat)) AS px,
                       sin(radians(lng))*cos(radians(lat)) AS py,
                       sin(radians(lat)) AS pz
                FROM pts)
        SELECT user_id,
               CAST(FLOOR(SUM(sqrt(
                   (px - {float(ax)!r})*(px - {float(ax)!r})
                 + (py - {float(ay)!r})*(py - {float(ay)!r})
                 + (pz - {float(az)!r})*(pz - {float(az)!r}))) / 0.05) AS BIGINT)
                   AS dtw_bucket
        FROM xyz GROUP BY user_id ORDER BY user_id
    """


def _q_frechet_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fréchet distance of each user trail against the
    single-point anchor (kernel/alignment.py:frechet_distance — the
    dog-leash min-max metric; general-chain DP differentially tested in
    tests/test_alignment.py).  With a one-vertex target every coupling
    matches all trail vertices to the anchor, so the min-max collapses
    to MAX(vertex->anchor distance) — independently computable in SQL.
    Buckets at 0.05 like the DTW twin."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.operators.alignment_ops import frechet_pair_costs
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    pdf = (
        ev.select("user_id", "ts", "event_id", "lat", "lng")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .groupby("user_id")
        .head(6)
    )
    chains: dict[int, np.ndarray] = {}
    for uid, g in pdf.groupby("user_id"):
        if len(g) < 2:
            continue
        x, y, z = ck.latlng_to_xyz(
            g["lat"].to_numpy(np.float64), g["lng"].to_numpy(np.float64)
        )
        chains[int(uid)] = np.stack([x, y, z], axis=1)
    ax, ay, az = ck.latlng_to_xyz(
        np.float64(_DTW_ANCHOR[0]), np.float64(_DTW_ANCHOR[1])
    )
    anchor_id = -1
    chains[anchor_id] = np.array([[float(ax), float(ay), float(az)]])
    pairs = spark.createDataFrame(
        [(uid, anchor_id) for uid in sorted(chains) if uid != anchor_id],
        "aid long, bid long",
    )
    return (
        frechet_pair_costs(pairs, chains)
        .select(
            F.col("aid").alias("user_id"),
            F.floor(F.col("frechet_cost") / F.lit(0.05))
            .cast("long")
            .alias("frechet_bucket"),
        )
        .orderBy("user_id")
    )


def _oracle_frechet_anchor() -> str:
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ax, ay, az = ck.latlng_to_xyz(
        np.float64(_DTW_ANCHOR[0]), np.float64(_DTW_ANCHOR[1])
    )
    return f"""
        WITH ranked AS (SELECT user_id, ts, event_id,
                               row_number() OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS rk,
                               count(*) OVER (PARTITION BY user_id) AS cnt
                        FROM events),
        pts AS (SELECT user_id, rk, {lat} AS lat, {lng} AS lng
                FROM ranked WHERE rk <= 6 AND cnt >= 2),
        xyz AS (SELECT user_id,
                       cos(radians(lng))*cos(radians(lat)) AS px,
                       sin(radians(lng))*cos(radians(lat)) AS py,
                       sin(radians(lat)) AS pz
                FROM pts)
        SELECT user_id,
               CAST(FLOOR(MAX(sqrt(
                   (px - {float(ax)!r})*(px - {float(ax)!r})
                 + (py - {float(ay)!r})*(py - {float(ay)!r})
                 + (pz - {float(az)!r})*(pz - {float(az)!r}))) / 0.05) AS BIGINT)
                   AS frechet_bucket
        FROM xyz GROUP BY user_id ORDER BY user_id
    """


def _q_knn_ring_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN over a 5000-target layer — above BRUTE_FORCE_MAX_TARGETS, so
    this exercises the cell-ring expansion path (with the mid-flight
    straggler GEMM switch); results are exact, verified against an
    all-pairs DuckDB window oracle."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.knn import knn_join

    ev = with_geo_noise(_t(spark, sf_dir, "events").select("event_id"), "event_id")
    tg = with_geo_noise(
        spark.range(5000).select(F.col("id").alias("tid")), "(tid + 500000)"
    )
    return (
        knn_join(
            ev,
            tg,
            k=3,
            point_key="event_id",
            target_key="tid",
            # rings do the bulk; the last <=5000 stragglers finish as one
            # broadcast GEMM (exactness unchanged, rounds bounded)
            straggler_brute_cells=25_000_000,
        )
        .orderBy("event_id", "rank")
    )


def _oracle_knn_ring_events() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    elat, elng = LAT_SQL.format(id="event_id"), LNG_SQL.format(id="event_id")
    tlat, tlng = LAT_SQL.format(id="(g + 500000)"), LNG_SQL.format(id="(g + 500000)")
    return f"""
        WITH pts AS (SELECT event_id, {elat} AS lat, {elng} AS lng FROM events),
        pxyz AS (SELECT event_id,
                        cos(radians(lng))*cos(radians(lat)) AS px,
                        sin(radians(lng))*cos(radians(lat)) AS py,
                        sin(radians(lat)) AS pz FROM pts),
        tg AS (SELECT g AS tid, {tlat} AS lat, {tlng} AS lng
               FROM generate_series(0, 4999) s(g)),
        txyz AS (SELECT tid,
                        cos(radians(lng))*cos(radians(lat)) AS tx,
                        sin(radians(lng))*cos(radians(lat)) AS ty,
                        sin(radians(lat)) AS tz FROM tg),
        d AS (SELECT event_id, tid,
                     least((px-tx)*(px-tx) + (py-ty)*(py-ty) + (pz-tz)*(pz-tz),
                           4.0) AS chord2
              FROM pxyz, txyz),
        r AS (SELECT event_id, tid,
                     row_number() OVER (PARTITION BY event_id
                                        ORDER BY chord2, tid) AS rk
              FROM d)
        SELECT event_id, tid, CAST(rk AS INT) AS rank
        FROM r WHERE rk <= 3 ORDER BY event_id, rank
    """


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: 3-way join + filter + top-10."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def _oracle_tpch_q3() -> str:
    return """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                    AS DOUBLE) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """


def _q_events_outside_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti spatial join: events in NO cap, counted per event_type."""
    from geo_spark.operators.spatial_join import spatial_join

    ev = _events_with_cells(spark, sf_dir)
    anti = spatial_join(
        ev,
        _cap_layer(spark),
        point_key="event_id",
        how="left_anti",
        latlng=("lat", "lng"),
    )
    return (
        anti.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type")
    )


def _oracle_events_outside_caps() -> str:
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    caps = ", ".join(
        "({g}, cos(radians({ln!r}))*cos(radians({la!r})), "
        "sin(radians({ln!r}))*cos(radians({la!r})), sin(radians({la!r})), {r2!r})".format(
            g=g, la=la, ln=ln, r2=chord2_from_angle(r)
        )
        for g, la, ln, r in _CAPS
    )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        caps(geom_id, cx, cy, cz, r2) AS (VALUES {caps})
        SELECT e.event_type, COUNT(*) AS cnt
        FROM events e JOIN xyz USING (event_id)
        WHERE NOT EXISTS (
          SELECT 1 FROM caps
          WHERE least((x-cx)*(x-cx) + (y-cy)*(y-cy) + (z-cz)*(z-cz), 4.0) <= r2
        )
        GROUP BY e.event_type ORDER BY e.event_type
    """


def _q_snap_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IntLatLng snap-to-grid site dedup (the Builder snap stage,
    s2/builder_snapper.go:355-507, as a groupBy instead of the
    reference's O(N^2) loop): snap events to an E2 grid (0.01 deg) and
    count distinct sites per face-level-2 quadrant."""
    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    snapped = ev.withColumns(
        {
            # floor(x*scale + 0.5): explicit half-up, portable rounding
            "slat": F.floor(F.col("lat") * 100 + F.lit(0.5)).cast("long"),
            "slng": F.floor(F.col("lng") * 100 + F.lit(0.5)).cast("long"),
        }
    )
    sites = snapped.select("slat", "slng").distinct()
    enc = sites.withColumn(
        "cell_id", s2_cellid(F.col("slat") / 100.0, F.col("slng") / 100.0)
    ).withColumn("fij", s2_face_ij(F.col("cell_id")))
    return (
        enc.select(
            F.col("fij.face").cast("long").alias("face"),
            F.shiftright(F.col("fij.i"), 28).alias("qi"),
            F.shiftright(F.col("fij.j"), 28).alias("qj"),
        )
        .groupBy("face", "qi", "qj")
        .agg(F.count(F.lit(1)).alias("n_sites"))
        .orderBy("face", "qi", "qj")
    )


def _oracle_snap_dedup() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, duckdb_face_ij_query

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = f"""
        SELECT DISTINCT CAST(floor(({lat}) * 100 + 0.5) AS BIGINT) AS slat,
                        CAST(floor(({lng}) * 100 + 0.5) AS BIGINT) AS slng
        FROM events
    """
    fij = duckdb_face_ij_query(
        f"SELECT slat / 100.0 AS lat, slng / 100.0 AS lng FROM ({src})"
    )
    return f"""
        SELECT CAST(face AS BIGINT) AS face,
               i // 268435456 AS qi, j // 268435456 AS qj,
               COUNT(*) AS n_sites
        FROM ({fij})
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """


def _q_snap_e6_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IntLatLng snapper proper (kernel/builder.snap_latlng_e,
    s2/builder_snapper.go:355-505 documented E-coordinate semantics,
    rounding half away from zero per s2/util.go:21) at two exponents:
    per-event integer E6 coordinates plus the occupancy of the event's
    E0 (1-degree) site.  Coordinates come from the pure-double degree
    streams so the DuckDB oracle replays the scale+round chain
    bit-exactly (floor discipline, PLANS.md float-discipline note)."""
    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel.builder import snap_latlng_e
    from geo_spark.operators.geo_noise import LAT_D_SQL, LNG_D_SQL

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr(LAT_D_SQL.format(id="event_id")).alias("lat"),
        F.expr(LNG_D_SQL.format(id="event_id")).alias("lng"),
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ilat0", T.LongType()),
            T.StructField("ilng0", T.LongType()),
            T.StructField("ilat6", T.LongType()),
            T.StructField("ilng6", T.LongType()),
        ]
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            lat = pdf["lat"].to_numpy(np.float64)
            lng = pdf["lng"].to_numpy(np.float64)
            ila6, iln6 = snap_latlng_e(lat, lng, 6)
            ila0, iln0 = snap_latlng_e(lat, lng, 0)
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(np.int64),
                    "ilat0": ila0,
                    "ilng0": iln0,
                    "ilat6": ila6,
                    "ilng6": iln6,
                }
            )

    from pyspark.sql import Window

    # one snapping pass: the occupancy is a window count, not a
    # rejoin (the groupBy+join alternative recomputes the Arrow pass
    # for each branch) — same shape as the oracle's COUNT(*) OVER
    snapped = ev.mapInPandas(fn, schema)
    return (
        snapped.withColumn(
            "n_at_site",
            F.count(F.lit(1)).over(Window.partitionBy("ilat0", "ilng0")),
        )
        .select("event_id", "ilat0", "ilng0", "ilat6", "ilng6", "n_at_site")
        .orderBy("event_id")
    )


def _oracle_snap_e6_sites() -> str:
    from geo_spark.operators.geo_noise import LAT_D_SQL, LNG_D_SQL

    lat = LAT_D_SQL.format(id="event_id")
    lng = LNG_D_SQL.format(id="event_id")

    def rnd(v: str) -> str:
        return (
            f"CASE WHEN ({v}) >= 0 THEN CAST(FLOOR(({v}) + 0.5e0) AS BIGINT)"
            f" ELSE -CAST(FLOOR(-({v}) + 0.5e0) AS BIGINT) END"
        )

    return f"""
        WITH s AS (SELECT event_id,
                          {rnd(lat)} AS ilat0,
                          {rnd(lng)} AS ilng0,
                          {rnd(f"({lat}) * 1000000e0")} AS ilat6,
                          {rnd(f"({lng}) * 1000000e0")} AS ilng6
                   FROM events)
        SELECT event_id, ilat0, ilng0, ilat6, ilng6,
               COUNT(*) OVER (PARTITION BY ilat0, ilng0) AS n_at_site
        FROM s ORDER BY event_id
    """


def _q_mercator_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-Mercator projection (kernel/projections.MercatorProjection,
    s2/projections.go:146-230) per event plus its zoom-4 Web-Mercator
    tile: y = 0.5*ln((1+sin)/(1-sin)) from the pure-arithmetic SINLAT
    stream (no trig before the single ln), x = radians(lng).  Both
    engines replay the identical chain; the only transcendental in the
    compared path is one ln/radians pair (1-ulp class, 1e-6 floors flip
    with probability ~1e-9/row — the measured float-discipline rule)."""
    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel.projections import MercatorProjection
    from geo_spark.operators.geo_noise import LNG_D_SQL, SINLAT_SQL

    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.expr(SINLAT_SQL.format(id="event_id")).alias("s"),
            F.expr(LNG_D_SQL.format(id="event_id")).alias("lngd"),
        )
        .where(F.col("s").between(-0.999999, 0.999999))
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("xm6", T.LongType()),
            T.StructField("ym6", T.LongType()),
            T.StructField("tx", T.LongType()),
            T.StructField("ty", T.LongType()),
        ]
    )

    def fn(batches):
        import numpy as np

        merc = MercatorProjection(np.pi)  # from_radians = 1: raw x/y
        for pdf in batches:
            s = pdf["s"].to_numpy(np.float64)
            lngd = pdf["lngd"].to_numpy(np.float64)
            x, y = merc.project_sinlat(s, np.radians(lngd))
            tx = np.clip(np.floor((x / np.pi + 1.0) * 8.0), 0, 15)
            ty = np.clip(np.floor((1.0 - y / np.pi) * 8.0), 0, 15)
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(np.int64),
                    "xm6": np.floor(x * 1e6).astype(np.int64),
                    "ym6": np.floor(y * 1e6).astype(np.int64),
                    "tx": tx.astype(np.int64),
                    "ty": ty.astype(np.int64),
                }
            )

    return ev.mapInPandas(fn, schema).orderBy("event_id")


def _oracle_mercator_tiles() -> str:
    from geo_spark.operators.geo_noise import LNG_D_SQL, SINLAT_SQL

    s = SINLAT_SQL.format(id="event_id")
    lng = LNG_D_SQL.format(id="event_id")
    return f"""
        WITH src AS (SELECT event_id, {s} AS s, {lng} AS lngd
                     FROM events
                     WHERE {s} BETWEEN -0.999999e0 AND 0.999999e0),
             m AS (SELECT event_id,
                          radians(lngd) AS x,
                          0.5e0 * ln((1.0e0 + s) / (1.0e0 - s)) AS y
                   FROM src)
        SELECT event_id,
               CAST(FLOOR(x * 1000000e0) AS BIGINT) AS xm6,
               CAST(FLOOR(y * 1000000e0) AS BIGINT) AS ym6,
               CAST(LEAST(GREATEST(FLOOR((x / pi() + 1.0e0) * 8.0e0),
                                   0e0), 15e0) AS BIGINT) AS tx,
               CAST(LEAST(GREATEST(FLOOR((1.0e0 - y / pi()) * 8.0e0),
                                   0e0), 15e0) AS BIGINT) AS ty
        FROM m ORDER BY event_id
    """


def _q_rhumb_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loxodrome legs (kernel/projections.rhumb_distance_bearing): per
    user, consecutive events pair up by event_id order and get the
    constant-bearing distance + initial bearing — the straight line in
    Mercator space.  Coordinates come from the pure-arithmetic degree
    streams (LAT_D/LNG_D, poles excluded at |lat| <= 89.9 so ln never
    sees 0); the compared floors sit on raw sin/ln/atan2 chains over
    bit-identical inputs (the measured 1-ulp class)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from geo_spark.kernel.projections import rhumb_distance_bearing
    from geo_spark.operators.geo_noise import LAT_D_SQL, LNG_D_SQL

    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.expr(LAT_D_SQL.format(id="event_id")).alias("lat"),
            F.expr(LNG_D_SQL.format(id="event_id")).alias("lng"),
        )
        .where(F.abs(F.col("lat")) <= 89.9)
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    pairs = (
        ev.withColumn("next_event", F.lead("event_id").over(w))
        .withColumn("lat2", F.lead("lat").over(w))
        .withColumn("lng2", F.lead("lng").over(w))
        .where(F.col("next_event").isNotNull())
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("next_event", T.LongType()),
            T.StructField("dist_u6", T.LongType()),
            T.StructField("brg_u4", T.LongType()),
        ]
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            dist, brg = rhumb_distance_bearing(
                pdf["lat"].to_numpy(np.float64),
                pdf["lng"].to_numpy(np.float64),
                pdf["lat2"].to_numpy(np.float64),
                pdf["lng2"].to_numpy(np.float64),
            )
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"].to_numpy(np.int64),
                    "event_id": pdf["event_id"].to_numpy(np.int64),
                    "next_event": pdf["next_event"].to_numpy(np.int64),
                    "dist_u6": np.floor(dist * 1e6).astype(np.int64),
                    "brg_u4": np.floor(brg * 1e4).astype(np.int64),
                }
            )

    return (
        pairs.select("user_id", "event_id", "next_event", "lat", "lng", "lat2", "lng2")
        .mapInPandas(fn, schema)
        .orderBy("event_id")
    )


def _q_rhumb_trails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed aggregate over the loxodrome kernel: per user, the
    number of legs and total rhumb path length (sum of the exact
    integer micro-radian legs of q_rhumb_segments).  Certifies the
    kernel under a partial-aggregatable rollup; the oracle nests the
    full per-leg replay."""
    df = _q_rhumb_segments(spark, sf_dir)
    return (
        df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_legs"),
            F.sum("dist_u6").alias("path_u6"),
        )
        .orderBy("user_id")
    )


def _oracle_rhumb_trails() -> str:
    inner = _oracle_rhumb_segments()
    return f"""
        WITH legs AS MATERIALIZED ({inner})
        SELECT user_id, COUNT(*) AS n_legs,
               CAST(SUM(dist_u6) AS BIGINT) AS path_u6
        FROM legs GROUP BY user_id ORDER BY user_id
    """


def _oracle_rhumb_segments() -> str:
    from geo_spark.operators.geo_noise import LAT_D_SQL, LNG_D_SQL

    lat = LAT_D_SQL.format(id="event_id")
    lng = LNG_D_SQL.format(id="event_id")
    return f"""
        WITH src AS (SELECT event_id, user_id,
                            {lat} AS lat, {lng} AS lng
                     FROM events
                     WHERE abs({lat}) <= 89.9e0),
        p AS (SELECT event_id, user_id, lat, lng,
                     lead(event_id) OVER w AS next_event,
                     lead(lat) OVER w AS lat2,
                     lead(lng) OVER w AS lng2
              FROM src
              WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        m AS (SELECT user_id, event_id, next_event,
                     radians(lat) AS phi1, radians(lat2) AS phi2,
                     radians(lng) AS lam1, radians(lng2) AS lam2
              FROM p WHERE next_event IS NOT NULL),
        c AS (SELECT user_id, event_id, next_event,
                     phi2 - phi1 AS dphi,
                     0.5e0 * ln((1.0e0 + sin(phi2)) / (1.0e0 - sin(phi2)))
                       - 0.5e0 * ln((1.0e0 + sin(phi1)) / (1.0e0 - sin(phi1)))
                       AS dpsi,
                     (lam2 - lam1)
                       - floor((lam2 - lam1) / (2e0 * pi()) + 0.5e0)
                         * (2e0 * pi()) AS dlam,
                     cos(phi1) AS cphi1
              FROM m),
        r AS (SELECT user_id, event_id, next_event,
                     CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi
                          ELSE cphi1 END AS q,
                     dphi, dpsi, dlam
              FROM c)
        SELECT user_id, event_id, next_event,
               CAST(FLOOR(sqrt(dphi*dphi + q*q*dlam*dlam) * 1000000e0)
                    AS BIGINT) AS dist_u6,
               CAST(FLOOR(atan2(dlam, dpsi) * 10000e0) AS BIGINT) AS brg_u4
        FROM r ORDER BY event_id
    """


def _q_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way interval overlap profile (the s2intersect sweep shape,
    s2/s2intersect/s2intersect.go:91-296) over deterministic integer
    intervals derived from orders."""
    from geo_spark.operators.sweep import overlap_profile

    orders = _t(spark, sf_dir, "orders")
    iv = orders.select(
        (F.col("o_orderkey") % 1000).alias("lo"),
        ((F.col("o_orderkey") % 1000) + (F.col("o_custkey") % 50)).alias("hi"),
    )
    return overlap_profile(iv, "lo", "hi")


def _oracle_interval_sweep() -> str:
    return """
        WITH iv AS (
          SELECT o_orderkey % 1000 AS lo,
                 (o_orderkey % 1000) + (o_custkey % 50) AS hi
          FROM orders
        ),
        ev AS (
          SELECT lo AS pos, 1 AS delta FROM iv
          UNION ALL
          SELECT hi + 1 AS pos, -1 AS delta FROM iv
        ),
        g AS (SELECT pos, SUM(delta) AS d FROM ev GROUP BY pos)
        SELECT pos, CAST(SUM(d) OVER (ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS active
        FROM g ORDER BY pos
    """


def _q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level tile rollup (GROUPING SETS over face/quadtree
    prefixes): counts at (face, ti8), (face), and grand total."""
    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    enc = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    dec = enc.withColumn("fij", s2_face_ij(F.col("cell_id")))
    base = dec.select(
        F.col("fij.face").cast("long").alias("face"),
        F.shiftright(F.col("fij.i"), 22).alias("ti"),
    )
    return (
        base.rollup("face", "ti")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce(F.col("face"), F.lit(-1)).alias("face"),
            F.coalesce(F.col("ti"), F.lit(-1)).alias("ti"),
            "cnt",
        )
        .orderBy("face", "ti")
    )


def _oracle_tile_rollup() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, duckdb_face_ij_query

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = f"SELECT event_id, {lat} AS lat, {lng} AS lng FROM events"
    fij = duckdb_face_ij_query(src)
    return f"""
        SELECT COALESCE(CAST(face AS BIGINT), -1) AS face,
               COALESCE(i // 4194304, -1) AS ti,
               COUNT(*) AS cnt
        FROM ({fij})
        GROUP BY ROLLUP (face, i // 4194304)
        ORDER BY face, ti
    """


_KMV_K = 32


def _q_tile_user_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per level-4 tile via the KMV sketch
    (operators/sketches.py): k smallest distinct 32-bit hashes per
    group, exact below k, integer-floor estimator above.  The oracle
    replays hash, rank-k cut, and estimator in plain SQL — the sketch
    is bit-deterministic by construction, so the *approximate* operator
    still gets an exact correctness gate (the same trick as the
    quantized-LUT PQ scan)."""
    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.sketches import kmv_distinct

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    enc = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    dec = enc.withColumn("fij", s2_face_ij(F.col("cell_id")))
    base = dec.select(
        F.col("fij.face").cast("long").alias("face"),
        F.shiftright(F.col("fij.i"), 26).alias("ti"),
        F.shiftright(F.col("fij.j"), 26).alias("tj"),
        "user_id",
    )
    return (
        kmv_distinct(base, ["face", "ti", "tj"], "user_id", k=_KMV_K)
        .select("face", "ti", "tj", "n_kept", "est_distinct")
        .orderBy("face", "ti", "tj")
    )


def _oracle_tile_user_kmv() -> str:
    from geo_spark.operators.geo_noise import (
        LAT_SQL,
        LNG_SQL,
        duckdb_face_ij_query,
    )
    from geo_spark.operators.sketches import kmv_hash_sql

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = (
        f"SELECT event_id, user_id, {lat} AS lat, {lng} AS lng FROM events"
    )
    fij = duckdb_face_ij_query(src)
    h = kmv_hash_sql("user_id")
    k = _KMV_K
    return f"""
        WITH tiles AS (
          SELECT CAST(face AS BIGINT) AS face,
                 i // 67108864 AS ti, j // 67108864 AS tj,
                 {h} AS h
          FROM ({fij})
        ),
        d AS (SELECT DISTINCT face, ti, tj, h FROM tiles),
        r AS (SELECT face, ti, tj, h,
                     row_number() OVER (
                       PARTITION BY face, ti, tj ORDER BY h) AS rn
              FROM d),
        agg AS (
          SELECT face, ti, tj, count(*) AS n_kept, max(h) AS kth
          FROM r WHERE rn <= {k} GROUP BY 1, 2, 3
        )
        SELECT face, ti, tj, n_kept,
               CASE WHEN n_kept < {k} THEN n_kept
                    ELSE ({k - 1} * 4294967296) // kth END AS est_distinct
        FROM agg ORDER BY face, ti, tj
    """


def _q_tile_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile median of the event value field on a deterministic
    bottom-64-by-md5 sample (operators/sketches.py:sampled_group_median)
    — bounded per-group state, the quantile analog of the KMV sketch.
    The median is a SELECTED row's value (no float arithmetic), so the
    oracle match is bitwise."""
    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.sketches import sampled_group_median

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    enc = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    dec = enc.withColumn("fij", s2_face_ij(F.col("cell_id")))
    base = dec.select(
        F.col("fij.face").cast("long").alias("face"),
        F.shiftright(F.col("fij.i"), 26).alias("ti"),
        F.shiftright(F.col("fij.j"), 26).alias("tj"),
        "event_id",
        "value",
    )
    return sampled_group_median(
        base, ["face", "ti", "tj"], "value", "event_id", k=64
    ).orderBy("face", "ti", "tj")


def _oracle_tile_value_median() -> str:
    from geo_spark.operators.geo_noise import (
        LAT_SQL,
        LNG_SQL,
        duckdb_face_ij_query,
    )

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = (
        "SELECT event_id, value, "
        f"{lat} AS lat, {lng} AS lng FROM events"
    )
    fij = duckdb_face_ij_query(src)
    return f"""
        WITH tiles AS (
          SELECT CAST(face AS BIGINT) AS face,
                 i // 67108864 AS ti, j // 67108864 AS tj,
                 event_id, value
          FROM ({fij})
        ),
        kept AS (
          SELECT face, ti, tj, event_id, value FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY face, ti, tj
                     ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                   ) AS rn
            FROM tiles
          ) WHERE rn <= 64
        ),
        ranked AS (
          SELECT face, ti, tj, value,
                 row_number() OVER (
                   PARTITION BY face, ti, tj
                   ORDER BY value, event_id) AS vr,
                 count(*) OVER (PARTITION BY face, ti, tj) AS m
          FROM kept
        )
        SELECT face, ti, tj, m AS n_sample, value AS median
        FROM ranked WHERE vr = CAST(ceil(m / 2.0) AS BIGINT)
        ORDER BY face, ti, tj
    """


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py:decontaminate):
    flag documents sharing any distinct 16-char shingle with the probe
    set (doc_id % 50 == 0 stands in for an eval set), returning hit
    counts.  Probe shingles broadcast; corpus side is one scan +
    semi-join + groupBy."""
    from geo_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, probes, n=16).orderBy("doc_id")


def _oracle_decontaminate() -> str:
    return """
        WITH pr AS (
          SELECT DISTINCT s
          FROM documents,
               UNNEST(list_transform(
                   range(1, greatest(length(text)-15, 1)+1),
                   i -> substr(text, i, 16))) AS t(s)
          WHERE doc_id % 50 = 0 AND length(s) = 16
        ),
        d AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(
                   range(1, greatest(length(text)-15, 1)+1),
                   i -> substr(text, i, 16))) AS t(s)
          WHERE length(s) = 16
        )
        SELECT doc_id, count(*) AS n_hits
        FROM d JOIN pr USING (s)
        GROUP BY doc_id ORDER BY doc_id
    """


def _q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination fraction (operators/dedup.py:contamination_score):
    per-document share of distinct 16-char shingles found in the probe
    set (doc_id % 50 == 0), as the exact integer micro-fraction
    (n_hit*1e6) div n_shingles.  The threshold-policy metric on top of
    the ANY-hit decontaminate semi-join; probe shingles broadcast,
    corpus never shuffled."""
    from geo_spark.operators.dedup import contamination_score

    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 50 == 0)
    return contamination_score(docs, probes, n=16).orderBy("doc_id")


def _oracle_contamination_score() -> str:
    return """
        WITH pr AS (
          SELECT DISTINCT s
          FROM documents,
               UNNEST(list_transform(
                   range(1, greatest(length(text)-15, 1)+1),
                   i -> substr(text, i, 16))) AS t(s)
          WHERE doc_id % 50 = 0 AND length(s) = 16
        ),
        d AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(
                   range(1, greatest(length(text)-15, 1)+1),
                   i -> substr(text, i, 16))) AS t(s)
          WHERE length(s) = 16
        ),
        agg AS (
          SELECT doc_id,
                 count(*) AS n_shingles,
                 count(*) FILTER (WHERE s IN (SELECT s FROM pr)) AS n_hit
          FROM d GROUP BY doc_id
        )
        SELECT doc_id, n_shingles, n_hit,
               (n_hit * 1000000) // n_shingles AS frac_e6
        FROM agg ORDER BY doc_id
    """


def _q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf diagnostics (operators/text.py:zipf_slope): per
    language, the log-log slope of the top-100 token frequencies with
    both regressors quantized to 1e-6 BIGINTs before summation — the
    five sums are exact integers, so the slope is bit-stable and the
    oracle replays count -> rank -> quantize -> least squares."""
    from geo_spark.operators.text import zipf_slope

    return zipf_slope(
        _t(spark, sf_dir, "documents"), group_col="lang", top_k=100
    ).orderBy("lang")


def _oracle_zipf_slope() -> str:
    return """
        WITH toks AS (SELECT lang AS g, unnest(string_split(text, ' ')) AS term
                      FROM documents),
        freq AS (SELECT g, term, COUNT(*) AS f
                 FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
        top AS (SELECT g, f,
                       row_number() OVER (PARTITION BY g
                                          ORDER BY f DESC, term) AS r
                FROM freq QUALIFY r <= 100),
        q AS (SELECT g, f,
                     CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                     CAST(FLOOR(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS y
              FROM top),
        agg AS (SELECT g, COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x*y) AS sxy, SUM(x*x) AS sxx
                FROM q GROUP BY g),
        tot AS (SELECT g, COUNT(*) AS n_types,
                       CAST(SUM(f) AS BIGINT) AS n_tokens
                FROM freq GROUP BY g)
        SELECT a.g AS lang, t.n_types, t.n_tokens,
               CAST(FLOOR((CAST(a.k AS DOUBLE) * CAST(a.sxy AS DOUBLE)
                           - CAST(a.sx AS DOUBLE) * CAST(a.sy AS DOUBLE))
                          / (CAST(a.k AS DOUBLE) * CAST(a.sxx AS DOUBLE)
                             - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE))
                          * 10000e0) AS BIGINT) AS slope_u4
        FROM agg a JOIN tot t USING (g)
        WHERE a.k >= 2 ORDER BY lang
    """


def _q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve + Heaps exponent per language
    (operators/text.py:heaps_law): V(N) at 10 document-prefix
    checkpoints via first-occurrence ranks (no per-checkpoint rescan),
    beta from the quantize-before-sum regression.  The oracle replays
    rank -> first-rank -> checkpoint joins -> fit."""
    from geo_spark.operators.text import heaps_law

    return heaps_law(
        _t(spark, sf_dir, "documents"), group_col="lang", checkpoints=10
    ).orderBy("lang", "checkpoint")


def _oracle_heaps_law() -> str:
    return """
        WITH ranked AS (SELECT lang AS g, doc_id, text,
                               row_number() OVER (PARTITION BY lang
                                                  ORDER BY doc_id) AS rn
                        FROM documents),
        toks AS (SELECT g, rn, unnest(string_split(text, ' ')) AS term
                 FROM ranked),
        tok2 AS (SELECT g, rn, term FROM toks WHERE len(term) > 0),
        fst AS (SELECT g, term, MIN(rn) AS fr FROM tok2 GROUP BY 1, 2),
        per_doc AS (SELECT g, rn, COUNT(*) AS tok FROM tok2 GROUP BY 1, 2),
        nd AS (SELECT g, MAX(rn) AS ndt FROM ranked GROUP BY g),
        cps AS (SELECT DISTINCT g, (c * ndt) // 10 AS cut
                FROM nd, (SELECT unnest(range(1, 11)) AS c)
                WHERE (c * ndt) // 10 >= 1),
        v AS (SELECT c.g, c.cut, COUNT(*) AS n_types
              FROM cps c JOIN fst f ON f.g = c.g AND f.fr <= c.cut
              GROUP BY 1, 2),
        ntok AS (SELECT c.g, c.cut,
                        CAST(SUM(p.tok) AS BIGINT) AS n_tokens
                 FROM cps c JOIN per_doc p ON p.g = c.g AND p.rn <= c.cut
                 GROUP BY 1, 2),
        q AS (SELECT v.g, v.cut, v.n_types, ntok.n_tokens,
                     CAST(FLOOR(ln(CAST(ntok.n_tokens AS DOUBLE)) * 1e6)
                          AS BIGINT) AS x,
                     CAST(FLOOR(ln(CAST(v.n_types AS DOUBLE)) * 1e6)
                          AS BIGINT) AS y
              FROM v JOIN ntok ON v.g = ntok.g AND v.cut = ntok.cut),
        fit AS (SELECT g, COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x*y) AS sxy, SUM(x*x) AS sxx
                FROM q GROUP BY g
                HAVING COUNT(*) >= 2 AND COUNT(DISTINCT x) >= 2)
        SELECT q.g AS lang, q.cut AS checkpoint, q.n_tokens, q.n_types,
               CAST(FLOOR((CAST(f.k AS DOUBLE) * CAST(f.sxy AS DOUBLE)
                           - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
                          / (CAST(f.k AS DOUBLE) * CAST(f.sxx AS DOUBLE)
                             - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE))
                          * 10000e0) AS BIGINT) AS beta_u4
        FROM q JOIN fit f USING (g) ORDER BY lang, checkpoint
    """


def _q_top_events_per_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 highest-value events per level-4 face/quadtree
    tile (ties by event_id)."""
    from pyspark.sql import Window

    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    enc = ev.withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    dec = enc.withColumn("fij", s2_face_ij(F.col("cell_id")))
    base = dec.select(
        "event_id",
        F.col("value"),
        F.col("fij.face").cast("long").alias("face"),
        F.shiftright(F.col("fij.i"), 26).alias("ti"),
        F.shiftright(F.col("fij.j"), 26).alias("tj"),
    )
    w = Window.partitionBy("face", "ti", "tj").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        base.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("face", "ti", "tj", "event_id", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("face", "ti", "tj", "rnk")
    )


def _oracle_top_events_per_tile() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, duckdb_face_ij_query

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = (
        f"SELECT event_id, value, {lat} AS lat, {lng} AS lng FROM events"
    )
    fij = duckdb_face_ij_query(src)
    return f"""
        WITH t AS (
          SELECT event_id, value, CAST(face AS BIGINT) AS face,
                 i // 67108864 AS ti, j // 67108864 AS tj
          FROM ({fij})
        ),
        r AS (SELECT face, ti, tj, event_id,
                     row_number() OVER (PARTITION BY face, ti, tj
                                        ORDER BY value DESC, event_id) AS rnk
              FROM t)
        SELECT face, ti, tj, event_id, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 3 ORDER BY face, ti, tj, rnk
    """


def _q_city_hulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex hull size per level-2 face/quadtree tile over a sampled
    event subset (operators/hull.convex_hull_points — Graham scan with
    the RobustSign strict-turn rule).  Oracle: a point is a hull vertex
    iff some ordered pair (a,b) has every other group point strictly
    left of the great circle a x b — an O(n^2) pair scan with a
    correlated all-points check, tractable because the query samples
    events 7-to-1 (~45 points per tile).  Tiles are keyed (face, ti, tj)
    like the rollup queries: Hilbert numbering permutes cells within a
    level but never regroups the quadtree."""
    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.hull import group_convex_hulls

    shift = 1 << 28  # leaf ij -> level-2 tile coordinate
    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id").where(
        (F.col("event_id") % 7) == 0
    )
    enc = ev.withColumn(
        "fij", s2_face_ij(s2_cellid(F.col("lat"), F.col("lng")))
    ).select(
        F.col("fij.face").alias("face"),
        (F.col("fij.i") / shift).cast("long").alias("ti"),
        (F.col("fij.j") / shift).cast("long").alias("tj"),
        "lat",
        "lng",
    )
    keyed = enc.withColumn(
        "grp", F.col("face") * 16 + F.col("ti") * 4 + F.col("tj")
    )
    hulls = group_convex_hulls(keyed.select("grp", "lat", "lng"), "grp")
    return (
        hulls.select(
            (F.col("grp") / 16).cast("long").alias("face"),
            ((F.col("grp") % 16) / 4).cast("long").alias("ti"),
            (F.col("grp") % 4).alias("tj"),
            F.col("n_hull").cast("int").alias("n_hull"),
        )
        .orderBy("face", "ti", "tj")
    )


def _oracle_city_hulls() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, duckdb_face_ij_query

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    src = (
        f"SELECT event_id, {lat} AS lat, {lng} AS lng FROM events "
        f"WHERE event_id % 7 = 0"
    )
    fij = duckdb_face_ij_query(src)
    return f"""
        WITH g AS (
          SELECT event_id, CAST(face AS BIGINT) AS face,
                 i // 268435456 AS ti, j // 268435456 AS tj,
                 cos(radians(lng))*cos(radians(lat)) AS px,
                 sin(radians(lng))*cos(radians(lat)) AS py,
                 sin(radians(lat)) AS pz
          FROM ({fij})),
        sz AS (SELECT face, ti, tj, COUNT(*) AS n FROM g GROUP BY 1, 2, 3),
        edges AS (
          SELECT a.face, a.ti, a.tj, a.event_id AS va
          FROM g a JOIN g b
            ON a.face = b.face AND a.ti = b.ti AND a.tj = b.tj
           AND a.event_id <> b.event_id
          WHERE NOT EXISTS (
            SELECT 1 FROM g c
            WHERE c.face = a.face AND c.ti = a.ti AND c.tj = a.tj
              AND c.event_id <> a.event_id AND c.event_id <> b.event_id
              AND ((a.py*b.pz - a.pz*b.py) * c.px
                   + (a.pz*b.px - a.px*b.pz) * c.py
                   + (a.px*b.py - a.py*b.px) * c.pz) <= 0)),
        verts AS (SELECT face, ti, tj, COUNT(DISTINCT va) AS nh
                  FROM edges GROUP BY 1, 2, 3)
        SELECT s.face, s.ti, s.tj,
               CAST(CASE WHEN s.n <= 2 THEN s.n ELSE COALESCE(v.nh, 0) END
                    AS INT) AS n_hull
        FROM sz s LEFT JOIN verts v
          ON v.face = s.face AND v.ti = s.ti AND v.tj = s.tj
        ORDER BY s.face, s.ti, s.tj
    """


_DIST_RADIUS = 0.12  # rad, ~765 km


def _q_distance_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events within ~765 km of each cap geometry (buffered-covering
    candidates + exact chord-distance refine); per-cap counts."""
    from geo_spark.kernel.regions import Cap
    from geo_spark.operators.distance_join import build_distance_layer, distance_join

    regions = [
        (g, Cap.from_center_angle(la, ln, r)) for g, la, ln, r in _CAPS[:3]
    ]
    layer = build_distance_layer(spark, regions, _DIST_RADIUS)
    ev = _events_with_cells(spark, sf_dir)
    joined = distance_join(ev, layer, _DIST_RADIUS, point_key="event_id")
    return (
        joined.groupBy("geom_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("geom_id")
    )


def _oracle_distance_join_counts() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    caps = ", ".join(
        "({g}, cos(radians({ln!r}))*cos(radians({la!r})), "
        "sin(radians({ln!r}))*cos(radians({la!r})), sin(radians({la!r})), {r!r})".format(
            g=g, la=la, ln=ln, r=r
        )
        for g, la, ln, r in _CAPS[:3]
    )
    # angle(point, center) - cap_radius <= dist  <=>  the engine's
    # chord-form comparison (monotone in the angle).
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        caps(geom_id, cx, cy, cz, radius) AS (VALUES {caps})
        SELECT geom_id, COUNT(*) AS cnt
        FROM xyz, caps
        WHERE 2*asin(least(0.5*sqrt(least((x-cx)*(x-cx) + (y-cy)*(y-cy)
                                          + (z-cz)*(z-cz), 4.0)), 1.0))
              - radius <= {_DIST_RADIUS!r}
        GROUP BY geom_id ORDER BY geom_id
    """


def _q_polygon_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon x polygon Hilbert-range join + loop-relation refine.
    Fixture loops are convex, so a DuckDB edge-sign oracle checks the
    full (aid, bid, contains) output; general-loop semantics are
    differential-tested vs all-pairs brute force in
    tests/test_relations.py."""
    from geo_spark.operators.geom_join import polygon_polygon_join
    from geo_spark.operators.spatial_join import build_layer

    small_regions, big_regions = _ppj_fixture_regions()
    small = build_layer(spark, small_regions, max_cells=8)
    big = build_layer(spark, big_regions, max_cells=8)
    return (
        polygon_polygon_join(small, big)
        .select("aid", "bid", "contains")
        .orderBy("aid", "bid")
    )


def _ppj_fixture_regions():
    from geo_spark.kernel.regions import LoopRegion
    from geo_spark.sources.layers import city_loop_regions, regular_loop_vertices

    small = city_loop_regions(30)
    big = [
        (200 + i, LoopRegion.from_vertices(regular_loop_vertices(la, ln, 0.05, 24)))
        for i, (la, ln) in enumerate(
            [(40.7, -74.0), (48.85, 2.35), (35.68, 139.65), (0.0, 0.0)]
        )
    ]
    return small, big


def _oracle_polygon_polygon_join() -> str:
    """Convex-loop pairwise relations in ANSI SQL.  Both fixture layers
    are regular (convex, CCW) rings, so:
      - vertex-in-loop  = positive side of every edge plane,
      - A contains B    = every B vertex inside A (convexity),
      - A intersects B  = some vertex of one inside the other, or a
        strict edge crossing (SimpleCrossing sign pattern,
        s2/edge_crossings.go:88).
    Edge endpoints + plane normals are emitted as literal VALUES."""
    import numpy as np

    small, big = _ppj_fixture_regions()

    def edge_values(regions):
        rows = []
        for gid, reg in regions:
            v = np.asarray(reg.verts)
            m = len(v)
            for k in range(m):
                a, b = v[k], v[(k + 1) % m]
                n = np.cross(a, b)
                # scientific notation so DuckDB types the literals DOUBLE
                # (plain decimals become DECIMAL and overflow on multiply)
                vals = ", ".join(format(float(x), ".17e") for x in (*a, *b, *n))
                rows.append(f"({gid}, {vals})")
        return ", ".join(rows)

    ea = edge_values(small)
    eb = edge_values(big)
    return f"""
        WITH ea(aid, ax, ay, az, bx, by, bz, nx, ny, nz) AS (VALUES {ea}),
        eb(bid, cx, cy, cz, dx, dy, dz, mx, my, mz) AS (VALUES {eb}),
        bva AS (SELECT ea.aid, eb.bid, eb.cx, eb.cy, eb.cz,
                       MIN(ea.nx*eb.cx + ea.ny*eb.cy + ea.nz*eb.cz) AS mind
                FROM ea, eb GROUP BY ea.aid, eb.bid, eb.cx, eb.cy, eb.cz),
        b_in_a AS (SELECT aid, bid,
                          COUNT(*) FILTER (WHERE mind > 0) AS n_inside,
                          COUNT(*) AS n_total
                   FROM bva GROUP BY aid, bid),
        avb AS (SELECT ea.aid, eb.bid, ea.ax, ea.ay, ea.az,
                       MIN(eb.mx*ea.ax + eb.my*ea.ay + eb.mz*ea.az) AS mind
                FROM ea, eb GROUP BY ea.aid, eb.bid, ea.ax, ea.ay, ea.az),
        a_in_b AS (SELECT aid, bid,
                          COUNT(*) FILTER (WHERE mind > 0) AS n_inside
                   FROM avb GROUP BY aid, bid),
        crossings AS (SELECT DISTINCT ea.aid, eb.bid
                      FROM ea, eb
                      WHERE (-(ea.nx*eb.cx + ea.ny*eb.cy + ea.nz*eb.cz))
                            * (ea.nx*eb.dx + ea.ny*eb.dy + ea.nz*eb.dz) > 0
                        AND (-(ea.nx*eb.cx + ea.ny*eb.cy + ea.nz*eb.cz))
                            * (-(eb.mx*ea.bx + eb.my*ea.by + eb.mz*ea.bz)) > 0
                        AND (-(ea.nx*eb.cx + ea.ny*eb.cy + ea.nz*eb.cz))
                            * (eb.mx*ea.ax + eb.my*ea.ay + eb.mz*ea.az) > 0)
        SELECT b.aid, b.bid, (b.n_inside = b.n_total) AS contains
        FROM b_in_a b
        JOIN a_in_b a ON a.aid = b.aid AND a.bid = b.bid
        LEFT JOIN crossings x ON x.aid = b.aid AND x.bid = b.bid
        WHERE b.n_inside > 0 OR a.n_inside > 0 OR x.aid IS NOT NULL
        ORDER BY b.aid, b.bid
    """


_SIMPLIFY_MAX_VERTS = 40


def _q_polyline_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-trail simplification: order events by ts per user
    (first 40), simplify the lat/lng polyline at ~10 km tolerance,
    report kept/total.  The DuckDB oracle replays the greedy
    longest-prefix-advance rule (s2/polyline.go:230-263 contract) with a
    recursive CTE over a precomputed all-pairs "some intermediate
    exceeds tolerance of edge (i,j)" table — tractable because trails
    are capped at 40 vertices.  Tolerance guarantee itself is pinned in
    tests/test_edges.py."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel import edges as E
    from geo_spark.kernel import metric
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    tol = metric.meters_to_radians(10_000.0)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_points", T.IntegerType()),
            T.StructField("n_kept", T.IntegerType()),
        ]
    )

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).head(_SIMPLIFY_MAX_VERTS)
        x, y, z = ck.latlng_to_xyz(
            pdf["lat"].to_numpy(np.float64), pdf["lng"].to_numpy(np.float64)
        )
        verts = np.stack([x, y, z], axis=1)
        kept = E.simplify_polyline(verts, tol)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_points": [len(verts)],
                "n_kept": [len(kept)],
            }
        )

    out = ev.select("user_id", "ts", "event_id", "lat", "lng").groupBy(
        "user_id"
    ).applyInPandas(one, schema)
    return out.orderBy("user_id")


def _oracle_polyline_simplify() -> str:
    import math

    from geo_spark.kernel import metric
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    tol = metric.meters_to_radians(10_000.0)
    tol_chord2 = (2.0 * math.sin(min(max(tol, 0.0), math.pi / 2) / 2.0)) ** 2
    return f"""
        WITH RECURSIVE
        ranked AS (
          SELECT user_id, ts, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) - 1 AS rk
          FROM events),
        pts AS (SELECT user_id, rk, {lat} AS lat, {lng} AS lng
                FROM ranked WHERE rk < {_SIMPLIFY_MAX_VERTS}),
        xyz AS (SELECT user_id, rk,
                       cos(radians(lng))*cos(radians(lat)) AS px,
                       sin(radians(lng))*cos(radians(lat)) AS py,
                       sin(radians(lat)) AS pz
                FROM pts),
        sz AS (SELECT user_id, COUNT(*) AS n FROM xyz GROUP BY user_id),
        -- chord2 of every intermediate k to candidate edge (i, j): the
        -- wedge/endpoint point-to-segment CASE used by the other oracles
        fail_pair AS (
          SELECT a.user_id, a.rk AS i, b.rk AS j
          FROM xyz a JOIN xyz b
            ON a.user_id = b.user_id AND b.rk >= a.rk + 2
          WHERE EXISTS (
            SELECT 1 FROM xyz k
            WHERE k.user_id = a.user_id AND k.rk > a.rk AND k.rk < b.rk
              AND (CASE WHEN
                     ((a.py*b.pz - a.pz*b.py) = 0 AND (a.pz*b.px - a.px*b.pz) = 0
                      AND (a.px*b.py - a.py*b.px) = 0)
                   THEN least(
                        (k.px-a.px)*(k.px-a.px) + (k.py-a.py)*(k.py-a.py)
                        + (k.pz-a.pz)*(k.pz-a.pz),
                        (k.px-b.px)*(k.px-b.px) + (k.py-b.py)*(k.py-b.py)
                        + (k.pz-b.pz)*(k.pz-b.pz))
                   WHEN ((a.py*k.pz - a.pz*k.py)*(a.py*b.pz - a.pz*b.py)
                         + (a.pz*k.px - a.px*k.pz)*(a.pz*b.px - a.px*b.pz)
                         + (a.px*k.py - a.py*k.px)*(a.px*b.py - a.py*b.px)) >= 0
                    AND ((k.py*b.pz - k.pz*b.py)*(a.py*b.pz - a.pz*b.py)
                         + (k.pz*b.px - k.px*b.pz)*(a.pz*b.px - a.px*b.pz)
                         + (k.px*b.py - k.py*b.px)*(a.px*b.py - a.py*b.px)) >= 0
                   THEN 2.0 * (1.0 - sqrt(greatest(0.0,
                        1.0 - power(abs(k.px*(a.py*b.pz - a.pz*b.py)
                                        + k.py*(a.pz*b.px - a.px*b.pz)
                                        + k.pz*(a.px*b.py - a.py*b.px))
                                    / sqrt(power(a.py*b.pz - a.pz*b.py, 2)
                                           + power(a.pz*b.px - a.px*b.pz, 2)
                                           + power(a.px*b.py - a.py*b.px, 2)),
                                    2))))
                   ELSE least(
                        (k.px-a.px)*(k.px-a.px) + (k.py-a.py)*(k.py-a.py)
                        + (k.pz-a.pz)*(k.pz-a.pz),
                        (k.px-b.px)*(k.px-b.px) + (k.py-b.py)*(k.py-b.py)
                        + (k.pz-b.pz)*(k.pz-b.pz))
                   END) > {tol_chord2!r})),
        -- greedy longest-prefix advance: next(i) = first failing j minus
        -- one (at least i+1); no failure means jump to the last vertex
        nxt AS (
          SELECT s.user_id, g.i,
                 GREATEST(g.i + 1,
                          COALESCE(MIN(f.j) - 1, s.n - 1)) AS nx
          FROM sz s
          JOIN (SELECT user_id, rk AS i FROM xyz) g ON g.user_id = s.user_id
          LEFT JOIN fail_pair f
            ON f.user_id = g.user_id AND f.i = g.i
          GROUP BY s.user_id, g.i, s.n),
        walk(user_id, idx, kept) AS (
          SELECT user_id, 0, 1 FROM sz
          UNION ALL
          SELECT w.user_id, n.nx, w.kept + 1
          FROM walk w
          JOIN sz s ON s.user_id = w.user_id
          JOIN nxt n ON n.user_id = w.user_id AND n.i = w.idx
          WHERE w.idx < s.n - 1)
        SELECT s.user_id, CAST(s.n AS INT) AS n_points,
               CAST(MAX(w.kept) AS INT) AS n_kept
        FROM sz s JOIN walk w ON w.user_id = s.user_id
        GROUP BY s.user_id, s.n
        ORDER BY s.user_id
    """


def _q_boolean_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union/intersection/difference areas for overlapping loop pairs
    built around hot cities (rows-only; region semantics pinned by the
    point-sampling differentials in tests/test_booleans.py).  Areas are
    scaled to exact integers (floor of area x 1e9) for a stable
    schema."""
    from geo_spark.operators.constructive import boolean_areas
    from geo_spark.sources.layers import regular_loop_vertices

    _ensure_pyfiles(spark)
    rows = []
    pid = 0
    for la, ln in [(40.7, -74.0), (48.85, 2.35), (35.68, 139.65)]:
        va = [[float(c) for c in p] for p in regular_loop_vertices(la, ln, 0.03, 24)]
        vb = [
            [float(c) for c in p]
            for p in regular_loop_vertices(la + 1.0, ln + 0.5, 0.03, 24)
        ]
        for op in ("union", "intersection", "difference"):
            pid += 1
            rows.append((pid, va, vb, op))
    pairs = spark.createDataFrame(
        rows,
        "pair_id long, a_verts array<array<double>>, "
        "b_verts array<array<double>>, op string",
    )
    out = boolean_areas(pairs)
    return out.select(
        "pair_id",
        "op",
        "n_loops",
        F.floor(F.col("area") * 1e9).cast("long").alias("area_x1e9"),
    ).orderBy("pair_id")


_BOOL_CITIES = [(40.7, -74.0), (48.85, 2.35), (35.68, 139.65)]


def _bool_fixture_loops():
    from geo_spark.sources.layers import regular_loop_vertices

    out = []
    pid = 0
    for la, ln in _BOOL_CITIES:
        va = regular_loop_vertices(la, ln, 0.03, 24)
        vb = regular_loop_vertices(la + 1.0, ln + 0.5, 0.03, 24)
        for op in ("union", "intersection", "difference"):
            pid += 1
            out.append((pid, op, va, vb))
    return out


def _q_boolean_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region semantics of the boolean ops, oracle-checked end to end:
    events are classified against the engine's union/intersection/
    difference result rings (XOR-parity membership), while the DuckDB
    twin classifies the same events against the *input* convex loops
    with per-edge sign tests and combines with the set operation — equal
    counts mean the constructed result region IS the set operation."""
    import numpy as np
    import pandas as pd

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.booleans import loop_boolean
    from geo_spark.kernel.pip import loop_contains_points, loop_origin_inside
    from geo_spark.operators.geo_noise import with_geo_noise

    fixtures = []
    for pid, op, va, vb in _bool_fixture_loops():
        rings = [np.asarray(r) for r in loop_boolean(va, vb, op)]
        prepped = [(r, loop_origin_inside(r)) for r in rings]
        fixtures.append((pid, op, prepped))

    ev = with_geo_noise(_t(spark, sf_dir, "events").select("event_id"), "event_id")

    def fn(batches):
        for pdf in batches:
            x, y, z = ck.latlng_to_xyz(
                pdf["lat"].to_numpy(np.float64), pdf["lng"].to_numpy(np.float64)
            )
            pts = np.stack([x, y, z], axis=1)
            rows = []
            for pid, op, prepped in fixtures:
                inside = np.zeros(len(pts), dtype=bool)
                for r, oi in prepped:
                    inside ^= loop_contains_points(r, oi, pts)
                rows.append((pid, op, int(inside.sum())))
            yield pd.DataFrame(rows, columns=["pair_id", "op", "n"])

    return (
        ev.mapInPandas(fn, "pair_id long, op string, n long")
        .groupBy("pair_id", "op")
        .agg(F.sum("n").alias("n_inside"))
        .orderBy("pair_id")
    )


def _oracle_boolean_counts() -> str:
    import numpy as np

    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    rows = []
    for pid, op, va, vb in _bool_fixture_loops():
        for side, v in (("a", np.asarray(va)), ("b", np.asarray(vb))):
            for k in range(len(v)):
                n = np.cross(v[k], v[(k + 1) % len(v)])
                rows.append(
                    f"({pid}, '{op}', '{side}', "
                    f"{float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
                )
    norms = ", ".join(rows)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        norms(pair_id, op, side, nx, ny, nz) AS (VALUES {norms}),
        memb AS (
          SELECT n.pair_id, n.op, x.event_id,
                 BOOL_AND(CASE WHEN n.side = 'a'
                               THEN n.nx*x.x + n.ny*x.y + n.nz*x.z > 0
                               ELSE TRUE END) AS in_a,
                 BOOL_AND(CASE WHEN n.side = 'b'
                               THEN n.nx*x.x + n.ny*x.y + n.nz*x.z > 0
                               ELSE TRUE END) AS in_b
          FROM xyz x, norms n
          GROUP BY n.pair_id, n.op, x.event_id),
        flags AS (
          SELECT pair_id, op, event_id,
                 CASE op WHEN 'union' THEN in_a OR in_b
                         WHEN 'intersection' THEN in_a AND in_b
                         ELSE in_a AND NOT in_b END AS inside
          FROM memb)
        SELECT pair_id, op, COUNT(*) FILTER (WHERE inside) AS n_inside
        FROM flags GROUP BY pair_id, op ORDER BY pair_id
    """


# Convex-pair spherical-overlay chain, shared by every convex-area
# oracle: input CTE vr(c, side, k, px0..qz0) of edge rows per pair c
# and sides a/b; yields iarea(c, ai) — intersection area (absent when
# disjoint) — and rarea(c, side, ar) — full ring areas.
_CONVEX_CHAIN_SQL = """ve AS (
  SELECT c, side, k,
         CAST(px0 AS DOUBLE) AS px, CAST(py0 AS DOUBLE) AS py, CAST(pz0 AS DOUBLE) AS pz,
         CAST(qx0 AS DOUBLE) AS qx, CAST(qy0 AS DOUBLE) AS qy, CAST(qz0 AS DOUBLE) AS qz
  FROM vr),
-- edge normals
ed AS (
  SELECT *, py*qz - pz*qy AS nx, pz*qx - px*qz AS ny, px*qy - py*qx AS nz
  FROM ve),
-- vertices of one side inside the other region (all edge signs > 0)
vin AS (
  SELECT v.c, v.side, v.k, v.px, v.py, v.pz
  FROM ve v
  JOIN ed e ON e.c = v.c AND e.side <> v.side
  GROUP BY v.c, v.side, v.k, v.px, v.py, v.pz
  HAVING BOOL_AND(e.nx*v.px + e.ny*v.py + e.nz*v.pz > 0)),
-- proper crossings between edge pairs
cx AS (
  SELECT a.c,
         -- x = cross(na, nb), sign toward a-edge midpoint
         a.ny*b.nz - a.nz*b.ny AS rx,
         a.nz*b.nx - a.nx*b.nz AS ry,
         a.nx*b.ny - a.ny*b.nx AS rz,
         a.px + a.qx AS sx, a.py + a.qy AS sy, a.pz + a.qz AS sz
  FROM ed a JOIN ed b ON a.c = b.c AND a.side = 'a' AND b.side = 'b'
  WHERE (a.nx*b.px + a.ny*b.py + a.nz*b.pz)
        * (a.nx*b.qx + a.ny*b.qy + a.nz*b.qz) < 0
    AND (b.nx*a.px + b.ny*a.py + b.nz*a.pz)
        * (b.nx*a.qx + b.ny*a.qy + b.nz*a.qz) < 0),
cxn AS (
  SELECT c,
         CASE WHEN rx*sx + ry*sy + rz*sz >= 0 THEN  rx/sqrt(rx*rx+ry*ry+rz*rz)
              ELSE -rx/sqrt(rx*rx+ry*ry+rz*rz) END AS px,
         CASE WHEN rx*sx + ry*sy + rz*sz >= 0 THEN  ry/sqrt(rx*rx+ry*ry+rz*rz)
              ELSE -ry/sqrt(rx*rx+ry*ry+rz*rz) END AS py,
         CASE WHEN rx*sx + ry*sy + rz*sz >= 0 THEN  rz/sqrt(rx*rx+ry*ry+rz*rz)
              ELSE -rz/sqrt(rx*rx+ry*ry+rz*rz) END AS pz
  FROM cx),
-- intersection-polygon vertex set
iv AS (
  SELECT c, px, py, pz FROM vin
  UNION ALL
  SELECT c, px, py, pz FROM cxn),
-- centroid frame per city
ic AS (
  -- exact integer sums: parallel float SUM is order-nondeterministic,
  -- and iord is evaluated once per side of the ipair self-join — an
  -- inconsistent centroid frame between the two evaluations scrambles
  -- the cyclic pairing (symmetric rings put a vertex at exactly +-pi)
  SELECT c, SUM(CAST(FLOOR(px*1e15) AS HUGEINT))/1e15 AS gx,
         SUM(CAST(FLOOR(py*1e15) AS HUGEINT))/1e15 AS gy,
         SUM(CAST(FLOOR(pz*1e15) AS HUGEINT))/1e15 AS gz
  FROM iv GROUP BY c),
icn AS (
  SELECT c, gx/sqrt(gx*gx+gy*gy+gz*gz) AS mx, gy/sqrt(gx*gx+gy*gy+gz*gz) AS my,
         gz/sqrt(gx*gx+gy*gy+gz*gz) AS mz
  FROM ic),
-- reference direction: first vertex (min by lexicographic xyz)
iref AS (
  SELECT DISTINCT ON (c) iv.c, iv.px AS r0x, iv.py AS r0y, iv.pz AS r0z
  FROM iv ORDER BY iv.c, iv.px, iv.py, iv.pz),
frame AS (
  SELECT n.c, n.mx, n.my, n.mz,
         r.r0x - n.mx*(n.mx*r.r0x + n.my*r.r0y + n.mz*r.r0z) AS e1xr,
         r.r0y - n.my*(n.mx*r.r0x + n.my*r.r0y + n.mz*r.r0z) AS e1yr,
         r.r0z - n.mz*(n.mx*r.r0x + n.my*r.r0y + n.mz*r.r0z) AS e1zr
  FROM icn n JOIN iref r ON r.c = n.c),
frame2 AS (
  SELECT c, mx, my, mz,
         e1xr/sqrt(e1xr*e1xr + e1yr*e1yr + e1zr*e1zr) AS e1x,
         e1yr/sqrt(e1xr*e1xr + e1yr*e1yr + e1zr*e1zr) AS e1y,
         e1zr/sqrt(e1xr*e1xr + e1yr*e1yr + e1zr*e1zr) AS e1z
  FROM frame),
frame3 AS (
  SELECT *, my*e1z - mz*e1y AS e2x, mz*e1x - mx*e1z AS e2y,
         mx*e1y - my*e1x AS e2z
  FROM frame2),
-- angular order of intersection vertices
iord AS (
  SELECT v.c, v.px, v.py, v.pz, f.mx, f.my, f.mz,
         atan2(v.px*f.e2x + v.py*f.e2y + v.pz*f.e2z,
               v.px*f.e1x + v.py*f.e1y + v.pz*f.e1z) AS th,
         ROW_NUMBER() OVER (PARTITION BY v.c ORDER BY
           atan2(v.px*f.e2x + v.py*f.e2y + v.pz*f.e2z,
                 v.px*f.e1x + v.py*f.e1y + v.pz*f.e1z)) AS rk,
         COUNT(*) OVER (PARTITION BY v.c) AS nv
  FROM iv v JOIN frame3 f ON f.c = v.c),
-- consecutive pairs (cyclic) -> spherical triangle with centroid
ipair AS (
  SELECT a.c, a.mx, a.my, a.mz,
         a.px AS ax, a.py AS ay, a.pz AS az,
         b.px AS bx, b.py AS by, b.pz AS bz
  FROM iord a JOIN iord b
    ON b.c = a.c AND b.rk = (a.rk % a.nv) + 1),
itri AS (
  SELECT c,
         2*asin(least(1.0, 0.5*sqrt((ax-bx)*(ax-bx)+(ay-by)*(ay-by)+(az-bz)*(az-bz)))) AS sa,
         2*asin(least(1.0, 0.5*sqrt((mx-ax)*(mx-ax)+(my-ay)*(my-ay)+(mz-az)*(mz-az)))) AS sb,
         2*asin(least(1.0, 0.5*sqrt((mx-bx)*(mx-bx)+(my-by)*(my-by)+(mz-bz)*(mz-bz)))) AS sc
  FROM ipair),
iarea AS (
  SELECT c, SUM(4*atan(sqrt(greatest(0.0,
           tan(0.5*(0.5*(sa+sb+sc)))
           * tan(0.5*(0.5*(sa+sb+sc) - sa))
           * tan(0.5*(0.5*(sa+sb+sc) - sb))
           * tan(0.5*(0.5*(sa+sb+sc) - sc)))))) AS ai
  FROM itri GROUP BY c),
-- full ring areas for each side (fan from ring centroid, natural order)
rc AS (
  SELECT c, side, SUM(CAST(FLOOR(px*1e15) AS HUGEINT))/1e15 AS gx,
         SUM(CAST(FLOOR(py*1e15) AS HUGEINT))/1e15 AS gy,
         SUM(CAST(FLOOR(pz*1e15) AS HUGEINT))/1e15 AS gz
  FROM ve GROUP BY c, side),
rcn AS (
  SELECT c, side, gx/sqrt(gx*gx+gy*gy+gz*gz) AS mx,
         gy/sqrt(gx*gx+gy*gy+gz*gz) AS my, gz/sqrt(gx*gx+gy*gy+gz*gz) AS mz
  FROM rc),
rtri AS (
  SELECT v.c, v.side,
         2*asin(least(1.0, 0.5*sqrt((v.px-v.qx)*(v.px-v.qx)+(v.py-v.qy)*(v.py-v.qy)+(v.pz-v.qz)*(v.pz-v.qz)))) AS sa,
         2*asin(least(1.0, 0.5*sqrt((n.mx-v.px)*(n.mx-v.px)+(n.my-v.py)*(n.my-v.py)+(n.mz-v.pz)*(n.mz-v.pz)))) AS sb,
         2*asin(least(1.0, 0.5*sqrt((n.mx-v.qx)*(n.mx-v.qx)+(n.my-v.qy)*(n.my-v.qy)+(n.mz-v.qz)*(n.mz-v.qz)))) AS sc
  FROM ve v JOIN rcn n ON n.c = v.c AND n.side = v.side),
rarea AS (
  SELECT c, side, SUM(4*atan(sqrt(greatest(0.0,
           tan(0.5*(0.5*(sa+sb+sc)))
           * tan(0.5*(0.5*(sa+sb+sc) - sa))
           * tan(0.5*(0.5*(sa+sb+sc) - sb))
           * tan(0.5*(0.5*(sa+sb+sc) - sc)))))) AS ar
  FROM rtri GROUP BY c, side)"""


def _oracle_boolean_areas() -> str:
    """Convex boolean-op areas re-derived in SQL: intersection polygon =
    {A-verts in B} + {B-verts in A} + great-circle edge crossings,
    angularly ordered around its centroid, l'Huilier triangle-fan area;
    union/difference by inclusion-exclusion.  Valid because every
    fixture pair is two overlapping convex loops (single-ring results,
    n_loops = 1 with >= 2 proper crossings)."""
    from geo_spark.sources.layers import regular_loop_vertices

    def vert_rows():
        rows = []
        for c, (la, ln) in enumerate(_BOOL_CITIES):
            va = regular_loop_vertices(la, ln, 0.03, 24)
            vb = regular_loop_vertices(la + 1.0, ln + 0.5, 0.03, 24)
            for side, v in (("a", va), ("b", vb)):
                n = len(v)
                for k in range(n):
                    p, q = v[k], v[(k + 1) % n]
                    rows.append(
                        f"({c}, '{side}', {k}, {p[0]!r}, {p[1]!r}, {p[2]!r}, "
                        f"{q[0]!r}, {q[1]!r}, {q[2]!r})"
                    )
        return ", ".join(rows)

    return f"""
        WITH vr(c, side, k, px0, py0, pz0, qx0, qy0, qz0) AS (VALUES {vert_rows()}),
{_CONVEX_CHAIN_SQL},
ops(i, op) AS (VALUES (1, 'union'), (2, 'intersection'), (3, 'difference'))
SELECT CAST(ia.c*3 + i AS BIGINT) AS pair_id, op,
       CAST(1 AS INT) AS n_loops,
       CAST(FLOOR((CASE op WHEN 'union' THEN aa.ar + ab.ar - ia.ai
               WHEN 'intersection' THEN ia.ai
               ELSE aa.ar - ia.ai END) * 1e9) AS BIGINT) AS area_x1e9
FROM iarea ia
JOIN rarea aa ON aa.c = ia.c AND aa.side = 'a'
JOIN rarea ab ON ab.c = ia.c AND ab.side = 'b'
CROSS JOIN ops
ORDER BY pair_id
    """


def _polygon_bool_fixtures():
    """Shell+hole multi-ring pairs per hot city: A = annulus (convex
    shell, concentric convex hole), B = offset disc with its own small
    hole, overlapping both of A's boundaries."""
    from geo_spark.sources.layers import regular_loop_vertices

    out = []
    pid = 0
    for la, ln in _BOOL_CITIES:
        a_rings = [
            ("a_shell", regular_loop_vertices(la, ln, 0.03, 24)),
            ("a_hole", regular_loop_vertices(la, ln, 0.012, 20)),
        ]
        b_rings = [
            ("b_shell", regular_loop_vertices(la + 0.9, ln + 0.45, 0.02, 24)),
            ("b_hole", regular_loop_vertices(la + 0.9, ln + 0.45, 0.006, 16)),
        ]
        for op in ("union", "intersection", "difference"):
            pid += 1
            out.append((pid, op, a_rings, b_rings))
    # shared-vertex seams (round-2 fuzz regression class): B's shell is an
    # octagon inscribed in the SAME circle as A's hexagonal hole — they
    # share the angle-0 and angle-pi vertices exactly (float-identical),
    # touching without crossing; the overlay must classify the tangent
    # junctions without emitting self-touching rings.
    for la, ln in _BOOL_CITIES:
        a_rings = [
            ("a_shell", regular_loop_vertices(la, ln, 0.03, 24)),
            ("a_hole", regular_loop_vertices(la, ln, 0.012, 6)),
        ]
        b_rings = [
            ("b_shell", regular_loop_vertices(la, ln, 0.012, 8)),
            ("b_hole", regular_loop_vertices(la, ln, 0.003, 12)),
        ]
        for op in ("union", "intersection", "difference"):
            pid += 1
            out.append((pid, op, a_rings, b_rings))
    return out


def _q_polygon_boolean_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region semantics of multi-ring (polygon-with-holes) boolean ops,
    oracle-checked end to end: events are classified against the
    engine's polygon_boolean result ring sets (XOR-parity membership);
    the DuckDB twin classifies the same events against the *input*
    convex shell/hole rings (in = in_shell AND NOT in_hole, per-edge
    sign tests) and combines with the set operation."""
    import numpy as np
    import pandas as pd

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.booleans import polygon_boolean
    from geo_spark.kernel.pip import loop_contains_points, loop_origin_inside
    from geo_spark.operators.geo_noise import with_geo_noise

    fixtures = []
    for pid, op, a_rings, b_rings in _polygon_bool_fixtures():
        rings = polygon_boolean(
            [np.asarray(v) for _, v in a_rings],
            [np.asarray(v) for _, v in b_rings],
            op,
        )
        prepped = [(np.asarray(r), loop_origin_inside(np.asarray(r))) for r in rings]
        fixtures.append((pid, op, prepped))

    ev = with_geo_noise(_t(spark, sf_dir, "events").select("event_id"), "event_id")

    def fn(batches):
        for pdf in batches:
            x, y, z = ck.latlng_to_xyz(
                pdf["lat"].to_numpy(np.float64), pdf["lng"].to_numpy(np.float64)
            )
            pts = np.stack([x, y, z], axis=1)
            rows = []
            for pid, op, prepped in fixtures:
                inside = np.zeros(len(pts), dtype=bool)
                for r, oi in prepped:
                    inside ^= loop_contains_points(r, oi, pts)
                rows.append((pid, op, int(inside.sum())))
            yield pd.DataFrame(rows, columns=["pair_id", "op", "n"])

    return (
        ev.mapInPandas(fn, "pair_id long, op string, n long")
        .groupBy("pair_id", "op")
        .agg(F.sum("n").alias("n_inside"))
        .orderBy("pair_id")
    )


def _oracle_polygon_boolean_counts() -> str:
    import numpy as np

    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    rows = []
    for pid, op, a_rings, b_rings in _polygon_bool_fixtures():
        for side, v in a_rings + b_rings:
            v = np.asarray(v)
            for k in range(len(v)):
                n = np.cross(v[k], v[(k + 1) % len(v)])
                rows.append(
                    f"({pid}, '{op}', '{side}', "
                    f"{float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
                )
    norms = ", ".join(rows)

    def _in(side):
        return (
            f"BOOL_AND(CASE WHEN n.side = '{side}' "
            "THEN n.nx*x.x + n.ny*x.y + n.nz*x.z > 0 ELSE TRUE END)"
        )

    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        norms(pair_id, op, side, nx, ny, nz) AS (VALUES {norms}),
        memb AS (
          SELECT n.pair_id, n.op, x.event_id,
                 {_in("a_shell")} AND NOT {_in("a_hole")} AS in_a,
                 {_in("b_shell")} AND NOT {_in("b_hole")} AS in_b
          FROM xyz x, norms n
          GROUP BY n.pair_id, n.op, x.event_id),
        flags AS (
          SELECT pair_id, op, event_id,
                 CASE op WHEN 'union' THEN in_a OR in_b
                         WHEN 'intersection' THEN in_a AND in_b
                         ELSE in_a AND NOT in_b END AS inside
          FROM memb)
        SELECT pair_id, op, COUNT(*) FILTER (WHERE inside) AS n_inside
        FROM flags GROUP BY pair_id, op ORDER BY pair_id
    """


def _oracle_raster_vector() -> str:
    """The raster->vector round trip replayed in SQL: enumerate every
    level-7 cell (6 x 128 x 128), replay the cap/cell predicates
    (vertex chord tests, center-in-cell uv test, the s2/cap.go:377-419
    edge cascade) for the mask, then trace the mask boundary exactly as
    kernel/raster.vectorize_cells does — per-face half-edges, sharpest-
    left-turn stitching (ring count = cycles of the successor map, via
    a recursive closure), and collinear-run simplification (a traced
    vertex survives iff the lattice direction turns)."""
    import math

    def cap_rows():
        rows = []
        for g, la, ln, r in _CAPS[:3]:
            phi, th = math.radians(la), math.radians(ln)
            c = (
                math.cos(th) * math.cos(phi),
                math.sin(th) * math.cos(phi),
                math.sin(phi),
            )
            r2 = 4.0 * math.sin(r / 2.0) ** 2
            s2a = r2 * (1 - 0.25 * r2)
            rows.append(f"({g}, {c[0]!r}, {c[1]!r}, {c[2]!r}, {r2!r}, {s2a!r})")
        return ", ".join(rows)

    return """WITH RECURSIVE caps(g, cx, cy, cz, r2, s2a) AS (VALUES {cap_rows}),
grid AS (SELECT f, i, j FROM range(6) t1(f), range(128) t2(i), range(128) t3(j)),
uvb AS (
  SELECT f, i, j,
         CASE WHEN (CAST(i AS DOUBLE)/128.0) >= 0.5 THEN (1.0/3.0)*(4.0*(CAST(i AS DOUBLE)/128.0)*(CAST(i AS DOUBLE)/128.0) - 1.0) ELSE (1.0/3.0)*(1.0 - 4.0*(1.0-(CAST(i AS DOUBLE)/128.0))*(1.0-(CAST(i AS DOUBLE)/128.0))) END AS u0,
         CASE WHEN (CAST(i+1 AS DOUBLE)/128.0) >= 0.5 THEN (1.0/3.0)*(4.0*(CAST(i+1 AS DOUBLE)/128.0)*(CAST(i+1 AS DOUBLE)/128.0) - 1.0) ELSE (1.0/3.0)*(1.0 - 4.0*(1.0-(CAST(i+1 AS DOUBLE)/128.0))*(1.0-(CAST(i+1 AS DOUBLE)/128.0))) END AS u1,
         CASE WHEN (CAST(j AS DOUBLE)/128.0) >= 0.5 THEN (1.0/3.0)*(4.0*(CAST(j AS DOUBLE)/128.0)*(CAST(j AS DOUBLE)/128.0) - 1.0) ELSE (1.0/3.0)*(1.0 - 4.0*(1.0-(CAST(j AS DOUBLE)/128.0))*(1.0-(CAST(j AS DOUBLE)/128.0))) END AS v0,
         CASE WHEN (CAST(j+1 AS DOUBLE)/128.0) >= 0.5 THEN (1.0/3.0)*(4.0*(CAST(j+1 AS DOUBLE)/128.0)*(CAST(j+1 AS DOUBLE)/128.0) - 1.0) ELSE (1.0/3.0)*(1.0 - 4.0*(1.0-(CAST(j+1 AS DOUBLE)/128.0))*(1.0-(CAST(j+1 AS DOUBLE)/128.0))) END AS v1
  FROM grid),
-- CCW corners k=0..3: (u0,v0) (u1,v0) (u1,v1) (u0,v1); one row per corner
cor AS (
  SELECT f, i, j, u0, u1, v0, v1, kk.k,
         CASE f WHEN 0 THEN 1.0 WHEN 1 THEN -(CASE kk.k WHEN 0 THEN u0 WHEN 1 THEN u1 WHEN 2 THEN u1 ELSE u0 END) WHEN 2 THEN -(CASE kk.k WHEN 0 THEN u0 WHEN 1 THEN u1 WHEN 2 THEN u1 ELSE u0 END) WHEN 3 THEN -1.0 WHEN 4 THEN (CASE kk.k WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN v1 ELSE v1 END) ELSE (CASE kk.k WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN v1 ELSE v1 END) END AS xr,
         CASE f WHEN 0 THEN (CASE kk.k WHEN 0 THEN u0 WHEN 1 THEN u1 WHEN 2 THEN u1 ELSE u0 END) WHEN 1 THEN 1.0 WHEN 2 THEN -(CASE kk.k WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN v1 ELSE v1 END) WHEN 3 THEN -(CASE kk.k WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN v1 ELSE v1 END) WHEN 4 THEN -1.0 ELSE (CASE kk.k WHEN 0 THEN u0 WHEN 1 THEN u1 WHEN 2 THEN u1 ELSE u0 END) END AS yr,
         CASE f WHEN 0 THEN (CASE kk.k WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN v1 ELSE v1 END) WHEN 1 THEN (CASE kk.k WHEN 0 THEN v0 WHEN 1 THEN v0 WHEN 2 THEN v1 ELSE v1 END) WHEN 2 THEN 1.0 WHEN 3 THEN -(CASE kk.k WHEN 0 THEN u0 WHEN 1 THEN u1 WHEN 2 THEN u1 ELSE u0 END) WHEN 4 THEN -(CASE kk.k WHEN 0 THEN u0 WHEN 1 THEN u1 WHEN 2 THEN u1 ELSE u0 END) ELSE -1.0 END AS zr
  FROM uvb, range(4) kk(k)),
corn AS (
  SELECT f, i, j, u0, u1, v0, v1, k,
         xr/sqrt(xr*xr+yr*yr+zr*zr) AS vx,
         yr/sqrt(xr*xr+yr*yr+zr*zr) AS vy,
         zr/sqrt(xr*xr+yr*yr+zr*zr) AS vz
  FROM cor),
-- vertex-in count per (cap, cell)
vin AS (
  SELECT k.g, c.f, c.i, c.j,
         SUM(CASE WHEN (c.vx-k.cx)*(c.vx-k.cx)+(c.vy-k.cy)*(c.vy-k.cy)+(c.vz-k.cz)*(c.vz-k.cz) <= k.r2
                  THEN 1 ELSE 0 END) AS nin
  FROM corn c CROSS JOIN caps k
  GROUP BY k.g, c.f, c.i, c.j),
-- edges: pair corner k with corner (k+1)%4
edg AS (
  SELECT a.f, a.i, a.j, a.k,
         a.vx AS x1, a.vy AS y1, a.vz AS z1,
         b.vx AS x2, b.vy AS y2, b.vz AS z2,
         a.vy*b.vz - a.vz*b.vy AS nx,
         a.vz*b.vx - a.vx*b.vz AS ny,
         a.vx*b.vy - a.vy*b.vx AS nz
  FROM corn a JOIN corn b
    ON b.f = a.f AND b.i = a.i AND b.j = a.j AND b.k = (a.k + 1) % 4),
etest AS (
  SELECT k.g, e.f, e.i, e.j,
         BOOL_OR(k.cx*e.nx + k.cy*e.ny + k.cz*e.nz < 0
                 AND (k.cx*e.nx + k.cy*e.ny + k.cz*e.nz)*(k.cx*e.nx + k.cy*e.ny + k.cz*e.nz)
                     > k.s2a*(e.nx*e.nx + e.ny*e.ny + e.nz*e.nz)) AS any_far,
         BOOL_OR(k.cx*e.nx + k.cy*e.ny + k.cz*e.nz <= 0
                 AND (k.cx*e.nx + k.cy*e.ny + k.cz*e.nz)*(k.cx*e.nx + k.cy*e.ny + k.cz*e.nz)
                     <= k.s2a*(e.nx*e.nx + e.ny*e.ny + e.nz*e.nz)
                 AND (e.ny*k.cz - e.nz*k.cy)*e.x1 + (e.nz*k.cx - e.nx*k.cz)*e.y1 + (e.nx*k.cy - e.ny*k.cx)*e.z1 < 0
                 AND (e.ny*k.cz - e.nz*k.cy)*e.x2 + (e.nz*k.cx - e.nx*k.cz)*e.y2 + (e.nx*k.cy - e.ny*k.cx)*e.z2 > 0) AS any_hit
  FROM edg e CROSS JOIN caps k
  GROUP BY k.g, e.f, e.i, e.j),
-- center-in-cell
cic AS (
  SELECT k.g, u.f, u.i, u.j,
         CASE u.f
           WHEN 0 THEN k.cx > 0 AND k.cy/k.cx BETWEEN u.u0 AND u.u1 AND k.cz/k.cx BETWEEN u.v0 AND u.v1
           WHEN 1 THEN k.cy > 0 AND -k.cx/k.cy BETWEEN u.u0 AND u.u1 AND k.cz/k.cy BETWEEN u.v0 AND u.v1
           WHEN 2 THEN k.cz > 0 AND -k.cx/k.cz BETWEEN u.u0 AND u.u1 AND -k.cy/k.cz BETWEEN u.v0 AND u.v1
           WHEN 3 THEN k.cx < 0 AND k.cz/k.cx BETWEEN u.u0 AND u.u1 AND k.cy/k.cx BETWEEN u.v0 AND u.v1
           WHEN 4 THEN k.cy < 0 AND k.cz/k.cy BETWEEN u.u0 AND u.u1 AND -k.cx/k.cy BETWEEN u.v0 AND u.v1
           ELSE        k.cz < 0 AND -k.cy/k.cz BETWEEN u.u0 AND u.u1 AND -k.cx/k.cz BETWEEN u.v0 AND u.v1
         END AS cin
  FROM uvb u CROSS JOIN caps k),
mask AS MATERIALIZED (
  SELECT v.g, v.f, v.i, v.j, v.nin = 4 AS interior
  FROM vin v
  JOIN etest e ON e.g = v.g AND e.f = v.f AND e.i = v.i AND e.j = v.j
  JOIN cic c ON c.g = v.g AND c.f = v.f AND c.i = v.i AND c.j = v.j
  WHERE v.nin > 0 OR c.cin OR (NOT e.any_far AND e.any_hit)),
-- boundary half-edges, CCW (interior on the left); d: 0=R 1=U 2=L 3=D
he0 AS (
  SELECT m.g, m.f, m.i AS sx, m.j AS sy, m.i+1 AS ex, m.j AS ey, 0 AS d
  FROM mask m WHERE NOT EXISTS (SELECT 1 FROM mask n WHERE n.g=m.g AND n.f=m.f AND n.i=m.i AND n.j=m.j-1)
  UNION ALL
  SELECT m.g, m.f, m.i+1, m.j, m.i+1, m.j+1, 1
  FROM mask m WHERE NOT EXISTS (SELECT 1 FROM mask n WHERE n.g=m.g AND n.f=m.f AND n.i=m.i+1 AND n.j=m.j)
  UNION ALL
  SELECT m.g, m.f, m.i+1, m.j+1, m.i, m.j+1, 2
  FROM mask m WHERE NOT EXISTS (SELECT 1 FROM mask n WHERE n.g=m.g AND n.f=m.f AND n.i=m.i AND n.j=m.j+1)
  UNION ALL
  SELECT m.g, m.f, m.i, m.j+1, m.i, m.j, 3
  FROM mask m WHERE NOT EXISTS (SELECT 1 FROM mask n WHERE n.g=m.g AND n.f=m.f AND n.i=m.i-1 AND n.j=m.j)),
he AS MATERIALIZED (
  SELECT *, ROW_NUMBER() OVER (ORDER BY g, f, sx, sy, d) AS eid FROM he0),
-- successor: sharpest left turn first (left, straight, right)
sm AS (
  SELECT e.g, e.eid AS a, o.eid AS b, o.d AS od, e.d AS ed,
         ROW_NUMBER() OVER (PARTITION BY e.eid ORDER BY p.pr) AS rn
  FROM he e
  JOIN (VALUES (0, 1), (1, 0), (2, 3)) p(pr, off)
    ON TRUE
  JOIN he o ON o.g = e.g AND o.f = e.f AND o.sx = e.ex AND o.sy = e.ey
           AND o.d = (e.d + p.off) % 4),
succ AS MATERIALIZED (SELECT g, a, b, od, ed FROM sm WHERE rn = 1),
turns AS (
  SELECT g, COUNT(*) FILTER (WHERE od <> ed) AS n_ring_vertices
  FROM succ GROUP BY g),
walk AS (
  SELECT g, a, b FROM succ
  UNION
  SELECT w.g, w.a, s.b FROM walk w JOIN succ s ON s.g = w.g AND s.a = w.b),
reps AS (
  SELECT g, a, LEAST(a, MIN(b)) AS rep FROM walk GROUP BY g, a),
nrings AS (
  SELECT g, COUNT(DISTINCT rep) AS n_rings FROM reps GROUP BY g),
counts AS (
  SELECT g, COUNT(*) AS n_cells, COUNT(*) FILTER (WHERE interior) AS n_interior
  FROM mask GROUP BY g)
SELECT CAST(c.g AS BIGINT) AS geom_id, CAST(c.n_cells AS INT) AS n_cells,
       CAST(c.n_interior AS INT) AS n_interior, CAST(r.n_rings AS INT) AS n_rings,
       CAST(t.n_ring_vertices AS INT) AS n_ring_vertices
FROM counts c JOIN nrings r ON r.g = c.g JOIN turns t ON t.g = c.g
ORDER BY c.g""".replace("{cap_rows}", cap_rows())


def _q_raster_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster<->vector round trip per cap: rasterize to a level-7 cell
    mask, vectorize the mask back to boundary rings.  Oracle-checked:
    the DuckDB twin replays the full chain (mask predicates over all
    98k level-7 cells, boundary half-edge trace with left-turn ring
    stitching, collinear simplification) — see _oracle_raster_vector.
    Membership round trip additionally pinned in tests/test_raster.py."""
    import pandas as pd
    from pyspark.sql import types as T

    from geo_spark.kernel.raster import rasterize, vectorize_cells
    from geo_spark.kernel.regions import Cap

    _ensure_pyfiles(spark)
    rows = [(g, la, ln, r) for g, la, ln, r in _CAPS[:3]]
    src = spark.createDataFrame(rows, "geom_id long, lat double, lng double, r double")

    schema = T.StructType(
        [
            T.StructField("geom_id", T.LongType()),
            T.StructField("n_cells", T.IntegerType()),
            T.StructField("n_interior", T.IntegerType()),
            T.StructField("n_rings", T.IntegerType()),
            T.StructField("n_ring_vertices", T.IntegerType()),
        ]
    )

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for rrow in pdf.itertuples():
            cap = Cap.from_center_angle(rrow.lat, rrow.lng, rrow.r)
            mask = rasterize(cap, 7, max_cells=1024)
            rings = vectorize_cells([c for c, _ in mask])
            out.append(
                (
                    rrow.geom_id,
                    len(mask),
                    sum(1 for _, i in mask if i),
                    len(rings),
                    sum(len(x) for x in rings),
                )
            )
        return pd.DataFrame(
            out,
            columns=["geom_id", "n_cells", "n_interior", "n_rings", "n_ring_vertices"],
        )

    return src.groupBy("geom_id").applyInPandas(one, schema).orderBy("geom_id")


def _q_hex_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events -> H3-style aperture-7 hex tiles (res 3) -> counts.
    Oracle-checked: the DuckDB twin replays the whole icosahedral
    chain in SQL — 20-face argmax, gnomonic projection, Class-II/III
    rotation, cube rounding, and the center-re-encode canonicalization
    — with the face table and lattice constants injected as the exact
    doubles the kernel computes.  Partition/refinement/round-trip
    invariants additionally pinned in tests/test_hexgrid.py."""
    from geo_spark.functions.hex import hex_cell_udf
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    hexed = ev.withColumn("hex3", hex_cell_udf(3)(F.col("lat"), F.col("lng")))
    return (
        hexed.groupBy("hex3")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("hex3").isNotNull())
        .orderBy("hex3")
    )


def _oracle_hex_tile_counts() -> str:
    """Replay latlng_to_hex(. . ., res=3) in SQL: raw encode, hex-center
    inverse, canonical re-encode.  Every constant is the double the
    kernel itself computed, so both sides run identical IEEE
    arithmetic in identical operation order."""
    import numpy as np

    from geo_spark.kernel import hexgrid as H
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    res = 3
    scale, cr, sr = H._res_frame(res)
    scale, cr, sr = float(scale), float(cr), float(sr)
    c1 = float(np.sqrt(3.0) / 3.0)  # qf coefficient on xr
    third = float(1.0 / 3.0)
    sqrt3 = float(np.sqrt(3.0))
    off = H.OFFSET

    face_rows = ", ".join(
        f"({f}, {H._CENTERS[f,0]!r}, {H._CENTERS[f,1]!r}, {H._CENTERS[f,2]!r}, "
        f"{H._U[f,0]!r}, {H._U[f,1]!r}, {H._U[f,2]!r}, "
        f"{H._V[f,0]!r}, {H._V[f,1]!r}, {H._V[f,2]!r})"
        for f in range(20)
    )

    def encode(src, k):
        """CTEs enc{k} (face argmax + axial round) from src(event_id,x,y,z)."""
        return f"""
        d{k} AS (
          SELECT s.event_id, f.f, s.x, s.y, s.z,
                 s.x*f.cx + s.y*f.cy + s.z*f.cz AS dot,
                 f.cx, f.cy, f.cz, f.ux, f.uy, f.uz, f.vx, f.vy, f.vz,
                 ROW_NUMBER() OVER (
                   PARTITION BY s.event_id
                   ORDER BY s.x*f.cx + s.y*f.cy + s.z*f.cz DESC, f.f ASC
                 ) AS rn
          FROM {src} s, faces f),
        uv{k} AS (
          SELECT event_id, f,
                 (x*(1.0/dot) - cx)*ux + (y*(1.0/dot) - cy)*uy
                   + (z*(1.0/dot) - cz)*uz AS u,
                 (x*(1.0/dot) - cx)*vx + (y*(1.0/dot) - cy)*vy
                   + (z*(1.0/dot) - cz)*vz AS v,
                 cx, cy, cz, ux, uy, uz, vx, vy, vz
          FROM d{k} WHERE rn = 1),
        ax{k} AS (
          SELECT *,
                 ({cr!r}*u + {sr!r}*v)/{scale!r} AS xr,
                 ({-sr!r}*u + {cr!r}*v)/{scale!r} AS yr
          FROM uv{k}),
        frac{k} AS (
          SELECT *, {c1!r}*xr - {third!r}*yr AS qf, {2.0 / 3.0!r}*yr AS rf
          FROM ax{k}),
        rnd{k} AS (
          SELECT *, ROUND(qf) AS q0, ROUND(rf) AS r0, ROUND(-qf - rf) AS s0
          FROM frac{k}),
        enc{k} AS (
          SELECT event_id, f, cx, cy, cz, ux, uy, uz, vx, vy, vz,
                 CASE WHEN abs(q0-qf) > abs(r0-rf) AND abs(q0-qf) > abs(s0-(-qf-rf))
                      THEN -r0-s0 ELSE q0 END AS q,
                 CASE WHEN NOT (abs(q0-qf) > abs(r0-rf) AND abs(q0-qf) > abs(s0-(-qf-rf)))
                           AND abs(r0-rf) > abs(s0-(-qf-rf))
                      THEN -q0-s0 ELSE r0 END AS r
          FROM rnd{k})"""

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    return f"""
        WITH faces(f, cx, cy, cz, ux, uy, uz, vx, vy, vz) AS (
          VALUES {face_rows}
        ),
        pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz0 AS (SELECT event_id,
                        cos(radians(lng))*cos(radians(lat)) AS x,
                        sin(radians(lng))*cos(radians(lat)) AS y,
                        sin(radians(lat)) AS z
                 FROM pts),
        {encode('xyz0', 1)},
        -- hex center: axial -> face plane -> xyz -> latlng -> xyz
        cplane AS (
          SELECT event_id,
                 ({cr!r}*({sqrt3!r}*(q + r/2.0)) - {sr!r}*(1.5*r))*{scale!r} AS x2,
                 ({sr!r}*({sqrt3!r}*(q + r/2.0)) + {cr!r}*(1.5*r))*{scale!r} AS y2,
                 cx, cy, cz, ux, uy, uz, vx, vy, vz
          FROM enc1),
        craw AS (
          SELECT event_id,
                 (cx + x2*ux) + y2*vx AS px,
                 (cy + x2*uy) + y2*vy AS py,
                 (cz + x2*uz) + y2*vz AS pz
          FROM cplane),
        cnorm AS (
          SELECT event_id,
                 px/sqrt(px*px + py*py + pz*pz) AS nx,
                 py/sqrt(px*px + py*py + pz*pz) AS ny,
                 pz/sqrt(px*px + py*py + pz*pz) AS nz
          FROM craw),
        cll AS (
          SELECT event_id,
                 degrees(atan2(nz, sqrt(nx*nx + ny*ny))) AS clat,
                 degrees(atan2(ny, nx)) AS clng
          FROM cnorm),
        xyz1 AS (SELECT event_id,
                        cos(radians(clng))*cos(radians(clat)) AS x,
                        sin(radians(clng))*cos(radians(clat)) AS y,
                        sin(radians(clat)) AS z
                 FROM cll),
        {encode('xyz1', 2)}
        SELECT (CAST({res} AS BIGINT) << 47)
               | (CAST(f AS BIGINT) << 42)
               | ((CAST(q AS BIGINT) + {off}) << 21)
               | (CAST(r AS BIGINT) + {off}) AS hex3,
               COUNT(*) AS cnt
        FROM enc2
        GROUP BY 1 ORDER BY 1
    """


def _q_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events -> byte-exact geohash tokens (precision 5) -> two-level
    rollup over the prefix hierarchy (prefix = ancestor containment).

    The tile assignment is a pure native-SQL projection
    (`functions/webgrid.geohash_col`: quantize + Morton spread + base-32
    chars, zero UDFs, whole-stage codegen) — the cheap path for
    assigning 10^12 pages to interoperable web-grid tiles.  The DuckDB
    twin re-derives every character by DIRECT bit gather from the
    quantized lat/lng integers (no Morton masks), so the two sides
    compute the interleave through structurally different bit math."""
    from geo_spark.functions.webgrid import geohash_col
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    base = ev.select(
        geohash_col(F.col("lat"), F.col("lng"), 5).alias("gh5"), "event_id"
    ).withColumn("gh2", F.substring(F.col("gh5"), 1, 2))
    return (
        base.rollup("gh2", "gh5")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("event_id").alias("min_event"))
        .select(
            F.coalesce(F.col("gh2"), F.lit("*")).alias("gh2"),
            F.coalesce(F.col("gh5"), F.lit("*")).alias("gh5"),
            "cnt",
            "min_event",
        )
        .orderBy("gh2", "gh5")
    )


def _oracle_geohash_rollup() -> str:
    from geo_spark.functions.webgrid import geohash_char_sql
    from geo_spark.kernel.webgrid import _geohash_bits
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    precision = 5
    lng_bits, lat_bits = _geohash_bits(precision)
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    chars = geohash_char_sql("lng_q", "lat_q", precision)
    return f"""
        WITH pts AS (
          SELECT event_id, {lat} AS lat, {lng} AS lng FROM events
        ),
        q AS (
          SELECT event_id,
                 GREATEST(0, LEAST({(1 << lat_bits) - 1},
                   CAST(FLOOR((lat + 90.0) / 180.0 * {float(1 << lat_bits)!r}) AS BIGINT))) AS lat_q,
                 GREATEST(0, LEAST({(1 << lng_bits) - 1},
                   CAST(FLOOR((lng + 180.0) / 360.0 * {float(1 << lng_bits)!r}) AS BIGINT))) AS lng_q
          FROM pts
        ),
        gh AS (
          SELECT event_id, {' || '.join(chars)} AS gh5 FROM q
        )
        SELECT COALESCE(substring(gh5, 1, 2), '*') AS gh2,
               COALESCE(gh5, '*') AS gh5,
               COUNT(*) AS cnt, MIN(event_id) AS min_event
        FROM gh
        GROUP BY ROLLUP (substring(gh5, 1, 2), gh5)
        ORDER BY gh2, gh5
    """


def _q_quadkey_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events -> Web-Mercator tile (x, y) at zoom 8 + Bing quadkey
    string -> per-tile counts.  Tile math is a UDF-free codegen
    projection (`functions/webgrid.mercator_xy_cols`/`quadkey_col`);
    quadkeys are byte-interoperable with Bing/slippy-map tile ids.  The
    oracle replays the published Mercator formula and extracts each
    quadkey digit arithmetically (digit = 2*y_bit + x_bit, MSB-first)."""
    from geo_spark.functions.webgrid import mercator_xy_cols, quadkey_col
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    tx, ty = mercator_xy_cols(F.col("lat"), F.col("lng"), 8)
    base = ev.select(tx.alias("tx"), ty.alias("ty"), "event_id")
    return (
        base.withColumn("qk", quadkey_col(F.col("tx"), F.col("ty"), 8))
        .groupBy("qk", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("event_id").alias("min_event"))
        .orderBy("qk")
    )


def _oracle_quadkey_tiles() -> str:
    import numpy as np

    from geo_spark.kernel.webgrid import MERCATOR_MAX_LAT
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    zoom = 8
    n = float(1 << zoom)
    hi = (1 << zoom) - 1
    deg2rad = float(np.radians(1.0))
    four_pi = float(4.0 * np.pi)
    digits = []
    for k in range(zoom):
        s = zoom - 1 - k
        digits.append(
            f"CAST(2 * ((ty >> {s}) & 1) + ((tx >> {s}) & 1) AS VARCHAR)"
        )
    return f"""
        WITH pts AS (
          SELECT event_id, {LAT_SQL.format(id='event_id')} AS lat,
                 {LNG_SQL.format(id='event_id')} AS lng
          FROM events
        ),
        m AS (
          SELECT event_id,
                 sin(GREATEST({-MERCATOR_MAX_LAT!r}, LEAST({MERCATOR_MAX_LAT!r}, lat))
                     * {deg2rad!r}) AS sy,
                 lng
          FROM pts
        ),
        t AS (
          SELECT event_id,
                 GREATEST(0, LEAST({hi},
                   CAST(FLOOR((lng + 180.0) / 360.0 * {n!r}) AS BIGINT))) AS tx,
                 GREATEST(0, LEAST({hi},
                   CAST(FLOOR((0.5 - ln((1.0 + sy) / (1.0 - sy)) / {four_pi!r}) * {n!r})
                        AS BIGINT))) AS ty
          FROM m
        )
        SELECT {' || '.join(digits)} AS qk, tx, ty,
               COUNT(*) AS cnt, MIN(event_id) AS min_event
        FROM t
        GROUP BY qk, tx, ty
        ORDER BY qk
    """


def _q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-map aggregation pyramid: per-tile counts at every zoom 0..6
    in two shuffles (collapse to base tiles first, then explode the
    bounded tile table's prefixes — the input is never multiplied).
    Spark side computes quadkeys via the Morton-spread Column builders;
    the oracle re-derives them with arithmetic digit extraction and
    builds the pyramid by direct per-zoom substring grouping."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import quadkey_pyramid

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    return quadkey_pyramid(ev, zoom=6).orderBy("zoom", "qk")


def _oracle_tile_pyramid() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    zoom = 6
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", zoom)
    qk = quadkey_sql_text("tx", "ty", zoom)
    return f"""
        WITH pts AS (
          SELECT event_id, {lat} AS lat, {lng} AS lng FROM events
        ),
        t AS (SELECT {x} AS tx, {y} AS ty FROM pts),
        q AS (SELECT {qk} AS qk FROM t),
        lv AS (SELECT qk, CAST(r.z AS INT) AS zoom
               FROM q, (SELECT UNNEST(range(0, {zoom + 1})) AS z) r)
        SELECT zoom, substring(qk, 1, zoom) AS qk, COUNT(*) AS cnt
        FROM lv GROUP BY 1, 2 ORDER BY zoom, qk
    """


def _q_geohash_cover_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events x lat/lng rects (incl. the antimeridian-wrapping one)
    joined ENTIRELY in native SQL via geohash covering terms: adaptive
    per-rect covering precision (RegionTermIndexer ancestor-term trick
    on the geohash lattice), broadcast term join, closed-interval
    refine — no UDF, no Arrow hop, one broadcast join, zero shuffles
    of the point side.  The oracle ignores the tiling machinery
    entirely and tests containment directly, so the covering+refine
    chain is verified against first principles."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.webgrid_join import (
        build_geohash_rect_layer,
        geohash_rect_join,
    )

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    layer = build_geohash_rect_layer(
        spark, [(g, la0, ln0, la1, ln1) for g, la0, ln0, la1, ln1 in _RECTS]
    )
    joined = geohash_rect_join(ev, layer, point_key="event_id")
    return (
        joined.groupBy("geom_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("event_id").alias("min_event"))
        .orderBy("geom_id")
    )


def _oracle_geohash_cover_join() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    rect_rows = ", ".join(
        f"({g}, {la0!r}, {ln0!r}, {la1!r}, {ln1!r})"
        for g, la0, ln0, la1, ln1 in _RECTS
    )
    return f"""
        WITH pts AS (
          SELECT event_id, {lat} AS lat, {lng} AS lng FROM events
        ),
        rects(geom_id, la0, ln0, la1, ln1) AS (VALUES {rect_rows})
        SELECT geom_id, COUNT(*) AS cnt, MIN(event_id) AS min_event
        FROM pts, rects
        WHERE lat >= la0 AND lat <= la1
          AND (CASE WHEN ln0 <= ln1 THEN lng >= ln0 AND lng <= ln1
                    ELSE lng >= ln0 OR lng <= ln1 END)
        GROUP BY geom_id ORDER BY geom_id
    """


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain corpus rollup over synthetic Common-Crawl
    URLs: host extraction (one JVM regex), public-suffix registered
    domain (last-2/last-3 label rule over the embedded multi-label
    suffix table), then one hash aggregate.  All native SQL — the
    whole per-URL path is a codegen projection.  The DuckDB twin
    re-derives host + domain with its own string/list SQL."""
    from geo_spark.operators.webcorpus import domain_stats, synthetic_url_sql

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(synthetic_url_sql("doc_id")).alias("url"), "text"
    )
    return domain_stats(docs).orderBy("domain")


def _oracle_domain_stats() -> str:
    from geo_spark.operators.webcorpus import (
        HOST_RE,
        MULTI_LABEL_SUFFIXES,
        synthetic_url_sql,
    )

    suffixes = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    return f"""
        WITH urls AS (
          SELECT doc_id, {synthetic_url_sql('doc_id')} AS url, text
          FROM documents
        ),
        h AS (
          SELECT lower(regexp_extract(url, '{HOST_RE}', 1)) AS host,
                 length(text) AS n_chars
          FROM urls
        ),
        parts AS (SELECT *, string_split(host, '.') AS labels FROM h),
        d AS (
          SELECT host, n_chars,
                 CASE WHEN len(labels) <= 2 THEN host
                      WHEN array_to_string(labels[-2:], '.') IN ({suffixes})
                           AND len(labels) >= 3
                        THEN array_to_string(labels[-3:], '.')
                      ELSE array_to_string(labels[-2:], '.')
                 END AS domain
          FROM parts
        )
        SELECT domain, COUNT(*) AS pages, COUNT(DISTINCT host) AS hosts,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM d GROUP BY domain ORDER BY domain
    """


def _q_domain_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed webcorpus certificate: per registered domain, the
    fraction of its LINES that are corpus-wide duplicates (the CCNet
    boilerplate signal rolled up to the crawl's natural unit).  Line
    counts shuffle once corpus-wide (map-side combined); the domain
    rollup is a second keyed aggregate; integer fixed-point output.
    ONE oracle replays url -> registered domain, corpus line counts and
    the rollup end to end."""
    from geo_spark.operators.webcorpus import (
        host_col,
        registered_domain_col,
        synthetic_url_sql,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(synthetic_url_sql("doc_id")).alias("url"),
        F.expr(r"replace(text, ' a ', '\n')").alias("text"),
    )
    lines = docs.select(
        "doc_id",
        registered_domain_col(host_col(F.col("url"))).alias("domain"),
        F.explode(F.split("text", "\n", -1)).alias("line"),
    )
    counts = lines.groupBy("line").agg(F.count(F.lit(1)).alias("_n"))
    flagged = lines.join(counts, "line").select(
        "domain", (F.col("_n") >= 2).cast("long").alias("is_dup")
    )
    return (
        flagged.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("is_dup").cast("long").alias("n_dup_lines"),
        )
        .select(
            "domain",
            "n_lines",
            "n_dup_lines",
            F.expr("(n_dup_lines * 1000000) div n_lines").alias(
                "dup_rate_x1e6"
            ),
        )
        .orderBy("domain")
    )


def _oracle_domain_boilerplate() -> str:
    from geo_spark.operators.webcorpus import (
        HOST_RE,
        MULTI_LABEL_SUFFIXES,
        synthetic_url_sql,
    )

    suffixes = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    return rf"""
        WITH urls AS (
          SELECT doc_id, {synthetic_url_sql('doc_id')} AS url,
                 replace(text, ' a ', chr(10)) AS t
          FROM documents),
        h AS (SELECT doc_id, t,
                     lower(regexp_extract(url, '{HOST_RE}', 1)) AS host
              FROM urls),
        parts AS (SELECT *, string_split(host, '.') AS labels FROM h),
        d AS (SELECT doc_id, t,
                     CASE WHEN len(labels) <= 2 THEN host
                          WHEN array_to_string(labels[-2:], '.') IN ({suffixes})
                               AND len(labels) >= 3
                            THEN array_to_string(labels[-3:], '.')
                          ELSE array_to_string(labels[-2:], '.')
                     END AS domain
              FROM parts),
        lines AS (SELECT domain, unnest(string_split(t, chr(10))) AS line
                  FROM d),
        counts AS (SELECT line, COUNT(*) AS n FROM lines GROUP BY 1),
        flagged AS (SELECT l.domain,
                           CASE WHEN c.n >= 2 THEN 1 ELSE 0 END AS is_dup
                    FROM lines l JOIN counts c USING (line))
        SELECT domain,
               COUNT(*) AS n_lines,
               CAST(SUM(is_dup) AS BIGINT) AS n_dup_lines,
               CAST((CAST(SUM(is_dup) AS BIGINT) * 1000000) // COUNT(*)
                    AS BIGINT) AS dup_rate_x1e6
        FROM flagged GROUP BY domain ORDER BY domain
    """


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact URL dedup after RFC 3986 canonicalization (fragment strip,
    scheme+host lowercase, default-port strip): consecutive doc-id
    pairs carry presentation variants of the same base URL, so every
    canonical URL collapses its variants to the min doc_id.  One
    codegen'd normalization projection + one map-side-combined groupBy
    — the shape that URL-dedups 10^12 pages in a single shuffle."""
    from geo_spark.operators.webcorpus import synthetic_url_sql, url_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(synthetic_url_sql("doc_id")).alias("url")
    )
    return url_dedup(docs).orderBy("canon_url")


def _oracle_url_dedup() -> str:
    from geo_spark.operators.webcorpus import synthetic_url_sql

    return f"""
        WITH urls AS (
          SELECT doc_id, {synthetic_url_sql('doc_id')} AS url FROM documents
        ),
        nofrag AS (
          SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM urls
        ),
        pieces AS (
          SELECT doc_id, u,
                 regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 0)
                   AS pref0
          FROM nofrag
        ),
        low AS (
          SELECT doc_id, lower(pref0) AS pref,
                 substring(u, length(pref0) + 1) AS rest
          FROM pieces
        ),
        norm AS (
          SELECT doc_id,
                 (CASE WHEN starts_with(pref, 'http://') AND ends_with(pref, ':80')
                         THEN substring(pref, 1, length(pref) - 3)
                       WHEN starts_with(pref, 'https://') AND ends_with(pref, ':443')
                         THEN substring(pref, 1, length(pref) - 4)
                       ELSE pref END) || rest AS canon_url
          FROM low
        )
        SELECT canon_url, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        FROM norm GROUP BY canon_url ORDER BY canon_url
    """


# ---------------------------------------------------------------------------
# training-data corpus ops (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents")).orderBy("text_md5")


def _oracle_exact_dedup() -> str:
    return """
        SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_cnt
        FROM documents GROUP BY 1 ORDER BY 1
    """


def _q_ngram_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=8, threshold=0.3
    ).orderBy("da", "db")


def _oracle_ngram_dedup_pairs() -> str:
    return """
        WITH sh AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT da, db, shared, sa.n AS na, sb.n AS nb,
               CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) >= 0.3
        ORDER BY da, db
    """


def _q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (operators/dedup.py:
    jaccard_pairs_prefix): the PPJoin candidate scheme — rarest-first
    prefixes as the only join keys, in-row array_intersect verify —
    with output PROVABLY identical to the naive shingle self-join.
    The oracle is _oracle_ngram_dedup_pairs verbatim: same answer,
    different (much cheaper) physical plan is exactly the claim."""
    from geo_spark.operators.dedup import jaccard_pairs_prefix

    return jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), n=8, threshold=0.3
    ).orderBy("da", "db")


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment (operators/dedup.py:
    containment_pairs): directed (src, dst) pairs with
    |S(src)∩S(dst)|/|S(src)| >= 0.5 over 8-char shingles — the
    quote/boilerplate-inclusion detector Jaccard can't express — WITH
    the max_df=50 stop-shingle valve on, so the oracle certifies the
    skew-guarded production path (263 hot shingles dropped at sf0.01),
    not just the exact tier."""
    from geo_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), n=8, threshold=0.5, max_df=50
    ).orderBy("src", "dst")


def _oracle_containment_pairs() -> str:
    return """
        WITH sh0 AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        dfreq AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
        sh AS (SELECT sh0.doc_id, sh0.s
               FROM sh0 JOIN dfreq USING (s) WHERE dfreq.df <= 50),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
          GROUP BY 1, 2
        )
        SELECT src, dst, shared, ss.n AS n_src, sd.n AS n_dst,
               CAST(shared AS DOUBLE) / ss.n AS containment
        FROM pairs
        JOIN sizes ss ON ss.doc_id = src
        JOIN sizes sd ON sd.doc_id = dst
        WHERE CAST(shared AS DOUBLE) / ss.n >= 0.5
        ORDER BY src, dst
    """


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (operators/text.py:bpe_train): 8 merges
    over the documents corpus — word-count trick, deterministic argmax
    (count DESC, pair ASC), greedy left-to-right application with the
    self-pair run-parity rule.  The oracle unrolls ALL EIGHT
    iterations relationally: lead() pairs -> weighted count -> LIMIT 1
    argmax -> hit/parity-selection windows -> consume+reindex, eight
    times — the sequential algorithm certified step by step."""
    from geo_spark.operators.text import bpe_train

    return bpe_train(
        _t(spark, sf_dir, "documents"), n_merges=8
    ).orderBy("step")


def _oracle_bpe_merges(n_merges: int = 8) -> str:
    steps = []
    finals = []
    for s in range(1, n_merges + 1):
        steps.append(f"""
        p{s} AS MATERIALIZED (SELECT w, cnt, idx, tok,
                        lead(tok) OVER (PARTITION BY w ORDER BY idx)
                          AS nxt
                 FROM t{s - 1}),
        c{s} AS (SELECT tok AS a, nxt AS b, SUM(cnt) AS n
                 FROM p{s} WHERE nxt IS NOT NULL GROUP BY 1, 2),
        win{s} AS MATERIALIZED (SELECT a, b, n FROM c{s}
                   ORDER BY n DESC, a, b LIMIT 1),
        g{s} AS (SELECT w, cnt, idx, tok, nxt,
                        CASE WHEN tok = (SELECT a FROM win{s})
                              AND nxt = (SELECT b FROM win{s})
                             THEN 1 ELSE 0 END AS hit
                 FROM p{s}),
        q{s} AS (SELECT w, cnt, idx, tok, nxt, hit,
                        CASE WHEN hit = 1 AND
                             (idx - coalesce(
                                max(CASE WHEN hit = 0 THEN idx END)
                                  OVER (PARTITION BY w ORDER BY idx
                                        ROWS UNBOUNDED PRECEDING),
                                0)) % 2 = 1
                             THEN 1 ELSE 0 END AS sel
                 FROM g{s}),
        r{s} AS (SELECT w, cnt, idx, tok, nxt, sel,
                        coalesce(lag(sel) OVER (PARTITION BY w
                                                ORDER BY idx), 0)
                          AS consumed
                 FROM q{s}),
        t{s} AS MATERIALIZED (SELECT w, cnt,
                        row_number() OVER (PARTITION BY w
                                           ORDER BY idx) AS idx,
                        CASE WHEN sel = 1 THEN tok || nxt
                             ELSE tok END AS tok
                 FROM r{s} WHERE consumed = 0)""")
        finals.append(
            f"SELECT {s} AS step, a AS left_tok, b AS right_tok,"
            f" a || b AS merged, CAST(n AS BIGINT) AS pair_count"
            f" FROM win{s}"
        )
    return f"""
        WITH w0 AS (
          SELECT w, count(*) AS cnt FROM (
            SELECT unnest(string_split_regex(lower(text), ' +')) AS w
            FROM documents)
          WHERE w != '' GROUP BY w),
        t0 AS (SELECT w, cnt, CAST(i AS BIGINT) AS idx,
                      substr(w, i, 1) AS tok
               FROM w0,
                    UNNEST(list_transform(range(1, length(w)+1),
                                          x -> x)) AS u(i)),
        {','.join(steps)}
        SELECT CAST(step AS BIGINT) AS step, left_tok, right_tok,
               merged, pair_count
        FROM ({' UNION ALL '.join(finals)})
        ORDER BY step
    """


def _q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application (operators/text.py:bpe_token_counts): per-doc
    token counts under the 8-merge vocabulary trained on the same
    corpus — the number token-budget sampling and packing consume.
    The oracle re-runs the full unrolled training chain to the final
    token table, counts tokens per word, and joins back through each
    document's word multiset."""
    from geo_spark.operators.text import bpe_token_counts

    return bpe_token_counts(
        _t(spark, sf_dir, "documents"), n_merges=8
    ).orderBy("doc_id")


def _oracle_bpe_tokenize(n_merges: int = 8) -> str:
    base = _oracle_bpe_merges(n_merges)
    # reuse the generated WITH chain; swap the final SELECT for the
    # per-word token-count join (the chain text ends at the finals
    # union — cut at the last generated CTE)
    head, _sep, _tail = base.rpartition("SELECT CAST(step AS BIGINT)")
    return f"""{head.rstrip()},
        pw AS (SELECT w, count(*) AS ntok FROM t{n_merges} GROUP BY w),
        dw AS (SELECT doc_id, w FROM (
                 SELECT doc_id,
                        unnest(string_split_regex(lower(text), ' +')) AS w
                 FROM documents)
               WHERE w != '')
        SELECT doc_id, CAST(SUM(ntok) AS BIGINT) AS n_tokens
        FROM dw JOIN pw USING (w)
        GROUP BY doc_id ORDER BY doc_id
    """


def _q_nb_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes (operators/text.py:nb_classify):
    trained on the documents table's own lang labels, classifying
    every document — Laplace likelihoods fixed-pointed per (class,
    word) so scores are exact integer sums; argmax ties to the
    smallest label.  Oracle replays counts -> logs -> broadcast score
    join -> rank argmax (the unigram_nll float-discipline precedent
    for the per-term ln floor)."""
    from geo_spark.operators.text import nb_classify

    return nb_classify(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _oracle_nb_lang() -> str:
    return """
        WITH dw AS (SELECT doc_id, y, w FROM (
                      SELECT doc_id, lang AS y,
                             unnest(string_split_regex(lower(text), ' +'))
                               AS w
                      FROM documents)
                    WHERE w != ''),
        cw AS (SELECT y, w, count(*) AS cnt FROM dw GROUP BY 1, 2),
        v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM dw),
        tot AS (SELECT y, SUM(cnt) AS tot FROM cw GROUP BY y),
        nd AS (SELECT lang AS y, count(*) AS n FROM documents GROUP BY 1),
        ndall AS (SELECT count(*) AS n FROM documents),
        priors AS (SELECT y,
                          CAST(floor(ln(CAST(n AS DOUBLE)
                                        / (SELECT n FROM ndall)) * 1e6)
                               AS BIGINT) AS prior
                   FROM nd),
        lp AS (SELECT y, w,
                      CAST(floor(ln((cnt + 1)
                                    / CAST(tot + (SELECT v FROM v)
                                           AS DOUBLE)) * 1e6)
                           AS BIGINT) AS lp
               FROM cw JOIN tot USING (y)),
        lp0 AS (SELECT y,
                       CAST(floor(ln(1.0 / (tot + (SELECT v FROM v)))
                                  * 1e6) AS BIGINT) AS lp0
                FROM tot),
        scored AS (SELECT d.doc_id, c.y,
                          SUM(coalesce(lp.lp, c.lp0)) AS wsum
                   FROM (SELECT doc_id, w FROM dw) d
                   CROSS JOIN lp0 c
                   LEFT JOIN lp ON lp.y = c.y AND lp.w = d.w
                   GROUP BY 1, 2),
        ts AS (SELECT doc_id, scored.y, wsum + priors.prior AS score
               FROM scored JOIN priors ON priors.y = scored.y),
        r AS (SELECT doc_id, y, score,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, y) AS rk
              FROM ts)
        SELECT doc_id, y AS pred, CAST(score AS BIGINT) AS score_x1e6
        FROM r WHERE rk = 1 ORDER BY doc_id
    """


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (operators/dedup.py:dup_spans,
    the Lee-et-al suffix-array dedup re-expressed as rolling-gram
    runs): maximal per-document character intervals whose every
    30-gram occurs >= 2 times corpus-wide.  Oracle replays positional
    md5 grams -> corpus counts -> flagged positions -> (pos - rank)
    run grouping."""
    from geo_spark.operators.dedup import dup_spans

    out = dup_spans(_t(spark, sf_dir, "documents"), gram_len=30)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_len").cast("long").alias("span_len"),
    ).orderBy("doc_id", "span_start")


def _oracle_dup_spans() -> str:
    L = 30
    return f"""
        WITH g AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 md5(substr(text, i, {L})) AS g
          FROM documents,
               UNNEST(list_transform(
                 range(1, greatest(length(text)-{L}+1, 1)+1), x -> x))
               AS t(i)
          WHERE length(text) >= {L}
        ),
        cnt AS (SELECT g, count(*) AS c FROM g GROUP BY g),
        f AS (SELECT doc_id, pos FROM g
              WHERE g IN (SELECT g FROM cnt WHERE c >= 2)),
        runs AS (SELECT doc_id, pos,
                        pos - row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY pos) AS run
                 FROM f)
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + {L} - 1 AS BIGINT) AS span_end,
               CAST(max(pos) + {L} - min(pos) AS BIGINT) AS span_len
        FROM runs GROUP BY doc_id, run
        ORDER BY doc_id, span_start
    """


def _q_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full exact-substring dedup PASS: dup_spans finds maximal
    duplicated 30-gram intervals, remove_spans merges overlaps and
    splices them out — output (doc_id, clean_md5, n_removed), the
    cleaned corpus every doc keeps.  ONE oracle replays grams ->
    counts -> runs -> interval UNION (running-max window) ->
    complement gaps -> ordered string_agg -> md5: the Lee-et-al
    cleaning transformation certified end to end."""
    from geo_spark.operators.dedup import dup_spans, remove_spans

    docs = _t(spark, sf_dir, "documents")
    spans = dup_spans(docs, gram_len=30)
    out = remove_spans(docs, spans)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_removed",
    ).orderBy("doc_id")


def _oracle_span_cut() -> str:
    L = 30
    return f"""
        WITH g AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 md5(substr(text, i, {L})) AS g
          FROM documents,
               UNNEST(list_transform(
                 range(1, greatest(length(text)-{L}+1, 1)+1), x -> x))
               AS t(i)
          WHERE length(text) >= {L}
        ),
        cnt AS (SELECT g, count(*) AS c FROM g GROUP BY g),
        f AS (SELECT doc_id, pos FROM g
              WHERE g IN (SELECT g FROM cnt WHERE c >= 2)),
        runs AS (SELECT doc_id, pos,
                        pos - row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY pos) AS run
                 FROM f),
        spans AS (SELECT doc_id, min(pos) AS s, max(pos) + {L} - 1 AS e
                  FROM runs GROUP BY doc_id, run),
        m0 AS (SELECT doc_id, s, e,
                      max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pmax
               FROM spans),
        m1 AS (SELECT doc_id, s, e,
                      CASE WHEN pmax IS NULL OR s > pmax + 1
                           THEN 1 ELSE 0 END AS newg
               FROM m0),
        m2 AS (SELECT doc_id, s, e,
                      SUM(newg) OVER (PARTITION BY doc_id
                                      ORDER BY s, e) AS grp
               FROM m1),
        mg AS (SELECT doc_id, min(s) AS s, max(e) AS e
               FROM m2 GROUP BY doc_id, grp),
        base AS (SELECT doc_id, text,
                        CAST(length(text) AS BIGINT) AS len
                 FROM documents),
        jn AS (SELECT b.doc_id, b.text, b.len, mg.s, mg.e
               FROM base b LEFT JOIN mg USING (doc_id)),
        gaps AS (SELECT doc_id, text,
                        coalesce(lag(e) OVER (PARTITION BY doc_id
                                              ORDER BY s, e) + 1, 1)
                          AS gs,
                        coalesce(s - 1, len) AS ge
                 FROM jn),
        pieces AS (
          SELECT doc_id, gs AS p,
                 CASE WHEN ge >= gs
                      THEN substr(text, CAST(gs AS INT),
                                  CAST(ge - gs + 1 AS INT))
                      ELSE '' END AS piece
          FROM gaps
          UNION ALL
          SELECT doc_id, max(e) + 1,
                 CASE WHEN max(e) < min(len)
                      THEN substr(min(text), CAST(max(e) + 1 AS INT),
                                  CAST(min(len) - max(e) AS INT))
                      ELSE '' END
          FROM jn WHERE s IS NOT NULL GROUP BY doc_id
        ),
        asm AS (SELECT doc_id, string_agg(piece, '' ORDER BY p) AS clean
                FROM pieces GROUP BY doc_id)
        SELECT b.doc_id, md5(asm.clean) AS clean_md5,
               CAST(b.len - length(asm.clean) AS BIGINT) AS n_removed
        FROM base b JOIN asm USING (doc_id)
        ORDER BY b.doc_id
    """


def _q_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-7 capstone certificate — the corpus RELEASE pass:
    exact-substring dedup (dup_spans -> remove_spans), a quality gate
    on the cleaned text (>= 50 chars survive), leakage-safe domain
    splits (split_assign over the synthetic URLs), and the per-split
    release manifest (docs, chars, removed-chars).  ONE oracle chains
    the span-cut replay, the length gate, and the md5 bucket
    arithmetic end to end."""
    from geo_spark.operators.dedup import dup_spans, remove_spans
    from geo_spark.operators.webcorpus import (
        split_assign,
        synthetic_url_sql,
    )

    docs = _t(spark, sf_dir, "documents")
    cleaned = remove_spans(docs, dup_spans(docs, gram_len=30))
    kept = cleaned.where(F.length("clean_text") >= 50)
    urls = kept.withColumn("url", F.expr(synthetic_url_sql("doc_id")))
    split = split_assign(urls)
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("clean_text")).cast("long").alias("total_chars"),
            F.sum("n_removed").cast("long").alias("chars_removed"),
        )
        .orderBy("split")
    )


def _oracle_release_manifest() -> str:
    span_cut = _oracle_span_cut()
    # reuse the span-cut WITH chain up to its final select
    head, _sep, _tail = span_cut.rpartition("SELECT b.doc_id, md5(asm.clean)")
    split_sql = _oracle_split_assign()
    # extract the CASE bucket expression from the split oracle
    case_start = split_sql.index("CASE WHEN")
    case_end = split_sql.index("END AS split") + 3
    split_case = split_sql[case_start:case_end]
    return f"""{head.rstrip().rstrip(',')},
        cleaned AS (SELECT b.doc_id, asm.clean,
                           b.len - length(asm.clean) AS n_removed
                    FROM base b JOIN asm USING (doc_id)),
        kept AS (SELECT * FROM cleaned WHERE length(clean) >= 50),
        labeled AS (SELECT doc_id, clean, n_removed,
                           {split_case} AS split
                    FROM kept)
        SELECT split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(clean)) AS BIGINT) AS total_chars,
               CAST(sum(n_removed) AS BIGINT) AS chars_removed
        FROM labeled GROUP BY split ORDER BY split
    """


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution over the exact-Jaccard pair graph:
    connected components by large-star/small-star rounds;
    every document gets its cluster representative (singletons map to
    themselves).  The DuckDB twin computes the same components with a
    recursive transitive-closure CTE."""
    from geo_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=8, threshold=0.3)
    return dedup_clusters(pairs, docs=docs).orderBy("doc_id")


def _oracle_dedup_clusters() -> str:
    return """
        WITH RECURSIVE sh AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        jp AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT da, db FROM jp
          JOIN sizes sa ON sa.doc_id = da
          JOIN sizes sb ON sb.doc_id = db
          WHERE CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) >= 0.3
        ),
        e AS (SELECT da AS u, db AS v FROM pairs
              UNION SELECT db, da FROM pairs),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
        ),
        comp AS (
          SELECT u AS id, least(u, MIN(v)) AS rep FROM reach GROUP BY u
        )
        SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        ORDER BY d.doc_id
    """


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: 40 docs per language by md5
    order, with the skew prefilter engaged (counts supplied) so the
    benched plan is the 100 TB shape; the DuckDB twin is the plain
    ROW_NUMBER window (the prefilter is exact at 4x margin)."""
    from geo_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return stratified_sample(
        docs, "lang", 40, prefilter_counts=counts
    ).select("doc_id", "lang").orderBy("doc_id")


def _oracle_stratified_sample() -> str:
    return """
        SELECT doc_id, lang
        FROM (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rn
          FROM documents)
        WHERE rn <= 40
        ORDER BY doc_id
    """


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    priorities ln(u)/w), 25 docs per language weighted by n_chars —
    longer documents proportionally likelier.  Deterministic LCG
    uniforms, so the oracle replays the exact priorities."""
    from geo_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "lang", 25, weight_col="n_chars").orderBy(
        "lang", "rank"
    )


def _oracle_weighted_sample() -> str:
    from geo_spark.operators.sampling import weighted_priority_sql

    k = weighted_priority_sql("doc_id", "n_chars")
    return f"""
        WITH pri AS (
          SELECT lang, doc_id, n_chars, {k} AS k
          FROM documents),
        r AS (SELECT lang, doc_id, n_chars,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY k DESC, doc_id) AS rnk
              FROM pri)
        SELECT lang, doc_id, n_chars AS weight, CAST(rnk AS INT) AS rank
        FROM r WHERE rnk <= 25 ORDER BY lang, rank
    """


def _q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget mixture: walk docs in md5 order, keep
    while the running whitespace-token total stays within 3000."""
    from geo_spark.operators.sampling import token_budget_sample
    from geo_spark.operators.text import with_quality

    docs = with_quality(_t(spark, sf_dir, "documents"))
    return (
        token_budget_sample(docs, "lang", 3000)
        .select("doc_id", "lang", "cum_tokens")
        .orderBy("doc_id")
    )


def _oracle_token_budget_sample() -> str:
    return """
        SELECT doc_id, lang, CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM (
          SELECT doc_id, lang,
                 SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(text) - length(replace(text, ' ', '')) + 1
                     END) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS cum_tokens
          FROM documents)
        WHERE cum_tokens <= 3000
        ORDER BY doc_id
    """


def _q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-conditional unigram NLL per document (CCNet-style
    perplexity-filter shape); exact integer fixed-point so the DuckDB
    twin matches bit for bit."""
    from geo_spark.operators.text import unigram_nll

    return unigram_nll(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _oracle_unigram_nll() -> str:
    return """
        WITH words AS (
          SELECT doc_id, w
          FROM documents,
               UNNEST(list_filter(string_split_regex(text, ' +'),
                                  x -> length(x) > 0)) AS t(w)),
        counts AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM counts),
        logp AS (
          SELECT w, CAST(FLOOR(ln(cnt / tot) * 1e6) AS BIGINT) AS lp
          FROM counts, tot)
        SELECT w2.doc_id, COUNT(*) AS n_words,
               CAST(-SUM(l.lp) AS BIGINT) AS nll_x1e6
        FROM words w2 JOIN logp l ON l.w = w2.w
        GROUP BY w2.doc_id ORDER BY w2.doc_id
    """


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (text.dsir_weights): every document
    scored by log p_target - log p_source under joint-vocabulary
    Laplace unigram models, target = the src1/src2 exemplar subset,
    source = the whole corpus.  Fixed-point-per-word integer sums
    (the unigram_nll float discipline), so the oracle matches
    bitwise."""
    from geo_spark.operators.text import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src1", "src2"))
    return dsir_weights(docs, target).orderBy("doc_id")


def _oracle_dsir_weights() -> str:
    return """
        WITH words AS (
          SELECT doc_id, w
          FROM documents,
               UNNEST(list_filter(string_split_regex(text, ' +'),
                                  x -> length(x) > 0)) AS t(w)),
        twords AS (
          SELECT w
          FROM documents,
               UNNEST(list_filter(string_split_regex(text, ' +'),
                                  x -> length(x) > 0)) AS t(w)
          WHERE source IN ('src1', 'src2')),
        sc AS (SELECT w, count(*) AS sc FROM words GROUP BY w),
        tc AS (SELECT w, count(*) AS tc FROM twords GROUP BY w),
        vocab AS (
          SELECT COALESCE(sc.w, tc.w) AS w,
                 COALESCE(sc, 0) AS sc, COALESCE(tc, 0) AS tc
          FROM sc FULL OUTER JOIN tc ON sc.w = tc.w),
        tot AS (SELECT SUM(sc) AS stot, SUM(tc) AS ttot,
                       COUNT(*) AS v FROM vocab),
        model AS (
          SELECT w,
                 CAST(FLOOR(ln(CAST(tc + 1 AS DOUBLE)
                               / CAST(ttot + v AS DOUBLE)) * 1e6)
                      - FLOOR(ln(CAST(sc + 1 AS DOUBLE)
                                 / CAST(stot + v AS DOUBLE)) * 1e6)
                      AS BIGINT) AS dlp
          FROM vocab, tot)
        SELECT w2.doc_id, COUNT(*) AS n_words,
               CAST(SUM(m.dlp) AS BIGINT) AS w_x1e6
        FROM words w2 JOIN model m ON m.w = w2.w
        GROUP BY w2.doc_id ORDER BY w2.doc_id
    """


def _q_dsir_topk_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition certificate: DSIR importance weights feed the
    per-stratum selection a training-mix assembler runs — top 5 docs
    per source by (weight desc, doc_id) over the src1/src2-target
    model.  Chains dsir_weights -> window top-k; the oracle replays
    both stages (model + ROW_NUMBER) from scratch."""
    from pyspark.sql import Window

    from geo_spark.operators.text import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin("src1", "src2"))
    w = dsir_weights(docs, target)
    scored = docs.select("doc_id", "source").join(w, "doc_id")
    win = Window.partitionBy("source").orderBy(
        F.col("w_x1e6").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= 5)
        .select(
            "source",
            F.col("rk").cast("long").alias("rk"),
            "doc_id",
            "w_x1e6",
        )
        .orderBy("source", "rk")
    )


def _oracle_dsir_topk_mix() -> str:
    inner = _oracle_dsir_weights()
    return f"""
        WITH w AS MATERIALIZED ({inner}),
        scored AS (
          SELECT d.source, w.doc_id, w.w_x1e6,
                 row_number() OVER (PARTITION BY d.source
                                    ORDER BY w.w_x1e6 DESC, w.doc_id)
                   AS rk
          FROM w JOIN documents d ON d.doc_id = w.doc_id)
        SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, w_x1e6
        FROM scored WHERE rk <= 5 ORDER BY source, rk
    """


_TOPO_NAMES = (
    "table",
    "spark",
    "row",
    "scan",
    "window",
    "batch",
    "query",
    "stream",
    "vector",
    "filter",
    "group",
    "merge",
)


def _q_toponym_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toponym resolution (operators/geocode.py): every document's
    gazetteer mentions resolve to one place each — population prior,
    then ONE spatial-coherence re-pick against the doc's integer
    anchor.  Gazetteer = 12 corpus words x 3 homonym entries whose
    population / shifted-micro-degree coordinates derive from pure
    integer arithmetic on geo_id, so the oracle replays extraction,
    both pick stages and the floor-division anchor exactly (the
    non-negative integer-division rule)."""
    from geo_spark.operators.geocode import toponym_resolve

    docs = _t(spark, sf_dir, "documents")
    return toponym_resolve(docs, _topo_gazetteer(spark)).orderBy(
        "doc_id", "name"
    )


def _topo_gazetteer(spark: SparkSession) -> DataFrame:
    """12 corpus words x 3 homonym entries; population and shifted
    micro-degree coordinates are pure integer arithmetic on geo_id."""
    n = len(_TOPO_NAMES)
    return spark.range(3 * n).select(
        F.col("id").alias("geo_id"),
        F.element_at(
            F.array(*[F.lit(s) for s in _TOPO_NAMES]),
            F.expr("CAST(id div 3 AS INT) + 1"),
        ).alias("name"),
        ((F.col("id") * 48271) % 999983 + 1).alias("population"),
        ((F.col("id") * 2654435761) % 180000001).alias("lat_u"),
        ((F.col("id") * 1103515245) % 360000001).alias("lng_u"),
    )


def _oracle_toponym_resolve() -> str:
    names = ", ".join(f"'{s}'" for s in _TOPO_NAMES)
    return f"""
        WITH gz AS (
          SELECT i AS geo_id,
                 ([{names}])[CAST(i // 3 AS INT) + 1] AS name,
                 (i * 48271) % 999983 + 1 AS population,
                 (i * 2654435761) % 180000001 AS lat_u,
                 (i * 1103515245) % 360000001 AS lng_u
          FROM (SELECT unnest(range({3 * len(_TOPO_NAMES)})) AS i)),
        words AS (SELECT doc_id, w AS name FROM (
            SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
            FROM documents) WHERE w != ''),
        cand AS (SELECT doc_id, name, COUNT(*) AS n_mentions
                 FROM words JOIN (SELECT DISTINCT name FROM gz) USING (name)
                 GROUP BY doc_id, name),
        ent AS (SELECT c.doc_id, c.name, c.n_mentions, g.geo_id,
                       g.population, g.lat_u, g.lng_u
                FROM cand c JOIN gz g USING (name)),
        s1 AS (SELECT * FROM (
                 SELECT e.*, row_number() OVER (PARTITION BY doc_id, name
                            ORDER BY population DESC, geo_id) AS rn
                 FROM ent e) WHERE rn = 1),
        anchor AS (SELECT doc_id, SUM(lat_u) // COUNT(*) AS alat,
                          SUM(lng_u) // COUNT(*) AS alng
                   FROM s1 GROUP BY doc_id),
        s2 AS (SELECT * FROM (
                 SELECT e.doc_id, e.name, e.n_mentions, e.geo_id,
                        e.lat_u, e.lng_u,
                        row_number() OVER (PARTITION BY e.doc_id, e.name
                          ORDER BY (e.lat_u - a.alat)*(e.lat_u - a.alat)
                                 + (e.lng_u - a.alng)*(e.lng_u - a.alng),
                                   e.population DESC, e.geo_id) AS rn
                 FROM ent e JOIN anchor a USING (doc_id)) WHERE rn = 1)
        SELECT doc_id, name, CAST(n_mentions AS BIGINT) AS n_mentions,
               geo_id, lat_u, lng_u
        FROM s2 ORDER BY doc_id, name
    """


_TOPO_ZOOM = 4


def _q_toponym_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition certificate across the webtext and tiling families:
    toponym resolution (population prior + coherence re-pick) feeds
    the north-star tile assignment — each resolved (doc, place)
    mention lands on its zoom-4 Bing quadkey, rolled up to per-tile
    mention totals and exact distinct documents.  ONE chained oracle
    (the geocoder oracle nested MATERIALIZED) replays extraction,
    both disambiguation stages, the shifted-micro-degree ->
    degrees -> mercator -> quadkey chain and the rollup end to end."""
    from geo_spark.functions.webgrid import mercator_xy_cols, quadkey_col
    from geo_spark.operators.geocode import toponym_resolve

    docs = _t(spark, sf_dir, "documents")
    res = toponym_resolve(docs, _topo_gazetteer(spark))
    lat = F.col("lat_u") / F.lit(1e6) - F.lit(90.0)
    lng = F.col("lng_u") / F.lit(1e6) - F.lit(180.0)
    x, y = mercator_xy_cols(lat, lng, _TOPO_ZOOM)
    return (
        res.select(
            quadkey_col(x, y, _TOPO_ZOOM).alias("qk"),
            "doc_id",
            "n_mentions",
        )
        .groupBy("qk")
        .agg(
            F.sum("n_mentions").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("qk")
    )


def _oracle_toponym_tile_rollup() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text

    x, y = mercator_xy_sql("lat", "lng", _TOPO_ZOOM)
    qk = quadkey_sql_text("tx", "ty", _TOPO_ZOOM)
    return f"""
        WITH topo AS MATERIALIZED ({_oracle_toponym_resolve()}),
        ll AS (SELECT doc_id, n_mentions,
                      lat_u / 1000000e0 - 90e0 AS lat,
                      lng_u / 1000000e0 - 180e0 AS lng
               FROM topo),
        t AS (SELECT doc_id, n_mentions, {x} AS tx, {y} AS ty FROM ll),
        q AS (SELECT doc_id, n_mentions, {qk} AS qk FROM t)
        SELECT qk, CAST(SUM(n_mentions) AS BIGINT) AS n_mentions,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM q GROUP BY qk ORDER BY qk
    """


_TS_ZOOM = 4


def _q_tile_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile Theil-Sen robust trend of daily event counts
    (operators/tiling.tile_theil_sen): median of all pairwise
    day-slopes in exact milli-units via the non-negative
    integer-division rule, lower-median rank pick.  The DuckDB twin
    re-derives tiles, daily counts, every pairwise slope and the rank
    median from first principles."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.tiling import tile_theil_sen

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return tile_theil_sen(ev, _TS_ZOOM).orderBy("qk")


def _oracle_tile_trend() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _TS_ZOOM)
    qk = quadkey_sql_text("tx", "ty", _TS_ZOOM)
    k = 10**9
    return f"""
        WITH pts AS (SELECT {lat} AS lat, {lng} AS lng,
                            ({ts}) // 86400000000 AS day
                     FROM events),
        t AS (SELECT day, {x} AS tx, {y} AS ty FROM pts),
        q AS (SELECT day, {qk} AS qk FROM t),
        daily AS (SELECT qk, day, COUNT(*) AS cnt FROM q GROUP BY qk, day),
        pr AS (SELECT a.qk,
                      ((b.cnt - a.cnt) * 1000 + {k} * (b.day - a.day))
                        // (b.day - a.day) - {k} AS slope_mu
               FROM daily a JOIN daily b
                 ON b.qk = a.qk AND b.day > a.day),
        rk AS (SELECT qk, slope_mu,
                      ROW_NUMBER() OVER (PARTITION BY qk
                                         ORDER BY slope_mu) AS rn,
                      COUNT(*) OVER (PARTITION BY qk) AS n
               FROM pr),
        med AS (SELECT qk, n AS n_pairs, slope_mu FROM rk
                WHERE rn = (n + 1) // 2),
        dd AS (SELECT qk, COUNT(*) AS n_days FROM daily GROUP BY qk)
        SELECT d.qk, CAST(d.n_days AS BIGINT) AS n_days,
               CAST(m.n_pairs AS BIGINT) AS n_pairs,
               CAST(m.slope_mu AS BIGINT) AS slope_mu
        FROM dd d JOIN med m ON m.qk = d.qk
        ORDER BY d.qk
    """


def _q_tile_trend_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's slope with its rank-based confidence band per tile
    (operators/tiling.tile_theil_sen_band; Sen 1968 / Gilbert 1987
    rule under exact-integer floors): pairwise milli-slopes, lower
    median, and the (lo, hi) rank pair at C = floor(z*sqrt(W/18))
    computed via an engine-portable integer sqrt (float sqrt + one-
    step fix-up).  The DuckDB twin re-derives tiles, daily counts,
    every slope, the Kendall radicand, the isqrt fix-up, and both
    band ranks from first principles."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.tiling import tile_theil_sen_band

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return tile_theil_sen_band(ev, _TS_ZOOM).orderBy("qk")


def _oracle_tile_trend_band() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _TS_ZOOM)
    qk = quadkey_sql_text("tx", "ty", _TS_ZOOM)
    k = 10**9
    z2_18 = 18 * 1960 * 1960
    return f"""
        WITH pts AS (SELECT {lat} AS lat, {lng} AS lng,
                            ({ts}) // 86400000000 AS day
                     FROM events),
        t AS (SELECT day, {x} AS tx, {y} AS ty FROM pts),
        q AS (SELECT day, {qk} AS qk FROM t),
        daily AS (SELECT qk, day, COUNT(*) AS cnt FROM q GROUP BY qk, day),
        pr AS (SELECT a.qk,
                      ((b.cnt - a.cnt) * 1000 + {k} * (b.day - a.day))
                        // (b.day - a.day) - {k} AS slope_mu
               FROM daily a JOIN daily b
                 ON b.qk = a.qk AND b.day > a.day),
        rk AS (SELECT qk, slope_mu,
                      ROW_NUMBER() OVER (PARTITION BY qk
                                         ORDER BY slope_mu) AS rn
               FROM pr),
        dd AS (SELECT qk, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY qk HAVING COUNT(*) >= 2),
        m0 AS (SELECT qk, n_days,
                      n_days * (n_days - 1) // 2 AS n_pairs,
                      {z2_18} * n_days * (n_days - 1)
                        * (2 * n_days + 5) AS x
               FROM dd),
        m1 AS (SELECT *, CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT)
                         AS s0
               FROM m0),
        m2 AS (SELECT qk, n_days, n_pairs,
                      CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1
                           WHEN s0 * s0 > x THEN s0 - 1
                           ELSE s0 END AS s1
               FROM m1),
        meta AS (SELECT qk, n_days, n_pairs,
                        s1 // 18 // 1000 AS c_alpha,
                        GREATEST(1, (n_pairs - s1 // 18 // 1000) // 2)
                          AS rlo,
                        LEAST(n_pairs,
                              (n_pairs + s1 // 18 // 1000) // 2 + 1)
                          AS rhi,
                        (n_pairs + 1) // 2 AS rmed
                 FROM m2)
        SELECT m.qk,
               CAST(m.n_days AS BIGINT) AS n_days,
               CAST(m.n_pairs AS BIGINT) AS n_pairs,
               CAST(m.c_alpha AS BIGINT) AS c_alpha,
               CAST(MAX(CASE WHEN r.rn = m.rlo THEN r.slope_mu END)
                    AS BIGINT) AS lo_mu,
               CAST(MAX(CASE WHEN r.rn = m.rmed THEN r.slope_mu END)
                    AS BIGINT) AS slope_mu,
               CAST(MAX(CASE WHEN r.rn = m.rhi THEN r.slope_mu END)
                    AS BIGINT) AS hi_mu
        FROM meta m JOIN rk r ON r.qk = m.qk
        GROUP BY m.qk, m.n_days, m.n_pairs, m.c_alpha
        ORDER BY m.qk
    """


def _q_tile_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per tile
    (operators/tiling.tile_mann_kendall): pair-sign statistic S over
    day-ordered daily counts, tie-corrected Kendall variance kept
    integral under the root, the portable isqrt rule for
    C = floor(z*sigma), and the continuity-corrected integer decision
    S-1 > C.  The DuckDB twin re-derives tiles, daily counts, the
    pair signs, the tie term, the radicand, the isqrt fix-up, and
    the decision from first principles."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.tiling import tile_mann_kendall

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return tile_mann_kendall(ev, _TS_ZOOM).orderBy("qk")


def _oracle_tile_mann_kendall() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _TS_ZOOM)
    qk = quadkey_sql_text("tx", "ty", _TS_ZOOM)
    z2_18 = 18 * 1960 * 1960
    return f"""
        WITH pts AS (SELECT {lat} AS lat, {lng} AS lng,
                            ({ts}) // 86400000000 AS day
                     FROM events),
        t AS (SELECT day, {x} AS tx, {y} AS ty FROM pts),
        q AS (SELECT day, {qk} AS qk FROM t),
        daily AS (SELECT qk, day, COUNT(*) AS cnt FROM q GROUP BY qk, day),
        s AS (SELECT a.qk,
                     CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
                                   WHEN b.cnt < a.cnt THEN -1
                                   ELSE 0 END) AS BIGINT) AS s_stat
              FROM daily a JOIN daily b
                ON b.qk = a.qk AND b.day > a.day
              GROUP BY a.qk),
        tg AS (SELECT qk, cnt, COUNT(*) AS tt
               FROM daily GROUP BY qk, cnt),
        ties AS (SELECT qk,
                        CAST(SUM(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT)
                          AS tie_term
                 FROM tg GROUP BY qk),
        dd AS (SELECT qk, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY qk HAVING COUNT(*) >= 2),
        m0 AS (SELECT d.qk, d.n_days,
                      {z2_18} * (d.n_days * (d.n_days - 1)
                                 * (2 * d.n_days + 5) - ti.tie_term) AS x
               FROM dd d JOIN ties ti ON ti.qk = d.qk),
        m1 AS (SELECT *, CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT)
                         AS s0
               FROM m0),
        m2 AS (SELECT qk, n_days,
                      CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1
                           WHEN s0 * s0 > x THEN s0 - 1
                           ELSE s0 END AS s1
               FROM m1),
        meta AS (SELECT qk, n_days, s1 // 18 // 1000 AS c_alpha FROM m2)
        SELECT m.qk, m.n_days, s.s_stat,
               CAST(m.c_alpha AS BIGINT) AS c_alpha,
               CAST(CASE WHEN s.s_stat > 0 AND s.s_stat - 1 > m.c_alpha
                           THEN 1
                         WHEN s.s_stat < 0 AND -s.s_stat - 1 > m.c_alpha
                           THEN -1
                         ELSE 0 END AS BIGINT) AS trend
        FROM meta m JOIN s ON s.qk = m.qk
        ORDER BY m.qk
    """


def _q_tile_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer changepoint per tile
    (operators/tiling.tile_changepoint): the at-most-one-change CUSUM
    argmax over each tile's daily series with every quantity a BIGINT
    (stat_k = |n*P_k - k*T|, ties to the earliest day).  The DuckDB
    twin re-derives tiles, daily counts, prefix sums, the scaled
    statistic, and the tie-broken argmax via a rank window."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.tiling import tile_changepoint

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return tile_changepoint(ev, _TS_ZOOM).orderBy("qk")


def _oracle_tile_changepoint() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _TS_ZOOM)
    qk = quadkey_sql_text("tx", "ty", _TS_ZOOM)
    return f"""
        WITH pts AS (SELECT {lat} AS lat, {lng} AS lng,
                            ({ts}) // 86400000000 AS day
                     FROM events),
        t AS (SELECT day, {x} AS tx, {y} AS ty FROM pts),
        q AS (SELECT day, {qk} AS qk FROM t),
        daily AS (SELECT qk, day, COUNT(*) AS cnt FROM q GROUP BY qk, day),
        pre AS (SELECT qk, day,
                       ROW_NUMBER() OVER (PARTITION BY qk ORDER BY day)
                         AS k,
                       SUM(cnt) OVER (PARTITION BY qk ORDER BY day
                                      ROWS UNBOUNDED PRECEDING) AS p,
                       COUNT(*) OVER (PARTITION BY qk) AS n,
                       SUM(cnt) OVER (PARTITION BY qk) AS tt
                FROM daily),
        st AS (SELECT qk, day, n, tt,
                      ABS(n * p - k * tt) AS stat
               FROM pre WHERE n >= 2 AND k < n),
        rk AS (SELECT qk, day, n, tt, stat,
                      ROW_NUMBER() OVER (PARTITION BY qk
                                         ORDER BY stat DESC, day ASC)
                        AS rn
               FROM st)
        SELECT qk, CAST(n AS BIGINT) AS n_days, CAST(tt AS BIGINT) AS total,
               CAST(day AS BIGINT) AS cp_day, CAST(stat AS BIGINT) AS cp_stat
        FROM rk WHERE rn = 1 ORDER BY qk
    """


def _q_source_geo_focus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE geographic focus — the full webtext->geo editorial
    profile: every document's resolved toponym mentions land on their
    zoom-4 quadkey, roll up per (source, tile), and each source
    reports its tile spread plus the concentration of its single
    hottest tile as an exact micro-fraction ((top * 1e6) div total,
    the non-negative integer-division rule).  A news site covering
    one metro area scores ~1e6; a global aggregator scores low.  ONE
    chained oracle nests the full geocoder replay MATERIALIZED, then
    re-derives tiles, the per-tile rollup and the division."""
    from geo_spark.functions.webgrid import mercator_xy_cols, quadkey_col
    from geo_spark.operators.geocode import toponym_resolve

    docs = _t(spark, sf_dir, "documents")
    res = toponym_resolve(docs, _topo_gazetteer(spark)).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    lat = F.col("lat_u") / F.lit(1e6) - F.lit(90.0)
    lng = F.col("lng_u") / F.lit(1e6) - F.lit(180.0)
    x, y = mercator_xy_cols(lat, lng, _TOPO_ZOOM)
    per_tile = (
        res.select(
            "source", quadkey_col(x, y, _TOPO_ZOOM).alias("qk"), "n_mentions"
        )
        .groupBy("source", "qk")
        .agg(F.sum("n_mentions").alias("m"))
    )
    return (
        per_tile.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("m").alias("n_mentions"),
            F.max("m").alias("_top"),
        )
        .select(
            "source",
            "n_tiles",
            "n_mentions",
            F.expr("(_top * 1000000) div n_mentions").alias("top_share_u"),
        )
        .orderBy("source")
    )


def _oracle_source_geo_focus() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text

    x, y = mercator_xy_sql("lat", "lng", _TOPO_ZOOM)
    qk = quadkey_sql_text("tx", "ty", _TOPO_ZOOM)
    return f"""
        WITH topo AS MATERIALIZED ({_oracle_toponym_resolve()}),
        src AS (SELECT t.doc_id, d.source, t.n_mentions,
                       t.lat_u / 1000000e0 - 90e0 AS lat,
                       t.lng_u / 1000000e0 - 180e0 AS lng
                FROM topo t JOIN documents d ON d.doc_id = t.doc_id),
        tl AS (SELECT source, n_mentions, {x} AS tx, {y} AS ty FROM src),
        q AS (SELECT source, n_mentions, {qk} AS qk FROM tl),
        pt AS (SELECT source, qk, SUM(n_mentions) AS m
               FROM q GROUP BY source, qk),
        agg AS (SELECT source, COUNT(*) AS n_tiles, SUM(m) AS n_mentions,
                       MAX(m) AS top FROM pt GROUP BY source)
        SELECT source, CAST(n_tiles AS BIGINT) AS n_tiles,
               CAST(n_mentions AS BIGINT) AS n_mentions,
               CAST((top * 1000000) // n_mentions AS BIGINT) AS top_share_u
        FROM agg ORDER BY source
    """


_RSP_M = 7  # resampled points per chain
_RSP_NV = 5  # vertices per fixture chain


def _rsp_vert_exprs() -> tuple[str, str, str]:
    """Pure-double (a, b, c) cube coordinates from event_id — NO trig
    anywhere, so normalize + resample stay bit-replayable."""
    from geo_spark.operators.geo_noise import _U1_D, _U2_D, _U3

    a = f"(2.0e0 * {_U1_D.format(id='event_id')} - 1.0e0)"
    b = f"(2.0e0 * {_U2_D.format(id='event_id')} - 1.0e0)"
    c = f"(2.0e0 * {_U3.format(id='event_id')} - 1.0e0)"
    return a, b, c


def _q_resample_polylines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chord-fraction polyline resampling (operators/resample.py):
    200 five-vertex chains built from pure-double unit-sphere vertices
    (cube streams + normalize — no trig, so EVERY output coordinate is
    bit-replayable) emit 7 points each at equal chord-length
    fractions.  The oracle replays vertex synthesis, the left-fold
    cumulative lengths, segment locate, alpha clamp, lerp and the
    final normalization in the documented op order — raw doubles
    compared exactly, the reference Interpolate contract
    (s2/polyline.go) under the relational gate."""
    from geo_spark.operators.resample import resample_polylines

    a, b, c = _rsp_vert_exprs()
    ev = (
        _t(spark, sf_dir, "events")
        .where(
            (F.col("event_id") < 8 * 200)
            & (F.col("event_id") % 8 < _RSP_NV)
        )
        .select(
            F.expr("event_id div 8").alias("trail"),
            (F.col("event_id") % 8).alias("seq"),
            F.expr(a).alias("_a"),
            F.expr(b).alias("_b"),
            F.expr(c).alias("_c"),
        )
    )
    nrm = F.sqrt(
        (F.col("_a") * F.col("_a") + F.col("_b") * F.col("_b"))
        + F.col("_c") * F.col("_c")
    )
    verts = ev.select(
        "trail",
        "seq",
        (F.col("_a") / nrm).alias("x"),
        (F.col("_b") / nrm).alias("y"),
        (F.col("_c") / nrm).alias("z"),
    )
    return resample_polylines(verts, _RSP_M, key="trail").orderBy(
        "trail", "j"
    )


def _oracle_resample_polylines() -> str:
    a, b, c = _rsp_vert_exprs()
    nv, m = _RSP_NV, _RSP_M
    piv = ", ".join(
        f"MAX(CASE WHEN seq = {i} THEN {ax} END) AS {ax}{i}"
        for i in range(nv)
        for ax in ("x", "y", "z")
    )
    lens = ", ".join(
        f"sqrt(((x{i + 1}-x{i})*(x{i + 1}-x{i})"
        f" + (y{i + 1}-y{i})*(y{i + 1}-y{i}))"
        f" + (z{i + 1}-z{i})*(z{i + 1}-z{i})) AS l{i}"
        for i in range(nv - 1)
    )
    # left-fold cumulative sums, numpy cumsum association
    cums = []
    acc = "l0"
    cums.append(f"{acc} AS c1")
    for i in range(1, nv - 1):
        acc = f"({acc} + l{i})"
        cums.append(f"{acc} AS c{i + 1}")
    locate = (
        "CASE "
        + " ".join(
            f"WHEN c{s + 1} >= t THEN {s}" for s in range(nv - 2)
        )
        + f" ELSE {nv - 2} END"
    )
    pick = lambda pre: (  # noqa: E731
        "CASE s "
        + " ".join(f"WHEN {i} THEN {pre}{i}" for i in range(nv - 1))
        + f" ELSE {pre}{nv - 1} END"
    )
    pick1 = lambda pre: (  # noqa: E731
        "CASE s "
        + " ".join(f"WHEN {i} THEN {pre}{i + 1}" for i in range(nv - 1))
        + " END"
    )
    cum_at = (
        "CASE s WHEN 0 THEN 0.0e0 "
        + " ".join(f"WHEN {i} THEN c{i}" for i in range(1, nv - 1))
        + f" ELSE c{nv - 2} END"
    )
    len_at = (
        "CASE s "
        + " ".join(f"WHEN {i} THEN l{i}" for i in range(nv - 2))
        + f" ELSE l{nv - 2} END"
    )
    return f"""
        WITH vsrc AS (SELECT event_id // 8 AS trail,
                             event_id % 8 AS seq,
                             {a} AS va, {b} AS vb, {c} AS vc
                      FROM events
                      WHERE event_id < 1600 AND event_id % 8 < {nv}),
        vx AS (SELECT trail, seq, va/n AS x, vb/n AS y, vc/n AS z
               FROM (SELECT *, sqrt((va*va + vb*vb) + vc*vc) AS n
                     FROM vsrc)),
        pv AS (SELECT trail, {piv} FROM vx GROUP BY trail),
        sg AS (SELECT *, {lens} FROM pv),
        cm AS (SELECT *, {', '.join(cums)} FROM sg),
        tj AS (SELECT cm.*, j, (j * c{nv - 1}) / {m - 1} AS t
               FROM cm, (SELECT unnest(range({m})) AS j)),
        loc AS (SELECT *, {locate} AS s FROM tj),
        al AS (SELECT *,
                      CASE WHEN {len_at} > 0.0e0
                           THEN LEAST((t - ({cum_at})) / ({len_at}),
                                      1.0e0)
                           ELSE 0.0e0 END AS alpha
               FROM loc),
        lp AS (SELECT trail, j, s,
                      ({pick('x')}) + alpha * (({pick1('x')}) - ({pick('x')})) AS px,
                      ({pick('y')}) + alpha * (({pick1('y')}) - ({pick('y')})) AS py,
                      ({pick('z')}) + alpha * (({pick1('z')}) - ({pick('z')})) AS pz
               FROM al),
        nr AS (SELECT trail, j, s,
                      sqrt((px*px + py*py) + pz*pz) AS nn, px, py, pz
               FROM lp)
        SELECT trail, CAST(j AS BIGINT) AS j, CAST(s AS BIGINT) AS seg,
               px/nn AS x, py/nn AS y, pz/nn AS z
        FROM nr ORDER BY trail, j
    """


_ZL_ZOOM = 6
_ZL_PARTS = 8


def _q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth Z-order write layout (operators/layout.py): events
    take the Morton key of their zoom-6 web-mercator tile
    (functions/webgrid.py:quadkey_code_col — the same curve the S2
    cell-id layout path uses, chosen here because the oracle replays
    the full key byte-exactly) and split into 8 balanced partitions by
    the exclusive-prefix rule (before * P) div total.  The result is
    the per-partition data-skipping manifest: disjoint [min_key,
    max_key] ranges + row/key counts — the layout stats a resumable
    spatial writer checkpoints per partition.  The oracle re-derives
    key -> histogram -> exclusive prefix -> pid -> manifest from
    scratch."""
    from geo_spark.functions.webgrid import mercator_xy_cols, quadkey_code_col
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.layout import equidepth_layout, layout_manifest

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    x, y = mercator_xy_cols(F.col("lat"), F.col("lng"), _ZL_ZOOM)
    keyed = ev.select(
        "event_id", quadkey_code_col(x, y).alias("zkey")
    )
    assigned = equidepth_layout(keyed, "zkey", _ZL_PARTS)
    return layout_manifest(assigned, "zkey").orderBy("part_id")


def _oracle_zorder_layout() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, zorder_key_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _ZL_ZOOM)
    zk = zorder_key_sql("tx", "ty", _ZL_ZOOM)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng
                     FROM events),
        t AS (SELECT {x} AS tx, {y} AS ty FROM pts),
        k AS (SELECT {zk} AS zkey FROM t),
        hist AS (SELECT zkey, COUNT(*) AS cnt FROM k GROUP BY zkey),
        tot AS (SELECT SUM(cnt) AS n FROM hist),
        cum AS (SELECT zkey, cnt,
                       COALESCE(SUM(cnt) OVER (ORDER BY zkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS bef
                FROM hist),
        pid AS (SELECT zkey, cnt,
                       CAST((bef * {_ZL_PARTS}) // n AS BIGINT) AS part_id
                FROM cum, tot)
        SELECT part_id, CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               MIN(zkey) AS min_key, MAX(zkey) AS max_key
        FROM pid GROUP BY part_id ORDER BY part_id
    """


def _q_trending_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed per-tile trending scores
    (operators/tiling.py:decayed_tile_counts): exponential decay kept
    exact by power-of-two scaling — the sum is an integer, so the
    oracle (arithmetic quadkey digits + BIGINT shifts) matches
    bit-for-bit where a float decay sum could not."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    from geo_spark.operators.tiling import decayed_tile_counts

    return decayed_tile_counts(ev, zoom=4, half_life_days=2).orderBy("qk")


def _oracle_trending_tiles() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", 4)
    qk = quadkey_sql_text("tx", "ty", 4)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng,
                            {ts} AS ts_us
                     FROM events),
        t AS (SELECT {x} AS tx, {y} AS ty, ts_us FROM pts),
        q AS (SELECT {qk} AS qk,
                     (CAST(1 AS BIGINT) <<
                      CAST((ts_us // 86400000000) // 2 AS INT)) AS w
              FROM t)
        SELECT qk, COUNT(*) AS n_events,
               CAST(SUM(w) AS BIGINT) AS score_x2w
        FROM q GROUP BY qk ORDER BY qk
    """


def _q_pca_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-direction projections over the embeddings table
    (operators/pca.py: quantized power iteration, 2 rounds, all-ones
    start).  Every intermediate is exact integer arithmetic, so the
    DuckDB oracle replays quantize -> floor-center -> two matvec
    rounds (HUGEINT sums) -> truncating rescale -> projections and
    matches bit for bit."""
    from geo_spark.operators.pca import pca_projections

    emb = _t(spark, sf_dir, "embeddings")
    return pca_projections(emb, dim=64, iterations=2).orderBy("vec_id")


def _oracle_pca_projections() -> str:
    def matvec(cte_v: str, name_dot: str, name_w: str, name_v: str) -> str:
        return f"""
        {name_dot} AS (SELECT vec_id,
                              SUM(CAST(cx AS HUGEINT) * {cte_v}) AS dot
                       FROM c {"JOIN v1 ON v1.d = c.d" if cte_v == "v1.v" else ""}
                       GROUP BY vec_id),
        {name_w} AS (SELECT c.d,
                            SUM(CAST(cx AS HUGEINT) * {name_dot}.dot) AS w
                     FROM c JOIN {name_dot} USING (vec_id) GROUP BY c.d),
        mx_{name_v} AS (SELECT MAX(ABS(w)) AS mx FROM {name_w}),
        {name_v} AS (SELECT d,
                            CASE WHEN w >= 0
                                 THEN (ABS(w) * 1000000) // mx
                                 ELSE -((ABS(w) * 1000000) // mx)
                            END AS v
                     FROM {name_w}, mx_{name_v})"""

    return f"""
        WITH e AS (SELECT vec_id,
                          generate_subscripts(embedding, 1) - 1 AS d,
                          unnest(embedding) AS x
                   FROM embeddings),
        q AS (SELECT vec_id, d,
                     CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000)
                          AS BIGINT) AS qx
              FROM e),
        m AS (SELECT d, SUM(qx) // COUNT(*) AS md FROM q GROUP BY d),
        c AS (SELECT vec_id, q.d, qx - md AS cx
              FROM q JOIN m ON m.d = q.d),
        {matvec("1000000", "d1", "w1", "v1")},
        {matvec("v1.v", "d2", "w2", "v2")},
        p AS (SELECT vec_id, SUM(CAST(cx AS HUGEINT) * v2.v) AS proj
              FROM c JOIN v2 ON v2.d = c.d GROUP BY vec_id)
        SELECT vec_id, CAST(proj AS BIGINT) AS proj
        FROM p ORDER BY vec_id
    """


def _q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event_type
    (operators/sketches.py:hll_distinct, p=6 -> 64 max-merge
    registers).  Every step is exact integer arithmetic — 52-bit md5
    hash, register split, leading-zero rank via length(bin(w)),
    power-of-two harmonic sum, pre-scaled integer bias constant — so
    the oracle replays hash -> registers -> estimator and matches the
    ESTIMATE bit-for-bit (the kmv_distinct portability contract on the
    harmonic-mean estimator)."""
    from geo_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    return hll_distinct(ev, ["event_type"], "user_id", p=6).orderBy(
        "event_type"
    )


def _oracle_hll_users() -> str:
    from geo_spark.operators.sketches import _hll_alpha_ppm, md5_52_duckdb_sql

    p = 6
    m = 1 << p
    r1 = 52 - p + 1  # rank ceiling / shift base
    pow_top = 1 << r1
    alpha_n = (_hll_alpha_ppm(m) * m * m * pow_top) // 1_000_000
    h = md5_52_duckdb_sql("user_id", "hll")
    return f"""
        WITH hashed AS (SELECT event_type, {h} AS h FROM events),
        parts AS (SELECT event_type, h % {m} AS j, h // {m} AS w
                  FROM hashed),
        ranked AS (SELECT event_type, j,
                          CASE WHEN w = 0 THEN {r1}
                               ELSE {r1} - length(bin(w)) END AS rnk
                   FROM parts),
        regs AS (SELECT event_type, j, MAX(rnk) AS reg
                 FROM ranked GROUP BY 1, 2),
        agg AS (SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n_regs,
                       SUM((CAST(1 AS BIGINT) << ({r1} - reg)))
                         AS s_present
                FROM regs GROUP BY 1)
        SELECT event_type, n_regs,
               CAST({alpha_n} //
                    (s_present + ({m} - n_regs) * {pow_top})
                    AS BIGINT) AS est_distinct
        FROM agg ORDER BY event_type
    """


def _q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-statistic quantiles by histogram SELECTION
    (operators/sketches.py:exact_quantiles): two aggregate rounds +
    a window over only the target buckets, NO global sort — the
    oracle IS the global sort (row_number over all values), so the
    query certifies the selection plan returns the same rows the
    sort would (the q_prefix_jaccard_pairs same-answer-cheaper-plan
    pattern)."""
    from geo_spark.operators.sketches import exact_quantiles

    ev = _t(spark, sf_dir, "events")
    return exact_quantiles(
        ev, "value", (250_000, 500_000, 750_000, 900_000)
    ).orderBy("q_ppm")


def _oracle_exact_quantiles() -> str:
    return """
        WITH v AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
        n AS (SELECT count(*) AS n FROM v),
        o AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rn FROM v),
        qs(q_ppm) AS (VALUES (250000), (500000), (750000), (900000))
        SELECT CAST(q_ppm AS BIGINT) AS q_ppm, o.v AS value
        FROM qs JOIN o
          ON o.rn = (q_ppm * ((SELECT n FROM n) - 1)) // 1000000
        ORDER BY q_ppm
    """


def _q_pca_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal projections (operators/pca.py:pca_projections2):
    the first direction by quantized power iteration, the second by
    exact-integer Hotelling deflation (c2 = c - sign·(|proj1·v|//Σv²))
    and the same iteration on the deflated rows.  The oracle replays
    the ENTIRE chain — quantize, floor-center, two matvec rounds,
    rescale, projections, integer deflation, two more matvec rounds —
    in HUGEINT CTEs and matches both projections bit for bit."""
    from geo_spark.operators.pca import pca_projections2

    emb = _t(spark, sf_dir, "embeddings")
    return pca_projections2(emb, dim=64, iterations=2).orderBy("vec_id")


def _oracle_pca_second() -> str:
    def matvec(src: str, vexpr: str, join: str, tag: str) -> str:
        return f"""
        d{tag} AS (SELECT vec_id,
                          SUM(CAST(cx AS HUGEINT) * {vexpr}) AS dot
                   FROM {src} {join} GROUP BY vec_id),
        w{tag} AS (SELECT {src}.d,
                          SUM(CAST(cx AS HUGEINT) * d{tag}.dot) AS w
                   FROM {src} JOIN d{tag} USING (vec_id)
                   GROUP BY {src}.d),
        mx{tag} AS (SELECT MAX(ABS(w)) AS mx FROM w{tag}),
        v{tag} AS (SELECT d,
                          CASE WHEN w >= 0
                               THEN (ABS(w) * 1000000) // mx
                               ELSE -((ABS(w) * 1000000) // mx)
                          END AS v
                   FROM w{tag}, mx{tag})"""

    return f"""
        WITH e AS (SELECT vec_id,
                          generate_subscripts(embedding, 1) - 1 AS d,
                          unnest(embedding) AS x
                   FROM embeddings),
        q AS (SELECT vec_id, d,
                     CAST(floor((CAST(x AS DOUBLE) + 1.0) * 1000000)
                          AS BIGINT) AS qx
              FROM e),
        m AS (SELECT d, SUM(qx) // COUNT(*) AS md FROM q GROUP BY d),
        c AS (SELECT vec_id, q.d, qx - md AS cx
              FROM q JOIN m ON m.d = q.d),
        {matvec("c", "1000000", "", "a1")},
        {matvec("c", "va1.v", "JOIN va1 ON va1.d = c.d", "a2")},
        p1 AS (SELECT vec_id, SUM(CAST(cx AS HUGEINT) * va2.v) AS proj
               FROM c JOIN va2 ON va2.d = c.d GROUP BY vec_id),
        v2sq AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS s FROM va2),
        c2 AS (SELECT c.vec_id, c.d,
                      cx - (CASE WHEN p.proj * v.v >= 0
                                 THEN (ABS(p.proj * v.v)
                                       // (SELECT s FROM v2sq))
                                 ELSE -(ABS(p.proj * v.v)
                                        // (SELECT s FROM v2sq))
                            END) AS cx
               FROM c JOIN va2 v ON v.d = c.d
                      JOIN p1 p ON p.vec_id = c.vec_id),
        {matvec("c2", "1000000", "", "b1")},
        {matvec("c2", "vb1.v", "JOIN vb1 ON vb1.d = c2.d", "b2")},
        p2 AS (SELECT vec_id, SUM(CAST(cx AS HUGEINT) * vb2.v) AS proj
               FROM c2 JOIN vb2 ON vb2.d = c2.d GROUP BY vec_id)
        SELECT p1.vec_id, CAST(p1.proj AS BIGINT) AS proj1,
               CAST(p2.proj AS BIGINT) AS proj2
        FROM p1 JOIN p2 ON p2.vec_id = p1.vec_id
        ORDER BY p1.vec_id
    """


def _q_link_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (operators/linkgraph.py:trustrank): personalized
    PageRank from the q_link_seed_distance whitelist (event_id % 997
    == 0) over the same directed LCG graph — the spam-demotion signal
    whose BFS skeleton q_link_seed_distance certified.  3 iterations,
    damping 0.85; ROUND-x1e12 scaling per the q_link_pagerank ULP
    note; unreachable nodes score exactly 0 and survive the hash."""
    from geo_spark.operators.linkgraph import trustrank

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    edges = None
    for a, b in _BFS_STREAMS:
        e = ev.select(
            F.col("event_id").alias("src"),
            ((F.col("event_id") * a + b) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    seeds = ev.where(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("id")
    )
    tr = trustrank(edges, ev, seeds, iterations=3, node_key="event_id")
    return tr.select(
        "event_id",
        F.round(F.col("trust") * 1e12).cast("long").alias("trust_x1e12"),
    ).orderBy("event_id")


def _oracle_link_trustrank() -> str:
    links = " UNION ALL ".join(
        f"SELECT id AS src, (id * {a} + {b}) % (SELECT n FROM n) AS dst"
        " FROM nodes"
        for a, b in _BFS_STREAMS
    )
    d = 0.85
    steps = []
    prev = "r0"
    for i in range(1, 4):
        steps.append(
            f"""c{i} AS (
          SELECT e.dst AS id, SUM(r._rank / e.deg) AS c
          FROM edges e JOIN {prev} r ON r.id = e.src
          GROUP BY e.dst),
        dm{i} AS (
          SELECT COALESCE(SUM(r._rank), 0.0) AS dm
          FROM {prev} r LEFT JOIN outdeg o ON o.src = r.id
          WHERE o.src IS NULL),
        r{i} AS (
          SELECT nd.id,
                 (1.0 - {d}) * nd.v
                 + {d} * (COALESCE(c.c, 0.0) + dm{i}.dm * nd.v) AS _rank
          FROM nodes nd CROSS JOIN dm{i}
          LEFT JOIN c{i} c ON c.id = nd.id)"""
        )
        prev = f"r{i}"
    steps_sql = ",\n        ".join(steps)
    return f"""
        WITH base AS (SELECT event_id AS id FROM events),
        ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM base
               WHERE id % 997 = 0),
        nodes AS (SELECT id,
                         CASE WHEN id % 997 = 0 THEN 1.0 / (SELECT ns FROM ns)
                              ELSE 0.0 END AS v
                  FROM base),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        raw_edges AS ({links}),
        dedup AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src != dst),
        outdeg AS (SELECT src, COUNT(*) AS deg FROM dedup GROUP BY src),
        edges AS (SELECT e.src, e.dst, o.deg
                  FROM dedup e JOIN outdeg o ON o.src = e.src),
        r0 AS (SELECT id, v AS _rank FROM nodes),
        {steps_sql}
        SELECT id AS event_id,
               CAST(ROUND(_rank * 1e12) AS BIGINT) AS trust_x1e12
        FROM {prev} ORDER BY event_id
    """


def _q_link_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators/linkgraph.py:label_propagation):
    2 rounds of synchronous min-tiebreak label propagation over the
    same directed LCG graph the pagerank/trustrank/BFS family uses
    (symmetrized inside the operator).  Deterministic by construction
    (fixed rounds + smallest-label tiebreak), so the oracle unrolls
    both rounds relationally — neighbor-label counts, argmax via
    (cnt DESC, label ASC) rank, isolated nodes carried by LEFT JOIN —
    and matches every node's label exactly."""
    from geo_spark.operators.linkgraph import label_propagation

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    edges = None
    for a, b in _BFS_STREAMS:
        e = ev.select(
            F.col("event_id").alias("src"),
            ((F.col("event_id") * a + b) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    nodes = ev.select(F.col("event_id").alias("id"))
    lp = label_propagation(edges, nodes, iterations=2)
    return lp.select(
        F.col("id").alias("event_id"), "label"
    ).orderBy("event_id")


def _oracle_link_communities() -> str:
    links = " UNION ALL ".join(
        f"SELECT id AS src, (id * {a} + {b}) % (SELECT n FROM n) AS dst"
        " FROM base"
        for a, b in _BFS_STREAMS
    )
    rounds = []
    prev = "l0"
    for i in range(1, 3):
        rounds.append(
            f"""c{i} AS (SELECT u.s AS id, l.label, count(*) AS cnt
                  FROM und u JOIN {prev} l ON l.id = u.d
                  GROUP BY 1, 2),
        b{i} AS (SELECT id, label FROM (
                  SELECT id, label,
                         row_number() OVER (PARTITION BY id
                           ORDER BY cnt DESC, label ASC) AS rk
                  FROM c{i}) WHERE rk = 1),
        l{i} AS (SELECT {prev}.id,
                        coalesce(b{i}.label, {prev}.label) AS label
                 FROM {prev} LEFT JOIN b{i} USING (id))"""
        )
        prev = f"l{i}"
    rounds_sql = ",\n        ".join(rounds)
    return f"""
        WITH base AS (SELECT event_id AS id FROM events),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        raw_edges AS ({links}),
        e AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src != dst),
        und AS (SELECT src AS s, dst AS d FROM e
                UNION
                SELECT dst AS s, src AS d FROM e),
        l0 AS (SELECT id, id AS label FROM base),
        {rounds_sql}
        SELECT id AS event_id, label FROM {prev} ORDER BY event_id
    """


def _q_trust_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family composition certificate: TrustRank scores feed an
    Efraimidis-Spirakis weighted draw — 10 events per event_type,
    likelihood proportional to link trust (+1 so unreachable nodes
    stay drawable) — the crawl-prioritization pattern (fetch what the
    trusted web points at).  ONE oracle chains the unrolled trustrank
    replay into the exact A-ES priority replay."""
    from geo_spark.operators.sampling import weighted_sample

    tr = _q_link_trustrank(spark, sf_dir)  # (event_id, trust_x1e12)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    weighted = ev.join(tr, "event_id").select(
        "event_id",
        "event_type",
        (F.col("trust_x1e12") + 1).alias("w"),
    )
    return weighted_sample(
        weighted, "event_type", 10, weight_col="w", key="event_id"
    ).orderBy("event_type", "rank")


def _oracle_trust_weighted_sample() -> str:
    from geo_spark.operators.sampling import weighted_priority_sql

    inner = _oracle_link_trustrank()
    k = weighted_priority_sql("event_id", "w")
    return f"""
        WITH tr AS ({inner}),
        weighted AS (SELECT e.event_type, tr.event_id,
                            tr.trust_x1e12 + 1 AS w
                     FROM events e JOIN tr USING (event_id)),
        pri AS (SELECT event_type, event_id, w,
                       {k} AS k
                FROM weighted),
        r AS (SELECT event_type, event_id, w,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY k DESC, event_id) AS rnk
              FROM pri)
        SELECT event_type, event_id, w AS weight, CAST(rnk AS INT) AS rank
        FROM r WHERE rnk <= 10 ORDER BY event_type, rank
    """


def _q_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-6 webtext composition certificate — the crawl pipeline
    end to end: WARC blobs are PARSED byte-level (sources/warc.py),
    record uris map to (domain, path), the robots policy engine
    (parse_robots + robots_filter over real robots.txt text) drops
    disallowed urls, exact content dedup keeps the min-id survivor per
    body digest, and the kept set rolls up per domain.  ONE DuckDB
    oracle replays every stage relationally from the documents table —
    no byte parsing, no text parsing — certifying the whole chain's
    composition, the webtext twin of q_corpus_pipeline /
    q_geo_stratified_dedup."""
    from geo_spark.operators.webcorpus import parse_robots, robots_filter
    from geo_spark.sources.warc import parse_warc, synth_warc_blobs

    docs = _t(spark, sf_dir, "documents")
    recs = parse_warc(synth_warc_blobs(docs, per_blob=16))
    urls = recs.select(
        F.regexp_extract("uri", r"([0-9]+)$", 1).cast("long").alias("k"),
        F.md5("body").alias("body_md5"),
    ).select(
        "k",
        "body_md5",
        F.concat(F.lit("d"), F.col("k") % 20, F.lit(".example")).alias(
            "domain"
        ),
        F.concat(
            F.lit("/p"), F.col("k") % 9, F.lit("/q"), F.col("k") % 4
        ).alias("path"),
    )
    ks = docs.select((F.col("doc_id") % 20).alias("k")).distinct()
    robots = ks.select(
        F.concat(F.lit("d"), F.col("k"), F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.lit("Disallow: /p"), (F.col("k") % 7), F.lit("\n"),
            F.when(
                F.col("k") % 2 == 0,
                F.concat(F.lit("Allow: /p"), F.col("k") % 7, F.lit("/q\n")),
            ).otherwise(F.lit("")),
            F.when(F.col("k") % 3 == 0, F.lit("Disallow: /\n")).otherwise(
                F.lit("")
            ),
        ).alias("robots_txt"),
    )
    allowed = robots_filter(urls, parse_robots(robots)).where(
        F.col("allowed") == 1
    )
    keep = allowed.groupBy("body_md5").agg(F.min("k").alias("keep_k"))
    kept = allowed.withColumnRenamed("body_md5", "bmd5").join(
        keep,
        (F.col("bmd5") == F.col("body_md5")) & (F.col("k") == F.col("keep_k")),
    )
    return (
        kept.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.countDistinct("bmd5").alias("n_digests"),
        )
        .orderBy("domain")
    )


def _oracle_crawl_pipeline() -> str:
    return """
        WITH urls AS (SELECT doc_id AS k, md5(text) AS body_md5,
                             'd' || (doc_id % 20) || '.example' AS domain,
                             '/p' || (doc_id % 9) || '/q' || (doc_id % 4)
                                 AS path
                      FROM documents),
        ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        rules AS (
            SELECT 'd' || k || '.example' AS domain,
                   '/p' || (k % 7) AS prefix, 0 AS allow FROM ks
            UNION ALL
            SELECT 'd' || k || '.example',
                   '/p' || (k % 7) || '/q', 1 FROM ks WHERE k % 2 = 0
            UNION ALL
            SELECT 'd' || k || '.example', '/', 0 FROM ks WHERE k % 3 = 0
        ),
        m AS (SELECT u.k, u.domain, u.body_md5, r.allow,
                     row_number() OVER (PARTITION BY u.k
                       ORDER BY length(r.prefix) DESC, r.allow DESC) AS rk
              FROM urls u JOIN rules r ON r.domain = u.domain
              WHERE substring(u.path, 1, length(r.prefix)) = r.prefix),
        allowed AS (SELECT u.k, u.domain, u.body_md5
                    FROM urls u LEFT JOIN m ON m.k = u.k AND m.rk = 1
                    WHERE coalesce(m.allow, 1) = 1),
        keep AS (SELECT body_md5, min(k) AS keep_k FROM allowed
                 GROUP BY body_md5),
        kept AS (SELECT a.domain, a.body_md5
                 FROM allowed a JOIN keep
                   ON keep.body_md5 = a.body_md5 AND a.k = keep.keep_k)
        SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(count(DISTINCT body_md5) AS BIGINT) AS n_digests
        FROM kept GROUP BY domain ORDER BY domain
    """


def _q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML outlink extraction: anchor-laced pages are built from the
    documents table, hrefs extracted with regexp_extract_all (native,
    codegen — no Python), hosts resolved with the RFC-3986 host rule,
    and the host-level link graph rolled up.  The oracle re-derives
    targets from the construction arithmetic, certifying the EXTRACTION
    against ground truth rather than against another regex."""
    from geo_spark.operators.webcorpus import host_col

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit('</p><a href="https://d'),
        F.col("doc_id") % 50,
        F.lit('.example/x">a</a> <a href="https://d'),
        (F.col("doc_id") * 7 + 1) % 50,
        F.lit('.example/y">b</a></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    links = pages.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("html", F.lit('href="([^"]+)"'), F.lit(1))
        ).alias("href"),
    )
    return (
        links.select(host_col(F.col("href")).alias("target_host"))
        .groupBy("target_host")
        .agg(F.count(F.lit(1)).alias("n_inlinks"))
        .orderBy("target_host")
    )


def _q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (the classic off-page relevance signal:
    a target is described by the text of links POINTING at it): anchors
    are extracted from the html fixture with one regexp (href + inner
    text captured together, codegen), then per target host the most
    common anchor token wins (count desc, token asc).  Construction-
    derived oracle again: ground truth, not regex-vs-regex."""
    from geo_spark.operators.webcorpus import host_col

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit('</p><a href="https://d'),
        F.col("doc_id") % 50,
        F.lit('.example/x">w'),
        F.col("doc_id") % 13,
        F.lit('</a> <a href="https://d'),
        (F.col("doc_id") * 7 + 1) % 50,
        F.lit('.example/y">w'),
        (F.col("doc_id") * 3 + 2) % 13,
        F.lit("</a></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    pairs = pages.select(
        F.explode(
            F.regexp_extract_all(
                "html", F.lit('<a href="([^"]+)">([^<]+)</a>'), F.lit(0)
            )
        ).alias("a")
    ).select(
        F.regexp_extract("a", '<a href="([^"]+)">([^<]+)</a>', 1).alias("href"),
        F.regexp_extract("a", '<a href="([^"]+)">([^<]+)</a>', 2).alias("anchor"),
    )
    counts = (
        pairs.select(host_col(F.col("href")).alias("target_host"), "anchor")
        .groupBy("target_host", "anchor")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("target_host").orderBy(
        F.col("n").desc(), F.col("anchor")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("target_host", F.col("anchor").alias("top_anchor"), "n")
        .orderBy("target_host")
    )


def _oracle_anchor_text() -> str:
    return """
        WITH pairs AS (
            SELECT 'd' || (doc_id % 50) || '.example' AS target_host,
                   'w' || (doc_id % 13) AS anchor
            FROM documents
            UNION ALL
            SELECT 'd' || ((doc_id * 7 + 1) % 50) || '.example',
                   'w' || ((doc_id * 3 + 2) % 13)
            FROM documents),
        cnt AS (SELECT target_host, anchor, count(*) AS n
                FROM pairs GROUP BY target_host, anchor),
        r AS (SELECT target_host, anchor, n,
                     row_number() OVER (PARTITION BY target_host
                       ORDER BY n DESC, anchor) AS rk
              FROM cnt)
        SELECT target_host, anchor AS top_anchor, CAST(n AS BIGINT) AS n
        FROM r WHERE rk = 1 ORDER BY target_host
    """


def _oracle_html_links() -> str:
    return """
        WITH t AS (
            SELECT 'd' || (doc_id % 50) || '.example' AS target_host
            FROM documents
            UNION ALL
            SELECT 'd' || ((doc_id * 7 + 1) % 50) || '.example'
            FROM documents)
        SELECT target_host, CAST(count(*) AS BIGINT) AS n_inlinks
        FROM t GROUP BY target_host ORDER BY target_host
    """


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy filtering (operators/webcorpus.py:parse_robots +
    robots_filter): 20 synthesized robots.txt BODIES are parsed by the
    real line parser and applied to 500 urls by REP longest-match.
    The oracle never parses text — it derives the same rule table from
    the construction arithmetic and replays the longest-match rank, so
    the parser + policy engine are certified end to end."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ks = docs.select((F.col("doc_id") % 20).alias("k")).distinct()
    robots = ks.select(
        F.concat(F.lit("d"), F.col("k"), F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.lit("Disallow: /p"), (F.col("k") % 7), F.lit("\n"),
            F.when(
                F.col("k") % 2 == 0,
                F.concat(F.lit("Allow: /p"), F.col("k") % 7, F.lit("/q\n")),
            ).otherwise(F.lit("")),
            F.when(F.col("k") % 3 == 0, F.lit("Disallow: /\n")).otherwise(
                F.lit("")
            ),
        ).alias("robots_txt"),
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("d"), F.col("doc_id") % 20, F.lit(".example")).alias(
            "domain"
        ),
        F.concat(
            F.lit("/p"), F.col("doc_id") % 9, F.lit("/q"), F.col("doc_id") % 4
        ).alias("path"),
    )
    from geo_spark.operators.webcorpus import parse_robots, robots_filter

    return robots_filter(urls, parse_robots(robots)).orderBy("doc_id")


def _oracle_robots_filter() -> str:
    return """
        WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        rules AS (
            SELECT 'd' || k || '.example' AS domain,
                   '/p' || (k % 7) AS prefix, 0 AS allow FROM ks
            UNION ALL
            SELECT 'd' || k || '.example',
                   '/p' || (k % 7) || '/q', 1 FROM ks WHERE k % 2 = 0
            UNION ALL
            SELECT 'd' || k || '.example', '/', 0 FROM ks WHERE k % 3 = 0
        ),
        urls AS (SELECT doc_id,
                        'd' || (doc_id % 20) || '.example' AS domain,
                        '/p' || (doc_id % 9) || '/q' || (doc_id % 4) AS path
                 FROM documents),
        m AS (SELECT u.doc_id, u.domain, u.path, r.allow,
                     row_number() OVER (PARTITION BY u.doc_id
                       ORDER BY length(r.prefix) DESC, r.allow DESC) AS rk
              FROM urls u JOIN rules r ON r.domain = u.domain
              WHERE substring(u.path, 1, length(r.prefix)) = r.prefix)
        SELECT u.doc_id, u.domain, u.path,
               CAST(coalesce(m.allow, 1) AS BIGINT) AS allowed
        FROM urls u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        ORDER BY u.doc_id
    """


def _q_robots_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy filtering with the RFC 9309 wildcard extension
    (operators/webcorpus.py:robots_pattern_col): synthesized robots
    bodies carry `*` runs and `$` end anchors, the real line parser
    compiles them to anchored regexes in native SQL, and longest-match
    (specificity = raw rule length, wildcards included) decides.  The
    oracle derives the same raw rules AND the same compiled regexes
    from the construction arithmetic — parser + compiler + policy are
    certified end to end, with the regex match replayed on RE2."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ks = docs.select((F.col("doc_id") % 20).alias("k")).distinct()
    robots = ks.select(
        F.concat(F.lit("d"), F.col("k"), F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.lit("Disallow: /p"), (F.col("k") % 7), F.lit("*/q\n"),
            F.when(
                F.col("k") % 2 == 0,
                F.concat(
                    F.lit("Allow: /p"), F.col("k") % 7,
                    F.lit("*/q"), F.col("k") % 3, F.lit("\n"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("k") % 3 == 0,
                F.concat(F.lit("Disallow: /*.t"), F.col("k") % 5, F.lit("$\n")),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("d"), F.col("doc_id") % 20, F.lit(".example")).alias(
            "domain"
        ),
        F.concat(
            F.lit("/p"), F.col("doc_id") % 9, F.lit("x/q"),
            F.col("doc_id") % 4,
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(".t"), F.col("doc_id") % 7),
            ).otherwise(F.lit("")),
        ).alias("path"),
    )
    from geo_spark.operators.webcorpus import parse_robots, robots_filter

    return robots_filter(
        urls, parse_robots(robots, wildcards=True), wildcards=True
    ).orderBy("doc_id")


def _oracle_robots_wildcard() -> str:
    return r"""
        WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        rules AS (
            SELECT 'd' || k || '.example' AS domain,
                   '/p' || (k % 7) || '*/q' AS raw,
                   '^/p' || (k % 7) || '.*/q' AS pat, 0 AS allow FROM ks
            UNION ALL
            SELECT 'd' || k || '.example',
                   '/p' || (k % 7) || '*/q' || (k % 3),
                   '^/p' || (k % 7) || '.*/q' || (k % 3), 1
            FROM ks WHERE k % 2 = 0
            UNION ALL
            SELECT 'd' || k || '.example',
                   '/*.t' || (k % 5) || '$',
                   '^/.*\.t' || (k % 5) || '$', 0
            FROM ks WHERE k % 3 = 0
        ),
        urls AS (SELECT doc_id,
                        'd' || (doc_id % 20) || '.example' AS domain,
                        '/p' || (doc_id % 9) || 'x/q' || (doc_id % 4) ||
                        (CASE WHEN doc_id % 5 = 0
                              THEN '.t' || (doc_id % 7) ELSE '' END) AS path
                 FROM documents),
        m AS (SELECT u.doc_id, r.allow,
                     row_number() OVER (PARTITION BY u.doc_id
                       ORDER BY length(r.raw) DESC, r.allow DESC) AS rk
              FROM urls u JOIN rules r ON r.domain = u.domain
              WHERE regexp_matches(u.path, r.pat))
        SELECT u.doc_id, u.domain, u.path,
               CAST(coalesce(m.allow, 1) AS BIGINT) AS allowed
        FROM urls u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        ORDER BY u.doc_id
    """


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/webcorpus.py:scrub_pii): synthetic
    emails / IPv4s / phone runs are injected into the documents text
    (which is verified digit- and @-free, so the construction fully
    determines every match), the three-pass redaction runs, and the
    oracle derives the expected cleaned text DIRECTLY from the
    construction — the regexes are certified against ground truth,
    never against another regex engine."""
    from geo_spark.operators.webcorpus import scrub_pii

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id"),
            F.lit("@m"), F.col("doc_id") % 7, F.lit(".example or 10.0."),
            F.col("doc_id") % 250, F.lit("."), F.col("doc_id") % 100,
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" tel +"), F.col("doc_id") % 9,
                    F.lit("55 010 12"), F.col("doc_id") % 10,
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = scrub_pii(injected)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_email",
        "n_ip",
        "n_phone",
    ).orderBy("doc_id")


def _oracle_pii_scrub() -> str:
    return """
        SELECT doc_id,
               md5(text || ' contact <EMAIL> or <IP>' ||
                   CASE WHEN doc_id % 3 = 0 THEN ' tel <PHONE>'
                        ELSE '' END) AS clean_md5,
               CAST(1 AS BIGINT) AS n_email,
               CAST(1 AS BIGINT) AS n_ip,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS n_phone
        FROM documents ORDER BY doc_id
    """


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test splits (operators/webcorpus.py:
    split_assign): synthetic Common-Crawl URLs -> registered domain ->
    md5 bucket -> 90/5/5 — every page of a domain lands in one split.
    Oracle replays host extraction, the public-suffix label rule, and
    the 13-hex-digit md5 bucket arithmetic."""
    from geo_spark.operators.webcorpus import split_assign, synthetic_url_sql

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    urls = docs.withColumn(
        "url", F.expr(synthetic_url_sql("doc_id"))
    )
    return split_assign(urls).select("doc_id", "split").orderBy("doc_id")


def _oracle_split_assign() -> str:
    from geo_spark.operators.webcorpus import (
        MULTI_LABEL_SUFFIXES,
        synthetic_url_sql,
    )

    url = synthetic_url_sql("doc_id")
    host = (
        f"lower(regexp_extract({url},"
        " '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1))"
    )
    labels = f"string_split({host}, '.')"
    n = f"len({labels})"
    last2 = f"array_to_string({labels}[{n} - 1 : {n}], '.')"
    last3 = f"array_to_string({labels}[{n} - 2 : {n}], '.')"
    in_list = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    dom = f"""(CASE WHEN {n} <= 2 THEN {host}
                WHEN {last2} IN ({in_list}) THEN {last3}
                ELSE {last2} END)"""
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({dom}), {i + 1}, 1)) - 1)"
        f" * {16 ** (12 - i)}"
        for i in range(13)
    )
    bucket = f"(({digits}) % 100)"
    return f"""
        SELECT doc_id,
               CASE WHEN {bucket} < 90 THEN 'train'
                    WHEN {bucket} < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents ORDER BY doc_id
    """


def _q_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery (operators/webcorpus.py:parse_sitemap):
    per-domain urlset XML bodies are SYNTHESIZED from the documents
    table (multi-line entries, every third entry missing <lastmod>),
    then parsed back by the real regex parser.  The oracle derives
    (domain, loc, lastmod) straight from the construction arithmetic —
    the parser is certified against ground truth, never against
    another parser (the WARC/robots discipline)."""
    from geo_spark.operators.webcorpus import parse_sitemap

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 20
    lastmod = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.lit("<lastmod>2026-01-"),
            F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
        ),
    ).otherwise(F.lit(""))
    entry = F.concat(
        F.lit("<url>\n    <loc>https://d"), k,
        F.lit(".example/p"), F.col("doc_id"),
        F.lit("</loc>"), lastmod, F.lit("\n  </url>"),
    )
    sitemaps = (
        docs.select(
            F.concat(F.lit("d"), k, F.lit(".example")).alias("domain"),
            entry.alias("_e"),
        )
        .groupBy("domain")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?>\n<urlset>\n  '),
                F.array_join(
                    F.array_sort(F.collect_list("_e")), "\n  "
                ),
                F.lit("\n</urlset>"),
            ).alias("sitemap_xml")
        )
    )
    return parse_sitemap(sitemaps).orderBy("loc")


def _oracle_sitemap_extract() -> str:
    return """
        SELECT 'd' || (doc_id % 20) || '.example' AS domain,
               'https://d' || (doc_id % 20) || '.example/p' || doc_id
                 AS loc,
               CASE WHEN doc_id % 3 != 0
                    THEN '2026-01-' ||
                         lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                    ELSE '' END AS lastmod
        FROM documents ORDER BY loc
    """


def _q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-7 WEBTEXT composition certificate: crawl-frontier
    construction — sitemap-discovered URLs (parse_sitemap over
    synthesized urlset XML) run through the WILDCARD robots policy
    (parse_robots(wildcards=True) + longest-match regex filter), then
    rolled up per domain to (n_discovered, n_allowed).  ONE oracle
    replays both constructions and the regex longest-match end to end
    — the q_crawl_pipeline discipline applied to the session-7
    operators composing."""
    from geo_spark.operators.webcorpus import (
        parse_robots,
        parse_sitemap,
        robots_filter,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 20
    entry = F.concat(
        F.lit("<url><loc>https://d"), k, F.lit(".example/p"),
        F.col("doc_id") % 9, F.lit("x/q"), F.col("doc_id") % 4,
        F.lit("-"), F.col("doc_id"),  # unique path per doc (dup rows
        F.lit("</loc></url>"),        # would collapse in the rollup)
    )
    sitemaps = (
        docs.select(
            F.concat(F.lit("d"), k, F.lit(".example")).alias("domain"),
            entry.alias("_e"),
        )
        .groupBy("domain")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.array_sort(F.collect_list("_e")), "\n"),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
    )
    ks = docs.select(k.alias("k")).distinct()
    robots = ks.select(
        F.concat(F.lit("d"), F.col("k"), F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.lit("Disallow: /p"), (F.col("k") % 7), F.lit("*/q\n"),
            F.when(
                F.col("k") % 2 == 0,
                F.concat(
                    F.lit("Allow: /p"), F.col("k") % 7,
                    F.lit("*/q"), F.col("k") % 3, F.lit("\n"),
                ),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    urls = parse_sitemap(sitemaps).select(
        "domain",
        F.regexp_replace(
            F.col("loc"), "^https://[^/]*", ""
        ).alias("path"),
    )
    allowed = robots_filter(
        urls, parse_robots(robots, wildcards=True), wildcards=True
    )
    return (
        allowed.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_discovered"),
            F.sum("allowed").alias("n_allowed"),
        )
        .orderBy("domain")
    )


def _oracle_crawl_frontier() -> str:
    return r"""
        WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        urls AS (SELECT 'd' || (doc_id % 20) || '.example' AS domain,
                        doc_id % 20 AS k,
                        '/p' || (doc_id % 9) || 'x/q' || (doc_id % 4)
                          || '-' || doc_id AS path
                 FROM documents),
        rules AS (
            SELECT k, '/p' || (k % 7) || '*/q' AS raw,
                   '^/p' || (k % 7) || '.*/q' AS pat, 0 AS allow FROM ks
            UNION ALL
            SELECT k, '/p' || (k % 7) || '*/q' || (k % 3),
                   '^/p' || (k % 7) || '.*/q' || (k % 3), 1
            FROM ks WHERE k % 2 = 0
        ),
        m AS (SELECT u.domain, u.path, r.allow,
                     row_number() OVER (
                       PARTITION BY u.domain, u.path
                       ORDER BY length(r.raw) DESC, r.allow DESC) AS rk
              FROM urls u JOIN rules r ON r.k = u.k
              WHERE regexp_matches(u.path, r.pat)),
        verdicts AS (SELECT u.domain, u.path,
                            coalesce(m.allow, 1) AS allowed
                     FROM urls u
                     LEFT JOIN m ON m.domain = u.domain
                                AND m.path = u.path AND m.rk = 1)
        SELECT domain,
               CAST(count(*) AS BIGINT) AS n_discovered,
               CAST(sum(allowed) AS BIGINT) AS n_allowed
        FROM verdicts GROUP BY domain ORDER BY domain
    """


def _q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible text extraction (operators/webcorpus.py:
    html_text_col), certified by INVERSION: each document's text is
    entity-escaped and wrapped in a full synthetic page (head, title,
    a script whose body contains fake tags, style, entities), then
    the codegen extraction chain must return title + text
    BYTE-IDENTICALLY — the north rule's per-url extracted-text
    invariant, hashed directly (no md5 shortcut: the text column
    itself is compared)."""
    from geo_spark.operators.webcorpus import html_text_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    esc = F.col("text")
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(a), F.lit(b))
    html = F.concat(
        F.lit("<html>\n<head><title>Doc "), F.col("doc_id"),
        F.lit("</title><script type=\"text/javascript\">"
              "if (1 < 2) { alert(\"<p>not content</p>\"); }"
              "</script><style>.c{color:red}</style></head>\n"
              "<body>\n<p>"),
        esc,
        F.lit("</p>\n</body></html>"),
    )
    return docs.select(
        "doc_id", html_text_col(html).alias("txt")
    ).orderBy("doc_id")


def _oracle_html_text() -> str:
    return """
        SELECT doc_id, 'Doc ' || doc_id || ' ' || text AS txt
        FROM documents ORDER BY doc_id
    """


def _q_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduler-facing robots directives (operators/webcorpus.py:
    parse_robots_directives): Crawl-delay parsed to exact integer
    milliseconds (string-split decimal, no float round-trip) and
    sorted-distinct Sitemap URLs, from synthesized bodies — every
    fourth domain lacks a delay (NULL), every fifth lacks sitemaps
    (empty).  Construction oracle re-derives both from the k
    arithmetic."""
    from geo_spark.operators.webcorpus import parse_robots_directives

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ks = docs.select((F.col("doc_id") % 20).alias("k")).distinct()
    k = F.col("k")
    delay_line = F.when(
        k % 4 != 3,
        F.concat(
            F.lit("Crawl-delay: "), k % 7, F.lit("."), k % 10, F.lit("\n")
        ),
    ).otherwise(F.lit(""))
    sm_lines = [
        F.when(
            (k % 5 != 0) & (F.lit(j) <= k % 3),
            F.concat(
                F.lit("Sitemap: https://d"), k,
                F.lit(f".example/sm{j}.xml\n"),
            ),
        ).otherwise(F.lit(""))
        for j in range(3)
    ]
    robots = ks.select(
        F.concat(F.lit("d"), k, F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\n"),
            delay_line, *sm_lines,
        ).alias("robots_txt"),
    )
    out = parse_robots_directives(robots)
    return out.select(
        "domain",
        "crawl_delay_ms",
        F.array_size("sitemaps").cast("long").alias("n_sitemaps"),
        F.array_join("sitemaps", ",").alias("sitemaps_csv"),
    ).orderBy("domain")


def _oracle_robots_directives() -> str:
    return """
        WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        js(j) AS (VALUES (0), (1), (2)),
        sm AS (SELECT k, j FROM ks, js
               WHERE k % 5 != 0 AND j <= k % 3),
        smj AS (SELECT k,
                       string_agg('https://d' || k || '.example/sm' || j
                                  || '.xml', ',' ORDER BY j) AS sms,
                       count(*) AS n
                FROM sm GROUP BY k)
        SELECT 'd' || k || '.example' AS domain,
               CASE WHEN k % 4 != 3
                    THEN CAST((k % 7) * 1000 + (k % 10) * 100 AS BIGINT)
                    ELSE NULL END AS crawl_delay_ms,
               CAST(coalesce(smj.n, 0) AS BIGINT) AS n_sitemaps,
               coalesce(smj.sms, '') AS sitemaps_csv
        FROM ks LEFT JOIN smj USING (k)
        ORDER BY domain
    """


def _q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduler composition: the parsed Crawl-delay
    (q_robots_directives' bodies) drives per-domain fetch slots —
    URL rank within its domain (deterministic doc_id order) times the
    domain's delay (default 1000 ms when absent) = scheduled_ms; the
    final shape every crawl frontier executor consumes.  One window
    over the domain partition; oracle replays directive arithmetic +
    row_number."""
    from pyspark.sql import Window

    from geo_spark.operators.webcorpus import parse_robots_directives

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ks = docs.select((F.col("doc_id") % 20).alias("k")).distinct()
    k = F.col("k")
    delay_line = F.when(
        k % 4 != 3,
        F.concat(
            F.lit("Crawl-delay: "), k % 7, F.lit("."), k % 10, F.lit("\n")
        ),
    ).otherwise(F.lit(""))
    robots = ks.select(
        F.concat(F.lit("d"), k, F.lit(".example")).alias("domain"),
        F.concat(F.lit("User-agent: *\n"), delay_line).alias("robots_txt"),
    )
    delays = parse_robots_directives(robots).select(
        "domain", "crawl_delay_ms"
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("d"), F.col("doc_id") % 20, F.lit(".example")).alias(
            "domain"
        ),
    )
    w = Window.partitionBy("domain").orderBy("doc_id")
    return (
        urls.join(F.broadcast(delays), "domain")
        .withColumn("_rk", F.row_number().over(w) - 1)
        .select(
            "doc_id",
            "domain",
            (
                F.col("_rk")
                * F.coalesce(F.col("crawl_delay_ms"), F.lit(1000))
            ).cast("long").alias("scheduled_ms"),
        )
        .orderBy("doc_id")
    )


def _oracle_fetch_schedule() -> str:
    return """
        SELECT doc_id,
               'd' || (doc_id % 20) || '.example' AS domain,
               CAST((row_number() OVER (PARTITION BY doc_id % 20
                                        ORDER BY doc_id) - 1)
                    * (CASE WHEN (doc_id % 20) % 4 != 3
                            THEN ((doc_id % 20) % 7) * 1000
                                 + ((doc_id % 20) % 10) * 100
                            ELSE 1000 END) AS BIGINT) AS scheduled_ms
        FROM documents ORDER BY doc_id
    """


def _q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container round trip (sources/warc.py): documents are
    packed into spec-shaped WARC/1.0 blobs (Content-Length framing) and
    parsed BACK by the byte-level parser; output is (uri, n_bytes,
    body_md5) per record.  The oracle never parses bytes — it
    re-derives every row relationally from the same documents table,
    so the parser's extraction is certified byte-identical per url
    (the north rule's per-row invariant)."""
    from geo_spark.sources.warc import parse_warc, synth_warc_blobs

    docs = _t(spark, sf_dir, "documents")
    recs = parse_warc(synth_warc_blobs(docs, per_blob=16))
    return recs.select(
        "uri",
        F.octet_length(F.col("body").cast("string")).cast("long").alias("n_bytes"),
        F.md5("body").alias("body_md5"),
    ).orderBy("uri")


def _oracle_warc_extract() -> str:
    from geo_spark.sources.warc import URI_PREFIX

    return f"""
        SELECT '{URI_PREFIX}' || CAST(doc_id AS VARCHAR) AS uri,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
               md5(text) AS body_md5
        FROM documents ORDER BY uri
    """


def _q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational-surface parity: CUBE — event counts with all
    subtotals over (event_type, day-decade bucket), disambiguating
    grouping-set nulls with grouping_id (verified bit-compatible with
    DuckDB's GROUPING(): leftmost column is the most-significant
    bit)."""
    from geo_spark.operators.geo_noise import with_time_noise

    ev = with_time_noise(_t(spark, sf_dir, "events"), "event_id")
    base = ev.select(
        "event_type", F.expr("ts_us div 864000000000").alias("decade")
    )
    return (
        base.cube("event_type", "decade")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy("gid", "event_type", "decade")
    )


def _oracle_event_cube() -> str:
    from geo_spark.operators.geo_noise import TS_US_SQL

    ts = TS_US_SQL.format(id="event_id")
    return f"""
        WITH base AS (SELECT event_type,
                             ({ts}) // 864000000000 AS decade
                      FROM events)
        SELECT event_type, decade, CAST(count(*) AS BIGINT) AS cnt,
               CAST(GROUPING(event_type, decade) AS BIGINT) AS gid
        FROM base GROUP BY CUBE(event_type, decade)
        ORDER BY gid, event_type, decade
    """


def _q_customer_order_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational-surface parity: FULL OUTER JOIN with null-producing
    rows on BOTH sides (even customers x every-third order), rolled up
    to per-side match flags so the null semantics are what's hashed."""
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_custkey")
    )
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "full_outer")
    return (
        j.select(
            F.coalesce("c_custkey", F.lit(-1)).alias("cust_side"),
            F.when(F.col("c_custkey").isNull(), 1).otherwise(0).alias("no_cust"),
            F.when(F.col("o_orderkey").isNull(), 1).otherwise(0).alias("no_order"),
        )
        .groupBy("cust_side")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("no_cust").cast("long").alias("n_no_cust"),
            F.sum("no_order").cast("long").alias("n_no_order"),
        )
        .orderBy("cust_side")
    )


def _oracle_customer_order_outer() -> str:
    return """
        WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
        o AS (SELECT o_orderkey, o_custkey FROM orders
              WHERE o_orderkey % 3 = 0),
        j AS (SELECT c.c_custkey, o.o_orderkey
              FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey)
        SELECT coalesce(c_custkey, -1) AS cust_side,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_no_cust,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_no_order
        FROM j GROUP BY cust_side ORDER BY cust_side
    """


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational-surface parity: PIVOT — per-user event-type count
    matrix via Spark's pivot() with an explicit value list (explicit
    values keep the plan single-pass; inference adds a distinct scan).
    Oracle is conditional aggregation (the engine-portable spelling of
    the same operator)."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in _PIVOT_TYPES],
    ).orderBy("user_id")


def _oracle_event_pivot() -> str:
    cols = ",\n               ".join(
        f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
        f" AS n_{t}"
        for t in _PIVOT_TYPES
    )
    return f"""
        SELECT user_id,
               {cols}
        FROM events GROUP BY user_id ORDER BY user_id
    """


def _q_week_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational-surface parity: INTERSECT / EXCEPT — users active on
    both the first and the last activity DAY, minus users who errored
    on day 0 (set ops over distinct user sets)."""
    from geo_spark.operators.geo_noise import with_time_noise

    ev = with_time_noise(_t(spark, sf_dir, "events"), "event_id")
    daily = ev.select(
        "user_id",
        F.expr("ts_us div 86400000000").alias("day"),
        "event_type",
    )
    d0 = daily.where(F.col("day") == 0).select("user_id").distinct()
    d29 = daily.where(F.col("day") == 29).select("user_id").distinct()
    err0 = (
        daily.where((F.col("event_type") == "error") & (F.col("day") == 0))
        .select("user_id")
        .distinct()
    )
    return d0.intersect(d29).exceptAll(err0).orderBy("user_id")


def _oracle_week_intersect() -> str:
    from geo_spark.operators.geo_noise import TS_US_SQL

    ts = TS_US_SQL.format(id="event_id")
    return f"""
        WITH daily AS (SELECT user_id, ({ts}) // 86400000000 AS day,
                              event_type
                       FROM events)
        SELECT user_id FROM daily WHERE day = 0
        INTERSECT
        SELECT user_id FROM daily WHERE day = 29
        EXCEPT
        SELECT user_id FROM daily
        WHERE event_type = 'error' AND day = 0
        ORDER BY user_id
    """


def _q_radius_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mobility radius of gyration
    (operators/sessionize.py:radius_of_gyration): mean squared chordal
    deviation from the centroid in exact shifted-integer arithmetic
    (HUGEINT/DECIMAL sums, truncating division on non-negative
    operands) — bit-portable where float variance accumulation is
    partition-order dependent.  Coordinates come from the pure-double
    noise streams (SINLAT/LNG_D): the asin-based lat stream diverges
    ~1e-11 across engines, which flips ~2e-5 of the 1e-8-quantum
    floors (measured) — the same lesson q_trajectory_resample pinned."""
    from geo_spark.operators.geo_noise import LNG_D_SQL, SINLAT_SQL
    from geo_spark.operators.sessionize import radius_of_gyration

    sinlat = SINLAT_SQL.format(id="event_id")
    lngd = LNG_D_SQL.format(id="event_id")
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(sinlat).alias("z"),
        F.expr(f"sqrt(1.0e0 - ({sinlat}) * ({sinlat}))").alias("_cl"),
        F.expr(f"radians({lngd})").alias("_lr"),
    ).select(
        "user_id",
        (F.cos(F.col("_lr")) * F.col("_cl")).alias("x"),
        (F.sin(F.col("_lr")) * F.col("_cl")).alias("y"),
        "z",
    )
    return radius_of_gyration(ev, xyz=("x", "y", "z")).orderBy("user_id")


def _oracle_radius_gyration() -> str:
    from geo_spark.operators.geo_noise import LNG_D_SQL, SINLAT_SQL

    sinlat = SINLAT_SQL.format(id="event_id")
    lngd = LNG_D_SQL.format(id="event_id")
    s = 100_000_000
    return f"""
        WITH pts AS (SELECT event_id, user_id, ({sinlat}) AS z,
                            sqrt(1.0e0 - ({sinlat}) * ({sinlat})) AS cl,
                            radians({lngd}) AS lr
                     FROM events),
        q AS (SELECT user_id,
                     CAST(floor((cos(lr)*cl + 1) * {s}) AS BIGINT) AS qx,
                     CAST(floor((sin(lr)*cl + 1) * {s}) AS BIGINT) AS qy,
                     CAST(floor((z + 1) * {s}) AS BIGINT) AS qz
              FROM pts),
        m AS (SELECT user_id, count(*) AS n,
                     SUM(qx) // count(*) AS mx,
                     SUM(qy) // count(*) AS my,
                     SUM(qz) // count(*) AS mz
              FROM q GROUP BY user_id),
        d AS (SELECT q.user_id, m.n,
                     CAST((qx-mx) AS HUGEINT)*(qx-mx)
                   + CAST((qy-my) AS HUGEINT)*(qy-my)
                   + CAST((qz-mz) AS HUGEINT)*(qz-mz) AS d2
              FROM q JOIN m USING (user_id))
        SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
               CAST(SUM(d2) // max(n) AS BIGINT) AS msd_q
        FROM d GROUP BY user_id ORDER BY user_id
    """


def _q_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph construction: pairs where each vector is in the
    OTHER's cosine top-5 — the symmetrized kNN graph clustering and
    manifold methods start from (mutuality filters the hub/asymmetry
    noise of raw kNN).  Composes cosine_topk with a self-join on the
    reversed edge; oracle replays both directions."""
    from geo_spark.operators.similarity import cosine_topk_brute

    emb = _t(spark, sf_dir, "embeddings")
    t = cosine_topk_brute(emb, emb, 5).select("vec_id", "nb_id", "rank")
    a = t.select(
        F.col("vec_id").alias("id_a"),
        F.col("nb_id").alias("id_b"),
        F.col("rank").alias("rank_ab"),
    )
    b = t.select(
        F.col("nb_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("rank").alias("rank_ba"),
    )
    return (
        a.join(b, ["id_a", "id_b"])
        .where(F.col("id_a") < F.col("id_b"))
        .orderBy("id_a", "id_b")
    )


def _oracle_mutual_knn() -> str:
    return """
        WITH d AS (
          SELECT a.vec_id AS qa, b.vec_id AS qb,
                 list_dot_product(a.embedding, b.embedding) /
                 (sqrt(list_dot_product(a.embedding, a.embedding)) *
                  sqrt(list_dot_product(b.embedding, b.embedding))) AS sim
          FROM embeddings a, embeddings b
          WHERE a.vec_id <> b.vec_id
        ),
        r AS (SELECT qa, qb,
                     row_number() OVER (PARTITION BY qa
                                        ORDER BY sim DESC, qb) rk
              FROM d),
        t AS (SELECT qa, qb, rk FROM r WHERE rk <= 5)
        SELECT t1.qa AS id_a, t1.qb AS id_b,
               CAST(t1.rk AS INT) AS rank_ab,
               CAST(t2.rk AS INT) AS rank_ba
        FROM t t1 JOIN t t2 ON t2.qa = t1.qb AND t2.qb = t1.qa
        WHERE t1.qa < t1.qb ORDER BY id_a, id_b
    """


def _q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval build: the per-user event-type change log
    becomes validity intervals [valid_from, valid_to) via one lead
    window — the warehousing primitive behind every dimension-history
    table (as-of joins then probe these intervals).  Consecutive
    duplicate states collapse first (lag filter), so intervals are
    maximal."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("_prev", F.lag("event_type").over(w))
        .where(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w2).alias("valid_to"),
        )
        .orderBy("user_id", "valid_from")
    )


def _oracle_scd2_intervals() -> str:
    return """
        WITH lagd AS (SELECT user_id, event_id, ts, event_type,
                             lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
                      FROM events),
        ch AS (SELECT user_id, event_id, ts, event_type FROM lagd
               WHERE prev IS NULL OR prev <> event_type)
        SELECT user_id, event_type AS state, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to
        FROM ch ORDER BY user_id, valid_from
    """


def _q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth binning (feature preprocessing): each event's decile
    of `value` within its event_type, computed from the exact rank —
    decile = (rank-1)*10 div count, deterministic under the
    (value, event_id) total order.  NOT ntile(): ntile's remainder
    distribution is engine-specific; the rank formula is portable."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    c = Window.partitionBy("event_type")
    return (
        ev.select("event_id", "event_type", "value")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(c))
        .select(
            "event_id",
            "event_type",
            F.expr("((_rn - 1) * 10) div _n").cast("long").alias("decile"),
        )
        .orderBy("event_id")
    )


def _oracle_value_deciles() -> str:
    return """
        WITH r AS (SELECT event_id, event_type,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY value, event_id) AS rn,
                          count(*) OVER (PARTITION BY event_type) AS n
                   FROM events)
        SELECT event_id, event_type,
               CAST(((rn - 1) * 10) // n AS BIGINT) AS decile
        FROM r ORDER BY event_id
    """


_FLOOD_Z, _FLOOD_HOPS = 4, 5


def _q_tile_flood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-graph composition certificate: hop-distance flood fill over
    the OCCUPIED-tile adjacency graph (8-neighbor, x wraps at the
    antimeridian, y clamps) from the single hottest tile — the
    raster-connectivity question (how far does the dense region
    extend?) answered by composing the tile rollup, the focal-style
    neighbor explode, and seed_distances' frontier BFS.  Oracle =
    tile replay + recursive-CTE min-hop."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.linkgraph import seed_distances
    from geo_spark.functions.webgrid import mercator_xy_cols

    n = 1 << _FLOOD_Z
    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    x, y = mercator_xy_cols(F.col("lat"), F.col("lng"), _FLOOD_Z)
    occ = (
        ev.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).localCheckpoint()
    seeds = (
        occ.orderBy(F.col("cnt").desc(), "tx", "ty")
        .limit(1)
        .select((F.col("tx") * n + F.col("ty")).alias("id"))
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if (dx, dy) != (0, 0)
            ]
        )
    )
    nbr = occ.select("tx", "ty", offsets.alias("o")).select(
        (F.col("tx") * n + F.col("ty")).alias("src"),
        (((F.col("tx") + F.col("o.dx") + n) % n)).alias("nx"),
        (F.col("ty") + F.col("o.dy")).alias("ny"),
    ).where((F.col("ny") >= 0) & (F.col("ny") < n))
    edges = nbr.join(
        occ.select(F.col("tx").alias("nx"), F.col("ty").alias("ny")),
        ["nx", "ny"],
        "semi",
    ).select("src", (F.col("nx") * n + F.col("ny")).alias("dst"))
    return seed_distances(edges, seeds, max_hops=_FLOOD_HOPS).orderBy(
        "node"
    )


def _oracle_tile_flood() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    n = 1 << _FLOOD_Z
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _FLOOD_Z)
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    return f"""
        WITH RECURSIVE pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng
                               FROM events),
        occ AS (SELECT {x} AS tx, {y} AS ty, count(*) AS cnt
                FROM pts GROUP BY 1, 2),
        sd AS (SELECT tx * {n} + ty AS id FROM occ
               ORDER BY cnt DESC, tx, ty LIMIT 1),
        o(dx, dy) AS (VALUES {offs}),
        e AS (SELECT a.tx * {n} + a.ty AS src,
                     b.tx * {n} + b.ty AS dst
              FROM occ a, o
              JOIN occ b
                ON b.tx = (a.tx + o.dx + {n}) % {n}
               AND b.ty = a.ty + o.dy),
        r AS (
            SELECT id AS node, 0 AS dist FROM sd
            UNION
            SELECT e.dst AS node, r.dist + 1 AS dist
            FROM r JOIN e ON e.src = r.node
            WHERE r.dist < {_FLOOD_HOPS}
        )
        SELECT node, CAST(min(dist) AS BIGINT) AS dist
        FROM r GROUP BY node ORDER BY node
    """


_MORAN_Z = 6


def _q_tile_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation
    (operators/tiling.py:morans_i) over per-tile event counts at
    mercator z=6 with queen weights — the one-number answer to "is
    the event surface spatially clustered?".  Exact-integer spec
    (d_i = N·v_i − S, ppm floor with the sign-split truncating
    division), so the oracle replays tiling -> deviations ->
    neighbor-pair sum -> ppm in HUGEINT and matches bit-for-bit."""
    from geo_spark.functions.webgrid import mercator_xy_cols
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import morans_i

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    x, y = mercator_xy_cols(F.col("lat"), F.col("lng"), _MORAN_Z)
    occ = (
        ev.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return morans_i(occ, _MORAN_Z)


def _oracle_tile_morans_i() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    n = 1 << _MORAN_Z
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _MORAN_Z)
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng
                     FROM events),
        occ AS (SELECT {x} AS tx, {y} AS ty, count(*) AS v
                FROM pts GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS HUGEINT) AS nn,
                       CAST(sum(v) AS HUGEINT) AS ss FROM occ),
        d AS (SELECT tx, ty,
                     (SELECT nn FROM tot) * v - (SELECT ss FROM tot) AS d
              FROM occ),
        den AS (SELECT SUM(d * d) AS den FROM d),
        o(dx, dy) AS (VALUES {offs}),
        pairs AS (SELECT a.d AS d_src, b.d AS d_dst
                  FROM d a, o
                  JOIN d b ON b.tx = (a.tx + o.dx + {n}) % {n}
                          AND b.ty = a.ty + o.dy),
        numw AS (SELECT SUM(d_src * d_dst) AS num,
                        CAST(count(*) AS HUGEINT) AS w FROM pairs)
        SELECT CAST((SELECT nn FROM tot) AS BIGINT) AS n_tiles,
               CAST(w AS BIGINT) AS w_pairs,
               CAST(CASE WHEN num >= 0
                    THEN (num * (SELECT nn FROM tot) * 1000000)
                         // (w * den)
                    ELSE -((-num * (SELECT nn FROM tot) * 1000000)
                           // (w * den)) END AS BIGINT) AS i_ppm
        FROM numw, den
    """


def _q_local_morans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISA hot/cold-spot map (operators/tiling.py:local_morans): the
    per-tile companion of q_morans_i — local Moran's I in the same
    exact-integer ppm spec plus the HH/LL/HL/LH quadrant labels.
    Oracle replays deviations -> neighbor lag -> per-tile ppm ->
    quadrant CASE in HUGEINT, bit-for-bit including the NULL/''
    no-neighbor edge."""
    from geo_spark.functions.webgrid import mercator_xy_cols
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import local_morans

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    x, y = mercator_xy_cols(F.col("lat"), F.col("lng"), _MORAN_Z)
    occ = (
        ev.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return local_morans(occ, _MORAN_Z).orderBy("tx", "ty")


def _oracle_local_morans() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    n = 1 << _MORAN_Z
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _MORAN_Z)
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    num = "(d.d * lag.lag * (SELECT nn FROM tot) * 1000000)"
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng
                     FROM events),
        occ AS (SELECT {x} AS tx, {y} AS ty, count(*) AS v
                FROM pts GROUP BY 1, 2),
        tot AS (SELECT CAST(count(*) AS HUGEINT) AS nn,
                       CAST(sum(v) AS HUGEINT) AS ss FROM occ),
        d AS (SELECT tx, ty,
                     (SELECT nn FROM tot) * v - (SELECT ss FROM tot) AS d
              FROM occ),
        den AS (SELECT SUM(d * d) AS den FROM d),
        o(dx, dy) AS (VALUES {offs}),
        lag AS (SELECT a.tx, a.ty, SUM(b.d) AS lag
                FROM d a, o
                JOIN d b ON b.tx = (a.tx + o.dx + {n}) % {n}
                        AND b.ty = a.ty + o.dy
                GROUP BY a.tx, a.ty)
        SELECT d.tx, d.ty,
               CAST(CASE WHEN lag.lag IS NULL THEN NULL
                    WHEN {num} >= 0
                    THEN {num} // (SELECT den FROM den)
                    ELSE -((-{num}) // (SELECT den FROM den))
                    END AS BIGINT) AS i_ppm,
               CASE WHEN lag.lag IS NULL OR d.d = 0 OR lag.lag = 0
                    THEN ''
                    WHEN d.d > 0 AND lag.lag > 0 THEN 'HH'
                    WHEN d.d < 0 AND lag.lag < 0 THEN 'LL'
                    WHEN d.d > 0 THEN 'HL' ELSE 'LH' END AS quadrant
        FROM d LEFT JOIN lag ON lag.tx = d.tx AND lag.ty = d.ty
        ORDER BY d.tx, d.ty
    """


def _q_tile_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isoline extraction (operators/tiling.py:contour_segments):
    marching squares over the z=6 event-count raster at threshold 8 —
    the raster -> vector direction, emitting level-set segments in
    exact half-unit integer coordinates.  The oracle replays block
    domain -> 4 corner joins -> mask -> the 16-case segment table (as
    a VALUES join generated from the SAME _MS_SEGMENTS dict) — table
    and replay can't drift apart."""
    from geo_spark.functions.webgrid import mercator_xy_cols
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import contour_segments

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    x, y = mercator_xy_cols(F.col("lat"), F.col("lng"), _MORAN_Z)
    occ = (
        ev.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return contour_segments(occ, 8).orderBy(
        "bx", "by", "x1", "y1", "x2", "y2"
    )


def _oracle_tile_contours() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL
    from geo_spark.operators.tiling import _MS_SEGMENTS

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _MORAN_Z)
    seg_rows = ", ".join(
        f"({m}, {x1}, {y1}, {x2}, {y2})"
        for m, segs in _MS_SEGMENTS.items()
        for (x1, y1), (x2, y2) in segs
    )
    corner = (
        "CASE WHEN coalesce(c{i}.v, 0) >= 8 THEN {w} ELSE 0 END"
    )
    mask = " + ".join(
        corner.format(i=i, w=1 << i) for i in range(4)
    )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng
                     FROM events),
        occ AS (SELECT {x} AS tx, {y} AS ty, count(*) AS v
                FROM pts GROUP BY 1, 2),
        o(dx, dy) AS (VALUES (0, 0), (-1, 0), (0, -1), (-1, -1)),
        blocks AS (SELECT DISTINCT tx + dx AS bx, ty + dy AS by
                   FROM occ, o),
        m AS (SELECT b.bx, b.by, ({mask}) AS mask
              FROM blocks b
              LEFT JOIN occ c0 ON c0.tx = b.bx AND c0.ty = b.by
              LEFT JOIN occ c1 ON c1.tx = b.bx + 1 AND c1.ty = b.by
              LEFT JOIN occ c2 ON c2.tx = b.bx AND c2.ty = b.by + 1
              LEFT JOIN occ c3 ON c3.tx = b.bx + 1 AND c3.ty = b.by + 1),
        segs(mask, sx1, sy1, sx2, sy2) AS (VALUES {seg_rows})
        SELECT m.bx, m.by, CAST(m.mask AS BIGINT) AS mask,
               CAST(m.bx * 2 + s.sx1 AS BIGINT) AS x1,
               CAST(m.by * 2 + s.sy1 AS BIGINT) AS y1,
               CAST(m.bx * 2 + s.sx2 AS BIGINT) AS x2,
               CAST(m.by * 2 + s.sy2 AS BIGINT) AS y2
        FROM m JOIN segs s ON s.mask = m.mask
        WHERE m.mask > 0 AND m.mask < 15
        ORDER BY bx, by, x1, y1, x2, y2
    """


def _q_contour_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-graph composition certificate: the marching-squares
    segments chain into CLOSED loops (every endpoint is shared by
    exactly two segments — the parity invariant tested in
    test_webgrid), so connected components over the endpoint graph
    (operators/dedup.py:dedup_clusters — large-star/small-star rounds)
    yield the isoline census: one row per closed contour with its
    vertex count.  Oracle = the contour replay chained into a
    recursive-CTE transitive closure."""
    from geo_spark.functions.webgrid import mercator_xy_cols
    from geo_spark.operators.dedup import dedup_clusters
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import contour_segments

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    x, y = mercator_xy_cols(F.col("lat"), F.col("lng"), _MORAN_Z)
    occ = (
        ev.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    segs = contour_segments(occ, 8)
    enc = lambda xc, yc: (F.col(xc) + 4) * 1_000_000 + (F.col(yc) + 4)
    pairs = segs.select(
        enc("x1", "y1").alias("da"), enc("x2", "y2").alias("db")
    )
    comp = dedup_clusters(pairs)
    return (
        comp.groupBy("rep")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .select(F.col("rep").alias("loop_id"), "n_points")
        .orderBy("loop_id")
    )


def _oracle_contour_loops() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL
    from geo_spark.operators.tiling import _MS_SEGMENTS

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _MORAN_Z)
    seg_rows = ", ".join(
        f"({m}, {x1}, {y1}, {x2}, {y2})"
        for m, segs in _MS_SEGMENTS.items()
        for (x1, y1), (x2, y2) in segs
    )
    mask = " + ".join(
        f"CASE WHEN coalesce(c{i}.v, 0) >= 8 THEN {1 << i} ELSE 0 END"
        for i in range(4)
    )
    return f"""
        WITH RECURSIVE pts AS (SELECT event_id, {lat} AS lat,
                                      {lng} AS lng FROM events),
        occ AS (SELECT {x} AS tx, {y} AS ty, count(*) AS v
                FROM pts GROUP BY 1, 2),
        o(dx, dy) AS (VALUES (0, 0), (-1, 0), (0, -1), (-1, -1)),
        blocks AS (SELECT DISTINCT tx + dx AS bx, ty + dy AS by
                   FROM occ, o),
        m AS (SELECT b.bx, b.by, ({mask}) AS mask
              FROM blocks b
              LEFT JOIN occ c0 ON c0.tx = b.bx AND c0.ty = b.by
              LEFT JOIN occ c1 ON c1.tx = b.bx + 1 AND c1.ty = b.by
              LEFT JOIN occ c2 ON c2.tx = b.bx AND c2.ty = b.by + 1
              LEFT JOIN occ c3 ON c3.tx = b.bx + 1 AND c3.ty = b.by + 1),
        sg(mask, sx1, sy1, sx2, sy2) AS (VALUES {seg_rows}),
        segp AS (SELECT (m.bx * 2 + s.sx1 + 4) * 1000000
                          + (m.by * 2 + s.sy1 + 4) AS p1,
                        (m.bx * 2 + s.sx2 + 4) * 1000000
                          + (m.by * 2 + s.sy2 + 4) AS p2
                 FROM m JOIN sg s ON s.mask = m.mask
                 WHERE m.mask > 0 AND m.mask < 15),
        edges AS (SELECT p1 AS u, p2 AS v FROM segp
                  UNION SELECT p2, p1 FROM segp),
        r AS (
            SELECT u AS id, u AS lbl FROM edges
            UNION
            SELECT e.v AS id, r.lbl
            FROM r JOIN edges e ON e.u = r.id
        ),
        comp AS (SELECT id, min(lbl) AS rep FROM r GROUP BY id)
        SELECT rep AS loop_id, CAST(count(*) AS BIGINT) AS n_points
        FROM comp GROUP BY rep ORDER BY loop_id
    """


def _q_type_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial co-location mining (operators/tiling.py:
    colocation_lift): per event-type pair, tile-presence lift in exact
    ppm at mercator z=5 — the geospatial twin of q_token_lift's
    integer-PMI.  Oracle replays tiling -> distinct presence ->
    tile-keyed pair join -> ppm lift."""
    from geo_spark.functions.webgrid import mercator_xy_cols
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import colocation_lift

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    x, y = mercator_xy_cols(F.col("lat"), F.col("lng"), 5)
    pts = ev.select(
        x.alias("tx"), y.alias("ty"), "event_type"
    )
    return colocation_lift(pts, 5).orderBy("type_a", "type_b")


def _oracle_type_colocation() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", 5)
    return f"""
        WITH pts AS (SELECT event_id, event_type,
                            {lat} AS lat, {lng} AS lng FROM events),
        occ AS (SELECT DISTINCT {x} AS tx, {y} AS ty, event_type AS t
                FROM pts),
        per_t AS (SELECT t, count(*) AS n_t FROM occ GROUP BY t),
        nt AS (SELECT count(*) AS n_tiles
               FROM (SELECT DISTINCT tx, ty FROM occ)),
        pairs AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_ab
                  FROM occ a JOIN occ b
                    ON a.tx = b.tx AND a.ty = b.ty AND a.t < b.t
                  GROUP BY 1, 2)
        SELECT type_a, type_b,
               CAST(na.n_t AS BIGINT) AS n_a,
               CAST(nb.n_t AS BIGINT) AS n_b,
               CAST(n_ab AS BIGINT) AS n_ab,
               CAST((SELECT n_tiles FROM nt) AS BIGINT) AS n_tiles,
               CAST((n_ab * (SELECT n_tiles FROM nt) * 1000000)
                    // (na.n_t * nb.n_t) AS BIGINT) AS lift_ppm
        FROM pairs
        JOIN per_t na ON na.t = type_a
        JOIN per_t nb ON nb.t = type_b
        ORDER BY type_a, type_b
    """


def _q_geofence_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence ENTER/EXIT detection
    (operators/sessionize.py:zone_crossings) composed over the
    reverse-geocode zone assignment: per user (ts, event_id order),
    every event whose zone differs from the previous one.  Oracle =
    zone CTE + lag window."""
    from geo_spark.operators.sessionize import zone_crossings

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    zoned = ev.join(
        _rg_assign(spark, sf_dir).select("event_id", "zone"), "event_id"
    )
    return (
        zone_crossings(zoned, order_cols=("ts", "event_id"))
        .select("user_id", "event_id", "from_zone", "to_zone")
        .orderBy("user_id", "event_id")
    )


def _oracle_geofence_crossings() -> str:
    return f"""
        WITH {_rg_zone_cte()},
        ev AS (SELECT e.user_id, e.ts, e.event_id, z.zone
               FROM events e JOIN zones z USING (event_id)),
        lagd AS (SELECT user_id, event_id, zone,
                        lag(zone) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS pz
                 FROM ev)
        SELECT user_id, event_id, pz AS from_zone, zone AS to_zone
        FROM lagd WHERE pz IS NOT NULL AND pz <> zone
        ORDER BY user_id, event_id
    """


def _q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per level-1 quadkey tile (the WAU
    rollup): each (tile, user, day) activity row contributes to the 7
    trailing window ends, so the count is an exact distinct over a
    window-id explode — the standard sliding-distinct shape (distinct
    first, THEN the x7 explode, so the multiplier hits the deduped
    activity table, not the raw events)."""
    from geo_spark.functions.webgrid import quadkey_from_latlng
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    act = (
        ev.select(
            quadkey_from_latlng(F.col("lat"), F.col("lng"), 1).alias("qk"),
            "user_id",
            F.expr("ts_us div 86400000000").alias("day"),
        )
        .distinct()
    )
    windows = act.select(
        "qk",
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + 6)
        ).alias("wend"),
    ).distinct()
    return (
        windows.groupBy("qk", "wend")
        .agg(F.count(F.lit(1)).alias("wau"))
        .where((F.col("wend") >= 6) & (F.col("wend") <= 29))
        .orderBy("qk", "wend")
    )


def _oracle_rolling_active_users() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", 1)
    qk = quadkey_sql_text("tx", "ty", 1)
    return f"""
        WITH pts AS (SELECT event_id, user_id, {lat} AS lat, {lng} AS lng,
                            {ts} AS ts_us
                     FROM events),
        t AS (SELECT user_id, ts_us // 86400000000 AS day,
                     {x} AS tx, {y} AS ty
              FROM pts),
        act AS (SELECT DISTINCT {qk} AS qk, user_id, day FROM t),
        win AS (SELECT DISTINCT qk, user_id, day + o.o AS wend
                FROM act, (SELECT unnest(range(0, 7)) AS o) o)
        SELECT qk, CAST(wend AS BIGINT) AS wend,
               CAST(count(*) AS BIGINT) AS wau
        FROM win WHERE wend BETWEEN 6 AND 29
        GROUP BY qk, wend ORDER BY qk, wend
    """


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention-cohort table: users grouped by first-active
    week, counted (exact distinct) at each week offset they return.
    Two shuffles: per-user min (map-combined), then the cohort x offset
    distinct-count over the deduped (user, week) activity table."""
    from geo_spark.operators.geo_noise import with_time_noise

    ev = with_time_noise(_t(spark, sf_dir, "events"), "event_id")
    act = ev.select(
        "user_id", F.expr("ts_us div 604800000000").alias("week")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        act.join(first, "user_id")
        .select(
            "cohort",
            (F.col("week") - F.col("cohort")).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort", "week_offset")
    )


def _oracle_retention_cohorts() -> str:
    from geo_spark.operators.geo_noise import TS_US_SQL

    ts = TS_US_SQL.format(id="event_id")
    return f"""
        WITH act AS (SELECT DISTINCT user_id,
                            ({ts}) // 604800000000 AS week
                     FROM events),
        fw AS (SELECT user_id, min(week) AS cohort FROM act
               GROUP BY user_id)
        SELECT cohort, week - cohort AS week_offset,
               CAST(count(*) AS BIGINT) AS n_users
        FROM act JOIN fw USING (user_id)
        GROUP BY cohort, week_offset ORDER BY cohort, week_offset
    """


def _q_pca_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition certificate: PCA projections -> top-25 |proj| rank
    (the embedding outlier screen — vectors extreme along the dominant
    direction are mislabeled/degenerate candidates).  One oracle
    replays the whole integer chain plus the rank cut."""
    from pyspark.sql import Window

    from geo_spark.operators.pca import pca_projections

    emb = _t(spark, sf_dir, "embeddings")
    proj = pca_projections(emb, dim=64, iterations=2)
    w = Window.orderBy(F.abs("proj").desc(), "vec_id")
    return (
        proj.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 25)
        .orderBy("rk")
    )


def _oracle_pca_outliers() -> str:
    inner = _oracle_pca_projections()
    return f"""
        WITH base AS ({inner}),
        ranked AS (SELECT vec_id, proj,
                          row_number() OVER (ORDER BY ABS(proj) DESC,
                                             vec_id) AS rk
                   FROM base)
        SELECT vec_id, proj, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 25 ORDER BY rk
    """


def _q_funnel_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 per-user event-type trigrams (funnel mining): two lead
    windows over the per-user total order, counts, deterministic
    (count desc, lexicographic) top-k."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            F.col("event_type").alias("a"),
            F.lead("event_type", 1).over(w).alias("b"),
            F.lead("event_type", 2).over(w).alias("c"),
        )
        .where(F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tri.orderBy(F.col("n").desc(), "a", "b", "c").limit(10)


def _oracle_funnel_trigrams() -> str:
    return """
        WITH tri AS (SELECT event_type AS a,
                            lead(event_type, 1) OVER w AS b,
                            lead(event_type, 2) OVER w AS c
                     FROM events
                     WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts, event_id)),
        cnt AS (SELECT a, b, c, count(*) AS n FROM tri
                WHERE c IS NOT NULL GROUP BY a, b, c)
        SELECT a, b, c, CAST(n AS BIGINT) AS n
        FROM cnt ORDER BY n DESC, a, b, c LIMIT 10
    """


def _q_grid_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based stay-point extraction
    (operators/sessionize.py:stay_points): per-user maximal same-tile
    runs with dwell >= 6h.  Oracle replays tile digits + lag/run-sum
    windows + the rollup."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.sessionize import stay_points

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return stay_points(
        ev, zoom=2, min_duration_us=6 * 3_600_000_000
    ).orderBy("user_id", "stay_idx")


def _oracle_grid_stay_points() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", 2)
    qk = quadkey_sql_text("tx", "ty", 2)
    return f"""
        WITH pts AS (SELECT event_id, user_id, {lat} AS lat, {lng} AS lng,
                            {ts} AS ts_us
                     FROM events),
        t AS (SELECT user_id, event_id, ts_us, {x} AS tx, {y} AS ty
              FROM pts),
        q AS (SELECT user_id, event_id, ts_us, {qk} AS qk FROM t),
        lagd AS (SELECT *, lag(qk) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id) AS pqk
                 FROM q),
        brk AS (SELECT *, CASE WHEN pqk IS NULL OR pqk <> qk
                               THEN 1 ELSE 0 END AS b
                FROM lagd),
        runs AS (SELECT *, SUM(b) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id
                                        ROWS UNBOUNDED PRECEDING)
                           AS stay_idx
                 FROM brk),
        agg AS (SELECT user_id, CAST(stay_idx AS BIGINT) AS stay_idx,
                       min(qk) AS qk,
                       CAST(count(*) AS BIGINT) AS n_events,
                       CAST(min(ts_us) AS BIGINT) AS start_us,
                       CAST(max(ts_us) - min(ts_us) AS BIGINT) AS dur_us
                FROM runs GROUP BY user_id, stay_idx)
        SELECT * FROM agg WHERE dur_us >= {6 * 3_600_000_000}
        ORDER BY user_id, stay_idx
    """


def _q_tile_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-day spike detection (operators/tiling.py:tile_day_anomalies):
    trailing-3-day RANGE-frame baseline (gaps handled without grid
    densification) + the integer rule cnt*2 >= prev*3.  Oracle replays
    quadkey digits, the RANGE window, and the comparison."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.tiling import tile_day_anomalies

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return tile_day_anomalies(ev, zoom=2, window_days=3).orderBy(
        "qk", "day"
    )


def _oracle_tile_anomalies() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql, quadkey_sql_text
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", 2)
    qk = quadkey_sql_text("tx", "ty", 2)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng,
                            {ts} AS ts_us
                     FROM events),
        t AS (SELECT {x} AS tx, {y} AS ty, ts_us // 86400000000 AS day
              FROM pts),
        daily AS (SELECT {qk} AS qk, day, count(*) AS cnt
                  FROM t GROUP BY 1, 2),
        base AS (SELECT qk, day, CAST(cnt AS BIGINT) AS cnt,
                        CAST(coalesce(SUM(cnt) OVER (
                            PARTITION BY qk ORDER BY day
                            RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS prev
                 FROM daily)
        SELECT qk, day, cnt, prev,
               CAST(CASE WHEN prev > 0 AND cnt * 2 >= prev * 3
                         THEN 1 ELSE 0 END AS INT) AS is_spike
        FROM base ORDER BY qk, day
    """


def _q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    streams (operators/sessionize.py:transition_matrix) — counts and
    floor-ppm row-normalized probabilities; (ts, event_id) gives a
    total order so the lag pairing is deterministic."""
    from geo_spark.operators.sessionize import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev).orderBy("prev_state", "state")


def _oracle_markov_transitions() -> str:
    return """
        WITH pr AS (SELECT event_type AS state,
                           lag(event_type) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_state
                    FROM events),
        cnt AS (SELECT prev_state, state, count(*) AS n
                FROM pr WHERE prev_state IS NOT NULL
                GROUP BY prev_state, state)
        SELECT prev_state, state, CAST(n AS BIGINT) AS n,
               CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_state)
                    AS BIGINT) AS p_ppm
        FROM cnt ORDER BY prev_state, state
    """


def _q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-conditional BIGRAM NLL per document (Laplace-smoothed
    transitions — flags word-salad that unigram NLL can't); integer
    fixed-point per bigram type, so the DuckDB twin (positional lag
    window instead of Spark's in-row array transform) matches bit for
    bit."""
    from geo_spark.operators.text import bigram_nll

    return bigram_nll(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _oracle_bigram_nll() -> str:
    return """
        WITH arrs AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, ' +'),
                             x -> length(x) > 0) AS arr
          FROM documents),
        toks AS (SELECT doc_id, generate_subscripts(arr, 1) AS pos,
                        unnest(arr) AS w
                 FROM arrs),
        pairs AS (SELECT doc_id, w,
                         lag(w) OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS p
                  FROM toks),
        bg AS (SELECT p, w, count(*) AS c FROM pairs
               WHERE p IS NOT NULL GROUP BY p, w),
        pv AS (SELECT p, sum(c) AS cp FROM bg GROUP BY p),
        vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM toks),
        lp AS (SELECT bg.p, bg.w,
                      CAST(FLOOR(ln(CAST(bg.c + 1 AS DOUBLE)
                                    / (CAST(pv.cp AS DOUBLE) + vv.v))
                                 * 1e6) AS BIGINT) AS lp
               FROM bg JOIN pv USING (p), vv)
        SELECT pr.doc_id, COUNT(*) AS n_bigrams,
               CAST(-SUM(lp.lp) AS BIGINT) AS nll_x1e6
        FROM pairs pr JOIN lp ON lp.p = pr.p AND lp.w = pr.w
        GROUP BY pr.doc_id ORDER BY pr.doc_id
    """


def _q_kneser_ney_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram NLL per document
    (operators/text.py:kneser_ney_nll): absolute discount D = 3/4,
    continuation-count backoff — exact BIGINT numerator/denominator,
    one float ln fixed-pointed per bigram type.  The oracle rebuilds
    bigram, successor, predecessor and type counts from scratch and
    replays the same rational."""
    from geo_spark.operators.text import kneser_ney_nll

    return kneser_ney_nll(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _oracle_kneser_ney_nll() -> str:
    return """
        WITH arrs AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, ' +'),
                             x -> length(x) > 0) AS arr
          FROM documents),
        toks AS (SELECT doc_id, generate_subscripts(arr, 1) AS pos,
                        unnest(arr) AS w
                 FROM arrs),
        pairs AS (SELECT doc_id, w,
                         lag(w) OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS p
                  FROM toks),
        bg AS (SELECT p, w, count(*) AS c FROM pairs
               WHERE p IS NOT NULL GROUP BY p, w),
        pv AS (SELECT p, sum(c) AS cp, count(*) AS fwd FROM bg GROUP BY p),
        bwd AS (SELECT w, count(*) AS bwd FROM bg GROUP BY w),
        nbt AS (SELECT count(*) AS nb FROM bg),
        lp AS (SELECT bg.p, bg.w,
                      CAST(FLOOR(ln(
                          CAST(GREATEST(4*bg.c - 3, 0) * nbt.nb
                               + 3 * pv.fwd * bwd.bwd AS DOUBLE)
                          / CAST(4 * pv.cp * nbt.nb AS DOUBLE))
                          * 1e6) AS BIGINT) AS lp
               FROM bg JOIN pv USING (p) JOIN bwd USING (w), nbt)
        SELECT pr.doc_id, COUNT(*) AS n_bigrams,
               CAST(-SUM(lp.lp) AS BIGINT) AS nll_x1e6
        FROM pairs pr JOIN lp ON lp.p = pr.p AND lp.w = pr.w
        GROUP BY pr.doc_id ORDER BY pr.doc_id
    """


def _q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 corpus collocations by fixed-point PMI with a count
    floor (operators/text.py:pmi_collocations); full lexicographic
    order (pmi DESC, p, w) makes the limit cut exact, so the oracle
    replays counts -> margins -> PMI -> ORDER BY -> LIMIT."""
    from geo_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), k=15, min_count=5)


def _oracle_pmi_collocations() -> str:
    return """
        WITH arrs AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, ' +'),
                             x -> length(x) > 0) AS arr
          FROM documents),
        toks AS (SELECT doc_id, generate_subscripts(arr, 1) AS pos,
                        unnest(arr) AS w
                 FROM arrs),
        prs AS (SELECT doc_id, w,
                       lag(w) OVER (PARTITION BY doc_id
                                    ORDER BY pos) AS p
                FROM toks),
        bg AS (SELECT p, w, count(*) AS c FROM prs
               WHERE p IS NOT NULL GROUP BY p, w),
        tot AS (SELECT SUM(c) AS t FROM bg),
        l AS (SELECT p, SUM(c) AS cl FROM bg GROUP BY p),
        r AS (SELECT w, SUM(c) AS cr FROM bg GROUP BY w),
        s AS (SELECT bg.p, bg.w, bg.c,
                     CAST(FLOOR(ln(CAST(bg.c * tot.t AS DOUBLE)
                                   / CAST(l.cl * r.cr AS DOUBLE))
                                * 1e6) AS BIGINT) AS pmi_x1e6
              FROM bg JOIN l USING (p) JOIN r USING (w), tot
              WHERE bg.c >= 5)
        SELECT p, w, CAST(c AS BIGINT) AS c, pmi_x1e6
        FROM s ORDER BY pmi_x1e6 DESC, p, w LIMIT 15
    """


def _q_doc_geo_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locality classification certificate: toponym resolution feeds
    per-document geographic dispersion (operators/geocode.py:
    toponym_spread) — exact BIGINT sum of squared deviations from the
    floor-division mean, one aggregation pass, no mean rejoin.  The
    oracle nests the full geocoder replay and expands the same
    sum-of-squares identity."""
    from geo_spark.operators.geocode import toponym_resolve, toponym_spread

    docs = _t(spark, sf_dir, "documents")
    res = toponym_resolve(docs, _topo_gazetteer(spark))
    return toponym_spread(res).orderBy("doc_id")


def _oracle_doc_geo_spread() -> str:
    return f"""
        WITH topo AS MATERIALIZED ({_oracle_toponym_resolve()}),
        agg AS (SELECT doc_id, COUNT(*) AS n_places,
                       SUM(lat_u) AS sa, SUM(lat_u*lat_u) AS sa2,
                       SUM(lng_u) AS so, SUM(lng_u*lng_u) AS so2
                FROM topo GROUP BY doc_id),
        m AS (SELECT doc_id, n_places, sa, sa2, so, so2,
                     sa // n_places AS ma, so // n_places AS mo
              FROM agg WHERE n_places >= 2)
        SELECT doc_id, CAST(n_places AS BIGINT) AS n_places,
               CAST(sa2 - 2*ma*sa + n_places*ma*ma
                    + so2 - 2*mo*so + n_places*mo*mo AS BIGINT) AS sse
        FROM m ORDER BY doc_id
    """


def _q_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assembly certificate: Kneser-Ney LM scores order
    each language's documents easy -> hard, ntile(4) cuts the
    curriculum stages, and the rollup reports per (lang, stage) doc
    counts and exact per-bigram score ranges.  Chains kneser_ney_nll
    -> integer per-token score (div on non-negative) -> per-stratum
    ntile — the per-language sort is the curriculum CONTRACT (strata
    are language-bounded, not corpus-bounded).  ONE oracle nests the
    full KN replay MATERIALIZED and re-runs scoring, ntile and the
    rollup."""
    from pyspark.sql import Window

    from geo_spark.operators.text import kneser_ney_nll

    docs = _t(spark, sf_dir, "documents")
    kn = kneser_ney_nll(docs)
    scored = (
        docs.select("doc_id", "lang")
        .join(kn, "doc_id")
        .withColumn("per_tok", F.expr("nll_x1e6 div n_bigrams"))
    )
    win = Window.partitionBy("lang").orderBy("per_tok", "doc_id")
    return (
        scored.withColumn("stage", F.ntile(4).over(win))
        .groupBy("lang", "stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("per_tok").alias("min_score"),
            F.max("per_tok").alias("max_score"),
        )
        .select(
            "lang",
            F.col("stage").cast("long").alias("stage"),
            "n_docs",
            "min_score",
            "max_score",
        )
        .orderBy("lang", "stage")
    )


def _oracle_curriculum_buckets() -> str:
    return f"""
        WITH kn AS MATERIALIZED ({_oracle_kneser_ney_nll()}),
        scored AS (SELECT d.lang, kn.doc_id,
                          kn.nll_x1e6 // kn.n_bigrams AS per_tok
                   FROM kn JOIN documents d USING (doc_id)),
        st AS (SELECT lang, per_tok,
                      ntile(4) OVER (PARTITION BY lang
                                     ORDER BY per_tok, doc_id) AS stage
               FROM scored)
        SELECT lang, CAST(stage AS BIGINT) AS stage,
               COUNT(*) AS n_docs,
               MIN(per_tok) AS min_score, MAX(per_tok) AS max_score
        FROM st GROUP BY lang, stage ORDER BY lang, stage
    """


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language concat-and-chunk packing into 2048-token bins:
    each document's token span and bin range in the shard stream."""
    from geo_spark.operators.sampling import pack_sequences
    from geo_spark.operators.text import with_quality

    docs = with_quality(_t(spark, sf_dir, "documents"))
    return pack_sequences(docs, 2048, "lang").select(
        "doc_id", "lang", "start_tok", "end_tok", "start_bin", "end_bin"
    ).orderBy("doc_id")


def _oracle_pack_sequences() -> str:
    return """
        WITH toks AS (
          SELECT doc_id, lang,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE length(text) - length(replace(text, ' ', '')) + 1
                 END AS n_tokens
          FROM documents),
        cums AS (
          SELECT doc_id, lang, n_tokens,
                 SUM(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM toks)
        SELECT doc_id, lang,
               CAST(cum - n_tokens AS BIGINT) AS start_tok,
               CAST(cum AS BIGINT) AS end_tok,
               CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS start_bin,
               CAST(FLOOR((cum - 1) / 2048.0) AS BIGINT) AS end_bin
        FROM cums WHERE n_tokens > 0
        ORDER BY doc_id
    """


def _q_geo_stratified_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-stratified dedup — the engine's two halves composed end to
    end and certified by ONE DuckDB oracle (round-3 contract): documents
    get deterministic coordinates, a covering-term PIP join assigns each
    to a convex region (_PIP_LOOPS), the exact n-gram Jaccard pair graph
    is scoped to co-located pairs, near-dup clusters resolve by
    distributed large-star/small-star rounds (composite
    region*B+doc node ids keep components region-local in ONE global
    resolution pass), and each region keeps a 5-doc quota of cluster
    representatives by deterministic md5 order.

    Scale shape: PIP join is the covering equi-join (no cartesian),
    cluster resolution is O(log diameter) shuffle rounds, sampling is
    one partial-group-limit window — every stage is the 100 TB plan."""
    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.kernel.regions import LoopRegion
    from geo_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.sampling import stratified_sample
    from geo_spark.operators.spatial_join import build_layer, spatial_join

    B = 1_000_000  # doc ids are far below this at every test SF

    docs = _t(spark, sf_dir, "documents")
    geo = with_geo_noise(docs.select("doc_id"), "doc_id").withColumn(
        "cell_id", s2_cellid(F.col("lat"), F.col("lng"))
    )
    layer = build_layer(
        spark,
        [
            (g, LoopRegion.from_vertices(latlng_text_to_xyz(t)))
            for g, t in _PIP_LOOPS
        ],
        max_cells=12,
    )
    regions = spatial_join(
        geo, layer, point_key="doc_id", latlng=("lat", "lng")
    ).select("doc_id", "geom_id")

    pairs = ngram_jaccard_pairs(docs, n=8, threshold=0.3).select("da", "db")
    rpairs = (
        pairs.join(
            regions.select(F.col("doc_id").alias("da"), "geom_id"), "da"
        )
        .join(
            regions.select(
                F.col("doc_id").alias("db"), F.col("geom_id").alias("gb")
            ),
            "db",
        )
        .where(F.col("geom_id") == F.col("gb"))
        .select(
            (F.col("geom_id") * B + F.col("da")).alias("da"),
            (F.col("geom_id") * B + F.col("db")).alias("db"),
        )
    )
    nodes = regions.select(
        (F.col("geom_id") * B + F.col("doc_id")).alias("doc_id")
    )
    comp = dedup_clusters(rpairs, docs=nodes)  # (doc_id=node, rep)
    reps = (
        comp.select("rep")
        .distinct()
        .withColumn("geom_id", (F.col("rep") / B).cast("long"))
        .withColumn("doc_id", F.col("rep") % B)
        .select("geom_id", "doc_id")
    )
    return (
        stratified_sample(reps, "geom_id", 5)
        .select("geom_id", "doc_id")
        .orderBy("geom_id", "doc_id")
    )


def _oracle_geo_stratified_dedup() -> str:
    """The whole composition replayed as one DuckDB query: noise
    coordinates -> convex sign-test PIP -> region-scoped exact-Jaccard
    pairs -> recursive-CTE components over the same composite ids ->
    per-region md5 quota."""
    import numpy as np

    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="doc_id")
    lng = LNG_SQL.format(id="doc_id")
    rows = []
    for g, t in _PIP_LOOPS:
        v = latlng_text_to_xyz(t)
        for k in range(len(v)):
            n = np.cross(v[k], v[(k + 1) % len(v)])
            rows.append(
                f"({g}, {float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
            )
    norms = ", ".join(rows)
    return f"""
        WITH RECURSIVE
        pts AS (SELECT doc_id, {lat} AS lat, {lng} AS lng FROM documents),
        xyz AS (SELECT doc_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        norms(geom_id, nx, ny, nz) AS (VALUES {norms}),
        regions AS (SELECT geom_id, doc_id
                    FROM xyz, norms
                    GROUP BY geom_id, doc_id
                    HAVING MIN(nx*x + ny*y + nz*z) > 0),
        sh AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        jp AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT da, db FROM jp
          JOIN sizes sa ON sa.doc_id = da
          JOIN sizes sb ON sb.doc_id = db
          WHERE CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) >= 0.3
        ),
        rp AS (
          SELECT ra.geom_id, p.da, p.db
          FROM pairs p
          JOIN regions ra ON ra.doc_id = p.da
          JOIN regions rb ON rb.doc_id = p.db AND rb.geom_id = ra.geom_id
        ),
        e AS (SELECT geom_id*1000000 + da AS u, geom_id*1000000 + db AS v
              FROM rp
              UNION
              SELECT geom_id*1000000 + db, geom_id*1000000 + da FROM rp),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
        ),
        comp AS (
          SELECT u AS id, least(u, MIN(v)) AS rep FROM reach GROUP BY u
        ),
        nodes AS (SELECT geom_id, doc_id,
                         geom_id*1000000 + doc_id AS id
                  FROM regions),
        withrep AS (
          SELECT n.geom_id, COALESCE(c.rep, n.id) AS rep
          FROM nodes n LEFT JOIN comp c ON c.id = n.id),
        reps AS (SELECT DISTINCT geom_id, rep % 1000000 AS doc_id
                 FROM withrep),
        sample AS (
          SELECT geom_id, doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY geom_id
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rn
          FROM reps)
        SELECT geom_id, doc_id FROM sample WHERE rn <= 5
        ORDER BY geom_id, doc_id
    """


def _q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pipeline composed end to end, oracle-
    checked as one query: near-dup cluster survivors (connected
    components over the exact-Jaccard pair graph, keep the min doc per
    cluster) -> quality floor (>= 30 whitespace tokens) -> per-language
    quota sample (25 by md5 order) -> 1024-token concat-and-chunk
    packing.  Every stage is an already-oracled operator; this query
    certifies their *composition* (the ordering/threshold interactions
    between stages).  Scale note: the pair stage here is the exact
    n-gram join (the oracle-expressible ground-truth tier); the 100 TB
    deployment swaps in minhash_lsh_pairs for candidate generation —
    same downstream stages, same (da, db) contract."""
    from geo_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from geo_spark.operators.sampling import pack_sequences, stratified_sample
    from geo_spark.operators.text import with_quality

    docs = _t(spark, sf_dir, "documents")
    reps = dedup_clusters(ngram_jaccard_pairs(docs, n=8, threshold=0.3), docs=docs)
    survivors = docs.join(
        reps.where(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id"
    )
    good = with_quality(survivors).where(F.col("n_tokens") >= 30)
    sample = stratified_sample(good, "lang", 25)
    return (
        pack_sequences(sample, 1024, "lang")
        .select("doc_id", "lang", "n_tokens", "start_tok", "end_tok", "start_bin", "end_bin")
        .orderBy("doc_id")
    )


def _oracle_corpus_pipeline() -> str:
    return """
        WITH RECURSIVE sh AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        jp AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT da, db FROM jp
          JOIN sizes sa ON sa.doc_id = da
          JOIN sizes sb ON sb.doc_id = db
          WHERE CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) >= 0.3),
        e AS (SELECT da AS u, db AS v FROM pairs
              UNION SELECT db, da FROM pairs),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
        comp AS (SELECT u AS id, least(u, MIN(v)) AS rep FROM reach GROUP BY u),
        surv AS (
          SELECT d.* FROM documents d
          LEFT JOIN comp c ON c.id = d.doc_id
          WHERE COALESCE(c.rep, d.doc_id) = d.doc_id),
        toks AS (
          SELECT doc_id, lang,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE length(text) - length(replace(text, ' ', '')) + 1
                 END AS n_tokens
          FROM surv),
        good AS (SELECT * FROM toks WHERE n_tokens >= 30),
        samp AS (
          SELECT doc_id, lang, n_tokens
          FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM good)
          WHERE rn <= 25),
        packed AS (
          SELECT doc_id, lang, n_tokens,
                 SUM(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM samp)
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(cum - n_tokens AS BIGINT) AS start_tok,
               CAST(cum AS BIGINT) AS end_tok,
               CAST(FLOOR((cum - n_tokens) / 1024.0) AS BIGINT) AS start_bin,
               CAST(FLOOR((cum - 1) / 1024.0) AS BIGINT) AS end_bin
        FROM packed WHERE n_tokens > 0
        ORDER BY doc_id
    """


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal over the documents
    table.  The synthetic docs carry no newlines, so multi-line bodies
    are derived deterministically first (every literal ' a ' token
    becomes a line break — same left-to-right literal replace in Spark
    and DuckDB); then every line occurring more than once corpus-wide
    is dropped and documents are rebuilt from the survivors in order.
    Exercises operators/dedup.line_dedup end to end: md5-prefix line
    counts (map-side combined), skew-safe count attach via equi-join,
    per-doc ordered rebuild."""
    from geo_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(r"replace(text, ' a ', '\n')").alias("text")
    )
    return line_dedup(docs, key="doc_id", text_col="text").orderBy("doc_id")


def _oracle_line_dedup() -> str:
    return r"""
        WITH base AS (
          SELECT doc_id, replace(text, ' a ', chr(10)) AS t FROM documents),
        lines AS (
          SELECT doc_id,
                 unnest(string_split(t, chr(10))) AS line,
                 unnest(generate_series(1, len(string_split(t, chr(10))))) AS pos
          FROM base),
        counts AS (
          SELECT substr(md5(line), 1, 16) AS h, COUNT(*) AS n
          FROM lines GROUP BY 1),
        kept AS (
          SELECT l.doc_id, l.pos, l.line
          FROM lines l JOIN counts c ON substr(md5(l.line), 1, 16) = c.h
          WHERE c.n <= 1),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(line, chr(10) ORDER BY pos) AS text_clean
          FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(t.n_lines, 0) AS BIGINT) AS n_lines,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(a.text_clean, '') AS text_clean
        FROM documents d
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """


def _q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1) over the
    documents table: duplicate-line excess fraction, top-2-gram
    character claim, duplicated-5-gram positional coverage — exact
    integer fixed-point, one token-table shuffle per signal family.
    Lines derived with the q_line_dedup trick (' a ' -> newline)."""
    from geo_spark.operators.text import repetition_signals

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(r"replace(text, ' a ', '\n')").alias("text")
    )
    return repetition_signals(docs, key="doc_id").orderBy("doc_id")


def _oracle_repetition_signals() -> str:
    return r"""
        WITH base AS (
          SELECT doc_id, replace(text, ' a ', chr(10)) AS t FROM documents),
        l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS ln FROM base),
        lc AS (SELECT doc_id, ln, COUNT(*) AS c FROM l GROUP BY 1, 2),
        ls AS (SELECT doc_id,
                      CAST(SUM(c) AS BIGINT) AS n_lines,
                      CAST(SUM(c * len(ln)) AS BIGINT) AS tot,
                      CAST(SUM(CASE WHEN c >= 2 THEN (c - 1) * len(ln)
                               ELSE 0 END) AS BIGINT) AS dup
               FROM lc GROUP BY 1),
        tk AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
                      string_split_regex(t, '[ ' || chr(10) || ']') AS toks
               FROM base),
        g2 AS (SELECT doc_id, n_chars, array_to_string(toks[i:i+1], ' ') AS g
               FROM (SELECT doc_id, n_chars, toks,
                            unnest(generate_series(1, greatest(len(toks) - 1, 0)))
                                AS i
                     FROM tk)),
        g2c AS (SELECT doc_id, n_chars, g, COUNT(*) AS c
                FROM g2 GROUP BY 1, 2, 3),
        top2 AS (SELECT doc_id,
                        CAST((c * len(g) * 1000000) // n_chars AS BIGINT)
                            AS topf,
                        row_number() OVER (PARTITION BY doc_id
                                           ORDER BY c DESC, g) AS rn
                 FROM g2c),
        g5 AS (SELECT doc_id, i - 1 AS p, array_to_string(toks[i:i+4], ' ') AS g
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, greatest(len(toks) - 4, 0)))
                                AS i
                     FROM tk)),
        g5d AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        cov AS (SELECT DISTINCT doc_id, ti
                FROM (SELECT a.doc_id,
                             unnest(generate_series(a.p, a.p + 4)) AS ti
                      FROM g5 a JOIN g5d d USING (doc_id, g))),
        covc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cv
                 FROM cov GROUP BY 1)
        SELECT tk.doc_id,
               ls.n_lines,
               CAST(len(tk.toks) AS BIGINT) AS n_tokens,
               CAST(CASE WHEN ls.tot > 0 THEN (ls.dup * 1000000) // ls.tot
                    ELSE 0 END AS BIGINT) AS dup_line_frac_x1e6,
               CAST(COALESCE(t2.topf, 0) AS BIGINT) AS top_2gram_frac_x1e6,
               CAST(COALESCE((covc.cv * 1000000) // len(tk.toks), 0) AS BIGINT)
                   AS dup_5gram_token_frac_x1e6
        FROM tk
        JOIN ls USING (doc_id)
        LEFT JOIN (SELECT doc_id, topf FROM top2 WHERE rn = 1) t2 USING (doc_id)
        LEFT JOIN covc USING (doc_id)
        ORDER BY doc_id
    """


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, overlap 8) — the
    standard pretraining prep step; DuckDB twin replays the k-range
    arithmetic and the ordered window rebuild."""
    from geo_spark.operators.sampling import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    ).orderBy("doc_id", "chunk_id")


def _oracle_chunk_documents() -> str:
    chunk, overlap = 32, 8
    stride = chunk - overlap
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(generate_series(1, len(string_split(text, ' ')))) - 1
                     AS pos,
                 unnest(string_split(text, ' ')) AS tok
          FROM documents),
        spread AS (
          SELECT doc_id, pos, tok,
                 unnest(generate_series(
                   CASE WHEN pos < {chunk} THEN 0
                        ELSE (pos - {chunk}) // {stride} + 1 END,
                   pos // {stride})) AS chunk_id
          FROM toks)
        SELECT doc_id, chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        FROM spread
        GROUP BY doc_id, chunk_id
        ORDER BY doc_id, chunk_id
    """


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (score = tf * ln(N/df),
    ties to the lexicographically smaller term).  Both factors are
    exact integers, so the oracle recomputes bit-identical scores."""
    from geo_spark.operators.text import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=3).orderBy(
        "doc_id", "rank"
    )


def _oracle_tfidf_topk() -> str:
    return """
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents),
        t AS (SELECT doc_id, term, COUNT(*) AS tf
              FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
        d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY 1),
        n AS (SELECT COUNT(*) AS n FROM documents),
        s AS (SELECT t.doc_id, t.term, t.tf, d.df,
                     t.tf * ln(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE))
                         AS score
              FROM t JOIN d USING (term) CROSS JOIN n),
        r AS (SELECT doc_id, term, tf, df,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term) AS rnk
              FROM s)
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df, CAST(rnk AS INT) AS rank
        FROM r WHERE rnk <= 3 ORDER BY doc_id, rank
    """


_AUDIO_N = 64
_AUDIO_MOD = 16


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal family's oracle certificate — by INVERSION (the
    q_html_text pattern): every 16th event synthesizes a REAL RIFF/
    WAVE container from a known sample formula
    s_k = (event_id*31 + k*7) % 201 - 100, the engine walks the
    actual container bytes back through decode_wav, and integer
    features (energy, peak, zero crossings) come off the DECODED
    samples.  The oracle computes the same features straight from the
    formula — it never sees a byte — so a green row proves
    decode(encode(x)) == x through the real parser AND the feature
    math, relationally.  (The codec fuzz/round-trip pytest suite
    remains the byte-level gate; this puts the plumbing under the
    driver's oracle check too.)"""
    import pandas as pd

    from geo_spark.operators.multimodal import (
        audio_integer_features,
        encode_wav,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _AUDIO_MOD == 0)
        .select("event_id")
    )

    def synth(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            k = np.arange(_AUDIO_N, dtype=np.int64)
            for i in pdf["event_id"].to_numpy():
                v = ((int(i) * 31 + k * 7) % 201 - 100).astype(np.int16)
                rows.append((int(i), bytearray(encode_wav(v, 8000))))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = ev.mapInPandas(synth, "media_id long, payload binary")
    return audio_integer_features(media).orderBy("media_id")


def _oracle_audio_features() -> str:
    return f"""
        WITH ev AS (SELECT event_id FROM events
                    WHERE event_id % {_AUDIO_MOD} = 0),
        ks AS (SELECT unnest(range({_AUDIO_N})) AS k),
        s AS (SELECT event_id, k,
                     ((event_id * 31 + k * 7) % 201) - 100 AS v
              FROM ev, ks),
        z AS (SELECT event_id, v,
                     lead(v) OVER (PARTITION BY event_id ORDER BY k)
                       AS nv
              FROM s)
        SELECT event_id AS media_id,
               COUNT(*) AS n_samples,
               CAST(SUM(v * v) AS BIGINT) AS sum_sq,
               CAST(MAX(abs(v)) AS BIGINT) AS max_abs,
               CAST(SUM(CASE WHEN nv IS NOT NULL AND v * nv < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        FROM z GROUP BY event_id ORDER BY media_id
    """


def _q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda rank fusion (sampling.rank_fusion): two incommensurable
    per-document signals — content length (higher better) and
    whitespace share x10000 of the text (lower better, a crude
    repetition/formatting proxy) — fused by integer dense-rank sums
    instead of float z-scores.  The oracle recomputes both dense
    ranks and the sum with window functions over the same derived
    signals."""
    from geo_spark.operators.sampling import rank_fusion

    docs = _t(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("len_sig"),
        F.expr(
            "CAST((length(text) - length(replace(text, ' ', '')))"
            " * 10000L div greatest(length(text), 1) AS BIGINT)"
        ).alias("space_sig"),
    )
    return rank_fusion(
        sig, {"len_sig": True, "space_sig": False}
    ).orderBy("doc_id")


def _oracle_rank_fusion() -> str:
    return """
        WITH sig AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS len_sig,
                 CAST((length(text) - length(replace(text, ' ', '')))
                      * 10000 // greatest(length(text), 1) AS BIGINT)
                   AS space_sig
          FROM documents),
        r AS (
          SELECT doc_id,
                 CAST(dense_rank() OVER (ORDER BY len_sig DESC) AS BIGINT)
                   AS rank_len_sig,
                 CAST(dense_rank() OVER (ORDER BY space_sig ASC) AS BIGINT)
                   AS rank_space_sig
          FROM sig)
        SELECT doc_id, rank_len_sig + rank_space_sig AS fused,
               rank_len_sig, rank_space_sig
        FROM r ORDER BY doc_id
    """


def _q_stratum_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum Borda fusion (sampling.stratified_rank_fusion): the
    q_rank_fusion signals ranked WITHIN each document source — the
    mixture-pipeline shape (a doc competes against its own stratum;
    strata rank in parallel, no global sort).  Oracle: the same two
    dense ranks with PARTITION BY source."""
    from geo_spark.operators.sampling import stratified_rank_fusion

    docs = _t(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id",
        F.col("source"),
        F.col("n_chars").cast("long").alias("len_sig"),
        F.expr(
            "CAST((length(text) - length(replace(text, ' ', '')))"
            " * 10000L div greatest(length(text), 1) AS BIGINT)"
        ).alias("space_sig"),
    )
    return stratified_rank_fusion(
        sig, {"len_sig": True, "space_sig": False}, stratum_col="source"
    ).orderBy("doc_id")


def _oracle_stratum_rank_fusion() -> str:
    return """
        WITH sig AS (
          SELECT doc_id, source, CAST(n_chars AS BIGINT) AS len_sig,
                 CAST((length(text) - length(replace(text, ' ', '')))
                      * 10000 // greatest(length(text), 1) AS BIGINT)
                   AS space_sig
          FROM documents),
        r AS (
          SELECT doc_id, source,
                 CAST(dense_rank() OVER (PARTITION BY source
                                         ORDER BY len_sig DESC) AS BIGINT)
                   AS rank_len_sig,
                 CAST(dense_rank() OVER (PARTITION BY source
                                         ORDER BY space_sig ASC) AS BIGINT)
                   AS rank_space_sig
          FROM sig)
        SELECT doc_id, source, rank_len_sig + rank_space_sig AS fused,
               rank_len_sig, rank_space_sig
        FROM r ORDER BY doc_id
    """


def _q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (operators/cdc.py:cdc_apply): the documents snapshot
    plus a synthesized change stream — upserts at ts = id%7+1 for
    id%4==0, deletes at ts = id%5+1 for id%9==0 (ids divisible by 36
    carry BOTH, sometimes at EQUAL ts — the D-beats-U tie rule is
    exercised, not just stated), and brand-new keys (id+100000 for
    id%11==0).  One struct-max aggregate, no window.  The oracle
    replays the same stream with a row_number ordered (ts DESC,
    del DESC)."""
    from geo_spark.operators.cdc import cdc_apply

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    u = docs.where(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        "source",
        (F.col("n_chars") + 1000).alias("n_chars"),
        (F.col("doc_id") % 7 + 1).alias("ts"),
        F.lit("U").alias("op"),
    )
    d = docs.where(F.col("doc_id") % 9 == 0).select(
        "doc_id",
        "source",
        F.lit(0).cast("long").alias("n_chars"),
        (F.col("doc_id") % 5 + 1).alias("ts"),
        F.lit("D").alias("op"),
    )
    ins = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "source",
        (F.col("n_chars") + 5).alias("n_chars"),
        F.lit(9).alias("ts"),
        F.lit("U").alias("op"),
    )
    changes = u.unionByName(d).unionByName(ins)
    return cdc_apply(
        docs, changes, "doc_id", ["source", "n_chars"]
    ).orderBy("doc_id")


def _oracle_cdc_apply() -> str:
    return """
        WITH b AS (
          SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                 CAST(0 AS BIGINT) AS ts, 0 AS del
          FROM documents),
        u AS (
          SELECT doc_id, source, CAST(n_chars + 1000 AS BIGINT),
                 CAST(doc_id % 7 + 1 AS BIGINT), 0
          FROM documents WHERE doc_id % 4 = 0),
        d AS (
          SELECT doc_id, source, CAST(0 AS BIGINT),
                 CAST(doc_id % 5 + 1 AS BIGINT), 1
          FROM documents WHERE doc_id % 9 = 0),
        ins AS (
          SELECT doc_id + 100000, source, CAST(n_chars + 5 AS BIGINT),
                 CAST(9 AS BIGINT), 0
          FROM documents WHERE doc_id % 11 = 0),
        allr AS (
          SELECT * FROM b UNION ALL SELECT * FROM u
          UNION ALL SELECT * FROM d UNION ALL SELECT * FROM ins),
        r AS (
          SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY ts DESC, del DESC, source DESC,
                            n_chars DESC) AS rn
          FROM allr)
        SELECT doc_id, source, n_chars, ts AS version_ts
        FROM r WHERE rn = 1 AND del = 0
        ORDER BY doc_id
    """


def _q_cluster_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection — dedup clusters COMPOSED
    with the keep-policy that concludes web-scale dedup: per near-dup
    cluster (q_dedup_clusters' certified components), keep the
    LONGEST document, ties to the smallest id (the FineWeb/CCNet
    keep-best rule, replacing dedup_clusters' min-id placeholder
    rep).  Output: multi-doc clusters with size, kept doc, kept
    length, and total removed chars (the dedup savings ledger).  One
    max-struct argmax per cluster on top of the certified components;
    the oracle nests the full recursive-CTE component twin and
    replays the policy as a window."""
    from geo_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=8, threshold=0.3)
    clusters = dedup_clusters(pairs, docs=docs)
    j = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    agg = j.groupBy("rep").agg(
        F.count(F.lit(1)).alias("size"),
        F.max(
            F.struct(
                F.col("n_chars").alias("c"), (-F.col("doc_id")).alias("ni")
            )
        ).alias("_b"),
        F.sum("n_chars").alias("_tot"),
    )
    return (
        agg.where(F.col("size") >= 2)
        .select(
            F.col("rep").alias("cluster"),
            "size",
            (-F.col("_b.ni")).alias("keep_id"),
            F.col("_b.c").alias("keep_chars"),
            (F.col("_tot") - F.col("_b.c")).alias("removed_chars"),
        )
        .orderBy("cluster")
    )


def _oracle_cluster_canon() -> str:
    inner = _oracle_dedup_clusters()
    return f"""
        WITH comp2 AS MATERIALIZED ({inner}),
        j AS (
          SELECT c.rep, d.doc_id, d.n_chars
          FROM comp2 c JOIN documents d USING (doc_id)),
        r AS (
          SELECT rep, doc_id, n_chars,
                 row_number() OVER (PARTITION BY rep
                                    ORDER BY n_chars DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY rep) AS size,
                 SUM(n_chars) OVER (PARTITION BY rep) AS tot
          FROM j)
        SELECT rep AS cluster, CAST(size AS BIGINT) AS size,
               doc_id AS keep_id, n_chars AS keep_chars,
               CAST(tot - n_chars AS BIGINT) AS removed_chars
        FROM r WHERE rn = 1 AND size >= 2
        ORDER BY cluster
    """


_NOVEL_N = 16


def _q_crawl_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl novelty certificate — snapshot diff COMPOSED
    with content-level dedup: the docs the q_snapshot_diff fixture
    classifies 'added' (doc_id % 7 == 0, % 5 != 0) are checked for
    any shared 16-char shingle against the OLD snapshot's corpus; per
    source, how many added docs are genuinely NOVEL text vs re-hosted
    old content ("how much of the new crawl is actually new" — the
    recrawl-budget metric).  Corpus-vs-corpus ANY-hit is a
    distinct-shingle equi-join (both sides shuffled on the shingle —
    the dup_spans regime, NOT the broadcast decontaminate tier, and
    the docstring distinction matters at 100 TB).  One oracle chains
    diff classes -> shingle join -> anti-join -> source rollup."""
    from geo_spark.operators.dedup import shingle_expr

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0)
    added = docs.where(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
    )
    sh = shingle_expr("text", _NOVEL_N)
    old_sh = (
        old.select(F.explode(sh).alias("s"))
        .where(F.length("s") == _NOVEL_N)
        .distinct()
    )
    add_sh = (
        added.select("doc_id", F.explode(sh).alias("s"))
        .where(F.length("s") == _NOVEL_N)
        .distinct()
    )
    dup_ids = add_sh.join(old_sh, "s").select("doc_id").distinct()
    novel = added.join(dup_ids, "doc_id", "left_anti")
    return (
        added.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_added"))
        .join(
            novel.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_novel"),
                F.min("doc_id").alias("first_novel"),
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "n_added",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            "first_novel",
        )
        .orderBy("source")
    )


def _oracle_crawl_novelty() -> str:
    n = _NOVEL_N
    sh = (
        f"UNNEST(list_transform(range(1, greatest(length(text)-{n - 1},"
        f" 1)+1), i -> substr(text, i, {n}))) AS t(s)"
    )
    return f"""
        WITH added AS (
          SELECT doc_id, source, text FROM documents
          WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0),
        old_sh AS MATERIALIZED (
          SELECT DISTINCT s FROM documents, {sh}
          WHERE doc_id % 7 <> 0 AND length(s) = {n}),
        add_sh AS (
          SELECT DISTINCT doc_id, s FROM added, {sh}
          WHERE length(s) = {n}),
        dup_ids AS (
          SELECT DISTINCT doc_id FROM add_sh JOIN old_sh USING (s)),
        novel AS (
          SELECT a.* FROM added a
          WHERE a.doc_id NOT IN (SELECT doc_id FROM dup_ids))
        SELECT a.source, COUNT(*) AS n_added,
               COALESCE(nv.n_novel, 0) AS n_novel, nv.first_novel
        FROM added a
        LEFT JOIN (
          SELECT source, COUNT(*) AS n_novel, MIN(doc_id) AS first_novel
          FROM novel GROUP BY source) nv USING (source)
        GROUP BY a.source, nv.n_novel, nv.first_novel
        ORDER BY source
    """


_DHASH_SEEDS = 128


def _q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup by difference hash — and a cross-codec
    agreement certificate: every 32nd event renders the 8x8 raster of
    seed = (event_id div 32) % 128 (so ~2-3 events share each raster
    at sf0.01, across DIFFERENT containers)
    into a ROTATING container (BMP / 5 PNG filters / GIF), the engine
    decodes the actual bytes, computes the 56-bit horizontal dHash
    (bit = right neighbor brighter, packed row-major), and groups by
    hash: identical rasters MUST collapse into one group even though
    their bytes-on-disk are three different formats — the decoders
    agree pixel-exactly or the group splits.  The oracle replays the
    dHash from the pixel formula (lead() comparison + bit pack) and
    never decodes anything.  Output: dup groups (hash, n_images,
    min_id), n >= 2."""
    import pandas as pd

    from geo_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_gif,
        encode_png,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _IMG_MOD == 0)
        .select("event_id")
    )

    def run(batches):
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(_IMG_H, dtype=np.int64),
            np.arange(_IMG_W, dtype=np.int64),
            np.arange(3, dtype=np.int64),
            indexing="ij",
        )
        for pdf in batches:
            rows = []
            for i in pdf["event_id"].to_numpy():
                seed = (int(i) // _IMG_MOD) % _DHASH_SEEDS
                img = ((seed * 7 + y * 13 + x * 5 + c * 3) % 256).astype(
                    np.uint8
                )
                rot = (int(i) // _IMG_MOD) % 7
                if rot == 0:
                    payload = encode_bmp(img)
                elif rot == 6:
                    payload = encode_gif(img)
                else:
                    payload = encode_png(img, filter_type=rot - 1)
                g = decode_image(payload, _IMG_W, _IMG_H).astype(np.int64)
                bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
                pos = np.arange(
                    (_IMG_W - 1) * _IMG_H, dtype=np.int64
                ).reshape(_IMG_H, _IMG_W - 1)
                h = int((bits << pos).sum())
                rows.append((int(i), h))
            yield pd.DataFrame(rows, columns=["event_id", "dhash"])

    hashed = ev.mapInPandas(run, "event_id long, dhash long")
    return (
        hashed.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("event_id").alias("min_id"),
        )
        .where(F.col("n_images") >= 2)
        .orderBy("dhash")
    )


def _oracle_image_dhash() -> str:
    return f"""
        WITH ev AS (SELECT event_id,
                           (event_id // {_IMG_MOD}) % {_DHASH_SEEDS} AS seed
                    FROM events WHERE event_id % {_IMG_MOD} = 0),
        ys AS (SELECT unnest(range({_IMG_H})) AS y),
        xs AS (SELECT unnest(range({_IMG_W})) AS x),
        cs AS (SELECT unnest(range(3)) AS c),
        p AS (SELECT event_id, seed, y, x,
                     (seed * 7 + y * 13 + x * 5 + c * 3) % 256 AS vc
              FROM ev, ys, xs, cs),
        g AS (SELECT event_id, y, x, SUM(vc) // 3 AS v
              FROM p GROUP BY event_id, y, x),
        b AS (SELECT event_id, y, x, v,
                     lead(v) OVER (PARTITION BY event_id, y ORDER BY x)
                       AS nv
              FROM g),
        h AS (SELECT event_id,
                     SUM(CASE WHEN nv > v THEN 1 ELSE 0 END
                         << (y * {_IMG_W - 1} + x)) AS dhash
              FROM b WHERE nv IS NOT NULL
              GROUP BY event_id)
        SELECT CAST(dhash AS BIGINT) AS dhash,
               COUNT(*) AS n_images, MIN(event_id) AS min_id
        FROM h GROUP BY dhash HAVING COUNT(*) >= 2
        ORDER BY dhash
    """


_VID_MOD = 64
_VID_EVERY = 3


def _q_video_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video container-walk certificate — the last multimodal family
    member put under an oracle: every 64th event synthesizes a REAL
    MJPEG-AVI with n_frames = 4 + (id div 64) % 13 tiny frames, the
    engine walks the actual RIFF/AVI movi list with stride sampling
    (every 3rd frame; unsampled frames are never JPEG-decoded — the
    scale point), and emits the sampled frame INDICES.  Indices are a
    pure function of the container structure, independent of the
    lossy JPEG content, so the oracle replays them from the frame-
    count arithmetic alone: range(0, n_frames, 3) per id.  A wrong
    chunk walk, off-by-one stride, or miscounted movi entry breaks
    the row set."""
    import pandas as pd

    from geo_spark.operators.multimodal import (
        encode_avi_mjpeg,
        video_frame_sample,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _VID_MOD == 0)
        .select("event_id")
    )

    def synth(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf["event_id"].to_numpy():
                n = 4 + (int(i) // _VID_MOD) % 13
                frames = [
                    np.full((8, 8, 3), (int(i) + k) % 256, dtype=np.uint8)
                    for k in range(n)
                ]
                rows.append(
                    (
                        int(i),
                        "video",
                        bytearray(encode_avi_mjpeg(frames, fps=10)),
                        n,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "n_frames"]
            )

    media = ev.mapInPandas(
        synth, "media_id long, kind string, payload binary, n_frames long"
    )
    return (
        video_frame_sample(media, every=_VID_EVERY)
        .select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"))
        .orderBy("media_id", "frame_idx")
    )


def _oracle_video_stride() -> str:
    return f"""
        WITH ev AS (
          SELECT event_id AS media_id,
                 4 + (event_id // {_VID_MOD}) % 13 AS n_frames
          FROM events WHERE event_id % {_VID_MOD} = 0)
        SELECT media_id, CAST(k AS BIGINT) AS frame_idx
        FROM ev, UNNEST(range(0, n_frames, {_VID_EVERY})) AS t(k)
        ORDER BY media_id, frame_idx
    """


_NDUP_HAM = 3


def _q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image NEAR-dup join — the simhash pigeonhole
    machinery (dedup.hamming_pairs) applied to image difference
    hashes: rasters share a seed class ((id div 32) % 128) but ODD
    (id div 32) perturbs pixel (0,0) by +128, flipping at most one
    dHash bit, so intra-class pairs sit at Hamming 0-1 — found via
    the (max_hamming+1)-block equi-join, never a cartesian.  The
    decode side rides the certified container rotation (BMP/PNG/GIF);
    the oracle recomputes every dHash from the formula and BRUTE
    self-joins on bit_count(xor()) <= 3 — structurally independent of
    the pigeonhole."""
    import pandas as pd

    from geo_spark.operators.dedup import hamming_pairs
    from geo_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_gif,
        encode_png,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _IMG_MOD == 0)
        .select("event_id")
    )

    def run(batches):
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(_IMG_H, dtype=np.int64),
            np.arange(_IMG_W, dtype=np.int64),
            np.arange(3, dtype=np.int64),
            indexing="ij",
        )
        for pdf in batches:
            rows = []
            for i in pdf["event_id"].to_numpy():
                grp = int(i) // _IMG_MOD
                seed = grp % _DHASH_SEEDS
                # seed-dependent gradient coefficients: rasters differ
                # STRUCTURALLY across seeds (a pure value shift leaves
                # the neighbor comparisons — hence the dHash — nearly
                # seed-invariant and floods the join with cross-class
                # pairs)
                img = (
                    (seed * 7 + y * (13 + seed % 7) + x * (5 + seed % 5)
                     + x * y * (1 + seed % 11) + c * 3) % 256
                ).astype(np.int64)
                if grp % 2 == 1:
                    img[0, 0, :] = (img[0, 0, :] + 128) % 256
                img = img.astype(np.uint8)
                rot = grp % 7
                if rot == 0:
                    payload = encode_bmp(img)
                elif rot == 6:
                    payload = encode_gif(img)
                else:
                    payload = encode_png(img, filter_type=rot - 1)
                g = decode_image(payload, _IMG_W, _IMG_H).astype(np.int64)
                bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
                pos = np.arange(
                    (_IMG_W - 1) * _IMG_H, dtype=np.int64
                ).reshape(_IMG_H, _IMG_W - 1)
                rows.append((int(i), int((bits << pos).sum())))
            yield pd.DataFrame(rows, columns=["event_id", "dhash"])

    hashed = ev.mapInPandas(run, "event_id long, dhash long")
    return hamming_pairs(
        hashed, max_hamming=_NDUP_HAM, key="event_id", hash_col="dhash"
    ).orderBy("da", "db")


def _oracle_image_near_dup() -> str:
    return f"""
        WITH ev AS (
          SELECT event_id, (event_id // {_IMG_MOD}) % {_DHASH_SEEDS} AS seed,
                 ((event_id // {_IMG_MOD}) % 2 = 1) AS pert
          FROM events WHERE event_id % {_IMG_MOD} = 0),
        ys AS (SELECT unnest(range({_IMG_H})) AS y),
        xs AS (SELECT unnest(range({_IMG_W})) AS x),
        cs AS (SELECT unnest(range(3)) AS c),
        p AS (SELECT event_id, y, x,
                     CASE WHEN pert AND y = 0 AND x = 0
                          THEN ((seed * 7 + y * (13 + seed % 7)
                                 + x * (5 + seed % 5)
                                 + x * y * (1 + seed % 11) + c * 3) % 256
                                + 128) % 256
                          ELSE (seed * 7 + y * (13 + seed % 7)
                                + x * (5 + seed % 5)
                                + x * y * (1 + seed % 11) + c * 3) % 256
                     END AS vc
              FROM ev, ys, xs, cs),
        g AS (SELECT event_id, y, x, SUM(vc) // 3 AS v
              FROM p GROUP BY event_id, y, x),
        b AS (SELECT event_id, y, x, v,
                     lead(v) OVER (PARTITION BY event_id, y ORDER BY x)
                       AS nv
              FROM g),
        h AS (SELECT event_id,
                     SUM(CASE WHEN nv > v THEN 1 ELSE 0 END
                         << (y * {_IMG_W - 1} + x)) AS dhash
              FROM b WHERE nv IS NOT NULL
              GROUP BY event_id)
        SELECT h1.event_id AS da, h2.event_id AS db,
               CAST(bit_count(xor(CAST(h1.dhash AS BIGINT),
                                  CAST(h2.dhash AS BIGINT))) AS INTEGER)
                 AS hamming
        FROM h h1 JOIN h h2 ON h1.event_id < h2.event_id
        WHERE bit_count(xor(CAST(h1.dhash AS BIGINT),
                            CAST(h2.dhash AS BIGINT))) <= {_NDUP_HAM}
        ORDER BY da, db
    """


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured sidecar extraction — the events table's JSON
    ``props`` column (untouched by every other query) parsed with the
    native path extractor (get_json_object, codegen) and rolled up
    per event type: count, missing-key count, sum/min/max of the
    extracted integer.  The Common-Crawl shape: metadata arrives as
    ragged JSON strings, and the extraction must stay JVM-side (a
    json.loads UDF at 10^12 rows is the classic accidental-Python
    cliff).  DuckDB twin uses json_extract_string — two independent
    JSON parsers agreeing byte-for-byte."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
                "n_missing"
            ),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


def _oracle_json_props() -> str:
    return """
        WITH x AS (
          SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_missing,
               CAST(SUM(k) AS BIGINT) AS k_sum,
               MIN(k) AS k_min, MAX(k) AS k_max
        FROM x GROUP BY event_type ORDER BY event_type
    """


def _q_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSONL ingestion: each document serializes to
    a JSON line (its own engine's to_json), every 13th line is
    REPLACED by a truncated brace (the mid-write crash artifact every
    real JSONL feed contains), and the parse quarantines instead of
    crashing — Spark via PERMISSIVE from_json (all-null struct),
    DuckDB via json_valid().  Output: per-lang parsed rollup plus a
    '__corrupt__' ledger row.  Each engine round-trips its OWN
    serialization, so the certificate is parse(serialize(x)) == x
    plus identical quarantine counts — byte-level JSON formatting
    (key order, spacing) is deliberately NOT compared."""
    docs = _t(spark, sf_dir, "documents")
    jl = F.when(F.col("doc_id") % 13 == 0, F.lit('{"broken')).otherwise(
        F.to_json(F.struct("doc_id", "lang", "n_chars"))
    )
    parsed = docs.select(
        F.from_json(
            jl, "doc_id long, lang string, n_chars long"
        ).alias("p")
    )
    good = parsed.where(F.col("p.doc_id").isNotNull()).select(
        F.col("p.lang").alias("lang"),
        F.col("p.n_chars").alias("n_chars"),
    )
    agg = good.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )
    corrupt = parsed.where(F.col("p.doc_id").isNull()).agg(
        F.lit("__corrupt__").alias("lang"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(0).cast("long").alias("sum_chars"),
    )
    return agg.unionByName(corrupt).orderBy("lang")


def _oracle_jsonl_quarantine() -> str:
    return """
        WITH jl AS (
          SELECT CASE WHEN doc_id % 13 = 0 THEN '{"broken'
                      ELSE to_json(struct_pack(
                             doc_id := doc_id, lang := lang,
                             n_chars := n_chars))::VARCHAR
                 END AS line
          FROM documents),
        parsed AS (
          SELECT CASE WHEN json_valid(line)
                      THEN json_extract_string(line, '$.lang') END AS lang,
                 CASE WHEN json_valid(line)
                      THEN CAST(json_extract_string(line, '$.n_chars')
                                AS BIGINT) END AS n_chars,
                 json_valid(line) AS ok
          FROM jl)
        SELECT lang, COUNT(*) AS n_rows,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM parsed WHERE ok GROUP BY lang
        UNION ALL
        SELECT '__corrupt__', COUNT(*), CAST(0 AS BIGINT)
        FROM parsed WHERE NOT ok
        ORDER BY lang
    """


_IMG_MOD = 32
_IMG_W = 8
_IMG_H = 8


def _q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-decode inversion certificate (q_audio_features' pattern
    on the LOSSLESS image codecs): every 32nd event synthesizes an
    8x8 RGB raster from the pixel formula
    p(y,x,c) = (event_id*7 + y*13 + x*5 + c*3) % 256, containers
    rotate BMP / PNG (cycling ALL FIVE scanline filter types, so the
    Paeth/avg/up/sub reconstruction paths are each under the oracle)
    / GIF (LZW + adaptive palette, exact at <= 64 colors), the engine decodes the actual bytes back through the
    decode_image dispatcher (magic-byte dispatch + integer-mean
    grayscale), and integer features come off the DECODED view —
    including a position-weighted checksum sum(g * (1 + (y*8+x) % 97))
    that catches any transposed/reordered decode, not just value
    errors; the oracle replays the channel mean as SUM(vc) // 3.  JPEG stays out of this certificate (lossy — its
    bounded-error round trip is pytest-gated)."""
    import pandas as pd

    from geo_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_gif,
        encode_png,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _IMG_MOD == 0)
        .select("event_id")
    )

    def run(batches):
        import numpy as np

        y, x, c = np.meshgrid(
            np.arange(_IMG_H, dtype=np.int64),
            np.arange(_IMG_W, dtype=np.int64),
            np.arange(3, dtype=np.int64),
            indexing="ij",
        )
        gy, gx = np.meshgrid(
            np.arange(_IMG_H, dtype=np.int64),
            np.arange(_IMG_W, dtype=np.int64),
            indexing="ij",
        )
        wgt = 1 + (gy * _IMG_W + gx) % 97
        for pdf in batches:
            rows = []
            for i in pdf["event_id"].to_numpy():
                img = ((int(i) * 7 + y * 13 + x * 5 + c * 3) % 256).astype(
                    np.uint8
                )
                rot = (int(i) // _IMG_MOD) % 7
                if rot == 0:
                    payload = encode_bmp(img)
                elif rot == 6:
                    # 64 pixels -> <= 64 distinct colors: the GIF
                    # adaptive palette is exact, so LZW+interlace
                    # machinery sits under the oracle losslessly
                    payload = encode_gif(img)
                else:
                    payload = encode_png(img, filter_type=rot - 1)
                # decode_image returns the GRAYSCALE (H,W) view
                # (integer channel mean) — the user-facing dispatch
                dec = decode_image(payload, _IMG_W, _IMG_H).astype(np.int64)
                rows.append(
                    (
                        int(i),
                        int(dec.sum()),
                        int(dec.max()),
                        int((dec >= 128).sum()),
                        int((dec * wgt).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sum_px",
                    "max_px",
                    "n_bright",
                    "checksum",
                ],
            )

    return (
        ev.mapInPandas(
            run,
            "media_id long, sum_px long, max_px long, n_bright long,"
            " checksum long",
        )
        .orderBy("media_id")
    )


def _oracle_image_features() -> str:
    return f"""
        WITH ev AS (SELECT event_id FROM events
                    WHERE event_id % {_IMG_MOD} = 0),
        ys AS (SELECT unnest(range({_IMG_H})) AS y),
        xs AS (SELECT unnest(range({_IMG_W})) AS x),
        cs AS (SELECT unnest(range(3)) AS c),
        p AS (SELECT event_id, y, x,
                     (event_id * 7 + y * 13 + x * 5 + c * 3) % 256 AS vc
              FROM ev, ys, xs, cs),
        g AS (SELECT event_id, y, x, SUM(vc) // 3 AS v,
                     1 + (y * {_IMG_W} + x) % 97 AS w
              FROM p GROUP BY event_id, y, x)
        SELECT event_id AS media_id,
               CAST(SUM(v) AS BIGINT) AS sum_px,
               CAST(MAX(v) AS BIGINT) AS max_px,
               CAST(SUM(CASE WHEN v >= 128 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bright,
               CAST(SUM(v * w) AS BIGINT) AS checksum
        FROM g GROUP BY event_id ORDER BY media_id
    """


_LPC_MOD = 8


def _q_loop_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loop/Polygon binary-codec inversion certificate (the
    q_image_features pattern on kernel/serialization's loop encoding,
    ref s2/loop.go:1261-1419, s2/polygon.go:1044-1216): every 8th
    event builds a 6-vertex loop from the integer microdegree formula
    lat_u(j) = (id*31 + j*1000003) % 120e6 - 60e6 (lng analogous);
    even rows encode it alone (all vertices unsnapped, so the format
    auto-choice takes the LOSSLESS path, version byte 1), odd rows
    prepend a constant 60-vertex level-10 cell-center ring so the
    snap-level histogram flips the choice to the COMPRESSED path
    (version byte 4) and the six formula vertices ride behind the
    stream as exact off-center float64s.  The engine encodes the
    actual polygon bytes, decodes them back through decode_polygon,
    and emits integer features off the DECODED vertices — recovered
    microdegrees via atan2 (round-trip is exact, so rounding recovers
    the formula integers), position-weighted so a reordered or
    truncated decode fails — plus the observed version byte, vertex
    count, and the depth field read back through both formats.  The
    oracle replays the formula and never sees a byte: a green row
    proves decode(encode(x)) == x through the real wire format."""
    import pandas as pd

    from geo_spark.kernel.serialization import decode_polygon, encode_polygon

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _LPC_MOD == 0)
        .select("event_id")
    )

    def run(batches):
        import numpy as np

        from geo_spark.kernel import cellid as ck
        from geo_spark.kernel.cell import Cell

        # constant level-10 ring (built once per task): exact cell
        # centers, so the snap histogram puts 60 of 66 vertices at
        # level 10 and the polygon encoder picks the compressed path
        ang = 2 * np.pi * np.arange(60) / 60
        rlat = 10.0 + 5.0 * np.sin(ang)
        rlng = 20.0 + 5.0 * np.cos(ang)
        ring_ids = ck.parent(ck.cellid_from_latlng(rlat, rlng), 10)
        ring = np.stack([Cell.from_id(int(c)).center() for c in ring_ids])

        j = np.arange(6, dtype=np.int64)
        for pdf in batches:
            rows = []
            for e in pdf["event_id"].to_numpy():
                e = int(e)
                latu = (e * 31 + j * 1000003) % 120000000 - 60000000
                lngu = (e * 17 + j * 2000003) % 340000000 - 170000000
                x, y, z = ck.latlng_to_xyz(latu / 1e6, lngu / 1e6)
                pts = np.stack([x, y, z], axis=1)
                pts /= np.linalg.norm(pts, axis=1, keepdims=True)
                rot = (e // _LPC_MOD) % 2
                loop = pts if rot == 0 else np.vstack([ring, pts])
                blob = encode_polygon([loop], depths=[e % 3])
                dec = decode_polygon(blob)["loops"][0]
                vs = dec["vertices"][-6:]
                rl = np.rint(
                    np.degrees(np.arctan2(vs[:, 2], np.hypot(vs[:, 0], vs[:, 1])))
                    * 1e6
                ).astype(np.int64)
                rg = np.rint(
                    np.degrees(np.arctan2(vs[:, 1], vs[:, 0])) * 1e6
                ).astype(np.int64)
                rows.append(
                    (
                        e,
                        int(blob[0]),
                        len(dec["vertices"]),
                        int(dec["depth"]),
                        int(((j + 1) * rl).sum()),
                        int(((j + 1) * rg).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "ver", "nv", "depth", "cks_lat", "cks_lng"],
            )

    return ev.mapInPandas(
        run,
        "media_id long, ver long, nv long, depth long,"
        " cks_lat long, cks_lng long",
    ).orderBy("media_id")


def _oracle_loop_codec() -> str:
    return f"""
        WITH ev AS (SELECT event_id, (event_id // {_LPC_MOD}) % 2 AS rot
                    FROM events WHERE event_id % {_LPC_MOD} = 0),
        js AS (SELECT unnest(range(6)) AS j),
        v AS (SELECT event_id, rot, j,
                     (event_id * 31 + j * 1000003) % 120000000
                       - 60000000 AS latu,
                     (event_id * 17 + j * 2000003) % 340000000
                       - 170000000 AS lngu
              FROM ev, js)
        SELECT event_id AS media_id,
               CAST(1 + 3 * rot AS BIGINT) AS ver,
               CAST(6 + 60 * rot AS BIGINT) AS nv,
               CAST(event_id % 3 AS BIGINT) AS depth,
               CAST(SUM((j + 1) * latu) AS BIGINT) AS cks_lat,
               CAST(SUM((j + 1) * lngu) AS BIGINT) AS cks_lng
        FROM v GROUP BY event_id, rot ORDER BY media_id
    """


_LRG_ITERS = 20
_LRG_LR_DEN = 200
_LRG_SHIFT = 12
_LRG_K = 1 << 32
# (feature SQL numerator template, centering offset); {g} becomes the
# global-replace flag in DuckDB (Spark regexp_replace is global already
# and takes no flag argument); x7 is the bias term
_LRG_FEATURES = [
    ("length(text) - length(replace(text, ' ', ''))", 160),
    ("length(text) - length(regexp_replace(text, '[0-9]', ''{g}))", 0),
    (
        "length(text) - length(regexp_replace(lower(text), '[aeiou]', ''{g}))",
        280,
    ),
    ("length(text) - length(replace(text, '.', ''))", 0),
    ("length(text) - length(replace(text, ',', ''))", 0),
    ("length(text) - length(regexp_replace(text, '[A-Z]', ''{g}))", 0),
    (None, 150),  # x6 = least(length, 2000) div 2
    (None, 0),  # x7 = bias 1000
]


def _q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantized classifier training under the relational
    oracle: operators/logreg.py runs 20 batch-GD passes over per-mille
    text features of the documents table (hard-sigmoid link, every
    quantity int64, so the optimization is bitwise deterministic), the
    synthetic quality label is the length band L >= 300, and the query
    emits the final per-dimension weights plus the final-pass training
    accuracy count.  The oracle unrolls the SAME 20 iterations as
    chained CTEs (1-row weight table cross-joined back onto the
    cached feature projection each pass) — a green row certifies the
    whole training loop end to end: feature quantization, the
    offset-shift hard sigmoid, the exact integer gradient SUM, and the
    floor-division weight update.  Scale shape: one d-column
    partially-aggregated SUM per pass over a cached skinny projection;
    only d longs per pass reach the driver (kmeans discipline)."""
    from geo_spark.operators.logreg import logreg_train_quantized

    docs = _t(spark, sf_dir, "documents")
    sel = []
    for j, (num, off) in enumerate(_LRG_FEATURES):
        if j == 6:
            e = f"(least(length(text), 2000) div 2) - {off}"
        elif j == 7:
            e = "cast(1000 as bigint)"
        else:
            num_sql = num.format(g="")
            e = f"((1000 * ({num_sql})) div (length(text) + 1)) - {off}"
        sel.append(F.expr(e).cast("long").alias(f"x{j}"))
    feats = docs.select(
        (F.length("text") >= 300).cast("long").alias("y"), *sel
    )
    w, n_correct, _n = logreg_train_quantized(
        feats,
        [f"x{j}" for j in range(8)],
        "y",
        iters=_LRG_ITERS,
        lr_den=_LRG_LR_DEN,
        shift=_LRG_SHIFT,
    )
    rows = [(j, int(w[j]), int(n_correct)) for j in range(8)]
    return spark.createDataFrame(
        rows, "dim long, w_final long, n_correct long"
    ).orderBy("dim")


def _oracle_logreg_quality() -> str:
    c_off = _LRG_K << _LRG_SHIFT
    xs = []
    for j, (num, off) in enumerate(_LRG_FEATURES):
        if j == 6:
            xs.append(f"(LEAST(length(text), 2000) // 2) - {off} AS x{j}")
        elif j == 7:
            xs.append(f"CAST(1000 AS BIGINT) AS x{j}")
        else:
            num_sql = num.format(g=", 'g'")
            xs.append(
                f"((1000 * ({num_sql})) // (length(text) + 1)) - {off} AS x{j}"
            )
    z = " + ".join(f"x{j}*w{j}" for j in range(8))
    p = (
        f"GREATEST(0, LEAST(65536, 32768 + ({z} + {c_off})"
        f"//{1 << _LRG_SHIFT} - {_LRG_K}))"
    )
    ctes = [
        "feats AS MATERIALIZED (SELECT CASE WHEN length(text) >= 300 "
        "THEN 1 ELSE 0 END AS y, " + ", ".join(xs) + " FROM documents)",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(8))
        + ")",
    ]
    for i in range(1, _LRG_ITERS + 1):
        gs = ", ".join(
            f"SUM(({p} - y*65536) * x{j}) AS g{j}" for j in range(8)
        )
        # MATERIALIZED is load-bearing: without it DuckDB inlines each
        # w{i} into every consumer and the 20-deep chain re-expands
        # the whole prefix per level (exponential plan blowup)
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT {gs}, COUNT(*) AS n "
            f"FROM feats, w{i - 1})"
        )
        ws = ", ".join(
            f"w{j} - g{j}//(n*{_LRG_LR_DEN}) AS w{j}" for j in range(8)
        )
        ctes.append(
            f"w{i} AS MATERIALIZED (SELECT {ws} FROM w{i - 1}, g{i})"
        )
    ctes.append(
        f"acc AS (SELECT SUM(CASE WHEN (CASE WHEN {z} >= 0 THEN 1 ELSE 0 "
        f"END) = y THEN 1 ELSE 0 END) AS ok FROM feats, w{_LRG_ITERS})"
    )
    wcase = " ".join(f"WHEN {j} THEN w{j}" for j in range(8))
    return (
        "WITH "
        + ", ".join(ctes)
        + f""" SELECT j AS dim, CAST(CASE j {wcase} END AS BIGINT) AS w_final,
               CAST(ok AS BIGINT) AS n_correct
        FROM (SELECT unnest(range(8)) AS j), w{_LRG_ITERS}, acc
        ORDER BY dim"""
    )


_AFP_SEEDS = 96


def _q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprint join — completes the perceptual
    dedup trio (text simhash, image dHash, audio): every 16th event
    renders the 64-sample wave of seed = (id div 16) % 96 with
    seed-structural coefficients into a REAL RIFF/WAVE container
    (odd groups perturb sample 0 by +90 — flips at most one
    fingerprint bit), the engine decodes the bytes and takes the
    56-bit delta-sign fingerprint (bit = next sample larger, the
    audio dHash), and dedup.hamming_pairs finds Hamming<=3 twins via
    the pigeonhole block join.  Brute bit_count(xor) oracle replays
    fingerprints from the sample formula, decoding nothing."""
    import pandas as pd

    from geo_spark.operators.dedup import hamming_pairs
    from geo_spark.operators.multimodal import decode_wav, encode_wav

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _AUDIO_MOD == 0)
        .select("event_id")
    )

    def run(batches):
        import numpy as np

        k = np.arange(57, dtype=np.int64)
        for pdf in batches:
            rows = []
            for i in pdf["event_id"].to_numpy():
                grp = int(i) // _AUDIO_MOD
                seed = grp % _AFP_SEEDS
                v = (
                    (seed * 11 + k * (7 + seed % 13)
                     + k * k * (1 + seed % 5)) % 201 - 100
                )
                if grp % 2 == 1:
                    v = v.copy()
                    v[0] = (v[0] + 190) % 201 - 100
                s = v.astype(np.int16)
                _, dec = decode_wav(encode_wav(s, 8000))
                d = dec.astype(np.int64)
                bits = (d[1:] > d[:-1]).astype(np.int64)
                pos = np.arange(56, dtype=np.int64)
                rows.append((int(i), int((bits << pos).sum())))
            yield pd.DataFrame(rows, columns=["event_id", "afp"])

    hashed = ev.mapInPandas(run, "event_id long, afp long")
    return hamming_pairs(
        hashed, max_hamming=_NDUP_HAM, key="event_id", hash_col="afp"
    ).orderBy("da", "db")


def _oracle_audio_near_dup() -> str:
    return f"""
        WITH ev AS (
          SELECT event_id,
                 (event_id // {_AUDIO_MOD}) % {_AFP_SEEDS} AS seed,
                 ((event_id // {_AUDIO_MOD}) % 2 = 1) AS pert
          FROM events WHERE event_id % {_AUDIO_MOD} = 0),
        ks AS (SELECT unnest(range(57)) AS k),
        s AS (SELECT event_id, k,
                     CASE WHEN pert AND k = 0
                          THEN ((seed * 11 + k * (7 + seed % 13)
                                 + k * k * (1 + seed % 5)) % 201
                                + 90) % 201 - 100
                          ELSE (seed * 11 + k * (7 + seed % 13)
                                + k * k * (1 + seed % 5)) % 201 - 100
                     END AS v
              FROM ev, ks),
        b AS (SELECT event_id, k, v,
                     lead(v) OVER (PARTITION BY event_id ORDER BY k)
                       AS nv
              FROM s),
        h AS (SELECT event_id,
                     SUM(CASE WHEN nv > v THEN 1 ELSE 0 END << k) AS afp
              FROM b WHERE nv IS NOT NULL GROUP BY event_id)
        SELECT h1.event_id AS da, h2.event_id AS db,
               CAST(bit_count(xor(CAST(h1.afp AS BIGINT),
                                  CAST(h2.afp AS BIGINT))) AS INTEGER)
                 AS hamming
        FROM h h1 JOIN h h2 ON h1.event_id < h2.event_id
        WHERE bit_count(xor(CAST(h1.afp AS BIGINT),
                            CAST(h2.afp AS BIGINT))) <= {_NDUP_HAM}
        ORDER BY da, db
    """


def _q_blocklist_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level blocklist screening (text.blocklist_hits): the
    blocklist is carved deterministically out of the corpus's own
    vocabulary (distinct tokens whose md5 hex starts with a/b/c — a
    scale-independent rule both engines replay), broadcast, and
    equi-joined against the token stream; per-doc hit counts,
    distinct-term counts, and the alphabetically first term as
    evidence.  The oracle recomputes everything from unnested
    tokens."""
    from geo_spark.operators.text import blocklist_hits

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), " +"),
                    lambda x: F.length(x) > 0,
                )
            ).alias("term")
        )
        .distinct()
        .where(F.substring(F.md5(F.col("term")), 1, 1).isin("a", "b", "c"))
    )
    return blocklist_hits(docs, vocab).orderBy("doc_id")


def _oracle_blocklist_hits() -> str:
    return """
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), ' +')) AS t
          FROM documents),
        tk AS MATERIALIZED (
          SELECT doc_id, t FROM toks WHERE len(t) > 0),
        bl AS (
          SELECT DISTINCT t FROM tk
          WHERE substring(md5(t), 1, 1) IN ('a', 'b', 'c'))
        SELECT tk.doc_id, COUNT(*) AS n_hits,
               COUNT(DISTINCT tk.t) AS n_terms,
               MIN(tk.t) AS first_term
        FROM tk JOIN bl USING (t)
        GROUP BY tk.doc_id ORDER BY doc_id
    """


_COTRAVEL_MIN = 3


def _q_co_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-travel (convoy) detection — the spacetime join COMPOSED
    with user attribution: event pairs within 500 km and 2 h
    (q_spacetime_pairs' certified banded join) map to their user
    pairs, and user pairs with >= 3 distinct co-occurrences survive
    (contact tracing, ride-share detection, convoy mining).  The
    oracle chains the first-principles range-join spacetime twin into
    the same user rollup — banding, neighbor topology, dedup AND the
    attribution all checked in one certificate.  Integer counts."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.spacetime import spacetime_join

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    pairs = spacetime_join(
        ev, _ST_RADIUS_RAD, _ST_WINDOW_S, key="event_id", ts_col="ts_us"
    )
    users = _t(spark, sf_dir, "events").select("event_id", "user_id")
    ua = users.select(
        F.col("event_id").alias("a"), F.col("user_id").alias("_ua")
    )
    ub = users.select(
        F.col("event_id").alias("b"), F.col("user_id").alias("_ub")
    )
    return (
        pairs.join(ua, "a")
        .join(ub, "b")
        .where(F.col("_ua") != F.col("_ub"))
        .select(
            F.least("_ua", "_ub").alias("ua"),
            F.greatest("_ua", "_ub").alias("ub"),
        )
        .groupBy("ua", "ub")
        .agg(F.count(F.lit(1)).alias("n_meet"))
        .where(F.col("n_meet") >= _COTRAVEL_MIN)
        .orderBy("ua", "ub")
    )


def _oracle_co_travel() -> str:
    return f"""
        WITH sp AS MATERIALIZED ({_oracle_spacetime_pairs()}),
        up AS (
          SELECT least(ea.user_id, eb.user_id) AS ua,
                 greatest(ea.user_id, eb.user_id) AS ub
          FROM sp
          JOIN events ea ON ea.event_id = sp.a
          JOIN events eb ON eb.event_id = sp.b
          WHERE ea.user_id <> eb.user_id)
        SELECT ua, ub, COUNT(*) AS n_meet
        FROM up GROUP BY ua, ub
        HAVING COUNT(*) >= {_COTRAVEL_MIN}
        ORDER BY ua, ub
    """


_TFDOT_MIN = 2
_TFDOT_MAXDF = 250


def _q_tf_dot_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF dot-product similarity join (text.tf_dot_pairs):
    document pairs whose integer term-frequency dot product >= 2
    through an inverted-index posting join with the max_df=250
    stop-term valve — ACTIVE on this fixture (the corpus vocabulary
    is small and stop-heavy: raising max_df to 400 admits the
    ubiquitous terms and explodes 24 pairs to 124k, the quadratic
    hazard the valve exists for).  The oracle
    recomputes every surviving dot product from unnested token
    counts — integer-exact, no cosine floats in the compared
    columns."""
    from geo_spark.operators.text import tf_dot_pairs

    docs = _t(spark, sf_dir, "documents")
    return tf_dot_pairs(
        docs, min_dot=_TFDOT_MIN, max_df=_TFDOT_MAXDF
    ).orderBy("a", "b")


def _oracle_tf_dot_pairs() -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), ' +')) AS term
          FROM documents),
        t AS MATERIALIZED (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
        rare AS (
          SELECT term FROM t GROUP BY term
          HAVING COUNT(*) <= {_TFDOT_MAXDF}),
        p AS MATERIALIZED (
          SELECT t.doc_id, t.term, t.tf FROM t JOIN rare USING (term))
        SELECT p1.doc_id AS a, p2.doc_id AS b,
               CAST(SUM(p1.tf * p2.tf) AS BIGINT) AS dot
        FROM p p1 JOIN p p2
          ON p1.term = p2.term AND p1.doc_id < p2.doc_id
        GROUP BY p1.doc_id, p2.doc_id
        HAVING SUM(p1.tf * p2.tf) >= {_TFDOT_MIN}
        ORDER BY a, b
    """


def _q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-curation certificate: repetition signals ->
    quality gate (drop docs whose top 2-gram claims > 10% of chars) ->
    Efraimidis-Spirakis weighted draw of 15 docs per language weighted
    by surviving token mass.  ONE DuckDB oracle replays signal
    computation, gating and the priority selection end to end —
    certifying the stages compose, not just pass individually."""
    from geo_spark.operators.sampling import weighted_sample
    from geo_spark.operators.text import repetition_signals

    raw = _t(spark, sf_dir, "documents")
    docs = raw.select(
        "doc_id", F.expr(r"replace(text, ' a ', '\n')").alias("text")
    )
    sig = repetition_signals(docs, key="doc_id")
    kept = (
        sig.where(F.col("top_2gram_frac_x1e6") <= 100_000)
        .select("doc_id", "n_tokens")
        .join(raw.select("doc_id", "lang"), "doc_id")
    )
    return weighted_sample(kept, "lang", 15, weight_col="n_tokens").orderBy(
        "lang", "rank"
    )


def _oracle_quality_weighted_sample() -> str:
    from geo_spark.operators.sampling import weighted_priority_sql

    k = weighted_priority_sql("doc_id", "n_tokens")
    return rf"""
        WITH base AS (
          SELECT doc_id, lang, replace(text, ' a ', chr(10)) AS t
          FROM documents),
        tk AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_chars,
                      string_split_regex(t, '[ ' || chr(10) || ']') AS toks
               FROM base),
        g2 AS (SELECT doc_id, n_chars, array_to_string(toks[i:i+1], ' ') AS g
               FROM (SELECT doc_id, n_chars, toks,
                            unnest(generate_series(1, greatest(len(toks) - 1, 0)))
                                AS i
                     FROM tk)),
        g2c AS (SELECT doc_id, n_chars, g, COUNT(*) AS c
                FROM g2 GROUP BY 1, 2, 3),
        top2 AS (SELECT doc_id,
                        CAST((c * len(g) * 1000000) // n_chars AS BIGINT)
                            AS topf,
                        row_number() OVER (PARTITION BY doc_id
                                           ORDER BY c DESC, g) AS rn
                 FROM g2c),
        kept AS (SELECT tk.doc_id, tk.lang,
                        CAST(len(tk.toks) AS BIGINT) AS n_tokens
                 FROM tk
                 LEFT JOIN (SELECT doc_id, topf FROM top2 WHERE rn = 1) t2
                        USING (doc_id)
                 WHERE COALESCE(t2.topf, 0) <= 100000),
        pri AS (SELECT lang, doc_id, n_tokens, {k} AS k FROM kept),
        r AS (SELECT lang, doc_id, n_tokens,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY k DESC, doc_id) AS rnk
              FROM pri)
        SELECT lang, doc_id, n_tokens AS weight, CAST(rnk AS INT) AS rank
        FROM r WHERE rnk <= 15 ORDER BY lang, rank
    """


def _q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.text import (
        token_count_bpe_ish,
        with_fingerprint,
        with_quality,
    )

    docs = _t(spark, sf_dir, "documents")
    out = token_count_bpe_ish(with_fingerprint(with_quality(docs)))
    return out.select(
        "doc_id",
        "n_chars_m",
        "n_tokens",
        "n_digits",
        "n_upper",
        "mean_token_len_x1000",
        "n_bpe_tokens",
        "fingerprint",
    ).orderBy("doc_id")


def _oracle_doc_quality() -> str:
    return r"""
        WITH q AS (
          SELECT doc_id,
                 length(text) AS nc,
                 length(text) - length(replace(text, ' ', '')) AS ns,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE length(text) - length(replace(text, ' ', '')) + 1
                 END AS nt
          FROM documents
        )
        SELECT q.doc_id,
               CAST(nc AS BIGINT) AS n_chars_m,
               CAST(nt AS BIGINT) AS n_tokens,
               CAST(nc - length(regexp_replace(d.text, '[0-9]', '', 'g')) AS BIGINT)
                   AS n_digits,
               CAST(nc - length(regexp_replace(d.text, '[A-Z]', '', 'g')) AS BIGINT)
                   AS n_upper,
               CAST(CASE WHEN nt > 0
                         THEN floor(CAST((nc - ns) * 1000 AS BIGINT) / nt)
                         ELSE 0 END AS BIGINT) AS mean_token_len_x1000,
               CAST(len(regexp_extract_all(d.text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                   AS n_bpe_tokens,
               md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM q JOIN documents d USING (doc_id)
        ORDER BY doc_id
    """


def _q_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality drift monitor
    (operators/text.quality_drift_by_source): exact alpha-micro
    quality per doc, exact per-(source, day) mean, then the shared
    trend machinery — Mann-Kendall decision + Sen milli-slope median
    — over each source's daily quality series; degrading = trend -1.
    Days synthesize from the doc_id time-noise stream (the events
    convention applied to documents).  The DuckDB twin re-derives the
    full chain from first principles."""
    from geo_spark.operators.geo_noise import with_time_noise
    from geo_spark.operators.text import quality_drift_by_source

    docs = with_time_noise(_t(spark, sf_dir, "documents"), "doc_id")
    docs = docs.withColumn("day", F.expr("ts_us div 86400000000"))
    return quality_drift_by_source(docs).orderBy("source")


def _oracle_quality_drift() -> str:
    from geo_spark.operators.geo_noise import TS_US_SQL

    ts = TS_US_SQL.format(id="doc_id")
    z2_18 = 18 * 1960 * 1960
    k = 10**9
    return f"""
        WITH d0 AS (
          SELECT source,
                 ({ts}) // 86400000000 AS day,
                 (1000000 * (length(text) - length(regexp_replace(
                      text, '[A-Za-z]', '', 'g')))) // length(text) AS qu
          FROM documents WHERE length(text) > 0),
        daily AS (SELECT source AS qk, day,
                         SUM(qu) // COUNT(*) AS cnt
                  FROM d0 GROUP BY 1, 2),
        s AS (SELECT a.qk,
                     CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
                                   WHEN b.cnt < a.cnt THEN -1
                                   ELSE 0 END) AS BIGINT) AS s_stat
              FROM daily a JOIN daily b
                ON b.qk = a.qk AND b.day > a.day
              GROUP BY 1),
        tg AS (SELECT qk, cnt, COUNT(*) AS tt FROM daily GROUP BY 1, 2),
        ties AS (SELECT qk,
                        CAST(SUM(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT)
                          AS tie_term
                 FROM tg GROUP BY 1),
        dd AS (SELECT qk, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1 HAVING COUNT(*) >= 2),
        m0 AS (SELECT d.qk, d.n_days,
                      {z2_18} * (d.n_days * (d.n_days - 1)
                                 * (2 * d.n_days + 5) - ti.tie_term) AS rx
               FROM dd d JOIN ties ti ON ti.qk = d.qk),
        m1 AS (SELECT *, CAST(FLOOR(SQRT(CAST(rx AS DOUBLE))) AS BIGINT)
                         AS s0
               FROM m0),
        m2 AS (SELECT qk, n_days,
                      CASE WHEN (s0 + 1) * (s0 + 1) <= rx THEN s0 + 1
                           WHEN s0 * s0 > rx THEN s0 - 1
                           ELSE s0 END AS s1f
               FROM m1),
        meta AS (SELECT qk, n_days, s1f // 18 // 1000 AS c_alpha FROM m2),
        pr AS (SELECT a.qk,
                      ((b.cnt - a.cnt) * 1000 + {k} * (b.day - a.day))
                        // (b.day - a.day) - {k} AS slope_mu
               FROM daily a JOIN daily b
                 ON b.qk = a.qk AND b.day > a.day),
        rk AS (SELECT qk, slope_mu,
                      ROW_NUMBER() OVER (PARTITION BY qk
                                         ORDER BY slope_mu) AS rn,
                      COUNT(*) OVER (PARTITION BY qk) AS nn
               FROM pr),
        med AS (SELECT qk, CAST(slope_mu AS BIGINT) AS slope_mu
                FROM rk WHERE rn = (nn + 1) // 2)
        SELECT m.qk AS source, m.n_days, s.s_stat,
               CAST(m.c_alpha AS BIGINT) AS c_alpha,
               CAST(CASE WHEN s.s_stat > 0
                           AND s.s_stat - 1 > m.c_alpha THEN 1
                         WHEN s.s_stat < 0
                           AND -s.s_stat - 1 > m.c_alpha THEN -1
                         ELSE 0 END AS BIGINT) AS trend,
               med.slope_mu,
               (CASE WHEN s.s_stat < 0
                       AND -s.s_stat - 1 > m.c_alpha THEN 1
                     ELSE 0 END) = 1 AS degrading
        FROM meta m
        JOIN s ON s.qk = m.qk
        JOIN med ON med.qk = m.qk
        ORDER BY source
    """


def _q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.text import with_lang_guess

    docs = with_lang_guess(_t(spark, sf_dir, "documents"))
    return (
        docs.groupBy("lang_guess")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum("lang_score").alias("total_score"),
        )
        .orderBy("lang_guess")
    )


def _oracle_lang_guess() -> str:
    from geo_spark.operators.text import lang_guess_sql

    guess, score = lang_guess_sql("text")
    return f"""
        SELECT lang_guess, COUNT(*) AS doc_cnt,
               CAST(SUM(lang_score) AS BIGINT) AS total_score
        FROM (SELECT {guess} AS lang_guess, {score} AS lang_score FROM documents)
        GROUP BY 1 ORDER BY 1
    """


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geo_spark.operators.similarity import cosine_topk_brute

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_brute(emb, emb, 5).orderBy("vec_id", "rank")


def _oracle_cosine_topk() -> str:
    return """
        WITH d AS (
          SELECT a.vec_id AS qa, b.vec_id AS qb,
                 list_dot_product(a.embedding, b.embedding) /
                 (sqrt(list_dot_product(a.embedding, a.embedding)) *
                  sqrt(list_dot_product(b.embedding, b.embedding))) AS sim
          FROM embeddings a, embeddings b
          WHERE a.vec_id <> b.vec_id
        ),
        r AS (SELECT qa, qb,
                     row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) rk
              FROM d)
        SELECT qa AS vec_id, qb AS nb_id, CAST(rk AS INT) AS rank
        FROM r WHERE rk <= 5 ORDER BY vec_id, rank
    """


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: top-3 most cosine-similar vectors with a
    DIFFERENT label per query (operators/similarity.py:hard_negatives)
    — the contrastive-training counterpart of q_cosine_topk, same
    gated-brute GEMM tier with a label mask."""
    from geo_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, 3).orderBy("vec_id", "rank")


def _oracle_hard_negatives() -> str:
    return """
        WITH d AS (
          SELECT a.vec_id AS qa, b.vec_id AS qb,
                 list_dot_product(a.embedding, b.embedding) /
                 (sqrt(list_dot_product(a.embedding, a.embedding)) *
                  sqrt(list_dot_product(b.embedding, b.embedding))) AS sim
          FROM embeddings a, embeddings b
          WHERE a.label <> b.label
        ),
        r AS (SELECT qa, qb,
                     row_number() OVER (PARTITION BY qa
                                        ORDER BY sim DESC, qb) rk
              FROM d)
        SELECT qa AS vec_id, qb AS nb_id, CAST(rk AS INT) AS rank
        FROM r WHERE rk <= 3 ORDER BY vec_id, rank
    """


def _q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py:{sample_codebooks,
    pq_encode,cosine_topk_pq}): data-sampled codebooks (the deterministic
    PQ variant — slices of the first 16 corpus vectors, no k-means), the
    corpus encoded to 4 uint8 codes, ADC scan keeping k*rerank survivors
    per query, exact-cosine rerank of the survivors only.  The oracle
    replays the ENTIRE chain (normalize -> slice -> argmin encode -> LUT
    sum -> survivor cut -> exact rerank) in first-principles SQL, so this
    certifies the approximate path's semantics, not just its recall."""
    from geo_spark.operators.similarity import (
        cosine_topk_pq,
        pq_encode,
        sample_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = sample_codebooks(emb, m_sub=4, n_codes=16)
    codes = pq_encode(emb, books)
    return cosine_topk_pq(emb, codes, emb, books, k=3, rerank=4).orderBy(
        "vec_id", "rank"
    )


def _oracle_pq_ann() -> str:
    # Replays the PQ chain: codebooks = normalized subspace slices of
    # vec_id < 16; encode = per-(vector, subspace) argmin L2 centroid;
    # approx = sum over subspaces of <query slice, assigned centroid>;
    # survivors = top 12 per query by (approx DESC, nb_id); result =
    # top 3 survivors by exact cosine.  All arithmetic in DOUBLE to
    # match the numpy float64 path.
    return """
        WITH nv AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(x AS DOUBLE) /
                          sqrt(list_dot_product(
                              list_transform(embedding, y -> CAST(y AS DOUBLE)),
                              list_transform(embedding, y -> CAST(y AS DOUBLE))))
                 ) AS e
          FROM embeddings
        ),
        s AS (SELECT unnest(range(4)) AS s),
        subs AS (
          SELECT vec_id, s.s AS s,
                 nv.e[(s.s*16+1):(s.s*16+16)] AS sl
          FROM nv, s
        ),
        cents AS (
          SELECT vec_id AS cid, s, sl AS ce FROM subs WHERE vec_id < 16
        ),
        enc AS (
          SELECT vec_id, s, cid FROM (
            SELECT t.vec_id, t.s, c.cid,
                   row_number() OVER (
                     PARTITION BY t.vec_id, t.s
                     ORDER BY list_distance(t.sl, c.ce), c.cid) AS rk
            FROM subs t JOIN cents c USING (s)
          ) WHERE rk = 1
        ),
        approx AS (
          -- quantized integer ADC (floor(dot * 2^16) per subspace, then
          -- integer SUM): associativity-free, so DuckDB's parallel
          -- aggregation order cannot perturb the ranking
          SELECT q.vec_id AS qid, e.vec_id AS nb_id,
                 SUM(CAST(floor(list_dot_product(q.sl, c.ce) * 65536.0)
                          AS BIGINT)) AS a
          FROM subs q
          JOIN enc e ON e.s = q.s AND e.vec_id <> q.vec_id
          JOIN cents c ON c.s = e.s AND c.cid = e.cid
          GROUP BY 1, 2
        ),
        surv AS (
          SELECT qid, nb_id FROM (
            SELECT qid, nb_id,
                   row_number() OVER (
                     PARTITION BY qid ORDER BY a DESC, nb_id) AS rk
            FROM approx
          ) WHERE rk <= 12
        ),
        rer AS (
          SELECT s.qid, s.nb_id,
                 row_number() OVER (
                   PARTITION BY s.qid
                   ORDER BY list_dot_product(a.e, b.e) DESC, s.nb_id) AS rk
          FROM surv s
          JOIN nv a ON a.vec_id = s.qid
          JOIN nv b ON b.vec_id = s.nb_id
        )
        SELECT qid AS vec_id, nb_id, CAST(rk AS INT) AS rank
        FROM rer WHERE rk <= 3 ORDER BY vec_id, rank
    """


def _q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pair join at cosine >= 0.4 (exact tier of
    operators/similarity.cosine_near_dup_pairs; the sign-LSH tier is the
    scale path, recall-pinned in tests).  Similarity bucketed at 0.01 so
    GEMM-vs-SQL ulp noise cannot flip the hash."""
    from geo_spark.operators.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return (
        cosine_near_dup_pairs(emb, 0.4, method="brute")
        .select(
            "da",
            "db",
            F.floor(F.col("sim") / F.lit(0.01)).cast("long").alias("sim_bucket"),
        )
        .orderBy("da", "db")
    )


def _oracle_embed_near_dup() -> str:
    return """
        SELECT a.vec_id AS da, b.vec_id AS db,
               CAST(FLOOR(list_cosine_similarity(a.embedding, b.embedding)
                          / 0.01) AS BIGINT) AS sim_bucket
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        ORDER BY da, db
    """


def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates + exact rerank, oracle-checked
    *semantically*: the contract output is "all pairs with n-gram
    Jaccard >= threshold", so the DuckDB twin computes exact Jaccard
    over string shingles directly — a hash-green match certifies both
    LSH recall (no pair missed by banding) and rerank exactness (the
    64-bit shingle-hash sets are collision-free on this corpus)."""
    from geo_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=8, threshold=0.3
    ).orderBy("da", "db")


def _oracle_minhash_lsh_pairs() -> str:
    return """
        WITH sh AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT da, db,
               CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) >= 0.3
        ORDER BY da, db
    """


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (operators/dedup.py:incremental_minhash_pairs):
    docs with doc_id % 10 == 3 play a new crawl batch probing the LSH
    index persisted for the REST of the corpus (minhash_index) — no
    corpus-text rescan.  Contract: identical to full-corpus LSH pairs
    restricted to pairs touching the batch, so the oracle is the exact
    string-shingle Jaccard over all pairs with that filter — hash-green
    certifies banding recall, the index/batch split, and rerank
    exactness at once."""
    from geo_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 3)
    corpus = docs.where(F.col("doc_id") % 10 != 3)
    buckets, sets = minhash_index(corpus, n=8)
    return incremental_minhash_pairs(
        buckets, sets, batch, n=8, threshold=0.3
    ).orderBy("da", "db")


def _oracle_incremental_dedup() -> str:
    return """
        WITH sh AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT da, db,
               CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(shared AS DOUBLE)/(sa.n + sb.n - shared) >= 0.3
          AND (da % 10 = 3 OR db % 10 = 3)
        ORDER BY da, db
    """


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 pairs, oracle-checked end to end: the DuckDB
    twin re-derives the 64-bit signatures bit-for-bit (FNV-1a over
    shingle chars + splitmix64 finalizer, emulated with HUGEINT
    wrap-multiplication) and brute-forces all pairs — a hash-green
    match certifies both the signature math and that the pigeonhole
    block join loses no pair inside the radius."""
    from geo_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3).orderBy(
        "da", "db"
    )


def _oracle_simhash_pairs() -> str:
    mod = 1 << 64
    m32 = 1 << 32
    golden = 0x9E3779B97F4A7C15
    c1 = 0xBF58476D1CE4E5B9
    c2 = 0x94D049BB133111EB
    fnv_basis = 14695981039346656037
    fnv_prime = 1099511628211

    def mul(a, c):
        # 64-bit wrapping multiply in HUGEINT: split a into 32-bit limbs
        return (
            f"((({a}) % {m32}) * {c} "
            f"+ (((({a}) // {m32}) * {c}) % {m32}) * {m32}) % {mod}"
        )

    def xor(a, b):
        return f"CAST(xor(CAST({a} AS UBIGINT), CAST({b} AS UBIGINT)) AS HUGEINT)"

    def shr(a, k):
        return f"CAST(CAST({a} AS UBIGINT) >> {k} AS HUGEINT)"

    fnv = (
        "list_reduce(list_prepend("
        f"CAST({fnv_basis} AS HUGEINT), "
        "list_transform(range(1, length(s)+1), "
        "i -> CAST(ord(substr(s, i, 1)) AS HUGEINT))), "
        f"(h, c) -> {mul(xor('h', 'c'), fnv_prime)})"
    )
    return f"""
        WITH sh AS (
          SELECT DISTINCT doc_id, s
          FROM documents,
               UNNEST(list_transform(range(1, greatest(length(text)-7, 1)+1),
                                     i -> substr(text, i, 8))) AS t(s)
        ),
        f0 AS (SELECT doc_id, ({fnv} + {golden}) % {mod} AS g FROM sh),
        f1 AS (SELECT doc_id, {mul(xor('g', shr('g', 30)), c1)} AS z1 FROM f0),
        f2 AS (SELECT doc_id, {mul(xor('z1', shr('z1', 27)), c2)} AS z2 FROM f1),
        hh AS (SELECT DISTINCT doc_id,
                      CAST({xor('z2', shr('z2', 31))} AS UBIGINT) AS h
               FROM f2),
        bits AS (
          SELECT doc_id, b,
                 SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
          FROM hh, UNNEST(range(0, 64)) AS t(b)
          GROUP BY doc_id, b),
        sim AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN votes > 0
                               THEN CAST(1 AS UBIGINT) << CAST(b AS INT)
                               ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sh
          FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
        ORDER BY da, db
    """


# ---------------------------------------------------------------------------
# kNN (brute broadcast path; ring expansion differential-tested in pytest)
# ---------------------------------------------------------------------------


def _q_knn_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest hot cities per event by squared chord distance."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.knn import knn_join
    from geo_spark.sources.pages import HOT_CITIES

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    cities = spark.createDataFrame(
        [(int(i), float(la), float(ln)) for i, (la, ln) in enumerate(HOT_CITIES)],
        "tid long, lat double, lng double",
    )
    return knn_join(
        ev, cities, k=3, point_key="event_id", target_key="tid"
    ).orderBy("event_id", "rank")


_IDW_K = 4


def _q_idw_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation of the events' value
    field onto a fixed 10x20 lat/lng grid: k=4 nearest events per grid
    node (broadcast-ring kNN tier at sf0.01 target counts), weights
    1/chord2, the weighted mean folded in RANK order via a rank pivot
    so the float summation order is fixed and engine-portable; output
    bucketed at 0.01 to absorb cross-engine trig ulps (the
    q_rect_distance_buckets convention)."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.knn import knn_join

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    probes = spark.range(200).select(
        F.col("id").alias("pid"),
        (F.lit(-57.0) + 6.0 * (F.col("id") / 20).cast("long")).alias("lat"),
        (F.lit(-171.0) + 18.0 * (F.col("id") % 20)).alias("lng"),
    )
    nn = knn_join(
        probes, ev, k=_IDW_K, point_key="pid", target_key="event_id"
    )
    px = probes.select(
        "pid",
        (F.cos(F.radians("lng")) * F.cos(F.radians("lat"))).alias("px"),
        (F.sin(F.radians("lng")) * F.cos(F.radians("lat"))).alias("py"),
        F.sin(F.radians("lat")).alias("pz"),
    )
    ex = ev.select(
        "event_id",
        "value",
        (F.cos(F.radians("lng")) * F.cos(F.radians("lat"))).alias("ex"),
        (F.sin(F.radians("lng")) * F.cos(F.radians("lat"))).alias("ey"),
        F.sin(F.radians("lat")).alias("ez"),
    )
    chord2 = (
        (F.col("px") - F.col("ex")) * (F.col("px") - F.col("ex"))
        + (F.col("py") - F.col("ey")) * (F.col("py") - F.col("ey"))
        + (F.col("pz") - F.col("ez")) * (F.col("pz") - F.col("ez"))
    )
    wv = nn.join(px, "pid").join(ex, "event_id").select(
        "pid",
        "rank",
        (F.lit(1.0) / F.greatest(chord2, F.lit(1e-30))).alias("w"),
        "value",
    )
    pick = lambda r, c: F.max(F.when(F.col("rank") == r, F.col(c)))  # noqa: E731
    agg = wv.groupBy("pid").agg(
        *[pick(r, "w").alias(f"w{r}") for r in range(1, _IDW_K + 1)],
        *[pick(r, "value").alias(f"v{r}") for r in range(1, _IDW_K + 1)],
    )
    num = "((w1*v1 + w2*v2) + w3*v3) + w4*v4"
    den = "((w1 + w2) + w3) + w4"
    return agg.select(
        "pid",
        F.expr(
            f"CAST(FLOOR(({num}) / ({den}) / 0.01) AS BIGINT)"
        ).alias("idw_bucket"),
    ).orderBy("pid")


def _oracle_idw_grid() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    k = _IDW_K
    return f"""
        WITH probes AS (
          SELECT pid, -57.0 + 6.0*(pid // 20) AS plat,
                 -171.0 + 18.0*(pid % 20) AS plng
          FROM range(200) t(pid)
        ),
        pxyz AS (SELECT pid,
                        cos(radians(plng))*cos(radians(plat)) AS px,
                        sin(radians(plng))*cos(radians(plat)) AS py,
                        sin(radians(plat)) AS pz
                 FROM probes),
        ev AS (SELECT event_id, value, {lat} AS lat, {lng} AS lng FROM events),
        exyz AS (SELECT event_id, value,
                        cos(radians(lng))*cos(radians(lat)) AS ex,
                        sin(radians(lng))*cos(radians(lat)) AS ey,
                        sin(radians(lat)) AS ez
                 FROM ev),
        d AS (SELECT pid, event_id, value,
                     (px-ex)*(px-ex) + (py-ey)*(py-ey) + (pz-ez)*(pz-ez)
                         AS chord2
              FROM pxyz, exyz),
        r AS (SELECT pid, value, chord2,
                     row_number() OVER (
                       PARTITION BY pid ORDER BY chord2, event_id) AS rn
              FROM d),
        piv AS (
          SELECT pid,
                 {", ".join(
                     f"MAX(CASE WHEN rn = {i} THEN 1.0/greatest(chord2, 1e-30) END) AS w{i}, "
                     f"MAX(CASE WHEN rn = {i} THEN value END) AS v{i}"
                     for i in range(1, k + 1)
                 )}
          FROM r WHERE rn <= {k} GROUP BY pid
        )
        SELECT pid,
               CAST(FLOOR((((w1*v1 + w2*v2) + w3*v3) + w4*v4)
                          / (((w1 + w2) + w3) + w4) / 0.01) AS BIGINT)
                   AS idw_bucket
        FROM piv ORDER BY pid
    """


def _oracle_knn_cities() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL
    from geo_spark.sources.pages import HOT_CITIES

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    cities = ", ".join(
        "({i}, cos(radians({ln!r}))*cos(radians({la!r})), "
        "sin(radians({ln!r}))*cos(radians({la!r})), sin(radians({la!r})))".format(
            i=i, la=float(la), ln=float(ln)
        )
        for i, (la, ln) in enumerate(HOT_CITIES)
    )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        tg(tid, tx, ty, tz) AS (VALUES {cities}),
        d AS (SELECT event_id, tid,
                     least((x-tx)*(x-tx) + (y-ty)*(y-ty) + (z-tz)*(z-tz), 4.0)
                         AS chord2
              FROM xyz, tg),
        r AS (SELECT event_id, tid,
                     row_number() OVER (PARTITION BY event_id
                                        ORDER BY chord2, tid) AS rk
              FROM d)
        SELECT event_id, tid, CAST(rk AS INT) AS rank
        FROM r WHERE rk <= 3 ORDER BY event_id, rank
    """


def _q_farthest_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 FARTHEST hot cities per event (max-distance targets): runs
    the nearest-kNN machinery against the antipodal city set."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.knn import farthest_join
    from geo_spark.sources.pages import HOT_CITIES

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    cities = spark.createDataFrame(
        [(int(i), float(la), float(ln)) for i, (la, ln) in enumerate(HOT_CITIES)],
        "tid long, lat double, lng double",
    )
    return farthest_join(
        ev, cities, k=3, point_key="event_id", target_key="tid"
    ).orderBy("event_id", "rank")


def _oracle_farthest_cities() -> str:
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL
    from geo_spark.sources.pages import HOT_CITIES

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    # antipodal cities, via the same float expressions the operator uses
    cities = ", ".join(
        "({i}, {la!r}, {ln!r})".format(i=i, la=float(la), ln=float(ln))
        for i, (la, ln) in enumerate(HOT_CITIES)
    )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        tg0(tid, tla, tln) AS (VALUES {cities}),
        tg AS (SELECT tid, -tla AS ala,
                      ((tln + 360.0) % 360.0) - 180.0 AS aln
               FROM tg0),
        txyz AS (SELECT tid,
                        cos(radians(aln))*cos(radians(ala)) AS tx,
                        sin(radians(aln))*cos(radians(ala)) AS ty,
                        sin(radians(ala)) AS tz
                 FROM tg),
        d AS (SELECT event_id, tid,
                     least((x-tx)*(x-tx) + (y-ty)*(y-ty) + (z-tz)*(z-tz), 4.0)
                         AS chord2
              FROM xyz, txyz),
        r AS (SELECT event_id, tid,
                     row_number() OVER (PARTITION BY event_id
                                        ORDER BY chord2, tid) AS rk
              FROM d)
        SELECT event_id, tid, CAST(rk AS INT) AS rank
        FROM r WHERE rk <= 3 ORDER BY event_id, rank
    """


_ST_RADIUS_RAD = 0.078  # ~500 km
_ST_WINDOW_S = 7200.0  # 2 h


def _q_spacetime_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal co-occurrence self-join over events: unordered
    pairs within 500 km AND 2 h of each other.  The engine runs the
    banded (cell, time-bucket) equi-join (operators/spacetime.py: probe
    side emits the 9-cell x 3-bucket grid, exactly-once canonical dedup
    on the refined result); the oracle never sees the banding — it is a
    first-principles DuckDB range join on time with an exact chord2
    filter, so bucket boundaries, neighbor topology, and the dedup all
    get checked semantically."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.spacetime import spacetime_join

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return spacetime_join(
        ev, _ST_RADIUS_RAD, _ST_WINDOW_S, key="event_id", ts_col="ts_us"
    ).orderBy("a", "b")


def _oracle_spacetime_pairs() -> str:
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    w_us = int(round(_ST_WINDOW_S * 1_000_000))
    limit2 = chord2_from_angle(_ST_RADIUS_RAD)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng,
                            {ts} AS ts_us
                     FROM events),
        xyz AS (SELECT event_id, ts_us,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts)
        SELECT a.event_id AS a, b.event_id AS b,
               b.ts_us - a.ts_us AS dt_us
        FROM xyz a JOIN xyz b
          ON b.event_id > a.event_id
         AND b.ts_us BETWEEN a.ts_us - {w_us} AND a.ts_us + {w_us}
         AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
             + (a.z-b.z)*(a.z-b.z) <= {limit2!r}
        ORDER BY a, b
    """


_DBSCAN_EPS_RAD = 0.02
_DBSCAN_MIN_PTS = 3


def _q_geo_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the event points (operators/clustering.py:geo_dbscan):
    eps-pairs from the banded cell equi-join, core points by degree,
    clusters = connected components of the core-core graph (large-star/
    small-star rounds), border points attached to their
    minimum-rep core neighbor, noise omitted.  eps = 0.02 rad keeps the
    random geometric graph below percolation, so the fixture has many
    small clusters plus border/noise points — every branch of the
    classification is exercised.  The oracle replays the definition
    from first principles: brute-force chord2 pair join + degree count
    + recursive-CTE reachability, never seeing cells or banding."""
    from geo_spark.operators.clustering import geo_dbscan
    from geo_spark.operators.geo_noise import with_geo_noise

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    return geo_dbscan(
        ev, _DBSCAN_EPS_RAD, _DBSCAN_MIN_PTS, key="event_id"
    ).orderBy("event_id")


def _oracle_geo_dbscan() -> str:
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    limit2 = chord2_from_angle(_DBSCAN_EPS_RAD)
    return f"""
        WITH RECURSIVE pts AS (
          SELECT event_id AS id, {lat} AS lat, {lng} AS lng FROM events
        ),
        xyz AS (SELECT id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        pairs AS (
          SELECT a.id AS a, b.id AS b
          FROM xyz a JOIN xyz b ON b.id > a.id
          WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
                + (a.z-b.z)*(a.z-b.z) <= {limit2!r}
        ),
        adj AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
        deg AS (SELECT a AS id, count(*) AS n FROM adj GROUP BY a),
        cores AS (SELECT id FROM deg WHERE n >= {_DBSCAN_MIN_PTS} - 1),
        ce AS (
          SELECT p.a AS u, p.b AS v FROM pairs p
          JOIN cores ca ON ca.id = p.a
          JOIN cores cb ON cb.id = p.b
        ),
        e AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
        ),
        comp AS (
          SELECT c.id, least(c.id, COALESCE(MIN(r.v), c.id)) AS rep
          FROM cores c LEFT JOIN reach r ON r.u = c.id
          GROUP BY c.id
        ),
        border AS (
          SELECT a.a AS id, MIN(cm.rep) AS rep
          FROM adj a JOIN comp cm ON cm.id = a.b
          WHERE a.a NOT IN (SELECT id FROM cores)
          GROUP BY a.a
        )
        SELECT id AS event_id, rep AS cluster, 'core' AS role FROM comp
        UNION ALL
        SELECT id AS event_id, rep AS cluster, 'border' AS role FROM border
        ORDER BY event_id
    """


def _q_cluster_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed contract (the stage-composition certificate pattern of
    q_corpus_pipeline / q_geo_stratified_dedup, session-3 edition):
    DBSCAN the event points, then profile every cluster with the two
    bounded-state sketches — KMV distinct users and bottom-k sampled
    median value — in one pipeline.  ONE DuckDB oracle replays the
    whole chain (brute pair join + recursive-CTE reachability +
    hash-rank sketch replays), so the composition is certified, not
    just the stages."""
    from geo_spark.operators.clustering import geo_dbscan
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.sketches import kmv_distinct, sampled_group_median

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    members = geo_dbscan(
        ev, _DBSCAN_EPS_RAD, _DBSCAN_MIN_PTS, key="event_id"
    ).join(
        ev.select("event_id", "user_id", "value"), "event_id"
    )
    sizes = members.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    users = kmv_distinct(members, ["cluster"], "user_id", k=_KMV_K).select(
        "cluster", F.col("est_distinct").alias("est_users")
    )
    med = sampled_group_median(
        members, ["cluster"], "value", "event_id", k=64
    ).select("cluster", F.col("median").alias("median_value"))
    return (
        sizes.join(users, "cluster").join(med, "cluster").orderBy("cluster")
    )


def _oracle_cluster_profiles() -> str:
    from geo_spark.operators.sketches import kmv_hash_sql

    # the dbscan CTE chain, verbatim, minus its final SELECT
    dbscan = _oracle_geo_dbscan()
    body = dbscan[: dbscan.index("SELECT id AS event_id")].rstrip()
    h = kmv_hash_sql("user_id")
    k = _KMV_K
    return f"""{body},
        members AS (
          SELECT m.event_id, m.cluster, e.user_id, e.value
          FROM (
            SELECT id AS event_id, rep AS cluster FROM comp
            UNION ALL
            SELECT id AS event_id, rep AS cluster FROM border
          ) m JOIN events e ON e.event_id = m.event_id
        ),
        sizes AS (
          SELECT cluster, count(*) AS n_members FROM members GROUP BY 1
        ),
        kd AS (SELECT DISTINCT cluster, {h} AS hv FROM members),
        kr AS (SELECT cluster, hv,
                      row_number() OVER (
                        PARTITION BY cluster ORDER BY hv) AS rn
               FROM kd),
        kagg AS (
          SELECT cluster, count(*) AS n_kept, max(hv) AS kth
          FROM kr WHERE rn <= {k} GROUP BY 1
        ),
        users AS (
          SELECT cluster,
                 CASE WHEN n_kept < {k} THEN n_kept
                      ELSE ({k - 1} * 4294967296) // kth END AS est_users
          FROM kagg
        ),
        mkept AS (
          SELECT cluster, event_id, value FROM (
            SELECT cluster, event_id, value,
                   row_number() OVER (
                     PARTITION BY cluster
                     ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                   ) AS rn
            FROM members
          ) WHERE rn <= 64
        ),
        mranked AS (
          SELECT cluster, value,
                 row_number() OVER (
                   PARTITION BY cluster ORDER BY value, event_id) AS vr,
                 count(*) OVER (PARTITION BY cluster) AS m
          FROM mkept
        ),
        med AS (
          SELECT cluster, value AS median_value
          FROM mranked WHERE vr = CAST(ceil(m / 2.0) AS BIGINT)
        )
        SELECT s.cluster, s.n_members, u.est_users, md.median_value
        FROM sizes s JOIN users u USING (cluster) JOIN med md USING (cluster)
        ORDER BY s.cluster
    """


# deterministic synthetic link graph: 3 LCG-derived outlinks per node
# (identical integer arithmetic in Spark SQL and DuckDB)
_LINK_STREAMS = ((48271, 11), (69621, 23), (40692, 37))
_PR_ITERS = 3
_PR_DAMPING = 0.85


def _q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a deterministic synthetic link graph on events
    (nodes = event ids, edges = 3 LCG outlinks per node, self-loops
    dropped, deduped): 3 power iterations at damping 0.85 with
    distributed dangling-mass redistribution (operators/linkgraph.py).
    The oracle replays the same spec as 3 unrolled relational steps in
    DuckDB.  Ranks are ROUND-scaled to 1e12: the 3-free contribution
    paths produce exact decimal rationals that sit ON integer granules
    (FLOOR there flips on ULP noise — observed at sf0.01); rounding
    moves the decision boundary to half-integers, which the same
    rationals essentially never hit, and the generic (deg-3-tainted)
    values carry only ULP-scale error, 8 orders below the granule."""
    from geo_spark.operators.linkgraph import pagerank

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    edges = None
    for a, b in _LINK_STREAMS:
        e = ev.select(
            F.col("event_id").alias("src"),
            ((F.col("event_id") * a + b) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    pr = pagerank(
        edges,
        ev,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        node_key="event_id",
    )
    return pr.select(
        "event_id",
        F.round(F.col("rank") * 1e12, 0).cast("long").alias("rank_x1e12"),
    ).orderBy("event_id")


def _oracle_link_pagerank() -> str:
    links = " UNION ALL ".join(
        f"SELECT id AS src, (id * {a} + {b}) % (SELECT n FROM n) AS dst"
        " FROM nodes"
        for a, b in _LINK_STREAMS
    )
    d = _PR_DAMPING
    steps = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""c{i} AS (
          SELECT e.dst AS id, SUM(r._rank / e.deg) AS c
          FROM edges e JOIN {prev} r ON r.id = e.src
          GROUP BY e.dst),
        dm{i} AS (
          SELECT COALESCE(SUM(r._rank), 0.0) AS dm
          FROM {prev} r LEFT JOIN outdeg o ON o.src = r.id
          WHERE o.src IS NULL),
        r{i} AS (
          SELECT nd.id,
                 (1.0 - {d}) / (SELECT n FROM n)
                 + {d} * (COALESCE(c.c, 0.0)
                          + dm{i}.dm / (SELECT n FROM n)) AS _rank
          FROM nodes nd CROSS JOIN dm{i}
          LEFT JOIN c{i} c ON c.id = nd.id)"""
        )
        prev = f"r{i}"
    steps_sql = ",\n        ".join(steps)
    return f"""
        WITH nodes AS (SELECT event_id AS id FROM events),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        raw_edges AS ({links}),
        dedup AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src != dst),
        outdeg AS (SELECT src, COUNT(*) AS deg FROM dedup GROUP BY src),
        edges AS (SELECT e.src, e.dst, o.deg
                  FROM dedup e JOIN outdeg o ON o.src = e.src),
        r0 AS (SELECT id, 1.0 / (SELECT n FROM n) AS _rank FROM nodes),
        {steps_sql}
        SELECT id AS event_id,
               CAST(ROUND(_rank * 1e12) AS BIGINT) AS rank_x1e12
        FROM {prev} ORDER BY event_id
    """


def _q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the same synthetic link graph as
    q_link_pagerank: 3 L1-normalized half-step pairs
    (a = normalize(E^T h), h = normalize(E a)).  ROUND-x1e12 scaling for
    the same ULP-granule reason documented on the PageRank query; the
    oracle unrolls the identical spec relationally."""
    from geo_spark.operators.linkgraph import hits

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    edges = None
    for a, b in _LINK_STREAMS:
        e = ev.select(
            F.col("event_id").alias("src"),
            ((F.col("event_id") * a + b) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    hs = hits(edges, ev, iterations=_PR_ITERS, node_key="event_id")
    return hs.select(
        "event_id",
        F.round(F.col("hub") * 1e12, 0).cast("long").alias("hub_x1e12"),
        F.round(F.col("auth") * 1e12, 0).cast("long").alias("auth_x1e12"),
    ).orderBy("event_id")


def _oracle_link_hits() -> str:
    links = " UNION ALL ".join(
        f"SELECT id AS src, (id * {a} + {b}) % (SELECT n FROM n) AS dst"
        " FROM nodes"
        for a, b in _LINK_STREAMS
    )
    steps = []
    prev = "h0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""ar{i} AS (
          SELECT e.dst AS id, SUM(h.h) AS a
          FROM dedup e JOIN {prev} h ON h.id = e.src
          GROUP BY e.dst),
        at{i} AS (SELECT COALESCE(SUM(a), 1.0) AS t FROM ar{i}),
        a{i} AS (
          SELECT nd.id, COALESCE(ar.a, 0.0) / at{i}.t AS a
          FROM nodes nd CROSS JOIN at{i}
          LEFT JOIN ar{i} ar ON ar.id = nd.id),
        hr{i} AS (
          SELECT e.src AS id, SUM(a.a) AS h
          FROM dedup e JOIN a{i} a ON a.id = e.dst
          GROUP BY e.src),
        ht{i} AS (SELECT COALESCE(SUM(h), 1.0) AS t FROM hr{i}),
        h{i} AS (
          SELECT nd.id, COALESCE(hr.h, 0.0) / ht{i}.t AS h
          FROM nodes nd CROSS JOIN ht{i}
          LEFT JOIN hr{i} hr ON hr.id = nd.id)"""
        )
        prev = f"h{i}"
    steps_sql = ",\n        ".join(steps)
    k = _PR_ITERS
    return f"""
        WITH nodes AS (SELECT event_id AS id FROM events),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        raw_edges AS ({links}),
        dedup AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src != dst),
        h0 AS (SELECT id, 1.0 / (SELECT n FROM n) AS h FROM nodes),
        {steps_sql}
        SELECT h{k}.id AS event_id,
               CAST(ROUND(h{k}.h * 1e12) AS BIGINT) AS hub_x1e12,
               CAST(ROUND(a{k}.a * 1e12) AS BIGINT) AS auth_x1e12
        FROM h{k} JOIN a{k} ON a{k}.id = h{k}.id
        ORDER BY event_id
    """


_ZONAL_ZOOM = 6


def _tile_center_sqls(zoom: int) -> tuple[str, str]:
    """(lat_sql, lng_sql) of a web-mercator tile's CENTER with {tx}/{ty}
    placeholders — the inverse-mercator formula written with explicit
    exp() (DuckDB has no sinh), identical text on both engines."""
    import math

    n = float(1 << zoom)
    a = f"({math.pi!r} * (1.0 - 2.0 * ({{ty}} + 0.5) / {n!r}))"
    lat = f"degrees(atan((exp({a}) - exp(-{a})) / 2.0))"
    lng = f"(({{tx}} + 0.5) / {n!r} * 360.0 - 180.0)"
    return lat, lng


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (the classic raster->vector aggregation): the
    event heatmap rasterizes to zoom-6 web-mercator tile counts, each
    occupied tile's CENTER is assigned to the spherical-cap zones via
    the covering join, and every zone reports tile count / value sum /
    fixed-point mean.  Scale shape: events collapse to the bounded tile
    table first (the only full-data shuffle); the zone join touches one
    row per occupied tile, never per event."""
    from geo_spark.functions.s2 import s2_cellid
    from geo_spark.functions.webgrid import mercator_xy_cols
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.spatial_join import spatial_join

    n = 1 << _ZONAL_ZOOM
    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    tx, ty = mercator_xy_cols(F.col("lat"), F.col("lng"), _ZONAL_ZOOM)
    tiles = (
        ev.select(tx.alias("tx"), ty.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    lat_sql, lng_sql = _tile_center_sqls(_ZONAL_ZOOM)
    centers = tiles.select(
        (F.col("tx") * n + F.col("ty")).alias("tile"),
        "v",
        F.expr(lat_sql.format(ty="ty")).alias("lat"),
        F.expr(lng_sql.format(tx="tx")).alias("lng"),
    ).withColumn("cell_id", s2_cellid(F.col("lat"), F.col("lng")))
    joined = spatial_join(
        centers,
        _cap_layer(spark),
        point_key="tile",
        carry=("v",),
        latlng=("lat", "lng"),
    )
    return (
        joined.groupBy("geom_id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .select(
            "geom_id",
            "n_tiles",
            "sum_v",
            F.expr("(sum_v * 1000000) div n_tiles").alias("mean_v_x1e6"),
        )
        .orderBy("geom_id")
    )


def _oracle_zonal_stats() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", _ZONAL_ZOOM)
    lat_c, lng_c = _tile_center_sqls(_ZONAL_ZOOM)
    caps = ", ".join(
        "({g}, cos(radians({ln!r}))*cos(radians({la!r})), "
        "sin(radians({ln!r}))*cos(radians({la!r})), sin(radians({la!r})), {r2!r})".format(
            g=g, la=la, ln=ln, r2=chord2_from_angle(r)
        )
        for g, la, ln, r in _CAPS
    )
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        t AS (SELECT {x} AS tx, {y} AS ty FROM pts),
        tiles AS (SELECT tx, ty, COUNT(*) AS v FROM t GROUP BY 1, 2),
        c AS (SELECT v, {lat_c.format(ty="ty")} AS lat,
                     {lng_c.format(tx="tx")} AS lng
              FROM tiles),
        xyz AS (SELECT v,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM c),
        caps(geom_id, cx, cy, cz, r2) AS (VALUES {caps}),
        m AS (SELECT geom_id, v
              FROM xyz, caps
              WHERE least((x-cx)*(x-cx) + (y-cy)*(y-cy) + (z-cz)*(z-cz),
                          4.0) <= r2)
        SELECT geom_id, COUNT(*) AS n_tiles,
               CAST(SUM(v) AS BIGINT) AS sum_v,
               CAST((CAST(SUM(v) AS BIGINT) * 1000000) // COUNT(*) AS BIGINT)
                   AS mean_v_x1e6
        FROM m GROUP BY geom_id ORDER BY geom_id
    """


_FOCAL_ZOOM = 7


_KDE_RADIUS = 2


def _q_tile_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Separable binomial-kernel density (operators/tiling.py:tile_kde)
    over zoom-7 mercator tiles, radius 2 (kernel 1,4,6,4,1): two 1-D
    convolution passes on the occupied-tile table.  The oracle applies
    the NON-separated 2-D product kernel in one cross join, so the
    hash match certifies the separability identity, not a replay of
    the same pass order.  Integer weights end to end — no float in any
    compared column."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import tile_kde

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    return tile_kde(ev, _FOCAL_ZOOM, radius=_KDE_RADIUS).orderBy("tx", "ty")


def _oracle_tile_kde() -> str:
    from math import comb

    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    zoom = _FOCAL_ZOOM
    n = 1 << zoom
    r = _KDE_RADIUS
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", zoom)
    offs = ",".join(
        f"({j - r},{comb(2 * r, j)})" for j in range(2 * r + 1)
    )
    return f"""
        WITH pts AS (SELECT {lat} AS lat, {lng} AS lng FROM events),
        tiles AS (SELECT {x} AS tx, {y} AS ty FROM pts),
        base AS (SELECT tx, ty, COUNT(*) AS cnt FROM tiles GROUP BY tx, ty),
        offs(d, w) AS (VALUES {offs}),
        contrib AS (
          SELECT ((b.tx + ox.d) + {n}) % {n} AS nx, b.ty + oy.d AS ny,
                 SUM(b.cnt * ox.w * oy.w) AS density
          FROM base b CROSS JOIN offs ox CROSS JOIN offs oy
          WHERE b.ty + oy.d >= 0 AND b.ty + oy.d < {n}
          GROUP BY 1, 2)
        SELECT c.nx AS tx, c.ny AS ty, CAST(c.density AS BIGINT) AS density
        FROM contrib c
        WHERE EXISTS (SELECT 1 FROM base b WHERE b.tx = c.nx AND b.ty = c.ny)
        ORDER BY tx, ty
    """


def _q_tile_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-algebra focal (3x3) mean over the zoom-7 web-mercator tile
    grid (heatmap smoothing): events collapse to occupied tiles first
    (the only full-data shuffle), the 9-offset explode multiplies only
    the bounded tile table, x wraps the antimeridian, y clamps at the
    grid edge.  The DuckDB twin re-derives tiles and the smoothing sum
    from first principles with its own offsets cross join."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import tile_focal_mean

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    return tile_focal_mean(ev, _FOCAL_ZOOM).orderBy("tx", "ty")


def _oracle_tile_focal_mean() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    zoom = _FOCAL_ZOOM
    n = 1 << zoom
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", zoom)
    return f"""
        WITH pts AS (SELECT {lat} AS lat, {lng} AS lng FROM events),
        tiles AS (SELECT {x} AS tx, {y} AS ty FROM pts),
        base AS (SELECT tx, ty, COUNT(*) AS cnt FROM tiles GROUP BY tx, ty),
        offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                                (1,-1),(1,0),(1,1)),
        contrib AS (
          SELECT ((b.tx + o.dx) + {n}) % {n} AS nx, b.ty + o.dy AS ny,
                 SUM(b.cnt) AS s
          FROM base b CROSS JOIN offs o
          WHERE b.ty + o.dy >= 0 AND b.ty + o.dy < {n}
          GROUP BY 1, 2)
        SELECT c.nx AS tx, c.ny AS ty,
               CAST(FLOOR(c.s * 1000000 / 9) AS BIGINT) AS smoothed
        FROM contrib c
        WHERE EXISTS (SELECT 1 FROM base b WHERE b.tx = c.nx AND b.ty = c.ny)
        ORDER BY tx, ty
    """


_SLOPE_ZOOM = 6


def _q_tile_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-algebra terrain gradient (Horn's method,
    operators/tiling.tile_slope_aspect) over the zoom-6 web-mercator
    grid with the per-tile event count as the cell value: per occupied
    tile the exact BIGINT Sobel differences (gx, gy), the squared
    gradient magnitude and the 45-degree aspect octant.  One full-data
    shuffle (tile counts), then a bounded 8x scatter of the tile table
    re-summed per target — all native SQL.  The DuckDB twin re-derives
    tiles, counts and the full stencil from first principles with its
    own weighted offsets cross join and octant CASE."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.tiling import tile_slope_aspect

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    return tile_slope_aspect(ev, _SLOPE_ZOOM).orderBy("tx", "ty")


def _oracle_tile_slope() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    zoom = _SLOPE_ZOOM
    n = 1 << zoom
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    x, y = mercator_xy_sql("lat", "lng", zoom)
    offs = ", ".join(
        f"({dx},{dy},{(-dx) * (2 - abs(dy))},{(-dy) * (2 - abs(dx))})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    )
    return f"""
        WITH pts AS (SELECT {lat} AS lat, {lng} AS lng FROM events),
        tiles AS (SELECT {x} AS tx, {y} AS ty FROM pts),
        base AS (SELECT tx, ty, COUNT(*) AS cnt FROM tiles GROUP BY tx, ty),
        offs(dx, dy, wx, wy) AS (VALUES {offs}),
        contrib AS (
          SELECT ((b.tx + o.dx) + {n}) % {n} AS nx, b.ty + o.dy AS ny,
                 SUM(b.cnt * o.wx) AS gx, SUM(b.cnt * o.wy) AS gy
          FROM base b CROSS JOIN offs o
          WHERE b.ty + o.dy >= 0 AND b.ty + o.dy < {n}
          GROUP BY 1, 2),
        g AS (SELECT b.tx, b.ty,
                     CAST(COALESCE(c.gx, 0) AS BIGINT) AS gx,
                     CAST(COALESCE(c.gy, 0) AS BIGINT) AS gy
              FROM base b LEFT JOIN contrib c
                ON c.nx = b.tx AND c.ny = b.ty)
        SELECT tx, ty, gx, gy, gx*gx + gy*gy AS slope2,
               CAST(CASE
                 WHEN gx = 0 AND gy = 0 THEN -1
                 WHEN gy >= 0 AND gx > 0 AND gx > gy THEN 0
                 WHEN gy > 0 AND gx > 0 AND gx <= gy THEN 1
                 WHEN gy > 0 AND gx <= 0 AND gy > -gx THEN 2
                 WHEN gy > 0 AND gx < 0 AND -gx >= gy THEN 3
                 WHEN gy = 0 AND gx < 0 THEN 4
                 WHEN gy < 0 AND gx < 0 AND -gx > -gy THEN 4
                 WHEN gy < 0 AND gx < 0 AND -gx <= -gy THEN 5
                 WHEN gy < 0 AND gx >= 0 AND -gy > gx THEN 6
                 ELSE 7 END AS BIGINT) AS octant
        FROM g ORDER BY tx, ty
    """


_TNW_N = 1500  # events in the network fixture (bounds the oracle's closure)


def _q_trail_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trail-network topology (operators/network.py): consecutive event
    pairs per user become segments, endpoints snap to integer-degree
    E0 sites (kernel/builder.snap_latlng_e semantics, native codegen),
    segments between distinct sites aggregate to a weighted undirected
    junction graph, and connected components (the shared large-star/
    small-star routine) roll up to (rep, n_junctions, n_edges,
    n_segments).  Coordinates come from the pure-double degree streams
    so the DuckDB twin replays snap + site keys bit-exactly and
    resolves components with a recursive transitive closure."""
    from geo_spark.operators.geo_noise import LAT_D_SQL, LNG_D_SQL
    from geo_spark.operators.network import (
        network_components,
        trail_network_edges,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") < _TNW_N)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.expr(LAT_D_SQL.format(id="event_id")).alias("lat"),
            F.expr(LNG_D_SQL.format(id="event_id")).alias("lng"),
        )
    )
    edges = trail_network_edges(
        ev, order_cols=("ts", "event_id"), exponent=0
    )
    return network_components(edges).orderBy("rep")


def _oracle_trail_network() -> str:
    from geo_spark.operators.geo_noise import LAT_D_SQL, LNG_D_SQL

    lat = LAT_D_SQL.format(id="event_id")
    lng = LNG_D_SQL.format(id="event_id")

    def rnd(v: str) -> str:
        return (
            f"CASE WHEN ({v}) >= 0 THEN CAST(FLOOR(({v}) + 0.5e0) AS BIGINT)"
            f" ELSE -CAST(FLOOR(-({v}) + 0.5e0) AS BIGINT) END"
        )

    return f"""
        WITH RECURSIVE
        pts AS (SELECT user_id, ts, event_id,
                       ({rnd(lat)} + 90) * 361 + ({rnd(lng)} + 180) AS site
                FROM events WHERE event_id < {_TNW_N}),
        seg AS (SELECT site AS a,
                       LEAD(site) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS b
                FROM pts),
        ed AS (SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v,
                      COUNT(*) AS n_segments
               FROM seg WHERE b IS NOT NULL AND a <> b
               GROUP BY 1, 2),
        e AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
        ),
        lbl AS (SELECT u AS id, LEAST(u, MIN(v)) AS rep
                FROM reach GROUP BY u),
        junc AS (SELECT rep, COUNT(*) AS n_junctions FROM lbl GROUP BY rep),
        per_edge AS (SELECT l.rep, COUNT(*) AS n_edges,
                            SUM(ed.n_segments) AS n_segments
                     FROM ed JOIN lbl l ON l.id = ed.u
                     GROUP BY l.rep)
        SELECT j.rep, j.n_junctions,
               CAST(p.n_edges AS BIGINT) AS n_edges,
               CAST(p.n_segments AS BIGINT) AS n_segments
        FROM junc j JOIN per_edge p ON p.rep = j.rep
        ORDER BY j.rep
    """


def _clip_loops():
    """Four convex CCW 8-gon loops (computed ONCE in driver Python;
    both engines consume the identical doubles — the operator through
    the Layer closure, the oracle as %.17e literals, so no trig sits
    in the compared chain).  Convexity is asserted so the oracle's
    all-edges-positive PIP rule is exact."""
    import math

    import numpy as np

    from geo_spark.sources.layers import regular_loop_vertices

    specs = [
        (0.0, 0.0, 50.0),
        (30.0, 100.0, 25.0),
        (-40.0, -60.0, 35.0),
        (60.0, 170.0, 15.0),
    ]
    out = []
    for gid, (la, ln, rdeg) in enumerate(specs):
        v = regular_loop_vertices(la, ln, math.radians(rdeg), 8)
        d = np.roll(v, -1, axis=0)
        ne = np.cross(v, d)
        dots = ne @ v.T  # edge i x vertex j; incident vertices give ~0
        assert (dots > -1e-12).all(), f"loop {gid} not convex CCW"
        out.append((gid, v))
    return out


def _q_region_route_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-length join (operators/cliplen.py): chord length of each
    trail INSIDE each region — the fused clip+measure overlay ("road
    length per admin area").  200 five-vertex trails from the
    pure-double cube streams x 4 convex literal loops; candidates via
    the covering-term equi-join, refine = SimpleCrossing sign pattern
    + chord-plane crossing parameters + parity accumulation, every
    term floor-quantized to exact BIGINTs.  The DuckDB twin replays
    vertex synthesis, segment/edge normals, the triple-sign crossing
    pattern, t = dac/(dac-dbc), the parity windows and the per-term
    quantization bit for bit (everything IEEE +,-,*,/,sqrt on
    identical inputs)."""
    import numpy as np

    from geo_spark.kernel.regions import LoopRegion, PolylineRegion
    from geo_spark.operators.cliplen import clip_length_join
    from geo_spark.operators.spatial_join import build_layer

    a_expr, b_expr, c_expr = _rsp_vert_exprs()
    ev = (
        _t(spark, sf_dir, "events")
        .where(
            (F.col("event_id") < 1600) & (F.col("event_id") % 8 < _RSP_NV)
        )
        .select(
            F.expr("event_id div 8").alias("trail"),
            (F.col("event_id") % 8).alias("seq"),
            F.expr(a_expr).alias("_a"),
            F.expr(b_expr).alias("_b"),
            F.expr(c_expr).alias("_c"),
        )
    )
    nrm = F.sqrt(
        (F.col("_a") * F.col("_a") + F.col("_b") * F.col("_b"))
        + F.col("_c") * F.col("_c")
    )
    pdf = (
        ev.select(
            "trail",
            "seq",
            (F.col("_a") / nrm).alias("x"),
            (F.col("_b") / nrm).alias("y"),
            (F.col("_c") / nrm).alias("z"),
        )
        .toPandas()
        .sort_values(["trail", "seq"])
    )
    trails = [
        (int(tid), PolylineRegion.from_vertices(g[["x", "y", "z"]].to_numpy(np.float64)))
        for tid, g in pdf.groupby("trail")
    ]
    loops = [(gid, LoopRegion.from_vertices(v)) for gid, v in _clip_loops()]
    a_layer = build_layer(spark, trails, max_cells=8, interior=False)
    b_layer = build_layer(spark, loops, max_cells=12)
    return (
        clip_length_join(a_layer, b_layer)
        .select(
            F.col("aid").alias("trail"),
            F.col("bid").alias("geom_id"),
            "n_crossings",
            "inside_q",
        )
        .orderBy("trail", "geom_id")
    )


def _cliplen_edge_values(regions) -> str:
    """regions: [(gid, [ring_verts...])] -> SQL VALUES rows with a ring
    column; every coordinate as a %.17e literal (exact double round
    trip; e-notation parses as DOUBLE in both engines)."""
    import numpy as np

    edge_rows = []
    for gid, rings in regions:
        for ri, v in enumerate(rings):
            d = np.roll(v, -1, axis=0)
            for i in range(v.shape[0]):
                coords = ", ".join(f"{x:.17e}" for x in (*v[i], *d[i]))
                edge_rows.append(f"({gid}, {ri}, {i}, {coords})")
    return ",\n          ".join(edge_rows)


def _oracle_cliplen(values: str) -> str:
    """Shared clip-length replay: per-ring convex PIP XOR-folded (the
    even-odd multi-ring rule, identical to the single-loop case when
    every gid has one ring), pooled ring edges for crossings."""
    a, b, c = _rsp_vert_exprs()
    nv = _RSP_NV
    q = "1000000000000e0"
    return f"""
        WITH vsrc AS (SELECT event_id // 8 AS trail, event_id % 8 AS seq,
                             {a} AS va, {b} AS vb, {c} AS vc
                      FROM events
                      WHERE event_id < 1600 AND event_id % 8 < {nv}),
        vx AS (SELECT trail, seq, va/n AS x, vb/n AS y, vc/n AS z
               FROM (SELECT *, sqrt((va*va + vb*vb) + vc*vc) AS n
                     FROM vsrc)),
        sg AS (SELECT p.trail, p.seq AS s,
                      p.x AS ax, p.y AS ay, p.z AS az,
                      q2.x AS bx, q2.y AS by, q2.z AS bz,
                      p.y*q2.z - p.z*q2.y AS nsx,
                      p.z*q2.x - p.x*q2.z AS nsy,
                      p.x*q2.y - p.y*q2.x AS nsz,
                      sqrt(((q2.x-p.x)*(q2.x-p.x) + (q2.y-p.y)*(q2.y-p.y))
                           + (q2.z-p.z)*(q2.z-p.z)) AS seglen
               FROM vx p JOIN vx q2
                 ON q2.trail = p.trail AND q2.seq = p.seq + 1),
        le(gid, ring, ei, cx, cy, cz, ddx, ddy, ddz) AS (VALUES
          {values}),
        led AS (SELECT *, cy*ddz - cz*ddy AS nex,
                          cz*ddx - cx*ddz AS ney,
                          cx*ddy - cy*ddx AS nez FROM le),
        pip0 AS (SELECT v.trail, l.gid, l.ring,
                        MIN(CASE WHEN (l.nex*v.x + l.ney*v.y) + l.nez*v.z > 0e0
                                 THEN 1 ELSE 0 END) AS ins
                 FROM (SELECT trail, x, y, z FROM vx WHERE seq = 0) v
                 CROSS JOIN led l GROUP BY 1, 2, 3),
        pip AS (SELECT trail, gid, SUM(ins) % 2 AS ins0
                FROM pip0 GROUP BY 1, 2),
        xr0 AS (SELECT s.trail, s.s, l.gid, s.seglen,
                       -((s.nsx*l.cx + s.nsy*l.cy) + s.nsz*l.cz) AS acb,
                       (s.nsx*l.ddx + s.nsy*l.ddy) + s.nsz*l.ddz AS bda,
                       (l.nex*s.ax + l.ney*s.ay) + l.nez*s.az AS dac,
                       (l.nex*s.bx + l.ney*s.by) + l.nez*s.bz AS dbc
                FROM sg s CROSS JOIN led l),
        xr AS (SELECT trail, s, gid, seglen, dac/(dac - dbc) AS t
               FROM xr0
               WHERE acb*bda > 0e0 AND acb*(-dbc) > 0e0
                 AND acb*dac > 0e0),
        xc AS (SELECT trail, gid, s, COUNT(*) AS m FROM xr GROUP BY 1, 2, 3),
        prs AS (SELECT t.trail, g.gid
                FROM (SELECT DISTINCT trail FROM vx) t
                CROSS JOIN (SELECT DISTINCT gid FROM le) g),
        segx AS (SELECT p.trail, p.gid, s.s, s.seglen, COALESCE(xc.m, 0) AS m
                 FROM prs p JOIN sg s ON s.trail = p.trail
                 LEFT JOIN xc ON xc.trail = p.trail AND xc.gid = p.gid
                             AND xc.s = s.s),
        par AS (SELECT *, COALESCE(SUM(m) OVER (
                            PARTITION BY trail, gid ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS bef
                FROM segx),
        insd AS (SELECT par.trail, par.gid, par.s, par.seglen, par.m,
                        (pip.ins0 + par.bef) % 2 AS i0
                 FROM par JOIN pip ON pip.trail = par.trail
                                  AND pip.gid = par.gid),
        endt AS (SELECT trail, gid,
                        CAST(FLOOR(seglen * {q}) AS BIGINT) AS qq
                 FROM insd WHERE (i0 + m) % 2 = 1),
        xrt AS (SELECT trail, gid, s, t, seglen,
                       ROW_NUMBER() OVER (PARTITION BY trail, gid, s
                                          ORDER BY t) AS rn
                FROM xr),
        xq AS (SELECT x.trail, x.gid,
                      CAST(FLOOR(((CASE WHEN (i.i0 + x.rn - 1) % 2 = 1
                                        THEN 1.0e0 ELSE -1.0e0 END * x.t)
                                  * x.seglen) * {q}) AS BIGINT) AS qq
               FROM xrt x JOIN insd i
                 ON i.trail = x.trail AND i.gid = x.gid AND i.s = x.s),
        allq AS (SELECT trail, gid, qq FROM endt
                 UNION ALL SELECT trail, gid, qq FROM xq),
        tot AS (SELECT trail, gid, SUM(qq) AS inside_q
                FROM allq GROUP BY 1, 2),
        cnt AS (SELECT trail, gid, SUM(m) AS n_crossings
                FROM insd GROUP BY 1, 2)
        SELECT c.trail, c.gid AS geom_id,
               CAST(c.n_crossings AS BIGINT) AS n_crossings,
               CAST(COALESCE(t.inside_q, 0) AS BIGINT) AS inside_q
        FROM cnt c LEFT JOIN tot t
          ON t.trail = c.trail AND t.gid = c.gid
        WHERE c.n_crossings > 0 OR COALESCE(t.inside_q, 0) <> 0
        ORDER BY c.trail, geom_id
    """


def _oracle_region_route_length() -> str:
    return _oracle_cliplen(
        _cliplen_edge_values([(gid, [v]) for gid, v in _clip_loops()])
    )


def _donut_regions():
    """Two multi-ring even-odd regions: a donut (18-degree hole inside
    a 45-degree outer ring) and a symmetric-difference pair of
    overlapping rings.  Rings convex CCW (asserted) so the oracle's
    per-ring all-edges-positive rule is exact; ring orientation is
    irrelevant to the operator (parity PIP)."""
    import math

    import numpy as np

    from geo_spark.sources.layers import regular_loop_vertices

    specs = [
        [(10.0, 20.0, 45.0), (12.0, 22.0, 18.0)],
        [(-30.0, -120.0, 20.0), (-35.0, -100.0, 10.0)],
    ]
    out = []
    for gid, rings in enumerate(specs):
        vs = []
        for la, ln, rdeg in rings:
            v = regular_loop_vertices(la, ln, math.radians(rdeg), 8)
            d = np.roll(v, -1, axis=0)
            ne = np.cross(v, d)
            assert ((ne @ v.T) > -1e-12).all(), f"ring not convex CCW"
            vs.append(v)
        out.append((gid, vs))
    return out


def _q_donut_route_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clip_length_join over MULTI-RING even-odd regions — a donut
    (hole excluded from the measure) and a symmetric-difference ring
    pair: the same 200 cube-stream trails, crossings pooled over all
    ring edges, membership = XOR of ring parities.  Same bit-exact
    oracle discipline as q_region_route_length through the shared
    replay builder (per-ring convex PIP folded with SUM % 2)."""
    import numpy as np

    from geo_spark.kernel.regions import PolygonRegion, PolylineRegion
    from geo_spark.operators.cliplen import clip_length_join
    from geo_spark.operators.spatial_join import build_layer

    a_expr, b_expr, c_expr = _rsp_vert_exprs()
    ev = (
        _t(spark, sf_dir, "events")
        .where(
            (F.col("event_id") < 1600) & (F.col("event_id") % 8 < _RSP_NV)
        )
        .select(
            F.expr("event_id div 8").alias("trail"),
            (F.col("event_id") % 8).alias("seq"),
            F.expr(a_expr).alias("_a"),
            F.expr(b_expr).alias("_b"),
            F.expr(c_expr).alias("_c"),
        )
    )
    nrm = F.sqrt(
        (F.col("_a") * F.col("_a") + F.col("_b") * F.col("_b"))
        + F.col("_c") * F.col("_c")
    )
    pdf = (
        ev.select(
            "trail",
            "seq",
            (F.col("_a") / nrm).alias("x"),
            (F.col("_b") / nrm).alias("y"),
            (F.col("_c") / nrm).alias("z"),
        )
        .toPandas()
        .sort_values(["trail", "seq"])
    )
    trails = [
        (int(tid), PolylineRegion.from_vertices(g[["x", "y", "z"]].to_numpy(np.float64)))
        for tid, g in pdf.groupby("trail")
    ]
    regions = [
        (gid, PolygonRegion.from_loops(rings))
        for gid, rings in _donut_regions()
    ]
    a_layer = build_layer(spark, trails, max_cells=8, interior=False)
    b_layer = build_layer(spark, regions, max_cells=12)
    return (
        clip_length_join(a_layer, b_layer)
        .select(
            F.col("aid").alias("trail"),
            F.col("bid").alias("geom_id"),
            "n_crossings",
            "inside_q",
        )
        .orderBy("trail", "geom_id")
    )


def _oracle_donut_route_length() -> str:
    return _oracle_cliplen(_cliplen_edge_values(_donut_regions()))


def _dissolve_fixtures():
    """Per hot city: a chain of 3 overlapping convex discs (each
    overlaps the next; the union is one blob) plus one detached disc —
    the dissolve must merge the chain and keep the island separate."""
    from geo_spark.sources.layers import regular_loop_vertices

    out = []
    for grp, (la, ln) in enumerate(_BOOL_CITIES):
        discs = [
            regular_loop_vertices(la, ln, 0.02, 18),
            regular_loop_vertices(la + 0.9, ln + 0.5, 0.022, 20),
            regular_loop_vertices(la + 1.8, ln + 1.0, 0.018, 16),
            regular_loop_vertices(la - 3.0, ln - 3.0, 0.012, 14),
        ]
        for d in discs:
            out.append((grp, d))
    return out


def _q_dissolve_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIS dissolve (per-group polygon union aggregation,
    operators/constructive.dissolve): overlapping disc chains merge into
    one region per group; events are classified against the DISSOLVED
    ring sets (XOR parity).  The DuckDB twin never dissolves — it counts
    events inside ANY input disc (OR of convex edge-sign tests), which
    equals the dissolved region's membership by the union contract."""
    import numpy as np
    import pandas as pd

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.pip import loop_contains_points, loop_origin_inside
    from geo_spark.operators.constructive import dissolve
    from geo_spark.operators.geo_noise import with_geo_noise

    rows = [
        (grp, [[[float(c) for c in p] for p in verts]])
        for grp, verts in _dissolve_fixtures()
    ]
    geoms = spark.createDataFrame(
        rows, "grp int, rings array<array<array<double>>>"
    )
    dissolved = dissolve(geoms).collect()
    fixtures = [
        (
            int(r["grp"]),
            [
                (np.array(rg), loop_origin_inside(np.array(rg)))
                for rg in r["rings"]
            ],
        )
        for r in dissolved
    ]

    ev = with_geo_noise(_t(spark, sf_dir, "events").select("event_id"), "event_id")

    def fn(batches):
        for pdf in batches:
            x, y, z = ck.latlng_to_xyz(
                pdf["lat"].to_numpy(np.float64), pdf["lng"].to_numpy(np.float64)
            )
            pts = np.stack([x, y, z], axis=1)
            out = []
            for grp, prepped in fixtures:
                inside = np.zeros(len(pts), dtype=bool)
                for rg, oi in prepped:
                    inside ^= loop_contains_points(rg, oi, pts)
                out.append((grp, int(inside.sum())))
            yield pd.DataFrame(out, columns=["grp", "n"])

    return (
        ev.mapInPandas(fn, "grp int, n long")
        .groupBy("grp")
        .agg(F.sum("n").alias("n_inside"))
        .orderBy("grp")
    )


def _oracle_dissolve_counts() -> str:
    import numpy as np

    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    rows = []
    for gi, (grp, verts) in enumerate(_dissolve_fixtures()):
        v = np.asarray(verts)
        for k in range(len(v)):
            nrm = np.cross(v[k], v[(k + 1) % len(v)])
            rows.append(
                f"({grp}, {gi}, {float(nrm[0])!r}, {float(nrm[1])!r}, "
                f"{float(nrm[2])!r})"
            )
    norms = ", ".join(rows)
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        norms(grp, disc, nx, ny, nz) AS (VALUES {norms}),
        memb AS (
          SELECT n.grp, n.disc, x.event_id,
                 BOOL_AND(n.nx*x.x + n.ny*x.y + n.nz*x.z > 0) AS in_disc
          FROM xyz x, norms n
          GROUP BY n.grp, n.disc, x.event_id),
        any_in AS (
          SELECT grp, event_id, BOOL_OR(in_disc) AS inside
          FROM memb GROUP BY grp, event_id)
        SELECT CAST(grp AS INT) AS grp,
               COUNT(*) FILTER (WHERE inside) AS n_inside
        FROM any_in GROUP BY grp ORDER BY grp
    """


_BM25_TERMS = ["table", "join", "query", "scan"]


def _q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query-term
    set (operators/text.bm25_scores — native tokenize/filter/aggregate,
    one token-table shuffle).  Scores are ROUND-scaled to 1e6 integers;
    the DuckDB twin re-derives tf/df/dl/avgdl and the scoring formula
    from first principles with its own regex split."""
    from geo_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, _BM25_TERMS)
    return out.select(
        "doc_id",
        F.round(F.col("bm25") * 1e6, 0).cast("long").alias("bm25_x1e6"),
    ).orderBy("doc_id")


def _oracle_bm25_scores() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = 1.2, 0.75
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
          FROM documents),
        ft AS (SELECT doc_id, term, COUNT(*) AS tf
               FROM toks WHERE term IN ({terms}) GROUP BY doc_id, term),
        dft AS (SELECT term, COUNT(*) AS df FROM ft GROUP BY term),
        dl AS (SELECT doc_id,
                      len(string_split_regex(lower(text), '\\s+')) AS dl
               FROM documents),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                         AVG(dl) AS avgdl
                  FROM dl),
        parts AS (
          SELECT f.doc_id,
                 ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * (f.tf * {k1 + 1.0!r})
                 / (f.tf + {k1!r} * ({1.0 - b!r} + {b!r} * l.dl / s.avgdl))
                   AS part
          FROM ft f
          JOIN dft d ON d.term = f.term
          JOIN dl l ON l.doc_id = f.doc_id
          CROSS JOIN stats s)
        SELECT doc_id,
               CAST(ROUND(SUM(part) * 1e6) AS BIGINT) AS bm25_x1e6
        FROM parts GROUP BY doc_id ORDER BY doc_id
    """


_SESS_GAP_S = 4 * 3600.0
_SESS_JUMP_RAD = 2.8


def _q_geo_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user geo-sessionization over events (pseudo-time + geo noise
    streams): sessions break on >4 h gaps OR >2.8 rad teleport hops;
    output rolls up count, span, and exact spherical travel length per
    session (operators/sessionize.py — one shuffle total: the session
    aggregate reuses the lag window's user partitioning).  The DuckDB
    twin replays the segmentation from first principles with its own
    window functions."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.sessionize import geo_sessionize

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    out = geo_sessionize(
        ev,
        _SESS_GAP_S,
        _SESS_JUMP_RAD,
        user_col="user_id",
        ts_us_col="ts_us",
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        "start_us",
        "end_us",
        F.round("travel", 6).alias("travel"),
    ).orderBy("user_id", "session_id")


def _oracle_geo_sessions() -> str:
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    gap_us = int(round(_SESS_GAP_S * 1_000_000))
    jump2 = chord2_from_angle(_SESS_JUMP_RAD)
    return f"""
        WITH pts AS (SELECT user_id, event_id, {ts} AS ts_us,
                            {lat} AS lat, {lng} AS lng
                     FROM events),
        xyz AS (SELECT user_id, event_id, ts_us,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        lagd AS (SELECT *,
                        lag(x) OVER w AS px, lag(y) OVER w AS py,
                        lag(z) OVER w AS pz, lag(ts_us) OVER w AS pts
                 FROM xyz
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        brk AS (SELECT *,
                       CASE WHEN pts IS NULL
                              OR ts_us - pts > {gap_us}
                              OR (x-px)*(x-px) + (y-py)*(y-py)
                                 + (z-pz)*(z-pz) > {jump2!r}
                            THEN 1 ELSE 0 END AS b
                FROM lagd),
        sess AS (SELECT *,
                        SUM(b) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
                 FROM brk),
        hop AS (SELECT *,
                       CASE WHEN b = 1 THEN 0.0
                            ELSE 2.0 * asin(sqrt((x-px)*(x-px)
                                 + (y-py)*(y-py) + (z-pz)*(z-pz)) / 2.0)
                       END AS h
                FROM sess)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events, MIN(ts_us) AS start_us,
               MAX(ts_us) AS end_us, ROUND(SUM(h), 6) AS travel
        FROM hop GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


_ASOF_TOL_US = 6 * 3600 * 1_000_000  # 6 h attribution window
_CONV_TOL_US = 12 * 3600 * 1_000_000  # 12 h conversion window


def _q_event_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of attribution: every purchase event matched to the most
    recent same-user non-purchase event within 6 h (inclusive ties),
    per-row output.  operators/asof.py plans this as the union-and-
    carry single-shuffle window, never a non-equi nested loop; the
    DuckDB twin uses the engine's own native ASOF LEFT JOIN — a
    structurally independent implementation of the same semantics.
    Pseudo-time stream (geo_noise.TS_US_SQL) keeps both engines on
    exact integer microseconds."""
    from pyspark.sql import Window

    from geo_spark.operators.asof import asof_join
    from geo_spark.operators.geo_noise import with_time_noise

    ev = with_time_noise(_t(spark, sf_dir, "events"), "event_id")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    # unique right (user, ts): keep max event_id — the same rule both
    # engines apply, so tie outcomes never depend on ASOF arbitration
    w = Window.partitionBy("user_id", "ts_us").orderBy(
        F.col("event_id").desc()
    )
    right = (
        ev.where(F.col("event_type") != "purchase")
        .select("user_id", "ts_us", "event_id", "event_type")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = asof_join(
        left,
        right,
        keys=["user_id"],
        left_ts="ts_us",
        right_ts="ts_us",
        right_cols=["event_id", "event_type"],
        tolerance=_ASOF_TOL_US,
    )
    return out.select(
        "event_id",
        F.col("r_event_id").alias("src_event_id"),
        F.col("r_event_type").alias("src_event_type"),
        (F.col("ts_us") - F.col("r_ts_us")).alias("gap_us"),
    ).orderBy("event_id")


def _oracle_event_asof() -> str:
    from geo_spark.operators.geo_noise import TS_US_SQL

    ts = TS_US_SQL.format(id="event_id")
    return f"""
        WITH ev AS (SELECT event_id, user_id, event_type,
                           {ts} AS ts_us
                    FROM events),
        l AS (SELECT event_id, user_id, ts_us FROM ev
              WHERE event_type = 'purchase'),
        r0 AS (SELECT user_id, ts_us, event_id, event_type,
                      row_number() OVER (PARTITION BY user_id, ts_us
                                         ORDER BY event_id DESC) AS rn
               FROM ev WHERE event_type <> 'purchase'),
        r AS (SELECT user_id, ts_us, event_id, event_type
              FROM r0 WHERE rn = 1)
        SELECT l.event_id,
               CASE WHEN l.ts_us - r.ts_us <= {_ASOF_TOL_US}
                    THEN r.event_id END AS src_event_id,
               CASE WHEN l.ts_us - r.ts_us <= {_ASOF_TOL_US}
                    THEN r.event_type END AS src_event_type,
               CASE WHEN l.ts_us - r.ts_us <= {_ASOF_TOL_US}
                    THEN l.ts_us - r.ts_us END AS gap_us
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
        ORDER BY l.event_id
    """


def _q_click_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of compose: every click matched to the user's NEXT
    purchase within 12 h (forward direction), rolled up per user into
    click count, conversions, converted cents, and an integer ppm
    conversion rate.  The DuckDB twin drives its native backward-only
    ASOF JOIN on negated timestamps (l.-ts >= r.-ts <=> r.ts >= l.ts)
    — same semantics, independent machinery."""
    from pyspark.sql import Window

    from geo_spark.operators.asof import asof_join
    from geo_spark.operators.geo_noise import with_time_noise

    ev = with_time_noise(_t(spark, sf_dir, "events"), "event_id")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    w = Window.partitionBy("user_id", "ts_us").orderBy(F.col("event_id"))
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts_us", "event_id", "value")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    j = asof_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts_us",
        right_ts="ts_us",
        right_cols=["event_id", "value"],
        direction="forward",
        tolerance=_CONV_TOL_US,
    )
    agg = j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("r_event_id").alias("n_conv"),
        F.coalesce(
            F.sum(F.floor(F.col("r_value") * 100).cast("long")), F.lit(0)
        ).alias("conv_cents"),
    )
    return agg.select(
        "user_id",
        "n_clicks",
        "n_conv",
        "conv_cents",
        F.expr("CAST(n_conv * 1000000 DIV n_clicks AS BIGINT)").alias(
            "conv_ppm"
        ),
    ).orderBy("user_id")


def _oracle_click_conversion() -> str:
    from geo_spark.operators.geo_noise import TS_US_SQL

    ts = TS_US_SQL.format(id="event_id")
    return f"""
        WITH ev AS (SELECT event_id, user_id, event_type, value,
                           {ts} AS ts_us
                    FROM events),
        l AS (SELECT event_id, user_id, ts_us, -ts_us AS nts FROM ev
              WHERE event_type = 'click'),
        r0 AS (SELECT user_id, ts_us, -ts_us AS nts, event_id, value,
                      row_number() OVER (PARTITION BY user_id, ts_us
                                         ORDER BY event_id) AS rn
               FROM ev WHERE event_type = 'purchase'),
        r AS (SELECT user_id, ts_us, nts, event_id, value
              FROM r0 WHERE rn = 1),
        m AS (SELECT l.user_id, l.event_id,
                     CASE WHEN r.ts_us - l.ts_us <= {_CONV_TOL_US}
                          THEN r.event_id END AS conv_id,
                     CASE WHEN r.ts_us - l.ts_us <= {_CONV_TOL_US}
                          THEN CAST(FLOOR(r.value * 100) AS BIGINT)
                          END AS cents
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.nts >= r.nts),
        agg AS (SELECT user_id, count(*) AS n_clicks,
                       count(conv_id) AS n_conv,
                       coalesce(sum(cents), 0) AS conv_cents
                FROM m GROUP BY user_id)
        SELECT user_id, CAST(n_clicks AS BIGINT) AS n_clicks,
               CAST(n_conv AS BIGINT) AS n_conv,
               CAST(conv_cents AS BIGINT) AS conv_cents,
               CAST(n_conv * 1000000 // n_clicks AS BIGINT) AS conv_ppm
        FROM agg ORDER BY user_id
    """


_RANGE_BAND = 4_194_304  # 2^22 cents ≈ the per-priority decile width / 1.2


def _q_price_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: per-priority price-decile intervals (built
    from orders' own cents range with pure integer arithmetic) matched
    against every OTHER priority's orders — "whose orders fall in my
    price bands".  operators/asof.py:range_join plans it as bucket
    explode + equi-join + residual BETWEEN instead of a nested loop;
    the oracle is the brute BETWEEN join."""
    from geo_spark.operators.asof import range_join

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("p_prio"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    rng = o.groupBy("p_prio").agg(
        F.min("pc").alias("mn"), F.max("pc").alias("mx")
    )
    iv = (
        rng.select(
            F.col("p_prio").alias("i_prio"),
            "mn",
            "mx",
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("dk"),
        )
        .select(
            "i_prio",
            F.col("dk").cast("long").alias("dk"),
            (F.col("mn") + F.expr("(mx - mn) * dk div 10")).alias("lo"),
            F.when(F.col("dk") == 9, F.col("mx"))
            .otherwise(
                F.col("mn") + F.expr("(mx - mn) * (dk + 1) div 10") - 1
            )
            .alias("hi"),
        )
    )
    j = range_join(o, iv, "pc", "lo", "hi", _RANGE_BAND)
    return (
        j.where(F.col("p_prio") != F.col("i_prio"))
        .groupBy("i_prio", "dk")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("pc").alias("sum_cents"),
        )
        .orderBy("i_prio", "dk")
    )


def _oracle_price_range_join() -> str:
    return """
        WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
                          CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc
                   FROM orders),
        rng AS (SELECT prio, min(pc) AS mn, max(pc) AS mx
                FROM o GROUP BY prio),
        ks AS (SELECT unnest(range(10)) AS k),
        iv AS (SELECT rng.prio AS i_prio, CAST(ks.k AS BIGINT) AS dk,
                      mn + (mx - mn) * k // 10 AS lo,
                      CASE WHEN k = 9 THEN mx
                           ELSE mn + (mx - mn) * (k + 1) // 10 - 1
                      END AS hi
               FROM rng, ks)
        SELECT iv.i_prio, iv.dk,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o.pc) AS BIGINT) AS sum_cents
        FROM o JOIN iv
          ON o.pc BETWEEN iv.lo AND iv.hi AND o.prio <> iv.i_prio
        GROUP BY iv.i_prio, iv.dk
        ORDER BY iv.i_prio, iv.dk
    """


# synthetic per-event item id: integer LCG mix then a 3000-item catalog
# — event segments share ~1/3 of their items, so pairwise Jaccard is
# neither ~0 nor ~1 (the same replayable-integer rule as geo_noise)
_ITEM_SQL = "(((event_id * 48271 + 11) % 4294967296) % 3000)"
_KMV_PAIR_K = 64


def _q_segment_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch set operations: pairwise item-set overlap
    between event-type segments from merged KMV sketches
    (operators/sketches.py:kmv_pair_similarity) — |K ∩ A ∩ B| / |K|
    Jaccard and the kth-min union estimator, all integer fixed-point,
    so the approximate operator gets an exact relational oracle."""
    from geo_spark.operators.sketches import kmv_pair_similarity

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("seg"),
        F.expr(_ITEM_SQL).alias("item"),
    )
    return kmv_pair_similarity(ev, "seg", "item", k=_KMV_PAIR_K).orderBy(
        "g1", "g2"
    )


def _oracle_segment_overlap_kmv() -> str:
    from geo_spark.operators.sketches import kmv_hash_sql

    h = kmv_hash_sql(_ITEM_SQL)
    k = _KMV_PAIR_K
    return f"""
        WITH src AS (SELECT event_type AS g, {h} AS h FROM events),
        d AS (SELECT DISTINCT g, h FROM src),
        r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
                     AS rn
              FROM d),
        kept AS (SELECT g, h FROM r WHERE rn <= {k}),
        gs AS (SELECT DISTINCT g FROM kept),
        pairs AS (SELECT a.g AS g1, b.g AS g2
                  FROM gs a JOIN gs b ON a.g < b.g),
        u AS (SELECT DISTINCT p.g1, p.g2, kk.h
              FROM pairs p JOIN kept kk ON kk.g = p.g1 OR kk.g = p.g2),
        ur AS (SELECT g1, g2, h,
                      row_number() OVER (PARTITION BY g1, g2
                                         ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY g1, g2) AS un
               FROM u),
        topk AS (SELECT * FROM ur WHERE rn <= {k}),
        flags AS (SELECT t.g1, t.g2, t.h, t.un,
                         CASE WHEN k1.h IS NOT NULL AND k2.h IS NOT NULL
                              THEN 1 ELSE 0 END AS m
                  FROM topk t
                  LEFT JOIN kept k1 ON k1.g = t.g1 AND k1.h = t.h
                  LEFT JOIN kept k2 ON k2.g = t.g2 AND k2.h = t.h),
        agg AS (SELECT g1, g2, count(*) AS k_used, sum(m) AS matches,
                       max(h) AS kth, max(un) AS un
                FROM flags GROUP BY g1, g2)
        SELECT g1, g2, CAST(k_used AS BIGINT) AS k_used,
               CAST(matches AS BIGINT) AS matches,
               CAST(matches * 1000000 // k_used AS BIGINT)
                 AS est_jaccard_ppm,
               CAST(CASE WHEN un < {k} THEN un
                         ELSE ({k - 1} * 4294967296) // kth
                    END AS BIGINT) AS est_union
        FROM agg ORDER BY g1, g2
    """


_KM_KC = 8
_KM_ITERS = 2


def _q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quantized k-means over the embeddings table
    (operators/kmeans.py): md5-bottom-kc data-sampled init, integer
    distances and centroid means, argmin ties to the lowest centroid.
    Per-row final assignment (vec_id, cidx, dist) — the DuckDB twin
    unrolls both Lloyd iterations as CTEs over an UNNEST'd dim table
    and matches every integer distance bitwise."""
    from geo_spark.operators.kmeans import kmeans_embed

    emb = _t(spark, sf_dir, "embeddings")
    out = kmeans_embed(
        emb, "vec_id", "embedding", kc=_KM_KC, iters=_KM_ITERS
    )
    return out.select(
        "vec_id", F.col("cidx").cast("long").alias("cidx"), "dist"
    ).orderBy("vec_id")


_SEMDEDUP_THR = 0.40  # populated sim range on the synthetic embeddings
# (24 in-cluster pairs at sf0.01, closest sim 7.3e-4 away — 9 orders
# above cross-engine float noise, so the pair SET is engine-stable)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semantic_dedup, Abbas et al. 2023):
    k-means clusters -> in-cluster native-cosine pair join ->
    connected components -> keep min id per component.  The oracle
    composes the shared Lloyd CTE chain with an UNNEST'd-dim cosine
    pair join and the recursive-CTE reachability twin — all three
    stages re-derived relationally, none reusing engine code."""
    from geo_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        threshold=_SEMDEDUP_THR,
        kc=_KM_KC,
        iters=_KM_ITERS,
    )
    return out.select(
        "vec_id",
        F.col("cidx").cast("long").alias("cidx"),
        "rep",
        "keep",
    ).orderBy("vec_id")


def _oracle_semantic_dedup() -> str:
    with_block, final = _kmeans_cte(_KM_KC, _KM_ITERS)
    with_block = with_block.replace("WITH ux", "WITH RECURSIVE ux", 1)
    return f"""{with_block},
        nrm AS (SELECT vec_id,
                       sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                         AS nv
                FROM ux GROUP BY vec_id),
        pp AS (SELECT a.vec_id AS da, b.vec_id AS db,
                      sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE))
                        AS dot
               FROM ux a JOIN ux b USING (dim)
               JOIN {final} ca ON ca.vec_id = a.vec_id
               JOIN {final} cb ON cb.vec_id = b.vec_id
                              AND cb.cidx = ca.cidx
               WHERE a.vec_id < b.vec_id
               GROUP BY 1, 2),
        prs AS (SELECT da, db FROM pp
                JOIN nrm na ON na.vec_id = da
                JOIN nrm nb ON nb.vec_id = db
                WHERE dot / (na.nv * nb.nv) >= {_SEMDEDUP_THR!r}),
        e AS (SELECT da AS u, db AS v FROM prs
              UNION SELECT db, da FROM prs),
        reach(u, v) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
        ),
        comp AS (
          SELECT u AS id, least(u, MIN(v)) AS rep FROM reach GROUP BY u
        )
        SELECT a.vec_id, CAST(a.cidx AS BIGINT) AS cidx,
               COALESCE(c.rep, a.vec_id) AS rep,
               (COALESCE(c.rep, a.vec_id) = a.vec_id) AS keep
        FROM {final} a LEFT JOIN comp c ON c.id = a.vec_id
        ORDER BY a.vec_id
    """


def _kmeans_cte(
    kc: int,
    iters: int,
    q_block: str | None = None,
    id_src: str = "embeddings",
) -> tuple[str, str]:
    """(with_block, final_table): the unrolled Lloyd CTE chain shared
    by every kmeans-based oracle.  ``q_block`` overrides the leading
    CTEs that produce the quantized long form ``q(vec_id, dim, qv)``
    (default: the embeddings-table quantizer); ``id_src`` is the table
    expression enumerating one row per clustered id for the seed
    pick."""
    default_q = """
        WITH ux AS (SELECT vec_id, unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS dim
                    FROM embeddings),
        q AS (SELECT vec_id, dim,
                     CAST(FLOOR((CAST(x AS DOUBLE) + 1.0e0) * 1000000e0)
                          AS BIGINT) AS qv
              FROM ux)"""
    parts = [
        q_block if q_block is not None else default_q,
        f""",
        seeds0 AS (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS m
                   FROM {id_src} ORDER BY m, vec_id LIMIT {kc}),
        seeds AS (SELECT vec_id,
                         row_number() OVER (ORDER BY m, vec_id) - 1
                           AS cidx
                  FROM seeds0),
        cent0 AS (SELECT s.cidx, q.dim, q.qv AS cv
                  FROM seeds s JOIN q USING (vec_id))"""
    ]
    for t in range(iters):
        parts.append(
            f""",
        d{t} AS (SELECT q.vec_id, c.cidx,
                        sum((q.qv - c.cv) * (q.qv - c.cv)) AS dist
                 FROM q JOIN cent{t} c USING (dim)
                 GROUP BY q.vec_id, c.cidx),
        a{t} AS (SELECT vec_id, cidx, dist,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cidx) AS rn
                 FROM d{t}),
        asg{t} AS (SELECT vec_id, cidx, dist FROM a{t} WHERE rn = 1)"""
        )
        if t < iters - 1:
            parts.append(
                f""",
        cent{t + 1} AS (SELECT a.cidx, q.dim,
                               sum(q.qv) // count(*) AS cv
                        FROM asg{t} a JOIN q USING (vec_id)
                        GROUP BY a.cidx, q.dim)"""
            )
    return "".join(parts), f"asg{iters - 1}"


def _oracle_embed_kmeans() -> str:
    with_block, final = _kmeans_cte(_KM_KC, _KM_ITERS)
    return f"""{with_block}
        SELECT vec_id, CAST(cidx AS BIGINT) AS cidx,
               CAST(dist AS BIGINT) AS dist
        FROM {final} ORDER BY vec_id"""


def _q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic +-1 Johnson-Lindenstrauss sketch of every
    embedding (operators/similarity.py:random_projection): 8 integer
    projections per vector from an inline (dimension, component) sign
    hash — no projection matrix anywhere.  The oracle replays
    quantize -> sign stream -> conditional sums exactly."""
    from geo_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dim=8).orderBy("vec_id", "d")


def _q_text_sign_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-side JL featurizer (operators/text.py:text_sign_projection):
    every document's bag of words -> 8 exact BIGINT sign-projection
    sums, tid = lexicographic vocabulary rank, signs from the two-round
    integer mix.  The oracle replays tokenize -> tf -> vocab rank ->
    mix -> conditional sums bit-for-bit."""
    from geo_spark.operators.text import text_sign_projection

    return text_sign_projection(
        _t(spark, sf_dir, "documents"), out_dim=8
    ).orderBy("doc_id", "d")


def _oracle_text_sign_projection() -> str:
    sign_case = (
        "CASE WHEN ((tid * 2654435761 + (d * 7919 + 1)) % 4294967296)"
        " * 48271 % 4294967296 < 2147483648 THEN w ELSE -w END"
    )
    return f"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents),
        t AS (SELECT doc_id, term, COUNT(*) AS w
              FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
        v AS (SELECT term,
                     CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS tid
              FROM (SELECT DISTINCT term FROM t)),
        f AS (SELECT t.doc_id, t.w, v.tid FROM t JOIN v USING (term)),
        dims AS (SELECT unnest(range(8)) AS d)
        SELECT doc_id, CAST(d AS BIGINT) AS d,
               CAST(SUM({sign_case}) AS BIGINT) AS proj
        FROM f, dims GROUP BY doc_id, d ORDER BY doc_id, d
    """


_TOPIC_KC = 5
_TOPIC_ITERS = 2
_TOPIC_SHIFT = 1000.0  # > max |projection| (docs cap at ~100 tokens)


def _q_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition certificate — the corpus topic-bucketing arc:
    documents -> text_sign_projection (exact 8-dim integer JL vectors
    from bags of words) -> deterministic Lloyd k-means
    (operators/kmeans.py) -> per-document cluster assignment with the
    exact integer distance.  The oracle nests the full projection
    replay as the quantized source of the shared unrolled-Lloyd CTE
    chain (_kmeans_cte) — tokenizer to centroid floor-division, one
    relational program."""
    from geo_spark.operators.kmeans import kmeans_embed
    from geo_spark.operators.text import text_sign_projection

    proj = text_sign_projection(_t(spark, sf_dir, "documents"), out_dim=8)
    vecs = proj.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "proj"))),
            lambda s: s["proj"].cast("double"),
        ).alias("embedding")
    )
    return kmeans_embed(
        vecs,
        "doc_id",
        "embedding",
        kc=_TOPIC_KC,
        iters=_TOPIC_ITERS,
        shift=_TOPIC_SHIFT,
        scale=1.0,
    ).orderBy("doc_id")


def _oracle_topic_clusters() -> str:
    sign_case = (
        "CASE WHEN ((tid * 2654435761 + (d * 7919 + 1)) % 4294967296)"
        " * 48271 % 4294967296 < 2147483648 THEN w ELSE -w END"
    )
    q_block = f"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents),
        t AS (SELECT doc_id, term, COUNT(*) AS w
              FROM toks WHERE len(term) > 0 GROUP BY 1, 2),
        v AS (SELECT term,
                     CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS tid
              FROM (SELECT DISTINCT term FROM t)),
        f AS (SELECT t.doc_id, t.w, v.tid FROM t JOIN v USING (term)),
        dims AS (SELECT unnest(range(8)) AS d),
        p AS (SELECT doc_id, d, CAST(SUM({sign_case}) AS BIGINT) AS proj
              FROM f, dims GROUP BY doc_id, d),
        q AS (SELECT doc_id AS vec_id, d + 1 AS dim,
                     proj + {int(_TOPIC_SHIFT)} AS qv
              FROM p)"""
    with_block, final = _kmeans_cte(
        _TOPIC_KC,
        _TOPIC_ITERS,
        q_block=q_block,
        id_src="(SELECT DISTINCT vec_id FROM q) ids",
    )
    return f"""{with_block}
        SELECT vec_id AS doc_id, CAST(cidx AS BIGINT) AS cidx,
               CAST(dist AS BIGINT) AS dist
        FROM {final} ORDER BY doc_id"""


def _oracle_random_projection() -> str:
    sign_case = (
        "CASE WHEN ((i * 1000003 + (d * 7919 + 1)) * 2654435761)"
        " % 4294967296 < 2147483648 THEN qv ELSE -qv END"
    )
    return f"""
        WITH ux AS (SELECT vec_id, unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) - 1 AS i
                    FROM embeddings),
        q AS (SELECT vec_id, i,
                     CAST(FLOOR((CAST(x AS DOUBLE) + 1.0e0) * 1000000e0)
                          AS BIGINT) AS qv
              FROM ux)
        SELECT vec_id, d, CAST(SUM({sign_case}) AS BIGINT) AS proj
        FROM q, (SELECT unnest(range(8)) AS d)
        GROUP BY vec_id, d ORDER BY vec_id, d
    """


_KCENTER_K = 8


def _q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset picks over the embeddings table
    (operators/coreset.py:kcenter_select): 8 Gonzalez farthest-point
    selections under the integer-quantized distance contract, ties to
    the smallest id.  The oracle unrolls the same 7 argmax/min-merge
    steps as MATERIALIZED CTEs over the (vec_id, dim, qv) long form —
    the operator computes distances inside codegen array lambdas, the
    oracle as dim-join aggregates, so the two sides share only the
    greedy rule.  r2 values are exact integers (quantized units)."""
    from geo_spark.operators.coreset import kcenter_select

    emb = _t(spark, sf_dir, "embeddings")
    return (
        kcenter_select(emb, "vec_id", "embedding", k=_KCENTER_K)
        .select("pick_order", F.col("id").alias("vec_id"), "r2")
        .orderBy("pick_order")
    )


def _oracle_kcenter_coreset() -> str:
    steps = []
    for s in range(1, _KCENTER_K):
        steps.append(
            f"""p{s} AS MATERIALIZED (
              SELECT vec_id AS pid, best AS r2 FROM best{s - 1}
              ORDER BY best DESC, vec_id LIMIT 1),
            best{s} AS MATERIALIZED (
              SELECT b.vec_id, least(b.best, d.d) AS best
              FROM best{s - 1} b JOIN (
                SELECT q.vec_id,
                       sum((q.qv - c.qv) * (q.qv - c.qv)) AS d
                FROM q JOIN q c ON c.dim = q.dim
                  AND c.vec_id = (SELECT pid FROM p{s})
                GROUP BY q.vec_id) d USING (vec_id)
              WHERE b.vec_id <> (SELECT pid FROM p{s}))"""
        )
    chain = ",\n        ".join(steps)
    picks = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS pick_order, pid AS vec_id,"
        f" CAST(r2 AS BIGINT) AS r2 FROM p{s}"
        for s in range(1, _KCENTER_K)
    )
    return f"""
        WITH ux AS (SELECT vec_id, unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS dim
                    FROM embeddings),
        q AS MATERIALIZED (
          SELECT vec_id, dim,
                 CAST(FLOOR((CAST(x AS DOUBLE) + 1.0e0) * 1000000e0)
                      AS BIGINT) AS qv
          FROM ux),
        p0 AS MATERIALIZED (SELECT min(vec_id) AS pid FROM q),
        best0 AS MATERIALIZED (
          SELECT q.vec_id, sum((q.qv - c.qv) * (q.qv - c.qv)) AS best
          FROM q JOIN q c ON c.dim = q.dim
            AND c.vec_id = (SELECT pid FROM p0)
          WHERE q.vec_id <> (SELECT pid FROM p0)
          GROUP BY q.vec_id),
        {chain}
        SELECT CAST(0 AS BIGINT) AS pick_order, pid AS vec_id,
               CAST(0 AS BIGINT) AS r2
        FROM p0
        UNION ALL {picks}
        ORDER BY pick_order
    """


def _q_coreset_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset COVERAGE certificate — the k-center picks composed
    with a nearest-pick assignment of the whole table: every vector
    joins the 8-row pick set (broadcast), takes the argmin integer
    distance (ties to the smaller pick_order), and rolls up to
    (pick_order, pick id, members, realized covering radius^2).  The
    max over max_d2 is the actual k-center objective the greedy
    2-approximates; certifying it end-to-end proves the picks AND the
    assignment compose (the cluster-profiles pattern applied to the
    coreset family).  One oracle splices the 7-step greedy unroll
    into a dim-join distance matrix + argmin window."""
    from geo_spark.operators.coreset import kcenter_select
    from geo_spark.operators.kmeans import _quantize_vec

    emb = _t(spark, sf_dir, "embeddings")
    picks = kcenter_select(emb, "vec_id", "embedding", k=_KCENTER_K)
    base = emb.select(
        "vec_id", _quantize_vec("embedding", 1.0, 1_000_000.0).alias("_q")
    )
    pvec = picks.join(
        base.select(F.col("vec_id").alias("id"), F.col("_q").alias("_c")),
        "id",
    ).select("pick_order", "id", "_c")
    d = base.join(F.broadcast(pvec)).select(
        "vec_id",
        "pick_order",
        "id",
        F.aggregate(
            F.zip_with(
                F.col("_q"), F.col("_c"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_d"),
    )
    best = d.groupBy("vec_id").agg(
        F.min(F.struct(F.col("_d"), F.col("pick_order"), F.col("id"))).alias(
            "_b"
        )
    )
    return (
        best.select(
            F.col("_b.pick_order").alias("pick_order"),
            F.col("_b.id").alias("pick_id"),
            F.col("_b._d").alias("_d"),
        )
        .groupBy("pick_order", "pick_id")
        .agg(
            F.count(F.lit(1)).alias("members"),
            F.max("_d").alias("max_d2"),
        )
        .orderBy("pick_order")
    )


def _oracle_coreset_coverage() -> str:
    inner = _oracle_kcenter_coreset()
    return f"""
        WITH picks AS MATERIALIZED ({inner}),
        ux AS (SELECT vec_id, unnest(embedding) AS x,
                      generate_subscripts(embedding, 1) AS dim
               FROM embeddings),
        q2 AS MATERIALIZED (
          SELECT vec_id, dim,
                 CAST(FLOOR((CAST(x AS DOUBLE) + 1.0e0) * 1000000e0)
                      AS BIGINT) AS qv
          FROM ux),
        dmat AS (
          SELECT q2.vec_id, p.pick_order, p.vec_id AS pick_id,
                 sum((q2.qv - c.qv) * (q2.qv - c.qv)) AS d
          FROM q2
          JOIN picks p ON true
          JOIN q2 c ON c.vec_id = p.vec_id AND c.dim = q2.dim
          GROUP BY q2.vec_id, p.pick_order, p.vec_id),
        argmin AS (
          SELECT vec_id, pick_order, pick_id, d,
                 row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY d, pick_order, pick_id) AS rn
          FROM dmat)
        SELECT pick_order, pick_id, COUNT(*) AS members,
               CAST(MAX(d) AS BIGINT) AS max_d2
        FROM argmin WHERE rn = 1
        GROUP BY pick_order, pick_id
        ORDER BY pick_order
    """


_KM_QUOTA = 12


def _q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed certificate: k-means topic clusters -> per-cluster
    md5-rank quota sample — diversity-balanced subset selection for
    corpus mixing (every cluster contributes at most _KM_QUOTA docs,
    selected by the deterministic hash-rank rule the mixture-sampling
    family uses).  One DuckDB oracle replays Lloyd + the windowed draw
    end to end, certifying the embedding and sampling halves compose."""
    from pyspark.sql import Window

    from geo_spark.operators.kmeans import kmeans_embed

    emb = _t(spark, sf_dir, "embeddings")
    asg = kmeans_embed(emb, "vec_id", "embedding", kc=_KM_KC, iters=_KM_ITERS)
    w = Window.partitionBy("cidx").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        asg.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _KM_QUOTA)
        .select(
            "vec_id", F.col("cidx").cast("long").alias("cidx"), "dist"
        )
        .orderBy("vec_id")
    )


def _oracle_cluster_balanced_sample() -> str:
    with_block, final = _kmeans_cte(_KM_KC, _KM_ITERS)
    return f"""{with_block},
        ranked AS (SELECT vec_id, cidx, dist,
                          row_number() OVER (
                            PARTITION BY cidx
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                          ) AS rn
                   FROM {final})
        SELECT vec_id, CAST(cidx AS BIGINT) AS cidx,
               CAST(dist AS BIGINT) AS dist
        FROM ranked WHERE rn <= {_KM_QUOTA} ORDER BY vec_id"""


_RESAMPLE_STEP_US = 3_600_000_000  # 1 h grid


def _q_trajectory_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed certificate: trajectory resampling to a fixed 1 h time
    grid — backward + forward as-of joins bracket every grid tick with
    its neighboring pings, then pure-IEEE linear interpolation (the
    only float ops are +,-,*,/ on identical inputs, so no rounding is
    needed for the hash gate).  Grid ticks are integer multiples of
    the step inside [first, last] ping per user, so both brackets
    always exist; a tick landing exactly on a ping degenerates to that
    ping (nts == pts guard).  One DuckDB oracle replays grid
    generation + both ASOF directions + the interpolation."""
    from pyspark.sql import Window

    from geo_spark.operators.asof import asof_join
    from geo_spark.operators.geo_noise import (
        LNG_D_SQL,
        SINLAT_SQL,
        with_time_noise,
    )

    step = _RESAMPLE_STEP_US
    ev = with_time_noise(_t(spark, sf_dir, "events"), "event_id").select(
        "event_id",
        "user_id",
        "ts_us",
        F.expr(SINLAT_SQL.format(id="event_id")).alias("sinlat"),
        F.expr(LNG_D_SQL.format(id="event_id")).alias("lng"),
    )
    b = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx")
    )
    grid = (
        b.select(
            "user_id",
            (F.expr(f"(mn + {step - 1}) div {step}") * step).alias("gs"),
            (F.expr(f"mx div {step}") * step).alias("ge"),
        )
        .where(F.col("gs") <= F.col("ge"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("gs"), F.col("ge"), F.lit(step))
            ).alias("gts"),
        )
    )
    # dedup pings per (user, ts) with the direction-matched rule so the
    # oracle's ASOF never arbitrates a tie
    wb = Window.partitionBy("user_id", "ts_us").orderBy(
        F.col("event_id").desc()
    )
    wf = Window.partitionBy("user_id", "ts_us").orderBy(F.col("event_id"))
    rb = (
        ev.withColumn("_rn", F.row_number().over(wb))
        .where(F.col("_rn") == 1)
        .select("user_id", "ts_us", "sinlat", "lng")
    )
    rf = (
        ev.withColumn("_rn", F.row_number().over(wf))
        .where(F.col("_rn") == 1)
        .select("user_id", "ts_us", "sinlat", "lng")
    )
    p = asof_join(
        grid, rb, ["user_id"], "gts", "ts_us", ["sinlat", "lng"], prefix="p_"
    )
    n = asof_join(
        p,
        rf,
        ["user_id"],
        "gts",
        "ts_us",
        ["sinlat", "lng"],
        direction="forward",
        prefix="n_",
    )
    frac = (F.col("gts") - F.col("p_ts_us")).cast("double") / (
        F.col("n_ts_us") - F.col("p_ts_us")
    ).cast("double")
    interp = lambda a, bcol: F.when(  # noqa: E731
        F.col("n_ts_us") > F.col("p_ts_us"),
        F.col(a) + (F.col(bcol) - F.col(a)) * frac,
    ).otherwise(F.col(a))
    return n.select(
        "user_id",
        "gts",
        interp("p_sinlat", "n_sinlat").alias("sinlat"),
        interp("p_lng", "n_lng").alias("lng"),
    ).orderBy("user_id", "gts")


def _oracle_trajectory_resample() -> str:
    from geo_spark.operators.geo_noise import (
        LNG_D_SQL,
        SINLAT_SQL,
        TS_US_SQL,
    )

    ts = TS_US_SQL.format(id="event_id")
    lat = SINLAT_SQL.format(id="event_id")
    lng = LNG_D_SQL.format(id="event_id")
    step = _RESAMPLE_STEP_US
    return f"""
        WITH ev AS (SELECT event_id, user_id, {ts} AS ts_us,
                           {lat} AS sinlat, {lng} AS lng
                    FROM events),
        b AS (SELECT user_id, min(ts_us) AS mn, max(ts_us) AS mx
              FROM ev GROUP BY user_id),
        gb AS (SELECT user_id,
                      ((mn + {step - 1}) // {step}) * {step} AS gs,
                      (mx // {step}) * {step} AS ge
               FROM b),
        grid AS (SELECT user_id,
                        unnest(range(gs, ge + 1, {step})) AS gts
                 FROM gb WHERE gs <= ge),
        rb AS (SELECT user_id, ts_us, sinlat, lng FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id, ts_us
                                              ORDER BY event_id DESC) AS rn
                 FROM ev) WHERE rn = 1),
        rf AS (SELECT user_id, ts_us, -ts_us AS nts0, sinlat, lng FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id, ts_us
                                              ORDER BY event_id) AS rn
                 FROM ev) WHERE rn = 1),
        p AS (SELECT g.user_id, g.gts, r.ts_us AS pts,
                     r.sinlat AS plat, r.lng AS plng
              FROM grid g ASOF JOIN rb r
                ON g.user_id = r.user_id AND g.gts >= r.ts_us),
        n AS (SELECT g.user_id, g.gts, r.ts_us AS nts,
                     r.sinlat AS nlat, r.lng AS nlng
              FROM grid g ASOF JOIN rf r
                ON g.user_id = r.user_id AND -g.gts >= r.nts0)
        SELECT p.user_id, p.gts,
               CASE WHEN n.nts > p.pts
                    THEN p.plat + (n.nlat - p.plat)
                         * (CAST(p.gts - p.pts AS DOUBLE)
                            / CAST(n.nts - p.pts AS DOUBLE))
                    ELSE p.plat END AS sinlat,
               CASE WHEN n.nts > p.pts
                    THEN p.plng + (n.nlng - p.plng)
                         * (CAST(p.gts - p.pts AS DOUBLE)
                            / CAST(n.nts - p.pts AS DOUBLE))
                    ELSE p.plng END AS lng
        FROM p JOIN n ON p.user_id = n.user_id AND p.gts = n.gts
        ORDER BY p.user_id, p.gts
    """


def _areal_fixture():
    """(c, tgt_id, value_cents, a_verts, b_verts) per same-city
    src × tgt pair: 4 partial overlaps, 1 contained, 1 disjoint per
    city — the three share regimes of areal interpolation."""
    from geo_spark.sources.layers import regular_loop_vertices

    # radii are RADIANS (0.05 rad ≈ 2.9 deg); degree offsets sized so
    # the ne/nw/se/sw pairs overlap partially (center distance ~3.5 deg
    # within (r_a - r_b, r_a + r_b) ≈ (1.2, 4.6) deg), "in" is strictly
    # contained, "far" is genuinely disjoint (zero-allocation path)
    offsets = [
        ("ne", 2.5, 2.5, 0.03),
        ("nw", 2.5, -2.5, 0.03),
        ("se", -2.5, 2.5, 0.03),
        ("sw", -2.5, -2.5, 0.03),
        ("in", 0.0, 0.0, 0.015),
        ("far", 10.0, 10.0, 0.03),
    ]
    rows = []
    c = 0
    for ci, (la, ln) in enumerate(_BOOL_CITIES):
        a = regular_loop_vertices(la, ln, 0.05, 12)
        val = (ci + 1) * 100_000
        for name, dla, dln, rad in offsets:
            b = regular_loop_vertices(la + dla, ln + dln, rad, 12)
            rows.append((c, f"c{ci}_{name}", val, a, b))
            c += 1
    return rows


def _q_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation (operators/constructive.py:areal_interpolate):
    each source polygon's value splits across target polygons by exact
    spherical intersection-area share (ppm floor, then integer
    allocation).  The oracle replays the convex overlay + l'Huilier
    fan areas with the shared _CONVEX_CHAIN_SQL — the same independent
    machinery that certifies q_boolean_areas."""
    from geo_spark.operators.constructive import areal_interpolate

    _ensure_pyfiles(spark)
    rows = [
        (
            c,
            tgt,
            val,
            [[float(x) for x in p] for p in a],
            [[float(x) for x in p] for p in b],
        )
        for c, tgt, val, a, b in _areal_fixture()
    ]
    pairs = spark.createDataFrame(
        rows,
        "src_id long, tgt_id string, value_cents long, "
        "a_verts array<array<double>>, b_verts array<array<double>>",
    )
    return areal_interpolate(pairs).orderBy("tgt_id")


def _oracle_areal_interp() -> str:
    fixture = _areal_fixture()
    edge_rows = []
    meta_rows = []
    for c, tgt, val, a, b in fixture:
        meta_rows.append(f"({c}, '{tgt}', {val})")
        for side, v in (("a", a), ("b", b)):
            n = len(v)
            for k in range(n):
                p, q = v[k], v[(k + 1) % n]
                edge_rows.append(
                    f"({c}, '{side}', {k}, {p[0]!r}, {p[1]!r}, {p[2]!r}, "
                    f"{q[0]!r}, {q[1]!r}, {q[2]!r})"
                )
    edges = ", ".join(edge_rows)
    meta = ", ".join(meta_rows)
    return f"""
        WITH vr(c, side, k, px0, py0, pz0, qx0, qy0, qz0) AS
          (VALUES {edges}),
        pm(c, tgt_id, value_cents) AS (VALUES {meta}),
{_CONVEX_CHAIN_SQL},
        shares AS (
          SELECT pm.c, pm.tgt_id, pm.value_cents,
                 CAST(FLOOR(COALESCE(ia.ai, 0.0) / ra.ar * 1000000e0)
                      AS BIGINT) AS share_ppm
          FROM pm
          JOIN rarea ra ON ra.c = pm.c AND ra.side = 'a'
          LEFT JOIN iarea ia ON ia.c = pm.c)
        SELECT tgt_id,
               CAST(sum(CASE WHEN share_ppm > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_src,
               CAST(sum(value_cents * share_ppm // 1000000) AS BIGINT)
                 AS alloc
        FROM shares GROUP BY tgt_id ORDER BY tgt_id
    """


def _q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix — the canonical mobility
    aggregate: per-user geo-sessions (operators/sessionize.py:
    with_session_ids, the per-event half of the sessionizer), each
    session's first/last event snaps to its level-4 tile, flows
    grouped by (origin tile, destination tile).  One oracle replays
    segmentation -> endpoint selection -> quadratic-projection tiling
    end to end."""
    from pyspark.sql import Window

    from geo_spark.functions.s2 import s2_cellid, s2_face_ij
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.sessionize import with_session_ids

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    s = with_session_ids(
        ev,
        _SESS_GAP_S,
        _SESS_JUMP_RAD,
        tiebreak_col="event_id",
    )
    wa = Window.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    wd = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    ranked = s.select(
        "user_id",
        "session_id",
        "lat",
        "lng",
        F.row_number().over(wa).alias("_ra"),
        F.row_number().over(wd).alias("_rd"),
    )
    ends = ranked.where((F.col("_ra") == 1) | (F.col("_rd") == 1)).select(
        "user_id",
        "session_id",
        F.when(F.col("_ra") == 1, F.lit("o")).otherwise(F.lit("d")).alias(
            "role"
        ),
        "lat",
        "lng",
    )
    # single-event sessions: the one row is both origin and destination
    both = ends.unionByName(
        ranked.where((F.col("_ra") == 1) & (F.col("_rd") == 1)).select(
            "user_id",
            "session_id",
            F.lit("d").alias("role"),
            "lat",
            "lng",
        )
    )
    enc = both.withColumn(
        "fij", s2_face_ij(s2_cellid(F.col("lat"), F.col("lng")))
    ).select(
        "user_id",
        "session_id",
        "role",
        F.col("fij.face").cast("long").alias("face"),
        F.shiftright(F.col("fij.i"), 26).alias("ti"),
        F.shiftright(F.col("fij.j"), 26).alias("tj"),
    )
    o = enc.where(F.col("role") == "o").select(
        "user_id",
        "session_id",
        F.col("face").alias("o_face"),
        F.col("ti").alias("o_ti"),
        F.col("tj").alias("o_tj"),
    )
    d = enc.where(F.col("role") == "d").select(
        "user_id",
        "session_id",
        F.col("face").alias("d_face"),
        F.col("ti").alias("d_ti"),
        F.col("tj").alias("d_tj"),
    )
    return (
        o.join(d, ["user_id", "session_id"])
        .groupBy("o_face", "o_ti", "o_tj", "d_face", "d_ti", "d_tj")
        .agg(F.count(F.lit(1)).alias("flows"))
        .orderBy("o_face", "o_ti", "o_tj", "d_face", "d_ti", "d_tj")
    )


def _oracle_od_matrix() -> str:
    from geo_spark.kernel.regions import chord2_from_angle
    from geo_spark.operators.geo_noise import (
        LAT_SQL,
        LNG_SQL,
        TS_US_SQL,
        duckdb_face_ij_query,
    )

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    gap_us = int(round(_SESS_GAP_S * 1_000_000))
    jump2 = chord2_from_angle(_SESS_JUMP_RAD)
    ends_src = f"""
        WITH pts AS (SELECT user_id, event_id, {ts} AS ts_us,
                            {lat} AS lat, {lng} AS lng
                     FROM events),
        xyz AS (SELECT user_id, event_id, ts_us, lat, lng,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        lagd AS (SELECT *,
                        lag(x) OVER w AS px, lag(y) OVER w AS py,
                        lag(z) OVER w AS pz, lag(ts_us) OVER w AS pts
                 FROM xyz
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        brk AS (SELECT *,
                       CASE WHEN pts IS NULL
                              OR ts_us - pts > {gap_us}
                              OR (x-px)*(x-px) + (y-py)*(y-py)
                                 + (z-pz)*(z-pz) > {jump2!r}
                            THEN 1 ELSE 0 END AS b
                FROM lagd),
        sess AS (SELECT *,
                        SUM(b) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
                 FROM brk),
        rk AS (SELECT *,
                      row_number() OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts_us, event_id) AS ra,
                      row_number() OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts_us DESC, event_id DESC)
                        AS rd
               FROM sess)
        SELECT user_id, session_id, 'o' AS role, lat, lng
        FROM rk WHERE ra = 1
        UNION ALL
        SELECT user_id, session_id, 'd' AS role, lat, lng
        FROM rk WHERE rd = 1
    """
    fij = duckdb_face_ij_query(ends_src)
    return f"""
        WITH enc AS (
          SELECT user_id, session_id, role,
                 CAST(face AS BIGINT) AS face,
                 i // 67108864 AS ti, j // 67108864 AS tj
          FROM ({fij})
        ),
        o AS (SELECT user_id, session_id, face AS o_face, ti AS o_ti,
                     tj AS o_tj
              FROM enc WHERE role = 'o'),
        d AS (SELECT user_id, session_id, face AS d_face, ti AS d_ti,
                     tj AS d_tj
              FROM enc WHERE role = 'd')
        SELECT o_face, o_ti, o_tj, d_face, d_ti, d_tj,
               CAST(count(*) AS BIGINT) AS flows
        FROM o JOIN d USING (user_id, session_id)
        GROUP BY o_face, o_ti, o_tj, d_face, d_ti, d_tj
        ORDER BY o_face, o_ti, o_tj, d_face, d_ti, d_tj
    """


_MAD_K = 128


def _q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection composed from two sampled-median
    passes (operators/sketches.py:sampled_group_median): per event
    type, median -> absolute deviations -> MAD -> events with
    |v - med| > 3·MAD.  Every statistic is a SELECTED row's value and
    the deviations are IEEE +,-,abs chains, so the filter decision is
    bitwise engine-portable; one DuckDB oracle replays both median
    stages and the cut."""
    from geo_spark.operators.sketches import sampled_group_median

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = sampled_group_median(
        ev, ["event_type"], "value", "event_id", k=_MAD_K
    ).select("event_type", F.col("median").alias("_med"))
    dev = ev.join(med, "event_type").withColumn(
        "_dev", F.abs(F.col("value") - F.col("_med"))
    )
    mad = sampled_group_median(
        dev, ["event_type"], "_dev", "event_id", k=_MAD_K
    ).select("event_type", F.col("median").alias("_mad"))
    return (
        dev.join(mad, "event_type")
        .where(F.col("_dev") > F.lit(3.0) * F.col("_mad"))
        .select("event_id", "event_type")
        .orderBy("event_id")
    )


def _oracle_value_outliers() -> str:
    k = _MAD_K
    return f"""
        WITH ev AS (SELECT event_id, event_type, value FROM events),
        k1 AS (SELECT event_type, event_id, value,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                        AS rn
               FROM ev),
        r1 AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS vr,
                      count(*) OVER (PARTITION BY event_type) AS m
               FROM k1 WHERE rn <= {k}),
        med AS (SELECT event_type, value AS med FROM r1
                WHERE vr = CAST(ceil(m / 2.0) AS BIGINT)),
        dev AS (SELECT e.event_id, e.event_type,
                       abs(e.value - med.med) AS dv
                FROM ev e JOIN med USING (event_type)),
        k2 AS (SELECT event_type, event_id, dv,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                        AS rn
               FROM dev),
        r2 AS (SELECT event_type, dv,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY dv, event_id) AS vr,
                      count(*) OVER (PARTITION BY event_type) AS m
               FROM k2 WHERE rn <= {k}),
        mad AS (SELECT event_type, dv AS mad FROM r2
                WHERE vr = CAST(ceil(m / 2.0) AS BIGINT))
        SELECT d.event_id, d.event_type
        FROM dev d JOIN mad USING (event_type)
        WHERE d.dv > 3.0 * mad.mad
        ORDER BY d.event_id
    """


def _q_core_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-family composition certificate: rank the spam-resistant
    core — k-core peeling (linkgraph.kcore, k=5) selects the ~3.8k
    mutually-connected nodes of the skewed graph, then PageRank
    (3 iterations, damping 0.85) runs on the DIRECTED edges restricted
    to core endpoints.  The restriction creates genuinely dangling
    nodes (core nodes whose outlinks all left the core), so the
    dangling-mass redistribution path is exercised under composition.
    ONE oracle chains the 10-round peel, the directed restriction, and
    the 3 unrolled power steps; ROUND-x1e12 rank scaling per the
    q_link_pagerank float-granule discipline."""
    from geo_spark.operators.linkgraph import kcore, pagerank

    edges = _core_edges(spark, sf_dir)
    core = kcore(edges, k=_KCORE_K).select("node")
    restricted = (
        edges.join(core.select(F.col("node").alias("src")), "src", "left_semi")
        .join(core.select(F.col("node").alias("dst")), "dst", "left_semi")
    )
    pr = pagerank(
        restricted,
        core,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        node_key="node",
    )
    return pr.select(
        "node",
        F.round(F.col("rank") * 1e12, 0).cast("long").alias("rank_x1e12"),
    ).orderBy("node")


def _oracle_core_rank() -> str:
    streams = " UNION ALL ".join(
        f"SELECT event_id AS src, {tpl.format(n='nn.n')} AS dst "
        "FROM events, nn"
        for tpl in _CORE_SQL_STREAMS
    )
    peel = []
    for r in range(_KCORE_ROUNDS):
        prev = f"e{r}"
        peel.append(
            f"""d{r} AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev})
              GROUP BY n),
            k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {_KCORE_K}),
            e{r + 1} AS MATERIALIZED (
              SELECT c.u, c.v FROM {prev} c
              JOIN k{r} a ON c.u = a.n JOIN k{r} b ON c.v = b.n)"""
        )
    peel_sql = ",\n        ".join(peel)
    last = f"e{_KCORE_ROUNDS}"
    d = _PR_DAMPING
    steps = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""c{i} AS (
          SELECT e.dst AS id, SUM(r._rank / e.deg) AS c
          FROM pedges e JOIN {prev} r ON r.id = e.src
          GROUP BY e.dst),
        dm{i} AS (
          SELECT COALESCE(SUM(r._rank), 0.0) AS dm
          FROM {prev} r LEFT JOIN poutdeg o ON o.src = r.id
          WHERE o.src IS NULL),
        r{i} AS (
          SELECT nd.id,
                 (1.0 - {d}) / (SELECT cn FROM cn)
                 + {d} * (COALESCE(c.c, 0.0)
                          + dm{i}.dm / (SELECT cn FROM cn)) AS _rank
          FROM core nd CROSS JOIN dm{i}
          LEFT JOIN c{i} c ON c.id = nd.id)"""
        )
        prev = f"r{i}"
    steps_sql = ",\n        ".join(steps)
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM events),
        raw AS ({streams}),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM raw WHERE src <> dst),
        {peel_sql},
        core AS MATERIALIZED (
          SELECT DISTINCT n AS id FROM (
            SELECT u AS n FROM {last} UNION ALL SELECT v FROM {last})),
        cn AS (SELECT CAST(count(*) AS BIGINT) AS cn FROM core),
        pdedup AS MATERIALIZED (
          SELECT DISTINCT r.src, r.dst FROM raw r
          JOIN core a ON r.src = a.id JOIN core b ON r.dst = b.id
          WHERE r.src <> r.dst),
        poutdeg AS (SELECT src, COUNT(*) AS deg FROM pdedup GROUP BY src),
        pedges AS (SELECT e.src, e.dst, o.deg
                   FROM pdedup e JOIN poutdeg o ON o.src = e.src),
        r0 AS (SELECT id, 1.0 / (SELECT cn FROM cn) AS _rank FROM core),
        {steps_sql}
        SELECT id AS node,
               CAST(ROUND(_rank * 1e12) AS BIGINT) AS rank_x1e12
        FROM {prev} ORDER BY node
    """


_WPATH_ROUNDS = 6
_WPATH_SEED_MOD = 997
_WPATH_W = "1 + (src + dst) % 9"


def _q_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (linkgraph.weighted_distances): 6
    delta-frontier Bellman-Ford rounds from the event_id % 997 == 0
    seed set over the skewed graph with integer weights
    1 + (src+dst) % 9.  The contract is "exact for every shortest
    path of <= 6 edges" — round-replayable for ANY round count, so the
    oracle unrolls 6 FULL simultaneous-relaxation rounds (structurally
    different from the operator's delta frontier: their equality IS
    the delta-stepping correctness argument).  Integer min-sums; no
    float anywhere."""
    from geo_spark.operators.linkgraph import weighted_distances

    edges = _core_edges(spark, sf_dir).withColumn("w", F.expr(_WPATH_W))
    seeds = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _WPATH_SEED_MOD == 0)
        .select(F.col("event_id").alias("id"))
    )
    return weighted_distances(edges, seeds, rounds=_WPATH_ROUNDS).orderBy(
        "node"
    )


def _wpath_with_body() -> str:
    """Shared WITH-clause body: 6 unrolled simultaneous-relaxation
    rounds ending at d{_WPATH_ROUNDS} (n, _d) — used by the
    weighted-paths oracle and the isochrone composition oracle."""
    streams = " UNION ALL ".join(
        f"SELECT event_id AS src, {tpl.format(n='nn.n')} AS dst "
        "FROM events, nn"
        for tpl in _CORE_SQL_STREAMS
    )
    rounds = []
    for r in range(_WPATH_ROUNDS):
        rounds.append(
            f"""c{r} AS MATERIALIZED (
              SELECT e.dst AS n, min(d._d + e.w) AS c
              FROM wedges e JOIN d{r} d ON d.n = e.src
              GROUP BY e.dst),
            d{r + 1} AS MATERIALIZED (
              SELECT COALESCE(d.n, c.n) AS n,
                     COALESCE(LEAST(d._d, c.c), d._d, c.c) AS _d
              FROM d{r} d FULL OUTER JOIN c{r} c ON d.n = c.n)"""
        )
    chain = ",\n        ".join(rounds)
    return f"""nn AS (SELECT count(*) AS n FROM events),
        raw AS ({streams}),
        wedges AS MATERIALIZED (
          SELECT src, dst, min({_WPATH_W}) AS w
          FROM raw WHERE src <> dst GROUP BY src, dst),
        d0 AS (SELECT event_id AS n, CAST(0 AS BIGINT) AS _d FROM events
               WHERE event_id % {_WPATH_SEED_MOD} = 0),
        {chain}"""


def _oracle_weighted_paths() -> str:
    return f"""
        WITH {_wpath_with_body()}
        SELECT n AS node, CAST(_d AS BIGINT) AS dist
        FROM d{_WPATH_ROUNDS} ORDER BY node
    """


_REDIR_ROUNDS = 4


def _q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (linkgraph.resolve_redirects):
    pointer jumping over a functional redirect graph built from
    event_id — chains u -> u-1 down to multiples of 16 (terminals,
    up to 15 hops) plus a 2-cycle at every multiple of 1024 (u <->
    u+1, with the 14 nodes above feeding INTO the cycle — the
    crawler's redirect-loop trap).  rounds=4 follows min(16, chain)
    edges in 4 shuffles.  The oracle walks the SAME map one edge at a
    time for 16 linear steps — the doubling/linear structural
    equality IS the pointer-jumping correctness argument.  Integer
    ids, integer hops, boolean resolved; no float anywhere."""
    from geo_spark.operators.linkgraph import resolve_redirects

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    a = ev.where(F.col("event_id") % 16 != 0).select(
        F.col("event_id").alias("src"),
        (F.col("event_id") - 1).alias("dst"),
    )
    b = ev.where(
        (F.col("event_id") % 1024 == 0) & (F.col("event_id") + 1 < n)
    ).select(
        F.col("event_id").alias("src"),
        (F.col("event_id") + 1).alias("dst"),
    )
    return resolve_redirects(
        a.unionByName(b), rounds=_REDIR_ROUNDS
    ).orderBy("node")


def _oracle_redirect_resolve() -> str:
    # s0 already walks edge #1; s1..s{2^R - 1} walk the rest of the
    # 2^R-edge budget one at a time
    steps = []
    for s in range(1, 2**_REDIR_ROUNDS):
        steps.append(
            f"""s{s} AS MATERIALIZED (
              SELECT node, COALESCE(f.dst, t) AS t,
                     h + CASE WHEN f.dst IS NULL THEN 0 ELSE 1 END AS h
              FROM s{s - 1} LEFT JOIN f ON f.src = s{s - 1}.t)"""
        )
    chain = ",\n        ".join(steps)
    last = 2**_REDIR_ROUNDS - 1
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM events),
        raw AS (
          SELECT event_id AS src, event_id - 1 AS dst FROM events
          WHERE event_id % 16 <> 0
          UNION ALL
          SELECT event_id, event_id + 1 FROM events, nn
          WHERE event_id % 1024 = 0 AND event_id + 1 < nn.n),
        f AS MATERIALIZED (
          SELECT src, min(dst) AS dst FROM raw
          WHERE src <> dst GROUP BY src),
        nodes AS MATERIALIZED (
          SELECT src AS node FROM f UNION SELECT dst FROM f),
        s0 AS MATERIALIZED (
          SELECT nodes.node AS node, COALESCE(f.dst, nodes.node) AS t,
                 CASE WHEN f.dst IS NULL THEN 0 ELSE 1 END AS h
          FROM nodes LEFT JOIN f ON f.src = nodes.node),
        {chain}
        SELECT s{last}.node AS node, s{last}.t AS target,
               CAST(s{last}.h AS BIGINT) AS hops,
               (f.src IS NULL) AS resolved
        FROM s{last} LEFT JOIN f ON f.src = s{last}.t
        ORDER BY node
    """


def _q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain link graph with reciprocity
    (webcorpus.host_graph): outlink edges synthesized from event_id
    (src = synth url of the id, dst = synth url of (id*5+2) mod n —
    the q_kcore contraction stream reused as a url graph), collapsed
    to weighted domain->domain edges with mutual-link flags.  The
    oracle re-derives both endpoint domains through the independent
    string_split chain and tests reciprocity with a LEFT JOIN on the
    reversed key."""
    from geo_spark.operators.webcorpus import host_graph, synthetic_url_sql

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    # materialize the synthesized url edges (input prep, same rule as
    # bench.py's pages table): two full synthetic-url CASE chains plus
    # two registered-domain chains in ONE projection overflow janino's
    # 64 KB method limit and drop the stage to interpreted execution —
    # the localCheckpoint makes the operator's own stage start from
    # url strings and stay inside whole-stage codegen
    links = ev.select(
        F.expr(synthetic_url_sql("event_id")).alias("src_url"),
        F.expr(
            synthetic_url_sql(f"((event_id * 5 + 2) % {n})")
        ).alias("dst_url"),
    ).localCheckpoint()
    return host_graph(links).orderBy("src_domain", "dst_domain")


def _domain_of_url_sql(url_expr: str) -> str:
    """DuckDB scalar subquery: registered domain of a url expression
    via the independent string_split chain (shared by the host-graph
    and domain-rank oracles)."""
    from geo_spark.operators.webcorpus import HOST_RE, MULTI_LABEL_SUFFIXES

    suffixes = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    return f"""(
          SELECT CASE WHEN len(l) <= 2 THEN h
                      WHEN array_to_string(l[-2:], '.') IN ({suffixes})
                           AND len(l) >= 3
                        THEN array_to_string(l[-3:], '.')
                      ELSE array_to_string(l[-2:], '.') END
          FROM (SELECT lower(regexp_extract({url_expr}, '{HOST_RE}', 1)) AS h,
                       string_split(lower(regexp_extract({url_expr},
                         '{HOST_RE}', 1)), '.') AS l)
        )"""


def _host_graph_with_body() -> str:
    """Shared WITH-clause body ending at g(sd, dd, n_links)."""
    from geo_spark.operators.webcorpus import synthetic_url_sql

    src = _domain_of_url_sql(synthetic_url_sql("event_id"))
    dst = _domain_of_url_sql(
        synthetic_url_sql("((event_id * 5 + 2) % nn.n)")
    )
    return f"""nn AS (SELECT count(*) AS n FROM events),
        e AS (
          SELECT {src} AS sd, {dst} AS dd
          FROM events, nn),
        g AS MATERIALIZED (
          SELECT sd, dd, COUNT(*) AS n_links
          FROM e WHERE sd <> dd GROUP BY sd, dd)"""


def _oracle_host_graph() -> str:
    return f"""
        WITH {_host_graph_with_body()}
        SELECT g.sd AS src_domain, g.dd AS dst_domain, g.n_links,
               CAST(CASE WHEN r.sd IS NULL THEN 0 ELSE 1 END
                    AS INTEGER) AS reciprocal
        FROM g LEFT JOIN g r ON r.sd = g.dd AND r.dd = g.sd
        ORDER BY src_domain, dst_domain
    """


_DR_ITERS = 3
_DR_DAMPING = 0.85


def _q_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level PageRank — the webcorpus half COMPOSED with the
    linkgraph half: the q_host_graph url edges collapse to the
    registered-domain graph, and 3 power-iteration steps (teleport +
    dangling mass, the q_link_pagerank spec on STRING node keys) rank
    the domains.  Host-level rank is how production crawl frontiers
    and TrustRank seed audits actually run (url-level graphs are too
    big to iterate exactly); certifying the chain proves the domain
    collapse and the iteration compose.  ROUND-x1e12 scaling per the
    PageRank ULP-granule note."""
    from geo_spark.operators.linkgraph import pagerank
    from geo_spark.operators.webcorpus import host_graph, synthetic_url_sql

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    links = ev.select(
        F.expr(synthetic_url_sql("event_id")).alias("src_url"),
        F.expr(
            synthetic_url_sql(f"((event_id * 5 + 2) % {n})")
        ).alias("dst_url"),
    ).localCheckpoint()
    g = host_graph(links)
    edges = g.select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    r = pagerank(
        edges, nodes, iterations=_DR_ITERS, damping=_DR_DAMPING
    )
    return r.select(
        F.col("id").alias("domain"),
        F.round(F.col("rank") * F.lit(1e12)).cast("long").alias(
            "rank_x1e12"
        ),
    ).orderBy("domain")


def _oracle_domain_rank() -> str:
    d = _DR_DAMPING
    steps = []
    prev = "r0"
    for i in range(1, _DR_ITERS + 1):
        steps.append(
            f"""c{i} AS (
          SELECT e.dst AS id, SUM(r._rank / e.deg) AS c
          FROM edges e JOIN {prev} r ON r.id = e.src
          GROUP BY e.dst),
        dm{i} AS (
          SELECT COALESCE(SUM(r._rank), 0.0) AS dm
          FROM {prev} r LEFT JOIN outdeg o ON o.src = r.id
          WHERE o.src IS NULL),
        r{i} AS (
          SELECT nd.id,
                 (1.0 - {d}) / (SELECT dn FROM dn)
                 + {d} * (COALESCE(c.c, 0.0)
                          + dm{i}.dm / (SELECT dn FROM dn)) AS _rank
          FROM dnodes nd CROSS JOIN dm{i}
          LEFT JOIN c{i} c ON c.id = nd.id)"""
        )
        prev = f"r{i}"
    steps_sql = ",\n        ".join(steps)
    return f"""
        WITH {_host_graph_with_body()},
        dedup AS (SELECT DISTINCT sd AS src, dd AS dst FROM g),
        dnodes AS MATERIALIZED (
          SELECT src AS id FROM dedup UNION SELECT dst FROM dedup),
        dn AS (SELECT CAST(COUNT(*) AS BIGINT) AS dn FROM dnodes),
        outdeg AS (SELECT src, COUNT(*) AS deg FROM dedup GROUP BY src),
        edges AS (SELECT e.src, e.dst, o.deg
                  FROM dedup e JOIN outdeg o ON o.src = e.src),
        r0 AS (SELECT id, 1.0 / (SELECT dn FROM dn) AS _rank FROM dnodes),
        {steps_sql}
        SELECT id AS domain,
               CAST(ROUND(_rank * 1e12) AS BIGINT) AS rank_x1e12
        FROM {prev} ORDER BY domain
    """


def _q_crawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-budget prioritization — THREE certified families under
    one oracle: the domain link-graph PageRank (q_domain_rank's
    events-side chain), the per-domain corpus mass (documents-side
    registered-domain page counts, q_domain_stats' construction), and
    Borda rank fusion (q_rank_fusion's rule) — fused = dense_rank by
    authority + dense_rank by inventory, lower = crawl first.  This
    is the decision table a recrawl scheduler actually reads, and the
    certificate proves the graph, webcorpus, and sampling halves
    compose across two different source tables joined on a DERIVED
    string key (the registered domain)."""
    from geo_spark.operators.sampling import rank_fusion
    from geo_spark.operators.webcorpus import (
        host_col,
        registered_domain_col,
        synthetic_url_sql,
    )

    rank = _q_domain_rank(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    # Janino guard (input prep, not engine work): the synthetic-url
    # CASE chain stacked inside the groupBy key blows the 64 KB
    # generated-method limit and silently drops the agg to interpreted
    # execution — materialize the fixture urls first so the agg stage
    # compiles (production reads a real url column here)
    urls = docs.select(
        F.expr(synthetic_url_sql("doc_id")).alias("url")
    ).localCheckpoint()
    pages = (
        urls.select(
            registered_domain_col(host_col(F.col("url"))).alias("domain")
        )
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("pages"))
    )
    j = rank.join(pages, "domain", "inner").select(
        "domain", "rank_x1e12", "pages"
    )
    fused = rank_fusion(
        j, {"rank_x1e12": True, "pages": True}, key="domain"
    )
    return (
        fused.join(j, "domain")
        .select(
            "domain",
            "fused",
            F.col("rank_rank_x1e12").alias("rank_authority"),
            F.col("rank_pages").alias("rank_inventory"),
            "rank_x1e12",
            "pages",
        )
        .orderBy("domain")
    )


def _oracle_crawl_priority() -> str:
    from geo_spark.operators.webcorpus import synthetic_url_sql

    dom = _domain_of_url_sql(synthetic_url_sql("doc_id"))
    return f"""
        WITH dr AS MATERIALIZED ({_oracle_domain_rank()}),
        ds AS (
          SELECT {dom} AS domain, COUNT(*) AS pages
          FROM documents GROUP BY 1),
        j AS (
          SELECT dr.domain, dr.rank_x1e12, ds.pages
          FROM dr JOIN ds USING (domain)),
        r AS (
          SELECT domain, rank_x1e12, pages,
                 CAST(dense_rank() OVER (ORDER BY rank_x1e12 DESC)
                      AS BIGINT) AS rank_authority,
                 CAST(dense_rank() OVER (ORDER BY pages DESC)
                      AS BIGINT) AS rank_inventory
          FROM j)
        SELECT domain, rank_authority + rank_inventory AS fused,
               rank_authority, rank_inventory, rank_x1e12, pages
        FROM r ORDER BY domain
    """


_TMPL_MIN = 2
# engine-portable path synthesis: calendar trap / paginated product /
# static page / tag listing (CAST AS BIGINT coerces in both engines,
# the synthetic_url_sql precedent)
_TMPL_PATH_SQL = (
    "(CASE {id} % 4"
    " WHEN 0 THEN '/2024/' || CAST({id} % 12 + 1 AS BIGINT) || '/'"
    "   || CAST({id} % 28 + 1 AS BIGINT) || '/post-' || CAST({id} AS BIGINT)"
    " WHEN 1 THEN '/product/' || CAST({id} AS BIGINT)"
    "   || '/reviews?page=' || CAST({id} % 50 AS BIGINT)"
    " WHEN 2 THEN '/about'"
    " ELSE '/tag/t' || CAST({id} % 5 AS BIGINT) || '/' || CAST({id} AS BIGINT)"
    " END)"
)


def _q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL path-template mining (webcorpus.url_templates): synthetic
    hosts (the proven-portable synthetic_url_sql construction) get
    calendar-trap / paginated-product / static / tag paths; digit
    runs generalize to '{N}' and (registered domain, template) counts
    surface the traps.  Pure codegen (two regexps + one map-combined
    count); the oracle re-derives host -> registered domain through
    the independent string_split chain and applies the same
    generalization with DuckDB's global-flag regexp_replace."""
    from geo_spark.operators.webcorpus import (
        host_col,
        synthetic_url_sql,
        url_templates,
    )

    ev = _t(spark, sf_dir, "events").select("event_id")
    pages = ev.select(
        F.concat(
            F.lit("https://"),
            host_col(F.expr(synthetic_url_sql("event_id"))),
            F.expr(_TMPL_PATH_SQL.format(id="event_id")),
        ).alias("url")
    )
    return url_templates(pages, min_count=_TMPL_MIN).orderBy(
        "domain", "template"
    )


def _oracle_url_templates() -> str:
    from geo_spark.operators.webcorpus import (
        HOST_RE,
        MULTI_LABEL_SUFFIXES,
        synthetic_url_sql,
    )

    suffixes = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    path = _TMPL_PATH_SQL.format(id="event_id")
    return f"""
        WITH u AS (
          SELECT 'https://'
                 || lower(regexp_extract({synthetic_url_sql('event_id')},
                                         '{HOST_RE}', 1))
                 || {path} AS url
          FROM events),
        h AS (
          SELECT lower(regexp_extract(url, '{HOST_RE}', 1)) AS host,
                 regexp_replace(
                   regexp_extract(url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1),
                   '[0-9]+', '{{N}}', 'g') AS template
          FROM u),
        parts AS (SELECT *, string_split(host, '.') AS labels FROM h),
        d AS (
          SELECT template,
                 CASE WHEN len(labels) <= 2 THEN host
                      WHEN array_to_string(labels[-2:], '.') IN ({suffixes})
                           AND len(labels) >= 3
                        THEN array_to_string(labels[-3:], '.')
                      ELSE array_to_string(labels[-2:], '.')
                 END AS domain
          FROM parts)
        SELECT domain, template, COUNT(*) AS n_urls
        FROM d GROUP BY domain, template
        HAVING COUNT(*) >= {_TMPL_MIN}
        ORDER BY domain, template
    """


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-recrawl snapshot diff (webcorpus.snapshot_diff):
    two deterministic snapshots of the documents table — OLD drops
    doc_id % 7 == 0 (those become 'added'), NEW drops doc_id % 5 == 0
    ('removed') and rewrites text for doc_id % 3 == 0 ('changed' via
    md5 content fingerprints); everything else 'unchanged'.  The
    full-outer join classification is replayed by the oracle from the
    same construction rules — both engines compute md5 over identical
    bytes, so fingerprint equality is byte-exact."""
    from geo_spark.operators.webcorpus import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id"), F.md5(F.col("text")).alias("fp")
    )
    new = docs.where(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id"),
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit("!"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    return snapshot_diff(old, new, key="doc_id").orderBy("doc_id")


def _oracle_snapshot_diff() -> str:
    return """
        WITH old AS (
          SELECT doc_id, md5(text) AS fp FROM documents
          WHERE doc_id % 7 <> 0),
        new AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 3 = 0 THEN text || '!'
                          ELSE text END) AS fp
          FROM documents WHERE doc_id % 5 <> 0)
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.fp IS NULL THEN 'added'
                    WHEN n.fp IS NULL THEN 'removed'
                    WHEN o.fp <> n.fp THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        ORDER BY doc_id
    """


_ISO_BAND = 16
_ISO_GH = 2


def _q_isochrone_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone tile map — the graph half COMPOSED with the tiling
    half under one certificate: weighted shortest-path distances from
    the seed set (delta-frontier Bellman-Ford, q_weighted_paths'
    fixture) land on each reached node's geo position, get a byte-
    exact geohash-2 tile and an integer distance band (dist div 16,
    non-negative so Spark div == DuckDB //), and roll up to
    (tile, band) reach counts — the "how far does influence travel
    from the seeds, on the map" product (crawl-latency heatmaps,
    service-area isochrones over a road graph).  The oracle chains
    the full 6-round relaxation unroll INTO the direct-bit-gather
    geohash chain and the same band arithmetic — one certificate for
    the composition, not just the stages.  Distances and counts are
    exact integers; the geohash quantization is the q_geohash_rollup
    proven-portable path."""
    from geo_spark.functions.webgrid import geohash_col
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.linkgraph import weighted_distances

    edges = _core_edges(spark, sf_dir).withColumn("w", F.expr(_WPATH_W))
    seeds = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") % _WPATH_SEED_MOD == 0)
        .select(F.col("event_id").alias("id"))
    )
    dist = weighted_distances(edges, seeds, rounds=_WPATH_ROUNDS)
    pts = with_geo_noise(_t(spark, sf_dir, "events"), "event_id").select(
        F.col("event_id").alias("node"),
        geohash_col(F.col("lat"), F.col("lng"), _ISO_GH).alias("gh2"),
    )
    return (
        dist.join(pts, "node")
        .select("gh2", F.expr(f"dist div {_ISO_BAND}").alias("band"), "dist", "node")
        .groupBy("gh2", "band")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("node").alias("min_node"),
            F.sum("dist").alias("sum_dist"),
        )
        .orderBy("gh2", "band")
    )


def _oracle_isochrone_tiles() -> str:
    from geo_spark.functions.webgrid import geohash_char_sql
    from geo_spark.kernel.webgrid import _geohash_bits
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lng_bits, lat_bits = _geohash_bits(_ISO_GH)
    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    chars = geohash_char_sql("lng_q", "lat_q", _ISO_GH)
    return f"""
        WITH {_wpath_with_body()},
        dist AS MATERIALIZED (
          SELECT n AS node, CAST(_d AS BIGINT) AS dist
          FROM d{_WPATH_ROUNDS}),
        pts AS (
          SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        q AS (
          SELECT event_id,
                 GREATEST(0, LEAST({(1 << lat_bits) - 1},
                   CAST(FLOOR((lat + 90.0) / 180.0 * {float(1 << lat_bits)!r}) AS BIGINT))) AS lat_q,
                 GREATEST(0, LEAST({(1 << lng_bits) - 1},
                   CAST(FLOOR((lng + 180.0) / 360.0 * {float(1 << lng_bits)!r}) AS BIGINT))) AS lng_q
          FROM pts),
        gh AS (SELECT event_id, {' || '.join(chars)} AS gh2 FROM q)
        SELECT gh.gh2 AS gh2, dist.dist // {_ISO_BAND} AS band,
               COUNT(*) AS cnt, MIN(dist.node) AS min_node,
               CAST(SUM(dist.dist) AS BIGINT) AS sum_dist
        FROM dist JOIN gh ON gh.event_id = dist.node
        GROUP BY gh.gh2, dist.dist // {_ISO_BAND}
        ORDER BY gh2, band
    """


_DIAM_HOPS = 8


def _q_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sweep diameter estimate over the undirected core graph —
    the classic double-BFS lower bound (sweep 1 from the smallest
    node finds a peripheral node; sweep 2 from THERE has max depth >=
    half the true diameter, usually equal on real graphs).  The whole
    composition is LAZY — the second sweep's seed is a limit-1
    DataFrame (ORDER BY dist DESC, node), not a collect, so zero
    driver actions end to end.  Output: sweep-2 depth histogram (a
    wrong far-node pick or any BFS labeling error reshapes it).
    Oracle: two chained recursive CTEs with the same tie rule."""
    from geo_spark.operators.linkgraph import seed_distances

    e = _core_edges(spark, sf_dir)
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ev = _t(spark, sf_dir, "events")
    start = ev.agg(F.min("event_id").alias("id"))
    d1 = seed_distances(und, start, max_hops=_DIAM_HOPS)
    far = (
        d1.orderBy(F.desc("dist"), "node")
        .limit(1)
        .select(F.col("node").alias("id"))
    )
    d2 = seed_distances(und, far, max_hops=_DIAM_HOPS)
    return (
        d2.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node"))
        .orderBy("dist")
    )


def _oracle_graph_diameter() -> str:
    streams = " UNION ALL ".join(
        f"SELECT event_id AS src, {tpl.format(n='nn.n')} AS dst "
        "FROM events, nn"
        for tpl in _CORE_SQL_STREAMS
    )
    return f"""
        WITH RECURSIVE nn AS (SELECT count(*) AS n FROM events),
        raw AS ({streams}),
        e AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM raw
            UNION ALL SELECT dst, src FROM raw)
          WHERE src <> dst),
        r1 AS (
            SELECT (SELECT min(event_id) FROM events) AS node, 0 AS dist
            UNION
            SELECT e.dst AS node, r1.dist + 1 AS dist
            FROM r1 JOIN e ON e.src = r1.node
            WHERE r1.dist < {_DIAM_HOPS}
        ),
        d1 AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM r1 GROUP BY node),
        far AS MATERIALIZED (
          SELECT node FROM d1 ORDER BY dist DESC, node LIMIT 1),
        r2 AS (
            SELECT (SELECT node FROM far) AS node, 0 AS dist
            UNION
            SELECT e.dst AS node, r2.dist + 1 AS dist
            FROM r2 JOIN e ON e.src = r2.node
            WHERE r2.dist < {_DIAM_HOPS}
        ),
        d2 AS (SELECT node, min(dist) AS dist FROM r2 GROUP BY node)
        SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes,
               MIN(node) AS min_node
        FROM d2 GROUP BY dist ORDER BY dist
    """


_COCITE_MAX_DF = 16
_COCITE_MIN_COMMON = 2


def _q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation "related pages" pairs over the REVERSED skewed
    event graph (hub citers exist there: out-degrees 3..111), so the
    max_df=16 stop-citer valve actively drops 232 prolific citers at
    sf0.01 (operators/linkgraph.py:cocitation_pairs).  The oracle
    replays valve -> wedge self-join -> pair count -> degree joins
    relationally; integer-only outputs."""
    from geo_spark.operators.linkgraph import cocitation_pairs

    edges = _core_edges(spark, sf_dir).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return cocitation_pairs(
        edges, min_common=_COCITE_MIN_COMMON, max_df=_COCITE_MAX_DF
    ).orderBy("a", "b")


def _oracle_cocitation() -> str:
    streams = " UNION ALL ".join(
        f"SELECT event_id AS src, {tpl.format(n='nn.n')} AS dst "
        "FROM events, nn"
        for tpl in _CORE_SQL_STREAMS
    )
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM events),
        raw AS ({streams}),
        e AS MATERIALIZED (
          SELECT DISTINCT dst AS s, src AS t FROM raw WHERE src <> dst),
        outdeg AS (SELECT s, count(*) AS od FROM e GROUP BY s),
        ok AS MATERIALIZED (
          SELECT e.s, e.t FROM e JOIN outdeg USING (s)
          WHERE od <= {_COCITE_MAX_DF}),
        cited AS (SELECT t, count(*) AS c FROM ok GROUP BY t),
        pairs AS (
          SELECT l.t AS a, r.t AS b, count(*) AS n_common
          FROM ok l JOIN ok r ON l.s = r.s AND l.t < r.t
          GROUP BY l.t, r.t)
        SELECT p.a, p.b, p.n_common,
               ca.c AS cited_a, cb.c AS cited_b
        FROM pairs p
        JOIN cited ca ON p.a = ca.t
        JOIN cited cb ON p.b = cb.t
        WHERE p.n_common >= {_COCITE_MIN_COMMON}
        ORDER BY p.a, p.b
    """


def _q_event_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Pareto frontier of events minimizing (value, ts) —
    "cheapest and earliest" tradeoffs (operators/skyline.py:skyline2d:
    distinct pairs -> equal-width bin prefix-min prefilter -> exact
    strictly-preceding running-min window -> broadcast join back).
    The oracle is first-principles NOT EXISTS dominance — structurally
    independent of the bin machinery, so the prefilter's exact-safety
    claim is certified, not assumed.  No arithmetic touches the
    compared value/ts columns (raw parquet doubles/timestamps), so the
    hash compare is byte-stable across engines."""
    from geo_spark.operators.skyline import skyline2d

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    sky = skyline2d(ev, "value", "ts", by=["event_type"], buckets=256)
    return sky.select("event_type", "event_id", "value", "ts").orderBy(
        "event_type", "event_id"
    )


def _oracle_event_skyline() -> str:
    return """
        WITH p AS (SELECT event_id, event_type, value, ts FROM events)
        SELECT a.event_type, a.event_id, a.value, a.ts
        FROM p a
        WHERE NOT EXISTS (
          SELECT 1 FROM p b
          WHERE b.event_type = a.event_type
            AND b.value <= a.value AND b.ts <= a.ts
            AND (b.value < a.value OR b.ts < a.ts))
        ORDER BY a.event_type, a.event_id
    """


_TRI_STREAMS = [(1, 1), (1, 2), (48271, 11), (69621, 7)]

# degree-skewed deterministic graph for peeling ops: two quadratic
# streams (non-uniform in-degree), one affine stream, one contraction
# stream (id div 7 -> hubs).  All non-negative, so Spark's truncating
# div and DuckDB's flooring // agree.
_CORE_SQL_STREAMS = [
    "(event_id * event_id + 1) % {n}",
    "(event_id * event_id + 3) % {n}",
    "(event_id * 5 + 2) % {n}",
    "event_id // 7",
]
_KCORE_K = 5
_KCORE_ROUNDS = 10


def _core_edges(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    edges = None
    for tpl in _CORE_SQL_STREAMS:
        expr = tpl.format(n=n).replace("//", "div")
        e = ev.select(
            F.col("event_id").alias("src"),
            F.expr(expr).cast("long").alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    return edges


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of a degree-skewed deterministic event graph
    (operators/linkgraph.py:kcore): simultaneous-peeling rounds to the
    unique fixed point (k=5 peels this fixture over 6 shrinking rounds
    + 1 confirming round and keeps a ~3.8k-node core).  The oracle unrolls the SAME confluent rounds
    as materialized CTEs — degree agg + two endpoint joins per round —
    and reads the surviving degrees."""
    from geo_spark.operators.linkgraph import kcore

    return kcore(_core_edges(spark, sf_dir), k=_KCORE_K).orderBy("node")


def _oracle_kcore() -> str:
    streams = " UNION ALL ".join(
        f"SELECT event_id AS src, {tpl.format(n='nn.n')} AS dst "
        "FROM events, nn"
        for tpl in _CORE_SQL_STREAMS
    )
    rounds = []
    for r in range(_KCORE_ROUNDS):
        prev = "e0" if r == 0 else f"e{r}"
        rounds.append(
            f"""d{r} AS MATERIALIZED (
              SELECT n, count(*) AS d FROM (
                SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev})
              GROUP BY n),
            k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {_KCORE_K}),
            e{r + 1} AS MATERIALIZED (
              SELECT c.u, c.v FROM {prev} c
              JOIN k{r} a ON c.u = a.n JOIN k{r} b ON c.v = b.n)"""
        )
    chain = ",\n".join(rounds)
    last = f"e{_KCORE_ROUNDS}"
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM events),
        raw AS ({streams}),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM raw WHERE src <> dst),
        {chain}
        SELECT n AS node, count(*) AS core_deg FROM (
          SELECT u AS n FROM {last} UNION ALL SELECT v FROM {last})
        GROUP BY n ORDER BY node
    """


def _q_link_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting with degree-ordered orientation
    (operators/linkgraph.py:triangle_counts) over a deterministic
    event-id graph: two ring streams (+1, +2 — every consecutive triple
    closes) plus two LCG streams for irregular degree.  The oracle
    replays canonicalize -> degrees -> orientation -> wedge join ->
    closing join relationally."""
    from geo_spark.operators.linkgraph import triangle_counts

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    edges = None
    for a, b in _TRI_STREAMS:
        e = ev.select(
            F.col("event_id").alias("src"),
            ((F.col("event_id") * a + b) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    return triangle_counts(edges).orderBy("node")


def _oracle_link_triangles() -> str:
    streams = " UNION ALL ".join(
        f"SELECT event_id AS src, (event_id * {a} + {b}) % nn.n AS dst "
        "FROM events, nn"
        for a, b in _TRI_STREAMS
    )
    return f"""
        WITH nn AS (SELECT count(*) AS n FROM events),
        raw AS ({streams}),
        und AS (SELECT DISTINCT least(src, dst) AS u,
                       greatest(src, dst) AS v
                FROM raw WHERE src <> dst),
        deg AS (SELECT n, count(*) AS d FROM (
                  SELECT u AS n FROM und
                  UNION ALL SELECT v AS n FROM und) GROUP BY n),
        ori AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v)
                            THEN u ELSE v END AS a,
                       CASE WHEN du < dv OR (du = dv AND u < v)
                            THEN v ELSE u END AS b,
                       CASE WHEN du < dv OR (du = dv AND u < v)
                            THEN dv ELSE du END AS db
                FROM und
                JOIN deg d1 ON d1.n = und.u
                JOIN deg d2 ON d2.n = und.v,
                LATERAL (SELECT d1.d AS du, d2.d AS dv) t),
        tris AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM ori e1 JOIN ori e2 ON e1.a = e2.a
                 AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
                 JOIN ori e3 ON e3.a = e1.b AND e3.b = e2.b),
        corners AS (SELECT x AS node FROM tris
                    UNION ALL SELECT y FROM tris
                    UNION ALL SELECT z FROM tris)
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        FROM corners GROUP BY node ORDER BY node
    """


def _q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy join (operators/dedup.py:fuzzy_pairs):
    all document-title pairs within edit distance 4, q-gram blocking
    (lossless by the q-gram lemma at these lengths) + native
    levenshtein refine.  Oracle is the brute all-pairs levenshtein."""
    from geo_spark.operators.dedup import fuzzy_pairs

    titles = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("title")
    )
    return fuzzy_pairs(
        titles, max_dist=4, q=4, key="doc_id", text_col="title"
    ).orderBy("id_a", "id_b")


def _oracle_fuzzy_pairs() -> str:
    return """
        WITH t AS (SELECT doc_id, substring(text, 1, 24) AS s
                   FROM documents),
        f AS (SELECT * FROM t WHERE length(s) >= 20)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE abs(length(a.s) - length(b.s)) <= 4
          AND levenshtein(a.s, b.s) <= 4
        ORDER BY id_a, id_b
    """


_WINNOW_K = 8
_WINNOW_W = 4
_WINNOW_MAXDF = 50
_WINNOW_MIN_SHARED = 20


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing dedup (operators/dedup.py:winnow_pairs):
    per-window minimum k-gram md5 fingerprints (value-selection
    variant — fixed-length hex makes lexicographic min numeric min,
    keeping the whole operator native SQL), stop-gram df filter as the
    join's skew valve, pairs sharing >= 20 fingerprints (the near-dup band in this corpus).  The oracle
    replays gram/window/min/df/join from first principles."""
    from geo_spark.operators.dedup import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return (
        winnow_pairs(
            docs,
            min_shared=_WINNOW_MIN_SHARED,
            kgram=_WINNOW_K,
            window=_WINNOW_W,
            max_df=_WINNOW_MAXDF,
        )
        .orderBy("id_a", "id_b")
    )


def _oracle_winnow_pairs() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
        WITH grams AS (
          SELECT doc_id, text,
                 unnest(range(1, length(text) - {k - 1} + 1)) AS pos
          FROM documents WHERE length(text) >= {k}),
        h AS (SELECT doc_id, pos,
                     md5(substring(text, CAST(pos AS INT), {k})) AS h
              FROM grams),
        mw AS (SELECT doc_id, pos,
                      min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN CURRENT ROW
                                   AND {w - 1} FOLLOWING) AS fp,
                      max(pos) OVER (PARTITION BY doc_id) AS np
               FROM h),
        fps AS (SELECT DISTINCT doc_id, fp FROM mw
                WHERE pos <= np - {w - 1}),
        dfc AS (SELECT fp, count(*) AS dfn FROM fps GROUP BY fp),
        kept AS (SELECT f.doc_id, f.fp FROM fps f
                 JOIN dfc USING (fp) WHERE dfc.dfn <= {_WINNOW_MAXDF}),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         count(*) AS n_shared
                  FROM kept a JOIN kept b
                    ON a.fp = b.fp AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        FROM pairs WHERE n_shared >= {_WINNOW_MIN_SHARED}
        ORDER BY id_a, id_b
    """


def _q_token_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 token bigrams by association lift
    (PMI's ratio in integer ppm — the log dropped so the ranking is
    engine-portable; operators/text.py:token_lift).  Adjacency comes
    from a per-doc lead window, never a token self-join; the oracle
    rebuilds pairs with a positional self-join — different machinery,
    same definition."""
    from geo_spark.operators.text import token_lift

    docs = _t(spark, sf_dir, "documents")
    return token_lift(docs, min_count=5, k=20)


def _oracle_token_lift() -> str:
    return """
        WITH toks AS (SELECT doc_id,
                             generate_subscripts(
                               string_split(lower(text), ' '), 1) AS pos,
                             unnest(string_split(lower(text), ' ')) AS term
                      FROM documents),
        pairs AS (SELECT t1.term AS a, t2.term AS b
                  FROM toks t1 JOIN toks t2
                    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
                  WHERE length(t1.term) > 0 AND length(t2.term) > 0),
        big AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
        uni AS (SELECT term AS t, count(*) AS c FROM toks
                WHERE length(term) > 0 GROUP BY term),
        nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
        nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_big FROM big),
        j AS (SELECT big.a, big.b, CAST(c_ab AS BIGINT) AS c_ab,
                     CAST(ua.c AS BIGINT) AS c_a,
                     CAST(ub.c AS BIGINT) AS c_b,
                     (((CAST(c_ab AS BIGINT) * n_uni)
                        // CAST(ua.c AS BIGINT)) * 1000000
                        // CAST(ub.c AS BIGINT)) * n_uni // n_big
                       AS lift_ppm
              FROM big
              JOIN uni ua ON ua.t = big.a
              JOIN uni ub ON ub.t = big.b, nu, nb
              WHERE c_ab >= 5)
        SELECT a, b, c_ab, c_a, c_b, CAST(lift_ppm AS BIGINT) AS lift_ppm
        FROM j ORDER BY lift_ppm DESC, a, b LIMIT 20
    """


def _rg_centroids() -> list[tuple[int, float, float, float]]:
    """Normalized vertex-mean centroid per _PIP_LOOPS zone, computed
    once in numpy and inlined as identical double literals on BOTH
    engines (the float-discipline rule: compared arithmetic runs on
    identical inputs)."""
    import numpy as np

    from geo_spark.kernel.pip import latlng_text_to_xyz

    out = []
    for g, t in _PIP_LOOPS:
        v = latlng_text_to_xyz(t)
        c = v.mean(axis=0)
        c = c / np.linalg.norm(c)
        out.append((g, float(c[0]), float(c[1]), float(c[2])))
    return out


def _rg_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, zone, method): the reverse-geocode assignment chain,
    shared by _q_reverse_geocode and the per-zone transition compose."""
    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.kernel.regions import LoopRegion
    from geo_spark.operators.spatial_join import build_layer, spatial_join

    layer = build_layer(
        spark,
        [
            (g, LoopRegion.from_vertices(latlng_text_to_xyz(t)))
            for g, t in _PIP_LOOPS
        ],
        max_cells=12,
    )
    ev = _events_with_cells(spark, sf_dir)
    hits = spatial_join(ev, layer, point_key="event_id", latlng=("lat", "lng"))
    pip = (
        hits.groupBy("event_id")
        .agg(F.min("geom_id").cast("long").alias("zone"))
        .withColumn("method", F.lit("pip"))
    )
    misses = ev.join(pip.select("event_id"), "event_id", "left_anti")
    cdf = spark.createDataFrame(
        _rg_centroids(), "czone long, cx double, cy double, cz double"
    )
    rad = F.radians
    m = misses.select(
        "event_id",
        (F.cos(rad("lng")) * F.cos(rad("lat"))).alias("x"),
        (F.sin(rad("lng")) * F.cos(rad("lat"))).alias("y"),
        F.sin(rad("lat")).alias("z"),
    )
    d = m.join(F.broadcast(cdf)).select(
        "event_id",
        F.struct(
            (
                (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
                + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy"))
                + (F.col("z") - F.col("cz")) * (F.col("z") - F.col("cz"))
            ).alias("chord2"),
            F.col("czone").alias("zone"),
        ).alias("_s"),
    )
    near = (
        d.groupBy("event_id")
        .agg(F.min("_s").alias("_m"))
        .select("event_id", F.col("_m.zone").alias("zone"))
        .withColumn("method", F.lit("knn"))
    )
    return pip.unionByName(near)


def _q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse geocoding: every event gets a zone — by PIP membership
    when inside a _PIP_LOOPS polygon (method 'pip'), else the nearest
    zone centroid by chord distance (method 'knn') — the classic
    admin-area assignment compose (PIP join -> anti-join -> broadcast
    nearest-centroid argmin; partial-aggregatable struct-min, the
    mapmatch selection shape).  One covering join + one broadcast
    NLJ over 3 centroids; no Python.  Oracle replays the convex
    edge-sign PIP and a row_number argmin independently."""
    return _rg_assign(spark, sf_dir).orderBy("event_id")


def _q_zone_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-6 composition certificate: reverse geocoding composed
    with the Markov transition matrix — per ZONE, the per-user
    event-type transition counts/probabilities, where the zone comes
    from the PIP+kNN assignment chain.  ONE DuckDB oracle replays
    geocode -> scoped lag pairing -> floor-ppm normalization end to
    end (the geo and sequence halves composing)."""
    from geo_spark.operators.sessionize import transition_matrix

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    zoned = ev.join(
        _rg_assign(spark, sf_dir).select("event_id", "zone"), "event_id"
    )
    return transition_matrix(zoned, scope_cols=("zone",)).orderBy(
        "zone", "prev_state", "state"
    )


def _rg_zone_cte() -> str:
    """WITH-body producing zones(event_id, zone, method) — the oracle
    twin of _rg_assign, shared by both reverse-geocode oracles."""
    import numpy as np

    from geo_spark.kernel.pip import latlng_text_to_xyz
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    rows = []
    for g, t in _PIP_LOOPS:
        v = latlng_text_to_xyz(t)
        for k in range(len(v)):
            n = np.cross(v[k], v[(k + 1) % len(v)])
            rows.append(
                f"({g}, {float(n[0])!r}, {float(n[1])!r}, {float(n[2])!r})"
            )
    norms = ", ".join(rows)
    cents = ", ".join(
        f"({g}, {cx!r}, {cy!r}, {cz!r})"
        for g, cx, cy, cz in _rg_centroids()
    )
    return f"""
        pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        xyz AS (SELECT event_id,
                       cos(radians(lng))*cos(radians(lat)) AS x,
                       sin(radians(lng))*cos(radians(lat)) AS y,
                       sin(radians(lat)) AS z
                FROM pts),
        norms(geom_id, nx, ny, nz) AS (VALUES {norms}),
        inz AS (SELECT geom_id, event_id
                FROM xyz, norms
                GROUP BY geom_id, event_id
                HAVING MIN(nx*x + ny*y + nz*z) > 0),
        pip AS (SELECT event_id, CAST(min(geom_id) AS BIGINT) AS zone
                FROM inz GROUP BY event_id),
        cents(czone, cx, cy, cz) AS (VALUES {cents}),
        miss AS (SELECT * FROM xyz
                 WHERE event_id NOT IN (SELECT event_id FROM pip)),
        d AS (SELECT event_id, czone,
                     (x-cx)*(x-cx) + (y-cy)*(y-cy) + (z-cz)*(z-cz)
                         AS chord2
              FROM miss, cents),
        r AS (SELECT event_id, czone,
                     row_number() OVER (PARTITION BY event_id
                                        ORDER BY chord2, czone) AS rk
              FROM d),
        zones AS (
            SELECT event_id, zone, 'pip' AS method FROM pip
            UNION ALL
            SELECT event_id, CAST(czone AS BIGINT) AS zone,
                   'knn' AS method
            FROM r WHERE rk = 1)
    """


def _oracle_reverse_geocode() -> str:
    return f"""
        WITH {_rg_zone_cte()}
        SELECT event_id, zone, method FROM zones ORDER BY event_id
    """


def _oracle_zone_transitions() -> str:
    return f"""
        WITH {_rg_zone_cte()},
        ev AS (SELECT e.user_id, e.ts, e.event_id, e.event_type, z.zone
               FROM events e JOIN zones z USING (event_id)),
        pr AS (SELECT zone, event_type AS state,
                      lag(event_type) OVER (PARTITION BY zone, user_id
                        ORDER BY ts, event_id) AS prev_state
               FROM ev),
        cnt AS (SELECT zone, prev_state, state, count(*) AS n
                FROM pr WHERE prev_state IS NOT NULL
                GROUP BY zone, prev_state, state)
        SELECT zone, prev_state, state, CAST(n AS BIGINT) AS n,
               CAST((n * 1000000) //
                    SUM(n) OVER (PARTITION BY zone, prev_state)
                    AS BIGINT) AS p_ppm
        FROM cnt ORDER BY zone, prev_state, state
    """


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR index build (operators/text.py:inverted_index): per term with
    df >= 5, document frequency + the gap-encoded ascending posting
    list as a comma string.  Spark computes gaps with an array
    transform after one collect_list shuffle; the oracle computes them
    with a lag window + ordered string_agg — different machinery, same
    byte-exact postings."""
    from geo_spark.operators.text import inverted_index

    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, min_df=5).orderBy("term")


def _oracle_inverted_index() -> str:
    return """
        WITH toks AS (SELECT DISTINCT doc_id,
                             unnest(string_split(lower(text), ' ')) AS term
                      FROM documents),
        t AS (SELECT term, doc_id FROM toks WHERE length(term) > 0),
        gaps AS (SELECT term, doc_id,
                        doc_id - coalesce(lag(doc_id) OVER (
                            PARTITION BY term ORDER BY doc_id), 0) AS gap
                 FROM t),
        g AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                     string_agg(CAST(gap AS VARCHAR), ','
                                ORDER BY doc_id) AS postings
              FROM gaps GROUP BY term)
        SELECT term, df, postings FROM g WHERE df >= 5 ORDER BY term
    """


_BFS_STREAMS = [(48271, 11), (69621, 7)]
_BFS_HOPS = 4


def _q_link_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS (operators/linkgraph.py:seed_distances):
    hop distance from a seed whitelist (event_id % 997 == 0) along a
    deterministic directed LCG link graph — the TrustRank-style
    seed-propagation signal.  The oracle is a recursive CTE taking
    min(dist) over all <=4-hop paths: a structurally different
    definition of the same quantity (path enumeration vs frontier
    labeling)."""
    from geo_spark.operators.linkgraph import seed_distances

    ev = _t(spark, sf_dir, "events").select("event_id")
    n = ev.count()
    edges = None
    for a, b in _BFS_STREAMS:
        e = ev.select(
            F.col("event_id").alias("src"),
            ((F.col("event_id") * a + b) % n).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    seeds = ev.where(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("id")
    )
    return seed_distances(edges, seeds, max_hops=_BFS_HOPS).orderBy("node")


def _oracle_link_seed_distance() -> str:
    streams = " UNION ALL ".join(
        f"SELECT event_id AS src, (event_id * {a} + {b}) % nn.n AS dst "
        "FROM events, nn"
        for a, b in _BFS_STREAMS
    )
    return f"""
        WITH RECURSIVE nn AS (SELECT count(*) AS n FROM events),
        e AS (SELECT DISTINCT src, dst FROM ({streams}) WHERE src <> dst),
        r AS (
            SELECT event_id AS node, 0 AS dist FROM events
            WHERE event_id % 997 = 0
            UNION
            SELECT e.dst AS node, r.dist + 1 AS dist
            FROM r JOIN e ON e.src = r.node
            WHERE r.dist < {_BFS_HOPS}
        )
        SELECT node, CAST(min(dist) AS BIGINT) AS dist
        FROM r GROUP BY node ORDER BY node
    """


_CMS_DEPTH, _CMS_WIDTH, _CMS_T = 3, 64, 12


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (operators/sketches.py:cms_heavy_hitters):
    per event_type, the user buckets (user_id % 97) appearing >= 12
    times — sketch probe keeps a guaranteed superset (CMS never
    under-counts), exact refine makes the output exact.  width=64
    forces real collisions at sf0.01 so est_count > n_exact somewhere.
    The oracle replays salt-hash -> counters -> min-probe -> survivors
    -> exact counts from first principles."""
    from geo_spark.operators.sketches import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 97).alias("item")
    )
    return cms_heavy_hitters(
        ev, ["event_type"], "item",
        threshold=_CMS_T, depth=_CMS_DEPTH, width=_CMS_WIDTH,
    ).orderBy("event_type", "item")


def _oracle_heavy_hitters() -> str:
    from geo_spark.operators.sketches import md5_mod_duckdb_sql

    hs = [
        md5_mod_duckdb_sql("item", f"cms{d}", _CMS_WIDTH)
        for d in range(_CMS_DEPTH)
    ]
    sk_union = " UNION ALL ".join(
        f"SELECT event_type, {d} AS d, {h} AS bucket FROM src"
        for d, h in enumerate(hs)
    )
    pr_union = " UNION ALL ".join(
        f"SELECT event_type, item, {d} AS d, {h} AS bucket FROM items"
        for d, h in enumerate(hs)
    )
    return f"""
        WITH src AS (SELECT event_type, user_id % 97 AS item FROM events),
        sk AS (SELECT event_type, d, bucket, count(*) AS cnt
               FROM ({sk_union}) GROUP BY 1, 2, 3),
        items AS (SELECT DISTINCT event_type, item FROM src),
        probes AS ({pr_union}),
        est AS (SELECT p.event_type, p.item,
                       CAST(min(sk.cnt) AS BIGINT) AS est_count
                FROM probes p
                JOIN sk ON sk.event_type = p.event_type
                       AND sk.d = p.d AND sk.bucket = p.bucket
                GROUP BY 1, 2
                HAVING min(sk.cnt) >= {_CMS_T}),
        ex AS (SELECT s.event_type, s.item,
                      CAST(count(*) AS BIGINT) AS n_exact
               FROM src s
               JOIN est e ON e.event_type = s.event_type
                         AND e.item = s.item
               GROUP BY 1, 2
               HAVING count(*) >= {_CMS_T})
        SELECT ex.event_type, ex.item, est.est_count, ex.n_exact
        FROM ex JOIN est ON est.event_type = ex.event_type
                        AND est.item = ex.item
        ORDER BY ex.event_type, ex.item
    """


def _q_bloom_semi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact semi-join
    (operators/sketches.py:bloom_semi_join): orders of customers whose
    custkey % 13 == 0 — the probe side packs into a 2^16-bit literal
    filter (8 KiB), the big-side scan is pure codegen bit tests, the
    exact refine guarantees the Bloom FP rate never reaches the output.
    The oracle is the definitionally exact IN semi-join — which is the
    operator's contract."""
    from geo_spark.operators.sketches import bloom_semi_join

    orders = _t(spark, sf_dir, "orders")
    probe = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 13 == 0)
        .select("c_custkey")
    )
    out = bloom_semi_join(
        orders, "o_custkey", probe, "c_custkey", bits_log2=16, n_hashes=4
    )
    return out.select("o_orderkey", "o_custkey").orderBy("o_orderkey")


def _oracle_bloom_semi_orders() -> str:
    return """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_custkey % 13 = 0)
        ORDER BY o_orderkey
    """


_HOTSPOT_ZOOM = 4  # 16x16 mercator lattice; sf0.01's 10k events ~ 39/tile


def _q_tile_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores over the zoom-4 mercator tile
    lattice of the events (operators/hotspots.py): occupied-tile counts
    -> 9-offset explode + self equi-join neighbor sums (x wraps mod 16,
    y clamps) -> z from EXACT BIGINT moments through the shared
    GI_Z_SQL double tree.  All native SQL — no UDF, no corpus-sized
    shuffle after the first tile groupBy.  The oracle re-derives tiles,
    neighbors and moments from scratch in DuckDB (its own offsets
    VALUES table + self-join); only the final scalar combine text is
    shared, the LAT_SQL convention.  Bucketed at 1e-3 belt-and-braces
    (inputs to the combine are exact integers, so both engines feed
    identical doubles through one expression tree)."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.hotspots import gi_star, tile_counts

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    tiles = tile_counts(ev, _HOTSPOT_ZOOM)
    return (
        gi_star(tiles, _HOTSPOT_ZOOM)
        .select(
            "x",
            "y",
            "v",
            "sumw",
            "sumwx",
            F.expr("CAST(FLOOR(z * 1000.0) AS BIGINT)").alias("z_bucket"),
        )
        .orderBy("x", "y")
    )


def _oracle_tile_hotspots() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL
    from geo_spark.operators.hotspots import GI_Z_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    xs, ys = mercator_xy_sql("lat", "lng", _HOTSPOT_ZOOM)
    n_tiles = 1 << _HOTSPOT_ZOOM
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    z = GI_Z_SQL.format(n="n", s1="s1", s2="s2", sumw="sumw", sumwx="sumwx")
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        t AS (SELECT {xs} AS x, {ys} AS y, COUNT(*) AS v
              FROM pts GROUP BY 1, 2),
        off(dx, dy) AS (VALUES {offs}),
        nb AS (SELECT a.x, a.y, COUNT(*) AS sumw,
                      CAST(SUM(b.v) AS BIGINT) AS sumwx
               FROM t a, off o, t b
               WHERE b.x = (a.x + o.dx + {n_tiles}) % {n_tiles}
                 AND b.y = a.y + o.dy
                 AND a.y + o.dy BETWEEN 0 AND {n_tiles - 1}
               GROUP BY a.x, a.y),
        m AS (SELECT COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM t)
        SELECT t.x, t.y, t.v, nb.sumw, nb.sumwx,
               CAST(FLOOR({z} * 1000.0) AS BIGINT) AS z_bucket
        FROM t JOIN nb ON t.x = nb.x AND t.y = nb.y, m
        ORDER BY t.x, t.y
    """


def _q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-time emerging-hotspot classification
    (operators/hotspots.emerging_hotspots): per-DAY Gi* z per tile
    (day-sliced neighbor sums + day-sliced moments through the shared
    GI_Z_SQL tree), Mann-Kendall over each tile's z series (raw
    doubles — bit-identical across engines because the z tree's
    inputs are exact integers), the portable-isqrt C, and the
    documented first-match CASE (intensifying / waning / persistent /
    former / emerging / none).  The DuckDB twin re-derives the whole
    chain: tiles/day, offsets, moments, z, NULL filter, pair signs,
    tie groups on exact z equality, the radicand, the fix-up, the
    decision, arg_max-latest hotness, and the CASE."""
    from geo_spark.operators.geo_noise import with_geo_noise, with_time_noise
    from geo_spark.operators.hotspots import emerging_hotspots

    ev = with_time_noise(
        with_geo_noise(_t(spark, sf_dir, "events"), "event_id"), "event_id"
    )
    return emerging_hotspots(ev, _HOTSPOT_ZOOM).orderBy("x", "y")


def _oracle_emerging_hotspots() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL, TS_US_SQL
    from geo_spark.operators.hotspots import GI_Z_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    ts = TS_US_SQL.format(id="event_id")
    xs, ys = mercator_xy_sql("lat", "lng", _HOTSPOT_ZOOM)
    n_tiles = 1 << _HOTSPOT_ZOOM
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    z = GI_Z_SQL.format(n="n", s1="s1", s2="s2", sumw="sumw", sumwx="sumwx")
    z2_18 = 18 * 1960 * 1960
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng,
                            ({ts}) // 86400000000 AS day
                     FROM events),
        t AS (SELECT {xs} AS x, {ys} AS y, day, COUNT(*) AS v
              FROM pts GROUP BY 1, 2, 3),
        off(dx, dy) AS (VALUES {offs}),
        nb AS (SELECT a.x, a.y, a.day, COUNT(*) AS sumw,
                      CAST(SUM(b.v) AS BIGINT) AS sumwx
               FROM t a, off o, t b
               WHERE b.day = a.day
                 AND b.x = (a.x + o.dx + {n_tiles}) % {n_tiles}
                 AND b.y = a.y + o.dy
                 AND a.y + o.dy BETWEEN 0 AND {n_tiles - 1}
               GROUP BY 1, 2, 3),
        m AS (SELECT day, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2
              FROM t GROUP BY day),
        gz0 AS (SELECT t.x, t.y, t.day, {z} AS z
                FROM t JOIN nb ON nb.x = t.x AND nb.y = t.y
                               AND nb.day = t.day
                       JOIN m ON m.day = t.day),
        gz AS (SELECT * FROM gz0 WHERE z IS NOT NULL),
        s AS (SELECT a.x, a.y,
                     CAST(SUM(CASE WHEN b.z > a.z THEN 1
                                   WHEN b.z < a.z THEN -1
                                   ELSE 0 END) AS BIGINT) AS s_stat
              FROM gz a JOIN gz b
                ON b.x = a.x AND b.y = a.y AND b.day > a.day
              GROUP BY 1, 2),
        tg AS (SELECT x, y, z, COUNT(*) AS tt FROM gz GROUP BY 1, 2, 3),
        ties AS (SELECT x, y,
                        CAST(SUM(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT)
                          AS tie_term
                 FROM tg GROUP BY 1, 2),
        hotness AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_days,
                           CAST(SUM(CASE WHEN z > 1.96e0 THEN 1
                                         ELSE 0 END) AS BIGINT) AS n_hot,
                           arg_max(z, day) AS last_z
                    FROM gz GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        m0 AS (SELECT h.x, h.y, h.n_days, h.n_hot, h.last_z,
                      {z2_18} * (h.n_days * (h.n_days - 1)
                                 * (2 * h.n_days + 5) - ti.tie_term) AS rx
               FROM hotness h JOIN ties ti
                 ON ti.x = h.x AND ti.y = h.y),
        m1 AS (SELECT *, CAST(FLOOR(SQRT(CAST(rx AS DOUBLE))) AS BIGINT)
                         AS s0
               FROM m0),
        m2 AS (SELECT x, y, n_days, n_hot, last_z,
                      CASE WHEN (s0 + 1) * (s0 + 1) <= rx THEN s0 + 1
                           WHEN s0 * s0 > rx THEN s0 - 1
                           ELSE s0 END AS s1f
               FROM m1),
        meta AS (SELECT x, y, n_days, n_hot, last_z,
                        s1f // 18 // 1000 AS c_alpha
                 FROM m2),
        dec AS (SELECT mm.x, mm.y, mm.n_days, s.s_stat,
                       CAST(mm.c_alpha AS BIGINT) AS c_alpha,
                       CAST(CASE WHEN s.s_stat > 0
                                   AND s.s_stat - 1 > mm.c_alpha THEN 1
                                 WHEN s.s_stat < 0
                                   AND -s.s_stat - 1 > mm.c_alpha THEN -1
                                 ELSE 0 END AS BIGINT) AS trend,
                       mm.n_hot,
                       mm.last_z > 1.96e0 AS hot_now
                FROM meta mm JOIN s ON s.x = mm.x AND s.y = mm.y)
        SELECT x, y, n_days, s_stat, c_alpha, trend, n_hot, hot_now,
               CASE WHEN hot_now AND trend = 1 THEN 'intensifying'
                    WHEN hot_now AND trend = -1 THEN 'waning'
                    WHEN hot_now THEN 'persistent'
                    WHEN n_hot > 0 THEN 'former'
                    WHEN trend = 1 THEN 'emerging'
                    ELSE 'none' END AS class
        FROM dec ORDER BY x, y
    """


def _q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation of per-tile event
    counts on the zoom-4 lattice (operators/hotspots.py:morans_i):
    queen weights minus self, the cross-product decomposed into exact
    BIGINT pair sums (P, Q, W) so the one-row double combine is a
    fixed tree shared with the oracle (MORAN_I_SQL); DuckDB re-derives
    tiles, pairs and moments independently."""
    from geo_spark.operators.geo_noise import with_geo_noise
    from geo_spark.operators.hotspots import morans_i, tile_counts

    ev = with_geo_noise(_t(spark, sf_dir, "events"), "event_id")
    tiles = tile_counts(ev, _HOTSPOT_ZOOM)
    return morans_i(tiles, _HOTSPOT_ZOOM).select(
        "n",
        "w",
        F.expr("CAST(FLOOR(i * 1000000.0) AS BIGINT)").alias("i_bucket"),
    )


def _oracle_morans_i() -> str:
    from geo_spark.functions.webgrid import mercator_xy_sql
    from geo_spark.operators.geo_noise import LAT_SQL, LNG_SQL
    from geo_spark.operators.hotspots import MORAN_I_SQL

    lat = LAT_SQL.format(id="event_id")
    lng = LNG_SQL.format(id="event_id")
    xs, ys = mercator_xy_sql("lat", "lng", _HOTSPOT_ZOOM)
    n_tiles = 1 << _HOTSPOT_ZOOM
    offs = ", ".join(
        f"({dx}, {dy})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    i = MORAN_I_SQL.format(n="n", w="w", p="p", q="q", s1="s1", s2="s2")
    return f"""
        WITH pts AS (SELECT event_id, {lat} AS lat, {lng} AS lng FROM events),
        t AS (SELECT {xs} AS x, {ys} AS y, COUNT(*) AS v
              FROM pts GROUP BY 1, 2),
        off(dx, dy) AS (VALUES {offs}),
        pr AS (SELECT a.v AS vi, b.v AS vj
               FROM t a, off o, t b
               WHERE b.x = (a.x + o.dx + {n_tiles}) % {n_tiles}
                 AND b.y = a.y + o.dy
                 AND a.y + o.dy BETWEEN 0 AND {n_tiles - 1}),
        pm AS (SELECT COUNT(*) AS w, CAST(SUM(vi * vj) AS BIGINT) AS p,
                      CAST(SUM(vi + vj) AS BIGINT) AS q FROM pr),
        m AS (SELECT COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM t)
        SELECT n, w, CAST(FLOOR({i} * 1000000.0) AS BIGINT) AS i_bucket
        FROM m, pm
    """


def _stay_fixture_sql() -> dict[str, str]:
    """Deterministic dwell/move ping synthesis from event_id — pure
    BIGINT hash arithmetic + one final double divide, identical in
    Spark SQL and DuckDB (the geo_noise discipline).  50 trajectories x
    200 steps; every even 10-step phase dwells (±200 µdeg jitter ≈
    22 m), every odd phase hops 3° per ping (≈333 km) — margins vs the
    50 km break radius are 3+ orders of magnitude on both sides, so no
    trig-ulp segmentation flip is possible."""
    user = "(event_id % 50)"
    step = "CAST(FLOOR(event_id / 50.0) AS BIGINT)"
    a = f"CAST(FLOOR({step} / 10.0) AS BIGINT)"
    seed = f"({user} * 1000 + {a})"
    h1 = f"(({seed} * 2654435761 + 12345) % 4294967296)"
    h2 = f"(({seed} * 2246822519 + 54321) % 4294967296)"
    h3 = "((event_id * 1539316589 + 98765) % 4294967296)"
    move = f"(CASE WHEN {a} % 2 = 1 THEN ({step} % 10) * 3000000 ELSE 0 END)"
    ulat = f"(({h1} % 120000000) - 60000000 + ({h3} % 400) - 200 + {move})"
    ulng = f"(({h2} % 340000000) - 170000000 + ({h3} % 300) - 150)"
    return {
        "traj": user,
        "ts": f"({step} * 60)",
        "lat": f"({ulat} / 1000000.0)",
        "lng": f"({ulng} / 1000000.0)",
    }


def _q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point (dwell) detection (operators/staypoints.py) over 50
    synthetic trajectories: gaps-and-islands segmentation in ONE
    trajectory-keyed window pass (chord² to previous ping vs a 50 km
    break radius), exact-BIGINT centroid sums.  The oracle replays the
    full chain in DuckDB — its own LAG window, its own running
    break-sum, its own group filter — from the same integer ping
    synthesis; every output column is either an exact integer or the
    shared fixed double tree over exact integers."""
    from geo_spark.operators.staypoints import stay_points

    fx = _stay_fixture_sql()
    pings = _t(spark, sf_dir, "events").select(
        F.expr(fx["traj"]).alias("traj_id"),
        F.expr(fx["ts"]).alias("ts_s"),
        F.expr(fx["lat"]).alias("lat"),
        F.expr(fx["lng"]).alias("lng"),
    )
    return (
        stay_points(
            pings, radius_m=50_000.0, min_dwell_s=300, min_pings=5
        )
        .orderBy("traj", "seg")
    )


def _oracle_stay_points() -> str:
    import math

    from geo_spark.operators.staypoints import (
        EARTH_RADIUS_M,
        STAY_CENTROID_SQL,
    )

    fx = _stay_fixture_sql()
    chord = 2.0 * math.sin(min(50_000.0 / EARTH_RADIUS_M, math.pi) / 2.0)
    th = format(chord * chord, ".17e")
    clat = STAY_CENTROID_SQL.format(s="slat", n="n_pings")
    clng = STAY_CENTROID_SQL.format(s="slng", n="n_pings")
    return f"""
        WITH pings AS (
          SELECT {fx["traj"]} AS traj, {fx["ts"]} AS ts,
                 {fx["lat"]} AS lat, {fx["lng"]} AS lng
          FROM events
        ),
        xyz AS (
          SELECT traj, ts,
                 CAST(round(lat * 1e6) AS BIGINT) AS ulat,
                 CAST(round(lng * 1e6) AS BIGINT) AS ulng,
                 cos(radians(lng))*cos(radians(lat)) AS px,
                 sin(radians(lng))*cos(radians(lat)) AS py,
                 sin(radians(lat)) AS pz
          FROM pings
        ),
        lagged AS (
          SELECT *, LAG(px) OVER w AS lx, LAG(py) OVER w AS ly,
                 LAG(pz) OVER w AS lz
          FROM xyz WINDOW w AS (PARTITION BY traj ORDER BY ts)
        ),
        flagged AS (
          SELECT traj, ts, ulat, ulng,
                 CASE WHEN lx IS NULL
                        OR (px-lx)*(px-lx) + (py-ly)*(py-ly)
                           + (pz-lz)*(pz-lz) > {th}
                      THEN 1 ELSE 0 END AS brk
          FROM lagged
        ),
        segd AS (
          SELECT traj, ts, ulat, ulng,
                 SUM(brk) OVER (PARTITION BY traj ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS seg
          FROM flagged
        ),
        grp AS (
          SELECT traj, seg, COUNT(*) AS n_pings,
                 MIN(ts) AS t_start, MAX(ts) AS t_end,
                 CAST(SUM(ulat) AS BIGINT) AS slat,
                 CAST(SUM(ulng) AS BIGINT) AS slng
          FROM segd GROUP BY traj, seg
        )
        SELECT traj, CAST(seg AS BIGINT) AS seg, n_pings, t_start, t_end,
               t_end - t_start AS dwell_s,
               {clat} AS lat, {clng} AS lng
        FROM grp
        WHERE n_pings >= 5 AND t_end - t_start >= 300
        ORDER BY traj, seg
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial tile-count pipeline over events at sf0.001."""
    return _q_s2_tile_faceij_l8(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_s2_tile_faceij_l8": _q_s2_tile_faceij_l8,
        "q_cell_neighbors": _q_cell_neighbors,
        "q_vertex_neighbors": _q_vertex_neighbors,
        "q_tile_hotspots": _q_tile_hotspots,
        "q_emerging_hotspots": _q_emerging_hotspots,
        "q_morans_i": _q_morans_i,
        "q_stay_points": _q_stay_points,
        "q_tpch_q1": _q_tpch_q1,
        "q_doc_stats_by_lang": _q_doc_stats_by_lang,
        "q_orders_join_agg": _q_orders_join_agg,
        "q_cap_join_counts": _q_cap_join_counts,
        "q_rect_join_counts": _q_rect_join_counts,
        "q_rect_distance_buckets": _q_rect_distance_buckets,
        "q_rect_hausdorff_buckets": _q_rect_hausdorff_buckets,
        "q_loop_pip_join": _q_loop_pip_join,
        "q_buffer_pip": _q_buffer_pip,
        "q_salted_pip_join": _q_salted_pip_join,
        "q_knn_cities": _q_knn_cities,
        "q_idw_grid": _q_idw_grid,
        "q_knn_ring_events": _q_knn_ring_events,
        "q_trajectory_crossings": _q_trajectory_crossings,
        "q_validate_loops": _q_validate_loops,
        "q_trail_pair_distance": _q_trail_pair_distance,
        "q_event_map_match": _q_event_map_match,
        "q_hmm_map_match": _q_hmm_map_match,
        "q_toponym_resolve": _q_toponym_resolve,
        "q_zorder_layout": _q_zorder_layout,
        "q_kneser_ney_nll": _q_kneser_ney_nll,
        "q_toponym_tile_rollup": _q_toponym_tile_rollup,
        "q_pmi_collocations": _q_pmi_collocations,
        "q_doc_geo_spread": _q_doc_geo_spread,
        "q_resample_polylines": _q_resample_polylines,
        "q_random_projection": _q_random_projection,
        "q_text_sign_projection": _q_text_sign_projection,
        "q_topic_clusters": _q_topic_clusters,
        "q_curriculum_buckets": _q_curriculum_buckets,
        "q_bignet_map_match": _q_bignet_map_match,
        "q_repetition_signals": _q_repetition_signals,
        "q_weighted_sample": _q_weighted_sample,
        "q_link_hits": _q_link_hits,
        "q_quality_weighted_sample": _q_quality_weighted_sample,
        "q_tfidf_topk": _q_tfidf_topk,
        "q_token_lift": _q_token_lift,
        "q_trajectory_resample": _q_trajectory_resample,
        "q_trail_traffic": _q_trail_traffic,
        "q_zonal_stats": _q_zonal_stats,
        "q_trail_crossing_components": _q_trail_crossing_components,
        "q_chunk_documents": _q_chunk_documents,
        "q_domain_boilerplate": _q_domain_boilerplate,
        "q_dtw_anchor_cost": _q_dtw_anchor_cost,
        "q_frechet_anchor": _q_frechet_anchor,
        "q_exact_dedup": _q_exact_dedup,
        "q_winnow_pairs": _q_winnow_pairs,
        "q_fuzzy_pairs": _q_fuzzy_pairs,
        "q_link_triangles": _q_link_triangles,
        "q_kcore": _q_kcore,
        "q_cocitation": _q_cocitation,
        "q_core_rank": _q_core_rank,
        "q_weighted_paths": _q_weighted_paths,
        "q_redirect_resolve": _q_redirect_resolve,
        "q_graph_diameter": _q_graph_diameter,
        "q_snapshot_diff": _q_snapshot_diff,
        "q_url_templates": _q_url_templates,
        "q_host_graph": _q_host_graph,
        "q_domain_rank": _q_domain_rank,
        "q_crawl_priority": _q_crawl_priority,
        "q_tf_dot_pairs": _q_tf_dot_pairs,
        "q_co_travel": _q_co_travel,
        "q_blocklist_hits": _q_blocklist_hits,
        "q_audio_features": _q_audio_features,
        "q_image_features": _q_image_features,
        "q_json_props": _q_json_props,
        "q_jsonl_quarantine": _q_jsonl_quarantine,
        "q_audio_near_dup": _q_audio_near_dup,
        "q_loop_codec": _q_loop_codec,
        "q_logreg_quality": _q_logreg_quality,
        "q_image_dhash": _q_image_dhash,
        "q_image_near_dup": _q_image_near_dup,
        "q_video_stride": _q_video_stride,
        "q_crawl_novelty": _q_crawl_novelty,
        "q_cluster_canon": _q_cluster_canon,
        "q_cdc_apply": _q_cdc_apply,
        "q_rank_fusion": _q_rank_fusion,
        "q_stratum_rank_fusion": _q_stratum_rank_fusion,
        "q_isochrone_tiles": _q_isochrone_tiles,
        "q_kcenter_coreset": _q_kcenter_coreset,
        "q_coreset_coverage": _q_coreset_coverage,
        "q_value_outliers": _q_value_outliers,
        "q_event_skyline": _q_event_skyline,
        "q_od_matrix": _q_od_matrix,
        "q_ngram_dedup_pairs": _q_ngram_dedup_pairs,
        "q_containment_pairs": _q_containment_pairs,
        "q_prefix_jaccard_pairs": _q_prefix_jaccard_pairs,
        "q_dup_spans": _q_dup_spans,
        "q_span_cut": _q_span_cut,
        "q_release_manifest": _q_release_manifest,
        "q_bpe_merges": _q_bpe_merges,
        "q_bpe_tokenize": _q_bpe_tokenize,
        "q_nb_lang": _q_nb_lang,
        "q_doc_quality": _q_doc_quality,
        "q_quality_drift": _q_quality_drift,
        "q_line_dedup": _q_line_dedup,
        "q_lang_guess": _q_lang_guess,
        "q_cosine_topk": _q_cosine_topk,
        "q_hard_negatives": _q_hard_negatives,
        "q_pq_ann": _q_pq_ann,
        "q_embed_near_dup": _q_embed_near_dup,
        "q_minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "q_incremental_dedup": _q_incremental_dedup,
        "q_simhash_pairs": _q_simhash_pairs,
        "q_dedup_clusters": _q_dedup_clusters,
        "q_stratified_sample": _q_stratified_sample,
        "q_token_budget_sample": _q_token_budget_sample,
        "q_pack_sequences": _q_pack_sequences,
        "q_unigram_nll": _q_unigram_nll,
        "q_dsir_weights": _q_dsir_weights,
        "q_dsir_topk_mix": _q_dsir_topk_mix,
        "q_bigram_nll": _q_bigram_nll,
        "q_markov_transitions": _q_markov_transitions,
        "q_trending_tiles": _q_trending_tiles,
        "q_tile_anomalies": _q_tile_anomalies,
        "q_grid_stay_points": _q_grid_stay_points,
        "q_pca_projections": _q_pca_projections,
        "q_pca_second": _q_pca_second,
        "q_pca_outliers": _q_pca_outliers,
        "q_geofence_crossings": _q_geofence_crossings,
        "q_tile_flood": _q_tile_flood,
        "q_tile_morans_i": _q_tile_morans_i,
        "q_local_morans": _q_local_morans,
        "q_type_colocation": _q_type_colocation,
        "q_tile_contours": _q_tile_contours,
        "q_contour_loops": _q_contour_loops,
        "q_value_deciles": _q_value_deciles,
        "q_scd2_intervals": _q_scd2_intervals,
        "q_mutual_knn": _q_mutual_knn,
        "q_radius_gyration": _q_radius_gyration,
        "q_event_pivot": _q_event_pivot,
        "q_event_cube": _q_event_cube,
        "q_warc_extract": _q_warc_extract,
        "q_robots_filter": _q_robots_filter,
        "q_robots_wildcard": _q_robots_wildcard,
        "q_sitemap_extract": _q_sitemap_extract,
        "q_robots_directives": _q_robots_directives,
        "q_fetch_schedule": _q_fetch_schedule,
        "q_pii_scrub": _q_pii_scrub,
        "q_split_assign": _q_split_assign,
        "q_crawl_frontier": _q_crawl_frontier,
        "q_html_text": _q_html_text,
        "q_html_links": _q_html_links,
        "q_anchor_text": _q_anchor_text,
        "q_crawl_pipeline": _q_crawl_pipeline,
        "q_link_trustrank": _q_link_trustrank,
        "q_link_communities": _q_link_communities,
        "q_trust_weighted_sample": _q_trust_weighted_sample,
        "q_customer_order_outer": _q_customer_order_outer,
        "q_week_intersect": _q_week_intersect,
        "q_rolling_active_users": _q_rolling_active_users,
        "q_retention_cohorts": _q_retention_cohorts,
        "q_funnel_trigrams": _q_funnel_trigrams,
        "q_farthest_cities": _q_farthest_cities,
        "q_corpus_pipeline": _q_corpus_pipeline,
        "q_geo_stratified_dedup": _q_geo_stratified_dedup,
        "q_hex_tile_counts": _q_hex_tile_counts,
        "q_geohash_rollup": _q_geohash_rollup,
        "q_quadkey_tiles": _q_quadkey_tiles,
        "q_geohash_cover_join": _q_geohash_cover_join,
        "q_tile_pyramid": _q_tile_pyramid,
        "q_spacetime_pairs": _q_spacetime_pairs,
        "q_geo_dbscan": _q_geo_dbscan,
        "q_cluster_profiles": _q_cluster_profiles,
        "q_link_pagerank": _q_link_pagerank,
        "q_geo_sessions": _q_geo_sessions,
        "q_event_asof": _q_event_asof,
        "q_embed_kmeans": _q_embed_kmeans,
        "q_semantic_dedup": _q_semantic_dedup,
        "q_cluster_balanced_sample": _q_cluster_balanced_sample,
        "q_click_conversion": _q_click_conversion,
        "q_price_range_join": _q_price_range_join,
        "q_segment_overlap_kmv": _q_segment_overlap_kmv,
        "q_tile_focal_mean": _q_tile_focal_mean,
        "q_tile_slope": _q_tile_slope,
        "q_trail_network": _q_trail_network,
        "q_region_route_length": _q_region_route_length,
        "q_donut_route_length": _q_donut_route_length,
        "q_source_geo_focus": _q_source_geo_focus,
        "q_tile_trend": _q_tile_trend,
        "q_tile_trend_band": _q_tile_trend_band,
        "q_tile_mann_kendall": _q_tile_mann_kendall,
        "q_tile_changepoint": _q_tile_changepoint,
        "q_tile_kde": _q_tile_kde,
        "q_reverse_geocode": _q_reverse_geocode,
        "q_zone_transitions": _q_zone_transitions,
        "q_inverted_index": _q_inverted_index,
        "q_link_seed_distance": _q_link_seed_distance,
        "q_heavy_hitters": _q_heavy_hitters,
        "q_hll_users": _q_hll_users,
        "q_exact_quantiles": _q_exact_quantiles,
        "q_bloom_semi_orders": _q_bloom_semi_orders,
        "q_bm25_scores": _q_bm25_scores,
        "q_dissolve_counts": _q_dissolve_counts,
        "q_domain_stats": _q_domain_stats,
        "q_url_dedup": _q_url_dedup,
        "q_interval_sweep": _q_interval_sweep,
        "q_tile_rollup": _q_tile_rollup,
        "q_tile_user_kmv": _q_tile_user_kmv,
        "q_tile_value_median": _q_tile_value_median,
        "q_decontaminate": _q_decontaminate,
        "q_contamination_score": _q_contamination_score,
        "q_zipf_slope": _q_zipf_slope,
        "q_heaps_law": _q_heaps_law,
        "q_top_events_per_tile": _q_top_events_per_tile,
        "q_city_hulls": _q_city_hulls,
        "q_tpch_q3": _q_tpch_q3,
        "q_tpch_q6": _q_tpch_q6,
        "q_tpch_q5": _q_tpch_q5,
        "q_above_nation_avg": _q_above_nation_avg,
        "q_part_type_revenue": _q_part_type_revenue,
        "q_events_outside_caps": _q_events_outside_caps,
        "q_snap_dedup": _q_snap_dedup,
        "q_snap_e6_sites": _q_snap_e6_sites,
        "q_mercator_tiles": _q_mercator_tiles,
        "q_rhumb_segments": _q_rhumb_segments,
        "q_rhumb_trails": _q_rhumb_trails,
        "q_distance_join_counts": _q_distance_join_counts,
        "q_polygon_polygon_join": _q_polygon_polygon_join,
        "q_polyline_simplify": _q_polyline_simplify,
        "q_boolean_areas": _q_boolean_areas,
        "q_areal_interp": _q_areal_interp,
        "q_boolean_counts": _q_boolean_counts,
        "q_polygon_boolean_counts": _q_polygon_boolean_counts,
        "q_raster_vector": _q_raster_vector,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q_s2_tile_faceij_l8": _oracle_s2_tile_faceij_l8(),
        "q_cell_neighbors": _oracle_cell_neighbors(),
        "q_vertex_neighbors": _oracle_vertex_neighbors(),
        "q_tile_hotspots": _oracle_tile_hotspots(),
        "q_emerging_hotspots": _oracle_emerging_hotspots(),
        "q_morans_i": _oracle_morans_i(),
        "q_stay_points": _oracle_stay_points(),
        "q_tpch_q1": _oracle_tpch_q1(),
        "q_doc_stats_by_lang": _oracle_doc_stats_by_lang(),
        "q_orders_join_agg": _oracle_orders_join_agg(),
        "q_cap_join_counts": _oracle_cap_join_counts(),
        "q_rect_join_counts": _oracle_rect_join_counts(),
        "q_rect_distance_buckets": _oracle_rect_distance_buckets(),
        "q_rect_hausdorff_buckets": _oracle_rect_hausdorff_buckets(),
        "q_loop_pip_join": _oracle_loop_pip_join(),
        "q_buffer_pip": _oracle_buffer_pip(),
        "q_salted_pip_join": _oracle_salted_pip_join(),
        "q_polygon_polygon_join": _oracle_polygon_polygon_join(),
        "q_knn_cities": _oracle_knn_cities(),
        "q_idw_grid": _oracle_idw_grid(),
        "q_knn_ring_events": _oracle_knn_ring_events(),
        "q_trajectory_crossings": _oracle_trajectory_crossings(),
        "q_validate_loops": _oracle_validate_loops(),
        "q_trail_pair_distance": _oracle_trail_pair_distance(),
        "q_event_map_match": _oracle_event_map_match(),
        "q_hmm_map_match": _oracle_hmm_map_match(),
        "q_toponym_resolve": _oracle_toponym_resolve(),
        "q_zorder_layout": _oracle_zorder_layout(),
        "q_kneser_ney_nll": _oracle_kneser_ney_nll(),
        "q_toponym_tile_rollup": _oracle_toponym_tile_rollup(),
        "q_pmi_collocations": _oracle_pmi_collocations(),
        "q_doc_geo_spread": _oracle_doc_geo_spread(),
        "q_resample_polylines": _oracle_resample_polylines(),
        "q_random_projection": _oracle_random_projection(),
        "q_text_sign_projection": _oracle_text_sign_projection(),
        "q_topic_clusters": _oracle_topic_clusters(),
        "q_curriculum_buckets": _oracle_curriculum_buckets(),
        "q_bignet_map_match": _oracle_bignet_map_match(),
        "q_repetition_signals": _oracle_repetition_signals(),
        "q_weighted_sample": _oracle_weighted_sample(),
        "q_link_hits": _oracle_link_hits(),
        "q_quality_weighted_sample": _oracle_quality_weighted_sample(),
        "q_tfidf_topk": _oracle_tfidf_topk(),
        "q_token_lift": _oracle_token_lift(),
        "q_trajectory_resample": _oracle_trajectory_resample(),
        "q_trail_traffic": _oracle_trail_traffic(),
        "q_zonal_stats": _oracle_zonal_stats(),
        "q_trail_crossing_components": _oracle_trail_crossing_components(),
        "q_chunk_documents": _oracle_chunk_documents(),
        "q_domain_boilerplate": _oracle_domain_boilerplate(),
        "q_dtw_anchor_cost": _oracle_dtw_anchor_cost(),
        "q_frechet_anchor": _oracle_frechet_anchor(),
        "q_exact_dedup": _oracle_exact_dedup(),
        "q_winnow_pairs": _oracle_winnow_pairs(),
        "q_fuzzy_pairs": _oracle_fuzzy_pairs(),
        "q_link_triangles": _oracle_link_triangles(),
        "q_kcore": _oracle_kcore(),
        "q_cocitation": _oracle_cocitation(),
        "q_core_rank": _oracle_core_rank(),
        "q_weighted_paths": _oracle_weighted_paths(),
        "q_redirect_resolve": _oracle_redirect_resolve(),
        "q_graph_diameter": _oracle_graph_diameter(),
        "q_snapshot_diff": _oracle_snapshot_diff(),
        "q_url_templates": _oracle_url_templates(),
        "q_host_graph": _oracle_host_graph(),
        "q_domain_rank": _oracle_domain_rank(),
        "q_crawl_priority": _oracle_crawl_priority(),
        "q_tf_dot_pairs": _oracle_tf_dot_pairs(),
        "q_co_travel": _oracle_co_travel(),
        "q_blocklist_hits": _oracle_blocklist_hits(),
        "q_audio_features": _oracle_audio_features(),
        "q_image_features": _oracle_image_features(),
        "q_json_props": _oracle_json_props(),
        "q_jsonl_quarantine": _oracle_jsonl_quarantine(),
        "q_audio_near_dup": _oracle_audio_near_dup(),
        "q_loop_codec": _oracle_loop_codec(),
        "q_logreg_quality": _oracle_logreg_quality(),
        "q_image_dhash": _oracle_image_dhash(),
        "q_image_near_dup": _oracle_image_near_dup(),
        "q_video_stride": _oracle_video_stride(),
        "q_crawl_novelty": _oracle_crawl_novelty(),
        "q_cluster_canon": _oracle_cluster_canon(),
        "q_cdc_apply": _oracle_cdc_apply(),
        "q_rank_fusion": _oracle_rank_fusion(),
        "q_stratum_rank_fusion": _oracle_stratum_rank_fusion(),
        "q_isochrone_tiles": _oracle_isochrone_tiles(),
        "q_kcenter_coreset": _oracle_kcenter_coreset(),
        "q_coreset_coverage": _oracle_coreset_coverage(),
        "q_value_outliers": _oracle_value_outliers(),
        "q_event_skyline": _oracle_event_skyline(),
        "q_od_matrix": _oracle_od_matrix(),
        "q_ngram_dedup_pairs": _oracle_ngram_dedup_pairs(),
        "q_containment_pairs": _oracle_containment_pairs(),
        "q_prefix_jaccard_pairs": _oracle_ngram_dedup_pairs(),
        "q_dup_spans": _oracle_dup_spans(),
        "q_span_cut": _oracle_span_cut(),
        "q_release_manifest": _oracle_release_manifest(),
        "q_bpe_merges": _oracle_bpe_merges(),
        "q_bpe_tokenize": _oracle_bpe_tokenize(),
        "q_nb_lang": _oracle_nb_lang(),
        "q_minhash_lsh_pairs": _oracle_minhash_lsh_pairs(),
        "q_incremental_dedup": _oracle_incremental_dedup(),
        "q_simhash_pairs": _oracle_simhash_pairs(),
        "q_hex_tile_counts": _oracle_hex_tile_counts(),
        "q_geohash_rollup": _oracle_geohash_rollup(),
        "q_quadkey_tiles": _oracle_quadkey_tiles(),
        "q_geohash_cover_join": _oracle_geohash_cover_join(),
        "q_tile_pyramid": _oracle_tile_pyramid(),
        "q_spacetime_pairs": _oracle_spacetime_pairs(),
        "q_geo_dbscan": _oracle_geo_dbscan(),
        "q_cluster_profiles": _oracle_cluster_profiles(),
        "q_link_pagerank": _oracle_link_pagerank(),
        "q_geo_sessions": _oracle_geo_sessions(),
        "q_event_asof": _oracle_event_asof(),
        "q_embed_kmeans": _oracle_embed_kmeans(),
        "q_semantic_dedup": _oracle_semantic_dedup(),
        "q_cluster_balanced_sample": _oracle_cluster_balanced_sample(),
        "q_click_conversion": _oracle_click_conversion(),
        "q_price_range_join": _oracle_price_range_join(),
        "q_segment_overlap_kmv": _oracle_segment_overlap_kmv(),
        "q_tile_focal_mean": _oracle_tile_focal_mean(),
        "q_tile_slope": _oracle_tile_slope(),
        "q_trail_network": _oracle_trail_network(),
        "q_region_route_length": _oracle_region_route_length(),
        "q_donut_route_length": _oracle_donut_route_length(),
        "q_source_geo_focus": _oracle_source_geo_focus(),
        "q_tile_trend": _oracle_tile_trend(),
        "q_tile_trend_band": _oracle_tile_trend_band(),
        "q_tile_mann_kendall": _oracle_tile_mann_kendall(),
        "q_tile_changepoint": _oracle_tile_changepoint(),
        "q_tile_kde": _oracle_tile_kde(),
        "q_reverse_geocode": _oracle_reverse_geocode(),
        "q_zone_transitions": _oracle_zone_transitions(),
        "q_inverted_index": _oracle_inverted_index(),
        "q_link_seed_distance": _oracle_link_seed_distance(),
        "q_heavy_hitters": _oracle_heavy_hitters(),
        "q_hll_users": _oracle_hll_users(),
        "q_exact_quantiles": _oracle_exact_quantiles(),
        "q_bloom_semi_orders": _oracle_bloom_semi_orders(),
        "q_bm25_scores": _oracle_bm25_scores(),
        "q_dissolve_counts": _oracle_dissolve_counts(),
        "q_domain_stats": _oracle_domain_stats(),
        "q_url_dedup": _oracle_url_dedup(),
        "q_dedup_clusters": _oracle_dedup_clusters(),
        "q_stratified_sample": _oracle_stratified_sample(),
        "q_token_budget_sample": _oracle_token_budget_sample(),
        "q_pack_sequences": _oracle_pack_sequences(),
        "q_unigram_nll": _oracle_unigram_nll(),
        "q_dsir_weights": _oracle_dsir_weights(),
        "q_dsir_topk_mix": _oracle_dsir_topk_mix(),
        "q_bigram_nll": _oracle_bigram_nll(),
        "q_markov_transitions": _oracle_markov_transitions(),
        "q_trending_tiles": _oracle_trending_tiles(),
        "q_tile_anomalies": _oracle_tile_anomalies(),
        "q_grid_stay_points": _oracle_grid_stay_points(),
        "q_pca_projections": _oracle_pca_projections(),
        "q_pca_second": _oracle_pca_second(),
        "q_pca_outliers": _oracle_pca_outliers(),
        "q_geofence_crossings": _oracle_geofence_crossings(),
        "q_tile_flood": _oracle_tile_flood(),
        "q_tile_morans_i": _oracle_tile_morans_i(),
        "q_local_morans": _oracle_local_morans(),
        "q_type_colocation": _oracle_type_colocation(),
        "q_tile_contours": _oracle_tile_contours(),
        "q_contour_loops": _oracle_contour_loops(),
        "q_value_deciles": _oracle_value_deciles(),
        "q_scd2_intervals": _oracle_scd2_intervals(),
        "q_mutual_knn": _oracle_mutual_knn(),
        "q_radius_gyration": _oracle_radius_gyration(),
        "q_event_pivot": _oracle_event_pivot(),
        "q_event_cube": _oracle_event_cube(),
        "q_warc_extract": _oracle_warc_extract(),
        "q_robots_filter": _oracle_robots_filter(),
        "q_robots_wildcard": _oracle_robots_wildcard(),
        "q_sitemap_extract": _oracle_sitemap_extract(),
        "q_robots_directives": _oracle_robots_directives(),
        "q_fetch_schedule": _oracle_fetch_schedule(),
        "q_pii_scrub": _oracle_pii_scrub(),
        "q_split_assign": _oracle_split_assign(),
        "q_crawl_frontier": _oracle_crawl_frontier(),
        "q_html_text": _oracle_html_text(),
        "q_html_links": _oracle_html_links(),
        "q_anchor_text": _oracle_anchor_text(),
        "q_crawl_pipeline": _oracle_crawl_pipeline(),
        "q_link_trustrank": _oracle_link_trustrank(),
        "q_link_communities": _oracle_link_communities(),
        "q_trust_weighted_sample": _oracle_trust_weighted_sample(),
        "q_customer_order_outer": _oracle_customer_order_outer(),
        "q_week_intersect": _oracle_week_intersect(),
        "q_rolling_active_users": _oracle_rolling_active_users(),
        "q_retention_cohorts": _oracle_retention_cohorts(),
        "q_funnel_trigrams": _oracle_funnel_trigrams(),
        "q_farthest_cities": _oracle_farthest_cities(),
        "q_corpus_pipeline": _oracle_corpus_pipeline(),
        "q_geo_stratified_dedup": _oracle_geo_stratified_dedup(),
        "q_doc_quality": _oracle_doc_quality(),
        "q_quality_drift": _oracle_quality_drift(),
        "q_line_dedup": _oracle_line_dedup(),
        "q_lang_guess": _oracle_lang_guess(),
        "q_cosine_topk": _oracle_cosine_topk(),
        "q_hard_negatives": _oracle_hard_negatives(),
        "q_pq_ann": _oracle_pq_ann(),
        "q_embed_near_dup": _oracle_embed_near_dup(),
        "q_interval_sweep": _oracle_interval_sweep(),
        "q_tile_rollup": _oracle_tile_rollup(),
        "q_tile_user_kmv": _oracle_tile_user_kmv(),
        "q_tile_value_median": _oracle_tile_value_median(),
        "q_decontaminate": _oracle_decontaminate(),
        "q_contamination_score": _oracle_contamination_score(),
        "q_zipf_slope": _oracle_zipf_slope(),
        "q_heaps_law": _oracle_heaps_law(),
        "q_top_events_per_tile": _oracle_top_events_per_tile(),
        "q_tpch_q3": _oracle_tpch_q3(),
        "q_tpch_q6": _oracle_tpch_q6(),
        "q_tpch_q5": _oracle_tpch_q5(),
        "q_above_nation_avg": _oracle_above_nation_avg(),
        "q_part_type_revenue": _oracle_part_type_revenue(),
        "q_events_outside_caps": _oracle_events_outside_caps(),
        "q_snap_dedup": _oracle_snap_dedup(),
        "q_snap_e6_sites": _oracle_snap_e6_sites(),
        "q_mercator_tiles": _oracle_mercator_tiles(),
        "q_rhumb_segments": _oracle_rhumb_segments(),
        "q_rhumb_trails": _oracle_rhumb_trails(),
        "q_distance_join_counts": _oracle_distance_join_counts(),
        "q_city_hulls": _oracle_city_hulls(),
        "q_polyline_simplify": _oracle_polyline_simplify(),
        "q_boolean_counts": _oracle_boolean_counts(),
        "q_boolean_areas": _oracle_boolean_areas(),
        "q_areal_interp": _oracle_areal_interp(),
        "q_raster_vector": _oracle_raster_vector(),
        "q_polygon_boolean_counts": _oracle_polygon_boolean_counts(),
    }
