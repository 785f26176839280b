"""KITTI-pipeline analogs on the relational fixtures, so the
reference's end-to-end shapes (SURVEY §3 E1/E2) are oracle-checkable.
The KITTI-exact operators over real .bin/label/calib files live in
kittispark.operators.kitti and are golden-tested against NumPy
semantics in tests/ (the driver's sf dirs hold no KITTI files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kittispark.registry import register
from kittispark.queries._util import t


@register(
    "cutout_count_stats",
    oracle="""
    WITH filtered AS (
        SELECT l_orderkey
        FROM lineitem
        WHERE l_quantity > 5 AND l_quantity < 45
          AND l_extendedprice > 2000 AND l_extendedprice < 80000
          AND l_discount > 0.01 AND l_discount < 0.09
    ),
    per_group AS (
        SELECT l_orderkey, count(*) AS n FROM filtered GROUP BY l_orderkey
    )
    SELECT min(n) AS min_n,
           CAST(round(avg(n), 0) AS BIGINT) AS avg_n_rounded,
           max(n) AS max_n,
           count(*) AS n_groups
    FROM per_group
    """,
    doc="E2 cut-out pipeline shape end-to-end: conjunctive box filter "
    "-> per-group counts -> global min/round(avg)/max — the exact "
    "stats the reference prints (gen_cut_out_dataset, "
    "data_pipeline.py:77-84, round() at :83).",
    tags=("kitti-analog",),
)
def cutout_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_quantity") > 5)
        & (F.col("l_quantity") < 45)
        & (F.col("l_extendedprice") > 2000)
        & (F.col("l_extendedprice") < 80000)
        & (F.col("l_discount") > 0.01)
        & (F.col("l_discount") < 0.09)
    )
    per_group = filtered.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    return per_group.agg(
        F.min("n").alias("min_n"),
        F.round(F.avg("n"), 0).cast("long").alias("avg_n_rounded"),
        F.max("n").alias("max_n"),
        F.count(F.lit(1)).alias("n_groups"),
    )


@register(
    "axis_remap_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity AS x_out,
           l_tax      AS y_out,
           -l_discount AS z_out
    FROM lineitem WHERE l_orderkey < 500
    """,
    doc="Constant-rotation axis remap as a pure projection — the 90° "
    "X-rotation (reference P6, data_utils.py:95-108) constant-folds "
    "to select(x, z, -y): no matmul at runtime (SURVEY §4).",
    tags=("kitti-analog",),
)
def axis_remap_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    # (x, y, z) := (l_quantity, l_discount, l_tax) -> remap (x, z, -y)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("x_out"),
        F.col("l_tax").alias("y_out"),
        (-F.col("l_discount")).alias("z_out"),
    )


@register(
    "envelope_combine",
    oracle="""
    WITH pt AS (
        SELECT min(l_quantity) AS min_q, max(l_quantity) AS max_q FROM lineitem
    ),
    ob AS (
        SELECT min(o_totalprice / 10000) AS min_p, max(o_totalprice / 10000) AS max_p
        FROM orders
    )
    SELECT round(greatest(pt.min_q, ob.min_p), 6) AS env_lo,
           round(least(pt.max_q, ob.max_p), 6)    AS env_hi
    FROM pt, ob
    """,
    doc="Envelope combination of two aggregate branches via "
    "greatest/least on a 1-row cross join — the minimal/maximal area "
    "postprocess (reference P13, data_pipeline.py:56-61).",
    tags=("kitti-analog",),
)
def envelope_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    pt = li.agg(
        F.min("l_quantity").alias("min_q"), F.max("l_quantity").alias("max_q")
    )
    ob = orders.agg(
        F.min(F.col("o_totalprice") / 10000).alias("min_p"),
        F.max(F.col("o_totalprice") / 10000).alias("max_p"),
    )
    return pt.crossJoin(ob).select(
        F.round(F.greatest("min_q", "min_p"), 6).alias("env_lo"),
        F.round(F.least("max_q", "max_p"), 6).alias("env_hi"),
    )


_VIZ_CLASSES = (
    "Car", "Van", "Truck", "Pedestrian", "Person_sitting",
    "Cyclist", "Tram", "Misc", "DontCare",
)
_VIZ_COLORS = (
    "lime", "greenyellow", "darkgreen", "red", "orange",
    "deeppink", "aquamarine", "cornflowerblue", "silver",
)

_WF_CLS_SQL = "CASE " + " ".join(
    f"WHEN p_partkey % 3 = {i} THEN '{c}'" for i, c in enumerate(_VIZ_CLASSES[:3])
) + " END"
_WF_COLOR_SQL = "CASE " + " ".join(
    f"WHEN c1.label = '{c}' THEN '{col}'"
    for c, col in zip(_VIZ_CLASSES[:3], _VIZ_COLORS[:3])
) + " END"
_WF_EDGE_VALUES = ", ".join(
    f"({e}, {a}, {b})"
    for e, (a, b) in enumerate(
        ((0, 1), (1, 2), (2, 3), (3, 0),
         (4, 5), (5, 6), (6, 7), (7, 4),
         (0, 4), (1, 5), (2, 6), (3, 7))
    )
)


@register(
    "wireframe_edge_segments",
    oracle=f"""
    WITH boxes AS (
        SELECT CAST(p_partkey // 6 AS VARCHAR) AS frame_id,
               {_WF_CLS_SQL} AS label,
               CAST(p_size AS DOUBLE) AS h,
               p_retailprice / 1000.0 AS w,
               CAST(p_partkey % 20 + 1 AS DOUBLE) AS l,
               CAST(p_partkey % 7 AS DOUBLE) * 0.5 - 1.5 AS rot,
               CAST(p_partkey % 10 AS DOUBLE) AS lx,
               CAST(p_partkey % 5 AS DOUBLE) AS ly,
               CAST(p_partkey % 3 AS DOUBLE) AS lz
        FROM part WHERE p_partkey < 600
    ),
    idx AS (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY frame_id, label
                   ORDER BY lx, ly, lz, rot, h, w, l) - 1 AS INT)
                   AS box_idx
        FROM boxes
    ),
    corners AS (
        SELECT frame_id, label, box_idx, ci,
               cos(rot) * (CASE WHEN ci IN (0,3,4,7)
                                THEN -l/2 ELSE l/2 END)
               + sin(rot) * (CASE WHEN ci IN (0,1,4,5)
                                  THEN -w/2 ELSE w/2 END) + lx AS cx,
               -sin(rot) * (CASE WHEN ci IN (0,3,4,7)
                                 THEN -l/2 ELSE l/2 END)
               + cos(rot) * (CASE WHEN ci IN (0,1,4,5)
                                  THEN -w/2 ELSE w/2 END) + lz AS cy,
               -((CASE WHEN ci >= 4 THEN -h ELSE 0.0 END) + ly) AS cz
        FROM idx CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS ci)
    )
    SELECT c1.frame_id, c1.label, c1.box_idx,
           CAST(e.edge_idx AS INT) AS edge_idx,
           round(c1.cx, 6) + 0.0 AS x1, round(c1.cy, 6) + 0.0 AS y1,
           round(c1.cz, 6) + 0.0 AS z1,
           round(c2.cx, 6) + 0.0 AS x2, round(c2.cy, 6) + 0.0 AS y2,
           round(c2.cz, 6) + 0.0 AS z2,
           {_WF_COLOR_SQL} AS color
    FROM corners c1
    JOIN (VALUES {_WF_EDGE_VALUES}) AS e(edge_idx, a, b) ON c1.ci = e.a
    JOIN corners c2
      ON c2.frame_id = c1.frame_id AND c2.label = c1.label
     AND c2.box_idx = c1.box_idx AND c2.ci = e.b
    """,
    doc="Bbox wireframe rendering data (reference visualize.py:81-98): "
    "each label box expands to its 12 edge segments — the literal "
    "(start, end) corner-index table of viz.WIREFRAME_EDGES — with "
    "both endpoint coordinates and the per-class BBOX_COLORS line "
    "color on every row, exactly the rows the reference's per-edge "
    "Scatter3d loop consumes. Runs the REAL viz.bbox_wireframe "
    "operator on part-synthesized boxes (6 parts per frame, 3 "
    "classes, so the deterministic box_idx ordinal is exercised at "
    ">= 2 boxes per (frame, class)). Plan: corners as an inline "
    "struct array (the shared operators.kitti corner geometry), edge table as a "
    "literal array explode, endpoints via element_at — zero joins, "
    "zero shuffles, whole-stage codegen; the only window is the "
    "per-frame box ordinal over tens of rows per frame. The oracle "
    "rebuilds corners AND the 12-edge join relationally. The "
    "p_partkey < 600 cap keeps the output SF-stable (the box set "
    "stops growing once the part table covers the key range).",
    tags=("kitti-analog", "viz", "explode"),
)
def wireframe_edge_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kittispark.viz import bbox_wireframe

    part = t(spark, sf_dir, "part").filter(F.col("p_partkey") < 600)
    cls = F.col("p_partkey") % 3
    labels = part.select(
        (F.col("p_partkey") / 6).cast("long").cast("string").alias("frame_id"),
        F.element_at(
            F.array(*[F.lit(c) for c in _VIZ_CLASSES[:3]]), (cls + 1).cast("int")
        ).alias("label"),
        F.col("p_size").cast("double").alias("dim_h"),
        (F.col("p_retailprice") / 1000.0).alias("dim_w"),
        (F.col("p_partkey") % 20 + 1).cast("double").alias("dim_l"),
        ((F.col("p_partkey") % 7).cast("double") * 0.5 - 1.5).alias("rotation_y"),
        (F.col("p_partkey") % 10).cast("double").alias("loc_x"),
        (F.col("p_partkey") % 5).cast("double").alias("loc_y"),
        (F.col("p_partkey") % 3).cast("double").alias("loc_z"),
    )
    wf = bbox_wireframe(labels, include_classes=_VIZ_CLASSES[:3])
    # round(...) + 0.0 on BOTH sides: Spark's round(-0.0, 6) yields
    # +0.0 (BigDecimal has no signed zero) while DuckDB's preserves
    # -0.0; the IEEE identity -0.0 + 0.0 = +0.0 normalizes the sign
    # in both engines so the driver's bit-level value hash agrees
    # (CORRECTNESS_r07 red; VERDICT r7 #1).
    return wf.select(
        "frame_id",
        "label",
        "box_idx",
        "edge_idx",
        *[(F.round(c, 6) + 0.0).alias(c) for c in ("x1", "y1", "z1", "x2", "y2", "z2")],
        "color",
    )


@register(
    "plane_mesh_vertices",
    oracle="""
    WITH env AS (
        SELECT CAST(min(l_quantity) AS DOUBLE) AS min_qty,
               CAST(max(l_quantity) AS DOUBLE) AS max_qty,
               CAST(min(l_extendedprice) AS DOUBLE) / 1000 AS min_pk,
               CAST(max(l_extendedprice) AS DOUBLE) / 1000 AS max_pk,
               CAST(min(l_discount) AS DOUBLE) * 100 AS min_d,
               CAST(max(l_discount) AS DOUBLE) * 100 AS max_d,
               CAST(min(l_tax) AS DOUBLE) * 100 AS min_t,
               CAST(max(l_tax) AS DOUBLE) * 100 AS max_t
        FROM lineitem
    ),
    planes AS (
        SELECT 'minimal_area' AS plane, 'green' AS color,
               min_qty AS x1, min_pk AS y1, max_qty AS x2, max_pk AS y2
        FROM env
        UNION ALL
        SELECT 'maximal_area', 'red', min_d, min_t, max_d, max_t FROM env
    )
    SELECT plane,
           CAST(v.vi AS INT) AS vtx_idx,
           round(CASE WHEN v.vi IN (0, 3) THEN x1 ELSE x2 END, 6) AS px,
           round(CASE WHEN v.vi IN (0, 1) THEN y1 ELSE y2 END, 6) AS py,
           0.0 AS pz,
           color,
           CAST(CASE WHEN v.vi < 3 THEN v.vi END AS INT) AS tri_a,
           CAST(CASE WHEN v.vi < 3 THEN v.vi + 1 END AS INT) AS tri_b,
           CAST(CASE WHEN v.vi < 3 THEN (v.vi + 2) % 4 END AS INT) AS tri_c
    FROM planes CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS vi) v
    """,
    doc="Envelope plane meshes (reference generate_plane_two_corners, "
    "visualize.py:23-64, consumed at :110-111 with z_fixed=0 and "
    "green/red area colors): the minimal/maximal analysis areas — "
    "derived here from the lineitem envelope extremes, the E1 "
    "postprocess analog — become 4 Mesh3d vertices each in the "
    "reference's [corner1, corner3, corner2, corner4] order with "
    "the (0,1,2)/(1,2,3)/(2,3,0) triangle triples attached. Runs "
    "the REAL viz.plane_mesh_two_corners operator: one envelope "
    "aggregation, a 2-row literal plane table, a literal-array "
    "vertex explode — no shuffle after the agg.",
    tags=("kitti-analog", "viz", "agg"),
)
def plane_mesh_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kittispark.viz import plane_mesh_two_corners

    li = t(spark, sf_dir, "lineitem")
    env = li.agg(
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        (F.min("l_extendedprice").cast("double") / 1000).alias("min_pk"),
        (F.max("l_extendedprice").cast("double") / 1000).alias("max_pk"),
        (F.min("l_discount").cast("double") * 100).alias("min_d"),
        (F.max("l_discount").cast("double") * 100).alias("max_d"),
        (F.min("l_tax").cast("double") * 100).alias("min_t"),
        (F.max("l_tax").cast("double") * 100).alias("max_t"),
    )
    planes = env.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("minimal_area").alias("plane"),
                    F.lit("green").alias("color"),
                    F.col("min_qty").alias("x1"),
                    F.col("min_pk").alias("y1"),
                    F.lit(0.0).alias("z1"),
                    F.col("max_qty").alias("x2"),
                    F.col("max_pk").alias("y2"),
                    F.lit(0.0).alias("z2"),
                ),
                F.struct(
                    F.lit("maximal_area").alias("plane"),
                    F.lit("red").alias("color"),
                    F.col("min_d").alias("x1"),
                    F.col("min_t").alias("y1"),
                    F.lit(0.0).alias("z1"),
                    F.col("max_d").alias("x2"),
                    F.col("max_t").alias("y2"),
                    F.lit(0.0).alias("z2"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    mesh = plane_mesh_two_corners(planes, z_fixed=0.0)
    return mesh.select(
        "plane",
        "vtx_idx",
        F.round("px", 6).alias("px"),
        F.round("py", 6).alias("py"),
        F.col("pz").alias("pz"),
        "color",
        "tri_a",
        "tri_b",
        "tri_c",
    )
