"""Presentation sink (SURVEY §2.1 S7, §3 E3): single-frame
visualization data served by a point-lookup query.

The reference renders one frame at a time in Plotly with an
ipywidgets slider (visualize.py:106-128). Rendering is presentation,
not query semantics — what the ENGINE owes the feature is the
single-frame query path: `filter(frame_id == k)` prunes to one
partition of the frame-partitioned layout, and only that frame's rows
cross to the driver via Arrow `toPandas`. Plotly itself is an
optional import (not installed in this container); the figure builder
raises NotImplementedError without it while the data path stays
testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kittispark.operators.kitti import CORNER_TUPLES_SQL
from kittispark.operators.util import sql_string

# Class colors matching the reference's BBOX_COLORS presentation
# table (visualize.py:10-20) value-for-value, so a figure rendered
# from this engine is indistinguishable from the reference's — the
# keys are the dataset's label domain, the values its published
# palette.
BBOX_COLORS = {
    "Car": "lime",
    "Van": "greenyellow",
    "Truck": "darkgreen",
    "Pedestrian": "red",
    "Person_sitting": "orange",
    "Cyclist": "deeppink",
    "Tram": "aquamarine",
    "Misc": "cornflowerblue",
    "DontCare": "silver",
}

DEFAULT_CLASSES = tuple(c for c in BBOX_COLORS if c != "DontCare")

# The 12 wireframe edges of a 3-D box as (start, end) corner-index
# pairs over the canonical corner layout of
# operators.kitti.bbox_corners (reference visualize.py:85-90): the
# top face ring (0-1-2-3), the bottom face ring (4-5-6-7), and the
# four verticals.
WIREFRAME_EDGES = (
    (0, 1), (1, 2), (2, 3), (3, 0),
    (4, 5), (5, 6), (6, 7), (7, 4),
    (0, 4), (1, 5), (2, 6), (3, 7),
)


def _color_sql() -> str:
    """The class colour as nested CASEs: the last BBOX_COLORS entry
    outermost, each falling through to the next, and finally to the
    label itself."""
    sql = "label"
    for cls, col in BBOX_COLORS.items():
        sql = f"CASE WHEN label = {sql_string(cls)} THEN {sql_string(col)} ELSE {sql} END"
    return sql


# The wireframe's SQL text, built once. The 12-edge index table is a
# literal struct array.
_EDGES_SQL = "array(" + ", ".join(
    f"struct({e} AS edge_idx, {a} AS a, {b} AS b)"
    for e, (a, b) in enumerate(WIREFRAME_EDGES)
) + ")"
# deterministic per-box ordinal within (frame, class): order by the
# box's full attribute tuple (bounded per frame — tens of boxes — so
# the window is never a scale concern)
_BOX_IDX_SQL = (
    "row_number() OVER (PARTITION BY frame_id, label ORDER BY"
    " loc_x, loc_y, loc_z, rotation_y, dim_h, dim_w, dim_l) - 1"
)
# the corner array cast to its named element type
_WIRE_EXPAND_SQL = (
    "frame_id", "label", "box_idx",
    f"CAST({CORNER_TUPLES_SQL} AS"
    " array<struct<corner_idx:int,cx:double,cy:double,cz:double>>) AS __cs",
    f"explode({_EDGES_SQL}) AS e",
)
_WIRE_SEGMENTS_SQL = (
    "frame_id", "label", "box_idx", "e.edge_idx AS edge_idx",
    *(
        f"element_at(__cs, e.{end} + 1).c{axis} AS {axis}{n}"
        for n, end in ((1, "a"), (2, "b"))
        for axis in "xyz"
    ),
    f"{_color_sql()} AS color",
)

# Mesh3d triangle index triples for a 4-vertex rectangle in the
# [corner1, corner3, corner2, corner4] order (reference
# visualize.py:47,60-62: i=[0,1,2], j=[1,2,3], k=[2,3,0]).
PLANE_TRIANGLES = ((0, 1, 2), (1, 2, 3), (2, 3, 0))


def frame_points_df(
    points: DataFrame, frame_id: str, max_points: int | None = None
) -> DataFrame:
    """The E3 query plan: partition-pruned single-frame lookup.
    `max_points` caps driver transfer for huge frames —
    deterministic even under coordinate ties because intensity joins
    the sort key (lowest (x, y, z, intensity) first)."""
    df = points.filter(F.col("frame_id") == frame_id).select(
        "x", "y", "z", "intensity"
    )
    if max_points is not None:
        df = df.orderBy("x", "y", "z", "intensity").limit(max_points)
    return df


def frame_points_pdf(points: DataFrame, frame_id: str, max_points: int | None = None):
    """The E3 data path: frame_points_df -> Arrow toPandas."""
    return frame_points_df(points, frame_id, max_points).toPandas()


def frame_labels_pdf(
    points_labels: DataFrame,
    frame_id: str,
    include_classes: tuple[str, ...] = DEFAULT_CLASSES,
):
    """Label rows for one frame, class-filtered (reference P10
    include-list, visualize.py:68-70,81)."""
    return (
        points_labels.filter(
            (F.col("frame_id") == frame_id) & F.col("label").isin(*include_classes)
        )
    ).toPandas()


def bbox_wireframe(
    labels: DataFrame,
    include_classes: tuple[str, ...] = DEFAULT_CLASSES,
) -> DataFrame:
    """Expand each label box into its 12 wireframe edge SEGMENTS with
    the per-class line color — the queryable form of the reference's
    per-edge Scatter3d trace loop (visualize.py:81-98): one output
    row per (box, edge) carrying both endpoint coordinates and the
    BBOX_COLORS entry for the box's class.

    Plan shape: the 8 corners are built per label row as an inline
    struct array (operators.kitti's corner geometry, CORNER_TUPLES_SQL
    — no shuffle, no UDF), the 12-edge index table is a LITERAL array
    exploded per row, and each edge reads its two endpoints with
    element_at. Zero joins, zero shuffles — pure whole-stage-codegen
    row expansion (x12), so it scales to any label volume. The color
    map is a 9-entry literal CASE, a broadcast-dimension in spirit
    (reference J3). All of it is SQL text built at import, so a call
    costs a handful of parses, not a py4j round-trip per node.

    Output: frame_id, label, box_idx (ordinal of the box within its
    (frame, class) group — a deterministic id derived from the
    label's own attributes, not a nondeterministic row id), edge_idx,
    x1, y1, z1, x2, y2, z2, color."""
    classes = ", ".join(map(sql_string, include_classes))
    return (
        labels.filter(f"label IN ({classes})" if classes else "false")
        .withColumn("box_idx", F.expr(_BOX_IDX_SQL))
        .selectExpr(*_WIRE_EXPAND_SQL)
        .selectExpr(*_WIRE_SEGMENTS_SQL)
    )


def plane_mesh_two_corners(
    planes: DataFrame,
    z_fixed: float | None = None,
) -> DataFrame:
    """Rectangle mesh vertices from two opposite corners — the
    queryable form of the reference's generate_plane_two_corners
    (visualize.py:23-64): corner3 = (x2, y1, z1), corner4 =
    (x1, y2, z2), vertex order [corner1, corner3, corner2, corner4],
    and the Mesh3d triangle triples (0,1,2), (1,2,3), (2,3,0)
    attached to the first three vertices (NULL on the fourth).

    Input: one row per plane with columns plane, x1, y1, z1, x2, y2,
    z2, color. ``z_fixed`` overrides both corner z's when given (the
    reference always passes z_fixed=0.0 for the area planes,
    visualize.py:110-111).

    Output: plane, vtx_idx (0-3), px, py, pz, color, tri_a, tri_b,
    tri_c. Pure literal-array explode per row — no shuffle, no UDF."""
    z1 = F.lit(float(z_fixed)) if z_fixed is not None else F.col("z1")
    z2 = F.lit(float(z_fixed)) if z_fixed is not None else F.col("z2")
    # vertex layout [c1, c3, c2, c4]:
    #   v0=(x1,y1,z1) v1=(x2,y1,z1) v2=(x2,y2,z2) v3=(x1,y2,z2)
    xs = (F.col("x1"), F.col("x2"), F.col("x2"), F.col("x1"))
    ys = (F.col("y1"), F.col("y1"), F.col("y2"), F.col("y2"))
    zs = (z1, z1, z2, z2)
    verts = F.array(
        *[
            F.struct(
                F.lit(i).alias("vtx_idx"),
                xs[i].alias("px"),
                ys[i].alias("py"),
                zs[i].alias("pz"),
                (
                    F.lit(PLANE_TRIANGLES[i][0])
                    if i < 3
                    else F.lit(None).cast("int")
                ).alias("tri_a"),
                (
                    F.lit(PLANE_TRIANGLES[i][1])
                    if i < 3
                    else F.lit(None).cast("int")
                ).alias("tri_b"),
                (
                    F.lit(PLANE_TRIANGLES[i][2])
                    if i < 3
                    else F.lit(None).cast("int")
                ).alias("tri_c"),
            )
            for i in range(4)
        ]
    )
    return planes.select(
        "plane", "color", F.explode(verts).alias("v")
    ).select(
        "plane",
        F.col("v.vtx_idx").alias("vtx_idx"),
        F.col("v.px").alias("px"),
        F.col("v.py").alias("py"),
        F.col("v.pz").alias("pz"),
        "color",
        F.col("v.tri_a").alias("tri_a"),
        F.col("v.tri_b").alias("tri_b"),
        F.col("v.tri_c").alias("tri_c"),
    )


def frame_figure(
    points: DataFrame,
    frame_id: str,
    max_points: int | None = 200_000,
    labels: DataFrame | None = None,
    include_classes: tuple[str, ...] = DEFAULT_CLASSES,
    planes: DataFrame | None = None,
):
    """Plotly 3-D figure of one frame: point scatter, plus (when a
    labels DataFrame is given) each label box as 12 per-class-colored
    wireframe edge traces (reference visualize.py:81-98), plus (when
    a planes DataFrame of two-corner rows is given) translucent area
    meshes (reference visualize.py:102-111). Requires plotly
    (optional); every Spark-side query path (frame_points_pdf,
    bbox_wireframe, plane_mesh_two_corners) runs regardless."""
    pdf = frame_points_pdf(points, frame_id, max_points)
    edge_pdf = None
    if labels is not None:
        edge_pdf = (
            bbox_wireframe(labels, include_classes)
            .filter(F.col("frame_id") == frame_id)
            .toPandas()
        )
    plane_pdf = None
    if planes is not None:
        plane_pdf = plane_mesh_two_corners(planes, z_fixed=0.0).toPandas()
    try:
        import plotly.graph_objects as go
    except ImportError as e:  # pragma: no cover - plotly not in container
        raise NotImplementedError(
            "plotly not installed; frame_points_pdf()/bbox_wireframe()/"
            "plane_mesh_two_corners() already return the frame's data — "
            "render it with any plotting library"
        ) from e
    data = [
        go.Scatter3d(
            x=pdf["x"],
            y=pdf["y"],
            z=pdf["z"],
            mode="markers",
            marker={"size": 1, "color": pdf["intensity"]},
        )
    ]
    if plane_pdf is not None:
        for plane_name, grp in plane_pdf.groupby("plane", sort=True):
            grp = grp.sort_values("vtx_idx")
            tri = grp[grp["tri_a"].notna()]
            data.append(
                go.Mesh3d(
                    x=grp["px"],
                    y=grp["py"],
                    z=grp["pz"],
                    color=grp["color"].iloc[0],
                    opacity=0.25,
                    i=tri["tri_a"].astype(int),
                    j=tri["tri_b"].astype(int),
                    k=tri["tri_c"].astype(int),
                )
            )
    fig = go.Figure(data=data)
    if edge_pdf is not None:
        for row in edge_pdf.itertuples():
            fig.add_trace(
                go.Scatter3d(
                    x=[row.x1, row.x2],
                    y=[row.y1, row.y2],
                    z=[row.z1, row.z2],
                    mode="lines",
                    line={"color": row.color, "width": 2},
                )
            )
    fig.update_layout(
        scene={
            "xaxis_title": "X",
            "yaxis_title": "Y",
            "zaxis_title": "Z",
            "aspectmode": "data",
        }
    )
    return fig


def area_planes_df(
    spark,
    minimal_area: tuple[tuple[float, ...], tuple[float, ...]],
    maximal_area: tuple[tuple[float, ...], tuple[float, ...]],
) -> DataFrame:
    """The two analysis-area planes as a two-corner plane table —
    the bridge from operators.kitti.analyze's envelope scalars
    (minimal_area/maximal_area, reference data_pipeline.py:56-63) to
    plane_mesh_two_corners, with the reference's green/red colors
    (visualize.py:110-111)."""
    rows = [
        ("minimal_area", *map(float, minimal_area[0]),
         *map(float, minimal_area[1]), "green"),
        ("maximal_area", *map(float, maximal_area[0]),
         *map(float, maximal_area[1]), "red"),
    ]
    return spark.createDataFrame(
        rows,
        "plane string, x1 double, y1 double, z1 double, "
        "x2 double, y2 double, z2 double, color string",
    )


def frame_browser(
    points: DataFrame,
    labels: DataFrame | None = None,
    planes: DataFrame | None = None,
    max_points: int | None = 200_000,
):
    """Interactive frame browser — the engine-side equivalent of the
    reference's ipywidgets slider loop (visualize.py:106-128): an
    IntSlider over the sorted frame ids; each slider event runs ONE
    partition-pruned single-frame query (frame_figure -> the E3
    lookup path) instead of re-reading files.

    The frame-id list is the only driver-side state (bounded: one
    string per frame). Requires ipywidgets + plotly (both optional —
    notebook presentation, not query semantics); every underlying
    query path is exercised headlessly by frame_figure's tests."""
    frame_ids = [
        r["frame_id"]
        for r in points.select("frame_id").distinct().orderBy("frame_id").collect()
    ]
    try:
        from ipywidgets import IntSlider, interact
    except ImportError as e:  # pragma: no cover - not in this container
        raise NotImplementedError(
            "ipywidgets not installed; call frame_figure(points, frame_id) "
            "per frame instead — it is the exact per-slider-event query"
        ) from e

    def update(index: int):
        fig = frame_figure(
            points,
            frame_ids[index],
            max_points=max_points,
            labels=labels,
            planes=planes,
        )
        fig.show()

    interact(
        update,
        index=IntSlider(min=0, max=len(frame_ids) - 1, step=1,
                        description="File Index"),
    )
