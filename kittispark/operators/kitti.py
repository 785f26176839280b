"""KITTI geometry operators, Spark-first (SURVEY.md §2.2-§2.4).

Every kernel the reference runs as NumPy matmul per frame is
re-expressed as closed-form column expressions over a broadcast
calibration row — whole-stage-codegen'd JVM arithmetic, no Python on
the hot path. Parity is golden-tested against NumPy reference
semantics in tests/test_kitti_golden.py.

The expressions are written as SQL text, generated once at import
(module constants of type str), and parsed by F.expr / selectExpr /
filter on each call: one JVM parse per expression instead of a py4j
round-trip per Column node. Each parsed tree analyzes to the same
plan as the Column-built form it replaced (tests/test_kitti_golden.py
keeps those forms), so plans, jobs and results are unchanged.

Reference call sites (for parity audit):
- apply_calibration: data_utils.py:59-92 (velo->cam 3x4 then
  rectification 3x3, intensity pass-through)
- axis_align: data_utils.py:95-108 (constant 90-deg X rotation ->
  pure column remap (x, z, -y); SURVEY P6 constant-folding)
- rescale_z: data_pipeline.py:29-30 (per-frame 5th-percentile ground
  plane shift; SURVEY P7/A5/J2)
- bbox_corners: data_utils.py:111-137 (8 canonical corners, Y-axis
  rotation, translation, X-axis remap; SURVEY P11 — 1 label row ->
  8 corner rows)
- analysis envelope: data_pipeline.py:8-64 (A1-A4 extrema folds,
  P13/P14 postprocess)
- cutout: data_pipeline.py:67-84 (P8 box filter + S5 sink + A6
  count stats)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kittispark.operators.util import column_ref_sql, qident, sql_number


# --------------------------------------------------------------------------
# Calibration: tall (frame_id, key, values) -> wide broadcastable row
# --------------------------------------------------------------------------


_TR_CELLS_SQL = ("frame_id",) + tuple(
    f"element_at(values, {i + 1}) AS t{i // 4}{i % 4}" for i in range(12)
)
_R0_CELLS_SQL = ("frame_id",) + tuple(
    f"element_at(values, {i + 1}) AS r{i // 3}{i % 3}" for i in range(9)
)


def calib_matrices(calib_tall: DataFrame) -> DataFrame:
    """Wide per-frame calibration row: Tr_velo_to_cam cells t00..t23
    (3x4, row-major) and R0_rect cells r00..r22 (3x3).

    One row per frame, a dozen doubles — the canonical broadcast side
    of every geometry join (reference keeps these as an in-process
    dict, SURVEY §4 'manual broadcast')."""
    tr = calib_tall.filter("key = 'Tr_velo_to_cam'").selectExpr(*_TR_CELLS_SQL)
    r0 = calib_tall.filter("key = 'R0_rect'").selectExpr(*_R0_CELLS_SQL)
    return tr.join(r0, "frame_id")


# cam_k = Tr[k,:] . (x, y, z, 1);  rect_i = R0[i,:] . cam, summed left
# to right in that order
_CAM_SQL = tuple(f"(t{k}0 * x + t{k}1 * y + t{k}2 * z + t{k}3)" for k in range(3))
_RECTIFY_SQL = (
    "frame_id",
    *(
        f"r{i}0 * {_CAM_SQL[0]} + r{i}1 * {_CAM_SQL[1]} + r{i}2 * {_CAM_SQL[2]} AS {axis}"
        for i, axis in enumerate("xyz")
    ),
    "intensity",
)


def apply_calibration(points: DataFrame, calib_wide: DataFrame) -> DataFrame:
    """velo->cam affine + rectification as composed column
    expressions (reference data_utils.py:59-92).

    cam_k = Tr[k,:] . (x, y, z, 1);  rect_i = R0[i,:] . cam
    Intensity passes through untouched (data_utils.py:76-79). The
    calib side is broadcast — the only wide data movement is the
    points scan itself."""
    j = points.join(F.broadcast(calib_wide), "frame_id")
    return j.selectExpr(*_RECTIFY_SQL)


def axis_align(df: DataFrame, x: str = "x", y: str = "y", z: str = "z") -> DataFrame:
    """Constant 90-deg X-rotation (X->X, Y->Z, Z->-Y) as a pure
    column remap — the rotation matrix of data_utils.py:95-108
    constant-folds to select(x, z, -y); no matmul at runtime
    (SURVEY §4)."""
    columns = df.columns
    qx, qy, qz = qident(x), qident(y), qident(z)
    return df.selectExpr(
        *[qident(c) for c in columns if c not in (x, y, z)],
        f"{qx} AS {qx}",
        f"{qz} AS {qy}",
        f"-{qy} AS {qz}",
    ).selectExpr(*map(qident, columns))


def sorted_percentile(zs: str | Column, percentage: float) -> Column:
    """Exact percentile read off an ascending array of doubles, with
    Spark's own `percentile` formula: position (n-1)*p between the
    floor and ceil order statistics v_lo and v_hi, v_lo when the two
    compare equal (always the case when floor == ceil; SQL equality
    also holds for NaN = NaN and -0.0 = 0.0, as in Spark's boxed key
    compare), else (hi - pos)*v_lo + (pos - lo)*v_hi in that order.
    An empty array gives null (`get` is null out of range), like
    `percentile` over a group of nulls. Feed it
    sort_array(collect_list(double)) — see frame_z_scale. A percentage
    outside [0, 1] raises, as `percentile` rejects it.

    `zs` names the array column (a name or F.col(name)); the formula
    is SQL text, one parse per call."""
    if not 0.0 <= percentage <= 1.0:
        raise ValueError(f"percentage must be in [0, 1], got {percentage!r}")
    ref = column_ref_sql(zs)
    pos = f"(CAST(size({ref}) - 1 AS DOUBLE) * {sql_number(percentage)})"
    lo, hi = f"floor({pos})", f"ceil({pos})"
    v_lo, v_hi = f"get({ref}, CAST({lo} AS INT))", f"get({ref}, CAST({hi} AS INT))"
    return F.expr(
        f"CASE WHEN {v_lo} = {v_hi} THEN {v_lo}"
        f" ELSE ({hi} - {pos}) * {v_lo} + ({pos} - {lo}) * {v_hi} END"
    )


def _sorted_values(z: str) -> str:
    """The group's non-null values as an ascending double array (SQL
    text): the one per-group state the exact percentile needs."""
    return f"sort_array(collect_list(CAST({qident(z)} AS DOUBLE)))"


def frame_z_scale(
    points: DataFrame,
    percentage: float = 0.05,
    approx: bool = False,
    accuracy: int = 10000,
    z: str = "z",
) -> DataFrame:
    """Per-frame percentile of z (reference np.percentile(z, 5),
    data_pipeline.py:29). Exact by default, for golden parity;
    `approx=True` IS the documented 100 TB switch — the single-pass
    mergeable percentile_approx sketch at the same call site (SURVEY
    §7.4). The switch itself is driver-verified by the
    rescale_by_percentile_approx query's error-bounded oracle.

    The exact branch is sorted_percentile over the frame's sorted
    collect_list, bit-identical to Spark's `percentile` aggregate
    (property-tested in tests/test_sorted_percentile_property.py).
    It avoids `percentile`, which boxes every value into an
    OpenHashMap of counts and ships the boxed maps through the
    shuffle; a flat double array is cheaper to build, ship and sort,
    and it is the state analyze() folds in the same aggregate as the
    frame's extrema."""
    if approx:
        return points.groupBy("frame_id").agg(
            F.percentile_approx(z, percentage, accuracy).alias("z_scale")
        )
    return (
        points.groupBy("frame_id")
        .agg(F.expr(f"{_sorted_values(z)} AS zs"))
        .select("frame_id", sorted_percentile("zs", percentage).alias("z_scale"))
    )


def rescale_z(
    points: DataFrame, z_scales: DataFrame | None = None, z: str = "z"
) -> DataFrame:
    """Ground-plane normalization: z -= per-frame 5th percentile
    (reference P7/J2, data_pipeline.py:29-30). Aggregate-to-detail
    rejoin with the tiny per-frame stats broadcast."""
    if z_scales is None:
        # derive the default percentile from the SAME column being
        # rescaled — frame_z_scale("z") on a df whose height column is
        # named differently would silently scale by an unrelated column
        z_scales = frame_z_scale(points, z=z)
    out_cols = [
        (F.col(z) - F.col("z_scale")).alias(z) if c == z else c
        for c in points.columns
    ]
    return points.join(F.broadcast(z_scales), "frame_id").select(*out_cols)


# --------------------------------------------------------------------------
# 3-D bbox corners: 1 label row -> 8 corner rows (SURVEY P11)
# --------------------------------------------------------------------------

# Canonical corner offsets in units of (l, h, w) halves, matching the
# layout at data_utils.py:117-119: index i -> (x_sign*l/2, y in
# {0, -h}, z_sign*w/2).
_X_SIGNS = (-1, 1, 1, -1, -1, 1, 1, -1)
_Y_TOP = (0, 0, 0, 0, 1, 1, 1, 1)  # 1 -> -h
_Z_SIGNS = (-1, -1, 1, 1, -1, -1, 1, 1)


def _corner_array_sql(named: bool) -> str:
    structs = []
    for i in range(8):
        xo = f"({_X_SIGNS[i]} * dim_l / 2)"
        yo = f"({-_Y_TOP[i]} * dim_h)"
        zo = f"({_Z_SIGNS[i]} * dim_w / 2)"
        bx = f"cos(rotation_y) * {xo} + sin(rotation_y) * {zo} + loc_x"
        by = f"{yo} + loc_y"
        bz = f"(-sin(rotation_y)) * {xo} + cos(rotation_y) * {zo} + loc_z"
        # X-axis remap: (x, z, -y)
        fields = (str(i), bx, bz, f"-({by})")
        if named:
            fields = [f"{e} AS {n}" for e, n in zip(fields, ("corner_idx", "cx", "cy", "cz"))]
        structs.append(f"struct({', '.join(fields)})")
    return f"array({', '.join(structs)})"


# The 8 rotated+translated+axis-remapped corners of a 3-D label box as
# an array of structs (corner_idx, cx, cy, cz) over the label columns
# dim_h, dim_w, dim_l, loc_x, loc_y, loc_z and rotation_y — the ONE
# definition of the box geometry, shared by bbox_corners (the P11
# explode), analyze's label fold and viz.bbox_wireframe (the 12-edge
# expansion), so the corner layout can never drift between analysis
# and rendering.
#
# Closed form per corner (reference get_3d_bbox, data_utils.py:111-137:
# Y-rotation :124-131, translation :132-134, X-remap :135-136):
#     bx = cos*sx*l/2 + sin*sz*w/2 + loc_x
#     by = {0|-h} + loc_y
#     bz = -sin*sx*l/2 + cos*sz*w/2 + loc_z
# then the X-axis remap (bx, bz, -by).
CORNER_ARRAY_SQL = _corner_array_sql(named=True)
# The same array with positional field names col1..col4, for a caller
# that casts it to the named element type: viz.bbox_wireframe has
# always built that tree, so its plan stays the same.
CORNER_TUPLES_SQL = _corner_array_sql(named=False)


def bbox_corners(labels: DataFrame) -> DataFrame:
    """Explode each label into its 8 rotated+translated 3-D box
    corners, already axis-aligned (reference get_3d_bbox,
    data_utils.py:111-137). Emitted as explode(array(struct x8)) —
    generator expressions, no UDF; geometry lives in
    CORNER_ARRAY_SQL."""
    return labels.selectExpr(
        "frame_id", "label", f"explode({CORNER_ARRAY_SQL}) AS c"
    ).selectExpr("frame_id", "label", "c.corner_idx", "c.cx", "c.cy", "c.cz")


# --------------------------------------------------------------------------
# E1 analysis: extrema folds + envelope postprocess
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class AnalysisResult:
    """Driver-side envelope (few dozen scalars — the only data that
    ever reaches the driver, matching the reference's printed stats,
    data_pipeline.py:50-63)."""

    min_point: tuple[float, float, float, float]
    max_point: tuple[float, float, float, float]
    min_dim: tuple[float, float, float]
    max_dim: tuple[float, float, float]
    min_loc: tuple[float, float, float]
    max_loc: tuple[float, float, float]
    min_obj_corner: tuple[float, float, float]
    max_obj_corner: tuple[float, float, float]
    minimal_area: tuple[tuple[float, ...], tuple[float, ...]]
    maximal_area: tuple[tuple[float, ...], tuple[float, ...]]


def _minmax(cols: list[str]) -> list[str]:
    return [f"{f}({c}) AS {f}_{c}" for c in cols for f in ("min", "max")]


_POINT_FOLD_SQL = (f"{_sorted_values('z')} AS zs", *_minmax(["x", "y", "z", "intensity"]))
_LABEL_COLS_SQL = (
    "frame_id", "dim_h", "dim_w", "dim_l",
    "loc_x AS lx", "loc_y AS ly", "loc_z AS lz",
    f"explode({CORNER_ARRAY_SQL}) AS c",
)
_LABEL_FOLD_SQL = tuple(
    _minmax(["dim_h", "dim_w", "dim_l", "lx", "ly", "lz", "cx", "cy", "cz"])
)


def _fold(c: str, shifted: bool = False) -> list[str]:
    lo, hi = f"min_{c}", f"max_{c}"
    if shifted:  # z rescale on index 2 only (data_pipeline.py:29-41)
        lo, hi = f"{lo} - z_scale", f"{hi} - z_scale"
    return [f"min({lo}) AS min_{c}", f"max({hi}) AS max_{c}"]


_ENVELOPE_FOLD_SQL = (
    *_fold("x"), *_fold("y"), *_fold("z", True), *_fold("intensity"),
    *_fold("dim_h"), *_fold("dim_w"), *_fold("dim_l"),
    *_fold("lx"), *_fold("ly"), *_fold("lz", True),
    *_fold("cx"), *_fold("cy"), *_fold("cz", True),
)


def _exprs(texts) -> list[Column]:
    return [F.expr(t) for t in texts]


def _envelope(
    points: DataFrame, labels: DataFrame, calib_wide: DataFrame
) -> DataFrame:
    """analyze()'s 1-row envelope of extrema, unexecuted."""
    pts = axis_align(apply_calibration(points, calib_wide))
    frame_pts = (
        pts.groupBy("frame_id")
        .agg(*_exprs(_POINT_FOLD_SQL))
        .withColumn("z_scale", sorted_percentile("zs", 0.05))
    )
    frame_lbl = (
        labels.filter("label != 'DontCare'")
        .selectExpr(*_LABEL_COLS_SQL)
        .selectExpr("*", "c.cx", "c.cy", "c.cz")
        .groupBy("frame_id")
        .agg(*_exprs(_LABEL_FOLD_SQL))
    )
    return frame_pts.join(frame_lbl, "frame_id", "left").agg(*_exprs(_ENVELOPE_FOLD_SQL))


def analyze(
    points: DataFrame, labels: DataFrame, calib_wide: DataFrame
) -> AnalysisResult:
    """Full E1 analysis (reference get_analysis, data_pipeline.py:8-64)
    as per-frame folds and one action:

      points -> calibrate -> axis-align -> per-frame fold: sorted z,
                x/y/z/intensity extrema, z_scale                 (A1)
      labels (non-DontCare) -> corner explode -> per-frame fold:
                dims, locations, corner extrema                  (A2-A4)
      point folds LEFT JOIN label folds -> global fold -> collect

    then the P13/P14 driver-side postprocess on the 1-row envelope.
    Reference prints round-2 values; rounding applied here identically
    (data_pipeline.py:50-63).

    No point is rescaled. The reference shifts every z (and each
    label's loc_z and corner z) by its frame's z_scale before taking
    extrema; here a frame's rescaled extrema are min - z_scale and
    max - z_scale. That is exact: for a fixed s, fl(z - s) is monotone
    non-decreasing in z (rounding is monotone), so min and max commute
    with the per-frame shift. The one exception needs z_scale = -inf,
    i.e. a -inf height among the frame's points: then fl(-inf - s) is
    NaN while every larger z gives +inf. Labels of frames without
    calibrated points drop out, as in the reference's rejoin with the
    per-frame scales. min and max are idempotent, so carrying a
    label's dims and location on its 8 corner rows changes nothing.

    The point fold must feed the plan exactly once. Handing a `scales`
    projection of it to a label branch as well lets column pruning
    split it into a (frame_id, z) copy and a full-width copy, which
    share neither the .bin decode nor the calibration broadcasts, so
    the cloud is decoded twice. That shape runs 12 jobs per call; this
    one runs 7.

    The action's jobs carry the description
    `kittispark.operators.kitti.analyze`, so an event log attributes
    them without a caller's wrapping; the caller's description is
    restored afterwards and its job group is left alone."""
    env = _envelope(points, labels, calib_wide)
    sc = points.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("kittispark.operators.kitti.analyze")
    try:
        p = d = oc = env.collect()[0]
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)

    # --- driver-side postprocess on ~40 scalars (P13/P14) ---
    min_point = (p["min_x"], p["min_y"], p["min_z"], p["min_intensity"])
    max_point = (p["max_x"], p["max_y"], p["max_z"], p["max_intensity"])
    min_obj = (oc["min_cx"], oc["min_cy"], oc["min_cz"])
    max_obj = (oc["max_cx"], oc["max_cy"], oc["max_cz"])

    # P14 inverse rotation: flipped-last-row X-matrix applied to
    # (x, y, z) -> (x, z, y); dims reordered (l, h, w) -> same map
    # (data_pipeline.py:45-49).
    min_loc = (d["min_lx"], d["min_lz"], d["min_ly"])
    max_loc = (d["max_lx"], d["max_lz"], d["max_ly"])
    min_dim = (d["min_dim_l"], d["min_dim_w"], d["min_dim_h"])
    max_dim = (d["max_dim_l"], d["max_dim_w"], d["max_dim_h"])

    r2 = lambda v: round(float(v), 2)  # noqa: E731 — reference rounds at print
    lo = [
        r2(max(min_point[i], max(min_obj[i], min_loc[i] - max_dim[i])))
        for i in range(3)
    ]
    hi = [
        r2(min(max_point[i], min(max_obj[i], max_loc[i] + max_dim[i])))
        for i in range(3)
    ]
    lo_x = [
        r2(max(min_point[i], min(min_obj[i], min_loc[i] - max_dim[i])))
        for i in range(3)
    ]
    hi_x = [
        r2(min(max_point[i], max(max_obj[i], max_loc[i] + max_dim[i])))
        for i in range(3)
    ]
    return AnalysisResult(
        min_point=tuple(map(float, min_point)),
        max_point=tuple(map(float, max_point)),
        min_dim=tuple(map(float, min_dim)),
        max_dim=tuple(map(float, max_dim)),
        min_loc=tuple(map(float, min_loc)),
        max_loc=tuple(map(float, max_loc)),
        min_obj_corner=tuple(map(float, min_obj)),
        max_obj_corner=tuple(map(float, max_obj)),
        minimal_area=(tuple(lo), tuple(hi)),
        maximal_area=(tuple(lo_x), tuple(hi_x)),
    )


# --------------------------------------------------------------------------
# E2 cut-out: box filter + count stats
# --------------------------------------------------------------------------


def cutout_filter(
    points: DataFrame, lo: tuple[float, float, float], hi: tuple[float, float, float]
) -> DataFrame:
    """Conjunctive 3-D box containment (reference P8,
    data_pipeline.py:77-79) — six pushdown-friendly range predicates,
    ANDed left to right (parenthesized: the SQL parser would otherwise
    build a balanced AND tree)."""
    preds = [f"{a} > {sql_number(v)}" for a, v in zip("xyz", lo)]
    preds += [f"{a} < {sql_number(v)}" for a, v in zip("xyz", hi)]
    cond = f"({preds[0]})"
    for p in preds[1:]:
        cond = f"({cond} AND ({p}))"
    return points.filter(cond)


_COUNT_STATS_SQL = (
    "min(n) AS min_points",
    "CAST(round(avg(n), 0) AS BIGINT) AS avg_points",
    "max(n) AS max_points",
    "count(1) AS n_frames",
)


def frame_count_stats(points: DataFrame) -> DataFrame:
    """Per-frame row counts folded to global min/avg/max (reference
    A6, data_pipeline.py:80-84; avg rounded like the print at :83)."""
    per_frame = points.groupBy("frame_id").agg(F.expr("count(1) AS n"))
    return per_frame.agg(*_exprs(_COUNT_STATS_SQL))


def cutout_pipeline(
    points: DataFrame,
    calib_wide: DataFrame,
    lo: tuple[float, float, float],
    hi: tuple[float, float, float],
) -> DataFrame:
    """E2 end-to-end transform (reference gen_cut_out_dataset,
    data_pipeline.py:67-84): calibrate -> axis-align -> box filter.
    Sink + stats are separate calls (kittispark.sinks.write_frames /
    frame_count_stats) so the filtered frame is written once and the
    stats can reuse it."""
    return cutout_filter(axis_align(apply_calibration(points, calib_wide)), lo, hi)


def center_area_borders(
    minimal_area: tuple[tuple[float, ...], tuple[float, ...]],
    factor: float = 1.0 / 8.0,
) -> tuple[tuple[float, float, float], tuple[float, float, float]]:
    """Borders of the reference's SECOND cut-out dataset
    (lbl_center_area_PoCls, data_pipeline.py:92-95): the minimal
    analysis area shrunk toward the origin by ``factor`` —
    lo' = lo * f and hi' = (lo + (hi - lo)) * f = hi * f, written in
    the reference's two-step form (area_dims then lo + dims) to make
    the parity line-for-line auditable. Feed the result to
    cutout_pipeline exactly like the primary minimal_area borders
    (the .gitignore's two output dirs are these two datasets)."""
    lo = tuple(float(v) for v in minimal_area[0])
    hi = tuple(float(v) for v in minimal_area[1])
    area_dims = tuple(h - l for l, h in zip(lo, hi))
    return (
        tuple(l * factor for l in lo),
        tuple((l + d) * factor for l, d in zip(lo, area_dims)),
    )
