"""Golden parity: Spark KITTI operators vs independent NumPy
implementation of the reference semantics (SURVEY §5.2-5.4).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from kittispark.operators.kitti import (
    analyze,
    apply_calibration,
    axis_align,
    bbox_corners,
    calib_matrices,
    cutout_filter,
    cutout_pipeline,
    frame_count_stats,
    frame_z_scale,
    rescale_z,
)
from kittispark.sinks import summary_sink, write_frames, write_kitti_bins
from kittispark.sources.kitti import read_calib, read_labels, read_points
from tests.kitti_fixture import golden_analysis, golden_cutout, make_fixture
from tests.plan_equality import assert_same_analyzed


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kitti"))
    frames = make_fixture(root, n_frames=4)
    return root, frames


@pytest.fixture(scope="module")
def loaded(spark, fixture):
    root, frames = fixture
    points = read_points(spark, f"{root}/velodyne")
    labels = read_labels(spark, f"{root}/label_2")
    calib = calib_matrices(read_calib(spark, f"{root}/calib"))
    return frames, points, labels, calib


def test_read_points_matches_binary(loaded):
    frames, points, _, _ = loaded
    expected = sum(fr["points"].shape[0] for fr in frames.values())
    assert points.count() == expected
    one = min(frames)
    got = np.array(
        points.filter(F.col("frame_id") == one)
        .orderBy("x", "y", "z")
        .select("x", "y", "z", "intensity")
        .collect()
    )
    want = frames[one]["points"].astype("f8")
    want = want[np.lexsort((want[:, 2], want[:, 1], want[:, 0]))]
    np.testing.assert_allclose(got, want, rtol=1e-7)


def _scan_root_paths(df) -> list[str]:
    leaf = df._jdf.queryExecution().optimizedPlan().collectLeaves().head()
    roots = leaf.relation().location().rootPaths()
    return [roots.apply(i).toUri().getPath().rstrip("/") for i in range(roots.size())]


def test_text_sources_scan_the_directory_not_a_glob(spark, fixture, tmp_path):
    # a `dir/*.txt` path made every read log a FileStreamSink WARN with
    # a FileNotFoundException stack trace; pathGlobFilter on the
    # directory keeps the same files and rows without it
    root, frames = fixture
    for sub, read in (("label_2", read_labels), ("calib", read_calib)):
        d = f"{root}/{sub}"
        assert _scan_root_paths(read(spark, d)) == [d]
        ids = read(spark, d).select("frame_id").distinct().collect()
        assert {r["frame_id"] for r in ids} == set(frames)
    # files other than *.txt stay out, as with the glob
    d = tmp_path / "label_2"
    d.mkdir()
    src = f"{root}/label_2/{min(frames)}.txt"
    (d / f"{min(frames)}.txt").write_text(open(src).read())
    (d / "notes.md").write_text("Car 0 0 0 1 2 3 4 5 6 7 8 9 10 11\n")
    assert {r["frame_id"] for r in read_labels(spark, str(d)).collect()} == {min(frames)}


def test_read_labels_fields(loaded):
    frames, _, labels, _ = loaded
    expected = sum(len(fr["labels"]) for fr in frames.values())
    assert labels.count() == expected
    one = min(frames)
    row = (
        labels.filter(F.col("frame_id") == one)
        .orderBy("loc_x")
        .collect()[0]
    )
    recs = sorted(frames[one]["labels"], key=lambda r: float(r["location"][0]))
    rec = recs[0]
    assert row["label"] == rec["label"]
    assert row["occluded"] == rec["occluded"]
    np.testing.assert_allclose(
        [row["dim_h"], row["dim_w"], row["dim_l"]], rec["dimensions"], rtol=1e-6
    )
    np.testing.assert_allclose(row["bbox"], rec["bbox"], rtol=1e-6)


def test_calib_matrices_cells(loaded):
    frames, _, _, calib = loaded
    one = min(frames)
    row = calib.filter(F.col("frame_id") == one).collect()[0]
    tr, r0 = frames[one]["Tr"], frames[one]["R0"]
    for i in range(3):
        for j in range(4):
            assert row[f"t{i}{j}"] == pytest.approx(tr[i, j], rel=1e-12)
        for j in range(3):
            assert row[f"r{i}{j}"] == pytest.approx(r0[i, j], rel=1e-12)


def test_transform_chain_golden(loaded):
    """calibrate + axis-align matches the composed-matrix golden."""
    frames, points, _, calib = loaded
    one = min(frames)
    got = np.array(
        axis_align(apply_calibration(points, calib))
        .filter(F.col("frame_id") == one)
        .orderBy("intensity")
        .select("x", "y", "z", "intensity")
        .collect()
    )
    from tests.kitti_fixture import transform_points

    want = transform_points(frames[one]["points"], frames[one]["Tr"], frames[one]["R0"])
    want = want[np.argsort(want[:, 3])]
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


def test_rescale_z_property(loaded):
    """After rescale, each frame's 5th percentile of z is ~0
    (SURVEY §5.4 property check)."""
    frames, points, _, calib = loaded
    pts = axis_align(apply_calibration(points, calib))
    rescaled = rescale_z(pts)
    res = frame_z_scale(rescaled).collect()
    assert len(res) == len(frames)
    for row in res:
        assert abs(row["z_scale"]) < 1e-9


def test_bbox_corners_golden(loaded):
    frames, _, labels, _ = loaded
    from tests.kitti_fixture import label_corners

    corners = bbox_corners(labels)
    one = min(frames)
    # 8 rows per label, including DontCare (exclusion happens in the
    # analysis fold, not in corner generation — data_pipeline.py:35-37)
    n_lbl = len(frames[one]["labels"])
    got_rows = corners.filter(F.col("frame_id") == one).collect()
    assert len(got_rows) == 8 * n_lbl

    # Compare the full frame's corner multiset (rows are not
    # attributable to a specific label when classes repeat).
    want_all = np.vstack([label_corners(rec) for rec in frames[one]["labels"]])
    got_all = np.array([(r["cx"], r["cy"], r["cz"]) for r in got_rows])
    order_w = np.lexsort((want_all[:, 2], want_all[:, 1], want_all[:, 0]))
    order_g = np.lexsort((got_all[:, 2], got_all[:, 1], got_all[:, 0]))
    np.testing.assert_allclose(
        got_all[order_g], want_all[order_w], rtol=1e-9, atol=1e-9
    )


def test_analysis_envelope_golden(loaded):
    frames, points, labels, calib = loaded
    got = analyze(points, labels, calib)
    want = golden_analysis(frames)
    np.testing.assert_allclose(got.min_point, want["min_point"], rtol=1e-9)
    np.testing.assert_allclose(got.max_point, want["max_point"], rtol=1e-9)
    np.testing.assert_allclose(got.min_dim, want["min_dim"], rtol=1e-9)
    np.testing.assert_allclose(got.max_dim, want["max_dim"], rtol=1e-9)
    np.testing.assert_allclose(got.min_loc, want["min_loc"], rtol=1e-9)
    np.testing.assert_allclose(got.max_loc, want["max_loc"], rtol=1e-9)
    np.testing.assert_allclose(got.min_obj_corner, want["min_obj_corner"], rtol=1e-9)
    np.testing.assert_allclose(got.max_obj_corner, want["max_obj_corner"], rtol=1e-9)
    assert got.minimal_area == (
        tuple(want["minimal_area"][0]),
        tuple(want["minimal_area"][1]),
    )
    assert got.maximal_area == (
        tuple(want["maximal_area"][0]),
        tuple(want["maximal_area"][1]),
    )


def test_cutout_golden_and_sink(loaded, tmp_path):
    frames, points, _, calib = loaded
    lo = np.array([-15.0, -15.0, -2.0])
    hi = np.array([15.0, 15.0, 3.0])
    want = golden_cutout(frames, lo, hi)

    cut = cutout_pipeline(points, calib, tuple(lo), tuple(hi))
    got_counts = {
        r["frame_id"]: r["n"]
        for r in cut.groupBy("frame_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want_counts = {fid: arr.shape[0] for fid, arr in want.items() if arr.shape[0]}
    assert got_counts == want_counts

    # property: box filter output within bounds + idempotent
    again = cutout_filter(cut, tuple(lo), tuple(hi))
    assert again.count() == cut.count()

    # .bin sink round-trip: written files parse back to the filtered
    # rows (float32 at the boundary)
    out = str(tmp_path / "cutout_bins")
    res = write_kitti_bins(cut, out)
    stats = {r["frame_id"]: r["n_points"] for r in res.collect()}
    assert stats == want_counts
    one = max(want_counts)
    parsed = np.fromfile(f"{out}/{one}.bin", dtype="<f4").reshape(-1, 4)
    w = want[one]
    w_sorted = w[np.lexsort((w[:, 1], w[:, 0]))]
    p_sorted = parsed[np.lexsort((parsed[:, 1], parsed[:, 0]))].astype("f8")
    np.testing.assert_allclose(p_sorted, w_sorted, rtol=1e-5, atol=1e-5)

    # count stats shape (A6)
    s = summary_sink(frame_count_stats(cut))
    assert s[0]["n_frames"] == len(want_counts)
    assert s[0]["min_points"] == min(want_counts.values())


def test_parquet_roundtrip(loaded, tmp_path, spark):
    frames, points, _, _ = loaded
    out = str(tmp_path / "points_pq")
    write_frames(points, out)
    back = spark.read.parquet(out)
    assert back.count() == points.count()
    assert set(back.columns) == {"frame_id", "x", "y", "z", "intensity"}


def test_write_frames_observed_one_pass(loaded, tmp_path, spark):
    from kittispark.sinks import write_frames_observed

    frames, points, _, _ = loaded
    metrics = write_frames_observed(points, str(tmp_path / "obs_out"))
    total = sum(fr["points"].shape[0] for fr in frames.values())
    assert metrics["n_rows"] == total
    assert metrics["n_frames_approx"] == len(frames)  # HLL exact at tiny n
    back = spark.read.parquet(str(tmp_path / "obs_out"))
    assert back.count() == total


def test_viz_single_frame_data_path(loaded):
    from kittispark import viz

    frames, points, labels, _ = loaded
    one = min(frames)
    pdf = viz.frame_points_pdf(points, one)
    assert len(pdf) == frames[one]["points"].shape[0]
    assert list(pdf.columns) == ["x", "y", "z", "intensity"]
    lbl = viz.frame_labels_pdf(labels, one)
    want = sum(1 for r in frames[one]["labels"] if r["label"] != "DontCare")
    assert len(lbl) == want
    try:
        import plotly  # noqa: F401

        has_plotly = True
    except ImportError:
        has_plotly = False
    if not has_plotly:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            viz.frame_figure(points, one)


def test_bbox_wireframe_golden(loaded):
    """12 per-class-colored edge segments per included label,
    endpoint-exact against the NumPy corner golden + the reference's
    literal edge list (visualize.py:85-98)."""
    frames, _, labels, _ = loaded
    from tests.kitti_fixture import label_corners

    from kittispark.viz import BBOX_COLORS, DEFAULT_CLASSES, WIREFRAME_EDGES, bbox_wireframe

    one = min(frames)
    got_rows = bbox_wireframe(labels).filter(F.col("frame_id") == one).collect()
    incl = [r for r in frames[one]["labels"] if r["label"] in DEFAULT_CLASSES]
    assert len(got_rows) == 12 * len(incl)

    def seg_key(x1, y1, z1, x2, y2, z2, color):
        return (round(x1, 6), round(y1, 6), round(z1, 6),
                round(x2, 6), round(y2, 6), round(z2, 6), color)

    want = sorted(
        seg_key(*corners[a], *corners[b], BBOX_COLORS[rec["label"]])
        for rec in incl
        for corners in [label_corners(rec)]
        for a, b in WIREFRAME_EDGES
    )
    got = sorted(
        seg_key(r["x1"], r["y1"], r["z1"], r["x2"], r["y2"], r["z2"], r["color"])
        for r in got_rows
    )
    assert got == want


def test_plane_mesh_golden(spark):
    """Vertex order, corner derivation, z_fixed override, and the
    Mesh3d triangle triples exactly as generate_plane_two_corners
    (reference visualize.py:23-64)."""
    from kittispark.viz import PLANE_TRIANGLES, plane_mesh_two_corners

    def reference_plane(corner1, corner2, z_fixed=None):
        # independent NumPy-free replay of visualize.py:32-52
        x1, y1, z1 = corner1
        x2, y2, z2 = corner2
        if z_fixed is not None:
            z1 = z2 = z_fixed
        corner3 = (x2, y1, z1)
        corner4 = (x1, y2, z2)
        plane_corners = [(x1, y1, z1), corner3, (x2, y2, z2), corner4]
        return plane_corners, ([0, 1, 2], [1, 2, 3], [2, 3, 0])

    planes = spark.createDataFrame(
        [("p1", -4.25, 1.5, 9.0, 7.75, -3.5, 2.0, "green"),
         ("p2", 0.0, 0.0, 1.0, 10.0, 20.0, 3.0, "red")],
        "plane string, x1 double, y1 double, z1 double, "
        "x2 double, y2 double, z2 double, color string",
    )
    for zf in (None, 0.0):
        got = {
            (r["plane"], r["vtx_idx"]): r
            for r in plane_mesh_two_corners(planes, z_fixed=zf).collect()
        }
        for name, c1, c2 in (
            ("p1", (-4.25, 1.5, 9.0), (7.75, -3.5, 2.0)),
            ("p2", (0.0, 0.0, 1.0), (10.0, 20.0, 3.0)),
        ):
            verts, (ti, tj, tk) = reference_plane(list(c1), list(c2), zf)
            for v, (px, py, pz) in enumerate(verts):
                row = got[(name, v)]
                assert (row["px"], row["py"], row["pz"]) == (px, py, pz)
                if v < 3:
                    assert (row["tri_a"], row["tri_b"], row["tri_c"]) == (
                        ti[v], tj[v], tk[v]) == PLANE_TRIANGLES[v]
                else:
                    assert row["tri_a"] is None
    # reference parity of the index triples themselves
    assert PLANE_TRIANGLES == ((0, 1, 2), (1, 2, 3), (2, 3, 0))


def test_area_planes_and_frame_browser_paths(spark, loaded):
    """area_planes_df bridges analyze()'s envelope scalars to the
    plane-mesh generator with the reference's green/red colors; the
    frame_browser raises the documented NotImplementedError without
    ipywidgets (not in this container) AFTER running its only Spark
    query (the bounded frame-id listing)."""
    import pytest as _pytest

    from kittispark.viz import area_planes_df, frame_browser, plane_mesh_two_corners

    frames, points, labels, calib = loaded
    res = analyze(points, labels, calib)
    planes = area_planes_df(spark, res.minimal_area, res.maximal_area)
    rows = {r["plane"]: r for r in planes.collect()}
    assert rows["minimal_area"]["color"] == "green"
    assert rows["maximal_area"]["color"] == "red"
    assert rows["minimal_area"]["x1"] == res.minimal_area[0][0]
    assert rows["maximal_area"]["z2"] == res.maximal_area[1][2]
    # 4 mesh vertices per plane at z=0 (reference z_fixed=0.)
    mesh = plane_mesh_two_corners(planes, z_fixed=0.0)
    assert mesh.count() == 8
    assert mesh.filter(F.col("pz") != 0.0).count() == 0
    try:
        import ipywidgets  # noqa: F401

        _pytest.skip("ipywidgets present; browser path needs a notebook")
    except ImportError:
        pass
    with _pytest.raises(NotImplementedError, match="frame_figure"):
        frame_browser(points, labels=labels, planes=planes)


def test_center_area_cutout_golden(loaded, tmp_path):
    """The reference __main__'s SECOND dataset (lbl_center_area_PoCls,
    data_pipeline.py:92-95): minimal-area borders scaled by factor
    1/8 toward the origin, then the same E2 cutout. Border arithmetic
    replayed independently in NumPy; per-frame counts golden-checked
    via golden_cutout on the scaled borders."""
    from kittispark.operators.kitti import center_area_borders

    frames, points, labels, calib = loaded
    res = analyze(points, labels, calib)
    lo, hi = center_area_borders(res.minimal_area, factor=1.0 / 8.0)

    # independent replay of data_pipeline.py:93-95
    lo_np = np.array(res.minimal_area[0])
    dims_np = np.array(res.minimal_area[1]) - lo_np
    np.testing.assert_allclose(np.array(lo), lo_np * (1 / 8), rtol=1e-12)
    np.testing.assert_allclose(np.array(hi), (lo_np + dims_np) * (1 / 8), rtol=1e-12)

    cut = cutout_pipeline(points, calib, lo, hi)
    got = {
        r["frame_id"]: r["n"]
        for r in cut.groupBy("frame_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {
        fid: arr.shape[0]
        for fid, arr in golden_cutout(frames, np.array(lo), np.array(hi)).items()
        if arr.shape[0]
    }
    assert got == want
    # A6 stats over the center-area dataset (the reference's prints)
    stats = frame_count_stats(cut).collect()
    if want:
        assert stats[0]["min_points"] == min(want.values())
        assert stats[0]["max_points"] == max(want.values())


def _group_jobs(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_analyze_decodes_once_in_at_most_seven_jobs(spark, loaded):
    """analyze is one action over per-frame folds: the point fold feeds
    the plan once, so the .bin decode (the one MapInPandas) and the
    calibration broadcasts run once, and the whole call takes <= 7
    jobs (a rescale join back onto the cloud splits the plan into
    two decodes and 12 jobs)."""
    import contextlib
    import io
    import re

    from kittispark.operators.kitti import _envelope

    _, points, labels, calib = loaded
    env = _envelope(points, labels, calib)
    env.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        env.explain("formatted")
    # the tree of the executed (final AQE) plan, before the initial one
    final = buf.getvalue().split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in final
    assert len(re.findall(r"MapInPandas \(\d+\)", final)) == 1

    sc = spark.sparkContext
    sc.setJobGroup("analyze-jobs", "analyze-jobs")
    try:
        analyze(points, labels, calib)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(_group_jobs(spark, "analyze-jobs")) <= 7


@pytest.mark.parametrize("caller_desc", ["caller-span", None])
def test_analyze_labels_its_jobs_and_restores_description(spark, loaded, caller_desc):
    _, points, labels, calib = loaded
    sc = spark.sparkContext
    group = f"analyze-label-{caller_desc}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.setLocalProperty("spark.job.description", caller_desc)
    try:
        analyze(points, labels, calib)
        assert sc.getLocalProperty("spark.job.description") == caller_desc
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = _group_jobs(spark, group)
    assert jobs
    store = sc._jsc.sc().statusStore()
    for j in jobs:
        desc = store.job(j).description()
        assert desc.isDefined() and desc.get() == "kittispark.operators.kitti.analyze"


def _label_line(cls: str, dims, loc, ry: float) -> str:
    # KITTI label_2 layout: class truncated occluded alpha bbox(4)
    # dims(h, w, l) location(x, y, z) rotation_y
    return " ".join(
        [cls, "0.0", "0", "0.0", "0.0", "0.0", "50.0", "50.0"]
        + [repr(float(v)) for v in (*dims, *loc, ry)]
    )


def test_analyze_edge_frames_golden(spark, tmp_path):
    """Frames that miss a part: one with points and only a DontCare
    label, a label file with neither points nor calibration, and a
    .bin with calibration but no label file. Only frames with
    calibrated points count, and of their labels only the real ones —
    the NumPy golden sees exactly those frames."""
    root = str(tmp_path / "kitti")
    frames = make_fixture(root, n_frames=4, seed=77)
    ids = sorted(frames)
    # points + calibration, label file holds only a DontCare box
    dontcare = ids[1]
    with open(f"{root}/label_2/{dontcare}.txt", "w") as f:
        f.write(_label_line("DontCare", (90.0, 90.0, 90.0), (500.0, 500.0, 500.0), 0.3) + "\n")
    frames[dontcare]["labels"] = []
    # .bin + calibration, no label file
    os.remove(f"{root}/label_2/{ids[2]}.txt")
    frames[ids[2]]["labels"] = []
    # a label file with no points and no calibration: its (huge) box
    # must not reach the envelope
    with open(f"{root}/label_2/009999.txt", "w") as f:
        f.write(_label_line("Car", (80.0, 80.0, 80.0), (-900.0, 900.0, -900.0), 1.0) + "\n")
    assert not os.path.exists(f"{root}/velodyne/009999.bin")
    assert not os.path.exists(f"{root}/calib/009999.txt")

    points = read_points(spark, f"{root}/velodyne")
    labels = read_labels(spark, f"{root}/label_2")
    calib = calib_matrices(read_calib(spark, f"{root}/calib"))
    got = analyze(points, labels, calib)
    want = golden_analysis(frames)
    for field in (
        "min_point", "max_point", "min_dim", "max_dim",
        "min_loc", "max_loc", "min_obj_corner", "max_obj_corner",
    ):
        np.testing.assert_allclose(getattr(got, field), want[field], rtol=1e-9, err_msg=field)
    assert got.minimal_area == tuple(map(tuple, want["minimal_area"]))
    assert got.maximal_area == tuple(map(tuple, want["maximal_area"]))


# ---------------------------------------------------------------------------
# SQL-text builders vs the Column-built forms they replaced
# ---------------------------------------------------------------------------
# The KITTI and viewer expressions are SQL text parsed once per call.
# Below are the Column-by-Column builders they replaced, kept as the
# reference: each new form must analyze to the same tree
# (tests/plan_equality.py).

_X_SIGNS = (-1, 1, 1, -1, -1, 1, 1, -1)
_Y_TOP = (0, 0, 0, 0, 1, 1, 1, 1)
_Z_SIGNS = (-1, -1, 1, 1, -1, -1, 1, 1)


def _col_corner_structs() -> list:
    c, s = F.cos("rotation_y"), F.sin("rotation_y")
    corners = []
    for i in range(8):
        xo = F.lit(_X_SIGNS[i]) * F.col("dim_l") / 2
        yo = F.lit(-_Y_TOP[i]) * F.col("dim_h")
        zo = F.lit(_Z_SIGNS[i]) * F.col("dim_w") / 2
        bx = c * xo + s * zo + F.col("loc_x")
        by = yo + F.col("loc_y")
        bz = -s * xo + c * zo + F.col("loc_z")
        corners.append(
            F.struct(
                F.lit(i).alias("corner_idx"),
                bx.alias("cx"),
                bz.alias("cy"),
                (-by).alias("cz"),
            )
        )
    return corners


def _col_calib_matrices(calib_tall):
    tr = calib_tall.filter(F.col("key") == "Tr_velo_to_cam").select(
        "frame_id",
        *[F.element_at("values", i + 1).alias(f"t{i // 4}{i % 4}") for i in range(12)],
    )
    r0 = calib_tall.filter(F.col("key") == "R0_rect").select(
        "frame_id",
        *[F.element_at("values", i + 1).alias(f"r{i // 3}{i % 3}") for i in range(9)],
    )
    return tr.join(r0, "frame_id")


def _col_apply_calibration(points, calib_wide):
    j = points.join(F.broadcast(calib_wide), "frame_id")
    cam = [
        F.col(f"t{k}0") * F.col("x")
        + F.col(f"t{k}1") * F.col("y")
        + F.col(f"t{k}2") * F.col("z")
        + F.col(f"t{k}3")
        for k in range(3)
    ]
    rect = [
        F.col(f"r{i}0") * cam[0] + F.col(f"r{i}1") * cam[1] + F.col(f"r{i}2") * cam[2]
        for i in range(3)
    ]
    return j.select(
        "frame_id", rect[0].alias("x"), rect[1].alias("y"), rect[2].alias("z"), "intensity"
    )


def _col_axis_align(df, x="x", y="y", z="z"):
    others = [c for c in df.columns if c not in (x, y, z)]
    return df.select(
        *others, F.col(x).alias(x), F.col(z).alias(y), (-F.col(y)).alias(z)
    ).select(*df.columns)


def _col_minmax(cols):
    out = []
    for c in cols:
        out += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return out


def _col_sorted_percentile(zs, percentage):
    pos = (F.size(zs) - 1).cast("double") * F.lit(percentage)
    lo, hi = F.floor(pos), F.ceil(pos)
    v_lo, v_hi = F.get(zs, lo.cast("int")), F.get(zs, hi.cast("int"))
    return F.when(v_lo == v_hi, v_lo).otherwise((hi - pos) * v_lo + (pos - lo) * v_hi)


def _col_envelope(points, labels, calib_wide):
    pts = _col_axis_align(_col_apply_calibration(points, calib_wide))
    frame_pts = (
        pts.groupBy("frame_id")
        .agg(
            F.sort_array(F.collect_list(F.col("z").cast("double"))).alias("zs"),
            *_col_minmax(["x", "y", "z", "intensity"]),
        )
        .withColumn("z_scale", _col_sorted_percentile(F.col("zs"), 0.05))
    )
    frame_lbl = (
        labels.filter(F.col("label") != "DontCare")
        .select(
            "frame_id", "dim_h", "dim_w", "dim_l",
            F.col("loc_x").alias("lx"), F.col("loc_y").alias("ly"), F.col("loc_z").alias("lz"),
            F.explode(F.array(*_col_corner_structs())).alias("c"),
        )
        .select("*", "c.cx", "c.cy", "c.cz")
        .groupBy("frame_id")
        .agg(*_col_minmax(["dim_h", "dim_w", "dim_l", "lx", "ly", "lz", "cx", "cy", "cz"]))
    )

    def fold(c, shifted=False):
        lo, hi = F.col(f"min_{c}"), F.col(f"max_{c}")
        if shifted:
            lo, hi = lo - F.col("z_scale"), hi - F.col("z_scale")
        return [F.min(lo).alias(f"min_{c}"), F.max(hi).alias(f"max_{c}")]

    return frame_pts.join(frame_lbl, "frame_id", "left").agg(
        *fold("x"), *fold("y"), *fold("z", True), *fold("intensity"),
        *fold("dim_h"), *fold("dim_w"), *fold("dim_l"),
        *fold("lx"), *fold("ly"), *fold("lz", True),
        *fold("cx"), *fold("cy"), *fold("cz", True),
    )


def _col_cutout_filter(points, lo, hi):
    return points.filter(
        (F.col("x") > lo[0])
        & (F.col("y") > lo[1])
        & (F.col("z") > lo[2])
        & (F.col("x") < hi[0])
        & (F.col("y") < hi[1])
        & (F.col("z") < hi[2])
    )


def _col_frame_count_stats(points):
    per_frame = points.groupBy("frame_id").agg(F.count(F.lit(1)).alias("n"))
    return per_frame.agg(
        F.min("n").alias("min_points"),
        F.round(F.avg("n"), 0).cast("long").alias("avg_points"),
        F.max("n").alias("max_points"),
        F.count(F.lit(1)).alias("n_frames"),
    )


def _col_bbox_wireframe(labels, include_classes):
    from pyspark.sql import Window as W

    from kittispark.viz import BBOX_COLORS, WIREFRAME_EDGES

    w = W.partitionBy("frame_id", "label").orderBy(
        "loc_x", "loc_y", "loc_z", "rotation_y", "dim_h", "dim_w", "dim_l"
    )
    edges = F.array(
        *[
            F.struct(F.lit(e).alias("edge_idx"), F.lit(a).alias("a"), F.lit(b).alias("b"))
            for e, (a, b) in enumerate(WIREFRAME_EDGES)
        ]
    )
    color = F.col("label")
    for cls, col in BBOX_COLORS.items():
        color = F.when(F.col("label") == cls, F.lit(col)).otherwise(color)
    start, end = F.col("e.a") + 1, F.col("e.b") + 1
    cs = F.col("__cs")
    return (
        labels.filter(F.col("label").isin(*include_classes))
        .withColumn("box_idx", F.row_number().over(w) - 1)
        .select(
            "frame_id", "label", "box_idx",
            F.array(*_col_corner_structs())
            .cast("array<struct<corner_idx:int,cx:double,cy:double,cz:double>>")
            .alias("__cs"),
            F.explode(edges).alias("e"),
        )
        .select(
            "frame_id", "label", "box_idx",
            F.col("e.edge_idx").alias("edge_idx"),
            F.element_at(cs, start).cx.alias("x1"),
            F.element_at(cs, start).cy.alias("y1"),
            F.element_at(cs, start).cz.alias("z1"),
            F.element_at(cs, end).cx.alias("x2"),
            F.element_at(cs, end).cy.alias("y2"),
            F.element_at(cs, end).cz.alias("z2"),
            color.alias("color"),
        )
    )


def _col_read_labels(spark, label_dir):
    lines = (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(label_dir)
        .select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.[a-z]+$", 1).alias("frame_id"),
            F.split(F.trim(F.col("value")), r"\s+").alias("f"),
        )
        .filter(F.size("f") >= 15)
    )
    d = F.element_at
    return lines.select(
        "frame_id",
        d("f", 1).alias("label"),
        d("f", 2).cast("double").alias("truncated"),
        d("f", 3).cast("int").alias("occluded"),
        d("f", 4).cast("double").alias("alpha"),
        F.array(*[d("f", i).cast("double") for i in (5, 6, 7, 8)]).alias("bbox"),
        *[
            d("f", i).cast("double").alias(name)
            for i, name in enumerate(
                ("dim_h", "dim_w", "dim_l", "loc_x", "loc_y", "loc_z", "rotation_y"), 9
            )
        ],
    )


def _col_read_calib(spark, calib_dir):
    parts = F.split("value", ":", 2)
    return (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(calib_dir)
        .select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.[a-z]+$", 1).alias("frame_id"),
            F.trim(F.get(parts, 0)).alias("key"),
            F.transform(
                F.split(F.trim(F.get(parts, 1)), r"\s+"), lambda v: v.cast("double")
            ).alias("values"),
        )
        .filter(F.col("values").isNotNull())
    )


def test_sql_text_builders_equal_column_forms(spark, fixture, loaded):
    from kittispark.operators.kitti import CORNER_ARRAY_SQL, _envelope, sorted_percentile
    from kittispark.viz import DEFAULT_CLASSES, bbox_wireframe

    root, _ = fixture
    _, points, labels, calib = loaded
    calib_tall = read_calib(spark, f"{root}/calib")
    zs = points.groupBy("frame_id").agg(F.sort_array(F.collect_list("z")).alias("zs"))
    cases = {
        f"sorted_percentile_{p}": (
            zs.select(sorted_percentile(ref, p).alias("v")),
            zs.select(_col_sorted_percentile(F.col("zs"), p).alias("v")),
        )
        for p, ref in ((0, "zs"), (0.05, "zs"), (0.33, F.col("zs")), (1.0, "zs"))
    }
    cases |= {
        "read_labels": (
            read_labels(spark, f"{root}/label_2"),
            _col_read_labels(spark, f"{root}/label_2"),
        ),
        "read_calib": (calib_tall, _col_read_calib(spark, f"{root}/calib")),
        "corner_array": (
            labels.select(F.expr(CORNER_ARRAY_SQL).alias("cs")),
            labels.select(F.array(*_col_corner_structs()).alias("cs")),
        ),
        "bbox_corners": (
            bbox_corners(labels),
            labels.select(
                "frame_id", "label", F.explode(F.array(*_col_corner_structs())).alias("c")
            ).select("frame_id", "label", "c.corner_idx", "c.cx", "c.cy", "c.cz"),
        ),
        "calibration": (
            axis_align(apply_calibration(points, calib_matrices(calib_tall))),
            _col_axis_align(_col_apply_calibration(points, _col_calib_matrices(calib_tall))),
        ),
        "envelope": (_envelope(points, labels, calib), _col_envelope(points, labels, calib)),
        "wireframe": (
            bbox_wireframe(labels),
            _col_bbox_wireframe(labels, DEFAULT_CLASSES),
        ),
        "wireframe_classes": (
            bbox_wireframe(labels, ("Car", "it's")),
            _col_bbox_wireframe(labels, ("Car", "it's")),
        ),
        "count_stats": (frame_count_stats(points), _col_frame_count_stats(points)),
    }
    # the bounds analyze hands the cut-out: negative, integral and
    # tiny doubles, plus plain ints
    for i, (lo, hi) in enumerate(
        [
            ((-15.0, -15.5, -2.0), (15.0, 1e-300, 3.25)),
            ((0.1, -0.0, 2.5e20), (1.5, 2.0, 3.0)),
            ((-1, 0, 5000000000), (1, 2, 3)),
        ]
    ):
        cases[f"cutout_filter_{i}"] = (
            cutout_filter(points, lo, hi),
            _col_cutout_filter(points, lo, hi),
        )
    for name, (new, old) in cases.items():
        try:
            assert_same_analyzed(new, old)
        except AssertionError as e:
            raise AssertionError(f"{name}: SQL-text form diverged from the Column form") from e
    # no classes: SQL has no empty IN list, so the filter is `false`
    assert bbox_wireframe(labels, ()).count() == 0


def test_sql_text_builders_bound_py4j_commands(spark, loaded, py4j_commands):
    """A warm build of the viewer's wireframe, analyze's envelope and
    the E2 cut-out sends at most a quarter of the py4j commands the
    Column-by-Column builders sent (4942, 6398 and 2527 on the
    kitti_cutout inputs), whatever the data."""
    import gc

    from kittispark.operators.kitti import _envelope
    from kittispark.viz import bbox_wireframe

    _, points, labels, calib = loaded
    builds = {
        "bbox_wireframe": (lambda: bbox_wireframe(labels), 4942 // 4),
        "_envelope": (lambda: _envelope(points, labels, calib), 6398 // 4),
        "cutout_pipeline": (
            lambda: cutout_pipeline(points, calib, (-15.0, -15.0, -2.0), (15.0, 15.0, 3.0)),
            2527 // 4,
        ),
    }
    for name, (build, bound) in builds.items():
        build()  # warm: first-use reflection lookups
        gc.collect()
        n0 = py4j_commands.n
        build()
        gc.collect()  # count the releases of the build's JVM handles too
        sent = py4j_commands.n - n0
        assert 0 < sent <= bound, f"{name}: {sent} py4j commands (bound {bound})"


def test_sql_text_builders_keep_no_module_level_column():
    # a Column is a handle into one py4j gateway and goes stale when
    # the gateway restarts: the builders cache SQL text, not Columns
    import importlib

    from pyspark.sql import Column

    for name in ("kittispark.operators.kitti", "kittispark.viz", "kittispark.sources.kitti"):
        mod = importlib.import_module(name)
        held = [k for k, v in vars(mod).items() if isinstance(v, Column)]
        assert not held, f"{name} holds Columns: {held}"
    from kittispark.operators.kitti import CORNER_ARRAY_SQL, CORNER_TUPLES_SQL

    assert isinstance(CORNER_ARRAY_SQL, str) and isinstance(CORNER_TUPLES_SQL, str)
