"""Golden parity: Spark KITTI operators vs independent NumPy
implementation of the reference semantics (SURVEY §5.2-5.4).
"""

from __future__ import annotations

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
