"""Output checks, computed from the generated inputs without the engine.

Each check returns a list of problems; an empty list means the output
is correct. The KITTI golden repeats the engine's arithmetic in the
same operation order (double compute over float32 input, the exact
linear-interpolation percentile), so the rounded analysis areas and
the per-frame cut-out counts must match exactly.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

from perfbench.gen import MIN_TOKENS, MIN_TYPE_TOKEN_RATIO

CENTER_FACTOR = 1.0 / 8.0  # the reference's second cut-out dataset
NEAR_RECALL_FLOOR = 0.98


# ---------------------------------------------------------------------------
# kitti_cutout
# ---------------------------------------------------------------------------


def _read_calib(path: str) -> tuple[np.ndarray, np.ndarray]:
    rows = {}
    with open(path) as f:
        for line in f:
            if ":" in line:
                key, vals = line.split(":", 1)
                rows[key.strip()] = [float(v) for v in vals.split()]
    return np.array(rows["Tr_velo_to_cam"]).reshape(3, 4), np.array(rows["R0_rect"]).reshape(3, 3)


def _aligned_points(pts: np.ndarray, tr: np.ndarray, r0: np.ndarray) -> np.ndarray:
    """velo -> cam -> rectified -> axis remap (x, z, -y), each cell
    summed left to right like the engine's column expressions."""
    x, y, z = (pts[:, i].astype("f8") for i in range(3))
    cam = [tr[k, 0] * x + tr[k, 1] * y + tr[k, 2] * z + tr[k, 3] for k in range(3)]
    rect = [r0[i, 0] * cam[0] + r0[i, 1] * cam[1] + r0[i, 2] * cam[2] for i in range(3)]
    return np.column_stack([rect[0], rect[2], -rect[1], pts[:, 3].astype("f8")])


def _percentile(values: np.ndarray, q: float) -> float:
    """Exact percentile with the engine's interpolation form:
    (hi - pos) * v[lo] + (pos - lo) * v[hi], pos = (n - 1) * q."""
    v = np.sort(values)
    pos = (len(v) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or v[lo] == v[hi]:
        return float(v[lo])
    return float((hi - pos) * v[lo] + (pos - lo) * v[hi])


_X_SIGNS = (-1, 1, 1, -1, -1, 1, 1, -1)
_Y_TOP = (0, 0, 0, 0, 1, 1, 1, 1)
_Z_SIGNS = (-1, -1, 1, 1, -1, -1, 1, 1)


def _box_corners(f: list[float]) -> np.ndarray:
    """8 axis-remapped corners of one label box (fields 9..15)."""
    h, w, l, lx, ly, lz, ry = f
    c, s = math.cos(ry), math.sin(ry)
    out = []
    for i in range(8):
        xo = _X_SIGNS[i] * l / 2
        yo = -_Y_TOP[i] * h
        zo = _Z_SIGNS[i] * w / 2
        bx = c * xo + s * zo + lx
        by = yo + ly
        bz = -s * xo + c * zo + lz
        out.append((bx, bz, -by))
    return np.array(out)


def kitti_golden(root: str) -> dict:
    """Analysis envelope and per-frame cut-out counts at the minimal
    area and at the center area, from the files alone."""
    vel = os.path.join(root, "velodyne")
    fids = sorted(n[:-4] for n in os.listdir(vel) if n.endswith(".bin"))
    aligned = {}
    p_lo, p_hi = np.full(4, np.inf), np.full(4, -np.inf)
    oc_lo, oc_hi = np.full(3, np.inf), np.full(3, -np.inf)
    d_lo, d_hi = np.full(6, np.inf), np.full(6, -np.inf)  # h w l lx ly lz
    for fid in fids:
        pts = np.fromfile(os.path.join(vel, f"{fid}.bin"), dtype="<f4").reshape(-1, 4)
        tr, r0 = _read_calib(os.path.join(root, "calib", f"{fid}.txt"))
        a = _aligned_points(pts, tr, r0)
        aligned[fid] = a
        zs = _percentile(a[:, 2], 0.05)
        resc = a.copy()
        resc[:, 2] = a[:, 2] - zs
        p_lo, p_hi = np.minimum(p_lo, resc.min(0)), np.maximum(p_hi, resc.max(0))
        with open(os.path.join(root, "label_2", f"{fid}.txt")) as f:
            for line in f:
                parts = line.split()
                if len(parts) < 15 or parts[0] == "DontCare":
                    continue
                vals = [float(v) for v in parts[8:15]]
                corners = _box_corners(vals)
                corners[:, 2] = corners[:, 2] - zs
                oc_lo, oc_hi = np.minimum(oc_lo, corners.min(0)), np.maximum(oc_hi, corners.max(0))
                d = np.array(vals[:5] + [vals[5] - zs])
                d_lo, d_hi = np.minimum(d_lo, d), np.maximum(d_hi, d)
    min_loc, max_loc = (d_lo[3], d_lo[5], d_lo[4]), (d_hi[3], d_hi[5], d_hi[4])
    max_dim = (d_hi[2], d_hi[1], d_hi[0])
    lo = tuple(
        round(float(max(p_lo[i], max(oc_lo[i], min_loc[i] - max_dim[i]))), 2) for i in range(3)
    )
    hi = tuple(
        round(float(min(p_hi[i], min(oc_hi[i], max_loc[i] + max_dim[i]))), 2) for i in range(3)
    )
    c_lo = tuple(v * CENTER_FACTOR for v in lo)
    c_hi = tuple((l + (h - l)) * CENTER_FACTOR for l, h in zip(lo, hi))

    def counts(blo, bhi):
        out = {}
        for fid, a in aligned.items():
            m = np.ones(len(a), bool)
            for i in range(3):
                m &= (a[:, i] > blo[i]) & (a[:, i] < bhi[i])
            if m.any():
                out[fid] = int(m.sum())
        return out

    return {
        "minimal_area": [list(lo), list(hi)],
        "center_area": [list(c_lo), list(c_hi)],
        "min_point": p_lo.tolist(),
        "max_point": p_hi.tolist(),
        "counts_minimal": counts(lo, hi),
        "counts_center": counts(c_lo, c_hi),
        "n_points": sum(len(a) for a in aligned.values()),
    }


def _stats(counts: dict) -> dict:
    v = list(counts.values())
    return {  # the engine rounds the average half-up
        "min_points": min(v), "avg_points": math.floor(sum(v) / len(v) + 0.5),
        "max_points": max(v), "n_frames": len(v),
    }


def check_kitti(golden: dict, out: dict) -> list[str]:
    """`out` holds what one pass produced: the analysis areas, the
    per-frame counts the .bin sink returned, the .bin files found on
    disk (name -> bytes), and the frame_count_stats rows."""
    problems = []
    for key in ("minimal_area", "center_area"):
        got = [[float(v) for v in side] for side in out[key]]
        if not np.allclose(got, golden[key], rtol=0, atol=1e-9):
            problems.append(f"{key}: got {got}, expected {golden[key]}")
    for ds in ("minimal", "center"):
        want = golden[f"counts_{ds}"]
        got = out[f"counts_{ds}"]
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:4]
            problems.append(f"cut-out counts ({ds}) differ: {diff}")
        files = out[f"files_{ds}"]
        want_files = {f"{fid}.bin": 16 * n for fid, n in want.items()}
        if files != want_files:
            diff = sorted(set(files.items()) ^ set(want_files.items()))[:4]
            problems.append(f".bin files ({ds}) differ: {diff}")
        if want and out[f"stats_{ds}"] != _stats(want):
            problems.append(f"frame_count_stats ({ds}): {out[f'stats_{ds}']} != {_stats(want)}")
    return problems


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def _passes_filter(text: str) -> bool:
    toks = text.split(" ")
    return len(toks) >= MIN_TOKENS and round(len(set(toks)) / len(toks), 6) >= MIN_TYPE_TOKEN_RATIO


def corpus_golden(path: str, meta: dict) -> dict:
    """Expected survivors of the quality filter and of exact dedup
    (min id per identical text), and the survivors an ideal near-dup
    stage leaves: one (min id) doc per cluster of planted near copies."""
    texts = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            texts[rec["doc_id"]] = rec["text"]
    kept_by_text: dict[str, int] = {}
    for doc_id, text in texts.items():
        if _passes_filter(text):
            kept_by_text[text] = min(doc_id, kept_by_text.get(text, doc_id))
    post_exact = set(kept_by_text.values())
    rep = {d: kept_by_text[t] for d, t in texts.items() if t in kept_by_text}

    parent = {d: d for d in post_exact}

    def find(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for a, b in meta["near_pairs"]:
        ra, rb = find(rep[a]), find(rep[b])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    near_removed = {d for d in post_exact if find(d) != d}
    return {
        "n_input": len(texts),
        "n_filtered": sum(1 for t in texts.values() if _passes_filter(t)),
        "post_exact": sorted(post_exact),
        "near_removed": sorted(near_removed),
    }


def check_corpus(golden: dict, kept_ids: list[int], survivor_ids: list[int]) -> list[str]:
    """`kept_ids`: docs left after the quality filter and exact dedup;
    `survivor_ids`: the docs the pass wrote."""
    problems = []
    post_exact = set(golden["post_exact"])
    kept = set(kept_ids)
    if len(kept_ids) != len(kept) or kept != post_exact:
        problems.append(
            f"filter+exact dedup kept {len(kept_ids)} docs "
            f"({len(kept - post_exact)} unexpected, {len(post_exact - kept)} missing), "
            f"expected {len(post_exact)}"
        )
    surv = set(survivor_ids)
    if len(survivor_ids) != len(surv):
        problems.append(f"{len(survivor_ids) - len(surv)} duplicate survivor rows")
    if surv - post_exact:
        problems.append(f"{len(surv - post_exact)} survivors were filtered or exact duplicates")
    near = set(golden["near_removed"])
    wrongly_removed = post_exact - near - surv
    if wrongly_removed:
        problems.append(f"{len(wrongly_removed)} docs without a planted near copy were removed")
    recall = 1.0 - len(surv & near) / max(1, len(near))
    if recall < NEAR_RECALL_FLOOR:
        problems.append(f"near-dup recall {recall:.4f} < {NEAR_RECALL_FLOOR}")
    return problems


# ---------------------------------------------------------------------------
# viewer request (kitti_cutout E3)
# ---------------------------------------------------------------------------


def check_frame(frame_meta: dict, points_pdf, wire_pdf) -> list[str]:
    """One request: every point of the frame returned, and 12 edges
    for each kept (non-DontCare) box."""
    problems = []
    if len(points_pdf) != frame_meta["n_points"]:
        problems.append(f"{len(points_pdf)} points returned, expected {frame_meta['n_points']}")
    elif not math.isclose(float(points_pdf["x"].sum()), frame_meta["x_sum"], rel_tol=1e-9, abs_tol=1e-6):
        problems.append("returned points are not the requested frame's")
    edges = wire_pdf.groupby(["label", "box_idx"]).size()
    if len(edges) != frame_meta["kept_boxes"] or (edges != 12).any():
        problems.append(
            f"wireframe has {len(edges)} boxes / {len(wire_pdf)} edges, "
            f"expected {frame_meta['kept_boxes']} boxes x 12"
        )
    return problems
