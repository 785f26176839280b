"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (size, seed): the same seed gives
the same bytes, and the engine under test only ever sees the files
written here. Generation is never timed. `ensure_inputs` caches each
input set under a key of (workload, size, seed) so repeated runs pay it
once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# KITTI object classes; DontCare boxes are excluded from the analysis
# folds and from the viewer's default class list.
LABEL_CLASSES = (
    "Car", "Van", "Truck", "Pedestrian", "Person_sitting",
    "Cyclist", "Tram", "Misc", "DontCare",
)
_CLASS_WEIGHTS = np.array([0.45, 0.08, 0.04, 0.15, 0.02, 0.06, 0.02, 0.04, 0.14])

# Input sizes per workload. The KITTI frames are full-size (a real
# HDL-64E sweep is ~120k points). Frame count and corpus size set how
# much data-proportional work one pass does against the engine's fixed
# cost per pass (planning and scheduling some 30 Spark jobs); they are
# the largest at which a run still fits its time budget on a 4-core
# host. n_requests is the length of the viewer's request cycle.
SIZES = {
    "kitti_cutout": {"n_frames": 4, "n_points": 120_000, "n_requests": 4096},
    "corpus_dedup": {"n_docs": 10_000, "exact_share": 0.05, "near_share": 0.15},
}

# Corpus shape: Zipf vocabulary, document lengths, quality-filter
# thresholds and the planted low-quality share the filter must remove.
VOCAB_SIZE = 20_000
ZIPF_S = 1.1
DOC_TOKENS = (60, 160)
LOW_QUALITY_SHARE = 0.04
MIN_TOKENS = 20
MIN_TYPE_TOKEN_RATIO = 0.3
NEAR_EDITS = 2  # token substitutions per near-duplicate copy


def _rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


# ---------------------------------------------------------------------------
# KITTI tree: velodyne/*.bin, label_2/*.txt, calib/*.txt
# ---------------------------------------------------------------------------


def _frame_points(rng: np.random.Generator, n: int) -> np.ndarray:
    """A lidar-like sweep in the velodyne frame (x forward, y left,
    z up): 60% ground returns at the sensor height, 40% structure
    returns above it, range denser near the sensor and no returns
    inside 5 m (the lowest beam meets the ground there)."""
    r = 5.0 + rng.exponential(16.0, n)
    r = np.minimum(r, 80.0)
    phi = rng.uniform(-np.pi, np.pi, n)
    ground = rng.random(n) < 0.6
    z = np.where(
        ground,
        -1.73 + rng.normal(0.0, 0.04, n),
        rng.uniform(-1.6, 2.8, n),
    )
    pts = np.empty((n, 4), dtype="<f4")
    pts[:, 0] = r * np.cos(phi)
    pts[:, 1] = r * np.sin(phi)
    pts[:, 2] = z
    pts[:, 3] = rng.uniform(0.0, 1.0, n)
    return pts


def _frame_labels(rng: np.random.Generator) -> list[str]:
    """KITTI label lines in camera coordinates (x right, y down,
    z forward), two-decimal fields like the published files."""
    lines = []
    for _ in range(int(rng.integers(25, 41))):
        cls = LABEL_CLASSES[int(rng.choice(len(LABEL_CLASSES), p=_CLASS_WEIGHTS))]
        h, w, l = rng.uniform(1.4, 2.0), rng.uniform(0.5, 2.0), rng.uniform(0.8, 4.5)
        x, y, z = rng.uniform(-15, 15), rng.uniform(1.6, 1.7), rng.uniform(4, 50)
        ry = rng.choice((-np.pi / 2, np.pi / 2)) + rng.normal(0.0, 0.15)  # along the road
        alpha = rng.uniform(-np.pi, np.pi)
        bbox = np.sort(rng.uniform(0, 1240, 2)).tolist() + np.sort(
            rng.uniform(0, 375, 2)
        ).tolist()
        fields = [
            cls, f"{rng.uniform(0, 1):.2f}", str(int(rng.integers(0, 4))),
            f"{alpha:.2f}", *(f"{v:.2f}" for v in (bbox[0], bbox[2], bbox[1], bbox[3])),
            *(f"{v:.2f}" for v in (h, w, l, x, y, z, ry)),
        ]
        lines.append(" ".join(fields))
    return lines


def _frame_calib(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """Tr_velo_to_cam (3x4) near the KITTI rig (cam x = -velo y,
    cam y = -velo z, cam z = velo x) and R0_rect (3x3) near identity."""
    a, b = rng.uniform(-0.01, 0.01, 2)
    base = np.array([[0.0, -1.0, 0.0], [0.0, 0.0, -1.0], [1.0, 0.0, 0.0]])
    yaw = np.array([[np.cos(a), -np.sin(a), 0], [np.sin(a), np.cos(a), 0], [0, 0, 1]])
    tr = np.hstack([base @ yaw, np.array([[-0.004], [-0.076], [-0.272]])])
    r0 = np.array([[1, 0, 0], [0, np.cos(b), -np.sin(b)], [0, np.sin(b), np.cos(b)]])
    return tr, r0


def _fmt(values) -> str:
    return " ".join(f"{float(v):.12e}" for v in np.ravel(values))


def kitti_tree(root: str, n_frames: int, n_points: int, seed: int) -> dict:
    """Write a KITTI directory tree under `root`; return per-frame
    metadata (point count, kept-box count) the checks need."""
    for sub in ("velodyne", "label_2", "calib"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    frames = {}
    for k in range(n_frames):
        rng = _rng(seed, 1, k)
        fid = f"{k:06d}"
        n = n_points  # every seed does the same amount of work
        pts = _frame_points(rng, n)
        pts.tofile(os.path.join(root, "velodyne", f"{fid}.bin"))
        labels = _frame_labels(rng)
        with open(os.path.join(root, "label_2", f"{fid}.txt"), "w") as f:
            f.write("\n".join(labels) + "\n")
        tr, r0 = _frame_calib(rng)
        p2 = np.array([[721.5, 0, 609.6, 44.9], [0, 721.5, 172.9, 0.2], [0, 0, 1, 0.003]])
        with open(os.path.join(root, "calib", f"{fid}.txt"), "w") as f:
            for cam in ("P0", "P1", "P2", "P3"):
                f.write(f"{cam}: {_fmt(p2)}\n")
            f.write(f"R0_rect: {_fmt(r0)}\n")
            f.write(f"Tr_velo_to_cam: {_fmt(tr)}\n")
            f.write(f"Tr_imu_to_velo: {_fmt(np.eye(3, 4))}\n")
        frames[fid] = {
            "n_points": n,
            "x_sum": float(pts[:, 0].astype("f8").sum()),
            "kept_boxes": sum(not ln.startswith("DontCare") for ln in labels),
        }
    return {"frames": frames}


def frame_requests(frame_ids: list[str], n_requests: int, seed: int) -> list[str]:
    """The viewer's request sequence: frame ids drawn with a Zipf-like
    popularity (a few frames are browsed far more than the rest)."""
    rng = _rng(seed, 3)
    order = rng.permutation(len(frame_ids))
    weights = 1.0 / np.arange(1, len(frame_ids) + 1) ** 0.8
    picks = rng.choice(len(frame_ids), size=n_requests, p=weights / weights.sum())
    return [frame_ids[order[i]] for i in picks]


# ---------------------------------------------------------------------------
# Corpus with planted exact and near duplicates
# ---------------------------------------------------------------------------


def _zipf_doc(rng: np.random.Generator, cdf: np.ndarray) -> list[str]:
    n = int(rng.integers(*DOC_TOKENS))
    return [f"w{i}" for i in np.searchsorted(cdf, rng.random(n))]


def corpus(
    path: str, n_docs: int, exact_share: float, near_share: float, seed: int
) -> dict:
    """Write `path` as JSON lines {doc_id, text}. A share of docs are
    exact copies of a base doc, a share are near copies (NEAR_EDITS
    token substitutions, 3-shingle Jaccard ~0.9), and a share are
    low-quality docs the quality filter removes. Doc ids are a seeded
    permutation, so a copy's id may be below its original's. Returns
    the planted structure for the checks."""
    rng = _rng(seed, 2)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]

    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_low = int(n_docs * LOW_QUALITY_SHARE)
    n_base = n_docs - n_exact - n_near - n_low
    base = []
    while len(base) < n_base:
        toks = _zipf_doc(rng, cdf)
        if len(set(toks)) / len(toks) >= MIN_TYPE_TOKEN_RATIO + 0.1:
            base.append(toks)
    texts = [" ".join(t) for t in base]
    origin = list(range(n_base))  # index of the base doc each text came from
    kinds = ["base"] * n_base
    for _ in range(n_exact):
        src = int(rng.integers(n_base))
        texts.append(texts[src])
        origin.append(src)
        kinds.append("exact")
    for _ in range(n_near):
        src = int(rng.integers(n_base))
        toks = list(base[src])
        for pos in rng.choice(len(toks), NEAR_EDITS, replace=False):
            toks[pos] = f"x{int(rng.integers(10**6))}"
        texts.append(" ".join(toks))
        origin.append(src)
        kinds.append("near")
    for j in range(n_low):
        if j % 2:
            toks = [f"w{int(rng.integers(50))}"] * int(rng.integers(40, 80))
        else:
            toks = _zipf_doc(rng, cdf)[: int(rng.integers(3, MIN_TOKENS))]
        texts.append(" ".join(toks))
        origin.append(-1)
        kinds.append("low")

    ids = rng.permutation(n_docs) + 1
    with open(path, "w") as f:
        for doc_id in np.argsort(ids):
            f.write(json.dumps({"doc_id": int(ids[doc_id]), "text": texts[doc_id]}) + "\n")
    base_id = {i: int(ids[i]) for i in range(n_base)}
    return {
        "n_docs": n_docs,
        "near_pairs": [
            [base_id[origin[i]], int(ids[i])] for i in range(n_docs) if kinds[i] == "near"
        ],
    }


# ---------------------------------------------------------------------------
# Cache
# ---------------------------------------------------------------------------


def _size_tag(size: dict) -> str:
    return "-".join(f"{k}{v}" for k, v in sorted(size.items()))


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate (once) and return (input dir, metadata) for a
    workload and seed. The cache key also holds a digest of this file,
    so a changed generator never reuses stale inputs. Written to a
    temporary dir and renamed, so an interrupted generation never
    leaves a half-written cache entry."""
    size = SIZES[workload]
    with open(__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:10]
    key = f"{workload}-{_size_tag(size)}-seed{seed}-{digest}"
    root = os.path.join(cache_root, key)
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if workload == "corpus_dedup":
            meta = corpus(
                os.path.join(tmp, "docs.jsonl"), size["n_docs"],
                size["exact_share"], size["near_share"], seed,
            )
        else:
            meta = kitti_tree(tmp, size["n_frames"], size["n_points"], seed)
            meta["requests"] = frame_requests(sorted(meta["frames"]), size["n_requests"], seed)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(meta_path) as f:
        return root, json.load(f)
