"""The workloads, each written against the engine's public
functions exactly as a user of the engine would call them.

A workload has `setup` (program set-up that precedes the timed window
and is repeated on every set-up cycle), `before_op` (untimed
preparation of one operation), `op` (one timed operation: a full pass
or one request) and `check` (untimed verification of that operation's
output against the golden computed from the inputs).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from kittispark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_candidates,
    shingle_rows,
)
from kittispark.operators.kitti import (
    analyze,
    calib_matrices,
    center_area_borders,
    cutout_pipeline,
    frame_count_stats,
)
from kittispark.operators.text import quality_cols
from kittispark.operators.util import materialize
from kittispark.sinks import points_to_parquet, write_kitti_bins
from kittispark.sources.kitti import read_calib, read_labels, read_points
from kittispark.viz import bbox_wireframe, frame_points_pdf

from perfbench import checks
from perfbench.gen import MIN_TOKENS, MIN_TYPE_TOKEN_RATIO

JACCARD_CUT = 0.5  # verified near-duplicate: 3-shingle Jaccard >= this


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`, Spark's marker and checksum files
    excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_store(spark, tracer, velodyne: str, store: str):
    """The viewer's one-time set-up: .bin frames -> frame-partitioned
    parquet store; returns the store as a DataFrame."""
    with tracer.span("sinks.points_to_parquet"):
        points_to_parquet(read_points(spark, velodyne), store)
    return spark.read.parquet(store)


def view_frame(spark, tracer, store, label_dir: str, fid: str) -> dict:
    """One viewer request: the frame's points from the store and its
    box wireframe. The label glob is read afresh on every request; the
    read_labels span covers resolving it into a DataFrame, and the
    scan itself runs inside the bbox_wireframe span."""
    with tracer.span("viz.frame_points"):
        points = frame_points_pdf(store, fid)
    with tracer.span("viz.bbox_wireframe"):
        with tracer.span("sources.kitti.read_labels"):
            labels = read_labels(spark, label_dir)
        wire = bbox_wireframe(labels.filter(F.col("frame_id") == fid)).toPandas()
    return {"fid": fid, "points": points, "wire": wire}


class KittiCutout:
    """The reference program end to end: E1 analysis, E2 cut-outs at
    the minimal and center areas written as .bin datasets with
    per-frame count stats, and E3 one viewer request against the
    parquet store built at set-up."""

    name = "kitti_cutout"

    def __init__(self, inputs: str, meta: dict, work: str):
        self.dirs = {sub: os.path.join(inputs, sub) for sub in ("velodyne", "label_2", "calib")}
        self.out = {ds: os.path.join(work, f"cutout_{ds}") for ds in ("minimal", "center")}
        self.store_dir = os.path.join(work, "store")
        self.frames = meta["frames"]
        self.requests = meta["requests"]
        self.golden = checks.kitti_golden(inputs)
        self.input_bytes = dir_bytes(inputs)[1] - os.path.getsize(os.path.join(inputs, "meta.json"))
        self.n_records = self.golden["n_points"]
        self.store = None
        self.fid = None
        self._next = 0

    def setup(self, spark, tracer) -> None:
        self.store = build_store(spark, tracer, self.dirs["velodyne"], self.store_dir)

    def before_op(self, spark, tracer) -> None:
        self.fid = self.requests[self._next % len(self.requests)]
        self._next += 1
        for d in self.out.values():
            shutil.rmtree(d, ignore_errors=True)
        if tracer.enabled:  # forced scans: the source layer's own cost
            with tracer.span("sources.kitti.scan_points"):
                _noop_scan(read_points(spark, self.dirs["velodyne"]))
            with tracer.span("sources.kitti.scan_labels"):
                _noop_scan(read_labels(spark, self.dirs["label_2"]))
            with tracer.span("sources.kitti.scan_calib"):
                _noop_scan(read_calib(spark, self.dirs["calib"]))

    def op(self, spark, tracer) -> dict:
        pts = read_points(spark, self.dirs["velodyne"])
        labels = read_labels(spark, self.dirs["label_2"])
        calib = calib_matrices(read_calib(spark, self.dirs["calib"]))
        with tracer.span("operators.kitti.analyze"):
            res = analyze(pts, labels, calib)
        out = {"minimal_area": res.minimal_area, "center_area": center_area_borders(res.minimal_area)}
        for ds in ("minimal", "center"):
            cut = cutout_pipeline(pts, calib, *out[f"{ds}_area"])
            with tracer.span("sinks.write_kitti_bins"):
                rows = write_kitti_bins(cut, self.out[ds]).collect()
            with tracer.span("operators.kitti.frame_count_stats"):
                stats = frame_count_stats(cut).collect()[0].asDict()
            out[f"counts_{ds}"] = {r["frame_id"]: r["n_points"] for r in rows}
            out[f"stats_{ds}"] = stats
        out["view"] = view_frame(spark, tracer, self.store, self.dirs["label_2"], self.fid)
        return out

    def check(self, out: dict) -> list[str]:
        for ds in ("minimal", "center"):
            d = self.out[ds]
            names = os.listdir(d) if os.path.isdir(d) else []
            out[f"files_{ds}"] = {n: os.path.getsize(os.path.join(d, n)) for n in names}
        view = out["view"]
        return checks.check_kitti(self.golden, out) + checks.check_frame(
            self.frames[view["fid"]], view["points"], view["wire"]
        )

    def written(self) -> tuple[int, int]:
        f1, b1 = dir_bytes(self.out["minimal"])
        f2, b2 = dir_bytes(self.out["center"])
        return f1 + f2, b1 + b2

    def layer_counts(self, out: dict) -> dict:
        kept = sum(out["counts_minimal"].values()) + sum(out["counts_center"].values())
        view = out["view"]
        return {
            "operators.kitti.cutout_selectivity": kept / (2 * self.n_records),
            "viz.rows_returned": len(view["points"]) + len(view["wire"]),
        }


def verify_candidates(docs, cands):
    """Candidate-bounded exact 3-shingle Jaccard: expand each pair by
    doc_a's shingles, equi-join doc_b's shingle set on (doc_b, sh),
    keep pairs with Jaccard >= JACCARD_CUT."""
    ds = shingle_rows(docs).distinct()
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = ds.select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = ds.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.join(sa, "doc_a").join(sb, "doc_b").filter(jac >= JACCARD_CUT).select("doc_a", "doc_b")


class CorpusDedup:
    """Quality filter -> exact dedup -> MinHash-LSH candidates ->
    Jaccard verify -> connected components -> parquet survivors. Each
    stage is materialized so its cost lands in its own span."""

    name = "corpus_dedup"

    def __init__(self, inputs: str, meta: dict, work: str):
        self.path = os.path.join(inputs, "docs.jsonl")
        self.out = os.path.join(work, "survivors")
        self.golden = checks.corpus_golden(self.path, meta)
        self.input_bytes = os.path.getsize(self.path)
        self.n_records = self.golden["n_input"]

    def setup(self, spark, tracer) -> None:
        pass

    def before_op(self, spark, tracer) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, spark, tracer) -> dict:
        docs = spark.read.schema("doc_id long, text string").json(self.path)
        with tracer.span("operators.text.quality_filter"):
            good = materialize(
                docs.select("doc_id", "text", *quality_cols("text"))
                .filter(
                    (F.col("n_tokens") >= MIN_TOKENS)
                    & (F.col("type_token_ratio") >= MIN_TYPE_TOKEN_RATIO)
                )
                .select("doc_id", "text")
            )
        with tracer.span("operators.dedup.exact_dedup"):
            kept = materialize(
                exact_dedup(good).select(F.col("keep_id").alias("doc_id"), "text")
            )
        with tracer.span("operators.dedup.minhash_lsh_candidates"):
            cands = materialize(minhash_lsh_candidates(kept))
        with tracer.span("operators.dedup.verify"):
            verified = materialize(verify_candidates(kept, cands))
        with tracer.span("operators.dedup.connected_components"):
            comps = connected_components(verified, src="doc_a", dst="doc_b")
        with tracer.span("sinks.write_parquet"):
            removed = comps.filter(F.col("comp") != F.col("node"))
            kept.join(removed, kept["doc_id"] == removed["node"], "left_anti").write.mode(
                "overwrite"
            ).parquet(self.out)
        return {"kept": kept, "cands": cands, "verified": verified}

    def check(self, out: dict) -> list[str]:
        import pyarrow.parquet as pq

        kept_ids = [r[0] for r in out["kept"].select("doc_id").collect()]
        survivors = pq.read_table(self.out, columns=["doc_id"]).column("doc_id").to_pylist()
        return checks.check_corpus(self.golden, kept_ids, survivors)

    def written(self) -> tuple[int, int]:
        return dir_bytes(self.out)

    def layer_counts(self, out: dict) -> dict:
        n_cands = out["cands"].count()
        edges = [(r[0], r[1]) for r in out["verified"].collect()]
        return {
            "operators.dedup.candidate_precision": len(edges) / n_cands if n_cands else 0.0,
            "operators.dedup.cc_rounds": label_propagation_rounds(edges),
        }


def label_propagation_rounds(edges: list[tuple[int, int]]) -> int:
    """Rounds min-label propagation runs on this edge list, counting
    the final round that observes no change (the shape of
    operators.dedup.connected_components' loop)."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {n: n for n in nbrs}
    rounds = 0
    while True:
        rounds += 1
        new = {n: min([label[n], *(label[m] for m in nbrs[n])]) for n in nbrs}
        if new == label:
            return rounds
        label = new


WORKLOADS = {w.name: w for w in (KittiCutout, CorpusDedup)}
