"""Benchmark harness: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a count() action (no driver collection of
result data beyond the count), timed wall-clock after a warm-up of
the session itself. Every query runs $SPARK_GRAFT_BENCH_ITERS times
(default 3, min 1) and reports the MEDIAN — single-run noise on a
shared box is ±40% per query, which would make round-over-round
regression detection impossible. The first iteration carries plan
compile; the median is the steady-state number.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "join_three_way",
    "box_filter_conjunctive",
    "percentile_per_group",
    "topk_per_group",
    "tumbling_window_counts",
    "dedup_exact",
    "minhash_lsh_candidates",
    "cosine_topk_bruteforce",
    "token_count",
    "asof_join_latest_click",
    "ann_ivf_topk",
    "salted_skew_join",
    "tfidf_top_terms",
    # round-3 families added per VERDICT r3 #4 — the newest (and
    # historically buggiest-at-scale) code belongs in the headline
    # set the driver times every round:
    "bigram_lm_score",
    "kmeans_two_iterations",
    "semantic_dedup_clustered",
    "bloom_prune_semi_join",
    "merge_upsert_snapshot",
    # round-4 families: the heaviest of the TPC-H completion suite
    # (7-way star; double fact pass + distinct aggs) and the new
    # retrieval / intra-doc-dedup paths:
    "q8_market_share",
    "q21_waiting_suppliers",
    "rank_fusion_rrf",
    "intra_doc_chunk_dedup",
    # round-4 late additions: the storage-layout levers (bucketed
    # co-located join; persisted mergeable rollup partials). Their
    # one-time fixture writes land in iteration 1 only — the median
    # reports the steady-state serve path:
    "bucketed_join_colocated",
    "rollup_incremental_maintain",
    # round-4 continuation: the two heaviest new training-data ops —
    # ExactSubstr span detection (corpus-wide shingle hash-agg +
    # interval-union windows) and PQ shortlist + exact re-rank (ADC
    # broadcast-table scan + point-lookup refine):
    "exact_substring_spans",
    # pq_rerank_topk is the kept BUILD-inclusive PQ row (codebooks +
    # encode + ADC + re-rank every iteration — the index-construction
    # cost under the clock). Its ADC-only sibling pq_adc_topk was
    # REMOVED from the headline set in r10 (VERDICT r9 #2): with pins
    # draining, both rows timed the same construction twice; the
    # serve-side story is now carried by the two *_indexed rows below.
    "pq_rerank_topk",
    # round-5 (VERDICT r4 #4): the remaining heaviest deferred
    # families. BPE re-trains every timed iteration (RESETS clears
    # its cache — timing a memoized result is not a benchmark);
    # the streaming/index queries warm their one-time fixture in the
    # untimed pre-run and the median times the steady-state serve
    # path, same framing as bucketed_join_colocated:
    "exact_substring_removal",
    "bpe_learn_merges",
    "bpe_segment_corpus",
    "incremental_dedup_batch",
    "stream_merge_upsert",
    # round-5 continuation: the heaviest of the new wave — binary
    # Hamming ANN (full packed-corpus scan + top-k window), global
    # paragraph dedup (chunk-keyed window + doc rebuild agg), and
    # content-defined chunking (per-position portable hash, the
    # densest md5 workload in the registry):
    "hamming_ann_topk",
    "paragraph_global_dedup",
    "cdc_chunk_stats",
    # round-6: the heaviest of the new wave — exact triangle counting
    # (the 41M-wedge join is the intrinsic algorithmic cost on this
    # dense co-occurrence graph; the naive formulation DuckDB runs as
    # the oracle takes ~100 s on the same data), bounded-round label
    # propagation, collocation mining (posexplode + doc-keyed
    # adjacency self-join), the two-phase skyline, and the truncated-
    # dim recall audit (two corpus-scan cosine top-ks + a hash join):
    "triangle_count_parts",
    "graph_label_propagation",
    "bigram_collocation_lift",
    "pareto_front_orders",
    "dim_truncation_recall",
    # the composed IVFADC system — cell-pruned ADC, the flagship ANN
    # serving shape; belongs under the clock next to its PQ halves:
    "ivfadc_topk",
    # round-6 continuation: the heaviest of the wave — WordPiece
    # greedy segmentation (vocab derivation + 16 generated-SQL match
    # rounds; the third tokenizer family under the clock next to
    # BPE) and the Heaps-law growth curve (two-level prefix sums
    # over per-doc token/new-term counts):
    "wordpiece_segment_vocab",
    "heaps_vocab_growth",
    # round-6 second continuation: the heaviest of the governance /
    # tokenizer-eval / image-dedup wave — perceptual-hash image
    # dedup (200 real PPM decodes + integer aHash per iteration,
    # the densest mapInPandas in the registry), the SentencePiece
    # seed-vocab substring explosion (~14 pieces per distinct word),
    # and blocked record linkage (nation+prefix equi-join +
    # Levenshtein comparator):
    "media_phash_clusters",
    "unigram_seed_vocab",
    "record_linkage_blocked_pairs",
    # the heaviest of the training-prep / LM wave: the MLM plan
    # hashes every token position (the densest md5 projection in
    # the registry next to cdc_chunk_stats), and Kneser-Ney runs
    # the full bigram count lattice:
    "mlm_masking_plan",
    "kneser_ney_bigram",
    # data-selection wave heavies: the label-aware double ranking
    # over the broadcast query scan, and the 6-round iterative
    # k-center selection (one bounded argmax collect per round):
    "contrastive_margin_mining",
    "farthest_point_coreset",
    # round-7 (VERDICT r6 #7): the slowest unbenched heavies, cold-
    # timed at sf0.1 before admission. The two fixture-backed ones
    # (streaming checkpoint resume at ~9 s cold; IVF append at ~14 s
    # cold) warm their one-time sinks/indexes in the untimed pre-run
    # and the median times the steady-state serve path. The full
    # LSH->verify->CC->survivor composition and the LSH-fed
    # threshold curve are the two heaviest pure-batch additions:
    "stream_checkpoint_resume",
    "ann_ivf_index_append",
    "near_dup_pipeline_survivors",
    "dedup_threshold_curve_lsh",
    # round-8 (VERDICT r7 #5): the streaming / kitti-file / viz
    # families with real I/O were unbenched. Cold-timed at sf0.1
    # before admission; the warm medians are the steady-state serve
    # paths. stream_jsonl_ingest drains the JSONL landing dir through
    # the JSON file source (one file per micro-batch);
    # kitti_points_bin_roundtrip writes + re-reads real fixed-width
    # .bin via the Python DataSource; kitti_datasource_scan is the
    # registered-format read path; kitti_analysis_envelope is the
    # heaviest kitti batch composition (calib chain + corner explode
    # + envelope combine); wireframe_edge_segments is the r8
    # signed-zero-fixed viz expansion kept under the clock.
    # (stream_session_tracker measured 14.6 s warm at sf0.1 and is
    # deliberately NOT admitted: 5 micro-batches of
    # applyInPandasWithState per-batch state-store setup is a fixed
    # overhead that doesn't track engine changes — see SCALING.md r8.)
    "stream_jsonl_ingest",
    "kitti_points_bin_roundtrip",
    "kitti_datasource_scan",
    "kitti_analysis_envelope",
    "wireframe_edge_segments",
    # round-9 (VERDICT r8 #4): the heaviest still-unbenched iterative
    # compositions — iterate-to-convergence connected components
    # (dedup_cluster_assign), bounded-round PageRank, the AVI
    # decode/index pair (real RIFF parse in mapInPandas), and the BPE
    # learner at a production-shaped 8-round depth (its own registry
    # query; RESETS clears the train cache so the median times real
    # re-training, not a memo read):
    "dedup_cluster_assign",
    "pagerank_nation_flow",
    "media_avi_decode",
    "media_avi_frame_index",
    "bpe_learn_merges_8r",
    # round-10 (VERDICT r9 #2): the PQ SERVE path from persisted
    # codes/codebooks — the 100 TB serving shape. The one-time
    # pq_write_index builds land in the untimed pre-run (the index
    # root is a per-process fixture like the IVF index, NOT a pin, so
    # release_pins doesn't drain it); the medians time query-batch
    # serving only. Build cost stays under the clock via the kept
    # pq_rerank_topk row above.
    "pq_adc_topk_indexed",
    "pq_rerank_topk_indexed",
]

# Pre-iteration reset hooks: queries whose per-process memoization
# would otherwise turn timed iterations into cache reads.
def _reset_bpe() -> None:
    from kittispark.queries import corpus_lm

    corpus_lm._BPE_CACHE.clear()


RESETS = {
    "bpe_learn_merges": _reset_bpe,
    "bpe_segment_corpus": _reset_bpe,
    "bpe_learn_merges_8r": _reset_bpe,
}


def build_stdout_line(
    timings: dict[str, float], total: float, sf_val, extra: dict | None = None
) -> tuple[dict, str]:
    """Build the one-line driver contract. The driver tail buffer is
    EXACTLY 2000 chars (BENCH_r07.tail measured); compact separators
    from the start (the default ", "/": " waste 2 chars per entry).
    At 67 queries the full 3dp dict is ~1930 chars — already past a
    safe margin — so instead of a precision ladder (VERDICT r9 #5:
    the old 3dp branch was dead code), the line keeps FULL 3dp
    precision but caps the per-query dict to the top-K most expensive
    rows until it fits <= 1800 chars. "n" always carries the true
    query count; the complete dict + spread lives in
    BENCH_DETAIL.json. Parseable at any registry size.

    `extra` (VERDICT r11 #2): additions-only contamination evidence
    (loadavg_pre + cpu_calib) so the driver's round-over-round compare
    can adjudicate a degraded/contended box mechanically instead of
    from a committed side file — the r11 32-core sample read 333 s on
    a box whose own 8-core run read 81 s, and nothing in the one-line
    JSON recorded why. The core contract keys are asserted unchanged;
    the extras are merged before length-capping so the cap still
    guarantees <= 1800 chars."""
    line_obj = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "n": len(timings),
        "queries": timings,
        "sf": sf_val,
    }
    for k, v in (extra or {}).items():
        if k in line_obj:
            raise ValueError(f"extra field {k!r} collides with contract")
        line_obj[k] = v
    sep = (",", ":")
    line = json.dumps(line_obj, separators=sep)
    if len(line) > 1800:
        by_cost = sorted(timings, key=timings.get, reverse=True)
        k = len(by_cost)
        while len(line) > 1800 and k > 1:
            k -= 1
            line_obj["queries"] = {n: timings[n] for n in by_cost[:k]}
            line_obj["queries_truncated_to_top_k"] = k
            line = json.dumps(line_obj, separators=sep)
    return line_obj, line


# A 1-min loadavg above this at bench start marks the sample as
# load-contaminated. Calibration (BENCH r8-r10, 32-CPU box): quiet
# samples measured loadavg_pre 0.29-0.92 and reproduced within 1%;
# contaminated samples (3.04 / 3.65 / ~5) inflated pq/bpe/
# exact-substring rows 2-4x. 2.0 splits the two observed clusters.
NOISY_LOADAVG = 2.0


def cpu_calib() -> dict:
    """~1.5 s host-regime probe recorded in BENCH_DETAIL (r11): two
    same-code quiet-loadavg samples (73.8/74.8 s) ran 30% slower than
    r10's quiet pair (56.8/57.3 s) with ~1% steal — guest loadavg
    cannot see a host-level slowdown, so the detail file carries an
    absolute single-thread anchor instead: a fixed Python loop and a
    fixed 4M-element vector dot (memory bandwidth). Round-over-round
    bench movement that tracks these numbers is host regime, not
    plans."""
    import numpy as np

    def best(fn, reps=3):
        # best-of: the least-contended sample estimates host
        # CAPABILITY (the anchor), not current utilization
        return min(min(fn() for _ in range(reps)), float("inf"))

    def pyloop():
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i
        return time.perf_counter() - t0

    rng = np.random.default_rng(0)
    v = rng.random(4_000_000)
    w = rng.random(4_000_000)
    v @ w  # warmup, untimed

    def dot():
        # single-threaded, memory-bandwidth-bound — stable within
        # +-3% across processes (a 1024^2 matmul probe swung 2.7x
        # from BLAS thread scheduling and was rejected)
        t0 = time.perf_counter()
        v @ w
        return time.perf_counter() - t0

    return {
        "pyloop_2m_s": round(best(pyloop), 3),
        "dot4m_ms": round(best(dot, 5) * 1000, 2),
    }


def write_detail(repo: Path, detail: dict) -> Path:
    """Write the full-precision sample, keeping the quiet sample
    authoritative (VERDICT r10 #1): the r10 driver run at loadavg 3.04
    overwrote the committed loadavg-0.92 sample in the working tree.
    Policy: a load-contaminated sample (loadavg_pre[0] > NOISY_LOADAVG)
    never replaces an existing quiet BENCH_DETAIL.json — it lands in
    BENCH_DETAIL_NOISY.json alongside, so the run is still recorded
    and loadavg-adjudicable. A quiet sample always replaces; a noisy
    sample replaces only another noisy (or missing/unreadable) one.
    Returns the path written."""
    path = repo / "BENCH_DETAIL.json"
    # A dev run at a non-driver SF never touches the authoritative
    # file (the old footgun: an sf0.01 run clobbering the committed
    # sf0.1 sample, which then had to be manually re-benched).
    if detail.get("sf") != 0.1:
        path = repo / "BENCH_DETAIL_NOISY.json"
    new_load = detail.get("loadavg_pre", [0.0])[0]
    if new_load > NOISY_LOADAVG and path.exists():
        try:
            prev_load = json.loads(path.read_text()).get(
                "loadavg_pre", [float("inf")]
            )[0]
        except Exception:
            prev_load = float("inf")
        if prev_load <= NOISY_LOADAVG:
            path = repo / "BENCH_DETAIL_NOISY.json"
    path.write_text(json.dumps(detail, indent=1) + "\n")
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kittispark import get_spark, registry  # noqa: F401
    from kittispark import registry as reg
    from kittispark.operators.util import release_pins

    # Progress-bar \r frames share the captured output stream with the
    # final JSON line; suppress them so the driver's bounded tail is
    # spent on the line that matters.
    spark = get_spark(
        "kittispark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = reg.queries()

    # Warm the JVM + parquet footers, and spawn the Arrow Python
    # workers (reused across queries via spark.python.worker.reuse)
    # with a trivial pandas_udf action, so no single query is charged
    # the one-time interpreter startup.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(s):
        return s

    spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        _warm(F.col("n_nationkey"))
    ).count()

    # 5 iterations (was 3): same-session spread between two back-to-
    # back 3-iter runs measured up to 1.7x on single queries; the
    # wider median window costs ~30 s and stabilizes round-over-round
    # comparison.
    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5")))
    # Box-state instrumentation (VERDICT r9 #4): record the load
    # average before and after so "noisy box" adjudication of
    # round-over-round movers is a measured fact, not a narrative.
    # (loadavg_pre includes this process's own warm-up; the external
    # load is roughly pre minus the bench's own footprint.)
    loadavg_pre = list(os.getloadavg())
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        # Untimed pre-run: one-time fixture builds (bucketed tables,
        # streaming checkpoint sinks, JSONL/CSV/ORC corpora, persisted
        # indexes) and plan compile land here, NOT in iteration 1 —
        # VERDICT r4 #3: a 20 s build under a 0.2 s median poisoned
        # the spread column. The median is the steady-state number.
        reset = RESETS.get(name)
        if reset is not None:
            reset()
        fn(spark, sf_dir).count()
        release_pins()  # drain one-shot persist_disk pins (ADVICE r8)
        runs = []
        for _ in range(iters):
            if reset is not None:
                reset()
            start = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - start)
            release_pins()
        med = statistics.median(runs)
        timings[name] = round(med, 3)
        # relative min-max spread: round-over-round drift smaller than
        # a query's own same-session spread is noise, not regression
        spread[name] = round((max(runs) - min(runs)) / med, 2) if med else 0.0

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver captures only the LAST ~2000 chars of the combined
    # stdout/stderr stream and parses the JSON line out of that tail
    # (BENCH_r05 came back parsed:null when the line — 38 queries +
    # the spread dict — outgrew the buffer). So: the stdout line is
    # the minimal contract {metric,value,unit,queries,sf}; spread /
    # iteration count / methodology go to BENCH_DETAIL.json in the
    # repo instead. If the per-query dict itself ever nears the
    # buffer, degrade precision before dropping information.
    calib = cpu_calib()
    line_obj, line = build_stdout_line(
        timings,
        total,
        sf_val,
        # Contamination evidence in the driver-visible line (VERDICT
        # r11 #2): ~90 chars, accounted for by the length cap.
        extra={
            "loadavg_pre": [round(x, 2) for x in loadavg_pre],
            "cpu_calib": calib,
        },
    )
    detail = {
        **{k: v for k, v in line_obj.items() if k != "queries_truncated_to_top_k"},
        "queries": timings,
        "spread": spread,
        "iterations": iters,
        "loadavg_pre": [round(x, 2) for x in loadavg_pre],
        "loadavg_post": [round(x, 2) for x in os.getloadavg()],
        "cpu_calib": calib,
        # Methodology: r01 was a SINGLE cold run (plan compile charged
        # to each query); r02+ report the median of `iterations` runs
        # (steady state). r5+: each query additionally gets ONE
        # untimed pre-run (fixture builds + plan compile excluded from
        # all timed iterations).
        "methodology": "median_of_iterations_steady_state_prewarmed",
    }
    write_detail(Path(REPO), detail)
    # Stop Spark BEFORE printing: executor/shutdown chatter shares the
    # captured stream, and anything printed after the JSON line eats
    # tail budget.
    spark.stop()
    print(line)


if __name__ == "__main__":
    main()
