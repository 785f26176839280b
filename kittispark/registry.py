"""Named query registry.

Every operator the engine claims (SURVEY.md §2 + the LLM-data-pipeline
extensions) is registered here as a ``QuerySpec``: a callable
``(spark, sf_dir) -> DataFrame`` plus, where ANSI-SQL-expressible, the
equivalent DuckDB oracle SQL. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry — the driver's
correctness gate runs both sides and hash-compares.

Column-name discipline: the driver sorts columns by name before
hashing, so every computed column is aliased identically in the Spark
code and the SQL. Float aggregates are rounded identically on both
sides so value hashes are stable across engines.
"""

from __future__ import annotations

import functools
import importlib
import os
import tempfile
import zipfile
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Modules that register queries on import (kept explicit so a broken
# optional module can't silently drop half the surface). Order matters:
# the driver's correctness gate adjudicates the first 50 registered
# queries, so the families without a prior driver verdict come first.
_QUERY_MODULES = (
    "kittispark.queries.governance",
    "kittispark.queries.training_prep",
    "kittispark.queries.data_selection",
    "kittispark.queries.eval_prep",
    "kittispark.queries.pipeline_tuning",
    "kittispark.queries.curation",
    "kittispark.queries.storage_ops",
    "kittispark.queries.vectors_ext",
    "kittispark.queries.corpus_ext",
    "kittispark.queries.sampling_stats",
    "kittispark.queries.graph",
    "kittispark.queries.stats_ml",
    "kittispark.queries.corpus_analytics",
    "kittispark.queries.kitti_files",
    "kittispark.queries.llm_pipeline",
    "kittispark.queries.corpus_lm",
    "kittispark.queries.text",
    "kittispark.queries.dedup",
    "kittispark.queries.similarity",
    "kittispark.queries.kitti",
    "kittispark.queries.multimodal",
    "kittispark.queries.streaming",
    "kittispark.queries.events",
    "kittispark.queries.relational",
    "kittispark.queries.windows",
    "kittispark.queries.tpch_suite",
    "kittispark.queries.analytics_ext",
)

# Queries with a green (hash_match) driver verdict, mapped to the
# LAST round that verdict was issued (CORRECTNESS_r{N}.json).
# queries()/oracle_sql() list never-green queries first so the
# driver's 50-query window always covers the freshest signal; banked
# greens fill the remaining slots LEAST-RECENTLY-VERIFIED FIRST
# (round-robin recheck — ADVICE r2: a fixed fresh-first/banked-last
# order left ~41 greens permanently unrechecked while their shared
# operators kept changing). GENERATED from the CORRECTNESS files by
# scripts/update_green_bank.py (VERDICT r3 #6: hand-maintained maps
# go stale and silently mis-prioritize the rotation); rerun it each
# round, and list post-verdict rewrites in _REVERIFY below.
from kittispark._green_bank import DRIVER_GREEN as _DRIVER_GREEN


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL twin; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tags)
        return fn

    return deco


def _load_all() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


# Queries whose banked verdict was voided by a rewrite (output or
# oracle changed after adjudication). They need a new driver verdict,
# but every NEVER-adjudicated query outranks them for window slots:
# these already carry exhaustive local multi-SF verification of the
# new form, the truly-fresh ones have no driver signal at all.
_REVERIFY: frozenset[str] = frozenset(
    {
        "dedup_cluster_assign",
        "dedup_threshold_curve",
        "dedup_threshold_curve_lsh",
        "kitti_analysis_envelope",
        "kitti_calib_chain",
        "kitti_cutout_roundtrip",
        "kitti_label_file_scan",
        "minhash_lsh_recall",
        "near_dup_pipeline_survivors",
        "ngram_jaccard_pairs",
        "wireframe_edge_segments",
    }
)
# r13: the six exact-Jaccard verify consumers queued —
# near_dup_pipeline_survivors, dedup_threshold_curve and
# dedup_threshold_curve_lsh now read operators.dedup.shingle_overlap
# (the one shingle intersect/union stage) instead of their own copies,
# and both curves fold it with one shared _threshold_curve (their
# oracles share its SQL twin). ngram_jaccard_pairs is rebuilt on the
# same operator; dedup_cluster_assign and minhash_lsh_recall read it.
# dedup_threshold_curve shingles with shingle_rows instead of
# explode(shingles_col) — the same shingle set, tokenized once per doc.
# Values are bit-identical and local oracle parity holds at sf0.001
# and sf0.01, but the banked greens predate the rewrite.
# r13: kitti_calib_chain, kitti_cutout_roundtrip, kitti_label_file_scan
# and wireframe_edge_segments queued — the KITTI and viewer expressions
# they run (calib_matrices, apply_calibration, axis_align,
# cutout_filter, frame_count_stats, read_labels' projection, the
# corner array and viz.bbox_wireframe) are now SQL text parsed once
# per call instead of Column-by-Column builds. Each analyzes to the
# same tree as the Column form it replaced (canonically equal and
# equal as printed; tests/test_kitti_golden.py keeps those forms) and
# passes local oracle parity, but the banked greens predate the
# rewrite. They and kitti_analysis_envelope (below; its
# sorted_percentile is now SQL text as well) are the registered
# queries that reach the rewritten builders.
# r13: kitti_analysis_envelope queued — frame_z_scale's exact branch
# (which it runs, with rescale_z on its output) now reads Spark's
# percentile formula off a sorted collect_list instead of the
# `percentile` aggregate. Bit-identical by the property test in
# tests/test_sorted_percentile_property.py and local oracle parity,
# but the banked r12 green predates the rewrite. It is the only
# registered query that reaches frame_z_scale, rescale_z or analyze.
# r13 start: emptied — both r12 waiters (exact_substring_spans and
# exact_substring_removal, whose shingling moved onto the zero-shuffle
# shingle_pos_rows atom; OPTIMIZATION_r12.md) were re-adjudicated
# GREEN in CORRECTNESS_r12.json (50/50 hash_match, both names
# included). The one later engine change, read_labels/read_calib
# scanning the directory with pathGlobFilter="*.txt" instead of a
# "*.txt" path glob, reads the same files and rows, so it queues
# nothing. Repopulate per rule 3 when a post-verdict rewrite lands.
# r12 start: emptied — all 10 r11 waiters (semantic_dedup_clustered's
# k-scaling, the 5 packed-ADC PQ/IVFADC names, contrastive_margin_
# mining's single-agg, dim_truncation_recall's one-pass,
# bigram_collocation_lift's one-pass arrays, kneser_ney_bigram's
# bigram_rows atom) were re-adjudicated GREEN in CORRECTNESS_r11.json
# (VERDICT r11: "all that landed in the r11 window came back green").
# Repopulate per rule 3 when a post-verdict rewrite lands.
# r11 start: emptied — all four r10 waiters (the PQ serve-stage
# extract pair pq_adc_topk/pq_rerank_topk and the two 250x scale
# rewrites q4_priority_order_counts/q9_product_profit) were
# re-adjudicated GREEN in CORRECTNESS_r10.json (VERDICT r10:
# "50/50 — zero red rows, including all four _REVERIFY waiters").
# Repopulate per rule 3 when a post-verdict rewrite lands.
#
# Window-rotation math (VERDICT r10 #6): the driver window has 50
# slots per round; priority is never-adjudicated fresh, then
# _REVERIFY, then the stalest banked greens. With 269 registered
# queries and no fresh/_REVERIFY entries, a banked green waits
# ceil(269/50) ≈ 5.4 rounds between driver re-adjudications; every
# registry addition stretches that by 1/50 round. Additions are
# therefore held to verdict-demanded ones (r10 added exactly 2,
# both demanded by VERDICT r9 item 2 — keep that discipline), and
# the local certification regimes (strict multi-SF sweeps, depth
# fixtures, the 50x agghash census, the 250x engine tier) carry
# correctness between driver visits; update_green_bank.py --check
# trips STALE on any green >6 rounds old whose module changed.
# r10 start: emptied — all eight r9 waiters (the q8 plan rewrite, the
# five signed-zero round(diff,k) fixes, and the two exact-cents
# summation fixes in group_cube/date_functions) were re-adjudicated
# GREEN in CORRECTNESS_r09.json (VERDICT r9: "r9 window 50/50
# including all 8 _REVERIFY waiters"). Repopulated same-session with
# the PQ serve-stage refactor above, per rule 3.
# r9 start: emptied — all four r8 waiters (array_functions signed-zero
# normalization, the q21 single-pass window rewrite, and the two
# materialize() pin additions for the envelope and phash queries) were
# re-adjudicated GREEN in CORRECTNESS_r08.json (VERDICT r8: "All four
# _REVERIFY waiters came back green"). Repopulate per rule 3 above
# when a post-verdict rewrite lands.
# r8 start: emptied — all 12 r7 waiters (six carried window rewrites
# + six broadcast-audit requeues) were re-adjudicated GREEN in
# CORRECTNESS_r07.json (VERDICT r7: "The entire r6 backlog cleared").
# Repopulated same-session with the strict-sweep rewrite above.
# (r5 start was empty — all 13 r3/r4 rewrites were re-adjudicated
# green in CORRECTNESS_r04.json. Populated again the same day the
# adversarial-sweep rewrites landed, per VERDICT r4 #2.)

# Queries registered AFTER the current round's 50-slot window was
# already exactly full (never-adjudicated fresh + _REVERIFY): they
# sort BEHIND _REVERIFY so a late addition can never evict a
# judge-demanded re-adjudication from the window. CLEAR THIS SET AT
# ROUND START (update_green_bank.py --check warns while it is
# non-empty): once the round's verdicts land, these are ordinary
# never-green queries and belong at the head of the fresh tier.
_DEFER_FRESH: frozenset[str] = frozenset()
# r7 start: cleared per its own mandate — the 28 late-r6 additions
# rejoin the head of the fresh tier (none has a driver verdict, so
# they auto-sort into the r7 window). Re-populate only if a round's
# window is already exactly full when a new query registers.


def all_specs() -> dict[str, QuerySpec]:
    """All specs: never-adjudicated first, then de-banked rewrites
    (_REVERIFY), then late additions (_DEFER_FRESH — kept behind the
    re-adjudications they must not evict), then banked greens
    least-recently-verified first — so every green is re-adjudicated
    within ~2 rounds even though the driver window is smaller than
    the registry (stable within each group by registration order)."""
    _load_all()
    order = {n: i for i, n in enumerate(_REGISTRY)}
    fresh = [
        n for n in _REGISTRY
        if n not in _DRIVER_GREEN
        and n not in _REVERIFY
        and n not in _DEFER_FRESH
    ]
    reverify = sorted(
        (n for n in _REGISTRY if n in _REVERIFY), key=order.__getitem__
    )
    deferred = sorted(
        (n for n in _REGISTRY if n in _DEFER_FRESH and n not in _DRIVER_GREEN),
        key=order.__getitem__,
    )
    banked_names = sorted(
        (n for n in _REGISTRY if n in _DRIVER_GREEN and n not in _REVERIFY),
        key=lambda n: (_DRIVER_GREEN[n], order[n]),
    )
    return {
        n: _REGISTRY[n] for n in (*fresh, *reverify, *deferred, *banked_names)
    }


_SHIPPED: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship the kittispark package to executor Python workers
    (sc.addPyFile — the programmatic form of `spark-submit
    --py-files`). Python kernels are pickled with references to this
    module, so workers must be able to import it no matter what the
    driver's cwd/PYTHONPATH is. Zipped once per process, added once
    per SparkContext."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"kittispark-pyfiles-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED.add(app)


def _shipping(fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_package_shipped(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, QueryFn]:
    return {name: _shipping(spec.fn) for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
