"""Pipeline-tuning profiles: the two measurements that size a
pipeline's knobs before deployment.

- ``watermark_lateness_profile`` — the out-of-orderness profile of
  the event stream (arrival order = event_id, the landing order the
  generator writes): per event, lateness = running-max(event time)
  so far - own event time. The percentiles of this distribution ARE
  the watermark-delay decision: a watermark of p99 lateness drops
  <=1% of events. The running max over the total arrival order is
  computed two-level (per-bucket window + tiny prefix-max offset
  table) — never a single-partition window over the stream.
- ``dedup_threshold_curve`` — near-duplicate pair counts at Jaccard
  thresholds 0.3..0.9: the sensitivity curve that picks a dedup
  threshold (too low removes legitimate text, too high leaves
  near-dups in). Pairs and their exact shingle overlaps come from
  operators.dedup.shingle_overlap over all shingle-sharing pairs;
  ``dedup_threshold_curve_lsh`` reads the same overlaps over the
  MinHash-LSH candidates only. Both fold them with _threshold_curve:
  per-threshold membership is decided by INTEGER cross-multiplication
  (100*n_inter >= t_pct*n_union), so a pair sitting exactly on a
  threshold can never fork between engines.

Reference parity: none — SURVEY.md §6 LLM-pipeline breadth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kittispark.operators.dedup import minhash_lsh_candidates, shingle_overlap
from kittispark.queries._util import t
from kittispark.registry import register

_LATE_BUCKET = 1000  # arrival-order bucket width for the 2-level max

_THRESHOLDS = (30, 40, 50, 60, 70, 80, 90)


@register(
    "watermark_lateness_profile",
    oracle=f"""
    WITH ev AS (
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               event_id // {_LATE_BUCKET} AS bkt
        FROM events WHERE ts IS NOT NULL
    ),
    runmax AS (
        SELECT event_id, sec,
               max(sec) OVER (ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS rm
        FROM ev
    ),
    late AS (
        SELECT greatest(rm - sec, 0) AS lateness FROM runmax
    )
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (lateness > 0) AS BIGINT) AS n_late,
           round(CAST(count(*) FILTER (lateness > 0) AS DOUBLE)
                 / NULLIF(count(*), 0), 6) AS late_rate,
           round(quantile_cont(lateness, 0.5), 6) AS p50_lateness_sec,
           round(quantile_cont(lateness, 0.9), 6) AS p90_lateness_sec,
           round(quantile_cont(lateness, 0.99), 6) AS p99_lateness_sec,
           CAST(coalesce(max(lateness), 0) AS BIGINT) AS max_lateness_sec
    FROM late
    """,
    doc="Watermark-sizing profile: per event (arrival order = "
    "event_id, the landing order), lateness = running-max event "
    "time so far minus own event time, in whole seconds. The "
    "distribution's percentiles ARE the watermark decision — "
    "p99 lateness as the delay bounds dropped input at 1%. The "
    "running max over the total arrival order is TWO-LEVEL: a "
    "window per 1000-id bucket plus a prefix-max over the (tiny) "
    "per-bucket max table — the global_cumsum shape on a "
    "DATA-DERIVED bucket key (so no pid-remap exposure and no "
    "single-partition pass over events). Exact integer seconds "
    "until the final interpolated percentiles (the "
    "percentile_per_group convention: F.percentile <-> "
    "quantile_cont). NULL event times excluded by contract on both "
    "sides.",
    tags=("streaming", "window", "aggregate"),
)
def watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            # ts.cast(long) <-> floor(epoch(ts)): the established
            # pairing (resample_ffill_grid / scd2 convention)
            F.col("ts").cast("long").alias("sec"),
            F.expr(f"event_id div {_LATE_BUCKET}").alias("bkt"),
        )
    )
    w_loc = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ev.select(
        "event_id", "sec", "bkt", F.max("sec").over(w_loc).alias("lm")
    )
    bmax = ev.groupBy("bkt").agg(F.max("sec").alias("bm"))
    w_off = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = bmax.select(
        F.col("bkt").alias("obkt"), F.max("bm").over(w_off).alias("pm")
    )
    late = (
        local.join(F.broadcast(offs), local.bkt == offs.obkt)
        .select(
            F.greatest(
                F.greatest(F.col("lm"), F.coalesce(F.col("pm"), F.col("lm")))
                - F.col("sec"),
                F.lit(0),
            ).alias("lateness")
        )
    )
    return late.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.coalesce(
            F.sum(F.when(F.col("lateness") > 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_late"),
        F.round(
            F.sum(F.when(F.col("lateness") > 0, 1).otherwise(0)).cast(
                "double"
            )
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            6,
        ).alias("late_rate"),
        F.round(F.percentile("lateness", F.lit(0.5)), 6).alias(
            "p50_lateness_sec"
        ),
        F.round(F.percentile("lateness", F.lit(0.9)), 6).alias(
            "p90_lateness_sec"
        ),
        F.round(F.percentile("lateness", F.lit(0.99)), 6).alias(
            "p99_lateness_sec"
        ),
        F.coalesce(F.max("lateness"), F.lit(0))
        .cast("bigint")
        .alias("max_lateness_sec"),
    )


# The oracle twin of _threshold_curve, over a `pairs` CTE of
# (doc_a, doc_b, n_inter, un): shared by both curve oracles.
_CURVE_SQL = f"""curve AS (
        SELECT t, doc_a, doc_b, 100 * n_inter >= t * un AS ok
        FROM pairs,
             LATERAL (SELECT unnest([{", ".join(str(x) for x in _THRESHOLDS)}])
                      AS t) g
    )
    SELECT CAST(t AS INT) AS threshold_pct,
           CAST(count(*) FILTER (ok) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT CASE WHEN ok THEN doc_a END)
                + count(DISTINCT CASE WHEN ok THEN doc_b END) AS BIGINT)
               AS n_doc_slots
    FROM curve
    GROUP BY t
    ORDER BY threshold_pct
    """


def _threshold_curve(pairs: DataFrame) -> DataFrame:
    """The threshold curve over shingle_overlap's (doc_a, doc_b,
    n_inter, n_union) pairs, all seven thresholds in ONE pass (explode
    + conditional aggregation). Membership is the integer test
    100*n_inter >= t*n_union, so a pair exactly ON a threshold is
    decided identically by both engines."""
    curve = pairs.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_union",
        F.explode(F.array(*[F.lit(x) for x in _THRESHOLDS])).alias("t"),
    ).withColumn("ok", 100 * F.col("n_inter") >= F.col("t") * F.col("n_union"))
    return (
        curve.groupBy(F.col("t").cast("int").alias("threshold_pct"))
        .agg(
            F.sum(F.when(F.col("ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pairs"),
            (
                F.countDistinct(F.when(F.col("ok"), F.col("doc_a")))
                + F.countDistinct(F.when(F.col("ok"), F.col("doc_b")))
            )
            .cast("bigint")
            .alias("n_doc_slots"),
        )
        .orderBy("threshold_pct")
    )


@register(
    "dedup_threshold_curve",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 0)),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE text IS NOT NULL)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle
                           AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b, n_inter,
               CAST(sa.n_sh + sb.n_sh - n_inter AS BIGINT) AS un
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    ),
    {_CURVE_SQL}""",
    doc="Dedup threshold-sensitivity curve: exact 3-gram Jaccard "
    "pairs (operators.dedup.shingle_overlap's inverted-index join — "
    "only shingle-sharing pairs ever meet) counted at thresholds "
    "30%..90% in ONE pass — "
    "the curve that picks a production dedup threshold. Membership "
    "at each threshold is integer cross-multiplication "
    "(100*|inter| >= t*|union|), so a pair exactly ON a threshold "
    "is decided identically by both engines — no float-boundary "
    "fork is possible. n_doc_slots (distinct doc_a + distinct "
    "doc_b per threshold) approximates affected-document volume "
    "without a per-threshold explode. SCALE SCOPE: like "
    "ngram_jaccard_pairs, the exact inverted index is "
    "pair-quadratic on stop-shingles (excluded from the 50x sweep "
    "by the same quadratic-oracle rule); at corpus scale the curve "
    "feeds from the MinHash-LSH candidate set "
    "(minhash_lsh_candidates) instead — identical curve semantics "
    "over the banded candidates.",
    tags=("dedup", "aggregate"),
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _threshold_curve(shingle_overlap(t(spark, sf_dir, "documents")))


def _lsh_curve_oracle() -> str:
    """LSH-fed threshold curve: the shared MinHash-LSH candidate CTE
    chain (queries.dedup._minhash_cte_block — one definition, the
    near_dup_pipeline discipline), then the SAME candidate-bounded
    exact-Jaccard + integer-threshold curve the quadratic twin
    computes, restricted to the banded candidates."""
    from kittispark.queries.dedup import _minhash_cte_block

    return f"""
    WITH {_minhash_cte_block()},
    sh2 AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
        FROM cand c
        JOIN sh2 a ON a.doc_id = c.doc_a
        JOIN sh2 b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b, i.n_inter,
               CAST(sa.n_sh + sb.n_sh - i.n_inter AS BIGINT) AS un
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    ),
    {_CURVE_SQL}"""


@register(
    "dedup_threshold_curve_lsh",
    oracle=_lsh_curve_oracle(),
    doc="The AT-SCALE threshold-sensitivity curve (VERDICT r6 #6): "
    "identical curve semantics to dedup_threshold_curve, but the "
    "pair set feeds from the MinHash-LSH banded candidates "
    "(minhash_lsh_candidates) with exact Jaccard computed "
    "candidate-bounded by the same operators.dedup.shingle_overlap "
    "— cost scales with |candidates| x "
    "shingles/doc, never with the stop-shingle-quadratic inverted "
    "index, so THIS form (unlike the quadratic twin, which stays "
    "gate-only as the adjudication oracle) joins the 50x sweep and "
    "is the production path at 100 TB. Membership per threshold is "
    "the same integer cross-multiplication (100*|inter| >= "
    "t*|union|). The curve over candidates lower-bounds the "
    "all-pairs curve at low thresholds and converges to it above "
    "the LSH operating point — reading the two together IS the "
    "banding-quality check; the oracle replays the shared "
    "candidate CTE chain so both engines see the identical "
    "candidate set.",
    tags=("dedup", "aggregate", "llm-pipeline"),
)
def dedup_threshold_curve_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return _threshold_curve(shingle_overlap(docs, minhash_lsh_candidates(docs)))
