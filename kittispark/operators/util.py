"""Shared operator utilities."""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame
from pyspark.storagelevel import StorageLevel

# SQL-text expression builders. An expression assembled Column by
# Column costs the driver a py4j round-trip per node (~3-17 commands
# per function call, alias or column reference); the same tree written
# as SQL text and handed to F.expr / selectExpr / filter is ONE parse
# on the JVM. Cache the TEXT, never the parsed Column: a Column is a
# handle into one gateway and goes stale when the gateway restarts.


def qident(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def column_ref_sql(c: str | Column) -> str:
    """SQL text for the column `c` names: a name is quoted whole; a
    Column that is a bare column reference (F.col(name)) gives its own
    SQL text. Any other Column, an expression or a reference bound to
    one DataFrame (df["x"]), has no such text and raises TypeError."""
    if isinstance(c, str):
        return qident(c)
    node = c._jc.node()
    if node.getClass().getSimpleName() != "UnresolvedAttribute":
        raise TypeError(f"expected a column name or F.col(name), got {c!r}")
    return node.sql()


def sql_string(s: str) -> str:
    """A Spark SQL string literal holding exactly `s`."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_number(v: int | float) -> str:
    """A Spark SQL literal typed as F.lit(v) types it: an int parses as
    INT (BIGINT when it needs 64 bits; a bool as BOOLEAN), anything
    else as a DOUBLE with the exact value (repr round-trips every
    finite double). SQL has no non-finite double literal, so NaN and
    +/-inf are a cast of a string constant, which constant folding
    turns into the same literal."""
    if isinstance(v, int):
        return str(v)
    f = float(v)
    if math.isfinite(f):
        return f"{float.__repr__(f)}D"
    name = "NaN" if math.isnan(f) else ("Infinity" if f > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


# How iterative / shared-frontier operators pin an intermediate result
# (conf `kittispark.materialize.mode`, or env KITTISPARK_MATERIALIZE):
#
#   local_checkpoint  (default) — df.localCheckpoint(eager=True).
#       Fastest: blocks live in executor-local storage, lineage is
#       TRUNCATED. Correct and measured-faster on local[n] / a
#       single-node cluster, but on a multi-executor cluster an
#       executor loss after the checkpoint makes those blocks
#       unrecoverable and FAILS the job (no lineage to recompute).
#   persist_disk — persist(DISK_ONLY) + eager count().
#       Cluster-safe: lineage is kept, so a lost block is recomputed
#       from source. The recompute replays the SAME finalized physical
#       plan (partition structure is fixed once the stage ran), so the
#       AQE pid-remap hazard that motivates eager materialization —
#       two stage instances coalescing one exchange differently —
#       cannot reappear: there is exactly one RDD whose partition ids
#       all consumers read. Choose this (or `checkpoint`) for
#       fault-sensitive multi-executor deployments.
#   checkpoint — reliable df.checkpoint(eager=True).
#       Writes to spark.sparkContext.setCheckpointDir (HDFS/S3);
#       survives executor loss AND truncates lineage (useful when the
#       lineage itself is the problem, e.g. many iterative rounds).
#       Requires a checkpoint dir to be configured.
_MATERIALIZE_MODES = ("local_checkpoint", "persist_disk", "checkpoint")

# persist_disk-mode pins registered by materialize() and not yet
# release()d. Iterative operators release superseded frontiers
# themselves; ONE-SHOT pins (a decoded cloud feeding two consumers,
# a phash table feeding both sides of a self-join) live until the
# query's action completes and the harness calls release_pins().
# Without the drain, each invocation leaks a CacheManager entry +
# DISK_ONLY blocks for the session lifetime (ADVICE r8) — bench's
# 6 runs/query and long-lived cluster sessions accumulate them.
# Only persist_disk registers here: localCheckpoint/checkpoint blocks
# are RDD/HDFS-level, not CacheManager-level, and must NOT be dropped
# mid-session (lineage is truncated).
_PIN_TRACKER: list[DataFrame] = []


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly pin `df` so every downstream consumer reads ONE
    materialized copy (one partitioning, one set of pids).

    This is the shared-frontier idiom behind global_rank /
    grouped_rank / global_cumsum (AQE pid-remap fix —
    operators/analytics.py), connected components, iterative
    PageRank/k-means frontiers, and the blocked pair-enumeration
    subtrees: the materialization is REQUIRED for correctness where a
    pid-stamped subtree feeds two consumers, and for performance
    where an expensive subtree feeds many rounds. The storage
    strategy is policy, selected per deployment — see
    _MATERIALIZE_MODES above and SCALING.md "Materialization policy".
    """
    spark = df.sparkSession
    mode = os.environ.get("KITTISPARK_MATERIALIZE", "")
    try:
        mode = spark.conf.get("kittispark.materialize.mode", mode) or mode
    except Exception:
        pass
    mode = mode or "local_checkpoint"
    if mode not in _MATERIALIZE_MODES:
        raise ValueError(
            f"kittispark.materialize.mode={mode!r}; expected one of "
            f"{_MATERIALIZE_MODES}"
        )
    if mode == "persist_disk":
        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()  # eager: freeze the partitioning now
        _PIN_TRACKER.append(out)
        return out
    if mode == "checkpoint":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Release a frontier previously pinned by materialize(), once its
    successor is eagerly pinned.

    Iterative operators (connected components, PageRank, BPE learning,
    farthest-point coreset) supersede their frontier every round; in
    persist_disk mode each round's persist registers in Spark's
    CacheManager and is NOT GC-reclaimed, so without an explicit
    unpersist the disk blocks and cached-plan entries of every dead
    round accumulate for the whole job — exactly the long
    fault-sensitive cluster runs that mode targets (ADVICE r7).
    Safe in every mode: unpersist is CacheManager-level, so it is a
    no-op for localCheckpoint/checkpoint frontiers (their blocks are
    RDD/HDFS-level and must NOT be dropped — lineage is truncated),
    and in persist_disk mode lineage is retained, so a later block
    loss in the successor simply recomputes through the released
    round from source. Call only AFTER materialize() returned the
    successor (materialize is eager in all three modes, so the dead
    frontier has already been read)."""
    df.unpersist(blocking=False)
    for i, pin in enumerate(_PIN_TRACKER):
        if pin is df:
            del _PIN_TRACKER[i]
            break


def release_pins() -> int:
    """Drain every persist_disk pin still registered by materialize().

    The one-shot-pin release path (ADVICE r8): queries that pin a
    shared subtree for a single invocation (analysis envelope's
    decoded cloud, phash's hash table, the AVI frame index) return a
    DataFrame whose action happens OUTSIDE the query function — in
    bench.py, the oracle harness, or the driver — so they cannot
    unpersist before returning. The harness calls release_pins()
    AFTER consuming the result; safe because persist_disk retains
    lineage (a later re-read simply recomputes). No-op in
    local_checkpoint/checkpoint modes (nothing registers). Returns
    the number of pins released."""
    n = 0
    while _PIN_TRACKER:
        _PIN_TRACKER.pop().unpersist(blocking=False)
        n += 1
    return n
