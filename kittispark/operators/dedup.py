"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard (north-star per BASELINE.json).

Scale design (the point of each choice):
- Exact dedup is a hash groupBy on the full text (or sha2 digest at
  100 TB so the shuffle carries 32 bytes, not documents).
- MinHash-LSH: shingle -> k minhash signature -> band keys ->
  groupBy band key. Only same-bucket docs ever meet, so the
  candidate join is output-bounded instead of O(n^2). All hashing is
  engine-independent (md5-derived 60-bit base hash + affine
  permutations) in pure column expressions (JVM codegen, no UDF);
  arithmetic is kept under 2^62 so ANSI mode never overflows, and a
  SQL oracle can recompute the EXACT candidate-pair set (DuckDB's
  md5 agrees byte-for-byte, unlike engine xxhash64).
- SimHash: 64-bit sign-aggregated token hashes, entirely JVM-side
  (explode -> xxhash64 -> 64 bit-vote sums in one partial agg);
  banding on 16-bit chunks gives the candidate join.
- n-gram Jaccard: one exact verify stage (shingle_overlap) over
  distinct shingles — the inverted-index self-equi-join on shingle
  for all pairs, or the candidate-bounded join for the pairs LSH
  proposed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kittispark.operators.util import materialize, release

from kittispark.operators.text import tokens_col

# Modulus for minhash permutations: largest 31-bit prime, so
# a * h + b stays < 2^62 (ANSI-safe int64).
MINHASH_P = 2_147_483_647
# Deterministic affine permutation parameters (seeded constants, not
# runtime-random: reruns and resumed jobs must agree). Public so the
# SQL oracle can replay the identical permutation family.
MINHASH_PARAMS = [
    (1_103_515_245 + 12_345 * i, 1_013_904_223 + 789_221 * i) for i in range(16)
]


def portable_hash64(col: str | Column) -> Column:
    """Engine-independent 60-bit string hash: the first 15 hex chars
    of md5, parsed base-16. Chosen over xxhash64 (engine-specific
    seed/implementation) so a DuckDB oracle reproduces every derived
    sketch value bit-for-bit:

        Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
        DuckDB: CAST(('0x' || substring(md5(s), 1, 15)) AS UBIGINT)

    15 hex chars = 60 bits < 2^62, so the value is positive in int64
    and affine permutations mod MINHASH_P stay ANSI-overflow-safe.
    md5 costs more than xxhash64 per call but remains a whole-stage-
    codegen JVM expression; the LSH pipeline hashes each shingle
    exactly once, so the delta is a few ns per shingle — the price of
    a value-adjudicable candidate set."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles_col(text_col: str = "text", n: int = 3) -> Column:
    """n-token shingles as an array column (empty if doc shorter
    than n — guarded so ``sequence`` never gets a descending range).

    NOTE: expression-level form; each slice re-evaluates the token
    split because higher-order lambdas inline their inputs. Fine for
    one-off use on small columns — the hot dedup path uses
    shingle_rows() instead, which tokenizes exactly once per doc."""
    toks = tokens_col(text_col)
    k = F.size(toks)
    return F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, sh) rows of n-token shingles, tokenizing each doc
    exactly ONCE with ZERO shuffle.

    Shape: a first Generate explodes ``array(split(text))`` — one
    output row per doc whose token array is thereby MATERIALIZED as a
    bound attribute (Catalyst cannot inline a projection through a
    Generate, so the split runs exactly once per doc, defeating the
    HOF-lambda inlining that makes the naive expression form
    re-tokenize per shingle); a second Generate explodes the shingle
    array built from that attribute (slice + concat_ws per position).
    Both Generates pipeline inside one whole-stage scan task.

    This replaces the r2-r10 window form (posexplode tokens ->
    Exchange(doc_id) -> Sort(pos) -> lead() x (n-1)), which shuffled
    and sorted EVERY TOKEN ROW of the corpus before any aggregation —
    at 100 TB that exchange carries more bytes than the corpus
    itself, while every downstream per-doc consumer (minhash min-agg,
    shingle-set distinct) already does map-side partial aggregation
    and never needed the input pre-partitioned. Output is identical:
    positions 1..k-n+1 each yield concat_ws(" ", toks[i..i+n-1]),
    docs shorter than n tokens (or with NULL text) yield no rows.

    The per-position slice+concat is a plain projection under the
    position explode rather than a transform() lambda building the
    whole shingle array: higher-order functions are CodegenFallback
    (interpreted per element — measured ~15% slower end-to-end on
    minhash_lsh_candidates), while Generate/slice/concat_ws all stay
    in whole-stage codegen where the token array is a live register,
    not a per-row copy. The sequence() is guarded by k >= n because
    sequence(1, m) with m < 1 generates a DESCENDING range, not an
    empty one."""
    return shingle_pos_rows(df, text_col, id_col, n).drop("pos")


def shingle_pos_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, pos, sh): shingle_rows plus the 1-based start position
    of each shingle — the zero-shuffle source for positional
    consumers (the ExactSubstr span pipeline), where the r2-r11 form
    paid an Exchange(doc_id) + Sort + (n-1) lead() windows over EVERY
    TOKEN ROW of the corpus just to pair adjacent tokens. The
    position is the sequence index itself, identical to the window
    form's posexplode ordinal + 1."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens_col(text_col))).alias("__toks"),
    )
    k = F.size("__toks")
    idx = F.when(k >= n, F.sequence(F.lit(1), k - n + F.lit(1))).otherwise(
        F.array().cast("array<int>")
    )
    return toks.select(
        "doc_id", "__toks", F.explode(idx).alias("pos")
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(" ", F.slice("__toks", F.col("pos"), n)).alias("sh"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: min id kept per identical text.
    At 100 TB, group by sha2(text) instead of the text itself so the
    shuffle key is fixed-width."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """doc_id + minhash signature array<long> of length num_hashes.

    Shape: explode shingles -> hash once -> ONE groupBy(doc_id) with
    num_hashes min-aggregates. Each shingle is hashed exactly once
    (a nested per-row transform would recompute the shingle array per
    signature element after projection collapse — measured 25x slower),
    and the partial+final hash agg keeps the shuffle at one row per
    (doc, partial) — the 100 TB-safe layout. min() is duplicate-
    insensitive, so no distinct pass over shingles is needed for set
    semantics. Docs shorter than the shingle width yield no signature
    (they can't be near-dups by this measure)."""
    if num_hashes > len(MINHASH_PARAMS):
        raise ValueError(f"num_hashes <= {len(MINHASH_PARAMS)}")
    base = shingle_rows(df, text_col, id_col).select(
        "doc_id", F.pmod(portable_hash64("sh"), F.lit(MINHASH_P)).alias("h")
    )
    sig = base.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MINHASH_P))).alias(
                f"_m{i}"
            )
            for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
        ]
    )
    return sig.select(
        "doc_id", F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """(doc_id, band_id, band_hash) rows — the banded-signature atom
    shared by the self-join candidate generator (minhash_lsh_candidates)
    and the persisted incremental index (minhash_write_index /
    minhash_probe_index). One definition, so the in-corpus and
    corpus-vs-batch paths can never fork on banding.

    Band key construction: with 2 signature rows per band (the
    default 16/8 layout), the two values — each < MINHASH_P < 2^31 —
    pack COLLISION-FREE into one int64 as s0 * P + s1 (< 2^62, ANSI-
    safe). That beats hashing the band tuple twice over: no false
    candidates from band-hash collisions, and the key is a closed-
    form expression a SQL oracle replays exactly. Wider bands fall
    back to xxhash64 over the tuple (engine-specific, rows-only
    adjudication)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently drop trailing signature elements "
            "and weaken the sketch"
        )
    rows = num_hashes // bands
    sigs = minhash_signature(df, text_col, id_col, num_hashes)
    if rows == 2:
        band_arr = F.array(
            *[
                F.element_at("signature", b * 2 + 1) * F.lit(MINHASH_P)
                + F.element_at("signature", b * 2 + 2)
                for b in range(bands)
            ]
        )
    else:
        band_arr = F.array(
            *[
                F.xxhash64(
                    *[F.element_at("signature", b * rows + r + 1) for r in range(rows)]
                )
                for b in range(bands)
            ]
        )
    return sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band_id", "band_hash")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-duplicate pairs via banding.

    Explode signature into ``bands`` band keys (minhash_band_rows),
    self-join within (band_id, band_hash) buckets, dedupe pairs. The
    join key is a skew-safe 8-byte long; AQE splits any hot bucket."""
    banded = minhash_band_rows(df, text_col, id_col, num_hashes, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_write_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
) -> None:
    """Persist the corpus's banded MinHash signatures as a parquet
    index, PARTITIONED BY band_id — the production layout for
    incremental dedup at 100 TB: the expensive full-corpus pass
    (shingle → hash → signature → bands) runs ONCE, and every later
    batch probes the on-disk index instead of re-sketching the
    corpus. band_id partitioning lets a band-at-a-time prober prune
    to 1/bands of the index per pass; within a partition the 8-byte
    band_hash key is the (skew-safe, AQE-splittable) join key."""
    minhash_band_rows(df, text_col, id_col, num_hashes, bands).write.mode(
        "overwrite"
    ).partitionBy("band_id").parquet(path)


def minhash_probe_index(
    spark,
    index_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Distinct (new_id, corpus_id) candidate pairs for a NEW batch of
    documents against a persisted band index (minhash_write_index).
    The batch is sketched with the SAME banding atom the index was
    built with (minhash_band_rows), then equi-joined on (band_id,
    band_hash). Cost scales with |batch| + the index rows whose
    buckets are actually hit — never with a corpus re-sketch."""
    # explicit schema: a just-initialized EMPTY index (no data files
    # yet, only _SUCCESS) must read as zero rows, not fail inference
    idx = (
        spark.read.schema("doc_id bigint, band_hash bigint, band_id int")
        .parquet(index_path)
        .select(F.col("doc_id").alias("corpus_id"), "band_id", "band_hash")
    )
    probe = minhash_band_rows(batch, text_col, id_col, num_hashes, bands).select(
        F.col("doc_id").alias("new_id"), "band_id", "band_hash"
    )
    return (
        probe.join(idx, ["band_id", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def shingle_overlap(
    docs: DataFrame,
    cands: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_union): the exact shingle-set overlap
    of doc pairs, as bigints — the one verify stage every exact-Jaccard
    consumer folds (jaccard = n_inter / n_union).

    With ``cands`` None, every pair sharing at least one shingle, with
    doc_a < doc_b (inverted-index self-join on the shingle). With a
    (doc_a, doc_b) candidate DataFrame, only those pairs, candidate-
    bounded: expand each candidate by doc_a's shingles, then equi-join
    doc_b's shingle set on (doc_b, sh) — cost scales with |candidates|
    x shingles/doc, never with the stop-shingle-quadratic inverted
    index. Either way a pair sharing no shingle yields no row.

    The per-doc size tables are one row per document, so they carry no
    broadcast hint: forcing one would ship (and driver-collect) the
    whole doc table at scale. AQE still broadcasts while it fits;
    beyond that these are doc-keyed shuffle joins aligned with the
    pair keys. The union is long arithmetic, exact before any cast."""
    ds = shingle_rows(docs, text_col, id_col).distinct()
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if cands is None:
        a, b = ds.alias("a"), ds.alias("b")
        pairs = a.join(
            b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        ).groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    else:
        sh_a = ds.select(F.col("doc_id").alias("doc_a"), "sh")
        sh_b = ds.select(F.col("doc_id").alias("doc_b"), "sh")
        pairs = (
            cands.join(sh_a, "doc_a")
            .join(sh_b, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
        )
    inter = pairs.agg(F.count(F.lit(1)).alias("n_inter"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle (shingle_rows' 3-gram) Jaccard similarity for every pair sharing at least
    one shingle (shingle_overlap's inverted-index join; the verify
    stage after LSH)."""
    jac = F.col("n_inter").cast("double") / F.col("n_union")
    # threshold on the RAW jaccard (the SQL oracles filter unrounded);
    # rounding is presentation only — filtering the rounded value
    # would admit pairs in [threshold - 5e-7, threshold) the oracle
    # excludes
    return (
        shingle_overlap(df, None, text_col, id_col)
        .select("doc_a", "doc_b", jac.alias("__jac"))
        .filter(F.col("__jac") >= threshold)
        .select("doc_a", "doc_b", F.round("__jac", 6).alias("jaccard"))
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document, entirely JVM-side: explode tokens,
    xxhash64 each token ONCE, then 64 bit-vote sums in one partial-
    aggregated groupBy and a closed-form bit assembly.

    This replaced a per-token pure-Python FNV-1a loop (ADVICE r2: that
    was row-at-a-time Python work scaling with corpus bytes). Shape
    now: one shuffle of 64-long partials per (doc, partition) — whole-
    stage-codegen throughout, no Python worker at all. The vote>0 ->
    bit rule is unchanged; only the token hash family differs
    (engine xxhash64 vs FNV), which any SimHash variant is free to
    choose — identical texts still collide exactly, the property the
    banding join and the driver's clone-recall oracle rely on."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("tok")
    )
    h = F.xxhash64("tok")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__v{j}")
            for j in range(64)
        ]
    )
    bits = [
        F.when(
            F.col(f"__v{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        for j in range(64)
    ]
    sh = bits[0]
    for b in bits[1:]:
        sh = sh.bitwiseOR(b)
    return votes.select("doc_id", sh.alias("simhash"))


def simhash_near_dup_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Candidate pairs whose SimHashes agree on at least one 16-bit
    band (Hamming-distance blocking): explode 4 bands, equi-join."""
    sh = simhash(df, text_col, id_col)
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF))
            for b in range(4)
        ]
    )
    banded = sh.select("doc_id", F.posexplode(bands).alias("band_id", "band_val"))
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation —
    the cluster-resolution stage of every dedup pipeline (candidate
    pairs -> duplicate CLUSTERS -> one survivor per cluster).

    Returns (node, comp) where comp is the smallest node id reachable
    from the node; only nodes appearing in an edge are emitted
    (callers coalesce isolated rows to their own id).

    Shape per round: one equi-join (labels onto the bidirected edge
    list) + one min hash-agg — both partial-aggregated shuffles on the
    node key. Labels only ever decrease, so sum(comp) is a strictly
    decreasing convergence witness: one cheap scalar action per round
    instead of a change-detection join. Rounds needed = graph
    diameter; dedup-cluster graphs are shallow (near-clique bundles),
    so this converges in 2-3 rounds. localCheckpoint() truncates the
    growing lineage each round — without it, round k re-plans k
    joins deep and the DAG compounds (the classic iterative-algorithm
    trap). At cluster scale swap in checkpoint() on durable storage
    for fault tolerance; the alternating large-star/small-star
    contraction is the published fix if a pathological long-chain
    graph ever shows up."""
    bi = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    bi = bi.unionByName(
        bi.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    bi = materialize(bi)

    labels = bi.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    prev_sum = None
    converged = False
    # max_iter + 1: the sum-stability witness consumes one round (a
    # graph converging exactly at round max_iter still needs the
    # confirming pass to observe cur_sum == prev_sum)
    for _ in range(max_iter + 1):
        msgs = bi.join(labels, bi["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("comp")
        )
        prev_labels = labels
        labels = materialize(
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # successor is eagerly pinned; drop the dead round's blocks
        # (persist_disk would otherwise accumulate one DISK_ONLY copy
        # per round for the life of the job — ADVICE r7)
        release(prev_labels)
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # Silent partial labels would surface only as a confusing
        # oracle hash mismatch downstream; fail loudly instead (a
        # graph this deep wants the large-star/small-star contraction).
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds (graph diameter exceeds the label-"
            "propagation budget); raise max_iter or switch to "
            "large-star/small-star contraction"
        )
    # the returned labels are eagerly pinned; the symmetrized edge
    # frontier is dead (same accumulation class as the round loop)
    release(bi)
    return labels


def duplicated_token_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-document maximal duplicated token spans — the exact-
    substring deduplication measure of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499),
    re-expressed for Spark: any n-token window whose content occurs
    ``min_occurrences``+ times ANYWHERE in the corpus (another doc or
    another offset of the same doc) marks its token range duplicated;
    overlapping/adjacent marked ranges are unioned into maximal spans.

    Returns (doc_id, n_dup_spans, dup_tokens) — one row per document
    that contains at least one duplicated span; dup_tokens is the size
    of the interval union, so it never double-counts overlap.
    Aggregates duplicated_span_intervals(); see it for the scale
    shape.
    """
    spans = duplicated_span_intervals(df, text_col, id_col, n, min_occurrences)
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("sp_end") - F.col("sp_start") + 1).alias("dup_tokens"),
    )


def duplicated_span_intervals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """(doc_id, sp_start, sp_end): the maximal duplicated token
    intervals themselves (1-based, inclusive) — shared by the span
    STATS (duplicated_token_spans) and the span REMOVAL
    (remove_duplicated_spans) so the interval-union semantics never
    fork.

    Scale shape (the suffix-array of the paper is a single-machine
    construction; this is the shuffle-native equivalent):
    1. zero-shuffle positional shingling (shingle_pos_rows, r12): two
       pipelined Generates materialize each doc's token array once
       and emit (doc, pos, shingle) with NO exchange — the r2-r11
       form shuffled + sorted EVERY TOKEN ROW on doc_id and ran
       (n-1) lead() windows just to pair adjacent tokens; at 100 TB
       that exchange carries more bytes than the corpus. The interval
       union below still needs a doc_id exchange, but over MARKED
       positions only (rows whose 8-gram is duplicated — a small
       fraction of token rows on any real corpus), not the whole
       token stream.
    2. shingle -> md5 (32-hex fixed-width shuffle key; engine-portable
       so the DuckDB twin replays values bit-for-bit, and wide enough
       that collisions are cryptographically negligible where a 60-bit
       key would collide at corpus scale).
    3. duplicated-key set via groupBy(h) count >= min_occurrences —
       partial aggs make the shuffle rows-per-distinct-shingle; a
       boilerplate mega-shingle lands on one reducer as ONE partial
       row per map task, so the hot-key risk aggregates away.
    4. inner equi-join positions to the duplicated set on h (AQE picks
       broadcast when the dup set is small, shuffle join otherwise).
    5. interval union per doc: running max(pos + n - 1) window ->
       break flag -> running-sum island id -> per-island min/max.
       Partitioned by doc_id — no global window anywhere.
    """
    from pyspark.sql import Window as W

    shingled = shingle_pos_rows(df, text_col, id_col, n).select(
        "doc_id", "pos", F.md5(F.col("sh")).alias("h")
    )
    dup_keys = (
        shingled.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_occurrences)
        .select("h")
    )
    marked = shingled.join(dup_keys, "h").select("doc_id", "pos")

    wd = W.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + n - 1).over(
        wd.rowsBetween(W.unboundedPreceding, -1)
    )
    brk = F.when(
        F.col("pos") > F.coalesce(prev_end, F.lit(-1)) + 1, F.lit(1)
    ).otherwise(F.lit(0))
    grouped = marked.select(
        "doc_id", "pos", brk.alias("brk")
    ).select(
        "doc_id",
        "pos",
        F.sum("brk").over(wd.rowsBetween(W.unboundedPreceding, 0)).alias("grp"),
    )
    return grouped.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("sp_start"),
        (F.max("pos") + n - 1).alias("sp_end"),
    ).drop("grp")


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """The removal pass of ExactSubstr dedup: cut every maximal
    duplicated span (duplicated_span_intervals) out of each document
    and reassemble the survivors in order. Returns one row per
    document — (doc_id, n_tokens_before, n_tokens_after, clean_text);
    a doc with no duplicated spans passes through byte-identical
    (single-space split/join round-trips text exactly, including
    consecutive/leading spaces, because empty tokens are preserved),
    and a fully-duplicated doc comes back as ''.

    Shape: the token explode re-uses the doc_id partitioning; spans
    join tokens on the doc_id equi-key with the range test as a
    post-join filter — spans per doc are few (bounded by
    n_tokens / n), so the fan-out is small and bounded, never a
    cross product. Reassembly is an order-restoring
    array_sort(collect_list(struct(pos, tok))) per doc — the same
    idiom the boilerplate pruner uses — and stays partitioned on
    doc_id end to end."""
    spans = duplicated_span_intervals(df, text_col, id_col, n, min_occurrences)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_col(text_col)).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    removed = (
        toks.join(spans, "doc_id")
        .filter(F.col("pos").between(F.col("sp_start"), F.col("sp_end")))
        .select("doc_id", "pos")
        .distinct()
    )
    kept = toks.join(removed, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("clean_text"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens_before"),
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens_before",
        F.coalesce(F.col("n_tokens_after"), F.lit(0)).alias("n_tokens_after"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )
