"""Text-analysis operators for a large-scale training-data pipeline:
tokenization, quality scoring, language-ID, fingerprinting.

Everything here is built-in column expressions (JVM-side, codegen) —
the 100 TB-safe path. Documents never leave the executors; each
operator is a narrow projection or a single hash aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small stopword profiles for the language-ID heuristic. Hit-rate of
# each profile over the token stream approximates language likelihood.
EN_STOPWORDS = frozenset(
    {"the", "a", "an", "of", "and", "to", "in", "is", "that", "it", "for", "on"}
)
DE_STOPWORDS = frozenset(
    {"der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"}
)
ES_STOPWORDS = frozenset(
    {"el", "la", "los", "las", "de", "y", "que", "es", "un", "una", "en"}
)
FR_STOPWORDS = frozenset(
    {"le", "la", "les", "de", "et", "est", "un", "une", "que", "dans"}
)

MOD = 1_000_000_007


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokens. `split` on a literal single space (not a
    regex class) so the DuckDB oracle `string_split` is semantically
    identical."""
    return F.split(text, " ")


def quality_cols(text_col: str = "text") -> list[Column]:
    """Quality-scoring expressions: token counts, type/token ratio,
    average token length. Round-6 so oracle hashes are stable."""
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    return [
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(n_distinct.cast("double") / n_tokens, 6).alias("type_token_ratio"),
        F.round(
            F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens,
            6,
        ).alias("avg_token_len"),
    ]


def stopword_score(text_col: str, stopwords: frozenset[str]) -> Column:
    """Fraction of tokens that hit a stopword profile."""
    toks = tokens_col(text_col)
    stop_arr = F.array(*[F.lit(w) for w in sorted(stopwords)])
    return F.size(
        F.filter(toks, lambda x: F.array_contains(stop_arr, x))
    ).cast("double") / F.size(toks)


def lang_id_stopwords(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID over four stopword profiles: argmax of hit rates
    with an 'unk' floor. Pure expressions — one projection, no UDF."""
    profiles = {
        "en": EN_STOPWORDS,
        "de": DE_STOPWORDS,
        "es": ES_STOPWORDS,
        "fr": FR_STOPWORDS,
    }
    scored = df.select(
        "*", *[stopword_score(text_col, sw).alias(f"score_{lg}") for lg, sw in profiles.items()]
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in profiles])
    pred = F.when(best < 0.02, F.lit("unk"))
    for lg in profiles:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.withColumn("lang_pred", pred)


def doc_fingerprint_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive positional polynomial fingerprint mod 1e9+7.

    posexplode -> per-token term -> sum mod — an explode plus one
    partial+final hash agg, so it scales like any groupBy. Arithmetic
    stays in int64 (terms < 1e9+7, group sizes << 1e9) and uses no
    engine-specific hash, so a SQL oracle can reproduce it exactly.
    """
    toks = df.select(
        df.doc_id, F.posexplode(tokens_col(text_col)).alias("pos0", "tok")
    )
    term = (
        ((F.col("pos0") + 1).cast("long") * 31
         + F.length("tok").cast("long") * 17
         + F.ascii(F.substring("tok", 1, 1)).cast("long"))
        % MOD
    )
    return (
        toks.select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            (F.sum("term") % MOD).alias("fingerprint"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def bigram_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Adjacent-token bigram rows ``(doc_id, w1, w2)`` with
    multiplicity, built as ONE narrow projection (transform over an
    index sequence + explode) — no shuffle, no UDF. A doc with n
    tokens yields n-1 bigrams; single-token docs yield none.
    """
    # Materialize the token array as a bound column FIRST: a lambda
    # that closes over the raw split(...) expression re-evaluates the
    # split on every element access (O(n^2) re-tokenization per doc,
    # measured 10x wall on the corpus); element_at on a materialized
    # array column is O(1). Pairing is slice-based, not
    # sequence-based: sequence(1, n-1) with n=1 yields the DESCENDING
    # array [1, 0] (not empty), which would make element_at throw on
    # single-token docs; slice with length 0 is empty and safe.
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__toks")
    )
    pairs = F.transform(
        F.slice("__toks", 1, F.greatest(F.size("__toks") - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("w1"),
            F.element_at("__toks", i + 2).alias("w2"),
        ),
    )
    return base.select("doc_id", F.explode(pairs).alias("bg")).select(
        "doc_id", "bg.w1", "bg.w2"
    )


def bigram_lm_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained bigram-LM quality score per document — the
    perplexity-proxy filter of a pretraining pipeline, with the LM
    estimated from the corpus itself in the same lazy plan.

    MLE conditional probability p(w2|w1) = c(w1,w2) / c(w1,*), both
    counted over bigram starts, so every bigram in every doc has a
    defined, positive probability (no smoothing needed). The doc
    score is the mean log-probability of its bigrams (higher = more
    predictable text).

    Shape: ONE explode + hash agg builds the bigram count table c2;
    the start-count table c1 is the (cheap) rollup of c2, not a
    second pass over the corpus. c1 is vocab-bounded and explicitly
    broadcast into c2. The combined LM table is only unique-bigram-
    bounded — that grows with corpus (up to vocab^2), so it carries
    NO forced broadcast hint: AQE broadcasts it while it fits the
    executor budget and degrades to a (w1, w2)-keyed shuffle join
    beyond that (pair keys are far flatter than single-token keys,
    so the degraded join doesn't re-create the common-word hot
    reducer). Nothing here is driver-side.
    """
    bg = bigram_rows(df, text_col)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    # c1/c2 are vocab-sized (data-scaled): planner's join choice, no
    # forced broadcast — AQE broadcasts them while the vocab is small
    # (the query docstring's claim, now actually true) and falls back
    # to a hash join at web-corpus vocab
    lm = c2.join(c1, "w1")
    scored = bg.join(lm, ["w1", "w2"]).select(
        "doc_id", (F.log(F.col("n2") / F.col("n1"))).alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def prune_frequent_tokens(
    df: DataFrame, max_df_frac: float = 0.6, text_col: str = "text"
) -> DataFrame:
    """Boilerplate pruning (the C4-style move, token-granular):
    tokens whose document frequency exceeds ``max_df_frac`` of the
    corpus are dropped from every document, and each document's text
    is reassembled IN ORDER from the survivors.

    Order preservation without a per-doc window: positions ride
    along through posexplode, and the rebuild is
    ``array_sort(collect_list(struct(pos, tok)))`` inside a hash
    agg — collect_list order is nondeterministic across tasks, the
    sort makes the result exact. Per-doc arrays are document-sized,
    not corpus-sized, so executor memory is bounded by the longest
    doc (same contract as any collect_list reassembly).

    The boilerplate set is df-bounded (tokens in > max_df_frac of
    docs — at most vocab-sized, in practice tiny) and is broadcast
    into a left_anti join; the corpus-size scalar joins in as a
    1-row broadcast, so the whole thing is explode -> two hash aggs
    -> broadcast anti-join -> hash agg.
    """
    base = df.select(
        "doc_id", F.posexplode(tokens_col(text_col)).alias("pos", "tok")
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    boiler = (
        base.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > F.col("__n_docs") * max_df_frac)
        .select("tok")
    )
    kept = base.join(F.broadcast(boiler), "tok", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("pruned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    orig = df.select("doc_id", F.size(tokens_col(text_col)).alias("n_orig"))
    return orig.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pruned_text", F.lit("")).alias("pruned_text"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_orig") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
    )


def vocab_coverage(
    df: DataFrame, vocab_size: int = 30, text_col: str = "text"
) -> DataFrame:
    """Top-V vocabulary coverage / OOV rate per document.

    The vocabulary is the ``vocab_size`` most frequent tokens by
    total corpus count (ties broken by token ascending, so the cut
    is deterministic). Per doc: token instances outside the vocab
    and the OOV fraction. The vocab is V rows -> broadcast; the
    top-V itself is a TakeOrderedAndProject over the token-count
    agg, not a global sort.
    """
    base = df.select(
        "doc_id", F.explode(tokens_col(text_col)).alias("tok")
    )
    vocab = (
        base.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(vocab_size)
        .select("tok")
    )
    flagged = base.join(
        F.broadcast(vocab.withColumn("__in_vocab", F.lit(1))), "tok", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    bucket_width: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-then-chunk sequence packing — the GPT-style pretraining
    layout: documents are laid end to end in stable id order and the
    token stream is cut into fixed-`budget` training sequences; each
    doc reports the first/last sequence it lands in.

    The global ordered cumulative sum is computed the 100 TB-safe way
    (NO single-task global window): deterministic id-range buckets
    (floor(id / bucket_width)) are each cum-summed independently in a
    partitioned window, then the per-bucket totals — one row per
    bucket — get a tiny running-offset window and broadcast-join back.
    Two shuffles bounded by the bucket count, all heavy work
    partition-parallel; at cluster scale bucket_width is the existing
    range-partition layout, so pass one's shuffle disappears too.
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(text_col)).alias("n_tokens"),
        F.floor(F.col(id_col) / bucket_width).alias("__b"),
    )
    wb = (
        W.partitionBy("__b")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    base = base.withColumn("__cum_in_b", F.sum("n_tokens").over(wb))
    totals = base.groupBy("__b").agg(F.sum("n_tokens").alias("__btot"))
    # One row per bucket: the running offset over buckets is a
    # bounded driver-scale window, not a data-scale one.
    wo = W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "__b", F.coalesce(F.sum("__btot").over(wo), F.lit(0)).alias("__off")
    )
    joined = base.join(F.broadcast(offsets), "__b")
    cum_before = F.col("__off") + F.col("__cum_in_b") - F.col("n_tokens")
    first_seq = F.floor(cum_before / budget)
    last_seq = F.floor((cum_before + F.col("n_tokens") - 1) / budget)
    return joined.select(
        "doc_id",
        "n_tokens",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
    )


def _cms_bucket_structs(tok_col: str, depth: int, width: int):
    """The (row, bucket) probe array for one token — THE cross-engine
    hash contract (per-row salt f"r{r}|" + portable md5 mod width),
    shared by sketch build and estimation so the two can never
    desynchronize."""
    from kittispark.operators.dedup import portable_hash64

    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(
                    portable_hash64(F.concat(F.lit(f"r{r}|"), F.col(tok_col))),
                    F.lit(width),
                ).alias("b"),
            )
            for r in range(depth)
        ]
    )


def cms_token_sketch(
    tokens: DataFrame, tok_col: str = "tok", depth: int = 4, width: int = 512
) -> DataFrame:
    """Count-min sketch of token frequencies: ``depth`` hash rows x
    ``width`` buckets, built in ONE pass (each token expands to
    `depth` (row, bucket) pairs via an array explode, then a single
    (row, bucket) hash agg whose output is at most depth*width rows
    regardless of corpus size — the classic bounded-memory frequency
    summary). Hashing is the engine-portable md5 scheme
    (dedup.portable_hash64 with a per-row salt), so a SQL oracle
    reproduces every counter exactly. Point estimates = min over
    rows of the token's counters; one-sided error (never under-
    counts), overcount <= N*e/width with prob 1-exp(-depth).
    """
    pairs = tokens.select(
        F.explode(_cms_bucket_structs(tok_col, depth, width)).alias("rb")
    )
    return pairs.groupBy(
        F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    tok_col: str = "tok",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-estimate candidate tokens against a count-min sketch:
    recompute each candidate's `depth` buckets map-side, broadcast-
    join the (<= depth*width row) sketch, take the min counter. Adds
    ``est_cnt`` to the candidate rows."""
    probes = candidates.select(
        "*", F.explode(_cms_bucket_structs(tok_col, depth, width)).alias("rb")
    ).select("*", F.col("rb.r").alias("r"), F.col("rb.b").alias("b")).drop("rb")
    others = [c for c in candidates.columns]
    # left join + coalesce(0): a candidate token whose bucket row is
    # absent from the sketch hit an EMPTY counter — its estimate is 0
    # (an inner join would silently drop the token instead)
    return (
        probes.join(F.broadcast(sketch), ["r", "b"], "left")
        .groupBy(*others)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_cnt"))
    )


def md5_nibble(col: Column, i: int) -> Column:
    """Value 0-15 of the i-th (1-based) hex digit of md5(col) — the
    engine-portable hash-bucket atom (oracle twin:
    instr('0123456789abcdef', substr(md5(x), i, 1)) - 1). Shared by
    the split/sampling queries so the reproducible-split contract
    lives in one expression."""
    return (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(col.cast("string")), i, 1),
        )
        - 1
    )


def nfc_col(col: str | Column) -> Column:
    """Unicode NFC normalization as a vectorized Arrow pandas UDF.

    Spark SQL has no normalization builtin (SPARK-28962 open), so this
    is one of the few places Python belongs in a hot path: the UDF
    receives whole Arrow batches and runs unicodedata.normalize (a C
    routine) per value — one Arrow roundtrip per batch, never per row.
    NULLs pass through. The DuckDB twin is its native nfc_normalize,
    which gives byte-exact cross-engine adjudication (md5 of the
    normalized text matches)."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)
