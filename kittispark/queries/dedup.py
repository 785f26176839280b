"""Dedup queries over the documents table. Exact + n-gram Jaccard
carry direct SQL oracles. The MinHash pipeline is built on an
engine-independent md5-derived base hash (operators.dedup
.portable_hash64), so the FULL candidate-pair set is value-
adjudicated: the minhash_lsh_candidates oracle replays shingling,
the 16 affine permutations, band-key packing, and the bucket join in
closed-form SQL. Property gates (signature invariants on a clone-
augmented corpus, high-Jaccard recall) remain as defense in depth.
"""

from __future__ import annotations

import atexit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kittispark.registry import register
from kittispark.queries._util import t
from kittispark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signature,
    ngram_jaccard_pairs,
    shingle_overlap,
    simhash_near_dup_candidates,
)


@register(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_id,
           count(*) AS n_copies,
           CAST(length(text) AS INT) AS text_len
    FROM documents GROUP BY text
    """,
    doc="Exact dedup: hash-groupBy on document text, min-id survivor "
    "per group (at 100 TB: group by sha2 digest so the shuffle key "
    "is 32 bytes).",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return exact_dedup(docs).select(
        "keep_id", "n_copies", F.length("text").alias("text_len")
    )


@register(
    "dedup_exact_survivors",
    oracle="""
    SELECT doc_id, lang, source FROM documents d
    WHERE doc_id = (SELECT min(doc_id) FROM documents d2 WHERE d2.text = d.text)
    """,
    doc="Survivor selection after exact dedup — keep-first-by-id, "
    "implemented as a window-free groupBy + semi-join back (no "
    "row_number over the full corpus).",
    tags=("dedup",),
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, ["text", "doc_id"], "left_semi").select(
        "doc_id", "lang", "source"
    )


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 0)),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
    doc="Exact 3-gram Jaccard near-dup pairs via inverted-index "
    "self-join on shingles (the verify stage after LSH candidates; "
    "output-bounded because only shingle-sharing pairs meet).",
    tags=("dedup",),
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5)


@register(
    "dedup_cluster_assign",
    oracle="""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 0)),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY node
    """,
    doc="Duplicate-CLUSTER resolution — the stage after candidate "
    "generation that every dedup pipeline needs: 3-gram-Jaccard "
    "near-dup pairs become edges, connected components assign each "
    "document its cluster (min reachable id), singletons keep their "
    "own id. Spark side is iterative min-label propagation "
    "(operators.dedup.connected_components: join + min-agg per round, "
    "localCheckpoint lineage truncation, sum-of-labels convergence "
    "witness); the oracle computes true transitive closure with a "
    "recursive CTE, so hash-match proves the fixpoint is exact.",
    tags=("dedup", "iterative"),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    comps = connected_components(edges, src="doc_a", dst="doc_b")
    return docs.select(F.col("doc_id").cast("long").alias("doc_id")).join(
        comps, F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
    )


def _minhash_cte_block() -> str:
    """Shared CTE chain replaying MinHash-LSH candidate generation in
    DuckDB: 3-token shingles, the md5-derived portable base hash, all
    16 affine permutation minima, packed int64 band keys, the
    (band_id, key) bucket self-join into `cand`. Generated from
    MINHASH_PARAMS so the two engines can never drift on the
    permutation family. Compose after WITH."""
    from kittispark.operators.dedup import MINHASH_P, MINHASH_PARAMS

    mins = ",\n           ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_id, "
        f"m{2 * bi} * {MINHASH_P} + m{2 * bi + 1} AS key FROM sig"
        for bi in range(8)
    )
    return f"""sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(tk) - 2, 0)),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
               )) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
    ),
    h AS (
        SELECT doc_id,
               CAST(CAST(('0x' || substring(md5(sh), 1, 15)) AS UBIGINT)
                    % {MINHASH_P} AS BIGINT) AS h
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
           {mins}
        FROM h GROUP BY doc_id
    ),
    banded AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l
        JOIN banded r ON l.band_id = r.band_id AND l.key = r.key
                     AND l.doc_id < r.doc_id
    )"""


def _minhash_lsh_oracle() -> str:
    return f"""
    WITH {_minhash_cte_block()}
    SELECT doc_a, doc_b FROM cand
    """


def _near_dup_pipeline_oracle() -> str:
    """Full pipeline replay: minhash candidates -> candidate-bounded
    exact-Jaccard verify (>= 0.5 raw) -> transitive closure over the
    verified edges (recursive CTE) -> min-id survivor per cluster."""
    return f"""
    WITH RECURSIVE {_minhash_cte_block()},
    sh2 AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_inter
        FROM cand c
        JOIN sh2 a ON a.doc_id = c.doc_a
        JOIN sh2 b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(n_inter AS DOUBLE)
              / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
              UNION ALL SELECT doc_b, doc_a FROM verified),
    reach(node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(comp) AS cluster_id,
           min(comp) = node AS survivor
    FROM reach GROUP BY node
    """


@register(
    "near_dup_pipeline_survivors",
    oracle=_near_dup_pipeline_oracle(),
    doc="The COMPLETE near-dup dedup pipeline as one adjudicated "
    "query — the composition every production corpus dedup runs: "
    "MinHash-LSH candidate pairs (portable md5 hashing, packed band "
    "keys), exact 3-gram-Jaccard verification computed ONLY on the "
    "candidate pairs (candidate-bounded inverted joins — never "
    "all-pairs, the property that makes the pipeline viable at "
    "100 TB), connected components over the verified edges "
    "(min-label propagation), and min-id survivor election; "
    "singletons keep their own id. The oracle replays every stage "
    "in closed-form SQL (recursive CTE for the transitive closure), "
    "so candidate generation, the verify cut, clustering, AND "
    "survivor choice are all value-checked end to end.",
    tags=("dedup", "llm-pipeline", "iterative"),
)
def near_dup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    verified = (
        shingle_overlap(docs, minhash_lsh_candidates(docs))
        .filter(F.col("n_inter").cast("double") / F.col("n_union") >= 0.5)
        .select("doc_a", "doc_b")
    )
    comps = connected_components(verified, src="doc_a", dst="doc_b")
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(comps, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("survivor", F.col("cluster_id") == F.col("doc_id"))
    )


def _clone_offset(docs: DataFrame) -> DataFrame:
    """1-row (__off) = max(doc_id) + 1 — the clone-id offset. Derived
    from the corpus, NOT a constant: a fixed +1000 collides with real
    ids on any corpus of > 1000 docs (true at sf0.1's 5000), which
    would merge clone and original under one id and corrupt the
    sketch invariants being gated."""
    return docs.agg((F.max("doc_id") + 1).alias("__off"))


def _cloned_docs(
    docs: DataFrame, n_clones: int = 50, off: DataFrame | None = None
) -> DataFrame:
    """The corpus plus exact clones of the first `n_clones` docs under
    ids offset by max(doc_id)+1 — a deterministic, SQL-reproducible
    set of known duplicate pairs (d, d+off) for sketch recall gates
    (the driver tables themselves carry no exact dups). Pass a shared
    ``off`` (from _clone_offset) when also building _clone_pairs so
    the scalar is aggregated once per plan."""
    clones = (
        docs.filter(F.col("doc_id") < n_clones)
        .crossJoin(F.broadcast(off if off is not None else _clone_offset(docs)))
        .select((F.col("doc_id") + F.col("__off")).alias("doc_id"), "text")
    )
    return docs.select("doc_id", "text").unionByName(clones)


def _clone_pairs(
    docs: DataFrame, n_clones: int = 50, off: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b) for every known clone pair, original id first."""
    return (
        docs.filter(F.col("doc_id") < n_clones)
        .crossJoin(F.broadcast(off if off is not None else _clone_offset(docs)))
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + F.col("__off")).alias("doc_b"),
        )
    )


_CLONED_SQL = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
        FROM documents WHERE doc_id < 50
"""


@register(
    "minhash_lsh_candidates",
    oracle=_minhash_lsh_oracle(),
    doc="MinHash(16)+LSH(8 bands) near-dup candidate pairs — "
    "output-bounded band-bucket join, no O(n^2) compare. FULLY value-"
    "adjudicated: the base hash is the engine-independent md5-derived "
    "portable_hash64 and band keys pack collision-free into int64, so "
    "the oracle replays shingling, permutations, banding, and the "
    "bucket join and must reproduce the exact pair set. "
    "minhash_lsh_recall additionally gates recall against exact "
    "Jaccard.",
    tags=("dedup",),
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs)


@register(
    "minhash_lsh_recall",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 0)),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
               )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_high_pairs,
           TRUE AS recall_ok
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.9
    """,
    doc="Driver-adjudicated recall gate for MinHash-LSH "
    "(approx_count_distinct pattern): of the pairs with exact 3-gram "
    "Jaccard >= 0.9, at least 99.9% must appear in the LSH candidate "
    "set (integer test n_recalled*1000 >= n*999 — no float). "
    "Per-pair P[candidate] = 1-(1-j^2)^8 > 0.999997 at j=0.9, so the "
    "0.999 floor holds with overwhelming margin at any corpus size — "
    "unlike a per-pair must-hit, which a single statistical miss "
    "breaks once high-Jaccard pairs number in the 10^5s (seen at "
    "sf1synth: 1 miss in 346k pairs). The oracle recomputes the "
    "exact high-pair count; a dropped pair population or recall "
    "below floor fails the hash.",
    tags=("dedup",),
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    hi = ngram_jaccard_pairs(docs, threshold=0.9)
    cands = minhash_lsh_candidates(docs).withColumn("__hit", F.lit(True))
    flagged = hi.join(cands, ["doc_a", "doc_b"], "left").select(
        F.coalesce(F.col("__hit"), F.lit(False)).cast("int").alias("hit")
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_high_pairs"),
        # coalesce: sum over zero rows is NULL, but an empty high-pair
        # set is vacuously recalled (oracle emits constant TRUE)
        (
            F.coalesce(F.sum("hit"), F.lit(0)) * 1000
            >= F.count(F.lit(1)) * 999
        ).alias("recall_ok"),
    )


@register(
    "minhash_signatures",
    oracle=f"""
    WITH aug AS ({_CLONED_SQL})
    SELECT doc_id,
           CAST(16 AS INT) AS k,
           TRUE AS sig_in_range,
           TRUE AS sig_consistent
    FROM aug WHERE len(string_split(text, ' ')) >= 3
    """,
    doc="MinHash signature matrix invariants, driver-adjudicated on a "
    "clone-augmented corpus: every doc with >= 3 tokens (shingle "
    "width) gets exactly 16 signature elements, all within [0, p), "
    "and identical texts get IDENTICAL signatures (checked against "
    "the min-id representative of each text group — the property LSH "
    "banding relies on). The oracle enumerates the expected doc set "
    "in closed form; any dropped doc, wrong width, out-of-range hash, "
    "or signature divergence fails the hash.",
    tags=("dedup",),
)
def minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kittispark.operators.dedup import MINHASH_P

    aug = _cloned_docs(t(spark, sf_dir, "documents"))
    sigs = minhash_signature(aug)
    rep = aug.groupBy("text").agg(F.min("doc_id").alias("__rep_id"))
    rep_sig = rep.join(
        sigs.select(
            F.col("doc_id").alias("__rep_id"),
            F.col("signature").alias("__rep_sig"),
        ),
        "__rep_id",
    ).select("text", "__rep_sig")
    return (
        aug.join(sigs, "doc_id")
        .join(rep_sig, "text")
        .select(
            "doc_id",
            F.size("signature").alias("k"),
            F.forall(
                "signature",
                lambda e: (e >= 0) & (e < F.lit(MINHASH_P)),
            ).alias("sig_in_range"),
            (F.col("signature") == F.col("__rep_sig")).alias("sig_consistent"),
        )
    )


@register(
    "simhash_candidates",
    oracle="""
    SELECT doc_id AS doc_a,
           doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_b,
           TRUE AS in_candidates
    FROM documents WHERE doc_id < 50 AND text IS NOT NULL
    """,
    doc="SimHash(64-bit) with 16-bit band blocking, driver-"
    "adjudicated on a clone-augmented corpus: identical texts hash to "
    "identical SimHashes, so every known clone pair (doc_id, "
    "doc_id+max_id+1) MUST appear in the banded candidate set — the "
    "oracle enumerates those pairs in closed form and asserts "
    "in_candidates TRUE; a broken kernel, banding, or join drops a "
    "pair and fails the hash.",
    tags=("dedup", "udf"),
)
def simhash_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    off = _clone_offset(docs)
    aug = _cloned_docs(docs, off=off)
    cands = simhash_near_dup_candidates(aug).withColumn("__hit", F.lit(True))
    # a NULL-text doc has no tokens, hence no SimHash: it can never
    # appear in the candidate set, so the clone-recall assertion only
    # ranges over docs that hash (the oracle filters identically)
    known = _clone_pairs(docs.filter(F.col("text").isNotNull()), off=off)
    return known.join(cands, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.coalesce(F.col("__hit"), F.lit(False)).alias("in_candidates"),
    )


@register(
    "dedup_digest",
    oracle="""
    SELECT sha256(text) AS digest,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
    doc="Exact dedup grouped on a sha-256 digest instead of the text "
    "itself — the 100 TB form of dedup_exact: the shuffle key is 32 "
    "fixed bytes per row, not the document body.",
    tags=("dedup",),
)
def dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("digest")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "dedup_savings_report",
    oracle="""
    WITH grouped AS (
        SELECT lang, text, count(*) AS n_copies,
               len(text) AS sz
        FROM documents GROUP BY lang, text
    )
    SELECT lang,
           CAST(sum(n_copies) AS BIGINT) AS docs_before,
           CAST(count(*) AS BIGINT) AS docs_after,
           CAST(sum(n_copies * sz) AS BIGINT) AS bytes_before,
           CAST(sum(sz) AS BIGINT) AS bytes_after,
           CAST(sum((n_copies - 1) * sz) AS BIGINT) AS bytes_saved
    FROM grouped GROUP BY lang
    """,
    doc="Exact-dedup savings report per language — the accounting "
    "every dedup run ships with: docs and bytes before/after keeping "
    "one copy per identical text, and the bytes saved. Two chained "
    "hash aggs ((lang, text) then lang); at 100 TB the first agg "
    "groups on sha2(text) with a first(length) instead of the raw "
    "text key, same shape.",
    tags=("dedup", "llm-pipeline"),
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    grouped = docs.groupBy("lang", "text").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.length("text").alias("sz"),
    )
    return grouped.groupBy("lang").agg(
        F.sum("n_copies").alias("docs_before"),
        F.count(F.lit(1)).alias("docs_after"),
        F.sum(F.col("n_copies") * F.col("sz")).alias("bytes_before"),
        F.sum("sz").alias("bytes_after"),
        F.sum((F.col("n_copies") - 1) * F.col("sz")).alias("bytes_saved"),
    )


# --------------------------------------------------------------------------
# Incremental dedup against a PERSISTED band index — the production
# shape at 100 TB: sketch the corpus once, probe each new batch
# against the on-disk index (built once per process+sf_dir, like the
# IVF index and the KITTI file fixtures).
# --------------------------------------------------------------------------

_MINHASH_INDEX_ROOT: dict[str, str] = {}


def _cleanup_minhash_index_roots() -> None:
    import shutil

    for root in _MINHASH_INDEX_ROOT.values():
        shutil.rmtree(root, ignore_errors=True)


atexit.register(_cleanup_minhash_index_roots)


def _corpus_batch_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic corpus/batch split: every 10th doc is 'new'."""
    return (
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


def _minhash_index_path(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from kittispark.operators.dedup import minhash_write_index

    cached = _MINHASH_INDEX_ROOT.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    corpus, _ = _corpus_batch_split(t(spark, sf_dir, "documents"))
    root = tempfile.mkdtemp(prefix="kittispark-minhash-idx-")
    minhash_write_index(corpus, root)
    _MINHASH_INDEX_ROOT[sf_dir] = root
    return root


def _incremental_dedup_oracle() -> str:
    """Replays the whole incremental path in closed form: bands for
    ALL docs via the shared CTE block, then batch-side (doc_id % 10
    = 0) rows joined against corpus-side (doc_id % 10 <> 0) rows —
    exactly what probing the persisted corpus index computes."""
    return f"""
    WITH {_minhash_cte_block()},
    hits AS (
        SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        FROM banded n
        JOIN banded c ON n.band_id = c.band_id AND n.key = c.key
        WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    ),
    agg AS (SELECT new_id, count(*) AS n_cand FROM hits GROUP BY new_id)
    SELECT d.doc_id,
           CAST(COALESCE(a.n_cand, 0) AS BIGINT) AS n_candidates,
           a.new_id IS NULL AS is_novel
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN agg a ON a.new_id = d.doc_id
    """


@register(
    "incremental_dedup_batch",
    oracle=_incremental_dedup_oracle(),
    doc="INCREMENTAL near-dup screening — the production shape of "
    "dedup at 100 TB, where re-sketching the whole corpus per "
    "arriving batch is not viable: the corpus's banded MinHash "
    "signatures are persisted ONCE as a parquet index partitioned by "
    "band_id (operators.dedup.minhash_write_index), and each new "
    "batch (every 10th doc here) is sketched alone and equi-joined "
    "against the on-disk index (minhash_probe_index) — per-batch "
    "cost scales with the batch, not the corpus. Emits per new doc "
    "its corpus-candidate count and an is_novel flag (docs shorter "
    "than the shingle width have no bands and are trivially novel). "
    "Both sides band through the SAME minhash_band_rows atom, and "
    "the oracle replays shingling, permutations, banding, and the "
    "batch-vs-corpus bucket join in closed-form SQL — a hash match "
    "proves the index WRITE, the re-read, and the probe join all "
    "preserve the sketch exactly.",
    tags=("dedup", "llm-pipeline"),
)
def incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kittispark.operators.dedup import minhash_probe_index

    docs = t(spark, sf_dir, "documents")
    _, batch = _corpus_batch_split(docs)
    idx = _minhash_index_path(spark, sf_dir)
    pairs = minhash_probe_index(spark, idx, batch)
    counts = pairs.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        batch.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(counts, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_cand"), F.lit(0)).alias("n_candidates"),
            F.col("new_id").isNull().alias("is_novel"),
        )
    )


def _winnowing_oracle() -> str:
    from kittispark.operators.dedup import MINHASH_P

    return f"""
    WITH g AS (
        SELECT doc_id, p,
               CAST(CAST(('0x' || substring(md5(substring(text, p, 8)), 1, 15))
                    AS UBIGINT) % {MINHASH_P} AS BIGINT) AS h,
               length(text) - 7 AS n_grams
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, length(text) - 7))
                      AS p) s
        WHERE length(text) >= 8
    ),
    w AS (
        SELECT doc_id, p, n_grams,
               min(h) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM g
    )
    SELECT doc_id,
           CAST(max(n_grams) AS INT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           min(fp) AS min_fp,
           max(fp) AS max_fp
    FROM w WHERE p <= n_grams - 3
    GROUP BY doc_id
    """


@register(
    "winnowing_fingerprints",
    oracle=_winnowing_oracle(),
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "
    "the MOSS local fingerprinting algorithm): 8-char k-gram hashes "
    "(portable_hash64 mod P — the same engine-independent hash the "
    "MinHash pipeline uses), then the minimum of each 4-hash window "
    "is selected as a fingerprint; per-doc fingerprint-set stats are "
    "emitted (count distinct, extremes). The guarantee winnowing "
    "buys at 100 TB: any shared substring of length >= k+w-1 = 11 "
    "chars yields a shared fingerprint, while only ~2/(w+1) of "
    "grams are stored. Shape: posexplode -> ONE doc_id-partitioned "
    "window (its shuffle is reused by the final per-doc agg) — no "
    "cross-doc data movement at all; the oracle replays hashes, "
    "window minima, and selection exactly.",
    tags=("dedup", "text", "llm-pipeline"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from kittispark.operators.dedup import MINHASH_P, portable_hash64

    docs = t(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    grams = docs.select(
        "doc_id",
        (F.length("text") - 7).alias("n_grams"),
        F.posexplode(F.sequence(F.lit(1), F.length("text") - 7)).alias(
            "__i", "p"
        ),
        F.col("text"),
    ).select(
        "doc_id",
        "n_grams",
        "p",
        F.pmod(
            portable_hash64(F.substring("text", F.col("p"), F.lit(8))),
            F.lit(MINHASH_P),
        ).alias("h"),
    )
    w = W.partitionBy("doc_id").orderBy("p").rowsBetween(0, 3)
    fps = grams.select(
        "doc_id", "n_grams", "p", F.min("h").over(w).alias("fp")
    ).filter(F.col("p") <= F.col("n_grams") - 3)
    return fps.groupBy("doc_id").agg(
        F.max("n_grams").alias("n_grams"),
        F.count(F.lit(1)).alias("n_windows"),
        F.count_distinct("fp").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


# Shared CTE block: maximal duplicated-span intervals (the SQL twin
# of operators.dedup.duplicated_span_intervals, n=8). Both the span
# STATS and the span REMOVAL oracles build on `sp` so the
# interval-union semantics can never fork between them.
_SPAN_CTES = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
    SELECT doc_id, i AS pos,
           md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS h
    FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
    WHERE len(toks) >= 8
),
d AS (SELECT h FROM s GROUP BY h HAVING count(*) >= 2),
m AS (SELECT s.doc_id, s.pos FROM s JOIN d USING (h)),
b AS (
    SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + 7) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS brk
    FROM m
),
g AS (
    SELECT doc_id, pos,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS grp
    FROM b
),
sp AS (
    SELECT doc_id, grp, min(pos) AS sp_start, max(pos) + 7 AS sp_end
    FROM g GROUP BY doc_id, grp
)"""

_EXACT_SUBSTRING_ORACLE = _SPAN_CTES + """,
agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_dup_spans,
           CAST(sum(sp_end - sp_start + 1) AS BIGINT) AS dup_tokens
    FROM sp GROUP BY doc_id
)
SELECT a.doc_id, a.n_dup_spans, a.dup_tokens,
       CAST(len(string_split(dd.text, ' ')) AS BIGINT) AS n_tokens,
       round(CAST(a.dup_tokens AS DOUBLE)
             / len(string_split(dd.text, ' ')), 6) AS dup_frac
FROM agg a JOIN documents dd ON a.doc_id = dd.doc_id
"""


@register(
    "exact_substring_spans",
    oracle=_EXACT_SUBSTRING_ORACLE,
    doc="Exact-substring duplication spans (Lee et al. 2022, arXiv:"
    "2107.06499 — the 50-token suffix-array dedup, shrunk to 8-token "
    "windows for the fixture corpus): every 8-token window whose "
    "content occurs >= 2 times anywhere in the corpus marks its "
    "range duplicated, and overlapping/adjacent ranges are unioned "
    "into MAXIMAL spans per document — the paper's ExactSubstr "
    "removal unit. Emits per-doc span count, unioned duplicated "
    "token count, and duplicated fraction. The paper builds one "
    "giant suffix array (single-machine, memory-bound); the Spark "
    "form is pure shuffles: one doc_id window for shingling, a "
    "count>=2 hash-agg on the md5 shingle key (fixed 32-hex shuffle "
    "width; partial aggs absorb boilerplate hot keys), an equi-join "
    "back, and a doc_id-partitioned running-max interval union — "
    "no global ordering, no driver state, every stage keyed on "
    "doc_id or the hash. Interval-union semantics (not per-window "
    "counting) mean dup_tokens never double-counts overlap, matching "
    "how the removal pass would actually cut text.",
    tags=("dedup", "text", "llm-pipeline"),
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kittispark.operators.dedup import duplicated_token_spans
    from kittispark.operators.text import tokens_col

    docs = t(spark, sf_dir, "documents")
    spans = duplicated_token_spans(docs, n=8)
    ntok = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    return spans.join(ntok, "doc_id").select(
        "doc_id",
        "n_dup_spans",
        "dup_tokens",
        "n_tokens",
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias("dup_frac"),
    )


_EXACT_SUBSTRING_REMOVAL_ORACLE = _SPAN_CTES + """,
tok AS (
    SELECT doc_id, i AS pos, toks[i] AS tok
    FROM t, unnest(generate_series(1, len(toks))) AS u(i)
),
rm AS (
    SELECT DISTINCT tk.doc_id, tk.pos
    FROM tok tk JOIN sp ON sp.doc_id = tk.doc_id
                       AND tk.pos BETWEEN sp.sp_start AND sp.sp_end
),
kept AS (
    SELECT tk.doc_id, tk.pos, tk.tok
    FROM tok tk LEFT JOIN rm ON rm.doc_id = tk.doc_id AND rm.pos = tk.pos
    WHERE rm.pos IS NULL
),
rebuilt AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens_after,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens_before,
       coalesce(r.n_tokens_after, 0) AS n_tokens_after,
       md5(coalesce(r.clean_text, '')) AS clean_md5
FROM t LEFT JOIN rebuilt r USING (doc_id)
"""


@register(
    "exact_substring_removal",
    oracle=_EXACT_SUBSTRING_REMOVAL_ORACLE,
    doc="The removal pass of ExactSubstr dedup (the transform "
    "exact_substring_spans only measures): every maximal duplicated "
    "span is cut from its document and the survivors reassembled in "
    "order. Emits one row per document — before/after token counts "
    "and an md5 of the cleaned text, so the adjudication covers the "
    "REBUILT BYTES, not just counts: a doc with no duplicated spans "
    "must round-trip byte-identical through the split/cut/join "
    "(single-space split preserves empty tokens, so consecutive "
    "spaces survive), and a fully-duplicated doc must come back "
    "empty. Shape: tokens and spans meet on the doc_id equi-key "
    "with the range test as a post-join filter (spans per doc "
    "bounded by n_tokens/8 — bounded fan-out, no cross product); "
    "reassembly is the order-restoring array_sort(collect_list) "
    "idiom, partitioned by doc_id end to end.",
    tags=("dedup", "text", "llm-pipeline"),
)
def exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kittispark.operators.dedup import remove_duplicated_spans

    docs = t(spark, sf_dir, "documents")
    out = remove_duplicated_spans(docs, n=8)
    return out.select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_after",
        F.md5("clean_text").alias("clean_md5"),
    )
