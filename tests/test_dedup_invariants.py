"""Dedup invariants: exact duplicates can never escape any of the
near-dup detectors (signatures are functions of content only)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kittispark.operators.dedup import (
    connected_components,
    minhash_lsh_candidates,
    minhash_signature,
    ngram_jaccard_pairs,
    shingle_overlap,
    simhash_near_dup_candidates,
)
from kittispark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def with_clone(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(50)
    clone = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(clone).cache()


def test_identical_docs_share_minhash_signature(spark, with_clone):
    sigs = {
        r["doc_id"]: tuple(r["signature"])
        for r in minhash_signature(with_clone).collect()
    }
    assert sigs[0] == sigs[1_000_000]


def test_identical_docs_are_lsh_candidates(spark, with_clone):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(with_clone).collect()
    }
    assert (0, 1_000_000) in pairs


def test_lsh_rejects_indivisible_bands(spark, with_clone):
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_candidates(with_clone, num_hashes=16, bands=5)


def test_identical_docs_jaccard_is_one(spark, with_clone):
    rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(with_clone).collect()
    }
    assert rows[(0, 1_000_000)] == 1.0


def test_candidate_bounded_overlap_equals_all_pairs_restriction(spark):
    """shingle_overlap over a candidate set must give, row for row, the
    all-pairs overlaps restricted to those candidates — exact n_inter
    and n_union — and a candidate pair sharing no shingle gives no row
    (the inner-join contract both verify forms keep)."""
    base = load_table(spark, SF, "documents").select("doc_id", "text").limit(40)
    # planted near-copies: the first 10 docs with one token appended
    near = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", "text", F.lit("appended")).alias("text"),
    )
    disjoint = spark.createDataFrame(
        [(2_000_000, "alpha beta gamma delta"), (2_000_001, "one two three four")],
        "doc_id long, text string",
    )
    docs = base.unionByName(near).unionByName(disjoint).cache()
    planted = [(d, d + 1_000_000) for d in range(10)]
    no_overlap = (2_000_000, 2_000_001)
    cands = minhash_lsh_candidates(docs).unionByName(
        spark.createDataFrame(planted + [no_overlap], "doc_a long, doc_b long")
    ).distinct()
    cand_set = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}

    def overlaps(df):
        assert [t for _, t in df.dtypes] == ["bigint"] * 4
        return {
            (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
            for r in df.collect()
        }

    bounded = overlaps(shingle_overlap(docs, cands))
    all_pairs = overlaps(shingle_overlap(docs))
    assert bounded == {k: v for k, v in all_pairs.items() if k in cand_set}
    assert no_overlap in cand_set and no_overlap not in bounded
    # not vacuous: the planted near-copies of shingled docs all verify
    assert sum(p in bounded for p in planted) >= 5
    docs.unpersist()


def test_identical_docs_are_simhash_candidates(spark, with_clone):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_candidates(with_clone).collect()
    }
    assert (0, 1_000_000) in pairs


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r["node"], r["comp"])
        for r in connected_components(df, **kw).collect()
    }


def test_cc_chain_propagates_min_across_hops(spark):
    # 1-2-3-4-5: min label must travel 4 hops, not 1
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {(n, 1) for n in (1, 2, 3, 4, 5)}


def test_cc_two_components_stay_separate(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}


def test_cc_star_and_direction_insensitive(spark):
    # edges listed high->low: bidirecting must make direction moot
    got = _cc(spark, [(9, 1), (8, 1), (7, 1)])
    assert got == {(1, 1), (7, 1), (8, 1), (9, 1)}


def test_cc_only_edge_nodes_emitted(spark):
    got = _cc(spark, [(5, 6)])
    assert got == {(5, 5), (6, 5)}


# --------------------------------------------------------------------------
# Persisted incremental index (minhash_write_index / minhash_probe_index)
# --------------------------------------------------------------------------


def test_probe_index_equals_full_selfjoin_restriction(spark, tmp_path):
    """Probing a persisted corpus index with a batch must yield exactly
    the batch-x-corpus restriction of the full in-memory self-join
    candidate set — the contract that makes incremental dedup a safe
    substitute for re-sketching the corpus per batch."""
    from kittispark.operators.dedup import minhash_probe_index, minhash_write_index

    docs = load_table(spark, SF, "documents").select("doc_id", "text").limit(80)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    idx = str(tmp_path / "mh_idx")
    minhash_write_index(corpus, idx)
    probed = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_probe_index(spark, idx, batch).collect()
    }

    full = minhash_lsh_candidates(docs).collect()
    expect = set()
    for r in full:
        a, b = r["doc_a"], r["doc_b"]
        if a % 10 == 0 and b % 10 != 0:
            expect.add((a, b))
        elif b % 10 == 0 and a % 10 != 0:
            expect.add((b, a))
    assert probed == expect


def test_probe_index_finds_planted_clone(spark, tmp_path):
    """A batch doc that clones an indexed corpus doc MUST surface as a
    candidate through the on-disk path."""
    from kittispark.operators.dedup import minhash_probe_index, minhash_write_index

    corpus = load_table(spark, SF, "documents").select("doc_id", "text").limit(30)
    clone = corpus.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "mh_idx2")
    minhash_write_index(corpus, idx)
    pairs = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_probe_index(spark, idx, clone).collect()
    }
    assert (2_000_001, 1) in pairs


class TestDuplicatedTokenSpans:
    """Hand-computed fixtures for the exact-substring interval-union
    semantics (Lee et al. ExactSubstr): overlapping duplicated windows
    must merge into ONE maximal span with no double-counting."""

    def _spans(self, spark, rows, n=3):
        from kittispark.operators.dedup import duplicated_token_spans

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {
            r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
            for r in duplicated_token_spans(df, n=n).collect()
        }

    def test_two_identical_docs_fully_duplicated(self, spark):
        text = "a b c d e f"
        out = self._spans(spark, [(1, text), (2, text)])
        # every 3-window duplicated -> one maximal span covering all 6
        assert out == {1: (1, 6), 2: (1, 6)}

    def test_overlapping_windows_union_not_sum(self, spark):
        # docs share the 4-token run "p q r s": windows (p q r) and
        # (q r s) both duplicate, but the union is ONE span of 4
        out = self._spans(
            spark, [(1, "p q r s x1 y1 z1"), (2, "u2 v2 p q r s w2")]
        )
        assert out[1] == (1, 4)
        assert out[2] == (1, 4)

    def test_disjoint_repeats_make_two_spans(self, spark):
        # doc 1 shares "a b c" with doc 2 and "x y z" with doc 3,
        # separated by a unique gap longer than the window
        out = self._spans(
            spark,
            [
                (1, "a b c m1 m2 m3 m4 x y z"),
                (2, "a b c k2a k2b k2c"),
                (3, "j3a j3b j3c x y z"),
            ],
        )
        assert out[1] == (2, 6)

    def test_intra_doc_repeat_counts(self, spark):
        # the same doc repeating its own trigram is duplication too
        out = self._spans(spark, [(1, "a b c g1 g2 g3 g4 a b c")])
        assert out[1] == (2, 6)

    def test_unique_corpus_yields_nothing(self, spark):
        out = self._spans(spark, [(1, "a b c d"), (2, "e f g h")])
        assert out == {}


class TestRemoveDuplicatedSpans:
    """The removal pass must cut exactly the interval union and
    round-trip untouched documents byte-identically."""

    def _clean(self, spark, rows, n=3):
        from kittispark.operators.dedup import remove_duplicated_spans

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {
            r["doc_id"]: (
                r["n_tokens_before"], r["n_tokens_after"], r["clean_text"]
            )
            for r in remove_duplicated_spans(df, n=n).collect()
        }

    def test_untouched_doc_roundtrips_byte_identical(self, spark):
        # consecutive spaces produce empty tokens; the split/join
        # round-trip must preserve them exactly
        text = "solo  tokens   with gaps"
        out = self._clean(spark, [(1, text), (2, "totally different words")])
        assert out[1][2] == text

    def test_duplicated_run_is_cut(self, spark):
        out = self._clean(
            spark, [(1, "a b c tail1 tail2 tail3"), (2, "pre2a pre2b a b c")]
        )
        assert out[1] == (6, 3, "tail1 tail2 tail3")
        assert out[2] == (5, 2, "pre2a pre2b")

    def test_fully_duplicated_doc_becomes_empty(self, spark):
        text = "x y z"
        out = self._clean(spark, [(1, text), (2, text)])
        assert out[1] == (3, 0, "")
        assert out[2] == (3, 0, "")

    def test_spans_and_removal_agree_on_cut_size(self, spark):
        from kittispark.operators.dedup import duplicated_token_spans

        rows = [
            (1, "a b c m1 m2 m3 m4 x y z"),
            (2, "a b c k2a k2b k2c"),
            (3, "j3a j3b j3c x y z"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        stats = {
            r["doc_id"]: r["dup_tokens"]
            for r in duplicated_token_spans(df, n=3).collect()
        }
        out = self._clean(spark, rows)
        for doc_id, (before, after, _) in out.items():
            assert before - after == stats.get(doc_id, 0)
