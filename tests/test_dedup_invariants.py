"""Structural invariants of the r2 dedup/shuffle operators — properties
the oracle hash can't express directly (non-overlap, bounds, coverage)."""

from __future__ import annotations

from osm2orc_spark.operators.dedup import SPAN_N
from osm2orc_spark.operators.curation import N_SHUFFLE_SHARDS
from osm2orc_spark.registry import all_queries

QUERIES = all_queries()


def test_duplicate_spans_are_maximal_and_disjoint(spark, sf_correctness):
    rows = QUERIES["dedup_duplicate_spans"].fn(spark, sf_correctness).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r.span_tokens == r.end_tok - r.start_tok + 1
        assert r.span_tokens >= SPAN_N  # every range covers >= one shingle
        by_doc.setdefault(r.doc_id, []).append((r.start_tok, r.end_tok))
    for doc, ranges in by_doc.items():
        ranges.sort()
        for (s1, e1), (s2, e2) in zip(ranges, ranges[1:]):
            # maximal ranges from island merging can never touch or overlap:
            # adjacent/overlapping hits would have merged into one island
            assert s2 > e1 + 1, f"doc {doc}: ranges {s1,e1} and {s2,e2} not merged"


def test_spans_clean_cuts_match_span_frame(spark, sf_correctness):
    spans = QUERIES["dedup_duplicate_spans"].fn(spark, sf_correctness).collect()
    clean = QUERIES["dedup_spans_clean"].fn(spark, sf_correctness).collect()
    cut_per_doc: dict[int, int] = {}
    for r in spans:
        cut_per_doc[r.doc_id] = cut_per_doc.get(r.doc_id, 0) + r.span_tokens
    for r in clean:
        assert r.n_tokens - r.n_tokens_kept == cut_per_doc.get(r.doc_id, 0)
        n_words = len(r.clean_text.split()) if r.clean_text else 0
        assert n_words == r.n_tokens_kept


def test_containment_bounds_and_symmetry(spark, sf_correctness):
    rows = QUERIES["dedup_containment_pairs"].fn(spark, sf_correctness).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.0 < r.contain_a <= 1.0
        assert 0.0 < r.contain_b <= 1.0
        assert max(r.contain_a, r.contain_b) >= 0.9


def test_shuffle_shards_partition_the_corpus(spark, sf_correctness):
    rows = QUERIES["corpus_shuffle_shards"].fn(spark, sf_correctness).collect()
    seen = set()
    per_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < N_SHUFFLE_SHARDS
        assert r.doc_id not in seen  # a doc lands in exactly one shard
        seen.add(r.doc_id)
        per_shard.setdefault(r.shard, []).append(r.shard_pos)
    for shard, poss in per_shard.items():
        # shard_pos is a dense 1..n ranking within each shard
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_ppjoin_prefix_prunes_but_preserves_exactness(spark, sf_correctness):
    """The PPJoin prefix filter must generate strictly fewer candidate
    pairs than share-any-shingle brute force while producing the same
    final pair set (exactness of the prefix bound)."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators.dedup import _shingles
    from osm2orc_spark.queries import relational  # noqa: F401 — registry

    ppjoin = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ppjoin"].fn(spark, sf_correctness).collect()
    }
    brute = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"]
        .fn(spark, sf_correctness, allow_quadratic=True)
        .collect()
    }
    assert ppjoin == brute

    sh = _shingles(spark, sf_correctness).persist()
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    brute_cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    w_doc = Window.partitionBy("doc_id")
    prefix = (
        sh.join(df_counts, "shingle")
        .withColumn("rn", F.row_number().over(w_doc.orderBy("df", "shingle")))
        .withColumn("n", F.count(F.lit(1)).over(w_doc))
        .filter(F.col("rn") <= F.col("n") - F.expr("(4*n + 4) div 5") + F.lit(1))
        .select("doc_id", "shingle")
    )
    pa = prefix.select(F.col("doc_id").alias("doc_a"), "shingle")
    pb = prefix.select(F.col("doc_id").alias("doc_b"), "shingle")
    pp_cand = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    sh.unpersist()
    assert pp_cand < brute_cand
    assert pp_cand >= len(ppjoin)  # candidates are a superset of true pairs


def test_rp_lsh_candidate_volume_subquadratic(spark, sf_correctness):
    """The r3 verdict flagged 4-bit chunks as quadratic-with-a-constant
    (~25% of ALL pairs became candidates). The 8x8-bit parameterization
    must keep the candidate join far below the n^2/4 blowup regime —
    measured ~3.6% of the pair space at sf0.01 — while every emitted
    near-dup pair remains a candidate by construction."""
    from osm2orc_spark.operators.similarity import _rp_sigs_and_candidates
    from osm2orc_spark.tables import load

    emb_n = load(spark, sf_correctness, "embeddings").count()
    sigs, cand = _rp_sigs_and_candidates(spark, sf_correctness)
    n_cand = cand.count()
    sigs.unpersist()
    pair_space = emb_n * (emb_n - 1) // 2
    assert n_cand < pair_space // 10, (n_cand, pair_space)
    assert n_cand >= QUERIES["embedding_near_dup_lsh"].fn(spark, sf_correctness).count()


def test_containment_ppjoin_supersets_capped_variant(spark, sf_correctness):
    """The prefix-filtered containment path is EXACT (lossless pigeonhole
    bound), while dedup_containment_pairs' df-cap can drop pairs whose
    shared shingles are all boilerplate-hot. So the exact result must
    contain every capped-path pair with identical scores, and every extra
    pair it finds must genuinely meet the threshold."""
    exact = {
        (r.doc_a, r.doc_b): (r.contain_a, r.contain_b)
        for r in QUERIES["dedup_containment_ppjoin"].fn(spark, sf_correctness).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): (r.contain_a, r.contain_b)
        for r in QUERIES["dedup_containment_pairs"].fn(spark, sf_correctness).collect()
    }
    assert set(capped) <= set(exact)
    for pair, scores in capped.items():
        assert exact[pair] == scores
    for pair, (ca, cb) in exact.items():
        assert max(ca, cb) >= 0.9


def test_lsh_refined_identical_below_cap(spark, sf_correctness, monkeypatch):
    """embedding_near_dup_lsh's refined branch (the scale path for the
    saturated 8-bit banding — `lsh_bucket_saturation` in
    SCALING_SKEW.jsonl) must be OUTPUT-IDENTICAL to its default branch on
    any corpus whose level-1 buckets are all under the cap (the driver
    SFs are: sf0.1's largest bucket is 29 vs cap 256).  A planted
    max-bucket probe above the cap forces the refined branch."""
    import os

    from osm2orc_spark.operators import switches
    from osm2orc_spark.operators.similarity import (
        LSH_BUCKET_CAP,
        embedding_near_dup_lsh,
    )

    reg = embedding_near_dup_lsh(spark, sf_correctness)
    monkeypatch.setitem(
        switches._PROBE_CACHE,
        (os.path.abspath(sf_correctness), "lsh_max_bucket"),
        LSH_BUCKET_CAP + 1,
    )
    ref = embedding_near_dup_lsh(spark, sf_correctness)
    n_reg, n_ref = reg.count(), ref.count()
    n_both = reg.join(ref, ["vec_a", "vec_b", "cosine"]).count()
    assert n_reg > 0
    assert n_reg == n_ref == n_both


def test_simhash_refined_exactly_identical(spark, sf_correctness):
    """simhash_near_dup_refined is EXACT at any corpus size (recursive
    pigeonhole — see the docstring); at the driver SFs the hot path is
    LIVE (sf0.1 has a 1,656-doc chunk bucket vs cap 256), so this
    asserts identity through the refined branch, not just the cold
    one."""
    from osm2orc_spark.operators.dedup import simhash_near_dup_refined

    reg = QUERIES["simhash_near_dup"].fn(spark, sf_correctness)
    ref = simhash_near_dup_refined(spark, sf_correctness)
    n_reg, n_ref = reg.count(), ref.count()
    n_both = reg.join(ref, ["doc_a", "doc_b", "hamming"]).count()
    assert n_reg > 0
    assert n_reg == n_ref == n_both
