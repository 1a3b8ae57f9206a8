"""Dedup-family invariants beyond the oracle parity suite:

- embedding LSH ⊆ brute force (candidate pruning never invents pairs) and
  recall accounting at the registered threshold (sf0.001);
- hot-shingle document-frequency cutoff actually caps posting lists under
  boilerplate skew (the 100 TB defense);
- 64-bit simhash block-combination join: complete for Hamming ≤ 3
  (pigeonhole over 3-of-6 block tables) and sound vs a driver-side
  brute-force recheck;
- minhash signatures (explode → MIN aggregate) == per-seed array_min
  definition;
- simhash block schemes are complete for Hamming ≤ k and no wider
  (seeded property grid over (b, k));
- no operator leaks checkpoint blocks: after a near-dup family or
  refine_centroids returns, the only newly pinned RDD is its result's own.
"""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from adding_datasets_to_kg_spark.functions.text import shingles
from adding_datasets_to_kg_spark.operators.dedup import (
    SIMHASH_BLOCK_BOUNDS,
    SIMHASH_BLOCK_COMBOS,
    dedup_embedding_cosine,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash64,
    minhash_signatures,
    simhash64_fingerprints,
    simhash_block_scheme,
)
from adding_datasets_to_kg_spark.session import release

SF0001 = "/root/testdata/sf0.001"


def test_embedding_lsh_subset_of_bruteforce_with_recall(spark):
    embs = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    brute = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine(embs, threshold=0.38, n_planes=0).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine(embs, threshold=0.38, n_planes=16).collect()
    }
    assert lsh <= brute, "LSH recheck must never emit a pair brute force rejects"
    assert brute, "fixture must contain near-dup pairs for the recall check"
    recall = len(lsh) / len(brute)
    # 4 bands × 4 planes at cos≥0.38 — moderate recall by design; the point
    # of the gate is catching bucketing bugs (recall ≈ 0), not tuning.
    assert recall >= 0.25, f"recall collapsed: {recall:.3f} ({len(lsh)}/{len(brute)})"


def test_embedding_lsh_recalls_planted_near_duplicates(spark):
    """True near-dups (cos ≈ 1) collide in every band with probability
    ~(1-θ/π)^4 ≈ 1 — planting 10 such pairs, essentially all must surface.
    This is the property the LSH path exists for; the 0.38-threshold recall
    test above covers the far-pair regime."""
    embs = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    base = {r.vec_id: list(r.embedding) for r in embs.limit(10).collect()}
    planted = []
    for vid, vec in base.items():
        twin = list(vec)
        twin[0] += 0.001  # cos vs original ≈ 0.999999
        planted.append((10_000 + vid, twin))
    corpus = embs.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    )
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup_embedding_cosine(corpus, threshold=0.95, n_planes=16).collect()
    }
    expected = {(vid, 10_000 + vid) for vid in base}
    assert len(lsh & expected) >= 9, f"planted near-dups missed: {expected - lsh}"


def _boilerplate_docs(spark, n=20):
    """Docs sharing one boilerplate trigram; unique tails otherwise."""
    rows = [
        (i, f"shared boiler plate unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_hot_shingle_cutoff_caps_posting_lists(spark):
    docs = _boilerplate_docs(spark, n=20)
    # Without the cutoff every doc pair shares the boilerplate shingles:
    # C(20,2)=190 candidate pairs reach the Jaccard scorer.
    uncapped = dedup_ngram_jaccard(docs, threshold=0.0001, max_df=None).count()
    assert uncapped == 190
    # df('shared boiler plate') = 20 > 5 → dropped before the self-join; the
    # unique tails share nothing, so NO pair survives candidate generation.
    capped = dedup_ngram_jaccard(docs, threshold=0.0001, max_df=5)
    assert capped.count() == 0
    # Shingles below the cutoff are unaffected: two genuinely-near-dup docs
    # still pair up through their (rare) shared shingles.
    rows = [(100, "alpha beta gamma delta epsilon zeta"),
            (101, "alpha beta gamma delta epsilon eta")]
    near = docs.unionByName(spark.createDataFrame(rows, "doc_id long, text string"))
    out = dedup_ngram_jaccard(near, threshold=0.3, max_df=5).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(100, 101)}


def test_simhash64_banded_join_complete_and_sound(spark):
    # deterministic subset — an unordered limit() may pick different rows
    # for the two independent jobs below
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").filter("doc_id < 300")
    fps = {
        r.doc_id: (r.b0, r.b1, r.b2, r.b3)
        for r in simhash64_fingerprints(docs).collect()
    }
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup_simhash64(docs, max_hamming=6).collect()
    }

    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    def blocks(bands):
        f = bands[0] | bands[1] << 16 | bands[2] << 32 | bands[3] << 48
        return [(f >> lo) & ((1 << (hi - lo)) - 1) for lo, hi in SIMHASH_BLOCK_BOUNDS]

    for ia, ib in itertools.combinations(sorted(fps), 2):
        h = hamming(fps[ia], fps[ib])
        ba, bb = blocks(fps[ia]), blocks(fps[ib])
        shares_combo = any(
            all(ba[b] == bb[b] for b in combo) for combo in SIMHASH_BLOCK_COMBOS
        )
        if h <= 3:
            # pigeonhole: ≤3 differing bits touch ≤3 of the 6 blocks, so
            # some 3-of-6 combination is untouched → pair is a candidate
            assert (ia, ib) in out and out[(ia, ib)] == h
        if (ia, ib) in out:
            assert h <= 6 and shares_combo
            assert out[(ia, ib)] == h


def test_minhash_single_pass_fold_matches_per_seed_min(spark):
    # deterministic subset — an unordered limit() may pick different rows
    # for the two independent jobs below
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").filter("doc_id < 50")
    sh = shingles("text", 3)
    sigs = minhash_signatures(docs, n_hashes=4)

    def hasher(i):
        # NB: must be a 1-arg lambda — a 2-arg lambda would receive the
        # element index as its second argument from F.transform.
        return lambda s: F.md5(F.concat(F.lit(f"seed{i}:"), s))

    reference = docs.select(
        "doc_id",
        F.array(*[F.array_min(F.transform(sh, hasher(i))) for i in range(4)]).alias("sig"),
    )
    a = {r.doc_id: [r[f"h{i}"] for i in range(4)] for r in sigs.collect()}
    b = {r.doc_id: r.sig for r in reference.collect()}
    assert len(a) == 50 and a == b


def test_survivors_match_brute_clustering(spark):
    """dedup_survivors == brute-force reachability clustering + min-id
    survivor selection, on a pair graph with chains, a triangle and
    singletons."""
    from adding_datasets_to_kg_spark.operators.dedup import dedup_survivors

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(12)], "doc_id long, text string")
    pair_rows = [(0, 5), (5, 9), (1, 2), (2, 3), (1, 3), (10, 11)]
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    got = {(r.doc_id, r.cluster_size) for r in dedup_survivors(docs, pairs).collect()}
    # clusters: {0,5,9} → 0(size3); {1,2,3} → 1(size3); {10,11} → 10(size2);
    # singletons 4,6,7,8 survive with size 1
    want = {(0, 3), (1, 3), (10, 2), (4, 1), (6, 1), (7, 1), (8, 1)}
    assert got == want


def test_simhash64_recall_contract_vs_bruteforce_sf001(spark):
    """The documented recall contract (dedup.py): complete at Hamming <= 3
    (the 3-of-6 pigeonhole bound — also the API default), partial at 4-6
    (measured 0.44 on this deterministic table; gate at a 0.4 floor).
    Soundness everywhere: no false pairs, exact hamming values."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fp = simhash64_fingerprints(docs).localCheckpoint(eager=True)
    fa = fp.select(F.col("doc_id").alias("id_a"),
                   *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)])
    fb = fp.select(F.col("doc_id").alias("id_b"),
                   *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)])
    ham = sum(F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))) for i in range(4))
    brute = {
        (r.id_a, r.id_b): r.hamming
        for r in fa.join(fb, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup_simhash64(docs, max_hamming=6).collect()
    }
    # soundness: subset with exact distances
    for k, h in got.items():
        assert brute[k] == h
    # completeness at <= 3 (the default's contract)
    lo_brute = {k for k, h in brute.items() if h <= 3}
    assert lo_brute <= set(got)
    # measured partial recall at 4-6
    hi_brute = {k for k, h in brute.items() if 4 <= h <= 6}
    hi_got = {k for k, h in got.items() if 4 <= h <= 6}
    assert hi_brute, "fixture regression: no 4-6 pairs to measure"
    recall = len(hi_brute & hi_got) / len(hi_brute)
    assert 0.4 <= recall < 1.0, f"recall at hamming 4-6: {recall:.3f}"


def test_simhash64_default_matches_completeness_bound(spark):
    """Default max_hamming is 3 — callers get the complete regime unless
    they opt into best-effort 4-6 explicitly."""
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").filter("doc_id < 200")
    out = dedup_simhash64(docs)
    assert out.filter("hamming > 3").count() == 0
    explicit = {
        (r.id_a, r.id_b) for r in dedup_simhash64(docs, max_hamming=3).collect()
    }
    assert {(r.id_a, r.id_b) for r in out.collect()} == explicit


def test_simhash_block_scheme_default_matches_published_constants():
    """The generalized scheme generator must reproduce the exact 3-of-6
    layout the registry's DuckDB SQL textually mirrors — any drift here
    silently breaks the dedup_simhash64 dual-engine hash check."""
    from adding_datasets_to_kg_spark.operators.dedup import (
        SIMHASH_BLOCK_BOUNDS,
        SIMHASH_BLOCK_COMBOS,
        simhash_block_scheme,
    )

    bounds, combos = simhash_block_scheme(6, 3)
    assert bounds == SIMHASH_BLOCK_BOUNDS == [
        (0, 11), (11, 22), (22, 33), (33, 44), (44, 54), (54, 64)
    ]
    assert combos == SIMHASH_BLOCK_COMBOS
    assert len(combos) == 20
    # invalid shapes rejected loudly
    with pytest.raises(ValueError):
        simhash_block_scheme(6, 6)
    with pytest.raises(ValueError):
        simhash_block_scheme(6, 0)


def test_simhash64_wider_scheme_exact_recall_at_hamming4(spark):
    """b=8/k=4 (C(8,4)=70 tables, 32-bit keys) must be COMPLETE at
    Hamming <= 4 — recall 1.0 vs brute force on the full sf0.01 documents
    table, where the default 3-of-6 scheme measures only ~0.44 in 4-6.
    Soundness holds too: every returned pair carries its exact distance."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    fp = simhash64_fingerprints(docs).localCheckpoint(eager=True)
    fa = fp.select(F.col("doc_id").alias("id_a"),
                   *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)])
    fb = fp.select(F.col("doc_id").alias("id_b"),
                   *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)])
    ham = sum(F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))) for i in range(4))
    brute = {
        (r.id_a, r.id_b): r.hamming
        for r in fa.join(fb, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= 4)
        .collect()
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup_simhash64(
            docs, max_hamming=4, n_blocks=8, complete_hamming=4
        ).collect()
    }
    assert brute, "fixture regression: no <=4 pairs to measure"
    # exact completeness AND soundness: the two maps are identical
    assert got == brute


@pytest.mark.parametrize("n_blocks,k", [(4, 1), (6, 3), (7, 2), (8, 4), (10, 5), (16, 3)])
def test_simhash_block_scheme_complete_for_k_and_tight_at_k_plus_1(n_blocks, k):
    """Pigeonhole, checked on random fingerprints: ≤ k flipped bits touch
    ≤ k blocks, so some (b−k)-combination of blocks still agrees; one flipped
    bit in each of k+1 distinct blocks leaves only b−k−1 agreeing blocks,
    so no combination does."""
    rng = random.Random(1000 * n_blocks + k)
    bounds, combos = simhash_block_scheme(n_blocks, k)
    assert bounds[0][0] == 0 and bounds[-1][1] == 64
    assert all(hi == lo for (_, hi), (lo, _) in zip(bounds, bounds[1:]))

    def some_combo_agrees(x: int, y: int) -> bool:
        same = [((x ^ y) >> lo) & ((1 << (hi - lo)) - 1) == 0 for lo, hi in bounds]
        return any(all(same[i] for i in combo) for combo in combos)

    for _ in range(200):
        fp = rng.getrandbits(64)
        near = fp
        for bit in rng.sample(range(64), rng.randint(0, k)):
            near ^= 1 << bit
        assert some_combo_agrees(fp, near)
        far = fp
        for blk in rng.sample(range(n_blocks), k + 1):
            far ^= 1 << rng.randrange(*bounds[blk])
        assert not some_combo_agrees(fp, far)


def _pinned_rdd_ids(spark) -> set[int]:
    return {jrdd.id() for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values()}


def _own_rdd_id(frame) -> int:
    return frame._jdf.queryExecution().analyzed().rdd().id()


def _refined_centroids(spark):
    from adding_datasets_to_kg_spark.functions.vectors import as_double
    from adding_datasets_to_kg_spark.operators.similarity import refine_centroids

    embs = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    c = embs.select(F.col("vec_id"), as_double("embedding").alias("v"))
    seeds = embs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell_id"), as_double("embedding").alias("centroid")
    )
    return refine_centroids(c, seeds, n_iters=3)


# the registry's parameters (plans/entry_queries.py)
_CHECKPOINTING_OPS = {
    "minhash_lsh": lambda spark: dedup_minhash_lsh(
        spark.read.parquet(f"{SF0001}/documents.parquet")),
    "simhash64": lambda spark: dedup_simhash64(
        spark.read.parquet(f"{SF0001}/documents.parquet"), max_hamming=6),
    "ngram_jaccard": lambda spark: dedup_ngram_jaccard(
        spark.read.parquet(f"{SF0001}/documents.parquet"), threshold=0.12, max_df=5),
    "embedding_lsh": lambda spark: dedup_embedding_cosine(
        spark.read.parquet(f"{SF0001}/embeddings.parquet"), threshold=0.38, n_planes=16),
    "refine_centroids": _refined_centroids,
}


@pytest.mark.parametrize("op", sorted(_CHECKPOINTING_OPS))
def test_checkpointing_ops_pin_only_their_result(spark, op):
    """Every intermediate checkpoint (signatures, scored candidates, earlier
    Lloyd iterations) is released by the time the operator returns; the
    result's own RDD is the one pin left behind."""
    before = _pinned_rdd_ids(spark)
    out = _CHECKPOINTING_OPS[op](spark)
    try:
        assert _pinned_rdd_ids(spark) - before == {_own_rdd_id(out)}
    finally:
        release(out)
    assert _own_rdd_id(out) not in _pinned_rdd_ids(spark)


def test_release_rejects_frames_that_are_not_checkpoints(spark):
    ckpt = spark.range(3).localCheckpoint(eager=True)
    not_checkpoints = [
        spark.range(3),
        ckpt.filter("id > 0"),
        spark.sparkContext.parallelize([(1,)]).toDF(["x"]),  # an un-pinned LogicalRDD
    ]
    for frame in not_checkpoints:
        with pytest.raises(TypeError):
            release(ckpt, frame)
    assert _own_rdd_id(ckpt) in _pinned_rdd_ids(spark), "a rejected call released nothing"
    release(ckpt)
    assert _own_rdd_id(ckpt) not in _pinned_rdd_ids(spark)
