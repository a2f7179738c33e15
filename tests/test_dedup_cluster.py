"""Connected-components canonicalization: differential-tested against a
pure-Python union-find on seeded-random pair graphs, plus the full
dedup job end-to-end on the driver testdata."""

import json
import os
import random
import sys

from pyspark.sql import functions as F

from mistral_ocr_app_spark.operators.dedup_cluster import (
    canonicalize,
    connected_components,
)

JOBS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
sys.path.insert(0, JOBS_DIR)

SF_DIR = "/root/testdata/sf0.001"


def _union_find_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min element of each component
    comp_min = {}
    for x in list(parent):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, r), x)
    return {x: comp_min[find(x)] for x in parent}


def test_components_match_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        nodes = range(trial * 1000, trial * 1000 + 300)
        pairs = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(rng.randint(50, 400))
            }
        )
        expected = _union_find_components(pairs)
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == expected, f"trial {trial}: component mismatch"


def test_components_long_chain_converges(spark):
    """A 64-hop path graph — the adversarial case for plain neighbor-min
    propagation (O(diameter) rounds) — must converge fast via the
    pointer-jumping phase (label distances halve per round)."""
    pairs = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = connected_components(df).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 65


def test_canonicalize_covers_unpaired_docs(spark):
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 4), (4, 7)], "doc_a long, doc_b long")
    m = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
         for r in canonicalize(docs, pairs).collect()}
    assert m[1] == (1, True) and m[4] == (1, False) and m[7] == (1, False)
    for d in (0, 2, 3, 5, 6, 8, 9):
        assert m[d] == (d, True)


def test_dedup_job_end_to_end(spark, tmp_path):
    """Full job on the driver documents table: mapping is total, the
    survivor rule is min-id, and exact duplicates (identical text) are
    never both canonical."""
    from dedup_job import exact_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = exact_pairs(docs)
    mapping = canonicalize(docs, pairs)
    out = mapping.toPandas()
    assert len(out) == docs.count()
    assert (out["canonical_id"] <= out["doc_id"]).all()
    # exact-dup groups collapse to one canonical representative
    joined = (
        docs.select("doc_id", "text")
        .join(mapping, "doc_id")
        .groupBy(F.sha2("text", 256))
        .agg(F.countDistinct("canonical_id").alias("n_canon"))
    )
    assert joined.filter(F.col("n_canon") > 1).count() == 0


def _adversarial_docs(spark, n_clones=200, n_unique=20):
    """One mega-cluster of identical docs (every LSH band collapses to a
    single bucket of n_clones members) + a tail of distinct docs."""
    rows = [(i, "boilerplate header text repeated verbatim across the crawl")
            for i in range(n_clones)]
    rows += [(10_000 + i, f"unique document {i} with tokens {i * 7} {i * 13} {i * 29}")
             for i in range(n_unique)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_mega_bucket_guard_bounds_candidates(spark):
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _adversarial_docs(spark)
    bands = lsh_bands(minhash_signatures(docs, portable=False))

    uncapped, none_dropped = lsh_candidate_pairs(bands)
    assert none_dropped is None
    n_uncapped = uncapped.count()
    assert n_uncapped >= 200 * 199 // 2  # quadratic blowup without the guard

    capped, dropped = lsh_candidate_pairs(bands, max_bucket_size=50)
    assert capped.count() < 1000  # bounded: mega-bucket never emits pairs
    drop = dropped.toPandas()
    assert len(drop) >= 1  # surfaced, not silent
    assert (drop["k"] > 50).all()
    assert drop["k"].max() == 200  # the clone bucket, per band


def test_lsh_guard_is_noop_on_normal_corpus(spark):
    """Ceiling above every real bucket: identical candidate output and an
    empty dropped relation (set equality via distinct subtract — the
    pairs are already distinct)."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bands = lsh_bands(minhash_signatures(docs, portable=False))
    uncapped, _ = lsh_candidate_pairs(bands)
    capped, dropped = lsh_candidate_pairs(bands, max_bucket_size=10**6)
    assert dropped.count() == 0
    assert uncapped.subtract(capped).count() == 0
    assert capped.subtract(uncapped).count() == 0


def test_grid_salting_preserves_pair_set_adversarial(spark):
    """Grid salting changes only the PHYSICAL spread of a heavy bucket's
    quadratic expansion — the candidate pair set must be identical.
    Adversarial corpus: the 200-clone mega-bucket is far above the salt
    threshold (heavy path), the unique tail sits below it (light path),
    so both branches of the union are exercised in one run."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _adversarial_docs(spark, n_clones=80, n_unique=30)
    bands = lsh_bands(minhash_signatures(docs, portable=False))

    plain, _ = lsh_candidate_pairs(bands)
    salted, _ = lsh_candidate_pairs(bands, salt_threshold=16, salt_grid=4)
    assert plain.subtract(salted).count() == 0
    assert salted.subtract(plain).count() == 0
    # the heavy path genuinely ran: the clone bucket alone yields
    # 80*79/2 pairs, all of which must survive the lattice enumeration
    assert salted.count() >= 80 * 79 // 2


def test_grid_salting_preserves_pair_set_real_corpus(spark):
    """Same equality on the driver testdata with the production defaults
    (threshold 64, grid 8), plus grid=1 degenerating to the plain join."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bands = lsh_bands(minhash_signatures(docs, portable=False))
    plain, _ = lsh_candidate_pairs(bands)
    salted, _ = lsh_candidate_pairs(bands, salt_threshold=64, salt_grid=8)
    degenerate, _ = lsh_candidate_pairs(bands, salt_threshold=64, salt_grid=1)
    for variant in (salted, degenerate):
        assert plain.subtract(variant).count() == 0
        assert variant.subtract(plain).count() == 0


def test_grid_salting_composes_with_bucket_ceiling(spark):
    """Layered policy: drop k > max_bucket_size, salt
    salt_threshold < k <= max_bucket_size. With a ceiling under the clone
    bucket, the salted and plain guarded outputs must still agree (the
    mega-bucket is dropped BEFORE the salt split sees it)."""
    from mistral_ocr_app_spark.operators.corpus import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _adversarial_docs(spark, n_clones=80, n_unique=30)
    bands = lsh_bands(minhash_signatures(docs, portable=False))
    plain, dropped_a = lsh_candidate_pairs(bands, max_bucket_size=50)
    salted, dropped_b = lsh_candidate_pairs(
        bands, max_bucket_size=50, salt_threshold=4, salt_grid=4
    )
    assert plain.subtract(salted).count() == 0
    assert salted.subtract(plain).count() == 0
    assert dropped_a.count() == dropped_b.count() > 0


def test_grouped_candidate_pairs_equals_plain_path(spark):
    """Round-7 d4 generator: signature grouping + first-collision-band
    filter + chunk-lattice expansion must reproduce the plain
    join+distinct pair set EXACTLY, with zero duplicate rows (the plan
    contains no distinct — uniqueness is by construction). Exercised on
    both the adversarial mega-clone corpus (intra-group expansion,
    heavy/salted path, chunking: chunk_size below the clone count) and
    the driver testdata (inter-group collisions across near-dup sigs),
    with both hash families."""
    from mistral_ocr_app_spark.operators.corpus import (
        grouped_candidate_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    cases = [
        (minhash_signatures(_adversarial_docs(spark), portable=False), 16),
        (
            minhash_signatures(
                spark.read.parquet(f"{SF_DIR}/documents.parquet"), portable=True
            ),
            512,
        ),
    ]
    for sigs, chunk in cases:
        plain, _ = lsh_candidate_pairs(
            lsh_bands(sigs), salt_threshold=64, salt_grid=8
        )
        grouped = grouped_candidate_pairs(
            sigs, salt_threshold=64, salt_grid=8, chunk_size=chunk
        )
        got = grouped.toPandas()
        assert len(got) == len(got.drop_duplicates())  # no dups by construction
        assert grouped.subtract(plain).count() == 0
        assert plain.subtract(grouped).count() == 0
        assert len(got) == plain.count()


def test_dedup_job_guard_end_to_end(spark):
    """With the guard dropping the clone mega-bucket, the exact-dup path
    still collapses the clones into one cluster — verified pairs change
    only where the guard is SUPPOSED to cut (raw candidate volume)."""
    from dedup_job import exact_pairs, near_dup_pairs

    docs = _adversarial_docs(spark)
    near, dropped = near_dup_pairs(docs, max_bucket_size=50)
    assert dropped.count() >= 1
    pairs = exact_pairs(docs).unionByName(near).distinct()
    mapping = canonicalize(docs, pairs).toPandas()
    clones = mapping[mapping["doc_id"] < 10_000]
    assert (clones["canonical_id"] == 0).all()  # exact path: one cluster
    uniq = mapping[mapping["doc_id"] >= 10_000]
    assert (uniq["canonical_id"] == uniq["doc_id"]).all()
