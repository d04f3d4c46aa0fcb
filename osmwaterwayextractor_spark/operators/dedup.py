"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (its dedup is coordinate-level node merge);
these are the corpus-level dedup family the graft brief requires, built
Spark-first over a ``documents(doc_id, text, ...)`` table:

- ``exact_duplicates``: hash-groupBy (md5) — one shuffle on the 128-bit hash.
- ``minhash_lsh_pairs``: shingle → JVM ``xxhash64`` → m permutations via
  universal hashing (a·h+b mod p, map-side min-combine) → band buckets →
  bucket equi-join for candidates → exact/estimated Jaccard verify.
- ``simhash_near_pairs``: 64-bit simhash from token hashes (``simhash_64``);
  near-dups share a bucket under ≥1 of four 16-bit chunks (Hamming ≤ 3
  guarantee via chunking), verified by popcount.
- ``ngram_jaccard_pairs``: exact word n-gram Jaccard for candidate pairs —
  the same verify (``_jaccard``) minhash runs on its candidates.
- ``embedding_neardup_pairs`` lives in ``similarity.py`` (cosine ≥ τ).

All hot paths are Catalyst expressions (JVM codegen, map-side partial aggs);
no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks.table_sink import scratch_dir, scratch_table

# Mersenne prime for universal hashing; fits comfortably in long arithmetic
_MERSENNE = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_perm)]


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (text_hash, dup_count, keep_doc_id, doc_ids): groups with >1 doc."""
    h = docs.select(F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
    return (
        h.groupBy("text_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("dup_count") > 1)
    )


def word_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """→ (doc_id, shingle_hash long): distinct word n-gram hashes (JVM xxhash64).

    Docs with fewer than ``n`` tokens yield no shingles. The size guard is
    load-bearing: without it ``sequence(0, -1)`` descends and feeds
    ``slice(toks, 0, n)``, which throws at runtime on any short/empty doc
    (Spark sequence() auto-steps -1 when stop < start)."""
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col(text_col)), r"\s+").alias("toks")
    )
    grams = (
        toks.where(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks)-{n}), "
                    f"i -> concat_ws(' ', slice(toks, i+1, {n})))"
                )
            ).alias("shingle"),
        )
        .where(F.length("shingle") > 0)
    )
    return grams.select("doc_id", F.xxhash64("shingle").alias("shingle_hash")).distinct()


def minhash_signatures(
    shingles: DataFrame, num_perm: int = 32, seed: int = 7
) -> DataFrame:
    """→ (doc_id, sig array<long>): map-side-combinable min over permutations.

    Aggregate expressions are authored as ONE SQL string each (F.expr), not
    stacked Column ops: the DSL built ~8 py4j round-trips per permutation
    (~0.5 s of driver-serial plan construction per call at 32 permutations —
    guide §1.2 / the round-5 _intersect_catalyst lesson). Long arithmetic is
    exact, so the identical Catalyst tree yields identical signatures."""
    params = _perm_params(num_perm, seed)
    m = _MERSENNE
    mins = [
        F.expr(
            f"min(pmod({a}L * pmod(shingle_hash, {m}L) + {b}L, {m}L)) AS m{i}"
        )
        for i, (a, b) in enumerate(params)
    ]
    sig = shingles.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard): near-duplicate pairs with exact verify.

    Banding: ``bands`` buckets of ``num_perm/bands`` rows each; a pair is a
    candidate iff it collides in ≥1 band; the exact Jaccard over shingle sets
    decides (shingle sets re-joined — the verify is itself a shuffle join,
    not a driver loop).
    """
    rows = num_perm // bands
    # read 4× downstream (signatures, sizes, both sides of the verify join)
    # — a scratch table in this call's own directory, never executor-storage
    # .cache(): the shingle table is 5-10× the corpus in rows (docs/SCALE.md)
    sh = word_shingles(docs, text_col, shingle_n)
    sh = scratch_table(sh, scratch_dir(docs.sparkSession), "minhash-shingles")
    sig = minhash_signatures(sh, num_perm, seed)
    # one SQL string for the whole band array (same tree as the old stacked
    # struct/hash/slice Columns; SQL hash() IS F.hash, Murmur3 seed 42)
    band_sql = ", ".join(
        f"struct(CAST({b} AS INT) AS band, "
        f"hash(slice(sig, {b * rows + 1}, {rows})) AS bucket)"
        for b in range(bands)
    )
    banded = sig.select(
        "doc_id", F.explode(F.expr(f"array({band_sql})")).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _jaccard(cand, sh).where(F.col("jaccard") >= threshold)


def simhash_64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, simhash long): sign-aggregated 64-bit token simhash,
    computed bit-parallel in Catalyst (64 conditional sums)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.length("tok") > 0)
    h = toks.select("doc_id", F.xxhash64("tok").alias("th"))
    bit_sums = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = h.groupBy("doc_id").agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim + F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * F.lit(2**b if b < 63 else -(2**63))).otherwise(0)
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Candidate pairs sharing ≥1 of four 16-bit simhash chunks (guarantees
    recall for Hamming ≤ 3), verified by exact popcount."""
    sim = simhash_64(docs, text_col)
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    ).where(F.col("hamming") <= max_hamming).select("doc_a", "doc_b", "hamming")


def _jaccard(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """→ (doc_a, doc_b, jaccard) for every pair in ``pairs``: the exact
    Jaccard of the pair's shingle sets in ``shingles`` (doc_id,
    shingle_hash), from set sizes and a shingle-set intersection join. A
    pair sharing no shingle scores 0. A doc with no shingles (fewer than
    ``n`` words) has the empty set, so a pair with one such doc scores 0,
    and so does a pair of two, whose union is empty too."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sha = shingles.select(F.col("doc_id").alias("doc_a"), "shingle_hash")
    shb = shingles.select(F.col("doc_id").alias("doc_b"), "shingle_hash")
    inter = (
        pairs.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle_hash"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"),
            "doc_a",
            "left",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"),
            "doc_b",
            "left",
        )
        .na.fill(0, ["n_inter", "sz_a", "sz_b"])
        # the union is 0 only when both sets are empty, and then so is the
        # intersection: 0 / 1, where ANSI mode raises on 0 / 0
        .withColumn("jaccard", F.col("n_inter") / F.greatest(union, F.lit(1)))
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact word n-gram Jaccard for given (doc_a, doc_b) pairs."""
    return _jaccard(pairs, word_shingles(docs, text_col, n))
