"""Training-data operators (dedup / similarity / text stats / multimodal)
against brute-force oracles on the driver testdata tables (sf0.001)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_duplicates(spark, docs):
    from osmwaterwayextractor_spark.operators.dedup import exact_duplicates

    got = {r["text_hash"]: (r["dup_count"], r["keep_doc_id"]) for r in exact_duplicates(docs).collect()}
    rows = docs.select("doc_id", "text").collect()
    import hashlib
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        groups[hashlib.md5(r["text"].encode()).hexdigest()].append(r["doc_id"])
    want = {h: (len(ids), min(ids)) for h, ids in groups.items() if len(ids) > 1}
    assert got == want


def test_minhash_lsh_finds_real_dups(spark, docs):
    from osmwaterwayextractor_spark.operators.dedup import minhash_lsh_pairs

    # plant near-duplicates: copy 5 docs with a one-word suffix change
    base = docs.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
    )
    seeded = docs.select("doc_id", "text").unionByName(base)
    pairs = minhash_lsh_pairs(seeded, threshold=0.5).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    planted = {(r["doc_id"], r["doc_id"] + 1_000_000) for r in docs.limit(5).collect()}
    assert planted <= found
    for r in pairs:
        assert 0.5 <= r["jaccard"] <= 1.0


def test_ngram_jaccard_pairs_equal_python_set_jaccard(spark):
    import re

    from osmwaterwayextractor_spark.operators.dedup import ngram_jaccard_pairs

    texts = {
        1: "the river bends north past the old mill and the weir",
        2: "The river bends north past the old mill and the dam",
        3: "the river bends north past the old mill and the weir",
        4: "a canal joins the harbour basin below the lock gates",
        5: "the old mill and the weir the river bends north past",
        # fewer than n words: no shingles, the empty set
        6: "a b c d",
        7: "x y",
        8: "a b c e",
        9: "",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pairs = [(a, b) for a in texts for b in texts if a < b]
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, spark.createDataFrame(pairs, "doc_a long, doc_b long")
        ).collect()
    }

    def grams(text, n=3):
        toks = re.split(r"\s+", text.lower())
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    def jaccard(x, y):
        union = x | y
        return len(x & y) / len(union) if union else 0.0

    want = {(a, b): jaccard(grams(texts[a]), grams(texts[b])) for a, b in pairs}
    assert got == pytest.approx(want)
    assert got[(1, 3)] == 1.0 and got[(1, 4)] == 0.0 and 0 < got[(1, 2)] < 1
    # a pair with one empty set scores 0, and so does a pair of two
    assert got[(6, 7)] == 0.0 and got[(6, 8)] == pytest.approx(1 / 3)
    assert got[(7, 9)] == 0.0


def test_simhash_near_pairs(spark, docs):
    from osmwaterwayextractor_spark.operators.dedup import simhash_near_pairs

    base = docs.limit(3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), F.col("text")
    )
    seeded = docs.select("doc_id", "text").unionByName(base)
    pairs = simhash_near_pairs(seeded).collect()
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    for r in docs.limit(3).collect():
        assert found.get((r["doc_id"], r["doc_id"] + 2_000_000)) == 0  # identical text


def test_cosine_topk_and_lsh_recall(spark, emb):
    from osmwaterwayextractor_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_cosine_topk,
    )

    queries = emb.limit(10)
    exact = cosine_topk_bruteforce(queries, emb, k=3).collect()
    # brute-force NumPy oracle
    allv = emb.collect()
    mats = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in allv}
    for q in queries.collect():
        qv = np.array(q["embedding"], dtype=np.float64)
        sims = sorted(
            (
                (-float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))), vid)
                for vid, v in mats.items()
                if vid != q["vec_id"]
            )
        )[:3]
        want = [vid for _, vid in sims]
        got = [r["neighbor_id"] for r in exact if r["query_id"] == q["vec_id"]]
        assert got == want, q["vec_id"]
    # LSH path returns a subset ranking with decent top-1 hit rate
    from osmwaterwayextractor_spark.operators.similarity import embedding_dim

    approx = lsh_cosine_topk(
        queries, emb, k=3, n_planes=4, n_tables=8, dim=embedding_dim(emb)
    ).collect()
    exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    approx_top1 = {r["query_id"]: r["neighbor_id"] for r in approx if r["rank"] == 1}
    hits = sum(1 for qid, nid in exact_top1.items() if approx_top1.get(qid) == nid)
    assert hits >= len(exact_top1) * 0.5  # recall floor for 8 tables x 4 planes


def test_textstats(spark, docs):
    from osmwaterwayextractor_spark.operators.textstats import (
        with_fingerprint,
        with_lang_id,
        with_quality_score,
        with_token_count,
    )

    out = with_fingerprint(
        with_lang_id(with_quality_score(with_token_count(docs)))
    ).limit(200).collect()
    for r in out:
        toks = r["text"].strip().split()
        assert r["n_tokens"] == len([t for t in toks if t]) or r["n_tokens"] == len(toks)
        assert 0.0 <= r["quality_score"] <= 1.0
        assert r["lang_pred"] in {"en", "de", "fr", "es", "unknown"}
    # fingerprint is deterministic and text-keyed
    fp = {r["text"]: r["fingerprint"] for r in out}
    again = {r["text"]: r["fingerprint"] for r in with_fingerprint(docs).limit(200).collect()}
    for t, v in fp.items():
        assert again[t] == v


def test_multimodal_plumbing(spark):
    from osmwaterwayextractor_spark.operators.multimodal import (
        extract_features,
        resize_images,
        sample_frames,
        synthesize_media,
    )

    refs = spark.createDataFrame(
        [(f"s3://corpus/img-{i}.png",) for i in range(30)] + [("",)], ["media_ref"]
    )
    media = synthesize_media(refs).cache()
    assert media.count() == 30  # empty ref dropped
    feats = extract_features(media, feat_dim=16).collect()
    assert all(len(r["feature"]) == 16 and r["feat_dim"] == 16 for r in feats)
    thumbs = resize_images(media, max_side=64).collect()
    for r in thumbs:
        assert 1 <= r["thumb_w"] <= 64 and 1 <= r["thumb_h"] <= 64
    frames = sample_frames(media, every_n=10)
    vids = media.where("kind = 'video'").collect()
    if vids:
        got = frames.groupBy("media_id").count().collect()
        want = {v["media_id"]: (v["n_frames"] + 9) // 10 for v in vids}
        assert {r["media_id"]: r["count"] for r in got} == want
    # strict mode raises (the stub is clearly a stub)
    import pytest as _pytest

    with _pytest.raises(Exception):
        extract_features(media, strict=True).collect()
