"""LLM training-data pipeline queries — dedup, similarity, text analysis.

Registry wrappers over operators/{dedup,similarity,text}.py, each paired
with its exact DuckDB oracle so the driver's hash gate covers them like any
relational operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity
from ..operators.scale import spread
from ..operators.text import (
    bpe_token_count,
    bpe_token_count_sql,
    fingerprint_md5,
    fingerprint_md5_sql,
    langid_of_tokens,
    langid_sql,
    min_shingle_fingerprint_of_tokens,
    min_shingle_fingerprint_sql,
    tokens,
    quality_score_of_tokens,
    quality_score_sql,
    token_count_of_tokens,
    token_count_sql,
)
from ._util import sorted_result, t
from .registry import query


@query(
    "dedup_exact",
    oracle="WITH seeded_docs AS (\n"
           "  SELECT doc_id, text FROM documents\n"
           "  UNION ALL\n"
           "  SELECT doc_id + 1000000 AS doc_id, text FROM documents\n"
           "  WHERE doc_id < 5\n"
           ")\n"
           + dedup.exact_duplicates_sql(table="seeded_docs")
           + " ORDER BY canonical_id",
)
def dedup_exact(spark, sf_dir):
    # the corpus has no natural byte-identical pair at sf0.01 (r6 verdict:
    # vacuous zero-row oracle), so seed five known duplicates — re-keyed
    # copies of doc_id 0..4 — before the hash-groupBy; the operator must
    # collapse each pair to (original_id, 2)
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = docs.unionByName(
        docs.filter(F.col("doc_id") < 5)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return dedup.exact_duplicates(seeded).orderBy("canonical_id")


@query(
    "dedup_minhash_lsh",
    oracle=dedup.minhash_candidate_pairs_sql() + " ORDER BY a, b",
)
def dedup_minhash_lsh(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return sorted_result(dedup.minhash_candidate_pairs(docs), "a", "b")


@query("dedup_simhash", oracle=dedup.simhash_sql() + " ORDER BY doc_id")
def dedup_simhash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return sorted_result(dedup.simhash(docs), "doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle=dedup.ngram_jaccard_pairs_sql() + " ORDER BY a, b",
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs).orderBy("a", "b")


@query(
    "similarity_topk_cosine",
    oracle=similarity.brute_force_topk_sql() + " ORDER BY qid, rank",
)
def similarity_topk_cosine(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    # 5 queries x k=5: bounded, so a top-k instead of a sorted exchange
    return (similarity.brute_force_topk(emb, queries, k=5)
            .orderBy("qid", "rank").limit(5 * 5))


@query(
    "similarity_lsh_ann",
    oracle=similarity.lsh_topk_sql() + " ORDER BY qid, rank",
)
def similarity_lsh_ann(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(spark, emb, k=3, n_queries=5).orderBy("qid", "rank")


@query(
    "text_features",
    oracle=f"""
SELECT doc_id,
       {token_count_sql('text')} AS n_tokens,
       {bpe_token_count_sql('text')} AS n_bpe_tokens,
       {langid_sql('text')} AS pred_lang,
       {quality_score_sql('text')} AS quality
FROM documents
ORDER BY doc_id
""",
)
def text_features(spark, sf_dir):
    """Language-ID + quality + token counting in one JVM-side projection."""
    c = F.col("text")
    # Tokenize once into a column: each per-language stopword filter is an
    # interpreted HOF, and CSE does not reach fallback children — inline
    # tokens() would re-split per reference (see langid_of_tokens).
    return sorted_result(
        spread(t(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", c, tokens(c).alias("_toks"))
        .select(
            "doc_id",
            token_count_of_tokens(F.col("_toks")).alias("n_tokens"),
            bpe_token_count(c).alias("n_bpe_tokens"),
            langid_of_tokens(F.col("_toks")).alias("pred_lang"),
            quality_score_of_tokens(c, F.col("_toks")).alias("quality"),
        ),
        "doc_id",
    )


@query(
    "text_fingerprints",
    oracle=f"""
SELECT doc_id,
       {fingerprint_md5_sql('text')} AS fp_md5,
       {min_shingle_fingerprint_sql('text')} AS fp_shingle
FROM documents
ORDER BY doc_id
""",
)
def text_fingerprints(spark, sf_dir):
    c = F.col("text")
    # Tokenize once into a column: the shingle lambda inside the rolling
    # fingerprint would otherwise re-run the split per shingle position
    # (interpreted HOF path, r9 A/B 7.5x — see shingles_of_tokens).
    return (
        spread(t(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", c, tokens(c).alias("_toks"))
        .select(
            "doc_id",
            fingerprint_md5(c).alias("fp_md5"),
            min_shingle_fingerprint_of_tokens(
                F.col("_toks")).alias("fp_shingle"),
        )
        .orderBy("doc_id")
    )


@query(
    "multimodal_decode",
    oracle=multimodal.decode_images_sql() + " ORDER BY doc_id",
)
def multimodal_decode(spark, sf_dir):
    """Binary media column → typed metadata via Arrow-batched mapInPandas
    (deterministic fake decode; see operators/multimodal.py).

    r9: the repartition before the Python stage is GONE — mapInPandas
    needs no particular partitioning, and the per-partition Python worker
    dispatch (~30-40 ms each) dwarfed the decode itself: 32 partitions
    measured 1.06 s vs 0.42 s on the natural scan split (guide §2.4
    remove shuffles outright; §4 fewer, larger batches across the
    boundary). On a cluster the scan's own splits provide parallelism."""
    docs = t(spark, sf_dir, "documents")
    images = multimodal.documents_as_images(docs)
    return sorted_result(multimodal.decode_images(images), "doc_id")


@query(
    "multimodal_decode_bmp",
    oracle="""
SELECT doc_id,
       'bmp' AS format,
       CAST(4 + doc_id % 5 AS INT) AS width,
       CAST(3 + doc_id % 4 AS INT) AS height,
       ROUND(CAST(doc_id % 256 AS DOUBLE), 3) AS mean_r,
       ROUND(CAST((doc_id * 3) % 256 AS DOUBLE), 3) AS mean_g,
       ROUND(CAST((doc_id * 5) % 256 AS DOUBLE), 3) AS mean_b
FROM documents WHERE doc_id < 64
ORDER BY doc_id
""",
)
def multimodal_decode_bmp(spark, sf_dir):
    """REAL image decode (r6 verdict task 9): synthesize valid 24bpp BMP
    files (doc_id-derived dimensions + solid fill), then parse the actual
    bytes — header fields, bottom-up rows, 4-byte stride padding, BGR
    order — inside Arrow-batched mapInPandas
    (operators/multimodal.py _parse_bmp). The oracle states the expected
    width/height/channel means in closed form from the generation rule,
    so a decoder that misreads the pixel array (wrong stride, RGB/BGR
    swap, top-down rows) hash-mismatches."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    images = multimodal.synthesize_bmp(docs)
    out = multimodal.decode_images_rgb(images)
    return out.select(
        "doc_id", "format", "width", "height",
        F.round("mean_r", 3).alias("mean_r"),
        F.round("mean_g", 3).alias("mean_g"),
        F.round("mean_b", 3).alias("mean_b"),
    ).orderBy("doc_id")


@query(
    "multimodal_patch_stats",
    oracle="""
SELECT doc_id,
       CAST(CEIL(octet_length(encode(text)) / 32.0) AS BIGINT) AS n_patches,
       CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes
FROM documents
ORDER BY doc_id
""",
)
def multimodal_patch_stats(spark, sf_dir):
    """1→N patch sampling through mapInPandas, verified via per-doc patch
    counts and reassembled byte totals."""
    docs = t(spark, sf_dir, "documents")
    images = multimodal.documents_as_images(docs)
    patches = multimodal.patch_images(images, patch_size=32)
    return (
        patches.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_patches"),
            F.sum(F.octet_length("patch_bytes")).alias("total_bytes"),
        )
        .orderBy("doc_id")
    )


@query(
    "langid_accuracy_by_source",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {langid_sql('text')} = lang THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pred_match
FROM documents
GROUP BY source
ORDER BY source
""",
)
def langid_accuracy_by_source(spark, sf_dir):
    """Aggregated text-analysis: predicted-vs-labeled language per source."""
    docs = t(spark, sf_dir, "documents")
    # Materialized token column: langid's four per-language HOF filters
    # would each re-run the split otherwise (see langid_of_tokens).
    return (
        docs.select("source", "lang", tokens(F.col("text")).alias("_toks"))
        .select("source", "lang", langid_of_tokens(F.col("_toks")).alias("pred"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pred") == F.col("lang"), 1).otherwise(0)).alias(
                "n_pred_match"
            ),
        )
        .orderBy("source")
    )


@query(
    "multimodal_framesample",
    oracle=multimodal.framesample_sql() + " ORDER BY doc_id, frame_ord",
)
def multimodal_framesample(spark, sf_dir):
    """Video-style keyframe sampling over binary payloads — Arrow
    mapInPandas, 1→N rows with ordinality + per-frame hash, no shuffle
    (operators/multimodal.py framesample)."""
    docs = t(spark, sf_dir, "documents")
    images = multimodal.documents_as_images(docs)
    return multimodal.framesample(images).orderBy("doc_id", "frame_ord")
