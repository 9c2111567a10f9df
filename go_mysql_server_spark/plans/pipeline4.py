"""Round-2 LLM-pipeline operators, batch 3: IVF-probe ANN search and
repetition-based quality signals (Gopher-style duplicate-text heuristics).

Same oracle discipline as the rest of the catalog: declarative DataFrame
plans with exact DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.similarity import ivf_probe_topk, ivf_probe_topk_sql
from ..operators.text import tokens, tokens_sql
from ._util import sorted_result, t
from .registry import query

# ---- IVF probe ANN ----------------------------------------------------------


@query(
    "similarity_ivf_probe",
    oracle=ivf_probe_topk_sql() + " ORDER BY qid, rank",
)
def similarity_ivf_probe(spark, sf_dir):
    """IVF ANN: deterministic coarse quantizer (centroids = first 8 vectors),
    scan-side cell assignment from inlined centroid literals, probe the 2
    nearest cells per query, exact cosine top-k inside the probed cells
    (operators/similarity.py ivf_probe_topk). At 100 TB the corpus is
    written clustered by cell, so the probe is partition pruning."""
    emb = t(spark, sf_dir, "embeddings")
    return ivf_probe_topk(emb).orderBy("qid", "rank")


# ---- repetition / quality signals -------------------------------------------


@query(
    "pipeline_repetition_signals",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {tokens_sql("text")} AS ws FROM documents
),
grams AS (
  SELECT doc_id, 1 AS kind, unnest(ws) AS gram FROM base
  UNION ALL
  SELECT doc_id, 2 AS kind,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM base WHERE len(ws) >= 2
),
counts AS (
  SELECT doc_id, kind, gram, COUNT(*) AS cnt
  FROM grams GROUP BY doc_id, kind, gram
),
per AS (
  SELECT doc_id, kind, SUM(cnt) AS n, COUNT(*) AS d, MAX(cnt) AS top
  FROM counts GROUP BY doc_id, kind
)
SELECT doc_id,
       CAST(MAX(CASE WHEN kind = 1 THEN n END) AS BIGINT) AS n_words,
       ROUND(MAX(CASE WHEN kind = 1 THEN d END) * 1.0
             / MAX(CASE WHEN kind = 1 THEN n END), 6) AS uniq_word_frac,
       ROUND(MAX(CASE WHEN kind = 1 THEN top END) * 1.0
             / MAX(CASE WHEN kind = 1 THEN n END), 6) AS top_word_frac,
       ROUND(MAX(CASE WHEN kind = 2 THEN d END) * 1.0
             / MAX(CASE WHEN kind = 2 THEN n END), 6) AS uniq_bigram_frac,
       ROUND(MAX(CASE WHEN kind = 2 THEN top END) * 1.0
             / MAX(CASE WHEN kind = 2 THEN n END), 6) AS top_bigram_frac,
       (ROUND(MAX(CASE WHEN kind = 2 THEN top END) * 1.0
              / MAX(CASE WHEN kind = 2 THEN n END), 6) > 0.2
        OR ROUND(MAX(CASE WHEN kind = 1 THEN d END) * 1.0
                 / MAX(CASE WHEN kind = 1 THEN n END), 6) < 0.3)
         AS is_repetitive
FROM per GROUP BY doc_id
ORDER BY doc_id
""",
)
def pipeline_repetition_signals(spark, sf_dir):
    """Repetition quality signals per document — unique-word fraction,
    most-frequent-word fraction, and the bigram twins (the Gopher /
    MassiveText repetition filters). Relational shape: one explode of
    unigrams+bigrams tagged by kind, a (doc, kind, gram) count with
    map-side combine, then a per-(doc, kind) rollup — two exchanges,
    both keyed by doc_id so gram hot keys are bounded by document
    length, never by corpus size."""
    from ..operators.scale import spread

    # r9: scale-adaptive fan-out of the single-split scan before the
    # two-branch gram explode (A/B: 1.44 -> 1.05 s noop at sf0.1)
    docs = spread(t(spark, sf_dir, "documents"), "doc_id")
    base = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
    bigrams = F.when(
        F.size("ws") >= 2,
        F.expr("transform(sequence(0, size(ws) - 2),"
               " i -> concat(ws[i], ' ', ws[i + 1]))"),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        "doc_id", F.lit(1).alias("kind"), F.explode("ws").alias("gram")
    ).unionAll(
        base.select("doc_id", F.lit(2).alias("kind"),
                    F.explode(bigrams).alias("gram"))
    )
    per = (
        grams.groupBy("doc_id", "kind", "gram").agg(F.count("*").alias("cnt"))
        .groupBy("doc_id", "kind")
        .agg(F.sum("cnt").alias("n"), F.count("*").alias("d"),
             F.max("cnt").alias("top"))
    )

    def of(kind: int, col: str):
        return F.max(F.when(F.col("kind") == kind, F.col(col)))

    uniq_w = F.round(of(1, "d") / of(1, "n"), 6)
    top_bi = F.round(of(2, "top") / of(2, "n"), 6)
    return (
        per.groupBy("doc_id")
        .agg(
            of(1, "n").cast("long").alias("n_words"),
            uniq_w.alias("uniq_word_frac"),
            F.round(of(1, "top") / of(1, "n"), 6).alias("top_word_frac"),
            F.round(of(2, "d") / of(2, "n"), 6).alias("uniq_bigram_frac"),
            top_bi.alias("top_bigram_frac"),
            ((top_bi > 0.2) | (uniq_w < 0.3)).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


# ---- domain / language mixture rebalancing ----------------------------------

_MIX_WEIGHTS = (("en", 0.40), ("zh", 0.20), ("de", 0.15),
                ("fr", 0.15), ("es", 0.10))

_MIX_WEIGHTS_SQL = ", ".join(f"('{l}', {w})" for l, w in _MIX_WEIGHTS)


from ..operators.hashing import seeded_sql as _seeded_sql  # noqa: E402
from ..operators.text import token_count_sql as _tc_sql  # noqa: E402

@query(
    "pipeline_domain_mix",
    oracle=f"""
WITH w(lang, tw) AS (VALUES {_MIX_WEIGHTS_SQL}),
avail AS MATERIALIZED (
  SELECT lang, SUM({_tc_sql("text")}) AS avail_tokens
  FROM documents GROUP BY lang
),
scale AS (
  -- largest corpus N with tw*N <= avail for every lang (binding domain)
  SELECT MIN(avail_tokens / tw) AS n_target
  FROM avail JOIN w USING (lang)
),
rates AS (
  SELECT a.lang, w.tw, a.avail_tokens,
         LEAST(1.0, w.tw * s.n_target / a.avail_tokens) AS rate
  FROM avail a JOIN w ON a.lang = w.lang CROSS JOIN scale s
),
kept AS (
  SELECT d.lang,
         CAST(COUNT(*) AS BIGINT) AS kept_docs,
         CAST(SUM({_tc_sql("d.text")}) AS BIGINT) AS kept_tokens
  FROM documents d JOIN rates r ON d.lang = r.lang
  WHERE {_seeded_sql("CAST(d.doc_id AS VARCHAR)", 911)} % 1000000
        < CAST(r.rate * 1000000 AS BIGINT)
  GROUP BY d.lang
)
SELECT r.lang, CAST(r.tw AS DOUBLE) AS target_weight,
       CAST(r.avail_tokens AS BIGINT) AS avail_tokens,
       CAST(ROUND(r.rate, 6) AS DOUBLE) AS accept_rate,
       COALESCE(k.kept_docs, 0) AS kept_docs,
       COALESCE(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN kept k ON r.lang = k.lang
ORDER BY r.lang
""",
)
def pipeline_domain_mix(spark, sf_dir):
    """Token-weighted mixture rebalancing (the Pile / Dolma recipe step):
    given target language weights, find the largest corpus size whose
    per-language token needs fit inside availability (the binding-domain
    min), derive per-language acceptance rates, and keep documents by a
    deterministic md5-threshold coin so both engines select the identical
    subset.

    Scale shape: two aggregates over documents (availability, kept) plus a
    5-row broadcast of weights/rates — no shuffle of the corpus itself; at
    100 TB the acceptance filter is scan-side and the only exchanges are
    per-language partial aggregates. Reference has no mixing operator
    (additive LLM-pipeline surface)."""
    from ..operators.hashing import seeded
    from ..operators.text import token_count

    # r9 note: a spread() here was measured SLOWER (0.77 -> 0.96 s noop at
    # sf0.1) — token_count is one split() per row, too cheap to amortize
    # the extra exchange. Left as a single pass + checkpoint.
    docs = t(spark, sf_dir, "documents")
    weights = spark.createDataFrame(list(_MIX_WEIGHTS), "lang string, tw double")
    # one pass over the corpus text: checkpoint the 3-column projection
    # (lang, tokens, coin) so availability AND the kept-subset aggregate
    # read it instead of re-scanning/re-tokenizing 100 TB of text twice
    per_doc = docs.select(
        "lang",
        token_count(F.col("text")).alias("n_tok"),
        (seeded(F.col("doc_id").cast("string"), 911) % 1000000)
        .alias("coin"),
    ).localCheckpoint(eager=False)
    avail = per_doc.groupBy("lang").agg(
        F.sum("n_tok").alias("avail_tokens"))
    aw = avail.join(F.broadcast(weights), "lang")
    scale = aw.agg(F.min(F.col("avail_tokens") / F.col("tw")).alias("n_target"))
    rates = (
        aw.join(F.broadcast(scale))
        .select(
            "lang", "tw", "avail_tokens",
            F.least(F.lit(1.0),
                    F.col("tw") * F.col("n_target") / F.col("avail_tokens"))
            .alias("rate"),
        )
    )
    kept = (
        per_doc.join(F.broadcast(rates), "lang")
        .filter(F.col("coin") < (F.col("rate") * 1000000).cast("long"))
        .groupBy("lang")
        .agg(F.count("*").alias("kept_docs"),
             F.sum("n_tok").cast("long").alias("kept_tokens"))
    )
    return sorted_result(
        rates.join(kept, "lang", "left")
        .select(
            "lang", F.col("tw").alias("target_weight"),
            F.col("avail_tokens").cast("long").alias("avail_tokens"),
            F.round("rate", 6).alias("accept_rate"),
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        ),
        "lang",
    )
