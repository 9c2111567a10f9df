"""Round-3 training-data pipeline batch: rule-based quality filtering,
training-sequence packing, and a model-based (char-bigram LM) fluency score.

Three more stages of the 100 TB corpus-build story, each with an exact
DuckDB twin:

- pipeline_quality_rules: the Gopher/C4-style *rule suite* as per-rule
  failure accounting. Every rule is a pure Column expression over one scan;
  the only shuffle is the per-source aggregate (20 groups).
- pipeline_sequence_packing: concat-and-chunk packing of documents into
  fixed token-budget training sequences. The window is partitioned by
  (source, lang) — never a global sort — so packing parallelizes across
  partitions at any corpus size; all arithmetic is integer-exact.
- pipeline_char_lm_score: a tiny character-bigram language model trained
  on one source, broadcast as a literal map, scoring the whole corpus
  scan-side. The "perplexity filter" shape (CCNet's KenLM stage) with a
  deterministic integer formulation: frequencies-per-million are floored
  ints, so sums are associative and the hash can't drift cross-engine.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ..operators.text import normalize_text, normalize_text_sql, tokens, tokens_sql
from ._util import sorted_result, t
from ..operators.scale import spread
from .registry import query

_QR_STOPWORDS = ("the", "of", "and", "to", "in", "a", "is", "for")

SEQ_BUDGET = 256  # tokens per packed training sequence


@query(
    "pipeline_quality_rules",
    oracle=f"""
WITH feat AS (
  SELECT source,
         len({tokens_sql('text')}) AS n_tok,
         length(regexp_replace(lower(trim(text)), ' +', '', 'g'))
           / CAST(len({tokens_sql('text')}) AS DOUBLE) AS mean_wlen,
         len(list_distinct({tokens_sql('text')}))
           / CAST(len({tokens_sql('text')}) AS DOUBLE) AS distinct_ratio,
         len(list_filter({tokens_sql('text')},
             x -> x IN ({', '.join(f"'{w}'" for w in _QR_STOPWORDS)}))) AS n_sw
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tok < 15 THEN 1 ELSE 0 END) AS BIGINT) AS r_too_short,
       CAST(SUM(CASE WHEN n_tok > 90 THEN 1 ELSE 0 END) AS BIGINT) AS r_too_long,
       CAST(SUM(CASE WHEN mean_wlen < 2 OR mean_wlen > 12 THEN 1 ELSE 0 END) AS BIGINT)
         AS r_word_len,
       CAST(SUM(CASE WHEN distinct_ratio < 0.4 THEN 1 ELSE 0 END) AS BIGINT)
         AS r_repetitive,
       CAST(SUM(CASE WHEN n_sw < 1 THEN 1 ELSE 0 END) AS BIGINT) AS r_no_stopword,
       CAST(SUM(CASE WHEN n_tok BETWEEN 15 AND 90
                      AND mean_wlen BETWEEN 2 AND 12
                      AND distinct_ratio >= 0.4
                      AND n_sw >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM feat
GROUP BY source
ORDER BY source
""",
)
def pipeline_quality_rules(spark, sf_dir):
    """Gopher-style quality-rule suite (Rae et al. 2021 §A1.1 shape): word
    count band, mean word length band, distinct-token repetition ratio,
    stopword presence — reported as per-rule failure counts per source plus
    the all-rules 'kept' count. One scan, pure Column expressions, one
    20-group aggregate; at 100 TB this is scan-bound with a trivial shuffle.
    (No reference analogue — GMS has no corpus operators; LLM-pipeline
    requirement.)"""
    docs = t(spark, sf_dir, "documents")
    # Materialized token column: the stopword F.filter is an interpreted
    # HOF and CSE skips fallback children — an inline tokens() would run
    # the split a second time per row (see langid_of_tokens).
    toks = F.col("_toks")
    n_tok = F.size(toks)
    mean_wlen = (
        F.length(F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", ""))
        / n_tok.cast("double")
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok.cast("double")
    n_sw = F.size(F.filter(toks, lambda x: x.isin(*_QR_STOPWORDS)))
    feat = docs.select(
        "source", "text", tokens(F.col("text")).alias("_toks"),
    ).select(
        "source",
        n_tok.alias("n_tok"),
        mean_wlen.alias("mean_wlen"),
        distinct_ratio.alias("distinct_ratio"),
        n_sw.alias("n_sw"),
    )
    c = F.col
    flag = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    return sorted_result(
        feat.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            flag(c("n_tok") < 15).alias("r_too_short"),
            flag(c("n_tok") > 90).alias("r_too_long"),
            flag((c("mean_wlen") < 2) | (c("mean_wlen") > 12)).alias("r_word_len"),
            flag(c("distinct_ratio") < 0.4).alias("r_repetitive"),
            flag(c("n_sw") < 1).alias("r_no_stopword"),
            flag(
                c("n_tok").between(15, 90)
                & c("mean_wlen").between(2, 12)
                & (c("distinct_ratio") >= 0.4)
                & (c("n_sw") >= 1)
            ).alias("kept"),
        ),
        "source",
    )


@query(
    "pipeline_sequence_packing",
    oracle=f"""
WITH toks AS (
  SELECT source, lang, doc_id,
         CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tok
  FROM documents
),
offs AS (
  SELECT source, lang, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY source, lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tok AS start_off
  FROM toks
),
seqs AS (
  SELECT source, lang, start_off // {SEQ_BUDGET} AS seq_no,
         CAST(COUNT(*) AS BIGINT) AS docs_in_seq,
         CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
  FROM offs
  GROUP BY source, lang, seq_no
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       CAST(SUM(docs_in_seq) AS BIGINT) AS n_docs,
       CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(docs_in_seq) AS BIGINT) AS max_docs_per_seq,
       ROUND(SUM(seq_tokens) / (COUNT(*) * {SEQ_BUDGET}.0), 6) AS fill_ratio
FROM seqs
GROUP BY source, lang
ORDER BY source, lang
""",
)
def pipeline_sequence_packing(spark, sf_dir):
    """Concat-and-chunk packing of documents into {SEQ_BUDGET}-token
    training sequences (the GPT-style pretraining tokenizer-sharding step):
    within each (source, lang) stream ordered by doc_id, a document belongs
    to the sequence its starting token offset falls in. One window cumsum
    partitioned by (source, lang) — no global sort, so the packing
    parallelizes across stream partitions at 100 TB — then two small
    aggregates. All token arithmetic is integer-exact. (No reference
    analogue; LLM-pipeline requirement.)"""
    docs = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    n_tok = F.size(tokens(F.col("text"))).cast("long")
    w = (
        Window.partitionBy("source", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = docs.select(
        "source", "lang", "doc_id", n_tok.alias("n_tok")
    ).withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    seqs = (
        offs.withColumn(
            "seq_no", F.floor(F.col("start_off") / F.lit(SEQ_BUDGET))
        )
        .groupBy("source", "lang", "seq_no")
        .agg(
            F.count("*").alias("docs_in_seq"),
            F.sum("n_tok").alias("seq_tokens"),
        )
    )
    return sorted_result(
        seqs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_seqs"),
            F.sum("docs_in_seq").cast("long").alias("n_docs"),
            F.sum("seq_tokens").cast("long").alias("total_tokens"),
            F.max("docs_in_seq").cast("long").alias("max_docs_per_seq"),
            F.round(
                F.sum("seq_tokens") / (F.count("*") * float(SEQ_BUDGET)), 6
            ).alias("fill_ratio"),
        ),
        "source", "lang",
    )


_BIGRAMS_SQL_TMPL = (
    "list_transform(range(1, length({norm})), i -> substr({norm}, i, 2))"
)


def _bigrams_col(norm):
    # length >= 2 always holds here (min doc is 10 tokens), but guard anyway:
    # Spark's sequence(1, 0) would produce a DESCENDING [1, 0] rather than
    # an empty list, silently fabricating bigrams for 1-char docs.
    return F.when(
        F.length(norm) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - 1),
            lambda i: F.substring(norm, i, 2),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query(
    "pipeline_char_lm_score",
    oracle=f"""
WITH train AS (
  SELECT unnest({_BIGRAMS_SQL_TMPL.format(norm='norm')}) AS g
  FROM (SELECT {normalize_text_sql('text')} AS norm
        FROM documents WHERE source = 'src0')
),
counts AS (SELECT g, COUNT(*) AS c FROM train GROUP BY g),
tot AS (SELECT SUM(c) AS s FROM counts),
fpm AS (
  SELECT g, CAST(FLOOR(c * 1000000.0 / s) AS BIGINT) AS fpm
  FROM counts, tot
),
doc_g AS (
  SELECT doc_id, source, unnest({_BIGRAMS_SQL_TMPL.format(norm='norm')}) AS g
  FROM (SELECT doc_id, source, {normalize_text_sql('text')} AS norm
        FROM documents)
),
scored AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(COALESCE(f.fpm, 0)) AS BIGINT) AS score_sum
  FROM doc_g LEFT JOIN fpm f USING (g)
  GROUP BY doc_id, source
)
SELECT doc_id, source, n_bigrams, score_sum,
       CAST(FLOOR(score_sum * 1.0 / n_bigrams) AS BIGINT) AS avg_fpm
FROM scored
ORDER BY doc_id
""",
)
def pipeline_char_lm_score(spark, sf_dir):
    """Model-based fluency scoring (the CCNet/KenLM 'perplexity filter'
    stage): train a character-bigram frequency model on one source (src0),
    broadcast the ~114-row frequency table, and score every document as
    the sum of its bigrams' frequencies-per-million.

    Determinism: fpm values are FLOOR'd integers, so per-doc sums are
    associative (no float summation-order drift) and avg_fpm is an exact
    integer division.

    Scale/perf shape — explode → broadcast-hash-join → re-aggregate, all
    whole-stage-codegen: the bigram blow-up exists only INSIDE the scan
    stage (pipelined, never materialized); map-side partial aggregation
    collapses it back to one row per doc before the exchange. Two earlier
    scan-side formulations lost by wide margins: a map literal inside the
    aggregate lambda re-built the map per element (70×), and even
    materialized per-row the interpreted higher-order-function lookup plus
    a per-plan-instance 30 s codegen compile of the 228-literal expression
    made each bench rep ~10× slower than this join. The norm column is
    materialized BEFORE the bigram lambda — referencing the regexp
    normalization expression inside it re-ran the regexp per element.
    (No reference analogue; LLM-pipeline requirement.)"""
    # Spread the single-split scan across the session's cores BEFORE the
    # normalize+explode projection: the testdata parquet is one row group
    # (one task), so without this the whole bigram blow-up runs
    # single-threaded (r9 profile: 2.8 s noop, scan stage = 1 task). The
    # shuffle moves only the raw text once; on a multi-split cluster input
    # it is a cheap rebalance (guide §2.5 input skew).
    docs = spread(t(spark, sf_dir, "documents"), "doc_id").withColumn(
        "_norm", normalize_text(F.col("text")))
    bigrams = _bigrams_col(F.col("_norm"))

    # r9: the model never leaves Spark — the old form collect()ed the
    # bigram counts, re-derived fpm in Python and createDataFrame'd them
    # back (a driver round-trip + an extra job). The total is a window
    # SUM over the ~114-row counts relation (bounded by charset², so the
    # SinglePartition window is safe at any corpus size), and the model
    # subtree builds directly inside the scoring job's broadcast
    # (guide §1.2: fewer passes; §5: keep the driver out of the data
    # path). Same IEEE-double formula: c * 1000000.0 / s, floored.
    from pyspark.sql import Window

    # r9 (session 2): pre-aggregate the probe side to (doc, g) counts and
    # put an explicit exchange between that aggregate and the broadcast
    # join. Two effects, both measured (interleaved A/B, min-of-6:
    # 1.53 s vs 1.75 s):
    #  - the heavy explode+partial-agg map stage no longer sits in the
    #    same stage as the join, so it is scheduled CONCURRENTLY with the
    #    model-branch build instead of waiting for the broadcast (guide
    #    §2.6 overlap; the broadcast barrier serialized ~0.6 s of model
    #    stages before any probe work could start);
    #  - the exchange moves per-(doc,bigram) COUNTS, not exploded rows —
    #    aggregate-before-shuffle (guide §2.3), ≤ charset² rows per doc.
    # The repartition key is (doc_id, source) — full-cardinality and
    # skew-free at any scale (g alone has only ~charset² distinct values,
    # which would cap reducer parallelism on a cluster), and the final
    # per-doc aggregate REUSES this partitioning, so it adds no exchange
    # of its own.
    grp = (
        docs.select("doc_id", "source", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "source", "g")
        .agg(F.count("*").alias("n_dg"))
        .repartition(F.col("doc_id"), F.col("source"))
    )

    # r10: the model's per-bigram counts are written as a regrouping of
    # the shared (doc, source, g) aggregate — SUM(n_dg) regrouped by g is
    # exactly COUNT(*) over exploded src0 bigrams. The plan does NOT
    # reuse grp's exchange for it: Catalyst pushes the `source = 'src0'`
    # filter below the shared aggregate, so the model branch is a
    # separate scan with that filter pushed into the parquet reader (see
    # the committed plans/r10/pipeline_char_lm_score_after.txt), which
    # normalizes and explodes only the src0 docs. Interleaved A/B
    # (min-of-6, noop): sf0.1 1.39→1.14 s, sf1 3.15→3.15 s, result
    # diff 0.
    counts = (
        grp.filter(F.col("source") == "src0")
        .groupBy("g")
        .agg(F.sum("n_dg").alias("c"))
    )
    fpm_df = counts.select(
        "g",
        F.floor(F.col("c") * F.lit(1000000.0)
                / F.sum("c").over(Window.partitionBy()))
        .cast("long").alias("fpm"),
    )
    return sorted_result(
        grp.join(F.broadcast(fpm_df), "g", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n_dg").cast("long").alias("n_bigrams"),
            F.sum(F.col("n_dg") * F.coalesce(F.col("fpm"), F.lit(0)))
            .cast("long").alias("score_sum"),
        )
        .withColumn(
            "avg_fpm",
            F.floor(F.col("score_sum") / F.col("n_bigrams")).cast("long"),
        ),
        "doc_id",
    )


M_SUB = 8        # PQ subspaces
SUB_DIM = 8      # dims per subspace (64-dim embeddings)
PQ_K = 4         # codes per subspace


@query(
    "similarity_pq_quantize",
    oracle=f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cb AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, e
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {PQ_K})
),
sub AS (
  SELECT v.vec_id, m.m, c.code,
         list_sum(list_transform(range(1, {SUB_DIM + 1}),
           i -> (v.e[m.m * {SUB_DIM} + i] - c.e[m.m * {SUB_DIM} + i])
              * (v.e[m.m * {SUB_DIM} + i] - c.e[m.m * {SUB_DIM} + i]))) AS d
  FROM v
  CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS m) m
  CROSS JOIN cb c
),
a AS (
  SELECT vec_id, m, code, d FROM (
    SELECT vec_id, m, code, d,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM sub
  ) WHERE rn = 1
)
SELECT vec_id,
       array_to_string(list(code ORDER BY m), ',') AS codes_csv,
       ROUND(list_sum(list(d ORDER BY m)) / {M_SUB * SUB_DIM}, 8) AS recon_mse
FROM a
GROUP BY vec_id
ORDER BY vec_id
""",
)
def similarity_pq_quantize(spark, sf_dir):
    """Product quantization (the PQ half of an IVF-PQ vector index): split
    each 64-dim embedding into {M_SUB} subvectors of {SUB_DIM} dims, assign
    each to the nearest of {PQ_K} codebook entries per subspace, report the
    code word and reconstruction MSE.

    Codebooks are deterministic by construction (the {PQ_K} lowest-id
    vectors' subvectors — the seeded-init discipline of
    similarity_kmeans_ivf) and tiny, so they inline as literal arrays and
    the WHOLE assignment is a scan-side projection: zero shuffles over the
    corpus, the property that matters when the corpus is 100 TB and the
    codebook is {PQ_K}×64 doubles. The literal codebook is materialized
    once per row (`_cb` column) — Catalyst won't constant-fold array
    constructors inside higher-order-function lambdas (see
    pipeline_char_lm_score). Distances accumulate in fixed index order on
    both engines, so the oracle hash can't drift."""
    emb = t(spark, sf_dir, "embeddings")
    seed = [r["embedding"] for r in
            emb.orderBy("vec_id").limit(PQ_K).collect()]

    # Codebook + pick expressions rendered as SQL TEXT, one F.expr parse
    # each (r9 §5: the Column-API form built PQ_K×64 literals plus 32
    # aggregate-HOF lambdas through py4j — ~1.6 s of driver time per plan
    # build). CAST('<repr>' AS DOUBLE) parses exactly; arithmetic and the
    # oracle hash are unchanged.
    def dlit(x: float) -> str:
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    cb_sql = "array(" + ", ".join(
        "array(" + ", ".join(dlit(x) for x in vec) + ")" for vec in seed
    ) + ")"
    df = (emb.withColumn("_cb", F.expr(cb_sql))
          .withColumn("_e",
                      F.expr("transform(embedding,"
                             " x -> CAST(x AS DOUBLE))")))

    def sub_dist_sql(m: int, code: int) -> str:
        # L2² over dims [m*SUB_DIM, (m+1)*SUB_DIM) in fixed index order
        return (f"aggregate(sequence(0, {SUB_DIM - 1}), "
                f"CAST(0.0 AS DOUBLE), (acc, i) -> acc + POW("
                f"element_at(_e, {m * SUB_DIM} + i + 1) - "
                f"element_at(element_at(_cb, {code + 1}), "
                f"{m * SUB_DIM} + i + 1), 2))")

    picks_sql = "array(" + ", ".join(
        "array_min(array(" + ", ".join(
            f"named_struct('d', {sub_dist_sql(m, c)}, 'c', {c})"
            for c in range(PQ_K)) + "))"
        for m in range(M_SUB)) + ")"
    # CSV-joined, not array<int>: the driver canonicalizer can't hash list
    # cells (see pipeline_embedding_quantize / r3 red row).
    out = df.withColumn("_picks", F.expr(picks_sql)).select(
        "vec_id",
        F.array_join(
            F.transform(F.col("_picks"), lambda s: s["c"]), ","
        ).alias("codes_csv"),
        F.round(
            F.aggregate(F.col("_picks"), F.lit(0.0),
                        lambda acc, s: acc + s["d"])
            / F.lit(float(M_SUB * SUB_DIM)), 8,
        ).alias("recon_mse"),
    )
    return out.orderBy("vec_id")


IVFPQ_NCELLS = 8
IVFPQ_NPROBE = 2
IVFPQ_K = 3
IVFPQ_NQ = 5


@query(
    "similarity_ivf_pq_search",
    oracle=f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cents AS (SELECT vec_id AS cell, e AS cvec FROM v WHERE vec_id < {IVFPQ_NCELLS}),
cb AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, e
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {PQ_K})
),
cellscore AS (
  SELECT b.vec_id, c.cell,
         ROUND(list_sum(list_transform(range(1, 65), i -> b.e[i] * c.cvec[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> c.cvec[i] * c.cvec[i])))),
               6) AS score
  FROM v b CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM cellscore) a
  WHERE rn = 1
),
probe AS (
  SELECT vec_id AS qid, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM cellscore WHERE vec_id < {IVFPQ_NQ}) p
  WHERE rn <= {IVFPQ_NPROBE}
),
subassign AS (
  SELECT v.vec_id, m.m, c.code,
         list_sum(list_transform(range(1, {SUB_DIM + 1}),
           i -> (v.e[m.m * {SUB_DIM} + i] - c.e[m.m * {SUB_DIM} + i])
              * (v.e[m.m * {SUB_DIM} + i] - c.e[m.m * {SUB_DIM} + i]))) AS d
  FROM v
  CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS m) m
  CROSS JOIN cb c
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM subassign) s
  WHERE rn = 1
),
adc AS (
  SELECT p.qid, a.vec_id, a.cell, cd.m,
         list_sum(list_transform(range(1, {SUB_DIM + 1}),
           i -> (q.e[cd.m * {SUB_DIM} + i] - cb.e[cd.m * {SUB_DIM} + i])
              * (q.e[cd.m * {SUB_DIM} + i] - cb.e[cd.m * {SUB_DIM} + i]))) AS dm
  FROM assign a
  JOIN probe p USING (cell)
  JOIN codes cd ON cd.vec_id = a.vec_id
  JOIN cb ON cb.code = cd.code
  JOIN v q ON q.vec_id = p.qid
  WHERE a.vec_id <> p.qid
),
scored AS (
  SELECT qid, vec_id, cell,
         ROUND(list_sum(list(dm ORDER BY m)), 6) AS adc_dist
  FROM adc GROUP BY qid, vec_id, cell
)
SELECT qid, vec_id, cell, adc_dist, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
  FROM scored) r
WHERE rank <= {IVFPQ_K}
ORDER BY qid, rank
""",
)
def similarity_ivf_pq_search(spark, sf_dir):
    """IVF-PQ asymmetric-distance search — the composed production vector
    index: IVF prunes the corpus to the query's {IVFPQ_NPROBE} probed cells
    (partition pruning at 100 TB: the corpus is written clustered by cell),
    then candidates rank by ADC — the distance from the RAW query vector to
    each candidate's PQ-RECONSTRUCTED form, computed from the candidate's
    {M_SUB} code words against the codebook without ever touching the
    candidate's raw floats (the memory win that makes PQ indexes fit in
    RAM). Both quantizers are deterministic (seeded from lowest-id
    vectors) and tiny: the {IVFPQ_NCELLS} centroids, whose first {PQ_K}
    are also the codebook, travel as ONE folded array literal, so cell
    assignment AND code assignment are scan-side projections; the only
    corpus-touching operators are the broadcast probe join and the
    per-query top-k window. Distances accumulate in fixed index order on
    both engines (the oracle twin unrolls the same arithmetic).

    Mirrors the reference's ANN ORDER BY surface
    (sql/analyzer/replace_order_by_distance.go) with a real IVF-PQ index."""
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    # one job: a plain collect, ordered here by the unique vec_id
    crows = sorted(
        ((int(r[0]), [float(x) for x in r[1]])
         for r in emb.filter(F.col("vec_id") < IVFPQ_NCELLS)
         .select("vec_id", "embedding").collect()),
        key=lambda r: r[0])

    def cnorm(vals) -> float:
        sq = 0.0
        for x in vals:
            sq += x * x
        return sq ** 0.5

    # The centroids (and their norms) are ONE from_json literal each,
    # which the optimizer folds into a single array Literal; every
    # expression below is SQL text parsed by one F.expr call and walks
    # that array with higher-order functions. Inlined as one
    # CAST('<repr>' AS DOUBLE) literal per double, the score projection
    # alone (512 literals) took 45-75 ms of Catalyst analysis to build,
    # against 12-14 ms for the folded form and the column holding it
    # (2 Spark cores, 4-core host). json.dumps writes the shortest repr
    # that round-trips and the JSON parser reads it back to the same
    # double as that CAST, so the arithmetic (and the oracle hash) is
    # unchanged.
    cents = F.expr(
        f"from_json('{json.dumps([v for _, v in crows])}',"
        " 'array<array<double>>')")
    norms = F.expr(
        f"from_json('{json.dumps([cnorm(v) for _, v in crows])}',"
        " 'array<double>')")
    e_dbl_sql = "transform(embedding, x -> CAST(x AS DOUBLE))"

    def dot_sql(a: str, b: str) -> str:
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")

    # The per-cell score array is materialized ONCE as a `_sc` column
    # (referencing the materialized `_e` double-cast and `_vn` norm), then
    # every consumer — argmax assign, probe-list structs — reads the
    # column: HOF aggregates are CodegenFallback (no CSE), so a textually
    # repeated scores array costs each candidate row 2×NCELLS score
    # aggregates and each query row NCELLS² (same mechanism as
    # operators/similarity.py ivf_probe_topk).
    def scores_col_sql(ecol: str) -> str:
        return (f"transform(_cents, (cv, j) -> "
                f"ROUND({dot_sql(ecol, 'cv')} / (_vn * _norms[j]), 6))")

    # coalesce(…, -1): non-nullable join key, so the equi-join does not
    # infer isnotnull(cell) and push the whole argmax into a scan-side
    # Filter below the spread exchange (single-split scan task — see
    # operators/similarity.py ivf_probe_topk). -1 never matches a probe
    # cell; the original is null only for a null embedding, which the
    # join drops anyway.
    assigned_sql = ("coalesce(CAST(array_position(_sc, array_max(_sc))"
                    " - 1 AS INT), -1)")
    # a cell is its centroid's index, in the probe lists as in `cell`
    probe_sql = ("slice(array_sort(transform(_sc, (s, i) -> "
                 f"named_struct('ns', -s, 'c', i))), 1, {IVFPQ_NPROBE}).c")

    # Spread the single-split scan first: cell assignment evaluates
    # NCELLS cosine scores per corpus row and would otherwise run in ONE
    # task (single-row-group testdata parquet; r9 profile). The shuffle
    # moves raw embeddings once, before any derived column exists.
    cand = (
        spread(emb, "vec_id")
        .withColumns({"_cents": cents, "_norms": norms})
        .withColumn("_e", F.expr(e_dbl_sql))
        .withColumn("_vn", F.expr(f"SQRT({dot_sql('_e', '_e')})"))
        .withColumn("_sc", F.expr(scores_col_sql("_e")))
        .withColumn("cell", F.expr(assigned_sql))
    )

    # per subspace m, the nearest of the first PQ_K centroids (the
    # codebook): L2² over dims [m*SUB_DIM, (m+1)*SUB_DIM) in fixed index
    # order; array_min over (d, c) structs breaks distance ties by code
    sub_dist_sql = (f"aggregate(sequence(0, {SUB_DIM - 1}), "
                    f"CAST(0.0 AS DOUBLE), (acc, i) -> acc + POW("
                    f"element_at(_e, m * {SUB_DIM} + i + 1) - "
                    f"element_at(element_at(_cents, c + 1), "
                    f"m * {SUB_DIM} + i + 1), 2))")
    codes_sql = (f"transform(sequence(0, {M_SUB - 1}), m -> array_min("
                 f"transform(sequence(0, {PQ_K - 1}), c -> named_struct("
                 f"'d', {sub_dist_sql}, 'c', c))).c)")
    cand = cand.withColumn("codes", F.expr(codes_sql)).select(
        "vec_id", "cell", "codes")

    q = (
        emb.filter(F.col("vec_id") < IVFPQ_NQ)
        .select(F.col("vec_id").alias("qid"), F.expr(e_dbl_sql).alias("_q"))
        .withColumns({"_cents": cents, "_norms": norms})
        .withColumn("_vn", F.expr(f"SQRT({dot_sql('_q', '_q')})"))
        .withColumn("_sc", F.expr(scores_col_sql("_q")))
        .select("qid", "_q", F.explode(F.expr(probe_sql)).alias("cell"))
    )

    joined = (cand.join(F.broadcast(q), "cell")
              .filter(F.col("vec_id") != F.col("qid"))
              .withColumn("_cents", cents))
    # ADC: per subspace, L2² from the query subvector to the candidate's
    # chosen codebook entry — summed in fixed m order
    adc_sql = (f"aggregate(sequence(0, {M_SUB - 1}), "
               f"CAST(0.0 AS DOUBLE), (acc, m) -> acc + "
               f"aggregate(sequence(0, {SUB_DIM - 1}), "
               f"CAST(0.0 AS DOUBLE), (a2, i) -> a2 + POW("
               f"element_at(_q, m * {SUB_DIM} + i + 1) - "
               f"element_at(element_at(_cents, element_at(codes, m + 1) + 1), "
               f"m * {SUB_DIM} + i + 1), 2)))")
    scored = joined.select(
        "qid", "vec_id", "cell",
        F.expr(f"ROUND({adc_sql}, 6)").alias("adc_dist"))
    w = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    # at most IVFPQ_K rows per query: a top-k, no sorted exchange
    return (
        scored.select("*", F.row_number().over(w).cast("int").alias("rank"))
        .filter(F.col("rank") <= IVFPQ_K)
        .orderBy("qid", "rank")
        .limit(IVFPQ_NQ * IVFPQ_K)
    )


_GRAMS5_SQL = (
    "list_distinct(list_transform("
    "range(1, len(regexp_split_to_array(lower(trim(text)), ' +')) - 3), "
    "i -> array_to_string(list_slice("
    "regexp_split_to_array(lower(trim(text)), ' +'), i, i + 4), ' ')))"
)


@query(
    "pipeline_decontaminate",
    oracle=f"""
WITH probe_g AS (
  SELECT DISTINCT unnest({_GRAMS5_SQL}) AS g
  FROM documents WHERE doc_id % 97 = 0
),
corpus AS (
  SELECT doc_id, source, text,
         CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tok
  FROM documents WHERE doc_id % 97 <> 0
),
flagged AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest({_GRAMS5_SQL}) AS g FROM documents
        WHERE doc_id % 97 <> 0) c
  JOIN probe_g USING (g)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(SUM(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN f.doc_id IS NULL THEN n_tok ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM corpus c LEFT JOIN flagged f USING (doc_id)
GROUP BY source
ORDER BY source
""",
)
def pipeline_decontaminate(spark, sf_dir):
    """Eval-set decontamination with removal accounting (the GPT-3/PaLM
    n-gram rule applied as a FILTER, where pipeline_contamination_check
    only reports the overlapping pairs): any corpus document sharing a
    5-token span with the probe (benchmark) set is dropped; the output is
    the per-source kept/dropped/token ledger a corpus build records.

    Scale shape: probe grams are the tiny side and broadcast; the corpus is
    scanned once to produce the flagged-id set (bounded by probe matches,
    so AQE broadcasts it back for the anti-join-style left join); one final
    20-group aggregate. (No reference analogue; LLM-pipeline requirement.)"""
    docs = t(spark, sf_dir, "documents")
    # tokenize ONCE into a column: referencing split(...) inside the
    # gram-window lambda made Catalyst re-evaluate the split per gram
    # (~46x per row at 50 tokens/doc — the r5 profile's hot spot).
    # r9 added spread + an eager localCheckpoint here; the driver measured
    # the checkpoint as a 14% REGRESSION and the r10 interleaved A/B
    # (eager/lazy/none at sf0.1 AND sf1) confirmed it: the three consumers
    # (probe grams, flagged join, final ledger) share spread's exchange via
    # ReusedExchange, so the checkpoint only added a blocking job that
    # serialized the fat token arrays to block storage (sf0.1: 1.13 eager
    # vs 0.96 none; sf1: 2.00 vs 1.68; results identical). No checkpoint.
    toked = spread(docs, "doc_id").select(
        "doc_id", "source",
        F.split(F.lower(F.trim(F.col("text"))), " +").alias("_toks"),
    )
    grams = F.array_distinct(F.expr(
        "CASE WHEN size(_toks) >= 5 THEN "
        "transform(sequence(0, size(_toks) - 5), "
        "i -> array_join(slice(_toks, i + 1, 5), ' ')) "
        "ELSE array() END"
    ))
    probe_g = (
        toked.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(grams).alias("g")).distinct()
    )
    corpus = toked.filter(F.col("doc_id") % 97 != 0)
    flagged = (
        corpus.select("doc_id", F.explode(grams).alias("g"))
        .join(F.broadcast(probe_g), "g")
        .select("doc_id").distinct()
        .withColumn("_hit", F.lit(1))
    )
    n_tok = F.size(F.col("_toks")).cast("long")
    return sorted_result(
        corpus.select("doc_id", "source", n_tok.alias("n_tok"))
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_contaminated"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long").alias("n_kept"),
            F.sum(F.when(F.col("_hit").isNull(), F.col("n_tok")).otherwise(0))
            .cast("long").alias("kept_tokens"),
        ),
        "source",
    )


@query(
    "events_anomaly_zscore",
    oracle="""
WITH w AS (
  SELECT event_id, user_id, value,
         AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS mu,
         STDDEV_SAMP(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS sd,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS n_prior
  FROM events
)
SELECT event_id, user_id,
       ROUND((value - mu) / sd, 4) AS z
FROM w
WHERE n_prior >= 5 AND sd > 0 AND ABS((value - mu) / sd) > 3
ORDER BY event_id
""",
)
def events_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection (the metrics-monitoring staple):
    each event scores against the mean/stddev of its user's previous 20
    events; |z| > 3 with at least 5 priors flags an anomaly. One window
    partitioned per user (keyed shuffle, no global sort); the frame
    arithmetic is sequential in frame order on both engines so the rounded
    z-scores hash-match. (Reference has windowed aggregates,
    sql/expression/function/aggregation/window_*; the anomaly rule is the
    LLM-pipeline/metrics addition.)"""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-20, -1))
    scored = e.select(
        "event_id", "user_id", "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("*").over(w).alias("n_prior"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        scored.filter((F.col("n_prior") >= 5) & (F.col("sd") > 0)
                      & (F.abs(z) > 3))
        .select("event_id", "user_id", F.round(z, 4).alias("z"))
        .orderBy("event_id")
    )
