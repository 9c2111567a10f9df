"""Round-2 LLM-pipeline operators: PII scrubbing, deterministic stratified
sampling, TF-IDF term ranking, embedding near-dup pairs, benchmark
contamination spans, and best-of-cluster canonical selection.

These extend the training-data surface (brief §LLM-pipeline; the reference
engine has none of them) with the same oracle discipline as round 1: every
operator is a declarative DataFrame plan with an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup
from ..operators.hashing import md5_int60
from ..operators.similarity import cosine, lsh_signature
from ..operators.text import (quality_score_of_tokens, quality_score_sql,
                              tokens)
from ..session import iter_checkpoint
from ._util import sorted_result, t
from .registry import query

# ---- PII scrubbing ----------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PHONE_RE = r"\+\d{1,3}-\d{3}-\d{4}"


@query(
    "pipeline_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@corp-mail.example or +1-555-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' host 10.0.' ||
         CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{_EMAIL_RE}', '<EMAIL>', 'g'),
         '{_PHONE_RE}', '<PHONE>', 'g'),
         '{_IPV4_RE}', '<IP>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails
FROM aug
ORDER BY doc_id
""",
)
def pipeline_pii_scrub(spark, sf_dir):
    """PII scrubbing: emails / E.164-ish phones / IPv4s replaced by typed
    placeholder tokens — pure regexp_replace Column expressions (JVM
    whole-stage-codegen; the standard pre-training redaction pass). The
    synthetic corpus has no PII, so the query plants deterministic
    doc_id-derived PII first, then proves removal."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id"),
            F.lit("@corp-mail.example or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE, "<PHONE>"),
        _IPV4_RE, "<IP>")
    return aug.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)"))
        .cast("long").alias("n_emails"),
    ).orderBy("doc_id")


# ---- deterministic stratified sampling --------------------------------------

_RATES = {"src0": 50, "src1": 25}  # percent kept per source; default 10


def _rate_sql(col: str = "source") -> str:
    cases = " ".join(f"WHEN '{s}' THEN {r}" for s, r in _RATES.items())
    return f"CASE {col} {cases} ELSE 10 END"


@query(
    "pipeline_stratified_sample",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(MIN(doc_id) AS BIGINT) AS first_id
FROM (
  SELECT doc_id, source
  FROM documents
  WHERE ('0x' || substr(md5('sample#' || doc_id), 1, 15))::BIGINT % 100
        < {_rate_sql()}
)
GROUP BY source ORDER BY source
""",
)
def pipeline_stratified_sample(spark, sf_dir):
    """Deterministic per-source stratified sampling for training-data
    mixes: keep row iff md5('sample#'||id) mod 100 < rate(source). Hash
    sampling is reproducible across engines/runs and requires NO shuffle —
    it's a scan-side filter, unlike df.sample whose seed is
    partitioning-dependent. Rates: src0 50%, src1 25%, rest 10%."""
    docs = t(spark, sf_dir, "documents")
    rate = F.expr(_rate_sql())
    keep = md5_int60(F.concat(F.lit("sample#"), F.col("doc_id"))) % 100 < rate
    return (
        docs.filter(keep)
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"),
             F.min("doc_id").alias("first_id"))
        .orderBy("source")
    )


# ---- TF-IDF top terms -------------------------------------------------------

@query(
    "pipeline_tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), ' +')) AS term
  FROM documents WHERE doc_id < 500
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM toks),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln((SELECT n FROM n) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tfidf, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
  FROM scored) r
WHERE rnk <= 3
ORDER BY doc_id, rnk
""",
)
def pipeline_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document. Shuffle shape: tf groupBy
    (doc,term), df groupBy term (broadcast back — the vocabulary is tiny
    relative to the corpus), window top-k per doc. The idf join is
    broadcast so the big relation shuffles once."""
    from pyspark.sql import Window
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " +")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = toks.select("doc_id").distinct().count()
    scored = (
        tf.join(F.broadcast(df), "term")
        .select(
            "doc_id", "term",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.select("*", F.row_number().over(w).cast("int").alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# ---- embedding near-dup pairs -----------------------------------------------

_SIM_THRESHOLD = 0.95
_EMB_MAX_BUCKET = 64


@query(
    "pipeline_embedding_neardup",
    oracle=f"""
WITH embeddings2 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id < 3
),
signs AS (
  SELECT p, d,
         CASE WHEN ('0x' || substr(md5('plane#' || p || '#' || d), 1, 15))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(generate_series(0, 7)) AS p),
       (SELECT unnest(generate_series(0, 63)) AS d)
),
elems AS (
  SELECT vec_id, d.i - 1 AS d, d.v::DOUBLE AS v
  FROM embeddings2, LATERAL (
    SELECT unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i) d
),
proj AS (
  SELECT vec_id, p, SUM(v * s) AS proj
  FROM elems JOIN signs USING (d) GROUP BY vec_id, p
),
sigs AS (
  SELECT vec_id, CAST(SUM(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS sig
  FROM proj GROUP BY vec_id
),
sized AS (
  SELECT vec_id, sig, COUNT(*) OVER (PARTITION BY sig) AS n FROM sigs
),
cand AS (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM sized x JOIN sized y ON x.sig = y.sig
  WHERE x.vec_id < y.vec_id AND x.n BETWEEN 2 AND {_EMB_MAX_BUCKET}
),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings2)
SELECT a, b,
       ROUND(list_dot_product(va.vec, vb.vec)
             / (sqrt(list_dot_product(va.vec, va.vec))
                * sqrt(list_dot_product(vb.vec, vb.vec))), 6) AS cos_sim
FROM cand
JOIN vecs va ON va.vec_id = a
JOIN vecs vb ON vb.vec_id = b
WHERE list_dot_product(va.vec, vb.vec)
      / (sqrt(list_dot_product(va.vec, va.vec))
         * sqrt(list_dot_product(vb.vec, vb.vec))) >= {_SIM_THRESHOLD}
ORDER BY a, b
""",
)
def pipeline_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: sign-random-projection LSH
    buckets propose candidates (capped — same degenerate-bucket defense as
    minhash), exact cosine verifies. The all-to-all is keyed by the 8-bit
    signature, so only same-bucket vectors ever meet; verification joins
    the vector relation twice by id. The standard embedding-dedup plan at
    corpus scale.

    Three exact copies (vec_id 0..2 re-keyed +1e6) are seeded so the
    entry is non-vacuous (r6 verdict: no natural pair reaches cos 0.95 at
    sf0.01) — identical vectors share the SRP signature by construction,
    so they MUST surface as candidates and verify at cos_sim = 1.0."""
    base = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = base.unionByName(
        base.filter(F.col("vec_id") < 3)
        .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    dims = len(emb.select("embedding").first()[0])
    # scan-side signature (inlined ±1 matrix) — no pre-bucket exchange
    sigs = lsh_signature(emb, dims).localCheckpoint(eager=True)
    cand = (
        sigs.groupBy("sig")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _EMB_MAX_BUCKET))
        .select(F.explode(F.expr(
            "flatten(transform(ids, x -> "
            "transform(filter(ids, y -> y > x), y -> struct(x AS a, y AS b))))"
        )).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )
    va = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    return (
        cand.join(va, "a").join(vb, "b")
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6)
                .alias("cos_sim"))
        .filter(F.col("cos_sim") >= _SIM_THRESHOLD)
        .orderBy("a", "b")
    )


# ---- benchmark contamination ------------------------------------------------

@query(
    "pipeline_contamination_check",
    oracle=f"""
WITH documents2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 97 = 0
),
probe AS (
  SELECT doc_id AS probe_id, list_distinct(
    list_transform(
      range(1, len(regexp_split_to_array(lower(trim(text)), ' +')) - 3),
      i -> array_to_string(list_slice(
             regexp_split_to_array(lower(trim(text)), ' +'), i, i + 4), ' ')))
    AS grams
  FROM documents2 WHERE doc_id % 97 = 0
),
probe_g AS (SELECT probe_id, unnest(grams) AS g FROM probe),
corpus AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, len(regexp_split_to_array(lower(trim(text)), ' +')) - 3),
      i -> array_to_string(list_slice(
             regexp_split_to_array(lower(trim(text)), ' +'), i, i + 4), ' '))))
    AS g
  FROM documents2 WHERE doc_id % 97 <> 0
)
SELECT c.doc_id, p.probe_id, CAST(COUNT(*) AS BIGINT) AS n_shared_5grams
FROM corpus c JOIN probe_g p USING (g)
GROUP BY c.doc_id, p.probe_id
HAVING COUNT(*) >= 3
ORDER BY doc_id, probe_id
""",
)
def pipeline_contamination_check(spark, sf_dir):
    """Benchmark-contamination scan: 5-gram spans shared between a probe
    set (every 97th doc, standing in for an eval benchmark) and the rest
    of the corpus. The join is keyed by the 5-gram — probe grams are the
    small side and broadcast, so the corpus is scanned once with no
    all-to-all. Pairs with ≥3 shared spans are flagged (the n-gram-overlap
    decontamination rule used for pre-training corpora).

    Copies of the probe docs are seeded into the corpus side (re-keyed
    +1e6; 1e6 % 97 != 0 keeps them out of the probe set) so the entry is
    non-vacuous (r6 verdict: no natural ≥3-shared-5-gram pair at sf0.01)
    — each probe must flag its verbatim copy."""
    base = t(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = base.unionByName(
        base.filter(F.col("doc_id") % 97 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    docs = seeded.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), " +").alias("_toks"))
    # tokenize once into a column — a split() referenced inside the
    # gram-window lambda is re-evaluated per gram (r5 profile)
    grams = F.array_distinct(F.expr(
        "CASE WHEN size(_toks) >= 5 THEN "
        "transform(sequence(0, size(_toks) - 5), "
        "i -> array_join(slice(_toks, i + 1, 5), ' ')) "
        "ELSE array() END"
    ))
    probe = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("probe_id"), F.explode(grams).alias("g"))
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode(grams).alias("g"))
    )
    return (
        corpus.join(F.broadcast(probe), "g")
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("n_shared_5grams"))
        .filter(F.col("n_shared_5grams") >= 3)
        .orderBy("doc_id", "probe_id")
    )


# ---- best-of-cluster canonical selection ------------------------------------

def cc_min_labels(edges):
    """Connected components by min-label fixpoint over a bidirectional
    edge list (u, v) → (node, label) with label = the component minimum.

    Factored out of pipeline_cluster_keep_best so the hybrid convergence
    mechanism is testable on synthetic graphs."""
    # r9: fused init + round 1. The old init (distinct nodes labelled by
    # themselves) plus the first propagation round is algebraically ONE
    # aggregation: every node appears as edge target v (edges carry both
    # directions), and round-1's min over {node} ∪ {incoming u} is
    # min(v, min u) = groupBy(v).min(least(u, v)). Saves the distinct
    # exchange AND a whole join+union+agg round.
    labels = iter_checkpoint(
        edges.select(F.col("v").alias("node"),
                     F.least("u", "v").alias("label"))
        .groupBy("node").agg(F.min("label").alias("label")),
        eager=False,
    )
    # Convergence probe: labels are monotonically non-increasing per node
    # (min-combine), so the label SUM strictly decreases every round until
    # the fixpoint — one tiny aggregate on the checkpointed result
    # replaces the previous left_anti-join + isEmpty job per round.
    # r9: the checkpoint is LAZY and the probe aggregate materializes it —
    # one Spark job per round instead of two (the probe is the only
    # consumer until the next round's join, which then reads the stored
    # blocks). Guide §1.2: fewer passes in the iterative algorithm.
    last_sum = labels.agg(F.sum("label")).first()[0]
    # r10: hybrid fixpoint. Plain edge-propagation moves the component min
    # ONE hop per round, so round count = graph diameter — at sf1 the
    # near-dup graph's diameter grew to 17 and the loop paid 17 fixed
    # job-latency rounds of ~0.35 s on tiny data (guide §1.2: the
    # distributed algorithm is the lever). From round 4 on, each round
    # adds Shiloach-Vishkin-style min-HOOKING (send the neighbor's label
    # to MY label's node, so improvements land on cluster heads and are
    # shared by the whole cluster) plus pointer SHORTCUT
    # (label := label(label)) — together they collapse label chains
    # logarithmically regardless of id layout (pure shortcutting alone was
    # measured nearly useless here: interleaved-id chains self-point).
    # The first 3 rounds stay plain because shallow graphs — the common
    # case, and all of sf0.1/sf0.01 — converge within them and the extra
    # joins are pure cost (A/B sf0.1: 0.92 vs 0.92 s, identical path;
    # sf1: 17 -> 8 rounds, 4.04 -> 2.50 s, labels identical). Fixpoint
    # unchanged: candidates are always labels of component members, the
    # per-node min decreases monotonically, and a no-change round under
    # hook+shortcut implies labels are constant per component (for every
    # edge (u,v): shortcut-stable means every label points at a root,
    # hook-stable means root(u) <= root(v) and symmetrically) — the same
    # unique fixpoint (component min) the plain rounds converge to.
    rounds = 0
    while True:
        rounds += 1
        nxt = labels.select("node", "label")
        if rounds <= 3:
            prop = (
                labels.join(edges, labels.node == edges.v)
                .filter(F.col("label") < F.col("u"))
                .select(F.col("u").alias("node"), "label")
            )
            nxt = nxt.unionAll(prop)
        else:
            lv = labels.select(F.col("node").alias("_vn"),
                               F.col("label").alias("_pv"))
            lu = labels.select(F.col("node").alias("_un"),
                               F.col("label").alias("_pu"))
            hook = (
                edges.join(lv, edges.v == lv._vn)
                .join(lu, edges.u == lu._un)
                .filter(F.col("_pv") < F.col("_pu"))
                .select(F.col("_pu").alias("node"), F.col("_pv").alias("label"))
            )
            short = (
                labels.join(
                    labels.select(F.col("node").alias("_jn"),
                                  F.col("label").alias("_jl")),
                    F.col("label") == F.col("_jn"))
                .filter(F.col("_jl") < F.col("label"))
                .select("node", F.col("_jl").alias("label"))
            )
            nxt = nxt.unionAll(hook).unionAll(short)
        labels = iter_checkpoint(
            nxt.groupBy("node").agg(F.min("label").alias("label")),
            eager=False,
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == last_sum:
            break
        last_sum = cur_sum
    return labels


@query(
    "pipeline_cluster_keep_best",
    oracle=f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  {dedup.minhash_candidate_pairs_sql().strip()}
),
edges AS MATERIALIZED (
  SELECT a AS u, b AS v FROM pairs
  UNION ALL SELECT b, a FROM pairs
),
members AS (SELECT DISTINCT u AS node FROM edges),
labels(node, label) AS (
  SELECT node, node FROM members
  UNION
  SELECT e.u, l.label
  FROM labels l JOIN edges e ON e.v = l.node
  WHERE l.label < e.u
),
canon AS (SELECT node, MIN(label) AS cluster_id FROM labels GROUP BY node),
scored AS (
  SELECT c.cluster_id, c.node AS doc_id, {quality_score_sql("d.text")} AS q
  FROM canon c JOIN documents d ON d.doc_id = c.node
)
SELECT cluster_id, doc_id AS kept_doc, q AS quality,
       CAST(n_members AS BIGINT) AS n_members
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY q DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM scored) r
WHERE rn = 1
ORDER BY cluster_id
""",
)
def pipeline_cluster_keep_best(spark, sf_dir):
    """Canonical-document selection: near-dup clusters (minhash pairs →
    connected components) keep only their highest-quality member — the
    dedup policy step that turns candidate clusters into a training set.
    One window over the clustered membership; quality is the
    SQL-expressible C4-style score from operators/text.py."""
    from pyspark.sql import Window
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).localCheckpoint(eager=False)
    edges = pairs.selectExpr("a AS u", "b AS v").unionAll(
        pairs.selectExpr("b AS u", "a AS v")).localCheckpoint(eager=False)
    labels = cc_min_labels(edges)
    canon = labels.select(F.col("node").alias("doc_id"),
                          F.col("label").alias("cluster_id"))
    # Materialized token column: inline quality_score would re-split once
    # more inside its stopword HOF filter (see langid_of_tokens).
    scored = (
        canon.join(docs.select("doc_id", "text"), "doc_id")
        .select("cluster_id", "doc_id", "text",
                tokens(F.col("text")).alias("_toks"))
        .select("cluster_id", "doc_id",
                quality_score_of_tokens(
                    F.col("text"), F.col("_toks")).alias("q")))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), "doc_id")
    wc = Window.partitionBy("cluster_id")
    return sorted_result(
        scored.select(
            "cluster_id", "doc_id", "q",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id", F.col("doc_id").alias("kept_doc"),
            F.col("q").alias("quality"),
            F.col("n_members").cast("long").alias("n_members"),
        ),
        "cluster_id",
    )


# ---- end-to-end corpus build ------------------------------------------------

from ..operators.text import (  # noqa: E402
    langid_of_tokens, langid_sql, normalize_text, normalize_text_sql,
    token_count_of_tokens, token_count_sql,
)


@query(
    "pipeline_end_to_end_corpus",
    oracle=f"""
WITH filtered AS (
  SELECT doc_id, source, text,
         {quality_score_sql("text")} AS q,
         {langid_sql("text")} AS lang_pred,
         {token_count_sql("text")} AS n_tokens
  FROM documents
  WHERE {quality_score_sql("text")} >= 0.5
),
deduped AS (
  SELECT MIN(doc_id) AS doc_id,
         MIN(source) AS source,
         MIN(lang_pred) AS lang_pred,
         MIN(n_tokens) AS n_tokens
  FROM filtered
  GROUP BY md5({normalize_text_sql("text")})
),
sampled AS (
  SELECT * FROM deduped
  WHERE ('0x' || substr(md5('corpus#' || doc_id), 1, 15))::BIGINT % 100 < 80
)
SELECT source, lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM sampled
GROUP BY source, lang_pred
ORDER BY source, lang_pred
""",
)
def pipeline_end_to_end_corpus(spark, sf_dir):
    """The full training-corpus build in one declarative plan:
    quality-filter → language-ID → exact dedup (md5 canonical-min) →
    deterministic 80% sample → per-(source, lang) token accounting.

    Shuffle budget at 100 TB: ONE exchange for the dedup groupBy (on the
    md5 key) + one for the final small aggregate — the filter, langid,
    token count, and hash-sample are all scan-side projections. This is
    the query a data team runs nightly; every stage reuses the
    oracle-checked operator primitives."""
    docs = t(spark, sf_dir, "documents")
    # One shared token column for quality + langid + token count: the five
    # stopword HOF filters would each re-run the split inline (see
    # langid_of_tokens).
    filtered = docs.select(
        "doc_id", "source", "text", tokens(F.col("text")).alias("_toks"),
    ).select(
        "doc_id", "source", "text",
        quality_score_of_tokens(F.col("text"), F.col("_toks")).alias("q"),
        langid_of_tokens(F.col("_toks")).alias("lang_pred"),
        token_count_of_tokens(F.col("_toks")).alias("n_tokens"),
    ).filter(F.col("q") >= 0.5)
    deduped = (
        filtered
        .groupBy(F.md5(normalize_text(F.col("text"))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"),
             F.min("source").alias("source"),
             F.min("lang_pred").alias("lang_pred"),
             F.min("n_tokens").alias("n_tokens"))
    )
    sampled = deduped.filter(
        md5_int60(F.concat(F.lit("corpus#"), F.col("doc_id"))) % 100 < 80)
    return (
        sampled.groupBy("source", "lang_pred")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"),
             F.min("doc_id").alias("first_doc"))
        .orderBy("source", "lang_pred")
    )
