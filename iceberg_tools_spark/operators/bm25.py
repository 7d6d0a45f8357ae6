"""BM25 retrieval scoring over the documents corpus — the missing
text-RETRIEVAL member of the training-data toolbox (quality-filter
pipelines rank candidate documents against curated probe queries;
Robertson & Zaragoza's BM25 is the standard function).

Spark-first shape, built for 100 TB:

* ONE pass tokenizes and explodes documents into (doc, term, tf)
  postings — `split` + `explode` + groupBy, all JVM expressions;
* document frequencies for the PROBE TERMS ONLY aggregate from the
  postings (the probe vocabulary is tiny, so the idf frame is
  KB-scale and BROADCASTS);
* scoring is a broadcast equi-join postings ⋈ probe terms — the
  corpus never shuffles on anything but the top-k, which is TWO
  windows (`topk.top_k_per_group_salted`): scored rows rank within
  (query_id, salt-of-doc_id) first, so no stage ever sorts
  corpus-scale rows into |queries| partitions (VERDICT r9 #2);
* the CERTIFIED surface is integer-exact (rank, tf_sum, dl): the
  double score stays internal because cross-engine float SUMS are
  order-dependent at the ULP — ranks only flip on sub-1e-15
  near-ties between docs with different inputs, which the corpus
  doesn't produce (exact input-ties break by doc_id identically in
  both engines). Same trade the fingerprint/minhash gates make.

k1 = 1.2, b = 0.75 (the textbook defaults), idf in the
"+1 inside the log" form (Lucene's non-negative variant):
``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.readers import load_table
from .topk import top_k_per_group_salted

K1 = 1.2
B = 0.75
# precomputed in PYTHON so both engines receive the identical
# decimal literal (1.2 + 1 at plan-build time could round differently
# from a parsed "2.2")
K1P1 = repr(K1 + 1)      # "2.2"
ONE_MINUS_B = repr(1 - B)  # "0.25"
TOP_K = 10

# fixed probe queries (literal in the oracle SQL too)
QUERIES: dict[int, str] = {
    1: "spark join agg",
    2: "stream window",
    3: "vector hash scan",
    4: "customer order line",
}


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl): single-space tokenization (the corpus
    is lowercase single-space word-salad; real pipelines normalize
    first), doc length = total token count."""
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.col("text")), " ").alias("toks"),
    ).select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    return toks.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def bm25_topk(spark: SparkSession, sf_dir: str, *, k: int = TOP_K) -> DataFrame:
    """Top-``k`` documents per probe query by BM25. Certified output
    (query_id, rk, doc_id, tf_sum, dl); ties break by doc_id."""
    docs = load_table(spark, sf_dir, "documents", ["doc_id", "text"])
    post = _postings(docs)

    terms = local_frame(
        spark,
        [(qid, t) for qid, q in sorted(QUERIES.items()) for t in q.split()],
        "query_id int, term string",
    )
    # corpus constants (N docs, total tokens → avgdl) straight off
    # the docs scan — a map-side agg; the former form re-built and
    # re-aggregated the FULL postings frame just to recover per-doc
    # lengths (r16: one of three corpus tokenization passes removed)
    stats = docs.select(
        F.size(F.split(F.trim(F.col("text")), " ")).alias("dl")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    # postings restricted to the PROBE vocabulary, materialized once
    # (probe terms × matching docs — KB/MB at any corpus size): both
    # the df aggregate and the scoring join read it, so the corpus
    # tokenizes ONCE instead of once per consumer (r16)
    post_probe = post.join(
        F.broadcast(terms.select("term").distinct()), "term"
    ).localCheckpoint()
    # df per probe term only — KB-scale, broadcast everywhere below
    df_t = post_probe.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    scored_terms = (
        terms.join(df_t, "term", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "term", "n_docs", "total_dl",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    avgdl = F.col("total_dl") / F.col("n_docs")
    tf_part = (F.col("tf") * F.expr(K1P1)) / (
        F.col("tf") + F.expr(repr(K1)) * (F.expr(ONE_MINUS_B) + F.expr(repr(B)) * F.col("dl") / avgdl)
    )
    per_term = post_probe.join(F.broadcast(scored_terms), "term").select(
        "query_id", "doc_id", "dl", "tf", (F.col("idf") * tf_part).alias("s")
    )
    per_doc = per_term.groupBy("query_id", "doc_id").agg(
        F.min("dl").alias("dl"),
        F.sum("tf").cast("long").alias("tf_sum"),
        F.sum("s").alias("score"),
    )
    # two-stage salted top-k (VERDICT r9 #2): query_id has a handful
    # of values, so a single window here would sort every scored
    # (query, doc) row on |queries| reducers; stage 1 ranks within
    # (query_id, hash(doc_id) mod 32) and stage 2 re-ranks only the
    # ≤ 32·k survivors per query — exact, since each global top-k
    # row wins its salt partition too
    ranked = top_k_per_group_salted(
        per_doc,
        ["query_id"],
        [F.col("score").desc(), F.col("doc_id")],
        k,
        salt_col="doc_id",
    )
    return (
        ranked
        .select("query_id", "rk", "doc_id", "tf_sum", F.col("dl").cast("long").alias("dl"))
        .orderBy("query_id", "rk")
    )


def _queries_values_sql() -> str:
    rows = ", ".join(
        f"({qid}, '{t}')"
        for qid, q in sorted(QUERIES.items())
        for t in q.split()
    )
    return f"(VALUES {rows}) qt(query_id, term)"


BM25_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         len(string_split(trim(text), ' ')) AS dl,
         unnest(string_split(trim(text), ' ')) AS term
  FROM documents
),
post AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, dl, term
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total_dl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM post GROUP BY doc_id)
),
qterms AS (SELECT * FROM {_queries_values_sql()}),
dft AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM post
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY term
),
scored_terms AS (
  SELECT q.query_id, q.term, s.n_docs, s.total_dl,
         ln(1.0 + (s.n_docs - COALESCE(d.df, 0) + 0.5)
                   / (COALESCE(d.df, 0) + 0.5)) AS idf
  FROM qterms q LEFT JOIN dft d USING (term) CROSS JOIN stats s
),
per_doc AS (
  SELECT st.query_id, p.doc_id,
         any_value(p.dl) AS dl,
         CAST(SUM(p.tf) AS BIGINT) AS tf_sum,
         SUM(st.idf * ((p.tf * {K1P1})
             / (p.tf + {K1!r} * ({ONE_MINUS_B} + {B!r} * p.dl
                               / (st.total_dl / (st.n_docs * 1.0)))))) AS score
  FROM post p JOIN scored_terms st USING (term)
  GROUP BY st.query_id, p.doc_id
),
ranked AS (
  SELECT query_id, doc_id, dl, tf_sum,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS BIGINT) AS rk
  FROM per_doc
)
SELECT query_id, rk, doc_id, tf_sum, CAST(dl AS BIGINT) AS dl
FROM ranked
WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""
