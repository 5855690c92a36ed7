"""Driver-facing query catalog.

Every implemented operator from SURVEY.md §2 registers here twice:

- ``QUERIES[name]``    : (spark, sf_dir) -> DataFrame   (the PySpark plan)
- ``ORACLES[name]``    : ANSI SQL string DuckDB runs on the same parquet

The driver hash-compares both at sf=0.01 (sorted columns, value hash), so:
every computed column is aliased identically on both sides, every double is
``round(x, 6)`` on both sides, and rankings order by the *rounded* score
(+ docno desc tie-break, K3) so fp summation-order noise cannot flip ranks.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_ir_spark.operators import rank, scoring, stats
from hadoop_ir_spark.session import parallel_frames  # noqa: F401  (queries/* import it from here)

# ---------------------------------------------------------------------------
# fixed demo topics over the synthetic `documents` vocabulary
# ---------------------------------------------------------------------------

TOPICS: list[tuple[str, str]] = [
    ("q1", "spark join merge"),
    ("q2", "window sort table"),
    ("q3", "stream batch data vector"),
    ("q4", "customer filter hash"),
]

TOP_K = 10  # retrieval depth for the demo queries (reference default is 1000)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:  # silent overwrite would hide dead code
            raise ValueError(f"duplicate catalog registration: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _topics_df(spark: SparkSession) -> DataFrame:
    rows = [(qid, t) for qid, q in TOPICS for t in q.split()]
    return spark.createDataFrame(rows, "qid string, term string")


def _topics_values_sql(weighted: bool = False) -> str:
    if weighted:
        rows = ", ".join(
            f"('{qid}', '{t}', 1.0)" for qid, q in TOPICS for t in q.split()
        )
        return f"(VALUES {rows}) AS topics(qid, term, qweight)"
    rows = ", ".join(f"('{qid}', '{t}')" for qid, q in TOPICS for t in q.split())
    return f"(VALUES {rows}) AS topics(qid, term)"


# Shared oracle CTE prefix: tokens / postings / doc lengths over `documents`.
# Tokenization matches functions.text.tokens_col: lower + split on
# [^0-9A-Za-z]+ + drop empties.
SQL_TOK = """
tok AS (
  SELECT doc_id AS docno,
         unnest(string_split_regex(lower(text), '[^0-9a-zA-Z]+')) AS term
  FROM documents
),
post AS (
  SELECT docno, term, count(*) AS tf
  FROM tok WHERE term <> '' GROUP BY docno, term
),
dlen AS (
  SELECT docno, count(*) AS doc_len
  FROM tok WHERE term <> '' GROUP BY docno
)
"""


# ---------------------------------------------------------------------------
# A1 word count
# ---------------------------------------------------------------------------

@register("wordcount", f"""
WITH {SQL_TOK}
SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM post GROUP BY term
""")
def q_wordcount(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return stats.word_count(docs, id_col="doc_id")


# ---------------------------------------------------------------------------
# A3+A4 per-term df/cf
# ---------------------------------------------------------------------------

@register("term_stats", f"""
WITH {SQL_TOK}
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM post GROUP BY term
""")
def q_term_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return stats.term_stats(stats.postings(docs, id_col="doc_id"))


# ---------------------------------------------------------------------------
# A2 doc lengths
# ---------------------------------------------------------------------------

@register("doc_lengths", f"""
WITH {SQL_TOK}
SELECT docno, doc_len FROM dlen
""")
def q_doc_lengths(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return stats.doc_lengths(docs, id_col="doc_id")


# ---------------------------------------------------------------------------
# A5 global collection stats
# ---------------------------------------------------------------------------

@register("collection_globals", f"""
WITH {SQL_TOK}
SELECT count(DISTINCT docno) AS n_docs,
       count(DISTINCT term)  AS n_terms,
       CAST(sum(tf) AS BIGINT) AS n_tokens
FROM post
""")
def q_collection_globals(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return stats.collection_globals(stats.postings(docs, id_col="doc_id"))


# ---------------------------------------------------------------------------
# A6 MIREX query-term stats
# ---------------------------------------------------------------------------

@register("query_term_stats", f"""
WITH {SQL_TOK},
qterms AS (SELECT DISTINCT qid, term FROM {_topics_values_sql()}),
tstats AS (
  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM post
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
)
SELECT q.qid, q.term, 1 AS qtf,
       coalesce(t.df, 0) AS df, coalesce(t.cf, 0) AS cf
FROM qterms q LEFT JOIN tstats t USING (term)
""")
def q_query_term_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    post = stats.postings(docs, id_col="doc_id")
    out = stats.query_term_stats(post, _topics_df(spark))
    return out.withColumn("qtf", F.col("qtf").cast("int"))


# ---------------------------------------------------------------------------
# M5 + K1/K3: GSLIS Dirichlet retrieval, per-query top-k  (the flagship)
# ---------------------------------------------------------------------------

DIR_MU = 2500.0


def dirichlet_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """Flagship: scan-and-score retrieval (SURVEY §3.1/§3.2 spine).

    documents → postings → broadcast-join query terms → Dirichlet (M5,
    RunQueryHBase.java:183-195 semantics: missing terms still smooth) →
    per-query top-k with SearchResult tie-break.
    """
    docs = _docs(spark, sf_dir)
    topics = _topics_df(spark).withColumn("qweight", F.lit(1.0))

    # r13 (guide §1.2/§2.4): ONE cached tokenize pass serves the length
    # prior AND the query-term postings — dlen + postings_for_terms were
    # two full corpus scans, and the cached per-doc scan row (ints + a
    # few query-term tokens) is smaller than the old cached postings
    qterm_list = sorted({t for _, q in TOPICS for t in q.split()})
    scan = stats.scan_stats(docs, qterm_list, id_col="doc_id").cache()
    dlen = stats.scan_doc_lengths(scan)

    # coll_len from per-doc lengths: map-side only, no explode+shuffle
    # (this collect also materializes the scan cache)
    coll_len = dlen.agg(F.sum("doc_len")).collect()[0][0]

    post = stats.scan_postings(scan)
    tstats = post.groupBy("term").agg(F.sum("tf").alias("cf"))
    qstats = topics.join(tstats, "term", "left").fillna({"cf": 0})

    matched = scoring.matched_terms(post, qstats, doc_len=dlen)
    scored = scoring.score_gslis(matched, qstats, dlen, coll_len,
                                 model="dirichlet", mu=DIR_MU)
    scored = scored.withColumn("score", F.round("score", 6))
    return rank.topk(scored, k=k).select("qid", "docno", "score", "rank")


ORACLES["dirichlet_topk"] = f"""
WITH {SQL_TOK},
coll AS (SELECT sum(tf) AS coll_len FROM post),
topics AS (SELECT * FROM {_topics_values_sql(weighted=True)}),
qstats AS (
  SELECT t.qid, t.term, t.qweight, coalesce(s.cf, 0) AS cf
  FROM topics t
  LEFT JOIN (SELECT term, sum(tf) AS cf FROM post GROUP BY term) s USING (term)
),
frame AS (
  SELECT q.qid, d.docno, d.doc_len, q.qweight,
         greatest(q.cf, 1)::DOUBLE / (SELECT coll_len FROM coll) AS cp,
         coalesce(p.tf, 0) AS tf
  FROM dlen d
  CROSS JOIN qstats q
  LEFT JOIN post p ON p.docno = d.docno AND p.term = q.term
),
scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln((tf + {DIR_MU} * cp) / (doc_len + {DIR_MU}))), 6) AS score
  FROM frame GROUP BY qid, docno
),
ranked AS (
  SELECT qid, docno, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno DESC) AS rank
  FROM scored
)
SELECT qid, docno, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {TOP_K}
"""
QUERIES["dirichlet_topk"] = lambda spark, sf_dir: (
    dirichlet_topk(spark, sf_dir).withColumn("rank", F.col("rank").cast("int"))
)


# ---------------------------------------------------------------------------
# M4 + K1: BM25 retrieval top-k
# ---------------------------------------------------------------------------

BM25_K1, BM25_B = 1.2, 0.75


@register("bm25_topk", f"""
WITH {SQL_TOK},
gstat AS (
  SELECT count(DISTINCT docno) AS n_docs,
         sum(tf)::DOUBLE / count(DISTINCT docno) AS avg_len
  FROM post
),
topics AS (SELECT DISTINCT qid, term FROM {_topics_values_sql()}),
tstats AS (SELECT term, count(*) AS df FROM post GROUP BY term),
matched AS (
  SELECT t.qid, p.docno, p.tf, s.df, d.doc_len
  FROM post p
  JOIN topics t USING (term)
  JOIN tstats s ON s.term = p.term
  JOIN dlen d ON d.docno = p.docno
),
scored AS (
  SELECT qid, docno,
         round(sum(
           (({BM25_K1} + 1) * tf)
           / ({BM25_K1} * ((1 - {BM25_B}) + {BM25_B} * doc_len / (SELECT avg_len FROM gstat)) + tf)
           * ln(((SELECT n_docs FROM gstat) - df + 0.5) / (df + 0.5))
         ), 6) AS score
  FROM matched GROUP BY qid, docno
),
ranked AS (
  SELECT qid, docno, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno DESC) AS rank
  FROM scored
)
SELECT qid, docno, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {TOP_K}
""")
def q_bm25_topk(spark, sf_dir):
    return bm25_topk(spark, sf_dir, k=TOP_K)


def bm25_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """M4 BM25 run at a chosen depth (shared with run-comparison queries)."""
    docs = _docs(spark, sf_dir)
    topics = _topics_df(spark).withColumn("qtf", F.lit(1))

    # one cached tokenize pass for dlen + postings (r13, guide §1.2/§2.4)
    qterm_list = sorted({t for _, q in TOPICS for t in q.split()})
    scan = stats.scan_stats(docs, qterm_list, id_col="doc_id").cache()
    dlen = stats.scan_doc_lengths(scan)

    glob = dlen.agg(
        F.count("*").alias("n_docs"), F.sum("doc_len").alias("n_tokens")
    ).collect()[0]
    n_docs, avg_len = glob["n_docs"], glob["n_tokens"] / glob["n_docs"]

    post = stats.scan_postings(scan)
    tstats = post.groupBy("term").agg(F.count("*").alias("df"))
    matched = scoring.matched_terms(post, topics, doc_len=dlen, stats=tstats)
    scored = scoring.score_bm25(matched, n_docs, avg_len, BM25_K1, BM25_B)
    scored = scored.withColumn("score", F.round("score", 6))
    return (
        rank.topk(scored, k=k)
        .select("qid", "docno", "score", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Reusable oracle-SQL building blocks for the domain query modules
# ---------------------------------------------------------------------------

# The full Dirichlet run as a CTE chain ending in `run(qid, docno, score, rank)`
# — the SQL twin of dirichlet_topk(), reused by the eval/feedback oracles.
def sql_run_dirichlet(k: int = TOP_K) -> str:
    """The Dirichlet-run CTE chain at a chosen depth (rank <= k).

    The depth is substituted directly into the template (no post-hoc
    string surgery on SQL_RUN_DIRICHLET, which would silently no-op if
    the template's formatting drifted)."""
    return f"""
{SQL_TOK},
coll AS (SELECT sum(tf) AS coll_len FROM post),
topics AS (SELECT * FROM {_topics_values_sql(weighted=True)}),
qstats AS (
  SELECT t.qid, t.term, t.qweight, coalesce(s.cf, 0) AS cf
  FROM topics t
  LEFT JOIN (SELECT term, sum(tf) AS cf FROM post GROUP BY term) s USING (term)
),
frame AS (
  SELECT q.qid, d.docno, d.doc_len, q.qweight,
         greatest(q.cf, 1)::DOUBLE / (SELECT coll_len FROM coll) AS cp,
         coalesce(p.tf, 0) AS tf
  FROM dlen d
  CROSS JOIN qstats q
  LEFT JOIN post p ON p.docno = d.docno AND p.term = q.term
),
scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln((tf + {DIR_MU} * cp) / (doc_len + {DIR_MU}))), 6) AS score
  FROM frame GROUP BY qid, docno
),
ranked AS (
  SELECT qid, docno, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno DESC) AS rank
  FROM scored
),
run AS (
  SELECT qid, docno, score, CAST(rank AS INT) AS rank
  FROM ranked WHERE rank <= {k}
)
"""


SQL_RUN_DIRICHLET = sql_run_dirichlet(TOP_K)

# Synthetic-but-derived qrels: a document is relevant to a topic iff it
# contains the topic's FIRST term; rel=2 when tf>=3 else 1. Deterministic and
# expressible identically in Spark and SQL, so eval metrics get real oracles.
QREL_TERMS: list[tuple[str, str]] = [(qid, q.split()[0]) for qid, q in TOPICS]

SQL_QRELS = (
    "qrels AS (SELECT t.qid, p.docno, "
    "CASE WHEN p.tf >= 3 THEN 2 ELSE 1 END AS rel "
    "FROM post p JOIN (VALUES "
    + ", ".join(f"('{qid}', '{t}')" for qid, t in QREL_TERMS)
    + ") AS t(qid, term) ON p.term = t.term)"
)


def qrels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of SQL_QRELS: (qid, docno, rel)."""
    docs = _docs(spark, sf_dir)
    post = stats.postings_for_terms(
        docs, sorted({t for _, t in QREL_TERMS}), id_col="doc_id"
    )
    tmap = spark.createDataFrame(QREL_TERMS, "qid string, term string")
    return post.join(F.broadcast(tmap), "term").select(
        "qid", "docno",
        F.when(F.col("tf") >= 3, 2).otherwise(1).alias("rel"),
    )


# ---------------------------------------------------------------------------
# Domain query modules register themselves on import (must stay at the
# bottom: they import `register` & the SQL blocks defined above).
# ---------------------------------------------------------------------------

from hadoop_ir_spark import queries as _queries  # noqa: E402,F401

_queries.load_all()
