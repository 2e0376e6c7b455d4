"""Lexical retrieval operators: inverted-index construction and BM25
scoring over the documents table.

These rank by exact lexical statistics — the standard first-stage
retriever (and the standard dataset-curation tool for query-targeted
corpus slicing).

Everything is native DataFrame ops:
- tokenization is ``split`` on whitespace runs (JVM, codegen);
- the index build is ONE shuffle keyed by (term, doc) — partial
  aggregation collapses repeated terms map-side;
- corpus statistics (N, avgdl) are a single tiny aggregate
  broadcast back (no second pass over the corpus);
- per-term document frequencies for BM25 are computed only for the
  query's terms (filter BEFORE the shuffle — at 100 TB the exploded
  token stream is pruned to the handful of query terms before any
  exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SEP = r"\s+"


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), TOKEN_SEP)
        ).alias("pos", "term"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Build posting rows: one row per (term, doc) with term
    frequency and first/last positions (0-based whitespace-token
    positions).

    One shuffle on (term, doc); Spark's partial aggregation performs
    the classic combiner role, so a document repeating a term 10^4
    times contributes one row to the exchange.
    """
    toks = _tokens(df, text_col, id_col)
    return toks.groupBy("term", id_col).agg(
        F.count("*").alias("tf"),
        F.min("pos").alias("first_pos"),
        F.max("pos").alias("last_pos"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every matching document against ``query_terms`` with
    BM25 (Robertson-Sparck Jones; the Lucene ``+1``-smoothed idf, so
    idf > 0 even for terms in more than half the corpus):

        idf(t)  = ln( (N - df_t + 0.5) / (df_t + 0.5) + 1 )
        score(d) = sum_t idf(t) * tf * (k1+1)
                              / (tf + k1*(1 - b + b*dl/avgdl))

    Returns (id_col, n_hits, score) for documents matching at least
    one term. Plan shape: token stream filtered to the query terms
    BEFORE any exchange; N/avgdl as one broadcast scalar row; df_t
    as a broadcast |terms|-row dim.
    """
    toks = _tokens(df, text_col, id_col).where(
        F.col("term").isin(list(query_terms))
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = df.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), TOKEN_SEP)).alias("dl"),
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(
        F.countDistinct(id_col).alias("df_t")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + 0.5)
        / (F.col("df_t") + 0.5)
        + 1.0
    )
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(dl, on=id_col)
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(df_t), on="term")
        .select(
            F.col(id_col),
            (idf * norm).alias("part"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_hits"),
        F.sum("part").alias("score"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 1000,
) -> DataFrame:
    """Fit the Zipf exponent over the corpus's top-``top_k`` terms:
    ordinary least squares of ln(freq) on ln(rank) — the standard
    corpus-health diagnostic (natural text ≈ -1; template/spam-heavy
    corpora flatten the head).

    Scale shape: one (term) count shuffle with partial aggregation,
    then a DISTRIBUTED top-k (Spark's takeOrdered — per-partition
    heaps, never a global sort), then the regression over k rows.
    Ties at the cutoff break deterministically by term.

    Returns one row: (n_terms, slope, intercept, r2).
    """
    counts = (
        df.select(
            F.explode(
                F.split(F.trim(F.col(text_col)), TOKEN_SEP)
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    top = counts.orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    ranked = top.withColumn("rank", F.row_number().over(w))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.regr_r2(y, x).alias("r2"),
    )
