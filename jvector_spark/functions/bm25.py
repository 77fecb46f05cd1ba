"""BM25 scoring expressions (JVM-side, float64).

Formula (SURVEY.md Q11; Lucene-style idf, no (k1+1) numerator — the graft
of jvector's exact VectorSimilarityFunction kernels,
jvector-base/.../vector/VectorSimilarityFunction.java:34-79):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(t, d) = idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))

All math is float64 end-to-end; comparisons against the oracle round to 6
decimals only at compare time (SURVEY.md §7 hard part (c)).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1


def idf_col(df_col: Column, n_docs: Column | int) -> Column:
    n = F.lit(n_docs).cast("double") if isinstance(n_docs, (int, float)) else n_docs.cast("double")
    d = df_col.cast("double")
    return F.log(F.lit(1.0) + (n - d + F.lit(0.5)) / (d + F.lit(0.5)))


def bm25_term_score_col(
    tf_col: Column,
    df_col: Column,
    dl_col: Column,
    n_docs: Column | int,
    avgdl: Column | float,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> Column:
    """Per-(term, doc) BM25 contribution; sum over query terms per doc."""
    tf = tf_col.cast("double")
    dl = dl_col.cast("double")
    ad = F.lit(avgdl).cast("double") if isinstance(avgdl, (int, float)) else avgdl.cast("double")
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / ad)
    return idf_col(df_col, n_docs) * tf / denom


def tfidf_term_score_col(
    tf_col: Column,
    df_col: Column,
    n_docs: Column | int,
) -> Column:
    """Classic sublinear TF-IDF contribution: (1 + ln tf) * ln(1 + N/df).
    The engine's second similarity function — the analog of jvector
    shipping EUCLIDEAN / DOT_PRODUCT / COSINE side by side
    (VectorSimilarityFunction.java:34-79): same posting data, different
    scoring kernel."""
    n = (
        F.lit(n_docs).cast("double")
        if isinstance(n_docs, (int, float))
        else n_docs.cast("double")
    )
    tf = tf_col.cast("double")
    return (F.lit(1.0) + F.log(tf)) * F.log(F.lit(1.0) + n / df_col.cast("double"))
