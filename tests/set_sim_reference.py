"""Test-only reference for the exact set-similarity kernel: the plain
blocked self-join with no candidate filter, verified by
``array_intersect`` — quadratic in the block, which is why no query
runs it (the round-7 q_c113 form was a 26.7 s bench tail at sf0.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark_eks_spark.operators.dedup import _c113_fold_bands


def c113_allpairs_curve(sized):
    """q_c113's band curve from every same-lang pair of ``sized``
    (doc_id, lang, toks) inside the J >= 0.5 length gate."""
    s = sized.withColumn("n", F.size("toks"))
    a, b = s.alias("a"), s.alias("b")
    i = F.size(F.array_intersect("a.toks", "b.toks"))
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.abs(F.col("a.n") - F.col("b.n"))
            <= 0.5 * F.greatest(F.col("a.n"), F.col("b.n"))
        ),
    ).select(
        F.col("a.doc_id").alias("doc_id_1"),
        F.col("b.doc_id").alias("doc_id_2"),
        i.alias("i"),
        (F.col("a.n") + F.col("b.n") - i).alias("u"),
    )
    return _c113_fold_bands(pairs)
