"""Deterministic test-data generators shared by tests and tools.

- ``zipf_words``: the Zipf-10^5 pseudo-word vocabulary that
  ``tools/bpe_build_index.py`` trained the committed
  ``fixtures/bpe_merges_32k`` table on.  Its output must not change, or
  the fixture no longer matches its training vocabulary.
- ``clustered_corpus``: the clustered-geometry embedding corpus behind
  the ``rp_ivf_rerank`` recall floor.
"""

from __future__ import annotations


def zipf_words(spark, v: int):
    """(s, freq) word table: rank r gets freq max(1, 10V/r); the word
    string for rank r is an md5-derived base-36 pseudo-word, encoded in
    the double-space boundary-owning symbol form the learner consumes."""
    from pyspark.sql import functions as F

    return spark.range(1, v + 1).select(
        F.regexp_replace(
            F.lower(
                F.conv(
                    F.substring(F.md5(F.col("id").cast("string")), 1, 10),
                    16,
                    36,
                )
            ),
            "(.)",
            " $1 ",
        ).alias("s"),
        F.greatest(
            F.lit(1), (F.lit(10 * v) / F.col("id")).cast("long")
        ).alias("freq"),
    )


def clustered_corpus(spark, sf_dir: str, replicas: int = 10,
                     eps: float = 0.15, dim: int = 64):
    """(vec_id, label, embedding) with every base vector expanded into
    a ``replicas``-member cluster: replica k = v + eps*shift(v, k)
    (k=0 keeps v up to the member expression's round(., 6) on the
    float->double->float cast — NOT bit-identical to the source, which
    is harmless here because the exact and approximate paths rank the
    same corpus; ids shift by k*(max_id+1)).  Pure DataFrame — the
    input of the clustered recall floor in tests/test_rp.py."""
    from pyspark.sql import functions as F

    from tweets_spark_top_10_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_base = emb.agg(F.max("vec_id")).first()[0] + 1
    k = F.col("k")
    e = F.transform("embedding", lambda x: x.cast("double"))
    shifted = F.concat(
        F.slice(e, k + F.lit(1), F.lit(dim) - k), F.slice(e, F.lit(1), k)
    )
    eps_k = F.when(k == 0, F.lit(0.0)).otherwise(F.lit(eps))
    member = F.zip_with(
        e, shifted, lambda a, b: F.round(a + eps_k * b, 6).cast("float")
    )
    return (
        emb.select(
            "vec_id",
            "label",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("k"),
        )
        .select(
            (F.col("vec_id") + k * F.lit(n_base)).alias("vec_id"),
            "label",
            member.alias("embedding"),
        )
    )
