"""Jaccard verification of LSH candidate pairs.

The reference documents this as a caller-side post-filter
(``lsh.py:376-378,406-409``; implemented in its benchmark harness
``benchmark/indexes/jaccard/lsh.py:58-68``) but has no operator for it.
Ours: join candidate pairs back to the signatures table twice and filter on
estimated Jaccard (native zip_with expression, JVM-side), or to the
candidate docs' texts and re-shingle them for exact Jaccard (one
Arrow-batched mapInPandas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.minhash import jaccard_col


def verify_pairs_est(
    pairs: DataFrame,
    sig_df: DataFrame,
    cfg: DedupConfig,
    key_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """(a, b) -> (a, b, est_jaccard) filtered at cfg.threshold.

    Two equi-joins on the doc key; the signatures side is typically much
    larger than the pairs side, so Spark's AQE converts the pair side to a
    broadcast when it fits. est_jaccard = matching-slot fraction — the same
    estimator the reference's ``MinHash.jaccard`` applies
    (``minhash.py:299-324``).
    """
    sigs = sig_df.select(F.col(key_col).alias("_k"), F.col(sig_col).alias("_sig"))
    out = (
        pairs.join(sigs.withColumnRenamed("_sig", "_sig_a"), pairs["a"] == sigs["_k"])
        .drop("_k")
        .join(
            sigs.withColumnRenamed("_sig", "_sig_b"),
            F.col("b") == F.col("_k"),
        )
        .drop("_k")
        .withColumn(
            "est_jaccard", jaccard_col("_sig_a", "_sig_b", cfg.num_perm)
        )
        .where(F.col("est_jaccard") >= F.lit(cfg.threshold))
        .select("a", "b", "est_jaccard")
    )
    return out


def verify_pairs_exact_text(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(a, b) -> (a, b, jaccard) with EXACT shingle-set Jaccard recomputed
    from the candidate docs' texts, filtered at cfg.threshold.

    Only candidate docs are re-shingled (the pair set is orders of
    magnitude smaller than the corpus), inside one Arrow-batched
    mapInPandas over the joined pair texts. This is the
    ``verify_mode='exact'`` pipeline path — slower than the signature
    estimate but removes estimator variance from the precision story.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from datasketch_spark.functions.shingles import (
        shingle_hashes_fast,
        shingle_hashes_sha1,
    )

    shingle_fn = (
        shingle_hashes_fast if cfg.hash_mode == "fast" else shingle_hashes_sha1
    )
    k = cfg.shingle_k
    threshold = cfg.threshold

    texts = docs.select(F.col(key_col).alias("_k"), F.col(text_col).alias("_t"))
    joined = (
        pairs.join(texts.withColumnRenamed("_t", "_ta"), pairs["a"] == texts["_k"])
        .drop("_k")
        .join(texts.withColumnRenamed("_t", "_tb"), F.col("b") == F.col("_k"))
        .drop("_k")
        .select("a", "b", "_ta", "_tb")
    )

    out_schema = StructType(
        [
            StructField("a", LongType(), False),
            StructField("b", LongType(), False),
            StructField("jaccard", DoubleType(), False),
        ]
    )

    def _verify(batches):
        cache: dict = {}

        def shingles(text):
            got = cache.get(text)
            if got is None:
                got = np.unique(shingle_fn(text, k)) if text else np.empty(0)
                cache[text] = got
            return got

        for pdf in batches:
            rows = []
            for a, b, ta, tb in zip(pdf["a"], pdf["b"], pdf["_ta"], pdf["_tb"]):
                sa, sb = shingles(ta), shingles(tb)
                union = len(np.union1d(sa, sb))
                j = (
                    1.0
                    if union == 0
                    else len(np.intersect1d(sa, sb, assume_unique=True)) / union
                )
                if j >= threshold:
                    rows.append((int(a), int(b), float(j)))
            yield pd.DataFrame(rows, columns=["a", "b", "jaccard"])

    return joined.mapInPandas(_verify, schema=out_schema)
