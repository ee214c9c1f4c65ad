"""End-to-end near-duplicate detection + clustering pipeline.

pages(url, warc_ts, html, text, lang)
  -> docs(doc_id, url, text)                    deterministic id assignment
  -> signatures(doc_id, sig[num_perm])          one pandas-UDF stage
  -> bands(doc_id, band_idx, band_hash)         native posexplode
  -> cand_pairs(a, b)                           bucket groupBy + pair expansion
  -> verified(a, b, est_jaccard)                zip_with filter at threshold
  [-> substring_edges(a, b, match_len)]         optional exact long-match pass
  -> clusters(doc_id, cluster_id)               driver union-find or
                                                large-star/small-star CC

Each named stage passes once through ``CheckpointManager.materialize``:
in memory by default, or written to a parquet/Iceberg table for mid-run
resume. The pipeline derives the resume digest from the whole config and
the input files, so a changed run never serves stale stages. No per-row
Python anywhere; the signature UDF is the only Arrow boundary.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.operators import lsh
from datasketch_spark.operators.components import (
    attach_cluster_ids,
    connected_components_auto,
)
from datasketch_spark.operators.verify import (
    verify_pairs_est,
    verify_pairs_exact_text,
)
from datasketch_spark.sources.io import CheckpointManager


def assign_doc_ids(pages: DataFrame, key_col: str = "url") -> DataFrame:
    """Deterministic doc_id from the unique key: xxhash64(url).

    Content-addressed ids (not row_number) keep ids stable across cluster
    sizes and partial re-runs — required for the cross-parallelism
    stability invariant. Collision probability at 10^12 docs over 64 bits
    is ~3%-birthday-level for the whole corpus but vanishing per pair. No
    collision check runs here: two keys hashing to one id silently share
    a doc_id (and so a cluster). Check with ``groupBy("doc_id")`` /
    ``count() > 1`` when that matters; it costs one more Spark job.
    """
    return pages.withColumn("doc_id", F.xxhash64(F.col(key_col)))


def dedup_pipeline(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoints: CheckpointManager | None = None,
    key_col: str = "url",
    text_col: str = "text",
    substring_pass: bool = False,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every intermediate stage by name.

    ``clusters`` is the headline output: (doc_id, url, cluster_id) where
    cluster_id = min doc_id of the near-duplicate component.

    ``substring_pass=True`` additionally runs the exact long-substring
    pass (operators/suffix.py, Lee et al. 2021 style; thresholds
    cfg.substring_k / cfg.substring_window) and unions its edges into the
    connected-components input — two docs sharing an exact match of
    >= k + w - 1 bytes cluster together even when their overall shingle
    Jaccard is below threshold (the north rule's 'exact long-match dedup'
    merged ahead of clustering).

    ``checkpoints`` defaults to the in-memory ``CheckpointManager()``. Its
    ``run_config`` is extended with everything that decides the output —
    the full ``cfg``, ``substring_pass``, the key/text columns and the
    input files — so a resume after any of them changed recomputes.
    Callers add to ``run_config`` only what those miss, e.g. the size of a
    generated (non-file) input.
    """
    cfg = cfg or DedupConfig()
    ckpt = checkpoints or CheckpointManager()
    ckpt.run_config = {
        **ckpt.run_config,
        **dataclasses.asdict(cfg),
        "substring_pass": substring_pass,
        "key_col": key_col,
        "text_col": text_col,
        "input_files": sorted(pages.inputFiles()),
    }

    docs = assign_doc_ids(pages, key_col).select(
        "doc_id", F.col(key_col).alias("url"), F.col(text_col).alias("text")
    )

    # Signatures are consumed twice (banding + verification) and are the
    # expensive UDF output. Bands are consumed twice too (the hot-bucket
    # count and the pair expansion in candidate_pairs, plus the lazy
    # dropped-bucket audit). The verify stage joins pairs against the
    # (much larger) signatures table twice, and exact pair-count stats let
    # AQE pick the broadcast side without runtime re-planning.
    sigs = lsh.with_signature(docs, cfg, text_col="text")
    sigs = ckpt.materialize(sigs.select("doc_id", "sig"), "signatures")
    bands = ckpt.materialize(lsh.bands_table(sigs, cfg), "bands")
    pairs = ckpt.materialize(lsh.candidate_pairs(bands, cfg), "cand_pairs")

    if cfg.verify_mode == "exact":
        verified = verify_pairs_exact_text(pairs, docs, cfg).withColumnRenamed(
            "jaccard", "est_jaccard"
        )
    else:
        verified = verify_pairs_est(pairs, sigs, cfg)
    verified = ckpt.materialize(verified, "verified")

    edges = verified.select(F.col("a").alias("u"), F.col("b").alias("v"))
    substring_edges = None
    if substring_pass:
        from datasketch_spark.operators.suffix import substring_dedup_edges

        substring_edges = ckpt.materialize(
            substring_dedup_edges(
                docs,
                k=cfg.substring_k,
                w=cfg.substring_window,
                bucket_cap=cfg.bucket_cap,
            ),
            "substring_edges",
        )
        edges = edges.unionByName(
            substring_edges.select(
                F.col("a").alias("u"), F.col("b").alias("v")
            )
        )
    labels = connected_components_auto(edges)

    clusters = attach_cluster_ids(
        docs.select("doc_id", "url"), labels, key_col="doc_id"
    )
    clusters = ckpt.materialize(clusters, "clusters")

    stages = {
        "docs": docs,
        "signatures": sigs,
        "bands": bands,
        "cand_pairs": pairs,
        "verified": verified,
        "clusters": clusters,
        # Lazy skew diagnostic (reference get_counts, lsh.py:560-589):
        # buckets excluded by the cap — evaluate to audit what was dropped.
        "dropped_buckets": lsh.dropped_buckets(bands, cfg),
    }
    if substring_edges is not None:
        stages["substring_edges"] = substring_edges
    return stages


def cluster_summary(clusters: DataFrame) -> DataFrame:
    """Per-cluster size histogram — the operational 'how much dup' metric."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def keep_canonical(clusters: DataFrame) -> DataFrame:
    """Training-data dedup output: one representative per cluster (min
    doc_id — deterministic)."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "cluster_id")
    )
