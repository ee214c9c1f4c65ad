"""The pipeline's one stage boundary: cut a stage's lineage, and decide
when a persisted stage is stale.

``CheckpointManager()`` (no root) keeps stages in memory with a lazy
``localCheckpoint``. With a root, every stage is written to a table with
per-partition lineage + metrics so the pipeline resumes mid-run; a stage
is served back only if it was written under the same run config digest.
The table format is abstracted: parquet in the sandbox, Iceberg on a
cluster (same call sites — ``format='iceberg'`` + a catalog conf is the
only change; no Iceberg jars ship in this sandbox so the branch is
config-gated, not exercised here).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class CheckpointManager:
    """Materializes each pipeline stage under its name.

    ``root=None``: in-memory (tests/queries) — a lazy localCheckpoint,
    nothing written, nothing to resume.

    ``root`` set: writes each stage to ``<root>/<stage>`` and records a
    ``_metrics.json`` sidecar (rows, per-file rows, elapsed, config
    digest). ``resume=True``: if a stage directory exists with a complete
    metrics sidecar AND the sidecar's config digest matches the current
    ``run_config``, the stage is read back instead of recomputed — mid-run
    resume. A digest mismatch (``run_config`` changed between runs)
    recomputes the stage instead of serving stale data.
    """

    root: str | None = None
    format: str = "parquet"  # "parquet" | "iceberg"
    resume: bool = True
    run_config: dict = field(default_factory=dict)

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _metrics_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._metrics.json")

    def config_digest(self) -> str:
        return hashlib.sha256(
            json.dumps(self.run_config, sort_keys=True, default=str).encode()
        ).hexdigest()[:16]

    def has(self, stage: str) -> bool:
        """A stage is resumable only if its sidecar exists AND was written
        under the same run_config (digest check)."""
        if self.root is None:
            return False
        path = self._metrics_path(stage)
        if not os.path.exists(path):
            return False
        try:
            with open(path) as fh:
                recorded = json.load(fh).get("config_digest")
        except (OSError, json.JSONDecodeError):
            return False
        return recorded == self.config_digest()

    def load(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.format(self.format).load(self._path(stage))

    def stage_config(self, stage: str) -> dict | None:
        """The run_config recorded in a stage's metrics sidecar, or None
        if the sidecar is missing/unreadable — lets a loader restore the
        exact config an index was SAVED under instead of guessing."""
        try:
            with open(self._metrics_path(stage)) as fh:
                cfg = json.load(fh).get("config")
        except (OSError, json.JSONDecodeError):
            return None
        return cfg if isinstance(cfg, dict) else None

    def materialize(self, df: DataFrame, stage: str) -> DataFrame:
        """Cut the stage's lineage and return the materialized DataFrame.

        In memory: ``localCheckpoint(eager=False)``, measured ~0.5s faster
        per sf0.1 pipeline run than eager. Caveat (measured): under AQE,
        localCheckpoint on a plan that CONTAINS shuffles executes those
        shuffle stages immediately anyway (requesting the RDD makes
        AdaptiveSparkPlanExec materialize its query stages) — the laziness
        win is real only for shuffle-free stages like the signature
        projection; for the rest it merely skips the final result-stage
        job.

        With a root: write the stage, record metrics, return the re-read
        table (lineage truncated at the table)."""
        if self.root is None:
            return df.localCheckpoint(eager=False)
        spark = df.sparkSession
        if self.resume and self.has(stage):
            return self.load(spark, stage)
        os.makedirs(self.root, exist_ok=True)
        t0 = time.time()
        df.write.mode("overwrite").format(self.format).save(self._path(stage))
        out = self.load(spark, stage)
        # Per-partition lineage: rows per file (file = unit of parallel read).
        per_file = (
            out.groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        metrics = {
            "stage": stage,
            "rows": int(sum(r["count"] for r in per_file)),
            "files": len(per_file),
            "rows_per_file": {
                os.path.basename(r["file"]): int(r["count"]) for r in per_file
            },
            "elapsed_sec": round(time.time() - t0, 3),
            "format": self.format,
            "config": self.run_config,
            "config_digest": self.config_digest(),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with open(self._metrics_path(stage), "w") as fh:
            json.dump(metrics, fh, indent=1, default=str)
        return out


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 256,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> DataFrame:
    """Persist a DataFrame as a BUCKETED table and return the re-read
    handle (``spark.table``), which carries the bucketing metadata.

    This is the co-location primitive the LSH layer's scale story leans
    on: a bands table bucketed by ``band_hash`` hash-partitions every
    bucket's rows into one file group, so the downstream
    ``groupBy(band_idx, band_hash)`` chains in ``candidate_pairs`` /
    ``bucket_histogram`` are satisfied by the scan's existing
    distribution — Catalyst drops their shuffles entirely (hash
    partitioning on a SUBSET of the grouping keys satisfies the clustered
    distribution). At 100 TB that shuffle is ~9 rows per doc of the whole
    corpus; writing the table bucketed once amortizes it across every
    query that groups or self-joins on the bucket key.

    ``n_buckets`` should be sized like shuffle partitions at the target
    scale (files per bucket stay parallel-readable). Requires a table
    name (bucketing metadata lives in the catalog); pass ``path`` to
    control the storage location.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return df.sparkSession.table(table)
