"""Scale rehearsal: the full dedup pipeline at 10x the r4 scaling corpus
(default 16M synthetic docs), with REAL per-stage checkpoints, recording:

  - per-stage wall time + row counts (from the CheckpointManager metrics
    sidecars — the same lineage/metrics machinery a cluster run uses),
  - stage shares (is the 79%-signature-map profile of the 1.6M run still
    the shape at 16M? any superlinear stage?),
  - peak JVM RSS (executors live in the one local-mode JVM) and peak
    python-worker RSS, from /proc VmHWM,
  - the CC edge count vs the 2M driver union-find cap (components.py
    switches to the distributed large/small-star fallback above it).

Usage: python jobs/scale_rehearsal.py [n_docs] [n_cpus]
Writes corpus + checkpoints under /dev/shm/rehearsal (tmpfs), prints one
JSON line. Evidence target: BENCH.md round-5 section.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _peak_rss_gb() -> dict[str, float]:
    """Max VmHWM per process name across /proc (this sandbox runs only
    our JVM/python workers, so the max java row IS our executor JVM)."""
    peaks: dict[str, float] = {}
    for path in glob.glob("/proc/[0-9]*/status"):
        try:
            with open(path) as fh:
                name, hwm = None, 0.0
                for line in fh:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        hwm = float(line.split()[1]) / 1024 / 1024  # kB->GB
                        break
        except OSError:
            continue
        if name and hwm:
            peaks[name] = max(peaks.get(name, 0.0), hwm)
    return {
        "jvm_peak_gb": round(peaks.get("java", 0.0), 2),
        "python_peak_gb": round(
            max((v for k, v in peaks.items() if k.startswith("python")), default=0.0),
            2,
        ),
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n_cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    root = os.environ.get("REHEARSAL_DIR", "/dev/shm/rehearsal")

    from pyspark.sql import functions as F

    from datasketch_spark.config import DedupConfig
    from datasketch_spark.operators.dedup import dedup_pipeline
    from datasketch_spark.session import get_spark
    from datasketch_spark.sources.io import CheckpointManager
    from datasketch_spark.sources.pages import synth_pages

    spark = get_spark(
        app_name=f"rehearsal-{n_docs}",
        master=f"local[{n_cpus}]",
        shuffle_partitions=max(n_cpus * 4, 64),
        extra_conf={
            # A hung python worker (socket stall) otherwise wedges the
            # whole run on its last task forever — speculation re-launches
            # stragglers. Observed once at 16M: task 259/260 idle 20+ min
            # with its worker process gone.
            "spark.speculation": "true",
            "spark.speculation.multiplier": "4",
            "spark.speculation.quantile": "0.9",
        },
    )

    cfg = DedupConfig(threshold=0.8)
    pages_dir = os.path.join(root, f"pages_{n_docs}")
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        t0 = time.time()
        synth_pages(
            spark, n_docs, seed=42, partitions=max(n_cpus * 4, 64)
        ).write.mode("overwrite").parquet(pages_dir)
        print(f"# corpus generated in {time.time() - t0:.1f}s", file=sys.stderr)
    pages = spark.read.parquet(pages_dir)

    ckpt = CheckpointManager(root=os.path.join(root, "ckpt"), resume=False)
    t0 = time.time()
    stages = dedup_pipeline(pages, cfg, checkpoints=ckpt)
    out_dir = os.path.join(root, "clusters")
    t_cc0 = time.time()
    stages["clusters"].write.mode("overwrite").parquet(out_dir)
    t_cc = time.time() - t_cc0
    total = time.time() - t0

    clusters = spark.read.parquet(out_dir)
    n_clusters = clusters.select("cluster_id").distinct().count()
    n_in_dup_clusters = (
        clusters.groupBy("cluster_id")
        .count()
        .where(F.col("count") >= 2)
        .agg(F.sum("count"))
        .collect()[0][0]
    )

    stage_stats = {}
    for stage in ("signatures", "bands", "cand_pairs", "verified", "clusters"):
        path = os.path.join(root, "ckpt", f"{stage}._metrics.json")
        with open(path) as fh:
            m = json.load(fh)
        stage_stats[stage] = {
            "elapsed_sec": m["elapsed_sec"],
            "rows": m["rows"],
            "files": m["files"],
        }
    # CC label iterations (large/small-star rounds or driver union-find)
    # run as eager jobs between the sidecar-timed materializations: the
    # residual is their cost.
    accounted = sum(s["elapsed_sec"] for s in stage_stats.values()) + t_cc
    stage_stats["cc_labeling(residual)"] = {
        "elapsed_sec": round(max(0.0, total - accounted), 3),
        "rows": n_docs,
    }
    stage_stats["final_write"] = {"elapsed_sec": round(t_cc, 3), "rows": n_docs}
    for s in stage_stats.values():
        s["share_pct"] = round(100 * s["elapsed_sec"] / total, 1)

    result = {
        "metric": "scale rehearsal (full dedup pipeline, per-stage checkpoints)",
        "n_docs": n_docs,
        "n_cpus": n_cpus,
        "total_sec": round(total, 1),
        "docs_per_sec": round(n_docs / total, 1),
        "stages": stage_stats,
        "cand_pairs": stage_stats["cand_pairs"]["rows"],
        "verified_edges": stage_stats["verified"]["rows"],
        "cc_driver_cap": 2_000_000,
        "n_clusters": n_clusters,
        "docs_in_dup_clusters": int(n_in_dup_clusters or 0),
        **_peak_rss_gb(),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
