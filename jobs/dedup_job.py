"""spark-submit entrypoint for the near-duplicate detection pipeline.

Cluster usage (north rule deployment shape):

    python tools/build_zip.py            # -> dist/datasketch_spark.zip
    spark-submit --py-files dist/datasketch_spark.zip \
        jobs/dedup_job.py \
        --input  <pages table path (parquet/iceberg)> \
        --output <checkpoint + results root> \
        --threshold 0.8 --num-perm 128 \
        [--format iceberg] [--resume] [--substring-pass]

Sandbox smoke:

    python jobs/dedup_job.py --synthetic 10000 --output /tmp/dedup_run

The job checkpoints every stage under --output with a _metrics.json
sidecar per stage (rows, per-file lineage, elapsed, config digest) and is
resumable with --resume: completed stages are read back, computation
continues from the first missing stage. The digest covers the whole
pipeline config, --substring-pass and the input files (or the --synthetic
size), so a resume after changing any of them recomputes instead of
serving stale stages; run_summary.json records that config.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datasketch_spark.config import DedupConfig  # noqa: E402
from datasketch_spark.operators.dedup import cluster_summary, dedup_pipeline  # noqa: E402
from datasketch_spark.session import get_spark  # noqa: E402
from datasketch_spark.sources.io import CheckpointManager  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    p.add_argument("--synthetic", type=int, default=0, help="generate N synthetic pages instead of --input")
    p.add_argument("--output", required=True, help="checkpoint/results root")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--bucket-cap", type=int, default=2000)
    p.add_argument("--hash-mode", default="fast", choices=["fast", "parity"])
    p.add_argument("--resume", action="store_true",
                   help="read back stages checkpointed under the same config and input")
    p.add_argument("--substring-pass", action="store_true",
                   help="also run the exact long-substring pass and merge its edges")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    cfg = DedupConfig(
        threshold=args.threshold,
        num_perm=args.num_perm,
        shingle_k=args.shingle_k,
        bucket_cap=args.bucket_cap,
        hash_mode=args.hash_mode,
    )
    spark = get_spark(app_name="dedup-job", master=args.master)
    t0 = time.time()

    if args.synthetic:
        from datasketch_spark.sources.pages import synth_pages

        pages = synth_pages(spark, args.synthetic, seed=42)
    elif args.input:
        pages = spark.read.format(args.format).load(args.input)
    else:
        p.error("one of --input / --synthetic is required")

    # dedup_pipeline adds the config and the input files to run_config; a
    # generated input has no files, so its size stands for it.
    ckpt = CheckpointManager(
        root=args.output,
        format=args.format,
        resume=args.resume,
        run_config={"synthetic": args.synthetic} if args.synthetic else {},
    )
    stages = dedup_pipeline(
        pages, cfg, checkpoints=ckpt, substring_pass=args.substring_pass
    )

    n_docs = stages["clusters"].count()
    n_clusters = stages["clusters"].select("cluster_id").distinct().count()
    elapsed = time.time() - t0
    summary = {
        "n_docs": n_docs,
        "n_clusters": n_clusters,
        "dup_docs_removed": n_docs - n_clusters,
        "elapsed_sec": round(elapsed, 2),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "config": ckpt.run_config,
    }
    with open(os.path.join(args.output, "run_summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary))
    cluster_summary(stages["clusters"]).show(20)


if __name__ == "__main__":
    main()
