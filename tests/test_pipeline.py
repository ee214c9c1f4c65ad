"""End-to-end dedup pipeline: recall vs a brute-force exact-Jaccard oracle,
precision sanity, partitioning-invariance, checkpoint resume.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.operators.dedup import (
    cluster_summary,
    dedup_pipeline,
    keep_canonical,
)
from datasketch_spark.sources.io import CheckpointManager
from datasketch_spark.sources.pages import synth_pages, synth_pages_pdf
from datasketch_spark.functions.shingles import shingle_hashes_fast

N_DOCS = 1000
CFG = DedupConfig(threshold=0.5)  # (25,5): >=0.99 detection at true J>=0.7


def _truth_pairs(min_jaccard: float):
    """Brute-force oracle: exact shingle-set Jaccard within each planted
    block (cross-block random texts are nowhere near threshold)."""
    pdf = synth_pages_pdf(N_DOCS, seed=42)
    shingles = [
        set(shingle_hashes_fast(t, CFG.shingle_k).tolist()) for t in pdf["text"]
    ]
    urls = list(pdf["url"])
    truth = set()
    for block in range(N_DOCS // 10):
        members = list(range(block * 10, block * 10 + 4))
        for i, x in enumerate(members):
            for y in members[i + 1 :]:
                inter = len(shingles[x] & shingles[y])
                union = len(shingles[x] | shingles[y])
                if union and inter / union >= min_jaccard:
                    truth.add(frozenset((urls[x], urls[y])))
    return truth


@pytest.fixture(scope="module")
def pipeline(spark):
    pages = synth_pages(spark, N_DOCS, seed=42)
    stages = dedup_pipeline(pages, CFG)
    stages["clusters"].cache().count()
    return stages


def _cluster_pairs(stages):
    rows = stages["clusters"].select("url", "cluster_id").collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["url"])
    pairs = set()
    for urls in by_cluster.values():
        for i, x in enumerate(urls):
            for y in urls[i + 1 :]:
                pairs.add(frozenset((x, y)))
    return pairs


def test_recall_vs_bruteforce_oracle(pipeline):
    truth = _truth_pairs(0.7)
    assert len(truth) > 100
    got = _cluster_pairs(pipeline)
    recall = len(truth & got) / len(truth)
    assert recall >= 0.99, f"recall {recall:.4f} over {len(truth)} truth pairs"


def test_precision_no_cross_block_pairs(pipeline):
    # Clusters must never join docs from different planted blocks — any
    # such pair would be a blatant false positive (random texts, J ~ 0).
    rows = pipeline["clusters"].select("url", "cluster_id").collect()
    blocks_per_cluster: dict = {}
    for r in rows:
        idx = int(r["url"].rsplit("/", 1)[1])
        blocks_per_cluster.setdefault(r["cluster_id"], set()).add(idx // 10)
    for cid, blocks in blocks_per_cluster.items():
        assert len(blocks) == 1, f"cluster {cid} spans blocks {blocks}"


def test_verified_pairs_have_high_exact_jaccard(pipeline):
    # est >= 0.5 filter should rarely pass pairs with exact J far below.
    truth_low = _truth_pairs(0.35)
    got_pairs = {
        frozenset((r["a"], r["b"]))
        for r in pipeline["verified"].collect()
    }
    id_url = {
        r["doc_id"]: r["url"] for r in pipeline["docs"].collect()
    }
    url_pairs = {frozenset((id_url[min(p)], id_url[max(p)])) for p in got_pairs}
    bad = [p for p in url_pairs if p not in truth_low]
    assert len(bad) / max(1, len(url_pairs)) < 0.02


def test_cluster_assignment_invariant_to_partitioning(spark):
    pages = synth_pages(spark, 300, seed=42)
    a = dedup_pipeline(pages.repartition(3), CFG)["clusters"]
    b = dedup_pipeline(pages.repartition(17), CFG)["clusters"]
    da = {r["url"]: r["cluster_id"] for r in a.collect()}
    db = {r["url"]: r["cluster_id"] for r in b.collect()}
    assert da == db


def test_checkpoint_resume(spark, tmp_path):
    pages = synth_pages(spark, 200, seed=42)
    ck1 = CheckpointManager(root=str(tmp_path / "run"), resume=True)
    r1 = dedup_pipeline(pages, CFG, checkpoints=ck1)
    first = {r["url"]: r["cluster_id"] for r in r1["clusters"].collect()}
    assert ck1.has("signatures") and ck1.has("clusters")
    # Resume: a fresh manager over the same root must reuse the tables and
    # reproduce identical assignments.
    ck2 = CheckpointManager(root=str(tmp_path / "run"), resume=True)
    r2 = dedup_pipeline(pages, CFG, checkpoints=ck2)
    second = {r["url"]: r["cluster_id"] for r in r2["clusters"].collect()}
    assert first == second


def test_resume_recomputes_when_config_or_input_changes(spark, tmp_path):
    # Resume must key on everything that decides the output. Each changed
    # knob (or a rewritten input table) must re-stamp every stage sidecar
    # with a new digest and give the clusters of a fresh in-memory run; an
    # unchanged re-run must still read every stage back.
    import dataclasses
    import glob
    import json
    import os

    root = str(tmp_path / "run")
    src = str(tmp_path / "pages")
    synth_pages(spark, 120, seed=42).write.parquet(src)

    def sidecars():
        out = {}
        for path in glob.glob(os.path.join(root, "*._metrics.json")):
            with open(path) as fh:
                out[os.path.basename(path).split(".")[0]] = json.load(fh)
        return out

    def clusters(df):
        return {r["url"]: r["cluster_id"] for r in df.collect()}

    def run(cfg, substring_pass=False):
        pages = spark.read.parquet(src)
        ckpt = CheckpointManager(root=root, resume=True)
        got = dedup_pipeline(pages, cfg, checkpoints=ckpt, substring_pass=substring_pass)
        fresh = dedup_pipeline(pages, cfg, substring_pass=substring_pass)
        assert clusters(got["clusters"]) == clusters(fresh["clusters"])
        stages = ["signatures", "bands", "cand_pairs", "verified", "clusters"]
        stages += ["substring_edges"] if substring_pass else []
        recorded = sidecars()
        assert {recorded[s]["config_digest"] for s in stages} == {ckpt.config_digest()}
        return ckpt.config_digest()

    seen = {run(CFG)}
    before = sidecars()
    assert run(CFG) in seen
    # Resumed, not rewritten: every sidecar is byte-for-byte the same.
    assert sidecars() == before

    for cfg, substring_pass in [
        (dataclasses.replace(CFG, bucket_cap=1), False),
        (dataclasses.replace(CFG, verify_mode="exact"), False),
        (dataclasses.replace(CFG, seed=7), False),
        (CFG, True),
    ]:
        digest = run(cfg, substring_pass)
        assert digest not in seen, (cfg, substring_pass)
        seen.add(digest)

    # Rewritten input table: drop every planted near-dup's second copy.
    kept = spark.read.parquet(src).where(~F.col("url").endswith("1")).toPandas()
    spark.createDataFrame(kept).write.mode("overwrite").parquet(src)
    assert run(CFG) not in seen


def test_keep_canonical_and_summary(pipeline):
    n_docs = pipeline["clusters"].count()
    canon = keep_canonical(pipeline["clusters"])
    n_canon = canon.count()
    assert n_canon < n_docs  # dups removed
    sizes = cluster_summary(pipeline["clusters"]).collect()
    assert sum(r["cluster_size"] * r["n_clusters"] for r in sizes) == n_docs


def test_substring_pass_merges_exact_long_match_clusters(spark):
    # Two docs share a 120-byte exact block but are otherwise disjoint:
    # shingle Jaccard is far below threshold (separate clusters without
    # the pass), yet the exact-substring pass (min match k+w-1 = 89 bytes)
    # must merge them when enabled.
    import numpy as np

    from datasketch_spark.config import DedupConfig
    from datasketch_spark.operators.dedup import dedup_pipeline

    rng = np.random.RandomState(3)

    def junk(n):
        return "".join(chr(97 + int(c)) for c in rng.randint(0, 26, n))

    common = "SHARED-" * 20  # 140 bytes of exact overlap
    rows = [
        ("a", common + junk(900)),
        ("b", junk(900) + common),
        ("c", junk(1000)),
    ]
    pages = spark.createDataFrame(rows, ["url", "text"])
    cfg = DedupConfig(threshold=0.8)

    plain = dedup_pipeline(pages, cfg)["clusters"]
    by_url = {r["url"]: r["cluster_id"] for r in plain.collect()}
    assert by_url["a"] != by_url["b"]  # not near-dups by Jaccard

    merged_stages = dedup_pipeline(pages, cfg, substring_pass=True)
    merged = {r["url"]: r["cluster_id"] for r in merged_stages["clusters"].collect()}
    assert merged["a"] == merged["b"]
    assert merged["c"] not in (merged["a"],)
    # The stage is surfaced for audit.
    sub = merged_stages["substring_edges"].collect()
    assert len(sub) == 1 and sub[0]["match_len"] >= 89
