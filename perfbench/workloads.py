"""The workloads: set-up, untraced measurement, traced layer-by-layer run,
and the checks on every output.

BENCHMARK.json lists dedup_bulk and dedup_clustered. stream_claims runs
the same way by name but is not listed: on a shared 4-core host its
microbatch latency moved by 40% between quiet and busy periods, more than
any bound the benchmark may set, where the batch workloads moved by under
10%.

Every call into the program goes through its public functions:
``get_spark``, ``dedup_pipeline`` and the layer functions it is built from,
and ``streaming_lsh_claims``. The traced dedup run composes the layer
functions the way ``dedup_pipeline`` does and must reproduce its cluster
assignment exactly, so the trace cannot drift from the real wiring.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from datasketch_spark import DedupConfig, get_spark
from datasketch_spark.functions.hashing import permutations, permute_min_ranges
from datasketch_spark.functions.shingles import batch_shingle_hashes
from datasketch_spark.operators import lsh
from datasketch_spark.operators.components import (
    attach_cluster_ids,
    connected_components_auto,
)
from datasketch_spark.operators.dedup import assign_doc_ids, dedup_pipeline
from datasketch_spark.operators.suffix import (
    dropped_fingerprints,
    fingerprints_table,
    substring_candidates,
    verify_substring_pairs,
)
from datasketch_spark.operators.verify import verify_pairs_est, verify_pairs_exact_text
from datasketch_spark.streaming.dedup_stream import streaming_lsh_claims

import corpus
from spans import Tracer

CFG = DedupConfig()
CORES = 4
SETUPS = 3  # set-ups per untraced run; setup_s is their median

# Sizes keep one pipeline run to a few seconds, so a 20 s window holds
# several, and a whole benchmark run, three set-ups included, near a minute
# on a 4-core host. BENCHMARK.json says why each workload exists.
BULK_DOCS = 3000
CLUSTERED_DOCS = 1000
STREAM_BATCH_DOCS = 40
WARM_DOCS = 400


class Failures:
    """Operations attempted, the ones that failed, and each failure's cause."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.causes: list[str] = []

    def check(self, ok: bool, cause: str) -> bool:
        if not ok:
            self.causes.append(cause)
        return ok

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        # Two shuffle partitions per core: the package default (32) is
        # sized for clusters and triples the fixed cost of every shuffle
        # stage at these input sizes on a 4-core host.
        shuffle_partitions=2 * CORES,
        extra_conf={
            # A fixed, pre-touched heap: the JVM's resident size is then the
            # same from run to run, so peak_rss_mb moves with the program's
            # off-heap and Python-worker memory, not with when G1 grew the
            # heap.
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv4Stack=true -Xms3g -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def timed_setups(work: str, warm, n: int):
    """Start Spark and warm it up ``n`` times (stopping all but the last
    session); return the set-up times and the live session. The first
    set-up also launches the JVM."""
    times = []
    spark = None
    for i in range(n):
        t0 = time.perf_counter()
        spark = start_spark(work)
        warm(spark)
        times.append(time.perf_counter() - t0)
        if i < n - 1:
            for q in spark.streams.active:
                q.stop()
            spark.stop()
    return times, spark


def latency_summary(samples: list[float]) -> tuple[float, float, str]:
    """Median, and the highest percentile with at least ten samples beyond
    it (the maximum when there are ten samples or fewer)."""
    xs = sorted(samples)
    idx = max(len(xs) - 11, 0) if len(xs) > 10 else len(xs) - 1
    pct = 100.0 * idx / (len(xs) - 1) if len(xs) > 1 else 100.0
    return statistics.median(xs), xs[idx], f"p{pct:.0f}"


# ---------------------------------------------------------------- dedup


def clusters_frame(spark, path: str) -> pd.DataFrame:
    return spark.read.parquet(path).select("doc_id", "url", "cluster_id").toPandas()


def digest(clusters: pd.DataFrame) -> str:
    c = clusters.sort_values("doc_id")
    arr = c[["doc_id", "cluster_id"]].to_numpy(dtype=np.int64)
    return hashlib.sha1(arr.tobytes()).hexdigest()


def check_clusters(clusters: pd.DataFrame, pages: pd.DataFrame, fails: Failures, what: str) -> bool:
    ok = fails.check(
        len(clusters) == len(pages) and set(clusters["url"]) == set(pages["url"]),
        f"{what}: clusters table does not hold exactly one row per input doc",
    )
    ok &= fails.check(
        clusters["doc_id"].is_unique, f"{what}: doc_id is not unique in the clusters table"
    )
    mins = clusters.groupby("cluster_id")["doc_id"].transform("min")
    ok &= fails.check(
        bool((mins == clusters["cluster_id"]).all()),
        f"{what}: cluster_id is not the minimum doc_id of its cluster",
    )
    return ok


def pair_recall(clusters: pd.DataFrame, truth: list[tuple[str, str]]) -> float:
    cid = dict(zip(clusters["url"], clusters["cluster_id"]))
    hits = sum(cid[a] == cid[b] for a, b in truth)
    return hits / len(truth)


def run_pipeline(spark, pages_path: str, out_path: str, substring_pass: bool) -> float:
    t0 = time.perf_counter()
    stages = dedup_pipeline(spark.read.parquet(pages_path), CFG, substring_pass=substring_pass)
    stages["clusters"].write.mode("overwrite").parquet(out_path)
    return time.perf_counter() - t0


def _materialize(df):
    return df.localCheckpoint(eager=True)


def traced_pipeline(spark, tr: Tracer, pages_path: str, out_path: str, substring_pass: bool) -> None:
    """``dedup_pipeline`` layer by layer, each layer forced under its own
    span; ``audit.*`` spans hold the benchmark's own counting."""
    cfg = CFG
    with tr.span("pipeline"):
        with tr.span("scan"):
            pages = spark.read.parquet(pages_path)
            docs = _materialize(
                assign_doc_ids(pages, "url").select("doc_id", F.col("url"), F.col("text"))
            )
        with tr.span("audit.scan"):
            row = docs.agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")).first()
            tr.counts["scan.rows"] = row["n"]
            tr.counts["scan.docs.id_collisions"] = row["n"] - row["d"]

        with tr.span("minhash"):
            sigs = _materialize(lsh.with_signature(docs, cfg, text_col="text").select("doc_id", "sig"))
        with tr.span("bands"):
            bands = _materialize(lsh.bands_table(sigs, cfg))
        with tr.span("pairs"):
            pairs = _materialize(lsh.candidate_pairs(bands, cfg))
        with tr.span("audit.pairs"):
            hist = lsh.bucket_histogram(bands)
            agg = hist.agg(
                F.max("n_keys").alias("max_bucket"),
                F.count(F.when(F.col("n_keys") > cfg.bucket_cap, 1)).alias("dropped"),
            ).first()
            dropped_docs = (
                bands.join(lsh.dropped_buckets(bands, cfg), ["band_idx", "band_hash"])
                .select("doc_id").distinct().count()
                if agg["dropped"]
                else 0
            )
            tr.counts["minhash.docs"] = sigs.count()
            tr.counts["bands.rows"] = bands.count()
            tr.counts["pairs.rows"] = pairs.count()
            tr.counts["pairs.max_bucket"] = agg["max_bucket"] or 0
            tr.counts["pairs.dropped_buckets"] = agg["dropped"]
            tr.counts["pairs.dropped_docs"] = dropped_docs

        with tr.span("verify"):
            if cfg.verify_mode == "exact":
                verified = verify_pairs_exact_text(pairs, docs, cfg).withColumnRenamed(
                    "jaccard", "est_jaccard"
                )
            else:
                verified = verify_pairs_est(pairs, sigs, cfg)
            verified = _materialize(verified)
        edges = verified.select(F.col("a").alias("u"), F.col("b").alias("v"))

        if substring_pass:
            k, w, cap = cfg.substring_k, cfg.substring_window, cfg.bucket_cap
            with tr.span("suffix.fingerprint"):
                fps = _materialize(fingerprints_table(docs, k, w))
            with tr.span("suffix.candidates"):
                cands = _materialize(substring_candidates(fps, cap))
            with tr.span("suffix.verify"):
                sub = _materialize(verify_substring_pairs(cands, docs, min_len=k + w - 1))
            with tr.span("audit.suffix"):
                tr.counts["suffix.fingerprints"] = fps.count()
                tr.counts["suffix.dropped_fingerprints"] = dropped_fingerprints(fps, cap).count()
                tr.counts["suffix.candidate_rows"] = cands.count()
                tr.counts["suffix.edges"] = sub.count()
            edges = edges.unionByName(sub.select(F.col("a").alias("u"), F.col("b").alias("v")))

        with tr.span("components"):
            labels = _materialize(connected_components_auto(edges))
        with tr.span("audit.components"):
            driver_max = inspect.signature(connected_components_auto).parameters[
                "driver_max_edges"
            ].default
            n_edges = edges.count()
            sizes = labels.groupBy("component").count()
            tr.counts["verify.rows"] = verified.count()
            tr.counts["components.edges"] = n_edges
            tr.counts["components.distributed"] = int(n_edges > driver_max)
            tr.counts["components.largest"] = sizes.agg(F.max("count")).first()[0] or 1

        with tr.span("label"):
            clusters = attach_cluster_ids(docs.select("doc_id", "url"), labels, key_col="doc_id")
            clusters.write.mode("overwrite").parquet(out_path)


def minhash_split(texts: list[str], batch: int) -> dict[str, float]:
    """CPU time of the signature kernels in this process, no Spark: the
    shingle and permute-min halves of the UDF, over the same texts in
    Arrow-batch-sized chunks."""
    a, b = permutations(CFG.num_perm, CFG.seed)
    shingle = permute = 0.0
    tokens = 0
    for i in range(0, len(texts), batch):
        t0 = time.process_time()
        hv, starts, ends = batch_shingle_hashes(texts[i : i + batch], CFG.shingle_k, CFG.hash_mode)
        t1 = time.process_time()
        permute_min_ranges(hv, starts, ends, a, b)
        t2 = time.process_time()
        shingle += t1 - t0
        permute += t2 - t1
        tokens += len(hv)
    return {"shingle_cpu_s": shingle, "permute_cpu_s": permute, "tokens": tokens}


def _output_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )


class DedupWorkload:
    def __init__(self, name: str, make_corpus, n_docs: int, substring_pass: bool):
        self.name = name
        self.make_corpus = make_corpus
        self.n_docs = n_docs
        self.substring_pass = substring_pass

    def prepare(self, work: str, seed: int, seconds: float) -> None:
        self.work = work
        self.seconds = seconds
        self.pages = self.make_corpus(self.n_docs, seed)
        self.pages_path = os.path.join(work, "pages")
        corpus.write_pages(self.pages, self.pages_path)
        self.truth = corpus.true_pairs(self.pages, CFG.threshold)
        warm = self.make_corpus(WARM_DOCS, seed + 1_000_003)
        self.warm_path = os.path.join(work, "warm_pages")
        corpus.write_pages(warm, self.warm_path)
        self.out_path = os.path.join(work, "clusters")

    def warm(self, spark) -> None:
        run_pipeline(spark, self.warm_path, os.path.join(self.work, "warm_out"), self.substring_pass)

    def measure(self, spark, fails: Failures) -> dict:
        # One untimed run on the real input first: the first run after the
        # set-up's small warm-up is still markedly slower (JIT, worker start).
        burn_in = run_pipeline(
            spark, self.pages_path, os.path.join(self.work, "burn_in"), self.substring_pass
        )
        walls = []
        t_end = time.perf_counter() + self.seconds
        # At least three timed runs; then another only if it should end
        # within the window.
        while len(walls) < 3 or time.perf_counter() + walls[-1] <= t_end:
            out = os.path.join(self.out_path, f"run{len(walls) + 1}")
            walls.append(run_pipeline(spark, self.pages_path, out, self.substring_pass))
        digests = []
        for i in range(len(walls)):
            clusters = clusters_frame(spark, os.path.join(self.out_path, f"run{i + 1}"))
            ok = check_clusters(clusters, self.pages, fails, f"run {i + 1}")
            digests.append(digest(clusters))
            ok &= fails.check(
                digests[-1] == digests[0], f"run {i + 1}: cluster assignment differs from run 1"
            )
            fails.record(ok)
            if i == 0:
                recall = pair_recall(clusters, self.truth)
        p50, tail, pct = latency_summary(walls)
        print(
            f"# {self.name}: {len(walls)} runs of {self.n_docs} docs after an untimed"
            f" {burn_in:.3f} s one, walls {[round(w, 3) for w in walls]}"
        )
        print(f"# {self.name}: tail is {pct} of {len(walls)} samples; {len(self.truth)} true pairs")
        return {
            "docs_per_s": self.n_docs / p50,
            "pair_recall": recall,
            "microbatch_p50_s": p50,
            "microbatch_tail_s": tail,
        }

    def traced(self, spark, fails: Failures) -> dict:
        untraced = run_pipeline(spark, self.pages_path, self.out_path, self.substring_pass)
        clusters = clusters_frame(spark, self.out_path)
        fails.record(check_clusters(clusters, self.pages, fails, "untraced run"))
        want = digest(clusters)

        tr = Tracer(spark)
        traced_out = os.path.join(self.work, "traced_clusters")
        traced_pipeline(spark, tr, self.pages_path, traced_out, self.substring_pass)
        got = clusters_frame(spark, traced_out)
        ok = check_clusters(got, self.pages, fails, "traced run")
        ok &= fails.check(
            digest(got) == want,
            "traced layer-by-layer run gives another cluster assignment than dedup_pipeline",
        )
        ok &= fails.check(tr.counts["scan.docs.id_collisions"] == 0, "doc_id collisions in the scan")
        fails.record(ok)
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        split = minhash_split(self.pages["text"].tolist(), batch)
        self.tracer = tr
        m = layer_metrics(tr, split, untraced, got)
        m["label.output_bytes"] = _output_bytes(traced_out)
        return m


def layer_metrics(tr: Tracer, split: dict, untraced_wall: float, clusters: pd.DataFrame) -> dict:
    c = tr.counts
    names = {s["name"] for s in tr.spans}
    m: dict[str, float] = {}
    mh = tr.stage_metrics("minhash")
    pairs = tr.stage_metrics("pairs")
    verify = tr.stage_metrics("verify")
    m["scan.wall_s"] = tr.wall("scan")
    m["scan.rows"] = c["scan.rows"]
    m["scan.docs.id_collisions"] = c["scan.docs.id_collisions"]
    m["minhash.wall_s"] = tr.wall("minhash")
    m["minhash.executor_s"] = mh["executor_s"]
    m["minhash.docs"] = c["minhash.docs"]
    m["minhash.tokens"] = split["tokens"]
    m["minhash.shingle_cpu_s"] = split["shingle_cpu_s"]
    m["minhash.permute_cpu_s"] = split["permute_cpu_s"]
    m["minhash.arrow_s"] = mh["executor_s"] - split["shingle_cpu_s"] - split["permute_cpu_s"]
    m["minhash.task_skew"] = mh["task_skew"]
    m["bands.wall_s"] = tr.wall("bands")
    m["bands.rows"] = c["bands.rows"]
    # Bands are a shuffle-free projection; their bytes are written by the
    # map side of the pairs layer's bucket groupBy.
    m["bands.shuffle_write_bytes"] = pairs["map_shuffle_write_bytes"]
    m["pairs.wall_s"] = tr.wall("pairs")
    m["pairs.executor_s"] = pairs["executor_s"]
    m["pairs.rows"] = c["pairs.rows"]
    m["pairs.max_bucket"] = c["pairs.max_bucket"]
    m["pairs.dropped_buckets"] = c["pairs.dropped_buckets"]
    m["pairs.dropped_docs"] = c["pairs.dropped_docs"]
    m["pairs.shuffle_read_bytes"] = pairs["shuffle_read_bytes"]
    m["pairs.spill_bytes"] = pairs["spill_bytes"]
    m["pairs.task_skew"] = pairs["task_skew"]
    m["verify.wall_s"] = tr.wall("verify")
    m["verify.rows"] = c["verify.rows"]
    m["verify.yield"] = c["verify.rows"] / max(c["pairs.rows"], 1)
    m["verify.shuffle_read_bytes"] = verify["shuffle_read_bytes"]
    if "suffix.fingerprint" in names:
        fp = tr.stage_metrics("suffix.fingerprint")
        cand = tr.stage_metrics("suffix.candidates")
        ver = tr.stage_metrics("suffix.verify")
        m["suffix.fingerprint_wall_s"] = tr.wall("suffix.fingerprint")
        m["suffix.candidates_wall_s"] = tr.wall("suffix.candidates")
        m["suffix.fingerprints"] = c["suffix.fingerprints"]
        m["suffix.candidate_rows"] = c["suffix.candidate_rows"]
        m["suffix.verify_wall_s"] = tr.wall("suffix.verify")
        m["suffix.edges"] = c["suffix.edges"]
        m["suffix.yield"] = c["suffix.edges"] / max(c["suffix.candidate_rows"], 1)
        m["suffix.dropped_fingerprints"] = c["suffix.dropped_fingerprints"]
        m["suffix.task_skew"] = max(fp["task_skew"], cand["task_skew"], ver["task_skew"])
    m["components.wall_s"] = tr.wall("components")
    m["components.edges"] = c["components.edges"]
    m["components.distributed"] = c["components.distributed"]
    m["components.largest"] = c["components.largest"]
    m["label.wall_s"] = tr.wall("label")
    m["label.clusters"] = clusters["cluster_id"].nunique()
    m["trace.overhead_s"] = tr.wall("pipeline") - untraced_wall
    m["trace.coverage"] = tr.coverage("pipeline")
    return m


# --------------------------------------------------------------- stream

STREAM_SCHEMA = "url string, warc_ts timestamp, text string"


class ClosedLoop:
    """One producer feeding ``streaming_lsh_claims`` through a directory
    of parquet files: the file for batch k+1 appears only after batch k
    has committed. Latency is file visible -> batch committed."""

    def __init__(self, spark, root: str):
        self.src = os.path.join(root, "src")
        self.stage = os.path.join(root, "staging")
        self.out = os.path.join(root, "out")
        self.ckpt = os.path.join(root, "ckpt")
        for d in (self.src, self.stage):
            os.makedirs(d, exist_ok=True)
        stream = spark.readStream.schema(STREAM_SCHEMA).parquet(self.src)
        claims = streaming_lsh_claims(stream, CFG)
        self.query = (
            claims.writeStream.format("parquet")
            .outputMode("append")
            .option("path", self.out)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self.batches = 0

    def push(self, batch: pd.DataFrame) -> float:
        k = self.batches
        staged = os.path.join(self.stage, f"batch-{k:06d}.parquet")
        corpus.write_parquet(batch, staged)
        commit = os.path.join(self.ckpt, "commits", str(k))
        os.rename(staged, os.path.join(self.src, f"batch-{k:06d}.parquet"))
        t0 = time.perf_counter()
        deadline = t0 + 120
        while not os.path.exists(commit):
            if not self.query.isActive or time.perf_counter() > deadline:
                raise RuntimeError(f"microbatch {k} did not commit: {self.query.exception()}")
            time.sleep(0.001)
        self.batches += 1
        return time.perf_counter() - t0

    def last_progress(self) -> dict:
        """Progress of the last committed batch (posted just after its
        commit)."""
        deadline = time.perf_counter() + 60
        while True:
            p = self.query.lastProgress
            if p and p["batchId"] == self.batches - 1:
                return p
            if time.perf_counter() > deadline:
                raise RuntimeError(f"no progress for microbatch {self.batches - 1}")
            time.sleep(0.001)

    def stop(self) -> None:
        self.query.stop()


def expected_claims(spark, batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Batch first-claimant recomputation: per band bucket, rows in arrival
    order (batch, then url within a batch); first_url is the first row's
    url and prior_count the number of rows before it."""
    from pyspark.sql import Window

    allp = pd.concat([b.assign(batch=i) for i, b in enumerate(batches)], ignore_index=True)
    df = spark.createDataFrame(allp[["url", "text", "batch"]])
    sigs = lsh.with_signature(df, CFG, text_col="text").select("url", "batch", "sig")
    bands = lsh.bands_table(sigs, CFG, key_col="url", extra_cols=("batch",))
    w = Window.partitionBy("band_idx", "band_hash").orderBy("batch", "url")
    return (
        bands.select(
            "band_idx",
            "band_hash",
            "url",
            F.first("url").over(w).alias("first_url"),
            (F.row_number().over(w) - 1).alias("prior_count"),
        )
        .toPandas()
    )


def check_claims(spark, loop: ClosedLoop, batches, fails: Failures) -> pd.DataFrame:
    """Compare the sink with ``expected_claims``; a batch with any differing
    row is a failed operation."""
    cols = ["band_idx", "band_hash", "url", "first_url", "prior_count"]
    got = spark.read.parquet(loop.out).select(*cols).toPandas()
    want = expected_claims(spark, batches)
    merged = got.merge(want, how="outer", on=cols, indicator=True)
    bad_urls = set(merged.loc[merged["_merge"] != "both", "url"])
    batch_of = {u: i for i, b in enumerate(batches) for u in b["url"]}
    bad = sorted({batch_of[u] for u in bad_urls})
    fails.check(
        not bad,
        f"stream claims differ from the batch first-claimant recomputation in batches {bad[:10]}",
    )
    fails.attempted += len(batches)
    fails.failed += len(bad)
    return got


def stream_recall(claims: pd.DataFrame, truth: list[tuple[str, str]]) -> float:
    """Share of true near-dup arrivals (exact Jaccard >= t with an earlier
    arrival) that the stream flags as colliding with an earlier doc."""
    flagged = set(
        claims.loc[(claims["prior_count"] > 0) & (claims["first_url"] != claims["url"]), "url"]
    )
    dups = {later for _, later in truth}
    return len(dups & flagged) / len(dups)


class StreamWorkload:
    name = "stream_claims"

    def prepare(self, work: str, seed: int, seconds: float) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.loops = 0

    def _loop(self, spark) -> ClosedLoop:
        self.loops += 1
        return ClosedLoop(spark, os.path.join(self.work, f"stream{self.loops}"))

    def warm(self, spark) -> None:
        """Start the query and push the first batch, which pays the query's
        start-up; the timed loop continues this query."""
        self.arrivals = corpus.StreamArrivals(self.seed, STREAM_BATCH_DOCS)
        self.loop = self._loop(spark)
        self.loop.push(self.arrivals.next_batch())

    def _run(self) -> tuple[list[float], float]:
        lat = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.seconds:
            lat.append(self.loop.push(self.arrivals.next_batch()))
        wall = time.perf_counter() - t0
        self.loop.stop()
        return lat, wall

    def measure(self, spark, fails: Failures) -> dict:
        lat, wall = self._run()
        arrivals = self.arrivals
        claims = check_claims(spark, self.loop, arrivals.batches, fails)
        p50, tail, pct = latency_summary(lat)
        print(f"# stream_claims: {len(lat)} microbatches of {STREAM_BATCH_DOCS} docs; tail is {pct}")
        return {
            "docs_per_s": len(lat) * STREAM_BATCH_DOCS / wall,
            "pair_recall": stream_recall(claims, arrivals.true_pairs(CFG.threshold)),
            "microbatch_p50_s": p50,
            "microbatch_tail_s": tail,
        }

    def traced(self, spark, fails: Failures) -> dict:
        """Untraced loop, then the same arrivals again with a span per
        microbatch and progress read after each commit."""
        lat, untraced_wall = self._run()
        arrivals = self.arrivals
        check_claims(spark, self.loop, arrivals.batches, fails)

        tr = Tracer(spark)
        loop = self._loop(spark)
        loop.push(arrivals.batches[0])
        progress = []
        with tr.span("stream"):
            for batch in arrivals.batches[1:]:
                with tr.span("stream.microbatch"):
                    loop.push(batch)
                    progress.append(loop.last_progress())
        loop.stop()
        check_claims(spark, loop, arrivals.batches, fails)

        texts = [t for b in arrivals.batches for t in b["text"]]
        split = minhash_split(texts, int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")))
        docs = spark.createDataFrame(pd.concat(arrivals.batches)[["url", "text"]])
        with tr.span("minhash"):
            sigs = _materialize(lsh.with_signature(docs, CFG, text_col="text").select("url", "sig"))
        with tr.span("bands"):
            bands = _materialize(lsh.bands_table(sigs, CFG, key_col="url"))
        mh = tr.stage_metrics("minhash")
        self.tracer = tr

        def dur(p, key):
            return p["durationMs"].get(key, 0) / 1000.0

        state = [p["stateOperators"][0] for p in progress]
        return {
            "minhash.wall_s": tr.wall("minhash"),
            "minhash.executor_s": mh["executor_s"],
            "minhash.docs": len(texts),
            "minhash.tokens": split["tokens"],
            "minhash.shingle_cpu_s": split["shingle_cpu_s"],
            "minhash.permute_cpu_s": split["permute_cpu_s"],
            "minhash.arrow_s": mh["executor_s"] - split["shingle_cpu_s"] - split["permute_cpu_s"],
            "minhash.task_skew": mh["task_skew"],
            "bands.wall_s": tr.wall("bands"),
            "bands.rows": bands.count(),
            "stream.add_batch_s": statistics.median(dur(p, "addBatch") for p in progress),
            "stream.commit_s": statistics.median(dur(p, "commitOffsets") for p in progress),
            "stream.input_rows": sum(p["numInputRows"] for p in progress),
            "stream.state_rows": state[-1]["numRowsTotal"],
            "stream.state_updates": sum(s["numRowsUpdated"] for s in state),
            "stream.state_bytes": state[-1]["memoryUsedBytes"],
            "trace.overhead_s": tr.wall("stream") - untraced_wall,
            "trace.coverage": tr.coverage("stream"),
        }


WORKLOADS = {
    "dedup_bulk": lambda: DedupWorkload("dedup_bulk", corpus.bulk_corpus, BULK_DOCS, False),
    "dedup_clustered": lambda: DedupWorkload(
        "dedup_clustered", corpus.clustered_corpus, CLUSTERED_DOCS, True
    ),
    "stream_claims": StreamWorkload,
}
