"""Workload inputs, generated from a seed, and their ground truth.

The benchmark owns these generators so that a change to the program
cannot shift a workload. Everything here is numpy/pandas only: no Spark
and nothing from the package under test. The exact-Jaccard ground truth
shingles texts with its own code for the same reason.

Texts are words from a fixed vocabulary joined by single spaces. A
near-duplicate is its source with a fraction ``f`` of word positions
replaced, which gives a shingle Jaccard of roughly ``(1 - f) / (1 + f)``.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SHINGLE_K = 5  # bytes per shingle, the program's default
VOCAB_SIZE = 5000
N_PART_FILES = 8  # pages tables are written as this many part files
CLUSTERED_SHARE = 0.6  # of clustered_corpus docs in planted clusters
MAX_CLUSTER = 100
PASSAGE_SHARE = 0.15  # of clustered_corpus base texts given a shared passage
_EPOCH = pd.Timestamp("2025-01-01", tz="UTC")


def _make_vocab() -> np.ndarray:
    rng = np.random.default_rng(20261017)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=VOCAB_SIZE)
    return np.array(["".join(rng.choice(letters, size=n)) for n in lens], dtype=object)


_VOCAB = _make_vocab()


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    # Zipf-like skew toward low word ids, like natural text.
    return (rng.random(n) ** 2 * VOCAB_SIZE).astype(np.int64)


def _mutate(rng: np.random.Generator, words: np.ndarray, jaccard: float) -> np.ndarray:
    out = words.copy()
    if jaccard < 1.0:
        f = (1.0 - jaccard) / (1.0 + jaccard)
        n_rep = max(1, int(round(f * len(out))))
        pos = rng.choice(len(out), size=n_rep, replace=False)
        out[pos] = _words(rng, n_rep)
    return out


def _text(words: np.ndarray) -> str:
    return " ".join(_VOCAB[words])


def _pages(texts: list[str], seed: int, tag: str, groups: np.ndarray) -> pd.DataFrame:
    n = len(texts)
    rng = np.random.default_rng([seed, 99])
    sites = rng.integers(0, 10_000, size=n)
    secs = rng.integers(0, 31_536_000, size=n)
    return pd.DataFrame(
        {
            "url": [f"https://site{s:04d}.example/{tag}/{seed}/{i:08d}" for i, s in enumerate(sites)],
            "warc_ts": _EPOCH + pd.to_timedelta(secs, unit="s"),
            "text": texts,
            "group": groups,
        }
    )


def bulk_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """Web-like corpus with a low duplicate rate.

    About 40% of docs sit in planted near-dup clusters of 2-5 members;
    docs have 80-400 words. Members copy the cluster base with a
    replacement rate aimed at Jaccard levels from 1.0 down to 0.7, so
    some planted pairs fall on each side of the 0.8 threshold.
    """
    rng = np.random.default_rng([seed, 1])
    # Target Jaccard levels rotate rather than being drawn, so every seed
    # plants the same mix of easy and borderline pairs and pair_recall does
    # not swing with the draw.
    levels = itertools.cycle([1.0, 0.95, 0.9, 0.85, 0.8, 0.7])
    texts: list[str] = []
    groups: list[int] = []
    g = 0
    while len(texts) < n_docs:
        base = _words(rng, int(rng.integers(80, 401)))
        # P(cluster) = 0.16 with mean size 3.5 puts ~40% of docs in clusters.
        size = int(rng.integers(2, 6)) if rng.random() < 0.16 else 1
        size = min(size, n_docs - len(texts))
        for m in range(size):
            words = base if m == 0 else _mutate(rng, base, next(levels))
            texts.append(_text(words))
            groups.append(g if size > 1 else -1)
        g += 1
    order = rng.permutation(n_docs)
    return _pages([texts[i] for i in order], seed, "bulk", np.asarray(groups)[order])


def clustered_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """Duplicate-heavy corpus of short docs.

    About 60% of docs sit in planted clusters with heavy-tailed sizes
    (power law, up to 100 members, well below the default bucket cap of
    2000); docs have 30-120 words. A pool of long passages (25-45 words,
    well over the substring pass's k + w - 1 bytes) is reused across
    unrelated docs, so the substring pass links docs the MinHash pass does
    not.
    """
    rng = np.random.default_rng([seed, 2])
    levels = itertools.cycle([1.0, 0.97, 0.93, 0.9, 0.85, 0.8, 0.75])
    passages = [_words(rng, int(rng.integers(25, 46))) for _ in range(60)]

    def base_words() -> np.ndarray:
        words = _words(rng, int(rng.integers(30, 121)))
        if rng.random() < PASSAGE_SHARE:
            p = passages[int(rng.integers(0, len(passages)))]
            at = int(rng.integers(0, len(words) + 1))
            words = np.concatenate([words[:at], p, words[at:]])
        return words

    texts: list[str] = []
    groups: list[int] = []
    for g, size in enumerate(cluster_sizes(n_docs)):
        base = base_words()
        for m in range(size):
            words = base if m == 0 else _mutate(rng, base, next(levels))
            texts.append(_text(words))
            groups.append(g if size > 1 else -1)
    order = rng.permutation(n_docs)
    return _pages([texts[i] for i in order], seed, "clustered", np.asarray(groups)[order])


def cluster_sizes(n_docs: int) -> list[int]:
    """Cluster sizes for ``clustered_corpus``, then singletons up to n_docs.

    Sizes are evenly spaced quantiles of a power law (Pareto with exponent
    2, minimum 2) capped at MAX_CLUSTER, not random draws: the work a run
    does grows with the sum of squared sizes, which random heavy-tailed
    draws would swing from seed to seed.
    """
    m = 1
    while True:
        u = (np.arange(m) + 0.5) / m
        sizes = np.minimum(np.floor(2.0 / (1.0 - u)), MAX_CLUSTER).astype(int).tolist()
        if sum(sizes) >= CLUSTERED_SHARE * n_docs:
            break
        m += 1
    return sorted(sizes, reverse=True) + [1] * (n_docs - sum(sizes))


class StreamArrivals:
    """Microbatches for the closed-loop stream, one call per batch.

    Batch ``k`` is a pure function of ``(seed, k)`` and the batches before
    it: a fixed share of each batch are re-crawls of docs from earlier
    batches, the rest are fresh docs of 40-200 words. Re-crawls sit well
    above the threshold (Jaccard 0.95-1.0), so recall here shows whether
    claims find earlier docs at all; recall near the threshold is the
    dedup workloads' concern.
    """

    def __init__(self, seed: int, batch_docs: int, dup_share: float = 0.3):
        self.seed = seed
        self.batch_docs = batch_docs
        self.dup_share = dup_share
        self._words: list[np.ndarray] = []
        self._texts: list[str] = []
        self._sources: list[tuple[int, int]] = []  # (earlier doc, near-dup)
        self.batches: list[pd.DataFrame] = []
        self._levels = itertools.cycle([1.0, 0.98, 0.95])

    def next_batch(self) -> pd.DataFrame:
        k = len(self.batches)
        rng = np.random.default_rng([self.seed, 3, k])
        start = k * self.batch_docs
        texts = []
        for i in range(self.batch_docs):
            if start and rng.random() < self.dup_share:
                src = int(rng.integers(0, start))
                words = _mutate(rng, self._words[src], next(self._levels))
                self._sources.append((src, start + i))
            else:
                words = _words(rng, int(rng.integers(40, 201)))
            self._words.append(words)
            texts.append(_text(words))
        self._texts.extend(texts)
        urls = [f"https://stream.example/{self.seed}/{start + i:08d}" for i in range(len(texts))]
        ts = _EPOCH + pd.to_timedelta(np.arange(start, start + len(texts)), unit="s")
        batch = pd.DataFrame({"url": urls, "warc_ts": ts, "text": texts})
        self.batches.append(batch)
        return batch

    def true_pairs(self, threshold: float) -> list[tuple[str, str]]:
        """(earlier url, near-dup url) pairs among the batches made so far
        whose exact shingle Jaccard is >= threshold."""
        urls = [u for b in self.batches for u in b["url"]]
        out = []
        for src, dup in self._sources:
            if dup < len(urls):
                a, b = shingle_set(self._texts[src]), shingle_set(self._texts[dup])
                inter = len(np.intersect1d(a, b, assume_unique=True))
                if inter / (len(a) + len(b) - inter) >= threshold:
                    out.append((urls[src], urls[dup]))
        return out


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """One parquet file of (url, warc_ts, text); timestamps in microseconds,
    which Spark reads as its ``timestamp`` type."""
    table = pa.Table.from_pandas(pdf[["url", "warc_ts", "text"]], preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def write_pages(pages: pd.DataFrame, path: str) -> None:
    """Write the pages table as a directory of part files, the layout a
    Spark job would leave behind. The program never sees ``group``."""
    os.makedirs(path, exist_ok=True)
    for i in range(N_PART_FILES):
        write_parquet(pages.iloc[i::N_PART_FILES], os.path.join(path, f"part-{i:05d}.parquet"))


def shingle_set(text: str, k: int = SHINGLE_K) -> np.ndarray:
    """Sorted distinct k-byte shingles of the UTF-8 text, packed into uint64."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(data) <= k:
        acc = np.uint64(0)
        for byte in data:
            acc = (acc << np.uint64(8)) | byte
        return np.array([acc], dtype=np.uint64) if len(data) else data
    n = len(data) - k + 1
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        acc = (acc << np.uint64(8)) | data[j : j + n]
    return np.unique(acc)


def true_pairs(pages: pd.DataFrame, threshold: float) -> list[tuple[str, str]]:
    """Planted-cluster url pairs whose exact shingle Jaccard is >= threshold.

    Per cluster, members' shingle sets become rows of a 0/1 matrix over the
    cluster's shingle vocabulary; one matrix product gives every pairwise
    intersection.
    """
    out: list[tuple[str, str]] = []
    members = pages[pages["group"] >= 0].groupby("group")
    for _, grp in members:
        urls = grp["url"].tolist()
        sets = [shingle_set(t) for t in grp["text"]]
        vocab, inv = np.unique(np.concatenate(sets), return_inverse=True)
        m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
        rows = np.repeat(np.arange(len(sets)), [len(s) for s in sets])
        m[rows, inv] = 1.0
        inter = np.rint(m @ m.T).astype(np.int64)
        size = np.diag(inter)
        jac = inter / (size[:, None] + size[None, :] - inter)
        ii, jj = np.nonzero(np.triu(jac >= threshold, k=1))
        out.extend((urls[i], urls[j]) for i, j in zip(ii, jj))
    return out
