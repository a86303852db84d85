"""Seeded input generators for the trend-engine benchmark.

Pure numpy + pyarrow: no Spark, and nothing here runs inside a timed
phase.  Every generator takes a ``numpy.random.Generator`` built from the
workload seed, so one seed always yields byte-identical inputs
(:func:`digest` proves it) and the engine only ever sees the files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic shape.  These figures are assumptions, not measurements of real
# traffic: no public hashtag or embedding statistics were at hand to fit
# them to.  perfbench/README.md ("Input assumptions") lists them with how
# much op_p50_ms moves when each is changed.
VIRAL_TAG = "viral"
TAG_VOCAB = 5000  # distinct hashtags besides the viral one
STREAM_TAG_VOCAB = 2000  # the same, for the stream's tweets
TAG_ZIPF_S = 1.05  # Zipf exponent of the hashtag popularity
VIRAL_SHARE = 0.15  # share of hashtag occurrences that are the viral tag
TAGS_PER_TWEET_P = (0.35, 0.30, 0.20, 0.15)  # P(0..3 hashtags in a tweet)
DOC_LEN, DOC_VOCAB, DOC_ZIPF_S = 80, 20_000, 0.9  # tokens per document, words, word Zipf
DUP_SHARE = 0.2  # share of a dedup shard's documents that are planted copies
EMBED_DIM = 64
EMBED_CLUSTERS = 48  # mixture components of the embeddings
EMBED_NOISE = 0.35  # per-dimension spread around a component centre
HOUR_US = 3_600_000_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass(frozen=True)
class TagVocab:
    """Zipf hashtag vocabulary with one viral tag on top."""

    names: pa.Array
    probs: np.ndarray

    @classmethod
    def make(cls, size: int):
        probs = np.concatenate([[VIRAL_SHARE], (1.0 - VIRAL_SHARE) * zipf_probs(size, TAG_ZIPF_S)])
        names = pa.array([VIRAL_TAG] + [f"tag{i:05d}" for i in range(size)])
        return cls(names, probs)


def tweets_table(
    rng: np.random.Generator, vocab: TagVocab, n: int, first_id: int, start_us: int, span_us: int
) -> pa.Table:
    """``n`` tweets with event times spread over ``[start_us, start_us+span_us)``."""
    per = rng.choice(len(TAGS_PER_TWEET_P), size=n, p=TAGS_PER_TWEET_P)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(per, out=offsets[1:])
    tags = rng.choice(len(vocab.probs), size=int(offsets[-1]), p=vocab.probs)
    created = start_us + np.sort(rng.integers(0, span_us, size=n))
    return pa.table(
        {
            "tweet_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "created_at": pa.array(created, type=pa.timestamp("us", tz="UTC")),
            "hashtags": pa.ListArray.from_arrays(
                pa.array(offsets), vocab.names.take(pa.array(tags))
            ),
        }
    )


# -- hourly_top10 ---------------------------------------------------------

YEAR, MONTH, FIRST_DAY = 2026, 1, 5
HOUR_FILE = "part-00000.parquet"  # the one file of each hour directory


def hour_dir(base: str, hour: tuple[int, int, int, int]) -> str:
    y, m, d, h = hour
    return os.path.join(base, f"year={y:04d}", f"month={m:02d}", f"day={d:02d}", f"hour={h:02d}")


def tweet_hours(seed: int, days: int, per_hour: int):
    """Yield ``((y, m, d, h), table)`` for every hour of ``days`` days."""
    rng = rng_for(seed, "tweets")
    vocab = TagVocab.make(TAG_VOCAB)
    base_us = int(np.datetime64(f"{YEAR:04d}-{MONTH:02d}-{FIRST_DAY:02d}T00:00", "us").astype(np.int64))
    for i in range(days * 24):
        hour = (YEAR, MONTH, FIRST_DAY + i // 24, i % 24)
        yield hour, tweets_table(rng, vocab, per_hour, i * per_hour, base_us + i * HOUR_US, HOUR_US)


def write_tweet_hours(base: str, seed: int, days: int, per_hour: int) -> list[tuple[int, int, int, int]]:
    """Write the ``year=/month=/day=/hour=`` layout (App.java:60-63)."""
    hours = []
    for hour, table in tweet_hours(seed, days, per_hour):
        d = hour_dir(base, hour)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, HOUR_FILE))
        hours.append(hour)
    return hours


# -- corpus_dedup ---------------------------------------------------------


GROUP_SIZES = (2, 3, 4)  # exact copies, near-duplicates, chain


@dataclass
class Shard:
    """One dedup shard: documents plus the planted duplicate groups."""

    table: pa.Table  # (doc_id: int64, text: string)
    groups: list[list[int]]  # planted duplicate groups, doc ids


def corpus_shard(seed: int, shard: int, n_docs: int) -> Shard:
    """``n_docs`` documents; about ``DUP_SHARE`` of them are planted copies.

    Three kinds of planted group, in turn: a pair of exact copies, a base
    document with two one-edit near-duplicates (one token substituted), and
    a chain of four in which each member is one edit from the previous one.
    The shapes are fixed, so every seed plants the same number of groups of
    each size and only the text varies.  A one-token
    substitution changes at most 3 of 78 word 3-shingles, so every planted
    pair sits far above Jaccard 0.5 and random documents sit near 0.
    """
    rng = rng_for(seed, f"corpus:{shard}")
    doc_len, vocab = DOC_LEN, DOC_VOCAB
    n_planted_target = int(n_docs * DUP_SHARE)
    plan: list[tuple[int, int]] = []  # (kind, group size)
    n_planted = 0
    while n_planted < n_planted_target:
        kind = len(plan) % 3
        size = GROUP_SIZES[kind]
        plan.append((kind, size))
        n_planted += size - 1
    n_base = max(n_docs - n_planted, len(plan))
    base = rng.choice(vocab, size=(n_base, doc_len), p=zipf_probs(vocab, DOC_ZIPF_S))
    rows = [base]
    groups: list[list[int]] = []
    nxt_id = n_base
    for g, (kind, size) in enumerate(plan):
        members = [g]
        prev = base[g]
        for _ in range(size - 1):
            src = base[g] if kind < 2 else prev
            doc = src.copy()
            if kind > 0:
                pos = int(rng.integers(doc_len))
                doc[pos] = (doc[pos] + 1 + int(rng.integers(vocab - 1))) % vocab
            rows.append(doc[None, :])
            members.append(nxt_id)
            nxt_id += 1
            prev = doc
        groups.append(members)
    mat = np.concatenate(rows)
    order = rng.permutation(len(mat))  # scatter groups across the id space
    pos_of = np.empty_like(order)
    pos_of[order] = np.arange(len(order))
    id0 = shard * 10_000_000
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(id0, id0 + len(mat), dtype=np.int64)),
            "text": token_texts(mat[order]),
        }
    )
    return Shard(table, [sorted(int(id0 + pos_of[m]) for m in g) for g in groups])


def token_texts(mat: np.ndarray) -> pa.Array:
    """Rows of token ids -> space-joined ``w01234`` strings, without a
    Python loop over tokens (ids must stay below 100000)."""
    n, length = mat.shape
    words = np.array([b"w%05d" % i for i in range(int(mat.max()) + 1)], dtype="S6")
    buf = np.full((n, length, 7), ord(" "), dtype=np.uint8)
    buf[:, :, :6] = words[mat].view(np.uint8).reshape(n, length, 6)
    width = length * 7 - 1
    data = np.ascontiguousarray(buf.reshape(n, length * 7)[:, :width])
    offsets = np.arange(0, n * width + 1, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


# -- vector_search --------------------------------------------------------


def embeddings(seed: int, n_index: int, n_queries: int):
    """Clustered unit vectors: ``(index, queries)`` float32 arrays.

    Queries are held out: drawn from the same mixture, never indexed.
    """
    rng = rng_for(seed, "embeddings")
    centers = rng.standard_normal((EMBED_CLUSTERS, EMBED_DIM))
    n = n_index + n_queries
    pts = centers[rng.integers(EMBED_CLUSTERS, size=n)] + EMBED_NOISE * rng.standard_normal((n, EMBED_DIM))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    pts = pts.astype(np.float32)
    return pts[:n_index], pts[n_index:]


def vectors_table(vecs: np.ndarray, id_col: str, first_id: int = 0) -> pa.Table:
    dim = vecs.shape[1]
    flat = pa.array(vecs.astype(np.float64).ravel())
    offsets = pa.array(np.arange(0, vecs.size + 1, dim, dtype=np.int32))
    return pa.table(
        {
            id_col: pa.array(np.arange(first_id, first_id + len(vecs), dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
        }
    )


# -- stream_trending ------------------------------------------------------


@dataclass(frozen=True)
class StreamPlan:
    """The file schedule of the open-loop stream.

    File ``i`` lands at ``i * interval_s`` after the generator starts and
    holds tweets whose event times cover ``[i, i+1) * file_span_us``.
    """

    interval_s: float
    rows_per_file: int
    file_span_us: int


def stream_files(seed: int, plan: StreamPlan, n_files: int) -> list[pa.Table]:
    rng = rng_for(seed, "stream")
    vocab = TagVocab.make(STREAM_TAG_VOCAB)
    base_us = int(np.datetime64("2026-02-01T00:00", "us").astype(np.int64))
    return [
        tweets_table(
            rng, vocab, plan.rows_per_file, i * plan.rows_per_file,
            base_us + i * plan.file_span_us, plan.file_span_us,
        )
        for i in range(n_files)
    ]


# -- digest ---------------------------------------------------------------


def digest(*parts) -> str:
    """sha256 over tables, arrays and plain values, in order."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, p.schema) as w:
                w.write_table(p)
            h.update(sink.getvalue().to_pybytes())
        elif isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()
