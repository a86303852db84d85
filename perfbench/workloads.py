"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs ops through the
engine's public functions only, and checks every result afterwards.  The
benchmark's own spans wrap each public call; in a traced run each lazy
layer's output is also materialized inside its span, so every span owns
the Spark jobs it causes.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import checks
import gen
from tweets_spark_top_10_spark.functions import dedup, similarity
from tweets_spark_top_10_spark.functions.cachectl import persist_tracked, release_persisted
from tweets_spark_top_10_spark.operators.explode_count import explode_count
from tweets_spark_top_10_spark.operators.topk import top_k, top_k_per_group
from tweets_spark_top_10_spark.sources.readers import read_batch, read_hour_partition
from tweets_spark_top_10_spark.sources.writers import write_csv_top_k
from tweets_spark_top_10_spark.streaming.sinks import foreach_batch_overwrite
from tweets_spark_top_10_spark.streaming.sources import file_stream
from tweets_spark_top_10_spark.streaming.windows import windowed_top_k


def materialize(tr, df: DataFrame, span) -> DataFrame:
    """Traced runs only: compute ``df`` now, inside ``span``."""
    if not df.is_cached:
        df = df.persist()
        tr.persisted.append(df)
    span.counts["rows_out"] = df.count()
    return df


def call(tr, name: str, fn, *args, **kwargs):
    """One public-function call inside its span."""
    with tr.span(name) as sp:
        out = fn(*args, **kwargs)
        if tr.enabled and isinstance(out, DataFrame):
            out = materialize(tr, out, sp)
    return out


class ClosedLoop:
    """One client; the next op starts when the previous one returns."""

    name = ""
    # Untimed ops before measuring.  A count, not a time, so a slow host
    # starts timing with the JIT as warm as a fast one does.
    WARMUP_OPS = 1

    def __init__(self, spark, work: str, seed: int, tr):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tr
        self.extra: dict = {}  # workload-specific end-to-end figures

    def prepare(self) -> None:
        """Generate inputs and do any untimed set-up."""

    def before_op(self, i: int) -> None:
        """Untimed preparation of op ``i``'s input."""

    def op(self, i: int) -> int:
        """Run op ``i``; return the input rows it covered."""
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        """Untimed clean-up and result capture after op ``i``."""
        for df in self.tr.persisted:
            df.unpersist(blocking=True)
        self.tr.persisted.clear()

    def check(self, ops: list[int]) -> list[checks.Verdict]:
        raise NotImplementedError


class HourlyTop10(ClosedLoop):
    """The reference job as a backfill loop: one op is one hour."""

    name = "hourly_top10"
    DAYS, PER_HOUR = 2, 100_000
    WARMUP_OPS = 5

    def prepare(self):
        self.base = os.path.join(self.work, "tweets")
        self.hours = gen.write_tweet_hours(self.base, self.seed, self.DAYS, self.PER_HOUR)

    def out_dir(self, i):
        return os.path.join(self.work, "top10", f"op={i}")

    def op(self, i):
        tr, hour = self.tr, self.hours[i % len(self.hours)]
        # The call alone: partition discovery over the base path, no scan.
        with tr.span("sources.read_hour_partition"):
            df = read_hour_partition(self.spark, self.base, *hour)
        if tr.enabled:
            with tr.span("sources.read_hour_partition.files") as sp:  # files opened after pruning
                sp.counts["input_files"] = df.select(F.input_file_name()).distinct().count()
            with tr.span("sources.read_hour_partition.scan") as sp:
                df = materialize(tr, df, sp)
        counts = call(tr, "operators.explode_count", explode_count, df, "hashtags", "hashtag", "n")
        top = call(tr, "operators.top_k", top_k, counts, [F.desc("n"), F.asc("hashtag")], 10)
        call(tr, "sources.write_csv_top_k", write_csv_top_k, top, self.out_dir(i))
        return self.PER_HOUR

    def check(self, ops):
        def hour_file(i):
            return os.path.join(gen.hour_dir(self.base, self.hours[i % len(self.hours)]), gen.HOUR_FILE)

        con = checks.duckdb_conn()
        want = checks.hours_top_k(con, sorted({hour_file(i) for i in ops}))
        con.close()
        return [checks.compare_ranked(checks.read_csv_top_k(self.out_dir(i)), want[hour_file(i)]) for i in ops]


class CorpusDedup(ClosedLoop):
    """Near-duplicate removal: one op is one shard of the corpus."""

    name = "corpus_dedup"
    SHARD_DOCS = 16_000
    WARMUP_DOCS = 1_000  # the first op pays JIT warm-up whatever its size

    def prepare(self):
        self.shards: dict[int, gen.Shard] = {}
        self.results: dict[int, tuple] = {}

    def shard_path(self, i):
        return os.path.join(self.work, f"shard{i}.parquet")

    def before_op(self, i):
        n = self.WARMUP_DOCS if i < 0 else self.SHARD_DOCS
        self.shards[i] = gen.corpus_shard(self.seed, i + 1000, n)
        pq.write_table(self.shards[i].table, self.shard_path(i))

    def op(self, i):
        tr, spark = self.tr, self.spark
        docs = read_batch(spark, self.shard_path(i))
        sh = call(tr, "functions.dedup.shingle_table", dedup.shingle_table, docs, spread=False)
        sh = sh.transform(persist_tracked)
        wide = call(
            tr, "functions.dedup.minhash_signatures", dedup.minhash_signatures,
            docs, shingles=sh, with_count=True,
        ).transform(persist_tracked)
        cands = call(
            tr, "functions.dedup.minhash_band_pairs", dedup.minhash_band_pairs,
            docs, shingles=sh, signatures=wide,
        )
        pairs = call(
            tr, "functions.dedup.lsh_exact_rerank", dedup.lsh_exact_rerank,
            docs, cands, shingles=sh, counts=wide.select("doc_id", "n_sh"), threshold=0.5,
        )
        comp = call(tr, "functions.dedup.connected_components", dedup.connected_components, pairs)
        with tr.span("keep_one_per_component"):
            removed = comp.where(F.col("node") != F.col("component")).select(F.col("node").alias("doc_id"))
            kept = docs.join(removed, "doc_id", "left_anti").select("doc_id")
            kept.write.mode("overwrite").parquet(os.path.join(self.work, f"kept{i}"))
        self._comp = comp
        return self.shards[i].table.num_rows

    def after_op(self, i):
        comp = [(r["node"], r["component"]) for r in self._comp.collect()]
        kept = pq.read_table(os.path.join(self.work, f"kept{i}")).column("doc_id").to_pylist()
        self.results[i] = (kept, comp)
        release_persisted(self.spark)
        super().after_op(i)

    def check(self, ops):
        out = []
        for i in ops:
            kept, comp = self.results[i]
            shard = self.shards[i]
            ids = shard.table.column("doc_id").to_pylist()
            out.append(checks.check_dedup(ids, kept, comp, shard.groups))
        return out


class VectorSearch(ClosedLoop):
    """IVF index built once, then batches of held-out queries probe it."""

    name = "vector_search"
    N_INDEX, N_CELLS, N_PROBE, K, BATCH, N_QUERIES = 4_000, 16, 4, 10, 16, 1024
    WARMUP_OPS = 3

    def prepare(self):
        spark, tr = self.spark, self.tr
        self.index, self.queries = gen.embeddings(self.seed, self.N_INDEX, self.N_QUERIES)
        ip, qp = os.path.join(self.work, "index.parquet"), os.path.join(self.work, "queries.parquet")
        pq.write_table(gen.vectors_table(self.index, "neighbor_id"), ip)
        pq.write_table(gen.vectors_table(self.queries, "query_id"), qp)
        self.cand = read_batch(spark, ip)
        self.q_all = read_batch(spark, qp)
        stride = self.N_INDEX // (self.N_CELLS + 1)
        t = time.perf_counter()
        with tr.span("functions.similarity.ivf_centroids"):
            self.cents = similarity.ivf_centroids(self.cand, n_cells=self.N_CELLS, stride=stride).persist()
            n = self.cents.count()
        with tr.span("functions.similarity.ivf_assign_cells") as sp:
            self.cells = similarity.ivf_assign_cells(self.cand, self.cents, "neighbor_id").persist()
            self.cells.count()
            if sp is not None:
                sp.counts["scored_pairs"] = self.N_INDEX * n
        self.extra["index_build_s"] = time.perf_counter() - t
        self.results: dict[int, list] = {}
        if tr.enabled:  # candidates scanned per query, from the index's own cells
            cent = {r["cell_id"]: np.array(r["centroid"]) for r in self.cents.collect()}
            self.cell_ids = np.array(sorted(cent))
            self.cent_mat = np.stack([cent[c] for c in self.cell_ids])
            sizes = {r["cell_id"]: r["count"] for r in self.cells.groupBy("cell_id").count().collect()}
            self.cell_sizes = np.array([sizes.get(c, 0) for c in self.cell_ids])

    def batch_ids(self, i):
        first = (i * self.BATCH) % self.N_QUERIES
        return list(range(first, first + self.BATCH))

    def op(self, i):
        tr, ids = self.tr, self.batch_ids(i)
        qb = self.q_all.where(F.col("query_id").between(ids[0], ids[-1]))
        res = call(
            tr, "functions.similarity.ivf_knn", similarity.ivf_knn, qb, self.cand,
            k=self.K, n_cells=self.N_CELLS, n_probe=self.N_PROBE,
            centroids=self.cents, cand_cells=self.cells,
        )
        rows = res.select("query_id", "neighbor_id", "cos_sim", "rank").collect()
        self.results[i] = [tuple(r) for r in rows]
        if tr.enabled:
            q = self.queries[ids].astype(np.float64)
            sims = q @ self.cent_mat.T / np.linalg.norm(self.cent_mat, axis=1)
            probe = np.argsort(-sims, axis=1, kind="stable")[:, : self.N_PROBE]
            tr.spans[-1].counts["candidates_per_query"] = float(self.cell_sizes[probe].sum(axis=1).mean())
        return self.BATCH

    def check(self, ops):
        out = []
        for i in ops:
            ids = self.batch_ids(i)
            out.append(checks.check_knn_batch(self.results[i], self.index, self.queries[ids], ids, self.K))
        return out


class StreamTrending:
    """Open loop: files land on a fixed schedule whatever the engine does.

    One op is one landed file; its latency runs from landing to the commit
    of the micro-batch that consumed it, as a ``StreamingQueryListener``
    observes it.  One query runs for the whole phase with the default
    trigger (the next micro-batch starts when the previous one ends).
    ``foreach_batch_top_k`` always runs to ``availableNow`` and ends, so the
    sink is its own two parts: ``foreach_batch_overwrite`` with the same
    per-window ``top_k_per_group`` ranking, kept running.
    """

    name = "stream_trending"
    PLAN = gen.StreamPlan(interval_s=0.05, rows_per_file=1_000, file_span_us=6_000_000)
    WINDOW_S, WATERMARK_S, DRAIN_S, WARMUP_S = 60, 10, 60, 0.5

    def __init__(self, spark, work: str, seed: int, tr):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tr
        self.extra: dict = {}

    def prepare(self, seconds: float):
        n = int(max(seconds, self.WARMUP_S) / self.PLAN.interval_s) + 1
        self.files = gen.stream_files(self.seed, self.PLAN, n)

    def run(self, seconds: float, phase: str, warmup: bool = False) -> dict:
        """Land files for ``seconds`` and wait until all are committed; a
        warm-up waits only for the first batch with data."""
        from pyspark.sql.streaming import StreamingQueryListener

        spark, tr, plan = self.spark, self.tr, self.PLAN
        root = os.path.join(self.work, phase)
        inbox, staging = os.path.join(root, "in"), os.path.join(root, "staging")
        out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
        os.makedirs(inbox)
        os.makedirs(staging)
        schema = T.StructType(
            [
                T.StructField("tweet_id", T.LongType()),
                T.StructField("created_at", T.TimestampType()),
                T.StructField("hashtags", T.ArrayType(T.StringType())),
            ]
        )
        progress: list[tuple[float, dict]] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append((time.time(), json.loads(event.progress.json)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Listener()
        spark.streams.addListener(listener)
        landed: dict[str, float] = {}  # file name -> time it was due to land
        late: list[float] = []
        stop = threading.Event()

        def generate():
            t0 = time.time()
            for i, table in enumerate(self.files):
                due = t0 + i * plan.interval_s
                if due > t0 + seconds or stop.is_set():
                    break
                time.sleep(max(0.0, due - time.time()))
                name = f"f{i:05d}.parquet"
                pq.write_table(table, os.path.join(staging, name))
                os.rename(os.path.join(staging, name), os.path.join(inbox, name))
                landed[name] = due  # latency counts from when the file was due
                late.append(time.time() - due)

        def drained() -> bool:
            """Every landed file is in a micro-batch whose commit was seen."""
            batches = file_batches(ckpt, set(landed))
            seen = {p["batchId"] for _, p in progress}
            return len(batches) == len(landed) and set(batches.values()) <= seen

        with tr.span("streaming.file_stream"):
            src = file_stream(spark, inbox, schema)
            tags = src.select("created_at", F.explode("hashtags").alias("hashtag"))
        with tr.span("streaming.windowed_top_k"):
            counts = windowed_top_k(
                tags, "created_at", "hashtag", k=10,
                window=f"{self.WINDOW_S} seconds", watermark=f"{self.WATERMARK_S} seconds",
            )
        with tr.span("streaming.foreach_batch_top_k"):
            q = foreach_batch_overwrite(
                counts, out, ["window_start"], ckpt, transform=rank_windows, trigger_available_now=False
            )
        gen_thread = threading.Thread(target=generate, name="stream-generator")
        t_start = time.time()
        gen_thread.start()
        try:
            deadline = t_start + seconds + self.DRAIN_S
            while time.time() < deadline and q.isActive:
                if not gen_thread.is_alive() and (
                    drained() or (warmup and any(p["numInputRows"] for _, p in progress))
                ):
                    break
                time.sleep(0.05)
        finally:
            stop.set()
            gen_thread.join()
            q.stop()
            time.sleep(0.2)  # let the listener see the last progress event
            spark.streams.removeListener(listener)
        if q.exception() is not None:
            raise RuntimeError(f"stream query failed: {q.exception()}")
        t_end_timed = t_start + seconds

        batches = file_batches(ckpt, set(landed))
        commit_at: dict[int, float] = {}
        for t, p in progress:
            commit_at.setdefault(p["batchId"], t)
        lat_ms, rows_done, last_commit = [], 0, t_start
        for name, t_land in landed.items():
            b = batches.get(name)
            if b is None or b not in commit_at:
                continue
            lat_ms.append((commit_at[b] - t_land) * 1000.0)
            rows_done += plan.rows_per_file
            last_commit = max(last_commit, commit_at[b])
        backlog = sum(
            1 for n, t in landed.items()
            if t <= t_end_timed and commit_at.get(batches.get(n, -1), float("inf")) > t_end_timed
        )
        self.extra["batches"] = [
            (p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"), round(t - t_start, 3))
            for t, p in progress
        ]
        return {
            "root": root, "out": out, "inbox": inbox, "landed": landed, "batches": batches,
            "committed": {n for n, b in batches.items() if b in commit_at},
            "lat_ms": lat_ms, "rows_done": rows_done,
            "elapsed": max(last_commit - min(landed.values(), default=t_start), 1e-9),
            "backlog": backlog, "late_ms": [x * 1000.0 for x in late],
            "progress": [p for _, p in progress],
        }

    def check(self, res: dict) -> list[checks.Verdict]:
        """One verdict per landed file: the file's windows must be right.

        Every emitted window must equal DuckDB's; every window that ends by
        the watermark the last micro-batch ran with (the latest event time
        of the batches before it, minus the watermark delay, less 1 s) must
        have been emitted.
        """
        names = sorted(res["committed"])
        files = [os.path.join(res["inbox"], n) for n in names]
        last = max((res["batches"][n] for n in names), default=-1)
        before = [f for n, f in zip(names, files) if res["batches"][n] < last]
        con = checks.duckdb_conn()
        want = checks.window_top_k(con, files, self.WINDOW_S)
        max_ev = con.execute(
            f"SELECT epoch_us(MAX(created_at)) FROM read_parquet([{', '.join(repr(f) for f in before)}])"
        ).fetchone()[0] if before else 0
        con.close()
        got = read_window_top_k(res["out"], self.WINDOW_S)
        closed_before = max_ev // 1_000_000 - self.WATERMARK_S - 1
        total, bad = checks.compare_windows(got, want, closed_before, self.WINDOW_S)
        out = []
        span_s = self.PLAN.file_span_us / 1e6
        base_s = int(np.datetime64("2026-02-01T00:00", "s").astype(np.int64))
        for n in res["landed"]:
            i = int(n[1:6])
            first_ws = int((base_s + i * span_s) // self.WINDOW_S * self.WINDOW_S)
            last_ws = int((base_s + (i + 1) * span_s - 1) // self.WINDOW_S * self.WINDOW_S)
            ok = n in res["committed"] and first_ws not in bad and last_ws not in bad
            out.append(checks.Verdict(ok, 0, 0, 0))
        if out:  # the window-level counts ride on the first verdict
            out[0] = checks.Verdict(out[0].ok, total.matched, total.returned, total.expected)
        return out


def rank_windows(batch: DataFrame) -> DataFrame:
    """The per-window top-10 ``foreach_batch_top_k`` applies to a batch."""
    return top_k_per_group(batch, ["window_start"], [F.desc("n"), F.asc("hashtag")], 10)


def file_batches(ckpt: str, names: set[str]) -> dict[str, int]:
    """File name -> id of the micro-batch that consumed it, from the file
    source's metadata log in the checkpoint."""
    log = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for entry in os.listdir(log):
        if entry.startswith("."):
            continue
        try:
            with open(os.path.join(log, entry)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            continue
        for line in lines[1:]:
            if not line.startswith("{"):
                continue
            rec = json.loads(line)
            name = os.path.basename(rec["path"])
            if name in names:
                out[name] = int(rec["batchId"])
    return out


def read_window_top_k(out: str, window_s: int) -> dict[int, list[tuple[str, int]]]:
    """The sink's per-window rows, keyed by window start (epoch s)."""
    got: dict[int, list[tuple[str, int]]] = {}
    if not os.path.isdir(out):
        return got
    for d in sorted(os.listdir(out)):
        part = os.path.join(out, d)
        if not (d.startswith("window_start=") and os.path.isdir(part)):
            continue
        for f in sorted(os.listdir(part)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(part, f)).to_pydict()
            for end, tag, n in zip(t["window_end"], t["hashtag"], t["n"]):
                ws = int(end.timestamp()) - window_s
                got.setdefault(ws, []).append((tag, int(n)))
    return got


WORKLOADS = {w.name: w for w in (HourlyTop10, CorpusDedup, VectorSearch, StreamTrending)}
