"""The benchmark's workloads. Each one generates its inputs from the
seed, prepares its state in :meth:`setup`, runs one operation per
:meth:`op` call and checks every operation's output against numpy or
the engine's scalar kernels.

Both workloads run a fixed cycle of operation kinds, and a window always
ends on a whole cycle, so every run does the same mix; the seed picks
the values, the docs and the pairings.

- ``tiers``: a ``run_rollup(resume=False)`` job into a fresh directory,
  then routed tier reads over what it wrote.
- ``analytics``: ``dtw_distance_matrix`` and ``dtw_pairs_pruned`` over a
  seeded doc block, and an ``availableNow`` drain of a staged feed
  through the streaming 1m tier and the EWMA/Holt/CUSUM stream twins,
  with one pass of their batch twins.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tsclust_spark.sources.datagen import generate_sequences


T0_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC, the engine's time origin
T0 = dt.datetime(2024, 1, 1)
T1 = T0 + dt.timedelta(days=1)
RES_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


@dataclass
class OpResult:
    """One operation: its kind, the input points it consumed, and a
    check run after the timer stops (True when the output is right)."""

    kind: str
    points: int
    verify: Callable[[], bool]
    extra: dict = field(default_factory=dict)


def write_sequences(path, seed, n_docs, len_lo, len_hi, n_files=4, doc_offset=0):
    """Generated sequence table as ``n_files`` parquet files; returns
    ``{doc_id: tokens}`` for the numpy checks.

    ``datagen.generate_sequences`` makes the values and the skewed
    ``source`` from the seed. The lengths are evenly spaced over
    [len_lo, len_hi) in one fixed shuffled order, so every seed gives
    each doc the same length and only the values and sources differ:
    a read of given docs does the same amount of work under every
    seed."""
    os.makedirs(path, exist_ok=True)
    lengths = np.random.default_rng(0).permutation(np.linspace(len_lo, len_hi - 1, n_docs).astype(np.int64))
    width = len_hi - 1
    docs: dict[str, np.ndarray] = {}
    per = -(-n_docs // n_files)
    for f in range(n_files):
        rows = min(per, n_docs - f * per)
        if rows <= 0:
            break
        tab = generate_sequences(rows, width, width + 1, seed=seed * 1000 + f, doc_offset=doc_offset + f * per)
        lens = lengths[f * per : f * per + rows]
        values = np.asarray(tab.column("tokens").combine_chunks().flatten()).reshape(rows, width)
        kept = values[np.arange(width)[None, :] < lens[:, None]]
        ends = np.cumsum(lens)
        tab = tab.set_column(
            1, "tokens", pa.ListArray.from_arrays(pa.array(np.r_[0, ends], pa.int32()), kept)
        ).set_column(2, "n_tok", pa.array(lens, pa.int32()))
        pq.write_table(tab, os.path.join(path, f"part-{f:03d}.parquet"), row_group_size=256)
        for d, t in zip(tab.column("doc_id").to_pylist(), np.split(kept.astype(np.int32), ends[:-1])):
            docs[d] = t
    return docs


def parquet_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def bucket_stats(tokens: np.ndarray, res_s: int):
    """numpy oracle: {bucket_start_offset: (min, max, sum, count)} of one
    doc's points, one point per second from T0."""
    vals = tokens.astype(np.int64)
    out = {}
    if vals.size == 0:
        return out
    b = np.arange(vals.size) // res_s
    starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
    for s, e in zip(starts, np.r_[starts[1:], b.size]):
        seg = vals[s:e]
        out[int(b[s]) * res_s] = (int(seg.min()), int(seg.max()), int(seg.sum()), int(e - s))
    return out


# ---------------------------------------------------------------------------
# tiers: batch rollup, then reads over what it wrote
# ---------------------------------------------------------------------------


class Tiers:
    """One cycle: ``run_rollup(resume=False)`` of the generated sequence
    table into a fresh directory (staging, the raw Gorilla tier, the
    1m/1h/1d tiers, partitioned upserts, the manifest); then five routed
    tier reads over the tables it wrote, each over the 1, 16 or 256 most
    popular docs of a fixed popularity ranking, so popular docs repeat
    across reads (two decode a raw tail through
    ``raw_points_for_router``).

    The job's input, 2,000 docs of 64-4,095 points, is one unit of the
    engine's own sizing runs, split over two units so staging and the
    partitioned upsert run as they do at ``jobs/rollup.py``'s 16. There is
    no warm-up: the job is the first of its session, as every
    ``jobs/rollup.py`` run is, and pays the JVM's and the Python workers'
    first-use costs the way a user's job does; the reads follow it in
    the same session."""

    name = "tiers"
    N_DOCS, LEN_LO, LEN_HI, N_UNITS = 2000, 64, 4096, 2
    CYCLE = (
        ("ingest",),
        ("read", "1h", 16, False), ("read", "1m", 256, True), ("read", "1d", 1, False),
        ("read", "1m", 16, False), ("read", "1h", 1, True),
    )
    # raw-tail reads: the 1m tier is taken as materialized up to 00:30
    # and the 1h tier up to 01:00, so a 1m read decodes the second half
    # hour of raw points and a 1h read the points after 01:00
    TAIL_MARKS = {"1d": T0, "1h": T0 + dt.timedelta(hours=1), "1m": T0 + dt.timedelta(minutes=30)}

    def __init__(self, seed: int, work: str):
        self.work, self.rng = work, np.random.default_rng(seed)
        self.input = os.path.join(work, "tiers_in")
        self.docs = write_sequences(self.input, seed, self.N_DOCS, self.LEN_LO, self.LEN_HI)
        values = np.concatenate(list(self.docs.values()))
        self.points = int(values.size)
        self.totals = (self.points, int(values.astype(np.int64).sum()), int(values.min()), int(values.max()))
        ids = sorted(self.docs)
        self.ranking = [ids[i] for i in np.random.default_rng(1).permutation(self.N_DOCS)]
        self.stored_bytes = 0
        self.out = None

    def setup(self, spark):
        self.spark = spark

    def op(self, i: int, tracer) -> OpResult:
        kind = self.CYCLE[i % len(self.CYCLE)]
        if kind[0] == "ingest":
            return self._ingest(i, tracer)
        _, res, size, tail = kind
        return self._read(res, sorted(self.ranking[:size]), tail, tracer)

    def _ingest(self, i: int, tracer) -> OpResult:
        from tsclust_spark.plans.rollup_job import run_rollup

        out = os.path.join(self.work, f"tiers_out_{i}")
        with tracer.span("rollup_job.run_rollup"):
            summary = run_rollup(
                self.spark, self.spark.read.parquet(self.input), out, n_units=self.N_UNITS, resume=False
            )
        prev, self.out = self.out, out
        res = OpResult("ingest", summary["points"], lambda: self._verify_ingest(summary, prev, res.extra))
        res.extra["input_rows"] = self.N_DOCS
        return res

    def _verify_ingest(self, summary: dict, prev: str | None, extra: dict) -> bool:
        """The whole 1m tier equals numpy bucket by bucket, the 1h and 1d
        totals equal numpy's, and eight seeded docs round-trip through
        ``decompress_blocks``. The tiers are read with pyarrow, not
        through the engine."""
        from pyspark.sql import functions as F

        from tsclust_spark.kernels.codec import decompress_blocks

        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        out = self.out
        ok = summary["points"] == self.points and summary["rows"] == self.N_DOCS
        cols = ["doc_id", "bucket_ts", "min_value", "max_value", "sum_value", "count_value"]
        m1 = pq.read_table(f"{out}/agg_1m", columns=cols).to_pydict()
        off = (np.asarray(m1["bucket_ts"], dtype="datetime64[s]").astype(np.int64) - T0_EPOCH).tolist()
        got = dict(zip(zip(m1["doc_id"], off), zip(*(m1[c] for c in cols[2:]))))
        expect = {(d, o): v for d, t in self.docs.items() for o, v in bucket_stats(t, 60).items()}
        ok &= len(got) == len(off) and got == expect
        for tier in ("1h", "1d"):
            t = pq.read_table(f"{out}/agg_{tier}", columns=cols[2:])
            row = (pc.sum(t["count_value"]), pc.sum(t["sum_value"]), pc.min(t["min_value"]), pc.max(t["max_value"]))
            ok &= tuple(int(v.as_py()) for v in row) == self.totals
        sample = sorted(self.rng.choice(sorted(self.docs), size=8, replace=False).tolist())
        blocks = self.spark.read.parquet(f"{out}/raw").filter(F.col("doc_id").isin(sample))
        got = {r.doc_id: np.asarray(r.tokens, dtype=np.int32) for r in decompress_blocks(blocks).collect()}
        ok &= sorted(got) == sample and all(np.array_equal(got[d], self.docs[d]) for d in sample)
        self.stored_bytes = sum(parquet_bytes(f"{out}/{t}") for t in ("raw", "agg_1m", "agg_1h", "agg_1d"))
        extra["manifest_files"] = sum(f.endswith(".parquet") for f in os.listdir(f"{out}/_manifest"))
        return bool(ok)

    def _read(self, res: str, docs: list[str], tail: bool, tracer) -> OpResult:
        from pyspark.sql import functions as F

        from tsclust_spark.operators.rawquery import raw_points_for_router
        from tsclust_spark.plans.tierquery import route_plan, routed_tier_read

        marks = self.TAIL_MARKS if tail else dict.fromkeys(RES_SECONDS, T1)
        plan = route_plan(T0, T1, res, marks)
        raw_from = next((lo for src, lo, _ in plan if src == "raw"), None)
        with tracer.span("tierquery.routed_tier_read", legs=len(plan), tail=raw_from is not None):
            keep = F.col("doc_id").isin(docs)
            tiers = {t: self.spark.read.parquet(f"{self.out}/agg_{t}").filter(keep) for t in RES_SECONDS}
            raw = None
            if raw_from is not None:
                blocks = self.spark.read.parquet(f"{self.out}/raw").filter(keep)
                raw = raw_points_for_router(blocks, raw_from, T1)
            rows = (
                routed_tier_read(res, T0, T1, tiers, marks, raw_points=raw)
                .select(
                    "doc_id",
                    (F.col("bucket_ts").cast("long") - T0_EPOCH).alias("off"),
                    "min_value", "max_value", "sum_value", "count_value",
                )
                .collect()
            )
        points = sum(int(r.count_value) for r in rows)
        expect = {(d, off): v for d in docs for off, v in bucket_stats(self.docs[d], RES_SECONDS[res]).items()}

        def verify():
            got = {
                (r.doc_id, int(r.off)): (int(r.min_value), int(r.max_value), int(r.sum_value), int(r.count_value))
                for r in rows
            }
            return len(got) == len(rows) and got == expect

        return OpResult(f"read_{res}", points, verify, {"docs": len(docs), "tail": raw_from is not None})

    def extra_metrics(self, ops) -> dict:
        return {"stored_bytes_per_point": (self.stored_bytes / self.points, "B")}


# ---------------------------------------------------------------------------
# analytics: DTW similarity blocks and a streaming drain
# ---------------------------------------------------------------------------


class Analytics:
    """One cycle: a DTW block, then a stream drain.

    *Block:* ``dtw_distance_matrix(repartition=8)`` over a seeded block
    of 128 docs capped at 256 points, then ``dtw_pairs_pruned`` over the
    same 8,128 pairs. Half of every block sits at the cap, so each of
    the eight pair partitions hands the kernel about 250 equal-length
    pairs (the exact-shape lockstep path, which needs 32 of one shape
    per Arrow batch) and the rest ragged pairs. The doc shapes and the
    kernel settings are the engine's DTW bench block (tokens sliced to
    256, at least 64, Sakoe-Chiba radius 8, ``repartition`` = 2 x
    cores); the block size sits between its 64- and 512-doc blocks.

    *Drain:* an ``availableNow`` drain of a fixed staged backlog through
    the streaming 1m tier (``run_stream_to_parquet``) and the EWMA, Holt
    and CUSUM stream twins, four queries side by side, plus one pass of
    their batch twins over the same points. Every drain starts from
    fresh checkpoints.

    There is no warm-up: the first block is the first work of its
    session and pays the first-use costs, the drain pays its own."""

    name = "analytics"
    CYCLE = ("block", "drain")
    N_BLOCKS, BLOCK, CAP, LEN_LO = 2, 128, 256, 64
    RADIUS = 8
    PARTITIONS = 8
    EPS = 4.0
    SEQ_FILES, SEQ_DOCS, SEQ_LEN_LO, SEQ_LEN_HI = 2, 24, 64, 600
    USERS, PTS = 16, 40
    ALPHA, BETA, MU, K, H = 0.3, 0.1, 1000.0, 2.0, 40.0

    def __init__(self, seed: int, work: str):
        self.work, self.rng = work, np.random.default_rng(seed)
        self._make_blocks(seed)
        self._make_feed(seed)
        self.pruned_share: list[float] = []
        self.paths: Counter = Counter()
        self.progress: list[dict] = []

    # -- inputs ------------------------------------------------------------

    def _make_blocks(self, seed: int) -> None:
        """``N_BLOCKS`` blocks of ``BLOCK`` docs. Every block holds the same
        mix of lengths (half at the cap, half spread below it), shuffled
        by the seed: blocks differ in values and pairings, not in the
        amount of DTW work."""
        n = self.N_BLOCKS * self.BLOCK
        tab = generate_sequences(n, self.CAP, self.CAP + 1, seed=seed * 1000)
        order = tab.column("doc_id").to_pylist()
        values = np.asarray(tab.column("tokens").combine_chunks().flatten()).reshape(-1, self.CAP)
        half = self.BLOCK // 2
        block_lengths = np.r_[np.full(half, self.CAP), np.linspace(self.LEN_LO, self.CAP - 1, self.BLOCK - half)]
        lengths = np.concatenate([self.rng.permutation(block_lengths) for _ in range(self.N_BLOCKS)]).astype(int)
        self.docs = {d: v[:k] for d, v, k in zip(order, values, lengths)}
        self.blocks = [order[b : b + self.BLOCK] for b in range(0, n, self.BLOCK)]
        self.block_input = os.path.join(self.work, "blocks_in")
        os.makedirs(self.block_input)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(order, pa.string()),
                    "tokens": pa.array([self.docs[d].tolist() for d in order], pa.list_(pa.int32())),
                    "block": pa.array(np.arange(n) // self.BLOCK, pa.int32()),
                }
            ),
            os.path.join(self.block_input, "part-000.parquet"),
            row_group_size=self.BLOCK,  # one row group per block: a block read skips the others
        )

    def _make_feed(self, seed: int) -> None:
        self.seq_feed = os.path.join(self.work, "stream_seq")
        self.feed_docs: dict[str, np.ndarray] = {}
        for f in range(self.SEQ_FILES):
            tmp = os.path.join(self.work, f"stream_gen_{f}")
            self.feed_docs.update(
                write_sequences(tmp, seed * 10 + f, self.SEQ_DOCS, self.SEQ_LEN_LO, self.SEQ_LEN_HI, n_files=1,
                                doc_offset=f * self.SEQ_DOCS)
            )
            os.makedirs(self.seq_feed, exist_ok=True)
            os.replace(os.path.join(tmp, "part-000.parquet"), os.path.join(self.seq_feed, f"part-{f:03d}.parquet"))
            os.rmdir(tmp)
        self.pt_feed = os.path.join(self.work, "stream_points")
        os.makedirs(self.pt_feed)
        users = np.repeat(np.arange(self.USERS, dtype=np.int64), self.PTS)
        ts = T0_EPOCH + 60 * np.tile(np.arange(self.PTS), self.USERS)
        vals = np.round(1000.0 + np.cumsum(self.rng.normal(0, 4, size=users.size)), 3)
        self.points = {(int(u), int(t)): float(v) for u, t, v in zip(users, ts, vals)}
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array(users, pa.int64()),
                    "ts": pa.array(ts * 1_000_000, pa.timestamp("us")),
                    "value": pa.array(vals, pa.float64()),
                }
            ),
            os.path.join(self.pt_feed, "part-000.parquet"),
        )
        # the file source picks files up in modification-time order
        for f, name in enumerate(sorted(os.listdir(self.seq_feed))):
            os.utime(os.path.join(self.seq_feed, name), (1_700_000_000 + f, 1_700_000_000 + f))
        self.feed_points = sum(t.size for t in self.feed_docs.values()) + len(self.points)

    # -- operations --------------------------------------------------------

    def setup(self, spark):
        self.spark = spark

    def op(self, i: int, tracer) -> OpResult:
        if self.CYCLE[i % len(self.CYCLE)] == "block":
            return self._block((i // len(self.CYCLE)) % self.N_BLOCKS, tracer)
        return self._drain(i, tracer)

    def _block(self, b: int, tracer) -> OpResult:
        from pyspark.sql import functions as F

        from tsclust_spark.kernels.dtw import dtw_distance_matrix
        from tsclust_spark.kernels.dtw_lb import dtw_pairs_pruned

        band = {"sakoe_chiba_radius": self.RADIUS}
        block = self.spark.read.parquet(self.block_input).filter(F.col("block") == b).select("doc_id", "tokens")
        with tracer.span("dtw.dtw_distance_matrix"):
            rows = (
                dtw_distance_matrix(block, repartition=self.PARTITIONS, pattern_name="symmetric2", **band)
                .withColumn("pid", F.spark_partition_id())
                .collect()
            )
        a = block.select(F.col("doc_id").alias("id_a"), F.col("tokens").alias("tokens_a"))
        c = block.select(F.col("doc_id").alias("id_b"), F.col("tokens").alias("tokens_b"))
        pairs = a.join(c, F.col("id_a") < F.col("id_b")).repartition(self.PARTITIONS)
        with tracer.span("dtw_lb.dtw_pairs_pruned"):
            pruned = dtw_pairs_pruned(pairs, eps=self.EPS, keep_pruned=True, **band).collect()
        matrix = {(r.id_a, r.id_b): r.dist for r in rows}
        self.paths.update(self.kernel_paths(rows))
        ids = self.blocks[b]
        n_pairs = len(ids) * (len(ids) - 1) // 2
        self.pruned_share.append(sum(r.pruned for r in pruned) / max(len(pruned), 1))
        sample = [tuple(sorted(p)) for p in self.rng.choice(ids, size=(8, 2), replace=False)]

        def verify():
            from tsclust_spark.kernels.dtw import dtw_distance

            ok = len(matrix) == len(rows) == n_pairs and len(pruned) == n_pairs
            for r in pruned:
                d = matrix.get((r.id_a, r.id_b))
                ok &= (r.lb > self.EPS and d > self.EPS) if r.pruned else (r.dist == d)
            for x, y in sample:
                ok &= matrix[(x, y)] == dtw_distance(
                    self.docs[x].astype(np.float64), self.docs[y].astype(np.float64),
                    step_pattern="symmetric2", global_constraint="sakoe_chiba", sakoe_chiba_radius=self.RADIUS,
                )
            return bool(ok)

        points = 2 * sum(self.docs[x].size for x in ids) * (len(ids) - 1)
        return OpResult("block", points, verify, {"pairs": 2 * n_pairs, "input_rows": len(ids)})

    def kernel_paths(self, rows) -> Counter:
        """Pairs of one matrix pass by ``dtw_banded_batch`` path. The
        kernel runs once per Arrow batch of a pair partition and takes a
        shape with at least ``_RAGGED_MIN_EXACT`` pairs in the batch down
        the exact-shape lockstep path, every other pair down the ragged
        (or, in buckets under four pairs, scalar) path. This replays that
        rule on the partitions Spark actually formed (``pid``, rows in
        partition order)."""
        from tsclust_spark.kernels.dtw_banded import _RAGGED_MIN_EXACT
        from tsclust_spark.session import ARROW_MAX_RECORDS_PER_BATCH

        parts: dict[int, list] = defaultdict(list)
        for r in rows:
            parts[r.pid].append((self.docs[r.id_a].size, self.docs[r.id_b].size))
        out: Counter = Counter()
        for shapes in parts.values():
            for s in range(0, len(shapes), ARROW_MAX_RECORDS_PER_BATCH):
                for k in Counter(shapes[s : s + ARROW_MAX_RECORDS_PER_BATCH]).values():
                    out["exact" if k >= _RAGGED_MIN_EXACT else "ragged"] += k
        return out

    def _await(self, q) -> bool:
        done = q.awaitTermination(120)
        self.progress.extend(json.loads(p.json) for p in q.recentProgress)
        if not done:
            q.stop()
        return bool(done)

    def _drain(self, i: int, tracer) -> OpResult:
        from pyspark.sql import types as T

        from tsclust_spark.operators.cusum import cusum
        from tsclust_spark.operators.ewma import ewma
        from tsclust_spark.operators.holt import holt
        from tsclust_spark.streaming.cusum_stream import cusum_stream
        from tsclust_spark.streaming.ewma_stream import ewma_stream
        from tsclust_spark.streaming.holt_stream import holt_stream
        from tsclust_spark.streaming.rollup_stream import run_stream_to_parquet

        run = os.path.join(self.work, f"stream_run_{i}")
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        twins = {
            "ewma": (lambda s: ewma_stream(s, alpha=self.ALPHA)),
            "holt": (lambda s: holt_stream(s, alpha=self.ALPHA, beta=self.BETA)),
            "cusum": (lambda s: cusum_stream(s, mu=self.MU, k=self.K, h=self.H)),
        }
        # the four queries drain side by side, as independent queries
        # of one application do; the drain ends when the last one has
        with tracer.span("stream.drain"):
            queries = [
                run_stream_to_parquet(
                    self.spark, self.seq_feed, f"{run}/tier_1m", f"{run}/ckpt_1m", watermark="1 second"
                )
            ]
            for name, fn in twins.items():
                src = self.spark.readStream.schema(schema).parquet(self.pt_feed)
                queries.append(
                    fn(src).writeStream.format("parquet").outputMode("append")
                    .option("path", f"{run}/{name}").option("checkpointLocation", f"{run}/ckpt_{name}")
                    .trigger(availableNow=True).start()
                )
            terminated = [self._await(q) for q in queries]
        batch_df = self.spark.read.parquet(self.pt_feed)
        with tracer.span("recurrences.batch"):
            batch = {
                "ewma": ewma(batch_df, alpha=self.ALPHA).collect(),
                "holt": holt(batch_df, alpha=self.ALPHA, beta=self.BETA).collect(),
                "cusum": cusum(batch_df, mu=self.MU, k=self.K, h=self.H).collect(),
            }
        streamed = {name: self.spark.read.parquet(f"{run}/{name}").collect() for name in twins}
        tier = self.spark.read.parquet(f"{run}/tier_1m").collect()

        def verify():
            ok = all(terminated)
            expect = {(d, off): v for d, t in self.feed_docs.items() for off, v in bucket_stats(t, 60).items()}
            got = {
                (r.doc_id, int(r.bucket_ts.timestamp()) - T0_EPOCH): (
                    r.min_value, r.max_value, r.sum_value, r.count_value)
                for r in tier
            }
            # append mode holds back the buckets the final watermark has
            # not passed: only the last minute of the longest doc
            ok &= len(got) == len(tier) and all(expect.get(k) == v for k, v in got.items())
            last = max(off for _, off in expect)
            ok &= {k for k in expect if k[1] < last} <= set(got)
            cols = {"ewma": ("ewma_value",), "holt": ("level_value", "trend_value"),
                    "cusum": ("cusum_hi", "cusum_lo", "alarm")}
            for name, cs in cols.items():
                key = lambda r: (r.user_id, int(r.ts.timestamp()))  # noqa: E731
                s = {key(r): tuple(r[c] for c in cs) for r in streamed[name]}
                b = {key(r): tuple(r[c] for c in cs) for r in batch[name]}
                ok &= len(s) == len(self.points) and s == b
                ok &= not any(r.late for r in streamed[name])
            shutil.rmtree(run, ignore_errors=True)
            return bool(ok)

        return OpResult("drain", self.feed_points, verify, {"feed_rows": len(self.feed_docs) + len(self.points)})

    def extra_metrics(self, ops) -> dict:
        blocks = [o for o in ops if o["kind"] == "block"]
        trig = sorted(p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in self.progress)
        return {
            "pairs_per_s": (sum(o["extra"]["pairs"] for o in blocks) / sum(o["seconds"] for o in blocks), "1/s"),
            "batch_p50_s": (float(np.median(trig)) if trig else 0.0, "s"),
        }

    def pair_sets(self, limit: int = 1024):
        """Up to ``limit`` equal-length and ``limit`` ragged pairs of the
        first block, for the direct kernel measurement."""
        ids = self.blocks[0]
        uni, rag = [], []
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = self.docs[ids[x]], self.docs[ids[y]]
                group = uni if a.size == b.size else rag
                if len(group) < limit:
                    group.append((a, b))
        return uni, rag


WORKLOADS = {w.name: w for w in (Tiers, Analytics)}
