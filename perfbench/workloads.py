"""The runner's workloads, each one closed-loop client.

A workload object is built from the run's context, then goes through
``setup`` once per set-up round (first touches, bootstrap and one warm-up
op, on fresh paths each round), ``measure`` (ops until ``--seconds`` have
passed, on the last round's paths) and ``check`` (correctness against an
oracle computed independently of the engine). Every call into the engine
goes through a module attribute, so the traced run's wrappers see it.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd

import fixtures

PKG = "kinesis_datastore_app_spark"


def _engine(module: str):
    return sys.modules[f"{PKG}.{module}"]


def multiset_digest(df: pd.DataFrame) -> tuple[int, int]:
    """Order-insensitive digest of a frame: row count and the wrapping
    sum of per-row hashes over the string form of each value (columns in
    name order), so an Arrow-backed Spark frame and a DuckDB frame of the
    same rows agree whatever their dtypes."""
    s = pd.DataFrame(
        {
            c: df[c].astype(str) if df[c].dtype.kind in "biuf" else df[c].map(str)
            for c in sorted(df.columns)
        }
    )
    h = pd.util.hash_pandas_object(s, index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Workload:
    """Shared op bookkeeping: ``op_times`` holds the measured op
    latencies, ``op_traced`` whether each op was traced, and ``layer`` the
    per-layer values of each traced op, keyed by op id."""

    name = ""
    expected_calls: tuple[str, ...] = ()

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.op_times: list[float] = []
        self.op_traced: list[bool] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[object, dict[str, float]] = {}
        self.elapsed = 0.0

    def _trace_on(self, op_id) -> None:
        self.ctx.tracer.op_id = op_id
        self.ctx.tracer.enabled = True
        self.ctx.stats.mark()

    def _trace_off(self, op_id, extra: dict | None = None) -> None:
        self.ctx.tracer.enabled = False
        vals = {f"spark.{k}": v for k, v in self.ctx.stats.take().items()}
        vals.update(extra or {})
        self.layer[op_id] = vals

    def end_round(self) -> None:
        """Undo what a set-up round left running, before the next round."""

    def _record(self, dt: float, traced: bool) -> None:
        self.op_times.append(dt)
        self.op_traced.append(traced)

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------
# One op is one round: every key once, in a seeded order, one after the
# other, like a dashboard refresh that issues its queries in turn. The
# keys' latencies differ fivefold (about 0.2 to 1.1 s on 4 cores), so a
# median over single queries lands on the upper tail of the fast keys,
# and one slow phase of the host moves it far; a round sums them all. A
# round takes 2.5-3 s on 4 cores, and a traced run needs two of them.
QUERY_KEYS = (
    "agg_funnel",
    "join_inner_equi",
    "trades_envelope_scan",
    "tpch_q3_shape",
    "tpch_q5_shape",
)
MIN_ROUNDS = 2
# rounds run after set-up and before the window, not measured: the first
# rounds after set-up still run up to 30% slower
WARM_ROUNDS = 2


class QueryMix(Workload):
    """Registered batch keys over a seeded sf0.1 corpus; an op is one
    round that builds every key's DataFrame and counts it, in a seeded
    order."""

    name = "query_mix"
    expected_calls = ("catalog.table",)

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        # The corpus is generated in a child process, so its tables never
        # raise this process's peak RSS (driver_mem_mb). Each set-up round
        # reads its own copy: new files, hence new scratch fingerprints,
        # so every round rebuilds the same scratch artifacts.
        self.dirs = [os.path.join(ctx.work, f"corpus{i}") for i in range(ctx.setup_rounds)]
        subprocess.run(
            [sys.executable, fixtures.__file__, self.dirs[0], str(ctx.seed), repr(ctx.sf)],
            check=True,
        )
        for d in self.dirs[1:]:
            shutil.copytree(self.dirs[0], d, copy_function=shutil.copyfile)
        self.sf_dir = self.dirs[0]
        self.registry = _engine("registry")
        self.queries = self.registry.queries()
        self.counts: dict[str, int] = {}
        self.key_times: dict[str, list[float]] = {k: [] for k in QUERY_KEYS}

    def setup(self, rnd: int) -> None:
        self.sf_dir = self.dirs[rnd]
        for k in QUERY_KEYS:  # first touch of every key = the warm-up op
            n = self._run(k)
            if self.counts.setdefault(k, n) != n:
                raise RuntimeError(f"query_mix: {k} counted {n} rows, earlier {self.counts[k]}")

    def _run(self, key: str) -> int:
        t = self.ctx.tracer
        if t is not None and t.enabled:
            with t.span("registry.build"):
                df = self.queries[key](self.spark, self.sf_dir)
        else:
            df = self.queries[key](self.spark, self.sf_dir)
        return df.count()

    def measure(self, seconds: float) -> None:
        order = random.Random(self.ctx.seed)
        for _ in range(WARM_ROUNDS):
            for key in order.sample(QUERY_KEYS, len(QUERY_KEYS)):
                self._run(key)
        tracing = self.ctx.tracer is not None
        t0 = time.perf_counter()
        rnd = 0
        # in a traced run every second round is traced, so the untraced
        # rounds between them give the tracing overhead
        while True:
            traced = tracing and rnd % 2 == 1
            if traced:
                self._trace_on(rnd)
            self.attempted += 1
            ok = True
            s = time.perf_counter()
            for key in order.sample(QUERY_KEYS, len(QUERY_KEYS)):
                k = time.perf_counter()
                try:
                    ok &= self._run(key) == self.counts[key]
                except Exception as e:  # an op failure is counted, not fatal
                    ok = False
                    self.ctx.log(f"{key}: {type(e).__name__}: {e}")
                self.key_times[key].append(time.perf_counter() - k)
            dt = time.perf_counter() - s
            if traced:
                self._trace_off(rnd)
            self.failed += not ok
            self._record(dt, traced)
            rnd += 1
            now = time.perf_counter()
            if now - t0 >= seconds and rnd >= MIN_ROUNDS:
                break
        self.elapsed = now - t0
        self.ctx.log(
            "query_mix median query by key: "
            + ", ".join(f"{k} {statistics.median(t):.3f}" for k, t in self.key_times.items())
        )

    def check(self) -> bool:
        import duckdb

        oracle = self.registry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in _engine("catalog").TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            ok = True
            for k in QUERY_KEYS:
                got = multiset_digest(self.queries[k](self.spark, self.sf_dir).toPandas())
                want = multiset_digest(con.execute(oracle[k]).fetchdf())
                if got != want or got[0] != self.counts[k]:
                    self.ctx.log(f"query_mix: {k} MISMATCH rows {got[0]} vs {want[0]}")
                    ok = False
            return ok
        finally:
            con.close()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
RECORDS_PER_BATCH = 1000  # the reference's GetRecords limit
SHARDS = 4
INGEST_BUCKETS = 8
_STREAM_RECORDS = 10**9  # never reached: the run stops the stream
# micro-batches after the set-up's warm-up batch that are not measured:
# the first five or so batches of a new query still run 10-40% slower
WARM_BATCHES = 6

_DECODED_DDL = (
    "shard_id INT, seq_no BIGINT, tickerSymbol STRING, tradeType STRING, "
    "price_cents BIGINT, quantity BIGINT, trade_id BIGINT, arrival_ts TIMESTAMP"
)


class Ingest(Workload):
    """kinesis_sim stream → _decode_envelope → foreachBatch blind append
    (streaming.queries.append_sink_batch) into a bucket-manifest table;
    an op is one micro-batch commit, timed from the previous one, after
    ``WARM_BATCHES`` unmeasured ones."""

    name = "ingest"
    expected_calls = (
        "kinesis_sim._decode_envelope",
        "cdc.commit_bucketed_table",
        "queries.append_sink_batch",
        "cdc.append_rows",
        "txnlog.occ_commit",
        "txnlog.cas_commit",
    )

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.ks = _engine("sources.kinesis_sim")
        self.cdc = _engine("operators.cdc")
        # the stream's content is fixed by kinesis_sim's integer spec; the
        # seed draws the rows the table holds before the stream starts
        rng = np.random.default_rng(ctx.seed)
        n = int(rng.integers(500, 1500))
        sym = rng.integers(0, len(self.ks.SYMBOLS), n)
        self.boot = pd.DataFrame(
            {
                "shard_id": np.full(n, -1, dtype=np.int32),
                "seq_no": np.arange(n, dtype=np.int64),
                "tickerSymbol": np.asarray(self.ks.SYMBOLS, dtype=object)[sym],
                "tradeType": np.where(rng.random(n) < 0.4, "SELL", "BUY").astype(object),
                "price_cents": np.asarray(self.ks.MEAN_CENTS)[sym] * rng.integers(80, 121, n) // 100,
                "quantity": rng.integers(1, 10001, n),
                "trade_id": -np.arange(1, n + 1, dtype=np.int64),
                "arrival_ts": pd.Timestamp("2024-05-31") + pd.to_timedelta(np.arange(n), "s"),
            }
        )
        self.query = None
        self.last_round = False

    def setup(self, rnd: int) -> None:
        """Bootstrap a fresh table, start the stream into it and wait for
        its first micro-batch commit (the warm-up op). A round that is
        not the last stops its stream again in ``end_round``."""
        self.last_round = rnd + 1 == self.ctx.setup_rounds
        d = os.path.join(self.ctx.work, "ingest", f"r{rnd}")
        self.root = os.path.join(d, "table")
        # client-side record of the micro-batch commits (batch id, time)
        self.commits: list[tuple[int, float]] = []
        self.batch_failed: set[int] = set()
        self.first = threading.Event()
        self.done = threading.Event()
        self.window: float | None = None
        self.start = 0  # index in commits of the measured window's start
        self.stop_after: float | None = None
        self.cdc.commit_bucketed_table(
            self.spark,
            self.root,
            self.spark.createDataFrame(self.boot, _DECODED_DDL),
            ["trade_id"],
            INGEST_BUCKETS,
        )
        self.ks._register_source(self.spark)
        env = (
            self.spark.readStream.format("kinesis_sim")
            .option("n", _STREAM_RECORDS)
            .option("shards", SHARDS)
            .option("records_per_batch", RECORDS_PER_BATCH)
            .load()
        )
        self.query = (
            self.ks._decode_envelope(env)
            .writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )
        if not self.first.wait(150):
            raise RuntimeError("ingest: no micro-batch committed within 150 s")

    def end_round(self) -> None:
        self._stop()

    def _on_batch(self, df, bid: int) -> None:
        if self.done.is_set():
            return  # past the window: let the query idle until it is stopped
        traced = self.stop_after is not None and self.ctx.tracer is not None and bid % 2 == 1
        if traced:
            self._trace_on(bid)
            before = _tree_files(self.root)
        try:
            if not (self.last_round and self.ctx.fault == "skip_ingest_batch" and bid == 1):
                _engine("streaming.queries").append_sink_batch(self.root, df, bid)
        except Exception as e:  # counted; the check sees the missing rows
            self.batch_failed.add(bid)
            self.ctx.log(f"ingest batch {bid}: {type(e).__name__}: {e}")
        if traced:
            new = {p: s for p, s in _tree_files(self.root).items() if p not in before}
            self._trace_off(
                bid,
                {"txnlog.files_written": len(new), "txnlog.bytes_written": sum(new.values())},
            )
        now = time.perf_counter()
        self.commits.append((bid, now))
        self.first.set()
        if self.stop_after is None:
            if self.window is not None and len(self.commits) > WARM_BATCHES:
                self.start = len(self.commits) - 1
                self.stop_after = now + self.window
        elif now >= self.stop_after:
            self.done.set()

    def _stop(self) -> None:
        self.done.set()
        self.query.stop()
        self.query.awaitTermination()

    def measure(self, seconds: float) -> None:
        # the window starts at the commit of batch WARM_BATCHES; the
        # measured ops are every micro-batch after it
        self.window = seconds
        if not self.done.wait(seconds + 150):
            raise RuntimeError("ingest: stream stalled")
        self.progress = {p["batchId"]: p for p in self.query.recentProgress}
        self._stop()
        c = self.commits[self.start :]
        for (_, a), (bid, b) in zip(c, c[1:]):
            self._record(b - a, self.ctx.tracer is not None and bid % 2 == 1)
        self.batch_ids = [bid for bid, _ in c[1:]]
        self.attempted = len(self.batch_ids)
        self.failed = len(self.batch_failed & set(self.batch_ids))
        self.elapsed = c[-1][1] - c[0][1]

    def check(self) -> bool:
        import duckdb

        v, _ = _engine("txnlog").read_latest(self.root)
        got = self.cdc.read_table_state(self.spark, self.root, v).toPandas()
        n_batches = len(self.commits)
        sql = self.ks._DECODED_ORACLE
        frag = f"range({self.ks.N_RECORDS})"
        if sql.count(frag) != 1:
            raise RuntimeError("kinesis_sim oracle no longer has its range() source")
        con = duckdb.connect()
        try:
            want = con.execute(sql.replace(frag, f"range({RECORDS_PER_BATCH * n_batches})")).fetchdf()
        finally:
            con.close()
        want = pd.concat([want, self.boot], ignore_index=True)
        # bootstrap is version 1, then one version per committed batch
        ok = v == 1 + n_batches and multiset_digest(got) == multiset_digest(want)
        if not ok:
            self.ctx.log(
                f"ingest: MISMATCH version {v} rows {len(got)}; expected "
                f"{n_batches} batches, {len(want)} rows"
            )
        return ok

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self._stop()


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
