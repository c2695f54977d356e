"""The benchmark's workloads: set-up, the timed operation, the dashboard
queries that read the store back, and the metrics they report.

Load model: a closed loop with one client.  One Python driver process
runs operations back to back in one ``local[2]`` SparkSession; the
first operation warms up and is left out of every timing.  Each
operation builds a fresh store with ``RollupPipeline.run`` (and, for
``cascade_codec``, decodes the t1m block store); after the last one, a
batch of four dashboard queries reads that store back, each query
timed on its own.  Correctness checks, store deletion and a forced JVM
and Python GC run between operations, outside every timing.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grass_spark.datagen import write_transcripts
from grass_spark.functions import compress as C
from grass_spark.functions.granularity import adjust_datetime_to_granularity
from grass_spark.operators.rollup import (
    DEFAULT_TIERS,
    RollupPipeline,
    rollup_from_raw,
)
from grass_spark.session import get_spark

from perfbench import checks, tracing
from perfbench.cputime import tree_cpu_s

CORES = 2

#: synth_transcripts sizes per workload and the nominal seconds of one
#: timed operation with its check on a 4-vCPU host.  The
#: codec's cost grows with the number of (conversation, month) blocks,
#: so its workload has few, long conversations.
SIZES = {
    "cascade_plain": {"n_convs": 8000, "avg_turns": 40, "compress": False, "cycle_s": 6.5},
    "cascade_codec": {"n_convs": 100, "avg_turns": 80, "compress": True, "cycle_s": 8.5},
}
#: the self-tests' size: every code path, a fraction of the time
TINY = {"n_convs": 40, "avg_turns": 8}
#: share of turns in the generator's hot conversation.  Its start day
#: depends on the seed, and at the generator's default (0.05) it spans
#: up to eight days past the others, so the day count, and with it the
#: file count and the work, moved with the seed (31-35 days).  At 0.01
#: it spans under two days and still holds ~80x the average turns.
HOT_SHARE = 0.01

SETUP_REPEATS = 3

#: conversations whose minute series the dashboard fetches; rank 0 is
#: the generator's hot conversation
FOCUS_CONVS = [f"conv-{r:08d}" for r in (0, 1, 7, 23)]


# ---------------------------------------------------------------------------
# dashboard queries: each takes one tier frame and returns an ordered frame
# ---------------------------------------------------------------------------


def daily_totals(t1d: DataFrame) -> DataFrame:
    return (
        t1d.groupBy(F.to_date("bucket_start").alias("day"))
        .agg(F.sum("turn_cnt").alias("turns"), F.sum("tool_calls").alias("tools"),
             F.sum("len_sum").alias("chars"))
        .orderBy("day")
    )


def top_conversations(t1h: DataFrame) -> DataFrame:
    return (
        t1h.groupBy("conv_id")
        .agg(F.sum("turn_cnt").alias("turns"), F.max("len_max").alias("longest"))
        .orderBy(F.desc("turns"), "conv_id")
        .limit(20)
    )


def minute_series(t1m: DataFrame) -> DataFrame:
    return (
        t1m.filter(F.col("conv_id").isin(FOCUS_CONVS))
        .select("conv_id", "bucket_start", "turn_cnt", "len_sum", "tool_calls")
        .orderBy("conv_id", "bucket_start")
    )


def hour_profile(t1h: DataFrame) -> DataFrame:
    return (
        t1h.groupBy(F.hour("bucket_start").alias("hour"))
        .agg(F.sum("turn_cnt").alias("turns"), F.sum("n_user").alias("user"),
             F.sum("n_assistant").alias("assistant"), F.sum("tool_calls").alias("tools"))
        .orderBy("hour")
    )


#: query name -> (tier it reads, query)
QUERIES = {
    "daily_totals": ("t1d", daily_totals),
    "top_conversations": ("t1h", top_conversations),
    "minute_series": ("t1m", minute_series),
    "hour_profile": ("t1h", hour_profile),
}


def reference_answers(raw: DataFrame, keys: list[str]) -> dict[str, list[tuple]]:
    """Each dashboard query evaluated over minute buckets computed
    straight from raw with ``rollup_from_raw``, never touching a store
    or the cascade.  The queries only sum, take maxima and read the
    hour or day of ``bucket_start``, so minute buckets answer the
    queries on t1h and t1d exactly."""
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    gran = DEFAULT_TIERS[0][1]
    t1m = rollup_from_raw(
        raw, gran, adjust_datetime_to_granularity(t0, gran), keys
    ).localCheckpoint()
    return {q: [tuple(r) for r in fn(t1m).collect()] for q, (_, fn) in QUERIES.items()}


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(work: str, trace: bool) -> SparkSession:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap: the forced GC between operations cannot shrink it
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # keep whole scan locations in plan strings, so raw scans
            # can be recognised by path
            "spark.sql.maxMetadataStringLength": "4096",
        })
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def stop_session(spark: SparkSession) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# codec kernel, called directly (traced run only)
# ---------------------------------------------------------------------------


def kernel_throughput(
    spark: SparkSession, pipe: RollupPipeline, repeats: int = 3, max_blocks: int = 300
) -> dict[str, float]:
    """Encode/decode MB/s of ``functions.compress`` on the t1m arrays,
    blocked by (conversation, month) as the block store blocks them.
    The first ``max_blocks`` blocks (the hot conversation's first) keep
    the plain cascade's ~8000 blocks from taking a minute."""
    cols = list(pipe.INT_METRICS)
    pdf = (
        spark.read.parquet(pipe.tier_path("t1m"))
        .select(*pipe.keys, "bucket_start", *cols)
        .toPandas()
        .sort_values([*pipe.keys, "bucket_start"], kind="mergesort")
    )
    ts = pdf["bucket_start"].to_numpy().astype("datetime64[us]").astype(np.int64)
    month = pdf["bucket_start"].to_numpy().astype("datetime64[M]")
    conv = pdf[pipe.keys[0]].to_numpy()
    cut = np.flatnonzero((conv[1:] != conv[:-1]) | (month[1:] != month[:-1])) + 1
    bounds = list(zip(np.r_[0, cut], np.r_[cut, len(pdf)]))[:max_blocks]
    vals = [pdf[c].to_numpy(dtype=np.int64) for c in cols]
    mb = sum(b - a for a, b in bounds) * 8 * (1 + len(cols)) / 1e6

    enc_s, dec_s = [], []
    for _ in range(repeats):
        t = time.perf_counter()
        blobs = [
            (C.encode_timestamps(ts[a:b]), [C.encode_ints(v[a:b]) for v in vals])
            for a, b in bounds
        ]
        enc_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        out = [
            (C.decode_timestamps(tb), [C.decode_ints(x) for x in vb]) for tb, vb in blobs
        ]
        dec_s.append(time.perf_counter() - t)
    ok = all(
        np.array_equal(o_ts, ts[a:b]) and all(np.array_equal(x, v[a:b]) for x, v in zip(o_v, vals))
        for (a, b), (o_ts, o_v) in zip(bounds, out)
    )
    if not ok:
        raise AssertionError("codec kernel round trip is not bit-exact")
    return {
        "kernel.encode_MBps": mb / statistics.median(enc_s),
        "kernel.decode_MBps": mb / statistics.median(dec_s),
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    """One benchmark process: set up, warm up, measure, check."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, tiny: bool = False):
        if workload not in SIZES:
            raise ValueError(f"unknown workload {workload!r}; choose from {sorted(SIZES)}")
        size = dict(SIZES[workload])
        self.compress = size.pop("compress")
        # a fixed number of timed operations (at least two), so a fast
        # or slow host does not change how many the median is taken over
        self.timed_ops = max(2, round(seconds / size.pop("cycle_s")))
        if tiny:
            size.update(TINY)
        self.size = size
        self.workload = workload
        self.seed = seed
        self.work = work
        self.tracer = tracing.Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[tuple[str, str]] = []
        self.op_s: list[float] = []
        self.op_cpu: list[float] = []
        self.query_ms: list[float] = []
        self.store_bytes: list[int] = []
        self.layers: dict[str, float] = {}
        # fault injection for the self-tests: called on each store
        # before its checks, and on each answer before comparison
        self.corrupt_store = None
        self.corrupt_answer = None

    # -- bookkeeping ----------------------------------------------------
    def _outcome(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                self.failures.append((what, p))
                log(f"CHECK FAILED {what}: {p}")

    # -- phases -----------------------------------------------------------
    def setup(self) -> None:
        t = time.perf_counter()
        self.spark = start_session(self.work, self.tracer.enabled)
        self.session_s = time.perf_counter() - t
        self.tracer.attach(self.spark)
        self.raw_dir = os.path.join(self.work, "raw")
        self.write_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            write_transcripts(self.spark, self.raw_dir, seed=self.seed,
                              hot_share=HOT_SHARE, **self.size)
            self.write_s.append(time.perf_counter() - t)
        self.raw = self.spark.read.parquet(self.raw_dir)
        self.turns = self.raw.count()
        self.day_counts = checks.raw_day_counts(self.raw)
        t = time.perf_counter()
        self.refs = reference_answers(self.raw, ["conv_id"])
        log(f"{self.workload}: {self.turns} turns over {len(self.day_counts)} days; "
            f"session {self.session_s:.2f}s, datagen "
            f"{', '.join(f'{w:.2f}' for w in self.write_s)}s, "
            f"references {time.perf_counter() - t:.2f}s")

    def _gc(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()

    def build(self, i: int) -> RollupPipeline | None:
        """One operation: build a fresh store (and decode its blocks),
        then check it unless it is the warm-up.  Returns the pipeline,
        or None if it raised."""
        tr = self.tracer
        self._gc()
        try:
            with tr.span("op"):
                t, cpu = time.perf_counter(), tree_cpu_s()
                pipe = RollupPipeline(self._store(i), compress=self.compress)
                pipe.run(self.raw)
                if self.compress:
                    with tr.span("blocks.decode"):
                        pipe.read_tier_from_blocks(self.spark, "t1m").write.format(
                            "noop").mode("overwrite").save()
                op_s = time.perf_counter() - t
                op_cpu = tree_cpu_s() - cpu
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            log(f"operation {i} raised:\n{traceback.format_exc()}")
            self._outcome(f"op {i}", ["raised"])
            return None
        log(f"op {i}: {op_s:.2f}s, cpu {op_cpu:.2f}s")
        if i == 0:
            return pipe  # the warm-up's store is read back, not checked
        if self.corrupt_store is not None:
            self.corrupt_store(pipe)
        with tr.paused():
            problems = checks.check_store(self.spark, pipe, self.day_counts)
            if self.compress:
                problems += checks.check_blocks(self.spark, pipe)
        self._outcome(f"op {i}", problems)
        self.op_s.append(op_s)
        self.op_cpu.append(op_cpu)
        self.store_bytes.append(dir_bytes(self._store(i)))
        return pipe

    def read_back(self, pipe: RollupPipeline) -> None:
        """One batch of the dashboard queries against the store just built."""
        with self.tracer.span("read.batch"):
            for q, (tier, fn) in QUERIES.items():
                self._query(pipe, q, tier, fn)

    def _store(self, i: int) -> str:
        return os.path.join(self.work, f"store-{i}")

    def _query(self, pipe: RollupPipeline, q: str, tier: str, fn) -> None:
        tr = self.tracer
        try:
            with tr.span("read.query", query=q):
                t = time.perf_counter()
                frame = pipe.read_tier(self.spark, tier)
                with tr.span("read.exec"):
                    rows = fn(frame).collect()
                ms = (time.perf_counter() - t) * 1000.0
        except Exception:  # noqa: BLE001
            log(f"query {q} raised:\n{traceback.format_exc()}")
            self._outcome(q, ["raised"])
            return
        log(f"{q}: {ms:.0f}ms")
        if self.corrupt_answer is not None:
            rows = self.corrupt_answer(q, rows)
        self._outcome(q, checks.check_answer(q, rows, self.refs[q]))
        self.query_ms.append(ms)

    def measure(self) -> None:
        """Warm up (operation 0), then build ``timed_ops`` stores back to
        back; one batch of dashboard queries reads the last one back.
        The plain cascade's operations keep getting faster for about four
        operations (JIT); a fixed count keeps that trend the same in
        every run."""
        tr = self.tracer
        for i in range(self.timed_ops + 1):
            with tr.op(i):
                pipe = self.build(i)
                if pipe is not None and tr.enabled and i == 0:
                    with tr.paused():
                        self.layers.update(kernel_throughput(self.spark, pipe))
                if pipe is not None and i == self.timed_ops:
                    self.read_back(pipe)
            shutil.rmtree(self._store(i), ignore_errors=True)

    def execute(self) -> None:
        self.tracer.install()
        try:
            self.setup()
            try:
                self.measure()
            finally:
                stop_session(self.spark)
        finally:
            self.tracer.uninstall()
        if self.tracer.enabled:
            self._fold_trace()

    # -- results --------------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        """Every end-to-end figure of the run.  BENCHMARK.json gates
        ``setup_s``, ``cpu_us_per_turn`` and ``store_bytes_per_turn``;
        the wall-clock ``turns_per_s`` and ``query_ms_p50`` are reported
        by the traced run only.  On a shared 4-vCPU VM whose stolen time
        ran from 1 % to 17 %, their spread over ten runs reached 0.23
        and 0.27 of the median, past the largest bound a metric may
        have; the CPU time of the same operations moved far less."""
        if not self.op_s or not self.query_ms:
            return {}
        return {
            "setup_s": self.session_s + statistics.median(self.write_s),
            "cpu_us_per_turn": statistics.median(self.op_cpu) / self.turns * 1e6,
            "store_bytes_per_turn": statistics.median(self.store_bytes) / self.turns,
            "turns_per_s": self.turns / statistics.median(self.op_s),
            "query_ms_p50": statistics.median(self.query_ms),
        }

    def _fold_trace(self) -> None:
        log_path = tracing.find_event_log(os.path.join(self.work, "events"))
        folded = tracing.fold_layers(
            self.tracer.spans, tracing.EventLog(log_path), self.raw_dir,
            [name for name, _ in DEFAULT_TIERS],
        )
        self.layers.update(folded)
        self.layers["session.start_s"] = self.session_s
        self.layers["datagen.write_s"] = statistics.median(self.write_s)
        for k, v in self.end_to_end().items():
            if k in ("cpu_us_per_turn", "turns_per_s", "query_ms_p50"):
                self.layers[f"traced.{k}"] = v
