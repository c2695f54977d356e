"""What one ``RollupPipeline.run`` records and what it costs.

* Equivalence: the manifest's ``(tier, part, rows_in, rows_out)`` and the
  returned ``TierResult`` s are pinned against an independent Python
  rollup of a hand-built raw table, for a fresh run, a resume rerun and
  an incremental append.  ``n_files``/``bytes_out`` must describe the
  files actually on disk.
* Write shape: one parquet file per (tier, day) by default; a day larger
  than AQE's advisory partition size is split over several files.
* Job budget: the Spark jobs one run launches, without and with the
  block codec, so a re-added raw scan, per-tier re-count, codec report
  scan or schema-inference read fails loudly; reading a tier back
  launches none, also on a store of more days than Spark lists without
  a job by default.
* Codec report: read from the files the block write left, with no job;
  its ratio is the tier's parquet bytes over the block store's.  A
  no-op rerun keeps every tier record, report included.
* Honest durations: the tier write wall lives on the tier record;
  partition entries do not claim it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from grass_spark.datagen import synth_transcripts
from grass_spark.manifest import CheckpointManifest
from grass_spark.operators.rollup import RollupPipeline

from test_skew import _skewed_raw

#: (conv_id, ts) of each raw turn; 2024-03-03 and 2024-03-05 are gaps
BASE_TURNS = [
    ("a", "2024-03-01 00:00:10"), ("a", "2024-03-01 00:00:50"),
    ("a", "2024-03-01 00:01:05"), ("a", "2024-03-01 01:30:00"),
    ("b", "2024-03-01 00:00:20"), ("b", "2024-03-01 23:59:59"),
    ("a", "2024-03-02 10:00:00"), ("c", "2024-03-02 10:00:30"),
    ("c", "2024-03-02 10:05:00"), ("c", "2024-03-02 11:00:00"),
    ("b", "2024-03-04 05:00:00"), ("b", "2024-03-04 05:00:01"),
]
NEW_DAY_TURNS = [
    ("a", "2024-03-06 12:00:00"), ("a", "2024-03-06 12:00:30"),
    ("a", "2024-03-06 12:01:00"),
]
#: 40 consecutive days with one turn per day in each of two
#: conversations: more day directories than Spark lists without a job
#: by default (32)
SPAN_TURNS = [
    (conv, (dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=i)).isoformat(" "))
    for i in range(40) for conv in ("a", "b")
]
#: tier -> number of leading ts characters naming its bucket
PREFIX = {"t1m": 16, "t1h": 13, "t1d": 10}


def _raw(spark, turns):
    rows = [
        (conv, i, ("user", "assistant")[i % 2], "x" * (i + 1), None, ts)
        for i, (conv, ts) in enumerate(turns)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))


def _expected(turns) -> dict[tuple[str, str], tuple[int, int]]:
    """(tier, day) -> (rows_in, rows_out), computed without Spark: a
    tier's rows are its distinct (conv, bucket) pairs, and only tier 0
    records raw rows in."""
    out = {}
    for tier, k in PREFIX.items():
        days = sorted({ts[:10] for _, ts in turns})
        for day in days:
            on_day = [(c, ts) for c, ts in turns if ts[:10] == day]
            rows_in = len(on_day) if tier == "t1m" else 0
            out[(tier, day)] = (rows_in, len({(c, ts[:k]) for c, ts in on_day}))
    return out


def _pinned(base) -> dict[tuple[str, str], tuple[int, int]]:
    m = CheckpointManifest(os.path.join(base, "manifest.json"))
    return {(e["tier"], e["part"]): (e["rows_in"], e["rows_out"]) for e in m.metrics()}


def _assert_files_on_disk(base):
    m = CheckpointManifest(os.path.join(base, "manifest.json"))
    for e in m.metrics():
        day_dir = os.path.join(base, e["tier"], f"d={e['part']}")
        files = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
        assert e["n_files"] == len(files) >= 1
        assert e["bytes_out"] == sum(
            os.path.getsize(os.path.join(day_dir, f)) for f in files
        )


def _written(results, want: dict, days: list[str]):
    by = {r.name: r for r in results}
    assert list(by) == ["t1m", "t1h", "t1d"]
    for tier in PREFIX:
        assert by[tier].days_written == days
        assert by[tier].rows_out == sum(want[(tier, d)][1] for d in days)


def test_fresh_run_pins_manifest(spark, tmp_path):
    base = str(tmp_path / "tiers")
    results = RollupPipeline(base).run(_raw(spark, BASE_TURNS), input_fingerprint="fp")
    want = _expected(BASE_TURNS)
    assert _pinned(base) == want
    _written(results, want, ["2024-03-01", "2024-03-02", "2024-03-04"])
    _assert_files_on_disk(base)


def test_resume_rerun_pins_manifest(spark, tmp_path):
    base = str(tmp_path / "tiers")
    raw = _raw(spark, BASE_TURNS)
    want = _expected(BASE_TURNS)
    # a crash after tier 0: the full rerun resumes at t1h
    RollupPipeline(base, tiers=(("t1m", "1 minute"),)).run(raw, input_fingerprint="fp")
    results = RollupPipeline(base).run(raw, input_fingerprint="fp")
    by = {r.name: r for r in results}
    assert by["t1m"].days_written == [] and by["t1m"].rows_out == 0
    assert by["t1d"].days_written == ["2024-03-01", "2024-03-02", "2024-03-04"]
    assert by["t1d"].rows_out == 5
    assert _pinned(base) == want
    # every day done: nothing is rewritten, nothing in the manifest moves
    again = RollupPipeline(base).run(raw, input_fingerprint="fp")
    assert [(r.days_written, r.rows_out) for r in again] == [([], 0)] * 3
    assert _pinned(base) == want
    _assert_files_on_disk(base)


def test_incremental_append_pins_manifest(spark, tmp_path):
    base = str(tmp_path / "tiers")
    RollupPipeline(base).run(_raw(spark, BASE_TURNS), incremental=True)
    turns = BASE_TURNS + NEW_DAY_TURNS
    results = RollupPipeline(base).run(_raw(spark, turns), incremental=True)
    want = _expected(turns)
    assert _pinned(base) == want
    assert want[("t1m", "2024-03-06")] == (3, 2)
    _written(results, want, ["2024-03-06"])
    _assert_files_on_disk(base)


def test_null_ts_rejected_before_any_write(spark, tmp_path):
    """A turn without a timestamp belongs to no bucket and no day: the
    run refuses it up front instead of writing a NULL day partition."""
    base = str(tmp_path / "tiers")
    raw = _raw(spark, BASE_TURNS + [("c", None)])
    with pytest.raises(ValueError, match="NULL ts"):
        RollupPipeline(base).run(raw, input_fingerprint="fp")
    assert not any(os.path.isdir(os.path.join(base, t)) for t in PREFIX)
    with pytest.raises(ValueError, match="empty raw input"):
        RollupPipeline(base).run(_raw(spark, [("c", None)]))


def test_null_day_partition_on_disk_is_rejected(spark, tmp_path):
    """A NULL-day directory left in a tier by an earlier write is not a
    day the manifest can name: the per-day count refuses it."""
    base = str(tmp_path / "tiers")
    raw = _raw(spark, BASE_TURNS)
    RollupPipeline(base).run(raw, input_fingerprint="v1")
    t1m = os.path.join(base, "t1m")
    shutil.copytree(
        os.path.join(t1m, "d=2024-03-01"),
        os.path.join(t1m, "d=__HIVE_DEFAULT_PARTITION__"),
    )
    with pytest.raises(ValueError, match="NULL-day partition"):
        RollupPipeline(base).run(raw, input_fingerprint="v2")


def _files_per_day(base, tier) -> dict[str, int]:
    root = os.path.join(base, tier)
    return {
        p[len("d="):]: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(root, p)))
        for p in os.listdir(root) if p.startswith("d=")
    }


def test_plain_write_is_one_file_per_day(spark, tmp_path):
    base = str(tmp_path / "tiers")
    raw = synth_transcripts(spark, n_convs=30, avg_turns=25, seed=7)
    RollupPipeline(base).run(raw, input_fingerprint="fp")
    for tier in PREFIX:
        per_day = _files_per_day(base, tier)
        assert len(per_day) >= 10
        assert set(per_day.values()) == {1}, tier


def test_hot_day_splits_over_files_and_stays_exact(spark, tmp_path):
    """A day larger than the advisory partition size is written by
    several tasks (AQE's rebalance skew split), and no row is lost or
    double-counted on the way."""
    base = str(tmp_path / "tiers")
    raw = _skewed_raw(spark, normal_convs=20, hot_turns=20_000).cache()
    # a skew split cuts a day only between the map tasks that feed it;
    # on an input this small the tier aggregate would otherwise coalesce
    # to one map task (minPartitionSize, 1 MB by default)
    tiny = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
    }
    prior = {k: spark.conf.get(k) for k in tiny}
    for k, v in tiny.items():
        spark.conf.set(k, v)
    try:
        RollupPipeline(base).run(raw, input_fingerprint="fp")
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    assert max(_files_per_day(base, "t1m").values()) > 1
    want = {
        r["d"]: r["n"]
        for r in raw.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).count()
        .withColumnRenamed("count", "n").collect()
    }
    for tier in PREFIX:
        got = {
            r["d"]: r["n"]
            for r in spark.read.parquet(os.path.join(base, tier))
            .groupBy(F.col("d").cast("string").alias("d"))
            .agg(F.sum("turn_cnt").alias("n")).collect()
        }
        assert got == want, tier
    raw.unpersist()


#: Spark jobs of one fresh run over BASE_TURNS: the fused raw pre-scan,
#: then per tier its aggregate + rebalanced write.  The lower tier's
#: schema and the per-day counts come from parquet footers and launch
#: none.
RUN_JOB_BUDGET = 11


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs launched while ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_job_budget(spark, tmp_path):
    raw = _raw(spark, BASE_TURNS)
    jobs = _jobs(spark, "rollup-run-budget", lambda: RollupPipeline(
        str(tmp_path / "tiers")).run(raw, input_fingerprint="fp"))
    assert jobs <= RUN_JOB_BUDGET, f"{jobs} jobs, budget {RUN_JOB_BUDGET}"


#: Spark jobs of one fresh ``compress=True`` run over BASE_TURNS plus a
#: full t1m block decode: the plain run's jobs, then the block write's
#: shuffle and write (codec metrics observed on the write, no
#: read-back), and the decode.  Both schemas come from footers.
CODEC_JOB_BUDGET = 14


def test_codec_run_job_budget(spark, tmp_path):
    raw = _raw(spark, BASE_TURNS)

    def run_and_decode():
        pipe = RollupPipeline(str(tmp_path / "tiers"), compress=True)
        pipe.run(raw, input_fingerprint="fp")
        pipe.read_tier_from_blocks(spark, "t1m").write.format("noop").mode("overwrite").save()

    jobs = _jobs(spark, "rollup-codec-budget", run_and_decode)
    assert jobs <= CODEC_JOB_BUDGET, f"{jobs} jobs, budget {CODEC_JOB_BUDGET}"


def test_read_job_budget(spark, tmp_path):
    """Reading a tier back takes its schema from a parquet footer:
    building ``read_tier`` for each tier, ``read_tier_from_blocks``, and
    a bucketed tier's catalog re-attach after its table was dropped
    launch no Spark job.  Nor does a plain read of a 40-day store: on a
    local master, Spark lists its day directories without a job."""
    raw = _raw(spark, BASE_TURNS)
    plain = RollupPipeline(str(tmp_path / "plain"), compress=True)
    plain.run(raw, input_fingerprint="fp")
    buck = RollupPipeline(str(tmp_path / "buck"), layout="bucketed", buckets=2)
    buck.run(raw, input_fingerprint="fp")
    span = RollupPipeline(str(tmp_path / "span"), compress=True)
    span.run(_raw(spark, SPAN_TURNS), input_fingerprint="fp")
    jobs = {}
    for name in PREFIX:
        jobs[f"plain {name}"] = _jobs(
            spark, f"read-plain-{name}", lambda: plain.read_tier(spark, name))
        jobs[f"40 days {name}"] = _jobs(
            spark, f"read-span-{name}", lambda: span.read_tier(spark, name))
        spark.sql(f"DROP TABLE {buck._table_name(name)}")
        jobs[f"bucketed {name}"] = _jobs(
            spark, f"read-bucketed-{name}", lambda: buck.read_tier(spark, name))
    for pipe in (plain, span):
        jobs[f"blocks {pipe.base_dir}"] = _jobs(
            spark, f"read-blocks-{len(jobs)}",
            lambda: pipe.read_tier_from_blocks(spark, "t1m"))
    assert jobs == dict.fromkeys(jobs, 0)
    assert buck.read_tier(spark, "t1d").agg(F.sum("turn_cnt")).collect()[0][0] == len(
        BASE_TURNS
    )


#: Spark jobs of ``_write_blocks``: the encode's repartition runs its
#: shuffle map stage as a job of its own under AQE, then the block
#: files are written.  The codec report is read from those files and
#: the manifest, so it adds none.
BLOCK_WRITE_JOBS = 2


def test_block_report_is_read_from_the_files(spark, tmp_path):
    """The codec report costs no Spark job, and its ratio is the t1m
    parquet bytes over the block store's bytes, both as on disk."""
    base = str(tmp_path / "tiers")
    pipe = RollupPipeline(base, compress=True)
    pipe.run(_raw(spark, BASE_TURNS), input_fingerprint="fp")

    def parquet_bytes(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path) for f in files if f.endswith(".parquet")
        )

    def assert_matches_disk(report):
        tier_bytes = parquet_bytes(pipe.tier_path("t1m"))
        comp_bytes = parquet_bytes(pipe.tier_path("t1m") + "_blocks")
        assert report["ratio"] == tier_bytes / comp_bytes
        assert (report["tier_bytes"], report["comp_bytes"]) == (tier_bytes, comp_bytes)
        blocks = spark.read.parquet(pipe.tier_path("t1m") + "_blocks")
        assert report["n_blocks"] == blocks.count() == 3  # (conv, month) pairs
        assert report["n_points"] == pipe.read_tier(spark, "t1m").count()
        assert not {"raw_bytes", "comp_bytes"} & set(blocks.columns)

    assert_matches_disk(pipe.manifest.tiers()["t1m"]["blocks"])
    report = {}
    jobs = _jobs(spark, "write-blocks", lambda: report.update(pipe._write_blocks(spark, "t1m")))
    assert jobs == BLOCK_WRITE_JOBS
    assert_matches_disk(report)


def test_noop_rerun_keeps_tier_records(spark, tmp_path):
    """A rerun that writes no day keeps every tier's stored record
    (write wall and codec report included) and leaves the block store
    untouched."""
    base = str(tmp_path / "tiers")
    raw = _raw(spark, BASE_TURNS)
    RollupPipeline(base, compress=True).run(raw, input_fingerprint="fp")
    manifest = os.path.join(base, "manifest.json")
    blocks = os.path.join(base, "t1m_blocks")
    before = CheckpointManifest(manifest).tiers()
    stamps = {f: os.path.getmtime(os.path.join(blocks, f)) for f in os.listdir(blocks)}
    assert before["t1m"]["blocks"]["n_blocks"] > 0
    for _ in range(2):
        results = RollupPipeline(base, compress=True).run(raw, input_fingerprint="fp")
        assert [r.days_written for r in results] == [[]] * 3
        assert CheckpointManifest(manifest).tiers() == before
    assert {f: os.path.getmtime(os.path.join(blocks, f)) for f in os.listdir(blocks)} == stamps


def test_partition_durations_within_tier_wall(spark, tmp_path):
    """The tier record carries the write wall; partition entries claim
    no share of it (0.0 = not measured), so they never sum past it.
    The block-store re-register keeps the wall."""
    base = str(tmp_path / "tiers")
    results = RollupPipeline(base, compress=True).run(_raw(spark, BASE_TURNS))
    m = CheckpointManifest(os.path.join(base, "manifest.json"))
    tiers = m.tiers()
    assert tiers["t1m"]["blocks"]["n_blocks"] > 0
    for r in results:
        wall = tiers[r.name]["write_s"]
        assert wall == round(r.duration_s, 3) and wall > 0
        assert sum(e["duration_s"] for e in m.metrics(r.name)) <= wall
