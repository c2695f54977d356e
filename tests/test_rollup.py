"""Tier cascade: exactness of algebraic re-aggregation + manifest resume."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from grass_spark.datagen import synth_transcripts
from grass_spark.manifest import CheckpointManifest
from grass_spark.operators.rollup import RollupPipeline, rollup_from_raw, with_derived
from grass_spark.functions.granularity import adjust_datetime_to_granularity


def _raw(spark, n_convs=30, avg_turns=25):
    return synth_transcripts(spark, n_convs=n_convs, avg_turns=avg_turns, seed=7).cache()


def test_cascade_matches_direct_from_raw(spark, tmp_path):
    """hour/day tiers re-aggregated from the minute tier must equal the
    same rollup computed directly from raw (algebraic exactness)."""
    raw = _raw(spark)
    pipe = RollupPipeline(str(tmp_path / "tiers"))
    results = pipe.run(raw, input_fingerprint="fp1")
    assert [r.name for r in results] == ["t1m", "t1h", "t1d"]

    t0 = raw.agg(F.min("ts")).collect()[0][0]
    for name, gran in (("t1h", "1 hour"), ("t1d", "1 day")):
        origin = adjust_datetime_to_granularity(t0, gran)
        direct = rollup_from_raw(raw, gran, origin, ["conv_id"])
        cascaded = pipe.read_tier(spark, name).drop("len_avg", "bucket_end", "d")
        diff = direct.exceptAll(cascaded).count() + cascaded.exceptAll(direct).count()
        assert diff == 0, f"tier {name} cascade mismatch"


def test_tier_totals_preserved(spark, tmp_path):
    raw = _raw(spark)
    pipe = RollupPipeline(str(tmp_path / "tiers"))
    pipe.run(raw)
    n_raw = raw.count()
    for name in ("t1m", "t1h", "t1d"):
        t = pipe.read_tier(spark, name)
        assert t.agg(F.sum("turn_cnt")).collect()[0][0] == n_raw
        # role counts partition the turn count
        role_sum = t.agg(
            F.sum(F.col("n_user") + F.col("n_assistant") + F.col("n_system") + F.col("n_tool"))
        ).collect()[0][0]
        assert role_sum == n_raw


def test_manifest_lineage_written(spark, tmp_path):
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    pipe = RollupPipeline(base)
    results = pipe.run(raw, input_fingerprint="abc")
    m = CheckpointManifest(os.path.join(base, "manifest.json"))
    tiers = m.tiers()
    assert set(tiers) == {"t1m", "t1h", "t1d"}
    assert tiers["t1h"]["source"] == "t1m"
    assert "rollup(" in tiers["t1d"]["command"]
    for r in results:
        entries = m.metrics(r.name)
        assert {e["part"] for e in entries} == set(r.days_written)
        assert all(e["rows_out"] > 0 and e["bytes_out"] > 0 for e in entries)
        assert sum(e["rows_out"] for e in entries) == r.rows_out


def test_resume_skips_done_days(spark, tmp_path):
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    pipe = RollupPipeline(base)
    first = pipe.run(raw, input_fingerprint="fp")
    # re-run with same fingerprint: nothing new to write
    pipe2 = RollupPipeline(base)
    second = pipe2.run(raw, input_fingerprint="fp")
    for r in second:
        assert r.days_written == [], f"tier {r.name} recomputed {r.days_written}"
    # data unchanged
    for r in first:
        assert spark.read.parquet(r.path).count() == r.rows_out


def test_resume_mid_tier(spark, tmp_path):
    """Simulate a crash after the minute tier: manifest has t1m only;
    resume completes t1h/t1d without rewriting t1m."""
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    pipe = RollupPipeline(base, tiers=(("t1m", "1 minute"),))
    pipe.run(raw, input_fingerprint="fp")

    def t1m_files():
        out = {}
        root = os.path.join(base, "t1m")
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = t1m_files()
    full = RollupPipeline(base)
    results = full.run(raw, input_fingerprint="fp")
    by_name = {r.name: r for r in results}
    assert by_name["t1m"].days_written == []
    assert by_name["t1h"].rows_out > 0 and by_name["t1d"].rows_out > 0
    assert t1m_files() == before


def test_new_fingerprint_recomputes(spark, tmp_path):
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    RollupPipeline(base).run(raw, input_fingerprint="v1")
    results = RollupPipeline(base).run(raw, input_fingerprint="v2")
    assert all(r.days_written for r in results)


def test_derived_avg(spark, tmp_path):
    raw = _raw(spark)
    pipe = RollupPipeline(str(tmp_path / "tiers"))
    pipe.run(raw)
    t = pipe.read_tier(spark, "t1d")
    bad = t.filter(
        (F.col("len_cnt") > 0)
        & (F.abs(F.col("len_avg") - F.col("len_sum") / F.col("len_cnt")) > 1e-9)
    ).count()
    assert bad == 0


def test_per_turn_text_equality_invariant(spark, tmp_path):
    """BASELINE input_hint: per-turn text equality under stable
    (conv_id, turn_idx) ordering must hold through all stages — the
    rollup never mutates raw; verify a stable re-read round-trips."""
    raw = _raw(spark)
    p = str(tmp_path / "raw_copy")
    raw.repartition(8).sortWithinPartitions("conv_id", "turn_idx").write.parquet(p)
    back = spark.read.parquet(p)
    diff = raw.select("conv_id", "turn_idx", "text").exceptAll(
        back.select("conv_id", "turn_idx", "text")
    ).count()
    assert diff == 0


def test_incremental_append_new_days(spark, tmp_path):
    """Appending new days recomputes only those days (content-based
    resume, fingerprint-free)."""
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    RollupPipeline(base).run(raw, incremental=True)

    # append a copy of the data shifted far past the original range
    shifted = raw.withColumn("ts", F.col("ts") + F.expr("INTERVAL 90 DAYS"))
    full = raw.unionByName(shifted)
    results = RollupPipeline(base).run(full, incremental=True)
    by = {r.name: r for r in results}
    orig_days = {
        str(r["d"]) for r in raw.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct().collect()
    }
    # no original day recomputed at tier 0
    assert not (set(by["t1m"].days_written) & orig_days)
    assert by["t1m"].days_written  # but the new days were
    # totals correct across old + new
    pipe = RollupPipeline(base)
    assert pipe.read_tier(spark, "t1d").agg(F.sum("turn_cnt")).collect()[0][0] == full.count()


def test_incremental_backfill_existing_day(spark, tmp_path):
    """Appending rows INTO an existing day recomputes exactly that day."""
    raw = _raw(spark).cache()
    base = str(tmp_path / "tiers")
    RollupPipeline(base).run(raw, incremental=True)

    target_day = raw.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d")).orderBy("d").first()["d"]
    extra = raw.filter(F.date_format("ts", "yyyy-MM-dd") == target_day).limit(5)
    full = raw.unionByName(extra)
    results = RollupPipeline(base).run(full, incremental=True)
    by = {r.name: r for r in results}
    assert by["t1m"].days_written == [target_day]
    pipe = RollupPipeline(base)
    assert pipe.read_tier(spark, "t1d").agg(F.sum("turn_cnt")).collect()[0][0] == full.count()


def test_compressed_block_store_roundtrip(spark, tmp_path):
    """compress=True materializes Gorilla block stores per tier; decode
    must be bit-exact vs the parquet tier."""
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    pipe = RollupPipeline(base, compress=True)
    pipe.run(raw, input_fingerprint="fp")

    # block store is built for the finest tier only (coarser tiers'
    # tiny groups make headers exceed the data — see RollupPipeline)
    tier = spark.read.parquet(pipe.tier_path("t1m")).drop("d")
    back = pipe.read_tier_from_blocks(spark, "t1m")
    cols = sorted(tier.columns)
    a, b = tier.select(*cols), back.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    import os
    assert not os.path.exists(pipe.tier_path("t1d") + "_blocks")
    # the codec report landed on the tier's manifest record
    codec = pipe.manifest.tiers()["t1m"]["blocks"]
    assert codec["n_points"] == tier.count() and codec["ratio"] > 0
