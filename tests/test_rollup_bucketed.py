"""RollupPipeline layout="bucketed": the pipeline natively writes the
composed partitionBy(d) + bucketBy(N, conv_id) layout (round-2 VERDICT
item #1) — day pruning for resume AND shuffle-free per-conversation
plans from the same pipeline-written tables.

A tier is published with one ``insertInto(overwrite=True)`` into its
``CLUSTERED BY`` catalog table under dynamic partition overwrite — the
same Spark commit as the plain layout, which replaces exactly the days
it writes.  These tests pin: result parity with the plain layout, both
resume modes, the 0-Exchange plan contract on PIPELINE-written (not
hand-written) tiers, cross-session catalog re-attach, a store rebuilt
at the same base_dir, the bucket-count pin and the refusal of a re-open
that changes a tier's schema, the fold of an older ``_layout.json`` pin
into the manifest, the jobs one run launches, and — over both layouts —
that a run cut by a failed write task, by a crash between Spark's
commit and the manifest entry, between two tiers, or between t1m and
its block store is reconciled by the next run, also when the clock
stepped back between runs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import types

import pytest
from pyspark.sql import functions as F

from grass_spark import manifest as manifest_module
from grass_spark.datagen import synth_transcripts
from grass_spark.manifest import CheckpointManifest
from grass_spark.operators.rollup import RollupPipeline, rollup_from_tier
from grass_spark.functions.granularity import adjust_datetime_to_granularity

from test_rollup_run import BASE_TURNS, NEW_DAY_TURNS, SPAN_TURNS, _jobs, _raw as _turns


def _raw(spark, n_convs=30, avg_turns=25):
    return synth_transcripts(spark, n_convs=n_convs, avg_turns=avg_turns, seed=7).cache()


def _n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


LAYOUTS = pytest.mark.parametrize(
    "layout", [{}, {"layout": "bucketed", "buckets": 4}], ids=["plain", "bucketed"]
)


def _to_legacy_pin(base, **extra) -> dict:
    """Rewrite the store at ``base`` in the older format: its layout pin
    (plus ``extra`` keys, e.g. ``sketches``) in ``_layout.json``, none in
    ``manifest.json``, and tier records without a ``blocks`` field.
    Returns the pin."""
    path = os.path.join(base, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    pin = manifest.pop("layout")
    for rec in manifest["tiers"].values():
        del rec["blocks"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    with open(os.path.join(base, "_layout.json"), "w") as f:
        json.dump({**pin, **extra}, f)
    return pin


def test_bucketed_matches_plain(spark, tmp_path):
    raw = _raw(spark)
    plain = RollupPipeline(str(tmp_path / "plain"))
    plain.run(raw, input_fingerprint="fp")
    buck = RollupPipeline(str(tmp_path / "buck"), layout="bucketed", buckets=8)
    buck.run(raw, input_fingerprint="fp")
    for name in ("t1m", "t1h", "t1d"):
        a = plain.read_tier(spark, name).drop("d")
        b = buck.read_tier(spark, name).drop("d")
        cols = sorted(a.columns)
        a, b = a.select(*cols), b.select(*cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name


def test_bucketed_cascade_zero_exchange(spark, tmp_path):
    """The upper-tier re-aggregation over a PIPELINE-written bucketed
    tier plans with zero Exchange — the contract operators/bucketed.py
    proves on hand-written tables, now on the flagship pipeline."""
    raw = _raw(spark)
    pipe = RollupPipeline(str(tmp_path / "tiers"), layout="bucketed", buckets=8)
    pipe.run(raw, input_fingerprint="fp")
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    lower = pipe._read_tier_frame(spark, "t1m")
    agg = rollup_from_tier(
        lower, "1 hour", adjust_datetime_to_granularity(t0, "1 hour"), ["conv_id"]
    )
    assert _n_exchanges(agg) == 0
    # per-conversation window over a pipeline tier: also shuffle-free
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("bucket_start")
    windowed = lower.withColumn("run", F.sum("turn_cnt").over(w))
    assert _n_exchanges(windowed) == 0


def test_bucketed_resume_skips_done_days(spark, tmp_path):
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    RollupPipeline(base, layout="bucketed", buckets=8).run(raw, input_fingerprint="fp")
    second = RollupPipeline(base, layout="bucketed", buckets=8).run(
        raw, input_fingerprint="fp"
    )
    for r in second:
        assert r.days_written == [], f"tier {r.name} recomputed {r.days_written}"


def test_bucketed_incremental_append_and_backfill(spark, tmp_path):
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    RollupPipeline(base, layout="bucketed", buckets=8).run(raw, incremental=True)

    # append new days: only those days written at tier 0
    shifted = raw.withColumn("ts", F.col("ts") + F.expr("INTERVAL 90 DAYS"))
    full = raw.unionByName(shifted)
    results = RollupPipeline(base, layout="bucketed", buckets=8).run(
        full, incremental=True
    )
    by = {r.name: r for r in results}
    orig_days = {
        str(r["d"]) for r in raw.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct().collect()
    }
    assert not (set(by["t1m"].days_written) & orig_days)
    assert by["t1m"].days_written
    pipe = RollupPipeline(base, layout="bucketed", buckets=8)
    assert (
        pipe.read_tier(spark, "t1d").agg(F.sum("turn_cnt")).collect()[0][0]
        == full.count()
    )

    # backfill an existing day: exactly that day rewritten
    target_day = sorted(orig_days)[0]
    extra = full.filter(F.date_format("ts", "yyyy-MM-dd") == target_day).limit(5)
    fuller = full.unionByName(extra)
    results2 = RollupPipeline(base, layout="bucketed", buckets=8).run(
        fuller, incremental=True
    )
    by2 = {r.name: r for r in results2}
    assert by2["t1m"].days_written == [target_day]
    assert (
        pipe.read_tier(spark, "t1d").agg(F.sum("turn_cnt")).collect()[0][0]
        == fuller.count()
    )


def test_bucketed_reattach_after_catalog_loss(spark, tmp_path):
    """Tier FILES survive a session restart; the in-memory catalog does
    not.  A fresh pipeline over the same base_dir must re-attach the
    table metadata and keep the 0-Exchange contract."""
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    pipe = RollupPipeline(base, layout="bucketed", buckets=8)
    pipe.run(raw, input_fingerprint="fp")
    total = pipe.read_tier(spark, "t1d").agg(F.sum("turn_cnt")).collect()[0][0]

    # simulate a new session: drop every catalog entry (external tables
    # keep their files)
    for name in ("t1m", "t1h", "t1d"):
        spark.sql(f"DROP TABLE IF EXISTS {pipe._table_name(name)}")

    pipe2 = RollupPipeline(base, layout="bucketed", buckets=8)
    t1m = pipe2._read_tier_frame(spark, "t1m")
    agg = t1m.groupBy("conv_id", "bucket_start").agg(F.sum("turn_cnt"))
    assert _n_exchanges(agg) == 0
    assert (
        pipe2.read_tier(spark, "t1d").agg(F.sum("turn_cnt")).collect()[0][0]
        == total
    )
    # and resume still recognizes everything as done
    third = pipe2.run(raw, input_fingerprint="fp")
    assert all(r.days_written == [] for r in third)


def test_pre_pin_store_rejects_bucketed_claim(spark, tmp_path):
    """A tier store written before the layout pin existed (plain files,
    no pin in the manifest or in a _layout.json) must refuse a
    'bucketed' re-open — adopting the claim would plan shuffle-free over
    non-bucketed files."""
    raw = _raw(spark, n_convs=5, avg_turns=5)
    base = str(tmp_path / "tiers")
    RollupPipeline(base).run(raw)
    _to_legacy_pin(base)
    os.remove(os.path.join(base, "_layout.json"))  # simulate pre-pin
    with pytest.raises(ValueError, match="predates the layout pin"):
        RollupPipeline(base, layout="bucketed", buckets=8)
    # a plain re-open of the same store is fine (legacy stores ARE plain)
    RollupPipeline(base)


def test_layout_pin_rejects_mismatch(spark, tmp_path):
    raw = _raw(spark, n_convs=5, avg_turns=5)
    base = str(tmp_path / "tiers")
    RollupPipeline(base, layout="bucketed", buckets=8).run(raw)
    with pytest.raises(ValueError, match="layout"):
        RollupPipeline(base, layout="bucketed", buckets=16)
    with pytest.raises(ValueError, match="layout"):
        RollupPipeline(base, layout="plain")
    pin = {"layout": "bucketed", "buckets": 8}
    assert RollupPipeline(base, **pin).manifest.layout() == pin


@LAYOUTS
def test_layout_pin_rejects_sketches_flip(spark, tmp_path, layout):
    """A store built without sketches refuses a sketches=True re-open:
    appending a day would mix day files with and without the sketch
    columns (plain), or drop them on publish (bucketed)."""
    base = str(tmp_path / "tiers")
    RollupPipeline(base, **layout).run(_turns(spark, BASE_TURNS))
    with pytest.raises(ValueError, match="sketches"):
        RollupPipeline(base, sketches=True, **layout)


@LAYOUTS
def test_pin_without_sketches_key_reads_it_from_the_store(spark, tmp_path, layout):
    """An older ``_layout.json`` pin without a ``sketches`` key: the
    store re-opens with its own options (sketches or not, read from a
    t1m footer), folds the pin into the manifest, resumes, appends, and
    refuses the other setting."""
    for sketches in (False, True):
        base = str(tmp_path / f"sk{sketches}")
        RollupPipeline(base, sketches=sketches, **layout).run(_turns(spark, BASE_TURNS))
        pin = _to_legacy_pin(base)
        with pytest.raises(ValueError, match="sketches"):
            RollupPipeline(base, sketches=not sketches, **layout)
        pipe = RollupPipeline(base, sketches=sketches, **layout)
        assert pipe.manifest.layout() == pin
        assert not os.path.exists(os.path.join(base, "_layout.json"))
        if sketches:
            done = pipe.run(_turns(spark, BASE_TURNS))
            assert all(r.days_written == [] for r in done)
        else:
            pipe.run(_turns(spark, BASE_TURNS + NEW_DAY_TURNS), incremental=True)
            t1d = pipe.read_tier(spark, "t1d")
            assert t1d.agg(F.sum("turn_cnt")).collect()[0][0] == len(
                BASE_TURNS + NEW_DAY_TURNS
            )


@LAYOUTS
def test_older_store_folds_its_pin_and_resumes(spark, tmp_path, layout):
    """A store whose pin sits in ``_layout.json`` with its ``sketches``
    key re-opens, moves the pin into ``manifest.json``, deletes the file
    and resumes with no day rewritten."""
    base = str(tmp_path / "tiers")
    raw = _turns(spark, BASE_TURNS)
    RollupPipeline(base, **layout).run(raw)
    pin = _to_legacy_pin(base, sketches=False)
    entries = CheckpointManifest(os.path.join(base, "manifest.json")).metrics()
    pipe = RollupPipeline(base, **layout)
    assert not os.path.exists(os.path.join(base, "_layout.json"))
    assert CheckpointManifest(os.path.join(base, "manifest.json")).layout() == pin
    assert all(r.days_written == [] for r in pipe.run(raw))
    assert pipe.manifest.metrics() == entries


def test_reopen_rejects_keys_change(spark, tmp_path):
    """A tier's keys are its files' leading columns: a re-open with other
    keys would append day files of another shape, so it is refused."""
    base = str(tmp_path / "tiers")
    RollupPipeline(base).run(_turns(spark, BASE_TURNS))
    with pytest.raises(ValueError, match="keys"):
        RollupPipeline(base, keys=["conv_id", "role"])
    RollupPipeline(base, keys=["conv_id"])


def test_reopen_rejects_granularity_change(spark, tmp_path):
    """A re-open that names a recorded tier with another granularity
    would mix buckets of two widths in one tier, so it is refused; a
    prefix of the recorded cascade re-opens."""
    base = str(tmp_path / "tiers")
    RollupPipeline(base).run(_turns(spark, BASE_TURNS))
    tiers = (("t1m", "1 minute"), ("t1h", "2 hours"), ("t1d", "1 day"))
    with pytest.raises(ValueError, match="granularity"):
        RollupPipeline(base, tiers=tiers)
    RollupPipeline(base, tiers=(("t1m", "1 minute"),))


def test_per_tier_bucket_counts(spark, tmp_path):
    """buckets may be a per-tier dict — upper tiers hold far fewer rows
    and want smaller counts (measured write premium, BASELINE.md)."""
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    counts = {"t1m": 8, "t1h": 4, "t1d": 2}
    pipe = RollupPipeline(base, layout="bucketed", buckets=counts)
    pipe.run(raw, input_fingerprint="fp")
    for name, nb in counts.items():
        root = pipe.tier_path(name)
        for part in os.listdir(root):
            if part.startswith("d="):
                files = [f for f in os.listdir(os.path.join(root, part))
                         if f.endswith(".parquet")]
                assert len(files) <= nb, f"{name}/{part}"
        # per-tier aggs stay 0-Exchange at each count
        lower = pipe._read_tier_frame(spark, name)
        agg = lower.groupBy("conv_id", "bucket_start").agg(F.sum("turn_cnt"))
        assert _n_exchanges(agg) == 0, name
    # resume still clean
    second = RollupPipeline(base, layout="bucketed", buckets=counts).run(
        raw, input_fingerprint="fp"
    )
    assert all(r.days_written == [] for r in second)


def test_bucketed_file_count_is_buckets_per_day(spark, tmp_path):
    """The pre-write repartition aligns tasks with the bucket spec, so
    each (day, bucket) pair gets exactly one file — never
    tasks × buckets × days."""
    raw = _raw(spark)
    base = str(tmp_path / "tiers")
    pipe = RollupPipeline(base, layout="bucketed", buckets=4)
    pipe.run(raw)
    root = pipe.tier_path("t1m")
    for part in os.listdir(root):
        if not part.startswith("d="):
            continue
        files = [f for f in os.listdir(os.path.join(root, part))
                 if f.endswith(".parquet")]
        assert len(files) <= 4, f"{part}: {len(files)} files"


def test_layout_pin_repins_when_store_empty(spark, tmp_path):
    """A pin written by a constructed-but-never-run pipeline (ADVICE
    rollup.py:204) must not permanently lock an empty store."""
    base = str(tmp_path / "tiers")
    RollupPipeline(base, layout="bucketed", buckets=8)  # never run
    RollupPipeline(base, layout="bucketed", buckets=16)  # re-pin ok: no data
    pipe = RollupPipeline(base)  # plain re-pin ok too
    pipe.run(_raw(spark, n_convs=5, avg_turns=5))
    with pytest.raises(ValueError, match="layout"):
        RollupPipeline(base, layout="bucketed", buckets=8)  # now locked


def test_read_tier_schema_identical_across_layouts(spark, tmp_path):
    """read_tier must expose the SAME schema (incl. d: string) in both
    layouts (ADVICE rollup.py:270)."""
    raw = _raw(spark, n_convs=10, avg_turns=10)
    plain = RollupPipeline(str(tmp_path / "p"))
    plain.run(raw)
    buck = RollupPipeline(str(tmp_path / "b"), layout="bucketed", buckets=4)
    buck.run(raw)
    for name in ("t1m", "t1h", "t1d"):
        a, b = plain.read_tier(spark, name), buck.read_tier(spark, name)
        assert dict(a.dtypes) == dict(b.dtypes), name
        assert dict(a.dtypes)["d"] == "string", name


def test_store_deleted_and_rebuilt_in_one_session(spark, tmp_path):
    """The tier tables' catalog entries outlive a deleted store.  A
    rebuild at the same base_dir in the same session, here without the
    sketch columns the deleted store carried, must publish and read the
    new files through new entries, not the deleted store's."""
    base = str(tmp_path / "tiers")
    RollupPipeline(base, layout="bucketed", buckets=4, sketches=True).run(
        _turns(spark, BASE_TURNS)
    )
    shutil.rmtree(base)
    pipe = RollupPipeline(base, layout="bucketed", buckets=4)
    pipe.run(_turns(spark, NEW_DAY_TURNS))
    for name in ("t1m", "t1h", "t1d"):
        tier = pipe.read_tier(spark, name)
        assert "len_kll" not in tier.columns, name
        assert {r["d"] for r in tier.select("d").distinct().collect()} == {"2024-03-06"}
        assert tier.agg(F.sum("turn_cnt")).collect()[0][0] == len(NEW_DAY_TURNS)


#: 5 more days appended to SPAN_TURNS
SPAN_APPEND = [
    ("a", (dt.datetime(2024, 2, 10, 12) + dt.timedelta(days=i)).isoformat(" "))
    for i in range(5)
]
#: Spark jobs of a fresh bucketed run over SPAN_TURNS, and of the
#: incremental run that appends SPAN_APPEND: the fused raw pre-scan (2
#: under AQE), then per tier the aggregate's shuffle, the pre-write
#: repartition's shuffle and the insert (the append's upper tiers
#: launch 2 each).  No job lists the 40-odd day directories.
BUCKETED_JOB_BUDGET = {"fresh": 11, "append": 9}


def test_bucketed_run_job_budget(spark, tmp_path):
    base = str(tmp_path / "tiers")
    raw = _turns(spark, SPAN_TURNS)
    full = _turns(spark, SPAN_TURNS + SPAN_APPEND)
    jobs = {
        "fresh": _jobs(spark, "bucketed-fresh", lambda: RollupPipeline(
            base, layout="bucketed", buckets=2).run(raw, incremental=True)),
        "append": _jobs(spark, "bucketed-append", lambda: RollupPipeline(
            base, layout="bucketed", buckets=2).run(full, incremental=True)),
    }
    assert all(jobs[k] <= BUCKETED_JOB_BUDGET[k] for k in jobs), (
        f"{jobs} jobs, budget {BUCKETED_JOB_BUDGET}"
    )
    t1d = RollupPipeline(base, layout="bucketed", buckets=2).read_tier(spark, "t1d")
    assert t1d.agg(F.sum("turn_cnt")).collect()[0][0] == len(SPAN_TURNS + SPAN_APPEND)


# ------------------------------------------------------- crash and resume
#: turns backfilled into two of BASE_TURNS' days
BACKFILL = [("a", "2024-03-01 00:00:30"), ("b", "2024-03-04 05:00:02")]
BACKFILLED_DAYS = ["2024-03-01", "2024-03-04"]


def _tiers(spark, pipe) -> dict[str, list]:
    """Every tier's rows, in a fixed order."""
    out = {}
    for name, _ in pipe.tiers:
        tier = pipe.read_tier(spark, name)
        cols = sorted(tier.columns)
        out[name] = sorted((tuple(r) for r in tier.select(*cols).collect()), key=repr)
    return out


@pytest.fixture(scope="module")
def backfilled_fresh(spark, tmp_path_factory):
    """Every tier of a fresh build over the backfilled turns."""
    pipe = RollupPipeline(str(tmp_path_factory.mktemp("fresh") / "tiers"))
    pipe.run(_turns(spark, BASE_TURNS + BACKFILL))
    return _tiers(spark, pipe)


def _build_then_crash_backfill(spark, base, layout, monkeypatch, owner, attr, crash):
    """Build ``base`` incrementally over BASE_TURNS, then run the
    backfill with ``owner.attr`` wrapped by ``crash`` and expect it to
    fail.  Returns every tier as it stood before the backfill."""
    RollupPipeline(base, **layout).run(_turns(spark, BASE_TURNS), incremental=True)
    before = _tiers(spark, RollupPipeline(base, **layout))
    monkeypatch.setattr(owner, attr, crash(getattr(owner, attr)))
    with pytest.raises(Exception, match="injected"):
        RollupPipeline(base, **layout).run(
            _turns(spark, BASE_TURNS + BACKFILL), incremental=True
        )
    monkeypatch.undo()
    return before


def _assert_rerun_matches_fresh(spark, base, layout, fresh):
    results = RollupPipeline(base, **layout).run(
        _turns(spark, BASE_TURNS + BACKFILL), incremental=True
    )
    assert {r.name: r.days_written for r in results} == {
        "t1m": [], "t1h": BACKFILLED_DAYS, "t1d": BACKFILLED_DAYS,
    }
    assert _tiers(spark, RollupPipeline(base, **layout)) == fresh


@LAYOUTS
def test_resume_after_crash_between_tiers_matches_fresh_build(
    spark, tmp_path, monkeypatch, layout, backfilled_fresh,
):
    """The backfill run dies after t1m is published, before t1h is
    written.  t1h's and t1d's entries for the backfilled days were
    recorded before t1m's, so the rerun must redo those days there, not
    keep the stale rows as done."""
    def crash(write_tier):
        def crashing(self, spark, tiered, name, *a, **kw):
            if name == "t1h":
                raise RuntimeError("injected crash before the t1h write")
            return write_tier(self, spark, tiered, name, *a, **kw)
        return crashing

    base = str(tmp_path / "tiers")
    _build_then_crash_backfill(
        spark, base, layout, monkeypatch, RollupPipeline, "_write_tier", crash
    )
    _assert_rerun_matches_fresh(spark, base, layout, backfilled_fresh)


@LAYOUTS
def test_failed_write_task_keeps_published_days(
    spark, tmp_path, monkeypatch, layout, backfilled_fresh,
):
    """A task of t1h's write fails (on one of the two days it rewrites)
    and Spark aborts the job: every day t1h and t1d had published stays
    readable and unchanged, and the rerun matches a fresh build."""
    def crash(write_tier):
        def failing_task(self, spark, tiered, name, *a, **kw):
            if name == "t1h":
                on_day = F.date_format("bucket_start", "yyyy-MM-dd") == BACKFILLED_DAYS[1]
                tiered = tiered.withColumn("turn_cnt", F.when(
                    on_day, F.raise_error(F.lit("injected task failure"))
                ).otherwise(F.col("turn_cnt")))
            return write_tier(self, spark, tiered, name, *a, **kw)
        return failing_task

    base = str(tmp_path / "tiers")
    before = _build_then_crash_backfill(
        spark, base, layout, monkeypatch, RollupPipeline, "_write_tier", crash
    )
    after = _tiers(spark, RollupPipeline(base, **layout))
    assert (after["t1h"], after["t1d"]) == (before["t1h"], before["t1d"])
    _assert_rerun_matches_fresh(spark, base, layout, backfilled_fresh)


def test_clock_step_back_between_runs_is_reconciled(
    spark, tmp_path, monkeypatch, backfilled_fresh,
):
    """The clock steps back between the build and a backfill run that
    dies before t1h is written, so the backfilled days' new t1m entries
    carry EARLIER times than t1h's stale ones.  Entries are ordered by
    when they were recorded, not by their times: the rerun still redoes
    those days in t1h and t1d."""
    now = [2_000_000_000.0]
    monkeypatch.setattr(
        manifest_module, "time", types.SimpleNamespace(time=lambda: now[0])
    )

    def crash(write_tier):
        def crashing(self, spark, tiered, name, *a, **kw):
            now[0] = 1_000_000_000.0
            if name == "t1h":
                raise RuntimeError("injected crash before the t1h write")
            return write_tier(self, spark, tiered, name, *a, **kw)
        return crashing

    base = str(tmp_path / "tiers")
    _build_then_crash_backfill(
        spark, base, {}, monkeypatch, RollupPipeline, "_write_tier", crash
    )
    _assert_rerun_matches_fresh(spark, base, {}, backfilled_fresh)


@LAYOUTS
def test_crash_between_commit_and_manifest_is_reconciled(
    spark, tmp_path, monkeypatch, layout, backfilled_fresh,
):
    """Spark commits t1h's rewritten days, then the run dies before
    their manifest entries are saved.  The rerun sees t1h's entries
    recorded before t1m's and redoes those days in t1h and t1d."""
    def crash(record_many):
        def crashing(self, entries, tiers=None):
            if tiers and "t1h" in tiers:
                raise RuntimeError("injected crash after the t1h commit")
            return record_many(self, entries, tiers)
        return crashing

    base = str(tmp_path / "tiers")
    _build_then_crash_backfill(
        spark, base, layout, monkeypatch, CheckpointManifest, "record_many", crash
    )
    _assert_rerun_matches_fresh(spark, base, layout, backfilled_fresh)


@LAYOUTS
def test_crash_before_block_write_is_reconciled(
    spark, tmp_path, monkeypatch, layout, backfilled_fresh,
):
    """The backfill run of a ``compress=True`` store dies in
    ``_write_blocks``, after t1m recorded its rewritten days.  The rerun
    writes no t1m day, but t1m's record carries no codec report, so it
    rewrites the block store: the blocks decode to the t1m tier again
    and the report is back on the record."""
    def crash(write_blocks):
        def crashing(self, spark, name):
            raise RuntimeError("injected crash before the block write")
        return crashing

    base = str(tmp_path / "tiers")
    layout = {**layout, "compress": True}
    _build_then_crash_backfill(
        spark, base, layout, monkeypatch, RollupPipeline, "_write_blocks", crash
    )
    assert RollupPipeline(base, **layout).manifest.tiers()["t1m"]["blocks"] is None
    _assert_rerun_matches_fresh(spark, base, layout, backfilled_fresh)
    pipe = RollupPipeline(base, **layout)
    cols = [*pipe.keys, "bucket_start", *pipe.INT_METRICS]
    decoded = pipe.read_tier_from_blocks(spark, "t1m").select(*cols).collect()
    assert sorted(map(tuple, decoded), key=repr) == sorted(
        (tuple(r) for r in pipe.read_tier(spark, "t1m").select(*cols).collect()), key=repr
    )
    assert pipe.manifest.tiers()["t1m"]["blocks"]["n_points"] == len(decoded)
