"""CheckpointManifest: the JSON lineage file resume and incremental
append read back.  No Spark session — the manifest is plain Python.
"""

from __future__ import annotations

import json
import os

import pytest

from grass_spark.manifest import CheckpointManifest, PartitionEntry, TierRecord


def _path(tmp_path):
    return str(tmp_path / "manifest.json")


def test_record_many_upserts_on_tier_and_part(tmp_path):
    m = CheckpointManifest(_path(tmp_path))
    m.record_many([
        PartitionEntry(tier="t1m", part="2024-01-01", rows_out=5),
        PartitionEntry(tier="t1m", part="2024-01-02", rows_out=7),
        PartitionEntry(tier="t1h", part="2024-01-01", rows_out=1),
    ])
    m.record_many([PartitionEntry(tier="t1m", part="2024-01-01", rows_out=9)])
    got = {(e["tier"], e["part"]): e["rows_out"] for e in m.metrics()}
    assert got == {
        ("t1m", "2024-01-01"): 9,
        ("t1m", "2024-01-02"): 7,
        ("t1h", "2024-01-01"): 1,
    }
    assert len(m.metrics()) == 3


def test_record_many_stamps_only_unset_finished_at(tmp_path):
    m = CheckpointManifest(_path(tmp_path))
    m.record_many([
        PartitionEntry(tier="t1m", part="a"),
        PartitionEntry(tier="t1m", part="b", finished_at=123.0),
    ])
    by_part = {e["part"]: e["finished_at"] for e in m.metrics("t1m")}
    assert by_part["a"] > 0
    assert by_part["b"] == 123.0


def test_record_many_saves_tiers_with_entries(tmp_path):
    path = _path(tmp_path)
    m = CheckpointManifest(path)
    m.record_many(
        [PartitionEntry(tier="t1m", part="2024-01-01", rows_out=3)],
        tiers={"t1m": TierRecord(granularity="1 minute", source="raw",
                                 write_s=1.5)},
    )
    # one save holds both: a re-open sees the tier record and the entry
    again = CheckpointManifest(path)
    assert again.tiers()["t1m"]["write_s"] == 1.5
    assert again.tiers()["t1m"]["source"] == "raw"
    assert [e["part"] for e in again.metrics("t1m")] == ["2024-01-01"]


def test_done_parts_respects_fingerprint_and_status(tmp_path):
    m = CheckpointManifest(_path(tmp_path))
    m.record_many([
        PartitionEntry(tier="t1m", part="d1", input_fingerprint="f1"),
        PartitionEntry(tier="t1m", part="d2", input_fingerprint="f2"),
        PartitionEntry(tier="t1m", part="d3", input_fingerprint="f1",
                       status="failed"),
        PartitionEntry(tier="t1h", part="d1", input_fingerprint="f1"),
    ])
    assert m.done_parts("t1m") == {"d1", "d2"}
    assert m.done_parts("t1m", input_fingerprint="f1") == {"d1"}
    assert m.done_parts("t1m", input_fingerprint="f9") == set()
    assert m.done_parts("t1d") == set()


def test_rows_in_map_skips_failed_entries(tmp_path):
    m = CheckpointManifest(_path(tmp_path))
    m.record_many([
        PartitionEntry(tier="t1m", part="d1", rows_in=10),
        PartitionEntry(tier="t1m", part="d2", rows_in=20, status="failed"),
        PartitionEntry(tier="t1h", part="d1", rows_in=30),
    ])
    assert m.rows_in_map("t1m") == {"d1": 10}


def test_save_is_atomic_and_reopen_round_trips(tmp_path):
    path = _path(tmp_path)
    m = CheckpointManifest(path)
    m.register_tier("t1h", TierRecord(granularity="1 hour", source="t1m",
                                      aggregation=["sum"], command="c"))
    m.set_meta("layout_decision", {"layout": "plain", "n_days": 2})
    m.record_many([PartitionEntry(tier="t1h", part="d1", rows_out=4)])
    assert not os.path.exists(path + ".tmp")
    with open(path) as f:
        on_disk = json.load(f)
    assert set(on_disk) == {"tiers", "partitions", "meta"}
    again = CheckpointManifest(path)
    assert again.tiers() == m.tiers()
    assert again.metrics() == m.metrics()
    assert again.get_meta("layout_decision") == {"layout": "plain", "n_days": 2}
    assert again.get_meta("missing", "dflt") == "dflt"


def test_metrics_returns_copies(tmp_path):
    m = CheckpointManifest(_path(tmp_path))
    m.record_many([PartitionEntry(tier="t1m", part="d1", rows_out=1)])
    m.metrics()[0]["rows_out"] = 99
    assert m.metrics()[0]["rows_out"] == 1


def test_layout_pin_write_crash_leaves_store_reopenable(tmp_path, monkeypatch):
    """A crash inside the first ``_layout.json`` write must not leave a
    truncated pin: the pin goes through the same tmp + ``os.replace``
    step as the manifest, so the next open sees no pin and re-pins."""
    from grass_spark.operators.rollup import RollupPipeline

    base = str(tmp_path / "store")

    def torn_dump(obj, f, **kw):
        f.write(json.dumps(obj, **kw)[:5])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="disk full"):
            RollupPipeline(base)

    pipe = RollupPipeline(base)
    assert pipe.layout == "plain"
    with open(os.path.join(base, "_layout.json")) as f:
        assert json.load(f) == {"layout": "plain"}
