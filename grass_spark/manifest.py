"""Checkpoint manifest — per-tier, per-partition lineage + metrics.

The reference keeps its lineage in the temporal catalog: every dataset
row carries the creating ``command`` string
(``lib/temporal/SQL/strds_metadata_table.sql:24``,
``abstract_space_time_dataset.py:232-291`` ``update_command_string``) and
``update_from_registered_maps`` recomputes rollup metadata after each
append.  This engine replaces that SQLite catalog with a JSON manifest
per pipeline: one entry per (tier, output partition) recording rows,
bytes and the input fingerprint (the tier record holds the tier's write
wall; a day's share of it is not measured) — which is what makes a tier
job **resumable mid-tier**: on restart the pipeline diffs target
partitions against completed manifest entries and recomputes only the
missing ones, overwriting idempotently (dynamic partition overwrite).

The manifest itself is tiny (one row per day-partition per tier) so a
single JSON file is the right scale even at 10^12 turns: 3 tiers x a few
thousand day-partitions.  Writes are atomic (tmp + rename).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class PartitionEntry:
    """Lineage + metrics for one completed output partition."""

    tier: str
    part: str                      # partition value, e.g. "2024-01-07"
    rows_in: int = 0               # raw rows feeding this partition (tier 0)
    rows_out: int = 0
    bytes_out: int = 0
    n_files: int = 0
    duration_s: float = 0.0        # 0.0: not measured per partition
    input_fingerprint: str = ""    # identifies the input snapshot
    finished_at: float = 0.0
    status: str = "ok"


@dataclass
class TierRecord:
    granularity: str
    source: str                    # "raw" or the tier below
    aggregation: list[str] = field(default_factory=list)
    command: str = ""              # reference's strds_metadata.command analog
    write_s: float = 0.0           # wall time of the tier's last write


class CheckpointManifest:
    """JSON-file-backed manifest; safe to re-open across runs."""

    def __init__(self, path: str):
        self.path = path
        self._data: dict = {"tiers": {}, "partitions": []}
        if os.path.exists(path):
            with open(path) as f:
                self._data = json.load(f)

    # -- tier metadata ------------------------------------------------
    def register_tier(self, name: str, rec: TierRecord) -> None:
        self._data["tiers"][name] = asdict(rec)
        self._save()

    def tiers(self) -> dict[str, dict]:
        return dict(self._data["tiers"])

    # -- partition entries --------------------------------------------
    def done_parts(self, tier: str, input_fingerprint: str | None = None) -> set[str]:
        """Partitions already completed for ``tier``.  If a fingerprint
        is given, entries computed from a *different* input snapshot do
        not count as done (the input changed -> recompute)."""
        return {
            e["part"]
            for e in self._data["partitions"]
            if e["tier"] == tier
            and e["status"] == "ok"
            and (input_fingerprint is None or e["input_fingerprint"] == input_fingerprint)
        }

    def record_many(
        self, entries: list[PartitionEntry],
        tiers: dict[str, TierRecord] | None = None,
    ) -> None:
        """Upsert ``entries`` (idempotent on (tier, part)) and, in the same
        save, ``tiers``."""
        for name, rec in (tiers or {}).items():
            self._data["tiers"][name] = asdict(rec)
        keys = {(e.tier, e.part) for e in entries}
        now = time.time()
        for e in entries:
            if not e.finished_at:
                e.finished_at = now
        self._data["partitions"] = [
            e for e in self._data["partitions"]
            if (e["tier"], e["part"]) not in keys
        ]
        self._data["partitions"].extend(asdict(e) for e in entries)
        self._save()

    def rows_in_map(self, tier: str) -> dict[str, int]:
        """part -> rows_in for completed partitions (content fingerprint
        for incremental append: a day whose raw count is unchanged is
        up to date under the engine's append-only contract)."""
        return {
            e["part"]: e.get("rows_in", 0)
            for e in self._data["partitions"]
            if e["tier"] == tier and e["status"] == "ok"
        }

    # -- free-form metadata (layout decisions, run config) -------------
    def set_meta(self, key: str, value) -> None:
        self._data.setdefault("meta", {})[key] = value
        self._save()

    def get_meta(self, key: str, default=None):
        return self._data.get("meta", {}).get(key, default)

    def metrics(self, tier: str | None = None) -> list[dict]:
        return [
            dict(e) for e in self._data["partitions"]
            if tier is None or e["tier"] == tier
        ]

    # -- io -------------------------------------------------------------
    def _save(self) -> None:
        write_json_atomic(self.path, self._data, indent=1, sort_keys=True)


def write_json_atomic(path: str, data, **dump_kw) -> None:
    """Write ``data`` as JSON to ``path`` via a tmp file + ``os.replace``:
    a crash mid-write leaves the previous file (or none), never a
    truncated one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f, **dump_kw)
    os.replace(tmp, path)
