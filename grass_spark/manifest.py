"""Checkpoint manifest — the tier store's one metadata file.

The reference keeps its lineage in the temporal catalog: every dataset
row carries the creating ``command`` string
(``lib/temporal/SQL/strds_metadata_table.sql:24``,
``abstract_space_time_dataset.py:232-291`` ``update_command_string``) and
``update_from_registered_maps`` recomputes rollup metadata after each
append.  This engine replaces that SQLite catalog with a JSON manifest
per pipeline, and like that catalog it holds metadata, never cell data:

* the store's layout pin (``layout``, and ``buckets`` for the bucketed
  layout);
* one record per tier: granularity, source, command, write wall and,
  for a tier with a block store, its codec report (blocks, points, the
  tier's and the block store's parquet bytes, and their ratio).  A
  tier that writes no day keeps its record;
* one entry per (tier, output partition) recording rows, bytes and the
  input fingerprint (the tier record holds the tier's write wall; a
  day's share of it is not measured) — which is what makes a tier job
  **resumable mid-tier**: on restart the pipeline diffs target
  partitions against completed manifest entries and recomputes only the
  missing ones, overwriting idempotently (dynamic partition overwrite).
  An entry's position in the list is its record order: ``record_many``
  moves a re-recorded entry to the end.

A tier's column schema is not recorded here: every Spark-written parquet
footer already carries it, and cannot disagree with the data it
describes (``operators/rollup.py`` reads it from there).

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
    # the tier's block-store report: n_blocks, n_points, tier_bytes,
    # comp_bytes, ratio = tier_bytes / comp_bytes; None until written
    blocks: dict | None = None


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

    # -- layout pin -----------------------------------------------------
    def layout(self) -> dict | None:
        """The store's pinned ``{"layout": ..., "buckets": ...}``
        (``buckets`` only for the bucketed layout), or None if unpinned."""
        return self._data.get("layout")

    def set_layout(self, pin: dict) -> None:
        self._data["layout"] = dict(pin)
        self._save()

    # -- partition entries --------------------------------------------
    def finished_map(
        self, tier: str, input_fingerprint: str | None = None,
    ) -> dict[str, int]:
        """part -> record position for the partitions already completed
        for ``tier``.  If a fingerprint is given, entries computed from a
        *different* input snapshot do not count as done (the input
        changed -> recompute).  Positions order a tier's partition
        against its source's by when each was recorded, with no clock
        involved: ``finished_at`` is wall time, which can step back
        between runs."""
        return {
            e["part"]: pos
            for pos, e in enumerate(self._data["partitions"])
            if e["tier"] == tier
            and e["status"] == "ok"
            and (input_fingerprint is None or e["input_fingerprint"] == input_fingerprint)
        }

    def record_many(
        self, entries: list[PartitionEntry],
        tiers: dict[str, TierRecord] | None = None,
    ) -> None:
        """Upsert ``entries`` (idempotent on (tier, part); an upserted
        entry moves to the end, after every entry recorded before it)
        and, in the same save, ``tiers``."""
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

    def metrics(self, tier: str | None = None) -> list[dict]:
        return [
            dict(e) for e in self._data["partitions"]
            if tier is None or e["tier"] == tier
        ]

    # -- io -------------------------------------------------------------
    def _save(self) -> None:
        # tmp file + os.replace: a crash mid-write leaves the previous
        # manifest (or none), never a truncated one
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
