"""Spans around the package's calls, Spark job groups, and the offline
Spark event log, folded into per-layer metrics for the traced run.

Spans come only from wrappers installed here (around public calls,
plus the private ``_write_tier``/``_write_blocks``/``_save`` methods
where no public call marks the boundary) and from the benchmark's own
code.  Each span sets a Spark job group named after its id, so every
job in the event log can be attributed to the innermost span that
launched it.  Spans are kept in memory and folded after the session
stops and the event log is complete.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

from grass_spark.manifest import CheckpointManifest
from grass_spark.operators.rollup import RollupPipeline

#: (class, method, span name) wrapped in the traced run.  Private
#: methods are wrapped by name; if a later change removes one, its
#: span is reported absent instead of failing the run.
WRAPPED = (
    (RollupPipeline, "run", "rollup.run"),
    (RollupPipeline, "_write_tier", "rollup.write_tier"),
    (RollupPipeline, "_write_blocks", "rollup.write_blocks"),
    (RollupPipeline, "read_tier", "read.build"),
    (CheckpointManifest, "_save", "manifest.save"),
)

_WRITE_CMD = "InsertIntoHadoopFsRelationCommand"
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_FILES_READ = "number of files read"
_BYTES_READ = "size of files read"


class Tracer:
    """In-memory span recorder.  Disabled, every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.absent: dict[str, str] = {}
        self._stack: list[int] = []
        self._op: int | None = None
        self._paused = False
        self._sc = None
        self._saved: list[tuple] = []

    # -- recording -----------------------------------------------------
    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"pb-{sid}", self.spans[sid]["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or self._paused:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": self._op, "start": time.time(),
            "end": None, "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    @contextlib.contextmanager
    def op(self, op_id: int):
        """Spans opened inside carry ``op_id`` (0 is the warm-up)."""
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    @contextlib.contextmanager
    def paused(self):
        """Record nothing (correctness checks run inside this)."""
        prev, self._paused = self._paused, True
        try:
            yield
        finally:
            self._paused = prev

    # -- wrappers --------------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for cls, attr, name in WRAPPED:
            orig = cls.__dict__.get(attr)
            if orig is None:
                self.absent[name] = f"{cls.__name__}.{attr} no longer exists"
                continue
            self._saved.append((cls, attr, orig))
            setattr(cls, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for cls, attr, orig in self._saved:
            setattr(cls, attr, orig)
        self._saved = []

    def _wrap(self, orig, name):
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            attrs = {}
            if name == "rollup.write_tier":
                attrs["tier"] = args[2] if len(args) > 2 else kwargs.get("name")
            with tracer.span(name, **attrs) as rec:
                out = orig(obj, *args, **kwargs)
                if name == "rollup.write_blocks" and isinstance(out, dict):
                    rec["codec"] = dict(out)
                return out

        return wrapper


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _plan_metric_names(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict] = {}
        self.execs: dict[int, dict] = {}
        self.acc_names: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": _num(props["spark.sql.execution.id"])
                if "spark.sql.execution.id" in props else None,
                "start": ev.get("Submission Time", 0) / 1000.0,
            }
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            st = self.stage_tasks.setdefault(ev["Stage ID"], {
                "tasks": 0, "shuffle_write": 0, "spill": 0, "acc": {},
            })
            st["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            st["shuffle_write"] += _num(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            st["spill"] += _num(tm.get("Disk Bytes Spilled", 0))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in (_PY_SENT, _PY_RECEIVED):
                    st["acc"][name] = st["acc"].get(name, 0) + _num(acc.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.execs[ev["executionId"]] = {
                "start": ev["time"] / 1000.0, "end": None,
                "plan": ev.get("physicalPlanDescription", ""), "driver_acc": {},
            }
            _plan_metric_names(ev.get("sparkPlanInfo", {}), self.acc_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(ev.get("sparkPlanInfo", {}), self.acc_names)
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in self.execs:
                self.execs[ev["executionId"]]["end"] = ev["time"] / 1000.0
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = self.execs.get(ev["executionId"])
            if ex is not None:
                for acc_id, value in ev.get("accumUpdates", []):
                    ex["driver_acc"][int(acc_id)] = ex["driver_acc"].get(int(acc_id), 0) + _num(value)


def find_event_log(directory: str) -> str:
    logs = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    return os.path.join(directory, logs[0])


# ---------------------------------------------------------------------------
# folding spans + event log into layer metrics
# ---------------------------------------------------------------------------


class Fold:
    """Attribute event-log jobs and SQL executions to spans."""

    def __init__(self, spans: list[dict], log: EventLog):
        self.spans = spans
        self.log = log
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.job_span = {}
        for jid, job in log.jobs.items():
            g = job["group"] or ""
            if g.startswith("pb-"):
                self.job_span[jid] = int(g[3:])
        self.exec_span = {}
        for eid, ex in log.execs.items():
            sid = next(
                (self.job_span[j] for j, job in sorted(log.jobs.items())
                 if job["exec"] == eid and j in self.job_span),
                None,
            )
            self.exec_span[eid] = sid if sid is not None else self._innermost(ex["start"])

    def _innermost(self, t: float) -> int | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
                best = s
        return None if best is None else best["id"]

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            s = todo.pop()
            out.add(s)
            todo.extend(self.children.get(s, []))
        return out

    def under(self, sid: int, name: str) -> list[dict]:
        return [self.spans[s] for s in self.subtree(sid) if self.spans[s]["name"] == name]

    def jobs(self, sid: int) -> list[int]:
        tree = self.subtree(sid)
        return [j for j, s in self.job_span.items() if s in tree]

    def execs(self, sid: int) -> list[dict]:
        tree = self.subtree(sid)
        return [ex for e, ex in self.log.execs.items() if self.exec_span.get(e) in tree]

    def stage_sum(self, sid: int, key: str) -> int:
        jobs = set(self.jobs(sid))
        total = 0
        for stage, st in self.log.stage_tasks.items():
            if self.log.stage_job.get(stage) in jobs:
                total += st["acc"].get(key, 0) if key in (_PY_SENT, _PY_RECEIVED) else st[key]
        return total

    def driver_acc(self, sid: int, metric: str) -> int:
        total = 0
        for ex in self.execs(sid):
            for acc_id, v in ex["driver_acc"].items():
                if self.log.acc_names.get(acc_id) == metric:
                    total += v
        return total

    def write_s(self, sid: int) -> float:
        return sum(
            ex["end"] - ex["start"] for ex in self.execs(sid)
            if ex["end"] is not None and _WRITE_CMD in ex["plan"]
        )


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def op_metrics(fold: Fold, op_span: dict, raw_dir: str, tiers: list[str]) -> dict[str, float]:
    """Per-layer numbers for one timed operation.

    - ``rollup.run_self_s``: the ``run`` span minus its child spans, i.e.
      the raw pre-scans plus planning;
    - ``rollup.jobs``/``rollup.tasks``: Spark jobs and finished tasks
      launched under ``run``; ``rollup.raw_scans``: SQL executions under
      it whose plan scans the raw input's path;
    - ``rollup.tier_write_s.<tier>``: the parquet write execution inside
      that tier's ``_write_tier``; ``rollup.recount_s``: the rest of the
      ``_write_tier`` spans (post-write per-day re-scan, file listing)
      less their manifest saves;
    - ``spark.shuffle_write_bytes``/``spark.spill_bytes`` (disk), summed
      over the run's tasks;
    - ``manifest.write_s``/``manifest.writes``: ``CheckpointManifest._save``
      calls under ``run``;
    - ``blocks.encode_s``: the block-store write inside ``_write_blocks``;
      ``blocks.report_s``: the rest of it (compression report);
      ``blocks.decode_s``: the full t1m decode; ``blocks.py_bytes_*``:
      Arrow bytes to and from Python workers in encode and decode;
      ``blocks.n_blocks``/``comp_bytes``/``ratio``: the codec report
      ``_write_blocks`` returns.
    """
    m: dict[str, float] = {}
    runs = fold.under(op_span["id"], "rollup.run")
    run = runs[0] if runs else None
    if run is not None:
        kids = [fold.spans[c] for c in fold.children.get(run["id"], [])]
        m["rollup.run_self_s"] = dur(run) - sum(dur(k) for k in kids)
        m["rollup.jobs"] = len(fold.jobs(run["id"]))
        m["rollup.tasks"] = fold.stage_sum(run["id"], "tasks")
        m["rollup.raw_scans"] = sum(
            1 for ex in fold.execs(run["id"]) if f"{raw_dir}]" in ex["plan"]
        )
        m["spark.shuffle_write_bytes"] = fold.stage_sum(run["id"], "shuffle_write")
        m["spark.spill_bytes"] = fold.stage_sum(run["id"], "spill")
        saves = fold.under(run["id"], "manifest.save")
        m["manifest.write_s"] = sum(dur(s) for s in saves)
        m["manifest.writes"] = len(saves)
        recount = 0.0
        for wt in fold.under(run["id"], "rollup.write_tier"):
            w = fold.write_s(wt["id"])
            m[f"rollup.tier_write_s.{wt['tier']}"] = w
            recount += dur(wt) - w - sum(dur(s) for s in fold.under(wt["id"], "manifest.save"))
        m["rollup.recount_s"] = recount
        for t in tiers:
            m.setdefault(f"rollup.tier_write_s.{t}", 0.0)
    blocks = fold.under(op_span["id"], "rollup.write_blocks")
    decodes = fold.under(op_span["id"], "blocks.decode")
    if blocks:
        wb = blocks[0]
        enc = fold.write_s(wb["id"])
        m["blocks.encode_s"] = enc
        m["blocks.report_s"] = dur(wb) - enc
        codec = wb.get("codec", {})
        m["blocks.n_blocks"] = codec.get("n_blocks", 0)
        m["blocks.comp_bytes"] = codec.get("comp_bytes", 0)
        m["blocks.ratio"] = codec.get("ratio", 0.0)
        n_points = codec.get("n_points", 0)
    else:
        n_points = 0
    if decodes:
        d = sum(dur(s) for s in decodes)
        m["blocks.decode_s"] = d
        m["blocks.decode_rows_per_s"] = n_points / d if d > 0 else 0.0
    py_spans = blocks + decodes
    m["blocks.py_bytes_sent"] = sum(fold.stage_sum(s["id"], _PY_SENT) for s in py_spans)
    m["blocks.py_bytes_received"] = sum(fold.stage_sum(s["id"], _PY_RECEIVED) for s in py_spans)
    return m


def batch_metrics(fold: Fold, batch: dict) -> dict[str, float]:
    """Per-layer numbers for one dashboard batch (the tier read path)."""
    return {
        "read.build_s": sum(dur(s) for s in fold.under(batch["id"], "read.build")),
        "read.exec_s": sum(dur(s) for s in fold.under(batch["id"], "read.exec")),
        "read.jobs": len(fold.jobs(batch["id"])),
        "read.files_read": fold.driver_acc(batch["id"], _FILES_READ),
        "read.bytes_read": fold.driver_acc(batch["id"], _BYTES_READ),
    }


def fold_layers(spans: list[dict], log: EventLog, raw_dir: str, tiers: list[str]) -> dict[str, float]:
    """Median over timed operations (op id >= 1) of every layer metric."""
    fold = Fold(spans, log)
    per_key: dict[str, list[float]] = {}
    for s in spans:
        if s["op"] is None or s["op"] < 1:
            continue
        if s["name"] == "op":
            vals = op_metrics(fold, s, raw_dir, tiers)
        elif s["name"] == "read.batch":
            vals = batch_metrics(fold, s)
        else:
            continue
        for k, v in vals.items():
            per_key.setdefault(k, []).append(float(v))
    return {k: statistics.median(v) for k, v in per_key.items()}
