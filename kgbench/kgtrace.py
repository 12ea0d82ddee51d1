"""Per-layer tracing for the KG benchmark.

A span is one call into a layer's public function. :class:`Tracer` sets the
Spark job group to the span's name for the duration of the call, so the
event log attributes every job, stage and task to the span that caused it,
and times the call on the driver. :func:`reduce_event_log` turns the event
log into per-group totals; :func:`span_metrics` joins them with the driver
walls into the per-layer table.

Only the benchmark's traced run uses this module; it imports no
``scikg_spark`` code at module level, so the reducer can be tested on a
canned event log without Spark.
"""

from __future__ import annotations

import contextlib
import json
import time

# the fields every Spark-side span reports (see README.md)
SPAN_FIELDS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "idle_frac": ("frac", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "python_s": ("s", "lower"),
}

# the span each SnapshotCatalog.write(<table>) call runs in
WRITE_SPANS = {"statements": "stage1", "tuples": "fused",
               "entity_nodes": "stage3", "entity_map": "stage3",
               "edges": "runner.edges"}

_PY_RUN = "time to run Python workers"
# the catalog's lineage collect; its jobs form the ``stage4`` span
_STAGE4_SITE = "stage4.py"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "run_s": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "python_s": 0.0,
            "python_bytes": 0, "job_s": 0.0}


def reduce_event_log(lines) -> tuple[dict, dict]:
    """Sum an uncompressed Spark event log by job group.

    Jobs and stages whose call site is in ``stage4.py`` and whose group is
    a write span (``WRITE_SPANS``) are moved to the ``stage4`` group. Returns
    ``(groups, split_job_s)``: per-group totals, and per original group the
    wall seconds of the jobs moved out of it (so the caller can subtract
    them from that span's driver wall).
    """
    groups: dict[str, dict] = {}
    split_job_s: dict[str, float] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, str | None, int]] = {}
    split_groups = set(WRITE_SPANS.values())

    def owner(props: dict) -> tuple[str, str | None]:
        group = props.get("spark.jobGroup.id") or ""
        site = props.get("callSite.short") or ""
        if group in split_groups and _STAGE4_SITE in site:
            return "stage4", group
        return group, None

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name, origin = owner(ev.get("Properties") or {})
            job_group[ev["Job ID"]] = (name, origin, ev["Submission Time"])
            groups.setdefault(name, _zero())["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            name, origin, start = job_group[ev["Job ID"]]
            secs = (ev["Completion Time"] - start) / 1000.0
            groups[name]["job_s"] += secs
            if origin is not None:
                split_job_s[origin] = split_job_s.get(origin, 0.0) + secs
        elif kind == "SparkListenerStageSubmitted":
            name, _ = owner(ev.get("Properties") or {})
            stage_group[ev["Stage Info"]["Stage ID"]] = name
        elif kind == "SparkListenerTaskEnd":
            name = stage_group.get(ev["Stage ID"], "")
            g = groups.setdefault(name, _zero())
            g["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == _PY_RUN:
                    g["python_s"] += int(acc["Update"]) / 1000.0
                elif acc.get("Name") in _PY_BYTES:
                    g["python_bytes"] += int(acc["Update"])
    return groups, split_job_s


def span_metrics(totals: dict | None, wall_s: float, cores: int) -> dict:
    """One span's fields: the driver wall plus its event-log totals.
    ``idle_frac`` is 1 - executor run time / (wall x cores); a span that
    did not run reports zeros."""
    t = totals or _zero()
    idle = 1.0 - t["run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    return {
        "wall_s": wall_s,
        "jobs": t["jobs"],
        "tasks": t["tasks"],
        "executor_cpu_s": t["executor_cpu_s"],
        "idle_frac": min(1.0, max(0.0, idle)),
        "shuffle_bytes": t["shuffle_bytes"],
        "spill_bytes": t["spill_bytes"],
        "python_s": t["python_s"],
    }


class Tracer:
    """Driver-side spans keyed by name; each span sets the Spark job group
    for its duration and restores the enclosing group afterwards."""

    def __init__(self, sc):
        self.sc = sc
        self.walls: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev)

    @contextlib.contextmanager
    def patched(self, owner, attr: str, span_of):
        """Wrap ``owner.attr`` so each call runs inside the span
        ``span_of(*args, **kwargs)`` names; the original is restored on
        exit."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(span_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)
