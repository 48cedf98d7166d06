"""Tracing for the traced (``--trace 1``) run: driver spans and event log.

Two sources, both installed from the benchmark process only; the engine is
not edited.

Driver-side spans.  ``install_spans`` wraps the names ``plans.frontier``
imports from the layer modules (and two ``BloomSidecar`` methods) so every
call the superstep loop makes into a layer is timed.  Each span adds to
``<layer>.calls`` and ``<layer>.plan_ms``: the wall time of the call on the
driver, which covers plan building and any job the call runs eagerly.

Executor-side time.  ``name_python_functions`` renames every pandas
function handed to ``mapInPandas``/``applyInPandas`` to
``<layer>__<name>``, where ``<layer>`` comes from the function's module, so
the layer shows in Spark's physical plan.  ``parse_event_log`` then reads
Spark's event log (enabled by the session conf from ``event_log_conf``):

- a job belongs to a window (one measured crawl) by its submission time;
- ``spark.*`` counts and bytes are summed over the tasks of those jobs;
- a stage's executor run time goes to ``<layer>.exec_ms`` when the Python
  operators in the stage (its RDD scopes: ``ArrowEvalPython``,
  ``MapInPandas``, ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInPandas``)
  name functions of exactly one layer in their blocks of the formatted
  plan.  A Python stage of a job with no SQL plan (the eager
  ``localCheckpoint`` jobs) goes to the layer whose driver span submitted
  the job.  All other executor time is reported as
  ``spark.unattributed_ms``.

Plan operator / Python function → layer:

    ArrowEvalPython  join_and_canonicalize_udf, canonicalize_udf,
                     canonicalize_fast_udf, join_url_udf     → canonical
    FlatMap(Co)GroupsInPandas, MapInPandas  seen__*          → seen
    MapInPandas      robots__gate                            → robots
    FlatMapGroupsInPandas  politeness__fold                  → politeness
    MapInPandas / FlatMapGroupsInPandas  dist__assign/fold   → dist
    MapInPandas      images__run (decode_stage)              → images
"""

from __future__ import annotations

import json
import os
import re
import time
import types
from collections import defaultdict

LAYERS = ("canonical", "seen", "robots", "politeness", "dist")
EXEC_LAYERS = ("canonical", "seen", "robots", "politeness", "dist", "images")

_MODULE_LAYER = {
    "crawl4ai_spark.functions.canonical": "canonical",
    "crawl4ai_spark.operators.seen": "seen",
    "crawl4ai_spark.operators.robots": "robots",
    "crawl4ai_spark.operators.politeness": "politeness",
    "crawl4ai_spark.dist": "dist",
    "crawl4ai_spark.functions.images": "images",
}
_SCALAR_UDFS = {
    "join_and_canonicalize_udf": "canonical",
    "canonicalize_udf": "canonical",
    "canonicalize_fast_udf": "canonical",
    "join_url_udf": "canonical",
}
_PY_OPS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
           "FlatMapCoGroupsInPandas")

# names plans.frontier imports, by layer
_FRONTIER_NAMES = {
    "canonical": ("canonical_col", "join_and_canonicalize_udf", "join_url_udf"),
    "robots": ("robots_gate", "robots_gate_df"),
    "politeness": ("split_host_budget", "with_host_slots",
                   "with_salted_host_slots", "salt_hot_hosts",
                   "fold_domain_state_df", "empty_domain_state_df"),
    "dist": ("with_global_seq", "with_global_cumsum"),
}


class Spans:
    """Per-layer call counts and driver wall time."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.ms: dict[str, float] = defaultdict(float)
        self.intervals: list[tuple[str, float, float]] = []  # wall clock
        self.depth = 0

    def wrap(self, layer: str, fn):
        def timed(*args, **kwargs):
            # nested layer calls (a wrapped name calling another) count
            # once, at the outermost span
            outer = self.depth == 0
            self.depth += 1
            t0, w0 = time.perf_counter(), time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.depth -= 1
                if outer:
                    self.calls[layer] += 1
                    self.ms[layer] += (time.perf_counter() - t0) * 1000.0
                    self.intervals.append((layer, w0, time.time()))

        return timed

    def snapshot(self) -> dict[str, tuple[int, float]]:
        return {k: (self.calls[k], self.ms[k]) for k in LAYERS}


def install_spans(spans: Spans) -> None:
    from crawl4ai_spark.operators.seen import BloomSidecar
    from crawl4ai_spark.plans import frontier

    for layer, names in _FRONTIER_NAMES.items():
        for name in names:
            setattr(frontier, name, spans.wrap(layer, getattr(frontier, name)))
    for meth in ("add", "prefilter"):
        setattr(BloomSidecar, meth, spans.wrap("seen", getattr(BloomSidecar, meth)))


def _renamed(func):
    layer = _MODULE_LAYER.get(getattr(func, "__module__", ""), None)
    if layer is None or not isinstance(func, types.FunctionType):
        return func
    # a copy keeps the signature applyInPandas inspects (key argument)
    out = types.FunctionType(func.__code__, func.__globals__,
                             f"{layer}__{func.__name__}",
                             func.__defaults__, func.__closure__)
    out.__module__ = func.__module__
    return out


def name_python_functions(spark) -> None:
    # patch the classes the session really hands out: Spark 4's classic
    # DataFrame overrides the mapInPandas of pyspark.sql.DataFrame
    df = spark.range(0)
    grouped = df.groupBy("id")
    for cls, meth in ((type(df), "mapInPandas"),
                      (type(grouped), "applyInPandas"),
                      (type(grouped.cogroup(grouped)), "applyInPandas")):
        base = getattr(cls, meth)

        def patched(self, func, *args, _base=base, **kwargs):
            return _base(self, _renamed(func), *args, **kwargs)

        setattr(cls, meth, patched)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        # one plain file, not Spark 4's rolling directory of event files
        "spark.eventLog.rolling.enabled": "false",
    }


_LAYER_RE = re.compile(r"\b(" + "|".join(EXEC_LAYERS) + r")__")
_SCALAR_RE = re.compile(r"\b(" + "|".join(_SCALAR_UDFS) + r")\(")


# the event log carries the plan in Spark's formatted explain mode: a tree,
# then one "(N) Operator" block per node whose "Arguments:" line names the
# Python function
_BLOCK_RE = re.compile(r"^\(\d+\) (\w+)\n(.*?)(?=^\(\d+\) |\Z)", re.M | re.S)


def _plan_pairs(plan: str) -> set[tuple[str, str]]:
    """(python operator, layer) pairs read off the plan's operator blocks."""
    pairs = set()
    for m in _BLOCK_RE.finditer(plan):
        op, body = m.group(1), m.group(2)
        if op not in _PY_OPS:
            continue
        for lm in _LAYER_RE.finditer(body):
            pairs.add((op, lm.group(1)))
        for lm in _SCALAR_RE.finditer(body):
            pairs.add((op, _SCALAR_UDFS[lm.group(1)]))
    return pairs


def _stage_ops(stage_info: dict) -> set[str]:
    ops = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                name = json.loads(scope).get("name", "")
            except ValueError:
                continue
            if name in _PY_OPS:
                ops.add(name)
    return ops


def parse_event_log(log_dir: str, windows: list[tuple[float, float]],
                    cores: int,
                    spans: list[tuple[str, float, float]] = ()) -> dict[str, float]:
    """Roll the event log up over ``windows`` (wall-clock seconds).

    Returns totals over all windows (the caller divides by their count),
    except ``spark.core_idle_frac``, a ratio over all of them."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    plans: dict[int, str] = {}
    job_exec: dict[int, int | None] = {}
    job_time: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                eid = int(ev["executionId"])
                plans[eid] = plans.get(eid, "") + "\n" + ev.get(
                    "physicalPlanDescription", "")
            elif kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                job_exec[jid] = None if eid is None else int(eid)
                job_time[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)

    def in_window(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    jobs = {j for j, t in job_time.items() if in_window(t)}
    out: dict[str, float] = defaultdict(float)
    out["spark.jobs"] = len(jobs)
    stage_ids = {s for s, j in stage_job.items() if j in jobs and s in stages}
    out["spark.stages"] = len(stage_ids)
    stage_layer: dict[int, str | None] = {}
    for sid in stage_ids:
        ops = _stage_ops(stages[sid])
        if ops:
            out["spark.python_stages"] += 1
        eid = job_exec.get(stage_job[sid])
        pairs = _plan_pairs(plans.get(eid, "")) if eid is not None else set()
        layers = {layer for op, layer in pairs if op in ops}
        if ops and not layers:
            # no SQL plan (an RDD job such as an eager localCheckpoint):
            # the driver span the job was submitted from names the layer
            t = job_time[stage_job[sid]]
            layers = {layer for layer, a, b in spans if a <= t <= b}
        stage_layer[sid] = layers.pop() if len(layers) == 1 else None
    run_ms = 0.0
    for ev in tasks:
        sid = ev["Stage ID"]
        if sid not in stage_ids:
            continue
        m = ev.get("Task Metrics") or {}
        ms = float(m.get("Executor Run Time", 0))
        run_ms += ms
        out["spark.tasks"] += 1
        sr = m.get("Shuffle Read Metrics") or {}
        out["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
        layer = stage_layer.get(sid)
        if layer is None:
            out["spark.unattributed_ms"] += ms
        else:
            out[f"{layer}.exec_ms"] += ms
    wall_ms = sum(b - a for a, b in windows) * 1000.0
    # a ratio over all windows together, not a per-window total
    out["spark.core_idle_frac"] = (
        max(0.0, 1.0 - run_ms / (wall_ms * cores)) if wall_ms else 0.0
    )
    return dict(out)
