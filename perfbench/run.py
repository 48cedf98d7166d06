"""Crawl-engine benchmark: the superstep loop of ``plans/frontier.py``.

    python3 perfbench/run.py --workload bfs_payload --seed 1 --seconds 14 --trace 0

Run from the repository root.  One process drives one crawl at a time on
``local[<cores>/2]`` (a closed loop with one client; the other half of the
cores is left to the driver JVM and the Python driver, which the superstep
loop keeps busy).  A run:

1. starts a quiet Spark session and spawns its Python workers;
2. generates the workload's graph from ``--seed`` (cached on disk by seed,
   size and ``FIXTURE_REV`` under ``.perfbench_work/``);
3. sets up ``SETUP_ROUNDS`` times: reads and caches the inputs and
   computes the oracle twin's expected crawl;
4. warms up without measuring: one whole crawl (``bfs_payload``), or the
   crawl up to its first commit, whose snapshot is kept as a template
   (``polite_resume``);
5. runs the reference job (see below) ``REF_REPS`` times, then crawls for
   ``CRAWL_SHARE`` of ``--seconds``: a crawl starts only if the last one's
   wall time says it ends within that share, so at least one runs.  For
   ``polite_resume`` a crawl is a fresh engine's
   ``run(resume=True)`` from a copy of the template snapshot: restore, the
   remaining supersteps and their writes;
6. runs the reference job ``REF_REPS`` times, one unmeasured decode, then
   ``fetch_payload`` → ``decode_stage`` over the last crawl's images until
   ``--seconds`` have passed (at least ``DECODE_REPS`` times), then the
   reference job ``REF_REPS`` times more;
7. checks every crawl against the oracle (ordered result rows, seen set and
   ``pages_crawled`` must equal the twin's) and every decode against the
   PSNR ≥ 40 dB / pixel-exact invariant.  A failed check or an exception
   counts that crawl or decode as failed.

The last stdout line is one JSON object.  With ``--trace 0`` its metrics
are the end-to-end ones:

- ``crawl_cpu_rel``: CPU seconds (user + system) of this process, the JVM
  and the Python workers from the crawl call until its results are counted,
  median over crawls, over the median CPU seconds of the reference job;
- ``decode_cpu_rel``: the same for one decode, median over decodes;
- ``peak_rss_mb``: peak summed RSS of the same processes (sampled every
  0.2 s); the driver heap is fixed at ``DRIVER_MEMORY``;
- ``setup_s``: session start plus the median set-up round.

The costs are CPU time in units of a reference job, not wall time.  On a
shared 4-vCPU VM, other tenants' load stretched the wall time of the same
crawl by up to half from one run to the next, and its CPU time by up to a
third.  The reference job (``reference_job``) is a fixed Spark job that runs
no engine code, so the ratio keeps the engine's cost and drops most of the
host's speed of the moment.  Only a change to the session defaults of
``crawl4ai_spark/session.py``, which the reference job shares, moves both
sides of the ratio.  The JVM
runs its C1 compiler only, so that JIT compilation does not add a varying
CPU share to the first crawls.  The wall and CPU times themselves are
per-layer metrics (``frontier.crawl_ms``, ``frontier.crawl_cpu_ms``,
``frontier.pages_per_s``, ``images.decode_ms``, ``images.decode_cpu_ms``,
``host.ref_cpu_s``, ``host.drift_lane_s``).  Crawls and decodes are
fixed-cost bound at this size, so a cost per page or image would follow the
seed's page count.

Every crawl and decode is checked, so ``failed``/``attempted`` carry the
failed share; the time from ``run(resume=True)`` to the resumed run's first
commit is the per-layer ``checkpoint.resume_ms``.  Neither can be an
end-to-end metric here: those must be non-zero on every workload.

With ``--trace 1`` the event log and the driver spans of ``tracing.py`` are
on and the metrics are the per-layer ones, per crawl (see ``tracing.py``
for the layer mapping).  ``trace.overhead_ms`` is the median crawl wall of
the traced crawls minus that of one crawl run with the spans off in the
same session.  N→4N scaling is measured by ``tools/scaling_bench.py``, not
here.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
if not os.path.isfile(os.path.join(ROOT, "crawl4ai_spark", "__init__.py")):
    sys.exit("perfbench: crawl4ai_spark/ not found next to perfbench/; "
             "run from a checkout of the repository")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
# keep every temp file (Python workers, Arrow transfers) inside the checkout
os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
# every JVM (the launcher too): temp files here, no /tmp/hsperfdata_* dir,
# C1 compiler only (see above)
os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                                   f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
# the Python workers import the engine from the checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402
from pyspark.sql.types import LongType  # noqa: E402

from crawl4ai_spark.functions.canonical import normalize_url_for_deep_crawl  # noqa: E402
from crawl4ai_spark.functions.images import decode_stage, fetch_payload  # noqa: E402
from crawl4ai_spark.oracle.crawler import (  # noqa: E402
    OracleGraph,
    ScheduleSpec,
    crawl_bfs_scheduled,
)
from crawl4ai_spark.plans.frontier import CrawlConfig, CrawlEngine  # noqa: E402
from crawl4ai_spark.session import get_spark  # noqa: E402
from crawl4ai_spark.sources import synth  # noqa: E402

import tracing as ptrace  # noqa: E402
from store import TimingStore  # noqa: E402

SETUP_ROUNDS = 3
DECODE_REPS = 7
REF_REPS = 2
CRAWL_SHARE = 0.6  # of --seconds; decodes take the rest
DRIVER_MEMORY = "2g"

# Workload shapes.  Each crawl runs a fixed number of supersteps on every
# seed, so its cost, which the fixed cost of each superstep dominates, moves
# little from one seed to the next.  Crawls are kept to two supersteps so
# that set-up, warm-up and a measured crawl fit one run.  Each graph keeps
# 30% of its pages on the hot host ex0.test.
WORKLOADS = {
    # BFS to depth 1, default Bloom sidecar, no store: a wide seed superstep
    # dominated by discovery (canonicalize, Bloom probe, seen anti-join,
    # capacity windows), a wide fetch superstep, then fetch + decode of the
    # payloads.
    "bfs_payload": dict(
        n_pages=1000, n_seeds=125,
        cfg=dict(strategy="bfs", max_depth=1),
    ),
    # BFS to depth 1 with politeness budget, backoff, robots rules as a
    # DataFrame, salted hot host and a SnapshotStore; the crawl up to the
    # first superstep's commit is the template, and each operation is a
    # fresh engine resuming it for the second superstep.
    "polite_resume": dict(
        n_pages=1000, n_seeds=150,
        cfg=dict(strategy="bfs", max_depth=1, politeness_budget=150,
                 backoff=True, max_retries=1, check_robots_txt=True,
                 hot_host_rows=100, max_supersteps=2),
        polite=True, stop_after=1,
    ),
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


# ------------------------------------------------------------------ memory
def _tree_stats() -> dict[int, list[str]]:
    """The ``/proc/<pid>/stat`` fields after the command name (state first)
    of this process and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants
    (the JVM, the Python workers; reaped children included)."""
    ticks = sum(int(x) for f in _tree_stats().values() for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak of the summed RSS of this process and all its descendants.
    ``own_cpu_s`` is the CPU its sampling thread has used, so that CPU
    measurements can leave it out."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self.own_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self.own_cpu_s = time.thread_time()
            self._stop.wait(self.period)

    def program_cpu_s(self) -> float:
        """``tree_cpu_s`` without this sampler's own share."""
        return tree_cpu_s() - self.own_cpu_s

    def sample(self) -> None:
        pages = sum(int(f[21]) for f in _tree_stats().values())
        kb = pages * os.sysconf("SC_PAGE_SIZE") // 1024
        self.peak_kb = max(self.peak_kb, kb)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


# ----------------------------------------------------------------- session
def start_session(trace: bool):
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed heap: its growth would follow GC timing, not the engine
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} "
                                         f"-Djava.io.tmpdir={local} "
                                         f"-Dderby.system.home={local}",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(ptrace.event_log_conf(log_dir))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    return spark, cores


def warm_python_workers(spark) -> None:
    """Spawn the Python worker pool of both UDF runners once."""
    n = spark.sparkContext.defaultParallelism

    @pandas_udf(LongType())
    def _noop(s: pd.Series) -> pd.Series:
        return s

    def _ident(bs):
        yield from bs

    df = spark.range(0, n * 4, numPartitions=n)
    df.select(_noop(F.col("id"))).count()
    df.mapInPandas(_ident, "id long").count()


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def reference_job(spark, cpu_s) -> tuple[float, float]:
    """A fixed Spark job that runs no engine code: a JVM hash, a pandas UDF
    and a shuffle, like the crawl's mix.  Its (CPU s, wall s), taken next
    to the crawls and decodes, tell how fast the shared host runs."""
    @pandas_udf(LongType())
    def digits(s: pd.Series) -> pd.Series:
        return s.astype(str).str.len() + s % 7

    c0, t0 = cpu_s(), time.time()
    (spark.range(0, 400_000, 1, 2)
     .select(F.xxhash64("id").alias("h"), digits(F.col("id")).alias("d"))
     .groupBy(F.col("h") % 64).agg(F.sum("d")).collect())
    return cpu_s() - c0, time.time() - t0


# ------------------------------------------------------------------ inputs
def graph_params(spec: dict, seed: int) -> synth.GraphParams:
    n = spec["n_pages"]
    return synth.GraphParams(n_pages=n, n_domains=max(16, n // 5000),
                             hot_fraction=0.3, seed=seed)


def ensure_graph(spark, p: synth.GraphParams) -> str:
    gdir = os.path.join(WORK, "cache",
                        f"graph_r{synth.FIXTURE_REV}_n{p.n_pages}_s{p.seed}")
    if not os.path.exists(os.path.join(gdir, "_done")):
        pages, links, images = synth.synth_tables(spark, p)
        pages.select("url", "success", "status_code", "image_id").coalesce(
            4).write.mode("overwrite").parquet(f"{gdir}/pages.parquet")
        links.coalesce(4).write.mode("overwrite").parquet(f"{gdir}/links.parquet")
        images.coalesce(4).write.mode("overwrite").parquet(f"{gdir}/images.parquet")
        with open(os.path.join(gdir, "_done"), "w") as fh:
            fh.write("ok")
    return gdir


class Inputs:
    """Cached input DataFrames plus the oracle's expected operation."""

    def __init__(self, spark, gdir: str, p: synth.GraphParams, spec: dict,
                 seeds: list[str]):
        self.pages = spark.read.parquet(f"{gdir}/pages.parquet").cache()
        self.links = spark.read.parquet(f"{gdir}/links.parquet").cache()
        self.images = spark.read.parquet(f"{gdir}/images.parquet").cache()
        self.pages.count(), self.links.count(), self.images.count()
        self.robots = self.politeness = None
        robots_pdf = None
        if spec.get("polite"):
            robots_pdf = synth.gen_robots(p)
            self.robots = spark.createDataFrame(robots_pdf).cache()
            self.politeness = spark.createDataFrame(
                synth.gen_politeness(p)).cache()
            self.robots.count(), self.politeness.count()
        pages_pdf = pd.read_parquet(f"{gdir}/pages.parquet")
        links_pdf = pd.read_parquet(f"{gdir}/links.parquet")
        images_pdf = pd.read_parquet(f"{gdir}/images.parquet",
                                     columns=["image_id"])
        graph = OracleGraph.from_frames(pages_pdf, links_pdf)
        ospec = ScheduleSpec(**oracle_kwargs(spec))
        want, want_seen = crawl_bfs_scheduled(graph, seeds, ospec,
                                              robots_pdf=robots_pdf)
        self.want_rows = [
            (r["superstep"], r["seq"], r["url"], r["depth"], r["parent"],
             r["success"], r["status_code"], r["attempt"]) for r in want
        ]
        self.want_seen = want_seen
        self.want_pages = sum(1 for r in want if r["success"])
        # decode input = successful result rows joined (on the canonical
        # fetch key, as the synthetic fetch does) to their payloads
        ok = pd.DataFrame({"url": [normalize_url_for_deep_crawl(r["url"], r["url"])
                                   for r in want if r["success"]]})
        ok = ok.merge(pages_pdf[["url", "image_id"]], on="url", how="left")
        ok = ok[ok["image_id"].notna()]
        self.want_images = len(ok.merge(images_pdf, on="image_id", how="left"))

    def release(self) -> None:
        for df in (self.pages, self.links, self.images, self.robots,
                   self.politeness):
            if df is not None:
                df.unpersist()


def engine_config(spec: dict, **over) -> CrawlConfig:
    return CrawlConfig(**{**spec["cfg"], **over})


def oracle_kwargs(spec: dict) -> dict:
    # robots rules reach the oracle as a table; salting is execution-only
    return {k: v for k, v in spec["cfg"].items()
            if k not in ("check_robots_txt", "hot_host_rows")}


# --------------------------------------------------------------- operation
class Operation:
    """The measured units of work: a crawl, and a decode of its payloads."""

    def __init__(self, spark, spec: dict, inputs: Inputs, seeds: list[str],
                 seed: int, cpu_s):
        self.spark, self.spec, self.inp = spark, spec, inputs
        self.seeds, self.seed = seeds, seed
        self.cpu_s = cpu_s  # CPU seconds used so far by the program
        self.root = os.path.join(WORK, "store")
        self.template = os.path.join(WORK, "store_template")
        self.before = 0  # pages crawled before the measured resume
        self.last_run = None

    def _engine(self, cfg: CrawlConfig, store=None) -> CrawlEngine:
        inp = self.inp
        return CrawlEngine(self.spark, inp.pages, inp.links, cfg,
                           robots_pdf=inp.robots, politeness=inp.politeness,
                           store=store)

    def warm_up(self) -> float:
        """One unmeasured, unchecked crawl: it compiles the plans and warms
        the JVM and the workers the measured crawls reuse.  For
        ``polite_resume`` it is the crawl up to ``stop_after``, whose
        snapshot becomes the template every measured resume starts from."""
        t0 = time.time()
        if self.spec.get("stop_after"):
            for d in (self.root, self.template):
                shutil.rmtree(d, ignore_errors=True)
            half = self._engine(
                engine_config(self.spec, max_supersteps=self.spec["stop_after"]),
                TimingStore(self.root)).run(self.seeds)
            half.results.count()
            self.before = half.pages_crawled
            shutil.copytree(self.root, self.template)
        else:
            self._engine(engine_config(self.spec)).run(self.seeds).results.count()
        return time.time() - t0

    def crawl(self) -> dict:
        """One measured crawl: its timings and whether it matched the
        oracle.  For ``polite_resume`` the store is first reset to the
        template (outside the timer)."""
        spec = self.spec
        store = None
        out: dict = {}
        if spec.get("stop_after"):
            shutil.rmtree(self.root, ignore_errors=True)
            shutil.copytree(self.template, self.root)
            store = TimingStore(self.root)
            c0 = self.cpu_s()
            t0 = time.time()
            run = self._engine(engine_config(spec), store).run(
                self.seeds, resume=True)
        else:
            c0 = self.cpu_s()
            t0 = time.time()
            run = self._engine(engine_config(spec)).run(self.seeds)
        n_results = run.results.count()
        t1 = time.time()
        out.update(crawl_start=t0, crawl_end=t1, crawl_s=t1 - t0,
                   cpu_s=self.cpu_s() - c0,
                   pages=run.pages_crawled - self.before, metrics=run.metrics)
        if store is not None:
            calls = [c for c in store.calls() if c.start >= t0]
            commits = [c.end for c in calls if c.method == "commit"]
            out["resume_s"] = (commits[0] - t0) if commits else 0.0
            out["store_calls"] = calls
        out["ok"] = self._matches_oracle(run, n_results)
        self.last_run = run
        return out

    def decode(self) -> dict:
        """One measured ``fetch_payload`` → ``decode_stage`` over the last
        crawl's pages, checked against the oracle's image count and the
        PSNR / pixel-exact invariant."""
        inp = self.inp
        decoded = decode_stage(fetch_payload(self.last_run.results, inp.images),
                               seed=self.seed, check_truth=True)
        bad = F.sum(F.when(F.col("pixel_exact") | (F.col("psnr") >= 40.0), 0)
                    .otherwise(1)).alias("bad")
        c0 = self.cpu_s()
        t0 = time.time()
        row = decoded.agg(F.count("*").alias("n"), bad).collect()[0]
        t1 = time.time()
        cpu_s = self.cpu_s() - c0
        ok = not row["bad"] and row["n"] == inp.want_images
        if not ok:
            log(f"decode check failed: {row['bad']} bad, {row['n']} "
                f"decoded vs {inp.want_images}")
        return dict(start=t0, end=t1, s=t1 - t0, cpu_s=cpu_s, images=row["n"],
                    ok=ok)

    def _matches_oracle(self, run, n_results: int) -> bool:
        inp = self.inp
        got = [
            (r["superstep"], r["seq"], r["url"], r["depth"], r["parent"],
             r["success"], r["status_code"], r["attempt"])
            for r in run.results.collect()
        ]
        seen = {r["url"] for r in run.seen.collect()}
        ok = (got == inp.want_rows and n_results == len(inp.want_rows)
              and seen == inp.want_seen and run.pages_crawled == inp.want_pages)
        if not ok:
            log(f"oracle mismatch: rows {got == inp.want_rows} "
                f"seen {seen == inp.want_seen} pages {run.pages_crawled} "
                f"vs {inp.want_pages}")
        return ok


# ------------------------------------------------------------------- runs
def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops: list[dict], decodes: list[dict],
               refs: list[tuple[float, float]], setup_s: float,
               rss_mb: float) -> dict:
    ref_cpu = median([r[0] for r in refs])
    return {
        "crawl_cpu_rel": (median([o["cpu_s"] for o in ops]) / ref_cpu, "x"),
        "decode_cpu_rel": (median([d["cpu_s"] for d in decodes]) / ref_cpu, "x"),
        "peak_rss_mb": (rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(ops: list[dict], decodes: list[dict], spans_per_op: list[dict],
              spark_totals: dict, refs: list[tuple[float, float]],
              overhead_ms: float) -> dict:
    n = len(ops)
    steps = [m for o in ops for m in o["metrics"] if m.get("wall_ms") is not None]
    walls = [m["wall_ms"] for m in steps]
    popped = sum(m.get("popped", 0) for m in steps)
    pushed = sum(m.get("pushed", m.get("frontier_out", 0)) for m in steps)
    succ = sum(m.get("successes", 0) for m in steps)

    def phase(name):
        return sum(m.get("phase_ms", {}).get(name, 0) for m in steps) / n

    out = {
        "frontier.crawl_ms": (median([o["crawl_s"] * 1000.0 for o in ops]), "ms"),
        "frontier.crawl_cpu_ms": (
            median([o["cpu_s"] * 1000.0 for o in ops]), "ms"),
        "frontier.pages_per_s": (
            median([o["pages"] / o["crawl_s"] for o in ops]), "1/s"),
        "frontier.supersteps": (len(steps) / n, "count"),
        "frontier.superstep_ms_p50": (median(walls), "ms"),
        "frontier.jobs_per_superstep": (
            spark_totals.get("spark.jobs", 0) / max(1, len(steps)), "count"),
        "frontier.split_ms": (phase("split"), "ms"),
        "frontier.fetch_ms": (phase("fetch"), "ms"),
        "frontier.discover_ms": (phase("discover"), "ms"),
        "frontier.results_wait_ms": (phase("results_wait"), "ms"),
        "frontier.outside_loop_ms": (
            median([o["crawl_s"] * 1000.0 - sum(
                m["wall_ms"] for m in o["metrics"] if m.get("wall_ms") is not None)
                for o in ops]), "ms"),
        "frontier.rows_popped": (popped / n, "count"),
        "frontier.rows_pushed": (pushed / n, "count"),
        "frontier.useful_pop_frac": (succ / popped if popped else 0.0, "ratio"),
    }
    # checkpoint: zero where the store is bypassed
    ck: dict[str, float] = {f"checkpoint.write_ms.{t}": 0.0 for t in
                            ("results", "frontier", "seen", "domain_state",
                             "metrics")}
    ck.update({"checkpoint.commit_ms": 0.0, "checkpoint.bytes_written": 0.0,
               "checkpoint.read_ms": 0.0, "checkpoint.resume_ms": 0.0})
    for o in ops:
        for c in o.get("store_calls", []):
            if c.method in ("write", "write_json"):
                ck[f"checkpoint.write_ms.{c.table}"] += c.ms / n
                ck["checkpoint.bytes_written"] += c.bytes / n
            elif c.method == "commit":
                ck["checkpoint.commit_ms"] += c.ms / n
            elif c.method == "read":
                ck["checkpoint.read_ms"] += c.ms / n
        ck["checkpoint.resume_ms"] += o.get("resume_s", 0.0) * 1000.0 / n
    for k, v in ck.items():
        out[k] = (v, "B" if k.endswith("bytes_written") else "ms")
    out["images.decode_ms"] = (median([d["s"] * 1000.0 for d in decodes]), "ms")
    out["images.decode_cpu_ms"] = (
        median([d["cpu_s"] * 1000.0 for d in decodes]), "ms")
    out["images.decoded"] = (median([d["images"] for d in decodes]), "count")
    for layer in ptrace.LAYERS:
        out[f"{layer}.calls"] = (median([s[layer][0] for s in spans_per_op]), "count")
        out[f"{layer}.plan_ms"] = (median([s[layer][1] for s in spans_per_op]), "ms")
    for layer in ptrace.EXEC_LAYERS:
        out[f"{layer}.exec_ms"] = (spark_totals.get(f"{layer}.exec_ms", 0.0) / n, "ms")
    for key, unit in (("spark.jobs", "count"), ("spark.stages", "count"),
                      ("spark.tasks", "count"), ("spark.python_stages", "count"),
                      ("spark.shuffle_write_bytes", "B"),
                      ("spark.shuffle_read_bytes", "B"),
                      ("spark.spill_bytes", "B"),
                      ("spark.unattributed_ms", "ms")):
        out[key] = (spark_totals.get(key, 0.0) / n, unit)
    out["spark.core_idle_frac"] = (spark_totals.get("spark.core_idle_frac", 0.0),
                                   "ratio")
    out["host.drift_lane_s"] = (median([r[1] for r in refs]), "s")
    out["host.ref_cpu_s"] = (median([r[0] for r in refs]), "s")
    out["trace.overhead_ms"] = (overhead_ms, "ms")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    trace = bool(args.trace)

    rss = RssSampler()
    rss.start()
    spark, cores = start_session(trace)
    session_s = time.time() - T_PROCESS
    log(f"session up in {session_s:.2f}s on local[{cores}]")
    try:
        p = graph_params(spec, args.seed)
        gdir = ensure_graph(spark, p)
        rng = random.Random(args.seed)
        seeds = [synth.url_of(i, p)
                 for i in rng.sample(range(p.n_pages), spec["n_seeds"])]
        rounds, inputs = [], None
        for _ in range(SETUP_ROUNDS):
            if inputs is not None:
                inputs.release()
            t0 = time.time()
            inputs = Inputs(spark, gdir, p, spec, seeds)
            rounds.append(time.time() - t0)
        setup_s = session_s + median(rounds)
        log(f"setup rounds {[round(r, 2) for r in rounds]}; expected "
            f"{len(inputs.want_rows)} rows, {inputs.want_pages} pages, "
            f"{inputs.want_images} images")

        op = Operation(spark, spec, inputs, seeds, args.seed, rss.program_cpu_s)
        log(f"warm-up crawl {op.warm_up():.2f}s")
        reference_job(spark, op.cpu_s)  # warm-up
        spans = None
        overhead_ms = 0.0
        ops, decodes, spans_per_op = [], [], []
        attempted = failed = 0
        if trace:
            # the untraced reference for trace.overhead_ms; its crawl is
            # checked like every other one
            plain = op.crawl()
            attempted += 1
            failed += not plain["ok"]
            spans = ptrace.Spans()
            ptrace.install_spans(spans)
            ptrace.name_python_functions(spark)
        # the reference job runs REF_REPS times before the crawls, after
        # them and after the decodes
        refs = [reference_job(spark, op.cpu_s) for _ in range(REF_REPS)]
        t_meas = time.time()
        # start a crawl only if the last one's wall time says it ends in
        # the crawl share of the run
        while not ops or (time.time() - t_meas + ops[-1]["crawl_s"]
                          <= CRAWL_SHARE * args.seconds):
            before = spans.snapshot() if spans else None
            attempted += 1
            try:
                o = op.crawl()
            except Exception as exc:  # a raising crawl counts as failed
                log(f"crawl raised: {exc!r}")
                failed += 1
                if attempted >= 3 and not ops:
                    break
                continue
            failed += not o["ok"]
            ops.append(o)
            if spans:
                after = spans.snapshot()
                spans_per_op.append({k: (after[k][0] - before[k][0],
                                         after[k][1] - before[k][1])
                                     for k in after})
            log(f"crawl {len(ops)}: {o['crawl_s']:.2f}s, {o['cpu_s']:.2f} cpu-s "
                f"({o['pages']} pages) ok={o['ok']}")
        refs += [reference_job(spark, op.cpu_s) for _ in range(REF_REPS)]
        # the first decode in a session is cold
        if ops:
            log(f"warm-up decode {op.decode()['s']:.2f}s")
        tries = 0
        while ops and (len(decodes) < DECODE_REPS
                       or time.time() - t_meas < args.seconds):
            attempted += 1
            tries += 1
            try:
                d = op.decode()
            except Exception as exc:  # a raising decode counts as failed
                log(f"decode raised: {exc!r}")
                failed += 1
                if tries >= DECODE_REPS and not decodes:
                    break
                continue
            failed += not d["ok"]
            decodes.append(d)
            log(f"decode {len(decodes)}: {d['s']:.2f}s, {d['cpu_s']:.2f} cpu-s "
                f"({d['images']} images) ok={d['ok']}")
        refs += [reference_job(spark, op.cpu_s) for _ in range(REF_REPS)]
        if trace:
            overhead_ms = (median([o["crawl_s"] for o in ops])
                           - plain["crawl_s"]) * 1000.0
        inputs.release()
    finally:
        stop_session(spark)
    rss_mb = rss.stop()
    if not ops or not decodes:
        log("no crawl or no decode completed")
        return 1
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        totals = ptrace.parse_event_log(
            log_dir, [(o["crawl_start"], o["crawl_end"]) for o in ops], cores,
            spans.intervals)
        decode = ptrace.parse_event_log(
            log_dir, [(d["start"], d["end"]) for d in decodes], cores)
        # per decode, like images.decode_ms
        totals["images.exec_ms"] = decode.get("images.exec_ms", 0.0) / len(decodes)
        metrics = per_layer(ops, decodes, spans_per_op, totals, refs,
                            overhead_ms)
    else:
        metrics = end_to_end(ops, decodes, refs, setup_s, rss_mb)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
