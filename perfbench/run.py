"""The repository's benchmark: four workloads, one closed-loop client.

    python3 perfbench/run.py --workload geotag --seed 1 --seconds 20 --trace 0

Workloads (``--workload all`` runs every one in this process):

* ``geotag``       -- seeded pages through ``geo_join.pages_per_region``,
                      plain and ``with_metrics=True`` (the paper's metric).
* ``iterative``    -- fixpoint graph/text queries at sf0.1, each checked
                      against its DuckDB oracle.
* ``ingest_write`` -- the same pages tagged and written through
                      ``checkpoint.lineage.run_with_checkpoint`` (then a
                      resume that must find nothing pending), plus the
                      oracle-checked streaming / pipeline write queries.
* ``query_mix``    -- the 21 frozen ``bench.HEADLINE`` queries at sf0.1.

The session runs on ``local[<usable cores>]``.  One client issues each
operation only after the previous one returned; operations come in
passes whose order the seed shuffles, and passes repeat until
``--seconds`` have elapsed (at least one pass).  Every operation's
output is checked; an operation that raises or disagrees with its
oracle counts as failed and is named on stdout.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced pass, restarts the session with the Spark event log on, runs
one traced pass plus the layer probes, and prints the per-layer metrics
(see ``BENCHMARK.json``).  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.1")
TMP = os.path.join(WORK, "tmp")
CORES = len(os.sched_getaffinity(0))

N_PAGES = 400_000
PROBE_PAGES = 20_000
ORACLE_SAMPLE = 2_000
UNITS = 16
SETUP_REPS = 3
#: fixed and pre-touched JVM heap: peak RSS then moves with off-heap and
#: Python-side memory instead of with how far G1 chose to grow the heap
DRIVER_MEM = "4g"


def _prepare_env() -> None:
    for d in ("tmp", "local", "events", "pages", "expect", "warehouse", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata file in the system temp dir, from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # oracles that read the check-scale tables at import read these
    os.environ["SPARK_GRAFT_SF_CORRECT"] = DATA
    # Python workers import the package by name: put the repo on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


_prepare_env()

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import eventlog  # noqa: E402
from stats import latency_summary, unit_of  # noqa: E402
from europe_gis_spark.checkpoint import lineage  # noqa: E402
from europe_gis_spark.datagen import geodata  # noqa: E402
from europe_gis_spark.datagen import pages as pgen  # noqa: E402
from europe_gis_spark.extract import html as hx  # noqa: E402
from europe_gis_spark.geo import cells, geom, proj, wkb  # noqa: E402
from europe_gis_spark.geo import index as gindex  # noqa: E402
from europe_gis_spark.operators import dedup, geo_join  # noqa: E402
from europe_gis_spark.session import get_spark  # noqa: E402
from tests.test_oracle_parity import ORACLES, ALL_QUERIES, canon, values_equal  # noqa: E402

from bench import HEADLINE  # noqa: E402


def now() -> float:
    return time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only results."""
    print(f"[perfbench +{now() - T_START:.1f}s] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- session


def session_conf(event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={TMP} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_dir,
            }
        )
    return conf


def start_session(event_dir: str | None = None):
    """(spark, seconds spent in ``get_spark``)."""
    t0 = now()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(event_dir))
    dt = now() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MiB."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    total = hwm_kb(os.getpid())
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            # comm may hold spaces: fields after the closing paren
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = stat[stat.rindex(")") + 2 :].split()[1]
            if ppid == me and comm == "java":
                total += hwm_kb(pid)
        except (OSError, ValueError):
            continue
    return total / 1024.0


# ------------------------------------------------------------------ checks


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The oracle-parity test's comparison, as a message (None = equal)."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        if got[c].dtype.kind != want[c].dtype.kind:
            return f"{c}: dtype {got[c].dtype} vs {want[c].dtype}"
    for c in got.columns:
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
            if not values_equal(x, y)
        ]
        if bad:
            return f"{c}: {len(bad)} of {len(got)} values differ, first: {bad[:3]}"
    return None


class Oracles:
    """DuckDB oracles over the sf0.1 tables, computed once per name."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(DATA)):
            if f.endswith(".parquet"):
                t = f[: -len(".parquet")]
                self.con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, f)}')"
                )
        self.frames: dict[str, pd.DataFrame] = {}

    def want(self, name: str) -> pd.DataFrame:
        if name not in self.frames:
            self.frames[name] = self.con.sql(ORACLES[name]).df()
        return self.frames[name]

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        return frame_mismatch(got, self.want(name))


# ---------------------------------------------------------------- workloads


class Op:
    """One closed-loop operation: ``build`` returns a DataFrame (planned
    and collected by the client) or an already computed value;
    ``check(result)`` returns an error message or None."""

    def __init__(self, name, build, check, pages: int = 0):
        self.name, self.build, self.check, self.pages = name, build, check, pages


class Workload:
    name = ""
    #: unrecorded passes before timing: the JVM's JIT keeps speeding the
    #: operations up over the first passes, and each run must time the
    #: same regime
    warm_passes = 3

    def __init__(self, seed: int):
        self.seed = seed
        self.spark = None

    def prepare(self) -> None:
        """Benchmark-side inputs (page generation), before the session
        starts: not set-up time."""

    def oracles(self) -> None:
        """Oracle computation, before the session starts: not set-up time."""

    def register(self) -> None:
        """Input registration and index build: set-up time."""

    def groups(self) -> list[list[Op]]:
        """Operations of one pass; the seed shuffles the groups, a group
        keeps its order."""
        raise NotImplementedError

    def final_checks(self) -> list[tuple[str, str | None]]:
        """Once-per-run checks: (name, error or None)."""
        return []


def ensure_pages(n: int, seed: int) -> str:
    """Generated pages, cached by (n, seed) under the work dir: one
    ``pagegen.py`` process per core, one parquet file (scan task) each."""
    path = os.path.join(WORK, "pages", f"pages_{n}_{seed}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        script = os.path.join(HERE, "pagegen.py")
        procs = [
            subprocess.Popen([sys.executable, script, path, str(n), str(seed),
                              str(i), str(CORES)])
            for i in range(CORES)
        ]
        codes = [p.wait() for p in procs]
        if any(codes):
            raise RuntimeError(f"page generation failed: exit codes {codes}")
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def tag_by_unit(pages, idx_bc, hints):
    """``run_with_checkpoint``'s process function: tag the pages of the
    pending units, each page in the hash unit of its url."""

    def process(pend):
        tagged = geo_join.tag_pages(pages, idx_bc, host_hints=hints)
        return tagged.withColumn(
            "unit_id", F.pmod(F.xxhash64("url"), F.lit(UNITS))
        ).join(pend, "unit_id", "left_semi")

    return process


class _PagesWorkload(Workload):
    """Shared by the two workloads that read the seeded pages."""

    def prepare(self):
        self.pages_path = ensure_pages(N_PAGES, self.seed)

    def register(self):
        self.pages = self.spark.read.parquet(self.pages_path)
        polys = self.spark.createDataFrame(geodata.admin_polygons())
        self.hints = pgen.host_city_hints()
        self.idx_bc = geo_join.build_polygon_index_bc(
            self.spark, polys.filter(F.col("levl_code") == 3)
        )


class GeotagWorkload(_PagesWorkload):
    name = "geotag"
    warm_passes = 2

    def __init__(self, seed):
        super().__init__(seed)
        self.counts_ref: dict | None = None

    def _ppr(self, pages, with_metrics):
        return geo_join.pages_per_region(
            self.spark, pages, host_hints=self.hints, idx_bc=self.idx_bc,
            with_metrics=with_metrics,
        )

    def _check_counts(self, got: pd.DataFrame) -> str | None:
        counts = {
            (None if pd.isna(k) else str(k)): int(v)
            for k, v in zip(got["nuts_id"], got["n_pages"])
        }
        if sum(counts.values()) != N_PAGES:
            return f"counts sum to {sum(counts.values())}, not {N_PAGES}"
        if self.counts_ref is None:
            # the same seed must give the same counts in every run
            path = os.path.join(WORK, "expect", f"geotag_{N_PAGES}_{self.seed}.json")
            ref = {str(k): v for k, v in counts.items()}
            if os.path.exists(path):
                with open(path) as f:
                    stored = json.load(f)
                if stored != ref:
                    return f"per-region counts differ from an earlier run: {path}"
            else:
                with open(path, "w") as f:
                    json.dump(ref, f, sort_keys=True)
            self.counts_ref = counts
        elif counts != self.counts_ref:
            diff = {
                k: (counts.get(k), self.counts_ref.get(k))
                for k in set(counts) | set(self.counts_ref)
                if counts.get(k) != self.counts_ref.get(k)
            }
            return f"per-region counts changed between operations: {diff}"
        return None

    def groups(self):
        return [
            [Op("pages_per_region", lambda: self._ppr(self.pages, False),
                self._check_counts, pages=N_PAGES)],
            [Op("pages_per_region_metrics", lambda: self._ppr(self.pages, True),
                self._check_counts, pages=N_PAGES)],
        ]

    def final_checks(self):
        rate = assignment_match_rate(self.spark, self.idx_bc, self.hints, self.seed)
        err = None if rate == 1.0 else f"tile_assignment_match_rate {rate!r} != 1.0"
        print(f"[perfbench] geotag tile_assignment_match_rate={rate} "
              f"(n={ORACLE_SAMPLE} sampled pages)")
        return [("tile_assignment_sample", err)]


def assignment_match_rate(spark, idx_bc, hints, seed: int) -> float:
    """Share of sampled pages whose engine polygon equals an exhaustive
    numpy oracle (every point against every level-3 polygon, last burn
    wins).  The sample is drawn from the run's own page ids."""
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(N_PAGES, size=ORACLE_SAMPLE, replace=False))
    pdf = pgen.pages_pandas(ids, seed)
    got = {
        r.url: r.poly_id
        for r in geo_join.tag_pages(
            spark.createDataFrame(pdf), idx_bc, host_hints=hints
        ).collect()
    }
    hint_map = {r.host: (r.lat, r.lon) for r in hints.itertuples()}
    lat = np.full(len(pdf), np.nan)
    lon = np.full(len(pdf), np.nan)
    for i, row in enumerate(pdf.itertuples()):
        c = hx.extract_coords(row.html, row.text) or hint_map.get(hx.extract_host(row.url))
        if c is not None:
            lat[i], lon[i] = c
    x, y = proj.forward(lon, lat)
    want = np.array([None] * len(pdf), dtype=object)
    ok = np.isfinite(x) & np.isfinite(y)
    polys = geodata.admin_polygons()
    for r in polys[polys.levl_code == 3].itertuples():  # later burns overwrite
        parts = wkb.polygon_parts(wkb.decode(r.geometry))
        if geom.is_valid_polygon(parts):
            inside = np.zeros(len(pdf), dtype=bool)
            inside[ok] = geom.points_in_polygon(x[ok], y[ok], parts, boundary="include")
            want[inside] = r.nuts_id
    match = sum(got[u] == w for u, w in zip(pdf["url"], want))
    return match / len(pdf)


class _QueryWorkload(Workload):
    """Registered queries at sf0.1, each checked against its oracle."""

    queries: list[str] = []

    def oracles(self):
        self.oracle = Oracles()
        for q in self.queries:
            self.oracle.want(q)

    def _op(self, name):
        return Op(
            name,
            lambda: ALL_QUERIES[name](self.spark, DATA),
            lambda got: self.oracle.check(name, got),
        )

    def groups(self):
        return [[self._op(q)] for q in self.queries]


class IterativeWorkload(_QueryWorkload):
    name = "iterative"
    # the driver-side planning these queries spend their time in keeps
    # speeding up for four passes
    warm_passes = 4
    queries = ["pagerank", "hits_scores"]


class QueryMixWorkload(_QueryWorkload):
    name = "query_mix"
    warm_passes = 1
    queries = list(HEADLINE)


class IngestWriteWorkload(_PagesWorkload, _QueryWorkload):
    name = "ingest_write"
    queries = ["stream_tiles"]

    def register(self):
        super().register()
        self.units = self.spark.range(UNITS).withColumnRenamed("id", "unit_id")

    def _ingest(self, tag, pages, fresh):
        root = os.path.join(TMP, f"ingest_{tag}")
        if fresh:
            shutil.rmtree(root, ignore_errors=True)
        return lineage.run_with_checkpoint(
            self.spark, self.units, tag_by_unit(pages, self.idx_bc, self.hints),
            os.path.join(root, "out"), os.path.join(root, "ckpt"),
            run_id=f"perfbench-{self.seed}",
        )

    def _check_write(self, n):
        if n != UNITS:
            return f"processed {n} units, expected {UNITS}"
        rows = self.spark.read.parquet(os.path.join(TMP, "ingest_run", "out")).count()
        return None if rows == N_PAGES else f"read back {rows} rows, expected {N_PAGES}"

    def groups(self):
        ingest = [
            Op("checkpoint_write", lambda: self._ingest("run", self.pages, True),
               self._check_write, pages=N_PAGES),
            Op("checkpoint_resume", lambda: self._ingest("run", self.pages, False),
               lambda n: None if n == 0 else f"resume processed {n} units, expected 0"),
        ]
        return [ingest] + [[self._op(q)] for q in self.queries]


WORKLOADS = {
    w.name: w
    for w in (GeotagWorkload, QueryMixWorkload, IterativeWorkload, IngestWriteWorkload)
}


# ------------------------------------------------------------------- client


def run_op(spark, op: Op, record: list, group_prefix: str = "") -> None:
    """Run and check one operation, appending its record.  The job group
    is the op name; the description carries the phase."""
    sc = spark.sparkContext
    group = group_prefix + op.name
    phases = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    err = None
    t0 = now()
    try:
        sc.setJobGroup(group, f"{group}:build")
        obj = op.build()
        t1 = now()
        phases["build"] = t1 - t0
        if isinstance(obj, DataFrame):
            sc.setJobGroup(group, f"{group}:plan")
            obj._jdf.queryExecution().executedPlan()
            t2 = now()
            phases["plan"] = t2 - t1
            sc.setJobGroup(group, f"{group}:exec")
            obj = obj.toPandas()
            phases["exec"] = now() - t2
        latency = now() - t0
    except Exception as e:  # an operation that raises counts as failed
        latency = now() - t0
        err = f"raised {type(e).__name__}: {str(e).splitlines()[0][:300]}"
    sc.setJobGroup("", "")  # jobs of the check belong to no op
    if err is None:
        try:
            err = op.check(obj)
        except Exception as e:
            err = f"check raised {type(e).__name__}: {e}"
    record.append({"op": op.name, "start": t0 - T_START, "latency_s": latency,
                   "phases": phases, "pages": op.pages, "error": err})


def run_passes(wl: Workload, rng: random.Random, seconds: float = 0, passes=None,
               group_prefix: str = ""):
    """Closed loop: ``passes`` whole passes, or else passes while the next
    one is expected to end within ``seconds`` (at least one).  A pass's
    wall time is the sum of its operations' latencies."""
    records, pass_walls = [], []
    deadline = now() + seconds
    while not pass_walls or (
        len(pass_walls) < passes if passes is not None
        else now() + pass_walls[-1] <= deadline
    ):
        groups = wl.groups()
        rng.shuffle(groups)
        done = len(records)
        for op in (op for group in groups for op in group):
            run_op(wl.spark, op, records, group_prefix)
        pass_walls.append(sum(r["latency_s"] for r in records[done:]))
        lat = " ".join(f"{r['op']}={r['latency_s']:.3f}" for r in records[done:])
        log(f"{wl.name}: {group_prefix}pass {len(pass_walls)} "
            f"wall {pass_walls[-1]:.3f} s: {lat}")
    return records, pass_walls


def restart(wl: Workload, event_dir: str | None = None) -> tuple[float, float]:
    """(seconds, get_spark seconds) to (re)start the session and register
    the workload's inputs."""
    if wl.spark is not None:
        wl.spark.stop()
    t0 = now()
    wl.spark, t_session = start_session(event_dir)
    wl.register()
    return now() - t0, t_session


def warm(wl: Workload, rng: random.Random, passes: int) -> float:
    """Unrecorded passes (their outputs are still checked)."""
    t0 = now()
    records, _ = run_passes(wl, rng, passes=passes, group_prefix="warmup/")
    for r in records:
        if r["error"]:
            log(f"warm-up {r['op']} failed: {r['error']}")
    return now() - t0


# ------------------------------------------------------------------- probes


def _rate(fn, n: int, min_s: float = 0.25) -> float:
    """Items per second of ``fn`` over ``n`` items, median of 3 timings."""
    rates = []
    for _ in range(3):
        calls, t0 = 0, now()
        while True:
            fn()
            calls += 1
            dt = now() - t0
            if dt >= min_s:
                break
        rates.append(n * calls / dt)
    return statistics.median(rates)


def layer_probes(spark, seed: int) -> dict[str, float]:
    """Layer timings on a fixed seeded page sample, the same in every
    workload: in-process kernel rates, index build, the tag map stage,
    and a checkpointed write with its resume."""
    out = {}
    pdf = pgen.pages_pandas(np.arange(PROBE_PAGES), seed)
    coords = [hx.extract_coords(h, t) for h, t in zip(pdf["html"], pdf["text"])]
    lat = np.array([c[0] for c in coords if c is not None])
    lon = np.array([c[1] for c in coords if c is not None])
    x, y = proj.forward(lon, lat)
    polys = geodata.admin_polygons()
    level3 = polys[polys.levl_code == 3]
    idx = gindex.build_index(list(zip(level3.nuts_id, level3.geometry)))
    texts = pdf["text"].tolist()
    out["geo.proj.forward_per_s"] = _rate(lambda: proj.forward(lon, lat), len(lon))
    out["geo.cells.cell_id_per_s"] = _rate(
        lambda: cells.cell_id(x, y, cells.RES_DEFAULT), len(x))
    out["geo.index.assign_points_per_s"] = _rate(
        lambda: gindex.assign_points(idx, x, y), len(x))
    out["dedup.simhash_batch_per_s"] = _rate(lambda: dedup.simhash_batch(texts), len(texts))

    sc = spark.sparkContext
    sc.setJobGroup("probe", "probe:layers")
    polys_df = spark.createDataFrame(level3)
    builds = []
    for _ in range(3):
        t0 = now()
        idx_bc = geo_join.build_polygon_index_bc(spark, polys_df)
        builds.append(now() - t0)
    out["geo_join.index_build_s"] = statistics.median(builds)
    pages = spark.createDataFrame(pdf).repartition(CORES).cache()
    pages.count()
    hints = pgen.host_city_hints()
    tags = []
    for _ in range(3):  # the median skips a first run's Python-worker start
        t0 = now()
        geo_join.tag_pages(pages, idx_bc, host_hints=hints).write.format("noop").mode(
            "overwrite").save()
        tags.append(now() - t0)
    out["geo_join.tag_s"] = statistics.median(tags)

    root = os.path.join(TMP, "probe_ckpt")
    shutil.rmtree(root, ignore_errors=True)
    units = spark.range(UNITS).withColumnRenamed("id", "unit_id")

    args = (spark, units, tag_by_unit(pages, idx_bc, hints),
            os.path.join(root, "out"), os.path.join(root, "ckpt"))
    t0 = now()
    n_run = lineage.run_with_checkpoint(*args, run_id="probe")
    out["checkpoint.lineage.run_s"] = now() - t0
    t0 = now()
    n_resume = lineage.run_with_checkpoint(*args, run_id="probe")
    out["checkpoint.lineage.resume_s"] = now() - t0
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(root, "out"))
        for f in fs
        if f.endswith(".parquet")
    ]
    out["checkpoint.lineage.output_files"] = len(files)
    out["checkpoint.lineage.bytes_per_row"] = (
        sum(os.path.getsize(f) for f in files) / PROBE_PAGES
    )
    pages.unpersist()
    sc.setJobGroup("", "")
    if (n_run, n_resume) != (UNITS, 0):
        raise RuntimeError(f"checkpoint probe processed {n_run}/{n_resume} units")
    return out


# ------------------------------------------------------------------ metrics


def trace_metrics(ops: dict, records: list) -> dict[str, float]:
    """Workload-level per-layer sums over the traced pass.  GC, fetch
    wait and Python-worker times are given relative to executor run time;
    the Python ones can exceed 1, as each Python node of a task counts its
    worker's time."""
    wl_ops = {r["op"] for r in records}
    got = [ops.get(name) for name in wl_ops]
    got = [g for g in got if g is not None]

    def total(key):
        return sum(g[key] for g in got)

    op_wall = sum(r["latency_s"] for r in records)
    run_ms = total("run_ms")
    share = 1 / max(run_ms, 1)
    longest = max(got, key=lambda g: g["longest_stage_task_ms"], default=None)
    return {
        "queries.build_s": sum(r["phases"]["build"] for r in records),
        "queries.build_jobs": total("build_jobs"),
        "queries.plan_s": sum(r["phases"]["plan"] for r in records),
        "queries.exec_s": sum(r["phases"]["exec"] for r in records),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": total("cpu_ns") / 1e9,
        "spark.gc_frac": total("gc_ms") * share,
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.fetch_wait_frac": total("fetch_wait_ms") * share,
        "spark.spill_bytes": total("spill_bytes"),
        "spark.peak_exec_mem_bytes": max((g["peak_exec_mem_bytes"] for g in got), default=0),
        "spark.core_busy_frac": run_ms / 1e3 / (op_wall * CORES),
        "spark.task_skew": longest["task_skew"] if longest else 1.0,
        "python_udf.run_ratio": total("py_run_ms") * share,
        "python_udf.start_init_ratio": total("py_start_init_ms") * share,
        "python_udf.bytes_sent": total("py_bytes_sent"),
        "python_udf.bytes_returned": total("py_bytes_returned"),
    }


COUNT_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "queries.build_jobs",
              "checkpoint.lineage.output_files")


def per_op_counts(ops: dict, records: list) -> dict:
    return {
        name: {k: ops[name][k] for k in ("jobs", "build_jobs", "stages", "tasks")}
        for name in sorted({r["op"] for r in records}) if name in ops
    }


def compare_counts(wl: Workload, counts: dict) -> str:
    """Counts must repeat exactly across runs at one seed."""
    path = os.path.join(WORK, "expect", f"counts_{wl.name}_{wl.seed}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(counts, f, sort_keys=True)
        return "first run at this seed (stored)"
    with open(path) as f:
        ref = json.load(f)
    diff = {k: (counts.get(k), ref.get(k)) for k in set(counts) | set(ref)
            if counts.get(k) != ref.get(k)}
    return "repeat exactly" if not diff else f"DIFFER from an earlier run: {diff}"


# -------------------------------------------------------------------- main


def fmt(v: float) -> str:
    return f"{v:.6g}"


def run_workload(name: str, seed: int, seconds: float, trace: bool, first_in_process: bool):
    """Returns (correct, attempted, failed, metrics dict name -> value)."""
    wl = WORKLOADS[name](seed)
    rng = random.Random(seed)
    t0 = now()
    wl.prepare()
    wl.oracles()
    excluded = now() - t0
    starts, sessions = [], []
    for i in range(SETUP_REPS):
        s, g = restart(wl)
        if i == 0 and first_in_process:
            # the first start counts from process start: imports, JVM launch
            s += t0 - T_START
        starts.append(s)
        sessions.append(g)
    warm_s = warm(wl, rng, wl.warm_passes)
    setup_s = statistics.median(starts) + warm_s
    log(f"{name}: set-up {setup_s:.2f} s (starts {[round(x, 2) for x in starts]}, "
        f"warm-up {warm_s:.2f} s; inputs and oracles {excluded:.2f} s excluded)")

    if not trace:
        records, walls = run_passes(wl, rng, seconds)
        checked = records
    else:
        # the timed run's window, then one pass in a session with the
        # event log on (after one warm-up pass for its fresh Python workers)
        checked, untraced = run_passes(wl, rng, seconds)
        event_dir = os.path.join(WORK, "events", f"{name}_{seed}_{os.getpid()}")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        _, g = restart(wl, event_dir)
        sessions.append(g)
        warm(wl, rng, 1)
        records, walls = run_passes(wl, rng, passes=1)
        checked += records
        probes = layer_probes(wl.spark, seed)

    failures = [(r["op"], r["error"]) for r in checked if r["error"]]
    checks = wl.final_checks()
    log(f"{name}: final checks done")
    failures += [(c, e) for c, e in checks if e]
    attempted = len(checked) + len(checks)
    rss = peak_rss_mb()
    wl.spark.stop()

    for op, err in failures:
        print(f"[perfbench] FAILED {name}/{op}: {err}")
    failed = len(failures)

    if not trace:
        p50, tail_v, tail_what = latency_summary(records)
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "op_p50_s": p50,
            "op_tail_s": tail_v,
            "peak_rss_mb": rss,
        }
        page_ops = [r for r in records if r["pages"]]
        extra = ""
        if page_ops:
            pps = sum(r["pages"] for r in page_ops) / sum(r["latency_s"] for r in page_ops)
            extra = f" | pages_per_s={fmt(pps)} pages/s (n_pages={N_PAGES})"
        print(
            f"[perfbench] {name} seed={seed} cores={CORES} "
            f"passes={len(walls)} ({', '.join(f'{w:.3f}' for w in walls)} s) | "
            f"setup_s={fmt(setup_s)} s (median of {len(starts)} starts + "
            f"{wl.warm_passes} warm-up passes) | "
            f"wall_s={fmt(metrics['wall_s'])} s (median pass) | "
            f"op_p50_s={fmt(p50)} s (median of per-op medians, n={len(records)}) | "
            f"op_tail_s={fmt(tail_v)} s ({tail_what}){extra} | "
            f"failed_op_frac={failed}/{attempted}={fmt(failed / attempted)} | "
            f"peak_rss_mb={fmt(rss)} MB"
        )
        return failed == 0, attempted, failed, metrics

    ops = eventlog.parse(event_dir)
    metrics = {"session.get_spark_s": statistics.median(sessions)}
    metrics.update(trace_metrics(ops, records))
    metrics.update(probes)
    metrics["trace.overhead_s"] = walls[0] - statistics.median(untraced)
    counts = {k: metrics[k] for k in COUNT_KEYS}
    counts["per_op"] = per_op_counts(ops, records)
    verdict = compare_counts(wl, counts)
    print(f"[perfbench] {name} seed={seed} traced pass wall={fmt(walls[0])} s, "
          f"untraced median pass wall={fmt(statistics.median(untraced))} s, "
          f"tracing overhead={fmt(metrics['trace.overhead_s'])} s; counts {verdict}")
    for r in records:
        o = ops.get(r["op"], {})
        print(f"[perfbench]   {r['op']}: {fmt(r['latency_s'])} s "
              f"(build {fmt(r['phases']['build'])} / plan {fmt(r['phases']['plan'])} / "
              f"exec {fmt(r['phases']['exec'])}), jobs={o.get('jobs', 0)} "
              f"(build {o.get('build_jobs', 0)}), stages={o.get('stages', 0)}, "
              f"tasks={o.get('tasks', 0)}")
    for k, v in metrics.items():
        print(f"[perfbench]   {k} = {fmt(v)} {unit_of(k)}")
    with open(os.path.join(WORK, "trace", f"{name}_{seed}.json"), "w") as f:
        json.dump({"workload": name, "seed": seed, "cores": CORES, "spans": records,
                   "ops": ops, "metrics": metrics}, f, indent=1, default=str)
    return failed == 0, attempted, failed, metrics


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    correct, attempted, failed, metrics = True, 0, 0, {}
    for i, name in enumerate(names):
        ok, a, f, m = run_workload(name, args.seed, args.seconds, bool(args.trace), i == 0)
        correct &= ok
        attempted += a
        failed += f
        prefix = f"{name}." if args.workload == "all" else ""
        metrics.update({prefix + k: {"value": v, "unit": unit_of(k)} for k, v in m.items()})
    stop_jvm()
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
