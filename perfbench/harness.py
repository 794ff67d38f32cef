"""Session pinning, workloads and the measured loop.

One run = one fresh SparkSession on ``local[nproc]`` with its own
warehouse, local and scratch directories, one workload, a fixed number
of ops in a seed-shuffled order, and a check of every op type's output
outside the timed window.
"""

from __future__ import annotations

import logging
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import pandas as pd

import kickstarter_csv
import layers
import stats
import tables

NPROC = len(os.sched_getaffinity(0))

#: ``--seconds`` at which a workload runs its ``rounds``; other values
#: scale the round count, so a run's op list never depends on timing.
NOMINAL_SECONDS = 20

_LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


class RunSpace:
    """Fresh per-run directories, and the environment that points Spark,
    its Python workers and the package's scratch space at them. Removed
    on exit."""

    DIRS = ("conf", "warehouse", "local", "tmp", "scratch", "data", "events")

    def __init__(self, root: str, traced: bool):
        self.root = root
        self.base = os.path.join(root, ".perfbench_run", str(os.getpid()))
        self.traced = traced
        for name in self.DIRS:
            setattr(self, name, os.path.join(self.base, name))

    def __enter__(self) -> "RunSpace":
        shutil.rmtree(self.base, ignore_errors=True)
        for name in self.DIRS:
            os.makedirs(getattr(self, name))
        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.local.dir": self.local,
            "spark.ui.showConsoleProgress": "false",
            # No hsperfdata file in the system temp directory.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if self.traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.events,
                    # one plain JSON-lines file per application
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with open(os.path.join(self.conf, "spark-defaults.conf"), "w") as fh:
            fh.writelines(f"{k} {v}\n" for k, v in conf.items())
        with open(os.path.join(self.conf, "log4j2.properties"), "w") as fh:
            fh.write(_LOG4J)
        pythonpath = [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update(
            SPARK_CONF_DIR=self.conf,
            SPARK_LOCAL_DIRS=self.local,
            SPARK_GRAFT_CPUS=str(NPROC),
            TMPDIR=self.tmp,
            PYTHONPATH=os.pathsep.join(pythonpath),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        tempfile.tempdir = self.tmp
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.base))
        except OSError:
            pass  # another run still uses it


def _children(pid: int) -> set[int]:
    """All live descendants of ``pid``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    found, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - found
        found |= frontier
    return found


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    return pids


class Session:
    """The package's own ``get_spark``, pinned to ``local[nproc]``."""

    def __init__(self, space: RunSpace):
        self.space = space
        self.spark = None

    def start(self) -> float:
        start = time.perf_counter()
        # Imported here, after RunSpace has set SPARK_GRAFT_CPUS: the
        # session module reads it at import time.
        from kickstarter_etl_pipeline_spark import scratch
        from kickstarter_etl_pipeline_spark.session import get_spark

        scratch.SCRATCH_ROOT = self.space.scratch
        self.spark = get_spark("perfbench", master=f"local[{NPROC}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - start

    @property
    def sc(self):
        return self.spark.sparkContext

    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid

    def job_group(self, group: str | None) -> None:
        """Tag the jobs this thread starts from now on; None clears the tag."""
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        if self.spark is None:
            return
        gateway = self.sc._gateway
        procs = _children(os.getpid())
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            for pid in _wait_gone(procs, 10.0):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            self.spark = None


def force(df) -> None:
    """Compute every output column with no output IO (as bench.py does)."""
    df.write.mode("overwrite").format("noop").save()


@dataclass
class OpRecord:
    kind: str
    wall_s: float
    ok: bool
    traced: bool
    groups: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)


class QueryWorkload:
    """Registry queries over seeded fixture tables; every op type is
    checked once per run against its DuckDB oracle twin."""

    def __init__(self, names: list[str], rounds: int, warm_passes: int):
        self.kinds = names
        #: measured rounds per run; each round runs every op type once.
        self.rounds = rounds
        #: warm-up passes over every op type; the first one is checked.
        self.warm_passes = warm_passes

    def prepare(self, ctx: "Context") -> None:
        import duckdb

        from kickstarter_etl_pipeline_spark import queries as Q

        self.dir = os.path.join(ctx.space.data, "tables")
        tables.write(tables.build(ctx.seed), self.dir)
        self.registry, self.oracles = Q.queries(), Q.oracle_sql()
        self.duck = duckdb.connect()
        for t in tables.TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")

    def warm(self, ctx: "Context", kind: str) -> tuple[bool, float]:
        """Run ``kind`` once at the measured scale and check its output
        against the DuckDB twin, as ``certify`` does; returns (ok,
        seconds spent in Spark)."""
        from kickstarter_etl_pipeline_spark.certify import _normalize

        start = time.perf_counter()
        got = self.registry[kind](ctx.session.spark, self.dir).toPandas()
        spark_s = time.perf_counter() - start
        return _normalize(got) == _normalize(self.duck.sql(self.oracles[kind]).df()), spark_s

    def round_kinds(self, rng: random.Random) -> list[str]:
        kinds = list(self.kinds)
        rng.shuffle(kinds)
        return kinds

    def run(self, ctx: "Context", kind: str, tag: str, traced: bool) -> OpRecord:
        rec = OpRecord(kind, 0.0, False, traced)
        if traced:
            rec.groups = [f"{tag}:build", f"{tag}:exec"]
            ctx.session.job_group(rec.groups[0])
        start = time.perf_counter()
        df = self.registry[kind](ctx.session.spark, self.dir)
        built = time.perf_counter()
        if traced:
            df._jdf.queryExecution().executedPlan()
            planned = time.perf_counter()
            ctx.session.job_group(rec.groups[1])
        force(df)
        end = time.perf_counter()
        rec.wall_s, rec.ok = end - start, True
        if traced:
            rec.phases = {"build_s": built - start, "plan_s": planned - built, "exec_s": end - planned}
        return rec

    def close(self) -> None:
        self.duck.close()


#: Star-join reads over a loaded warehouse. ``wh_read_date_range``
#: filters the partition column, so it reads a month of partitions.
WH_READS = {
    "wh_read_state_category": """
        SELECT s.state_name, c.main_category_name, COUNT(*) AS n, SUM(f.backers) AS backers,
               SUM(CAST(ROUND(f.pledged_usd * 100) AS BIGINT)) AS pledged_cents
        FROM {db}.fact_campaigns f
        JOIN {db}.dim_state s ON f.state_key = s.state_key
        JOIN {db}.dim_category c ON f.category_key = c.category_key
        GROUP BY s.state_name, c.main_category_name""",
    "wh_read_calendar": """
        SELECT d.year, d.quarter, COUNT(*) AS n, SUM(s.is_successful) AS successes,
               SUM(CAST(ROUND(f.duration_days * 86400) AS BIGINT)) AS duration_s
        FROM {db}.fact_campaigns f
        JOIN {db}.dim_date d ON f.launched_date_key = d.date_key
        JOIN {db}.dim_state s ON f.state_key = s.state_key
        GROUP BY d.year, d.quarter""",
    "wh_read_date_range": """
        SELECT d.day_of_week, COUNT(*) AS n, SUM(CAST(ROUND(f.goal_usd * 100) AS BIGINT)) AS goal_cents
        FROM {db}.fact_campaigns f
        JOIN {db}.dim_date d ON f.launched_date_key = d.date_key
        WHERE f.launched_date_key BETWEEN {lo} AND {hi}
        GROUP BY d.day_of_week""",
}


class EtlWorkload:
    """``pipeline.run_pipeline`` into a fresh database, then star-join
    reads of what it loaded. A round is one load followed by
    ``read_repeats`` ``wh_read`` ops; a ``wh_read`` op runs every query
    of :data:`WH_READS` once, in seeded order, and times each."""

    def __init__(self, rows: int, dates: int, rounds: int, read_repeats: int):
        self.rows, self.dates = rows, dates
        self.rounds, self.read_repeats = rounds, read_repeats
        self.warm_passes = 1
        self.kinds = ["load", "wh_read"]
        self.loads: list[dict] = []
        self.db = None
        self.n_dbs = 0

    def prepare(self, ctx: "Context") -> None:
        self.data = kickstarter_csv.generate(ctx.seed, self.rows, self.dates)
        bad = kickstarter_csv.check_invariants(self.data, self.rows, self.dates)
        if bad:
            raise RuntimeError(f"generated CSV breaks the golden invariants: {bad}")
        self.csv = os.path.join(ctx.space.data, "ks.csv")
        self.csv_bytes = kickstarter_csv.write_csv(self.data, self.csv)
        keys = sorted(self.data.kept["date_key"].unique())
        self.lo, self.hi = int(keys[len(keys) // 3]), int(keys[len(keys) // 3 + 29])
        self.logger = logging.getLogger("perfbench.pipeline")
        self.logger.propagate = False
        self.logger.addHandler(logging.NullHandler())
        self.logger.setLevel(logging.INFO)
        self.rng = random.Random(ctx.seed)

    def _sql(self, read: str) -> str:
        return WH_READS[read].format(db=self.db, lo=self.lo, hi=self.hi)

    def _load(self, ctx: "Context") -> dict | None:
        from kickstarter_etl_pipeline_spark import pipeline

        self.n_dbs += 1
        self.db = f"perfbench_wh{self.n_dbs}"
        return pipeline.run_pipeline(ctx.session.spark, self.csv, db=self.db, logger=self.logger)

    def _after_load(self, ctx: "Context", counts: dict | None) -> bool:
        """Check the load and record what it wrote (outside the timing)."""
        k = self.data.kept
        want_counts = {"dim_state": 6, "dim_category": 170, "dim_date": self.dates, "fact_campaigns": len(k)}
        got = ctx.session.spark.sql(
            f"""SELECT COUNT(*), SUM(backers), SUM(CAST(ROUND(pledged_usd * 100) AS BIGINT)),
                       SUM(CAST(ROUND(goal_usd * 100) AS BIGINT)),
                       SUM(CAST(ROUND(duration_days * 86400) AS BIGINT))
                FROM {self.db}.fact_campaigns"""
        ).first()
        want = (len(k), int(k["backers"].sum()), int(k["pledged_cents"].sum()),
                int(k["goal_cents"].sum()), int(k["duration_s"].sum()))
        self.loads.append(layers.walk_tree(os.path.join(ctx.space.warehouse, f"{self.db}.db")))
        return counts == want_counts and tuple(got) == want

    def _expected(self, read: str) -> list[tuple]:
        k = self.data.kept
        if read == "wh_read_state_category":
            g = k.groupby(["state", "main"]).agg(n=("backers", "size"), b=("backers", "sum"), p=("pledged_cents", "sum"))
            return sorted((s, m, int(r.n), int(r.b), int(r.p)) for (s, m), r in g.iterrows())
        day = pd.to_datetime(k["date_key"].astype(str), format="%Y%m%d")
        if read == "wh_read_calendar":
            succ = (k["state"] == "successful").astype(int)
            frame = k.assign(year=day.dt.year, quarter=day.dt.quarter, succ=succ)
            g = frame.groupby(["year", "quarter"]).agg(n=("succ", "size"), s=("succ", "sum"), d=("duration_s", "sum"))
            return sorted((int(y), int(q), int(r.n), int(r.s), int(r.d)) for (y, q), r in g.iterrows())
        frame = k.assign(dow=day.dt.day_name())[(k["date_key"] >= self.lo) & (k["date_key"] <= self.hi)]
        g = frame.groupby("dow").agg(n=("goal_cents", "size"), g=("goal_cents", "sum"))
        return sorted((d, int(r.n), int(r.g)) for d, r in g.iterrows())

    def warm(self, ctx: "Context", kind: str) -> tuple[bool, float]:
        start = time.perf_counter()
        if kind == "load":
            counts = self._load(ctx)
            spark_s = time.perf_counter() - start
            return self._after_load(ctx, counts), spark_s
        got = {read: ctx.session.spark.sql(self._sql(read)).collect() for read in WH_READS}
        spark_s = time.perf_counter() - start
        return all(sorted(tuple(r) for r in rows) == self._expected(read) for read, rows in got.items()), spark_s

    def round_kinds(self, rng: random.Random) -> list[str]:
        return ["load"] + ["wh_read"] * self.read_repeats

    def run(self, ctx: "Context", kind: str, tag: str, traced: bool) -> OpRecord:
        rec = OpRecord(kind, 0.0, False, traced)
        if traced:
            rec.groups = [tag]
            ctx.session.job_group(tag)
        if kind == "wh_read":
            reads = list(WH_READS)
            self.rng.shuffle(reads)
            for read in reads:
                start = time.perf_counter()
                force(ctx.session.spark.sql(self._sql(read)))
                rec.phases[read] = time.perf_counter() - start
            rec.wall_s, rec.ok = sum(rec.phases.values()), True
            return rec
        previous = self.db
        start = time.perf_counter()
        counts = self._load(ctx)
        rec.wall_s = time.perf_counter() - start
        if traced:
            last = ctx.load_timer.last
            rec.phases = {"load_warehouse_s": last, "pre_load_s": rec.wall_s - last}
            ctx.session.job_group(f"{tag}:check")
        rec.ok = self._after_load(ctx, counts)
        if previous is not None:
            ctx.session.spark.sql(f"DROP DATABASE {previous} CASCADE")
        return rec

    def close(self) -> None:
        pass


class LoadTimer:
    """Wraps the ``load_warehouse`` that ``pipeline`` calls, to time it."""

    def __init__(self):
        from kickstarter_etl_pipeline_spark import pipeline

        self.pipeline = pipeline
        self.inner = pipeline.load_warehouse
        self.last = 0.0

        def timed(*args, **kwargs):
            start = time.perf_counter()
            try:
                return self.inner(*args, **kwargs)
            finally:
                self.last = time.perf_counter() - start

        pipeline.load_warehouse = timed

    def restore(self) -> None:
        self.pipeline.load_warehouse = self.inner


WORKLOADS = {
    "etl_load": lambda: EtlWorkload(rows=47_333, dates=200, rounds=2, read_repeats=2),
    "query_loops": lambda: QueryWorkload(["embedding_pca_top", "markov_stationary"], rounds=4, warm_passes=2),
}


@dataclass
class Context:
    space: RunSpace
    session: Session
    seed: int
    load_timer: LoadTimer | None = None


def run(root: str, workload: str, seed: int, seconds: int, traced: bool) -> tuple[dict, dict]:
    """Run one workload; returns (result line, detail)."""
    wl = WORKLOADS[workload]()
    load_start = os.getloadavg()
    rng = random.Random(seed)
    attempted = 0
    warm_ok: dict[str, bool] = {}
    records: list[OpRecord] = []
    with RunSpace(root, traced) as space:
        session = Session(space)
        ctx = Context(space, session, seed)
        try:
            jvm_start_s = session.start()
            start = time.perf_counter()
            wl.prepare(ctx)
            gen_s = time.perf_counter() - start
            warm_s = 0.0
            for kind in wl.kinds:
                try:
                    ok, spark_s = wl.warm(ctx, kind)
                except Exception as exc:  # noqa: BLE001 — a failed check is a result
                    print(f"perfbench: warm {kind} failed: {exc!r}", file=sys.stderr)
                    ok, spark_s = False, 0.0
                warm_ok[kind] = ok
                warm_s += spark_s
            # Further unchecked passes, so the timed ops start past the
            # steepest part of the JIT warm-up.
            for _ in range(wl.warm_passes - 1):
                for kind in wl.kinds:
                    warm_s += wl.run(ctx, kind, "warm", False).wall_s
            if traced:
                ctx.load_timer = LoadTimer()
            rounds = max(4 if traced else 1, round(wl.rounds * seconds / NOMINAL_SECONDS))
            measured_start = time.perf_counter()
            for r in range(rounds):
                kinds = wl.round_kinds(rng)
                # Traced runs mix hooked and plain rounds (ABBA, so the
                # JIT's downward trend biases neither), which measures
                # the hooks' cost in the same session.
                hooked = traced and r % 4 in (0, 3)
                for kind in kinds:
                    attempted += 1
                    tag = f"{attempted}:{kind}"
                    try:
                        rec = wl.run(ctx, kind, tag, hooked)
                    except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                        print(f"perfbench: {tag} failed: {exc!r}", file=sys.stderr)
                        rec = OpRecord(kind, 0.0, False, hooked)
                    if hooked:
                        session.job_group(None)
                    records.append(rec)
            measured_s = time.perf_counter() - measured_start
            vmhwm = layers.vm_hwm_mb(session.jvm_pid())
            if ctx.load_timer:
                ctx.load_timer.restore()
            wl.close()
        finally:
            session.stop()
        groups = layers.read_event_logs(space.events) if traced else {}

    ok_records = [r for r in records if r.ok and warm_ok.get(r.kind)]
    timed = [r for r in ok_records if not traced or r.traced]
    samples: dict[str, list[float]] = {}
    for rec in timed:
        samples.setdefault(rec.kind, []).append(rec.wall_s)
    summary = stats.summarize(samples)
    failed = attempted - len(ok_records)
    geo = stats.geomean([s["p50_s"] for s in summary.values()]) if summary else 0.0
    busy_s = sum(r.wall_s for r in ok_records)
    detail = {
        "workload": workload,
        "seed": seed,
        "nproc": NPROC,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "ops": summary,
        "checks": warm_ok,
        "setup": {"jvm_start_s": jvm_start_s, "gen_s": gen_s, "warm_s": warm_s},
        "measured_s": measured_s,
    }
    if isinstance(wl, EtlWorkload):
        detail["etl"] = _etl_figures(wl, timed)
    if traced:
        layer = _layer_metrics(wl, records, groups)
        plain: dict[str, list[float]] = {}
        for rec in ok_records:
            if not rec.traced:
                plain.setdefault(rec.kind, []).append(rec.wall_s)
        plain_geo = stats.geomean([statistics.median(v) for v in plain.values()]) if plain.keys() == samples.keys() else 0.0
        layer.update(
            jvm_start_s=jvm_start_s,
            warm_s=warm_s,
            driver_vmhwm_mb=vmhwm,
            traced_op_latency_geomean_s=geo,
            trace_overhead_ratio=geo / plain_geo if plain_geo else 0.0,
        )
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in layer.items()}
    else:
        metrics = {
            "setup_s": (jvm_start_s + gen_s + warm_s, "s"),
            "op_latency_geomean_s": (geo, "s"),
            "ops_per_min": (60.0 * len(ok_records) / busy_s if busy_s else 0.0, "1/min"),
            "ok_op_ratio": (len(ok_records) / attempted, "ratio"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def _etl_figures(wl: EtlWorkload, records: list[OpRecord]) -> dict[str, float]:
    reads = [[r.phases[read] for r in records if r.kind == "wh_read"] for read in WH_READS]
    loads = [r.wall_s for r in records if r.kind == "load"]
    return {
        "load_p50_s": statistics.median(loads) if loads else 0.0,
        "wh_read_p50_s": stats.geomean([statistics.median(v) for v in reads]) if reads[0] else 0.0,
        "stored_bytes_per_input_byte": statistics.median(w["bytes"] for w in wl.loads) / wl.csv_bytes,
    }


#: Per-layer metrics of a traced run and their units. A layer the
#: workload does not touch reads 0.
LAYER_UNITS = {
    "build_s": "s", "build_jobs": "count", "driver_gap_s": "s", "plan_s": "s", "exec_s": "s",
    "jobs_per_op": "count", "stages_per_op": "count", "tasks_per_op": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "B", "shuffle_read_bytes": "B", "spill_bytes": "B",
    "load_warehouse_s": "s", "pre_load_s": "s",
    "files_written": "count", "partitions_written": "count", "bytes_written": "B",
    "load_p50_s": "s", "wh_read_p50_s": "s", "stored_bytes_per_input_byte": "ratio",
    "jvm_start_s": "s", "warm_s": "s", "driver_vmhwm_mb": "MiB",
    "traced_op_latency_geomean_s": "s", "trace_overhead_ratio": "ratio",
}


def _layer_metrics(wl, records: list[OpRecord], groups: dict) -> dict[str, float]:
    """Per-op means over the hooked ops (counts repeat exactly per op type)."""
    hooked = [r for r in records if r.traced and r.ok]
    n = max(1, len(hooked))
    out = dict.fromkeys(LAYER_UNITS, 0.0)

    def per_op(values) -> float:
        return sum(values) / n

    stats_of = [[groups.get(g, layers.GroupStats()) for g in r.groups] for r in hooked]
    for key in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        out[key] = per_op(sum(getattr(g, key) for g in gs) for gs in stats_of)
    out["jobs_per_op"] = per_op(sum(g.jobs for g in gs) for gs in stats_of)
    out["stages_per_op"] = per_op(sum(g.stages for g in gs) for gs in stats_of)
    out["tasks_per_op"] = per_op(sum(g.tasks for g in gs) for gs in stats_of)
    out["driver_gap_s"] = per_op(
        r.wall_s - stats.union_length([iv for g in gs for iv in g.intervals]) for r, gs in zip(hooked, stats_of)
    )
    if isinstance(wl, QueryWorkload):
        out["build_jobs"] = per_op(gs[0].jobs for gs in stats_of)
        for key in ("build_s", "plan_s", "exec_s"):
            out[key] = per_op(r.phases[key] for r in hooked)
    else:
        loads = [r for r in hooked if r.kind == "load"]
        if loads:
            out["load_warehouse_s"] = statistics.median(r.phases["load_warehouse_s"] for r in loads)
            out["pre_load_s"] = statistics.median(r.phases["pre_load_s"] for r in loads)
        for key, src in (("files_written", "files"), ("partitions_written", "partitions"), ("bytes_written", "bytes")):
            out[key] = statistics.median(w[src] for w in wl.loads)
        out.update(_etl_figures(wl, hooked))
    return out
