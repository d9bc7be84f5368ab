"""Shared machinery of the benchmark: the work directory, the Spark session
and its shutdown, CPU and host-noise sampling, statistics, the span tracer
and the helpers the output checks share.

Nothing here imports ``ontograph_spark``; the workloads do, so a checkout
without the program fails at import time, before any result is printed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import urllib.request
from contextlib import contextmanager


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# -- work directory ----------------------------------------------------------


class WorkDir:
    """Per-run scratch space inside the checkout (``.perfbench/``).

    Spark's local dirs, the JVM's temp dir and every input or output file
    of the run live under ``path``; :meth:`remove` deletes it when the run
    ends. Traces and run records go to ``.perfbench/traces`` and survive.
    """

    def __init__(self, root: str, workload: str, seed: int) -> None:
        self.base = os.path.join(root, ".perfbench")
        self.path = os.path.join(self.base, f"work-{workload}-{seed}-{os.getpid()}")
        self.traces = os.path.join(self.base, "traces")
        os.makedirs(os.path.join(self.path, "tmp"), exist_ok=True)
        os.makedirs(self.traces, exist_ok=True)
        # Python's tempfile and the JVM child inherit this
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


# -- Spark session -----------------------------------------------------------


def build_spark(work: WorkDir, app: str, trace: bool):
    """``local[nproc - 1]`` with the product settings of the repo's bench
    harness (AQE on, 2 MB split packing, UTC), sized for a small host.
    One core stays free for the driver JVM's JIT compiler and GC, the
    Python driver and DuckDB: with every core running tasks, the JIT
    warms up at a different pace in every process and the timed round's
    wall varied three times as much from run to run (see the README).
    The status UI (and so its REST API) is on only in the traced run."""
    from pyspark.sql import SparkSession

    n = max(cpu_count() - 1, 1)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(max(n * 4, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "256k")
        .config("spark.sql.adaptive.advisoryPartitionSizeInMB", "8")
        .config("spark.sql.limit.initialNumPartitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work.sub("spark-local"))
        .config("spark.sql.warehouse.dir", work.sub("warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work.sub('tmp')}")
        .config("spark.ui.enabled", "true" if trace else "false")
    )
    if trace:
        # keep every job and stage of the run in the status store, so the
        # spans can be resolved after the timed window
        b = (
            b.config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.ui.retainedTasks", "1000000")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then shut the py4j gateway down and wait for the
    JVM process (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — best effort; the wait below decides
            pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def release_caches(spark) -> None:
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of process
    ``root`` and all its descendants: the Spark JVM and its Python workers.
    Time the hypervisor steals from the host is not charged to them."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            ticks += procs[pid][1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


# -- host noise --------------------------------------------------------------


def _cpu_sample() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


class HostNoise:
    """CPU steal share and load average over the timed window."""

    def start(self) -> None:
        self.s0, self.t0 = _cpu_sample()
        self.load_start = os.getloadavg()[0]

    def stop(self) -> dict:
        s1, t1 = _cpu_sample()
        return {
            "steal_pct": 100.0 * (s1 - self.s0) / max(t1 - self.t0, 1),
            "load1_start": self.load_start,
            "load1_end": os.getloadavg()[0],
        }


# -- statistics --------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- tracing -----------------------------------------------------------------


class Tracer:
    """Spans around calls into the program's layers.

    Every span gets its own Spark job group; when tracing is on, the jobs
    of each group are resolved through ``StatusTracker`` and the stage
    task metrics through the status REST API after the timed window. All
    spans stay in memory until :meth:`write`. With tracing off a span only
    records its wall time, so both runs time exactly the same calls.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        #: True inside the timed window; only those spans feed metrics
        self.timed = False

    @contextmanager
    def span(self, name: str, **attrs):
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._n,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._n}",
            "timed": self.timed,
            **attrs,
        }
        if self.enabled:
            self.sc.setJobGroup(sp["group"], name)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["wall_s"] = sp["end"] - sp["start"]
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    # -- resolution (traced run only) ----------------------------------

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())

    def resolve(self) -> None:
        """Attach job, stage and task metrics to every span (own jobs
        only; a parent's totals are the sum over its subtree)."""
        if not self.enabled:
            return
        tracker = self.sc.statusTracker()
        # the status store is fed asynchronously: wait until every job the
        # tracker knows of has finished being recorded
        deadline = time.time() + 20
        while time.time() < deadline:
            if not tracker.getActiveJobsIds() and not tracker.getActiveStageIds():
                break
            time.sleep(0.1)
        time.sleep(0.5)
        stages = {}
        for st in self._rest("/stages?status=complete"):
            key = st["stageId"]
            if key not in stages or st["attemptId"] > stages[key]["attemptId"]:
                stages[key] = st
        skew_cache: dict[int, float] = {}

        def stage_skew(sid: int) -> float:
            if sid not in skew_cache:
                st = stages[sid]
                q = self._rest(
                    f"/stages/{sid}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )
                med, mx = q["executorRunTime"]
                skew_cache[sid] = mx / med if med > 0 else 1.0
            return skew_cache[sid]

        for sp in self.spans:
            job_ids = sorted(tracker.getJobIdsForGroup(sp["group"]))
            stage_ids = []
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.extend(info.stageIds)
            done = [stages[s] for s in stage_ids if s in stages]
            sp["jobs"] = len(job_ids)
            sp["stages"] = len(done)
            sp["tasks"] = sum(s["numCompleteTasks"] for s in done)
            sp["task_time_s"] = sum(s["executorRunTime"] for s in done) / 1e3
            sp["executor_cpu_s"] = sum(s["executorCpuTime"] for s in done) / 1e9
            sp["gc_s"] = sum(s.get("jvmGcTime", 0) for s in done) / 1e3
            sp["spill_bytes"] = sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in done
            )
            sp["shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in done)
            # skew of the stage that carried most of the task time
            big = [s for s in done if s["numCompleteTasks"] > 1]
            if big:
                dom = max(big, key=lambda s: s["executorRunTime"])
                sp["task_skew"] = stage_skew(dom["stageId"])
            else:
                sp["task_skew"] = 1.0
        # subtree totals for the op-level spans
        by_id = {sp["id"]: sp for sp in self.spans}
        for sp in self.spans:
            sp["tree"] = {k: sp[k] for k in _ADDITIVE}
        for sp in sorted(self.spans, key=lambda s: -s["id"]):
            if sp["parent"] is not None and sp["parent"] in by_id:
                ptree = by_id[sp["parent"]]["tree"]
                for k in _ADDITIVE:
                    ptree[k] += sp["tree"][k]

    def named(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name and sp["timed"]]

    def med(self, name: str, key: str) -> float:
        return median(sp.get(key, 0.0) for sp in self.named(name))

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


_ADDITIVE = (
    "jobs",
    "stages",
    "tasks",
    "task_time_s",
    "executor_cpu_s",
    "gc_s",
    "spill_bytes",
    "shuffle_bytes",
)


# -- checks ------------------------------------------------------------------


class CheckFailed(Exception):
    """An output of the program differs from the independent computation."""


def same_rows(label: str, got, expected) -> None:
    """Multiset equality of row tuples; raises with a short diff."""
    g = sorted(got)
    e = sorted(expected)
    if g != e:
        gs, es = set(g), set(e)
        raise CheckFailed(
            f"{label}: {len(g)} rows vs {len(e)} expected; "
            f"missing {sorted(es - gs)[:3]}, extra {sorted(gs - es)[:3]}"
        )


def must_reject(label: str, check, corrupted) -> None:
    """Prove a check can fail: it must raise on a corrupted output."""
    try:
        check(corrupted)
    except CheckFailed:
        return
    raise CheckFailed(f"{label}: check accepted a corrupted output")


def drop_one(rows: list[tuple]) -> list[tuple]:
    """The output with one row dropped (the smallest, so it is stable)."""
    rows = sorted(rows)
    return rows[1:]


def alter_one(rows: list[tuple]) -> list[tuple]:
    """The output with one term of one row altered."""
    rows = sorted(rows)
    first = list(rows[0])
    first[-1] = f"{first[-1]}~"
    return [tuple(first)] + rows[1:]


def duck(work: WorkDir):
    """A DuckDB connection that spills into the run's work directory."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work.sub('duckdb')}'")
    con.execute("SET memory_limit = '2GB'")
    return con


def sql_diff(con, a: str, b: str) -> int:
    """Rows in which two SQL relations differ as multisets."""
    return con.sql(
        f"SELECT count(*) FROM ((({a}) EXCEPT ALL ({b})) UNION ALL (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]


def _numbered(rel: str) -> str:
    # row_number() without an order: one streaming pass, no sort
    return f"SELECT *, row_number() OVER () AS rn FROM ({rel})"


def sql_drop_one(rel: str) -> str:
    """A SQL relation with one row dropped."""
    return f"SELECT * EXCLUDE (rn) FROM ({_numbered(rel)}) WHERE rn > 1"


def sql_alter_one(rel: str, cols: list[str]) -> str:
    """A SQL relation with the last column of one row altered."""
    *keep, last = cols
    return (
        f"SELECT {', '.join(keep)}, CASE WHEN rn = 1 THEN {last} || '~' ELSE {last} END AS {last} "
        f"FROM ({_numbered(rel)})"
    )


def sql_copy_one(rel: str) -> str:
    """A SQL relation with one row altered into a copy of another."""
    numbered = _numbered(rel)
    return (
        f"SELECT * EXCLUDE (rn) FROM ({numbered}) WHERE rn > 1 "
        f"UNION ALL SELECT * EXCLUDE (rn) FROM ({numbered}) WHERE rn = 2"
    )


def dir_bytes(path: str, fresh_only: bool = False) -> int:
    """Bytes of the data files under ``path``; with ``fresh_only`` only
    files with one hard link (written by this commit, not linked)."""
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            if fn.startswith(".") or fn.startswith("_"):
                continue
            st = os.stat(os.path.join(dp, fn))
            if not fresh_only or st.st_nlink == 1:
                total += st.st_size
    return total


def data_files(path: str) -> int:
    return sum(
        1
        for _dp, _dn, fns in os.walk(path)
        for fn in fns
        if fn.endswith(".parquet")
    )
