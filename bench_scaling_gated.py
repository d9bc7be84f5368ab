#!/usr/bin/env python
"""Steal-gated scaling-efficiency evidence: interleaved fresh-JVM runs
at local[N] and local[4N], each annotated with the hypervisor CPU-steal
measured across the run, so contaminated runs are identified by a
direct hardware signal instead of guessed from wall-clock outliers.

Why steal gating rather than paired co-running of the two levels:
this sandbox is a Firecracker guest on a shared host; co-tenant bursts
show up as *steal time* in /proc/stat (measured: an identical 6-second
job ran 190.5 s while 304 stolen core-seconds accumulated, and 6.3 s
when steal was ~0). Steal is per-run measurable, so the de-noising
problem inverts: instead of engineering runs whose noise cancels
(paired co-running — which self-contends, biasing efficiency DOWN), run
each level alone on an otherwise-idle guest, measure the poison
directly, and keep only clean samples. A run is QUIET when the average
stolen cores across its wall (steal_ticks / 100 / wall) is below
STEAL_GATE (default 0.1 of one core) — contaminated runs are kept in
the record but excluded from the headline min-of-K.

Both levels run the identical job (same input, same code, fresh JVM,
-XX:ActiveProcessorCount pinned to the level, taskset-pinned to a
disjoint CPU set like an N-core executor container, AQE off with
2*cpus shuffle partitions — see bench.build_spark for why), so
efficiency_min = T_lo_min / (factor * T_hi_min) over quiet runs is the
two-cluster-size scaling proxy the north rule asks for. Per-run
CPU-seconds (sum over the process tree) pin work conservation: the 4N
level must not do more total work, only spread it.

Usage: python bench_scaling_gated.py [rows] [pairs] [N] [4N]
(defaults 4_000_000, 8, 2, 8); pairs=0 recomputes the summary from the
accumulated result file. Results accumulate across invocations in
BENCH/scaling_gated_{N}_{4N}.json (one JSON line per run printed live).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

#: headline gate: average stolen cores across the run's wall
STEAL_GATE = float(os.environ.get("STEAL_GATE", "0.1"))

RUNNER = r"""
import atexit, json, os, shutil, sys, time, tempfile
_scratch = tempfile.mkdtemp(prefix="og_local_", dir="/dev/shm")
os.environ["SPARK_LOCAL_DIRS"] = _scratch
atexit.register(lambda: shutil.rmtree(_scratch, ignore_errors=True))
from bench import build_spark
from ontograph_spark.pipeline.construct import construct_kg
from ontograph_spark.pipeline.materialize import salted_repartition

def steal_ticks():
    return int(open("/proc/stat").readline().split()[8])

def tree_cpu_sec():
    hz = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    ppids, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2:].split()
        ppids[int(d)] = int(rest[1])
        ticks[int(d)] = int(rest[11]) + int(rest[12])
    def is_desc(pid):
        seen = 0
        while pid > 1 and seen < 64:
            if pid == me:
                return True
            pid = ppids.get(pid, 0)
            seen += 1
        return pid == me
    return sum(t for p, t in ticks.items() if is_desc(p)) / hz

cpus, src = int(sys.argv[1]), sys.argv[2]
spark = build_spark(cpus, jvm_cpus=cpus, aqe=False, ui=True)
spark.sparkContext.setLogLevel("ERROR")
files = spark.read.parquet(src)

import urllib.request
_ui = spark.sparkContext.uiWebUrl
_app = spark.sparkContext.applicationId

def task_cpu_sec():
    # sum of per-task executorCpuTime over all COMPLETE stages: the
    # work-conservation instrument (process-tree sampling undercounts when
    # python workers exit between samples)
    try:
        with urllib.request.urlopen(f"{_ui}/api/v1/applications/{_app}/stages") as r:
            stages = json.load(r)
        return sum(
            s.get("executorCpuTime", 0) / 1e9
            for s in stages
            if s.get("status") == "COMPLETE"
        )
    except Exception:
        return float("nan")

def one(frac=None):
    inp = files.sample(frac, seed=7) if frac else files
    out = tempfile.mkdtemp(prefix="og_scale_out_", dir="/dev/shm")
    t0 = time.time()
    quads = construct_kg(spark, inp)
    salted_repartition(quads, spark.sparkContext.defaultParallelism).write.mode(
        "overwrite").parquet(out)
    wall = time.time() - t0
    n = spark.read.parquet(out).count()
    shutil.rmtree(out, ignore_errors=True)
    return wall, n

one(0.05)  # warmup: codegen compile, python worker spin-up (untimed)
spark.catalog.clearCache()
for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
    rdd.unpersist()
cpu1, s1, tc1 = tree_cpu_sec(), steal_ticks(), task_cpu_sec()
wall, triples = one()  # ONE timed run per JVM
cpu2, s2, tc2 = tree_cpu_sec(), steal_ticks(), task_cpu_sec()
spark.stop()
print(json.dumps({"wall": wall, "triples": triples,
                  "cpu_sec": round(cpu2 - cpu1, 1),
                  "task_cpu_sec": round(tc2 - tc1, 1),
                  "steal_core_sec": round((s2 - s1) / 100.0, 1)}))
"""

BW_PROBE = r"""
import json, sys, time
import numpy as np
a = np.zeros(200_000_000, dtype=np.uint8)
b = np.zeros_like(a)
while True:
    t = []
    for _ in range(3):
        t0 = time.perf_counter()
        b[:] = a
        t.append(time.perf_counter() - t0)
    print(json.dumps({"gbps": round(0.2 / min(t), 2)}), flush=True)
    time.sleep(15)
"""

REPO = os.path.dirname(os.path.abspath(__file__))


def _generate_source(rows: int, src: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable,
            "-c",
            "from bench import build_spark\n"
            "from ontograph_spark.pipeline.repo_source import synthesize_repo_table\n"
            "spark = build_spark(32)\n"
            f"synthesize_repo_table(spark, {rows}, partitions=128)"
            f".write.mode('overwrite').parquet('{src}')\n"
            "spark.stop()\n",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
    )


def run_once(cpus: int, src: str, cpuset: str, probe_cpu: str = "31") -> dict:
    """One fresh-JVM run, taskset-pinned so the JVM and its python
    workers behave like an N-core executor container. A single-threaded
    memcpy probe pinned to a cpu OUTSIDE the run's set samples achievable
    memory bandwidth every 15 s for the run's duration — co-tenant
    bandwidth contention is the noise source /proc/stat steal cannot see
    (observed: identical runs burning 485 vs 1023 task-cpu-s at steal=0)."""
    load0 = os.getloadavg()[0]
    for attempt in (1, 2):
        probe = subprocess.Popen(
            ["taskset", "-c", probe_cpu, sys.executable, "-c", BW_PROBE],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        try:
            p = subprocess.run(
                ["taskset", "-c", cpuset, sys.executable, "-c", RUNNER, str(cpus), src],
                capture_output=True,
                text=True,
                cwd=REPO,
            )
        finally:
            probe.terminate()
            bw = []
            try:
                for line in probe.stdout:
                    try:
                        bw.append(json.loads(line)["gbps"])
                    except ValueError:
                        pass
            except Exception:
                pass
            probe.wait()
        if p.returncode == 0:
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["load_at_start"] = round(load0, 1)
            r["stolen_cores_avg"] = round(r["steal_core_sec"] / r["wall"], 3)
            r["quiet"] = r["stolen_cores_avg"] <= STEAL_GATE
            if bw:
                r["bw_gbps_med"] = statistics.median(bw)
                r["bw_gbps_min"] = min(bw)
            return r
        sys.stderr.write(p.stderr[-2000:])
        sys.stderr.write(f"\nrunner local[{cpus}] attempt {attempt} failed\n")
    raise RuntimeError(f"runner local[{cpus}] failed twice")


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_lo = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n_hi = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    factor = n_hi / n_lo
    out_path = f"BENCH/scaling_gated_{n_lo}_{n_hi}.json"

    runs: dict[str, list[dict]] = {"lo": [], "hi": []}
    if os.path.exists(out_path):  # accumulate across invocations
        try:
            prior = json.load(open(out_path))
            if prior.get("rows") == rows and prior.get("levels") == [n_lo, n_hi]:
                runs = {"lo": list(prior["runs"]["lo"]), "hi": list(prior["runs"]["hi"])}
        except Exception:
            pass

    def write_out() -> None:
        if not (runs["lo"] and runs["hi"]):
            return
        quiet_lo = [r["wall"] for r in runs["lo"] if r["quiet"]]
        quiet_hi = [r["wall"] for r in runs["hi"] if r["quiet"]]
        all_lo = [r["wall"] for r in runs["lo"]]
        all_hi = [r["wall"] for r in runs["hi"]]
        eff_quiet = (
            round(min(quiet_lo) / (factor * min(quiet_hi)), 3)
            if quiet_lo and quiet_hi
            else None
        )

        def best(level):
            rs = [r for r in runs[level] if r["quiet"]] or runs[level]
            return min(rs, key=lambda r: r["wall"])

        conservation = {
            lv: {
                "wall": round(best(lv)["wall"], 1),
                "task_cpu_sec": best(lv).get("task_cpu_sec"),
                "bw_gbps_med": best(lv).get("bw_gbps_med"),
            }
            for lv in ("lo", "hi")
        }
        out = {
            "rows": rows,
            "levels": [n_lo, n_hi],
            "steal_gate_cores": STEAL_GATE,
            "methodology": "interleaved fresh-JVM runs per level, taskset-pinned "
            "to a disjoint N-cpu set with the JVM's ActiveProcessorCount capped "
            "to N (an N-core executor container), AQE off / 2N shuffle "
            "partitions at both levels; per-run hypervisor steal from "
            "/proc/stat gates the headline: efficiency_quiet = min quiet lo "
            "wall / (factor * min quiet hi wall); contaminated runs stay in "
            "the record; per-run tree CPU-seconds pin work conservation",
            "runs": runs,
            "quiet_runs": {"lo": len(quiet_lo), "hi": len(quiet_hi)},
            "efficiency_quiet_min": eff_quiet,
            # task_cpu_sec of each level's best run: if hi ≈ lo the 4x level
            # does the same total work, only spread — per-run inflation above
            # that is host bandwidth contention (see bw_gbps_med)
            "best_run_work": conservation,
            "efficiency_ungated_min": round(min(all_lo) / (factor * min(all_hi)), 3),
            "efficiency_median": round(
                statistics.median(all_lo) / (factor * statistics.median(all_hi)), 3
            ),
            "throughput_lo_best": round(runs["lo"][0]["triples"] / min(all_lo), 1),
            "throughput_hi_best": round(runs["hi"][0]["triples"] / min(all_hi), 1),
        }
        os.makedirs("BENCH", exist_ok=True)
        with open(out_path, "w") as f:
            json.dump(out, f, indent=2)

    src = tempfile.mkdtemp(prefix="og_gatesrc_", dir="/dev/shm")
    gen = _generate_source(rows, src)
    if gen.returncode != 0:
        sys.stderr.write(gen.stderr[-2000:])
        sys.exit(1)
    lo_set = f"0-{n_lo - 1}" if n_lo > 1 else "0"
    hi_set = f"0-{n_hi - 1}" if n_hi > 1 else "0"
    try:
        for p in range(pairs):
            for level, cpus, cpuset in (("lo", n_lo, lo_set), ("hi", n_hi, hi_set)):
                try:
                    r = run_once(cpus, src, cpuset)
                except RuntimeError as e:
                    sys.stderr.write(f"{e}\n")
                    continue
                r["level"] = level
                runs[level].append(r)
                print(json.dumps(r), flush=True)
                write_out()  # checkpoint after every run
    finally:
        shutil.rmtree(src, ignore_errors=True)

    write_out()
    if os.path.exists(out_path):
        summary = json.load(open(out_path))
        print(json.dumps({k: v for k, v in summary.items() if k != "runs"}))


if __name__ == "__main__":
    main()
