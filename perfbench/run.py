"""Spine benchmark for the proj_spark engine.

    python3 perfbench/run.py --workload {project,join_tile,resume} --seed N
                             --seconds S --trace {0,1} [--smoke]

Closed loop, one client: a single driver process submits one job, waits
for its result, checks it against the DuckDB oracle, then submits the
next, against Spark local[nproc].  Inputs, oracles, Spark local dirs,
event logs and checkpoints live under ``.perfbench_work/`` in the
checkout.  The last stdout line is the JSON result; the lines above it
print every metric with its unit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
WARMUP_JOBS = 2


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_settings(trace: bool) -> dict:
    """Pin Spark's resources from outside the program and keep every
    file it writes under WORK."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    mem_gb = max(1, min(4, mem_kb // (1024 * 1024) // 4))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    events = os.path.join(WORK, "eventlog")
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    # the heap is committed and touched up front, so the JVM's share of
    # peak_rss_mb is fixed and does not depend on when G1 grows the heap;
    # what moves it is Python-worker and off-heap memory
    submit = [
        "--driver-memory", f"{mem_gb}g",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{mem_gb}g -XX:+AlwaysPreTouch",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf", f"spark.local.dir={local}",
    ]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false"]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "OMP_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return {"cpus": cpus, "driver_mem": f"{mem_gb}g", "events": events, "local": local,
            "env": {k: v for k, v in env.items() if k != "PYSPARK_PYTHON"}}


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and its Python descendants (the
    workers), read from /proc every 50 ms.  Other descendants are left
    out: a helper the JVM forks shows the JVM's whole RSS until it execs,
    which would count the JVM twice."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._halt = threading.Event()

    def _tree_rss(self) -> int:
        kids: dict[int, list[tuple[int, str]]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        head, rest = fh.read().rsplit(")", 1)
                    ppid = int(rest.split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append((int(d), head.split("(", 1)[1]))
        total, todo = 0, [(self.pid, "java")]
        while todo:
            p, comm = todo.pop()
            todo.extend(kids.get(p, []))
            if p != self.pid and not comm.startswith("python"):
                continue
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._halt.wait(0.05):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self):
        self._halt.set()
        self.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share stolen by the hypervisor over a run tells a slow host apart
    from a slow program."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def clear_persisted(spark) -> None:
    """Per-job isolation: drop persisted DataFrames/RDDs, force a JVM GC."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
    spark.sparkContext._jvm.System.gc()


def corrupt_output(out: dict) -> None:
    """Shift one value of the first output table by one unit (--corrupt)."""
    df = out[sorted(out)[0]]
    col = next(c for c in df.columns if df[c].dtype.kind in "if")
    df.loc[df.index[0], col] += 1


def run_job(spark, wl, tr, i: int, check: bool, local: str,
            corrupt: bool = False) -> tuple[float, bool, int]:
    """One job: (wall seconds, output correct, bytes it left on disk)."""
    import oracle
    wl.before_job(i)
    t_wall = time.time()
    t0 = time.perf_counter()
    tr.start_job(i, f"{wl.name}:{tr.phase}:{i}")
    try:
        out = wl.job(spark, tr, i)
        ok = True
    except Exception:  # noqa: BLE001 -- a failed job is counted, the loop goes on
        traceback.print_exc()
        out, ok = None, False
    dt = time.perf_counter() - t0
    tr.end_job()
    if ok and corrupt:
        corrupt_output(out)
    if ok and check:
        issues = oracle.compare(out, wl.expected(i))
        for s in issues:
            print(f"MISMATCH {wl.name} job {i}: {s}", file=sys.stderr)
        ok = not issues
    from workloads import dir_bytes
    left = dir_bytes(local, t_wall)[0] + dir_bytes(getattr(wl, "ckpt", wl.dir + "/none"), t_wall)[0]
    if ok and tr.enabled:
        wl.trace_counts(tr)
    clear_persisted(spark)
    return dt, ok, left


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when fewer than eleven samples."""
    s = sorted(times)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def timed_loop(spark, wl, tr, seconds: float, first: int, local: str,
               check: bool = True, corrupt: bool = False):
    times, stored, failed = [], [], 0
    i = first
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not times:
        dt, ok, left = run_job(spark, wl, tr, i, check, local, corrupt)
        times.append(dt)
        stored.append(left / wl.job_rows())
        failed += not ok
        i += 1
    return times, stored, failed


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, and with it the Python workers, to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    proc.wait(timeout=120)


def start_session():
    from proj_spark.spark.session import get_spark
    return get_spark("perfbench")


def setup_workload(spark, wl, local: str) -> list[float]:
    """Workload set-up, then the warm-up jobs, then SETUP_REPEATS - 1
    more workload set-ups; returns (warm-up seconds, [set-up seconds])."""
    from workloads import Tracer
    setups = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
        if k == 0:
            t0 = time.perf_counter()
            tr = Tracer(spark, False, phase="warm")
            for i in range(WARMUP_JOBS):
                run_job(spark, wl, tr, 10_000 + i, False, local)
            warm = time.perf_counter() - t0
    return warm, setups


def metric(name, value, unit):
    return name, {"value": value, "unit": unit}


def end_to_end(args, wl, settings) -> dict:
    from workloads import Tracer
    # set-up = session start + warm-up jobs (once each: the JVM and its
    # Python workers start once per process) + the median of
    # SETUP_REPEATS workload set-ups (the resume checkpoint write)
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    # peak memory over set-up and the timed jobs: the peak a user of the
    # process sees, including the checkpoint writes of resume's set-up
    rss = RssSampler(spark.sparkContext._gateway.proc.pid)
    rss.start()
    warm_s, setups = setup_workload(spark, wl, settings["local"])
    tr = Tracer(spark, False, phase="timed")
    steal0, total0 = cpu_ticks()
    times, stored, failed = timed_loop(spark, wl, tr, args.seconds, 0, settings["local"],
                                       corrupt=settings["corrupt"])
    steal1, total1 = cpu_ticks()
    rss.stop()
    stop_session(spark)
    p50 = statistics.median(times)
    t_val, t_pct = tail(times)
    n = len(times)
    m = dict([
        metric("setup_s", session_s + warm_s + statistics.median(setups), "s"),
        metric("job_s_p50", p50, "s"),
        metric("job_s_tail", t_val, "s"),
        metric("rows_per_s", wl.job_rows() / p50, "rows/s"),
        metric("ok_frac", (n - failed) / n, "frac"),
        metric("peak_rss_mb", rss.peak / 2**20, "MB"),
        metric("stored_bytes_per_row", statistics.median(stored), "B/row"),
    ])
    info = {"tail_percentile": round(t_pct, 1), "jobs": n, "fail_frac": failed / n,
            "job_times_s": [round(t, 3) for t in times],
            "cpu_steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4),
            "session_start_s": round(session_s, 3), "warmup_s": round(warm_s, 3),
            "workload_setup_runs_s": [round(s, 3) for s in setups], "rows_per_job": wl.job_rows()}
    return {"metrics": m, "attempted": n, "failed": failed, "info": info}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["project", "join_tile", "resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the test")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb every job output before the check (tests the gate)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "proj_spark")):
        fail(f"no proj_spark package beside {HERE}; run from a checkout of the repository")
    sys.path[:0] = [HERE, ROOT]
    settings = host_settings(bool(args.trace))
    settings["corrupt"] = args.corrupt
    import workloads

    t0 = time.perf_counter()
    names = [args.workload] if not args.trace else list(workloads.WORKLOADS)
    for name in names:
        wl = workloads.WORKLOADS[name](WORK, args.seed, args.smoke)
        wl.generate()
        wl.load_oracle()
    prep_s = time.perf_counter() - t0

    if args.trace:
        import tracing
        res = tracing.run(args, args.workload, settings, sys.modules[__name__])
    else:
        wl = workloads.WORKLOADS[args.workload](WORK, args.seed, args.smoke)
        wl.load_oracle()
        res = end_to_end(args, wl, settings)
    res["info"].update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                        "input_and_oracle_s": round(prep_s, 3), "cpus": settings["cpus"],
                        "driver_mem": settings["driver_mem"], "env": settings["env"]})
    for k, v in res["metrics"].items():
        print(f"{k:28s} {v['value']:.6g} {v['unit']}")
    # fail_frac is printed but kept out of the result: a result metric may not be 0
    print(f"{'fail_frac':28s} {res['failed'] / res['attempted']:.6g} frac")
    print("# " + json.dumps(res["info"]))
    ok = res["failed"] == 0 and res["attempted"] >= 1
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": {k: {"value": float(v["value"]) if not math.isnan(v["value"]) else 0.0,
                                      "unit": v["unit"]} for k, v in res["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
