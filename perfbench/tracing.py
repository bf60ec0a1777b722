"""The traced run (``--trace 1``): per-layer metrics.

Spans come from ``workloads.Tracer`` around the calls into each layer's
public functions; executor and exchange counters come from Spark's event
log (enabled by launch conf in run.host_settings), attributed to layers
by the job group each span sets.

One traced run measures every layer: the named workload runs an
untraced half and a traced half of ``--seconds`` (their medians give the
tracing overhead); each other workload is set up and traced for one job
so the layers only it exercises are measured too.  A layer's numbers
come from the named workload when it exercises the layer, otherwise
from the workload listed first in HOME.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np

HOME = {  # layer -> workloads that exercise it, preferred first
    "udf": ["project"],
    "cells": ["project", "resume"],
    "pages": ["join_tile", "resume"],
    "pip": ["join_tile"], "knn": ["join_tile"], "pyramid": ["join_tile"],
    "ckpt": ["resume"],
}
# float64 arrays in + out per point across the three kernel calls:
# utm 2 in / 3 out; cart.fwd3d, Helmert.fwd, cart.inv3d 3 / 3 each; Karney 4 / 3
KERNEL_BYTES_PER_PT = 8 * (5 + 18 + 7)


def _best_ns_per_pt(fn, n: int, reps: int = 5) -> float:
    fn()
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts) / n * 1e9


def operations_bench(seed: int, n: int) -> dict[str, float]:
    """Single-threaded kernel timings on the driver, on a seeded batch."""
    import gen
    import geomath
    from proj_spark import create
    from proj_spark.operations.karney import Geodesic
    from proj_spark.operations.tmerc import UTMBatch

    rng = np.random.default_rng([seed, 9])
    cid, _, lon, lat, _, _ = gen.geo_rows(rng, n)
    centre = np.asarray(gen.CITIES)[cid]
    utm = UTMBatch({"ellps": "GRS80"})
    cart = create("+proj=cart +ellps=GRS80")
    hel = create(geomath.HELMERT_PROJ)
    geod = Geodesic(geomath.WGS84_A, geomath.WGS84_F)
    lam, phi = np.radians(lon), np.radians(lat)

    def datum():
        x, y, z = cart.fwd3d(lam, phi, np.zeros_like(lam))
        cart.inv3d(*hel.fwd(x, y, z))

    return {
        "utm": _best_ns_per_pt(lambda: utm.fwd_deg(lon, lat), n),
        "datum": _best_ns_per_pt(datum, n),
        "karney": _best_ns_per_pt(lambda: geod.inverse(
            phi, lam, np.radians(centre[:, 1]), np.radians(centre[:, 0])), n),
    }


def _event_lines(path: str):
    """Lines of a rolling event log: the directory ``eventlog_v2_<app>``
    that Spark 4 writes by default, its ``events_<n>_<app>`` files in order."""
    files = sorted((int(f.split("_")[1]), f) for f in os.listdir(path) if f.startswith("events_"))
    for _, f in files:
        with open(os.path.join(path, f)) as fh:
            yield from fh


def parse_eventlog(path: str) -> tuple[dict, dict]:
    """Per job group: summed task counters, and per-stage task shuffle reads."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    reads: dict[tuple, list[float]] = defaultdict(list)
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for s in ev.get("Stage IDs", []):
                stage_group[s] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics") or {}
            c = groups[g]
            c["tasks"] += 1
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            reads[(g, ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))].append(
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    return groups, reads


def self_times(spans) -> dict[str, float]:
    """Per span name: summed self time (duration minus the part of it
    that child spans cover)."""
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        kids = sorted((c.start, c.end) for c in spans if c.parent == i)
        covered, edge = 0.0, s.start
        for a, b in kids:
            a, b = max(a, edge), min(b, s.end)
            if b > a:
                covered += b - a
                edge = b
        out[s.name] += s.end - s.start - covered
    return out


def run(args, name: str, settings: dict, rm) -> dict:
    from workloads import WORKLOADS, Tracer

    ops = operations_bench(args.seed, 20_000 if args.smoke else 200_000)
    spark = rm.start_session()
    local = settings["local"]
    tracers, attempted, failed = {}, 0, 0

    wl = WORKLOADS[name](rm.WORK, args.seed, args.smoke)
    wl.load_oracle()
    rm.setup_workload(spark, wl, local)
    half = args.seconds / 2.0
    t_plain, _, f = rm.timed_loop(spark, wl, Tracer(spark, False, "untraced"), half, 0, local)
    tracers[name] = Tracer(spark, True, "traced")
    t_traced, _, f2 = rm.timed_loop(spark, wl, tracers[name], half, 1000, local)
    attempted += len(t_plain) + len(t_traced)
    failed += f + f2
    for other, cls in WORKLOADS.items():
        if other == name:
            continue
        w = cls(rm.WORK, args.seed, args.smoke)
        w.load_oracle()
        rm.setup_workload(spark, w, local)
        tracers[other] = Tracer(spark, True, "traced")
        times, _, f = rm.timed_loop(spark, w, tracers[other], 0, 1000, local)
        attempted += len(times)
        failed += f
    app = spark.sparkContext.applicationId
    log = next(os.path.join(settings["events"], f) for f in os.listdir(settings["events"]) if app in f)
    rm.stop_session(spark)
    groups, reads = parse_eventlog(log)

    spans_path = os.path.join(rm.WORK, f"spans-{name}-s{args.seed}.json")
    with open(spans_path, "w") as fh:
        json.dump({w: [{"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                        "job": s.job, "rows": s.rows} for s in t.spans]
                   for w, t in tracers.items()}, fh)

    def home(layer: str) -> str:
        cands = HOME[layer]
        return name if name in cands else cands[0]

    def span_s(layer: str, span: str) -> float:
        tr = tracers[home(layer)]
        v = [s.end - s.start for s in tr.spans if s.name == span]
        return statistics.median(v)

    def count(layer: str, key: str) -> float:
        return tracers[home(layer)].counts[key]

    def group_sum(wl_name: str, key: str, layer_span: str | None = None) -> float:
        """Per traced job mean of an event-log counter of wl_name's jobs
        (optionally only the jobs a given layer span submitted)."""
        tot, jobs = 0.0, set()
        for g, c in groups.items():
            if not g:
                continue
            parts = g.split(":")
            if parts[0] != wl_name or parts[1] != "traced":
                continue
            jobs.add(parts[2])
            if layer_span is None or (len(parts) > 3 and parts[3] == layer_span):
                tot += c[key]
        return tot / max(1, len(jobs))

    skew = 1.0
    for (g, _, _), r in reads.items():
        if g and g.startswith(f"{name}:traced:") and len(r) > 1 and sum(r) > 0:
            med = statistics.median(r)
            skew = max(skew, max(r) / med if med > 0 else float(len(r)))

    # bridge = UDF stage time the kernels do not account for
    cpus = settings["cpus"]
    udf_spans = tracers[home("udf")].spans
    bridge = []
    for job, rows in {s.job: s.rows for s in udf_spans if s.name == "udf.utm"}.items():
        bridge.append(sum(s.end - s.start - ops[s.name[4:]] * rows / cpus / 1e9
                          for s in udf_spans if s.job == job and s.name.startswith("udf.")))
    plain_p50, traced_p50 = statistics.median(t_plain), statistics.median(t_traced)
    selfs = self_times(tracers[name].spans)
    n_jobs = len(t_traced)
    stale = count("ckpt", "ckpt.partitions_stale")
    metrics = {
        "operations.utm_ns_per_pt": (ops["utm"], "ns"),
        "operations.datum_ns_per_pt": (ops["datum"], "ns"),
        "operations.karney_ns_per_pt": (ops["karney"], "ns"),
        "operations.bytes_per_pt": (KERNEL_BYTES_PER_PT, "B"),
        "udf.utm_stage_s": (span_s("udf", "udf.utm"), "s"),
        "udf.datum_stage_s": (span_s("udf", "udf.datum"), "s"),
        "udf.karney_stage_s": (span_s("udf", "udf.karney"), "s"),
        "udf.bridge_s": (statistics.median(bridge), "s"),
        "udf.arrow_batches": (count("udf", "udf.arrow_batches"), "count"),
        "pages.scan_extract_s": (span_s("pages", "pages.scan_extract"), "s"),
        "pages.bytes_scanned": (group_sum(home("pages"), "input_bytes", "pages.scan_extract"), "B"),
        "pages.rows_in": (count("pages", "pages.rows_in"), "count"),
        "pages.geotag_hit_frac": (count("pages", "pages.rows_out") / count("pages", "pages.rows_in"), "frac"),
        "cells.encode_s": (span_s("cells", "cells.encode"), "s"),
        "pip.join_s": (span_s("pip", "pip.join"), "s"),
        "pip.candidates": (count("pip", "pip.candidates"), "count"),
        "pip.hits": (count("pip", "pip.hits"), "count"),
        "pip.refine_hit_frac": (count("pip", "pip.hits") / count("pip", "pip.candidates"), "frac"),
        "knn.radius_s": (span_s("knn", "knn.radius"), "s"),
        "knn.radius_candidates": (count("knn", "knn.radius_candidates"), "count"),
        "knn.radius_pairs": (count("knn", "knn.radius_pairs"), "count"),
        "knn.radius_hit_frac": (count("knn", "knn.radius_pairs") / count("knn", "knn.radius_candidates"), "frac"),
        "knn.self_s": (span_s("knn", "knn.self"), "s"),
        "knn.self_candidates": (count("knn", "knn.self_candidates"), "count"),
        "knn.self_hit_frac": (count("knn", "knn.self_hits") / count("knn", "knn.self_candidates"), "frac"),
        "pyramid.s": (span_s("pyramid", "pyramid"), "s"),
        "pyramid.tiles": (count("pyramid", "pyramid.tiles"), "count"),
        "ckpt.fingerprint_s": (span_s("ckpt", "ckpt.fingerprint"), "s"),
        "ckpt.write_s": (span_s("ckpt", "ckpt.write"), "s"),
        "ckpt.partitions_stale": (stale, "count"),
        "ckpt.partitions_written": (count("ckpt", "ckpt.partitions_written"), "count"),
        "ckpt.rewrite_frac": (count("ckpt", "ckpt.partitions_written") / stale, "frac"),
        "ckpt.bytes_written": (count("ckpt", "ckpt.bytes_written"), "B"),
        "ckpt.lineage_commits": (count("ckpt", "ckpt.lineage_commits"), "count"),
        "shuffle.bytes_written": (group_sum(name, "shuffle_bytes"), "B"),
        "shuffle.records": (group_sum(name, "shuffle_records"), "count"),
        "shuffle.spill_bytes": (group_sum(name, "spill_bytes"), "B"),
        "shuffle.task_skew": (skew, "ratio"),
        "exec.cpu_s": (group_sum(name, "cpu_s"), "s"),
        "exec.gc_s": (group_sum(name, "gc_s"), "s"),
        "exec.tasks": (group_sum(name, "tasks"), "count"),
        "trace.untraced_job_s_p50": (plain_p50, "s"),
        "trace.traced_job_s_p50": (traced_p50, "s"),
        "trace.overhead_frac": (traced_p50 / plain_p50 - 1.0, "frac"),
        "trace.job_self_s": (selfs.get("job", 0.0) / max(1, n_jobs), "s"),
    }
    info = {"spans_file": os.path.relpath(spans_path, rm.ROOT), "event_log": os.path.relpath(log, rm.ROOT),
            "untraced_jobs": len(t_plain), "traced_jobs": n_jobs,
            "self_s_per_job": {k: round(v / max(1, n_jobs), 4) for k, v in selfs.items()},
            "layer_source": {layer: home(layer) for layer in HOME}}
    return {"metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            "attempted": attempted, "failed": failed, "info": info}

