"""Turns one run record of `graftbench.Main` into the benchmark's metrics.

The JVM records raw samples, spans and listener counters; everything that
is a statistic (percentiles, self time, per-cell sums) is computed here.
"""
import math
import random
import statistics

MB = 1024.0 * 1024.0
# The cell's direct child spans: the three layers a cell passes through.
LAYERS = ("Queries.build", "catalyst.plan", "execute")


def pass_orders(seed, n_cells, n_passes):
    """One seeded permutation of the cells per pass: the seed fixes every
    pass's order, and consecutive passes differ."""
    rng = random.Random(seed)
    return [rng.sample(range(n_cells), n_cells) for _ in range(n_passes)]


def tail_percentile(values, p, min_beyond=10):
    """The nearest-rank p-th percentile, or None unless at least
    `min_beyond` samples lie above its rank."""
    n = len(values)
    rank = max(1, math.ceil(p * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def highest_percentile(values, min_beyond=10):
    """(p, value) of the highest percentile with `min_beyond` samples
    beyond it, or None when there are not enough samples."""
    n = len(values)
    if n <= min_beyond:
        return None
    rank = n - min_beyond
    return rank / n, sorted(values)[rank - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        a = max(a, cur)
        total += b - a
        cur = b
    return total


def self_times(spans):
    """{id: self time} for spans given as dicts with id, parent, start,
    end: a span's duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(rec, launch_epoch_s, bad_cells, traced):
    """Every end-to-end metric of one run, from its timed passes that are
    traced or not as `traced` says, as {name: (value, unit, samples)};
    then the attempted and failed cell counts."""
    passes = [p for p in rec["passes"] if p["timed"] and p["traced"] == traced]
    timed = {p["pass"] for p in passes}
    samples = [s for s in rec["samples"] if s["pass"] in timed]
    failed = [s for s in samples if s["error"] or s["cell"] in bad_cells]
    ok = [s["wall_s"] for s in samples if not (s["error"] or s["cell"] in bad_cells)]
    wall = sum(p["wall_s"] for p in passes)
    cpu = sum(p["cpu_s"] for p in passes)
    n = len(samples)
    p90 = tail_percentile(ok, 0.9)
    return {
        "setup_s": (rec["first_timed_epoch_ms"] / 1e3 - launch_epoch_s, "s", 1),
        "cells_per_s": (len(ok) / wall if wall else 0.0, "1/s", len(ok)),
        "cell_p50_s": (statistics.median(ok) if ok else None, "s", len(ok)),
        "cell_p90_s": (p90, "s", len(ok)),
        "cpu_s_per_cell": (cpu / n if n else None, "s", n),
        "peak_rss_mb": (rec["vmhwm_kb"] / 1024.0, "MB", 1),
        "failed_frac": (len(failed) / n if n else 1.0, "ratio", n),
    }, n, len(failed)


def per_layer(rec, result_rows):
    """Every per-layer metric of the traced passes, as {name: (value,
    unit, samples)}: each is a per-cell sum over the cell's spans,
    averaged over the traced cells, so that sparse events (a compile, a
    spill, a rebuilt artifact) show instead of vanishing in a median."""
    traced = [i for i, s in enumerate(rec["samples"]) if s["traced"]]
    n = len(traced)
    clock_ms, clock_ns = rec["clock"]["epoch_ms"], rec["clock"]["nano"]

    def ns(epoch_ms):
        return clock_ns + (epoch_ms - clock_ms) * 1e6

    spans = [dict(zip(("id", "parent", "name", "sample", "start", "end"), s))
             for s in rec["spans"]]
    by_id = {s["id"]: s for s in spans}
    # Jobs and Catalyst phases become child spans of the layer span they
    # ran in, so that self time excludes them.
    extra = []
    for span, job, start, end in rec["jobs"]:
        if span in by_id and end >= 0:
            extra.append({"id": f"job{job}", "parent": span, "name": "job",
                          "sample": by_id[span]["sample"], "start": ns(start), "end": ns(end)})
    layer_of = {}
    for s in spans:
        if s["name"] in LAYERS:
            layer_of.setdefault(s["sample"], []).append(s)
    # A QueryPlanningTracker phase that runs twice reports the first start
    # and the last end, so a phase is clipped to the layer span it started
    # in; a phase that started before the cell belongs to a DataFrame that
    # an earlier cell built, and is dropped.
    phases = []
    for sample, name, start, end in rec["phases"]:
        home = [s for s in layer_of.get(sample, []) if s["start"] <= ns(start) <= s["end"]]
        if home:
            phases.append({"id": f"{name}{sample}", "parent": home[0]["id"], "name": name,
                           "sample": sample, "start": ns(start),
                           "end": min(ns(end), home[0]["end"])})
    extra += phases
    selfs = self_times(spans + extra)

    names = rec["counter_names"]
    per_cell = {i: {} for i in traced}

    def add(sample, key, v):
        if sample in per_cell:
            per_cell[sample][key] = per_cell[sample].get(key, 0.0) + v

    for s in spans:
        dur = (s["end"] - s["start"]) / 1e9
        add(s["sample"], s["name"] + "_s", dur)
        add(s["sample"], s["name"] + ".self_s", selfs[s["id"]] / 1e9)
        for k, v in zip(names, rec["counters"].get(str(s["id"]), [])):
            add(s["sample"], k, v)
            if s["name"] == "Queries.build" and k == "scheduler.jobs":
                add(s["sample"], "Queries.build_jobs", v)
    for p in phases:
        add(p["sample"], f"catalyst.{p['name']}_s", (p["end"] - p["start"]) / 1e9)
    for i in traced:
        s = rec["samples"][i]
        add(i, "codegen.compiles", s["compiles"])
        add(i, "codegen.compile_s", s["compile_ms"] / 1e3)
        add(i, "Tables.artifact_writes", s["artifacts"])
        add(i, "Tables.scratch_write_mb", s["scratch_bytes"] / MB)
        add(i, "Caching.cached_mb", s["cached_bytes"] / MB)
        add(i, "scan.rows_per_result_row",
            per_cell[i].get("scan.input_rows", 0.0) / max(1, result_rows.get(s["cell"], 1)))

    for i in traced:
        add(i, "cell.wall_s", rec["samples"][i]["wall_s"])
    out = {key: (_mean([per_cell[i].get(key, 0.0) for i in traced]), _unit(key), n)
           for key in PER_CELL + PRINTED_ONLY}
    # Set-up totals: the warm-up passes fill the codegen cache and run the
    # writers, and on the first run of a build they write the served
    # artifacts.
    warm = [s for s in rec["samples"] if not s["timed"]]
    warm_passes = [p for p in rec["passes"] if not p["timed"]]
    out["codegen.setup_compiles"] = (sum(s["compiles"] for s in warm), "count", len(warm))
    out["codegen.setup_compile_s"] = (sum(s["compile_ms"] for s in warm) / 1e3, "s", len(warm))
    out["Tables.setup_artifact_writes"] = (
        sum(p["artifacts"] for p in warm_passes), "count", len(warm_passes))
    out["Tables.setup_write_mb"] = (
        sum(p["scratch_bytes"] for p in warm_passes) / MB, "MB", len(warm_passes))
    return out


def trace_overhead(rec, bad_cells):
    """1 - traced / untraced cells per second, from the alternating passes
    of one traced run."""
    cps = {}
    for traced in (False, True):
        m, _, _ = end_to_end(rec, 0.0, bad_cells, traced)
        cps[traced] = m["cells_per_s"][0]
    return 1.0 - cps[True] / cps[False] if cps[False] else None


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb"):
        return "MB"
    return "ratio" if name.endswith(("_row", "_frac")) else "count"


# Means over traced cells of per-cell sums, so that the layer times of a
# cell add up to `cell.wall_s` exactly.
PER_CELL = [
    "cell.wall_s", "cell.self_s",
    "Queries.build_s", "Queries.build.self_s", "Queries.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.plan_s", "execute_s", "execute.self_s",
    "codegen.compiles",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "spill.mb",
    "scan.input_mb", "scan.rows_per_result_row",
    "Tables.artifact_writes", "Tables.scratch_write_mb", "Caching.cached_mb",
]
# Times that read 0 on every run in local mode on warm passes, which a
# result line must not carry; they are printed above it. A nonzero
# codegen.compile_s still shows as codegen.compiles.
PRINTED_ONLY = ["catalyst.plan.self_s", "codegen.compile_s", "shuffle.fetch_wait_s"]
# The result line of a traced run: per-cell means, then per-run set-up
# totals and the tracing overhead.
PER_LAYER = {name: _unit(name) for name in PER_CELL + [
    "codegen.setup_compiles", "codegen.setup_compile_s",
    "Tables.setup_artifact_writes", "Tables.setup_write_mb", "trace.overhead_frac"]}
