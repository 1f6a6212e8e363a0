#!/usr/bin/env python3
"""graft benchmark: times one workload of `SparkEntry.queries` cells.

    python3 perfbench/run.py --workload aact_medallion --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds graft and
`graftbench.Main` with sbt (offline); later runs reuse the build. The
input is graft's sf0.1 test corpus, copied byte for byte into
perfbench/sf0.1. Every cell's result is hash-compared with
its DuckDB oracle (`SparkEntry.oracleSql`). The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; the lines
before it list every metric with its unit and sample count. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import ledger  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CACHE = os.path.join(HERE, ".cache")
# graft's sf0.1 test corpus (seed 42), unchanged; the seed of a run only
# orders its cells.
CORPUS = os.path.join(HERE, "sf0.1")
DEADLINE_S = 170
# The end-to-end metrics of the result line, each with a bound in BENCHMARK.json.
E2E_RESULT = ("setup_s", "cells_per_s", "cell_p50_s")
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
SBT_OFFLINE = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("set SPARK_HOME: the build compiles against its jars", 2)
    return home


def build(root):
    """Compile graft and `graftbench.Main` unless the sources are unchanged
    since the last build; returns (JVM classpath, source digest)."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest.hexdigest()):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
                   SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OFFLINE))
        os.makedirs(CACHE, exist_ok=True)
        log = os.path.join(CACHE, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (sbt exit {rc}); log in {log}")
        with open(stamp, "w") as f:
            f.write(digest.hexdigest())
    return f"{classes}:{spark_home()}/jars/*", digest.hexdigest()[:16]


def cpus():
    return min(len(os.sched_getaffinity(0)), 4)


def timed_passes(wl, seconds, trace):
    """Whole passes that take about `seconds` on the reference box. The
    count, not the clock, ends a run, so two commits time the same work;
    a traced run doubles it, alternating untraced and traced passes."""
    n = max(1, round(seconds / wl["pass_s"]))
    return 2 * n if trace else n


def served_dir(digest):
    """Scratch dir of the served cells' artifacts. It outlives a run,
    so the artifacts are already built when a run starts, as a served
    deployment has them; it is keyed by the source digest, so a changed
    program never reads an artifact an older build wrote."""
    base = os.path.join(CACHE, "served")
    for old in glob.glob(os.path.join(base, "*")):
        if os.path.basename(old) != digest:
            shutil.rmtree(old, ignore_errors=True)
    return os.path.join(base, digest)


def write_plan(path, name, wl, data, work, served, seed, seconds, trace):
    n_cells = len(wl["cells"])
    timed = timed_passes(wl, seconds, trace)
    orders = ledger.pass_orders(seed, n_cells, wl["warmup"] + timed)
    lines = [f"workload={name}", f"data={data}", f"work={work}", f"served={served}",
             f"cpus={cpus()}", f"timed={timed}", f"trace={int(trace)}",
             f"warmup={wl['warmup']}", "cells=" + ",".join(wl["cells"]),
             "writers=" + ",".join(wl["writers"])]
    lines += ["pass=" + ",".join(map(str, o)) for o in orders]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def run_jvm(classpath, plan, record, work, deadline):
    """Run one benchmark JVM; returns the launch time (epoch s)."""
    # No hsperfdata file in the system temp dir: a run writes only inside
    # its checkout.
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-Dio.netty.tryReflectionSetAccessible=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main", plan, record]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        launch = time.time()
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            fail(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the benchmark JVM ran past its deadline")
        finally:
            # Reached on every exit, a signal included: the JVM is stopped
            # and reaped before the work dir is removed.
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc != 0:
        tail = [l for l in open(log).read().splitlines() if "perfbench" in l or "Exception" in l]
        sys.stderr.write("\n".join(tail[-20:]) + "\n")
        fail(f"the benchmark JVM exited with {rc}")
    return launch


def _check_cell(job):
    """(passed, result rows) of one captured result against its oracle."""
    import duckdb
    root, data, files, sql, cached = job
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracle import TABLES, frame_hash
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    def digest(rel):
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        return [sorted(cols), len(rows), frame_hash(cols, rows)]

    got = digest(con.execute(f"SELECT * FROM read_parquet({files!r})"))
    want = cached if cached is not None else digest(con.execute(sql))
    return got == want, got[1], want


def oracle_check(root, data, work, rec):
    """{cell: (passed, result rows)}: each cell's captured result against
    its DuckDB oracle, with `tools/check_oracle.py`'s frame hash, one
    process per core once the JVM has exited. Oracle digests are cached by
    SQL text and corpus path."""
    from concurrent.futures import ProcessPoolExecutor
    cache = os.path.join(CACHE, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, jobs = {}, {}
    for cell in rec["cells"]:
        files = sorted(glob.glob(f"{work}/results/{cell}/*.parquet"))
        sql = rec["oracle_sql"].get(cell)
        if not files or sql is None:
            out[cell] = (False, 0)
            print(f"[perfbench] {cell}: " + ("no result" if not files else "no oracle"),
                  file=sys.stderr)
            continue
        key = os.path.join(cache, hashlib.sha256(
            (data + "\n" + sql).encode()).hexdigest() + ".json")
        cached = json.load(open(key)) if os.path.exists(key) else None
        jobs[cell] = (key, (root, data, files, sql, cached))
    with ProcessPoolExecutor(max_workers=cpus()) as pool:
        results = dict(zip(jobs, pool.map(_check_cell, [j for _, j in jobs.values()])))
    for cell, (passed, rows, want) in results.items():
        with open(jobs[cell][0], "w") as f:
            json.dump(want, f)
        if not passed:
            print(f"[perfbench] {cell}: result differs from its oracle", file=sys.stderr)
        out[cell] = (passed, rows)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)", 2)
    if not os.path.exists(os.path.join(root, "tools/check_oracle.py")):
        fail("tools/check_oracle.py is missing", 2)

    classpath, digest = build(root)
    data = CORPUS
    if not os.path.exists(os.path.join(data, "lineitem.parquet")):
        fail(f"the sf0.1 corpus is missing from {data}", 2)
    wl = WORKLOADS[args.workload]
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan, record = os.path.join(work, "plan.txt"), os.path.join(work, "record.json")
        write_plan(plan, args.workload, wl, data, work, served_dir(digest), args.seed,
                   args.seconds, args.trace)
        # The build may take the first run's time; every later phase gets
        # DEADLINE_S from here.
        launch = run_jvm(classpath, plan, record, work, time.time() + DEADLINE_S - 15)
        jvm_end = time.time()
        rec = json.load(open(record))
        checked = oracle_check(root, data, work, rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    bad = {c for c, (ok, _) in checked.items() if not ok}
    e2e, attempted, failed = ledger.end_to_end(rec, launch, bad, traced=False)
    print(f"workload {args.workload}  seed {args.seed}  cells {len(rec['cells'])}  "
          f"oracle {len(checked) - len(bad)}/{len(checked)} pass")
    print("config " + json.dumps(rec["config"], sort_keys=True))
    print("passes " + " ".join(f"{p['wall_s']:.2f}" + ("t" if p["traced"] else "")
                               for p in rec["passes"]))
    if args.trace:
        layers = ledger.per_layer(rec, {c: r for c, (_, r) in checked.items()})
        layers["trace.overhead_frac"] = (ledger.trace_overhead(rec, bad), "ratio", attempted)
        metrics = {k: layers[k] for k in ledger.PER_LAYER}
    else:
        # Printed above the result line only: failed_frac is 0 on a correct
        # commit (the result line carries `failed` / `attempted`), cell_p90_s
        # needs 100 timed cells, and the spread of cpu_s_per_cell and
        # peak_rss_mb over ten seeds came within 0.01 of the 0.25 cap.
        metrics = {k: v for k, v in e2e.items() if k in E2E_RESULT}
    for cell in rec["cells"]:
        walls = [s["wall_s"] for s in rec["samples"] if s["cell"] == cell]
        timed = [s["wall_s"] for s in rec["samples"]
                 if s["cell"] == cell and s["timed"] and not s["traced"]]
        print(f"  cell {cell:32s} cold {walls[0]:7.3f} s  timed median "
              f"{statistics.median(timed):7.3f} s  (" + " ".join(f"{w:.3f}" for w in timed) + ")")
    for name, (value, unit, n) in list(e2e.items()) + (list(layers.items()) if args.trace else []):
        print(f"  {name:32s} {value if value is not None else 'n/a':>14} {unit:6s} n={n}")
    ok = [s["wall_s"] for s in rec["samples"] if s["timed"] and not s["traced"]
          and not s["error"] and s["cell"] not in bad]
    tail = ledger.highest_percentile(ok)
    if tail:
        print(f"  highest percentile with 10 samples beyond: p{100 * tail[0]:.0f} "
              f"= {tail[1]:.4f} s  n={len(ok)}")
    missing = [k for k, (v, _, _) in metrics.items() if v is None]
    if missing:
        fail(f"no value for {', '.join(missing)}")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    print(f"[perfbench] {time.time() - start:.1f} s: build {launch - start:.1f}, session "
          f"{rec['ready_epoch_ms'] / 1e3 - launch:.1f}, warm-up "
          f"{(rec['first_timed_epoch_ms'] - rec['ready_epoch_ms']) / 1e3:.1f}, timed+exit "
          f"{jvm_end - rec['first_timed_epoch_ms'] / 1e3:.1f}, oracle {time.time() - jvm_end:.1f}",
          file=sys.stderr)


if __name__ == "__main__":
    main()
