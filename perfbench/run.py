#!/usr/bin/env python3
"""Benchmark of the graft L3 engine as CLI users run it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. Each run makes its inputs from the seed, starts one
JVM (`perfbench.Harness`) on local[nproc], times the workload's operation
for the requested seconds and checks every output. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
from oracle import L3Oracle  # noqa: E402

WORKLOADS = ("l3_day_1km", "l3_swath_parquet", "graph_fixpoint")
HEAP = "3g"
# l3_day_1km: granule shape of the synthetic source (see README.md, sizing)
DAY_GRANULE_ROWS, DAY_GRANULE_COLS = 101, 67
DAY_GRANULES = 24 + gen.SHIFT_HOURS  # one day plus the spill hours
REGION = (-90, 90, -180, 180)
# l3_swath_parquet: pixels per 5-minute granule
SWATH_ROWS, SWATH_COLS = 80, 54
# graph_fixpoint: orders, customers and suppliers of the seeded trade graph
GRAPH_ORDERS, GRAPH_CUSTOMERS, GRAPH_SUPPLIERS = 5000, 500, 50
# what Spark needs opened on JDK 17 outside spark-submit (the root build's
# forked runs pass the same list)
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")
RUN_LIMIT_S = 170  # a run after the build must end within 180 s
# a run is flagged when the host stole more than this share of its core-seconds
STEAL_FLAG_SHARE = 0.01


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "target" not in d.split(os.sep))
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, state):
    stamp_file = os.path.join(state, "build.stamp")
    stamp = source_stamp(root)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(state, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc}), log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def prepare(workload, seed, work):
    """Inputs, argv, expected output and environment of one run. Returns
    (harness input, input pixels or rows, extra env, record)."""
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir)
    if workload == "graph_fixpoint":
        data = os.path.join(work, "graph")
        rows, nbytes = gen.trade_graph(seed, data, GRAPH_ORDERS, GRAPH_CUSTOMERS,
                                       GRAPH_SUPPLIERS)
        return data, rows, {}, {"input_rows": rows, "input_bytes": nbytes}
    doy = gen.day_of_seed(seed)
    variables = [("Cloud_Top_Pressure", gen.PRESSURE_EDGES),
                 ("Cloud_Top_Temperature", gen.TEMPERATURE_EDGES)]
    if workload == "l3_day_1km":
        grid, switches = (1.0, 1.0), [True] * 7
        joint = {"Cloud_Top_Pressure": ("Cloud_Top_Temperature", gen.JOINT_TEMPERATURE_EDGES)}
        expected = L3Oracle(doy, gen.SHIFT_HOURS, REGION, grid, switches, variables, joint, True)
        gen.granule_source_pixels(doy, DAY_GRANULE_ROWS, DAY_GRANULE_COLS, expected)
        dp, vf, jf = gen.write_configs(
            work, out_dir, "unused-in-granule-mode",
            variables + [("cloud_fraction_CM", gen.CLOUD_FRACTION_EDGES)],
            [("Cloud_Top_Pressure", "Temperature", 1, gen.JOINT_TEMPERATURE_EDGES)])
        argv = ["--format", "granule", dp]
        rows = DAY_GRANULES * DAY_GRANULE_ROWS * DAY_GRANULE_COLS
        env = {"SPARK_GRAFT_GRANULE_ROWS": str(DAY_GRANULE_ROWS),
               "SPARK_GRAFT_GRANULE_COLS": str(DAY_GRANULE_COLS)}
        record = {"day_of_year": doy, "input_pixels": rows, "input_bytes": 0,
                  "granule": f"{DAY_GRANULE_ROWS}x{DAY_GRANULE_COLS}"}
    else:
        grid, switches = (0.5, 0.5), [True] * 5 + [False] * 2
        expected = L3Oracle(doy, gen.SHIFT_HOURS, REGION, grid, switches, variables, {}, False)
        data = os.path.join(work, "pixels")
        _, rows, nbytes = gen.swath_parquet(seed, data, SWATH_ROWS, SWATH_COLS, expected)
        dp, vf, jf = gen.write_configs(work, out_dir, data, variables, None)
        argv = [dp]
        env = {}
        record = {"day_of_year": doy, "input_pixels": rows, "input_bytes": nbytes,
                  "granule": f"{SWATH_ROWS}x{SWATH_COLS}"}
    expected.write(os.path.join(work, "expected"))
    argv += [gen.date_arg(doy), gen.date_arg(doy),
             "[" + ",".join(f"{b:g}" for b in REGION) + "]",
             "[" + ",".join(f"{g:g}" for g in grid) + "]", "[1]"]
    argv += ["1" if on else "0" for on in switches] + [vf] + ([jf] if jf else [])
    argv_file = os.path.join(work, "argv.txt")
    with open(argv_file, "w") as f:
        f.write("\n".join(argv) + "\n")
    return argv_file, rows, env, record


def run_harness(classes, workload, seconds, trace, work, cores, rows, arg, env_extra, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness", workload,
            str(seconds), str(trace), work, str(cores), str(rows), arg]
    env = dict(os.environ, **env_extra)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run limit, log in {log}", 4)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
    if proc.returncode != 0 or result is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness failed (exit {proc.returncode}), log in {log}", 5)
    return result


def canon(rows, cols):
    """Columns sorted by name, rows sorted, values as strings (floats by
    repr): the comparison of the repo's tools/check_oracle.py."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in idx)
                 for r in rows)
    return [cols[i] for i in idx], out


def check_graph(work):
    """Compares the warm-up's query results with their oracle SQL run in
    DuckDB over the same input; returns the mismatches."""
    import duckdb
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for table in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(work, 'graph', table + '.parquet')}'")
    bad = []
    for name, sql in sorted(oracle.items()):
        got = con.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'")
        got_cols, got_rows = canon(got.fetchall(), got.columns)
        want = con.sql(sql)
        want_cols, want_rows = canon(want.fetchall(), want.columns)
        if got_cols != want_cols:
            bad.append(f"{name}: columns {got_cols}, expected {want_cols}")
        elif got_rows != want_rows:
            diff = [(a, b) for a, b in zip(got_rows, want_rows) if a != b]
            bad.append(f"{name}: {len(got_rows)} rows, expected {len(want_rows)}; "
                       f"first differences {diff[:3]}")
    con.close()
    return bad


# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("peak_rss_mb", "MB", "lower"),
    ("cli.parse_ms", "ms", "lower"),
    ("sources.partitions", "count", "lower"),
    ("sources.pixels_decoded", "count", "lower"),
    ("sources.read_amplification", "ratio", "lower"),
    ("sources.scan_ns_per_pixel", "ns", "lower"),
    ("parquet.files", "count", "lower"),
    ("parquet.bytes_read", "B", "lower"),
    ("parquet.scan_ms", "ms", "lower"),
    ("engine.pixels_kept", "count", "lower"),
    ("agg.partial_ms", "ms", "lower"),
    ("agg.final_ms", "ms", "lower"),
    ("agg.partial_reduction", "ratio", "higher"),
    ("agg.peak_mem_mb", "MB", "lower"),
    ("agg.spill_bytes", "B", "lower"),
    ("agg.sort_fallback_tasks", "count", "lower"),
    ("shuffle.exchanges", "count", "lower"),
    ("shuffle.bytes_written", "B", "lower"),
    ("shuffle.records_written", "count", "lower"),
    ("shuffle.write_ms", "ms", "lower"),
    ("shuffle.fetch_wait_ms", "ms", "lower"),
    ("plan.analysis_ms", "ms", "lower"),
    ("plan.optimization_ms", "ms", "lower"),
    ("plan.planning_ms", "ms", "lower"),
    ("plan.sql_executions", "count", "lower"),
    ("plan.nodes", "count", "lower"),
    ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"),
    ("sched.tasks", "count", "lower"),
    ("sched.task_run_ms", "ms", "lower"),
    ("sched.task_cpu_ms", "ms", "lower"),
    ("sched.gc_ms", "ms", "lower"),
    ("sched.core_utilization", "ratio", "higher"),
    ("io.collect_rows", "count", "lower"),
    ("io.writeh5_self_ms", "ms", "lower"),
    ("io.h5_bytes", "B", "lower"),
    ("host.steal_s", "s", "lower"),
    ("error_rate", "ratio", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "GraftCli.scala")):
        fail("run from the repository root: the program sources (src/main/scala/graft) are missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    state = os.path.join(HERE, ".work")
    os.makedirs(state, exist_ok=True)
    classes = build(root, state)
    t_built = time.time()

    work = os.path.join(state, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    arg, rows, env_extra, record = prepare(a.workload, a.seed, work)
    cores = len(os.sched_getaffinity(0))

    steal0 = steal_ticks()
    res = run_harness(classes, a.workload, a.seconds, a.trace, work, cores, rows, arg,
                      env_extra, t_built + RUN_LIMIT_S)
    attempted, failed, failures = res["attempted"], res["failed"], res["failures"]
    # the graph warm-up's results are compared here; a warm-up that threw
    # left no oracle file and is already counted
    if a.workload == "graph_fixpoint" and \
            os.path.exists(os.path.join(work, "out", "oracle_sql.json")):
        bad = check_graph(work)
        failed += 1 if bad else 0
        failures += bad
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")

    # the first measured operation still runs while the JIT compiles (it is
    # 15-30% slower than the next ones); job_s is the median of the rest
    job_s = statistics.median(res["job_s"][1:])
    if a.trace:
        layer = dict(res["per_layer"], **{"peak_rss_mb": res["peak_rss_mb"],
                                           "host.steal_s": steal_s,
                                           "error_rate": failed / attempted})
        # a layer that is not on the workload's path reports 0
        metrics = {name: {"value": layer.get(name, 0.0), "unit": unit}
                   for name, unit, _ in PER_LAYER}
    else:
        metrics = {
            "job_s": {"value": job_s, "unit": "s"},
            "mpixels_per_s": {"value": rows / job_s / 1e6, "unit": "Mpixel/s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
        }
    record.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
        "ops": len(res["job_s"]), "job_s_all": res["job_s"], "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"], "steal_s": steal_s,
        "steal_flag": steal_s > STEAL_FLAG_SHARE * cores * (time.time() - t_start),
        "wall_s": time.time() - t_start,
        "build_s": t_built - t_start, "failures": failures[:5]})
    with open(os.path.join(state, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print("# run " + json.dumps(record))
    if a.trace:
        for k in metrics:
            print(f"#   {k:32s} {metrics[k]['value']:>16.4f} {metrics[k]['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
