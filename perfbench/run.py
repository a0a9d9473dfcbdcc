#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload geo_features --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. Builds graft and the benchmark
harness from source when they changed, generates the workload's inputs
from the seed, runs one JVM (set-up, warm-up, timed closed loop, check
pass), checks the outputs, and prints the metrics. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("geo_features", "corpus_curate", "query_mix")
# what one op processes, for items_per_s: (input table, unit)
ITEMS = {"geo_features": ("points", "points"), "corpus_curate": ("documents", "docs"),
         "query_mix": (None, "queries")}
BUILD_SECONDS = 850
RUN_SECONDS_CAP = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    """Every file the build reads, in a stable order."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build(root, deadline):
    """sbt compile of graft and the harness, skipped when no source
    changed since the last successful build in this checkout."""
    missing = [f for f in sources(root)[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"not a graft checkout (missing {missing or 'src/main/scala/graft'})")
    h = hashlib.sha256()
    for f in sources(root):
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()
            and os.path.exists(cp_file)):
        return open(cp_file).read()
    env = dict(os.environ)
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the build's JVM temp files and perf data inside the checkout
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(tmp, "sbt.log")
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], HERE, env, deadline, out)
    lines = open(log).read().splitlines()
    sys.stderr.write("\n".join(l for l in lines[-20:] if len(l) < 500) + "\n")
    if code != 0:
        fail(f"build failed (sbt exit {code})", 3)
    # `export` prints the run-time classpath on a line of its own
    classpath = next((l.strip() for l in reversed(lines)
                      if os.pathsep in l and "perfbench" in l), None)
    if classpath is None:
        fail("build printed no classpath", 3)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


def run_bounded(cmd, cwd, env, deadline, out):
    """Run cmd in its own process group; kill the group at the deadline.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=out,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def inputs(workload, seed, work):
    key = "query_mix-tables" if workload == "query_mix" else f"{workload}-{seed}"
    d = os.path.join(work, "data", key)
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.GENERATORS[workload](d + ".tmp", seed)
        open(os.path.join(d + ".tmp", "DONE"), "w").close()
        os.replace(d + ".tmp", d)
    return d


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def jvm(classpath, workload, data, work, seconds, trace, seed, cores, deadline):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "src", "main", "resources",
                                                     "log4j2.properties"),
        "-cp", classpath,
        "perfbench.Main", workload, data, work, str(seconds), str(trace),
        str(seed), str(cores)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        code = run_bounded(cmd, work, dict(os.environ), deadline, log)
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"benchmark JVM exited with {code}\n{tail}", 4)
    return json.load(open(result))


END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("items_per_s", "1/s"),
              ("cpu_s_per_op", "s"), ("ok_ops_ratio", "ratio")]


def per_layer_names():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    work_root = os.path.join(HERE, ".work")
    classpath = build(root, t_start + BUILD_SECONDS)
    deadline = time.time() + RUN_SECONDS_CAP
    data = inputs(a.workload, a.seed, work_root)
    work = os.path.join(work_root, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t_jvm = time.time()
    steal0, total0 = cpu_times()
    r = jvm(classpath, a.workload, data, work, a.seconds, a.trace, a.seed,
            os.cpu_count(), deadline - 15)
    steal1, total1 = cpu_times()
    steal = (steal1 - steal0) / max(1, total1 - total0)

    t_check = time.time()
    problems = [("check pass", e) for e in r["errors"] if e.startswith("check pass")]
    if r["setup_ok"]:
        problems += check.CHECKS[a.workload](data, os.path.join(work, "check"),
                                             os.path.join(work_root, "oracle"), a.seed)
    else:
        problems.append(("set-up", "the cold round failed; nothing to check"))
    op_errors = [e for e in r["errors"] if not e.startswith("check pass")]
    bad_ops = {p[0] for p in problems}
    print(f"perfbench: build+inputs {t_jvm - t_start:.1f} s, jvm {t_check - t_jvm:.1f} s, "
          f"checks {time.time() - t_check:.1f} s", file=sys.stderr)

    table, unit = ITEMS[a.workload]
    per_op = pq.read_metadata(f"{data}/{table}.parquet").num_rows if table else len(
        {s["op"] for s in r["samples"]})
    samples = r["samples"]
    attempted = len(samples)
    # an op fails if it threw, hit its cap or differs from the checked
    # first op; a failed external check fails every op of that name
    failed = sum(1 for s in samples
                 if not s["ok"] or s["op"] in bad_ops or "check pass" in bad_ops
                 or "set-up" in bad_ops)
    rounds = r["rounds"]
    timed = [x for x in rounds if x["round"] > 0 and not x["traced"]]
    walls = [x["op_s"] for x in timed]
    cpus = [x["cpu_s"] for x in timed]
    setups = [x["session_s"] + x["op_s"] for x in rounds if not x["traced"]]
    e2e = {
        "setup_s": statistics.median(setups),
        "op_p50_s": statistics.median(walls),
        "items_per_s": per_op * len(walls) / sum(walls),
        "cpu_s_per_op": statistics.median(cpus),
        "ok_ops_ratio": 1.0 - failed / attempted,
    }
    print(f"workload {a.workload}  seed {a.seed}  cores {r['cores']}  "
          f"host cpu steal {steal:.1%}  timed ops {len(walls)} "
          f"({per_op} {unit} per op)  set-ups {len(setups)}")
    if a.trace == 0:
        for name, unit in END_TO_END:
            print(f"  {name:18s} {e2e[name]:12.4f} {unit}")
        print(f"  failed_ops_ratio   {failed / attempted:12.4f} ({failed}/{attempted})")
        print(f"  set-ups (s): " + ", ".join(f"{x:.3f}" for x in setups))
    for k, v in sorted(r["count_spread"].items()):
        print(f"  count {k}: {v}")
    for e in op_errors[:10]:
        print(f"  error: {e}")
    for op, why in problems[:10]:
        print(f"  check failed: {op}: {why}")

    if a.trace == 0:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        layers = dict(r["layers"])
        layers["host.steal_share"] = steal
        layers["failed_ops_ratio"] = failed / attempted
        layers["jvm.old_gen_peak_mb"] = r["old_gen_peak_mb"]
        query_walls = sorted(s["wall_s"] for s in samples
                             if s["round"] > 0 and not s["traced"])
        layers["op_p90_s"] = (statistics.quantiles(query_walls, n=10, method="inclusive")[8]
                              if len(query_walls) > 1 else query_walls[0])
        # The output format needs a number for every per-layer metric.
        # A layer this workload never calls reads 0 and is marked so.
        metrics = {}
        for n, u in per_layer_names():
            metrics[n] = {"value": layers.get(n, 0.0), "unit": u}
            note = "" if n in layers else "  (not called by this workload)"
            print(f"  {n:44s} {metrics[n]['value']:12.4f} {u}{note}")
        print(f"  spans written to {os.path.relpath(os.path.join(work, 'spans.json'), root)}")
    print(json.dumps({"correct": not problems and not op_errors,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
