#!/usr/bin/env python3
"""Run one graft benchmark workload; the last stdout line is its JSON result.

    python3 perfbench/run.py --workload ebw_solve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload registry --repeat 5    # 5 untraced + 1 traced
    python3 perfbench/run.py --workload registry --tiny        # sf0.001, N = 1e4
    python3 perfbench/run.py --workload registry --record      # rewrite digests

The first run builds graft (src/main/scala) and the benchmark
(perfbench/scala) with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars, else the one next to spark-submit on PATH)
into .bench_build/; later runs reuse the build while the sources are
unchanged. Everything the benchmark writes stays under .bench_build/.
See perfbench/README.md for the workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ebw_solve", "registry")
RUN_LIMIT_S = 170      # one measured run, build excluded
BUILD_LIMIT_S = 700
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark jars with a Scala compiler; set SPARK_HOME")
    return jars


def sources():
    srcs = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(BENCH, "scala")):
        srcs += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise BenchError("graft sources (src/main/scala) not found under "
                         + ROOT)
    return sorted(srcs)


def run_limited(cmd, limit, log_path, cwd, stdout=subprocess.DEVNULL):
    """Run `cmd` in its own process group; kill the group past `limit` s."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"timed out after {limit} s; see {log_path}")
    return proc.returncode, out


def build(jars):
    """Compile graft + the benchmark once per source state."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    log = os.path.join(BUILD, "build.log")
    code, _ = run_limited(cmd, BUILD_LIMIT_S, log, ROOT)
    if code != 0:
        raise BenchError(f"build failed (exit {code}); see {log}")
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    return out


def run_once(classes, jars, workload, seed, seconds, trace, tiny,
             record=False):
    """One JVM run; returns (stdout lines, parsed result)."""
    tag = f"{workload}-seed{seed}-trace{int(trace)}{'-tiny' if tiny else ''}"
    work = os.path.join(BUILD, "run", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m"] + opens + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--data", os.path.join(BENCH, "data"),
        "--digests", os.path.join(BENCH, "digests.txt"),
        "--trace-out", os.path.join(BUILD, "traces", tag + ".jsonl")]
        + (["--tiny"] if tiny else []) + (["--record"] if record else []))
    log = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    code, out = run_limited(cmd, RUN_LIMIT_S, log, work, subprocess.PIPE)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        raise BenchError(f"benchmark exited {code}; see {log}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise BenchError("malformed result line: " + lines[-1])
    return lines, result


def spread_table(runs):
    """name -> (unit, median, q1, q3, spread) over the runs' metrics."""
    table = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        unit = runs[0]["metrics"][name]["unit"]
        med = statistics.median(vals)
        q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                     else (vals[0],) * 3)
        table[name] = (unit, med, q1, q3, (q3 - q1) / med if med else 0.0)
    return table


def print_table(title, table):
    print(f"# {title}")
    print(f"# {'metric':<44} {'unit':<6} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>8}")
    for name, (unit, med, q1, q3, sp) in table.items():
        print(f"# {name:<44} {unit:<6} {med:12.6g} {q1:12.6g} {q3:12.6g} "
              f"{sp:8.4f}")


def record_digests(classes, jars, workload, tiny):
    lines, _ = run_once(classes, jars, workload, 1, 0, False, tiny,
                        record=True)
    new = dict(l.split()[1:3] for l in lines if l.startswith("DIGEST "))
    path = os.path.join(BENCH, "digests.txt")
    old = {}
    if os.path.exists(path):
        with open(path) as f:
            old = dict(l.split()[:2] for l in f
                       if l.strip() and not l.startswith("#"))
    old.update(new)
    with open(path, "w") as f:
        f.write("# <data>/<gate> <rows>:<sum of per-row xxhash64 over all "
                "columns>\n")
        for k in sorted(old):
            f.write(f"{k} {old[k]}\n")
    print(f"# recorded {len(new)} digests into {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001 registry data and N = 1e4 EBW problems")
    ap.add_argument("--repeat", type=int, default=0, metavar="K",
                    help="K untraced runs (seeds seed..seed+K-1) plus one "
                         "traced run; prints median, quartiles and spread")
    ap.add_argument("--record", action="store_true",
                    help="recompute the expected digests of the workload's "
                         "registry gates into perfbench/digests.txt")
    a = ap.parse_args()
    try:
        jars = spark_jars()
        os.makedirs(BUILD, exist_ok=True)
        classes = build(jars)
        if a.record:
            record_digests(classes, jars, a.workload, a.tiny)
            return 0
        if a.repeat > 0:
            runs = []
            for i in range(a.repeat):
                _, r = run_once(classes, jars, a.workload, a.seed + i,
                                a.seconds, False, a.tiny)
                runs.append(r)
            _, traced = run_once(classes, jars, a.workload, a.seed,
                                 a.seconds, True, a.tiny)
            print_table(f"{a.workload}: {a.repeat} untraced runs",
                        spread_table(runs))
            print_table(f"{a.workload}: 1 traced run", spread_table([traced]))
            ok = all(r["correct"] for r in runs + [traced])
            medians = {k: {"value": v[1], "unit": v[0]}
                       for k, v in spread_table(runs).items()}
            print(json.dumps({"correct": ok,
                              "attempted": sum(r["attempted"] for r in runs),
                              "failed": sum(r["failed"] for r in runs),
                              "metrics": medians}))
            return 0 if ok else 1
        lines, _ = run_once(classes, jars, a.workload, a.seed, a.seconds,
                            bool(a.trace), a.tiny)
        print("\n".join(lines))
        return 0
    except (BenchError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
