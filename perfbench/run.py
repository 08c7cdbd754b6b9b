#!/usr/bin/env python3
"""Benchmark for graft, the Spark-native FERC XBRL analytics engine.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/harness/target and
records the classpath under .bench_build/; inputs and per-run records go
to .bench_work/. Workloads (one JVM, one closed-loop client, one
in-process GraftSession at local[cores]):

  xbrl_small   the graft.Main CLI job over a generated season of 10 filings
               and a two-version, 255-table taxonomy, 16 tables requested;
               the traced run adds a 150-filing season rung
  query_mix    seeded round-robin passes over 11 SparkEntry queries (one per
               operator module) at sf0.01 (perfbench/data), x01 on a fixed season

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run (spans written to
.bench_work/runs/). Every operation's output is checked; a failed
operation counts in `failed` and is never a latency sample.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen_xbrl  # noqa: E402

DEADLINE_S = 170          # the whole run, build excluded
BUILD_DEADLINE_S = 700
KEEP_SEASONS = 3          # generated seasons kept per workload

# filings in a season, and tables the CLI is asked for (--requested-tables)
XBRL_SMALL = {"filings": 10, "tables": 16}
SEASON_RUNG = {"filings": 150, "tables": 16}     # traced xbrl_small runs only
QUERY_MIX_SEASON = {"seed": 0, "filings": 10, "tables": 16}
WORKLOADS = ("xbrl_small", "query_mix")

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint(root):
    """sha256 over the relative path and bytes of every build input."""
    paths = ["build.sbt", "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties"]
    for base in ("src/main/scala", "perfbench/harness/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in files]
    h = hashlib.sha256()
    for rel in sorted(paths):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()


def build(root):
    """Compile engine + harness once per source state; return the classpath."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    fp = fingerprint(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env, stdout=subprocess.PIPE,
            stderr=log, text=True, timeout=BUILD_DEADLINE_S)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    return lines[-1].strip()


def season(work, name, seed, filings, tables):
    """Generated season, cached by (seed, size); old seeds are pruned."""
    base = os.path.join(work, "xbrl")
    path = os.path.join(base, f"{name}-f{filings}-t{tables}-s{seed}")
    if not os.path.isfile(os.path.join(path, "truth.json")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_xbrl.generate(seed, filings, tmp, tables)
        os.rename(tmp, path)
    os.utime(path)
    mine = sorted((d for d in os.listdir(base) if d.startswith(name + "-") and not d.endswith(".tmp")),
                  key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for old in mine[:-KEEP_SEASONS]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return path


def run_jvm(cmd, cwd, log_path, budget):
    # graft's own variables (data dirs, partition counts) and Spark's
    # scratch dirs are fixed by the benchmark, not taken from the caller
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded {budget:.0f} s; see {log_path}", 3)


def expected_metrics(root, trace):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    spec = json.load(open(path))
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser(description="graft benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    cp = build(root)
    start = time.time()

    work = os.path.join(root, ".bench_work")
    runs = os.path.join(work, "runs")
    for d in (runs, os.path.join(work, "tmp"), os.path.join(work, "xbrl")):
        os.makedirs(d, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(work, "out", tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    result_path = os.path.join(runs, tag + ".result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", out_dir, "--result", result_path]
    if a.trace:
        args += ["--spans", os.path.join(runs, tag + ".spans.jsonl")]
    if a.workload == "query_mix":
        mix = season(work, "query_mix", **QUERY_MIX_SEASON)
        args += ["--data", os.path.join(HERE, "data", "sf0.01"), "--xbrl-data", mix,
                 "--expected", os.path.join(HERE, "expected_query_mix.json")]
    else:
        args += ["--data", season(work, "xbrl_small", a.seed, **XBRL_SMALL)]
        if a.trace:
            args += ["--season", season(work, "season_rung", a.seed, **SEASON_RUNG)]

    # A fixed heap and young generation keep peak RSS a function of the
    # data the program retains rather than of G1's adaptive sizing; the
    # stack and code-cache sizes are the repository build's own.
    cmd = (["java"] + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JDK_OPENS] +
           ["-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss64m", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness"] + args)
    log_path = os.path.join(runs, tag + ".log")
    code = run_jvm(cmd, root, log_path, DEADLINE_S - (time.time() - start))
    shutil.rmtree(out_dir, ignore_errors=True)
    if code != 0 or not os.path.isfile(result_path):
        fail(f"harness exited {code} without a result; see {log_path}", 4)

    result = json.load(open(result_path))
    want = expected_metrics(root, a.trace)
    if want is not None and set(result["metrics"]) != want:
        fail(f"metric set differs from BENCHMARK.json: "
             f"missing {sorted(want - set(result['metrics']))}, "
             f"extra {sorted(set(result['metrics']) - want)}", 5)
    for op in result["detail"]["ops"]:
        if op["error"]:
            print(f"perfbench: failed {op['name']}: {op['error']}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
