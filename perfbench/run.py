#!/usr/bin/env python3
"""Benchmark entry point. Run it from the root of the repository:

    python3 perfbench/run.py --workload football_feed --seed 1 \\
        --seconds 20 --trace 0

It builds the program and the runner from source (once per source
digest), makes the workload's inputs from the seed, runs the benchmark JVM
and prints, as its last line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. It exits with 1 when
an output was wrong and with 2 when it could not run at all.

    python3 perfbench/run.py --record

re-records perfbench/checksums.tsv, the registry checksums the runs
compare against, from the current code.

Everything it writes goes under .bench_build/ in the working directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN = os.path.join(BUILD, "run")
WORKLOADS = ("football_feed", "registry_mix")
# fixtures rows, history rows of the generated feed
FEED_ROWS = (500, 2500)
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 165
JVM_HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not any(f.startswith("spark-core")
                           for f in os.listdir(jars) if os.path.isdir(jars)):
        die("no Spark installation found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile src/main/scala and the runner with sbt, unless the stamp
    says this source digest is already built."""
    sources = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties")]
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = digest(sources) + " " + jars
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dperfbench.sparkJars={jars}", "compile"]
    with open(log, "w") as out:
        try:
            code = subprocess.run(cmd, cwd=BENCH, env=env, stdout=out,
                                  stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = -1
    if code != 0:
        die(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def registry_data():
    """Registry tables, made once per generator version."""
    import gen
    data = os.path.join(BUILD, "data-" + digest([os.path.join(BENCH, "gen.py")]))
    done = os.path.join(data, "done")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        for sf in ("0.1", "0.01"):
            gen.write_registry(os.path.join(data, f"sf{sf}"), float(sf))
        open(done, "w").close()
    return data


def run_jvm(classes, jars, args, log_name):
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the working directory
    cmd += ["-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + args
    log = os.path.join(RUN, log_name)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=RUN, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -1
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        die(f"benchmark JVM exited with {code}; log tail:\n{tail}")


def check_win_ratio(out_dir, expected):
    """Compare home_win_ratio in the written football_data sink with the
    generator's DuckDB replay; returns a list of mismatches."""
    import duckdb
    path = os.path.join(out_dir, "football_data", "*.csv")
    if not glob.glob(path):
        return ["football_data sink missing"]
    con = duckdb.connect()
    bad = []
    for team, want in sorted(expected["win_ratio"].items()):
        got = con.execute(
            f"SELECT DISTINCT CAST(home_win_ratio AS DOUBLE) FROM read_csv("
            f"'{path}', header=true, all_varchar=true) WHERE home_team = ?",
            [team]).fetchall()
        if len(got) != 1 or got[0][0] is None or abs(got[0][0] - want) > 1e-9:
            bad.append(f"win_ratio {team}: got {got}, replay {want}")
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the repository root: src/main/scala/graft is missing")
    if not a.record and not a.workload:
        die("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    data = registry_data()
    cores = str(len(os.sched_getaffinity(0)))
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(RUN)
    try:
        if a.record:
            run_jvm(classes, jars, ["--record", os.path.join(BENCH, "checksums.tsv"),
                                    "--data", data, "--cores", cores], "record.log")
            return 0
        feed = os.path.join(RUN, "feed")
        expected = None
        if a.workload == "football_feed":
            import gen
            expected = gen.write_feed(feed, a.seed, *FEED_ROWS)
        work = os.path.join(RUN, "work")
        os.makedirs(work)
        result_file = os.path.join(RUN, "result.json")
        run_jvm(classes, jars, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", cores, "--data", data,
            "--checksums", os.path.join(BENCH, "checksums.tsv"),
            "--feed", feed, "--work", work, "--out", result_file], "bench.log")
        with open(result_file) as f:
            res = json.load(f)
        failures = list(res["failures"])
        failed = res["failed"]
        if expected is not None:
            bad = check_win_ratio(os.path.join(work, "out"), expected)
            if bad:
                failures += bad
                failed += 1
        metrics = res["metrics"]
        if "ok_ratio" in metrics:
            metrics["ok_ratio"]["value"] = (res["attempted"] - failed) / res["attempted"]
        for line in res["notes"] + failures:
            print(line)
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(os.path.join(RUN, "tmp"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
