#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the benchmark (../src/main/scala
with the code in perfbench/src, by the Scala compiler in the Spark
distribution's jars) when the sources changed, pins the environment,
runs the workload on local[<cores>] in one JVM, compares its checked
outputs with DuckDB through tools/compare.py, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. The timed phase is a
fixed sequence of passes (one untraced pass, or traced / untraced /
traced); --seconds is recorded, not used to stop, and 10 is about the
length of one pass. See perfbench/README.md.
"""
import argparse
import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("medallion_etl", "corpus_dedup")
END_TO_END = {"setup_s": "s", "cold_iter_cpu_s": "s", "iter_cpu_s": "s",
              "io_bytes_per_in_byte": "ratio", "retained_heap_mb": "MB",
              "ok_ratio": "ratio"}
DEADLINE_S = 170  # the whole command, build excluded

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def layer_unit(name):
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if "bytes" in leaf:
        return "bytes"
    if leaf in ("busy_frac", "overhead", "near_dup_per_candidate"):
        return "ratio"
    return "count"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources():
    return [f for base in (ROOT / "src" / "main" / "scala", HERE / "src")
            for f in sorted(base.rglob("*.scala"))]


def sources_stamp(spark):
    h = hashlib.sha256(spark.encode())
    for f in [HERE / "build.sbt", *scala_sources()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


@functools.lru_cache(maxsize=None)
def login_path():
    """PATH of a login shell, so that tools the profile puts on PATH
    (Spark, a Python with DuckDB) are found when the caller's PATH is bare."""
    try:
        p = subprocess.run(["bash", "-lc", 'printf "\\n%s" "$PATH"'], capture_output=True,
                           text=True, stdin=subprocess.DEVNULL, timeout=30)
        return p.stdout.rsplit("\n", 1)[-1]
    except (OSError, subprocess.TimeoutExpired):
        return ""


def on_paths(program):
    """Every `program` on PATH, then on the login shell's PATH, in order."""
    found = []
    for path in (os.environ.get("PATH", ""), login_path()):
        for d in filter(None, path.split(os.pathsep)):
            f = Path(d) / program
            if f.is_file() and os.access(f, os.X_OK) and f not in found:
                found.append(f)
    return found


def spark_home():
    """The Spark distribution whose jars the build compiles against:
    $SPARK_HOME, else the first spark-submit on PATH that sits in one."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [str(f.resolve().parents[1]) for f in on_paths("spark-submit")]
    for home in homes:
        if home and any(Path(home).glob("jars/spark-core_*.jar")):
            return home
    die("no Spark distribution found: set SPARK_HOME")


def build():
    """Compile when the sources changed; return the runtime classpath.

    scalac here is the Scala compiler that ships in the Spark
    distribution's jars, at the scalaVersion of perfbench/build.sbt, and
    it compiles against those same jars: no sbt, ivy or coursier cache is
    involved. `sbt compile` in perfbench/ builds the same package."""
    spark = spark_home()
    jars = sorted(str(j) for j in (Path(spark) / "jars").glob("*.jar"))
    classes = BUILD / "classes"
    classpath = os.pathsep.join([str(classes), *jars])
    stamp = sources_stamp(spark)
    stamp_file = BUILD / "stamp.txt"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath
    version = (HERE / "build.sbt").read_text().split('scalaVersion := "', 1)[1].split('"')[0]
    scalac = [Path(spark) / "jars" / f"scala-{m}-{version}.jar"
              for m in ("compiler", "library", "reflect")]
    if not all(j.is_file() for j in scalac):
        die(f"the Scala {version} compiler is not among the jars of {spark}")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp_file.unlink(missing_ok=True)
    args = BUILD / "scalac.args"
    args.write_text("\n".join(["-d", str(classes), "-classpath", os.pathsep.join(jars),
                               *map(str, scala_sources())]) + "\n")
    log = BUILD / "build.log"
    cmd = ["java", "-Xmx1536m", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.pathsep.join(map(str, scalac)), "scala.tools.nsc.Main", f"@{args}"]
    try:
        with open(log, "w") as out:
            p = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=850)
    except subprocess.TimeoutExpired:
        die(f"build timed out (log: {log})")
    if p.returncode != 0:
        sys.stderr.write("\n".join(log.read_text().splitlines()[-30:]) + "\n")
        die(f"build failed (log: {log})")
    stamp_file.write_text(stamp)
    return classpath


def pinned_env(run_dir):
    """Environment the benchmark JVM runs with, and its recorded values."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    # a quarter of RAM, 1g..4g: the inputs are small, and the box is shared
    mem = f"{max(1, min(4, kb // 4 // 1048576))}g"
    local = run_dir / "local"
    local.mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_SPREAD_CHUNK", "SPARK_GRAFT_SF_DIR")}
    pinned = {"SPARK_DRIVER_MEM": mem, "SPARK_GRAFT_CPUS": str(cpus),
              "SPARK_LOCAL_DIRS": str(local)}
    env.update(pinned)
    return env, pinned


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(busy, steal) clock ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def oracle_python():
    """A Python that can run tools/compare.py (DuckDB, pandas, numpy): this
    one, else the first python3 on PATH or on the login shell's PATH."""
    for py in [sys.executable, *map(str, on_paths("python3"))]:
        p = subprocess.run([py, "-c", "import duckdb, pandas, numpy"], capture_output=True,
                           stdin=subprocess.DEVNULL, timeout=60)
        if p.returncode == 0:
            return py
    return sys.executable


def compare(data_dir, check_dir, timeout):
    """tools/compare.py over the check outputs: ({key: 'ok'|rows|msg})."""
    p = subprocess.run([oracle_python(), str(ROOT / "tools" / "compare.py"),
                        data_dir, check_dir], cwd=ROOT, capture_output=True,
                       text=True, timeout=timeout)
    status = {}
    fail_block = False
    for line in p.stdout.splitlines():
        if line.startswith("OK ("):
            status.update({q: "ok" for q in line.split(":", 1)[1].split()})
        elif line.startswith("ROWS-ONLY ("):
            for item in line.split(":", 1)[1].split():
                q, n = item.rsplit("=", 1)
                status[q] = int(n)
        elif line.startswith("FAIL ("):
            fail_block = True
        elif fail_block and line.startswith("  "):
            q, msg = line.strip().split(":", 1)
            status[q] = msg.strip()
    if p.returncode not in (0, 1) or not status:
        status["compare.py"] = f"exit {p.returncode}: {p.stderr.strip()[-300:]}"
    return status


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded; the timed passes are a fixed sequence")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-tests use 0.1)")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "tools" / "compare.py").is_file():
        die(f"no graft sources under {ROOT}; run from the root of a graft checkout")
    if shutil.which("java") is None:
        die("java must be on PATH")
    classpath = build()

    start = time.monotonic()
    load_start = loadavg()
    ticks_start = cpu_ticks()
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env, pinned = pinned_env(run_dir)
    size = "" if a.scale == 1 else f"-x{a.scale:g}"
    trace_out = BUILD / "traces" / f"{a.workload}-seed{a.seed}-trace{a.trace}{size}.json"
    mem = env["SPARK_DRIVER_MEM"]
    # a fixed heap, faulted in at JVM start (counted in setup_s), as the
    # root build.sbt does: first touches of fresh guest memory otherwise
    # land inside the timed passes, at a cost that varies with the host
    cmd = ["java", f"-Xmx{mem}", f"-Xms{mem}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *ADD_OPENS, "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(run_dir), "--scale", str(a.scale)]
    log = run_dir / "jvm.log"
    try:
        with open(log, "w") as err:
            p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                               stderr=err, stdin=subprocess.DEVNULL, text=True,
                               timeout=DEADLINE_S - 25)
        lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(log.read_text()[-4000:])
            die(f"benchmark JVM failed (exit {p.returncode})")
        res = json.loads(lines[-1].split(" ", 1)[1])
        trace_out.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(run_dir / "trace.json", trace_out)
        budget = max(10, DEADLINE_S - (time.monotonic() - start))
        compare_start = time.monotonic()
        status = compare(res["data_dir"], res["check_dir"], budget)
        res["info"]["compare_s"] = time.monotonic() - compare_start
        res["info"]["total_s"] = time.monotonic() - start
    except subprocess.TimeoutExpired as e:
        die(f"timed out: {e.cmd[0]}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    oracle_keys = set(res["oracle_keys"])
    check_failures = []
    for key in res["checks"]:
        s = status.get(key)
        ok = s == "ok" if key in oracle_keys else isinstance(s, int) and s > 0
        if not ok:
            check_failures.append(f"check {key}: {s}")
    if "compare.py" in status:
        check_failures.append(f"compare.py: {status['compare.py']}")
    attempted = res["attempted"] + len(res["checks"])
    failed = res["failed"] + len(check_failures)

    metrics = dict(res["metrics"])
    if a.trace == 0:
        metrics["ok_ratio"] = 1.0 - failed / attempted
        units = END_TO_END
    else:
        units = {k: layer_unit(k) for k in metrics}
    hz = os.sysconf("SC_CLK_TCK")
    busy, steal = (end - begin for begin, end in zip(ticks_start, cpu_ticks()))
    info = dict(res["info"], env=pinned, loadavg_start=load_start, loadavg_end=loadavg(),
                machine_busy_cpu_s=busy / hz, machine_steal_s=steal / hz,
                trace_file=str(trace_out), failures=res["failures"] + check_failures,
                fail_ratio=failed / attempted, checks={k: status.get(k) for k in res["checks"]})
    print("perfbench " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
