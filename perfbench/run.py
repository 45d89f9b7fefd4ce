#!/usr/bin/env python3
"""Benchmark driver: build, generate inputs, run one workload, check outputs.

    python3 perfbench/run.py --workload etl_daily --seed 7 --seconds 10 --trace 0

Run from the repository root. It compiles src/main/scala plus perfbench/scala
with the Scala compiler in $SPARK_HOME/jars (cached under .bench_build by
source hash), writes the seeded inputs under .bench_build/work, runs the
workload in fresh JVMs and checks the outputs against DuckDB. The last
stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones. The
line before it is a context record (host, confs, every sample); see
perfbench/README.md for what each metric means.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
# the Spark jars build.sbt compiles against (its unmanagedBase)
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
FIXTURE = HERE / "fixtures" / "sf0.01"
ROWS_PER_DAY = 100_000
RUN_BUDGET_S = 165  # a run must end within 180 s once the build is cached
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_FLAGS = ["-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
WORKLOADS = ("etl_daily", "query_suite")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def build():
    """Compile the program and the benchmark; reuse a build of the same sources."""
    sources = sorted((ROOT / "src/main/scala").rglob("*.scala")) + \
        sorted((HERE / "scala").rglob("*.scala"))
    h = hashlib.sha256()
    for p in sources:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out, 0.0
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.monotonic()
    log(f"compiling {len(sources)} Scala files")
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", JARS, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-cp", JARS] + [str(p) for p in sources],
                       capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit("perfbench: compile failed")
    tmp.rename(out)
    return out, time.monotonic() - t0


def jvm(classes, work, args, tag, cpus, deadline):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_LOCAL_DIR=str(work / "spark-local"))
    (work / "tmp").mkdir(exist_ok=True)
    cmd = ["java"] + ADD_OPENS + JVM_FLAGS + [
        f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", f"{JARS}:{classes}", "graft.perfbench.PerfMain", "--work", str(work)] + args
    with open(work / f"jvm-{tag}.log", "w") as err:
        r = subprocess.run(cmd, stdout=err, stderr=err, env=env, cwd=work,
                           timeout=max(1, deadline - time.monotonic()))
    if r.returncode != 0:
        raise SystemExit(f"perfbench: JVM ({tag}) exited {r.returncode}; see {work}/jvm-{tag}.log")
    return json.loads((work / "result.json").read_text())


def make_inputs(workload, seed, seconds, work):
    """Seeded inputs; returns the rows each op input carries."""
    if workload == "query_suite":
        return None
    # at least 5 days (cold, JIT warm-up, three warm days), more where a warm
    # day of ~2 s leaves room; the run stops early when they are used up
    manifest = gen.generate_daily(seed, work, days=int(seconds // 2) + 4,
                                  rows_per_day=ROWS_PER_DAY)
    (work / "manifest.tsv").write_text("".join(f"{m['glob']}\t{m['rows']}\n" for m in manifest))
    return [m["rows"] for m in manifest]


def check_queries(work):
    """Verify.dumpAll output vs DuckDB via tools/compare.py: {query: passed}."""
    r = subprocess.run([sys.executable, str(ROOT / "tools/compare.py"), str(FIXTURE),
                        str(work / "verify")], capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdicts[rest.split(":")[0].split(" ")[0]] = word == "PASS"
    if not verdicts:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit("perfbench: oracle compare produced no verdicts")
    return verdicts


def pct(xs, q):
    """Linear-interpolated percentile (0-100) of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100
    i = int(k)
    return s[i] + (s[min(i + 1, len(s) - 1)] - s[i]) * (k - i)


def summarize(workload, res, setups, input_rows):
    """End-to-end metrics, plus the workload-specific figures for the record."""
    ops = res["ops"]
    cold = [o["seconds"] for o in ops if o["phase"] == "cold"]
    warm = [o["seconds"] for o in ops if o["phase"] == "warm"]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (sum(cold), "s"),
        "warm_p50_s": (statistics.median(warm), "s"),
        "warm_mean_s": (statistics.fmean(warm), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    named = {"warm_ops": len(warm)}
    if workload == "query_suite":
        passes = {}
        for o in ops:
            if o["phase"] == "warm":
                passes[o["input"]] = passes.get(o["input"], 0.0) + o["seconds"]
        named.update(query_cold_p50_s=pct(cold, 50), query_cold_p75_s=pct(cold, 75),
                     query_warm_p50_s=pct(warm, 50), query_warm_p75_s=pct(warm, 75),
                     suite_cold_s=sum(cold), suite_warm_s=statistics.median(passes.values()))
    else:
        warm_rows = sum(input_rows[o["input"]] for o in ops if o["phase"] == "warm")
        named.update(etl_cold_run_s=cold[0], etl_run_p50_s=statistics.median(warm),
                     etl_rows_per_s=warm_rows / sum(warm))
    return e2e, named


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src/main/scala/graft/Pipeline.scala").is_file():
        raise SystemExit("perfbench: run from a checkout of the repository root "
                         "(src/main/scala not found)")

    cpus = len(os.sched_getaffinity(0))
    host = {"nproc": os.cpu_count(), "cores_used": cpus, "load1_start": loadavg(),
            "git_commit": git_commit(), "seed": a.seed, "workload": a.workload,
            "seconds": a.seconds, "trace": a.trace}
    cpu0 = cpu_times()
    classes, build_s = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.monotonic()
    input_rows = make_inputs(a.workload, a.seed, a.seconds, work)
    gen_s = time.monotonic() - t0

    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--data", str(FIXTURE)]
    # set-up is paid once per process, so it is also timed in a set-up-only
    # process; a traced run does not report it and skips that process
    setups = [] if a.trace else [
        jvm(classes, work, base + ["--trace", "0", "--setup-only", "1"], "setup", cpus,
            deadline)["setup_s"]]
    res = jvm(classes, work, base + ["--trace", str(a.trace)], "main", cpus, deadline)
    setups.append(res["setup_s"])

    ops = res["ops"]
    if a.workload == "query_suite":
        verdicts = check_queries(work)
        op_ok = [o["ok"] and verdicts.get(o["name"], False) for o in ops]
        report = {"oracle_failures": sorted(k for k, v in verdicts.items() if not v)}
    else:
        verdicts, report = oracle.check(work, ops)
        op_ok = [o["ok"] and v for o, v in zip(ops, verdicts)]
    failed = op_ok.count(False)

    e2e, named = summarize(a.workload, res, setups, input_rows)
    stale = sum(len(v) for v in report.get("stale_dates", {}).values())
    named["error_rate"] = failed / len(ops)
    if a.trace:
        metrics = layers.per_layer(work / "spans.jsonl", ops, input_rows, cpus, stale)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    cpu1 = cpu_times()
    host.update(load1_end=loadavg(),
                steal_share=(cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
                spark_version=res["spark_version"], java_version=res["java_version"],
                jvm_args=res["jvm_args"], gc=res["gc"], spark_cores=res["cores"],
                build_s=build_s, generate_s=gen_s)
    record = {"host": host, "setup_samples_s": setups, "named": named, "checks": report,
              "ops": ops, "confs": res["confs"]}
    (work / "record.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in ("host", "setup_samples_s", "named", "checks")}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
