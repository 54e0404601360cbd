#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the engine and the
benchmark (`src/main/scala` plus `perfbench/src`) with the Scala compiler
shipped in Spark's jars, and generates the input tables; both land under
`.bench_build/` and are reused while their sources are unchanged. Every
answer is checked: closed-loop results against DuckDB running the
registry's oracle SQL, keyed-dedup end states against the generator.

stdout ends with a record line (master, cores, canary, all metrics) and then
the result line `{"correct", "attempted", "failed", "metrics"}`; with
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SCALE = 0.1
DATA_SEED = 42
JVM_TIMEOUT_S = 170
CLOSED_LOOP = ("batch_sql", "selftest")
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(rel, pattern="**/*"):
    return [p for p in glob.glob(os.path.join(ROOT, rel, pattern), recursive=True)
            if os.path.isfile(p)]


def build(jars):
    """Compile the engine plus the benchmark into .bench_build/classes."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a checkout")
    sources = files_under("src/main/scala", "**/*.scala") + files_under("perfbench/src", "**/*.scala")
    resources = files_under("src/main/resources")
    classes = os.path.join(BUILD, "classes")
    stamp = digest(sources + resources)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(sources)} sources")
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    t0 = time.time()
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", fresh, "-classpath", jars, "@" + argfile],
                   check=True, stdout=sys.stderr, timeout=800)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for p in resources:
        dst = os.path.join(fresh, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def data():
    """The input tables, generated once per generator version."""
    import datagen
    here = os.path.dirname(os.path.abspath(__file__))
    stamp = digest([os.path.join(here, "datagen.py")])[:16]
    out = os.path.join(BUILD, "data", f"sf{SCALE}-{stamp}")
    if not os.path.exists(os.path.join(out, "DONE")):
        log(f"generating sf{SCALE} tables")
        shutil.rmtree(out, ignore_errors=True)
        datagen.generate(out, SCALE, DATA_SEED)
        open(os.path.join(out, "DONE"), "w").close()
    return out


def run_jvm(jars, classes, data_dir, workload, seed, seconds, trace, cores):
    out = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "--enable-native-access=ALL-UNNAMED",
            "-Djdk.reflect.useDirectMethodHandle=false"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classes + os.pathsep + jars, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores), "--data", data_dir, "--out", out])
    proc = subprocess.Popen(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {workload} run exceeded {JVM_TIMEOUT_S} s")
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: {workload} run failed (exit {code})")
    with open(result) as f:
        return json.load(f), out


def pct(xs, q):
    """Linear-interpolated percentile, as numpy's default."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def score(rec, wrong_keys):
    """End-to-end metrics; wrong answers count as failed, never as timings."""
    e2e = dict(rec["end_to_end"])
    failed = rec["failed"]
    if rec["workload"] in CLOSED_LOOP:
        good = [ms for key, ms in rec["ops"] if key not in wrong_keys]
        failed += len(rec["ops"]) - len(good)
        if good:
            e2e["latency_p50_ms"] = pct(good, 50)
            e2e["latency_tail_ms"] = pct(good, 90)
            e2e["throughput_per_s"] = len(good) / e2e["loop_s"]
    return e2e, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    if args.selftest:
        args.workload, args.seconds, args.trace = "selftest", 2, 0
    elif args.workload not in workloads:
        raise SystemExit(f"perfbench: --workload must be one of {workloads}")
    cores = len(os.sched_getaffinity(0))
    jars = spark_jars()
    classes = build(jars)
    data_dir = data()
    rec, out = run_jvm(jars, classes, data_dir, args.workload, args.seed, args.seconds,
                       args.trace, cores)
    wrong = oracle.check(out, data_dir, os.path.join(BUILD, "oracle"))
    shutil.rmtree(out)
    e2e, failed = score(rec, wrong)
    rec["failed_keys"] = rec["failed_keys"] + sorted(wrong)
    rec["failed"] = failed
    rec["end_to_end"] = e2e
    can = rec["canary"]
    drift = can["end"]["cpu_ms"] / can["start"]["cpu_ms"]
    rec["contended"] = rec["per_layer"]["host.loadavg"] > 2 * cores or not 0.8 < drift < 1.25
    if args.selftest:
        return selftest(rec)
    if args.trace:
        layers = rec["per_layer"]
        layers.update({"trace." + k: v for k, v in e2e.items()})
        names, values = spec["per_layer"], layers
    else:
        names, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", "runs.jsonl"), "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
    rec.pop("ops")
    print(json.dumps({"record": rec}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))


def selftest(rec):
    """Each deliberately broken operation must show up as failed."""
    keys = rec["failed_keys"]
    checks = {
        "throwing registry call counted as failed": "selftest_broken" in keys,
        "wrong answer caught by the DuckDB oracle": "q_sql_tpch6" in keys,
        "lost keyed rows caught by the end-state check":
            any(k.startswith("stream_keyed:") for k in keys),
        "failed operations are not timed": rec["end_to_end"].get("latency_p50_ms") is None,
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    print(f"attempted={rec['attempted']} failed={rec['failed']} failed_keys={sorted(set(keys))}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
