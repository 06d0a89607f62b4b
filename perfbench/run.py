#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft's main sources and the harness in `perfbench/src` with the
Scala compiler that ships with Spark (no sbt), then runs one workload in
one JVM at local[nproc] and prints every metric by name and unit, the
output-check result and a machine record. The last line of stdout is the
JSON result. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.tsv")
WORKLOADS = ("analytics", "ingest", "demo_join", "curation")
SETUPS = 3
JVM_TIMEOUT_S = 170
# The reference's only published number: the Demo join -> groupby over
# 2,000,000 rows per side in 10.72 s on one 32-PE node.
REFERENCE_ROWS_PER_S = 2 * 2_000_000 / 10.718802

E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
             "cpu_s": "s", "heap_retained_mb": "MB"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("java not found")
    return exe


def compile_into(out, files, classpath, jars):
    """scalac `files` into `out`, unless the stamp shows they are built."""
    stamp = os.path.join(out, ".stamp")
    key = digest(files) + classpath
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    t = time.time()
    r = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", classpath, "@" + argfile])
    if r.returncode != 0:
        fail(f"compile of {os.path.relpath(out, ROOT)} failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"built {os.path.relpath(out, ROOT)} in {time.time() - t:.1f}s", file=sys.stderr)


def build(jars):
    graft = sources(GRAFT_SRC)
    if not graft:
        fail("graft sources (src/main/scala) not found; run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    graft_out = os.path.join(BUILD, "graft-classes")
    bench_out = os.path.join(BUILD, "bench-classes")
    compile_into(graft_out, graft, os.path.join(jars, "*"), jars)
    compile_into(bench_out, sources(BENCH_SRC),
                 graft_out + os.pathsep + os.path.join(jars, "*"), jars)
    return [bench_out, graft_out, GRAFT_RES, os.path.join(jars, "*")]


def driver_mem():
    """Driver heap as in the repo's test command: half of RAM, 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest(sources(GRAFT_SRC))[:16]


def jvm(cp, main, args, work, heap):
    """Command and environment for a harness JVM whose scratch files
    (Spark local dirs, temp files) stay under `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_WAREHOUSE", None)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java(), *opens, f"-Xmx{heap}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(cp), main, *args]
    return cmd, env


def run_jvm(cp, args, work, deadline):
    cmd, env = jvm(cp, "graftbench.Main", args, work, driver_mem())
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"harness JVM exited with {code}")


def show(name, value, unit):
    print(f"  {name:<28} {value:>14.6g} {unit}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--update-fingerprints", action="store_true",
                    help="record this run's output fingerprints as the expected ones")
    ap.add_argument("--write-corpus", metavar="DIR",
                    help="only write the query workloads' corpus to DIR")
    args = ap.parse_args()
    if not args.write_corpus and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    jars = spark_jars()
    cp = build(jars)
    if args.write_corpus:
        cmd, env = jvm(cp, "graftbench.Corpus", [os.path.abspath(args.write_corpus)],
                       os.path.join(BUILD, "runs", "corpus"), driver_mem())
        sys.exit(subprocess.run(cmd, env=env).returncode)
    cores = nproc()
    load_start = load1()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "record.json")
    launched = time.time()
    run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", work, "--out", out, "--setups", str(SETUPS),
                 "--expected", EXPECTED, "--launched-ms", repr(launched * 1000)],
            work, launched + JVM_TIMEOUT_S)
    with open(out) as f:
        record = json.load(f)
    load_end = load1()
    exited = time.time()

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    attempted, failed = metrics.counts(record)
    e2e = metrics.end_to_end(record)
    samples = metrics.op_samples(record)
    machine = {
        "nproc": cores, "master": record["master"], "load1_start": load_start,
        "load1_end": load_end, "contended": load_start > cores,
        "commit": commit(), "java": record["java_version"],
        "spark": record["spark_version"], "seed": args.seed,
        "workload": args.workload, "trace": args.trace,
    }
    print(f"graft benchmark · workload {args.workload} · seed {args.seed} · trace {args.trace}")
    print("machine " + json.dumps(machine, sort_keys=True))
    t = record["timed"]
    print("timing: set-ups (session, staging, warm-up op) " + ", ".join(
        f"{x['setup_ms'] / 1000:.2f} ({x['session_ms'] / 1000:.2f}, {x['stage_ms'] / 1000:.2f}, "
        f"{x['first_op_ms'] / 1000:.2f})" for x in record["setups"]) + " s, "
          f"timed region {(t['end_ms'] - t['start_ms']) / 1000:.2f} s, "
          f"launch to exit {exited - launched:.2f} s")
    print(f"end-to-end ({len(record['passes'])} timed passes, {len(samples)} op samples):")
    for k, v in e2e.items():
        show(k, v, E2E_UNITS[k])
    p90 = metrics.tail_percentile(samples, 0.9)
    print("  op_p90_s " + (f"{p90:.6g} s" if p90 is not None else
                           f"not reported ({len(samples)} samples; needs 10 beyond p90)"))
    print(f"  op_error_rate                {failed / attempted:.6g} ratio "
          f"({failed} failed of {attempted} attempted)")
    if args.workload == "demo_join":
        print(f"  rows_per_s vs reference: {e2e['rows_per_s']:.4g} here on "
              f"{cores} cores, {REFERENCE_ROWS_PER_S:.4g} rows/s/node in the "
              f"reference (2M rows per side, 10.72 s, 32 PEs)")
    errors = [(o["op"], o["error"]) for o in record["ops"] if o["error"]]
    print("output check: " + ("all ops correct" if not errors else
                              f"{len(errors)} ops wrong or failed"))
    for op, err in errors[:10]:
        print(f"  {op}: {err}")

    result_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layers = metrics.per_layer(record)
        print("per-layer (traced run; counts and times per timed pass):")
        for k, v in layers.items():
            show(k, v, units[k])
        worst = metrics.reconcile(metrics.attribute(record))
        print(f"reconcile: build + job-covered + gap vs op wall, worst op off by "
              f"{worst:.2%} ({'within' if worst <= 0.05 else 'OUTSIDE'} 5%)")
        base = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)["end_to_end"]
            print("tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{k} {e2e[k] / plain[k] - 1:+.1%}" for k in e2e))
        with open(os.path.join(results, f"{tag}-spans.json"), "w") as f:
            json.dump(metrics.spans(record), f)
        result_metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}

    if args.update_fingerprints:
        update_fingerprints(args, record)

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": result_metrics}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(dict(result, machine=machine, end_to_end=e2e), f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def update_fingerprints(args, record):
    rows = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            rows = dict(l.rstrip("\n").split("\t") for l in f if "\t" in l)
    for o in record["ops"]:
        if o["fingerprint"] is None:
            continue
        key = (f"ingest/seed{args.seed}" if args.workload == "ingest"
               else f"{args.workload}/{o['op']}")
        rows[key] = o["fingerprint"]
    with open(EXPECTED, "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in sorted(rows.items()))


if __name__ == "__main__":
    main()
