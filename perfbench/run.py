#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source (sbt, offline) into perfbench/target, and caches the
classpath and a class-data-sharing archive under .bench_build/. Each run
then

  1. waits (up to IDLE_WAIT_S) for the CPUs to go idle, then generates
     its input tables from --seed (gen_data.py),
  2. launches one JVM (perfbench.Main) that sets up a local[4] Spark
     session with graft.Bench's settings, runs the workload for --seconds
     and writes run.json,
  3. checks the outputs: batch query results against the library's DuckDB
     oracle SQL, the change-feed stream against the batch apply (in-JVM),
  4. writes the run record (seed, query order, Spark SQL conf, master,
     heap, JVM, nproc, load before start, CPU busy and steal share
     before and during the run, generator lateness, every raw timing) to
     .bench_build/records/, and
  5. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
     --trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
     (units: BENCHMARK.json; definitions: perfbench/METRICS.md).
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CORES = 4
# A fixed young generation keeps the batch JVM's peak RSS from swinging
# with G1's adaptive sizing; the stream runs faster with G1's own sizing.
HEAP = {"query_batch": ["-Xmx3g", "-Xmn512m"], "changefeed_stream": ["-Xmx3g"]}
SF = 0.01
JVM_TIMEOUT_S = 160
IDLE_BUSY = 0.15
IDLE_WAIT_S = 10

sys.path.insert(0, HERE)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile (once per source state). Returns the runtime classpath and
    the class-data-sharing archive made for it, which cuts JVM and Spark
    start-up in every later run."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    jsa = os.path.join(BUILD, f"classes-{stamp}.jsa")
    if os.path.exists(cp_file) and os.path.exists(jsa):
        with open(cp_file) as f:
            return f.read().strip(), jsa
    os.makedirs(BUILD, exist_ok=True)
    log("building library + benchmark with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=700, check=False)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln.strip() for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    log("recording the class-data-sharing archive")
    run_dir = os.path.join(BUILD, "runs", f"class-archive-{os.getpid()}")
    try:
        import gen_data
        gen_data.write(os.path.join(run_dir, "data"), 0, SF)
        run_jvm(cp, None, run_dir, "class-archive", [f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(jsa):
        fail("class-data-sharing archive was not written")
    with open(cp_file, "w") as f:
        f.write(cp)
    for old in os.listdir(BUILD):  # outputs of earlier source states
        if old.startswith(("classpath-", "classes-")) and stamp not in old:
            os.remove(os.path.join(BUILD, old))
    return cp, jsa


def cpu_times():
    """(total, idle, steal) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[3] + v[4], v[7]


def cpu_share(before, after):
    """(busy, steal) share of CPU time between two cpu_times() readings;
    busy includes steal, the time the hypervisor gave to other guests."""
    total = max(1, after[0] - before[0])
    return 1.0 - (after[1] - before[1]) / total, (after[2] - before[2]) / total


def wait_idle():
    """Load gate, as in graft.Bench but over one-second windows: waits up to
    IDLE_WAIT_S for the CPUs to be at most IDLE_BUSY busy (steal included)
    before measuring. Returns (busy share of the last window, its steal
    share, seconds waited)."""
    t0 = time.time()
    while True:
        before = cpu_times()
        time.sleep(1.0)
        busy, steal = cpu_share(before, cpu_times())
        if busy <= IDLE_BUSY or time.time() - t0 >= IDLE_WAIT_S:
            return busy, steal, time.time() - t0


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, run_dir, workload, jvm_opts):
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    launch_ms = int(time.time() * 1000)
    seed, seconds, trace = (args.seed, args.seconds, args.trace) if args else (0, 1, 0)
    cmd = (["java", *ADD_OPENS, *HEAP.get(workload, ["-Xmx3g"]), "-XX:+UseG1GC", *jvm_opts,
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", os.path.join(run_dir, "data"),
            "--out", os.path.join(run_dir, "out"),
            "--work", work, "--launch-ms", str(launch_ms), "--cores", str(CORES)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed ({rc})")
    with open(os.path.join(run_dir, "out", "run.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="run-record path (default: .bench_build/records/)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "SparkEntry.scala")):
        fail("library sources (src/main/scala/graft) not found: run from the repository root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp, jsa = build()
    load_before = os.getloadavg()[0]
    idle_busy, idle_steal, idle_wait_s = wait_idle()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        import gen_data
        t0 = time.time()
        gen_data.write(os.path.join(run_dir, "data"), args.seed, SF)
        gen_s = time.time() - t0
        cpu0 = cpu_times()
        res = run_jvm(cp, args, run_dir, args.workload, [f"-XX:SharedArchiveFile={jsa}"])
        run_busy, run_steal = cpu_share(cpu0, cpu_times())
        setup_s = gen_s + res["jvm_boot_s"] + res["setup_in_jvm_s"]

        if res["kind"] == "batch":
            import oracle
            queries = res["queries"]
            wrong = oracle.check(os.path.join(run_dir, "data"),
                                 os.path.join(run_dir, "out", "results"),
                                 os.path.join(run_dir, "out", "oracle_sql.json"),
                                 queries)
            bad = dict(wrong)
            bad.update(res["failed"])
            attempted, failed = len(queries), len(bad)
            verdict = bad
        else:
            attempted, failed = res["attempted"], res["failed_events"]
            verdict = res["verify"]

        e2e = dict(res["e2e"])
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = res["peak_rss_mb"]
        e2e["ok_frac"] = 1.0 - failed / attempted
        if args.trace:
            layers = res.get("layers", {})
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}

        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sf": SF, "load_1min_before": load_before,
            "idle_gate": {"busy": idle_busy, "steal": idle_steal, "waited_s": idle_wait_s},
            "cpu_during_run": {"busy": run_busy, "steal": run_steal},
            "input_gen_s": gen_s, "jvm_boot_s": res["jvm_boot_s"],
            "setup_in_jvm_s": res["setup_in_jvm_s"], "setup_phases": res["setup_phases"],
            "correctness": {"attempted": attempted, "failed": failed, "detail": verdict},
            "end_to_end": e2e, "jvm_record": res["record"],
            "layers": res.get("layers"), "metrics": metrics,
        }
        rec_path = args.record or os.path.join(
            BUILD, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        os.makedirs(os.path.dirname(os.path.abspath(rec_path)), exist_ok=True)
        with open(rec_path, "w") as f:  # paths relative to the checkout
            f.write(json.dumps(record, indent=1, sort_keys=True).replace(ROOT + "/", ""))
        log(f"run record: {rec_path}")
        if failed:
            log(f"{failed} of {attempted} operations failed: {json.dumps(verdict)[:2000]}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
