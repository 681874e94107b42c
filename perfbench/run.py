"""The repo benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/harness, against the engine sources in
src/main/scala) on first use, generates the workload's inputs from the seed,
runs the harness JVM (one driver process, one client thread, local[2]),
checks every output, and prints one metric per line followed by a
final JSON line {correct, attempted, failed, metrics}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones.
Exits non-zero when an output check fails.
"""
import argparse
import concurrent.futures
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(HARNESS, "target")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
STAMP = os.path.join(BUILD_DIR, "perfbench-sources.sha256")
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SETUP_REPS = 3
# a fixed-size heap: peak RSS then does not depend on when the heap grew
HEAP = "2g"
WORKLOADS = ("batch", "serving")

# the JDK module openings Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# end-to-end metrics: name -> unit (the order they are printed in)
E2E_UNITS = {
    "setup_s": "s", "success_rate": "ratio", "peak_rss_mb": "MB", "ingest_s": "s",
    "pass_s": "s", "rows_per_s": "1/s", "cpu_s_per_pass": "s", "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms", "op_p50_ms": "ms", "op_p90_ms": "ms", "write_p50_ms": "ms",
    "space_amp": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HARNESS, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with sbt and record its runtime classpath; skipped
    when the sources are unchanged since the last build."""
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the harness (first run in this checkout)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("harness build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)


def cpu_times():
    """(all, steal) jiffies summed over CPUs from /proc/stat; None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return sum(v), v[7]


def steal_pct(before, after):
    """Share of the CPUs' time the hypervisor gave to other guests in between."""
    if not before or not after or after[0] == before[0]:
        return None
    return 100.0 * (after[1] - before[1]) / (after[0] - before[0])


def host_probe_ms():
    """Median time of a fixed CPU- and memory-bound task (SHA-256 of 16 MiB):
    a reading of how fast the host is right now, to tell a slow host from a
    slow change."""
    buf = bytes(16 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        times.append(1000.0 * (time.perf_counter() - t0))
    return statistics.median(times)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _generate_timed(job):
    workload, seed, out_dir = job
    t0 = time.monotonic()
    manifest = gen.generate(workload, seed, out_dir)
    return manifest, time.monotonic() - t0


def setup_inputs(workload, seed, run_dir):
    """Generate the inputs SETUP_REPS times at once (same seed, a fresh
    directory each); the copies must be byte-identical. Returns (dir,
    manifest, median generation seconds)."""
    jobs = [(workload, seed, os.path.join(run_dir, f"inputs{rep}")) for rep in range(SETUP_REPS)]
    with concurrent.futures.ProcessPoolExecutor(max_workers=SETUP_REPS) as pool:
        results = list(pool.map(_generate_timed, jobs))
    manifests = [m for m, _ in results]
    if any(m != manifests[0] for m in manifests):
        raise SystemExit("input generation is not deterministic for one seed")
    for _, _, d in jobs[1:]:
        shutil.rmtree(d)
    return jobs[0][2], manifests[0], statistics.median(t for _, t in results)


def run_harness(args, data_dir, run_dir, out_file):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Harness", "--workload", args.workload,
            "--data", data_dir, "--work", run_dir, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--seed", str(args.seed), "--out", out_file])
    launch_ms = time.time() * 1000.0
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            _, status, usage = os.wait4(p.pid, 0)
        except BaseException:
            p.kill()
            p.wait()
            raise
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0 or not os.path.exists(out_file):
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    with open(out_file) as f:
        record = json.load(f)
    # ru_maxrss is in KiB on Linux
    return record, launch_ms, usage.ru_maxrss / 1024.0


def e2e_metrics(workload, rec, setup_s, peak_rss_mb, attempted, failed):
    passes = [p for p in rec["passes"] if not p["traced"]]
    walls = sorted(p["wall_s"] for p in passes)
    cpus = sorted(p["cpu_s"] for p in passes)
    ops = rec["ops"]
    if workload == "serving":
        # an op is one request; latency percentiles are over the reads
        n_ops = len(ops)
        op_ms = [o["ms"] for o in ops if o["kind"] == "read"]
    else:
        # an op is one pass, the one call a batch job makes (its stages are
        # too unlike each other for a percentile over them to be stable)
        n_ops = len(walls)
        op_ms = [1000.0 * w for w in walls]
    # writes: serving's appends and deletes; on batch every stage call,
    # since each one ends in writing its output table
    write_ms = [o["ms"] for o in ops if workload == "batch" or o["kind"] == "write"]
    pass_s = stats.percentile(walls, 50)
    return {
        "setup_s": setup_s,
        "success_rate": 1.0 - stats.error_rate(attempted, failed),
        "peak_rss_mb": peak_rss_mb,
        "ingest_s": rec["ingest_s"],
        "pass_s": pass_s,
        "rows_per_s": rec["rows_per_pass"] / pass_s,
        "cpu_s_per_pass": stats.percentile(cpus, 50),
        "ops_per_s": n_ops / sum(walls),
        "cpu_ms_per_op": 1000.0 * sum(cpus) / n_ops,
        "op_p50_ms": stats.percentile(op_ms, 50),
        "op_p90_ms": stats.percentile(op_ms, 90),
        "write_p50_ms": stats.percentile(write_ms, 50),
        "space_amp": rec["space_amp"],
    }, {"op_samples": len(op_ms), "op_tail_percentile": stats.tail_percentile(len(op_ms)),
        "passes": len(walls)}


def per_layer_metrics(rec):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    got = dict(rec["per_layer"])
    # the traced pass against the untraced ones after it: the first pass
    # of a run is still warming up
    plain = [p["wall_s"] for p in rec["passes"][1:] if not p["traced"]]
    traced = [p["wall_s"] for p in rec["passes"] if p["traced"]]
    base = stats.percentile(plain, 50)
    got["trace.overhead_pct"] = 100.0 * (stats.percentile(traced, 50) - base) / base
    # every workload reports every name; a span it never runs reads 0
    return {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a SIGTERM unwinds like an exception, so the harness JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found next to perfbench/")
    load_start, probe_start = os.getloadavg(), host_probe_ms()
    build()
    t_setup = time.time()

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir, manifest, gen_s = setup_inputs(args.workload, args.seed, run_dir)

    out_file = os.path.join(run_dir, "record.json")
    cpu_before = cpu_times()
    rec, launch_ms, peak_rss_mb = run_harness(args, data_dir, run_dir, out_file)
    cpu_after = cpu_times()
    # set-up = input generation (median of SETUP_REPS) + JVM launch to
    # session ready + warm-up (the timed ingest is reported on its own)
    setup_s = gen_s + (rec["session_ready_ms"] - launch_ms) / 1000.0 + rec["warmup_s"]

    mismatches = list(rec["mismatches"])
    check = checks.CHECKS.get(args.workload)
    t_check = time.time()
    if check:
        mismatches += check(data_dir, run_dir, rec["oracle"])
    log(f"output checks: {time.time() - t_check:.1f} s")
    for m in mismatches:
        log(f"MISMATCH {m}")
    attempted = len(rec["ops"])
    failed = min(attempted, sum(1 for o in rec["ops"] if not o["ok"]) + len(mismatches))
    correct = failed == 0

    e2e, detail = e2e_metrics(args.workload, rec, setup_s, peak_rss_mb, attempted, failed)
    window = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "cores_used": rec["cores"],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_steal_pct": steal_pct(cpu_before, cpu_after),
        "host_probe_ms_start": probe_start, "host_probe_ms_end": host_probe_ms(),
        "jdk": rec["jdk"], "spark": rec["spark_version"], "python": platform.python_version(),
        "git_commit": git_commit(), "inputs": manifest, "facts": rec["facts"],
        "build_s": t_setup - t_start, **detail,
    }
    if args.trace:
        metrics = per_layer_metrics(rec)
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(rec["spans"], f)
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"window": window, "e2e": e2e, "metrics": metrics,
                   "mismatches": mismatches}, f, indent=1)
    if correct:
        # keep the records and logs; drop inputs, tables and outputs
        for name in os.listdir(run_dir):
            if os.path.isdir(os.path.join(run_dir, name)):
                shutil.rmtree(os.path.join(run_dir, name))

    for name, m in sorted(manifest.items()):
        print(f"input {name} = {m['rows']} rows, {m['bytes']} bytes")
    for k, v in sorted(window.items()):
        if k != "inputs":
            print(f"window {k} = {v}")
    print(f"metric error_rate = {stats.error_rate(attempted, failed):.6f} ratio")
    for k, m in metrics.items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
