#!/usr/bin/env python3
"""Regression benchmark of the graft engine: one workload per process.

Usage:
  python3 perfbench/run.py --workload gemm_dense --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 1
  python3 perfbench/run.py --workload query_mix --seed 1 --seconds 2 --trace 1 --smoke

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.py). Each run starts one JVM with Spark on
local[N], N = the host's CPU count, with N shuffle partitions; one client
runs one op at a time (closed loop). The JVM times its set-up from JVM start
until the session is built and the inputs are staged, runs one cold op,
then a fixed number of warm ops that take about --seconds (at least three;
see NOMINAL_OP_S). Every op's output is checked; a
traced run (--trace 1) also writes a span file and prints the per-layer
metrics instead of the end-to-end ones.

The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it records the run: seed, inputs, host stamps and the
attribution of a traced run. A copy of that record goes to
perfbench/.out/results/ for compare.py.
"""
import argparse
import glob
import json
import os
import re
import shutil
import statistics
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# Sizes that fit the run budget on a 4-core host (see perfbench/README.md).
GEMM_N = 1000
SMOKE_GEMM_N = 200
MIX_GATES = [
    "l64_match_artifact", "r2_pricing_summary", "s3_session_stream",
    "m13_matmul_chain",
]
SMOKE_GATES = ["l64_match_artifact", "m13_matmul_chain"]
# Nominal warm-op seconds on a 4-core host. A run makes --seconds / nominal
# warm ops (at least three), a count fixed per workload and --seconds, so
# every run takes its median at the same point of the JVM's warm-up.
NOMINAL_OP_S = {"gemm_dense": 2.4, "query_mix": 10.0}
MIN_WARM_OPS = 3
# End-to-end times are reported as on a quiet host whose calibration unit
# takes CAL_NOMINAL_S CPU-seconds per thread (about what it takes on a quiet
# core of the 4-core host this was built on): wall times without the share
# the hypervisor stole, and wall and CPU times × CAL_NOMINAL_S / the run's
# median calibration sample. The raw values are per-layer metrics (raw.*).
CAL_NOMINAL_S = 0.2
HEAP = "4g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpu_stat():
    """(steal, busy) jiffies of all CPUs from /proc/stat, or None off Linux.
    Busy is user + nice + system + irq + softirq, as in the harness JVM."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, v[0] + v[1] + v[2] + v[5] + v[6]
    except OSError:
        return None


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def oracle_check(sf_dir, out_dir, names):
    """Runs tools/check.py unmodified; returns {name: passed}."""
    tool = os.path.join(ROOT, "tools", "check.py")
    p = subprocess.run([sys.executable, tool, sf_dir, out_dir] + names,
                       capture_output=True, text=True, timeout=120)
    result = {n: False for n in names}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|ERROR) (\S+?):?(\s|$)", line)
        if m and m.group(2) in result:
            result[m.group(2)] = m.group(1) == "PASS"
        if m and m.group(1) != "PASS":
            print(f"perfbench: oracle {line}", file=sys.stderr)
    if p.returncode not in (0, 1):
        sys.stderr.write(p.stderr[-2000:])
    return result


def checksum(con, out_dir):
    """Order-independent digest of a gate's Parquet output."""
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    return con.sql(f"SELECT count(*), bit_xor(hash(t)), sum(hash(t) % 1000003) "
                   f"FROM read_parquet({files!r}) t").fetchone()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: 200² GEMM, a 2-gate mix at sf0.001")
    a = ap.parse_args()
    # On SIGTERM, unwind so subprocess.run kills and reaps the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {', '.join(names)}")
    if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        fail("tools/check.py not found; run from a checkout of the repository")

    stat0, load0, t_start = cpu_stat(), load1(), time.time()
    try:
        classes = build.ensure_built()
    except subprocess.CalledProcessError as e:
        fail(f"build failed: {e}")

    cores = os.cpu_count() or 1
    data = os.path.join(HERE, "data", "sf0.001" if a.smoke else "sf0.01")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, ".out", "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    if a.workload == "query_mix":
        # The JVM stages the seeded documents; the other tables sit beside
        # them unchanged.
        os.makedirs(os.path.join(work, "data"))
        for f in os.listdir(data):
            if f != "documents.parquet":
                shutil.copy(os.path.join(data, f), os.path.join(work, "data"))
    spans = os.path.join(HERE, ".out", "spans", f"{tag}.jsonl")
    gates = SMOKE_GATES if a.smoke else MIX_GATES
    warm_ops = max(MIN_WARM_OPS, round(a.seconds / NOMINAL_OP_S[a.workload]))

    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=16m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(classes), "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--warm", str(warm_ops), "--trace", str(a.trace),
        "--cores", str(cores), "--work", work, "--data", data,
        "--gemm_n", str(SMOKE_GEMM_N if a.smoke else GEMM_N),
        "--gates", ",".join(gates), "--spans", spans]
    log_path = os.path.join(work, "jvm.log")
    t_jvm = time.time()
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=JVM_TIMEOUT_S, cwd=work)
        except subprocess.TimeoutExpired:
            fail(f"the harness JVM exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
    lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the harness JVM failed (exit {p.returncode}); log in {log_path}")
    r = json.loads(lines[-1][len("PERFBENCH "):])
    t_oracle = time.time()

    # Oracle comparison of op 0's output (later ops are checked in the JVM
    # against op 0).
    ops = r["ops"]
    if a.workload == "query_mix":
        mix = os.path.join(work, "mix")
        if ops[0]["error"] is None:
            ok = oracle_check(os.path.join(work, "data"), os.path.join(mix, "pass0"), gates)
            bad = [n for n, v in ok.items() if not v]
            if bad:
                ops[0]["error"] = "oracle mismatch: " + ", ".join(bad)
        # Later passes must reproduce pass 0's output.
        import duckdb
        con = duckdb.connect()
        first = {g: checksum(con, os.path.join(mix, "pass0", g)) for g in gates}
        for o in ops[1:]:
            if o["error"] is None:
                bad = [g for g in gates
                       if checksum(con, os.path.join(mix, f"pass{o['k']}", g)) != first[g]]
                if bad:
                    o["error"] = "differs from pass 0: " + ", ".join(bad)
    t_end = time.time()
    failed = sum(1 for o in ops if o["error"] is not None)
    stat1, load_end = cpu_stat(), load1()

    warm = [o for o in ops if o["k"] > 0]
    untraced = [o for o in warm if not o["traced"]]
    calib = median(r["calib_cpu_s"])
    speed = CAL_NOMINAL_S / calib
    raw = {
        "raw.setup_s": r["setup_s"],
        "raw.op_s": median([o["wall_s"] for o in untraced]),
        "raw.executor_cpu_s": median([o["cpu_s"] for o in untraced]),
    }
    e2e = {
        "setup_s": r["setup_s"] * (1 - r["setup_stolen"]) * speed,
        "op_s": median([o["wall_s"] * (1 - o["stolen"]) for o in untraced]) * speed,
        "executor_cpu_s": raw["raw.executor_cpu_s"] * speed,
    }
    e2e.update(raw)
    e2e.update({"cold_op_s": ops[0]["wall_s"], "peak_heap_mb": r["peak_heap_mb"],
                "host.calib_cpu_s": calib})
    steal = 0.0
    if stat0 and stat1:
        d_steal, d_busy = stat1[0] - stat0[0], stat1[1] - stat0[1]
        steal = d_steal / (d_steal + d_busy) if d_steal + d_busy > 0 else 0.0
    if a.trace:
        values = dict(r.get("layers", {}))
        values.update(e2e)
        values["host.steal_frac"] = steal
        values["host.load1"] = (load0 + load_end) / 2
        traced_warm = [o["wall_s"] for o in warm if o["traced"]]
        values["trace.overhead_ratio"] = (
            median(traced_warm) / raw["raw.op_s"] if traced_warm and raw["raw.op_s"] else 0.0)
        wanted = bench["per_layer"]
    else:
        values = e2e
        wanted = bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "smoke": a.smoke, "seconds": a.seconds, "inputs": r["describe"],
        "host": {
            "nproc": cores, "java_version": r["java_version"],
            "driver_heap_mb": r["max_heap_mb"],
            "load1_start": load0, "load1_end": load_end,
            "steal_jiffies_start": stat0[0] if stat0 else None,
            "steal_jiffies_end": stat1[0] if stat1 else None,
            "steal_frac": steal,
        },
        "setup_s": r["setup_s"], "session_s": r["session_s"],
        "setup_stolen": r["setup_stolen"],
        "calib_cpu_s_each": r["calib_cpu_s"],
        "ops": ops, "failed_op_ratio": failed / len(ops),
        "attribution": r.get("attribution"), "spans_file": r.get("spans_file"),
        "wall_s": t_end - t_start, "jvm_s": t_oracle - t_jvm,
        "oracle_s": t_end - t_oracle, "metrics": metrics,
    }
    out_dir = os.path.join(HERE, ".out", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}-{int(t_start * 1000)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"run": record}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
