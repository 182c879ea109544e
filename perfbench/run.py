"""perfbench: run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload raster_batch --seed 1 --seconds 20 --trace 0

Builds the engine from the checkout's sources (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py, cached
per seed, outside the timed region), runs the harness JVM on
local[min(nproc, 4)] with the test suite's driver-heap rule, checks the
outputs against the answers planted by the generator, and prints every
metric by name with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1 (a traced run also
writes its spans and a self-time report under perfbench/.out/).
"""
import argparse
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

DEADLINE_S = 170
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
OP_UNITS = {"curation_batch": "doc", "raster_batch": "Mpx",
            "interactive_mix": "request", "stream_ingest": "doc"}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    return min(len(os.sched_getaffinity(0)), 4)


def driver_heap():
    """The test suite's rule: half the machine's memory, clamped to [2g, 8g]."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_probe():
    """Single-core hashing time (ms) for a fixed amount of work."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = b"x" * 65536
    for _ in range(600):
        h.update(block)
    return (time.perf_counter() - t0) * 1e3


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def disk_probe(d):
    """Sequential write+fsync then read of 32 MiB in the work dir (MB/s)."""
    p = os.path.join(d, "probe.bin")
    data = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(p, "wb") as f:
        for _ in range(32):
            f.write(data)
        f.flush()
        os.fsync(f.fileno())
    w = 32 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    with open(p, "rb") as f:
        while f.read(1 << 20):
            pass
    r = 32 / (time.perf_counter() - t0)
    os.remove(p)
    return round(w, 1), round(r, 1)


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples above it. Below 21 samples that rule lands at or under the
    median, so p90 is reported instead, interpolated between order
    statistics (the max below two samples)."""
    n = len(xs)
    if n < 2:
        return max(xs), 100.0, n
    if n < 21:
        return statistics.quantiles(xs, n=10, method="inclusive")[8], 90.0, n
    s = sorted(xs)
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def end_to_end(res):
    st = res["setup"]
    ph = res["untraced"]
    lat = [x for v in ph["ops"].values() for x in v]
    t, pct, n = tail(lat)
    m = {
        "setup_s": st["session_s"] + st["layout_build_s"] + st["index_build_s"]
                   + st["warmup_s"],
        "work_per_s": ph["work"] / ph["busy"],
        "p50_ms": median(lat) * 1e3,
        "tail_ms": t * 1e3,
        "peak_heap_mb": ph["peak_heap_mb"],
        "stored_bytes_per_input_byte": ph["stored_bytes"] / ph["input_bytes"],
    }
    return m, {"tail_percentile": pct, "samples": n,
               "per_op": {k: {"n": len(v), "p50_ms": median(v) * 1e3,
                              "tail_ms": tail(v)[0] * 1e3,
                              "ms": [round(x * 1e3, 1) for x in v]}
                          for k, v in ph["ops"].items()}}


def run_jvm(args, classpath, inputs, work, result, log, t0):
    cmd = (["java", f"-Xmx{driver_heap()}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--input", inputs, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores()), "--result", result])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(10, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            return None
        finally:
            # on a timeout, and on SIGTERM/SIGINT (see main), the JVM and
            # anything it started go down with the run
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    # interactive_mix runs here too, but is not in BENCHMARK.json (see README)
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))

    classpath = build.ensure_built()
    # the run's 180 s budget starts after the build (a first run in a
    # fresh checkout compiles the engine)
    t0 = time.time()
    cache = os.path.join(HERE, ".cache", f"{args.workload}-seed{args.seed}")
    if not os.path.isdir(cache):
        gen.generate(args.workload, args.seed, cache)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu_pre = cpu_probe()
    disk = disk_probe(work)
    steal0 = cpu_times()
    result = os.path.join(work, "result.json")
    log = os.path.join(HERE, ".out", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    rc = run_jvm(args, classpath, cache, work, result, log, t0)
    steal1 = cpu_times()
    cpu_post = cpu_probe()
    if rc != 0 or not os.path.isfile(result):
        shutil.rmtree(work, ignore_errors=True)
        reason = "timed out" if rc is None else f"exited {rc}"
        sys.stderr.write(f"perfbench: harness {reason}; log: {log}\n")
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(1)
    res = json.load(open(result))
    shutil.rmtree(work, ignore_errors=True)

    phases = [res[k] for k in ("untraced", "traced") if k in res]
    attempted = sum(p["attempted"] for p in phases)
    failed = sum(p["failed"] for p in phases)
    context = dict(res["context"])
    context.update({
        "workload": args.workload, "seed": args.seed, "engine_sha": build.engine_sha(),
        "nproc": len(os.sched_getaffinity(0)), "master": f"local[{cores()}]",
        "driver_heap": driver_heap(), "python": platform.python_version(),
        "cpu_probe_ms": {"pre": round(cpu_pre, 2), "post": round(cpu_post, 2)},
        "disk_probe_mb_per_s": {"write": disk[0], "read": disk[1]},
        "cpu_steal_frac": round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4),
        "inputs": json.load(open(os.path.join(cache, "expected.json")))["sizes"],
    })
    # contended: the hypervisor took over 2% of the CPUs during the run,
    # the CPU probe moved by over a half across it, or the scratch disk
    # wrote under 100 MB/s
    context["contended"] = (context["cpu_steal_frac"] > 0.02
                            or abs(cpu_post - cpu_pre) > 0.5 * min(cpu_pre, cpu_post)
                            or disk[0] < 100)
    print(f"[perfbench] context {json.dumps(context, sort_keys=True)}")
    print(f"[perfbench] setup {json.dumps(res['setup'])}")
    for f in (f for p in phases for f in p["failures"]):
        print(f"[perfbench] CHECK FAILED {f}")
    print(f"[perfbench] ops attempted={attempted} failed={failed} "
          f"ops_failed_frac={failed / max(attempted, 1):.4f}")
    if any(p["work"] == 0 for p in phases):
        sys.stderr.write("perfbench: no op completed, so no timing exists; "
                         "see the CHECK FAILED lines\n")
        sys.exit(1)

    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    e2e, detail = end_to_end(res)
    print(f"[perfbench] work unit: {OP_UNITS[args.workload]}; tail = p{detail['tail_percentile']:.1f} "
          f"of {detail['samples']} samples")
    for k, v in detail["per_op"].items():
        print(f"[perfbench] op {k}: n={v['n']} p50_ms={v['p50_ms']:.3f} "
              f"tail_ms={v['tail_ms']:.3f} samples_ms={v['ms']}")
    if args.trace:
        computed, report = layers.report(res)
        trace_out = os.path.join(HERE, ".out", f"{args.workload}-seed{args.seed}-trace.json")
        with open(trace_out, "w") as f:
            json.dump({"context": context, "spans": res["spans"],
                       "layer_counters": res["layer_counters"], "report": report}, f)
        for line in layers.format_report(report):
            print(f"[perfbench] {line}")
        print(f"[perfbench] spans and report written to {os.path.relpath(trace_out)}")
        layer_units = dict(layers.metric_specs(gen.WORKLOADS))
        for k, v in computed.items():
            if v:
                print(f"[perfbench] {k} = {v:.6g} {layer_units[k]}")
        metrics = {m["name"]: computed[m["name"]] for m in SPEC["per_layer"]}
    else:
        metrics = e2e
        for k, v in metrics.items():
            print(f"[perfbench] {k} = {v:.6g} {units[k]}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
