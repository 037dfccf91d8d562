#!/usr/bin/env python3
"""graft's benchmark: build, generate seeded inputs, run one workload in a
fresh JVM, check its outputs and print every metric with its unit.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: cdc_trickle, ops_batch (the gated set in BENCHMARK.json) and
bulk_merge, read_mix (runnable by hand). With --trace 0 the last line of
stdout is one JSON object carrying the end-to-end metrics; with --trace 1
it carries the per-layer metrics, and the span sidecar is kept under
.bench_run/traces/. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("cdc_trickle", "bulk_merge", "read_mix", "ops_batch")
# a run must end within 180 s once built
DEADLINE_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# the op kinds whose latency is the workload's headline figure, and those
# whose rows count toward its throughput
PRIMARY = {"cdc_trickle": ({"cycle"}, {"cycle"}),
           "bulk_merge": ({"update"}, {"update", "delete"}),
           "read_mix": ({"point"}, {"point", "scan", "cdf"}),
           "ops_batch": (None, None)}
# each workload's own names for the headline figures, printed beside the generic ones
NAMES = {"cdc_trickle": ("cycle", "change_rows_per_s"),
         "bulk_merge": ("merge", "merge_rows_per_s"),
         "read_mix": ("point_read", "read_rows_per_s"),
         "ops_batch": ("ops_pass", "ops_rows_per_s")}


def cores():
    return len(os.sched_getaffinity(0))


def pct(xs, p):
    """Linear-interpolated percentile of a non-empty list."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are fewer than twenty."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if len(xs) * (1 - p / 100.0) >= 10:
            return p, pct(xs, p)
    return None


def headline(workload, ops):
    """(op p50 ms, rows per second) of a set of ops."""
    lat_kinds, row_kinds = PRIMARY[workload]
    ok = [o for o in ops if not o.get("failed")]
    if lat_kinds is None:
        # ops_batch: one pass over every gate, from each gate's median
        by = {}
        for o in ok:
            by.setdefault(o["kind"], []).append(o["ms"])
        p50 = sum(statistics.median(v) for v in by.values())
        rows = sum(o["rows"] for o in ok)
        ms = sum(o["ms"] for o in ok)
    else:
        lat = [o["ms"] for o in ok if o["kind"] in lat_kinds]
        p50 = statistics.median(lat) if lat else float("nan")
        rows = sum(o["rows"] for o in ok if o["kind"] in row_kinds)
        ms = sum(o["ms"] for o in ok if o["kind"] in row_kinds)
    return p50, (rows / ms * 1000.0 if ms else float("nan"))


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None where it is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, workload, seed, seconds, trace, input_dir, work, budget_s):
    jars = build.spark_jars()
    classpath = os.pathsep.join([str(jars / "*")] + [str(c) for c in cp])
    (work / "tmp").mkdir(parents=True)
    (work / "ops_out").mkdir()
    cmd = ["java", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}", *ADD_OPENS,
           "-cp", classpath, "perfbench.Main", workload, str(seed), str(seconds),
           str(trace), str(input_dir), str(work), str(cores())]
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also when this process is being stopped: never leave the JVM
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        lines = (work / "jvm.log").read_text(errors="replace").splitlines()
        sys.stderr.write("\n".join(l for l in lines if "WARN" not in l)[-3000:] + "\n")
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    res = json.loads((work / "result.json").read_text())
    tr = json.loads((work / "trace.json").read_text()) if trace else None
    return res, tr


def oracle_failures(input_dir, out_dir, budget_s):
    """Gates whose result differs from their oracle SQL, by
    tools/check_oracle.py (DuckDB)."""
    script = ROOT / "tools" / "check_oracle.py"
    r = subprocess.run([sys.executable, str(script), str(input_dir), str(out_dir)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(10, budget_s))
    bad = {l.split()[1].rstrip(":") for l in r.stdout.splitlines() if l.startswith("✗")}
    if r.returncode != 0 and not bad:
        raise RuntimeError(f"check_oracle.py failed:\n{r.stdout[-2000:]}")
    return bad, r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stop request unwinds through the finally blocks, which end the JVM
    # and delete the temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    steps = {}
    try:
        cp = build.ensure()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_run" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    steps["build"] = time.monotonic() - t0
    t0 = time.monotonic()
    try:
        input_dir = work / "input"
        gen.generate(a.workload, a.seed, str(input_dir))
        steps["gen"] = time.monotonic() - t0
        ticks0 = cpu_ticks()
        res, tr = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, input_dir, work,
                          DEADLINE_S - (time.monotonic() - t0))
        ticks1 = cpu_ticks()
        steps["jvm"] = time.monotonic() - t0 - steps["gen"]
        bad_gates, oracle_note = set(), ""
        if a.workload == "ops_batch":
            bad_gates, oracle_note = oracle_failures(
                input_dir, work / "ops_out", DEADLINE_S - (time.monotonic() - t0))
        steps["oracle"] = time.monotonic() - t0 - steps["gen"] - steps["jvm"]
        # CPU time the host took from this machine while the JVM ran: a
        # high share means other tenants, not graft, set the timings
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            steps["steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        if tr is not None:
            keep = ROOT / ".bench_run" / "traces"
            keep.mkdir(parents=True, exist_ok=True)
            (keep / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(tr))
        report(a, res, tr, bad_gates, oracle_note, steps)
        return 0
    except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, res, tr, bad_gates, oracle_note, steps):
    ops = res["ops"]
    attempted = len(ops)
    failed = res["op_failures"] + res["check_failed"] + sum(
        1 for o in ops if o["kind"] in bad_gates)
    failed = min(failed, attempted)
    plain = [o for o in ops if not o["traced"]]
    p50, rows_s = headline(a.workload, plain)
    setup_s = res["session_s"] + res["load_s"] + res["warmup_s"]
    heap_mb = max(o["heap"] for o in plain) / 2 ** 20
    disk = res["disk_bytes"] / max(1, res["live_rows"])
    e2e = {"setup_s": (setup_s, "s"), "op_p50_ms": (p50, "ms"),
           "rows_per_s": (rows_s, "rows/s"), "peak_heap_mb": (heap_mb, "MB"),
           "disk_bytes_per_row": (disk, "B/row")}

    w = a.workload
    lat_name, rows_name = NAMES[w]
    out = [(f"{lat_name}_p50_ms", p50, "ms"), (rows_name, rows_s, "rows/s")]
    for k in sorted({o["kind"] for o in plain} - {lat_name}):
        xs = [o["ms"] for o in plain if o["kind"] == k and not o.get("failed")]
        if xs:
            out.append((f"{k}_p50_ms", statistics.median(xs), f"ms (n={len(xs)})"))
    lat_kinds = PRIMARY[w][0]
    if lat_kinds is not None:
        xs = [o["ms"] for o in plain if o["kind"] in lat_kinds and not o.get("failed")]
        t = tail(xs)
        out.append((f"{lat_name}_tail_ms", t[1] if t else float("nan"),
                    f"ms (p{t[0]:g} of n={len(xs)})" if t else f"ms (n={len(xs)} < 20: no tail)"))
        half = len(xs) // 2
        if half:
            d = statistics.median(xs[half:]) / statistics.median(xs[:half]) - 1
            out.append(("drift", d * 100, "% (median of second half vs first half)"))
    out += [("session_s", res["session_s"], "s"),
            ("load_s", res["load_s"], "s"),
            ("warmup_s", res["warmup_s"], f"s ({res['warmup_ops']} ops)"),
            ("fail_ratio", failed / attempted, f"({failed} of {attempted} ops)"),
            ("spark.leaked_rdds", res["leaked_rdds"], "count"),
            ("spark.conf_drift", res["conf_drift"], "count " + ",".join(res["conf_drift_keys"]))]
    print(f"# {w} seed={a.seed} trace={a.trace} ops={attempted} cores={cores()}")
    for k, (v, u) in e2e.items():
        print(f"{w}  {k:24s} {v:14.4f} {u}")
    for k, v, u in out:
        print(f"{w}  {k:24s} {v:14.4f} {u}")
    print(f"{w}  check: {res['check_note']}" + (f"; oracle: {oracle_note}" if oracle_note else ""))
    if bad_gates:
        print(f"{w}  oracle mismatch: {','.join(sorted(bad_gates))}")

    if tr is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        traced = [o for o in ops if o["traced"]]
        t50, trows = headline(w, traced)
        overhead = {"op_p50_ms": t50 - p50, "rows_per_s": trows - rows_s,
                    "peak_heap_mb": max([o["heap"] for o in traced] or [0]) / 2 ** 20 - heap_mb,
                    "setup_s": setup_s}
        lm = layers.per_layer(res, tr, overhead)
        spans_ms, stats_ms = layers.phase_check(tr)
        print(f"{w}  phase totals over traced ops: spans {spans_ms:.3f} ms, PhaseStats {stats_ms:.3f} ms")
        for name, unit, _ in layers.METRICS:
            print(f"{w}  {name:32s} {lm[name]:14.4f} {unit}")
        metrics = {name: {"value": lm[name], "unit": unit} for name, unit, _ in layers.METRICS}
    print("# steps: " + " ".join(f"{k}={v:.1f}" for k, v in steps.items()))
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            m["value"] = None  # no successful op to measure
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
