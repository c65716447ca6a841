"""Traced run of the table-format benchmark: the per-layer table.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b,c]

Run from the repository root. For each workload it runs the benchmark once
untraced and once traced (perfbench/run.py --trace 0 / --trace 1, same seed),
then prints per operation the mean wall time and its split into layer self
times (graft.tables / graft.meta / the Spark jobs of graft.write or
graft.read; "sum" is their total over the wall time and should read 1.000),
the per-layer counters, and the tracing overhead: the traced median latency
of each operation over the untraced one. Spans are written by the traced run
to .bench_build/spans/<workload>-seed<N>.jsonl.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OPS = ("upsert", "delete", "compaction", "scan", "lookup", "incremental")
WRITES = ("upsert", "delete", "compaction")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        raise SystemExit("perfbench: %s --trace %d failed" % (workload, trace))
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return res, {k: v["value"] for k, v in res["metrics"].items()}


def report(workload, seed, seconds):
    plain, e2e = run(workload, seed, seconds, 0)
    traced, m = run(workload, seed, seconds, 1)
    print("\n== %s (seed %d, %d s)  correct=%s/%s  attempted=%d failed=%d" % (
        workload, seed, seconds, plain["correct"], traced["correct"], traced["attempted"], traced["failed"]))
    print("%-12s %4s %4s %8s %8s | %8s %8s %8s %8s %6s | %7s %7s %7s %5s %6s %6s" % (
        "op", "n", "fail", "p50_s", "tail_s", "wall_s", "tables", "meta", "job", "sum", "plan_s", "tail_s",
        "calls", "retry", "tasks", "cpu_s"))
    for op in OPS:
        layer = "write" if op in WRITES else "read"
        g = lambda k: m.get(k, 0.0)
        tables, meta, job = g("tables.%s.self_s" % op), g("meta.%s.self_s" % op), g("%s.%s.job_s" % (layer, op))
        wall = g("op.%s.mean_s" % op)
        print("%-12s %4d %4d %8.3f %8.3f | %8.3f %8.3f %8.3f %8.3f %6.3f | %7.3f %7.3f %7.1f %5d %6.1f %6.2f" % (
            op, g("op.%s.samples" % op), g("op.%s.failed" % op), g("op.%s.p50_s" % op), g("op.%s.tail_s" % op),
            wall, tables, meta, job, (tables + meta + job) / wall if wall else 0.0,
            g("tables.%s.plan_s" % op), g("tables.%s.tail_s" % op),
            g("meta.%s.calls" % op), g("tables.%s.retries" % op), g("%s.%s.tasks" % (layer, op)),
            g("%s.%s.task_cpu_s" % (layer, op))))
    for op in WRITES:
        print("write.%-11s files_added=%.1f tasks_per_file=%.2f shuffle_bytes=%.0f" % (
            op, m.get("write.%s.files_added" % op, 0), m.get("write.%s.tasks_per_file" % op, 0),
            m.get("write.%s.shuffle_bytes" % op, 0)))
    per_op = tuple("%s.%s." % (layer, op) for layer in ("tables", "meta", "write", "read", "op") for op in OPS)
    rest = [k for k in sorted(m) if not k.startswith(per_op)]
    print("  ".join("%s=%.4g" % (k, m[k]) for k in rest))
    print("tracing overhead (traced p50 / untraced p50):", "  ".join(
        "%s=%.2f" % (op, m["op.%s.p50_s" % op] / e2e["%s_p50_s" % op])
        for op in OPS if e2e.get("%s_p50_s" % op) and m.get("op.%s.p50_s" % op)))
    print("end-to-end (untraced):", "  ".join("%s=%.4g" % kv for kv in e2e.items()))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=3)
    p.add_argument("--workloads", default="cdc_ingest,read_after_100,mixed_cdc")
    a = p.parse_args()
    for w in a.workloads.split(","):
        report(w, a.seed, a.seconds)


if __name__ == "__main__":
    main()
