"""Table-format benchmark entry point.

    python3 perfbench/run.py --workload <cdc_ingest|read_after_100|mixed_cdc>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the driver on first use
(perfbench/build.py), runs one workload in a fresh JVM with Spark local[4],
and prints one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones, and the spans are
written to .bench_build/spans/. Everything else goes to standard error.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_ingest", "read_after_100", "mixed_cdc")
JVM_TIMEOUT_S = 170
# the first run after a build also dumps the class-data-sharing archive,
# which makes that run slower
DUMP_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    try:
        cp = build.build()
    except (SystemExit, subprocess.CalledProcessError) as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 1

    work = os.path.abspath(os.path.join(build.OUT, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    spans = os.path.abspath(os.path.join(build.OUT, "spans", "%s-seed%d.jsonl" % (a.workload, a.seed)))
    # Class-data sharing: the first run after a build dumps the classes it
    # loaded, later runs map them instead of loading ~15k classes from jars
    # (about 4 s less start-up on a 4-core host).
    timeout = JVM_TIMEOUT_S
    if os.path.exists(build.CDS_ARCHIVE):
        cds = "-XX:SharedArchiveFile=" + build.CDS_ARCHIVE
    else:
        cds = "-XX:ArchiveClassesAtExit=" + build.CDS_ARCHIVE
        timeout = DUMP_TIMEOUT_S
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-Xmx3g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out, "--spans", spans]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run exceeded %d s" % timeout, file=sys.stderr)
        code = 1
    result = None
    if code == 0 and os.path.exists(out):
        with open(out) as fh:
            result = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print("perfbench: no result (exit code %d)" % code, file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
