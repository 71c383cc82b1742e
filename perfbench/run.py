"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload geo_scan --seed 1 --seconds 12 --trace 0

Builds the program from source on first use (see build.py), then launches
the JVM directly on the compiled classes plus the Spark jars, so stdout
carries no build-tool prefix. Every file a run writes (Spark local dirs,
warehouse, fixtures, stores, JVM temp files) lives in a per-run directory
under .bench_build/runs and is deleted when the run ends; a traced run also
keeps its spans in .bench_build/traces.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("geo_scan", "ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    cores = max(1, min(4, os.cpu_count() or 1))
    run_dir = os.path.join(build.BUILD, "runs",
                           "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    trace_dir = os.path.join(build.BUILD, "traces")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(trace_dir, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" +
           os.path.join(build.ROOT, "perfbench", "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.runtime_classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--dir", run_dir,
            "--trace-dir", trace_dir]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, timeout=JVM_TIMEOUT_S,
                              cwd=run_dir)
        rc, out = proc.returncode, proc.stdout.decode("utf-8", "replace")
    except subprocess.TimeoutExpired as e:
        rc, out = -1, (e.stdout or b"").decode("utf-8", "replace")
        sys.stderr.write("benchmark JVM timed out after %ds\n" % JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if rc != 0 or not lines:
        sys.stderr.write("benchmark JVM exited with code %d\n" % rc)
        sys.exit(1)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))


if __name__ == "__main__":
    main()
