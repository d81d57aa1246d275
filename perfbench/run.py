"""graft benchmark: one command per run, for every workload, traced or not.

    python3 perfbench/run.py --workload lake_cow_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout.  It compiles graft and the
benchmark program (``build.py``, first run only), generates the workload's
inputs from the seed (``gen.py``), and runs one driver JVM: Spark
``local[nproc]`` with ``spark.sql.shuffle.partitions = nproc`` and one
closed-loop client.  The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (whose full span and job log goes to
``.bench_build/trace/<workload>-seed<seed>.json``).  The exit code is 0
only when every output matched the independent model.  See BENCHMARK.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("lake_cow_batch", "lake_mor_stream", "corpus_index")
DEADLINE_S = 170  # a run must end within 180 s, build excluded
SETUP_REPS = 2

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see BENCHMARK.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    jar = build.build(root, out)

    jsa = os.path.join(out, "classes.jsa")
    if not os.path.exists(jsa):
        # one short untimed run records the JVM class-data archive that
        # every measured run then maps instead of loading Spark's classes
        run_jvm(jar, out, "lake_cow_batch", 0, 0, 0, 1, [f"-XX:ArchiveClassesAtExit={jsa}"],
                DEADLINE_S)
    result = run_jvm(jar, out, a.workload, a.seed, a.seconds, a.trace, SETUP_REPS,
                     [f"-XX:SharedArchiveFile={jsa}"], DEADLINE_S)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run_jvm(jar, out, workload, seed, seconds, trace, reps, jvm_opts, deadline):
    """Generates the inputs and runs one benchmark JVM; returns its result."""
    work = os.path.join(out, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    try:
        started = time.monotonic()
        gen.generate(workload, seed, os.path.join(work, "gen"))
        cmd = [build.java(), "-Xmx2g", "-XX:-UsePerfData", *jvm_opts,
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-Dspark.ui.enabled=false"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")]),
                "perfbench.Main", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
                "--gen", os.path.join(work, "gen"), "--work", work, "--out", result_file,
                "--trace-out", os.path.join(out, "trace", f"{workload}-seed{seed}.json"),
                "--setup-reps", str(reps), "--cores", str(len(os.sched_getaffinity(0)))]
        try:
            subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, check=True,
                           timeout=deadline - (time.monotonic() - started))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: the benchmark JVM did not finish within {deadline} s")
        except subprocess.CalledProcessError as e:
            raise SystemExit(f"run: the benchmark JVM failed with exit code {e.returncode}")
        with open(result_file) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
