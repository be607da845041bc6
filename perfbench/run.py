#!/usr/bin/env python3
"""IOC pipeline benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record-goldens

Builds the program from source on first use (perfbench/build.py), then runs
one workload in one JVM (iocbench.Main) and prints, as the last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The line
before it is a noise diagnostic for the run: the CPU steal share from
/proc/stat. Everything the run writes goes under .bench_build/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDENS = os.path.join(HERE, "goldens.txt")
CORPUS = os.path.join(HERE, "corpus.json")
WORKLOADS = ("ioc_snapshot", "tweet_stream", "query_mix")
# program settings that change what is measured; a run with any of them set
# would not be comparable with the recorded baseline
KNOBS = ("SPARK_GRAFT_FUSED_EXTRACT", "SPARK_GRAFT_PARALLELISM_FIRST",
         "SPARK_GRAFT_INIT_PARTITIONS")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpu_times():
    """(steal, total) jiffies of the whole machine."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def jvm(workload, seed, seconds, trace, work):
    classes = build.build(OUT)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = min(4, len(os.sched_getaffinity(0)))
    # parallel GC: no concurrent collector threads competing with the four
    # task threads between pauses
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "iocbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--work", work, "--data", DATA, "--goldens", GOLDENS,
              "--corpus", CORPUS,
              "--cores", str(cores)])
    # Spark's scratch space is set in the session (spark.local.dir, under
    # `work`); these variables would take precedence over it
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit(f"perfbench: {workload} exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: benchmark process exited {proc.returncode}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()
    knobs = [k for k in KNOBS if k in os.environ]
    if knobs:
        raise SystemExit(f"perfbench: refusing to run with {', '.join(knobs)} set")

    if a.record_goldens:
        lines = jvm("goldens", 0, 0, False, os.path.join(OUT, "work", "goldens"))
        rows = [l for l in lines if l.startswith("golden ")]
        with open(GOLDENS, "w") as f:
            f.writelines(l[len("golden "):] + "\n" for l in rows)
        print(f"wrote {len(rows)} goldens to {GOLDENS}")
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    s0 = cpu_times()
    lines = jvm(a.workload, a.seed, a.seconds, a.trace,
                os.path.join(OUT, "work", a.workload))
    s1 = cpu_times()
    steal = (s1[0] - s0[0]) / max(1, s1[1] - s0[1])
    res = next((json.loads(l)["iocbench"] for l in reversed(lines)
                if l.startswith('{"iocbench"')), None)
    if res is None:
        raise SystemExit("perfbench: no result line from the benchmark process")

    if a.trace:
        got = dict(res["layers"], **{"noise.steal_share": steal})
        wanted = spec["per_layer"]
    else:
        got = res["e2e"]
        wanted = spec["end_to_end"]
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not a.trace:
        missing = [m["name"] for m in wanted if m["name"] not in got]
        if missing:
            raise SystemExit(f"perfbench: {a.workload} did not measure {missing}")
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "steal_share": steal, **res["diag"]}
    print(json.dumps({"diag": diag}))
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"diag": diag, "e2e": res["e2e"]}) + "\n")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
