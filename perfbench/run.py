"""End-to-end benchmark of the deployable validation job.

Usage (from the repository root):

    python3 perfbench/run.py --workload submit_full --seed 1 --seconds 10 --trace 0

It builds the program from source (perfbench/build.py), generates the
workload's input from the seed, times the job in a closed loop -- one client, each job
starting when the previous one ended -- and checks every job's output with an
independent DuckDB oracle (perfbench/oracle.py). A job that throws, exits with
the wrong code or disagrees with the oracle counts as failed and its time is
dropped. The last stdout line is one JSON object: with --trace 0 it carries
the end-to-end metrics, with --trace 1 the per-layer metrics of a separate
traced run. The full record of a run goes to .bench_build/results/, with a
traced run's spans beside it.

Extra flags for checking the benchmark itself:
    --fail-job K     timed job K is pointed at a missing input and throws
    --corrupt-job K  one violations file of timed job K is deleted before the
                     output check, so the oracle must flag it
"""

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

BUILD = build.BUILD

# rows and hive partitions of each workload's input, and the fewest timed
# warm jobs a run makes (it makes more while --seconds have not passed). The
# minimum takes longer than --seconds, so every run makes the same number of
# jobs and the median is taken over the same stretch of JIT warm-up.
WORKLOADS = {
    "submit_full": {"rows": 100_000, "parts": 16, "min_jobs": 2},
    "submit_dirty": {"rows": 100_000, "parts": 16, "min_jobs": 2},
    "submit_incremental": {"rows": 160_000, "parts": 64, "min_jobs": 2},
    "json_runtime": {"rows": 10_000, "parts": 8, "min_jobs": 3},
}

END_TO_END = [
    ("job_s", "s"), ("validated_rows_per_s", "rows/s"), ("cold_job_s", "s"),
    ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("written_mb", "MB"), ("setup_s", "s"),
]

# Two task threads: the job is driver-bound (planning, code generation, JIT),
# and leaving cores free for the driver thread, the JIT and GC halves the
# run-to-run spread of job times on a 4-core box.
THREADS = min(2, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def jvm_flags(tmp):
    # a fixed heap keeps GC and peak RSS steady between runs;
    # -XX:-UsePerfData writes no hsperfdata file outside the checkout
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def run_proc(cmd, logfile, timeout=JVM_TIMEOUT_S):
    """Runs a child process to completion and returns its exit code. On a
    timeout, or when this process is told to stop, the child's whole process
    group is killed and waited for."""
    with open(logfile, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, signal.SIG_DFL)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-job", type=int, default=0)
    ap.add_argument("--corrupt-job", type=int, default=0)
    args = ap.parse_args()

    classes = build.build()
    shape = WORKLOADS[args.workload]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "runs", tag)
    data = os.path.join(work, "data")
    tmp = os.path.join(BUILD, "tmp")
    # earlier runs' inputs and job outputs are not needed again
    shutil.rmtree(os.path.join(BUILD, "runs"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(tmp)
    logfile = os.path.join(work, "jvm.log")

    result = os.path.join(work, "result.json")
    cmd = (["java"] + jvm_flags(tmp) +
           ["-cp", os.pathsep.join([classes, build.spark_classpath()]), "perfbench.BenchMain",
            f"mode={'trace' if args.trace else 'warm'}", f"workload={args.workload}",
            f"seed={args.seed}", f"rows={shape['rows']}", f"parts={shape['parts']}",
            f"data={data}", f"work={work}", f"threads={THREADS}", f"result={result}",
            f"seconds={args.seconds}", f"min_jobs={shape['min_jobs']}",
            f"fail_job={args.fail_job}"])
    steal0 = steal_ticks()
    code = run_proc(cmd, logfile)
    steal = steal_ticks() - steal0
    if code != 0 or not os.path.exists(result):
        log(f"benchmark JVM failed (exit {code}); see {logfile}")
        tail(logfile)
        return 2
    with open(result) as f:
        res = json.load(f)
    exp = oracle.expected(data, args.workload)

    if args.corrupt_job:
        corrupt(res["jobs"], args.corrupt_job)
    jobs = [judge(j, exp) for j in res["jobs"]]
    failed = [j for j in jobs if j["problems"]]
    for j in failed:
        log(f"job {j['i']} failed: {'; '.join(j['problems'][:3])}")

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "shape": shape, "threads": THREADS, "raw": res, "validated_rows": exp["rows"],
              "steal_ticks": steal, "attempted": len(jobs), "failed": len(failed),
              "failed_frac": len(failed) / len(jobs)}
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
    else:
        metrics = end_to_end(res, exp)
    record["metrics"] = metrics
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        shutil.copyfile(res["spans"], os.path.join(results, tag + ".spans.jsonl"))
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)

    complete = all(m["value"] is not None for m in metrics.values())
    for k, m in metrics.items():
        shown = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{args.workload:20s} {k:28s} {shown:>14s} {m['unit']}")
    print(f"{args.workload:20s} {'failed_frac':28s} {record['failed_frac']:>14.6g} fraction")
    print(json.dumps({"correct": not failed and complete, "attempted": len(jobs),
                      "failed": len(failed), "metrics": metrics}))
    return 0 if not failed and complete else 1


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            for line in f.readlines()[-n:]:
                print(line.rstrip(), file=sys.stderr)
    except OSError:
        pass


def corrupt(jobs, k):
    for j in jobs:
        if j["i"] == k:
            files = sorted(glob.glob(os.path.join(j["out"], "violations", "**", "*.parquet"),
                                     recursive=True))
            if files:
                os.remove(files[0])


def judge(job, exp):
    """Marks a job failed if it threw, exited with the wrong code, or wrote
    outputs that disagree with the oracle."""
    problems = []
    if job.get("error"):
        problems.append(f"threw {job['error']}")
    elif job["exit"] != exp["exit"]:
        problems.append(f"exit code {job['exit']}, expected {exp['exit']}")
    else:
        problems += oracle.check(job["out"], exp)
    job["problems"] = problems
    return job


def steal_ticks():
    """CPU time the hypervisor took from this VM (all CPUs, in clock
    ticks): a noise signal for the run."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def written_mb(job):
    return (dir_bytes(job["out"]) + dir_bytes(job["store"]) - job["store_base_bytes"]) / 1e6


def end_to_end(res, exp):
    """Medians over the timed warm jobs that passed the oracle; the cold
    job (the measured JVM's first) counts only if it passed too."""
    def med(xs):
        return statistics.median(xs) if xs else None
    cold, warm = res["jobs"][0], [j for j in res["jobs"][1:] if not j["problems"]]
    job_s = med([j["wall_s"] for j in warm])
    values = {
        "job_s": job_s,
        "validated_rows_per_s": exp["rows"] / job_s if job_s else None,
        "cold_job_s": None if cold["problems"] else res["cold_job_s"],
        "cpu_s": med([j["cpu_s"] for j in warm]),
        "peak_rss_mb": res["peak_rss_mb"],
        "written_mb": med([written_mb(j) for j in warm]),
        "setup_s": res["setup_s"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def unit_of(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "fraction")):
        if name.endswith(suffix):
            return unit
    return "count" if not name.endswith(("yield", "amplification", "util", "eff_1v4")) \
        else "ratio"


if __name__ == "__main__":
    sys.exit(main())
