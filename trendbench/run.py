#!/usr/bin/env python3
"""Trend-engine benchmark: run one workload for one seed.

    python3 trendbench/run.py --workload analyze_counts --seed 1 --seconds 12 --trace 0

--trace 0 times the passes and prints the end-to-end metrics;
--trace 1 materialises every prefix of the workload under Spark job
groups with the event log on, and prints the per-layer metrics.
Either way every output is checked, and the last stdout line is one
JSON object {correct, attempted, failed, metrics}. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import proc  # noqa: E402

CORES = max(1, min(2, os.cpu_count() or 1))
HEAP = "2g"

WORKLOADS = ("analyze_counts", "score_templates", "dedup_corpus")
LAYERS = (
    "session",
    "sources.csv",
    "sources.tables",
    "sources.jsonl",
    "operators.rebin",
    "operators.library",
    "operators.models.poisson",
    "operators.models.wdt",
    "operators.detect",
    "extras.dedup.minhash",
    "extras.dedup.lsh",
    "extras.dedup.clusters",
)
UNITS = {"s": "s", "jobs": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
         "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s"}


def fix_environment(work: str, trace: bool) -> None:
    """Pin what the engine would otherwise take from its defaults
    (local[32], a 48g heap) and keep every file Spark writes inside
    the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Xms{HEAP}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })


def run_pass(spark, wl, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)
    state = {}
    for st in wl.stages:
        state[st.layer] = st.call(spark, state)
    wl.sink(state[wl.stages[-1].layer])


def run_prefixes(spark, wl, tag: str) -> tuple[dict, dict]:
    """Call each stage under its own job group, then materialise the
    prefix ending there to a noop sink under another."""
    call_s, prefix_s = {}, {}
    state = {}
    sc = spark.sparkContext
    for st in wl.stages:
        sc.setJobGroup(f"call/{st.layer}/{tag}", st.layer)
        t = time.perf_counter()
        state[st.layer] = st.call(spark, state)
        call_s[st.layer] = time.perf_counter() - t
        sc.setJobGroup(f"prefix/{st.layer}/{tag}", st.layer)
        t = time.perf_counter()
        state[st.layer].write.format("noop").mode("overwrite").save()
        prefix_s[st.layer] = time.perf_counter() - t
    return call_s, prefix_s


def host_info(spark) -> dict:
    sha = None
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "cores": CORES,
        "heap": HEAP,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = proc.process_start_epoch()
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fix_environment(work, bool(args.trace))
        sys.path.insert(0, ROOT)

        import workloads
        from gnip_trend_detection_spark.session import get_spark

        spark = get_spark(app_name=f"trendbench-{args.workload}")
        setup_s = time.time() - t_start
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        try:
            info, errors, passes, metrics = measure(spark, wl, args, setup_s)
        finally:
            stop(spark)
        if args.trace:
            groups = eventlog.group_totals(os.path.join(work, "eventlog"))
            metrics = layer_metrics(wl, metrics, groups, setup_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, **info}))
    for e in errors[:10]:
        print("CHECK FAILED:", e, file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": passes,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def measure(spark, wl, args, setup_s: float):
    """Generate the inputs, run and check every pass. Returns (run info,
    check failures, passes attempted, metrics), where the metrics of a
    traced run are still its per-round timings (the event log is read
    once the session has stopped)."""
    from gnip_trend_detection_spark.session import release_cached

    wl.generate()
    errors: list[str] = []
    passes = 0

    def checked(fn, *a):
        nonlocal passes
        out = fn(*a)
        release_cached(spark)
        passes += 1
        errors.extend(wl.check_output())
        return out

    steal0 = proc.steal_s()
    t_run = time.perf_counter()
    if not args.trace:
        me = os.getpid()

        def timed(group):
            c, t = proc.tree_cpu_s(me), time.perf_counter()
            run_pass(spark, wl, group)
            return time.perf_counter() - t, proc.tree_cpu_s(me) - c

        first_s, _ = checked(timed, "first")
        checked(run_pass, spark, wl, "warmup")
        warm = [checked(timed, f"pass/{i}") for i in range(wl.passes(args.seconds))]
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_pass_s": (first_s, "s"),
            "pass_s": (statistics.median(w[0] for w in warm), "s"),
            "cpu_s": (statistics.median(w[1] for w in warm), "s"),
            "peak_rss_mb": (proc.tree_peak_rss_mb(me), "MB"),
        }
        detail = {"warm_pass_s": [round(w[0], 4) for w in warm],
                  "warm_cpu_s": [round(w[1], 3) for w in warm]}
    else:
        checked(run_pass, spark, wl, "first")
        checked(run_pass, spark, wl, "warmup")
        metrics = []
        for r in range(wl.trace_rounds(args.seconds)):
            checked(run_pass, spark, wl, f"pass/{r}")
            metrics.append(run_prefixes(spark, wl, str(r)))
            release_cached(spark)
        detail = {"rounds": len(metrics)}
    info = {"steal_s": round(proc.steal_s() - steal0, 2),
            "run_wall_s": round(time.perf_counter() - t_run, 2), **detail}

    spark.sparkContext.setJobGroup("check", "check")
    errors.extend(wl.check_deep(spark))
    info["host"] = host_info(spark)
    return info, errors, passes, metrics


def layer_metrics(wl, rounds, groups, setup_s: float) -> dict:
    """Median over traced rounds of each layer's own time and jobs (its
    call plus its prefix, less the prefix it extends) and of the
    per-pass totals; 0 for layers this workload does not use."""

    def jobs(g):
        return groups.get(g, {}).get("jobs", 0)

    per = {f"{layer}.{k}": [] for layer in LAYERS for k in ("s", "jobs")}
    per.update({f"spark.{f}": [] for f in eventlog.FIELDS})
    for r, (call_s, prefix_s) in enumerate(rounds):
        for st in wl.stages:
            prev_s = prefix_s[st.after] if st.after else 0.0
            prev_j = jobs(f"prefix/{st.after}/{r}") if st.after else 0
            per[f"{st.layer}.s"].append(call_s[st.layer] + prefix_s[st.layer] - prev_s)
            per[f"{st.layer}.jobs"].append(
                jobs(f"call/{st.layer}/{r}") + jobs(f"prefix/{st.layer}/{r}") - prev_j
            )
        totals = groups.get(f"pass/{r}", {})
        for f in eventlog.FIELDS:
            per[f"spark.{f}"].append(totals.get(f, 0))
    per["session.s"] = [setup_s]
    out = {}
    for name, vals in per.items():
        unit = UNITS[name.rsplit(".", 1)[1]]
        out[name] = (statistics.median(vals) if vals else 0, unit)
    return out


if __name__ == "__main__":
    sys.exit(main())
