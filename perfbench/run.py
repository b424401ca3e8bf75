"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the engine (``aduana_spark``) is
imported from the directory above this file, and everything the run
writes goes under ``perfbench/.work/`` and is removed at exit.

``--trace 0`` times the workload's op list and prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the golden fixtures and
one cycle with every layer call tagged, and prints the per-layer
metrics reduced from Spark's event log. The exit code is 0 only when
every correctness check passed. See perfbench/README.md for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave the checkout as it was found
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: input builds per run; setup_s counts their median once
SETUP_REPS = 3
#: untimed cycles before timing: the first cycle in a fresh JVM runs
#: about twice as long as the next ones (JIT, code generation, Python
#: workers) and its excess varies from run to run
WARMUP_CYCLES = 1


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        java = "unknown"
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "java": java,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def source_revision() -> dict:
    """The git revision when there is one, and always a digest of the
    engine's sources (a benchmark checkout need not be a repository)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "aduana_spark")
    for root, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"git_rev": rev, "engine_sha1": h.hexdigest()[:16]}


def heap_mb(mem_total_mb: int) -> int:
    """An eighth of the host's memory, between 1 and 4 GiB: the host is
    shared, and the workloads' inputs are small."""
    return max(1024, min(4096, mem_total_mb // 8))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far; (0, 0) where
    /proc/stat does not say."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def start_session(work: str, facts: dict, event_dir: str | None):
    from aduana_spark.session import get_spark

    heap = f"{heap_mb(facts['mem_total_mb'])}m"
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(
        app_name="perfbench",
        master=f"local[{facts['nproc']}]",
        shuffle_partitions=2 * facts["nproc"],
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def golden_fixtures(spark) -> list[str]:
    """The reference's 5-node PageRank and HITS fixtures at 1e-6."""
    from aduana_spark.datagen import (
        GOLDEN_HITS_AUTH,
        GOLDEN_HITS_HUB,
        GOLDEN_PAGERANK_D085,
        golden_edges,
    )
    from aduana_spark.graph import hits, pagerank

    fails = []
    pr = dict(pagerank(golden_edges(spark), damping=0.85, precision=1e-6).ranks.collect())
    if any(abs(pr[k] - v) > 1e-6 for k, v in GOLDEN_PAGERANK_D085.items()):
        fails.append("golden pagerank fixture")
    h = {r["id"]: r for r in hits(golden_edges(spark), precision=1e-6).ranks.collect()}
    if any(
        abs(h[k]["hub"] - GOLDEN_HITS_HUB[k]) > 1e-6
        or abs(h[k]["auth"] - GOLDEN_HITS_AUTH[k]) > 1e-6
        for k in GOLDEN_HITS_HUB
    ):
        fails.append("golden hits fixture")
    return fails


def traced_run(spark, wl, tracer, checked) -> dict:
    """Run the golden fixtures (they also warm the JVM), one traced
    cycle, then the layers only the traced run measures."""
    checked(golden_fixtures(spark))
    tracer.enabled = True
    out = wl.cycle()
    wl.traced_only(out)
    tracer.enabled = False
    checked(wl.check(out))
    return {
        "trace.overhead_s": tracer.overhead_s,
        "session.shuffle_conf_changes": sum(s.conf_changed for s in tracer.spans),
    }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args, work: str) -> tuple[dict, bool, int, int]:
    spec = load_spec()
    facts = host_facts()
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything Spark, its Python workers and the JVM write stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # nor do the Python workers
    sys.path.insert(0, ROOT)
    from tracing import Tracer, reduce_event_log
    from workloads import WORKLOADS

    trace = bool(args.trace)
    event_dir = os.path.join(work, "events") if trace else None
    report = {"workload": args.workload, "seed": args.seed, "trace": trace,
              "host": facts, **source_revision()}
    fails: list[str] = []
    attempted = failed = 0

    def checked(bad: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        failed += bool(bad)
        fails.extend(bad)

    t0 = time.perf_counter()
    spark = start_session(work, facts, event_dir)
    session_s = time.perf_counter() - t0
    wl = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark, args.workload, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, work)
        input_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.make_inputs()
            input_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.start()
        start_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(input_s) + start_s

        report.update({"session_s": session_s, "input_s": input_s, "start_s": start_s})
        if trace:
            layer = traced_run(spark, wl, tracer, checked)
            report["digests"] = wl.digests
        else:
            walls, digests = [], []

            def one_cycle() -> None:
                t0 = time.perf_counter()
                out = wl.cycle()
                walls.append(time.perf_counter() - t0)
                checked(wl.check(out))
                digests.append(dict(wl.digests))

            for _ in range(WARMUP_CYCLES):
                one_cycle()
            ticks0 = cpu_ticks()
            # at least one timed cycle, more while --seconds last
            start = time.perf_counter()
            one_cycle()
            while time.perf_counter() - start < args.seconds:
                one_cycle()
            ticks1 = cpu_ticks()
            if any(d != digests[0] for d in digests):
                checked(["outputs differ between cycles of one seed"])
            layer = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls[WARMUP_CYCLES:]),
                "peak_rss_mb": peak_rss_mb([os.getpid(), jvm_pid]),
            }
            report.update({"cycle_walls_s": walls, "digests": digests[-1],
                           # the share of CPU time the hypervisor gave to
                           # other guests while the timed cycles ran
                           "steal_share": (ticks1[0] - ticks0[0])
                           / max(ticks1[1] - ticks0[1], 1)})
    finally:
        if wl is not None:
            wl.close()
        stop_session(spark)

    if trace:
        layer.update(wl.layer_metrics(reduce_event_log(event_dir)))
        layer["session.start_s"] = session_s
        declared = spec["per_layer"]
        report["undeclared_metrics"] = sorted(set(layer) - {m["name"] for m in declared})
    else:
        declared = spec["end_to_end"]
    report["fails"] = fails
    print(json.dumps(report, default=str))
    result = {
        m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    return result, not fails, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in {w["name"] for w in load_spec()["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        metrics, correct, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
