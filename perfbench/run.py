"""spark-graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload corpus_curation --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. The run reads the repository's sf0.01
fixture tables (a copy under ``perfbench/fixtures/``), starts one Spark
session with the ``bench.py`` conf, runs one cold pass and then warm
passes until ``--seconds`` have gone by, checks every result, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same work with per-layer tracing (tracing.py) and reports the per-layer
metrics. ``--seed`` orders the passes and drives the table op stream;
the engine never sees it. Everything the run writes stays under
``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01
WORKLOADS = ("offres_dashboards", "corpus_curation", "offres_table_log")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}


def cpus() -> int:
    """One process, at most 4 cores, never more than the host has."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def host_cpu() -> list[int]:
    """The host's cumulative CPU times (``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal); empty where unreadable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(cpu0: list[int], cpu1: list[int]) -> float | None:
    """Share of the host's CPU time the hypervisor gave to other guests
    between two ``host_cpu`` readings: the main cause of slow runs on a
    shared VM."""
    if len(cpu0) < 8 or len(cpu1) < 8 or sum(cpu1) <= sum(cpu0):
        return None
    return (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0))


def start_session(tmp: str):
    from data_analyse_marche_emploi_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # keep the JVM's temp files (and its perf-counter file)
            # inside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        },
    )


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the session's JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._gateway.proc.pid
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    except OSError:
        pass
    return kb / 1024


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def prepare(sf: float = SF) -> tuple[str, str]:
    """The fixture table dir (read-only) and a scratch dir for this run
    under ``.perfbench_work/`` in the working directory; points every
    temp dir the engine, Spark and Python use at the scratch dir."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    data_dir = os.path.join(HERE, "fixtures", f"sf{sf:g}")
    work = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    tempfile.tempdir = tmp
    return data_dir, tmp


def make_workload(name, spark, data_dir, tmp, seed, tracer):
    if name == "offres_table_log":
        from tablelog import TableLog

        return TableLog(spark, tmp, seed, tracer)
    import queries

    names = (
        queries.OFFRES_DASHBOARDS
        if name == "offres_dashboards"
        else queries.CORPUS_CURATION
    )
    return queries.QueryWorkload(spark, data_dir, names, seed, tracer)


def measure(wl, seconds: float, tracer) -> tuple[list, list, dict]:
    """One cold pass, then whole warm passes until ``seconds`` have gone
    by. Returns the ops ``(pass, kind, seconds, ok, name)``, each pass's
    time (the sum of its op times; checks run outside them) and the
    tracer's counters after the cold pass."""
    ops: list[tuple] = []
    passes: list[float] = []
    cold: dict = {}
    w0 = 0.0
    for p in itertools.count():
        n0 = len(ops)
        wl.run_pass(p, lambda kind, dt, ok, name: ops.append(
            (p, kind, dt, ok, name)
        ))
        passes.append(sum(o[2] for o in ops[n0:]))
        if p == 0:
            cold = dict(getattr(tracer, "counts", {}))
            w0 = time.monotonic()
        elif time.monotonic() - w0 >= seconds:
            return ops, passes, cold


def end_to_end(ops, passes, setup_s) -> dict:
    lat = [o[2] for o in ops if o[0] > 0]
    return {
        "setup_s": setup_s,
        "cold_pass_s": passes[0],
        "warm_pass_s": statistics.median(passes[1:]),
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(lat) / sum(lat),
    }


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cpu0 = host_cpu()
    data_dir, tmp = prepare()
    spark = None
    try:
        # set-up: engine import, session start, workload state
        t0 = time.perf_counter()
        spark = start_session(tmp)
        from tracing import NullTracer, Tracer

        tracer = Tracer(spark) if trace else NullTracer()
        if workload == "offres_table_log":
            wl = make_workload(workload, spark, data_dir, tmp, seed, tracer)
        setup_s = time.perf_counter() - t0
        if workload != "offres_table_log":  # oracle results: not set-up
            wl = make_workload(workload, spark, data_dir, tmp, seed, tracer)

        ops, passes, cold = measure(wl, seconds, tracer)
        failed = sum(1 for o in ops if not o[3])
        result = {
            "correct": failed == 0 and wl.final_check(),
            "attempted": len(ops),
            "failed": failed,
        }
        if trace:
            from tracing import per_layer

            metrics, units = per_layer(tracer, cold, ops, passes, setup_s, wl)
            metrics["session.peak_rss_mb"] = peak_rss_mb(spark)
        else:
            metrics, units = end_to_end(ops, passes, setup_s), END_TO_END
        result["metrics"] = {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        }
        result["_info"] = {
            "workload": workload, "seed": seed, "cpus": cpus(), "sf": SF,
            "host_steal": steal_share(cpu0, host_cpu()),
            "passes": [round(x, 3) for x in passes],
            "ops": [(o[0], o[4], round(o[2], 3), o[3]) for o in ops],
        }
        return result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [
        p for p in ("data_analyse_marche_emploi_spark", "tools/oracle_check.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    info = result.pop("_info")
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
