"""tsclust_spark benchmark: seeded workloads at ``local[4]``, closed loop,
one client (this process).

Run from the repository root::

    python3 perfbench/run.py --workload tiers --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Each run generates its inputs from ``--seed``, starts a Spark session
(``setup_s``), then runs the workload's fixed cycle of operations back
to back until ``--seconds`` of operation time is spent and the cycle is
complete, checking each output.
It prints a human report and, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; their set-up time and
throughput count CPU seconds of the process tree, and the report prints
per-operation costs and wall-clock twins beside them. ``--trace 1`` runs the
same window traced: spans around calls into the engine, Spark's SQL and
stage counters after every operation, and direct kernel timings. It
reports the per-layer metrics. Both write a run record (operations,
host conditions, cores, memory and Spark confs; spans and counters
when traced) to ``.perfbench_out/``.

Everything the run writes stays under the checkout: inputs, tables,
Spark's local and temporary directories in ``.perfbench_work/``
(emptied at the start of every run), records in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

# Sized for a 4-core, 15 GiB host: one task slot per core; the working
# set is well under 1 GiB, so a 2 GiB driver heap leaves the host's
# memory to the Python workers and other tenants. The heap is fixed at
# that size and touched at start (-Xms, AlwaysPreTouch): left to grow,
# G1's resident heap ranged from 1.2 to 1.9 GiB between runs of one
# workload, which swamped every other change to peak_rss_mib.
CORES = 4
DRIVER_MEM = "2g"

# every metric :func:`end_to_end` computes; BENCHMARK.json declares which
# of them a run reports
END_TO_END = {
    "setup_s": "s",
    "points_per_cpu_s": "1/s",
    "peak_rss_mib": "MiB",
    "op_cpu_s": "s",
    "setup_wall_s": "s",
    "points_per_s": "1/s",
    "op_latency_s": "s",
}


def declared_metrics(kind: str, computed: dict[str, float]) -> dict:
    """The ``kind`` metrics ``BENCHMARK.json`` declares, in its order and
    units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)[kind]
    return {m["name"]: {"value": computed[m["name"]], "unit": m["unit"]} for m in declared}


def _prepare_env() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM the run starts (spark-submit's launcher and the driver):
    # temporary files in the checkout, no /tmp/hsperfdata_* entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Spark's Python workers start in another directory; without the
    # repository on their path they fail to import tsclust_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_MASTER_OVERRIDE", None)
    sys.path.insert(0, ROOT)


def session_confs() -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    from ledger import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in descendants(os.getpid())[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run_window(wl, seconds: float, tracer, ledger=None) -> tuple[list[dict], float]:
    """Closed loop: the next operation starts when the previous one and
    its output check are done, until ``seconds`` of operation time have
    passed and the workload's cycle of operation kinds is complete.
    Returns the operations and the window's peak resident memory."""
    from ledger import RssSampler, tree_cpu_s

    ops: list[dict] = []
    measured, i = 0.0, 0
    with RssSampler() as rss:
        while measured < seconds or i % len(wl.CYCLE):
            tracer.op = i
            cpu = tree_cpu_s()
            t = time.perf_counter()
            res, ok = None, False
            try:
                with tracer.span("op"):
                    res = wl.op(i, tracer)
                dt = time.perf_counter() - t
                cpu = tree_cpu_s() - cpu
                ok = bool(res.verify())
            except Exception:
                dt = time.perf_counter() - t
                cpu = tree_cpu_s() - cpu
                traceback.print_exc(file=sys.stderr)
            tracer.op = None
            measured += dt
            ops.append(
                {
                    "i": i,
                    "kind": res.kind if res else "error",
                    "seconds": dt,
                    "cpu_s": cpu,
                    "points": res.points if res else 0,
                    "ok": ok,
                    "extra": res.extra if res else {},
                }
            )
            if ledger is not None:
                ledger.collect()
            i += 1
    return ops, rss.peak


def end_to_end(ops: list[dict], setup: tuple[float, float], rss: float) -> dict:
    """Set-up time, throughput and per-operation cost, each in CPU
    seconds of the process tree (this process, the JVM, the Python
    workers) and in wall seconds; ``setup`` is (CPU, wall).
    ``op_cpu_s`` and ``op_latency_s`` are geometric means over the
    operations: every operation weighs the same, a short read as much as
    the long job."""
    points = sum(o["points"] for o in ops if o["ok"])
    return {
        "setup_s": setup[0],
        "points_per_cpu_s": points / sum(o["cpu_s"] for o in ops),
        "peak_rss_mib": rss,
        "op_cpu_s": statistics.geometric_mean(o["cpu_s"] for o in ops),
        "setup_wall_s": setup[1],
        "points_per_s": points / sum(o["seconds"] for o in ops),
        "op_latency_s": statistics.geometric_mean(o["seconds"] for o in ops),
    }


def _p(values: list[float], q: float) -> float:
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))]


def report(wl, ops: list[dict], e2e: dict) -> list[str]:
    """Human report: every end-to-end metric, then per-kind latencies
    and the workload's own metrics, each with unit and sample count."""
    lines = [f"workload {wl.name}: {len(ops)} operations"]
    for name, unit in END_TO_END.items():
        lines.append(f"  {name:<24} {e2e[name]:>14.4f} {unit}")
    failed = sum(not o["ok"] for o in ops)
    lines.append(f"  {'failed_share':<24} {failed / len(ops):>14.4f} ratio ({failed}/{len(ops)})")
    kinds = sorted({o["kind"] for o in ops})
    for kind in kinds:
        secs = [o["seconds"] for o in ops if o["kind"] == kind]
        lines.append(
            f"  {kind + '_p50_s':<24} {statistics.median(secs):>14.4f} s (n={len(secs)},"
            f" p90 {_p(secs, 0.9):.4f} s)"
        )
    reads = [o["seconds"] for o in ops if o["kind"].startswith("read")]
    if reads:
        lines.append(f"  {'read_p50_s':<24} {statistics.median(reads):>14.4f} s (n={len(reads)})")
        lines.append(f"  {'read_p90_s':<24} {_p(reads, 0.9):>14.4f} s (n={len(reads)}, fewer than 10 beyond it)")
    for name, (value, unit) in wl.extra_metrics(ops).items():
        lines.append(f"  {name:<24} {value:>14.4f} {unit}")
    return lines


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import layers
    from ledger import HostProbe, NoTrace, SparkLedger, Tracer, tree_cpu_s
    from tsclust_spark.session import get_spark
    from workloads import WORKLOADS

    host = HostProbe()
    wl = WORKLOADS[name](seed, WORK)
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    spark = get_spark("perfbench", cores=CORES, extra_confs=session_confs())
    start_s = time.perf_counter() - t0
    try:
        wl.setup(spark)
        setup = (tree_cpu_s() - cpu0, time.perf_counter() - t0)
        window_host = HostProbe()
        if not trace:
            ops, rss = run_window(wl, seconds, NoTrace())
        else:
            tracer = Tracer()
            ledger = SparkLedger(spark, tracer)
            layers.install_spans(tracer)
            try:
                ops, rss = run_window(wl, seconds, tracer, ledger=ledger)
            finally:
                tracer.unwrap()
        e2e = end_to_end(ops, setup, rss)
        record = {
            "workload": name,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "cores": CORES,
            "nproc": os.cpu_count(),
            "mem_total_gib": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
            "spark_confs": dict(spark.sparkContext.getConf().getAll()),
            "session_start_s": start_s,
            "ops": ops,
            "end_to_end": e2e,
            "host_window": window_host.delta(),
        }
        lines = report(wl, ops, e2e)
        h = record["host_window"]
        lines.append(
            f"  host: steal {h.get('steal_share', 0.0):.3f} of CPU ticks, loadavg"
            f" {h['loadavg_1m_start']} -> {h['loadavg_1m_end']} (recorded, not gated)"
        )
        if trace:
            record.update(
                per_layer=layers.per_layer(wl, tracer, ledger, ops, start_s, CORES),
                trace_collect_s=ledger.collect_s,
                spans=tracer.spans,
                span_self_times=tracer.self_times(),
                sql_executions=ledger.executions,
                stages=ledger.stages,
            )
    finally:
        stop_session(spark)
    record["host_run"] = host.delta()
    tag = f"{name}-seed{seed}-trace{int(trace)}"
    with open(os.path.join(OUT, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("\n".join(lines))
    failed = sum(not o["ok"] for o in ops)
    if trace:
        print(f"  per-layer record: .perfbench_out/run-{tag}.json")
        for k, v in record["per_layer"].items():
            print(f"  {k:<32} {v:>14.4f} {layers.UNITS[k]}")
        metrics = declared_metrics("per_layer", record["per_layer"])
    else:
        metrics = declared_metrics("end_to_end", e2e)
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tsclust_spark", "session.py")):
        print(f"perfbench: no tsclust_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    _prepare_env()
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    results = [run_one(n, args.seed, args.seconds, bool(args.trace)) for n in names]
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({n: r for n, r in zip(names, results)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
