"""Per-layer metrics of a traced window.

Which end-to-end metric each layer should move, and where it should not
move, is mapped in README.md. Spark-counter metrics are per cycle (the
traced window's total over its number of whole operation cycles) unless
the name says ``per_unit``, ``per_input_row`` or ``share``. Direct
kernel timings call the numpy kernels in process on the workload's own
generated docs. A layer a workload does not run reports 0.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from ledger import MIB, PY_INIT, PY_RETURNED, PY_RUN, PY_SENT, node_sum, python_sum

UNITS = {
    "scan.rows_per_input_row": "ratio",
    "scan.mib": "MiB",
    "scan.files": "count",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mib": "MiB",
    "python.returned_mib": "MiB",
    "python.init_share": "ratio",
    "python.run_share": "ratio",
    "rollup_1m.points_per_s": "1/s",
    "rollup_1m.passes_per_unit": "count",
    "codec.encode_points_per_s": "1/s",
    "codec.decode_points_per_s": "1/s",
    "codec.bytes_per_point": "B",
    "dtw.uniform_pairs_per_s": "1/s",
    "dtw.ragged_pairs_per_s": "1/s",
    "dtw.exact_shape_share": "ratio",
    "dtw.lb_pruned_share": "ratio",
    "dtw.block_evaluations": "count",
    "exchange.shuffle_write_mib": "MiB",
    "exchange.records": "count",
    "job.spark_jobs_per_unit": "count",
    "job.sql_executions_per_unit": "count",
    "merge.upsert_s": "s",
    "merge.upsert_share": "ratio",
    "merge.calls": "count",
    "merge.written_mib": "MiB",
    "manifest.record_s": "s",
    "manifest.record_share": "ratio",
    "manifest.files": "count",
    "read.route_s": "s",
    "read.legs": "count",
    "read.spark_jobs": "count",
    "read.scan_mib": "MiB",
    "read.blocks_decoded": "count",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mib": "MiB",
    "recur.batch_points_per_s": "1/s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mib": "MiB",
    "spark.tasks": "count",
    "session.start_s": "s",
}


def install_spans(tracer) -> None:
    """Spans around the engine functions that ``run_rollup`` and
    ``run_unit`` call by module-global name."""
    from tsclust_spark.plans import manifest, rollup_job

    tracer.wrap(rollup_job, "run_unit", "rollup_job.run_unit")
    tracer.wrap(
        rollup_job,
        "upsert_partitioned",
        "merge.upsert_partitioned",
        label=lambda args, kwargs: args[1].rstrip("/").rsplit("/", 1)[-1],
    )
    tracer.wrap(manifest.Manifest, "record", "manifest.record")


def rate(fn, units: int, min_s: float = 0.3) -> float:
    """``units`` per second of ``fn()``: median of repeats, at least
    three and at least ``min_s`` seconds in total."""
    times: list[float] = []
    while len(times) < 3 or sum(times) < min_s:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return units / statistics.median(times)


def kernel_rates(wl) -> dict[str, float]:
    """Direct in-process calls of the kernels the workload runs, on its
    own inputs: rollup and codec on 64 of the ``tiers`` docs, DTW on the
    ``analytics`` block's pairs."""
    if wl.name == "analytics":
        from tsclust_spark.kernels.dtw_banded import dtw_banded_batch

        out = {}
        for kind, pairs in zip(("uniform", "ragged"), wl.pair_sets()):
            a, b = [p[0] for p in pairs], [p[1] for p in pairs]
            out[f"dtw.{kind}_pairs_per_s"] = rate(
                lambda: dtw_banded_batch(a, b, radius=wl.RADIUS, step_pattern="symmetric2"), len(pairs)
            )
        return out

    from tsclust_spark.kernels.codec import decode_xor_batch, encode_xor_batch
    from tsclust_spark.kernels.rollup_arrow import rollup_1m_flat

    docs = list(wl.docs.values())[:64]
    values = np.concatenate(docs)
    lengths = np.array([d.size for d in docs], dtype=np.int64)
    wide = values.astype(np.int64)
    blobs = encode_xor_batch(wide, lengths)
    return {
        "rollup_1m.points_per_s": rate(lambda: rollup_1m_flat(values, lengths), values.size),
        "codec.encode_points_per_s": rate(lambda: encode_xor_batch(wide, lengths), values.size),
        "codec.decode_points_per_s": rate(lambda: decode_xor_batch(blobs), values.size),
        "codec.bytes_per_point": sum(len(b) for b in blobs) / values.size,
    }


def _progress_mean(progress: list[dict], fn) -> float:
    return statistics.fmean(fn(p) for p in progress) if progress else 0.0


def per_layer(wl, tracer, ledger, ops: list[dict], session_start_s: float, cores: int) -> dict[str, float]:
    cycles = len(ops) / len(wl.CYCLE)
    op_secs = sum(o["seconds"] for o in ops)
    ex = [e for e in ledger.executions if e["op"] is not None]
    st = [s for s in ledger.stages if s["op"] is not None]
    out = dict.fromkeys(UNITS, 0.0)

    # scans per input row inside the jobs of the rollup (tiers) or of the
    # DTW passes (analytics); the upsert's and the drain's scans are in
    # scan.mib and scan.files only
    if wl.name == "tiers":
        scope = ledger.within("rollup_job.run_rollup", ledger.within("rollup_job.run_unit", ex))
        input_rows = sum(o["extra"]["input_rows"] for o in ops if o["kind"] == "ingest")
    else:
        scope = ledger.within("dtw", ex)
        input_rows = sum(o["extra"]["input_rows"] for o in ops if o["kind"] == "block")
    out["scan.rows_per_input_row"] = node_sum(scope, "Scan parquet", "number of output rows") / input_rows
    out["scan.mib"] = node_sum(ex, "Scan parquet", "size of files read") / MIB / cycles
    out["scan.files"] = node_sum(ex, "Scan parquet", "number of files read") / cycles

    out["python.init_s"] = python_sum(ex, PY_INIT) / cycles
    out["python.run_s"] = python_sum(ex, PY_RUN) / cycles
    out["python.sent_mib"] = python_sum(ex, PY_SENT) / MIB / cycles
    out["python.returned_mib"] = python_sum(ex, PY_RETURNED) / MIB / cycles
    # task-seconds in the Python workers over the task slots' seconds
    out["python.init_share"] = python_sum(ex, PY_INIT) / (op_secs * cores)
    out["python.run_share"] = python_sum(ex, PY_RUN) / (op_secs * cores)

    job_units = [
        s for s in tracer.spans
        if s["name"] == "rollup_job.run_unit"
        and any(a["name"] == "rollup_job.run_rollup" for a in tracer.ancestors(s))
    ]
    if job_units:
        tier_ex = ledger.within("merge.upsert_partitioned[agg_", scope)
        out["rollup_1m.passes_per_unit"] = sum(python_sum([e], PY_SENT) > 0 for e in tier_ex) / len(job_units)
        out["job.spark_jobs_per_unit"] = sum(e["jobs"] for e in scope) / len(job_units)
        out["job.sql_executions_per_unit"] = len(scope) / len(job_units)

    out["exchange.shuffle_write_mib"] = node_sum(ex, "Exchange", "shuffle bytes written") / MIB / cycles
    out["exchange.records"] = node_sum(ex, "Exchange", "shuffle records written") / cycles

    calls, secs = tracer.total("merge.upsert_partitioned")
    out["merge.upsert_s"] = secs / cycles
    out["merge.upsert_share"] = secs / op_secs
    out["merge.calls"] = calls / cycles
    out["merge.written_mib"] = sum(s["output_mib"] for s in ledger.within("merge.", st)) / cycles

    _, secs = tracer.total("manifest.record")
    out["manifest.record_s"] = secs / cycles
    out["manifest.record_share"] = secs / op_secs
    files = [o["extra"]["manifest_files"] for o in ops if "manifest_files" in o["extra"]]
    out["manifest.files"] = statistics.fmean(files) if files else 0.0

    reads = [s for s in tracer.spans if s["name"] == "tierquery.routed_tier_read"]
    if reads:
        read_ex = ledger.within("tierquery.routed_tier_read", ex)
        out["read.route_s"] = statistics.fmean(s["end"] - s["start"] for s in reads)
        out["read.legs"] = statistics.fmean(s["attrs"]["legs"] for s in reads)
        out["read.spark_jobs"] = sum(e["jobs"] for e in read_ex) / len(reads)
        out["read.scan_mib"] = node_sum(read_ex, "Scan parquet", "size of files read") / MIB / len(reads)
        out["read.blocks_decoded"] = node_sum(read_ex, "MapInArrow", "number of output rows") / len(reads)

    progress = getattr(wl, "progress", [])
    if progress:
        out["stream.add_batch_ms"] = _progress_mean(progress, lambda p: p["durationMs"].get("addBatch", 0))
        out["stream.planning_ms"] = _progress_mean(progress, lambda p: p["durationMs"].get("queryPlanning", 0))
        out["stream.wal_commit_ms"] = _progress_mean(progress, lambda p: p["durationMs"].get("walCommit", 0))
        out["stream.state_rows"] = _progress_mean(
            progress, lambda p: sum(s["numRowsTotal"] for s in p.get("stateOperators", []))
        )
        out["stream.state_mib"] = _progress_mean(
            progress, lambda p: sum(s["memoryUsedBytes"] for s in p.get("stateOperators", [])) / MIB
        )
        passes, secs = tracer.total("recurrences.batch")
        out["recur.batch_points_per_s"] = 3 * len(wl.points) * passes / secs

    if wl.name == "analytics":
        out["dtw.exact_shape_share"] = wl.paths["exact"] / sum(wl.paths.values())
        out["dtw.lb_pruned_share"] = statistics.fmean(wl.pruned_share)
        out["dtw.block_evaluations"] = out["scan.rows_per_input_row"]

    out["spark.executor_run_s"] = sum(s["run_s"] for s in st) / cycles
    out["spark.executor_cpu_s"] = sum(s["cpu_s"] for s in st) / cycles
    out["spark.gc_s"] = sum(s["gc_s"] for s in st) / cycles
    out["spark.spill_mib"] = sum(s["spill_mib"] for s in st) / cycles
    out["spark.tasks"] = sum(s["tasks"] for s in st) / cycles
    out["session.start_s"] = session_start_s
    out.update(kernel_rates(wl))
    return out
