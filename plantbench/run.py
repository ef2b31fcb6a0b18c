"""Plant-traffic benchmark: one workload, one seed, one JSON result.

    python3 plantbench/run.py --workload plant_query --seed 1 \
        --seconds 14 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (the traced run alternates untraced and traced half
windows, to report the tracing overhead, and writes its spans to
``.plantbench_out/``). See plantbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from plantbench.gen import REQUEST_TYPES  # noqa: E402
from plantbench.trace import LAYERS  # noqa: E402

PACKAGE = "industrial_data_pipeline_spark"

#: name → unit; the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MiB",
    "store_bytes_per_value": "B",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "setup.store_build_s": "s",
    "setup.insert_attribute_s": "s",
    "warmup_s": "s",
    "error_rate": "ratio",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "query_per_s": "1/s",
    "ingest_cycle_p50_s": "s",
    "ingest_rows_per_s": "1/s",
    **{f"api.{t}.{m}": u for t in REQUEST_TYPES
       for m, u in (("p50_ms", "ms"), ("jobs", "count"), ("tasks", "count"))},
    "export.plan_ms": "ms",
    "export.csv_write_ms": "ms",
    "store.upsert_s": "s",
    "store.upsert_calls_per_cycle": "count",
    "store.rows_rewritten_per_row_ingested": "ratio",
    "store.bytes_written_per_byte_ingested": "ratio",
    "store.rewrite_archive_s": "s",
    "store.overwrite_dim_s": "s",
    "store.append_archive_s": "s",
    "store.archive_files": "count",
    "store.files_per_partition_max": "count",
    "ingest.watermark_s": "s",
    "pi_client.fetch_s": "s",
    "pi_client.rows_fetched": "count",
    "derived_maint.process_batch_s": "s",
    "derived_maint.formulas_recomputed": "count",
    "derived_maint.derived_rows_written": "count",
    "closure.hierarchy_paths_s": "s",
    "tree.load_tree_cache_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
}

#: bytes of one logical archive row (attribute_id, timestamp, value)
ROW_BYTES = 24


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (0 < q <= 100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))]


def op_metrics(wl, ops, elapsed: float) -> dict:
    lat = [op["latency_s"] for op in ops]
    out = {"op_p50_ms": statistics.median(lat) * 1000 if lat else 0.0,
           "ops_per_s": len(ops) / elapsed if elapsed > 0 else 0.0}
    if wl.name == "plant_query":
        out["query_p50_ms"] = out["op_p50_ms"]
        out["query_p95_ms"] = percentile(lat, 95) * 1000
        out["query_per_s"] = out["ops_per_s"]
        for t in REQUEST_TYPES:
            xs = [op["latency_s"] for op in ops if op["kind"] == t]
            out[f"api.{t}.p50_ms"] = statistics.median(xs) * 1000 if xs else 0.0
    else:
        out["ingest_cycle_p50_s"] = out["op_p50_ms"] / 1000
        rows = sum(op["rows_fetched"] for op in ops)
        out["ingest_rows_per_s"] = rows / elapsed if elapsed > 0 else 0.0
    return out


def layer_metrics(wl, tracer, traced_ops) -> dict:
    """Per-layer metrics from the spans of a traced run."""
    from plantbench import trace as tr

    spans = [s for s in tracer.spans if s["end"] is not None]
    meas = [s for s in spans if s["phase"] == "measure"]
    total = {n: sum(tr.durations(spans, n)) for n in (
        "store.rewrite_archive", "store.overwrite_dim",
        "store.append_archive", "closure.hierarchy_paths",
        "tree.load_tree_cache", "api.insert_attribute")}
    m = {"store.rewrite_archive_s": total["store.rewrite_archive"],
         "store.overwrite_dim_s": total["store.overwrite_dim"],
         "store.append_archive_s": total["store.append_archive"],
         "closure.hierarchy_paths_s": total["closure.hierarchy_paths"],
         "tree.load_tree_cache_s": total["tree.load_tree_cache"],
         "setup.insert_attribute_s": total["api.insert_attribute"],
         "trace.spans": len(spans)}
    for layer, secs in tr.self_times(spans).items():
        if f"self.{layer}_s" in PER_LAYER:
            m[f"self.{layer}_s"] = secs

    if wl.name == "plant_query":
        wl.count_jobs(traced_ops)
        for t in REQUEST_TYPES:
            ops = [op for op in traced_ops if op["kind"] == t]
            if ops:
                m[f"api.{t}.jobs"] = statistics.mean(op["jobs"] for op in ops)
                m[f"api.{t}.tasks"] = statistics.mean(op["tasks"] for op in ops)
        by_id = {s["id"]: s for s in meas}
        writes = [s for s in meas if s["name"] == "export.csv_write"]
        m["export.csv_write_ms"] = tr.median(
            [s["end"] - s["start"] for s in writes]) * 1000
        m["export.plan_ms"] = tr.median(
            [(by_id[s["parent"]]["end"] - by_id[s["parent"]]["start"])
             - (s["end"] - s["start"]) for s in writes
             if s["parent"] in by_id]) * 1000
    else:
        cycles = [s for s in meas if s["name"] == "ingest.cycle"]
        n = max(len(cycles), 1)
        within = {c["id"] for c in cycles}
        # spans nested under a measured cycle, at any depth
        nested, frontier = [], set(within)
        while frontier:
            kids = [s for s in meas if s["parent"] in frontier]
            nested += kids
            frontier = {s["id"] for s in kids}
        ups = [s for s in nested if s["name"] == "store.upsert_archive"]
        backfills = [s for s in nested if s["name"] == "derived.backfill"]
        # an upsert that follows a formula's backfill under the same
        # parent writes derived rows (the first one writes the batch)
        derived_ups = [s for s in ups if any(
            b["parent"] == s["parent"] and b["start"] < s["start"]
            for b in backfills)]
        ingested = sum(op["rows_fetched"] for op in traced_ops)
        written_rows = sum(s.get("rows", 0) for s in ups)
        written_bytes = sum(s.get("bytes", 0) for s in ups)
        m.update({
            "store.upsert_s": sum(s["end"] - s["start"] for s in ups) / n,
            "store.upsert_calls_per_cycle": len(ups) / n,
            "store.rows_rewritten_per_row_ingested":
                written_rows / ingested if ingested else 0.0,
            "store.bytes_written_per_byte_ingested":
                written_bytes / (ingested * ROW_BYTES) if ingested else 0.0,
            "ingest.watermark_s":
                sum(tr.durations(nested, "ingest.watermark")) / n,
            "pi_client.fetch_s": sum(tr.durations(nested, "pi_client.fetch")) / n,
            "pi_client.rows_fetched": ingested / n,
            "derived_maint.process_batch_s":
                sum(tr.durations(nested, "derived_maint.process_batch")) / n,
            "derived_maint.formulas_recomputed": len(backfills) / n,
            "derived_maint.derived_rows_written":
                sum(s.get("rows", 0) for s in derived_ups) / n,
        })
    return m


def run(args, run_dir: str) -> tuple[dict, dict]:
    """Set up, warm up, measure and check one workload. Returns
    (result line, detail)."""
    from plantbench import checks, env, trace
    from plantbench.workloads import WORKLOADS

    cfg = env.settings(run_dir)
    tracer = trace.Tracer()
    if args.trace:
        tracer.install(cfg["store_root"])
        tracer.enabled = True
    attempted = failed = 0
    errors: list[str] = []

    wl = WORKLOADS[args.workload](cfg, args.seed, tracer, run_dir)
    wl.stage()  # generated inputs, written before the timed set-up
    env.reset_peak_rss()

    t0 = time.perf_counter()
    spark = env.start_session(cfg, run_dir)
    session_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        wl.setup(spark)
        build_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        attempted += 1
        try:
            wl.check_setup()
        except checks.WrongResult as exc:
            failed += 1
            errors.append(f"setup: {exc}")

        tracer.phase = "warmup"
        t2 = time.perf_counter()
        warm = wl.warmup()
        warmup_s = time.perf_counter() - t2

        # a traced run alternates untraced and traced half windows in
        # ABBA order, so warm-up drift cancels out of the overhead
        plan = ([(False, "untraced"), (True, "measure"), (True, "measure"),
                 (False, "untraced")] if args.trace else [(False, "untraced")])
        window_s = args.seconds / 2 if args.trace else args.seconds
        windows: dict[str, tuple[list, float]] = {
            "untraced": ([], 0.0), "measure": ([], 0.0)}
        for enabled, phase in plan:
            tracer.enabled, tracer.phase = enabled, phase
            ops, elapsed = wl.measure(window_s)
            windows[phase] = (windows[phase][0] + ops,
                              windows[phase][1] + elapsed)
        tracer.enabled = False
        plain_ops, plain_s = windows["untraced"]
        traced_ops, traced_s = windows["measure"]

        all_ops = warm + plain_ops + traced_ops
        attempted += len(all_ops)
        failed += wl.check_all(all_ops)
        errors += [f"{op['kind']}: {op['error']}" for op in all_ops
                   if op.get("error")][:5]

        files, per_part = trace.layout(wl.archive_root)
        rows_on_disk = trace.parquet_rows(trace.archive_files(wl.archive_root))
        disk_bytes = sum(os.path.getsize(f)
                         for f in trace.archive_files(wl.archive_root))
        peak_rss = env.vm_hwm_mb() + env.vm_hwm_mb(env.jvm_pid(spark))
        if args.trace:
            layers = layer_metrics(wl, tracer, traced_ops)
    finally:
        env.stop_session(spark)

    untraced = op_metrics(wl, plain_ops, plain_s)
    e2e = {"setup_s": setup_s,
           "op_p50_ms": untraced["op_p50_ms"],
           "ops_per_s": untraced["ops_per_s"],
           "peak_rss_mb": peak_rss,
           "store_bytes_per_value": disk_bytes / max(rows_on_disk, 1)}
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "settings": cfg,
              "session_s": session_s, "store_build_s": build_s,
              "warmup_s": warmup_s, "ops": len(plain_ops),
              "warmup_latencies_s": [round(op["latency_s"], 3) for op in warm],
              "latencies_s": [round(op["latency_s"], 3) for op in plain_ops],
              "error_rate": failed / max(attempted, 1),
              "archive_files": files, "files_per_partition_max": per_part,
              **e2e, **untraced, "errors": errors}

    if args.trace:
        traced = op_metrics(wl, traced_ops, traced_s)
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update({k: v for k, v in untraced.items() if k in PER_LAYER})
        metrics.update({k: v for k, v in traced.items()
                        if k.startswith("api.")})
        metrics.update(layers)
        metrics.update({
            "session.get_spark_s": session_s,
            "setup.store_build_s": build_s,
            "warmup_s": warmup_s,
            "error_rate": detail["error_rate"],
            "store.archive_files": files,
            "store.files_per_partition_max": per_part,
            "trace.overhead_ms": traced["op_p50_ms"] - untraced["op_p50_ms"],
            "trace.overhead_pct": 100.0 * (traced["op_p50_ms"]
                                           - untraced["op_p50_ms"])
            / max(untraced["op_p50_ms"], 1e-9),
        })
        units = PER_LAYER
        spans_path = os.path.join(
            ROOT, ".plantbench_out",
            f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(spans_path)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics, units = e2e, END_TO_END
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                          for k in units}}
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"plantbench: no {PACKAGE}/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from plantbench import env
    from plantbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"plantbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".plantbench_run",
                           f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        result, detail = run(args, run_dir)
    finally:
        env.remove_tree(run_dir)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print("plantbench detail: " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
