"""The repository benchmark: one workload per process, a single-client
closed loop on local[n] (n = min(4, cores)), timed from outside the
engine and checked for correctness.

    python3 perfbench/run.py --workload ticket_sync --seed 1 --seconds 25 --trace 0

Workloads and metrics are listed in BENCHMARK.json and described, with
the layer map, in perfbench/design.json.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full payload (per op
type, per layer, spans, deterministic counts) is written to
``.perfbench_out/<workload>-seed<n>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median

# Per-layer self times: mean span self time per op of the given kind or
# name. Payload only, like the py.*_ms times: a workload that bypasses
# the layer reads a constant 0, so they stay out of the result line.
SELF_TIMES = {
    "merge.upsert_s": ("cycle_upsert", "operators.merge"),
    "merge.arms_s": ("cycle_arms", "operators.merge"),
    "merge.compact_s": ("compact", "operators.merge"),
    "rest.scan_s": ("cycle", "sources.rest"),
    "pipeline.transform_plan_s": ("cycle", "pipeline"),
    "cache.build_s": ("query", "cache"),
}


def make_workload(name, seed, dirs, tracer, trace):
    if name == "ticket_sync":
        from perfbench.ticket_sync import TicketSync as cls
    else:
        from perfbench.corpus_curation import CorpusCuration as cls
    return cls(seed, dirs, tracer, trace)


def warm_session(spark, sf_dir: str) -> tuple[float, float]:
    """(catalog s, warm s): load one catalog table, run a small
    aggregate on it, and start a Python worker per core."""
    from data_pipeline_bigquery_to_sftp_server_spark.catalog import load_table

    t0 = time.perf_counter()
    orders = load_table(spark, sf_dir, "orders")
    t1 = time.perf_counter()
    orders.groupBy("o_orderstatus").count().collect()
    n = harness.cpus()
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()
    return t1 - t0, time.perf_counter() - t1


def run(args, dirs, spec: dict) -> tuple[dict, dict]:
    from pyspark import SparkContext

    from data_pipeline_bigquery_to_sftp_server_spark.session import get_spark

    trace = bool(args.trace)
    tracer = harness.Tracer(trace)
    wl = make_workload(args.workload, args.seed, dirs, tracer, trace)
    parts: dict[str, list[float]] = {
        k: [] for k in ("session.start_s", "session.warm_s", "catalog.load_s", "bootstrap_s", "setup_s")
    }
    try:
        for i in range(SETUPS):
            if i:
                wl.release(spark)
            t0 = time.perf_counter()
            with tracer.span("session"):
                spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=dirs.spark_conf())
            t1 = time.perf_counter()
            load_s, warm_s = warm_session(spark, harness.fixture_dir(wl.session_sf))
            t2 = time.perf_counter()
            with tracer.span("catalog"):
                wl.load(spark)
            t3 = time.perf_counter()
            wl.setup(spark, i)
            t4 = time.perf_counter()
            parts["session.start_s"].append(t1 - t0)
            parts["session.warm_s"].append(warm_s)
            parts["catalog.load_s"].append(load_s + (t3 - t2))
            parts["bootstrap_s"].append(t4 - t3)
            parts["setup_s"].append(t4 - t0)

        t0 = time.perf_counter()
        wl.prepare(spark)
        t1 = time.perf_counter()
        wl.warm(spark)
        prepare_s, warmup_s = t1 - t0, time.perf_counter() - t1

        counters = harness.SparkCounters(spark) if trace else None
        rec = harness.Recorder(tracer, counters)
        loop_s = wl.run(spark, rec, args.seconds)
        t0 = time.perf_counter()
        wl.finish(spark, rec)
        finish_s = time.perf_counter() - t0
        rss = harness.peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        stop_spark(SparkContext)

    reads = [o["s"] for o in wl.read_ops(rec)]
    timed = rec.timed()
    failed = [o for o in rec.ops if not o["ok"]]
    e2e = {
        "setup_s": statistics.median(parts["setup_s"]),
        "peak_rss_mb": rss,
        "query_s.p50": statistics.median(reads),
        "queries_per_s": len(reads) / loop_s,
    }
    payload = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": trace,
        "cpus": harness.cpus(),
        "sizes": wl.sizes,
        "loop_s": loop_s,
        "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "finish_s": finish_s,
        "setup_parts": parts,
        "end_to_end": dict(e2e),
        "workload_end_to_end": wl.e2e(rec, loop_s),
        "failed_frac": len(failed) / len(rec.ops),
        "failures": [{k: o.get(k) for k in ("kind", "name", "detail")} for o in failed],
        "op_counts": {k: sum(1 for o in rec.ops if o["name"] == k) for k in sorted({o["name"] for o in rec.ops})},
        "op_s": {k: [o["s"] for o in timed if o["name"] == k] for k in sorted({o["name"] for o in timed})},
    }
    t = harness.tail(reads)
    if t is not None:
        payload["end_to_end"]["query_s.tail"] = t[0]
        payload["end_to_end"]["query_s.tail_rank"] = t[1]
    if trace:
        labels = sorted({o["kind"] for o in timed} | {o["name"] for o in timed})
        self_s = tracer.self_times(rec.ops, labels)
        payload["per_op"] = {
            label: harness.layer_means([o for o in timed if label in (o["kind"], o["name"])])
            | {f"self_s.{layer}": s for layer, s in self_s.get(label, {}).items()}
            for label in labels
        }
        payload["witnesses"] = harness.witnesses(timed)
        payload["job_names"] = [[o["name"], o["job_names"]] for o in timed]
        payload["spans"] = tracer.spans
        layers = layer_metrics(timed, parts, self_s, spec)
        payload["per_layer"] = layers
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    line = {"correct": not failed, "attempted": len(rec.ops), "failed": len(failed), "metrics": metrics}
    return line, payload


def layer_metrics(ops, parts, self_s, spec: dict) -> dict[str, float]:
    """Per-layer figures of a traced run: the mean per op of every
    counter (over the ops that record it), mean self times of the layers
    named in SELF_TIMES, and set-up medians."""
    sums: dict[str, list[float]] = {m["name"]: [] for m in spec["per_layer"]}
    for o in ops:
        for k, v in o.get("counters", {}).items():
            sums.setdefault(k, []).append(v)
    out = {k: sum(v) / len(v) if v else 0.0 for k, v in sums.items()}
    for name, (label, layer) in SELF_TIMES.items():
        out[name] = self_s.get(label, {}).get(layer, 0.0)
    # later set-ups reuse the running session, so only the first starts one
    out["session.start_s"] = parts["session.start_s"][0]
    for k in ("session.warm_s", "catalog.load_s"):
        out[k] = statistics.median(parts[k])
    return out


def tracing_overhead(out_dir: str, args, traced: dict) -> dict | None:
    """Traced end-to-end figures relative to the untraced run of the same
    workload and seed, or else to the median of the untraced runs of the
    workload found in ``out_dir``."""
    import glob

    same = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    files = [same] if os.path.exists(same) else glob.glob(os.path.join(out_dir, f"{args.workload}-seed*-trace0.json"))
    if not files:
        return None
    bases = []
    for path in files:
        with open(path) as f:
            bases.append(json.load(f)["end_to_end"])
    keys = ("query_s.p50", "queries_per_s")
    return {k: traced[k] / statistics.median(b[k] for b in bases) - 1 for k in keys} | {"untraced_runs": len(bases)}


def stop_spark(SparkContext) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait for the JVM and its Python worker daemons to end."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    workers = harness.children_of(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    left = harness.wait_gone(workers, 30)
    if left:
        raise RuntimeError(f"processes still running after shutdown: {left}")


def main(argv=None) -> int:
    # BENCHMARK.json names the workloads and the metrics a result line carries
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, harness.PACKAGE)):
        print(f"perfbench: no {harness.PACKAGE}/ next to perfbench/ — run from a full checkout", file=sys.stderr)
        return 2

    dirs = harness.RunDirs(ROOT, f"{args.workload}-{os.getpid()}")
    dirs.export_env()
    try:
        line, payload = run(args, dirs, spec)
    finally:
        dirs.remove()
    out = os.path.join(dirs.out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        payload["tracing_overhead"] = tracing_overhead(dirs.out, args, payload["end_to_end"])
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
