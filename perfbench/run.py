"""Benchmark entry point.

    python3 perfbench/run.py --workload frontier-epoch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Starts one Spark session through the
engine's ``get_spark``, generates the workload's inputs from ``--seed``,
runs discarded warm-up ops, then a fixed number of timed ops (derived from
``--seconds`` by the workload's nominal op cost, so the same arguments
always do the same work), checks every op against an independent oracle
and prints one JSON result as the last line of stdout. ``--trace 1`` is the
separate traced run that reports the per-layer metrics instead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import (  # noqa: E402
    ROOT,
    RssSampler,
    Session,
    SparkCounters,
    Tracer,
    ambient,
    quartiles,
    tree_cpu_seconds,
)

E2E = {"setup_s": "s", "peak_rss_mb": "MB", "throughput_per_s": "1/s"}

PER_LAYER = {
    "session.start_ms": "ms", "corpus.gen_ms": "ms", "warmup_ms": "ms",
    "urlseen.build_bloom_ms": "ms", "urlseen.anti_join_ms": "ms",
    "urlseen.bloom_bytes": "bytes", "urlseen.fresh_rows": "count",
    "urlseen.bloom_positive_rows": "count", "urlseen.bloom_fp_ratio": "ratio",
    "politeness.pop_ms": "ms", "politeness.popped_rows": "count",
    "politeness.deferred_rows": "count",
    "chunking.build_chunks_ms": "ms", "embedding.embed_ms": "ms", "docstore.commit_ms": "ms",
    "docstore.write_amp": "ratio", "store.rows": "count", "store.mb": "MB",
    "rag.embed_query_ms": "ms", "rag.search_ms": "ms", "rag.rows_scanned_per_query": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.task_skew": "ratio",
    "jvm.cpu_s": "s", "jvm.gc_ms": "ms", "driver.py_cpu_s": "s", "pyworker.cpu_s": "s",
    "op_p50_ms": "ms", "trace_overhead.throughput_per_s": "1/s", "trace_overhead.op_p50_ms": "ms",
    "traced.setup_s": "s", "traced.peak_rss_mb": "MB",
}

# Span name -> per-layer metric (self time, ms).
SPAN_METRICS = {
    "urlseen.build_bloom": "urlseen.build_bloom_ms", "urlseen.anti_join": "urlseen.anti_join_ms",
    "politeness.pop": "politeness.pop_ms", "chunking.build_chunks": "chunking.build_chunks_ms",
    "embedding.embed": "embedding.embed_ms", "docstore.commit": "docstore.commit_ms",
    "rag.embed_query": "rag.embed_query_ms", "rag.search": "rag.search_ms",
}

# Sizes and schedules. ``epoch_s`` / ``ingest_s`` / ``query_s`` are nominal
# warm op costs on a 4-vCPU box; op counts are --seconds divided by them, so
# they are fixed for given arguments and never depend on the clock.
# ``cores`` caps the local master (the CPUs available cap it too):
# rag-mixed's ops are chains of ~10 small Spark jobs that gain nothing from
# more task slots; one slot already keeps ~3 CPUs busy during an ingest (JIT
# compiler, GC and py4j threads, Python workers), so more slots only add
# contention (see NOTES.md).
# ``partitions`` is both the input and the shuffle partition count.
SIZES = {
    "full": {
        "frontier-epoch": {"cores": 4, "n": 60_000, "partitions": 4, "warmup": 2,
                           "epoch_s": 6.7},
        "rag-mixed": {"cores": 1, "docs": 80, "paras": 3, "batch_docs": 16, "partitions": 2,
                      "warm_ingests": 5, "warm_queries": 1, "ingests_per_cycle": 2,
                      "ingest_s": 2.0, "query_s": 1.15},
    },
    "tiny": {
        "frontier-epoch": {"cores": 2, "n": 3_000, "partitions": 2, "warmup": 0, "epoch_s": 1e9},
        "rag-mixed": {"cores": 1, "docs": 8, "paras": 2, "batch_docs": 2, "partitions": 2,
                      "warm_ingests": 0, "warm_queries": 0, "ingests_per_cycle": 1,
                      "ingest_s": 1e9, "query_s": 1e9},
    },
}
DRIVER_MEM = "1g"
OUT_DIR = ROOT / ".perfbench_out"  # run records and spans


def make_workload(name: str, sess: Session, seed: int, size: dict):
    if name == "frontier-epoch":
        from perfbench.frontier import FrontierEpoch

        return FrontierEpoch(sess, seed, size["n"], size["partitions"])
    from perfbench.rag import RagMixed

    return RagMixed(sess, seed, size["docs"], size["paras"], size["batch_docs"])


def schedules(name: str, size: dict, seconds: int) -> tuple[list[str], list[str]]:
    """(warm-up op kinds, timed op kinds)."""
    if name == "frontier-epoch":
        return ["epoch"] * size["warmup"], ["epoch"] * max(1, round(seconds / size["epoch_s"]))
    # one client alternating writes and reads: cycles x (ingests, query)
    per_cycle = ["ingest"] * size["ingests_per_cycle"] + ["query"]
    cycle_s = size["ingest_s"] * size["ingests_per_cycle"] + size["query_s"]
    timed = per_cycle * max(1, round(seconds / cycle_s))
    # after the cold preload commit, commits and queries keep speeding up
    # (JIT) for minutes; discarding the first few takes the steepest part out
    return ["ingest"] * size["warm_ingests"] + ["query"] * size["warm_queries"], timed


def e2e_from(name: str, wl, times: dict[str, list[float]]) -> dict[str, float]:
    """Throughput and p50 from the timed op wall times (seconds); 0 where a
    kind has no successful timed op (the run is then reported incorrect)."""
    def med(kind: str) -> float:
        return statistics.median(times[kind]) if times.get(kind) else 0.0

    thr_s, p50_s = (med("epoch"), med("epoch")) if name == "frontier-epoch" \
        else (med("ingest"), med("query"))
    return {"throughput_per_s": wl.work_units / thr_s if thr_s else 0.0,
            "op_p50_ms": p50_s * 1000}


def run(args) -> dict:
    size = SIZES[args.size][args.workload]
    trace = bool(args.trace)
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{args.trace}"
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "size": args.size, "ambient_start": ambient()}
    excluded = 0.0  # oracle time, kept out of setup_s
    errors: list[str] = []
    failed = attempted = 0
    sess = None
    tracer = Tracer() if trace else None
    layer_samples: dict[str, list[float]] = {}
    times: dict[str, list[float]] = {}
    traced_times: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}  # CPU seconds of the process tree per op
    try:
        with RssSampler() as rss:
            t = time.perf_counter()
            sess = Session(run_dir, size["cores"], size["partitions"], DRIVER_MEM, ui=trace)
            session_ms = (time.perf_counter() - t) * 1000
            t = time.perf_counter()
            wl = make_workload(args.workload, sess, args.seed, size)
            if args.workload == "rag-mixed":
                arg = wl.preload()
                got = wl.op("ingest", arg, None, _no_span)
                t_o = time.perf_counter()
                errors += wl.check("ingest", got)
                excluded += time.perf_counter() - t_o
            gen_ms = (time.perf_counter() - t) * 1000 - excluded * 1000
            warm, timed = schedules(args.workload, size, args.seconds)

            t_w, excluded_gen = time.perf_counter(), excluded
            for kind in warm:
                arg = wl.prepare(kind)
                got = wl.op(kind, arg, None, _no_span)
                t_o = time.perf_counter()
                errors += wl.check(kind, got)
                excluded += time.perf_counter() - t_o
                sess.housekeeping(*got.get("_frames", ()))
            warm_ms = (time.perf_counter() - t_w - (excluded - excluded_gen)) * 1000
            setup_s = time.perf_counter() - T_START - excluded

            counters = SparkCounters(sess) if trace else None
            seen_kinds: dict[str, int] = {}
            for i, kind in enumerate(timed):
                k_i = seen_kinds[kind] = seen_kinds.get(kind, -1) + 1
                traced = trace and k_i % 2 == 0  # interleave: half traced
                arg = wl.prepare(kind)
                op_id = f"{kind}-{i}"
                if traced:
                    tracer.op = op_id
                    mark = counters.begin()
                attempted += 1
                try:
                    c0 = tree_cpu_seconds()
                    t0 = time.perf_counter()
                    got = wl.op(kind, arg, tracer if traced else None,
                                tracer.span if traced else _no_span)
                    dt = time.perf_counter() - t0
                    cpu.setdefault(kind, []).append(tree_cpu_seconds() - c0)
                    errs = wl.check(kind, got, plant_fault=args.plant_fault)
                except Exception:  # an op that raises counts as failed
                    errs = [traceback.format_exc(limit=4)]
                    got, dt = {}, None
                if errs:
                    failed += 1
                    errors += errs
                if dt is not None:
                    (traced_times if traced else times).setdefault(kind, []).append(dt)
                if traced:
                    # substrate counters describe the workload's throughput op
                    facts = counters.end(mark)
                    if kind != wl.throughput_kind:
                        facts = {}
                    facts.update(wl.layer_facts(kind, got, counters.scan_rows(mark)) if got else {})
                    for span_name, ms in tracer.self_ms(op_id).items():
                        facts[SPAN_METRICS[span_name]] = ms
                    for k, v in facts.items():
                        layer_samples.setdefault(k, []).append(float(v))
                sess.housekeeping(*got.get("_frames", ()))
        peak_mb = rss.peak_mb
        record["peak_rss_parts"] = rss.peak_parts
        record["effective_conf"] = sess.effective_conf()
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    record["ambient_end"] = ambient()
    cpu0, cpu1 = record["ambient_start"]["cpu_ticks"], record["ambient_end"]["cpu_ticks"]
    record["steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    record["op_seconds"] = {k: quartiles(v) for k, v in times.items()}
    record["op_seconds_raw"] = times
    record["op_cpu_seconds_raw"] = cpu
    record["op_seconds_traced"] = {k: quartiles(v) for k, v in traced_times.items()}
    record["error_rate"] = failed / attempted if attempted else None
    record["errors"] = errors[:10]
    record["oracle_s"] = excluded

    if trace:
        tracer.dump(OUT_DIR / f"spans-{args.workload}-seed{args.seed}.jsonl")
        # interleaved traced and untraced ops of one session; 0 where a kind
        # has too few ops to have both
        both = all(times.get(k) and traced_times.get(k) for k in set(timed))
        untraced = e2e_from(args.workload, wl, times if both else traced_times)
        traced_e2e = e2e_from(args.workload, wl, traced_times)
        metrics = {name: statistics.median(layer_samples[name]) if name in layer_samples else 0.0
                   for name in PER_LAYER}
        metrics.update({
            "session.start_ms": session_ms, "corpus.gen_ms": gen_ms, "warmup_ms": warm_ms,
            "trace_overhead.throughput_per_s":
                traced_e2e["throughput_per_s"] - untraced["throughput_per_s"],
            "op_p50_ms": untraced["op_p50_ms"],
            "trace_overhead.op_p50_ms": traced_e2e["op_p50_ms"] - untraced["op_p50_ms"],
            "traced.setup_s": setup_s, "traced.peak_rss_mb": peak_mb,
        })
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s, "peak_rss_mb": peak_mb, **e2e_from(args.workload, wl, times)}
        record["op_p50_ms"] = metrics["op_p50_ms"]  # per-layer only: see NOTES.md
        units = E2E
    record["layer_samples"] = layer_samples if trace else None
    return {
        "record": record,
        "result": {
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        },
    }


@contextlib.contextmanager
def _no_span(name: str):
    yield None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="tiny: smoke-test sizes, one timed op per kind")
    ap.add_argument("--plant-fault", action="store_true",
                    help="perturb every timed op's expected value (smoke test of the oracle)")
    args = ap.parse_args(argv)
    if not (ROOT / "mcp_crawl4ai_rag_spark").is_dir():
        print(f"perfbench: no mcp_crawl4ai_rag_spark package under {ROOT}", file=sys.stderr)
        return 2
    out = run(args)
    record = json.dumps({"record": out["record"]}, default=str)
    OUT_DIR.mkdir(exist_ok=True)
    (OUT_DIR / f"record-{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(record)
    print(record)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
