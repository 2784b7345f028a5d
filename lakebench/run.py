"""Seeded lakehouse benchmark: one workload per process.

    python3 lakebench/run.py --workload ingest_cdc --seed 1 --seconds 10 --trace 0
    python3 lakebench/run.py --workload all --seed 1 --seconds 10

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. ``all`` runs
every workload untraced and traced in child processes and reports the
tracing overhead. The exit code is non-zero when a correctness check
fails.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

import harness

MODULES = {"ingest_cdc": "wl_ingest", "corpus_dedup": "wl_corpus"}
WORKLOADS = tuple(MODULES)

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
    "work_per_s": ("1/s", "higher", 0.25),
}

_FULL = ("s", "jobs", "job_s", "driver_gap_s", "task_s", "shuffle_write_bytes", "spill_bytes")
_TIMING = ("s", "jobs", "job_s", "driver_gap_s")
_DRIVER = ("s", "jobs")
SPANS = {
    "session.get_spark": ("s",),
    "plans.strategy": _DRIVER,
    "plans.watermark": _DRIVER,
    "sources.read_predicates": _DRIVER,
    "sources.write_raw": _FULL,
    "sources.read_raw": _DRIVER,
    "functions.apply": _DRIVER,
    "stage_writer.dedup_latest": _DRIVER,
    "streaming.incremental_run": _FULL[:5],
    "versioned.merge": _FULL,
    "versioned.delete_keys": _FULL,
    "versioned.compact": _TIMING,
    "text.features": _FULL,
    "dedup.exact": _FULL,
    "dedup.minhash": _FULL,
    "dedup.ngram": _FULL,
}
_STAT_UNIT = {"s": "s", "jobs": "count", "job_s": "s", "driver_gap_s": "s", "task_s": "s",
              "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
# name -> (unit, better) for counts read from the table or the results
COUNTERS = {
    "versioned.merge.files_rewritten_per_candidate": ("ratio", "lower"),
    "versioned.checkpoint.count": ("count", "lower"),
    "versioned.checkpointed_commit.count": ("count", "lower"),
    "versioned.checkpointed_commit.s": ("s", "lower"),
    "versioned.log_bytes": ("bytes", "lower"),
    "dedup.ngram.pairs_out": ("count", "higher"),
    "dedup.minhash.pairs_out": ("count", "higher"),
    "traced.op_p50_ms": ("ms", "lower"),
    "traced.work_per_s": ("1/s", "higher"),
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    out = {f"{span}.{stat}": (_STAT_UNIT[stat], "lower") for span, stats in SPANS.items() for stat in stats}
    out.update(COUNTERS)
    return out


def _run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    work = harness.make_work_dir(f"{workload}-{seed}")
    try:
        return _run_in(work, workload, seed, seconds, trace)
    finally:
        harness.remove_work_dir(work)


def _run_in(work, workload: str, seed: int, seconds: float, trace: bool) -> int:
    settings = harness.pin_environment(work)
    sys.path.insert(0, str(harness.ROOT))
    import pyspark

    from cdk_datalake_ingest_upeu_spark import get_spark

    import spans as tracing

    harness.log("imports done")
    module = __import__(MODULES[workload])
    event_log = work / "eventlog" if trace else None
    t0, w0 = time.perf_counter(), time.time()
    spark = get_spark(f"lakebench-{workload}", extra_conf=harness.session_conf(work, event_log))
    session_s = time.perf_counter() - t0
    harness.log("session up")
    tracer = tracing.Tracer(spark, workload, traced=trace)
    if trace:
        tracer.calls.append(tracing.Call("session.get_spark", w0, time.time(), 0))
    try:
        res = module.run(spark, tracer, seed=seed, seconds=seconds, work=work)
    finally:
        harness.close_session(spark)

    harness.log("session closed")
    span_stats = tracing.span_metrics(workload, tracer.calls, tracing.parse_event_log(event_log)) if trace else {}
    counters = {**tracer.counters, **res["counters"]}
    if trace:
        counters["traced.op_p50_ms"] = res["op_p50_ms"]
        counters["traced.work_per_s"] = res["work_per_s"]
        metrics = {}
        for name, (unit, _) in per_layer_metrics().items():
            span, _, stat = name.rpartition(".")
            value = span_stats[span][stat] if stat in span_stats.get(span, {}) else counters.get(name, 0.0)
            metrics[name] = {"value": float(value), "unit": unit}
    else:
        metrics = {name: {"value": float(res[name]), "unit": unit} for name, (unit, _, _) in END_TO_END.items()}

    env = {"nproc": harness.nproc(), "pyspark": pyspark.__version__, "session_start_s": session_s, **settings}
    print(f"lakebench {workload} seed={seed} seconds={seconds} trace={int(trace)}")
    print("env " + " ".join(f"{k}={v}" for k, v in env.items()))
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for name, (value, unit, *note) in res["detail"].items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name} = {shown} {unit}" + (f" ({note[0]}, n={res['samples']})" if note else ""))
    print(f"  peak_rss_mb = {res['peak_rss_mb']:.6g} MiB (driver JVM + Python high-water)")
    attempted, failed = res["attempted"], res["failed"]
    print(f"  ops_failed_frac = {failed / attempted:.6g} ({failed}/{attempted})")
    for p in res["problems"]:
        print(f"  CHECK FAILED: {p}")

    results = harness.WORK_ROOT / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "env": env,
              "metrics": metrics, "detail": res["detail"], "peak_rss_mb": res["peak_rss_mb"], "counters": counters, "spans": span_stats,
              "problems": res["problems"]}
    (results / f"{workload}-seed{seed}-trace{int(trace)}.json").write_text(json.dumps(record, indent=1, default=str))

    correct = not res["problems"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced, each in its own process."""
    rc = 0
    summary = {}
    for workload in WORKLOADS:
        legs = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            out = proc.stdout.strip().splitlines()
            print("\n".join(out[:-1]))
            rc |= proc.returncode
            legs[trace] = json.loads(out[-1]) if out else None
        if legs[0] and legs[1]:
            plain, traced = legs[0]["metrics"], legs[1]["metrics"]
            summary[workload] = {
                "op_p50_ms_overhead": traced["traced.op_p50_ms"]["value"] - plain["op_p50_ms"]["value"],
                "work_per_s_overhead": traced["traced.work_per_s"]["value"] - plain["work_per_s"]["value"],
            }
            print(f"  tracing overhead {workload}: " + ", ".join(f"{k} {v:+.4g}" for k, v in summary[workload].items()))
    print(json.dumps({"correct": rc == 0, "tracing_overhead": summary}))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args.seed, args.seconds)
    return _run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
