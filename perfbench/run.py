"""End-to-end benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one client, closed loop, on
``local[nproc]``. The run sets up (session start, seeded input generation,
base load, model training, warm-up), measures repetitions of the workload's
flow for ``--seconds``, checks the outputs, and prints a report followed by
one JSON line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json with
tracing off. ``--trace 1`` runs untraced and traced repetitions and
reports the per-layer metrics: spans recorded around the benchmark's calls
into each layer, Spark counters from the event log per phase, and the
tracing overhead (traced over untraced flow time; the event log itself is
on for both). A failed correctness check exits with status 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

import harness
from harness import OUT, ROOT, SCRATCH, Deadline, Result

WORKLOADS = {
    "medallion": ("wl_medallion", "Medallion"),
    "corpus_prep": ("wl_corpus", "CorpusPrep"),
    "query_board": ("wl_board", "QueryBoard"),
}
PACKAGE = "databricks_etl_pipelines_spark"
# Repetitions run before timing. The first repetition of a fresh JVM runs
# about twice as long as later ones (JIT). A second warm-up repetition did
# not narrow the spread across runs on a 4-core box whose speed drifted by
# 15-40% within minutes, and lengthened every run by about a fifth.
WARMUP_REPS = 1


def declared_metrics() -> dict[str, list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"e2e": spec["end_to_end"], "layers": spec["per_layer"]}


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full") -> tuple[Result, dict[str, float]]:
    """Set up, measure and check one workload; returns the result and the
    metrics to print (end-to-end, or per-layer when tracing)."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"engine package {PACKAGE!r} not found under {ROOT}")
    event_dir = os.path.join(OUT, f"{workload}-seed{seed}", "eventlog")
    harness.reset_scratch()
    harness.pin_environment(trace, event_dir)
    if trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    sys.path.insert(0, ROOT)
    import importlib

    from tracing import Tracer, read_event_log, spark_counters

    module, cls = WORKLOADS[workload]
    res = Result(workload)
    tracer = Tracer(f"{workload}-seed{seed}-{os.getpid()}")

    t0 = time.perf_counter()
    spark = None
    try:
        spark = harness.start_spark()
        session_s = time.perf_counter() - t0
        wl = getattr(importlib.import_module(module), cls)(
            spark, seed, os.path.join(SCRATCH, "work"), tracer, res, size
        )
        t0 = time.perf_counter()
        wl.prepare(os.path.join(SCRATCH, "inputs"))
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(WARMUP_REPS):
            wl.rep(warmup=True)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + prepare_s + warm_s
        # operations are counted from the measured repetitions on; failed
        # checks, wherever they ran, stay counted
        res.attempted = res.failed_ops = 0

        # Traced runs order repetitions untraced, traced, traced,
        # untraced, so that a drift still left after warm-up cancels out
        # of the overhead.
        pattern = (False, True, True, False) if trace else (False,)
        plain, traced = [], []
        clock = Deadline(seconds, min_reps=len(pattern))
        while clock.more():
            tracer.enabled = pattern[(clock.reps - 1) % len(pattern)]
            sample = wl.rep()
            if tracer.enabled:
                sample["layers"] = wl.trace_rep()
                traced.append(sample)
            else:
                plain.append(sample)
        tracer.enabled = False
        wl.check()
        rss = harness.peak_rss_mb(spark)
        cores = int(spark.sparkContext.defaultParallelism)
    finally:
        harness.stop_spark(spark)

    e2e = {
        "setup_s": setup_s,
        "flow_s": median([s["flow_s"] for s in plain]),
    }
    res.report = wl.report(plain)
    res.report.update({
        "setup_s": (setup_s, "s",
                    f"session {session_s:.2f} + inputs/base/train/oracles "
                    f"{prepare_s:.2f} + warm-up {warm_s:.2f}"),
        "peak_rss_mb": (rss, "MB", "driver Python + JVM VmHWM"),
        "failed_op_share": (res.failed / max(res.attempted, 1), "share",
                            f"{res.failed} of {res.attempted}"),
    })
    if not trace:
        return res, e2e

    layers: dict[str, float] = dict(wl.setup_layers())
    for key in traced[0]["layers"]:
        layers[key] = median([s["layers"][key] for s in traced])
    log = read_event_log(event_dir)
    counters, untagged = spark_counters(log, tracer.phases, cores,
                                        len(traced))
    for phase, c in counters.items():
        for k, v in c.items():
            layers[f"{phase}.spark.{k}"] = v
    layers[f"spark.untagged_jobs.{workload}"] = untagged / len(traced)
    layers[f"tracing_overhead_share.{workload}"] = (
        median([s["flow_s"] for s in traced])
        / median([s["flow_s"] for s in plain]) - 1.0
    )
    for name, (value, _, _) in res.report.items():
        layers[f"{wl.name}.{name}"] = value
    tracer.write(os.path.join(OUT, f"{workload}-seed{seed}", "spans.jsonl"))
    return res, layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's tests")
    args = ap.parse_args(argv)
    declared = declared_metrics()
    # a terminated run still stops the JVM and its workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res, values = run(args.workload, args.seed, args.seconds,
                          bool(args.trace), args.size)
    except SystemExit:
        raise
    except Exception:  # noqa: BLE001 - report the failure, print no result
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} "
          f"cores={harness.cpu_count()} trace={args.trace}")
    for name, (rows, nbytes) in res.inputs.items():
        print(f"input {name}: rows={rows} bytes={nbytes}")
    for name, (value, unit, note) in res.report.items():
        print(f"{name} = {value:.6g} {unit}  ({note})")
    for name, ok in res.checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    # every end-to-end metric is measured on every workload; a layer the
    # workload does not exercise reads 0
    specs = declared["layers" if args.trace else "e2e"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0) if args.trace
                                   else values[m["name"]]),
                    "unit": m["unit"]}
        for m in specs
    }
    print(json.dumps({
        "correct": res.correct, "attempted": max(res.attempted, 1),
        "failed": res.failed, "metrics": metrics,
    }))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
