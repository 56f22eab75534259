"""Benchmark entry point.

    python3 perfbench/run.py --workload catchup_replay --seed 1 --seconds 15 --trace 0

Runs one workload against the program in the enclosing checkout and prints,
as its last stdout line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it records the run's
context: nproc, load average, CPU steal, Spark version and sample counts. Spans and
the full record are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

PERFBENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(PERFBENCH))

UNITS_PATH = os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")


def _cpus() -> int:
    """What ``nproc`` reports for this process (ignoring OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="near-event-streams benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    cpus = _cpus()
    # session.py reads this at import time and would default to local[32]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    import near_event_streams_spark  # noqa: F401  (fail fast without the program)

    from perfbench import harness

    harness.isolate()
    from perfbench.stats import highest_supported
    from perfbench.workloads import WORKLOADS, Run

    if a.workload not in WORKLOADS:
        p.error(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    with open(UNITS_PATH) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    load_before, cpu_before = os.getloadavg(), harness.cpu_times()
    run = Run(seed=a.seed, seconds=a.seconds, trace=bool(a.trace))
    with run.tracer.span("run", workload=a.workload, seed=a.seed):
        res = WORKLOADS[a.workload](run)
    shutil.rmtree(harness.WORK, ignore_errors=True)
    cpu = [b - a for a, b in zip(cpu_before, harness.cpu_times())]

    values = res.layers if a.trace else res.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing and not a.trace:
        raise SystemExit(f"workload produced no value for {missing}")
    # a layer this workload never calls did no work: it reads 0
    values = {**dict.fromkeys(missing, 0), **values}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    n_lat = res.context.get("latency_samples", 0)
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cpus, "spark": _spark_version(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        # CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": cpu[7] / sum(cpu) if sum(cpu) else 0.0,
        "latency_tail_supported_pct": highest_supported(n_lat),
        "layers_not_exercised": missing,
        **res.context,
    }
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    stamp = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}"
    with open(os.path.join(harness.OUT, f"{stamp}.json"), "w") as f:
        json.dump({"context": context, "result": result,
                   "e2e": res.e2e, "layers": res.layers, "samples": res.samples}, f, indent=1)
    run.tracer.write(os.path.join(harness.OUT, f"{stamp}.spans.json"))
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    sys.exit(main())
