"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload sql_serving --seed 1 --seconds 15 --trace 0

Workloads: ``sql_serving``, ``batch_headline``, ``lake_ingest`` (see
README.md).  With ``--trace 0`` the result carries the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` it carries the per-layer
metrics, taken from spans recorded around each call into a layer and
from Spark's event log.  Each metric is printed with its unit; the
names and units are read from BENCHMARK.json.  Run from the root of a
checkout; everything the run writes goes under ``.perfbench_work/``
and is removed at exit, apart from the traced run's spans, which are
kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SETUP_REPS = 3
WORKLOADS = ("sql_serving", "batch_headline", "lake_ingest")


def _workload_class(name: str):
    if name == "sql_serving":
        from sql_serving import Workload
    elif name == "batch_headline":
        from batch_headline import Workload
    else:
        from lake_ingest import Workload
    return Workload


def _declared() -> dict:
    with open(harness.ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def _result(declared: list[dict], values: dict[str, float], bypassed: tuple[str, ...]) -> dict:
    """Every declared metric with its unit.  A metric of a layer the
    workload bypasses reads 0; any other missing or undeclared value
    is an error in the benchmark itself."""
    names = {m["name"] for m in declared}
    extra = set(values) - names
    if extra:
        raise RuntimeError(f"undeclared metrics {sorted(extra)}")
    out = {}
    for m in declared:
        if m["name"] in values:
            v = values[m["name"]]
        elif m["name"].startswith(bypassed):
            v = 0.0
        else:
            raise RuntimeError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """One run.  The result carries the counts and both metric sets:
    ``end_to_end`` always, ``per_layer`` in traced runs (else None)."""
    spec = _declared()
    res = harness.host_resources()
    with harness.Sandbox(workload) as box:
        import __spark_entry__  # noqa: F401  (fails fast outside a checkout)

        t0 = time.perf_counter()
        spark = harness.start_spark(box, res, trace)
        get_spark_s = time.perf_counter() - t0
        try:
            tracer = harness.Tracer(trace, spark)
            wl = _workload_class(workload)(spark, box, tracer, seed)
            reps, views = [], []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                views.append(wl.setup(rep)["register_views_s"])
                reps.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0
            ticks = harness.cpu_ticks()
            tracer.start_timed()
            timed = [time.time()]
            with harness.PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
                wl.run(seconds)
            timed.append(time.time())
            steal = harness.steal_share(ticks, harness.cpu_ticks())
            layers = values = None
            if trace:
                values = {
                    "setup.get_spark_s": get_spark_s,
                    "setup.register_views_s": harness.median(views),
                    "setup.warmup_s": warmup_s,
                    "host.probe_s": harness.calibration_probe(spark),
                    "host.peak_rss_mb": rss.peak_mb,
                    "host.live_heap_mb": harness.live_heap_mb(spark),
                }
                events = harness.read_event_log(box)
                in_timed = [j for j in events[0].values() if timed[0] <= j.start <= timed[1]]
                unjoined = sum(1 for j in in_timed if j.op is None)
                print(f"perfbench: {len(in_timed)} jobs in the timed section, {unjoined} without "
                      f"a {harness.OP_PROPERTY} property", file=sys.stderr)
                # before check(): a workload may record trace-check failures
                values.update(wl.layers(lambda ops: harness.spark_layer(tracer, ops, events), events))
                tracer.dump(str(harness.ROOT / ".perfbench_out" / f"{workload}-seed{seed}-spans.jsonl"))
            t0 = time.perf_counter()
            attempted, failed, failures = wl.check()
            check_s = time.perf_counter() - t0
            for f in failures:
                print(f"perfbench: FAILED {f}", file=sys.stderr)
            e2e = wl.end_to_end()
            e2e["setup_s"] = get_spark_s + harness.median(reps)
            if trace:
                values["traced.p50_ms"] = e2e["p50_ms"]
                values["traced.throughput_per_s"] = e2e["throughput_per_s"]
                layers = _result(spec["per_layer"], values, wl.bypassed)
            info = {
                "workload": workload, "seed": seed, "seconds": seconds,
                "samples": wl.samples(), "error_rate": failed / max(1, attempted),
                "setup_reps_s": reps, "warmup_s": warmup_s, "check_s": check_s,
                "steal_share": steal,
                **wl.details(),
                **res,
            }
            print("perfbench: " + json.dumps(info), file=sys.stderr)
            wl.close()
        finally:
            harness.stop_spark(spark)
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "end_to_end": _result(spec["end_to_end"], e2e, ()),
        "per_layer": layers,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    counts = {k: out[k] for k in ("correct", "attempted", "failed")}
    print(json.dumps({**counts, "metrics": out["per_layer"] if args.trace else out["end_to_end"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
