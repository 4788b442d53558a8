"""KG-construction benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One Python process and one
JVM on local[nproc]. For the workload (or each of them with `all`):

1. set-up, once (Spark JVM and session start, warm-up jobs, expected
   output from the DuckDB oracle): `setup_s`, a cold set-up (with
   `all`, only the first workload's set-up starts the JVM);
2. closed-loop timed jobs for S seconds (at least one), every output
   checked against the expected values outside the timed region;
3. with --trace 1, untraced jobs for S/2 seconds, then traced jobs for
   S/2 seconds (spans around each public call, Spark stage and
   SQL-operator metrics per job, layer-decomposition probe jobs), then
   the workload's layer probes. The spans are written to
   .perfbench_work/traces/ when the run ends.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end-to-end ones untraced, per-layer
ones traced). The line before it records nproc, versions, the Spark
conf and every job's figures. A layer a workload never calls reads 0.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from harness import (
    ProcSampler, Session, SparkWindow, Tracer, duck, nproc, reset_dir,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(wl, spark, sampler, tracer, seconds: float, traced: bool) -> list:
    """Closed loop: run jobs until the next one would overrun `seconds`."""
    records, spent = [], 0.0
    tracer.enabled = traced
    while True:
        rec = {"error": None, "ok": False, "triples": 0}
        win = SparkWindow(spark) if traced else None
        cpu0 = sampler.cpu_s()
        with sampler.peak() as peak:
            t0 = time.perf_counter()
            try:
                with tracer.span("job"):
                    wl.job(spark)
            except Exception as e:  # counted in `failed`; the loop ends
                rec["error"] = repr(e)
            rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = sampler.cpu_s() - cpu0
        rec["rss_bytes"] = peak["rss"]
        if rec["error"] is None:
            try:
                if traced:
                    rec["window"] = win.close()
                rec["ok"], rec["triples"] = wl.check(spark)
                if traced:
                    rec["probe"] = wl.probe(spark)
            except Exception as e:
                rec["ok"], rec["error"] = False, repr(e)
        records.append(rec)
        # a traced iteration also pays for its check and probe jobs
        last = time.perf_counter() - t0 if traced else rec["wall_s"]
        spent += last
        if rec["error"] or spent + last > seconds:
            break
    tracer.enabled = False
    return records


def end_to_end(setup_s: float, recs: list) -> dict:
    ok = [r for r in recs if r["ok"]] or recs
    return {
        "setup_s": setup_s,
        "job_s": median([r["wall_s"] for r in ok]),
        "triples_per_s": median([r["triples"] / r["wall_s"] for r in ok]),
        "cpu_s": median([r["cpu_s"] for r in ok]),
        "peak_rss_mb": median([r["rss_bytes"] for r in ok]) / 2**20,
    }


def per_layer(wl, spark, tracer, plain: list, traced: list,
              names: list) -> tuple:
    """Per-layer metrics from the traced jobs and the workload's layer
    probes; returns (metrics, [(probe, ok)])."""
    ok = [r for r in traced if r["ok"]]
    out = dict.fromkeys(names, 0.0)
    if not ok:
        return out, []
    tracer.enabled = True
    try:
        layers, probes = wl.layers(spark, ok)
    except Exception as e:  # a failed probe is a failed operation
        layers, probes = {}, [(f"layers: {e!r}", False)]
    finally:
        tracer.enabled = False
    out.update(layers)
    stage = [r["window"].stage_totals() for r in ok]
    for k in stage[0]:
        out[f"spark.{k}"] = median([s[k] for s in stage])
    job = median([r["wall_s"] for r in ok])
    out["trace.job_s"] = job
    out["trace.overhead_s"] = job - median(
        [r["wall_s"] for r in plain if r["ok"]])
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: "
                       f"{sorted(unknown)}")
    return out, probes


def run_workload(name, cls, session, sampler, con, args, spec, work, tracer):
    wl = cls(work, args.seed, con, tracer)
    t0 = time.perf_counter()
    spark = session.start()
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    # a traced run splits its time between untraced jobs (the base of
    # the tracing overhead) and traced ones, then runs the layer probes;
    # the probes make it the longest run, so its job time is halved
    seconds = args.seconds / 2 if args.trace else args.seconds
    plain = measure(wl, spark, sampler, tracer, seconds, traced=False)
    traced = (measure(wl, spark, sampler, tracer, seconds, traced=True)
              if args.trace else [])
    probes = []
    if args.trace:
        metrics, probes = per_layer(wl, spark, tracer, plain, traced,
                                    [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = end_to_end(setup_s, plain)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    recs = plain + traced
    attempted = len(recs) + len(probes)
    failed = (sum(1 for r in recs if not r["ok"])
              + sum(1 for _, ok in probes if not ok))
    info = {
        "workload": name, "seed": args.seed, "n_conv": wl.n_conv,
        "setup_s": setup_s, "failed_ops": failed / attempted,
        "probes": dict(probes), "notes": wl.notes,
        "jobs": [{k: v for k, v in r.items() if k != "window"}
                 for r in recs],
    }
    return info, {"correct": failed == 0, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": metrics[k], "unit": units[k]}
                              for k in units}}


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # a checkout without the package fails here, before any Spark start
    import jsonld_js_spark  # noqa: F401
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "run")
    traces = os.path.join(base, "traces")
    reset_dir(work)
    os.makedirs(traces, exist_ok=True)
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]

    session = Session(ROOT, work)
    sampler = ProcSampler()
    sampler.start()
    con = duck(work)
    results = {}
    try:
        for name in names:
            tracer = Tracer(False)
            info, res = run_workload(name, WORKLOADS[name], session,
                                     sampler, con, args, spec, work, tracer)
            info.update(nproc=nproc(), versions=session.versions(),
                        conf=session.conf)
            if args.trace:
                path = os.path.join(traces, f"{name}-seed{args.seed}.json")
                tracer.dump(path)
                info["trace_file"] = os.path.relpath(path, ROOT)
            print(json.dumps(info, default=str), flush=True)
            results[name] = res
    finally:
        session.shutdown(sampler)
        sampler.stop()
        con.close()
        reset_dir(work)
    if len(names) == 1:
        final = results[names[0]]
    else:
        for name, res in results.items():
            print(json.dumps({"workload": name, **res}), flush=True)
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
