"""Benchmark entry point.

    python3 perfbench/run.py --workload <udp_ingest|flow_queries|dataprep>
                             --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the engine in this checkout and prints, as the
last line of standard output, one JSON object: `correct`, `attempted`,
`failed` and `metrics`. An untraced run reports the end-to-end metrics of
BENCHMARK.json, and its wall-clock latency and throughput on standard
error; a traced run (--trace 1) reports its per-layer metrics, writes the
run's spans to `.perfbench/trace-<workload>-s<seed>.json` and compares its
own figures with the untraced runs of the same code and seed recorded in
`.perfbench/results-<workload>.jsonl`. A per-layer metric of a layer the
workload never calls reads 0. Notes on the design are in README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [_HERE, os.path.dirname(_HERE)]

import common  # noqa: E402

WORKLOADS = ("udp_ingest", "flow_queries", "dataprep")


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _source_key() -> str:
    """A hash of the engine's and the benchmark's Python sources: runs
    recorded under the same key ran the same code (the checkout need not be
    a git repository)."""
    h = hashlib.sha256()
    for pkg in ("goflow2clickhouse_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(common.ROOT, pkg, "**", "*.py"),
                                     recursive=True)):
            h.update(os.path.relpath(path, common.ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(common.ROOT, "goflow2clickhouse_spark")):
        print("engine package goflow2clickhouse_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    spec = _spec()
    trace = bool(args.trace)
    rdir = common.run_dir(args.workload, args.seed)
    common.prepare_env(rdir)
    tracer = common.Tracer(trace)
    try:
        if args.workload == "udp_ingest":
            import wl_ingest

            res = wl_ingest.run(args.seed, args.seconds, trace, tracer, rdir)
        else:
            import wl_queries

            res = wl_queries.run(args.workload, args.seed, args.seconds, trace,
                                 tracer, rdir)
        common.stop_session()
        if trace:
            fold = common.fold_event_log(os.path.join(rdir, "eventlog"))
            res["layers"].update(res["from_log"](fold))
    finally:
        common.stop_session()
        shutil.rmtree(rdir, ignore_errors=True)
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
    wall = {k: {"value": v, "unit": u} for k, (v, u) in res["wall"].items()}
    print("wall clock: " + ", ".join(f"{k} {v['value']:.4g} {v['unit']}"
                                     for k, v in wall.items()), file=sys.stderr)
    results = os.path.join(common.WORK, f"results-{args.workload}.jsonl")
    key = {"code": _source_key(), "seed": args.seed, "seconds": args.seconds}
    if trace:
        metrics = _per_layer(spec, res, dict(e2e, **wall), results, key)
        tracer.dump(os.path.join(common.WORK, f"trace-{args.workload}-s{args.seed}.json"))
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        with open(results, "a") as fh:
            fh.write(json.dumps(dict(key, steal_pct=res["steal_pct"],
                                     **{k: v["value"] for k, v in {**e2e, **wall}.items()}))
                     + "\n")
    out = {"correct": res["failed"] == 0, "attempted": res["attempted"],
           "failed": res["failed"], "metrics": metrics}
    sys.stdout.flush()
    print(json.dumps(out))
    return 0


def _per_layer(spec: dict, res: dict, e2e: dict, results: str, key: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json (0 for layers this workload
    does not call), plus the traced run's own end-to-end and wall-clock
    figures, whose distance to the untraced runs of the same code and seed
    is the tracing overhead."""
    layers = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
    for m in ("cpu_ms_per_op", "p50_ms", "tail_ms", "throughput"):
        layers[f"traced.{m}"] = e2e[m]
    past = []
    if os.path.exists(results):
        with open(results) as fh:
            past = [r for r in map(json.loads, filter(str.strip, fh))
                    if all(r.get(k) == v for k, v in key.items())]
    if past:
        for m in ("cpu_ms_per_op", "p50_ms", "throughput"):
            base = statistics.median(p[m] for p in past)
            print(f"tracing overhead: {m} {e2e[m]['value']:.4g} traced against "
                  f"{base:.4g}, the median of {len(past)} untraced runs of this code "
                  f"and seed", file=sys.stderr)
    else:
        print("tracing overhead: no untraced run of this code and seed recorded",
              file=sys.stderr)
    out = {}
    for m in spec["per_layer"]:
        out[m["name"]] = layers.get(m["name"], {"value": 0, "unit": m["unit"]})
    missing = set(layers) - set(out)
    if missing:
        print(f"per-layer metrics not listed in BENCHMARK.json: {sorted(missing)}",
              file=sys.stderr)
    return out


if __name__ == "__main__":
    t0 = time.monotonic()
    rc = main()
    print(f"run took {time.monotonic() - t0:.1f} s", file=sys.stderr)
    sys.exit(rc)
