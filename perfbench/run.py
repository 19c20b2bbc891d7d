#!/usr/bin/env python3
"""canal-spark benchmark.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Runs one workload (see METRICS.md) in a fresh local[<=4] Spark session
from the root of a checkout: seeded inputs and oracle digests first
(untimed), then set-up (session start, warm-up, table seeding:
`setup_s`), then the timed window, then the oracle check. The last
line of standard output is one JSON object

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding every end-to-end metric (`--trace 0`) or every per-layer metric
(`--trace 1`). The line before it is a JSON object with the
environment, the input properties and the raw sample counts.

With `--trace 1` the run measures three windows of the same length:
untraced, traced (the layer wrappers of perfbench/trace.py installed),
untraced again; `trace.overhead_pct` compares the traced window with
the mean of the two untraced ones, which cancels the warm-up drift.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics of the CDC workloads, in the order printed; the
#: lookup and scan p90s rest on 10-40 samples per run and are printed
#: with the named metrics only, not in the contract line
CDC_E2E = [
    ("setup_s", "s"),
    ("events_per_s", "1/s"),
    ("freshness_ms_p50", "ms"),
    ("freshness_ms_p90", "ms"),
    ("lookup_ms_p50", "ms"),
    ("scan_ms_p50", "ms"),
    ("peak_rss_mb", "MB"),
]
CDC_INFO_ONLY = [("lookup_ms_p90", "ms"), ("scan_ms_p90", "ms")]
CURATE_E2E = [
    ("setup_s", "s"),
    ("docs_per_s", "1/s"),
    ("pass_ms_p50", "ms"),
    ("peak_rss_mb", "MB"),
]


def e2e_units(workload: str) -> list[tuple[str, str]]:
    return CURATE_E2E if workload == "curate" else CDC_E2E


def named_units(workload: str) -> list[tuple[str, str]]:
    return e2e_units(workload) + ([] if workload == "curate" else CDC_INFO_ONLY)


def end_to_end(wl, w, setup_s: float, rss_mb: float) -> dict[str, float]:
    from perfbench.common import median, percentile, weighted_percentile

    out = {"setup_s": setup_s, "peak_rss_mb": rss_mb}
    if wl.name == "curate":
        out["docs_per_s"] = median(w.rates)
        out["pass_ms_p50"] = median([w.events / len(w.rates) / r * 1000.0 for r in w.rates])
        return out
    out["events_per_s"] = median(w.rates)
    for q in (50, 90):
        out[f"freshness_ms_p{q}"] = weighted_percentile(w.freshness, q)
        out[f"lookup_ms_p{q}"] = percentile(w.lookups, q)
        out[f"scan_ms_p{q}"] = percentile(w.scans, q)
    return out


def overhead_pct(metric: str, base: float, traced: float) -> float:
    """How much slower the traced window was, in percent."""
    if metric.endswith("_per_s"):
        return (base / traced - 1.0) * 100.0
    return (traced / base - 1.0) * 100.0


def run(args) -> dict:
    from perfbench.common import Session, workdir
    from perfbench.workloads import WORKLOADS, Tail

    cls = WORKLOADS[args.workload]
    windows = 3 if args.trace else 1
    kw = {"seconds": args.seconds, "windows": windows} if cls is Tail else {}
    wl = cls(args.seed, args.scale, **kw)
    t_in = time.monotonic()
    wl.inputs()
    phases = {"inputs": time.monotonic() - t_in}

    t0 = time.monotonic()
    log_dir = workdir("eventlog", fresh=True) if args.trace else None
    sess = Session(event_log_dir=log_dir)
    phases["session"] = time.monotonic() - t0
    try:
        wl.attach(sess)
        wl.setup()
        setup_s = time.monotonic() - t0
        phases["warm_up"] = setup_s - phases["session"]
        base = None
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            base = [wl.measure(args.seconds)]
            tracer = Tracer(sess.sc)
            tracer.install()
            wl.tracer = tracer
            try:
                w = wl.measure(args.seconds)
            finally:
                tracer.uninstall()
                wl.tracer = None
            base.append(wl.measure(args.seconds))
        else:
            w = wl.measure(args.seconds)
        # the lead-in of the first window (tail) is warm-up too
        lead_s = (base[0] if args.trace else w).lead_s
        setup_s += lead_s
        phases["warm_up"] += lead_s
        rss = sess.peak_rss_mb()
        phases["measure"] = time.monotonic() - t0 - setup_s
        t_v = time.monotonic()
        wl.describe(w)
        correct = wl.verify(w)
        phases["verify"] = time.monotonic() - t_v
        env = sess.environment()
        e2e = end_to_end(wl, w, setup_s, rss)
        layers = None
        if args.trace:
            from perfbench import layers as L
            from perfbench.trace import Rollup, read_event_log

            stages = wl.stage_ms() if wl.name == "curate" else None
            sess.stop()
            sess = None
            rollup = Rollup(tracer.spans, read_event_log(log_dir), [(w.t0, w.t1)])
            if wl.name == "curate":
                layers = L.curate_layers(rollup, wl, w, stages)
            else:
                layers = L.cdc_layers(rollup, wl, w)
            m = wl.overhead_metric
            untraced = sum(end_to_end(wl, b, setup_s, rss)[m] for b in base) / len(base)
            layers["trace.overhead_pct"] = overhead_pct(m, untraced, e2e[m])
            if wl.name in ("backfill", "routed"):
                # the spans' self times on the replaying thread against the
                # untraced replay wall (events / rate, per replay)
                w.info["trace_accounting_ms_per_replay"] = {
                    "span_self_time_sum": rollup.self_time_sum("bench.round") / w.rounds,
                    "traced_replay": rollup.ms("bench.round") / w.rounds,
                    "untraced_replay": sum(
                        wl.props["events"] / r for b in base for r in b.rates
                    ) * 1000.0 / sum(len(b.rates) for b in base),
                }
    finally:
        if sess is not None:
            sess.stop()

    windows_run = [w] + (base or [])
    attempted = sum(x.attempted for x in windows_run)
    failed = sum(x.failed for x in windows_run) if correct else attempted
    return {
        "info": {
            "workload": wl.name,
            "seed": args.seed,
            "scale": args.scale,
            "seconds": args.seconds,
            "trace": args.trace,
            "environment": env,
            "phase_s": {k: round(v, 2) for k, v in phases.items()},
            "inputs": {**wl.props, **w.info},
            "samples": {
                "rounds": w.rounds,
                "rates_per_s": [round(r, 1) for r in w.rates],
                "freshness": len(w.freshness),
                "lookups": len(w.lookups),
                "scans": len(w.scans),
                "lookups_ms": [round(x, 1) for x in w.lookups],
                "scans_ms": [round(x, 1) for x in w.scans],
                "freshness_ms": [round(v, 1) for v, _ in w.freshness],
            },
            "named_metrics": {
                **{k: {"value": e2e[k], "unit": u} for k, u in named_units(wl.name)},
                "failed_frac": {"value": failed / max(1, attempted), "unit": "share"},
            },
            "oracle_match": correct,
            "errors": [e for x in windows_run for e in x.errors][:10],
        },
        "result": {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "e2e": e2e,
            "layers": layers,
        },
    }


def emit(out: dict, trace: int) -> None:
    from perfbench.layers import layer_units

    res = out["result"]
    wl = out["info"]["workload"]
    units = layer_units(wl) if trace else e2e_units(wl)
    values = res["layers"] if trace else res["e2e"]
    print(json.dumps(out["info"], sort_keys=True, default=str))
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units},
            }
        ),
        flush=True,
    )


def self_test() -> int:
    """Every workload end to end at tiny scale, once plain and once
    traced; every named metric must be emitted, finite, with its unit."""
    from perfbench.layers import layer_units

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for workload in ("backfill", "routed", "tail", "curate"):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
            t = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{workload}/trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            expect = dict(layer_units(workload) if trace else e2e_units(workload))
            if workload != "curate":
                declared = declared_layer if trace else declared_e2e
                if declared != expect:
                    problems.append(f"{tag}: BENCHMARK.json and the emitted metrics differ")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            for name, unit in expect.items():
                m = res["metrics"].get(name)
                if m is None or m.get("unit") != unit or not math.isfinite(m.get("value", math.nan)):
                    problems.append(f"{tag}: metric {name} missing or malformed: {m}")
            extra = set(res["metrics"]) - set(expect)
            if extra:
                problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
            print(f"{tag}: ok in {time.monotonic() - t:.0f} s", file=sys.stderr, flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"self_test": "fail" if problems else "pass", "problems": len(problems)}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["backfill", "routed", "tail", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from perfbench.common import confine_temp_files

    confine_temp_files()
    try:
        import canal_spark  # noqa: F401 - the program under test
        import tests.oracle_replay  # noqa: F401 - the replay oracle
    except ImportError as ex:
        print(f"perfbench: run from the root of a canal-spark checkout ({ex})", file=sys.stderr)
        return 2
    if args.self_test:
        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    out = run(args)
    emit(out, args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
