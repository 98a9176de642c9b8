#!/usr/bin/env python3
"""Traced-run report: per-layer tables for each workload, with self times,
counts, the tracing overhead and each layer's predicted end-to-end effect.

Reads the run records `perfbench/run.py` keeps in `perfbench/work/records/`.
For each workload it pairs the traced and untraced runs of the same seeds;
the overhead is the traced end-to-end value over the untraced one, as medians
over the paired seeds. Run each pair back to back, alternating which goes
first, so both runs of a pair see the same host weather.

Usage: python3 perfbench/report.py > perfbench/REPORT.md
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402

# layer metric prefix -> (end-to-end metric it should move, on which workload)
PREDICTIONS = [
    ("first.queries.", "first_pass_s on query_session; no move on ingest"),
    ("warm.queries.", "steady_p50_s on query_session (one schema-inference job per table read)"),
    ("first.sql.", "first_pass_s"),
    ("warm.sql.", "~1 % of a warm round; no move expected"),
    ("first.codegen.", "first_pass_s on both workloads (the pipeline's wall on ingest)"),
    ("warm.codegen.", "steady_p50_s on query_session; batch latency on ingest"),
    ("first.exec.off_stage_ms", "first_pass_s on query_session (the fixed-cost floor)"),
    ("warm.exec.off_stage_ms", "steady_p50_s on query_session (the fixed-cost floor)"),
    ("warm.exec.core_busy_frac", "the steady tail percentile (spread()/fanOut() sites)"),
    ("first.exec.", "first_pass_s"),
    ("warm.exec.", "steady_p50_s"),
    ("first.self.pipeline_ms", "first_pass_s on ingest: driver time of the Workflow stages"),
    ("first.self.", "self time of the layer in the cold pass"),
    ("warm.self.", "self time of the layer in the steady pass"),
    ("core.store_", "first_pass_s on query_session; no move on steady_p50_s"),
    ("core.", "heap_live_peak_mb"),
    ("heap_live_peak_mb", "memory only; moved by core.memo_release_ms and core.cached_bytes_peak"),
    ("pipeline.", "first_pass_s on ingest (the pipeline's wall); no move on query_session"),
    ("streaming.", "steady_p50_s (batch latency) and first_pass_s on ingest"),
    ("traced.", "tracing overhead, against the untraced run"),
]


def prediction(name):
    return next((p for k, p in PREDICTIONS if name.startswith(k)), "")


def load(workload, trace):
    out = {}
    for path in glob.glob(os.path.join(run.WORK, "records", f"{workload}-seed*-trace{trace}.json")):
        r = json.load(open(path))
        out[r["seed"]] = r
    return out


def fmt(v):
    if isinstance(v, float) and (abs(v) >= 1000 or v == int(v)):
        return f"{v:,.0f}"
    return f"{v:.3g}" if isinstance(v, float) else str(v)


def main():
    print("# perfbench traced-run report\n")
    print("Generated by `python3 perfbench/report.py` from the run records. Values are")
    print("medians over the traced seeds; per-pass values are means per operation")
    print("(a query, a pipeline run, a drain). Every workload reports every metric; a")
    print("layer a workload never calls reads 0 there.")
    print("The tracing overhead pairs traced and untraced runs of the same seeds, made")
    print("back to back.\n")
    for w in run.WORKLOADS:
        traced, plain = load(w, 1), load(w, 0)
        if not traced:
            continue
        seeds = sorted(traced)
        print(f"## {w}\n")
        print(f"Traced seeds: {seeds}. Untraced seeds: {sorted(plain)}.\n")
        paired = [s for s in seeds if s in plain]
        if paired:
            print("| end-to-end metric | untraced | traced | overhead |")
            print("|---|---|---|---|")
            for m in ("first_pass_s", "steady_p50_s"):
                u = stats.median([plain[s]["metrics"][m]["value"] for s in paired])
                t = stats.median([traced[s]["metrics"][f"traced.{m}"]["value"] for s in paired])
                print(f"| {m} | {u:.3f} | {t:.3f} | {100 * (t / u - 1):+.1f} % |")
            print()
        if len(plain) >= 4:
            print(f"Untraced runs over {len(plain)} seeds (spread = (Q3 - Q1) / median):\n")
            print("| end-to-end metric | median | Q1 | Q3 | spread |")
            print("|---|---|---|---|---|")
            for m in next(iter(plain.values()))["metrics"]:
                vals = [plain[s]["metrics"][m]["value"] for s in sorted(plain)]
                q1, _, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                print(f"| {m} | {med:.3f} | {q1:.3f} | {q3:.3f} | {(q3 - q1) / med:.3f} |")
            print()
        w0 = [plain[s]["weather"] for s in sorted(plain)]
        if w0:
            print(f"Host weather over the untraced runs: steal {[x['steal_jiffies'] for x in w0]} "
                  f"jiffies, iowait {[x['iowait_jiffies'] for x in w0]} jiffies.\n")
        print("| layer metric | unit | value | should move |")
        print("|---|---|---|---|")
        for name in run.per_layer_names():
            v = stats.median([traced[s]["metrics"][name]["value"] for s in seeds])
            print(f"| {name} | {traced[seeds[0]]['metrics'][name]['unit']} | {fmt(v)} | "
                  f"{prediction(name)} |")
        print()


if __name__ == "__main__":
    main()
