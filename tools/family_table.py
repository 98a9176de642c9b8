#!/usr/bin/env python3
"""Per-family table: groups a bench JSON's per-query seconds by
SparkEntry.defGroups family and prints the BASELINE-style family table.

Usage: python3 tools/family_table.py <bench.json> [baseline_bench.json]
With one file it prints per-family totals only. With a baseline bench
(e.g. the parent commit's target/bench.json, or the sf0.1 pass when
reading a 30x pass), it adds the baseline column, per-family ratios and
the worst per-query ratios against it.
"""
import json, re, sys, collections

# family = the SparkEntry.defGroups group; recover it from the source tree
import pathlib
QDIR = pathlib.Path(__file__).resolve().parent.parent / "src/main/scala/graft/queries"
FILE2FAM = {
    "Relational.scala": "relational", "WindowsQ.scala": "windows",
    "TextQ.scala": "text", "DedupQ.scala": "dedup",
    "SimilarityQ.scala": "similarity", "EventsQ.scala": "events",
    "ParityQ.scala": "parity", "AsOfQ.scala": "asof",
    "StatsQ.scala": "stats", "PipelineQ.scala": "pipeline",
    "JdbcQ.scala": "jdbc", "LayoutQ.scala": "layout",
    "SkewQ.scala": "skew", "PackQ.scala": "pack",
    "MediaQ.scala": "media", "MergeQ.scala": "merge",
    "CorpusStatsQ.scala": "corpusstats", "GraphQ.scala": "graph",
    "FormatsQ.scala": "formats", "AnalyticsQ.scala": "analytics",
    "ReshapeQ.scala": "reshape", "StreamParityQ.scala": "streamparity",
}

def qfam():
    m = {}
    lit = re.compile(r'QueryDef\(\s*"([^"]+)"')
    for f, fam in FILE2FAM.items():
        p = QDIR / f
        if p.exists():
            for name in lit.findall(p.read_text()):
                m[name] = fam
    return m

def main():
    bench = json.load(open(sys.argv[1]))["queries"]
    base = json.load(open(sys.argv[2]))["queries"] if len(sys.argv) > 2 else None
    fam = qfam()
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0])  # n, cur, base
    missing = []
    for q, s in bench.items():
        f = fam.get(q)
        if f is None:
            missing.append(q); continue
        r = rows[f]
        r[0] += 1; r[1] += s
        if base: r[2] += base.get(q, 0.0)
    tn = 0; tc = tb = 0.0
    hdr = "| family | n | cur (s) |"
    if base: hdr += " base (s) | cur/base |"
    print(hdr)
    print("|---|---|---|" + ("---|---|" if base else ""))
    order = (lambda kv: -kv[1][1] / max(kv[1][2], 1e-9)) if base else (lambda kv: -kv[1][1])
    for f, (n, cu, bs) in sorted(rows.items(), key=order):
        tn += n; tc += cu; tb += bs
        line = f"| {f} | {n} | {cu:.2f} |"
        if base: line += f" {bs:.2f} | {cu/max(bs,1e-9):.2f}x |"
        print(line)
    line = f"| **total** | **{tn}** | **{tc:.2f}** |"
    if base: line += f" **{tb:.2f}** | **{tc/max(tb,1e-9):.2f}x** |"
    print(line)
    if missing: print("unmapped:", missing)
    if base:
        print("\nworst per-query vs base:")
        ratios = sorted(((s / max(base.get(q, 0.0), 1e-9), q, base.get(q, 0.0), s)
                         for q, s in bench.items() if q in base), reverse=True)[:12]
        for r, q, b, s in ratios:
            print(f"  {q}: {b:.2f} -> {s:.2f}  ({r:.1f}x)")

if __name__ == "__main__":
    main()
