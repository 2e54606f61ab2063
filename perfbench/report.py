#!/usr/bin/env python3
"""Turns benchmark artifacts into markdown tables, one row per workload.

    python3 perfbench/report.py [ARTIFACT_DIR_OR_FILES ...]

Reads the JSON artifacts perfbench/run.py leaves in .bench_build/artifacts/
(or the directories/files given). For each workload it prints the median of
each metric over the runs found, with the spread (interquartile range over
median) and the run count; untraced and traced runs get separate tables.
Where a traced run and an untraced run share a workload and seed, a last
table sets the traced run's own end-to-end figures against the untraced
run's: the tracing overhead.
"""
import json
import statistics
import sys
from pathlib import Path


def load(args):
    paths = []
    for a in args or [".bench_build/artifacts"]:
        p = Path(a)
        paths += sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(p.read_text()) for p in paths]


def spread(xs):
    if len(xs) < 2:
        return None
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else None


def fmt(v):
    return f"{v:.4g}" if abs(v) < 1e5 else f"{v:.4e}"


def cell(rs, n):
    xs = [r["metrics"][n]["value"] for r in rs if n in r["metrics"]]
    xs = [x for x in xs if x is not None]
    if not xs:
        return "-"
    s = spread(xs)
    return fmt(statistics.median(xs)) + (f" ±{s:.1%}" if s is not None else "")


def table(runs, title, per_metric_rows):
    """One row per workload, or (for the long per-layer list) per metric."""
    by_wl = {}
    for r in runs:
        by_wl.setdefault(r["workload"], []).append(r)
    wls = sorted(by_wl)
    names = list(dict.fromkeys(n for r in runs for n in r["metrics"]))
    units = {n: r["metrics"][n]["unit"] for r in runs for n in r["metrics"]}
    counts = {wl: f"{len(rs)}" + (f" ({sum(not r['correct'] for r in rs)} incorrect)"
                                   if any(not r["correct"] for r in rs) else "")
              for wl, rs in by_wl.items()}
    out = [f"### {title}", ""]
    if per_metric_rows:
        out += ["| metric | unit | " + " | ".join(f"{wl} ({counts[wl]} runs)" for wl in wls) + " |",
                "|---|---|" + "---|" * len(wls)]
        out += [f"| {n} | {units[n]} | " + " | ".join(cell(by_wl[wl], n) for wl in wls) + " |"
                for n in names]
    else:
        out += ["| workload | runs | " + " | ".join(f"{n} ({units[n]})" for n in names) + " |",
                "|---|---|" + "---|" * len(names)]
        out += [f"| {wl} | {counts[wl]} | " + " | ".join(cell(by_wl[wl], n) for n in names) + " |"
                for wl in wls]
    return "\n".join(out)


def overhead(runs):
    """Traced run's end-to-end figures over the untraced run's, per workload and seed."""
    plain = {(r["workload"], r["seed"]): r for r in runs if not r["trace"]}
    rows = []
    for t in runs:
        u = plain.get((t["workload"], t["seed"]))
        if not t["trace"] or u is None or not t.get("end_to_end"):
            continue
        for n, m in t["end_to_end"].items():
            if n in u["metrics"]:
                v0 = u["metrics"][n]["value"]
                rows.append(f"| {t['workload']} | {t['seed']} | {n} ({m['unit']}) | {fmt(v0)} | "
                            f"{fmt(m['value'])} | {m['value'] / v0 - 1:+.1%} |")
    if not rows:
        return None
    return "\n".join(["### Tracing overhead (traced run against untraced run, same seed)", "",
                      "| workload | seed | metric | untraced | traced | traced/untraced - 1 |",
                      "|---|---|---|---|---|---|"] + rows)


def main():
    runs = load(sys.argv[1:])
    if not runs:
        sys.exit("no artifacts found")
    h = runs[0]["host"]
    loads = [r["host"]["loadavg_start"] for r in runs]
    print(f"Host: nproc {h['nproc']}, {h['jvm']}, GC {h['gc']}, -Xmx{h['xmx']}, Spark {h['spark']}, "
          f"git {h['git_sha'][:12]}, sources {h['source_sha']}; load at start "
          f"{min(loads):.2f}-{max(loads):.2f}. Cells: median over runs ±(IQR/median).")
    print()
    for trace, title in ((False, "End-to-end (untraced runs)"), (True, "Per-layer (traced runs)")):
        rs = [r for r in runs if r["trace"] == trace]
        if rs:
            print(table(rs, title, per_metric_rows=trace))
            print()
    o = overhead(runs)
    if o:
        print(o)
        print()


if __name__ == "__main__":
    main()
