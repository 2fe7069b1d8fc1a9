#!/usr/bin/env python3
"""Diff two perfbench profiles query by query and layer by layer.

    python3 tools/profile_diff.py A/profile.jsonl B/profile.jsonl

perfbench (`python3 perfbench/run.py ... --trace 1`) leaves a
`profile.jsonl` in `.bench_build/runs/<workload>-s<seed>-t<trace>/`, one
JSON row per span. This tool reads two of them (say, a parent commit and
a change on the same workload and seed) and prints, for each layer and
for each query's phases, the jobs, tasks and seconds of arm A, arm B and
B - A.

Each value is the median, over the timed passes, of the per-pass total.
The passes used are the traced timed passes, the only ones the tracer
attributes jobs and tasks to; a profile without traced passes
(`--trace 0`) falls back to all timed passes and shows seconds only.
Layers: `tables` (the direct Tables reads the tracer times before a
traced pass), `construct`, `plan` and `exec` (the query phases).
"""
import json
import statistics
import sys
from collections import defaultdict

LAYERS = ("tables", "construct", "plan", "exec")
METRICS = ("jobs", "tasks", "s")


def load(path):
    """Per-pass totals {(query, layer): {pass: {metric: value}}}, the
    passes used, and whether they are traced."""
    rows = [json.loads(line) for line in open(path) if line.strip()]
    timed = {r["pass"]: r.get("traced", False) for r in rows
             if r["kind"] == "pass" and r["label"] == "timed"}
    traced = any(timed.values())
    passes = sorted(p for p, t in timed.items() if t or not traced)
    cells = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for r in rows:
        if r["kind"] not in ("phase", "tables") or r["pass"] not in passes:
            continue
        key = ("tables:" + r["query"], "tables") if r["kind"] == "tables" \
            else (r["query"], r["phase"])
        cell = cells[key][r["pass"]]
        cell["s"] += r["wall_s"]
        cell["jobs"] += r.get("jobs", 0.0)
        cell["tasks"] += r.get("tasks", 0.0)
    return cells, passes, traced


def summarize(profile, group):
    """Group keys with `group` (None drops a key), total each group per
    pass, and take the median over the passes (a pass in which a group
    never ran counts as zero)."""
    cells, passes, _ = profile
    totals = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for key, by_pass in cells.items():
        g = group(key)
        if g is None:
            continue
        for p, cell in by_pass.items():
            for m in METRICS:
                totals[g][p][m] += cell[m]
    return {g: {m: statistics.median(by_pass[p][m] for p in passes)
                for m in METRICS}
            for g, by_pass in totals.items()}


def fmt(v, metric):
    if v is None:
        return "-"
    return f"{v:.3f}" if metric == "s" else f"{v:.0f}"


def delta(a, b, metric):
    if a is None or b is None:
        return "-"
    d = b - a
    return f"{d:+.3f}" if metric == "s" else f"{d:+.0f}"


def table(title, keys, a, b, metrics):
    width = max([len(title)] + [len(k) for k in keys]) + 2
    head = title.ljust(width) + "".join(
        f"{m + ' A':>10}{m + ' B':>10}{'delta':>10}" for m in metrics)
    print(head)
    print("-" * len(head))
    for k in keys:
        line = k.ljust(width)
        for m in metrics:
            va, vb = a.get(k, {}).get(m), b.get(k, {}).get(m)
            line += f"{fmt(va, m):>10}{fmt(vb, m):>10}{delta(va, vb, m):>10}"
        print(line)
    print()


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: python3 tools/profile_diff.py A/profile.jsonl "
                 "B/profile.jsonl")
    a, b = load(argv[1]), load(argv[2])
    metrics = METRICS if a[2] and b[2] else ("s",)
    print(f"A: {argv[1]}\nB: {argv[2]}")
    print("median per-pass totals over "
          + ("traced timed passes" if metrics == METRICS
             else "timed passes (untraced: seconds only)") + "\n")

    def sides(group):
        return summarize(a, group), summarize(b, group)

    # the tables reads run before the pass, outside it
    pass_row = "pass (construct+plan+exec)"
    la, lb = sides(lambda k: k[1])
    for side, prof in ((la, a), (lb, b)):
        side.update(summarize(
            prof, lambda k: None if k[1] == "tables" else pass_row))
    table("layer", [l for l in LAYERS if l in la or l in lb] + [pass_row],
          la, lb, metrics)

    qa, qb = sides(lambda k: k[0])
    table("query", sorted(set(qa) | set(qb)), qa, qb, metrics)

    pa, pb = sides(lambda k: None if k[1] == "tables" else f"{k[0]} {k[1]}")
    keys = sorted(set(pa) | set(pb),
                  key=lambda k: (k.split()[0], LAYERS.index(k.split()[1])))
    table("query phase", keys, pa, pb, metrics)


if __name__ == "__main__":
    main(sys.argv)
