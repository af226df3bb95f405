"""Compare two sets of benchmark runs.

Each set is a directory of run records as ``run.py`` writes them under
``.perfbench/runs/``.  Runs are paired by workload, trace mode and seed.
For every workload and metric the table gives each side's median and
quartiles, the share of pairs the change won (ties count for neither)
and a verdict:

- ``improved``: the change won at least 9 in 10 pairs and the medians
  differ by more than the parent's own quartile spread;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound (per-layer metrics, which have none: the parent won
  9 in 10 pairs by more than its spread);
- ``unresolved``: neither; the note says whether the parent's spread is
  wider than the bound, so that "no regression" cannot be read off it.

``error_rate`` (failed / attempted calls) is shown for each side.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

__all__ = ["compare", "load_runs", "verdict"]


def load_runs(path: Path) -> dict[tuple[str, int], dict[int, dict]]:
    """{(workload, trace): {seed: result}} from every record under ``path``."""
    out: dict[tuple[str, int], dict[int, dict]] = defaultdict(dict)
    for f in sorted(path.rglob("*.json")):
        rec = json.loads(f.read_text())
        out[(rec["workload"], rec["trace"])][rec["seed"]] = rec["result"]
    return out


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(
    parent: list[float], change: list[float], better: str, bound: float | None
) -> tuple[str, float, str]:
    """(verdict, share of pairs won by the change, note) for paired runs."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    n = len(parent)
    q1, med_p, q3 = _quartiles(parent)
    med_c = statistics.median(change)
    spread = q3 - q1
    gain = sign * (med_c - med_p)
    if wins >= 0.9 * n and gain > spread:
        return "improved", wins / n, ""
    if bound is None:
        if losses >= 0.9 * n and -gain > spread:
            return "worse", wins / n, ""
        return "unresolved", wins / n, ""
    rel_spread = spread / abs(med_p) if med_p else 0.0
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if rel_spread > bound and not all_better:
        return "unresolved", wins / n, f"spread {rel_spread:.3f} > bound {bound}"
    if -gain > bound * abs(med_p):
        return "worse", wins / n, f"worse by more than bound {bound}"
    return "unresolved", wins / n, f"within bound {bound}"


def compare(spec: dict, parent_dir: Path, change_dir: Path) -> str:
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load_runs(parent_dir), load_runs(change_dir)
    lines = [
        "| workload | trace | metric | unit | parent median [q1, q3] | change median [q1, q3] "
        "| pairs | change won | verdict | note |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    errors = []
    for key in sorted(set(parent) & set(change)):
        workload, trace = key
        seeds = sorted(set(parent[key]) & set(change[key]))
        if not seeds:
            continue
        for side, runs in (("parent", parent[key]), ("change", change[key])):
            att = sum(runs[s]["attempted"] for s in seeds)
            fail = sum(runs[s]["failed"] for s in seeds)
            errors.append(f"{workload} trace={trace} {side}: error_rate {fail / att:.4f} ({fail}/{att})")
        names = [n for n in metrics if n in parent[key][seeds[0]]["metrics"]]
        for name in names:
            m = metrics[name]
            p = [parent[key][s]["metrics"][name]["value"] for s in seeds]
            c = [change[key][s]["metrics"][name]["value"] for s in seeds]
            v, won, note = verdict(p, c, m["better"], m.get("bound"))
            pq, cq = _quartiles(p), _quartiles(c)
            lines.append(
                f"| {workload} | {trace} | {name} | {m['unit']} "
                f"| {pq[1]:.6g} [{pq[0]:.6g}, {pq[2]:.6g}] "
                f"| {cq[1]:.6g} [{cq[0]:.6g}, {cq[2]:.6g}] "
                f"| {len(seeds)} | {won:.2f} | {v} | {note} |"
            )
    return "\n".join(lines + [""] + errors)
