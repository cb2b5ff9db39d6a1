"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are result files written by ``run.py`` (``--out``, default
``.perfbench/results/``) or directories of them.  Files are grouped by
(workload, trace); a group of several files (several seeds) is reduced to
the median of each metric.  For every group present on both sides the diff
prints

- each end-to-end metric with its bound from BENCHMARK.json, and whether
  NEW is worse than BASE by more than that bound;
- each per-layer metric side by side, with the change (traced results);
- the lazy layers fused into other spans, the session settings that differ
  and the host control timings, so run sets from different hosts show.

Exit status 1 when any end-to-end metric is worse beyond its bound.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def load(path: Path) -> dict[tuple[str, int], list[dict]]:
    files = sorted(path.glob("*.json")) if path.is_dir() else [path]
    groups: dict[tuple[str, int], list[dict]] = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            r = json.load(fh)
        if not isinstance(r, dict) or "workload" not in r:
            continue  # not a run.py result file
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    return groups


def medians(results: list[dict], section: str, value=lambda v: v["value"]) -> dict[str, float]:
    return {
        k: statistics.median(value(r[section][k]) for r in results if k in r[section])
        for k in results[0][section]
    }


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def _change(base: float, new: float) -> str:
    return f"{(new - base) / base:+.1%}" if base else ("=" if new == base else "new")


def compare(base: list[dict], new: list[dict], spec: dict) -> bool:
    """Print one workload's comparison; True when a bound is exceeded."""
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    worse = False
    b, n = medians(base, "end_to_end"), medians(new, "end_to_end")
    print(f"  end to end (base n={len(base)}, new n={len(new)})")
    for name, m in bounds.items():
        if name not in b or name not in n:
            continue
        rel = (n[name] - b[name]) / b[name] if b[name] else 0.0
        bad = rel > m["bound"] if m["better"] == "lower" else -rel > m["bound"]
        worse |= bad
        print(
            f"    {name:<20} {_fmt(b[name]):>12} {_fmt(n[name]):>12} {m['unit']:<6}"
            f" {_change(b[name], n[name]):>8}  bound {m['bound']:.0%} {m['better']}"
            f"{'  WORSE' if bad else ''}"
        )
    if base[0]["trace"]:
        b, n = medians(base, "metrics"), medians(new, "metrics")
        print("  per layer")
        for name in b:
            if b[name] or n.get(name):
                print(
                    f"    {name:<44} {_fmt(b[name]):>12} {_fmt(n.get(name, 0.0)):>12}"
                    f" {_change(b[name], n.get(name, 0.0)):>8}"
                )
        for side, results in (("base", base), ("new", new)):
            print(f"  fused ({side}): {json.dumps(results[0].get('fused', {}))}")
    for key in sorted(set(base[0]["settings"]) | set(new[0]["settings"])):
        if base[0]["settings"].get(key) != new[0]["settings"].get(key):
            print(f"  setting {key}: {base[0]['settings'].get(key)} -> {new[0]['settings'].get(key)}")
    cb, cn = (medians(r, "control", value=float) for r in (base, new))
    print(
        "  host control: "
        + ", ".join(f"{k} {_fmt(cb[k])} -> {_fmt(cn[k])} ({_change(cb[k], cn[k])})" for k in cb)
    )
    return worse


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    base, new = load(Path(argv[0])), load(Path(argv[1]))
    worse = False
    for key in sorted(set(base) & set(new)):
        print(f"{key[0]} (trace {key[1]})")
        worse |= compare(base[key], new[key], spec)
    for key in sorted(set(base) ^ set(new)):
        print(f"{key[0]} (trace {key[1]}): only on one side")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
