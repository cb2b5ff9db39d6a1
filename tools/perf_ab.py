"""Interleaved A/B of two source trees with the unmodified perfbench.

    python tools/perf_ab.py BEFORE_TREE AFTER_TREE --workload pages_kg --pairs 10
    python tools/perf_ab.py BEFORE_TREE AFTER_TREE --workload pages_kg --pairs 3 --seconds 60

Each tree is a source checkout (the directory that holds
``neo4j_export_tool_spark`` and ``perfbench``).  Pair i runs
``python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`` once
in each tree, one process after the other: odd pairs run BEFORE first, even
pairs AFTER first, so drift of a shared host falls on both sides.  Every run
made is printed, one line per run, with its end-to-end metrics, the median
of its warm ops (``--seconds`` larger than a cold op leaves room for them),
the host control timings and its output digest; then the medians of both
sides, BEFORE's ``op_s`` quartiles, the pairs in which AFTER was faster and
the digests.  Result files go to a temporary directory and are deleted; the
trees are only read (perfbench writes its own ``.perfbench/`` in each).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

METRICS = ("setup_s", "op_s", "throughput_per_s", "peak_rss_mb", "quality")
CONTROLS = ("jobs_s", "jvm_s", "python_s")


def run_once(tree: Path, out: Path, args: argparse.Namespace) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", "0", "--out", str(out),
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if proc.returncode != 0 or not out.exists():
        sys.exit(f"perf_ab: {' '.join(cmd)} in {tree} failed:\n{proc.stderr[-2000:]}")
    with open(out, encoding="utf-8") as f:
        result = json.load(f)
    row = {k: result["end_to_end"][k]["value"] for k in METRICS}
    row["failed"] = result["failed_share"]
    row["warm_op_s_median"] = result["warm_op_s_median"]
    row["warm_ops"] = len(result["ops"]) - 1
    row.update({k: result["control"].get(k) for k in CONTROLS})
    row["digest"] = result["ops"][0].get("digest")
    return row


def fmt_row(side: str, i: int, row: dict) -> str:
    cells = [f"{k} {row[k]:.2f}" for k in METRICS]
    cells.append(f"failed {row['failed']:.2f}")
    if row["warm_op_s_median"] is not None:
        cells.append(f"warm_op_s_median {row['warm_op_s_median']:.2f} ({row['warm_ops']} ops)")
    cells.append("control " + " ".join(f"{k} {row[k]:.2f}" for k in CONTROLS))
    cells.append(f"digest {str(row['digest'])[:8]}")
    return f"{side:<6} pair {i}: " + "  ".join(cells)


def summary(before: list[dict], after: list[dict]) -> list[str]:
    def med(rows, key):
        values = [r[key] for r in rows if r[key] is not None]
        return statistics.median(values) if values else None

    keys = list(METRICS) + ["warm_op_s_median"]
    parts = []
    for k in keys:
        b, a = med(before, k), med(after, k)
        if b is None or a is None:
            continue
        change = f"{(a - b) / b * 100:+.1f}%" if b else "n/a"
        parts.append(f"{k} {b:.2f} -> {a:.2f} ({change})")
    lines = ["medians: " + "  ".join(parts)]
    ops = [r["op_s"] for r in before]
    if len(ops) >= 2:
        q1, _, q3 = statistics.quantiles(ops, n=4, method="inclusive")
        lines.append(f"before op_s quartiles: {q1:.2f} .. {q3:.2f}")
    for k in ("op_s", "warm_op_s_median"):
        pairs = [(b[k], a[k]) for b, a in zip(before, after) if b[k] is not None and a[k] is not None]
        if pairs:
            faster = sum(a < b for b, a in pairs)
            lines.append(f"pairs where after {k} < before: {faster}/{len(pairs)}")
    lines.append(
        "control medians: " + "  ".join(f"{k} {med(before, k):.2f} -> {med(after, k):.2f}" for k in CONTROLS)
    )
    lines.append(
        f"digests: before {sorted({r['digest'] for r in before})} after {sorted({r['digest'] for r in after})}"
    )
    return lines


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("before", type=Path)
    parser.add_argument("after", type=Path)
    parser.add_argument("--workload", required=True)
    parser.add_argument("--pairs", type=int, default=10)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=int, default=1)
    args = parser.parse_args(argv)

    trees = {"before": args.before.resolve(), "after": args.after.resolve()}
    rows: dict[str, list[dict]] = {"before": [], "after": []}
    with tempfile.TemporaryDirectory(prefix="perf_ab-") as tmp:
        for i in range(1, args.pairs + 1):
            order = ("before", "after") if i % 2 else ("after", "before")
            for side in order:
                row = run_once(trees[side], Path(tmp) / f"{side}-{i}.json", args)
                rows[side].append(row)
                print(fmt_row(side, i, row), flush=True)
    print(f"## {args.workload}: {args.pairs} pairs, --seed {args.seed} "
          f"--seconds {args.seconds} --trace 0")
    for side in ("before", "after"):
        for i, row in enumerate(rows[side], 1):
            print(fmt_row(side, i, row))
    for line in summary(rows["before"], rows["after"]):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
