"""KG-construction benchmark: one workload per process, one local[4] session.

    python3 perfbench/run.py --workload pages_kg --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, in turn

Run from the root of a source checkout (the directory that holds
``neo4j_export_tool_spark``).  The process

1. generates the workload's inputs from ``--seed`` (three times: the
   digests must agree, and for the seeds in ``pins.json`` they must equal
   the pinned SHA-256s, or the run refuses to report);
2. starts one ``local[4]`` session and writes the inputs to parquet;
   everything up to here is ``setup_s``;
3. runs ops in a closed loop with one client, each op starting when the
   previous one and its output check finish, until ``--seconds`` have
   passed (at least one op).  ``op_s`` is the first op: the batch a user
   runs in a fresh session, JIT and code generation included.  Later ops
   are warm; their median is kept in the result file as ``warm_op_s``,
   and their outputs must match the first op's bit for bit;
4. records host control timings, stops Spark and waits for its JVM.

With ``--trace 1`` the ops run under :class:`perfbench.trace.Tracer` and
the printed metrics are the per-layer ones of the first op.  The last
stdout line is one JSON object (``correct``, ``attempted``, ``failed``,
``metrics``); the full result, with every op, the settings and the
controls, is written to ``--out`` (default ``.perfbench/results/``).  All
files the run writes stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
PKG_DIR = ROOT / "neo4j_export_tool_spark"
CPUS = 4
DRIVER_MEM = "2g"
GEN_REPEATS = 3
# an op does not start when it would likely end past this many seconds
# after process start (the run must exit within 180 s)
DEADLINE_S = 150.0


def _median(values):
    return statistics.median(values) if values else 0.0


def _isolate_files(work: Path) -> None:
    """Point every temp, cache and scratch location at ``work`` (inside the
    checkout) before Spark or the package starts."""
    import tempfile

    tmp = work / "tmp"
    home = ROOT / ".perfbench" / "home"  # the zstd codec jar cache survives runs
    for d in (tmp, home):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TMPDIR=str(tmp),
        HOME=str(home),
        SPARK_LOCAL_DIRS=str(tmp),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=str(tmp / "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM (spark-submit's launcher, the driver, javac for the codec
        # jar): no hsperfdata files, temp files inside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _start_session():
    from neo4j_export_tool_spark.session import get_spark

    # a fixed-size heap: no heap resizing between runs of the same input
    return get_spark(
        master=f"local[{CPUS}]",
        app_name="perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}"},
    )


def _stop_session(spark) -> None:
    """Stop Spark, close the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _control_timings(spark) -> dict[str, float]:
    """Host-speed controls that run no package code, measured after the ops:
    many tiny Spark jobs (scheduling and launch), a JVM hash reduction, and
    an Arrow/pandas reduction.  They move only with the host (co-tenants,
    clocks), so run sets whose controls disagree ran on a host of different
    speed.  Each runs three times; the first pass compiles, the figure is
    the faster of the other two."""
    from pyspark.sql import functions as F

    def jobs():
        for _ in range(10):
            spark.range(0, 1000, 1, CPUS).select(F.sum("id")).collect()

    def jvm():
        spark.range(0, 60_000_000, 1, CPUS).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000_007)))
        ).collect()

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            a = b["id"].to_numpy()
            acc = float(np.sqrt(a * 2654435761 % 1000003).sum())
            yield pd.DataFrame({"s": [acc + float(b["s"].str.len().sum())]})

    def python():
        (
            spark.range(0, 600_000, 1, CPUS)
            .select("id", F.format_string("ctl-%d-x", "id").alias("s"))
            .mapInPandas(kernel, schema="s double")
            .groupBy()
            .sum("s")
            .collect()
        )

    out = {}
    for name, fn in (("jobs_s", jobs), ("jvm_s", jvm), ("python_s", python)):
        times = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        out[name] = min(times[1:])
    return out


def _settings(spark) -> dict[str, str]:
    conf = spark.conf
    keys = [
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    ]
    out = {k: conf.get(k, None) for k in keys}
    out["spark.version"] = spark.version
    out["python"] = platform.python_version()
    out["nproc"] = str(os.cpu_count())
    return out


def _load_pins() -> dict:
    with open(HERE / "pins.json", encoding="utf-8") as f:
        return json.load(f)


def _generate(workload, seed: int) -> tuple[dict[str, str], float]:
    """Generate the inputs GEN_REPEATS times; returns the digests and the
    median generation time.  Raises SystemExit on a drifting digest."""
    times, digests = [], []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        digests.append(workload.generate(seed))
        times.append(time.perf_counter() - t)
    if any(d != digests[0] for d in digests):
        sys.exit(f"perfbench: {workload.name} inputs differ between generations of seed {seed}")
    pinned = _load_pins()["digests"].get(workload.name, {}).get(str(seed))
    if pinned is not None and pinned != digests[0]:
        drift = sorted(k for k in pinned if pinned[k] != digests[0].get(k))
        sys.exit(
            f"perfbench: {workload.name} seed {seed} inputs drifted from pins.json: {drift}"
        )
    return digests[0], _median(times)


def pin(seeds: list[int]) -> None:
    """Rewrite pins.json with the digests of every workload at ``seeds``."""
    from perfbench.workloads import WORKLOADS

    pins = _load_pins()
    pins["digests"] = {
        name: {str(s): cls().generate(s) for s in seeds} for name, cls in WORKLOADS.items()
    }
    with open(HERE / "pins.json", "w", encoding="utf-8") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def run(workload_name: str, seed: int, seconds: int, trace: bool, out_path: Path | None) -> int:
    from perfbench.trace import Tracer, TraceError
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[workload_name]()
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    _isolate_files(work)
    digests, gen_s = _generate(workload, seed)

    t = time.perf_counter()
    spark = _start_session()
    session_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        workload.prepare(spark, str(work))
        prepare_s = time.perf_counter() - t

        def plain_force(df, *cols):
            return df.select(*cols).toPandas()

        tracer = Tracer(spark) if trace else None
        ops: list[dict] = []
        layer_runs: list[dict] = []
        rows_out: dict[str, int] = {}

        def one_op(i: int) -> dict:
            nonlocal rows_out
            op_dir = str(work / f"op-{i}")
            rec: dict = {"index": i, "failures": []}
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    tracer.reset()
                    with tracer.installed():
                        result = workload.op(spark, op_dir, tracer.force)
                        rec["op_s"] = time.perf_counter() - t0
                    layer_runs.append(tracer.read_op())
                    if not rows_out:
                        rows_out = tracer.count_rows()
                else:
                    result = workload.op(spark, op_dir, plain_force)
                    rec["op_s"] = time.perf_counter() - t0
                chk = workload.check(spark, result)
                rec.update(
                    units=chk.units, quality=chk.quality, digest=chk.digest, sink_mb=chk.sink_mb
                )
                rec["failures"] = list(chk.failures)
                if ops and "digest" in ops[0] and chk.digest != ops[0]["digest"]:
                    rec["failures"].append("output digest differs from the run's first op")
            except TraceError as exc:
                raise SystemExit(f"perfbench: traced op {i}: {exc}")
            except Exception as exc:  # an op that raises counts as failed
                rec.setdefault("op_s", time.perf_counter() - t0)
                rec["failures"].append(f"{type(exc).__name__}: {exc}")
            finally:
                shutil.rmtree(op_dir, ignore_errors=True)
            return rec

        setup_s = time.perf_counter() - T_START
        t_measure = time.perf_counter()
        while True:
            ops.append(one_op(len(ops)))
            elapsed = time.perf_counter() - t_measure
            if elapsed >= seconds or time.perf_counter() - T_START + 1.5 * ops[-1]["op_s"] > DEADLINE_S:
                break
        measure_s = time.perf_counter() - t_measure

        control = _control_timings(spark)
        settings = _settings(spark)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
    finally:
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in ops if o["failures"])
    first = ops[0]
    op_s = first["op_s"]
    units = first.get("units", 0)
    quality = first.get("quality", {})
    warm = [o["op_s"] for o in ops[1:] if not o["failures"]]

    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_s": (op_s, "s"),
        "throughput_per_s": (units / op_s, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "quality": (min(quality.get(k, 0.0) for k in workload.quality_keys), "ratio"),
    }
    report = end_to_end
    if trace:
        layers = layer_runs[0] if layer_runs else {"layers": {}, "components_rounds": 0, "overhead_s": 0.0}
        report = _per_layer_report(workload, layers, rows_out, session_s, first, quality)
    result = {
        "workload": workload_name,
        "seed": seed,
        "trace": int(trace),
        "seconds": seconds,
        "input_sha256": digests,
        "setup": {
            "session_s": session_s,
            "generate_s_median": gen_s,
            "prepare_s": prepare_s,
        },
        "measure_s": measure_s,
        "ops": ops,
        "warm_op_s_median": _median(warm) if warm else None,
        "failed_share": failed / len(ops),
        "quality": quality,
        "units": {workload.unit_name: units},
        "control": control,
        "settings": settings,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }
    if trace:
        result["fused"] = _fused(layer_runs)
        result["unattributed_s"] = [
            o["op_s"] - lr["top_level_s"] for o, lr in zip(ops, layer_runs)
        ]
        result["trace_overhead_s"] = [lr["overhead_s"] for lr in layer_runs]
    if out_path is None:
        out_path = ROOT / ".perfbench" / "results" / f"{workload_name}-seed{seed}-trace{int(trace)}.json"
    out_path.parent.mkdir(parents=True, exist_ok=True)
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(result, f, indent=1, default=str)

    _print_human(workload, result, failed)
    line = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": result["metrics"],
    }
    print(json.dumps(line), flush=True)
    return 0


def _fused(layer_runs: list[dict]) -> dict[str, list[str]]:
    out: dict[str, set[str]] = {}
    for lr in layer_runs:
        for layer, forcers in lr["fused"].items():
            out.setdefault(layer, set()).update(forcers)
    return {k: sorted(v) for k, v in sorted(out.items())}


def _per_layer_report(workload, layers: dict, rows_out, session_s, op: dict, quality) -> dict:
    """Per-layer metrics of one traced op (``layers`` from Tracer.read_op)."""
    from perfbench.trace import per_layer_names

    names = per_layer_names()
    values: dict[str, float] = {name: 0.0 for name, _ in names}
    for layer, metrics in layers["layers"].items():
        for metric, value in metrics.items():
            values[f"{layer}.{metric}"] = value
    for layer, n in rows_out.items():
        values[f"{layer}.rows_out"] = float(n)
    # the session layer is the get_spark call, made once before any op
    for m in ("wall_s", "self_s", "driver_s"):
        values[f"session.{m}"] = session_s
    values["operators.components.rounds"] = float(layers["components_rounds"])
    values["operators.linking.linked_share"] = quality.get("linked_share", 0.0)
    values["operators.extract.html_mb"] = getattr(workload, "html_mb", 0.0)
    values["sources.jsonl_sink.bytes_mb"] = op.get("sink_mb", 0.0)
    values["trace.overhead_s"] = layers["overhead_s"]
    return {k: (values[k], unit) for k, unit in names}


def _print_human(workload, result, failed) -> None:
    """The workload's end-to-end metrics by name, one per line."""
    name = workload.name
    n = len(result["ops"])
    e2e = {k: v["value"] for k, v in result["end_to_end"].items()}
    lines = [
        ("setup_s", e2e["setup_s"], "s"),
        ("op_s", e2e["op_s"], f"s (first op in a fresh session{', traced' if result['trace'] else ''})"),
        (f"{workload.unit_name}_per_s", e2e["throughput_per_s"], "1/s"),
        ("peak_rss_mb", e2e["peak_rss_mb"], "MB"),
        ("failed_share", failed / n, "ratio"),
    ] + [(k, v, "ratio") for k, v in result["quality"].items()]
    if result["warm_op_s_median"] is not None:
        lines.append(("warm_op_s", result["warm_op_s_median"], f"s (median of {n - 1} later ops)"))
    for key, value, unit in lines:
        print(f"{name}  {key:<22} {value:.6g} {unit}")
    if result["trace"]:
        print(f"{name}  fused lazy layers: {json.dumps(result['fused'])}")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload")
    parser.add_argument("--seed", type=int, default=None)
    parser.add_argument("--seconds", type=int, default=1)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--out", type=Path, default=None)
    parser.add_argument("--pin", action="store_true", help="rewrite pins.json and exit")
    args = parser.parse_args(argv)

    if not (PKG_DIR / "__init__.py").is_file():
        print(f"perfbench: no neo4j_export_tool_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    pins = _load_pins()
    if args.pin:
        pin([pins["default_seed"], pins["held_out_seed"]])
        return 0
    from perfbench.workloads import WORKLOADS

    seed = pins["default_seed"] if args.seed is None else args.seed
    if args.workload == "all":
        # one process per workload, one after the other
        codes = [
            subprocess.run([
                sys.executable, __file__, "--workload", name, "--seed", str(seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
            ]).returncode
            for name in WORKLOADS
        ]
        return max(codes)
    if args.workload not in WORKLOADS:
        parser.error(f"--workload must be 'all' or one of {sorted(WORKLOADS)}")
    return run(args.workload, seed, args.seconds, bool(args.trace), args.out)


if __name__ == "__main__":
    sys.exit(main())
