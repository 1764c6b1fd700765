"""Extract-pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload convert_bulk --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the program.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  The exit code is 0 only when every
correctness check passed.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

# Modules of the program, pyspark included, are imported inside functions:
# main() must first point the environment (import path, Spark and temp
# dirs) at the checkout.
ROOT = Path(__file__).resolve().parent.parent
RUN_DIR = ROOT / ".perfbench_run"
SETUPS = 3  # set-ups per untraced run; setup_s is their median


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args, spec) -> int:
    """Every workload in its own process; prints each end-to-end metric."""
    status = 0
    for wl in spec["workloads"]:
        cmd = [sys.executable, __file__, "--workload", wl["name"], "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
        print(f"{wl['name']}: correct={result['correct']} exit={proc.returncode}")
        for name, m in result["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
        status |= proc.returncode != 0 or not result["correct"]
    return int(status)


def start_session(work: Path):
    from extractor_spark.spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def stop_jvm() -> None:
    """Stop the Spark context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(wl, work: Path, times: int, trace: bool):
    """Set up ``times`` times (session start + corpus write + warm-up),
    stopping the previous session first; returns the last session, each
    set-up's times and, when ``trace``, the last warm-up's Python-worker
    boot seconds."""
    from perfbench.sparkstats import StatusReader
    from perfbench.workloads import python_boot_s

    spark, setups, boot_s = None, [], 0.0
    for _ in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        wl.write_inputs(spark)
        t2 = time.perf_counter()
        reader = StatusReader(spark) if trace else None
        mark = reader.mark() if reader else None
        wl.warm(spark)
        t3 = time.perf_counter()
        if reader:
            boot_s = python_boot_s(reader.since(mark))
        setups.append({"total": t3 - t0, "session": t1 - t0, "synth": t2 - t1, "warmup": t3 - t2})
    return spark, setups, boot_s


def run_iterations(wl, spark, seconds: float) -> tuple[list, list[float], list[float]]:
    """The measured iterations with each one's CPU seconds and peak RSS."""
    from perfbench import proctree

    for _ in range(wl.warm_iterations):
        wl.run_once(spark)
    iterations, cpu_s, peak_mb = [], [], []
    # a fixed count per --seconds, so both sides of a comparison time the
    # same work however fast they are
    for _ in range(max(1, round(seconds / wl.nominal_s))):
        pids = proctree.tree_pids()
        proctree.reset_peak_rss(pids)
        cpu0 = proctree.cpu_seconds(pids)
        t = time.perf_counter()
        it = wl.run_once(spark)
        it.seconds = time.perf_counter() - t
        pids = proctree.tree_pids()
        cpu_s.append(proctree.cpu_seconds(pids) - cpu0)
        peak_mb.append(proctree.peak_rss_mb(pids))
        iterations.append(it)
    return iterations, cpu_s, peak_mb


def per_layer(wl, spark, window, iterations, setups, boot_s, facts, out_dir: Path) -> tuple[dict, list[str]]:
    """Per-layer figures of a traced run; writes spans.jsonl and layers.json."""
    from perfbench import spans

    layers = wl.layer_metrics(window, iterations)
    python_s = layers["stages.convert.python_s"] + layers["stages.extract.python_s"]
    wl.replay(spark, wait=True)
    plain_s = wl.replay_wall
    recorder = spans.SpanRecorder()
    with spans.instrumented(recorder):
        problems = wl.replay(spark, recorder, wait=True)
    traced_s = wl.replay_wall
    layers.update(wl.replay_metrics(recorder, python_s))
    own = recorder.self_times()
    layers["trace.overhead_share"] = traced_s / plain_s - 1.0
    layers["trace.coverage"] = sum(v for name, v in own.items() if name not in spans.DOC_SPANS) / traced_s
    layers["session.start_s"] = setups[0]["session"]
    layers["synth.write_s"] = setups[0]["synth"]
    layers["pipeline.warmup_s"] = setups[0]["warmup"]
    layers["stages.python_boot_s"] = boot_s
    for cls in ("transient", "rate_limit", "timeout", "permanent", "validation"):
        layers[f"extract_llm.errors.{cls}"] = facts["errors"].get(cls, 0)
    layers["extract_llm.input_tokens_per_doc"] = facts.get("input_tokens_per_doc", 0.0)
    layers["extract_llm.output_tokens_per_doc"] = facts.get("output_tokens_per_doc", 0.0)
    out_dir.mkdir(parents=True, exist_ok=True)
    recorder.write_jsonl(str(out_dir / "spans.jsonl"))
    with open(out_dir / "layers.json", "w") as f:
        json.dump(
            {
                "workload": wl.name,
                "seed": wl.seed,
                "replay_docs": len(wl.sample),
                "docs_per_iteration": wl.docs,
                "iterations": len(iterations),
                "overhead_share_base_s": python_s,
                "layers": layers,
                "spark_stages": window.stages,
            },
            f,
            indent=1,
        )
    return layers, problems


def measure(args, spec, work: Path) -> tuple[dict, int]:
    from perfbench.sparkstats import StatusReader
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, str(work))
    trace = args.trace == 1
    try:
        # a traced run sets up once: its figures come from that set-up
        spark, setups, boot_s = set_up(wl, work, 1 if trace else SETUPS, trace)
        counts = wl.describe_inputs(spark)
        wl.reader = StatusReader(spark) if trace else None
        mark = wl.reader.mark() if trace else None
        iterations, cpu_s, peak_mb = run_iterations(wl, spark, args.seconds)
        window = wl.reader.since(mark) if trace else None
        facts, problems = wl.check(spark, iterations)
        layers = None
        if trace:
            out_dir = RUN_DIR / "trace" / f"{wl.name}-seed{args.seed}"
            layers, replay_problems = per_layer(wl, spark, window, iterations, setups, boot_s, facts, out_dir)
            problems += replay_problems
            values = {m["name"]: float(layers.get(m["name"], 0.0)) for m in spec["per_layer"]}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            values = {
                "docs_per_s": wl.docs / statistics.median(i.seconds for i in iterations),
                "ok_share": facts["ok_rows"] / facts["output_rows"],
                "cpu_s_per_kdoc": statistics.median(cpu_s) / (wl.docs / 1000.0),
                "peak_rss_mb": statistics.median(peak_mb),
                "setup_s": statistics.median(s["total"] for s in setups),
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        print(
            json.dumps(
                {
                    "workload": wl.name,
                    "seed": args.seed,
                    "trace": args.trace,
                    "input": counts,
                    "iteration_s": [i.seconds for i in iterations],
                    "setups": setups,
                    "checks": facts,
                    "layers": layers,
                    "problems": problems,
                }
            )
        )
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        result = {
            "correct": not problems,
            "attempted": wl.docs * len(iterations),
            "failed": facts["unexpected_failures"] * len(iterations),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
        return result, 0 if not problems else 1
    finally:
        stop_jvm()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "extractor_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no program source (extractor_spark/) under {ROOT}", file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload == "all":
        return run_all(args, spec)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = RUN_DIR / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark's local dirs, the JVM's and Python's temp files (the pipeline's
    # warm-up uses tempfile) and the Python workers' import path all stay
    # inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    try:
        result, status = measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return status


if __name__ == "__main__":
    sys.exit(main())
