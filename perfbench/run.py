"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The lines above it repeat the figures for people, and
``--steady N`` repeats a workload over N seeds and prints each metric's
spread against the bounds in BENCHMARK.json. perfbench/README.md says
what each workload and metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import types
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"


def declared_metrics(kind: str) -> dict[str, dict]:
    """BENCHMARK.json's ``end_to_end`` or ``per_layer`` metrics, by name."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in bench[kind]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N",
                    help="run the workload on seeds 1..N and print metric spreads")
    return ap.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path, trace: bool) -> None:
    """Keep Spark's and Python's scratch files inside the run's directory
    and, for the traced run, turn on the Spark event log. The settings go
    in through the launcher so ``session.get_spark`` builds the session
    exactly as it does for users."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    # every JVM the launcher starts keeps its scratch files in the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    confs = {"spark.sql.warehouse.dir": str(work / "spark-warehouse")}
    if trace:
        (work / "eventlog").mkdir()
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.compress": "false"})
    args = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def import_program() -> types.SimpleNamespace:
    sys.path.insert(0, str(ROOT))
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import azeroth_data_platform_spark as program
    if not Path(program.__file__).resolve().is_relative_to(ROOT):
        raise ImportError(f"found {program.__file__}, not the checkout's own program")
    from azeroth_data_platform_spark import session
    from azeroth_data_platform_spark.functions import lifecycle
    from azeroth_data_platform_spark.operators import joins, serving, silver
    from azeroth_data_platform_spark.plans import pipeline
    from azeroth_data_platform_spark.sources import merge, readers, rest

    return types.SimpleNamespace(
        F=F, Window=Window, session=session, lifecycle=lifecycle, joins=joins,
        serving=serving, silver=silver, pipeline=pipeline, merge=merge,
        readers=readers, rest=rest)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(args: argparse.Namespace) -> int:
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        program = import_program()
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import Tracer, attribute_jobs, read_event_log

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare_env(work, bool(args.trace))
        cores = cpu_count()
        tracer = Tracer() if args.trace else None
        meter = workloads.CpuMeter()
        t0, cpu0 = time.perf_counter(), meter.sample()
        spark = program.session.get_spark()
        get_spark_s = time.perf_counter() - t0
        try:
            if tracer is not None:
                tracer.attach(spark)
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            meter.watch(jvm_pid)
            ctx = workloads.Ctx(program, spark, str(work), args.seed, args.seconds, cores,
                                meter, cpu0, tracer)
            out = workloads.WORKLOADS[args.workload](ctx)
            out.report["jit_gc_cpu_ms"] = (out.jit_gc_s_per_op * 1e3,
                                           "ms per operation, left out of op_cpu_ms")
            jvm_mb, py_mb = vm_hwm_kb(jvm_pid) / 1024.0, vm_hwm_kb("self") / 1024.0
            rss_mb = jvm_mb + py_mb
            out.report["peak_rss_mb"] = (rss_mb, f"MB, driver JVM {jvm_mb:.0f} + Python {py_mb:.0f}")
            out.report["setup_wall_s"] = (get_spark_s + out.setup_s, "s, get_spark + warehouse")
        finally:
            meter.close()
            if tracer is not None:
                tracer.unwrap_all()
            stop(spark)
        if tracer is not None:
            declared = declared_metrics("per_layer")
            counters = attribute_jobs(read_event_log(str(work / "eventlog")), tracer)
            metrics = workloads.layer_metrics(tracer, counters, cores, len(out.latencies_s))
            ms = sorted(x * 1e3 for x in out.latencies_s)
            metrics.update({
                "session.get_spark_s": get_spark_s,
                "trace.setup_wall_s": get_spark_s + out.setup_s,
                "trace.work_per_s": out.work_per_s,
                "trace.op_p50_ms": workloads.percentile(ms, 50),
                "trace.op_p90_ms": workloads.percentile(ms, 90),
                "trace.op_cpu_ms": out.cpu_s_per_op * 1e3,
                "trace.jit_gc_cpu_ms": out.jit_gc_s_per_op * 1e3,
                "peak_rss_mb": rss_mb,
            })
            undeclared = set(metrics) - set(declared)
            if undeclared:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
            # a layer the workload does not run reads 0
            metrics = {n: metrics.get(n, 0.0) for n in declared}
        else:
            declared = declared_metrics("end_to_end")
            metrics = {
                "setup_s": out.setup_cpu_s,
                "op_cpu_ms": out.cpu_s_per_op * 1e3,
                "stored_bytes_per_bronze_byte": out.stored_bytes_per_bronze_byte,
            }
        units = {n: declared[n]["unit"] for n in metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in out.report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} ops_failed_frac = {out.failed / max(out.attempted, 1):.6g} "
          f"({out.failed} of {out.attempted})")
    for problem in out.problems:
        print(f"CHECK FAILED: {problem}")
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    result = {
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def steady(args: argparse.Namespace) -> int:
    """Run the workload once untimed, on seeds 1..N, then once traced on
    seed 1. Print each end-to-end metric's median, quartile spread (as a
    share of the median) and bound, the same for the unbounded figures the
    runs print for people, and the tracing overhead on seed 1."""
    bounds = {n: m["bound"] for n, m in declared_metrics("end_to_end").items()}

    def one(seed: int, trace: int) -> tuple[dict, dict[str, float]]:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
        lines = subprocess.run(cmd, capture_output=True, text=True,
                               check=True).stdout.strip().splitlines()
        shown = {}
        for line in lines[:-1]:
            words = line.split()
            if len(words) >= 4 and words[0] == args.workload and words[2] == "=":
                shown[words[1]] = float(words[3])
        return json.loads(lines[-1]), shown

    def spread(name: str, values: list[float], bound: float | None) -> None:
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        sp = (q3 - q1) / med if med else 0.0
        if bound is None:
            verdict = "unbounded"
        else:
            verdict = "steady" if sp < bound / 3 else ("within" if sp <= bound else "WIDE")
        print(f"  {name:30s} median {med:12.6g}  spread {sp:7.3%}  "
              f"bound {'-' if bound is None else f'{bound:.0%}'}  {verdict}  "
              f"values {[round(v, 4) for v in values]}")

    one(0, 0)  # untimed: the first run after an idle spell reads slow
    runs = [one(seed, 0) for seed in range(1, args.steady + 1)]
    traced = one(1, 1)[0]
    print(f"{args.workload}: {args.steady} seeds, "
          f"correct={all(r['correct'] for r, _ in runs)}")
    for name, bound in bounds.items():
        spread(name, [r["metrics"][name]["value"] for r, _ in runs], bound)
    for name in runs[0][1]:
        if name not in bounds:
            spread(name, [shown[name] for _, shown in runs], None)
    untraced = runs[0][0]["metrics"]["op_cpu_ms"]["value"]
    with_trace = traced["metrics"]["trace.op_cpu_ms"]["value"]
    print(f"  tracing overhead on seed 1: op_cpu_ms {untraced:.6g} untraced, "
          f"{with_trace:.6g} traced ({with_trace / untraced - 1:+.1%})")
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    return steady(args) if args.steady else run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
