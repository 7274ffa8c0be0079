"""Benchmark of the KG pipeline and its query surfaces.

One run:

    python3 kgbench/run.py --workload cold_build --seed 1 --seconds 20 \
        --trace 0

Every workload, untraced then traced, with the tracing overhead:

    python3 kgbench/run.py --all --seed 1

The last line of standard output is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``); the lines above it
are a readable report.  The exit code is non-zero when any correctness
check fails.  See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".kgbench"
# the session factory defaults to 16g, the whole of a 15 GB machine
DRIVER_MEM = "2g"
REPORT_TAG = "kgbench-report "


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path) -> None:
    """Everything the run and its children write stays in ``work``; the
    Python workers import the package from the checkout."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def _start_spark(work: Path, cores: int, trace: bool):
    from ferenda_spark.session import get_spark
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "events").mkdir(exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("kgbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and every Python worker to end."""
    from pyspark import SparkContext

    from kgbench.proctree import descendants
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _table(path) -> str:
    return os.path.basename(str(path).rstrip("/"))


def _install_spans(tracer) -> list:
    """Wrap the layers' public callables; returns undo callables."""
    from pyspark.sql import readwriter

    from ferenda_spark import checkpoint, pipeline
    from ferenda_spark.operators import api, sparql
    w = tracer.wrap
    return [
        w(readwriter.DataFrameWriter, "parquet",
          lambda a, k: "write." + _table(a[1]), cpu=True),
        w(readwriter.DataFrameReader, "parquet",
          lambda a, k: "read." + _table(a[1])),
        w(pipeline, "batch_id", "checkpoint.pending_scan", cpu=True),
        w(checkpoint, "read_entries", "checkpoint.read_entries"),
        w(checkpoint, "append_entries", "checkpoint.append_entries",
          cpu=True),
        w(pipeline, "_metrics_total", "commit.metrics_total"),
        w(sparql, "sparql_query", "sparql.compile"),
        w(api, "faceted_query", "api.faceted"),
        w(api, "stats_dataset", "api.stats"),
        w(api, "fulltext_query", "api.fulltext"),
    ]


def _event_jobs(work: Path):
    from kgbench import eventlog
    logs = [p for p in (work / "events").rglob("*") if p.is_file()
            and not p.name.startswith((".", "appstatus"))]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(logs[0]) as f:
        return eventlog.read_jobs(f)


def run_one(args) -> int:
    work = WORK / f"{args.workload}-s{args.seed}-{os.getpid()}"
    _prepare_env(work)
    t_start = time.perf_counter()

    from kgbench import corpus, eventlog, kernel, report, workloads
    from kgbench.proctree import tree_cpu_s
    from kgbench.tracing import Tracer

    trace = bool(args.trace)
    cores = _cores()
    tracer = Tracer(enabled=trace, cpu_clock=tree_cpu_s)
    spark = _start_spark(work, cores, trace)
    undo = _install_spans(tracer) if trace else []
    try:
        env = {"cores": cores, "driver_memory": DRIVER_MEM,
               "shuffle_partitions":
                   spark.conf.get("spark.sql.shuffle.partitions"),
               "spark_version": spark.version,
               "corpus_pages": workloads.N_CORPUS}
        run = workloads.Run(spark, tracer, str(work), args.seed,
                            args.seconds, cores)
        run.session_start = workloads.Cost(time.perf_counter() - t_start,
                                           tree_cpu_s())
        committed = workloads.WORKLOADS[args.workload](run, trace)
        measured = committed[-1]
        kernel_s = (kernel.profile(corpus.corpus_rows(
            args.seed, workloads.KERNEL_SAMPLE)) if trace else None)
    finally:
        for u in undo:
            u()
        _stop_spark(spark)

    e2e = report.end_to_end(run, measured)
    layers, stages = {}, None
    if trace:
        jobs = _event_jobs(work)
        by_span = eventlog.attribute(jobs, tracer.spans)
        totals = eventlog.totals(jobs, run.timed_lo, run.timed_hi)
        layers = report.per_layer(run, measured, kernel_s, by_span, totals)
        stages = report.stage_breakdown(tracer.spans, measured.span)
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        spans = tracer.to_json()
        for s, c in zip(spans, by_span):
            s["spark"] = c["total"]
        with open(trace_dir / f"{args.workload}-seed{args.seed}.json",
                  "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "env": env, "spans": spans}, f)
    shutil.rmtree(work, ignore_errors=True)

    _print_report(args, env, run, e2e, layers, stages)
    bounded = dict(report.END_TO_END)
    metrics = ({k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
               if trace else
               {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()
                if k in bounded})
    print(REPORT_TAG + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": trace,
        "env": env, "e2e": {k: list(v) for k, v in e2e.items()},
        "op_error_rate": run.ops.failed / run.ops.attempted}))
    print(json.dumps({"correct": run.ops.failed == 0,
                      "attempted": run.ops.attempted,
                      "failed": run.ops.failed, "metrics": metrics}))
    return 0 if run.ops.failed == 0 else 1


def _print_report(args, env, run, e2e, layers, stages) -> None:
    from kgbench import report
    print(f"kgbench {args.workload} seed={args.seed} "
          f"trace={args.trace} " + " ".join(f"{k}={v}"
                                             for k, v in env.items()))
    bounded = dict(report.END_TO_END)
    for name, (value, unit, n) in e2e.items():
        tag = "bounded" if name in bounded else ""
        print(f"  {name:26s} {value:14.4f} {unit:8s} n={n:<3d} {tag}")
    print(f"  {'op_error_rate':26s} {run.ops.failed / run.ops.attempted:14.4f}"
          f" {'ratio':8s} n={run.ops.attempted}")
    tail = report.query_tail(run)
    print("  query tail: " + (f"{tail[0]}={tail[1]:.4f} s" if tail else
                              "not reported (fewer than 10 samples beyond "
                              "p90)"))
    for f in run.ops.failures:
        print(f"  FAILED {f}")
    if stages is not None:
        parts, remainder = stages
        print("  stage self times (traced batch):")
        for name, st in sorted(parts.items(), key=lambda kv: -kv[1]):
            print(f"    {name:30s} {st:9.4f} s")
        total = sum(parts.values()) + remainder
        print(f"    {'(untraced remainder)':30s} {remainder:9.4f} s")
        print(f"    {'= traced batch_wall_s':30s} {total:9.4f} s")
        for name, (value, unit) in layers.items():
            if name not in e2e:             # printed above
                print(f"  {name:32s} {value:16.4f} {unit}")


def run_all(args) -> int:
    """Every workload, untraced then traced, same seed; prints each run's
    report and the tracing overhead (traced minus untraced)."""
    from kgbench.workloads import WORKLOADS
    status = 0
    for workload in WORKLOADS:
        got = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()),
                   "--workload", workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                                  cwd=ROOT)
            lines = proc.stdout.splitlines()
            status = status or proc.returncode
            for line in lines[:-1]:
                if line.startswith(REPORT_TAG):
                    got[trace] = json.loads(line[len(REPORT_TAG):])["e2e"]
                else:
                    print(line)
        if len(got) == 2:
            print(f"tracing overhead on {workload} (traced - untraced):")
            for name, (v0, unit, _) in got[0].items():
                v1 = got[1][name][0]
                rel = (v1 - v0) / v0 if v0 else float("nan")
                print(f"  {name:26s} {v1 - v0:+12.4f} {unit:8s} "
                      f"({rel:+.1%})")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["cold_build",
                                           "incremental_commit"])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "ferenda_spark" / "pipeline.py").is_file():
        print(f"kgbench: no ferenda_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    # import the package from the checkout, not this file's directory
    here = ROOT / "kgbench"
    sys.path[:] = [str(ROOT)] + [p for p in sys.path
                                 if Path(p or ".").resolve() != here]
    if args.all:
        return run_all(args)
    if args.workload is None:
        ap.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
