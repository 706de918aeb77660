"""Benchmark entry point: one seeded workload in one process on a local Spark
session sized to the machine's cores.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Human-readable lines come first; the last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Everything the run writes lives in a
temporary directory under the checkout that is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "mecab_ko_lucene_analyzer_spark"
DRIVER_MEMORY = "3g"


def start_spark(tmp: Path, cores: int, event_log: Path | None):
    """Launch the session through launch configuration only: the program's
    own ``get_spark`` builds it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # temporary files of this process, the JVMs and the Python workers
    (tmp / "py").mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp / "py")
    tempfile.tempdir = str(tmp / "py")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    # the JVMs keep no hsperfdata file in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    (tmp / "jvm").mkdir()
    confs = {
        "spark.local.dir": tmp / "local",
        "spark.sql.warehouse.dir": tmp / "warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'jvm'} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                # one plain file, not the rolling-log directory Spark 4 writes
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    from mecab_ko_lucene_analyzer_spark.plans import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def event_log(event_dir: Path) -> str:
    logs = list(event_dir.iterdir())
    if len(logs) != 1 or not logs[0].is_file():
        raise RuntimeError(f"expected one event log file in {event_dir}, found {logs}")
    return str(logs[0])


def plans_layers(log: str, ops) -> dict[str, float]:
    from eventlog import METRICS, op_metrics, read_events

    by_kind = op_metrics(read_events(log), ops)
    return {
        f"plans.{kind}.{m}": vals[m] for kind, vals in by_kind.items() for m in METRICS
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"no {PACKAGE} package next to {HERE.name}/: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    specs = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores = len(os.sched_getaffinity(0))
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    event_dir = tmp / "events" if args.trace else None
    shutil.rmtree(tmp, ignore_errors=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(tmp, cores, event_dir)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, tmp, args.seed, args.seconds, bool(args.trace))
        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        wl.setup(ctx)
        ctx.setup_parts["session_s"] = session_s
        setup_s = session_s + time.perf_counter() - t0
        out = wl.run(ctx)
        stop_spark(spark)
        spark = None
        if args.trace:
            log = event_log(event_dir)
            out["layers"].update(plans_layers(log, ctx.ops))
            out["layers"].update(wl.log_layers(log, ctx.ops, out["layers"]))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # still holds another run's directory
            tmp.parent.rmdir()

    out["e2e"]["setup_s"] = setup_s
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"attempted {ctx.attempted} failed {ctx.failed}")
    print(f"  ops_failed_frac {ctx.failed / max(ctx.attempted, 1):.4f}")
    for name, (val, unit, n) in out["named"].items():
        print(f"  {name} {val:.4f} {unit} (n={n})")
    print("  op_seconds " + " ".join(f"{(op.end_ms - op.start_ms) / 1e3:.3f}" for op in ctx.ops[:12]))
    for name, val in sorted(ctx.setup_parts.items()):
        print(f"  setup.{name} {val:.3f} s")
    if args.trace:
        wanted = specs["per_layer"]
        values = out["layers"]
    else:
        wanted = specs["end_to_end"]
        values = out["e2e"]
    # a layer that does no work in this workload reports 0
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
