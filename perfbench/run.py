"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 10 --trace 0

Runs one workload of ``workloads.WORKLOADS`` on a session from
``session.build_spark`` (``local[<cpus>]``) and prints, as the last line of
standard output, one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``, ``--trace 1`` its per-layer metrics from a traced run.
The line before it (``perfbench-detail {...}``) carries the latency and host
probe quartiles, the tail percentile with its sample count and the
answer digest; the whole result is also written under
``.perfbench_work/results/``.

``--smoke`` runs on tiny corpora and accepts ``--workload all`` to run every
workload in one session; it exits non-zero when a check fails.  Everything the run writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def start_spark(run_dir: Path):
    import measure
    from meilisearch_thai_spark.session import build_spark

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    spark = build_spark(
        cores=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, measure.pin_gateway(spark.sparkContext)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def check_digest(mode: str, workload: str, seed: int, digest: str) -> bool:
    """The same code and seed must give the same answers: keep the first
    digest seen for (mode, workload, seed) and compare later runs to it."""
    d = WORK / "digests"
    d.mkdir(parents=True, exist_ok=True)
    f = d / f"{mode}-{workload}-{seed}"
    if f.exists():
        return f.read_text() == digest
    f.write_text(digest)
    return True


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import workloads  # imports the engine: fails fast outside a full checkout

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.workload == "all" and args.smoke:
        names = list(workloads.WORKLOADS)
    elif args.workload in workloads.WORKLOADS:
        names = [args.workload]
    else:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")
    mode = "smoke" if args.smoke else "full"
    sizes = workloads.SMOKE if args.smoke else workloads.FULL

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    spark, pinned = start_spark(run_dir)
    try:
        results = []
        for name in names:
            work = run_dir / name
            work.mkdir()
            results.append(workloads.Bench(spark, name, args.seed, args.seconds, bool(args.trace),
                                           sizes, str(work)).run())
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct, metrics = True, {}
    for res in results:
        values = res.layers if args.trace else res.metrics
        prefix = f"{res.workload}/" if len(results) > 1 else ""
        for m in wanted:
            v = values.get(m["name"])
            finite = isinstance(v, (int, float)) and math.isfinite(v)
            if not finite:
                res.failures.append(f"metric {m['name']} not measured")
            metrics[prefix + m["name"]] = {"value": v if finite else None, "unit": m["unit"]}
        if not check_digest(mode, res.workload, args.seed, res.detail["digest"]):
            res.failures.append("answer digest differs from an earlier run of this seed")
        correct &= res.failed == 0 and not res.failures
        res.detail.update(gateway_pinned=pinned, workload=res.workload, seed=args.seed, trace=args.trace, mode=mode,
                          failures=res.failures, metrics=res.metrics, layers=res.layers,
                          process_s=time.perf_counter() - t_start)
        out = WORK / "results" / f"{mode}-{res.workload}-seed{args.seed}-trace{args.trace}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(res.detail, indent=1, ensure_ascii=False))
        print("perfbench-detail " + json.dumps(res.detail, ensure_ascii=False))
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r.attempted for r in results),
        "failed": sum(r.failed for r in results),
        "metrics": metrics,
    }))
    return 1 if args.smoke and not correct else 0


if __name__ == "__main__":
    sys.exit(main())
