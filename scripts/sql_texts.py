"""Print every ``spark.sql`` statement text a perfbench workload sends.

    python3 scripts/sql_texts.py --workload serve_head --seed 3 --seconds 0
    python3 scripts/sql_texts.py --workload serve_novel --seed 3 --seconds 0 --digests

Runs one workload of ``perfbench/workloads.py`` in-process, on the session
``perfbench/run.py`` starts, with ``SparkSession.sql`` wrapped, and prints
one line per call in the order sent: the statement as a JSON string, or
with ``--digests`` its SHA-256.  A change meant to leave the serving path
alone must leave this output unchanged, so run it in both checkouts and
diff the two outputs.  With ``--seconds 0`` the timed window is exactly
``workloads.MIN_REQUESTS`` requests, so both checkouts send the same
requests whatever the host speed.  Nothing under ``perfbench/`` is
changed; the run's files stay under ``.perfbench_work/`` and are removed
at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--digests", action="store_true", help="print SHA-256 digests, not texts")
    args = p.parse_args(argv)
    sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]
    import run
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")
    run_dir = run.WORK / f"sql-texts-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    spark, _pinned = run.start_spark(run_dir)
    texts: list[str] = []
    session = type(spark)
    sql = session.sql

    def recording(self, sqlQuery, *a, **kw):
        texts.append(sqlQuery)
        return sql(self, sqlQuery, *a, **kw)

    session.sql = recording
    try:
        work = run_dir / args.workload
        work.mkdir()
        res = workloads.Bench(spark, args.workload, args.seed, args.seconds, False,
                              workloads.FULL, str(work)).run()
    finally:
        session.sql = sql
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for t in texts:
        print(hashlib.sha256(t.encode()).hexdigest() if args.digests else json.dumps(t, ensure_ascii=False))
    print(f"# {len(texts)} statements, {res.attempted} timed requests, {res.failed} failed",
          file=sys.stderr)
    return 1 if res.failed else 0


if __name__ == "__main__":
    sys.exit(main())
