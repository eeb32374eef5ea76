"""Print every ``spark.sql`` statement text a perfbench workload sends.

    python3 scripts/sql_texts.py --workload serve_head --seed 3 --seconds 0
    python3 scripts/sql_texts.py --workload serve_novel --seed 3 --seconds 0 --digests

Runs one workload of ``perfbench/workloads.py`` in-process, on the session
``perfbench/run.py`` starts, with ``SparkSession.sql`` wrapped, and prints
one line per call in the order sent: the statement as a JSON string, or
with ``--digests`` its SHA-256.  Each ``SearchService.search`` call is
headed by a comment line, ``# request N: S statements, R doc-store reads,
P process_query calls``, and its ``S`` statements follow it; a doc-store
read is one ``SearchEngine._doc_store`` lookup (the pyarrow point read of
the hits' stored fields).  A change meant to leave the serving path alone
must leave this output unchanged, so run it in both checkouts and diff
the two outputs.  With ``--seconds 0`` the timed window is exactly
``workloads.MIN_REQUESTS`` requests, so both checkouts send the same
requests whatever the host speed.  Nothing under ``perfbench/`` is
changed; the run's files stay under ``.perfbench_work/`` and are removed
at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
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
    # statement texts, each request's counts (a dict) before its statements
    events: list = []
    current: list[dict] = []  # the request being served, if any
    numbers = itertools.count()
    session = type(spark)
    wrapped: list[tuple] = []

    def wrap(owner, name, before):
        original = getattr(owner, name)

        def recording(*a, **kw):
            before(*a)
            return original(*a, **kw)

        wrapped.append((owner, name, original))
        setattr(owner, name, recording)

    def count(key):
        def before(*_a):
            if current:
                current[-1][key] += 1
        return before

    count_statement = count("statements")

    def statement(_self, text, *_a):
        events.append(text)
        count_statement()

    wrap(session, "sql", statement)
    wrap(workloads.service, "process_query", count("process_query"))
    wrap(workloads.pipeline, "process_query", count("process_query"))
    wrap(workloads.executor.SearchEngine, "_doc_store", count("reads"))
    search = workloads.service.SearchService.search

    def request(self, *a, **kw):
        current.append({"n": next(numbers), "statements": 0, "reads": 0, "process_query": 0})
        events.append(current[-1])
        try:
            return search(self, *a, **kw)
        finally:
            current.pop()

    workloads.service.SearchService.search = request
    wrapped.append((workloads.service.SearchService, "search", search))
    try:
        work = run_dir / args.workload
        work.mkdir()
        res = workloads.Bench(spark, args.workload, args.seed, args.seconds, False,
                              workloads.FULL, str(work)).run()
    finally:
        for owner, name, original in reversed(wrapped):
            setattr(owner, name, original)
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    texts = [e for e in events if isinstance(e, str)]
    for e in events:
        if isinstance(e, dict):
            print(f"# request {e['n']}: {e['statements']} statements, {e['reads']} doc-store"
                  f" reads, {e['process_query']} process_query calls")
        else:
            print(hashlib.sha256(e.encode()).hexdigest() if args.digests
                  else json.dumps(e, ensure_ascii=False))
    print(f"# {len(texts)} statements, {res.attempted} timed requests, {res.failed} failed",
          file=sys.stderr)
    return 1 if res.failed else 0


if __name__ == "__main__":
    sys.exit(main())
