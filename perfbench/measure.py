"""Statistics, the host calibration probe, answer canonicalisation and the
answer digest shared by every workload."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

from meilisearch_thai_spark.tokenizer import tokenize_for_index

SCORE_DIGITS = 6  # scores are compared and digested rounded to this many places


def quartiles(values: list[float]) -> list[float]:
    """[q1, median, q3] as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) == 1:
        return [values[0]] * 3
    return list(statistics.quantiles(values, n=4))


def tail(values: list[float], n: int) -> tuple[float, float]:
    """The highest percentile that has at least ten samples beyond it in a
    sample of ``n``, as (percentile, value) over ``values`` (at least ``n``
    of them).  Fixing ``n`` fixes the percentile, whatever the number of
    values.  With ``n`` ten or fewer there is no such percentile and the
    maximum is returned as the 100th."""
    s = sorted(values)
    if n <= 10:
        return 100.0, s[-1]
    rank = -(-len(s) * (n - 10) // n)  # ceil(len(s) * pct / 100), in integers
    return 100.0 * (n - 10) / n, s[rank - 1]


def calib_ms() -> float:
    """A fixed pure-Python CPU probe.  The engine is not involved, so drift
    in this number is the host (throttling, noisy neighbours), not the
    code under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000


GATEWAY_THREAD = "pb-gateway"


def _process_tree(pid: int) -> list[int]:
    out = [pid]
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = f.read().split()
        except OSError:
            continue
        for k in kids:
            out += _process_tree(int(k))
    return out


def pin_gateway(sc) -> bool:
    """Put the calling Python thread and the JVM thread that serves its
    Py4J calls on one CPU, and every other thread of the JVM and of the
    Python workers it forked on the other CPUs.  Returns whether it did.

    A request makes about 1300 Py4J round trips, each a hand-off between
    those two threads.  On different vCPUs of a shared VM each hand-off
    waits for an idle vCPU to be woken, and while the host steals CPU time
    that wait grows: on a 4-vCPU VM with 11-16% steal, serve_head latency
    was 640-750 ms unpinned and 300-390 ms pinned.  Call it once, right
    after the session starts: threads the JVM creates later inherit the
    affinity of the thread that creates them."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 2:
        return False
    # the JVM passes a thread's new name on to the OS thread (comm)
    sc._jvm.java.lang.Thread.currentThread().setName(GATEWAY_THREAD)
    threads = []
    try:
        for pid in _process_tree(sc._gateway.proc.pid):
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    threads.append((int(tid), f.read().strip()))
    except OSError:  # no /proc, or a thread ended while listing
        return False
    if [name for _, name in threads].count(GATEWAY_THREAD) != 1:
        return False
    pair, rest = {cpus[0]}, set(cpus[1:])
    for tid, name in threads:
        try:
            os.sched_setaffinity(tid, pair if name == GATEWAY_THREAD else rest)
        except OSError:
            pass  # the thread has ended
    os.sched_setaffinity(0, pair)
    return True


def jvm_roundtrip_ms(jvm, calls: int = 5) -> float:
    """Median of ``calls`` trivial Py4J calls into the driver JVM.  A
    request makes many such round trips, and each waits for a thread on the
    other side to wake: on a host with CPU steal this slows down far more
    than a CPU loop does."""
    times = []
    for _ in range(calls):
        t0 = time.perf_counter()
        jvm.java.lang.System.nanoTime()
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def doc_chars_per_s(texts: list[str], reps: int = 3) -> float:
    """Driver-side ``tokenize_for_index`` throughput over ``texts``, the
    median of ``reps`` passes."""
    chars, rates = sum(map(len, texts)), []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            tokenize_for_index(t)
        rates.append(chars / (time.perf_counter() - t0))
    return statistics.median(rates)


def canon(pairs) -> tuple:
    """(url, score) pairs → order-stable tuple of (url, rounded score)."""
    return tuple(
        sorted(((u, round(float(s), SCORE_DIGITS)) for u, s in pairs), key=lambda x: (-x[1], x[0]))
    )


def response_answer(resp) -> tuple:
    """A ``SearchResponse`` as the exact ranked (url, rounded score) list."""
    return tuple((h.url, round(h.score, SCORE_DIGITS)) for h in resp.hits)


def digest(answers: dict[str, tuple]) -> str:
    """Order-stable digest of {key: answer}: equal for equal results,
    whatever order the answers were produced in."""
    blob = json.dumps(sorted(answers.items()), ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]
