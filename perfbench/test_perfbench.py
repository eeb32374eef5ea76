"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The helper tests are pure Python.  ``test_smoke`` runs every workload end to
end in smoke mode (tiny corpora), traced and untraced, with the correctness
gate; it takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
import types
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import measure  # noqa: E402
import workloads  # noqa: E402
from tracing import Span, Tracer, self_ms_by_layer  # noqa: E402

from meilisearch_thai_spark.query.oracle import BM25Oracle  # noqa: E402


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert measure.tail([5.0, 1.0, 3.0], 3) == (100.0, 5.0)
    values = [float(v) for v in range(1, 31)]
    pct, v = measure.tail(values, 30)
    assert v == 20.0 and sum(x > v for x in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    # a fixed n keeps the percentile when there are more values
    pct, v = measure.tail([float(v) for v in range(1, 61)], 30)
    assert pct == pytest.approx(100 * 20 / 30) and v == 40.0


def test_self_time_subtracts_children():
    spans = [
        Span(0, "query.service.search", 1, None, 0.0, 1.0),
        Span(1, "query.pipeline.process_query", 1, 0, 0.1, 0.3),
        Span(2, "tokenizer.tokenize_for_index", 1, 1, 0.1, 0.15),
        Span(3, "query.executor.multi_variant_page", 1, 0, 0.3, 0.9),
    ]
    own = self_ms_by_layer(spans)
    assert own == pytest.approx({
        "query.service": 200.0, "query.pipeline": 150.0, "tokenizer": 50.0, "query.executor": 600.0,
    })
    assert sum(own.values()) == pytest.approx(spans[0].ms)


def test_tracer_records_nesting_and_restores_originals():
    mod = types.SimpleNamespace(inner=lambda x: x + 1)

    class Outer:
        def call(self, x):
            return mod.inner(x) * 2

    original = Outer.call
    tr = Tracer([(Outer, "call", "a.outer"), (mod, "inner", "b.inner")])
    tr.install()
    tr.req = 7
    assert Outer().call(1) == 4
    tr.uninstall()
    assert Outer.call is original
    outer, inner = tr.of(7)
    assert (outer.name, outer.parent, inner.parent) == ("a.outer", None, outer.sid)
    Outer().call(1)
    assert len(tr.spans) == 2  # nothing recorded once uninstalled


def test_novel_stream_keeps_the_shape_mix_and_never_repeats():
    oracle = BM25Oracle({f"u{i}": t for i, t in enumerate(["อาหารไทย อร่อย startup", "การเรียนรู้ ของ เครื่อง ai"])})
    stream = workloads.novel_stream(oracle, np.random.default_rng(3), 3 * len(workloads.NOVEL_SHAPES))
    assert len({frozenset(q.split()) for q, _ in stream}) == len(stream)
    for i, (q, filters) in enumerate(stream):
        n_words, latin, filtered = workloads.NOVEL_SHAPES[i % len(workloads.NOVEL_SHAPES)]
        assert (filters is not None) == filtered
        assert any(w.isascii() for w in q.split()) == latin


def test_head_stream_repeats_one_zipf_block():
    pool = [f"q{i}" for i in range(16)]
    block = workloads.head_block(pool)
    assert len(block) == workloads.MIN_REQUESTS
    assert block.count("q0") > block.count("q1") > block.count("q2") >= 1
    stream = workloads.head_stream(pool, np.random.default_rng(4), 3 * len(block))
    for i in range(0, len(stream), len(block)):
        assert sorted(stream[i : i + len(block)]) == sorted(block)


def test_written_bytes_counts_new_and_rewritten_files(tmp_path):
    (tmp_path / "kept").write_bytes(b"x" * 10)
    (tmp_path / "rewritten").write_bytes(b"y" * 20)
    before = workloads.tree_files(str(tmp_path))
    (tmp_path / "rewritten").unlink()
    (tmp_path / "rewritten").write_bytes(b"z" * 30)
    (tmp_path / "new").write_bytes(b"w" * 5)
    assert workloads.written_bytes(before, workloads.tree_files(str(tmp_path))) == 35


def test_digest_ignores_insertion_order():
    a = {"q1": (("u1", 1.5),), "q2": ()}
    assert measure.digest(a) == measure.digest(dict(reversed(a.items())))
    assert measure.digest(a) != measure.digest({**a, "q2": (("u2", 0.1),)})


def test_benchmark_json_names_known_workloads():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


def run_smoke(trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--smoke", "--workload", "all",
         "--seed", "5", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_smoke():
    """Every workload, untraced then traced, on tiny corpora: answers pass
    the gate, every metric is measured, and both runs of the seed give the
    same answer digest."""
    for f in (ROOT / ".perfbench_work" / "digests").glob("smoke-*-5"):
        f.unlink()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = run_smoke(trace)
        assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
        want = {f"{w}/{m['name']}" for w in workloads.WORKLOADS for m in spec[key]}
        assert set(out["metrics"]) == want
        assert all(isinstance(m["value"], float) for m in out["metrics"].values())
