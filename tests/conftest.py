from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from meilisearch_thai_spark.session import build_spark

    s = build_spark(app_name="mst-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def planner_routes(monkeypatch):
    """``spy(engine)`` → the list the engine's serving planner appends
    each planned route to (``"warm"``, or ``"compressed"`` for any other
    route), recorded at its text step (``SearchEngine._ranked_sql``) so the
    federation's branches count too."""
    from contextlib import contextmanager

    def spy(eng):
        routes, planned = [], eng._ranked_sql

        @contextmanager
        def ranked_sql(*args, **kwargs):
            with planned(*args, **kwargs) as (text, route):
                routes.append("warm" if route == "warm" else "compressed")
                yield text, route

        monkeypatch.setattr(eng, "_ranked_sql", ranked_sql)
        return routes

    return spy
