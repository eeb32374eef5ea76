"""Health / readiness probes and config hot-reload status — the reference's
ops surface (src/api/endpoints/health.py:21-270 basic / liveness /
readiness / startup / detailed / dependency probes, and
src/api/endpoints/config_management.py:255-337 ``get_hot_reload_status`` /
``trigger_reload``) re-expressed driver-side.

Design stance: the reference's probes check an asyncio service's
dependencies (MeiliSearch reachable, tokenizer loaded, queue depth).  The
Spark analogue's dependencies are (a) a live SparkSession, (b) readable
index directories in a known lifecycle state, and (c) serving engines whose
loaded settings match what is on disk.  Everything here is driver-side
metadata work — ``health_report`` runs zero Spark jobs unless
``with_stats=True`` explicitly asks for per-index document counts (one
exchange-free aggregate per index, the ``index_stats`` contract), so the
probe is cheap enough for a liveness poll loop.
"""

from __future__ import annotations

import os
import time

from .builder import load_meta
from .maintenance import list_indexes
from .settings import TYPO_DEFAULTS, _effective_dictionary_fingerprint


# The settings surface that can drift between an engine's loaded meta and
# the on-disk meta.json (everything updatable without a rebuild).
_RELOADABLE = (
    "synonyms_fingerprint",
    "stopwords_fingerprint",
    "stopwords",
    "typo_tolerance",
    "filterable_attributes",
    "sortable_attributes",
    "custom_dictionary",
)


def _settings_view(meta) -> dict:
    """The comparable projection of a meta (loaded or on-disk): the
    reloadable settings, normalized so absent == default."""
    view = {}
    for k in _RELOADABLE:
        v = getattr(meta, k, None)
        if k == "typo_tolerance":
            v = {**TYPO_DEFAULTS, **(v or {})}
        elif k in ("stopwords", "custom_dictionary"):
            v = sorted(v or [])
        view[k] = v
    return view


def reload_status(engine) -> dict:
    """The reference's ``get_hot_reload_status``: is the live engine's
    loaded configuration current with the on-disk meta.json, and what
    drifted?  ``stale=True`` means a settings update (synonyms, stop-words,
    typo tolerance, declarations, custom dictionary) landed after the
    engine last loaded — call :func:`trigger_reload` (or
    ``engine.refresh_index()``) to pick it up.

    Also surfaces postings-level drift: a dictionary update whose documents
    were not reprocessed yet (effective fingerprint != build fingerprint)
    — reload alone cannot fix that one, so it is reported separately as
    ``documents_stale``.
    """
    disk = load_meta(engine.index_dir)
    loaded_view = _settings_view(engine.meta)
    disk_view = _settings_view(disk)
    drifted = sorted(k for k in _RELOADABLE if loaded_view[k] != disk_view[k])
    return {
        "index_dir": engine.index_dir,
        "stale": bool(drifted),
        "drifted_settings": drifted,
        "documents_stale": _effective_dictionary_fingerprint(
            disk.custom_dictionary or []
        )
        != disk.dictionary_fingerprint,
        "loaded_n_docs": engine.meta.n_docs,
        "disk_n_docs": disk.n_docs,
    }


def trigger_reload(engine) -> dict:
    """The reference's ``trigger_reload``: refresh the engine from disk and
    return the post-reload status (``stale`` is False on success by
    construction)."""
    engine.refresh_index()
    return reload_status(engine)


def _prom_escape(v: str) -> str:
    return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def prometheus_metrics(
    spark,
    root_dir: str,
    engines: dict | None = None,
    services: dict | None = None,
) -> str:
    """The reference's ``GET /metrics`` Prometheus text exposition
    (src/api/endpoints/metrics.py:489-516 — health/system/search-proxy
    gauge families rendered as ``# HELP``/``# TYPE``/sample lines), scoped
    to what a Spark-native engine actually has: per-index document and
    lifecycle gauges, per-engine warm-tier memory, settings staleness and
    plan-cache counters, and per-service query counters/latency sums (Prometheus convention:
    export count + sum, let the scraper compute rates and means).

    Driver-side only — composes :func:`health_report` (without stats) and
    the services' in-memory metric records; no Spark jobs, safe on a
    scrape interval.
    """
    rep = health_report(spark, root_dir, engines=engines, with_stats=False)
    lines: list[str] = []

    def metric(name: str, mtype: str, help_: str, samples: list) -> None:
        lines.append(f"# HELP {name} {help_}")
        lines.append(f"# TYPE {name} {mtype}")
        for labels, value in samples:
            lbl = (
                "{" + ",".join(f'{k}="{_prom_escape(v)}"' for k, v in sorted(labels.items())) + "}"
                if labels
                else ""
            )
            lines.append(f"{name}{lbl} {value}")

    metric(
        "mst_up", "gauge", "1 when the SparkSession answers driver calls",
        [({}, 1 if rep["spark"]["alive"] else 0)],
    )
    metric(
        "mst_index_documents", "gauge", "documents per index (-1: staging)",
        [({"uid": i["uid"]}, i["n_docs"]) for i in rep["indexes"]],
    )
    metric(
        "mst_index_available", "gauge", "1 when the index lifecycle state is servable",
        [({"uid": i["uid"], "state": i["state"]}, 1 if i["state"] == "available" else 0)
         for i in rep["indexes"]],
    )
    eng_samples, stale_samples, mem_samples = [], [], []
    for uid, er in rep["engines"].items():
        stale_samples.append(({"uid": uid}, 1 if er["reload"]["stale"] else 0))
        mem = er["memory"]
        if mem.get("cached_bytes_actual") is not None:
            mem_samples.append(({"uid": uid}, mem["cached_bytes_actual"]))
        eng_samples.append(({"uid": uid}, er["reload"]["loaded_n_docs"]))
    if eng_samples:
        metric("mst_engine_loaded_documents", "gauge",
               "documents in each live engine's loaded meta", eng_samples)
        metric("mst_engine_settings_stale", "gauge",
               "1 when on-disk settings drifted from the loaded engine", stale_samples)
    if mem_samples:
        metric("mst_engine_cached_bytes", "gauge",
               "Spark block-manager bytes cached by the engine", mem_samples)
    # the warm plan cache's serving cases (SearchEngine._warm_entry) and
    # the request memo's lookups (SearchEngine._memoized)
    for name, mtype, key, help_ in (
        ("mst_plan_cache_misses_total", "counter", "plan_cache_misses",
         "warm statements parsed because no plan was cached"),
        ("mst_plan_cache_hits_total", "counter", "plan_cache_hits",
         "warm statements run from a cached parsed plan"),
        ("mst_result_cache_hits_total", "counter", "result_cache_hits",
         "warm pages answered from cached hits, with no Spark job"),
        ("mst_result_cache_rows", "gauge", "result_rows_held",
         "resolved hits the warm plan cache keeps"),
        ("mst_request_memo_hits_total", "counter", "request_memo_hits",
         "processed queries and prepared requests found in the request memo"),
        ("mst_request_memo_misses_total", "counter", "request_memo_misses",
         "processed queries and prepared requests built on a memo miss"),
        ("mst_request_memo_entries", "gauge", "request_memo_entries",
         "entries the request memo holds"),
    ):
        samples = [({"uid": uid}, er["memory"][key]) for uid, er in rep["engines"].items()]
        if samples:
            metric(name, mtype, help_, samples)
    svc_cnt, svc_sum, svc_zero = [], [], []
    for uid, svc in (services or {}).items():
        recs = getattr(svc, "metrics", [])
        svc_cnt.append(({"uid": uid}, len(recs)))
        svc_sum.append(
            ({"uid": uid}, round(sum(float(r.get("search_ms", 0)) for r in recs), 3))
        )
        svc_zero.append(
            ({"uid": uid}, sum(1 for r in recs if not r.get("n_hits")))
        )
    if svc_cnt:
        metric("mst_queries_total", "counter",
               "queries served by each SearchService since start", svc_cnt)
        metric("mst_query_search_ms_sum", "counter",
               "summed search-stage milliseconds (rate/mean via scraper)", svc_sum)
        metric("mst_queries_zero_results_total", "counter",
               "queries that returned no hits", svc_zero)
    return "\n".join(lines) + "\n"


def health_report(
    spark,
    root_dir: str,
    engines: dict | None = None,
    with_stats: bool = False,
) -> dict:
    """One composite probe (reference ``detailed_health_check``):

    - **liveness**: the SparkSession answers a driver-side call
      (``applicationId`` — no job);
    - **readiness**: every index under ``root_dir`` is in a servable
      lifecycle state (``available``), none corrupt / mid-compaction;
    - **engines**: per live engine, the :func:`reload_status` staleness
      check plus the warm tier's memory accounting
      (``warm_memory_report``);
    - **stats** (opt-in, runs Spark jobs): per-available-index
      ``numberOfDocuments`` via the exchange-free ``index_stats``
      aggregate.

    Status rolls up MeiliSearch-style: ``available`` when live and every
    index is servable and no engine is stale; ``degraded`` when live but
    something needs attention; the function raising IS the "dead" signal
    (a health endpoint that cannot even introspect should not fake a
    payload).
    """
    t0 = time.time()
    try:
        app_id = spark.sparkContext.applicationId
        spark_alive = True
    except Exception:  # stopped/broken session — still report, degraded
        app_id, spark_alive = None, False

    indexes = list_indexes(root_dir)
    unavailable = [i for i in indexes if i["state"] != "available"]

    engine_reports = {}
    any_stale = False
    for uid, eng in (engines or {}).items():
        rs = reload_status(eng)
        any_stale = any_stale or rs["stale"]
        engine_reports[uid] = {
            "reload": rs,
            "memory": eng.warm_memory_report(),
        }

    stats = {}
    if with_stats and spark_alive:
        from .settings import index_stats

        for i in indexes:
            if i["state"] == "available":
                stats[i["uid"]] = index_stats(
                    spark, os.path.join(root_dir, i["uid"])
                )

    healthy = spark_alive and not unavailable and not any_stale
    return {
        "status": "available" if healthy else "degraded",
        "spark": {"alive": spark_alive, "application_id": app_id},
        "indexes": indexes,
        "unavailable_indexes": [i["uid"] for i in unavailable],
        "engines": engine_reports,
        "stats": stats,
        "probe_seconds": round(time.time() - t0, 4),
    }
