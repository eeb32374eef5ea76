"""P6 — search-request validation (driver-side, plain Python).

Mirrors the reference's request models and executor validation
(src/search_proxy/models/requests.py:51-147;
src/search_proxy/services/search_executor.py:912-983): limit 1-100, offset
≥ 0, crop length 10-1000, matching strategy enum, sort entries
``field:asc|desc``.  Raises ``ValueError`` with the same kind of message the
reference surfaces as HTTP 422.
"""

from __future__ import annotations

from dataclasses import dataclass, field

MATCHING_STRATEGIES = {"all", "last", "frequency", "best"}
_SORTABLE_DIRS = {"asc", "desc"}


@dataclass
class SearchRequest:
    query: str
    limit: int = 10
    offset: int = 0
    crop_length: int = 200
    matching_strategy: str = "best"
    sort: list[str] = field(default_factory=list)
    filters: dict | None = None
    min_score_threshold: float = 0.0
    # reference models/requests.py:16-20: highlight toggle, per-attribute
    # highlighting, and the crop marker string
    highlight: bool = True
    attributes_to_highlight: list[str] = field(default_factory=list)
    crop_marker: str = "..."
    # reference models/requests.py:32 max_query_variants (ge=1, le=10);
    # None = the pipeline default (5)
    max_query_variants: int | None = None


def validate_request(req: SearchRequest) -> SearchRequest:
    """Validate and return the request (raises ValueError on any violation)."""
    if not isinstance(req.query, str):
        raise ValueError("query must be a string")
    if not (1 <= req.limit <= 100):
        raise ValueError(f"limit must be in [1, 100], got {req.limit}")
    if req.offset < 0:
        raise ValueError(f"offset must be >= 0, got {req.offset}")
    if not (10 <= req.crop_length <= 1000):
        raise ValueError(f"crop_length must be in [10, 1000], got {req.crop_length}")
    if req.matching_strategy not in MATCHING_STRATEGIES:
        raise ValueError(
            f"matching_strategy must be one of {sorted(MATCHING_STRATEGIES)}, got {req.matching_strategy!r}"
        )
    for s in req.sort:
        parts = s.split(":")
        if len(parts) != 2 or not parts[0] or parts[1] not in _SORTABLE_DIRS:
            raise ValueError(f"sort entries must be 'field:asc|desc', got {s!r}")
    if not (0.0 <= req.min_score_threshold <= 1.0):
        raise ValueError(f"min_score_threshold must be in [0, 1], got {req.min_score_threshold}")
    if not isinstance(req.crop_marker, str):
        raise ValueError("crop_marker must be a string")
    for a in req.attributes_to_highlight:
        if not isinstance(a, str) or not a:
            raise ValueError(f"attributes_to_highlight entries must be non-empty strings, got {a!r}")
    if req.max_query_variants is not None and not (1 <= req.max_query_variants <= 10):
        raise ValueError(f"max_query_variants must be in [1, 10], got {req.max_query_variants}")
    return req


# P4 — filter translation: the reference turns {"field": {"$gte": 100}} into
# MeiliSearch filter strings (search_executor.py:766-829); here the target is
# Spark SQL text — one definition, used as a Column (``filters_to_column``)
# and spliced into the warm serving statement as-is.
_OPS = {"$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$exists"}
_CMP = {"$eq": "=", "$ne": "!=", "$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}
_GEO_OPS = {"$radius", "$boundingBox"}

# Geo search (MeiliSearch `_geoRadius` / `_geoBoundingBox` filters and
# `_geoPoint` sort).  Documents carry plain ``lat``/``lng`` DOUBLE metadata
# columns (degrees); the reserved request name is ``_geo``, matching
# MeiliSearch's reserved attribute.  The degree→radian factor is a shared
# LITERAL (math.pi/180) rather than each engine's radians() builtin: Java's
# Math.toRadians computes ``x / 180 * PI`` (two roundings) while DuckDB's
# radians() computes ``x * (PI/180)`` — pinning the literal keeps the Spark
# and DuckDB expression trees arithmetically identical.
EARTH_RADIUS_M = 6371000.0
DEG_TO_RAD = 0.017453292519943295  # math.pi / 180, as a pinned double


def sql_str(s: str) -> str:
    """A Spark SQL string literal (the form ``lit(s).expr().sql()`` prints)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(x: float) -> str:
    """A Spark SQL DOUBLE literal: ``repr`` plus the ``D`` suffix, so it
    folds to the same IEEE value ``lit(x)`` holds (a bare ``1.5`` parses as
    DECIMAL)."""
    import math

    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{'NaN' if x != x else '-Infinity' if x < 0 else 'Infinity'}' AS DOUBLE)"


def _sql_ident(name: str) -> str:
    """A column reference with ``F.col``'s reading of ``name`` (dots
    separate nested fields); every part is backquoted."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def _sql_value(v) -> str:
    """A filter value as the SQL literal ``lit(v)`` builds."""
    import numbers

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        return sql_double(v)
    if isinstance(v, str):
        return sql_str(v)
    raise ValueError(f"unsupported filter value {v!r} (strings, numbers, booleans, null)")


def _haversine_sql(lat: float, lng: float, lat_sql: str, lng_sql: str, num) -> str:
    """Haversine distance (meters) from a fixed point to (``lat_sql``,
    ``lng_sql``); ``num`` prints each double literal in the target dialect."""
    d2r = num(DEG_TO_RAD)
    p1 = num(float(lat) * DEG_TO_RAD)
    l1 = num(float(lng) * DEG_TO_RAD)
    sp = f"sin((({lat_sql}) * {d2r} - {p1}) / {num(2.0)})"
    sl = f"sin((({lng_sql}) * {d2r} - {l1}) / {num(2.0)})"
    h = f"{sp} * {sp} + (cos({p1}) * cos(({lat_sql}) * {d2r})) * ({sl} * {sl})"
    return f"{num(2.0 * EARTH_RADIUS_M)} * asin(least({num(1.0)}, sqrt({h})))"


def geo_distance_m(lat: float, lng: float, lat_col: str = "lat", lng_col: str = "lng"):
    """Haversine distance (meters) from a fixed point to each doc's
    (``lat_col``, ``lng_col``) as a pure Column — JVM codegen, no Python.

    The Spark SQL twin of :func:`geo_distance_sql`, term for term, so the
    DuckDB oracle agrees bit-for-bit up to libm's sin/asin ulps (outputs are
    floored to whole meters wherever cross-engine hashes compare)."""
    from pyspark.sql import functions as F

    return F.expr(_haversine_sql(lat, lng, _sql_ident(lat_col), _sql_ident(lng_col), sql_double))


def geo_distance_sql(lat: float, lng: float, lat_sql: str = "lat", lng_sql: str = "lng") -> str:
    """DuckDB twin of :func:`geo_distance_m` — same literals, same order.
    ``lat_sql``/``lng_sql`` may be arbitrary SQL expressions (e.g. the
    deterministic coordinate derivation the driver entries use)."""
    return _haversine_sql(lat, lng, lat_sql, lng_sql, repr)


def _between(col: str, lo: float, hi: float) -> str:
    """``Column.between``'s expansion, as SQL."""
    return f"{col} >= {sql_double(lo)} AND {col} <= {sql_double(hi)}"


def _radius_prefilter(lat: float, lng: float, meters: float) -> str:
    """Conservative bounding box around a `_geoRadius` circle, as plain
    range predicates on lat/lng (driver-side spherical math; Matuschek's
    bounding-coordinates construction).  Guarantees box ⊇ circle:
    Δlat = the angular radius; Δlng = asin(sin t / cos φ) taken at the
    latitude of the RANGE with the smallest cosine (≥ the exact center
    formula, so conservative); a circle containing a pole, or one whose
    asin argument reaches 1, drops the longitude constraint entirely."""
    import math

    t = meters / EARTH_RADIUS_M  # angular radius, radians
    if t >= math.pi:
        return "TRUE"  # the circle covers the sphere
    dlat = math.degrees(t) + 1e-9
    lat_lo, lat_hi = lat - dlat, lat + dlat
    p = _between("`lat`", max(-90.0, lat_lo), min(90.0, lat_hi))
    if lat_lo <= -90.0 or lat_hi >= 90.0 or t >= math.pi / 2:
        return p  # a pole may be inside: every longitude is reachable
    cos_min = min(math.cos(math.radians(lat_lo)), math.cos(math.radians(lat_hi)))
    y = math.sin(t) / cos_min
    if y >= 1.0:
        return p
    dlng = math.degrees(math.asin(y)) + 1e-9
    if dlng >= 180.0:
        return p
    left, right = lng - dlng, lng + dlng
    if left < -180.0:
        return f"{p} AND (`lng` >= {sql_double(left + 360.0)} OR `lng` <= {sql_double(right)})"
    if right > 180.0:
        return f"{p} AND (`lng` >= {sql_double(left)} OR `lng` <= {sql_double(right - 360.0)})"
    return f"{p} AND {_between('`lng`', left, right)}"


def _geo_filter_sql(cond: dict) -> list[str]:
    """``_geo`` filter conditions → predicates over lat/lng metadata.

    ``{"$radius": [lat, lng, meters]}`` — MeiliSearch `_geoRadius`:
    haversine distance ≤ meters.  ``{"$boundingBox": [[lat, lng], [lat,
    lng]]}`` — MeiliSearch `_geoBoundingBox(topRight, bottomLeft)`; a box
    whose left longitude exceeds its right one crosses the antimeridian and
    becomes the OR of the two wrapped ranges, like MeiliSearch."""
    preds = []
    for op, val in cond.items():
        if op not in _GEO_OPS:
            raise ValueError(
                f"unsupported _geo operator {op!r} (allowed {sorted(_GEO_OPS)})"
            )
        if op == "$radius":
            lat, lng, meters = val
            # validate like the sort path does (MeiliSearch 400s on bad geo):
            # beyond the request-error contract, an out-of-range center would
            # break the prefilter's box-superset-of-circle invariant
            if not (-90.0 <= float(lat) <= 90.0 and -180.0 <= float(lng) <= 180.0):
                raise ValueError(f"_geoRadius center out of range: ({lat}, {lng})")
            if float(meters) < 0.0:
                raise ValueError(f"_geoRadius distance must be >= 0, got {meters}")
            # conservative bounding-box PREFILTER before the exact haversine:
            # the trig predicate cannot reach the parquet scan, but the box's
            # plain range comparisons on lat/lng push down to row-group
            # min/max pruning (PushedFilters — the thing that matters at
            # 100 TB; plan-guarded in tests/test_geo.py).  The box is a
            # strict superset of the circle, so AND-ing it never changes the
            # result set.
            box = _radius_prefilter(float(lat), float(lng), float(meters))
            dist = _haversine_sql(lat, lng, "`lat`", "`lng`", sql_double)
            preds.append(f"{box} AND {dist} <= {sql_double(meters)}")
        else:
            (top, right), (bottom, left) = val
            if not (-90.0 <= bottom <= top <= 90.0):
                raise ValueError(f"boundingBox latitudes must satisfy -90 <= bottom <= top <= 90, got {val}")
            if not (-180.0 <= left <= 180.0 and -180.0 <= right <= 180.0):
                raise ValueError(f"boundingBox longitudes must be in [-180, 180], got {val}")
            p = _between("`lat`", bottom, top)
            if left <= right:
                p += f" AND {_between('`lng`', left, right)}"
            else:  # antimeridian crossing
                p += f" AND (`lng` >= {sql_double(left)} OR `lng` <= {sql_double(right)})"
            preds.append(p)
    if not preds:
        raise ValueError("_geo filter requires $radius or $boundingBox")
    return preds


def normalize_declared_name(field: str) -> str:
    """Request-level field → the name a declaration covers: any
    ``_geoPoint(lat, lng)`` sort key and the ``_geo`` filter key are both
    declared as ``_geo`` (MeiliSearch's reserved geo attribute)."""
    return "_geo" if field.startswith("_geoPoint(") else field


def check_declared(fields, declared, kind: str) -> None:
    """Enforce a filterable/sortable declaration when one exists (None =
    undeclared mode, everything allowed — IndexMeta docs).  Shared by the
    search path (SearchEngine) and maintenance (delete_by_filter) so the
    two can never drift on what a declaration allows."""
    if declared is None:
        return
    bad = sorted({normalize_declared_name(f) for f in fields} - set(declared))
    if bad:
        raise ValueError(
            f"{kind} {bad} not declared (settings allow {sorted(declared)}); "
            f"declare them with update_{kind.split()[0]}_attributes"
        )


def filters_to_sql(filters: dict | None) -> str:
    """AND-joined Spark SQL predicate from the reference's filter dict
    syntax (``TRUE`` when empty).  Unsupported operators and values raise
    ``ValueError``; strings are escaped and field names backquoted, so no
    request text reaches the parser unquoted."""
    preds: list[str] = []
    for fld, cond in (filters or {}).items():
        if fld == "_geo":
            if not isinstance(cond, dict):
                raise ValueError("_geo filter must be a {'$radius'|'$boundingBox': ...} dict")
            preds.extend(_geo_filter_sql(cond))
            continue
        col = _sql_ident(fld)
        if not isinstance(cond, dict):
            cond = {"$eq": cond}
        for op, val in cond.items():
            if op not in _OPS:
                raise ValueError(f"unsupported filter operator {op!r}")
            if op == "$in":
                vals = [_sql_value(v) for v in list(val)]
                preds.append(f"{col} IN ({', '.join(vals)})" if vals else "FALSE")
            elif op == "$exists":
                preds.append(f"{col} IS {'NOT ' if val else ''}NULL")
            else:
                preds.append(f"{col} {_CMP[op]} {_sql_value(val)}")
    return " AND ".join(f"({p})" for p in preds) or "TRUE"


def filters_to_column(filters: dict | None):
    """:func:`filters_to_sql` as a Column predicate."""
    from pyspark.sql import functions as F

    return F.expr(filters_to_sql(filters))
