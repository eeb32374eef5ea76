"""Deterministic corpus sampling for training-data pipelines.

Mixture construction (downsample boilerplate-heavy strata, upweight rare
languages, carve out held-out splits) needs sampling that is (a) exactly
reproducible across runs AND engines, (b) stable under repartitioning, and
(c) pushdown-friendly.  Spark's ``DataFrame.sample`` is none of these (seed
semantics are partition-dependent), so these operators use the standard
HASH-based scheme instead: a row is kept iff the leading 32 bits of
``md5(seed | key)`` fall below ``fraction * 2^32``.  The md5 keyspace makes
the decision a pure function of (seed, key) — the same rows are selected on
any cluster size, any engine (the DuckDB oracle compares the hex prefix as a
string; fixed-width hex compares identically to the number), and any run.
The same trick backs the ANN hyperplane oracle (similarity.py) and the
minhash banding (dedup.py).

A per-row Column expression — zero shuffle, and the predicate sits directly
on the scan, so at 100 TB a 1% sample reads the full input once but
materializes 1% (with column pruning it is the cheapest possible pass).
Splits with different seeds are independent; the SAME seed with nested
fractions gives nested samples (a 1% sample is a subset of the 10% sample —
useful for scaling-law ladders).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 1 << 32  # leading 8 hex digits of md5


def _threshold_hex(fraction: float) -> str:
    """fraction in [0,1] → zero-padded 8-digit hex threshold (row kept iff
    its hash prefix is lexicographically below this).  fraction=1.0 returns
    'g', which sorts above every hex digit → keep all."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * _HASH_SPACE), "08x")


def _keep_expr(key: Column, fraction: float, seed: str) -> Column:
    return (
        F.substring(F.md5(F.concat(F.lit(seed), F.lit("|"), key.cast("string"))), 1, 8)
        < F.lit(_threshold_hex(fraction))
    )


def deterministic_sample(
    docs: DataFrame, id_col: str, fraction: float, seed: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per row by ``md5(seed|id)`` —
    bit-reproducible on any engine/cluster/run, nested across fractions."""
    return docs.filter(_keep_expr(F.col(id_col), fraction, seed))


def stratified_sample(
    docs: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: str = "sample",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum keep fractions (language/quality mixture construction):
    ``fractions[stratum]`` of each stratum survives, strata not listed keep
    ``default_fraction``.  Same hash decision as
    :func:`deterministic_sample`, so the same (seed, id) stays selected when
    a stratum's fraction only grows."""
    hashv = F.substring(
        F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))), 1, 8
    )
    thr = F.lit(_threshold_hex(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col).cast("string") == stratum, F.lit(_threshold_hex(frac))
        ).otherwise(thr)
    return docs.filter(hashv < thr)


def stratified_sample_sql(
    table: str,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: str = "sample",
    default_fraction: float = 0.0,
) -> str:
    """DuckDB twin of :func:`stratified_sample`."""
    cases = " ".join(
        f"WHEN CAST({strata_col} AS VARCHAR) = '{s}' THEN '{_threshold_hex(f)}'"
        for s, f in sorted(fractions.items())
    )
    return f"""
SELECT * FROM {table}
WHERE substring(md5('{seed}' || '|' || CAST({id_col} AS VARCHAR)), 1, 8)
      < CASE {cases} ELSE '{_threshold_hex(default_fraction)}' END
"""


def hash_split(
    docs: DataFrame, id_col: str, splits: dict[str, float], seed: str = "split"
) -> DataFrame:
    """Assign every row to exactly ONE named split (train/val/test carving —
    the held-out-set step of any training-data pipeline): appends a
    ``split`` column.

    ``splits`` maps name → fraction in INSERTION order; fractions must sum
    to 1 (±1e-9).  The row's md5 prefix is compared against the CUMULATIVE
    thresholds, so membership is a pure function of (seed, id): stable
    across runs, engines, cluster sizes, and — because the hash space is
    shared with :func:`deterministic_sample` — a row's split never changes
    when OTHER splits are re-proportioned around it (train can grow by
    eating val without touching test).  Per-row CASE expression: zero
    shuffle, survives scan pushdown when filtered to one split.
    """
    fracs = list(splits.values())
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    if any(f < 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must be >=0 and sum to 1, got {splits}")
    hashv = F.substring(
        F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))), 1, 8
    )
    names = list(splits.keys())
    expr = F.lit(names[-1])  # last split takes the remainder (rounding-safe)
    cum = 0.0
    rules = []
    for name, frac in zip(names[:-1], fracs[:-1]):
        cum += frac
        rules.append((name, _threshold_hex(cum)))
    for name, thr in reversed(rules):
        expr = F.when(hashv < F.lit(thr), F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def token_budget_sample(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    budgets: dict[str, int],
    seed: str = "mix",
) -> DataFrame:
    """Fill per-source TOKEN budgets deterministically — the mixture-
    construction step of a pretraining pipeline (Pile/DoReMi-style: "take
    30 B tokens of web, 3 B of code, 1 B of wiki").

    Documents within a source are ordered by ``md5(seed|id)`` (the repo's
    engine-neutral random order) and taken greedily until the source's
    token budget is filled: a document is kept iff the total tokens of the
    documents BEFORE it (in hash order) is still under the budget, so the
    selection may overshoot by at most one document — the standard greedy
    prefix rule, a pure function of (seed, corpus). Sources not named in
    ``budgets`` are dropped. Token counts follow the repo-wide
    ``textstats.ws_tokens`` convention.

    Returns ``(doc_key, source, n_tokens, tokens_before)`` for kept rows.

    Scale shape (the reason this is not one window per source): a naive
    per-source running sum is a single sorted partition per source — with
    ~5 sources at 100 TB that is 5 tasks doing all the work. Instead the
    rank-key space is pre-split into 256 CONTIGUOUS hash ranges (the first
    two hex digits of the rank key), per-(source, range) token sums are
    aggregated (map-side combined; 256 × n_sources rows), the exact global
    offset of every range is computed on the driver from that tiny table,
    and ranges whose offset already exceeds the budget are pruned before
    any sort happens. The remaining rows get
    ``offset + within-range running sum`` — bit-equal to the global
    per-source cumulative sum (ranges are contiguous in rank order), but
    every window partition is (source, range): 256-way parallel, and at a
    filled budget only ~the straddling range per source ever sorts. The
    DuckDB oracle is the naive global window, so the decomposition itself
    is under the correctness gate.
    """
    from pyspark.sql.window import Window

    if not budgets:
        raise ValueError("budgets must name at least one source")
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for source {s!r} must be >= 0, got {b}")
    from meilisearch_thai_spark.pipeline.textstats import ws_tokens

    spark = docs.sparkSession
    rk = F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string")))
    base = docs.select(
        F.col(id_col).alias("doc_key"),
        F.col(source_col).cast("string").alias("source"),
        F.size(ws_tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        rk.alias("rk"),
    ).filter(F.col("source").isin(list(budgets)))
    base = base.withColumn("rng", F.substring("rk", 1, 2))

    # Phase 1: per-(source, range) token sums — tiny (≤ 256 × n_sources).
    sums = {
        (r["source"], r["rng"]): r["tok"]
        for r in base.groupBy("source", "rng")
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    }
    # Exact global offsets per contiguous range; prune ranges past budget.
    surviving = []  # (source, rng, offset)
    for src in sorted({s for s, _ in sums}):
        off = 0
        for rng in sorted(r for s, r in sums if s == src):
            if off < budgets[src]:
                surviving.append((src, rng, off))
            off += sums[(src, rng)]
    if not surviving:
        return base.select("doc_key", "source", "n_tokens").withColumn(
            "tokens_before", F.lit(0).cast("long")
        ).limit(0)
    offsets = spark.createDataFrame(surviving, ["source", "rng", "offset"])

    # Phase 2: within-range running sum + the broadcast offset.
    w = (
        Window.partitionBy("source", "rng")
        .orderBy("rk", "doc_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    joined = base.join(F.broadcast(offsets), ["source", "rng"])
    before = F.col("offset") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    budget = F.lit(None).cast("long")
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col("source") == s, F.lit(b)).otherwise(budget)
    return (
        joined.withColumn("tokens_before", before.cast("long"))
        .filter(F.col("tokens_before") < budget)
        .select("doc_key", "source", "n_tokens", "tokens_before")
    )


def token_budget_sample_sql(
    table: str,
    id_col: str,
    text_col: str,
    source_col: str,
    budgets: dict[str, int],
    seed: str = "mix",
) -> str:
    """DuckDB twin of :func:`token_budget_sample` — deliberately the NAIVE
    shape (one global per-source window), so the Spark side's contiguous-
    range decomposition is proved equal to the plain running sum."""
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(b)}" for s, b in sorted(budgets.items())
    )
    in_list = ", ".join(f"'{s}'" for s in sorted(budgets))
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_key,
         CAST({source_col} AS VARCHAR) AS source,
         len(list_filter(string_split({text_col}, ' '), x -> x <> ''))::BIGINT AS n_tokens,
         md5('{seed}' || '|' || CAST({id_col} AS VARCHAR)) AS rk
  FROM {table}
  WHERE CAST({source_col} AS VARCHAR) IN ({in_list})
),
c AS (
  SELECT doc_key, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY rk, doc_key
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tokens_before
  FROM t
)
SELECT doc_key, source, n_tokens, tokens_before
FROM c WHERE tokens_before < CASE {cases} END
"""


def hash_split_sql(
    table: str, id_col: str, splits: dict[str, float], seed: str = "split"
) -> str:
    """DuckDB twin of :func:`hash_split`."""
    fracs = list(splits.values())
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    if any(f < 0 for f in fracs) or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must be >=0 and sum to 1, got {splits}")
    names = list(splits.keys())
    cum = 0.0
    whens = []
    for name, frac in zip(names[:-1], fracs[:-1]):
        cum += frac
        whens.append(f"WHEN h < '{_threshold_hex(cum)}' THEN '{name}'")
    return f"""
SELECT * EXCLUDE (h), CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split
FROM (
  SELECT *, substring(md5('{seed}' || '|' || CAST({id_col} AS VARCHAR)), 1, 8) AS h
  FROM {table}
)
"""


def temperature_weights(
    docs: DataFrame, group_col: str, text_col: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-LM standard:
    XLM-R / mT5 sample source i with p_i ∝ n_i^alpha, alpha < 1 flattening
    the natural distribution so tail sources aren't drowned) →
    ``(group, n_docs, n_tokens, natural_bp, temp_bp)``: each source's
    natural token share and its temperature-rescaled sampling share, both
    integer basis points.

    alpha is pinned to 0.5: n^0.5 = sqrt(n) is CORRECTLY-ROUNDED IEEE in
    both the JVM (Math.sqrt) and C libm, so ``floor(1e6 * sqrt(n))`` is
    bit-identical across engines — a general ``pow`` is not (JVM Math.pow
    vs libm pow may differ in the last ulp), so other temperatures would
    break the exact-oracle contract.  Integer arithmetic everywhere else.

    One map-side-combined groupBy bounded by source cardinality plus a
    broadcast of two scalar totals — corpus-size-independent, like
    :func:`meilisearch_thai_spark.pipeline.textstats.source_mixture`.
    """
    if alpha != 0.5:
        raise ValueError("only alpha=0.5 (sqrt) is cross-engine exact")
    from .textstats import ws_tokens

    per = docs.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(ws_tokens(F.col(text_col)))).cast("long").alias("n_tokens"),
    )
    per = per.withColumn(
        "w", F.floor(F.lit(1_000_000.0) * F.sqrt(F.col("n_tokens"))).cast("long")
    )
    tot = per.agg(
        F.sum("n_tokens").cast("long").alias("_tn"),
        F.sum("w").cast("long").alias("_tw"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            F.expr("(10000 * n_tokens) div greatest(_tn, 1)").alias("natural_bp"),
            F.expr("(10000 * w) div greatest(_tw, 1)").alias("temp_bp"),
        )
        .orderBy(group_col)
    )


def temperature_weights_sql(
    table: str, group_col: str, text_col: str, alpha: float = 0.5
) -> str:
    """DuckDB twin of :func:`temperature_weights`."""
    if alpha != 0.5:
        raise ValueError("only alpha=0.5 (sqrt) is cross-engine exact")
    return f"""
WITH per AS (
  SELECT {group_col},
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split({text_col}, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM {table} GROUP BY {group_col}
),
w AS (
  SELECT *, CAST(FLOOR(1000000.0 * sqrt(n_tokens)) AS BIGINT) AS w FROM per
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tn, CAST(SUM(w) AS BIGINT) AS tw FROM w)
SELECT {group_col}, n_docs, n_tokens,
       (10000 * n_tokens) // greatest(tn, 1) AS natural_bp,
       (10000 * w) // greatest(tw, 1) AS temp_bp
FROM w, tot
ORDER BY {group_col}
"""


def shuffle_assign(
    docs: DataFrame, id_col: str, seed: str, n_shards: int
) -> DataFrame:
    """Deterministic global shuffle for training-shard writing: every row
    gets a ``shard`` (uniform by hash) and a ``shuffle_key`` that orders
    rows WITHIN the shard — both pure functions of (seed, id), so the
    assignment is identical on any engine, any parallelism, any run
    (the same engine-independence contract as :func:`deterministic_sample`;
    Spark's own ``orderBy(rand(seed))`` is partitioning-dependent and a
    full global sort besides).

    Writing the shards is ``repartition(n_shards, "shard")`` +
    ``sortWithinPartitions("shuffle_key")`` + ``partitionBy("shard")`` —
    one hash exchange and per-partition local sorts; no global sort ever
    happens, which is the point at 100 TB (a total order across shards is
    unnecessary for SGD — shard + intra-shard order is the industry
    contract for shuffled webtext shards).

    Returns the input plus (shard int, shuffle_key string).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.md5(F.concat(F.lit(seed + "|s|"), F.col(id_col).cast("string")))
    ordk = F.md5(F.concat(F.lit(seed + "|o|"), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")
    return docs.withColumn("shard", shard).withColumn("shuffle_key", ordk)


def shuffle_assign_sql(table: str, id_col: str, seed: str, n_shards: int) -> str:
    """DuckDB twin of :func:`shuffle_assign` (md5 agrees across engines;
    DuckDB lacks conv(), so the 8-hex prefix parses via the '0x' string
    cast — same unsigned 32-bit value as Spark's conv(hex, 16, 10))."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    return f"""
SELECT *,
       CAST(('0x' || substring(md5('{seed}' || '|s|' || CAST({id_col} AS VARCHAR)), 1, 8))::BIGINT % {n_shards} AS INTEGER) AS shard,
       md5('{seed}' || '|o|' || CAST({id_col} AS VARCHAR)) AS shuffle_key
FROM {table}
"""
