"""Large-scale dedup operators for training-data pipelines.

Beyond the reference's result-set dedup (X4-X7), a 100 TB corpus needs
corpus-level dedup.  All hash choices are md5-based so external SQL engines
(DuckDB oracle) can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import spread as _spread

N_MINHASH = 16  # permutations
LSH_BANDS = 4  # 4 rows/band


def exact_duplicates(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    representative (min id) and duplicate count.  Pure hash groupBy —
    map-side combine, no skew beyond true duplicate groups."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("representative"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _shingles(text_col: str, n: int = 3):
    """Word n-gram shingles as a Column (array<string>)."""
    toks = F.split(F.col(text_col), " ")
    # transform over positions: join n consecutive tokens
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def minhash_signatures(docs: DataFrame, id_col: str, text_col: str, n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash over word 3-gram shingles; hash_i(s) = md5(i || "|" || s) (first
    16 hex chars as the orderable value).  Deterministic and reproducible in
    any engine with md5.

    Shape: explode shingles once, then ONE groupBy with n_hashes min()
    aggregates — a single shuffle with map-side partial aggregation.  (The
    alternative, n_hashes array-transform expressions over the shingle array,
    generates pathological codegen and recomputes the shingle split per hash.)
    """
    sh = _spread(docs).select(
        F.col(id_col).alias("doc_key"), F.explode(_shingles(text_col)).alias("sh")
    )
    aggs = [
        F.min(F.substring(F.md5(F.concat(F.lit(str(i) + "|"), F.col("sh"))), 1, 16)).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_key").agg(*aggs)


def _banded_buckets(
    docs: DataFrame, id_col: str, text_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """(doc_key, bucket) rows: md5 band keys over the minhash signature —
    the shared front half of within-corpus and cross-snapshot LSH."""
    sig = minhash_signatures(docs, id_col, text_col, n_hashes)
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    banded = sig.select("doc_key", *band_cols)
    return banded.select(
        "doc_key",
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("bucket"),
    )


def minhash_lsh_candidates(
    docs: DataFrame, id_col: str, text_col: str, n_hashes: int = N_MINHASH, bands: int = LSH_BANDS
) -> DataFrame:
    """Near-dup candidate pairs via banded LSH over the minhash signature.

    band key = md5(concat of the band's rows); pairs sharing any band bucket
    are candidates.  Self-join happens per-bucket (bounded groups), the
    classic scale-out shape — never an O(n²) cross join."""
    stacked = _banded_buckets(docs, id_col, text_col, n_hashes, bands)
    a = stacked.alias("a")
    b2 = stacked.alias("b")
    return (
        a.join(b2, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_key") < F.col("b.doc_key")))
        .select(F.col("a.doc_key").alias("left_key"), F.col("b.doc_key").alias("right_key"))
        .distinct()
    )


def minhash_against_snapshot(
    new_docs: DataFrame,
    snapshot: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Cross-snapshot NEAR-dup candidates: (new_key, snap_key) pairs whose
    minhash signatures share a band bucket — the monthly-crawl fuzzy twin of
    :func:`against_snapshot` (each Common-Crawl dump re-captures most of the
    web with boilerplate drift, so exact digests miss what near-dup catches).

    Shape: both corpora reduce to (doc_key, bucket) band rows independently
    (one shuffle each, the signature groupBy), then ONE bucket-equijoin new
    × snapshot — per-bucket bounded groups, never a cross join; the
    snapshot side ships 16-byte band keys, never text.  At 100 TB keep the
    snapshot's band table MATERIALIZED and bucketed by ``bucket`` so each
    monthly delta joins against it exchange-free (the same
    write-once-join-monthly plan as the exact-digest path).

    Returns distinct (new_key, snap_key) candidate pairs; verify with an
    exact Jaccard pass (``ngram_jaccard_pairs``-style) before dropping."""
    a = _banded_buckets(new_docs, id_col, text_col, n_hashes, bands).alias("a")
    b = _banded_buckets(snapshot, id_col, text_col, n_hashes, bands).alias("b")
    return (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .select(
            F.col("a.doc_key").alias("new_key"),
            F.col("b.doc_key").alias("snap_key"),
        )
        .distinct()
    )


def _banded_chain_sql(
    src: str, id_col: str, text_col: str, n: int,
    n_hashes: int, bands: int, sfx: str = "",
) -> str:
    """The shared banded-LSH CTE chain (toks -> shingles -> signature ->
    bands -> stacked buckets) — the SQL analogue of :func:`_banded_buckets`,
    used by both the within-corpus and cross-snapshot twins so the hash
    derivation can never drift between them.  ``src`` is interpolated after
    FROM verbatim (a table name, or a parenthesized+aliased subquery)."""
    rows_per_band = n_hashes // bands
    mh_cols = ",\n         ".join(
        f"MIN(substring(md5('{i}|' || sh), 1, 16)) AS mh{i}" for i in range(n_hashes)
    )
    band_cols = ",\n         ".join(
        "md5(" + " || '|' || ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band)) + f") AS band{b}"
        for b in range(bands)
    )
    band_list = ", ".join(f"band{b}" for b in range(bands))
    return f"""
toks{sfx} AS (
  SELECT {id_col} AS doc_key, string_split({text_col}, ' ') AS t FROM {src}
),
sh{sfx} AS (
  SELECT DISTINCT doc_key,
         array_to_string(t[i : i + {n - 1}], ' ') AS sh
  FROM toks{sfx}, unnest(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS r(i)
),
sig{sfx} AS (
  SELECT doc_key,
         {mh_cols}
  FROM sh{sfx} GROUP BY 1
),
banded{sfx} AS (
  SELECT doc_key,
         {band_cols}
  FROM sig{sfx}
),
stacked{sfx} AS (
  SELECT doc_key, unnest([{band_list}]) AS bucket FROM banded{sfx}
)"""


def minhash_lsh_candidates_sql(
    table: str, id_col: str, text_col: str, n: int = 3,
    n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
) -> str:
    """DuckDB twin of :func:`minhash_lsh_candidates` (md5-based hashes are
    engine-independent, so even the LSH banding is exactly reproducible)."""
    return f"""
WITH {_banded_chain_sql(table, id_col, text_col, n, n_hashes, bands)}
SELECT DISTINCT a.doc_key AS left_key, b.doc_key AS right_key
FROM stacked a JOIN stacked b ON a.bucket = b.bucket AND a.doc_key < b.doc_key
"""


def minhash_against_snapshot_sql(
    new_sql: str, snap_sql: str, id_col: str, text_col: str, n: int = 3,
    n_hashes: int = N_MINHASH, bands: int = LSH_BANDS,
) -> str:
    """DuckDB twin of :func:`minhash_against_snapshot` (two independent
    banded chains + one bucket equijoin)."""
    chain_n = _banded_chain_sql(f"({new_sql})", id_col, text_col, n, n_hashes, bands, "_n")
    chain_s = _banded_chain_sql(f"({snap_sql})", id_col, text_col, n, n_hashes, bands, "_s")
    return f"""
WITH {chain_n},
{chain_s}
SELECT DISTINCT a.doc_key AS new_key, b.doc_key AS snap_key
FROM stacked_n a JOIN stacked_s b ON a.bucket = b.bucket
"""


def verify_candidate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate-pair table — the
    precision filter production pipelines (Gopher, FineWeb) run after the
    MinHash-LSH recall stage: LSH banding admits false positives by
    design, and keeping them would over-delete.

    Shape: pairs ⋈ per-doc shingle ARRAYS on each side (two hash joins
    bounded by |pairs|, which LSH already made near-linear), then the
    intersection is a per-row ``array_intersect`` fold — no shingle
    self-join, no re-expansion to co-occurrence scale.  Shingle arrays are
    text-sized, so the join payload is ~2× corpus bytes ACROSS THE PAIR
    SET only; at 100 TB pre-bucket both sides by doc key so the pair join
    co-locates without a full text shuffle.

    Returns (left_key, right_key, jaccard, is_dup) for EVERY input pair
    (the caller keeps/filters; a verification stage must report what it
    rejected).  ``jaccard`` rounds to 4 decimals like
    :func:`ngram_jaccard_pairs` — the DuckDB twin matches exactly.
    """
    sh = _spread(docs).select(
        F.col(id_col).alias("doc_key"),
        F.array_distinct(_shingles(text_col, n)).alias("shset"),
    )
    p = pairs.select("left_key", "right_key")
    la, rb = sh.alias("la"), sh.alias("rb")
    joined = (
        p.join(la, F.col("left_key") == F.col("la.doc_key"))
        .join(rb, F.col("right_key") == F.col("rb.doc_key"))
        .select(
            "left_key",
            "right_key",
            F.size(F.array_intersect("la.shset", "rb.shset")).alias("inter"),
            F.size("la.shset").alias("sa"),
            F.size("rb.shset").alias("sb"),
        )
    )
    jac = F.round(
        F.col("inter")
        / F.greatest(F.col("sa") + F.col("sb") - F.col("inter"), F.lit(1)),
        4,
    )
    return joined.select(
        "left_key",
        "right_key",
        jac.alias("jaccard"),
        (jac >= F.lit(float(threshold))).alias("is_dup"),
    )


def verify_candidate_pairs_sql(
    table: str,
    pairs_sql: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`verify_candidate_pairs` (list_distinct +
    list_intersect per pair)."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_key, string_split({text_col}, ' ') AS t FROM {table}
),
sh AS (
  SELECT doc_key,
         list_distinct(list_transform(
             range(1, greatest(len(t) - {n - 1}, 1) + 1),
             i -> array_to_string(t[i : i + {n - 1}], ' '))) AS shset
  FROM toks
),
j AS (
  SELECT p.left_key, p.right_key,
         len(list_intersect(a.shset, b.shset)) AS inter,
         len(a.shset) AS sa, len(b.shset) AS sb
  FROM ({pairs_sql}) p
  JOIN sh a ON p.left_key = a.doc_key
  JOIN sh b ON p.right_key = b.doc_key
)
SELECT left_key, right_key,
       ROUND(inter / greatest(sa + sb - inter, 1), 4) AS jaccard,
       ROUND(inter / greatest(sa + sb - inter, 1), 4) >= {float(threshold)} AS is_dup
FROM j
"""


def winnow_overlap(
    fps: DataFrame, min_shared: int = 2, max_df: int = 20
) -> DataFrame:
    """Substring-overlap candidate pairs from winnowing fingerprints (the
    MOSS report stage, Schleimer et al. 2003 §5): two documents that share
    ``min_shared`` or more distinct selected hashes contain repeated runs —
    the signal MOSS ranks plagiarism matches by, and the rolling-hash
    complement to token-set MinHash for near-dup mining.

    Input is :func:`~meilisearch_thai_spark.pipeline.textstats.
    winnow_fingerprints` output (doc_key, pos, fp).  Fingerprints occurring
    in more than ``max_df`` documents are dropped FIRST (boilerplate hashes
    — the MOSS "too common to be interesting" cut); this is also the scale
    guard: the self-equijoin on fp then fans out at most ``max_df²/2`` pairs
    per fingerprint, so the pair stage is linear in the fingerprint count,
    never all-pairs.  At 100 TB this is one hash-bucket equijoin whose
    payload is (doc_key, fp) — positions and text never ride the shuffle.

    Returns (left_key, right_key, n_shared) with left_key < right_key,
    ordered for the oracle gate.
    """
    d = fps.select("doc_key", "fp").distinct()
    keep = (
        d.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("fp")
    )
    dk = d.join(keep, "fp")
    a, b = dk.alias("a"), dk.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_key") < F.col("b.doc_key")))
        .groupBy(
            F.col("a.doc_key").alias("left_key"),
            F.col("b.doc_key").alias("right_key"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy("left_key", "right_key")
    )


def _lcs_via_suffix_automaton(a: str, b: str) -> str:
    """Longest common substring of two strings — suffix automaton of ``a``
    (Blumer et al. 1985 construction, O(|a|)) walked over ``b`` (O(|b|)).
    Deterministic tie-break: among all maximal-length shared substrings,
    the lexicographically smallest (so engines and test twins agree)."""
    # --- build the suffix automaton of a ---
    # states: link[], length[], trans[] (dict per state)
    length = [0]
    link = [-1]
    trans: list[dict] = [{}]
    last = 0
    for ch in a:
        cur = len(length)
        length.append(length[last] + 1)
        link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(length)
                length.append(length[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # --- walk b, tracking the best match length at each position ---
    v, l = 0, 0
    best = 0
    cands: set[str] = set()
    for i, ch in enumerate(b):
        while v and ch not in trans[v]:
            v = link[v]
            l = length[v]
        if ch in trans[v]:
            v = trans[v][ch]
            l += 1
        else:
            v, l = 0, 0
        if l > best:
            best = l
            cands = {b[i - l + 1 : i + 1]}
        elif l == best and best > 0:
            cands.add(b[i - l + 1 : i + 1])
    return min(cands) if cands else ""


def winnow_align(
    pairs: DataFrame, docs: DataFrame, id_col: str, text_col: str, min_len: int = 20
) -> DataFrame:
    """Exact longest-common-substring extraction for the candidate pairs
    :func:`winnow_overlap` mined — the final MOSS report step, and the
    exact-substring complement to the n-gram span dedup (Lee et al. 2022):
    given ``(left_key, right_key, ...)`` pairs, return each pair's LONGEST
    exact shared substring of the two NORMALIZED texts (the same
    lowercase/whitespace-collapse normalization winnowing fingerprinted, so
    a reported match is exactly what the fingerprints guaranteed exists).
    Pairs whose best run is shorter than ``min_len`` drop out.

    Shape: two |pairs|-bounded hash joins fetch the texts (the corpus never
    self-joins — winnow_overlap already bounded the candidates), then ONE
    Arrow-batched pass runs the linear-time suffix-automaton LCS per pair.
    Deterministic: ties broken to the lexicographically smallest maximal
    substring.  Returns (left_key, right_key, match_len, match_text),
    ordered."""
    import pandas as pd
    from pyspark.sql import types as T

    norm = lambda c: F.trim(F.regexp_replace(F.lower(c), "[ \\t\\n\\r]+", " "))  # noqa: E731
    texts = docs.select(F.col(id_col).alias("_k"), norm(F.col(text_col)).alias("_t"))
    joined = (
        pairs.select("left_key", "right_key")
        .join(texts.withColumnRenamed("_k", "left_key").withColumnRenamed("_t", "_lt"), "left_key")
        .join(texts.withColumnRenamed("_k", "right_key").withColumnRenamed("_t", "_rt"), "right_key")
    )
    schema = T.StructType(
        [
            T.StructField("left_key", T.LongType()),
            T.StructField("right_key", T.LongType()),
            T.StructField("match_len", T.LongType()),
            T.StructField("match_text", T.StringType()),
        ]
    )

    def align(batches):
        for pdf in batches:
            rows = []
            # name=None: plain tuples — namedtuple would positional-rename
            # the underscore-prefixed text columns
            for lk, rk, lt, rt in pdf[["left_key", "right_key", "_lt", "_rt"]].itertuples(
                index=False, name=None
            ):
                m = _lcs_via_suffix_automaton(lt, rt)
                if len(m) >= min_len:
                    rows.append((lk, rk, len(m), m))
            yield pd.DataFrame(rows, columns=["left_key", "right_key", "match_len", "match_text"])

    return (
        joined.select("left_key", "right_key", "_lt", "_rt")
        .mapInPandas(align, schema)
        .orderBy("left_key", "right_key")
    )


def winnow_overlap_sql(
    fps_sql: str, min_shared: int = 2, max_df: int = 20
) -> str:
    """DuckDB twin of :func:`winnow_overlap` over a fingerprint subquery."""
    return f"""
WITH fps AS ({fps_sql}),
d AS (SELECT DISTINCT doc_key, fp FROM fps),
keep AS (SELECT fp FROM d GROUP BY fp HAVING COUNT(*) <= {max_df}),
dk AS (SELECT d.doc_key, d.fp FROM d JOIN keep USING (fp))
SELECT a.doc_key AS left_key, b.doc_key AS right_key,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM dk a JOIN dk b ON a.fp = b.fp AND a.doc_key < b.doc_key
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
ORDER BY left_key, right_key
"""


def simhash64(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word unigrams, md5-derived bit planes.

    For each token t, bits = first 64 bits of md5(t); each bit votes ±1 and
    the sign of the per-bit sum forms the fingerprint.  Expressed as 64
    aggregates over the exploded token table — all JVM-side."""
    toks = _spread(docs).select(
        F.col(id_col).alias("doc_key"), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")  # 60 bits
    toks = toks.withColumn("h", h)
    bit_aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(60)
    ]
    per_doc = toks.groupBy("doc_key").agg(*bit_aggs)
    fp = F.lit(0).cast("long")
    for i in range(60):
        fp = fp + F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_key", fp.alias("simhash"))


def simhash64_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`simhash64` — md5 bit planes are engine-neutral,
    so even the fingerprint is exactly reproducible."""
    bit_aggs = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(60)
    )
    fp = " + ".join(f"CASE WHEN b{i} > 0 THEN {2 ** i}::BIGINT ELSE 0 END" for i in range(60))
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_key, unnest(string_split({text_col}, ' ')) AS tok FROM {table}
),
h AS (
  SELECT doc_key, ('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT AS h
  FROM toks WHERE tok <> ''
),
bits AS (
  SELECT doc_key,
         {bit_aggs}
  FROM h GROUP BY 1
)
SELECT doc_key, {fp} AS simhash FROM bits
"""


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs, computed by
    shingle inverted index (explode + self-join on shingle, groupBy pair) —
    the set-intersection never materializes O(n²) pairs, only co-occurring
    ones.

    Scale note: a shingle shared by m docs contributes m² join rows, so one
    ultra-common 3-gram can dominate the whole job at corpus scale.
    ``max_shingle_df`` drops shingles with document frequency above the cap
    before the join (Zipf-head shingles carry ~no similarity signal, but the
    result becomes a lower-bound approximation — the driver-contract oracle
    runs with the cap off for exactness).  The fully-exact alternative at
    scale is PPJoin-style prefix filtering; the LSH path
    (:func:`minhash_lsh_candidates`) is the default recommendation there."""
    docs = _spread(docs)
    sh = docs.select(F.col(id_col).alias("doc_key"), F.explode(_shingles(text_col, n)).alias("sh"))
    if max_shingle_df is not None:
        rare = sh.groupBy("sh").agg(F.count("*").alias("_df")).filter(
            F.col("_df") <= max_shingle_df
        )
        sh = sh.join(rare.select("sh"), "sh")
        # capped shingle sets are per-doc subsets: sizes must count the
        # SURVIVING shingles, so aggregate the joined stream
        sizes = sh.groupBy("doc_key").agg(F.count("*").alias("sz"))
    else:
        # |shingle set| falls out of the array before any explode — a narrow
        # projection instead of a groupBy SHUFFLE over every exploded row
        sizes = docs.select(
            F.col(id_col).alias("doc_key"),
            F.size(_shingles(text_col, n)).alias("sz"),
        )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_key") < F.col("b.doc_key")))
        .groupBy(F.col("a.doc_key").alias("left_key"), F.col("b.doc_key").alias("right_key"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("left_key") == F.col("sa.doc_key"))
        .join(sb, F.col("right_key") == F.col("sb.doc_key"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_key", "right_key", "jaccard")
    )


def ngram_jaccard_pairs_sql(table: str, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5) -> str:
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_key, string_split({text_col}, ' ') AS t FROM {table}
),
sh AS (
  SELECT DISTINCT doc_key,
         array_to_string(t[i : i + {n - 1}], ' ') AS sh
  FROM toks, unnest(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS r(i)
),
sizes AS (SELECT doc_key, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_key AS left_key, b.doc_key AS right_key, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_key < b.doc_key
  GROUP BY 1, 2
)
SELECT left_key, right_key,
       ROUND(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON left_key = sa.doc_key
JOIN sizes sb ON right_key = sb.doc_key
WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= {threshold}
"""


def duplicate_spans(
    docs: DataFrame, id_col: str, text_col: str, n: int = 5, min_df: int = 2
) -> DataFrame:
    """Span-level exact-duplicate signals (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": repeated >=N-token spans
    across documents are memorization fuel even when whole-doc dedup passes)
    → (doc_key, n_spans, n_dup_spans, dup_span_bp).

    A span = n consecutive whitespace tokens (sliding, stride 1); a span is
    duplicated when it occurs in >= min_df distinct documents.  Fractions in
    integer basis points (bit-stable across engines).

    Scale notes: the suffix-array of the paper is replaced by the
    shuffle-native shape — distinct (doc, span-hash) pairs, one groupBy df
    with map-side combine, flagged set joined back.  At 100 TB hash spans
    (xxhash64) instead of carrying strings, raise the stride to n (tumbling
    windows, 1/n the rows — catches any duplicate run >= 2n-1 tokens), and
    cap per-span df counting with an early limit like max_shingle_df in
    :func:`ngram_jaccard_pairs`.
    """
    base = docs.select(
        F.col(id_col).alias("doc_key"),
        F.filter(F.split(F.col(text_col), " |\n"), lambda t: t != "").alias("ws"),
    )
    spans_arr = F.expr(
        f"filter(transform(ws, (x, i) -> if(i + {n} <= size(ws),"
        f" array_join(slice(ws, i + 1, {n}), ' '), null)), w -> w is not null)"
    )
    per_doc = base.select("doc_key", spans_arr.alias("spans"))
    pairs = per_doc.select(
        "doc_key", F.explode_outer("spans").alias("span")
    ).dropDuplicates(["doc_key", "span"])
    flagged = (
        pairs.filter(F.col("span").isNotNull())
        .groupBy("span")
        .agg(F.countDistinct("doc_key").alias("span_df"))
        .filter(F.col("span_df") >= min_df)
        .select("span")
        .withColumn("_dup", F.lit(1))
    )
    tagged = pairs.join(F.broadcast(flagged), "span", "left")
    return tagged.groupBy("doc_key").agg(
        F.sum(F.when(F.col("span").isNotNull(), 1).otherwise(0)).cast("long").alias("n_spans"),
        F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).cast("long").alias("n_dup_spans"),
        F.expr(
            "(10000 * sum(case when _dup is not null then 1 else 0 end))"
            " div greatest(sum(case when span is not null then 1 else 0 end), 1)"
        ).alias("dup_span_bp"),
    )


def duplicate_spans_sql(
    table: str, id_col: str, text_col: str, n: int = 5, min_df: int = 2
) -> str:
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_key,
         list_filter(regexp_split_to_array({text_col}, ' |' || chr(10)), x -> x <> '') AS ws
  FROM {table}
),
w AS (
  SELECT doc_key, unnest(generate_series(1, len(ws) - {n} + 1)) AS i, ws
  FROM base WHERE len(ws) >= {n}
),
pairs AS (
  SELECT DISTINCT doc_key, array_to_string(list_slice(ws, i, i + {n} - 1), ' ') AS span
  FROM w
),
flagged AS (
  SELECT span FROM pairs GROUP BY 1 HAVING COUNT(DISTINCT doc_key) >= {min_df}
),
tagged AS (
  SELECT p.doc_key, p.span, (f.span IS NOT NULL) AS dup
  FROM pairs p LEFT JOIN flagged f USING (span)
),
agg AS (
  SELECT doc_key,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         ((10000 * SUM(CASE WHEN dup THEN 1 ELSE 0 END)) // greatest(COUNT(*), 1))::BIGINT AS dup_span_bp
  FROM tagged GROUP BY 1
)
SELECT b.doc_key,
       COALESCE(a.n_spans, 0) AS n_spans,
       COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(a.dup_span_bp, 0) AS dup_span_bp
FROM base b LEFT JOIN agg a USING (doc_key)
"""


def connected_components(
    pairs: DataFrame,
    left: str = "left_key",
    right: str = "right_key",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve candidate duplicate PAIRS into duplicate CLUSTERS: for every
    node appearing in ``pairs``, the minimum reachable node id as its
    ``component`` label — the step that turns LSH candidate pairs into "keep
    one document per cluster" decisions, which pairwise output alone cannot
    express (A~B, B~C must collapse to ONE cluster {A,B,C}).

    Min-label propagation: each round, every node takes the minimum label
    among itself and its neighbours (one groupBy shuffle per round), stopping
    when a round changes nothing.  Rounds needed = graph diameter; dedup
    graphs from banded LSH are near-cliques per bucket (diameter 2-3), so
    this converges in a handful of rounds even at corpus scale — the same
    observation that makes alternating large-star/small-star (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond") O(log n) in the
    worst case.

    Every round ``localCheckpoint``s the label frame: iterative plans grow
    EXPONENTIALLY without lineage truncation (each round references the
    previous plan twice — propagation and convergence check) and OOM the
    driver on optimizer state within ~8 rounds; checkpointing keeps every
    round's plan constant-size.  At 100 TB use a reliable checkpoint dir
    (``sparkContext.setCheckpointDir`` + ``.checkpoint()``) so a lost
    executor cannot orphan round state, and pre-size the shuffle to the edge
    count.

    Returns (node, component), component = min node id of the cluster.
    """
    e = pairs.select(F.col(left).alias("u"), F.col(right).alias("v"))
    e = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = e.select("u").distinct().withColumn("component", F.col("u")).localCheckpoint()
    converged = False
    for _ in range(max_iter):
        neigh = e.join(
            labels.withColumnRenamed("u", "v"), "v"
        ).select("u", "component")
        new = (
            labels.select("u", "component")
            .union(neigh)
            .groupBy("u")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("component", "prev"), "u")
            .filter(F.col("component") != F.col("prev"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            converged = True
            break
    e.unpersist()
    if not converged:
        # returning the intermediate labels would SILENTLY split clusters
        # (keep-one-per-cluster would then keep several copies) — crash loud
        # instead; pathological diameters want a larger max_iter or a
        # pointer-doubling/large-star variant
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (graph diameter exceeds the round budget); raise "
            "max_iter — labels at this point would be wrong, not approximate"
        )
    return labels.select(F.col("u").alias("node"), "component")


def connected_components_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`connected_components`: exact transitive closure
    via a recursive CTE over the same pair set (oracle-scale only — the
    closure is O(V*E); the Spark side's label propagation is the scale
    path)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT left_key AS u, right_key AS v FROM pairs
  UNION
  SELECT right_key AS u, left_key AS v FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
)
SELECT u AS node, MIN(r) AS component FROM reach GROUP BY 1
"""


def against_snapshot(
    new_docs: DataFrame, snapshot: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental dedup: drop new documents whose text already exists in a
    prior corpus SNAPSHOT (the monthly-crawl shape: each Common-Crawl dump
    re-captures most of the web, so a pipeline deduplicates the new dump
    against everything already ingested, not just within itself).

    Digest-level LEFT ANTI join on ``md5(text)``: the snapshot side reduces
    to its DISTINCT digests first (one narrow projection + the join's own
    exchange — never the snapshot's text bytes), so the shuffle carries
    16-byte keys.  At 100 TB the snapshot digest set is still huge; the
    standard upgrades, in order: (a) AQE broadcasts it when it fits
    (< ~8 GB as a compact digest column), (b) bucket BOTH corpora by digest
    at write time so the anti-join is exchange-free, (c) a Bloom filter
    over snapshot digests broadcast as a pre-filter (false positives drop
    ~p of genuinely-new docs — acceptable for TRAINING dedup, never for
    serving; Spark's own runtime-filter machinery
    [spark.sql.optimizer.runtime.bloomFilter.enabled] injects exactly this
    when statistics justify it).  Exact-equality variant of the
    cross-snapshot MinHash path (near-dup across dumps = minhash_signatures
    on both + band-bucket join, same shape as within-corpus LSH).

    Returns the surviving new rows unchanged.
    """
    digest = F.md5(F.col(text_col))
    seen = snapshot.select(digest.alias("_digest")).distinct()
    return (
        new_docs.withColumn("_digest", digest)
        .join(seen, "_digest", "left_anti")
        .drop("_digest")
    )


def against_snapshot_sql(new_sql: str, snapshot_sql: str, text_col: str) -> str:
    """DuckDB twin of :func:`against_snapshot`."""
    return f"""
WITH new_docs AS ({new_sql}), snap AS ({snapshot_sql})
SELECT * FROM new_docs n
WHERE NOT EXISTS (
  SELECT 1 FROM snap s WHERE md5(s.{text_col}) = md5(n.{text_col})
)
"""


def keep_best_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """End-to-end fuzzy dedup decision: candidate pairs → duplicate clusters
    (:func:`connected_components`) → ONE canonical document per cluster.

    This is the step production pipelines (C4, Gopher, Dolma, FineWeb) run
    after MinHash/LSH: picking WHICH near-duplicate survives.  Canonical =
    the longest text (most content preserved), ties broken by smallest id —
    a deterministic total order both engines reproduce exactly.

    Shape: the cluster labels join back to the docs on the id (projection to
    (id, length) happens BEFORE the join, so document text never rides the
    shuffle), then one window per ``component`` ranks members.  Cluster
    sizes from banded LSH are tiny (near-clique buckets), so the per-cluster
    window never skews; the heavy lifting stays in the pair generation and
    the label propagation, both already bucketed.

    Returns (component, kept_key, kept_len, n_members), one row per cluster
    of size ≥ 2 — singleton documents never appear in ``pairs`` and are
    implicitly kept.
    """
    from pyspark.sql.window import Window

    comp = connected_components(pairs)
    members = comp.join(
        docs.select(
            F.col(id_col).alias("node"),
            F.length(text_col).cast("long").alias("_len"),
        ),
        "node",
    )
    w = Window.partitionBy("component").orderBy(F.desc("_len"), F.asc("node"))
    wc = Window.partitionBy("component")
    return (
        members.withColumn("n_members", F.count("*").over(wc))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col("node").alias("kept_key"),
            F.col("_len").alias("kept_len"),
            F.col("n_members"),
        )
    )


def keep_best_per_cluster_sql(pairs_sql: str, table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`keep_best_per_cluster`: exact transitive
    closure (:func:`connected_components_sql`) + the same
    (length DESC, id ASC) canonical pick."""
    return f"""
SELECT component, node AS kept_key, len AS kept_len, n_members FROM (
  SELECT c.component, c.node, CAST(length(d.{text_col}) AS BIGINT) AS len,
         COUNT(*) OVER (PARTITION BY c.component) AS n_members,
         ROW_NUMBER() OVER (
           PARTITION BY c.component
           ORDER BY length(d.{text_col}) DESC, c.node ASC
         ) AS rn
  FROM ({connected_components_sql(pairs_sql)}) c
  JOIN {table} d ON c.node = d.{id_col}
) WHERE rn = 1
"""
