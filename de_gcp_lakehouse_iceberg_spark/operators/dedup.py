"""Deduplication operators for training-data pipelines — exact,
n-gram Jaccard, SimHash, MinHash+LSH (SURVEY.md §7.1 step 10).

All operators are `DataFrame → DataFrame` with bounded shuffle keys —
no driver-side collects, no per-row Python. Scale posture per operator:

- **exact**: one hash-aggregate shuffle on the content key. At 100 TB,
  dedup on a 64-bit fingerprint first (cheap, colocates candidates) and
  compare full text only within fingerprint groups.
- **n-gram Jaccard**: the classic shingle-inverted-index join. The self
  join on shingle is the scale bottleneck: its fan-out is Σ df(s)² over
  shingle document frequencies. `max_df` drops ubiquitous shingles
  (stopword runs) which caps fan-out with negligible recall loss — the
  standard trick; exact (default) keeps every shingle.
- **SimHash**: signature is a narrow per-row projection; candidate
  pairing is an equality self-join on the signature (hash-partitioned,
  no fan-out) — the 100 TB-friendly near-dup prefilter.
- **MinHash+LSH**: k hash-mins per row (narrow), then one shuffle per
  banding on (band_id, band_hash) buckets. Bucket sizes are the only
  skew risk; ubiquitous-shingle capping (`max_df`) tames them too.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import shingles


def _unpersist_quiet(jdf) -> None:
    """Drop a cached intermediate's blocks. Best-effort — the owning
    session may already be stopped."""
    try:
        jdf.unpersist(False)
    except Exception:
        pass


# Bounded LRU of lazily-persisted signing results (the per-doc shingle
# key arrays). The whole Jaccard family — pairs, max_df variant,
# clusters, canonical selection, corpus clean — derives from the SAME
# signing plan over the same corpus, so one cached result serves them
# all: Spark's CacheManager substitutes cached data by logical-plan
# match, and this registry pins the entry alive across calls. Capacity
# eviction unpersists the LRU entry, fixing the unbounded
# cache-accumulation a bare persist() had in a long-lived session
# (round-6 leak) WITHOUT round 7's eager-localCheckpoint regression
# (RDD-block serialization + an unguardable `Scan ExistingRDD` plan).
_SIGNING_CACHE: list[DataFrame] = []  # most-recent-first
_SIGNING_CACHE_CAP = 4
_SIGNING_LOCK = __import__("threading").Lock()
# Fan-out stats memo keyed by id() of the PINNED cache entry: the route
# decision depends only on the signing result, so every routed consumer
# of the same corpus (clean_corpus, dup clustering, canonical
# selection) shares ONE Σ df² aggregate instead of re-running it —
# the r9 driver bench showed the repeated measurement as a ~0.3-0.5 s
# per-query tax at gate scale. Entries are dropped with their cache
# slot, so a recycled id() can never alias a dead DataFrame.
_SIGNING_STATS: dict[int, tuple[int, float]] = {}


def _cached_signing(dk: DataFrame) -> DataFrame:
    """Return a lazily-persisted DataFrame for `dk`'s plan, reusing a
    live cache entry when the analyzed plans are equivalent
    (`sameResult` — the exact test the CacheManager applies)."""
    with _SIGNING_LOCK:
        for i, old in enumerate(_SIGNING_CACHE):
            try:
                same = (
                    old._jdf.queryExecution()
                    .analyzed()
                    .sameResult(dk._jdf.queryExecution().analyzed())
                )
            except Exception:  # stale entry from a stopped session
                same = False
            if same:
                try:
                    # an external spark.catalog.clearCache() may have
                    # dropped the entry's blocks — re-register (persist
                    # on the same DataFrame is lazy and idempotent)
                    if old.storageLevel.useMemory is False and (
                        old.storageLevel.useDisk is False
                    ):
                        old = old.persist()
                except Exception:
                    pass
                _SIGNING_CACHE.insert(0, _SIGNING_CACHE.pop(i))
                return old
        dk = dk.persist()  # lazy: nothing runs until a consumer does
        _SIGNING_CACHE.insert(0, dk)
        while len(_SIGNING_CACHE) > _SIGNING_CACHE_CAP:
            evicted = _SIGNING_CACHE.pop()
            _SIGNING_STATS.pop(id(evicted), None)
            _unpersist_quiet(evicted._jdf)
        return dk


# SimHash per-token key: char-level polynomial hash (base 31, Mersenne
# modulus). Cross-engine deterministic — the DuckDB oracle re-derives it
# from these constants (plans/dedup_queries.py).
SIMHASH_BASE = 31
SIMHASH_MOD = 2147483647
SIMHASH_BITS = 16

# Portable MinHash family (hash_mode="portable"): shingle → char-poly
# key (< MINHASH_P), then h_k(key) = (A_k·key + B_k) mod P — the classic
# universal-hash construction. All arithmetic stays < 2^63 (A_k,key < P
# ≈ 2^31 → product < 2^62), so Spark longs, DuckDB BIGINTs, and the
# oracle SQL generated from THESE constants agree bit-for-bit. Band
# hashes fold r member hashes the same way with MINHASH_BAND_MULT.
MINHASH_P = 2147483647
MINHASH_BAND_MULT = 1_000_003


def minhash_coeffs(num_hashes: int, seed: int = 11) -> list[tuple[int, int]]:
    """Deterministic (A_k, B_k) coefficient pairs shared by the Spark
    plan and the DuckDB oracle generator."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-`order_col` row per content key
    (deterministic winner). One shuffle on the key columns — as a
    struct-MIN aggregate, not a row_number window: the aggregate
    partial-combines map-side (each input partition collapses its
    duplicates before the exchange) and needs no per-partition sort,
    which is the difference between shuffling N full rows + sorting
    and shuffling ≤ one survivor per (key, partition) at 100 TB.
    Struct ordering compares `order_col` first, remaining columns as
    lexicographic tie-breaks — a TOTAL order, so an `order_col` tie is
    still deterministic (row_number left tie winners to shuffle
    order). Map-typed payload columns are unorderable, so the struct
    form would raise at analysis — those schemas fall back to the
    row_number window, which tolerates any payload (general-API
    escape hatch; no hot-path caller carries maps)."""
    rest = [c for c in df.columns if c not in key_cols and c != order_col]
    from .topk import _has_map

    if any(_has_map(df.schema[c].dataType) for c in [order_col, *rest]):
        w = W.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return (
        df.groupBy(*key_cols)
        .agg(F.min(F.struct(order_col, *rest)).alias("_w"))
        .select(
            *key_cols,
            *[F.col(f"_w.{c}").alias(c) for c in [order_col, *rest]],
        )
        .select(*df.columns)  # restore the caller's column order
    )


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exploded distinct (id, shingle) pairs; optional document-frequency
    cap dropping shingles present in more than `max_df` docs."""
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )
    if max_df is not None:
        df_counts = ex.groupBy("shingle").agg(F.count("*").alias("_df"))
        ex = (
            ex.join(df_counts.filter(F.col("_df") <= max_df), "shingle")
            .select("doc_id", "shingle")
        )
    return ex


def _signed_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(doc_id, keys) — per-doc sorted distinct 62-bit shingle keys via
    the bounded signing cache. This exact plan is shared by the whole
    Jaccard family AND the fan-out estimator, so building it twice
    costs one cache lookup, not a second Arrow pass."""
    cpus = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    if base.rdd.getNumPartitions() < cpus:
        base = base.repartition(cpus, "doc_id")
    return _cached_signing(
        base.select("doc_id", doc_keys2_udf(n)(F.col("_t")).alias("keys"))
    )


def shingle_fanout_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> tuple[int, float]:
    """(total exploded shingle rows, Σ df² over shingle document
    frequencies) — the exact fan-out of the inverted-index self-join
    `ngram_jaccard_pairs` would run (its joined-row count is
    Σ df·(df−1)/2 ≈ Σ df²/2). One linear aggregate over the CACHED
    signing plan, memoized per cache entry: consumers of the same
    corpus (q44/q53/q97-class) pay for the measurement once. Σ df² is
    summed as double — it's a routing estimate, not a gated value."""
    dk = _signed_keys(docs, id_col, text_col, n)
    memo = _SIGNING_STATS.get(id(dk))
    if memo is not None:
        return memo
    row = (
        dk.select(F.explode("keys").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .agg(
            F.sum("_df").alias("rows"),
            F.sum(F.col("_df").cast("double") * F.col("_df")).alias("df2"),
        )
        .first()
    )
    stats = int(row["rows"] or 0), float(row["df2"] or 0.0)
    with _SIGNING_LOCK:
        if any(e is dk for e in _SIGNING_CACHE):  # still pinned
            _SIGNING_STATS[id(dk)] = stats
    return stats


# Auto-routing threshold for the near-dup stage: go LSH when the
# exact inverted-index join would fan out more than this many rows per
# input shingle row (Σ df² / rows). Measured on this engine, the two
# routes cross over around ratio ≈ 10-13 (q44 exact 5.3 s vs forced
# LSH 4.5 s at the sf1 Heaps fixture, routing-point ratio 13.0); 16
# keeps every gate fixture on the exact oracle baseline with margin
# (7.4 at sf0.1, 13.0 at sf1.0) while the sf3 fixture (30.9) and any
# saturated-vocabulary corpus (≈ 90-267 on the r8 fixed-31-word
# fixture — the family the r8 sf3 ledger showed going quadratic)
# take the banded-LSH route.
JACCARD_LSH_FANOUT_RATIO = 16.0


def choose_jaccard_route(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    fanout_ratio: float = JACCARD_LSH_FANOUT_RATIO,
) -> str:
    """'exact' or 'lsh' — the scale-safe route decision for a near-dup
    pass over `docs` (see JACCARD_LSH_FANOUT_RATIO)."""
    rows, df2 = shingle_fanout_stats(docs, id_col, text_col, n)
    if rows == 0:
        return "exact"
    return "lsh" if df2 > fanout_ratio * rows else "exact"


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    route: str | None = None,
) -> DataFrame:
    """Route-selected near-dup pairs (doc_a, doc_b, jaccard) — THE pair
    source the corpus pipeline consumers share (clean_corpus, dup
    clustering, canonical selection): the exact inverted-index join
    while its measured Σ df² fan-out is benign, the banded
    portable-LSH pipeline above `JACCARD_LSH_FANOUT_RATIO`. Both
    routes produce the same pair set at the gated thresholds (banding
    recall ≈ 1−1e-4 at J ≥ 0.5; pinned by
    test_lsh_pairs_equal_exact_pairs), so consumers keep their exact
    oracles at gate scale and the scale-safe plan past it. Pass
    route='exact'/'lsh' to force."""
    if route is None:
        route = choose_jaccard_route(docs, id_col, text_col, n)
    if route == "lsh":
        return minhash_lsh_pairs(
            docs, id_col, text_col, n,
            threshold=threshold, hash_mode="portable",
        )
    return ngram_jaccard_pairs(docs, id_col, text_col, n, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: (doc_a, doc_b, jaccard) for
    every pair with shingle-set Jaccard ≥ threshold.

    Complete for threshold > 0 (any qualifying pair shares ≥1 shingle, so
    the inverted-index join surfaces it) — unlike LSH this is exact, at
    the cost of the shingle self-join fan-out (see module docstring).

    Hot path: per-doc distinct 62-bit shingle keys in ONE Arrow pass
    (`doc_keys2_udf` — no string explode, no per-shingle string
    shuffle; the q88-proven signing shape). Only 8-byte keys are
    exploded for the inverted-index join, and set sizes come free from
    the arrays. A cross-shingle key collision (≈ d²/2⁶² for d distinct
    shingles — ~1e-9 at sf0.1) would overcount one pair's intersection
    by 1; accepted, same class as the xxhash64 key it replaces.

    Scaling. The inverted-index join fans out on Σ df² over shingle
    document frequencies; the engine is LINEAR in that fan-out
    (measured: 100× join rows → 25× wall at sf1.0, i.e. per-row cost
    FELL), but the fan-out itself grows quadratically on corpora whose
    vocabulary does not grow with size (the fixed-vocab synthetic
    fixture is the worst case; real text follows Heaps' law and stays
    near-linear). Two escape hatches: `max_df` (cap ubiquitous
    shingles — the standard trick, near-zero recall loss) and
    `prefix_filter=True` — AllPairs/PPJoin prefix filtering (Bayardo
    et al. WWW'07; Xiao et al. WWW'08 Lemma 1: sets with overlap ≥
    ⌈t·|x|⌉ must share a token within their first |x|−⌈t·|x|⌉+1 tokens
    under any global order). Ordering by ascending df indexes each
    doc's RAREST tokens, which wins big on Zipfian corpora (rare-token
    df ≈ 1) but LOSES on uniform-df corpora (measured 28 s → 53 s at
    sf1.0: the candidate superset barely shrinks while the
    array-intersect verify is heavier than the narrow count
    aggregation) — hence opt-in, both paths bit-identical.
    """
    # Lazily persist the signed arrays via the bounded signing cache:
    # the df pre-pass and the pairing join would otherwise re-run the
    # Arrow signing once per consumer, and the whole Jaccard family
    # re-derives this same plan — one columnar cache entry serves them
    # all (see _cached_signing).
    dk = _signed_keys(docs, id_col, text_col, n)
    ex = dk.select("doc_id", F.explode("keys").alias("sh"))
    if max_df is None:
        # set size rides every exploded row for FREE (array length) —
        # no post-aggregation size joins needed
        exs = dk.select(
            "doc_id",
            F.size("keys").alias("nsh"),
            F.explode("keys").alias("sh"),
        )
        dfc = None
    else:
        df_counts = ex.groupBy("sh").agg(F.count("*").alias("_df"))
        dfc = df_counts.filter(F.col("_df") <= max_df)
        ex = ex.join(dfc, "sh").select("doc_id", "sh")
        sizes = ex.groupBy("doc_id").agg(F.count("*").alias("nsh"))
        exs = ex.join(sizes, "doc_id")
    if prefix_filter:
        return _jaccard_prefix_filtered(ex, dfc, threshold)
    a = exs.select(
        F.col("doc_id").alias("doc_a"), "sh", F.col("nsh").alias("na")
    )
    b = exs.select(
        F.col("doc_id").alias("doc_b"), "sh", F.col("nsh").alias("nb")
    )
    eps = 1e-9
    common = (
        a.join(
            b,
            (a["sh"] == b["sh"])
            & (F.col("doc_a") < F.col("doc_b"))
            # length filter BEFORE the shuffle-aggregate: J ≥ t implies
            # t·max(|a|,|b|) ≤ min(|a|,|b|) — rows failing it can never
            # reach the threshold, so dropping them is exact
            & (
                F.least(F.col("na"), F.col("nb")).cast("double")
                >= F.lit(threshold)
                * F.greatest(F.col("na"), F.col("nb"))
                - F.lit(eps)
            ),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")  # na/nb functionally
        .agg(F.count("*").alias("common"))  # determined by the ids
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    )
    return common.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _jaccard_prefix_filtered(
    ex: DataFrame, dfc: DataFrame | None, threshold: float
) -> DataFrame:
    """PPJoin-style exact Jaccard pairing (see ngram_jaccard_pairs
    docstring for the tradeoff): df-ordered prefixes generate a
    candidate superset, `array_intersect` verifies precisely."""
    if dfc is None:
        dfc = ex.groupBy("sh").agg(F.count("*").alias("_df"))
    # per-doc tokens sorted by (df, token) — ONE total order shared by
    # every doc; cached: the prefix explode reads it twice (self join)
    # and the verify join reads the full arrays twice
    ordered = _cached_signing(
        ex.join(dfc, "sh")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", "sh"))
            ).alias("_ord")
        )
    )
    eps = 1e-9  # float guard: a smaller ⌈t·n⌉ only LENGTHENS the
    # prefix — safe direction (superset of candidates)
    nsz = F.size("_ord")
    plen = (
        nsz - F.ceil(F.lit(threshold) * nsz - F.lit(eps)) + 1
    ).cast("int")
    prefix = ordered.select(
        "doc_id",
        nsz.alias("nsh"),
        F.explode(
            F.transform(
                F.slice("_ord", F.lit(1), F.greatest(F.lit(1), plen)),
                lambda s: s["sh"],
            )
        ).alias("sh"),
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), "sh", F.col("nsh").alias("na")
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), "sh", F.col("nsh").alias("nb")
    )
    cand = (
        pa.join(
            pb,
            (pa["sh"] == pb["sh"])
            & (F.col("doc_a") < F.col("doc_b"))
            # length filter: J ≥ t ⇒ t·max(|a|,|b|) ≤ min(|a|,|b|)
            & (
                F.least(F.col("na"), F.col("nb")).cast("double")
                >= F.lit(threshold)
                * F.greatest(F.col("na"), F.col("nb"))
                - F.lit(eps)
            ),
        )
        .select("doc_a", "doc_b", "na", "nb")
        .distinct()
    )
    kset = ordered.select(
        "doc_id",
        F.transform("_ord", lambda s: s["sh"]).alias("keys"),
    )
    ka = kset.select(
        F.col("doc_id").alias("doc_a"), F.col("keys").alias("_ka")
    )
    kb = kset.select(
        F.col("doc_id").alias("doc_b"), F.col("keys").alias("_kb")
    )
    common = F.size(F.array_intersect("_ka", "_kb"))
    jac = common.cast("double") / (F.col("na") + F.col("nb") - common)
    return (
        cand.join(ka, "doc_a")
        .join(kb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def repetition_ratio_fast(text: Column | str, n: int = 3) -> Column:
    """Arrow fast path for functions.text.repetition_ratio: the
    duplicate-n-gram ratio 1 − distinct/total. `doc_keys2_udf` already
    computes each doc's DISTINCT shingle count in one vectorized pass
    (its shingle construction mirrors `shingles()` exactly, including
    the ≥1-shingle short-doc convention), and the TOTAL count is pure
    arithmetic on the token count — so the whole ratio needs no
    interpreted higher-order lambdas. Distinct keys vs distinct shingle
    STRINGS differ only on a within-doc 62-bit collision (~d²/2⁶² per
    doc), the same accepted class as the Jaccard family. Equality with
    the expression form is pinned in tests/test_curation.py."""
    c = F.col(text) if isinstance(text, str) else text
    total = F.greatest(
        F.size(F.split(c, " ")) - n, F.lit(0)
    ) + F.lit(1)
    return (
        F.lit(1.0)
        - F.size(doc_keys2_udf(n)(c)).cast("double") / total
    )


def _char_poly_key(w: Column) -> Column:
    """Char-level polynomial word hash: fold (acc·31 + codepoint) mod M.

    Expression (Catalyst) form — Spark interprets higher-order lambdas,
    so this is the slow path; `char_poly_key_udf` computes the SAME
    integers vectorized (integer math: no float divergence possible).
    The expression form is kept because it's the shape the DuckDB
    oracles re-derive, and as the equality anchor for the UDF."""
    return F.aggregate(
        F.split(w, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * SIMHASH_BASE + F.ascii(c)) % SIMHASH_MOD,
    )


def _char_poly_batch(strings: list[str]) -> "np.ndarray":
    """Vectorized char-poly hash of a batch of strings.

    One `''.join` + one UTF-32 encode turns the whole batch into a flat
    codepoint array at C speed; the polynomial fold then runs as
    max_len masked numpy passes (vectorized over the batch) instead of
    per-character interpreted expressions. acc·31 + cp < 2^36 — int64
    exact, so results equal `_char_poly_key` bit-for-bit."""
    n = len(strings)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    flat = np.frombuffer(
        "".join(strings).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    for j in range(int(lens.max())):
        valid = lens > j
        out[valid] = (
            out[valid] * SIMHASH_BASE + flat[starts[valid] + j]
        ) % SIMHASH_MOD
    return out


def char_poly_key_udf():
    """Arrow-batched pandas UDF form of `_char_poly_key` (hot path).
    NULL in → NULL out, matching the expression form."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def key(s: pd.Series) -> pd.Series:
        mask = np.asarray(s.isna())
        vals = pd.array(_char_poly_batch(s.fillna("").tolist()), dtype="Int64")
        vals[mask] = pd.NA
        return pd.Series(vals)

    return key


# second polynomial family for the 62-bit combined shingle key used by
# the exact-Jaccard fast path: key = h31(s)·P2 + h37(s) with h37 a
# base-37 fold mod P2. Two ~31-bit polynomial hashes give a ~2⁻⁶²
# cross-shingle collision bound — the same class as the xxhash64 join
# key the slow path used, far beyond any corpus size here.
JACCARD_BASE2 = 37
JACCARD_P2 = 2147483629


def _char_poly2_batch(strings: list[str]) -> "np.ndarray":
    """Vectorized dual char-poly hash → combined 62-bit keys.
    Same masked-pass structure as `_char_poly_batch`, two accumulators
    per pass; acc·37 + cp < 2^37 and h1·P2 + h2 < 2^63 — int64 exact."""
    n = len(strings)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    flat = np.frombuffer(
        "".join(strings).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    h1 = np.zeros(n, dtype=np.int64)
    h2 = np.zeros(n, dtype=np.int64)
    for j in range(int(lens.max()) if n else 0):
        valid = lens > j
        cp = flat[starts[valid] + j]
        h1[valid] = (h1[valid] * SIMHASH_BASE + cp) % SIMHASH_MOD
        h2[valid] = (h2[valid] * JACCARD_BASE2 + cp) % JACCARD_P2
    return h1 * JACCARD_P2 + h2


def _batch_shingles(texts: list, n: int) -> tuple[list[str], "np.ndarray"]:
    """Flattened per-doc distinct n-token shingles + per-doc counts —
    mirrors functions.text.shingles/tokens exactly (split on single
    space keeps empties; range(max(len-n,0)+1) windows; array_distinct
    keeps first occurrence)."""
    all_sh: list[str] = []
    counts = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if t is None:
            continue
        toks = t.split(" ")
        upper = max(len(toks) - n, 0)
        sh = [" ".join(toks[i0 : i0 + n]) for i0 in range(upper + 1)]
        sh = list(dict.fromkeys(sh))  # array_distinct semantics
        all_sh.extend(sh)
        counts[i] = len(sh)
    return all_sh, counts


def _char_poly_fams(
    strings: list[str], fams: tuple
) -> list["np.ndarray"]:
    """Char-poly hashes of a batch for SEVERAL (base, mod) families in
    one flat-codepoint pass (the `_char_poly_batch` masked fold,
    generalized — one UTF-32 encode shared by all families)."""
    n = len(strings)
    outs = [np.zeros(n, dtype=np.int64) for _ in fams]
    if n == 0:
        return outs
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    flat = np.frombuffer(
        "".join(strings).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    for j in range(int(lens.max())):
        valid = lens > j
        cp = flat[starts[valid] + j]
        for out, (base, mod) in zip(outs, fams):
            out[valid] = (out[valid] * base + cp) % mod
    return outs


_SPACE_CP = 32  # ord(' ') — the shingle separator's codepoint

_FAMS1 = ((SIMHASH_BASE, SIMHASH_MOD),)
_FAMS2 = ((SIMHASH_BASE, SIMHASH_MOD), (JACCARD_BASE2, JACCARD_P2))


def _window_keys_batch(texts: list, n: int, fams: tuple) -> list:
    """Per-doc n-token-window shingle keys WITHOUT building the shingle
    strings (r13: the q88/q90/q37 signing ceiling — `_batch_shingles`'
    per-position `" ".join` allocated ~n× the corpus text in Python and
    char-hashed the duplicated bytes).

    EXACT modular composition replaces string construction: for the
    char-poly fold h(s) = fold((acc·B + cp) % P) over s's codepoints,
    h(a + " " + b) == ((h(a)·B + 32) % P · B^len(b) + h(b)) % P — so
    each token is hashed ONCE and every window key is a vectorized
    (n−1)-step fold of consecutive token hashes with precomputed
    B^len(token) % P shift tables. Unlike `doc_gram_keys_udf`'s r13
    token-fold (which changed key VALUES — fine for span stats), these
    keys are BIT-IDENTICAL to hashing the built shingle string, so
    every portable-hash oracle (q35-q37, q44, q46, q88, q90) replays
    them unchanged. Intermediates stay < 2^62 (g < P ≤ 2^31, shift
    < 2^31), int64-exact like the Column form.

    Per-doc semantics mirror `_batch_shingles` minus its string-level
    dedup (callers np.unique the keys — the same set): docs with ≥ n
    tokens yield one key per window in position order; docs with
    1..n−1 tokens yield the whole-text fallback shingle's key; None
    yields empty. Cross-doc windows are computed by the global fold
    but never selected (the q72 rewrite's pattern)."""
    ndocs = len(texts)
    all_toks: list[str] = []
    tok_counts = np.zeros(ndocs, dtype=np.int64)
    is_none = np.zeros(ndocs, dtype=bool)
    for i, t in enumerate(texts):
        if t is None:
            is_none[i] = True
            continue
        toks = t.split(" ")
        all_toks.extend(toks)
        tok_counts[i] = len(toks)
    total = len(all_toks)
    hs = _char_poly_fams(all_toks, fams)
    lens = np.fromiter((len(s) for s in all_toks), dtype=np.int64, count=total)
    maxlen = int(lens.max()) if total else 0
    pws = []
    for base, mod in fams:
        table = np.empty(maxlen + 1, dtype=np.int64)
        v = 1
        for ln in range(maxlen + 1):
            table[ln] = v
            v = (v * base) % mod
        pws.append(table[lens])
    m_all = total - n + 1  # global window count (incl. cross-doc)
    gs = []
    for h, pw, (base, mod) in zip(hs, pws, fams):
        if m_all <= 0:
            gs.append(np.zeros(0, dtype=np.int64))
            continue
        g = h[:m_all].copy()
        for j in range(1, n):
            # append separator then token j: both products < 2^62
            np.multiply(g, base, out=g)
            np.add(g, _SPACE_CP, out=g)
            np.remainder(g, mod, out=g)
            np.multiply(g, pw[j : m_all + j], out=g)
            np.add(g, h[j : m_all + j], out=g)
            np.remainder(g, mod, out=g)
        gs.append(g)
    starts_tok = np.concatenate(([0], np.cumsum(tok_counts)))
    short_idx = np.nonzero((~is_none) & (tok_counts < n))[0]
    sks = []
    for h, pw, (base, mod) in zip(hs, pws, fams):
        if len(short_idx) == 0:
            sks.append(np.zeros(0, dtype=np.int64))
            continue
        st = starts_tok[short_idx]
        m = tok_counts[short_idx]
        k = h[st].copy()
        for j in range(1, int(m.max())):
            sel = m > j
            kk = (k[sel] * base + _SPACE_CP) % mod
            k[sel] = (kk * pw[st[sel] + j] + h[st[sel] + j]) % mod
        sks.append(k)
    if len(fams) == 1:
        gkey, skey = gs[0], sks[0]
    else:  # combined 62-bit key — same packing as _char_poly2_batch
        gkey = gs[0] * fams[1][1] + gs[1]
        skey = sks[0] * fams[1][1] + sks[1]
    spos = {int(d): i for i, d in enumerate(short_idx)}
    out: list = []
    for i in range(ndocs):
        if is_none[i]:
            out.append(np.empty(0, np.int64))
            continue
        m = int(tok_counts[i])
        if m >= n:
            st = int(starts_tok[i])
            out.append(gkey[st : st + m - n + 1])
        else:
            out.append(skey[spos[i] : spos[i] + 1])
    return out


def _doc_keys2_batch(texts: list, n: int) -> list:
    """Per-doc distinct 62-bit shingle keys (sorted) in one batch —
    the exact-Jaccard fast path's whole per-doc state. Keys via the
    string-free window fold (`_window_keys_batch`) — bit-identical to
    char-hashing the built shingle strings."""
    return [
        np.unique(k) if len(k) else np.empty(0, np.int64)
        for k in _window_keys_batch(texts, n, _FAMS2)
    ]


_UDF_CACHE: dict = {}


def _char_poly2_pair_batch(
    strings: list[str],
) -> tuple["np.ndarray", "np.ndarray"]:
    """`_char_poly2_batch`'s two accumulators, returned SEPARATELY —
    for callers that keep folding (the positional gram-key fold) before
    combining into the 62-bit key."""
    n = len(strings)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    flat = np.frombuffer(
        "".join(strings).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    h1 = np.zeros(n, dtype=np.int64)
    h2 = np.zeros(n, dtype=np.int64)
    for j in range(int(lens.max()) if n else 0):
        valid = lens > j
        cp = flat[starts[valid] + j]
        h1[valid] = (h1[valid] * SIMHASH_BASE + cp) % SIMHASH_MOD
        h2[valid] = (h2[valid] * JACCARD_BASE2 + cp) % JACCARD_P2
    return h1, h2


# token-level fold bases for the positional gram key (distinct from the
# char bases so a token sequence never aliases a character sequence)
_GRAM_TOKB1 = 1000003
_GRAM_TOKB2 = 999983


def doc_gram_keys_udf(n: int = 3):
    """text → ORDERED (non-distinct) 62-bit n-gram keys, one per start
    position (array index == position). Docs with fewer than n tokens
    yield an empty array — dup_span_stats' semantics (a short doc has
    no n-gram), which differs from `_batch_shingles`' whole-text
    fallback shingle. One Arrow pass per batch; memoized per n.

    r13 rewrite (the q72 sf3 ceiling): instead of BUILDING every
    n-gram string (" ".join per position — a Python loop allocating
    ~n× the corpus text) and char-hashing the ~n×-duplicated bytes,
    each TOKEN is dual-char-poly-hashed ONCE and the positional gram
    key is a vectorized n-term polynomial fold of n consecutive token
    hashes (global shifted-slice fold across the flattened batch;
    cross-doc windows computed but never selected). The key VALUE
    changes, but dup_span_stats only needs gram-key EQUALITY — the
    q72 oracle groups the n-gram STRINGS (span_queries.py docstring)
    — and two distinct token sequences collide only if both dual
    polynomial folds collide (~2⁻⁶², the class already accepted for
    the char-poly key). Measured: the signing pass drops ~3× at sf3
    (SCALE.md "q72 gram-key signing rewrite")."""
    key = ("gramkeys", n)
    if key in _UDF_CACHE:
        return _UDF_CACHE[key]
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def f(s: pd.Series) -> pd.Series:
        texts = s.tolist()
        all_toks: list[str] = []
        tok_counts = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            toks = t.split(" ")
            all_toks.extend(toks)
            tok_counts[i] = len(toks)
        t1, t2 = _char_poly2_pair_batch(all_toks)
        total = len(all_toks)
        m_all = total - n + 1  # global window count (incl. cross-doc)
        if m_all > 0:
            g1 = t1[:m_all].copy()
            g2 = t2[:m_all].copy()
            for j in range(1, n):
                np.multiply(g1, _GRAM_TOKB1, out=g1)
                np.add(g1, t1[j : m_all + j], out=g1)
                np.remainder(g1, SIMHASH_MOD, out=g1)
                np.multiply(g2, _GRAM_TOKB2, out=g2)
                np.add(g2, t2[j : m_all + j], out=g2)
                np.remainder(g2, JACCARD_P2, out=g2)
            g = g1 * JACCARD_P2 + g2
        bounds = np.concatenate(([0], np.cumsum(tok_counts)))
        out: list = []
        for i in range(len(texts)):
            m = int(tok_counts[i]) - n + 1
            if m <= 0:
                out.append([])
            else:
                st = int(bounds[i])
                out.append(g[st : st + m].tolist())
        return pd.Series(out)

    _UDF_CACHE[key] = f
    return f


def doc_keys2_udf(n: int = 3):
    """text → sorted distinct combined shingle keys (array<long>) in
    one Arrow pass. Memoized per n so repeated plans share the SAME
    UDF object — identical logical plans let Spark's cache manager
    substitute a cached signing stage across queries."""
    key = ("keys2", n)
    if key in _UDF_CACHE:
        return _UDF_CACHE[key]
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def f(s: pd.Series) -> pd.Series:
        return pd.Series(
            [k.tolist() for k in _doc_keys2_batch(s.tolist(), n)]
        )

    _UDF_CACHE[key] = f
    return f


def _doc_keys_sig_batch(
    texts: list, n: int, coeffs: list[tuple[int, int]]
) -> tuple[list, list]:
    """Per-doc (distinct shingle keys, MinHash signature) for a batch.

    Shingle construction mirrors functions.text.shingles/tokens exactly
    (split on single space keeps empties — Python str.split(" ") matches
    Spark split(text, ' ')), and keys are _char_poly_batch — so every
    integer equals the exploded expression path bit-for-bit, which is
    what keeps the DuckDB oracle reproducing this pipeline. The
    signature fold is ONE (flat_keys × num_hashes) int64 matmul-shaped
    pass + np.minimum.reduceat per batch — no per-doc Python loops in
    the hash math. r13: keys come from the string-free window fold
    (`_window_keys_batch` — bit-identical values, ~2-3× less signing
    work), deduped per doc BEFORE the MinHash pass (duplicates never
    affect a min)."""
    keys_out = [
        np.unique(k) if len(k) else np.empty(0, np.int64)
        for k in _window_keys_batch(texts, n, _FAMS1)
    ]
    counts = np.fromiter(
        (len(k) for k in keys_out), dtype=np.int64, count=len(keys_out)
    )
    flat = (
        np.concatenate(keys_out) if keys_out else np.zeros(0, np.int64)
    )
    bounds = np.concatenate(([0], np.cumsum(counts)))
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    num_hashes = len(coeffs)
    if len(flat):
        # One 1-D contiguous pass per hash function with preallocated
        # buffers — 15x faster than the obvious 2-D broadcast
        # ((flat[:,None]*A+B)%P), whose strided int64 temporaries are
        # pathological. keys < P ≈ 2^31 and A < P so products stay
        # < 2^62 — int64 exact, same bound as the Column form.
        H = np.empty((num_hashes, len(flat)), dtype=np.int64)
        tmp = np.empty(len(flat), dtype=np.int64)
        for k in range(num_hashes):
            np.multiply(flat, A[k], out=tmp)
            np.add(tmp, B[k], out=tmp)
            np.remainder(tmp, MINHASH_P, out=H[k])
        nonempty = counts > 0
        # (num_hashes, n_nonempty_docs): per-doc segment minima
        mins = np.minimum.reduceat(H, bounds[:-1][nonempty], axis=1).T
    sigs_out: list = []
    j = 0
    for i in range(len(texts)):
        if counts[i]:
            sigs_out.append(mins[j])
            j += 1
        else:
            sigs_out.append(None)
    return keys_out, sigs_out


def doc_keys_sig_udf(n: int = 3, num_hashes: int = 64):
    """text → struct(keys: sorted distinct char-poly shingle keys,
    sig: MinHash signature) in one Arrow pass. NULL/empty-shingle docs
    get empty keys and NULL sig (they cannot pair anyway). Memoized
    per (n, num_hashes) — see doc_keys2_udf."""
    ck = ("keyssig", n, num_hashes)
    if ck in _UDF_CACHE:
        return _UDF_CACHE[ck]
    from pyspark.sql.functions import pandas_udf

    coeffs = minhash_coeffs(num_hashes)

    @pandas_udf("keys array<long>, sig array<long>")
    def f(s: pd.Series) -> pd.DataFrame:
        keys, sigs = _doc_keys_sig_batch(s.tolist(), n, coeffs)
        return pd.DataFrame(
            {
                "keys": [k.tolist() for k in keys],
                "sig": [None if g is None else g.tolist() for g in sigs],
            }
        )

    _UDF_CACHE[ck] = f
    return f


def simhash(text_col: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash signature over whitespace tokens (with multiplicity).

    Bit i of the signature is the sign of Σ_tokens (±1 depending on bit i
    of the token's char-polynomial key). Pure array expressions — one
    narrow projection per row, no shuffle.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    keys = F.transform(F.split(c, " "), _char_poly_key)
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    # ONE pass over the tokens: the accumulator is the per-bit vote
    # vector, updated with a vectorized zip against the mask array
    # (16 separate folds would rescan the token array 16×).
    votes = F.aggregate(
        keys,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, k: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(k.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # combine: bit i set iff votes[i] > 0
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over a near-dup pair graph — the "keep one
    doc per duplicate cluster" primitive that turns pairwise Jaccard
    output into a dedup decision.

    Iterative min-label propagation: every node starts labelled with its
    own id; each round replaces a node's label with the min over itself
    and its neighbors' labels. Converges in O(graph diameter) rounds —
    near-dup clusters are shallow (pairs share shingles transitively),
    so a handful of rounds suffice; `max_iter` bounds pathological
    chains. Each round is one join + one groupBy; labels persist per
    round and the previous round unpersists, so peak state is two label
    sets of O(#nodes-in-pairs). Convergence is detected with sum(label)
    (strictly decreasing while any label changes). At 100 TB the same
    loop holds — swap in the alternating large-star/small-star variant
    if a single component's edge list skews one reducer.

    Returns (doc_id, cluster_id) with cluster_id = min doc id reachable.
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint per round (not just persist): without truncating
    # the lineage, round N's plan nests all N-1 prior plans and analysis
    # time grows geometrically — see dup_clusters_star for the measured
    # effect.
    def _ckpt_with_sum(lb: DataFrame, tag: str):
        # convergence sum observed on the checkpoint job itself (r14 —
        # same fusion as dup_clusters_star): the separate per-round
        # agg job re-read every label for a control-flow scalar
        from pyspark.sql import Observation

        # anonymous Observation: a fixed name repeats across calls in
        # one session and adds nothing — each instance is independent
        # (r14 ADVICE); `tag` stays for the job-description reader
        del tag
        obs = Observation()
        lb = lb.observe(obs, F.sum("label").alias("s")).localCheckpoint()
        return lb, obs.get["s"]

    labels, prev_sum = _ckpt_with_sum(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        "cc_labels_0",
    )
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels, cur_sum = _ckpt_with_sum(
            labels.join(
                neighbor_min, labels["doc_id"] == neighbor_min["src"], "left"
            ).select(
                F.col("doc_id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            ),
            f"cc_labels_{i + 1}",
        )
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dup_clusters_star(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Skew-safe connected components: alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm, re-expressed as DataFrame ops).

    Same contract as `dup_clusters` (doc_id → min reachable id), built
    for the case that breaks min-label propagation at scale: one viral
    duplicate cluster whose edge list lands on one reducer. Each
    round's per-node min is an ALGEBRAIC aggregate (map-side combine
    flattens hub keys before the shuffle), the join back is
    AQE-skew-splittable, and — the real fix — large-star rewires every
    high node of a hub straight to the hub's minimum, so a star of
    degree d collapses in O(1) rounds instead of funnelling d labels
    through one key per round. Converges in O(log n) rounds on any
    graph vs O(diameter) for label propagation.

    Round shape:
    - large-star: for node u with neighbors Γ(u), m = min(Γ(u) ∪ {u});
      every v ∈ Γ(u) with v > u re-attaches as (v, m).
    - small-star: direct edges large→small; for node u with smaller
      neighbors N(u), m = min(N(u) ∪ {u}); emit (v, m) for
      v ∈ N(u) ∪ {u}, v ≠ m.
    Fixpoint = edge set is a star forest (v, root); detected via an
    order-insensitive checksum (count, sum(u), sum(v), sum(u·v mod p)).
    """
    p = F.lit(MINHASH_P)

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # No intra-round distinct (r14): small_star's terminal distinct
        # already dedups the round's output, duplicate (v, m) edges
        # change neither its per-u mins nor the emitted set — dropping
        # this saved one full-edge shuffle per round, results pinned
        # equal by test_dedup's cluster fixtures.
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        nbr_edges = (
            directed.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
        return nbr_edges.unionByName(self_edges).distinct()

    # localCheckpoint (eager), not persist: persist alone leaves every
    # round's plan NESTED in the next round's — analysis cost grows
    # geometrically and round N parses a 2^N-node tree (measured: round
    # times 3s → 11s → … on a 50k-edge graph). Checkpointing truncates
    # the lineage so every round analyzes a constant-size plan. On a
    # real cluster prefer reliable checkpoints (sc.setCheckpointDir) for
    # fault-tolerance; local blocks are fine for the algorithm itself.
    def _ckpt_with_checksum(e: DataFrame, tag: str):
        # The fixpoint checksum rides the checkpoint's own job as an
        # observed metric (r14): a separate checksum(e) action per
        # round re-read every checkpointed edge — one job per round of
        # pure control-flow overhead, now free.
        from pyspark.sql import Observation

        # anonymous Observation — see _ckpt_with_sum (r14 ADVICE)
        del tag
        obs = Observation()
        e = e.observe(
            obs,
            F.count(F.lit(1)).alias("c"),
            F.sum("u").alias("su"),
            F.sum("v").alias("sv"),
            F.sum((F.col("u") * F.col("v")) % p).alias("suv"),
        ).localCheckpoint()
        m = obs.get
        return e, (m["c"], m["su"], m["sv"], m["suv"])

    edges, prev = _ckpt_with_checksum(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "cc_edges_0",
    )
    for i in range(max_iter):
        nxt, cur = _ckpt_with_checksum(
            small_star(large_star(edges)), f"cc_edges_{i + 1}"
        )
        edges = nxt
        if cur == prev:
            break
        prev = cur
    # star forest: every u points at its component root; roots label
    # themselves
    return edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).unionByName(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    ).distinct()


def simhash_fast(text_col: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """Vectorized SimHash — identical integers to `simhash()` (all-int64
    math, no float divergence), computed per Arrow batch: ONE flat
    codepoint array for every token in the batch, the masked-pass
    polynomial fold, then a segmented reduce for the per-doc bit votes.
    This is the 10 TB-of-text form; the expression `simhash()` stays as
    the DuckDB-oracle shape and the equality anchor (tests/test_dedup)."""
    from pyspark.sql.functions import pandas_udf

    masks = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("long")
    def sig(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series(pd.array([], dtype="Int64"))
        na = np.asarray(texts.isna())
        toks_per_doc = [
            ("" if t is None else t).split(" ") for t in texts.tolist()
        ]
        counts = np.fromiter(
            (len(t) for t in toks_per_doc), dtype=np.int64,
            count=len(toks_per_doc),
        )
        flat = [w for toks in toks_per_doc for w in toks]
        keys = _char_poly_batch(flat)
        # ±1 vote per (token, bit), summed per doc with a segmented
        # reduce over the contiguous token runs ('' splits to [''] so
        # every doc owns ≥1 token — reduceat segments are never empty)
        votes_tok = (
            ((keys[:, None] & masks[None, :]) != 0).astype(np.int64) * 2 - 1
        )
        seg_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        votes = np.add.reduceat(votes_tok, seg_starts, axis=0)
        sigs = ((votes > 0) * masks).sum(axis=1)
        out = pd.array(sigs, dtype="Int64")
        out[na] = pd.NA
        return pd.Series(out)

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return sig(c)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    max_df: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures: per doc, min over shingles of a k-indexed hash
    family; a narrow projection + one groupBy(doc_id).

    hash_mode:
    - "xxhash64" (default, scale path): xxhash64(shingle, seed=k) —
      Spark-native JVM codegen, fastest.
    - "portable": (A_k·charpoly(shingle) + B_k) mod P with module-level
      constants — reproducible in any engine, so the driver's DuckDB
      oracle can hash-verify the full LSH pipeline (q37). Same banding
      math, slightly more CPU (one interpreted char fold per shingle).
    """
    ex = doc_shingles(docs, id_col, text_col, n, max_df)
    if hash_mode == "portable":
        # vectorized UDF == expression fold exactly (integer math); the
        # 64 (A·key+B) mod P projections stay JVM-side Column arithmetic
        key = char_poly_key_udf()(F.col("shingle"))
        mins = [
            F.min((F.lit(a) * key + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{k}")
            for k, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    else:
        mins = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(k))).alias(f"h{k}")
            for k in range(num_hashes)
        ]
    sig = ex.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"h{k}" for k in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    max_df: int | None = None,
    hash_mode: str = "xxhash64",
    release: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified.

    Cache contract: the per-doc signature/key blocks persisted inside
    the operator are keyed by logical plan, so an IDENTICAL
    re-invocation on the same input reuses them (repeat calls skip the
    signature UDF — deliberate, the "pinned hot index" behavior).
    Pass ``release=True`` to eagerly materialize the (small) verified
    pairs and unpersist every corpus-sized block before returning —
    the right mode for long-lived sessions that sweep MANY corpora,
    where plan-keyed reuse never hits and the blocks would accumulate.

    signature → `bands` bands of rows_per_band hashes → bucket join on
    (band_id, band_hash) → candidate pairs → verify with exact shingle
    Jaccard ≥ threshold. With b=32, r=2: P(candidate | J=0.8) ≈ 1−(1−0.8²)^32
    ≈ 1-6e-15 — recall is effectively 1 at the planted-dup similarity,
    while J≤0.1 pairs almost never collide (the verify join stays tiny).

    hash_mode="portable" swaps both hash stages for the cross-engine
    family (see minhash_signatures), making the whole pipeline
    DuckDB-reproducible for the driver's hash gate.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    dk = keyed = None
    if hash_mode == "portable" and max_df is None:
        # Fast path: ONE Arrow pass per doc computes the distinct shingle
        # keys AND the full signature (numpy, bit-identical to the
        # exploded expression form — asserted in tests). No explode, no
        # per-shingle shuffle, no collect_set: the only shuffles left in
        # the whole operator are the banding self-join and the verify
        # joins. Persisted MEMORY_AND_DISK (spills, not OOMs, at corpus
        # scale) and RELEASED before returning — the persist is what
        # lets the verify stage reuse the pass instead of re-running the
        # UDF, and block-level locking makes the banding self-join's two
        # branches share one computation.
        fast_base = docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
        )
        # The signature pass is CPU-bound Arrow work: a low-partition
        # input (one small parquet file, a single-partition cached
        # table) would serialize it onto one core — spread it first.
        # At real corpus scale inputs arrive many-partitioned and this
        # guard is a no-op.
        cpus = docs.sparkSession.sparkContext.defaultParallelism
        if fast_base.rdd.getNumPartitions() < cpus:
            fast_base = fast_base.repartition(cpus, "doc_id")
        dk = (
            fast_base.select(
                "doc_id",
                doc_keys_sig_udf(n, num_hashes)(F.col("_text")).alias("ks"),
            )
            .select("doc_id", "ks.keys", "ks.sig")
            .filter(F.size("keys") > 0)
            .persist()
        )
        sig = dk.select("doc_id", F.col("sig").alias("signature"))
        sets_src = dk.select("doc_id", F.col("keys").alias("sh"))
    else:
        # General path (xxhash mode / max_df cap): explode+hash once,
        # shared by the signature agg AND the verify stage. Persisted —
        # without this the banding self-join re-runs the whole subtree
        # once PER ALIAS and the verify stage a third time (measured 3x
        # the pipeline cost at sf0.1).
        ex = doc_shingles(docs, id_col, text_col, n, max_df)
        if hash_mode == "portable":
            key_expr = char_poly_key_udf()(F.col("shingle"))
        else:
            key_expr = F.xxhash64("shingle")
        keyed = ex.select("doc_id", key_expr.alias("key")).persist()
        mins = [
            (
                F.min((F.lit(a) * F.col("key") + F.lit(b)) % F.lit(MINHASH_P))
                if hash_mode == "portable"
                else F.min(F.xxhash64(F.col("key"), F.lit(k)))
            ).alias(f"h{k}")
            for k, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
        sig = keyed.groupBy("doc_id").agg(*mins).select(
            "doc_id",
            F.array(*[f"h{k}" for k in range(num_hashes)]).alias("signature"),
        )
        sets_src = None

    def band_hash(bi: int):
        members = [F.col("signature")[bi * r + j] for j in range(r)]
        if hash_mode == "portable":
            # left fold (…(h0·M + h1)·M + h2…) mod P — members are < P so
            # every intermediate stays < 2^52
            acc = members[0]
            for m in members[1:]:
                acc = (acc * F.lit(MINHASH_BAND_MULT) + m) % F.lit(MINHASH_P)
            return acc
        return F.xxhash64(*members)

    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        band_hash(bi).alias("band_hash"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash").persist()
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        # the candidate set feeds THREE subtrees (pair output, doc_a ids,
        # doc_b ids); without persisting, Spark re-runs the whole
        # signature+banding pipeline once per consumer. Candidates are
        # small by construction (that is the point of banding), so
        # pinning them is bounded at any corpus size.
        .persist()
    )
    # materialize candidates NOW, while `banded` (#docs x bands rows of
    # three longs — narrow at any corpus size) is pinned so the self-join
    # computes the signature agg once per side from the persisted `keyed`
    # instead of replaying explode+hash; then drop the band index — only
    # `keyed` (verify input) and `candidates` stay pinned.
    candidates.count()
    banded.unpersist()
    # exact-verify ONLY the candidate pairs — and build shingle-key sets
    # ONLY for docs that appear in a candidate pair: the broadcast
    # semi-join lands BELOW the groupBy/collect_set, so the verify stage
    # shuffles #candidate-docs' keys, not the whole corpus's. (With
    # max_df the document-frequency cap still counts over the FULL
    # corpus — the cap is applied during the explode, before the
    # candidate scoping.)
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    if sets_src is not None:
        # fast path: the per-doc key array IS the distinct set already —
        # no explode, no collect_set, just a semi-join to scope it
        sets = sets_src.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    else:
        sets = (
            keyed.join(F.broadcast(cand_ids), "doc_id", "left_semi")
            .select("doc_id", F.col("key").alias("shingle"))
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("sh"))
        )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    verified = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if release:
        # Materialize the verified pairs — small by construction,
        # banding's whole point — into their own cache, then RELEASE
        # every corpus-scale block (per-doc key arrays / exploded keys).
        # Only the output-sized pairs stay cached (MEMORY_AND_DISK, so
        # eviction cannot force a recompute of the released inputs).
        # NB deliberately persist().count(), NOT localCheckpoint(): the
        # RDD conversion behind checkpointing bypasses AQE for the final
        # join cascade (measured 4x slower, interleaved A/B at sf0.1).
        verified = verified.persist()
        verified.count()
        candidates.unpersist()
        (dk if dk is not None else keyed).unpersist()
    return verified


def dup_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact duplicated-span coverage (the span-level exact-substring
    dedup metric of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better"): a position's n-gram is *duplicated* when
    the identical n-gram occurs anywhere else in the corpus (another
    doc or another position of the same doc); a token is *covered* when
    at least one duplicated n-gram overlaps it. Returns per-doc
    (doc_id, n_tokens, covered_tokens).

    Interval-union without a range join: per doc, sort the duplicated
    start positions and fold with a window `lead` — each start
    contributes min(next_start − start, n) covered tokens (the last
    contributes n). One narrow shuffle on the n-gram key for the
    global occurrence count, one on doc_id for the window; the
    corpus-sized range join a naive formulation needs never happens.

    The occurrence count groups by a 62-bit dual-polynomial key of the
    n-gram (`doc_gram_keys_udf` — ONE Arrow pass per doc instead of an
    interpreted slice+concat+hash per POSITION, the q35 rewrite's
    pattern; measured ~2x on the q72 path). The q72 oracle replays the
    same grouping on the strings, identical barring ~2⁻⁶² collisions.
    """
    cpus = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    if base.rdd.getNumPartitions() < cpus:
        base = base.repartition(cpus, "doc_id")
    # per-doc ORDERED (non-distinct) n-gram keys; docs shorter than n
    # have none — posexplode turns the array index into the position
    grams = base.select(
        "doc_id",
        F.size(F.split("_t", " ")).alias("n_tokens"),
        doc_gram_keys_udf(n)(F.col("_t")).alias("ks"),
    )
    pos = grams.select(
        "doc_id", F.posexplode("ks").alias("p", "g")
    ).select("doc_id", F.col("p").cast("long").alias("p"), "g")
    # two consumers (occurrence count + the dup join) would otherwise
    # each re-tokenize and re-explode the corpus — materialize once
    pos = pos.localCheckpoint()
    dup_grams = (
        pos.groupBy("g").agg(F.count("*").alias("_c")).filter(F.col("_c") >= 2)
    )
    dup = pos.join(dup_grams.select("g"), "g").select("doc_id", "p")
    w = W.partitionBy("doc_id").orderBy("p")
    cov = (
        dup.withColumn("np", F.lead("p").over(w))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("np").isNull(), F.lit(n)).otherwise(
                    F.least(F.col("np") - F.col("p"), F.lit(n))
                )
            ).alias("covered_tokens")
        )
    )
    return (
        grams.select("doc_id", "n_tokens")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
        )
    )


def band_hash_col(sig_col: str, bi: int, r: int, hash_mode: str) -> Column:
    """Band hash of signature members [bi·r, bi·r+r) — the same fold
    minhash_lsh_pairs uses (portable: left fold ·MULT + m mod P)."""
    members = [F.col(sig_col)[bi * r + j] for j in range(r)]
    if hash_mode == "portable":
        acc = members[0]
        for m in members[1:]:
            acc = (acc * F.lit(MINHASH_BAND_MULT) + m) % F.lit(MINHASH_P)
        return acc
    return F.xxhash64(*members)


def signature_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Persistable per-document signature rows for the PORTABLE MinHash
    family: (doc_id, keys: sorted distinct char-poly shingle keys,
    sig: MinHash signature). One Arrow pass per partition — the exact
    dataset `lsh_probe_pairs(hash_mode="portable")` derives internally,
    factored out so a deployment can MAINTAIN it as a table
    (lakehouse/dedup_index.SignatureIndex) instead of re-signing the
    corpus on every incoming batch. Empty/None-text docs are dropped
    (no shingles ⇒ can never pair)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            doc_keys_sig_udf(n, num_hashes)(F.col(text_col)).alias("ks"),
        )
        .select("doc_id", "ks.keys", "ks.sig")
        .filter(F.size("keys") > 0)
    )


def lsh_probe_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    hash_mode: str = "xxhash64",
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC LSH probe — which NEW documents are near-dups of the
    EXISTING corpus. The continual-ingestion dedup path: each incoming
    batch is signed and banded, then joined against the corpus's bands —
    the corpus is NEVER re-paired against itself (minhash_lsh_pairs'
    self-join is O(corpus²) candidate space; the probe's candidate space
    is O(batch x collisions), the whole point of an incremental index).

    The corpus side is either `corpus_docs` (signed on the fly with the
    identical family — `hash_mode="portable"` keeps that pipeline
    DuckDB-replayable, q88) or `corpus_index` — a MAINTAINED
    `signature_index` table (doc_id, keys, sig), the deployment shape:
    band hashes fold from the stored signature and the exact-Jaccard
    verify reuses the stored key arrays, so the corpus text is never
    re-read (q90; lakehouse/dedup_index.SignatureIndex persists it with
    WAP exactly-once ingest).

    Returns (new_id, corpus_id, jaccard) for exact-verified pairs with
    Jaccard ≥ threshold.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    if (corpus_docs is None) == (corpus_index is None):
        raise ValueError(
            "exactly one of corpus_docs / corpus_index must be given"
        )
    if corpus_index is not None and hash_mode != "portable":
        raise ValueError(
            "corpus_index stores the portable family — pass "
            'hash_mode="portable"'
        )
    r = num_hashes // bands
    cpus = new_docs.sparkSession.sparkContext.defaultParallelism

    def _keyed_sig(docs: DataFrame):
        """(keyed-or-arrays df, sig df, sets-source df) for one side.
        Portable mode uses the ONE-Arrow-pass fast path (keys + full
        signature per doc — no explode, no per-shingle shuffle; the
        same path minhash_lsh_pairs measured 2x+ on)."""
        if hash_mode == "portable":
            base = docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
            )
            if base.rdd.getNumPartitions() < cpus:
                base = base.repartition(cpus, "doc_id")
            dk = (
                base.select(
                    "doc_id",
                    doc_keys_sig_udf(n, num_hashes)(F.col("_t")).alias("ks"),
                )
                .select("doc_id", "ks.keys", "ks.sig")
                .filter(F.size("keys") > 0)
                .persist()
            )
            sig = dk.select("doc_id", F.col("sig").alias("signature"))
            sets_src = dk.select("doc_id", F.col("keys").alias("sh"))
            return dk, sig, sets_src
        ex = doc_shingles(docs, id_col, text_col, n)
        keyed = ex.select(
            "doc_id", F.xxhash64("shingle").alias("key")
        ).persist()
        mins = [
            F.min(F.xxhash64(F.col("key"), F.lit(k))).alias(f"h{k}")
            for k in range(num_hashes)
        ]
        sig = keyed.groupBy("doc_id").agg(*mins).select(
            "doc_id",
            F.array(*[f"h{k}" for k in range(num_hashes)]).alias("signature"),
        )
        return keyed, sig, None

    def _bands(sig: DataFrame) -> DataFrame:
        return sig.select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        band_hash_col("signature", bi, r, hash_mode).alias(
                            "band_hash"
                        ),
                    )
                    for bi in range(bands)
                ])
            ).alias("band"),
        ).select("doc_id", "band.band_id", "band.band_hash")

    keyed_new, sig_new, sets_new = _keyed_sig(new_docs)
    if corpus_index is not None:
        dk_cor = (
            corpus_index.select("doc_id", "keys", "sig")
            .filter(F.size("keys") > 0)
            .persist()
        )
        keyed_cor = dk_cor
        sig_cor = dk_cor.select("doc_id", F.col("sig").alias("signature"))
        sets_cor = dk_cor.select("doc_id", F.col("keys").alias("sh"))
    else:
        keyed_cor, sig_cor, sets_cor = _keyed_sig(corpus_docs)
    nb = _bands(sig_new).alias("n")
    cb = _bands(sig_cor).alias("c")
    candidates = (
        nb.join(
            cb,
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
        .persist()
    )
    candidates.count()

    def _sets(keyed: DataFrame, sets_src, ids: DataFrame) -> DataFrame:
        # The broadcast below ships only candidate DOC IDS (8 bytes
        # each), never key arrays: bounded by O(batch × band
        # collisions) ids — the incremental-batch contract. A
        # pathological batch where everything collides with everything
        # inflates this toward |batch|·|corpus| ids; at the default
        # 10 MB broadcast threshold Spark would refuse long before
        # memory is at risk, and dropping the hint degrades gracefully
        # to a shuffled left_semi. Deliberately not capped harder.
        if sets_src is not None:
            # fast path: the per-doc key array IS the distinct set
            return sets_src.join(F.broadcast(ids), "doc_id", "left_semi")
        return (
            keyed.join(F.broadcast(ids), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("key").alias("sh"))
        )

    sn = _sets(
        keyed_new, sets_new,
        candidates.select(F.col("new_id").alias("doc_id")).distinct(),
    ).select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n"))
    sc = _sets(
        keyed_cor, sets_cor,
        candidates.select(F.col("corpus_id").alias("doc_id")).distinct(),
    ).select(F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sh_c"))
    inter = F.size(F.array_intersect(F.col("sh_n"), F.col("sh_c")))
    union = F.size("sh_n") + F.size("sh_c") - inter
    verified = (
        candidates.join(sn, "new_id")
        .join(sc, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .persist()
    )
    verified.count()
    for df in (candidates, keyed_new, keyed_cor):
        df.unpersist()
    return verified
