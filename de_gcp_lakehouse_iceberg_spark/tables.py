"""Testdata table access (TESTDATA.md).

One parquet file per table under a scale-factor directory. Reads are
schema-on-file (parquet carries the schema); Catalyst prunes columns and
pushes filters into the scan, so callers should NOT pre-select — declare
the full plan and let the optimizer cut the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor — these
# grow sublinearly (region/nation are fixed) so broadcast hints are safe
# even at 100 TB fact-table scale.
BROADCAST_SAFE = {"region", "nation"}

# Tables whose DEFAULT consumers run per-row work heavy enough that scan
# parallelism IS the query's parallelism (regex chains, token explodes,
# Arrow signing UDFs) — the spread guard is on by default for these.
# This is a default HINT, not the decision: the decision itself is the
# measured split count (see spread()).
_HEAVY_DEFAULT = {"documents", "embeddings"}

# Hash key for the fan-out repartition per table — the table's unique
# key, so the exchange is balanced and downstream equi-joins on the key
# can reuse the partitioning.
_SPREAD_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# Measured max-parallelism per (normpath(sf_dir), table) — memoized so
# table() doesn't pay a metadata read (let alone driver-side physical
# planning) on every load. A fixture file's split ceiling is immutable
# within a session.
_SPLITS: dict[tuple[str, str], int] = {}
_ROWS: dict[tuple[str, str], int] = {}

# Fan-out floor for LIGHT per-row work (SQ8 codes, payload synthesis):
# below this many rows the starved splits' entire workload is cheaper
# than the exchange's fixed stage cost, so call sites with light
# projections route around the spread (measured crossovers: q96 no-
# spread wins at 2k rows, spread wins at 20k; q81 likewise 5k vs 50k).
# The text pipelines (regex chains, signing UDFs) keep the unconditional
# guard — their per-row cost crosses over well below the smallest
# fixture.
SPREAD_MIN_ROWS = 8192


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized footer row count — the cheap cardinality signal
    call-site routing decisions key on (e.g. q96 spreads its corpus
    side only when the starved splits would carry enough per-row work
    to amortize the exchange). -1 when the footer isn't readable as
    one file."""
    import os

    key = (os.path.normpath(sf_dir), name)
    if key not in _ROWS:
        try:
            import pyarrow.parquet as pq

            path = os.path.join(sf_dir, f"{name}.parquet")
            _ROWS[key] = pq.ParquetFile(path).metadata.num_rows
        except Exception:
            _ROWS[key] = -1
    return _ROWS[key]


def _parse_bytes(v: str) -> int:
    """Spark size-conf string to bytes ("134217728", "128m", "1g")."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(v).lower())
    if not m:
        raise ValueError(f"unparseable size conf {v!r}")
    mult = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40,
            "p": 2**50}[m.group(2)]
    return int(m.group(1)) * mult


def _measured_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Max achievable scan parallelism for the fixture file.

    Two independent ceilings, the scan gets the LOWER: (a) Spark cannot
    split a parquet scan below row-group granularity, so the row-group
    count bounds the non-empty tasks; (b) byte-based split planning
    packs ~maxPartitionBytes per task, so a file of many SMALL row
    groups still plans few splits. Both read once from the footer /
    file size (no Spark job, no RDD conversion; also AQE-independent,
    unlike observing df.rdd pre-execution). Falls back to the planned
    partition count if the path isn't one readable file (directory
    layouts)."""
    import math
    import os

    key = (os.path.normpath(sf_dir), name)
    if key not in _SPLITS:
        path = os.path.join(sf_dir, f"{name}.parquet")
        try:
            import pyarrow.parquet as pq

            groups = pq.ParquetFile(path).metadata.num_row_groups
            raw = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
            mpb = _parse_bytes(raw) if raw else 128 * 1024 * 1024
            planned = max(1, math.ceil(os.path.getsize(path) / mpb))
            _SPLITS[key] = min(groups, planned)
        except Exception:
            _SPLITS[key] = spark.read.parquet(path).rdd.getNumPartitions()
    return _SPLITS[key]


def table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread_corpus: bool = True,
    heavy: bool | None = None,
) -> DataFrame:
    """Load a testdata table, with the scan fan-out guard for heavy
    consumers.

    The corpus tables feed regex chains, token explodes, and Arrow
    signing UDFs — per-row work heavy enough that scan parallelism IS
    the query's parallelism. Their single-file fixtures carry almost
    no row groups (sf0.1: 1 split; sf3: 7), and Spark cannot split a
    parquet scan below row-group granularity, so without this guard
    the expensive stage of every corpus query ran on a fraction of
    the executor slots (q66's redaction chain at sf3: 18 s → ~4 s
    with the guard). At 100 TB file counts give natural fan-out and
    the guard no-ops — it keys on the MEASURED split ceiling (footer
    row-group count, memoized per fixture), never on the table name.

    ``heavy`` is the caller's per-pipeline declaration and overrides
    the default hint in both directions:
      - heavy=True  — this pipeline does expensive per-row work over
        the scan, apply the guard even to a relational table (a future
        narrow-file corpus gets the fix without an allowlist edit);
      - heavy=False / spread_corpus=False — opt out: for operators
        whose CONTRACT is the exchange count itself (q71's one-shuffle
        shard, q79's zero-shuffle scan-time split assignment) or
        consumers of only a key column, where the exchange is pure
        overhead (q81's generator reads nothing but doc_id);
      - default (None): guard on for the corpus tables, off for
        relational tables — their typical per-row work is plain
        columnar arithmetic, where an extra exchange costs about what
        it saves.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}")
    # Reference semantics are UTC-everything (sql/create_iceberg_tables.sql
    # timestamps); pin the session so results don't shift under a caller
    # session configured for another zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _read_events(spark, sf_dir)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    want = heavy if heavy is not None else (
        spread_corpus and name in _HEAVY_DEFAULT
    )
    if want:
        keys = (_SPREAD_KEYS[name],) if name in _SPREAD_KEYS else ()
        return spread(df, *keys,
                      measured=_measured_splits(spark, sf_dir, name))
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Dtype-dispatch for the events `ts` column — the testdata has shipped
    it as both TIMESTAMP(NANOS) (read as long under the legacy conf) and
    timestamp[us] (read as TIMESTAMP_NTZ). Normalize every variant to a
    session-TZ TIMESTAMP so downstream code (unix_micros, window(),
    watermarks) sees one type regardless of which file vintage is on disk.

    - bigint  : nanos-as-long → integer `div 1000` (stays in long space;
      nanos ~1.7e18 exceed double's 2^53 exact range) → timestamp_micros.
    - timestamp_ntz : cast to timestamp. The session TZ is pinned UTC
      (table(), read_events_stream), so the cast preserves instants.
    - timestamp : already right.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has carried TIMESTAMP(NANOS) — which Spark's
    vectorized reader rejects without nanosAsLong — and, in newer testdata
    vintages, timestamp[us] (TIMESTAMP_NTZ). Set the legacy conf so nanos
    files still load, then let normalize_events_ts dispatch on whatever
    dtype actually arrived."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def spread(df: DataFrame, *keys: str, measured: int | None = None) -> DataFrame:
    """Raise a narrow scan's parallelism to the session's core count
    before a compute-heavy projection.

    The corpus parquet files carry only a handful of row groups (the
    sf3 `documents` file splits into 7 tasks), and Spark cannot split
    a scan below row-group granularity — so a regex chain, token
    explode, or signing UDF over the raw scan runs on a fraction of
    the executor slots no matter what `maxPartitionBytes` says. One
    narrow repartition (corpus-bytes-sized, trivially parallel) buys
    full fan-out for the expensive stage above it; measured on q66's
    redaction chain at sf3: 18 s → ~4 s including the shuffle. No-op
    when the scan already splits to ≥ the core count (every relational
    table at every SF — their files carry enough row groups). At
    100 TB the same guard holds: file counts give natural parallelism
    and this becomes a no-op, which is why it keys on the MEASURED
    partition count, not the SF.

    ``measured`` lets the caller supply an already-known split count
    (table() memoizes the footer row-group ceiling per fixture) so the
    guard costs nothing per call; without it the planned partition
    count is observed from the DataFrame.
    """
    cpus = df.sparkSession.sparkContext.defaultParallelism
    splits = measured if measured is not None else df.rdd.getNumPartitions()
    if splits >= cpus:
        return df
    return df.repartition(cpus, *keys) if keys else df.repartition(cpus)
