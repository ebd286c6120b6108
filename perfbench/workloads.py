"""The benchmark workloads. Each is closed loop, takes its inputs from
the run's seed only, and drives the package through its public
functions.

- `corpus`: one client runs the frozen list `CORPUS` of read-only
  corpus queries: JVM joins, windows and aggregates, and training-data
  queries over `documents`/`embeddings` whose executed plans run
  Python/Arrow workers.
- `live_lake`: one writer thread replays simulated days: it ingests
  seeded JSONL micro-batches into `taxi_trips`/`processing_errors`,
  keeps an hourly rollup fresh, compacts after each batch, and once a
  day MERGEs late corrections and expires old snapshots, while two
  reader threads rotate through predicate scans, time travel, rollup
  reads and BigQuery-dialect SQL on the same warehouse.

Correctness is checked after every op, outside its timing: query
results against the DuckDB oracle, lakehouse reads against snapshot
metadata, and the rollup against a recount of its base at the end.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from random import Random
from types import ModuleType

import fixtures
from tracing import SparkCounters, Tracer, instrument, restore

# The frozen op list of the `corpus` workload: three read-only JVM
# queries (aggregate top-k, star join, window over an aggregate) and
# two training-data queries whose plans run Python/Arrow workers
# (n-gram Jaccard near-duplicates, embedding nearest pairs). A change
# to a plan must not move a query in or out; edit the list only in a
# change that redefines the benchmark.
CORPUS = (
    "q03_top_groups", "q07_star_join_revenue", "q26_agg_of_agg_window",
    "q35_ngram_jaccard", "q39_nearest_pairs",
)

# One timed pass per PASS_S of --seconds (2 passes at 20 s), so that
# every run does the same work. A pass takes 7-10 s on 4 cores.
PASS_S = 10.0

# Untimed passes before the timed ones. A query's latency keeps falling
# over its first calls (JIT, Python workers): q39 took 2.3, 1.7, 1.6,
# 1.5 and 1.2 s on its second to sixth calls in one session at
# local[4], then 1.0-1.3 s.
WARMUP_PASSES = 2

# Row counts relative to the sf0.1 layout (600k lineitem rows), the
# scale the corpus is benchmarked at.
QUERY_SCALE = 1.0

# live_lake traffic, taken from the reference's figures (BASELINE.md):
# - B10: 1,000 trips a day; B11: sample JSONL files of 500 rows. So a
#   simulated day is two 500-row micro-batches.
# - B17: hourly compaction. The table changes only when a batch lands,
#   so compacting after each batch is what hourly compaction does; the
#   hours between find nothing to rewrite.
# - B17: daily expiry; B13: 7-day retention. A run measures one
#   simulated day per DAY_S of --seconds, so retention is compressed
#   7:1 to one day: the day's expiry drops every snapshot taken before
#   the day began (the untimed warm-up is day 0).
# - Late corrections: the reference gives no rate. Once a day, before
#   the expiry, the writer MERGEs the trips ingest rejected that day
#   (`corrupt_some`'s tenth), re-sent repaired.
BATCH_ROWS = 500
BATCHES_PER_DAY = 2
DAY = (
    "ingest", "refresh", "compact",
    "ingest", "refresh", "compact",
    "merge", "expire",
)
DAY_S = 20.0  # about one day's wall time on 4 cores
TRAVEL_BACK = 2  # time-travel reads pin head - 2
READ_KINDS = ("predicate", "time_travel", "rollup", "sql")
READERS = 2

GATEWAY_SQL = """
SELECT pickup_location_id,
       COUNT(*) AS trips,
       COUNTIF(payment_type = 'card') AS card_trips,
       SAFE_DIVIDE(SUM(tip_amount), SUM(fare_amount)) AS tip_share,
       MAX(TIMESTAMP_DIFF(dropoff_datetime, pickup_datetime, MINUTE)) AS longest_min
FROM `lakehouse.taxi.taxi_trips`
WHERE pickup_date = '{date}'
GROUP BY pickup_location_id
ORDER BY trips DESC, pickup_location_id
LIMIT 5
"""


@dataclass
class OpRecord:
    client: str
    kind: str  # "read" or "write"
    name: str
    start: float
    end: float
    ok: bool
    traced: bool
    error: str | None = None
    op_id: int | None = None  # root span id of a traced op
    counters: dict | None = None
    info: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


class Ctx:
    """State of one benchmark run, shared by a workload's clients."""

    def __init__(self, spark_factory, seed: int, seconds: float,
                 trace: bool, run_dir: str) -> None:
        self.spark_factory = spark_factory
        self.spark = None
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.tracer = Tracer()
        self.counters: SparkCounters | None = None
        self.records: list[OpRecord] = []
        self.setup: dict[str, float] = {}
        self.extra: dict = {}
        self.checks: list[str] = []
        self._lock = threading.Lock()
        self._undo: list = []

    # -- set-up -----------------------------------------------------------
    def timed_fixtures(self, make) -> object:
        """Generate the fixtures into the run directory and record the
        time it took."""
        t0 = time.perf_counter()
        out = make(os.path.join(self.run_dir, "fixtures"))
        self.setup["fixtures_s"] = time.perf_counter() - t0
        return out

    def start_spark(self) -> None:
        t0 = time.perf_counter()
        self.spark = self.spark_factory()
        self.setup["get_spark_s"] = time.perf_counter() - t0
        if self.trace:
            self.counters = SparkCounters(self.spark)
            from de_gcp_lakehouse_iceberg_spark import plans, tables

            mods = [tables] + [
                m for m in vars(plans).values() if isinstance(m, ModuleType)]
            self._undo = instrument(self.tracer, mods)

    def close(self) -> None:
        restore(self._undo)
        self._undo = []

    # -- ops --------------------------------------------------------------
    def coin_flip(self, coin: Random) -> bool:
        """Whether a client's next op is traced: in a traced run, half of
        the reads, chosen by the client's seeded `coin`; the other half
        give the untraced baseline for the tracing overhead."""
        return self.trace and coin.random() < 0.5

    def run_op(self, client: str, kind: str, name: str, fn, check,
               traced: bool, record: bool = True) -> OpRecord:
        """Time `fn()`; then, outside the timing, read the op's Spark
        counters (traced ops) and run `check(result)`, which returns an
        error string or None."""
        group = None
        result, error = None, None
        with self.tracer.op(name, traced) as op_id:
            if traced:
                group = f"perfbench-{op_id}"
                self.counters.begin(group)
            t0 = time.time()
            try:
                result = fn()
            except Exception:  # an op failure is a counted outcome
                error = traceback.format_exc(limit=4)
            t1 = time.time()
            if traced:
                self.counters.end()
        counters = self.counters.read(group, t0, t1) if traced else None
        if error is None:
            try:
                error = check(result)
            except Exception:
                error = "check raised: " + traceback.format_exc(limit=4)
        rec = OpRecord(client, kind, name, t0, t1, error is None, traced,
                       error, op_id, counters)
        if isinstance(result, dict):
            rec.info = {k: v for k, v in result.items() if not k.startswith("_")}
        if record:
            with self._lock:
                self.records.append(rec)
        return rec


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------
def query_passes(names: tuple[str, ...], seed: int):
    """Endless passes over `names`, each in a seeded shuffled order;
    the first WARMUP_PASSES passes are the warm-up."""
    rng = Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def corpus(ctx: Ctx) -> None:
    from de_gcp_lakehouse_iceberg_spark.plans import ORACLE_SQL, QUERIES
    from de_gcp_lakehouse_iceberg_spark.testing import canonical, run_oracle
    from pyspark.sql.types import TimestampType

    def make_tables(d: str) -> str:
        fixtures.write_tables(d, ctx.seed, QUERY_SCALE)
        return d

    data_dir = ctx.timed_fixtures(make_tables)
    t0 = time.perf_counter()
    oracle = {}
    for q in CORPUS:
        cols, rows = run_oracle(ORACLE_SQL[q], data_dir)
        oracle[q] = (sorted(cols), canonical(cols, rows))
    ctx.extra["oracle_s"] = time.perf_counter() - t0
    ctx.start_spark()
    spark, tracer = ctx.spark, ctx.tracer

    def make_op(q):
        def fn():
            with tracer.span("plans.build"):
                df = QUERIES[q](spark, data_dir)
            with tracer.span("plans.collect"):
                rows = df.collect()
            return df, rows

        def check(res):
            df, rows = res
            cols = df.columns
            want_cols, want = oracle[q]
            if sorted(cols) != want_cols:
                return f"{q}: columns {sorted(cols)} != oracle {want_cols}"
            inst = {f.name for f in df.schema.fields
                    if isinstance(f.dataType, TimestampType)}
            got = canonical(cols, [tuple(r) for r in rows], instant_cols=inst)
            if got != want:
                return f"{q}: {len(got)} rows differ from the oracle's {len(want)}"
            return None

        return fn, check

    ops = {q: make_op(q) for q in CORPUS}
    passes = query_passes(CORPUS, ctx.seed)

    # untimed warm-up passes, their queries spread over the cores
    t0 = time.perf_counter()
    warm = [q for _ in range(WARMUP_PASSES) for q in next(passes)]
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        recs = list(pool.map(
            lambda q: ctx.run_op("warmup", "read", q, *ops[q], traced=False, record=False),
            warm))
    ctx.checks.extend(f"warm-up {r.name}: {r.error}" for r in recs if not r.ok)
    ctx.setup["warmup_s"] = time.perf_counter() - t0

    # A fixed number of whole passes per --seconds, so every run does
    # the same work and every query weighs the same in it.
    coin = Random(ctx.seed + 1)
    n_passes = max(1, round(ctx.seconds / PASS_S))
    ctx.extra["window_start"] = time.time()
    for _ in range(n_passes):
        for q in next(passes):
            ctx.run_op("client0", "read", q, *ops[q], ctx.coin_flip(coin))
    ctx.extra.update(clients=1, passes=n_passes)


# ---------------------------------------------------------------------------
# live_lake
# ---------------------------------------------------------------------------
class _Pins:
    """The taxi_trips versions readers are reading. A read pins its
    version for the op and its check; expiry waits until no read holds
    a version older than the day's first, which it is about to drop.
    With the reference's 7-day retention no read is ever that old."""

    def __init__(self, floor: int) -> None:
        self.floor = floor  # no new read pins below this version
        self._held: dict[int, int] = {}
        self._cond = threading.Condition()

    @contextlib.contextmanager
    def pin(self, want: int):
        with self._cond:
            v = max(self.floor, want)
            self._held[v] = self._held.get(v, 0) + 1
        try:
            yield v
        finally:
            with self._cond:
                self._held[v] -= 1
                if not self._held[v]:
                    del self._held[v]
                self._cond.notify_all()

    def raise_floor(self, floor: int) -> None:
        with self._cond:
            self.floor = floor

    def drain(self) -> None:
        with self._cond:
            self._cond.wait_for(lambda: all(v >= self.floor for v in self._held))


class _Warehouse:
    """The writer's view of the live warehouse plus the bookkeeping
    behind the amplification metrics."""

    def __init__(self, ctx: Ctx, root: str, days: list[dict]):
        from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable

        self.ctx = ctx
        self.root = root
        self.days = days
        self.batches = [b for d in days for b in d["batches"]]
        spark = ctx.spark
        self.trips = LakeTable.create(
            spark, os.path.join(root, "taxi_trips"), partition_by=["pickup_date"])
        self.errors = LakeTable.create(spark, os.path.join(root, "processing_errors"))
        self.rollup = None
        self.pins = _Pins(self.trips.current_version())
        self.day = 0
        self.next_batch = 0
        self.lines_sent = 0  # JSONL lines written to the tables, corrections included
        self.rows_ingested = 0
        self.input_bytes = 0
        self.bytes_committed = 0
        self.manifest_bytes = 0
        self.files_live_peak = 0
        self._seen_files: set[str] = set()
        self._seen_manifests: set[str] = set()

    def tables(self):
        out = [self.trips, self.errors]
        if self.rollup is not None:
            out.append(self.rollup.table)
        return out

    def heads(self) -> int:
        return sum(t.current_version() for t in self.tables())

    def account(self) -> int:
        """Bytes committed since the last call: newly referenced data
        files plus new manifest files, over every table."""
        before = self.bytes_committed + self.manifest_bytes
        for t in self.tables():
            for f in t.snapshot().files:
                key = os.path.join(t.root, f.path)
                if key not in self._seen_files:
                    self._seen_files.add(key)
                    self.bytes_committed += f.bytes
            mdir = os.path.join(t.root, "_manifests")
            for name in os.listdir(mdir):
                key = os.path.join(mdir, name)
                if key not in self._seen_manifests:
                    self._seen_manifests.add(key)
                    self.manifest_bytes += os.path.getsize(key)
        self.files_live_peak = max(self.files_live_peak, len(self.trips.snapshot().files))
        return self.bytes_committed + self.manifest_bytes - before

    def start_day(self, day: int) -> None:
        """From here on, reads pin no version older than the day's
        first, and the day's expiry drops every older one."""
        self.day = day
        self.pins.raise_floor(self.trips.current_version())

    def _classified(self, path: str):
        from de_gcp_lakehouse_iceberg_spark.sources.ingest import (
            classify_trips,
            read_jsonl,
        )

        return classify_trips(read_jsonl(self.ctx.spark, path), mode="batch")

    @staticmethod
    def _trip_rows(valid):
        from pyspark.sql import functions as F

        return (valid.withColumn("pickup_date", F.to_date("pickup_datetime").cast("string"))
                .withColumn("pickup_hour", F.date_trunc("hour", "pickup_datetime")))

    # -- writer ops ---------------------------------------------------------
    def ingest(self) -> dict:
        from de_gcp_lakehouse_iceberg_spark.sources.ingest import (
            invalid_trips,
            valid_trips,
        )

        tr = self.ctx.tracer
        b = self.next_batch
        path, nbytes = self.batches[b]
        with tr.span("sources.classify"):
            classified = self._classified(path).cache()
            rows = classified.count()
        with tr.span("lakehouse.append"):
            self.trips.append(self._trip_rows(valid_trips(classified)))
        with tr.span("lakehouse.append"):
            self.errors.append(invalid_trips(classified))
        classified.unpersist()
        self.next_batch += 1
        self.rows_ingested += rows
        self.lines_sent += BATCH_ROWS
        self.input_bytes += nbytes
        return {"batch": b, "rows": rows}

    def create_rollup(self) -> None:
        from de_gcp_lakehouse_iceberg_spark.lakehouse.ivm import IncrementalRollup

        self.rollup = IncrementalRollup.create(
            self.ctx.spark, os.path.join(self.root, "hourly_rollup"), self.trips,
            group_cols=["pickup_hour", "pickup_location_id"],
            sum_cols=["total_amount"])

    def refresh(self) -> dict:
        with self.ctx.tracer.span("lakehouse.ivm_refresh"):
            out = self.rollup.refresh()
        return {"delta_rows": out.get("delta_rows", 0)}

    def merge(self) -> dict:
        """MERGE the day's corrections on trip_id: each was rejected at
        ingest, so none matches and every one is inserted."""
        from de_gcp_lakehouse_iceberg_spark.lakehouse import dml
        from de_gcp_lakehouse_iceberg_spark.sources.ingest import valid_trips

        path, nbytes, n = self.days[self.day]["corrections"]
        before = self.trips.snapshot().total_rows
        with self.ctx.tracer.span("sources.classify"):
            src = self._trip_rows(valid_trips(self._classified(path)))
        with self.ctx.tracer.span("lakehouse.merge"):
            dml.merge(self.trips, src, on=["trip_id"], when_not_matched_insert=True)
        inserted = self.trips.snapshot().total_rows - before
        self.rows_ingested += n
        self.lines_sent += n
        self.input_bytes += nbytes
        return {"corrections": n, "inserted": inserted}

    def compact(self) -> dict:
        from de_gcp_lakehouse_iceberg_spark.lakehouse import maintenance

        with self.ctx.tracer.span("lakehouse.compact"):
            out = maintenance.compact(self.trips)
        return {"rewritten": out.get("rewritten_files", 0)}

    def expire(self) -> dict:
        cutoff = self.trips.snapshot(self.pins.floor).timestamp_ms
        with self.ctx.tracer.span("lakehouse.expire"):
            out = self.trips.expire_snapshots(older_than_ms=cutoff)
        return {"expired": out["expired_snapshots"], "deleted_files": out["deleted_files"]}


def _check_write(name: str):
    """The per-op check of a writer op; the end-of-run invariants
    cover what the writes left in the tables."""
    def check(res: dict) -> str | None:
        if name == "merge" and res["inserted"] != res["corrections"]:
            return f"merge inserted {res['inserted']} of {res['corrections']} corrections"
        if name == "expire" and res["expired"] < 1:
            return "expiry dropped no snapshot"
        return None

    return check


class _Reader:
    """One reader client: its own Spark session (so temp views of the
    SQL gateway never collide), its own table handles."""

    def __init__(self, ctx: Ctx, wh: _Warehouse, idx: int):
        from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
        from de_gcp_lakehouse_iceberg_spark.lakehouse.ivm import load_rollup
        from de_gcp_lakehouse_iceberg_spark.sql_gateway import SqlGateway

        self.ctx = ctx
        self.idx = idx
        self.pins = wh.pins
        self.session = ctx.spark.newSession()
        self.trips = LakeTable.load(self.session, wh.trips.root)
        self.rollup = load_rollup(self.session, wh.rollup.root)
        self.gateway = SqlGateway(self.session, {"taxi_trips": self.trips})
        self.rng = Random(ctx.seed * 101 + idx)
        self.dates = ["2025-03-01", "2025-03-02", "2025-03-03", "2025-03-04"]

    def run(self, kind: str, client: str, traced: bool, record: bool = True) -> OpRecord:
        """One read. Reads of taxi_trips pin the version they read
        (the SQL gateway's at least the head it starts from)."""
        if kind == "rollup":
            return self.ctx.run_op(
                client, "read", kind, *self._op(kind, None), traced, record)
        head = self.trips.current_version()
        want = head - TRAVEL_BACK if kind == "time_travel" else head
        with self.pins.pin(want) as v:
            return self.ctx.run_op(
                client, "read", kind, *self._op(kind, v), traced, record)

    def _op(self, kind: str, v: int | None):
        tr = self.ctx.tracer
        date = self.rng.choice(self.dates)
        if kind == "predicate":
            def fn():
                from pyspark.sql import functions as F

                with tr.span("lakehouse.scan"):
                    df = self.trips.scan(version=v, where=[("pickup_date", "=", date)])
                return {"n": df.agg(F.count("*").alias("n")).collect()[0]["n"]}

            def check(res):
                snap, planned = self.trips.plan_files(
                    version=v, where=[("pickup_date", "=", date)])
                want = sum(f.rows for f in snap.files
                           if f.partition.get("pickup_date") == date)
                res["planned_ratio"] = len(planned) / max(1, len(snap.files))
                if res["n"] != want:
                    return f"predicate scan v{v}: {res['n']} rows != manifest {want}"
                return None
        elif kind == "time_travel":
            def fn():
                with tr.span("lakehouse.scan"):
                    df = self.trips.scan(version=v)
                return {"n": df.count()}

            def check(res):
                want = self.trips.snapshot(v).total_rows
                if res["n"] != want:
                    return f"time travel v{v}: {res['n']} rows != total_rows {want}"
                return None
        elif kind == "rollup":
            def fn():
                with tr.span("lakehouse.rollup_df"):
                    df = self.rollup.df(with_avg=True)
                return {"_rows": df.collect()}

            def check(res):
                rows = res["_rows"]
                if not rows or any(r["cnt"] <= 0 for r in rows):
                    return f"rollup read: {len(rows)} rows, or a group with cnt <= 0"
                return None
        else:
            def fn():
                with tr.span("sql_gateway.sql"):
                    df = self.gateway.sql(GATEWAY_SQL.format(date=date))
                return {"_rows": df.collect()}

            def check(res):
                rows = res["_rows"]
                if not 1 <= len(rows) <= 5 or any(
                        r["card_trips"] > r["trips"] for r in rows):
                    return f"gateway query: bad result {rows[:2]}"
                return None
        return fn, check


def _rollup_matches_base(wh: _Warehouse) -> str | None:
    """The rollup's totals equal a recount of its base at the rollup's
    source version."""
    from pyspark.sql import functions as F

    rt = wh.rollup.table
    rv = rt.current_version()
    sv = rt.snapshot(rv).summary["source_version"]
    got = {
        (r["pickup_hour"], r["pickup_location_id"]): (r["cnt"], r["sum_total_amount"])
        for r in rt.scan(version=rv).filter("cnt > 0").collect()
    }
    want = {
        (r["pickup_hour"], r["pickup_location_id"]): (r["cnt"], r["s"])
        for r in wh.trips.scan(version=sv)
        .groupBy("pickup_hour", "pickup_location_id")
        .agg(F.count("*").alias("cnt"), F.sum("total_amount").alias("s"))
        .collect()
    }
    if got != want:
        diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        return f"rollup != recount at source v{sv}: {len(diff)} groups differ"
    return None


def live_lake(ctx: Ctx) -> None:
    n_days = max(1, round(ctx.seconds / DAY_S))
    days = ctx.timed_fixtures(lambda d: fixtures.write_trip_days(
        d, ctx.seed, 1 + n_days, BATCHES_PER_DAY, BATCH_ROWS))
    ctx.start_spark()
    wh = _Warehouse(ctx, os.path.join(ctx.run_dir, "warehouse"), days)

    # Untimed warm-up, day 0: its first batch and the rollup, then its
    # second batch and a refresh beside each reader's four reads. The
    # first compaction, MERGE and expiry run cold inside the window, as
    # the first maintenance after a service start does.
    t0 = time.perf_counter()
    wh.ingest()
    wh.pins.raise_floor(wh.trips.current_version())  # day 0's first data
    wh.create_rollup()
    readers = [_Reader(ctx, wh, i) for i in range(READERS)]

    def warm_writer():
        return [ctx.run_op("writer", "write", name, fn, _check_write(name),
                           traced=False, record=False)
                for name, fn in (("ingest", wh.ingest), ("refresh", wh.refresh))]

    def warm_reader(r: _Reader):
        return [r.run(kind, "warmup", traced=False, record=False) for kind in READ_KINDS]

    with ThreadPoolExecutor(max_workers=1 + READERS) as pool:
        futures = [pool.submit(warm_writer)]
        futures += [pool.submit(warm_reader, r) for r in readers]
        recs = [rec for f in futures for rec in f.result()]
    ctx.checks.extend(f"warm-up {r.name}: {r.error}" for r in recs if not r.ok)
    ctx.setup["warmup_s"] = time.perf_counter() - t0

    wh.account()
    wh.bytes_committed = wh.manifest_bytes = 0
    wh.rows_ingested = wh.input_bytes = 0
    heads0 = wh.heads()
    ctx.extra["window_start"] = time.time()
    writer_done = threading.Event()
    failures: list[str] = []

    def writer():
        # every writer op is traced in a traced run: there are few, and
        # each kind should show in the per-layer metrics
        try:
            for day in range(1, 1 + n_days):
                wh.start_day(day)
                for name in DAY:
                    if name == "expire":
                        wh.pins.drain()
                    h0 = wh.heads()
                    rec = ctx.run_op("writer", "write", name, getattr(wh, name),
                                     _check_write(name), ctx.trace)
                    rec.info["commits"] = wh.heads() - h0
                    rec.info["bytes_written"] = wh.account()
        finally:
            writer_done.set()

    def reader(r: _Reader):
        coin = Random(ctx.seed + 10 + r.idx)
        i = 2 * r.idx
        while not writer_done.is_set():
            r.run(READ_KINDS[i % len(READ_KINDS)], f"reader{r.idx}", ctx.coin_flip(coin))
            i += 1

    def guarded(fn, *args):
        try:
            fn(*args)
        except Exception:  # a crashed client fails the run
            failures.append(traceback.format_exc(limit=6))

    threads = [threading.Thread(target=guarded, args=(writer,))]
    threads += [threading.Thread(target=guarded, args=(reader, r)) for r in readers]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ctx.checks.extend(failures)

    # end-of-run invariants (untimed)
    err = _rollup_matches_base(wh)
    if err:
        ctx.checks.append(err)
    stored = wh.trips.snapshot().total_rows + wh.errors.snapshot().total_rows
    if stored != wh.lines_sent:
        ctx.checks.append(f"rows stored {stored} != JSONL lines sent {wh.lines_sent}")
    live = sum(t.snapshot().total_bytes for t in wh.tables())
    on_disk = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(wh.root) for f in fs)
    ctx.extra.update({
        "clients": 1 + READERS,
        "readers": READERS,
        "days": n_days,
        "rows_ingested": wh.rows_ingested,
        "input_bytes": wh.input_bytes,
        "bytes_committed": wh.bytes_committed,
        "manifest_bytes_written": wh.manifest_bytes,
        "warehouse_bytes": on_disk,
        "live_bytes": live,
        "files_live_peak": wh.files_live_peak,
        "commits": wh.heads() - heads0,
        "batches": wh.next_batch,
    })
