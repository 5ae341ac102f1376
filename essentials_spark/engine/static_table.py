"""Bucketed persistence for static DataFrames in iterative loops.

The scale problem (found in round 1 for PageRank, BENCH/BASELINE.md
§3d, now shared by every iterative algorithm): a cached or
localCheckpointed edge DataFrame loses its partitioning knowledge at
the LogicalRDD boundary, so each superstep's ``state ⋈ edges`` join
re-exchanges the *graph* instead of the *vertex state*. At 10^12 edges
the static side re-crossing the wire per iteration is the dominant
cost — the whole point of the reference's preprocessed load-balancer
layouts (operators/advance/merge_path.hxx:28-114) is that static-graph
work happens once.

Fix: persist the static side as a bucketed table. The bucketed scan
reports HashPartitioning(keys, n) to Catalyst, so every subsequent
equi-join on those keys shuffles ONLY the other (vertex-state) side.

Lifecycle is cluster-safe: table names are unique per call (no
cross-run collisions, no warehouse-path rmtree hacks — two concurrent
runs on a shared metastore never collide) and dropped via the catalog
(``DROP TABLE``), which purges managed-table storage on object stores
as well as local disk.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Vertex-state rows up to this count broadcast to the static side's
# layout (zero-shuffle superstep, the fast path while state fits in
# every executor); above it the state is shuffled-hash into the
# bucketed edge layout instead. Catalyst's own size estimate of a
# persisted iterate is unreliable (carried stats, see
# superstep.truncate_plan), so the decision is made on the KNOWN row
# count, not the estimate: an unhinted multi-million-row persisted
# state was observed to broadcast ~60MB-estimated plans that
# deserialize to several hundred MB per task and OOM the executor.
STATE_BROADCAST_MAX_ROWS = 500_000


def adaptive_buckets(spark: SparkSession, rows: int | None) -> int | None:
    """Size-derived partition count for ``rows`` KNOWN rows: the bucket
    count of a static table and the shuffle partitions of a small
    superstep loop (SuperstepRunner.loop). At scale (rows >= 65536 x
    defaultParallelism) this returns defaultParallelism, while a
    gate-scale table gets a handful of buckets so every later scan
    stage schedules a handful of tasks instead of one per core (guide
    §2.2/§6: partition by size, not by a constant tuned to the box).
    None (unknown rows) keeps the caller's default."""
    if rows is None:
        return None
    return max(1, min(spark.sparkContext.defaultParallelism, rows // 65536 + 1))


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter attached: after the first action on the
    returned frame, ``obs.get["rows"]`` is its exact row count, taken
    by that action itself (no extra job)."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def hint_state_join(state: DataFrame, n_rows: int | None) -> DataFrame:
    """Hint the vertex-state side of a ``static_edges ⋈ state`` join.

    ``n_rows``: known upper bound on the state's row count (vertex
    count); None means unknown → assume large. Small → broadcast (the
    static side never moves, no shuffle at all); large → shuffle_hash
    (only the state moves into the bucketed layout, and neither side is
    sorted — a merge hint would re-sort the edge table every round)."""
    if n_rows is not None and n_rows <= STATE_BROADCAST_MAX_ROWS:
        return F.broadcast(state)
    return state.hint("shuffle_hash")


@dataclass
class StaticTable:
    """Handle for a bucketed static table: ``df`` to join against,
    ``rows`` counted by the write itself, ``drop()`` when the run
    finishes."""

    spark: SparkSession
    table: str
    df: DataFrame
    rows: int

    def drop(self) -> None:
        try:
            self.df.unpersist()
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")


def persist_bucketed(
    df: DataFrame,
    keys: list[str] | str,
    n_buckets: int | None = None,
    name_hint: str = "static",
    cache: bool = True,
) -> StaticTable:
    """Write ``df`` as a parquet table bucketed (and sorted) by ``keys``.

    One full pass over the data up front buys shuffle-free joins on
    ``keys`` for every later superstep. ``n_buckets`` should track the
    cluster's shuffle parallelism (thousands at 100 TB, each bucket
    sized to fit executor memory). The write also counts the rows it
    writes (``StaticTable.rows``), so no caller re-counts the table.

    ``cache`` (default): the bucketed scan is additionally persisted —
    InMemoryTableScan preserves the scan's HashPartitioning (verified
    by plan test), so supersteps keep the no-edge-exchange property
    while reading from memory instead of re-scanning parquet every
    round; eviction falls back to the parquet table (recompute = scan,
    never a shuffle).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    spark = df.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism
    table = f"es_{name_hint}_{uuid.uuid4().hex[:10]}"
    counted, obs = observe_rows(df)
    (
        counted.write.bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .mode("errorifexists")
        .format("parquet")
        .saveAsTable(table)
    )
    out = spark.table(table)
    if cache:
        out = out.persist()
    return StaticTable(spark, table, out, obs.get["rows"])


def reap_stale_tables(
    spark: SparkSession, prefix: str = "es_", max_age_hours: float = 24.0
) -> list[str]:
    """Drop orphaned static tables left by crashed/killed runs.

    Per-run unique names mean a crash can't corrupt anyone else's
    tables, but the storage lingers (drop() only fires on clean
    finalize). This reaps catalog tables matching ``prefix`` whose
    creation time is older than ``max_age_hours`` — age-gated so
    concurrent live runs are never touched. Catalog-portable: uses
    DESCRIBE TABLE EXTENDED's Created Time, works on object-store
    warehouses the same as local disk. Returns the dropped names."""
    import datetime as _dt

    def _parse_created(created: str) -> _dt.datetime | None:
        """Parse DESCRIBE's 'EEE MMM dd HH:mm:ss zzz yyyy' (java.util.Date
        toString) to an aware UTC datetime; None when it can't be parsed
        — callers must SKIP such tables, never reap them on a guessed
        age. Primary path: the SAME JVM that rendered the string parses
        it back (SimpleDateFormat resolves its own default-locale zone
        abbreviations consistently — a Python-side map would guess
        wrong on ambiguous abbreviations like CST/IST/BST, misdating a
        LIVE table by hours and reaping it). Fallback (JVM call fails):
        pure-Python, restricted to unambiguous zones."""
        try:
            jvm = spark.sparkContext._jvm
            sdf = jvm.java.text.SimpleDateFormat("EEE MMM dd HH:mm:ss zzz yyyy", jvm.java.util.Locale.US)
            ms = sdf.parse(created).getTime()
            return _dt.datetime.fromtimestamp(ms / 1000.0, _dt.timezone.utc)
        except Exception:
            pass
        parts = created.split()
        if len(parts) != 6:
            return None
        zone = parts[4]
        try:
            naive = _dt.datetime.strptime(
                " ".join(parts[:4] + parts[5:]), "%a %b %d %H:%M:%S %Y"
            )
        except ValueError:
            return None
        # explicit-offset forms, then only UNAMBIGUOUS zone names —
        # CST/IST/BST/EST and friends collide across continents, so
        # they are deliberately absent (skip beats a wrong reap)
        offsets = {"GMT": 0.0, "UTC": 0.0, "UT": 0.0, "Z": 0.0}
        off: float | None = None
        if zone.startswith(("GMT+", "GMT-", "UTC+", "UTC-")):
            sign = 1.0 if zone[3] == "+" else -1.0
            hh, _, mm = zone[4:].partition(":")
            try:
                off = sign * (float(hh) + (float(mm) if mm else 0.0) / 60.0)
            except ValueError:
                return None
        elif zone in offsets:
            off = offsets[zone]
        if off is None:
            return None
        return (naive - _dt.timedelta(hours=off)).replace(tzinfo=_dt.timezone.utc)

    dropped = []
    now = _dt.datetime.now(_dt.timezone.utc)
    for t in spark.catalog.listTables():
        if not t.name.startswith(prefix):
            continue
        try:
            rows = spark.sql(f"DESCRIBE TABLE EXTENDED {t.name}").collect()
            created = next(
                (r["data_type"] for r in rows if r["col_name"] == "Created Time"), None
            )
            if created is None:
                continue
            ts = _parse_created(created)
            if ts is None:
                continue  # unparseable timestamp: skip, never reap blind
            if (now - ts).total_seconds() > max_age_hours * 3600:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
                dropped.append(t.name)
        except Exception:
            continue  # races with concurrent drops are fine

    # in-memory-catalog fallback (local/dev only): a crashed run's
    # table directory has NO catalog entry in a fresh session, so the
    # catalog pass above can't see it. Reap prefix-matched warehouse
    # directories that are (a) absent from the catalog and (b) older
    # than the age gate by mtime. Only runs for file:// warehouses —
    # persistent metastores (the cluster configuration) are served
    # entirely by the catalog pass.
    import os
    import shutil
    import time as _time
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme in ("", "file") and os.path.isdir(wh.path):
        live = {t.name for t in spark.catalog.listTables()}
        cutoff = _time.time() - max_age_hours * 3600
        for name in os.listdir(wh.path):
            p = os.path.join(wh.path, name)
            if (
                name.startswith(prefix)
                and name not in live
                and os.path.isdir(p)
                and os.path.getmtime(p) < cutoff
            ):
                shutil.rmtree(p, ignore_errors=True)
                dropped.append(name)
    return dropped


def prepare_static_edges(
    edges: DataFrame,
    runner,
    keys: list[str] | str = "src",
    mode: str = "bucketed",
    n_buckets: int | None = None,
    name_hint: str = "edges",
    rows: int | None = None,
) -> tuple[DataFrame, int]:
    """Standard static-edge prep for a superstep loop. Returns
    ``(df, rows)``: the frame to join against and its row count — the
    loop's known work size for ``runner.loop(work_rows=...)``.

    mode='bucketed' (default, the at-scale configuration): persist as a
    bucketed table owned by ``runner`` (dropped on
    ``runner.finalize()``); rows are counted by the write.
    mode='shuffle': plain repartition + lineage truncation (the round-1
    shape; kept for A/B tests and for one-shot algorithms where a
    table write cannot amortize); rows are counted by the truncation.
    mode='prepared': the caller already persisted this DataFrame with a
    stable ``keys`` partitioning (e.g. one ``persist_bucketed`` shared
    by several algorithms over the same graph — CC and LP both consume
    the symmetrized table, so writing it once in the graph-build phase
    halves the static-side preprocessing); used as-is, caller owns the
    lifecycle and passes the ``rows`` it knows (counted here only when
    it does not).
    """
    from essentials_spark.engine.superstep import truncate_plan

    if mode == "prepared":
        return edges, edges.count() if rows is None else rows
    if mode == "bucketed":
        st = persist_bucketed(edges, keys, n_buckets=n_buckets, name_hint=name_hint)
        if runner is not None:
            runner.own(st)
        return st.df, st.rows
    keys = [keys] if isinstance(keys, str) else list(keys)
    counted, obs = observe_rows(edges.repartition(*keys))
    out = truncate_plan(counted)
    return out, obs.get["rows"]
