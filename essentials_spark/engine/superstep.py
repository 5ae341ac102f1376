"""Bulk-synchronous superstep driver.

The Spark-native enactor (reference include/gunrock/framework/
enactor.hxx:243-254):

    prepare_frontier(); while (!is_converged()) { loop(); ++iteration; }
    finalize();

becomes a driver-side Python loop where each superstep is one Spark
job and convergence is a tiny aggregate collect. Algorithms say WHAT
the loop is, the runner decides HOW:

    edges, m = prepare_static_edges(...)     # rows carried from the write
    with runner.loop(work_rows=m) as small:  # one scope, one size gate
        while not converged: ...
    return runner.finalize(out)              # out never reads a dropped table

The module also owns the three concerns GPU loops never face but
10^12-edge iteration chains must (SURVEY.md §7.3):

1. **lineage truncation** — iterative DataFrames grow an unbounded
   plan; every ``checkpoint_every`` iterations the state is written to
   parquet (Iceberg on a real cluster) and re-read, otherwise
   ``localCheckpoint`` truncates in memory;
2. **resumability** — durable checkpoints are tagged with the
   iteration number; ``latest()`` restores the newest one so a killed
   run restarts mid-loop and reproduces identical output;
3. **metrics/lineage logging** — per-iteration rows (iteration,
   frontier size / delta, wall-clock, edges processed, per-partition
   row counts, failed cleanups) appended to a metrics table.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from essentials_spark.engine.static_table import (
    STATE_BROADCAST_MAX_ROWS,
    StaticTable,
    adaptive_buckets,
)

# --- the loop scope's size gate -------------------------------------
# AQE re-optimizes the remaining plan at every shuffle/broadcast stage
# boundary. A superstep (or a fused block of them) is a plan with many
# tiny exchanges, every join already explicitly hinted from KNOWN row
# counts (hint_state_join) against bucketed static layouts — there is
# nothing left for AQE to decide, but its per-stage replanning is
# driver CPU paid once per exchange per superstep. Measured (round 7,
# sf0.1, local[32], bench_extra.py isolate): pagerank 13.6 s -> 6.5 s
# (94 -> 25 Spark jobs), cc 11.2 -> 7.3 s (142 -> 59 jobs) with AQE
# off; one-shot join pipelines (triangle_count) run ~2x FASTER with
# AQE on (runtime broadcast conversion), so the suppression is scoped
# to the iterative loops only (SuperstepRunner.loop), never
# session-global.
_LOOP_LOCK = threading.Lock()
_LOOP_STATE: dict[int, list] = {}  # id(session) -> [depth, saved conf]
_AQE, _PARTITIONS = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"


def _small_loop(work_rows: int | None) -> bool:
    """The one size gate: every exchange of a superstep over
    ``work_rows`` edge-scale rows is broadcast-scale (<= 4 x
    STATE_BROADCAST_MAX_ROWS, the shape ladders' mass bound). There
    AQE's replanning is pure driver overhead (2.1x on pagerank at
    sf0.1) and any skew it could fix is broadcast-scale; above it AQE's
    skew-split of hub joins wins (CC at 3.3M vertices: 26 s with AQE,
    40 s without). An unknown size is never small.
    SPARK_GRAFT_SUPERSTEP_AQE_MAX_ROWS overrides the bound (0: every
    non-empty loop is above it, for cluster A/B)."""
    if work_rows is None:
        return False
    bound = int(os.environ.get("SPARK_GRAFT_SUPERSTEP_AQE_MAX_ROWS", 4 * STATE_BROADCAST_MAX_ROWS))
    return work_rows <= bound


def truncate_plan(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + reset carried-over statistics.

    ``Dataset.localCheckpoint`` truncates lineage but PRESERVES the
    checkpointed plan's estimated statistics on the new LogicalRDD
    leaf. In a superstep loop where the next state joins two
    descendants of the previous state (e.g. CC's hash-min + pointer
    jump), the carried sizeInBytes estimate squares every iteration;
    after ~25 supersteps Catalyst's BigInt stats arithmetic itself
    becomes the bottleneck (observed: minutes of driver CPU inside
    SizeInBytesOnlyStatsPlanVisitor per superstep). Rebuilding the
    DataFrame over the already-materialized InternalRow RDD resets the
    leaf stats to defaults with no extra computation or serde. If
    that internal API moves this raises: a silent fallback to the plain
    checkpoint would bring the planner stall back.
    """
    spark = df.sparkSession
    jdf = df.localCheckpoint(eager=eager)._jdf
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, spark)


def edge_fingerprint(edges: DataFrame, cols: tuple[str, str] = ("src", "dst")) -> str:
    """Content fingerprint of an edge table for resume validation:
    row count + the sum of xxhash64(src, dst) over all rows. One
    map-side-partial aggregate (same cost class as a bare count), but
    unlike a count it distinguishes two different edge sets with equal
    cardinality — a same-n different-edge-set rerun against a reused
    checkpoint_dir must refuse the stale state, not resume it."""
    row = edges.select(
        F.count(F.lit(1)).alias("m"),
        # bit_xor, not sum: xxhash64 values overflow a long sum under
        # ANSI arithmetic; xor is closed over int64
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
    ).collect()[0]
    return f"m={row['m']}:h={row['h']}"


class SuperstepRunner:
    """State manager for one algorithm run."""

    def __init__(
        self,
        spark: SparkSession,
        name: str = "run",
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
        log_partition_lineage: bool = False,
        fingerprint: str | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self.log_partition_lineage = log_partition_lineage
        # input/params fingerprint: stamped into every durable
        # checkpoint's _meta.json and REQUIRED to match on resume —
        # rerunning with the same checkpoint_dir/name but a different
        # graph or parameters must not silently restore stale state
        self.fingerprint = fingerprint
        self.metrics: list[dict[str, Any]] = []
        self._cleanups: list = []
        self._owned_tables: list[str] = []
        self._last_durable_iter = -1
        self._since_gc = 0
        self.gc_every = 8
        self._t0 = time.perf_counter()

    # --- state materialization -------------------------------------
    def materialize(
        self, df: DataFrame, iteration: int, eager: bool = False, force: bool = False, meta: dict | None = None
    ) -> DataFrame:
        """Pin the iterate and truncate its lineage.

        Durable (parquet) every ``checkpoint_every`` iterations or when
        ``force`` (used for the final converged state, so a resumed run
        returns it verbatim instead of running an extra superstep);
        otherwise localCheckpoint truncates lineage in memory (every
        iteration: plain persist between truncations measured slower —
        recompute on eviction + replanning outweigh the saved checkpoint
        job). ``meta`` (e.g. {'converged': True}) rides along with
        durable checkpoints and is handed back by :meth:`latest`.
        """
        if self.checkpoint_dir and (force or iteration % self.checkpoint_every == 0):
            path = self._ckpt_path(iteration)
            if iteration != self._last_durable_iter:
                # (never overwrite a checkpoint this run just wrote:
                # the state DataFrame may currently be reading from it)
                df.write.mode("overwrite").parquet(path)
                self._last_durable_iter = iteration
            with open(os.path.join(path, "_meta.json"), "w") as fh:
                json.dump(
                    {"iteration": iteration, "fingerprint": self.fingerprint, **(meta or {})},
                    fh,
                )
            out = self.spark.read.parquet(path)
        else:
            out = truncate_plan(df, eager=eager)
        # drop py4j refs of superseded iterates, then let ContextCleaner
        # reap their localCheckpoint blocks and shuffle files — without
        # this, hour-long superstep loops accumulate storage until the
        # whole session degrades
        self._since_gc += 1
        if self._since_gc >= self.gc_every:
            self._since_gc = 0
            import gc

            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
        return out

    def _ckpt_path(self, iteration: int) -> str:
        return os.path.join(self.checkpoint_dir, self.name, f"iter={iteration:06d}")

    def latest(self) -> tuple[int, DataFrame, dict] | None:
        """Restore the newest durable checkpoint (resume support).

        Returns (iteration, state DataFrame, meta dict)."""
        if not self.checkpoint_dir:
            return None
        base = os.path.join(self.checkpoint_dir, self.name)
        if not os.path.isdir(base):
            return None
        iters = sorted(
            int(m.group(1))
            for d in os.listdir(base)
            if (m := re.match(r"iter=(\d+)$", d)) and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        )
        if not iters:
            return None
        it = iters[-1]
        meta_path = os.path.join(self._ckpt_path(it), "_meta.json")
        meta = {}
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
        if self.fingerprint is not None and meta.get("fingerprint") != self.fingerprint:
            # same checkpoint_dir + runner name but a different graph /
            # parameters: resuming would return wrong results as if
            # converged — refuse and start fresh
            return None
        return it, self.spark.read.parquet(self._ckpt_path(it)), meta


    # --- metrics ----------------------------------------------------
    def log(self, iteration: int, **kv: Any) -> None:
        row = {
            "run": self.name,
            "iteration": iteration,
            "elapsed_sec": round(time.perf_counter() - self._t0, 6),
            **kv,
        }
        self.metrics.append(row)

    def log_partitions(self, df: DataFrame, iteration: int) -> None:
        """Per-partition lineage: row counts by spark_partition_id."""
        if not self.log_partition_lineage:
            return
        counts = (
            df.withColumn("_pid", F.spark_partition_id()).groupBy("_pid").count().orderBy("_pid").collect()
        )
        self.log(iteration, partition_rows=json.dumps({r["_pid"]: r["count"] for r in counts}))

    def write_metrics(self, path: str | None = None) -> None:
        path = path or (os.path.join(self.checkpoint_dir, self.name, "metrics") if self.checkpoint_dir else None)
        if not path or not self.metrics:
            return
        rows = [json.dumps(m, default=str) for m in self.metrics]
        df = self.spark.read.json(self.spark.sparkContext.parallelize(rows, 1))
        df.write.mode("append").parquet(path)

    def defer(self, fn) -> None:
        """Register a cleanup (e.g. unpersisting a static aggregate) to
        run on finalize()."""
        self._cleanups.append(fn)

    def own(self, st: StaticTable) -> None:
        """Take ownership of a static table: finalize() drops it."""
        self._owned_tables.append(st.table)
        self.defer(st.drop)

    @contextmanager
    def loop(self, work_rows: int | None = None):
        """The superstep loop scope: ``with runner.loop(work_rows=m) as
        small:``, ``m`` the per-superstep edge-scale row bound (normally
        a static table's carried ``rows``). Below the gate
        (:func:`_small_loop`) AQE is off and shuffle partitions are
        sized from the known work (static_table.adaptive_buckets — with
        AQE off nothing coalesces, and ~100-task jobs were 7.8 of 8.7 s
        of pagerank at sf0.1); above it, or for an unknown size, the
        conf is untouched. Yields the gate decision (True below it), so
        an algorithm picks its round shape from the same gate instead of
        re-deriving it or reading the AQE conf.

        Reentrant: the outermost small scope's conf holds until it
        exits, on every exit path. Single-writer contract: the conf is
        session-global, so only one loop tree may run per SparkSession
        at a time (a concurrent query on another thread would run under
        this loop's conf)."""
        if not _small_loop(work_rows):
            yield False
            return
        spark, key = self.spark, id(self.spark)
        with _LOOP_LOCK:
            st = _LOOP_STATE.get(key)
            if st is None:
                saved = {k: spark.conf.get(k) for k in (_AQE, _PARTITIONS)}
                spark.conf.set(_AQE, "false")
                spark.conf.set(_PARTITIONS, str(adaptive_buckets(spark, work_rows)))
                st = _LOOP_STATE[key] = [0, saved]
            st[0] += 1
        try:
            yield True
        finally:
            with _LOOP_LOCK:
                st[0] -= 1
                if st[0] == 0:
                    del _LOOP_STATE[key]
                    for k, v in st[1].items():
                        spark.conf.set(k, v)

    def finalize(self, out: DataFrame | None = None) -> DataFrame | None:
        """End the run: run the deferred cleanups (dropping the owned
        static tables) and write metrics. Returns ``out`` self-contained:
        eagerly truncated first if it would still read an owned table,
        else as is. A failed cleanup is recorded as a ``cleanup_error``
        metrics row (a failed drop leaks a table); the rest still run."""
        if out is not None and self._owned_tables and _reads_tables(out, self._owned_tables):
            out = truncate_plan(out)
        for fn in self._cleanups:
            try:
                fn()
            except Exception as exc:
                self.metrics.append(
                    {"run": self.name, "cleanup": getattr(fn, "__qualname__", repr(fn)), "cleanup_error": repr(exc)}
                )
        self._cleanups = []
        self._owned_tables = []
        self.write_metrics()
        return out


def _reads_tables(df: DataFrame, tables: list[str]) -> bool:
    """Driver-side: would evaluating ``df`` read one of ``tables``? Yes
    when one is named in the analyzed plan (pre-cache, so also through
    ``persist()``), or when a LogicalRDD leaf's lineage reaches a file
    scan without crossing a materialized checkpoint (a lazy
    ``materialize`` no action has run since; conservatively, any file)."""
    plan = df._jdf.queryExecution().analyzed()
    if any(t in plan.toString() for t in tables):
        return True
    leaves = plan.collectLeaves()
    stack = [
        leaves.apply(i).rdd()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    ]
    seen = set()
    while stack:
        rdd = stack.pop()
        if rdd.id() in seen or rdd.isCheckpointed():
            continue
        seen.add(rdd.id())
        if rdd.getClass().getSimpleName() == "FileScanRDD":
            return True
        deps = rdd.dependencies()
        stack.extend(deps.apply(i).rdd() for i in range(deps.size()))
    return False
