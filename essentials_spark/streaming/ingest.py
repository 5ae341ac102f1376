"""Streaming transcript ingestion -> incremental graph updates.

The reference is strictly batch (SURVEY §2.10) — this module is the
beyond-parity streaming path a production transcript pipeline needs:
new conversation turns arrive continuously; we derive edge updates
incrementally and maintain windowed activity aggregates with
watermarked event time.

Key design point: BOTH edge kinds are stateless row-local maps —
  - tool link:   (conv, idx) -> tool            (from the row itself)
  - adjacency:   (conv, idx-1) -> (conv, idx)   (keys are derivable
    from the row alone; the predecessor turn exists by construction in
    an append-only transcript log)
so edge derivation needs no stream-stream join or state store, and the
incremental output unioned over time equals the batch derivation —
tested in tests/test_streaming.py. Downstream, graph algorithms run in
micro-batch or scheduled batch over the accumulated edge table
(iterative supersteps are batch jobs by nature; see engine/superstep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from essentials_spark.graph.keyed import _skey_turn

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def stream_transcripts(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """readStream over a transcript directory (file source; swap for
    Kafka/Iceberg CDC in production — same downstream plan)."""
    return spark.readStream.format(fmt).schema(TRANSCRIPT_DDL).load(path)


def incremental_key_edges(stream: DataFrame) -> DataFrame:
    """Stateless streaming edge derivation (string-keyed).

    Returns a streaming DataFrame (src_key, dst_key, ts); append-mode
    sink accumulates the edge table.
    """
    adjacency = stream.filter(F.col("turn_idx") > 0).select(
        _skey_turn(F.col("conv_id"), F.col("turn_idx") - 1).alias("src_key"),
        _skey_turn(F.col("conv_id"), F.col("turn_idx")).alias("dst_key"),
        "ts",
    )
    tool_links = stream.filter(F.col("tool").isNotNull()).select(
        _skey_turn(F.col("conv_id"), F.col("turn_idx")).alias("src_key"),
        F.concat(F.lit("tool|"), F.col("tool")).alias("dst_key"),
        "ts",
    )
    return adjacency.unionByName(tool_links)


def windowed_tool_counts(
    stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked windowed aggregate: tool-call volume per window —
    late rows beyond the watermark are dropped, state is bounded."""
    return (
        stream.filter(F.col("tool").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "tool")
        .agg(F.count("*").alias("n_calls"))
        .select(F.col("w.start").alias("window_start"), "tool", "n_calls")
    )


def run_edges_to_parquet(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str
) -> None:
    """One availableNow pass: ingest new transcript files, append the
    derived edges to parquet. Re-running resumes from the stream
    checkpoint (exactly-once file-source semantics)."""
    q = (
        incremental_key_edges(stream_transcripts(spark, in_path))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def conversation_sessions(
    stream: DataFrame, gap_minutes: int = 30, watermark: str = "0 seconds"
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-conversation session summaries with event-time timeout.

    State per conv_id = (turn count, tool-call count, first/last event
    time); a conversation is emitted as ONE summary row when the
    watermark passes ``last_ts + gap_minutes`` (the session-gap close —
    the standard sessionization pattern the built-in windowed aggs
    cannot express). State is bounded: every conversation's state is
    removed at timeout; late rows beyond the watermark are dropped
    upstream. Arrow moves each group's rows as pandas batches — no
    per-row Python (north rule).

    Returns (conv_id, n_turns, n_tool_calls, started, ended,
    duration_s); emits in append mode.
    """
    import pandas as pd

    gap_ms = gap_minutes * 60 * 1000

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n_turns, n_tools, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [n_turns],
                    "n_tool_calls": [n_tools],
                    "started": [pd.Timestamp(first_us * 1000)],
                    "ended": [pd.Timestamp(last_us * 1000)],
                    "duration_s": [(last_us - first_us) / 1e6],
                }
            )
            return
        if state.exists:
            n_turns, n_tools, first_us, last_us = state.get
        else:
            n_turns, n_tools, first_us, last_us = 0, 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n_turns += int(len(pdf))
            n_tools += int(pdf["tool"].notna().sum())
            ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n_turns, n_tools, first_us, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)
        yield pd.DataFrame(
            {
                "conv_id": pd.Series(dtype="object"),
                "n_turns": pd.Series(dtype="int64"),
                "n_tool_calls": pd.Series(dtype="int64"),
                "started": pd.Series(dtype="datetime64[ns]"),
                "ended": pd.Series(dtype="datetime64[ns]"),
                "duration_s": pd.Series(dtype="float64"),
            }
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "conv_id string, n_turns long, n_tool_calls long, "
                "started timestamp, ended timestamp, duration_s double"
            ),
            stateStructType="n_turns long, n_tools long, first_us long, last_us long",
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


class GraphMaintenance:
    """foreachBatch fold: maintain graph-analytic state incrementally
    as derived edge micro-batches arrive.

    Wires the streaming edge derivation (:func:`incremental_key_edges`)
    to the exact micro-batch maintenance family — connected components
    (algos/cc.incremental_cc_update), triangle corners
    (algos/tc.incremental_tc_update), and the minimum spanning forest
    (algos/mst.incremental_msf_update) — so the maintained state after
    every micro-batch equals the batch algorithm on all edges seen.

    Vertex identity: streaming arrivals make rank-of-skey dense ids
    unstable (a new key shifts every later rank), so vids here are
    ``xxhash64(skey)`` — the stand-in for a production id service;
    stable under any arrival order, collision odds ~ n^2 / 2^64.
    Component labels are therefore min-HASH-id per component:
    arrival-order-independent, but not the min-skey canonical form the
    batch entries use (join back through a key table when canonical
    labels are needed).

    Delivery semantics: foreachBatch is at-least-once (the sink
    commits AFTER the fold returns). All three folds are IDEMPOTENT —
    CC merges are, TC anti-joins the batch against its edge state, and
    re-fed MSF edges are either already in the forest or provably
    outside it — so replaying a batch after a crash cannot corrupt the
    state (pinned in tests/test_streaming.py). State lives on the
    driver between batches (persisted DataFrames); production would
    write each fold's output to a transactional (Iceberg) state table
    keyed by batch_id alongside the stream checkpoint.
    """

    def __init__(self, spark: SparkSession, maintain=("cc", "tc", "msf")):
        from essentials_spark.engine.superstep import truncate_plan  # noqa: F401

        self.spark = spark
        self.maintain = tuple(maintain)
        self.labels = spark.createDataFrame([], "vid long, label long")
        self.tc_per_vertex = spark.createDataFrame([], "vid long, tc long")
        self.tc_edges = spark.createDataFrame([], "src long, dst long")
        self.forest = spark.createDataFrame([], "src long, dst long, weight double")
        self.msf_total = 0.0
        self.n_batches = 0

    def fold(self, key_edge_batch: DataFrame, batch_id: int | None = None) -> None:
        """Apply one micro-batch of (src_key, dst_key[, weight]) rows."""
        from essentials_spark.algos import (
            incremental_cc_update,
            incremental_msf_update,
            incremental_tc_update,
        )
        from essentials_spark.engine.superstep import truncate_plan

        e = key_edge_batch.select(
            F.xxhash64("src_key").alias("src"),
            F.xxhash64("dst_key").alias("dst"),
            *([F.col("weight")] if "weight" in key_edge_batch.columns else []),
        )
        e = truncate_plan(e).persist()
        olds = []
        if "cc" in self.maintain:
            olds.append(self.labels)
            self.labels = truncate_plan(
                incremental_cc_update(self.labels, e.select("src", "dst"))
            ).persist()
        if "tc" in self.maintain:
            olds += [self.tc_per_vertex, self.tc_edges]
            pv, st = incremental_tc_update(
                self.tc_per_vertex, self.tc_edges, e.select("src", "dst")
            )
            self.tc_per_vertex = truncate_plan(pv).persist()
            self.tc_edges = truncate_plan(st).persist()
        if "msf" in self.maintain:
            olds.append(self.forest)
            w = e if "weight" in e.columns else e.withColumn(
                "weight", (F.pmod(F.xxhash64("src", "dst"), F.lit(1000)) / 100.0 + 1.0)
            )
            forest, total = incremental_msf_update(self.forest, w)
            self.forest = truncate_plan(forest).persist()
            self.msf_total = total
        self.n_batches += 1
        e.unpersist()
        for df in olds:
            df.unpersist()

    def run_available(self, in_path: str, checkpoint: str) -> None:
        """One availableNow pass: derive edges from new transcript
        files and fold them; re-running resumes from the stream
        checkpoint (file-source exactly-once into an at-least-once,
        idempotent fold)."""
        q = (
            incremental_key_edges(stream_transcripts(self.spark, in_path))
            .drop("ts")
            .writeStream.foreachBatch(lambda df, bid: self.fold(df, bid))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


class SketchMaintenance:
    """foreachBatch fold of a count-min frequency sketch over a token
    stream — the monoid merge (ops/sketch.count_min_table tables ADD
    cell-wise) makes the fold idempotent-safe under micro-batching:
    state size is bounded at depth×width rows no matter how many
    tokens stream through, and the folded table equals the batch
    table over the union of all micro-batches (pytest-pinned).

    At 10^12 turns this is the ONLY frequency-tracking shape that
    works: exact per-token counts are vocabulary-scale state, the
    sketch is constant-scale and broadcastable to point queries."""

    def __init__(self, spark: SparkSession, key: str = "token", depth: int = 4, width: int = 1024):
        from essentials_spark.ops.sketch import count_min_table

        self.spark = spark
        self.key, self.depth, self.width = key, depth, width
        self._cmt = count_min_table
        self.table: DataFrame | None = None

    def fold(self, batch: DataFrame, batch_id: int | None = None) -> None:
        part = self._cmt(batch, self.key, depth=self.depth, width=self.width)
        if self.table is None:
            merged = part
        else:
            merged = (
                self.table.unionByName(part)
                .groupBy("d", "b")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        # constant-size state: materialize eagerly so lineage never
        # chains across micro-batches (the GraphMaintenance idiom)
        from essentials_spark.engine.superstep import truncate_plan

        self.table = truncate_plan(merged)

    def query(self, keys: DataFrame) -> DataFrame:
        from essentials_spark.ops.sketch import count_min_query

        if self.table is None:
            raise ValueError("SketchMaintenance: no batches folded yet")
        return count_min_query(self.table, keys, self.key, depth=self.depth, width=self.width)
