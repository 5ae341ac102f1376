"""Benchmark inputs, written as parquet before anything is timed.

Two input families, matching the two loop regimes the engine has:

- ``write_events``: an ``events`` table with the schema and shape of the
  ``events`` stream in the repository's TPC-H-like test data (event_id,
  ts, user_id, event_type, value, props). Users become conversations
  and every third event carries a tool, so the derived graph is long
  per-user chains joined through five tool hubs. The table is drawn from a NumPy
  generator with a fixed seed, so the benchmark owns its data and
  needs nothing outside its checkout.
- ``write_synth_transcripts``: the library's own seeded transcript
  generator (Zipf-skewed ``tool00`` hub), written to parquet so that
  the timed build scans a real file, as it would in production.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENTS_PER_USER = 100_000 / 1_500  # the sf0.1 events table's ratio
_TS0 = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_US = 30 * 24 * 3600 * 1_000_000  # thirty days


def write_events(path: str, n_events: int, seed: int) -> None:
    """Write a deterministic ``events.parquet`` of ``n_events`` rows."""
    rng = np.random.default_rng(seed)
    n_users = max(1, round(n_events / EVENTS_PER_USER))
    ts = _TS0 + np.sort(rng.integers(0, _SPAN_US, n_events)).astype("timedelta64[us]")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(table, f"{path}/events.parquet")


def write_synth_transcripts(spark, path: str, n_convs: int, seed: int) -> None:
    """Write ``synth_transcripts(n_convs, seed)`` to ``path`` as parquet."""
    from essentials_spark.io.transcripts import synth_transcripts

    synth_transcripts(spark, n_convs=n_convs, seed=seed).write.parquet(path)


def read_transcripts(path: str, kind: str) -> pd.DataFrame:
    """The (conv_id, turn_idx, tool) rows the graph is derived from,
    computed with pandas alone, for the oracle.

    ``kind='events'`` applies the events -> transcripts mapping the
    library documents (each user is a conversation, turns ordered by
    (ts, event_id), event_type is the tool on every third event_id);
    ``kind='synth'`` reads the generated transcripts as written."""
    if kind == "synth":
        return pq.read_table(path, columns=["conv_id", "turn_idx", "tool"]).to_pandas()
    ev = pq.read_table(f"{path}/events.parquet", columns=["event_id", "ts", "user_id", "event_type"]).to_pandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="stable")
    return pd.DataFrame(
        {
            "conv_id": ev["user_id"].map("conv{:06d}".format).to_numpy(),
            "turn_idx": ev.groupby("user_id").cumcount().to_numpy(),
            "tool": ev["event_type"].where(ev["event_id"] % 3 == 0).to_numpy(),
        }
    )
