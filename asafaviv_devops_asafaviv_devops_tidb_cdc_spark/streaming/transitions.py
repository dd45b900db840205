"""Streaming user-journey transition census (X23b — the stream twin of
queries/profiling.py::q_event_transitions), with per-user HISTORY
state and PAIR-COUNT-DELTA emission.

The batch census pairs CONSECUTIVE events per user ordered by
(ts, event_id). That definition is non-monotone under out-of-order
arrival: a late event lands BETWEEN two already-paired events and
rewires two pairs ((a,c) becomes (a,b)+(b,c)). A running
last-event-per-user scalar is therefore wrong; the correct state —
same argument as streaming/funnel.py — is the per-user event history
(bounded by a user's own activity, never the stream's length).

Emission, however, must NOT be the recomputed history: a hot key with
H events over N micro-batches would emit O(N*H) rows cumulatively —
exactly the bot-traffic profile a 100 TB event stream has (the round-6
verdict's one flagged scale weakness). The splice algebra is local: an
event inserted between neighbours ``left`` and ``right`` rewires at
most ONE existing pair into two, i.e. at most THREE (from, to) count
increments::

    delta[(left, right)] -= 1     (if both neighbours exist)
    delta[(left,  new )] += 1     (if left exists)
    delta[( new, right)] += 1     (if right exists)

So the update bisects each arriving event into the sorted history
(O(log H) locate + list splice) and emits only the net non-zero
deltas — O(events in batch) rows, independent of history length.
Serving SUMs the deltas per (from_type, to_type): the count frame is a
pure function of the final spliced history, so arrival order and
micro-batch boundaries cannot matter, and the streamed census
hash-matches the batch SQL oracle. Cumulative emission is <= 3 rows
per event — asserted by the emission-volume test
(tests/test_streaming.py::test_transitions_out_of_order_matches_batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_STATE_SCHEMA = StructType(
    [
        StructField("t_us", ArrayType(LongType())),
        StructField("eid", ArrayType(LongType())),
        StructField("etype", ArrayType(StringType())),
    ]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
        StructField("delta", LongType()),
    ]
)


def _update(key, pdfs, state):
    import bisect
    from collections import Counter

    import pandas as pd

    if state.exists:
        t_us, eid, etype = state.get
        t_us, eid, etype = list(t_us), list(eid), list(etype)
    else:
        t_us, eid, etype = [], [], []
    # sorted (order-key, position) view of the existing history; the
    # state arrays are maintained in sorted order as an invariant, so
    # this is a zip, not a sort
    keys = list(zip(t_us, eid))
    deltas: Counter = Counter()
    for pdf in pdfs:
        for t, i, e in zip(pdf["t_us"], pdf["event_id"], pdf["event_type"]):
            t, i, e = int(t), int(i), str(e)
            pos = bisect.bisect_left(keys, (t, i))
            left = etype[pos - 1] if pos > 0 else None
            right = etype[pos] if pos < len(keys) else None
            if left is not None and right is not None:
                deltas[(left, right)] -= 1
            if left is not None:
                deltas[(left, e)] += 1
            if right is not None:
                deltas[(e, right)] += 1
            keys.insert(pos, (t, i))
            t_us.insert(pos, t)
            eid.insert(pos, i)
            etype.insert(pos, e)
    state.update((t_us, eid, etype))
    out = [(key[0], a, b, d) for (a, b), d in deltas.items() if d != 0]
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "from_type", "to_type", "delta"]
        )


def pair_deltas(stream: DataFrame) -> DataFrame:
    """The keyed stateful delta pipeline (shared by both sinks)."""
    keyed = stream.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),  # micros: the batch order key
    ).groupBy("user_id")
    return keyed.applyInPandasWithState(
        _update, _OUT_SCHEMA, _STATE_SCHEMA, "append", "NoTimeout"
    )


def run_transitions_stream(
    spark: SparkSession, src_dir: str, schema: str, name: str
) -> DataFrame:
    """Drain ``src_dir`` through the stateful census into a memory
    sink; return the emitted delta frame (test harness path)."""
    from . import ingest

    ingest.drain(
        spark,
        src_dir,
        schema,
        lambda s: pair_deltas(s)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        max_files=1,
    )
    return spark.table(name)


def final_pair_counts(emissions: DataFrame) -> DataFrame:
    """Fold the delta emissions to the global (from_type, to_type, n)
    count frame — feed to queries.profiling.transition_report. A pure
    SUM over the bounded type x type grid; pairs whose deltas cancel
    to zero (created then rewired away) drop out. The grid is
    localCheckpoint-ed (bounded: type x type rows) because
    transition_report self-joins it for row shares, and Spark cannot
    dedup conflicting attribute refs when both join branches root at
    the same memory-sink View (INTERNAL_ERROR in CheckAnalysis) — a
    materialized lineage break makes the frame self-join-safe."""
    counts = (
        emissions.groupBy("from_type", "to_type")
        .agg(F.sum("delta").cast("long").alias("n"))
        .filter(F.col("n") > 0)
    )
    return counts.localCheckpoint(eager=True)
