"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no user-defined stateful operators (SURVEY.md §2A:
'explicitly absent'); this is the engine-extension surface for ones Spark
doesn't ship: arbitrary per-key state evolved across micro-batches in
Arrow-batched Python (grouped rows in, state handle, rows out).

Example operator: running per-key counters (count + exact value total) —
the building block for streaming dedup ledgers, rate trackers, and
session accumulators.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value_micros", T.LongType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total_micros", T.LongType(), False),
    ]
)


def running_user_counters(events: DataFrame) -> DataFrame:
    """Per-user running (count, exact µ-unit value total) across batches.

    Values are accumulated as integer micros so state totals are exact and
    order-independent (same policy as the DECIMAL aggregate path).
    """

    def update(key: tuple[Any, ...], pdfs: Iterator, state) -> Iterator:
        import pandas as pd

        # GroupState.get is a PROPERTY (raises when absent) — calling it
        # would call the returned tuple. Guarded by exists, access is lazy.
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer accumulation (value has <= 2 true decimals)
            total += int(round(float(pdf["value"].sum()) * 1_000_000))
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value_micros": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


SHARD_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("shard_id", T.LongType(), False),
    ]
)

SHARD_STATE_SCHEMA = T.StructType(
    [T.StructField("cum_chars", T.LongType(), False)]
)


def running_shard_assign(docs: DataFrame, target_chars: int) -> DataFrame:
    """Per-source streaming shard assignment: every arriving document is
    appended to the source's current shard, and a new shard opens when the
    running character total crosses ``target_chars`` — shard_id =
    floor(chars_before_this_doc / target). Unlike the counter operators
    above (one row per KEY per batch), this emits one state-DEPENDENT row
    per INPUT row, so the state is read mid-batch, not just folded: the
    assignment each doc gets depends on every doc that preceded it across
    all earlier micro-batches.

    Determinism: docs are ordered by doc_id within each batch (Arrow group
    order is not guaranteed), so the running total is a pure function of
    (arrival batch, doc_id) — exactly the order the oracle's cumulative
    window reproduces. State per source is ONE bigint, ~16 B/key."""

    def assign(key: tuple[Any, ...], pdfs: Iterator, state) -> Iterator:
        import pandas as pd

        (cum,) = state.get if state.exists else (0,)
        frames = list(pdfs)
        pdf = pd.concat(frames) if frames else None
        if pdf is None or pdf.empty:
            state.update((cum,))
            return
        pdf = pdf.sort_values("doc_id")
        chars = pdf["n_chars"].astype("int64")
        cum_before = cum + chars.cumsum() - chars
        state.update((cum + int(chars.sum()),))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "source": key[0],
                "shard_id": (cum_before // target_chars).to_numpy(),
            }
        )

    return docs.groupBy("source").applyInPandasWithState(
        assign,
        outputStructType=SHARD_OUTPUT_SCHEMA,
        stateStructType=SHARD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
