"""Custom stateful streaming operators (SURVEY.md §2.10 growth path).

``applyInPandasWithState`` is Spark's arbitrary-keyed-state primitive — the
streaming analogue of the MR Reducer with carried state. Here: a per-user
running profile (event count, value sum, last event time) maintained across
micro-batches.

At 100 TB: state lives in the state store partitioned by key (RocksDB
provider in production); per-batch work is Arrow-batched per key group.
Unbounded key cardinality needs TTL (timeout) eviction — demonstrated with
``GroupStateTimeout.NoTimeout`` here because the fixture backfill is bounded.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cbde_mapreduce_spark.streaming.streams import events_stream, run_to_memory

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
#: ``s`` carries EXACT INTEGER CENTS in the double slot (exact below 2^53
#: — money.py discipline). The double TYPE is unchanged from the
#: pre-round-11 dollar-valued state, so a schema check would pass on an
#: old checkpoint while reading dollars as cents (100x-wrong sums) —
#: compatibility is TYPE-level only; pre-round-11 checkpoints must be
#: discarded (ADVICE r11). In this repo every run gets a fresh temp
#: checkpoint (streams.run_to_memory; no cross-version resume exists), but any
#: deployment with durable checkpoints must start a new location when
#: adopting the cents unit.
STATE_SCHEMA = "n bigint, s double"


def _update_user_profile(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        # exact integer cents (money.py discipline): the per-batch pandas
        # float sum + cross-batch float carry was the same rounded-double
        # flake class as the JVM plans
        # dropna mirrors SQL sum's NULL skipping (all-NULL value sweep:
        # astype(int64) of NaN raises)
        v = pdf["value"].dropna()
        s += int((v * 100).round().astype("int64").sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s / 100.0]}
    )


def run_stateful_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user stateful profile over the event stream (update mode).

    Bounded AvailableNow backfill → the final update per user equals the
    batch aggregate, which is the correctness check in tests.
    """
    stream = events_stream(spark, sf_dir)
    profiles = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(profiles, "profiles", "update")


ATTR_OUTPUT_SCHEMA = "user_id bigint, ts_us bigint, channel string, value double"
ATTR_STATE_SCHEMA = "click_ts bigint, click_k bigint"
_ATTR_LOOKBACK_US = 3 * 24 * 3600 * 1_000_000  # 3 days, integer microseconds


def _attribute_purchases(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Keyed last-touch attribution: state carries the user's most recent
    click (ts, k) across micro-batches; each purchase row emits its channel
    at arrival. Rows are sorted by (ts_us, event_id) inside the batch —
    the same total order the batch window uses."""
    import json

    # None sentinel, NOT -1: event times are signed microseconds, and a
    # pre-epoch (negative) click timestamp is a legitimate value — a -1
    # sentinel with a `>= 0` guard silently un-attributes every purchase
    # on pre-1970 data (pre-epoch value-parity sweep).
    click_ts, click_k = state.get if state.exists else (None, None)
    out: dict[str, list] = {"user_id": [], "ts_us": [], "channel": [], "value": []}
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for _, row in pdf.iterrows():
            if row["event_type"] == "click":
                click_ts = int(row["ts_us"])
                # NULL props / missing key carry a NULL channel key, like
                # the batch twin's get_json_object
                props = row["props"]
                k = None
                if props is not None:
                    try:
                        k = json.loads(props).get("k")
                    except (ValueError, TypeError):
                        k = None
                click_k = int(k) if k is not None else None
            elif row["event_type"] == "purchase":
                ts = int(row["ts_us"])
                if click_ts is not None and click_ts >= ts - _ATTR_LOOKBACK_US:
                    # in-lookback click with NULL key -> NULL channel
                    # ('ch' || NULL is NULL in the oracle)
                    channel = (
                        f"ch{click_k % 4}" if click_k is not None else None
                    )
                else:
                    channel = "organic"
                out["user_id"].append(key[0])
                out["ts_us"].append(ts)
                out["channel"].append(channel)
                v = row["value"]
                out["value"].append(None if pd.isna(v) else float(v))
    state.update((click_ts, click_k))
    res = pd.DataFrame(out)
    # nullable Float64 so a NULL purchase value arrives as SQL NULL, not NaN
    res["value"] = pd.array(out["value"], dtype="Float64")
    yield res


def run_stateful_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution as a stateful stream (append mode): the
    streaming twin of plans/event_analytics.py::attribution_last_touch,
    emitting one attributed row PER PURCHASE as it arrives instead of a
    retrospective batch rollup.

    The carry (latest click per user) is exactly the batch query's
    struct-max window state, held in the state store keyed by user. On the
    bounded AvailableNow backfill every emitted row equals the batch
    computation — the oracle check. Unbounded deployments additionally
    need event-time ordering per key (a watermark-sorted buffer, or
    tolerance for late clicks re-attributing nothing retroactively) —
    append-mode emissions are immutable, which is the honest semantic
    difference from the re-runnable batch rollup.
    """
    stream = events_stream(spark, sf_dir)
    src = stream.select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_type",
        "props",
        "value",
    )
    attributed = src.groupBy("user_id").applyInPandasWithState(
        _attribute_purchases,
        outputStructType=ATTR_OUTPUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(attributed, "attrib", "append")
