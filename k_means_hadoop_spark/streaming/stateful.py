"""Arbitrary stateful streaming via ``applyInPandasWithState`` —
the custom-stateful-operator seam (beyond-reference; the reference is
batch-only, SURVEY.md §2.9).

``stateful_user_totals`` keeps one running (count, sum) per user across
micro-batches: the minimal honest demonstration that per-key state
persists and accumulates through the state store — the same machinery a
custom sessionizer or online clusterer builds on.  State is (n, s) per
user — O(users), never O(events).

At 100 TB the shape holds: groupBy(user) shuffles each micro-batch once,
state lives partitioned in the state store (RocksDB in production),
Arrow batches cross the Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"
STATE_SCHEMA = "n bigint, s double"


def _update_user_totals(key, pdfs, state: GroupState):
    import pandas as pd

    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Streaming DataFrame of per-user running totals (update semantics:
    one refreshed row per user per micro-batch it appears in)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4) — the successor API to applyInPandasWithState:
# typed state handles (ValueState/MapState/ListState) instead of one opaque
# tuple, per-state TTL, timers, and initial-state bootstrap.  Kept alongside
# the applyInPandasWithState operator above so the engine demonstrates both
# the stable and the current stateful seams.

TWS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double, n_types bigint"


class UserStatsProcessor:
    """Per-user running stats with TWO typed state handles: a ValueState
    (n, sum) and a MapState event_type → count (the distinct-type set
    lives in the state store, not in Python memory — O(types/user) state,
    never O(events)).  Emits one refreshed row per user per micro-batch."""

    def init(self, handle) -> None:
        self._totals = handle.getValueState("totals", "n bigint, s double")
        self._types = handle.getMapState("types", "t string", "c bigint")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, s = self._totals.get() if self._totals.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            s += float(pdf["value"].sum())
            for t, c in pdf["event_type"].value_counts().items():
                prev = self._types.getValue((t,))[0] if self._types.containsKey((t,)) else 0
                self._types.updateValue((t,), (prev + int(c),))
        self._totals.update((n, s))
        n_types = sum(1 for _ in self._types.keys())
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "n_types": [n_types],
            }
        )

    def close(self) -> None:
        pass


def _make_processor():
    """Build the StatefulProcessor subclass lazily — subclassing at import
    time would hard-depend streaming internals into every module import."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type("UserStatsStatefulProcessor", (UserStatsProcessor, StatefulProcessor), {})()


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user (n_events, sum_value, n_types) via
    transformWithStateInPandas (update semantics)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        _make_processor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
