"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (SURVEY.md §2.9/§2.10 — the engine's
user-extensible stateful surface; the reference has no streaming
operators, its stateful behavior is the done-signal protocol,
luigi-pipeline/luigi_commons.py:38-109).

Why a custom operator when ``session_window`` exists: the built-in can
only aggregate; a stateful UDF can carry arbitrary per-key state across
micro-batches (open-session carry-over, per-session payloads, custom
close policies). This module keeps the semantics identical to the
built-in gap session window so the result stays oracle-checkable with
gaps-and-islands SQL.

Scale posture: state is one open session per user key (three scalars),
partitioned by the groupBy key — the shuffle carries events once and
state lives in the state store, not the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_SHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "protobuf_shim")


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in THIS process, installing
    the bundled-runtime shim (``protobuf_shim/google/protobuf``) on
    sys.path if no real package exists. Returns whether protobuf is
    usable — the registration gate for the transformWithState surface.
    Idempotent; never raises."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        pass
    import sys
    if _SHIM_DIR not in sys.path:
        sys.path.insert(0, _SHIM_DIR)
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        # ADVICE r6 #1: don't leave the shim dir on sys.path when the
        # fallback import itself failed — a lingering entry (plus a
        # cached half-initialized 'google' module) would break
        # unrelated google.* imports process-wide.
        try:
            sys.path.remove(_SHIM_DIR)
        except ValueError:
            pass
        for mod in [m for m in sys.modules
                    if m == "google" or m.startswith("google.")]:
            if (getattr(sys.modules[mod], "__file__", None)
                    or "").startswith(_SHIM_DIR):
                del sys.modules[mod]
        return False


def _shim_workers(spark) -> None:
    """Make the shim resolvable in every SPAWNED Python process of
    this session: the transformWithState machinery runs a long-lived
    'driver worker' plus per-task workers, all spawned by the JVM's
    PythonWorkerFactory with the envVars snapshotted from
    ``sc.environment`` at UDF creation — so prepending the shim dir to
    that PYTHONPATH (verified to reach the driver worker, which
    addPyFile includes do NOT) is the delivery that works even on a
    vanilla session whose JVM env predates us. Also ships the shim as
    a pyfile for task workers on a real cluster, where a driver-local
    path would not exist. Both are no-ops when a real protobuf is
    installed (the shim never enters sys.path then). Must run BEFORE
    the stateful transform is constructed."""
    import sys
    import zipfile

    if _SHIM_DIR not in sys.path:
        return  # real google.protobuf in use; nothing to deliver
    env = spark.sparkContext.environment
    parts = env.get("PYTHONPATH", "").split(os.pathsep)
    if _SHIM_DIR not in parts:
        env["PYTHONPATH"] = _SHIM_DIR + (
            os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    # ADVICE r6 #2: the zip lives under this process's PRIVATE mkdtemp
    # scratch root (util.scratch_root), never a fixed world-predictable
    # /tmp path another user could pre-create, and is rebuilt
    # unconditionally per process so a stale zip can't outlive shim
    # updates. addPyFile dedupes re-adds of the same path in-session.
    from pmc_conversion_spark.util import scratch_root
    zpath = os.path.join(scratch_root(), "pmc_protobuf_shim.zip")
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(_SHIM_DIR):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, _SHIM_DIR))
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)


OUT_SCHEMA = "user_id long, session_start timestamp, n_events long"
STATE_SCHEMA = "session_start long, last_ts long, n long"  # micros since epoch


def sessionize_with_state(events: DataFrame, *, gap_minutes: int = 30,
                          key_col: str = "user_id") -> DataFrame:
    """Sessionize a (streaming) events frame: sessions close when the
    event-time gap is >= ``gap_minutes``; emits one row per closed
    session plus, at each batch boundary, the still-open session (so a
    single availableNow batch yields exactly the batch sessionization).

    The open session is kept in the group state between micro-batches;
    rows inside one invocation are sorted by (ts, event_id) so results
    are partition-order-invariant.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        ts_us = rows["ts"].astype("int64") // 1000  # ns -> us
        if state.exists:
            sess_start, last_ts, n = state.get
        else:
            sess_start = last_ts = None
            n = 0
        out_start: list[int] = []
        out_n: list[int] = []
        for t in ts_us:
            if last_ts is not None and t - last_ts >= gap_us:
                out_start.append(sess_start)
                out_n.append(n)
                sess_start, n = t, 0
            if sess_start is None:
                sess_start = t
            last_ts = t
            n += 1
        state.update((sess_start, last_ts, n))
        # emit the open session too: for an availableNow single-batch
        # run this completes the batch-sessionization contract
        out_start.append(sess_start)
        out_n.append(n)
        yield pd.DataFrame({
            "user_id": key[0],
            "session_start": pd.to_datetime(pd.Series(out_start), unit="us"),
            "n_events": pd.Series(out_n, dtype="int64"),
        })

    return (events.groupBy(key_col)
            .applyInPandasWithState(fn, OUT_SCHEMA, STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))


def running_count_tws(events: DataFrame, *, key_col: str = "user_id"
                      ) -> DataFrame:
    """Per-key running event count via ``transformWithStateInPandas`` —
    Spark 4's next-generation arbitrary-state API (typed state
    variables on a StatefulProcessorHandle instead of one opaque
    GroupState tuple; RocksDB-backed, so state scales past executor
    heap). Functionally the streaming twin of ``groupBy(key).count()``:
    after each micro-batch the emitted row carries the key's total so
    far, so one availableNow batch reproduces the batch aggregate
    exactly (the oracle-checkable contract).

    Kept deliberately minimal — the point is the API surface: value
    state declared in ``init``, per-batch Arrow row iteration in
    ``handleInputRows``, update-mode emission.

    GATED: transformWithState's Python worker serializes state over
    protobuf. Where no ``google.protobuf`` is installed,
    ``ensure_protobuf`` falls back to the bundled-runtime shim
    (protobuf_shim/ — re-roots onto the GCloud-SDK pure-Python runtime
    with a same-major version waiver) and ``_shim_pyfile`` ships it to
    the workers; only if BOTH are unavailable does this raise a clear
    error instead of an opaque mid-query worker crash.

    COST (measured, SCALING.md "State-machinery pricing"): on this
    trivial count the TWS machinery costs ~2.5 s per query at sf0.01
    and grows only ~1.3× for 10× data — a FIXED floor (RocksDB
    provider spin-up, state server, protobuf round-trips), roughly 2×
    applyInPandasWithState's floor and ~13× the plain batch groupBy.
    Reach for TWS when you need typed/multiple state or timers on a
    LONG-LIVED stream, where the floor amortizes; for a one-shot
    bounded aggregation the batch form is strictly better.
    """
    _tws_prepare(events)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            batch_n = sum(len(pdf) for pdf in rows)
            prev = self._n.get() if self._n.exists() else None
            total = (prev[0] if prev else 0) + batch_n
            self._n.update((total,))
            yield pd.DataFrame({"user_id": [key[0]],
                                "n_events": [total]})

        def close(self) -> None:
            pass

    return (events.groupBy(key_col)
            .transformWithStateInPandas(
                statefulProcessor=RunningCount(),
                outputStructType="user_id long, n_events long",
                outputMode="Update",
                timeMode="None"))


#: The RocksDB state store provider that transformWithState requires.
TWS_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


def _tws_prepare(events: DataFrame) -> None:
    """Shared preamble for every transformWithState operator: protobuf
    (shimmed if needed), worker delivery, and ``TWS_CONF`` on the
    session. The setting stays set; a caller that must leave the
    session as it found it runs the operator, from building it through
    its query's end, inside ``util.session_conf(spark, TWS_CONF)``."""
    if not ensure_protobuf():
        raise NotImplementedError(
            "transformWithStateInPandas needs a working google.protobuf "
            "in the Python workers; neither an installed package nor "
            "the bundled-runtime shim is available in this environment")
    spark = events.sparkSession
    _shim_workers(spark)
    for k, v in TWS_CONF.items():
        spark.conf.set(k, v)


def topn_liststate_tws(events: DataFrame, *, n: int = 3,
                       key_col: str = "user_id") -> DataFrame:
    """Per-key running top-N event values via transformWithState
    LIST state — the typed-state API's bounded-collection form (the
    state the ValueState running count cannot hold). Input must carry
    ``value_cents``/``event_id``; the state is the current top-N
    (cents DESC, event_id ASC — a total order), re-derived and emitted
    after every micro-batch. Emissions are monotone: each batch's
    output is the top-N over everything seen, so the union of all
    emissions re-ranked gives exactly the final top-N (the collapse
    the registered query applies).

    Scale: state is N rows per key regardless of event volume, and the
    in-batch work is one pandas sort of (carried N + batch rows)."""
    _tws_prepare(events)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class TopN(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState(
                "top", "value_cents long, event_id long")

        def handleInputRows(self, key, rows, timerValues):
            cur = [tuple(t) for t in self._top.get()] \
                if self._top.exists() else []
            for pdf in rows:
                cur.extend(zip(
                    pdf["value_cents"].astype("int64").tolist(),
                    pdf["event_id"].astype("int64").tolist()))
            cur.sort(key=lambda t: (-t[0], t[1]))
            cur = cur[:n]
            self._top.put(cur)
            yield pd.DataFrame({
                "user_id": [key[0]] * len(cur),
                "rn": pd.Series(range(1, len(cur) + 1), dtype="int32"),
                "value_cents": pd.Series([c for c, _ in cur],
                                         dtype="int64"),
                "event_id": pd.Series([e for _, e in cur],
                                      dtype="int64")})

        def close(self) -> None:
            pass

    return (events.groupBy(key_col)
            .transformWithStateInPandas(
                statefulProcessor=TopN(),
                outputStructType="user_id long, rn int, "
                                 "value_cents long, event_id long",
                outputMode="Update",
                timeMode="None"))


def per_type_stats_tws(events: DataFrame, *, key_col: str = "user_id"
                       ) -> DataFrame:
    """Per-(key, event_type) running count and last-seen timestamp via
    transformWithState MAP state — the keyed-substate form (one value
    per dynamic sub-key, which ValueState/ListState cannot index).
    Input must carry ``event_type``/``ts`` (converted to epoch micros
    pandas-side — the NTZ-exact route, no session-tz
    reinterpretation); after each micro-batch the full map is emitted,
    so a later emission supersedes an earlier one per (key, type) and
    the max-per-group collapse reproduces the batch aggregate exactly.

    Scale: state is one (count, last) pair per live (key, type); the
    in-batch update is one pandas groupby, one map put per type."""
    _tws_prepare(events)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class PerType(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState(
                "m", "event_type string", "n long, last_us long")

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                us = pdf["ts"].astype("int64") // 1000  # ns -> us
                g = (pdf.assign(_us=us).groupby("event_type")
                     .agg(n=("event_type", "size"), last=("_us", "max")))
                for et, row in g.iterrows():
                    prev = self._m.getValue((et,))
                    n0, l0 = prev if prev else (0, -(1 << 62))
                    self._m.updateValue(
                        (et,), (n0 + int(row["n"]),
                                max(l0, int(row["last"]))))
            out = [(key[0], k[0], v[0], v[1])
                   for k, v in self._m.iterator()]
            yield pd.DataFrame(
                out, columns=["user_id", "event_type",
                              "n_events", "last_us"])

        def close(self) -> None:
            pass

    return (events.groupBy(key_col)
            .transformWithStateInPandas(
                statefulProcessor=PerType(),
                outputStructType="user_id long, event_type string, "
                                 "n_events long, last_us long",
                outputMode="Update",
                timeMode="None"))


def flush_on_watermark_tws(events: DataFrame, *, key_col: str = "user_id"
                           ) -> DataFrame:
    """Per-key event count flushed by an EVENT-TIME TIMER — the last
    transformWithState surface (timers) not covered by the
    ValueState/ListState/MapState trio. ``handleInputRows`` only
    accumulates state and registers a timer just past the current
    watermark; nothing is emitted until the watermark passes and
    ``handleExpiredTimer`` fires, which emits the key's final total and
    clears its state. Input must already carry ``withWatermark`` on a
    TIMESTAMP column (timeMode=EventTime requires it).

    Determinism under availableNow: after the final data batch the
    watermark advances to max(event time) − delay and Spark runs one
    more (no-data) batch in which every registered timer ≤ watermark
    fires — so exactly one row per key is emitted, equal to the batch
    ``groupBy(key).count()``, and the query terminates. (Processing-
    time timers are the opposite: availableNow cannot know no future
    timer work remains, so the query re-batches forever — measured at
    100+ micro-batches before we killed it; that is why this op is
    event-time.)

    Scale: state is one long per live key, freed at flush; timers are
    per-key entries in the RocksDB timer column family, fired by
    watermark sweep — the standard session-timeout shape for
    unbounded streams."""
    _tws_prepare(events)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class FlushOnWatermark(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            batch_n = sum(len(pdf) for pdf in rows)
            prev = self._n.get() if self._n.exists() else None
            self._n.update(((prev[0] if prev else 0) + batch_n,))
            # fires in the first batch whose watermark passes this
            self._h.registerTimer(
                timerValues.getCurrentWatermarkInMs() + 1)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            n = self._n.get()[0] if self._n.exists() else 0
            self._n.clear()
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    return (events.groupBy(key_col)
            .transformWithStateInPandas(
                statefulProcessor=FlushOnWatermark(),
                outputStructType="user_id long, n_events long",
                outputMode="Append",
                timeMode="EventTime"))


def warm_start_count_tws(events: DataFrame, seed: DataFrame,
                         *, key_col: str = "user_id") -> DataFrame:
    """Per-key running count WARM-STARTED from a batch seed frame via
    transformWithState's ``initialState`` — the state-migration
    surface (job upgrade, backfill-then-stream cutover) none of the
    other TWS operators exercise. Before the first micro-batch Spark
    routes each seed row to its key's ``handleInitialState``, which
    plants the prior total in ValueState; data batches then increment
    as usual, so the emitted total is seed + streamed — for a
    seed/stream partition of one corpus, exactly the full batch
    aggregate. Seed-only keys never fire ``handleInputRows`` and thus
    never emit (Update-mode contract; the registered oracle states
    that HAVING-guard explicitly).

    ``seed`` must carry (key_col, n_seed). Scale: the seed frame is
    itself distributed state — routed by key, one row per key, never
    driver-side."""
    _tws_prepare(events)
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)

    class WarmCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n long")

        def handleInitialState(self, key, initialState, timerValues):
            self._n.update((int(initialState["n_seed"].iloc[0]),))

        def handleInputRows(self, key, rows, timerValues):
            batch_n = sum(len(pdf) for pdf in rows)
            prev = self._n.get() if self._n.exists() else None
            total = (prev[0] if prev else 0) + batch_n
            self._n.update((total,))
            yield pd.DataFrame({"user_id": [key[0]],
                                "n_events": [total]})

        def close(self) -> None:
            pass

    return (events.groupBy(key_col)
            .transformWithStateInPandas(
                statefulProcessor=WarmCount(),
                outputStructType="user_id long, n_events long",
                outputMode="Update",
                timeMode="None",
                initialState=seed.groupBy(key_col)))
