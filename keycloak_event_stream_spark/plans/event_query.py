"""Fluent event-query builders (reference read path, Spark-first).

Mirrors the observable semantics of the reference's query builders:

- ``AthenaEventQuery.java:22-31`` — plan state {eventTypes, realmId,
  clientId, userId, ipAddress, fromTime, toTime, firstResult,
  maxResults, order};
- conjunctive AND of all predicates (``:143-146``);
- IN-list de-duplicated preserving insertion order (LinkedHashSet,
  ``:22,46-51``);
- inclusive time bounds (``:189-195``);
- ORDER BY time, default DESC (``:31,118-127``);
- ``maxResults <= 0`` -> unlimited (``:112-115``), ``firstResult < 0``
  -> ignored, ``0`` -> no-op (``:106-109``, emitted as OFFSET only when
  > 0 at ``:154-156``);
- the reference's LIMIT/OFFSET emission-order bug (SURVEY §1.4 Q2) is
  *not* reproduced — intended skip-then-take semantics are.

What the reference delegates to Athena — predicate pushdown, partition
pruning — Catalyst does here, plus one augmentation the reference lacks
(SURVEY §1.4 Q3/Q4): time-range predicates derive a ``dt`` partition
predicate with a lateness allowance, so a time-bounded query on a 100 TB
store touches only the relevant days instead of every one. The ``hour``
column is accepted but not yet used for pruning.

No SQL-string IR and no literal escaping (ref F8,
``AthenaEventQuery.java:200-205``): values stay typed ``lit()``s, so
injection is structurally impossible.
"""

from __future__ import annotations

import datetime as _dt
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table
from keycloak_event_stream_spark.registry import register

_LATENESS = _dt.timedelta(hours=1)  # conservative edge widening (Q4)


def _ts(value) -> _dt.datetime:
    """Accept datetime, epoch-millis int, or 'YYYY-MM-DD HH:MM:SS' str
    (the reference accepts Date and long overloads,
    ``AthenaEventQuery.java:72-97``)."""
    if isinstance(value, _dt.datetime):
        return value
    if isinstance(value, (int, float)):
        return _dt.datetime.utcfromtimestamp(value / 1000.0)
    return _dt.datetime.fromisoformat(str(value))


class EventQueryBuilder:
    """Fluent query over an event table, compiling to a DataFrame.

    Column names are configurable so the same builder serves both the
    driver fixture schema (``events``: ts/event_type/event_id) and the
    reference-faithful Keycloak schema (``kc_user_events``:
    time/eventtype/id — see :mod:`keycloak_event_stream_spark.sources.keycloak`).
    """

    def __init__(
        self,
        df: DataFrame,
        time_col: str = "ts",
        type_col: str = "event_type",
        id_col: str = "event_id",
        time_is_millis: bool = False,
        dt_col: Optional[str] = None,
        hour_col: Optional[str] = None,
    ) -> None:
        self._df = df
        self._time_col = time_col
        self._type_col = type_col
        self._id_col = id_col
        self._time_is_millis = time_is_millis
        self._dt_col = dt_col if dt_col and dt_col in df.columns else None
        self._hour_col = hour_col if hour_col and hour_col in df.columns else None
        # logical-plan state (ref AthenaEventQuery.java:22-31)
        self._types: list[str] = []  # insertion-ordered, deduped
        self._in: dict[str, list] = {}  # extra IN-lists (admin enums)
        self._eq: dict[str, object] = {}
        self._from: Optional[_dt.datetime] = None
        self._to: Optional[_dt.datetime] = None
        self._first_result: int = -1
        self._max_results: int = -1
        self._ascending: bool = False  # DESC default (ref :31)

    # -- fluent predicate setters ---------------------------------------
    def types(self, *names: str) -> "EventQueryBuilder":
        """IN-list filter; de-duplicates preserving insertion order
        (LinkedHashSet semantics, ref ``:46-51``)."""
        for n in names:
            if n not in self._types:
                self._types.append(n)
        return self

    def where_eq(self, col: str, value) -> "EventQueryBuilder":
        """Conjunctive equality predicate (ref F2)."""
        self._eq[col] = value
        return self

    def _eq_or_clear(self, col: str, value) -> "EventQueryBuilder":
        """Reference scalar-setter semantics: the named setters are
        PLAIN field assignments with no null guard
        (``AthenaEventQuery.java:53-69,99-103``,
        ``AthenaAdminEventQuery.java:51-79,97-100`` — only
        ``fromDate``/``toDate(Date)`` and the varargs setters are
        null-guarded upstream), and the predicate emitter skips null
        fields — so passing null OVERWRITES: ``.realm("r1")
        .realm(None)`` ends with no realm filter. Mirrored exactly
        (r9 ADVICE: the earlier None-no-op spelling silently kept the
        filter where the reference clears it)."""
        if value is None:
            self._eq.pop(col, None)
        else:
            self._eq[col] = value
        return self

    def where_in(self, col: str, *values) -> "EventQueryBuilder":
        """Conjunctive IN-list on an arbitrary column, deduped preserving
        insertion order (the admin query's operationtype/resourcetype
        IN-lists, ``AthenaAdminEventQuery.java:209-225``)."""
        bucket = self._in.setdefault(col, [])
        for v in values:
            if v not in bucket:
                bucket.append(v)
        return self

    def from_time(self, value) -> "EventQueryBuilder":
        """Null -> no-op: the reference's Date overloads ARE
        null-guarded (``AthenaAdminEventQuery.java:103-115``,
        ``AthenaEventQuery.java:72-97``) — unlike the scalar string
        setters (see :meth:`_eq_or_clear`)."""
        if value is not None:
            self._from = _ts(value)
        return self

    def to_time(self, value) -> "EventQueryBuilder":
        """Null -> no-op (see :meth:`from_time`)."""
        if value is not None:
            self._to = _ts(value)
        return self

    def order_by_ascending(self) -> "EventQueryBuilder":
        self._ascending = True
        return self

    def order_by_descending(self) -> "EventQueryBuilder":
        self._ascending = False
        return self

    def first_result(self, n: int) -> "EventQueryBuilder":
        """Pagination offset; negative -> ignored (ref ``:106-109``)."""
        self._first_result = n
        return self

    def max_results(self, n: int) -> "EventQueryBuilder":
        """Limit; non-positive -> unlimited (ref ``:112-115``)."""
        self._max_results = n
        return self

    # -- compilation ----------------------------------------------------
    def _time_lit(self, t: _dt.datetime) -> Column:
        if self._time_is_millis:
            return F.lit(int(t.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000))
        return F.lit(t.strftime("%Y-%m-%d %H:%M:%S.%f")).cast("timestamp")

    def _partition_pruning_predicates(self) -> list[Column]:
        """Derive dt predicates from the time range (fixes SURVEY §1.4
        Q3). The store writes event-time dt/hour
        (``sources.keycloak._with_event_time_partitions``, Q4), so the
        1-hour lateness allowance is conservative: it can only add a
        partition at each edge, never drop one. On a dt-partitioned
        100 TB table these prune at the file-listing level."""
        preds: list[Column] = []
        if self._dt_col is None:
            return preds
        if self._from is not None:
            lo = self._from - _LATENESS
            preds.append(F.col(self._dt_col) >= lo.strftime("%Y-%m-%d"))
        if self._to is not None:
            hi = self._to + _LATENESS
            preds.append(F.col(self._dt_col) <= hi.strftime("%Y-%m-%d"))
        return preds

    def to_df(self) -> DataFrame:
        """Compile the accumulated plan to a lazy DataFrame (the analogue
        of ``buildSql``, ref ``:136-159``; execution stays deferred until
        an action, unlike the reference's eager full materialization at
        ``AbstractAthenaQuery.java:60``)."""
        df = self._df
        conds: list[Column] = []
        # Redundant raw-domain time predicates: when the time column was
        # decoded from raw nanos (catalog._NANO_TS_COLS), predicates on
        # the decoded column are expression-wrapped and cannot reach the
        # parquet reader; the same bound on `<col>_nanos` pushes down to
        # row-group min/max stats. Semantically implied by the decoded
        # predicate, so results are unchanged.
        raw_col = f"{self._time_col}_nanos"
        if raw_col in df.columns and not self._time_is_millis:
            from keycloak_event_stream_spark.catalog import nanos_bound

            if self._from is not None:
                conds.append(F.col(raw_col) >= F.lit(nanos_bound(self._from)))
            if self._to is not None:
                # decoded micros truncate nanos: widen the upper bound by
                # the sub-microsecond remainder (999 ns)
                conds.append(F.col(raw_col) <= F.lit(nanos_bound(self._to) + 999))
        if self._types:
            conds.append(F.col(self._type_col).isin(self._types))
        for col, values in self._in.items():
            # an empty IN-list bucket (e.g. `operation()` with no args)
            # is NO filter, matching the reference's `!isEmpty()` guard
            # (AthenaAdminEventQuery.java:209,217) — a bare isin([])
            # would be always-false instead
            if values:
                conds.append(F.col(col).isin(values))
        for col, value in self._eq.items():
            conds.append(F.col(col) == F.lit(value))
        if self._from is not None:
            conds.append(F.col(self._time_col) >= self._time_lit(self._from))
        if self._to is not None:
            conds.append(F.col(self._time_col) <= self._time_lit(self._to))
        conds.extend(self._partition_pruning_predicates())
        for c in conds:
            df = df.filter(c)
        time_order = (
            F.col(self._time_col).asc() if self._ascending else F.col(self._time_col).desc()
        )
        id_order = (
            F.col(self._id_col).asc() if self._ascending else F.col(self._id_col).desc()
        )
        df = df.orderBy(time_order, id_order)
        if self._first_result > 0:
            df = df.offset(self._first_result)
        if self._max_results > 0:
            df = df.limit(self._max_results)
        helper = [c for c in df.columns if c.endswith("_nanos")]
        return df.drop(*helper) if helper else df

    # -- terminal operations (the reference's getResultStream surface) --
    def collect(self, timeout_s: float | None = None) -> list:
        """Materialize results; with ``timeout_s``, bounded by a
        cancellable deadline — the reference's query completion budget
        (poll x attempts, ``AbstractAthenaQuery.java:108-142``) done
        engine-side."""
        df = self.to_df()
        if timeout_s is None:
            return df.collect()
        from keycloak_event_stream_spark.plans.deadline import (
            collect_with_deadline,
        )

        return collect_with_deadline(df, timeout_s)

    def to_local_iterator(self):
        """Lazy result stream: rows arrive partition-by-partition
        instead of the reference's full materialization into a List
        (``AbstractAthenaQuery.java:60,86``) — constant driver memory on
        unbounded results."""
        return self.to_df().toLocalIterator()


class UserEventQueryBuilder(EventQueryBuilder):
    """The reference ``EventQuery``'s NAMED fluent surface
    (``AthenaEventQuery.java:46-104``), delegating to the generic
    builder — so a user porting reference code keeps their call sites
    verbatim (modulo snake_case). Null-argument semantics mirror the
    reference exactly: the scalar string setters are UNGUARDED field
    assignments, so null OVERWRITES (clears a previously-set filter —
    :meth:`EventQueryBuilder._eq_or_clear`), while ``fromDate``/
    ``toDate(Date)`` and the varargs ``type`` are null-guarded no-ops
    (``:46-51,72-97``); varargs dedup preserves insertion order
    (LinkedHashSet semantics, ``:22,46-51``)."""

    def type(self, *names: str) -> "UserEventQueryBuilder":
        """``type(EventType...)`` (``:46-51``; null array -> no-op)."""
        self.types(*[n for n in names if n is not None])
        return self

    def realm(self, realm_id) -> "UserEventQueryBuilder":
        """``realm(String)`` (``:54-57``; unguarded — null clears)."""
        return self._eq_or_clear("realmid", realm_id)

    def client(self, client_id) -> "UserEventQueryBuilder":
        """``client(String)`` (``:60-63``; unguarded — null clears)."""
        return self._eq_or_clear("clientid", client_id)

    def user(self, user_id) -> "UserEventQueryBuilder":
        """``user(String)`` (``:66-69``; unguarded — null clears)."""
        return self._eq_or_clear("userid", user_id)

    def ip_address(self, ip) -> "UserEventQueryBuilder":
        """``ipAddress(String)`` (``:100-103``; unguarded — null
        clears)."""
        return self._eq_or_clear("ipaddress", ip)

    def from_date(self, value) -> "UserEventQueryBuilder":
        """``fromDate(Date|long)`` (``:72-83``); null -> no-op."""
        if value is not None:
            self.from_time(value)
        return self

    def to_date(self, value) -> "UserEventQueryBuilder":
        """``toDate(Date|long)`` (``:86-97``); null -> no-op."""
        if value is not None:
            self.to_time(value)
        return self


class AdminEventQueryBuilder(EventQueryBuilder):
    """The reference ``AdminEventQuery``'s NAMED fluent surface
    (``AthenaAdminEventQuery.java:51-135``; predicate emission
    ``:186-240``), delegating to the generic builder. All predicates
    AND together; ``operation``/``resource_type`` varargs dedup
    preserving insertion order (LinkedHashSet, ``:29-30``);
    ``resource_path`` is plain equality (``:227-229``). Null-argument
    semantics mirror the reference exactly: the scalar string setters
    are UNGUARDED assignments so null clears
    (:meth:`EventQueryBuilder._eq_or_clear`); only the varargs and
    ``fromTime``/``toTime(Date)`` are null-guarded (``:81-95,
    103-115``)."""

    def realm(self, realm_id) -> "AdminEventQueryBuilder":
        """``realm(String)`` -> realmid equality (``:51-55,189-191``;
        unguarded — null clears)."""
        return self._eq_or_clear("realmid", realm_id)

    def auth_realm(self, auth_realm) -> "AdminEventQueryBuilder":
        """``authRealm(String)`` (``:57-61,193-195``; unguarded —
        null clears)."""
        return self._eq_or_clear("authrealmid", auth_realm)

    def auth_client(self, client) -> "AdminEventQueryBuilder":
        """``authClient(String)`` (``:63-67,197-199``; unguarded —
        null clears)."""
        return self._eq_or_clear("authclientid", client)

    def auth_user(self, user) -> "AdminEventQueryBuilder":
        """``authUser(String)`` (``:69-73,201-203``; unguarded —
        null clears)."""
        return self._eq_or_clear("authuserid", user)

    def auth_ip_address(self, ip) -> "AdminEventQueryBuilder":
        """``authIpAddress(String)`` (``:75-79,205-207``; unguarded —
        null clears)."""
        return self._eq_or_clear("authipaddress", ip)

    def operation(self, *operations: str) -> "AdminEventQueryBuilder":
        """``operation(OperationType...)`` -> operationtype IN-list
        (``:81-87,209-215``)."""
        self.where_in(
            "operationtype", *[o for o in operations if o is not None]
        )
        return self

    def resource_type(self, *types: str) -> "AdminEventQueryBuilder":
        """``resourceType(ResourceType...)`` -> resourcetype IN-list
        (``:89-95,217-225``)."""
        self.where_in("resourcetype", *[t for t in types if t is not None])
        return self

    def resource_path(self, path) -> "AdminEventQueryBuilder":
        """``resourcePath(String)`` -> equality (``:97-100,227-229``;
        unguarded — null clears)."""
        return self._eq_or_clear("resourcepath", path)


# ---------------------------------------------------------------------------
# Registry entries: the reference's canonical query shapes on the fixture
# ---------------------------------------------------------------------------

@register(
    "q_eventstore_canonical",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE event_type IN ('click', 'purchase', 'signup')
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <= TIMESTAMP '2024-01-25 23:59:59'
    ORDER BY ts DESC, event_id DESC
    LIMIT 200 OFFSET 10
""",
)
def q_eventstore_canonical(spark, sf_dir: str) -> DataFrame:
    """The reference's flagship read-path shape (``buildSql``,
    ``AthenaEventQuery.java:136-159``): IN-list + inclusive time range +
    ORDER BY time DESC + OFFSET/LIMIT."""
    ev = load_table(spark, sf_dir, "events")
    return (
        EventQueryBuilder(ev)
        .types("click", "purchase", "signup", "purchase")  # dup deduped (F3)
        .from_time("2024-01-05 00:00:00")
        .to_time("2024-01-25 23:59:59")
        .order_by_descending()
        .first_result(10)
        .max_results(200)
        .to_df()
    )


@register(
    "q_eventstore_user_filter",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    WHERE event_type IN ('click', 'view') AND user_id = 3
    ORDER BY ts ASC, event_id ASC
    LIMIT 500
""",
)
def q_eventstore_user_filter(spark, sf_dir: str) -> DataFrame:
    """Reference shape: conjunctive equality (userid + type) with
    ascending order and a limit (``AthenaEventQuery.java:173-187`` +
    order setters ``:118-127``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        EventQueryBuilder(ev)
        .where_eq("user_id", 3)
        .types("click", "view")
        .order_by_ascending()
        .max_results(500)
        .to_df()
    )

