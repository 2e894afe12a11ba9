"""Catalyst logical-plan introspection (JVM plan walks via py4j).

No custom Catalyst rules are needed for parity (SURVEY.md §4) — but two
*read-only* plan walks are: the projection-pushdown compensation needs to
know which columns each grid scan actually feeds (Spark 4.1 doesn't column-
prune Python data sources), and the reverse pivot's coordinate fast path
needs to know whether a plan is a pure unfiltered scan (reference
ds.py:435-505 walks DataFusion's logical plan the same way).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

PURE_SCAN_NODES = {"Project", "Sort", "SubqueryAlias", "DataSourceV2ScanRelation"}


def _walk(plan):
    stack = [plan]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        try:
            sq = n.subqueries()
            for i in range(sq.size()):
                stack.append(sq.apply(i))
        except Exception:
            pass


def is_pure_scan(df: DataFrame) -> bool:
    """True iff the optimized plan is a single unfiltered table scan under
    only {Project, Sort, SubqueryAlias} — the case where result coordinates
    provably equal the source's (A12 fast path)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        n_scans = 0
        for n in _walk(plan):
            cls = n.getClass().getSimpleName()
            if cls == "DataSourceV2ScanRelation":
                n_scans += 1
            elif cls not in PURE_SCAN_NODES:
                return False
        return n_scans == 1
    except Exception:
        return False


def pure_scan_payload(df: DataFrame) -> str | None:
    """The ``payload`` option of the single scan of a pure-scan plan, or
    None. Callers use it to verify the plan scans the SAME registered
    grid they resolved coordinates from — purity alone is not identity
    (a session can hold one registered grid plus unrelated V2 tables,
    and a pure scan of one of those must not borrow the grid's axes)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        payloads: list = []
        for n in _walk(plan):
            cls = n.getClass().getSimpleName()
            if cls == "DataSourceV2ScanRelation":
                try:
                    payloads.append(n.relation().options().get("payload"))
                except Exception:
                    payloads.append(None)
            elif cls not in PURE_SCAN_NODES:
                return None
        if len(payloads) == 1 and payloads[0]:
            return payloads[0]
        return None
    except Exception:
        return None


def pure_scan_passthrough(df: DataFrame) -> tuple[str, set[str]] | None:
    """(payload, result columns that ARE the scan's own output attributes)
    for a pure-scan plan, else None.

    Purity alone does not make a result column safe to resolve from source
    coordinates: ``SELECT time + INTERVAL 1 HOUR AS time, ...`` is still
    Project-over-scan, but its ``time`` is a COMPUTED alias (fresh exprId)
    whose values no longer equal the source axis. Only columns whose
    exprId appears verbatim in the scan output pass through unchanged —
    Project/Sort/SubqueryAlias all preserve exprIds for bare attributes,
    and every alias (even a pure rename) mints a new one, which is the
    conservative side."""
    try:
        payload = pure_scan_payload(df)
        if payload is None:
            return None
        plan = df._jdf.queryExecution().optimizedPlan()
        scan_ids: set[int] = set()
        for n in _walk(plan):
            if n.getClass().getSimpleName() == "DataSourceV2ScanRelation":
                it = n.output().iterator()
                while it.hasNext():
                    scan_ids.add(it.next().exprId().id())
        passthrough: set[str] = set()
        it = plan.output().iterator()
        while it.hasNext():
            a = it.next()
            if a.exprId().id() in scan_ids:
                passthrough.add(a.name())
        return (payload, passthrough)
    except Exception:
        return None


def referenced_scan_columns(df: DataFrame, payload_keys) -> dict[str, set[str]]:
    """Map payload key -> columns of that grid scan actually referenced by
    the optimized plan (exprId-precise, so duplicate column names across
    tables are safe). Drives projection pushdown to storage (A3)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    nodes = list(_walk(plan))
    refs: set[int] = set()
    for n in nodes:
        it = n.references().iterator()
        while it.hasNext():
            refs.add(it.next().exprId().id())
    it = plan.output().iterator()
    while it.hasNext():
        refs.add(it.next().exprId().id())
    needed: dict[str, set[str]] = {}
    for n in nodes:
        if n.getClass().getSimpleName() != "DataSourceV2ScanRelation":
            continue
        try:
            payload = n.relation().options().get("payload")
        except Exception:
            continue
        if payload not in payload_keys:
            continue
        cols = needed.setdefault(payload, set())
        out_it = n.output().iterator()
        while out_it.hasNext():
            a = out_it.next()
            if a.exprId().id() in refs:
                cols.add(a.name())
    return needed


# Datetime fields a grouping key may take of a TIMESTAMP_NTZ dim. Spark
# applies the date fields to ``CAST(ts AS DATE)``; on NTZ values both the
# cast and ``hour`` are time-zone free, so numpy can mirror them exactly.
DATETIME_KEYS = {
    "Hour": "hour",
    "DayOfMonth": "dayofmonth",
    "Month": "month",
    "Year": "year",
    "DayOfYear": "dayofyear",
}


@dataclass(frozen=True)
class AggregateSpec:
    """A root aggregate over exactly one registered grid scan, in scan terms.

    - ``keys``: the grouping keys, each ``("col", column)`` or
      ``(field, dim)`` with ``field`` a :data:`DATETIME_KEYS` value.
    - ``outputs``: one entry per result column, in order: ``("key", i)``
      for grouping key ``i``, or ``(fn, column)`` with ``fn`` one of
      sum/avg/min/max/count and ``column`` a scan column, or
      ``("count_star", None)``.
    - ``preds``: the filter conjuncts as ``(column, op, ((value, type), ...))``.
    """

    payload: str
    keys: tuple
    outputs: tuple
    preds: tuple


def aggregate_spec(df: DataFrame, payload_keys) -> AggregateSpec | None:
    """The :class:`AggregateSpec` of ``df``'s optimized plan, or None.

    Accepted: a root ``Aggregate`` over only ``Project``/``Filter`` nodes
    over one grid scan whose payload is in ``payload_keys``, where every
    grouping key and aggregate argument resolves (through ``Project``
    aliases) to a scan column, a :data:`DATETIME_KEYS` field of a
    TIMESTAMP_NTZ column, or a float column under Spark's cast to double;
    every aggregate is SUM/AVG/MIN/MAX/COUNT without DISTINCT or FILTER;
    and every filter conjunct is a simple comparison / IN / IsNotNull on
    one scan column. Whether a spec can be answered (from coordinate
    metadata, or by partial aggregation in the reader) is the caller's
    call: this walk only translates the plan.

    exprId-precise: an attribute merely *named* like a scan column (an
    aliased expression in a subquery) does not resolve to it.
    """
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "Aggregate":
            return None
        scan = None
        filters = []
        aliases: dict[int, object] = {}
        n_aggs = 0
        for n in _walk(plan):
            cls = n.getClass().getSimpleName()
            if cls == "DataSourceV2ScanRelation":
                if scan is not None:
                    return None
                scan = n
            elif cls == "Filter":
                filters.append(n)
            elif cls == "Project":
                pl = n.projectList()
                for i in range(pl.size()):
                    e = pl.apply(i)
                    if e.getClass().getSimpleName() == "Alias":
                        aliases[e.exprId().id()] = e.child()
            elif cls == "Aggregate":
                # the ROOT aggregate only: a nested Aggregate (DISTINCT /
                # GROUP BY subquery) changes the row set the outer
                # aggregate sees
                n_aggs += 1
                if n_aggs > 1:
                    return None
            else:
                return None
        if scan is None:
            return None
        payload = scan.relation().options().get("payload")
        if payload not in payload_keys:
            return None
        scan_cols: dict[int, tuple[str, str]] = {}
        it = scan.output().iterator()
        while it.hasNext():
            a = it.next()
            scan_cols[a.exprId().id()] = (a.name(), a.dataType().typeName())

        def resolve(expr):
            """("col", name, type) or (field, dim, type) for ``expr``, else None."""
            cls = expr.getClass().getSimpleName()
            if cls == "Alias":
                return resolve(expr.child())
            if cls == "AttributeReference":
                eid = expr.exprId().id()
                if eid in aliases:
                    return resolve(aliases[eid])
                col = scan_cols.get(eid)
                return ("col", *col) if col else None
            if cls in DATETIME_KEYS:
                arg = expr.children().apply(0)
                if cls != "Hour":
                    # date fields read CAST(ts AS DATE)
                    if arg.getClass().getSimpleName() != "Cast":
                        return None
                    if arg.dataType().typeName() != "date":
                        return None
                    arg = arg.child()
                inner = resolve(arg)
                if inner is None or inner[0] != "col" or inner[2] != "timestamp_ntz":
                    return None
                return (DATETIME_KEYS[cls], inner[1], "integer")
            return None

        def scan_col(expr):
            r = resolve(expr)
            return r[1] if r is not None and r[0] == "col" else None

        keys = []
        ge = plan.groupingExpressions()
        for i in range(ge.size()):
            r = resolve(ge.apply(i))
            if r is None:
                return None
            keys.append(r[:2])

        outputs = []
        aggs = plan.aggregateExpressions()
        for i in range(aggs.size()):
            ne = aggs.apply(i)
            child = ne.child() if ne.getClass().getSimpleName() == "Alias" else ne
            if child.getClass().getSimpleName() != "AggregateExpression":
                r = resolve(child)
                if r is None or r[:2] not in keys:
                    return None
                outputs.append(("key", keys.index(r[:2])))
                continue
            if child.isDistinct() or child.filter().isDefined():
                return None
            fn = child.aggregateFunction()
            fcls = fn.getClass().getSimpleName()
            ch = fn.children()
            if fcls == "Count":
                if ch.size() != 1:
                    return None
                arg = ch.apply(0)
                if arg.getClass().getSimpleName() == "Literal":
                    # COUNT(<non-null literal>) is COUNT(*); COUNT(NULL)
                    # is 0 and must not be answered with the cell count.
                    if arg.value() is None:
                        return None
                    outputs.append(("count_star", None))
                    continue
                col = scan_col(arg)
            elif fcls in ("Sum", "Average", "Min", "Max"):
                arg = ch.apply(0)
                if (
                    arg.getClass().getSimpleName() == "Cast"
                    and arg.dataType().typeName() == "double"
                    and arg.child().dataType().typeName() in ("float", "double")
                ):
                    arg = arg.child()  # the implicit widening of a float
                col = scan_col(arg)
            else:
                return None
            if col is None:
                return None
            outputs.append(({"Average": "avg"}.get(fcls, fcls.lower()), col))

        preds: list = []
        for f in filters:
            if not _conjuncts(f.condition(), scan_col, preds):
                return None
        preds = [(c, op, tuple(lits)) for c, op, lits in preds]
        return AggregateSpec(payload, tuple(keys), tuple(outputs), tuple(preds))
    except Exception:
        return None


# The name the session calls and the benchmark's tracer spans: one plan
# walk serves both aggregate shortcuts.
metadata_aggregate_spec = aggregate_spec


_CMP_CLASSES = {
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "EqualTo": "=",
}
_FLIP = {">": "<", ">=": "<=", "<": ">", "<=": ">=", "=": "="}


def _literal_py(expr):
    """(python value, spark type name) for a Literal, else None."""
    if expr.getClass().getSimpleName() != "Literal":
        return None
    v = expr.value()
    t = expr.dataType().typeName()
    if v is None:
        return None
    if t in ("timestamp", "timestamp_ntz"):
        return (int(v), t)  # microseconds since epoch
    if t in ("integer", "long", "short", "byte"):
        return (int(v), t)
    if t in ("double", "float"):
        return (float(v), t)
    if t == "date":
        return (int(v), t)  # days since epoch
    if t == "string":
        return (str(v), t)
    return None


def _conjuncts(cond, scan_attr, out) -> bool:
    """Flatten an And-tree of simple per-dim predicates into
    ``out`` as (dim, op, [values]) tuples. False if anything in the tree
    is not expressible (caller must bail to the engine)."""
    cls = cond.getClass().getSimpleName()
    if cls == "And":
        return _conjuncts(cond.left(), scan_attr, out) and _conjuncts(
            cond.right(), scan_attr, out
        )
    if cls == "IsNotNull":
        dim = scan_attr(cond.child())
        if dim is None:
            return False
        out.append((dim, "notnull", []))
        return True
    if cls in _CMP_CLASSES:
        left, right = cond.left(), cond.right()
        dim, lit, op = scan_attr(left), _literal_py(right), _CMP_CLASSES[cls]
        if dim is None:  # maybe literal <op> attr: flip
            dim, lit, op = scan_attr(right), _literal_py(left), _FLIP[_CMP_CLASSES[cls]]
        if dim is None or lit is None:
            return False
        out.append((dim, op, [lit]))
        return True
    if cls == "In":
        dim = scan_attr(cond.value())
        if dim is None:
            return False
        vals = []
        lst = cond.list()
        for i in range(lst.size()):
            lit = _literal_py(lst.apply(i))
            if lit is None:
                return False
            vals.append(lit)
        out.append((dim, "in", vals))
        return True
    if cls == "InSet":
        # optimizer turns large In-lists into InSet with raw values;
        # their element conversion is type-dependent — bail for now
        return False
    return False
