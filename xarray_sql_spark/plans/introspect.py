"""Catalyst logical-plan introspection (JVM plan walks via py4j).

No custom Catalyst rules are needed for parity (SURVEY.md §4) — but
*read-only* plan walks are: the projection-pushdown compensation needs to
know which columns each grid scan actually feeds (Spark 4.1 doesn't column-
prune Python data sources), and the reverse pivot's coordinate fast path
needs to know whether a plan is a pure unfiltered scan (reference
ds.py:435-505 walks DataFusion's logical plan the same way). The aggregate
shortcuts translate an aggregate plan into scan terms
(:func:`aggregate_spec`): grouping keys, aggregates over expression trees
the reader evaluates, filter conjuncts, the ORDER BY / HAVING above it as
SQL text over its outputs, and — for an aggregate over an inner join with
a small aggregate keyed exactly by the join keys — the dense lookup join's
small side (:class:`LookupSpec`).
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame

PURE_SCAN_NODES = {"Project", "Sort", "SubqueryAlias", "DataSourceV2ScanRelation"}

# DataFrame -> its optimized plan with every filter in it (_filtered_plan)
_FILTERED_PLANS: "weakref.WeakKeyDictionary[DataFrame, object]" = weakref.WeakKeyDictionary()
_PUSHDOWN = "spark.sql.python.filterPushdown.enabled"


def _filtered_plan(df: DataFrame):
    """``df``'s optimized plan with every filter still in it.

    The grid reader answers the dim filters it mirrors exactly, so the
    plan Spark executes has no Filter node for them. The walks here must
    see them (a filtered scan is no pure scan; a partial aggregate needs
    its WHERE), so they read a plan optimized with Python data source
    filter pushdown off for that one call, once per DataFrame. That also
    spares them the pushdown's planning worker call on a plan the
    aggregate shortcuts throw away; ``df`` itself still plans with
    pushdown."""
    plan = _FILTERED_PLANS.get(df)
    if plan is None:
        spark = df.sparkSession
        old = spark.conf.get(_PUSHDOWN)
        spark.conf.set(_PUSHDOWN, "false")
        try:
            qe = df._jdf.queryExecution()
            plan = spark._jsparkSession.sessionState().optimizer().execute(
                qe.withCachedData().clone()
            )
        finally:
            spark.conf.set(_PUSHDOWN, old)
        _FILTERED_PLANS[df] = plan
    return plan


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


def pure_scan_passthrough(df: DataFrame) -> tuple[str, set[str]] | None:
    """(payload, result columns that ARE the scan's own output attributes)
    when the optimized plan is a single unfiltered table scan under only
    {Project, Sort, SubqueryAlias} — the case where result coordinates can
    equal the source's (A12 fast path) — else None.

    Callers match the payload against the registered grid they resolved
    coordinates from: purity alone is not identity (a session can hold one
    registered grid plus unrelated V2 tables, and a pure scan of one of
    those must not borrow the grid's axes). Nor does purity make a result
    column safe to resolve from source coordinates: ``SELECT time +
    INTERVAL 1 HOUR AS time, ...`` is still Project-over-scan, but its
    ``time`` is a COMPUTED alias (fresh exprId) whose values no longer
    equal the source axis. Only columns whose exprId appears verbatim in
    the scan output pass through unchanged — Project/Sort/SubqueryAlias
    all preserve exprIds for bare attributes, and every alias (even a pure
    rename) mints a new one, which is the conservative side."""
    try:
        plan = _filtered_plan(df)
        scans = []
        for n in _walk(plan):
            cls = n.getClass().getSimpleName()
            if cls == "DataSourceV2ScanRelation":
                scans.append(n)
            elif cls not in PURE_SCAN_NODES:
                return None
        if len(scans) != 1:
            return None
        payload = scans[0].relation().options().get("payload")
        if not payload:
            return None
        scan_ids: set[int] = set()
        it = scans[0].output().iterator()
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
    plan = _filtered_plan(df)
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

# Catalyst types an aggregated expression may compute in, as the numpy
# dtype the reader evaluates the node in.
FLOAT_TYPES = {"float": "float32", "double": "float64"}
_ARITH = {"Add": "add", "Subtract": "sub", "Multiply": "mul"}
# Wrappers the optimizer puts around float join keys (-0.0 -> 0.0, one NaN)
_NORMALIZERS = {"KnownFloatingPointNormalized", "NormalizeNaNAndZero"}
_SQL_OPS = {
    "And": "AND", "Or": "OR", "EqualTo": "=", "EqualNullSafe": "<=>",
    "GreaterThan": ">", "GreaterThanOrEqual": ">=", "LessThan": "<",
    "LessThanOrEqual": "<=", "Add": "+", "Subtract": "-", "Multiply": "*",
    "Divide": "/",
}


@dataclass(frozen=True)
class LookupSpec:
    """The small side of a dense lookup join: an aggregate over one grid
    scan whose grouping keys are exactly the join keys, so each key occurs
    at most once.

    - ``small``: its :class:`AggregateSpec`;
    - ``keys``: one ``((kind, dim), k)`` per join key: the big-side key (as
      in ``AggregateSpec.keys``) equal to the small side's grouping key ``k``.
    """

    small: "AggregateSpec"
    keys: tuple


@dataclass(frozen=True)
class AggregateSpec:
    """An aggregate over one registered grid scan, in scan terms.

    - ``keys``: the grouping keys, each ``("col", column)`` or
      ``(field, dim)`` with ``field`` a :data:`DATETIME_KEYS` value.
    - ``outputs``: one entry per output of the Aggregate node, in order:
      ``("key", i)`` for grouping key ``i``, ``("count_star", None)``, or
      ``(fn, arg)`` with ``fn`` one of sum/avg/min/max/count and ``arg`` a
      scan column name or an expression tree (``sources/partials.evaluate``).
    - ``preds``: the filter conjuncts as ``(key, op, ((value, type), ...))``
      with ``key`` shaped like a grouping key.
    - ``schema``: the Aggregate node's output schema, as JSON.
    - ``above``: the Filter and Sort nodes between the root and the
      Aggregate, bottom-up, as ``("filter", sql)`` or ``("sort", ((sql,
      "ASC"|"DESC", "NULLS FIRST"|"NULLS LAST"), ...))``, with output ``i``
      of the Aggregate spelled ``_a{i}``.
    - ``select``: the Aggregate output each result column is.
    - ``lookup``: for an aggregate over an inner join with a small
      aggregate, its :class:`LookupSpec`; expression trees then read the
      small side's output ``i`` as ``("look", dtype, i)``.
    """

    payload: str
    keys: tuple
    outputs: tuple
    preds: tuple
    schema: str = ""
    above: tuple = ()
    select: tuple = ()
    lookup: LookupSpec | None = None


def _name(node) -> str:
    """The class name of a plan node or expression (one py4j call)."""
    return node.nodeName()


def _ids(attrs) -> list[int]:
    out = []
    it = attrs.iterator()
    while it.hasNext():
        out.append(it.next().exprId().id())
    return out


def _render(expr, names: dict) -> str:
    """SQL text of a Filter/Sort expression over Aggregate outputs, each
    spelled by ``names`` (exprId -> column). Raises on anything else."""
    cls = _name(expr)
    if cls == "AttributeReference":
        return f"`{names[expr.exprId().id()]}`"
    if cls == "Literal":
        return expr.sql()
    if cls == "Cast":
        return f"CAST({_render(expr.child(), names)} AS {expr.dataType().sql()})"
    if cls in ("IsNull", "IsNotNull"):
        return f"({_render(expr.child(), names)} IS {'NOT ' if cls == 'IsNotNull' else ''}NULL)"
    if cls == "Not":
        return f"(NOT {_render(expr.child(), names)})"
    if cls == "UnaryMinus":
        return f"(- {_render(expr.child(), names)})"
    if cls in _SQL_OPS:
        return f"({_render(expr.left(), names)} {_SQL_OPS[cls]} {_render(expr.right(), names)})"
    if cls == "In":
        lst = expr.list()
        items = ", ".join(_render(lst.apply(i), names) for i in range(lst.size()))
        return f"({_render(expr.value(), names)} IN ({items}))"
    raise ValueError(f"unsupported expression {cls}")


def _peel(plan):
    """(Aggregate node, Sort/Filter/Project nodes above it, bottom-up), or
    None when ``plan`` is not such a chain."""
    chain = []
    n = plan
    while True:
        cls = _name(n)
        if cls == "Aggregate":
            return n, chain[::-1]
        if cls not in ("Sort", "Filter", "Project"):
            return None
        chain.append((cls, n))
        n = n.child()


class _Resolver:
    """Resolves expressions of the plan above one grid scan (through
    ``Project`` aliases, exprId-precise) to scan terms; ``look`` maps the
    small side's value outputs of a lookup join to their output index."""

    def __init__(self, scan, aliases: dict, look: dict | None = None):
        self.aliases = aliases
        self.look = look or {}
        self.cols: dict[int, tuple[str, str]] = {}
        it = scan.output().iterator()
        while it.hasNext():
            a = it.next()
            self.cols[a.exprId().id()] = (a.name(), a.dataType().typeName())

    def key(self, expr):
        """("col", name, type) or (field, dim, "integer") for ``expr``, else None."""
        cls = _name(expr)
        if cls == "Alias":
            return self.key(expr.child())
        if cls == "AttributeReference":
            eid = expr.exprId().id()
            if eid in self.aliases:
                return self.key(self.aliases[eid])
            col = self.cols.get(eid)
            return ("col", *col) if col else None
        if cls in DATETIME_KEYS:
            arg = expr.children().apply(0)
            if cls != "Hour":
                # date fields read CAST(ts AS DATE)
                if _name(arg) != "Cast" or arg.dataType().typeName() != "date":
                    return None
                arg = arg.child()
            inner = self.key(arg)
            if inner is None or inner[0] != "col" or inner[2] != "timestamp_ntz":
                return None
            return (DATETIME_KEYS[cls], inner[1], "integer")
        return None

    def term(self, expr):
        """``key`` without the type: the shape of a grouping key or predicate term."""
        r = self.key(expr)
        return None if r is None else r[:2]

    def col(self, expr) -> str | None:
        r = self.key(expr)
        return r[1] if r is not None and r[0] == "col" else None

    def arg(self, expr):
        """An aggregate argument: a bare scan column's name (the implicit
        widening of a float column to double stripped), else its
        expression tree, else None."""
        if (
            _name(expr) == "Cast"
            and expr.dataType().typeName() == "double"
            and expr.child().dataType().typeName() in FLOAT_TYPES
        ):
            col = self.col(expr.child())
            if col is not None:
                return col
        return self.col(expr) or self.value(expr)

    def value(self, expr):
        """The expression tree of a float/double ``expr``: nodes are
        ``(op, dtype, *args)`` with ``dtype`` the numpy dtype of the node's
        Catalyst type; None when a node is outside + - * (unary minus),
        literals, casts to double and division by a nonzero literal."""
        t = FLOAT_TYPES.get(expr.dataType().typeName())
        if t is None:
            return None
        cls = _name(expr)
        if cls == "Alias":
            return self.value(expr.child())
        if cls == "AttributeReference":
            eid = expr.exprId().id()
            if eid in self.aliases:
                return self.value(self.aliases[eid])
            if eid in self.look:
                return ("look", t, self.look[eid])
            col = self.cols.get(eid)
            return ("var", t, col[0]) if col else None
        if cls == "Literal":
            v = expr.value()
            return None if v is None else ("lit", t, float(v))
        if cls == "Cast" or cls == "UnaryMinus":
            if cls == "Cast" and t != "float64":
                return None
            c = self.value(expr.child())
            return c and ("cast" if cls == "Cast" else "neg", t, c)
        if cls in _ARITH or cls == "Divide":
            if cls == "Divide":
                d = expr.right()
                if _name(d) != "Literal" or d.value() is None or d.value() == 0:
                    return None  # Spark's x / 0 is NULL (or an error), numpy's inf
            left, right = self.value(expr.left()), self.value(expr.right())
            return left and right and (_ARITH.get(cls, "div"), t, left, right)
        return None


def _scan_below(node, filters: list, aliases: dict):
    """The grid scan at the end of a chain of Project and Filter nodes
    from ``node`` down (collecting the Filter nodes and Project aliases),
    or whatever other node ends the chain."""
    while True:
        cls = _name(node)
        if cls == "Filter":
            filters.append(node)
        elif cls == "Project":
            pl = node.projectList()
            for i in range(pl.size()):
                e = pl.apply(i)
                if _name(e) == "Alias":
                    aliases[e.exprId().id()] = e.child()
        else:
            return node
        node = node.child()


def _outputs(agg, r: _Resolver, keys: list):
    """The ``AggregateSpec.outputs`` of Aggregate node ``agg``, or None."""
    outputs = []
    aggs = agg.aggregateExpressions()
    for i in range(aggs.size()):
        ne = aggs.apply(i)
        child = ne.child() if _name(ne) == "Alias" else ne
        if _name(child) != "AggregateExpression":
            k = r.key(child)
            if k is None or k[:2] not in keys:
                return None
            outputs.append(("key", keys.index(k[:2])))
            continue
        if child.isDistinct() or child.filter().isDefined():
            return None
        fn = child.aggregateFunction()
        fcls = _name(fn)
        ch = fn.children()
        if fcls not in ("Count", "Sum", "Average", "Min", "Max") or ch.size() != 1:
            return None
        arg = ch.apply(0)
        if fcls == "Count" and _name(arg) == "Literal":
            # COUNT(<non-null literal>) is COUNT(*); COUNT(NULL) is 0 and
            # must not be answered with the cell count.
            if arg.value() is None:
                return None
            outputs.append(("count_star", None))
            continue
        a = r.arg(arg)
        if a is None:
            return None
        outputs.append(({"Average": "avg"}.get(fcls, fcls.lower()), a))
    return tuple(outputs)


def aggregate_spec(df: DataFrame, payload_keys) -> AggregateSpec | None:
    """The :class:`AggregateSpec` of ``df``'s optimized plan, or None.

    Accepted: an ``Aggregate``, under only ``Sort``/``Filter``/``Project``
    nodes that read its outputs, over only ``Project``/``Filter`` nodes
    over one grid scan whose payload is in ``payload_keys`` — or over an
    inner equi-``Join`` of such a scan with a small side that is itself
    an accepted aggregate whose grouping keys are exactly the join keys
    (a dense lookup join, :class:`LookupSpec`). Every grouping key and
    join key resolves (through ``Project`` aliases) to a scan column or a
    :data:`DATETIME_KEYS` field of a TIMESTAMP_NTZ column; every aggregate
    is SUM/AVG/MIN/MAX/COUNT without DISTINCT or FILTER over a scan column
    or an expression tree (:meth:`_Resolver.value`); and every filter
    conjunct is a simple comparison / IN / IsNotNull on one key-shaped
    term. Whether a spec can be answered (from coordinate metadata, or by
    partial aggregation in the reader) is the caller's call: this walk
    only translates the plan.

    exprId-precise: an attribute merely *named* like a scan column (an
    aliased expression in a subquery) does not resolve to it.
    """
    try:
        return _aggregate_spec(_filtered_plan(df), payload_keys, join_ok=True)
    except Exception:
        return None


def _aggregate_spec(plan, payload_keys, join_ok: bool) -> AggregateSpec | None:
    peeled = _peel(plan)
    if peeled is None:
        return None
    agg, chain = peeled
    out_ids = _ids(agg.output())
    names = {e: f"_a{i}" for i, e in enumerate(out_ids)}
    above = []
    for cls, n in chain:
        if cls == "Project":
            pl = n.projectList()
            for i in range(pl.size()):
                e = pl.apply(i)
                if _name(e) != "AttributeReference" or e.exprId().id() not in names:
                    return None
        elif cls == "Filter":
            above.append(("filter", _render(n.condition(), names)))
        else:
            if not getattr(n, "global")():
                return None  # a per-partition sort
            orders = []
            so = n.order()
            for i in range(so.size()):
                o = so.apply(i)
                orders.append(
                    (_render(o.child(), names), o.direction().sql(), o.nullOrdering().sql())
                )
            above.append(("sort", tuple(orders)))
    select = tuple(out_ids.index(e) for e in _ids(plan.output()))

    filters: list = []
    aliases: dict = {}
    below = _scan_below(agg.child(), filters, aliases)
    lookup = None
    if join_ok and _name(below) == "Join":
        found = _join_sides(below, payload_keys, filters, aliases)
        if found is None:
            return None
        scan, r, lookup = found
    elif _name(below) == "DataSourceV2ScanRelation":
        scan, r = below, _Resolver(below, aliases)
    else:
        return None
    payload = scan.relation().options().get("payload")
    if payload not in payload_keys:
        return None

    keys = []
    ge = agg.groupingExpressions()
    for i in range(ge.size()):
        k = r.key(ge.apply(i))
        if k is None:
            return None
        keys.append(k[:2])
    outputs = _outputs(agg, r, keys)
    if outputs is None:
        return None
    preds: list = []
    for f in filters:
        if not _conjuncts(f.condition(), r.term, preds):
            return None
    preds = [(c, op, tuple(lits)) for c, op, lits in preds]
    return AggregateSpec(
        payload, tuple(keys), outputs, tuple(preds), agg.schema().json(),
        tuple(above), select, lookup,
    )


def _split_and(cond) -> list:
    if _name(cond) == "And":
        return _split_and(cond.left()) + _split_and(cond.right())
    return [cond]


def _unwrap(expr):
    while _name(expr) in _NORMALIZERS:
        expr = expr.child()
    return expr


def _join_sides(join, payload_keys, filters: list, aliases: dict):
    """(big-side scan, its resolver, :class:`LookupSpec`) for a dense
    lookup join, else None."""
    if join.joinType().toString() != "Inner" or not join.condition().isDefined():
        return None
    sides = [join.left(), join.right()]
    smalls = [_aggregate_spec(s, payload_keys, join_ok=False) for s in sides]
    found = [i for i, s in enumerate(smalls) if s is not None]
    if len(found) != 1:
        return None
    small = smalls[found[0]]
    scan = _scan_below(sides[1 - found[0]], filters, aliases)
    if _name(scan) != "DataSourceV2ScanRelation":
        return None
    # the small side's columns above the join: grouping keys and values
    small_keys, look = {}, {}
    for eid, i in zip(_ids(sides[found[0]].output()), small.select):
        kind, arg = small.outputs[i]
        if kind == "key":
            small_keys[eid] = arg
        else:
            look[eid] = i
    r = _Resolver(scan, aliases, look)
    pairs = []
    for c in _split_and(join.condition().get()):
        if _name(c) != "EqualTo":
            return None
        a, b = _unwrap(c.left()), _unwrap(c.right())
        for big, other in ((a, b), (b, a)):
            k = r.key(big)
            if (
                k is not None
                and _name(other) == "AttributeReference"
                and other.exprId().id() in small_keys
                and other.dataType().typeName() == k[2]
            ):
                pairs.append((k[:2], small_keys[other.exprId().id()]))
                break
        else:
            return None
    if sorted(k for _b, k in pairs) != list(range(len(small.keys))):
        return None  # keys not joined, or joined twice: not a unique lookup
    return scan, r, LookupSpec(small, tuple(pairs))


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
    """Flatten an And-tree of simple predicates on one ``scan_attr`` term
    each (a dim, a variable or a datetime field) into ``out`` as (term,
    op, [values]) tuples. False if anything in the tree is not
    expressible (caller must bail to the engine)."""
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
