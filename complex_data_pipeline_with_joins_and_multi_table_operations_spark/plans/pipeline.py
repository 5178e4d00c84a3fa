"""Five-stage pipeline orchestration (reference §3.4: IngestionJob →
DimensionJob → FactJob → AggregationJob → DataQualityJob).

The reference runs five separate spark-submit JVMs communicating only
through Iceberg tables (README.md:78-105). Here the same stages are
callable in-process against ONE SparkSession (no per-stage JVM spin-up)
or per-stage via the CLI, with hand-off still table-materialized in a
warehouse directory of partitioned parquet — the portable equivalent of
the reference's Hadoop-catalog warehouse (SURVEY.md §1.4, §2.10).

Write-mode semantics upgrade (SURVEY.md §4.3.3): every stage write here
is an idempotent overwrite (re-running a stage replaces its output);
append remains available through sources.io.append for incremental loads.

Partition layout: large tables partition on their pruning key — the raw
and fact tables by ship_year (at 100 TB: by date, giving daily partition
pruning; at test scale daily layout would mean thousands of tiny files,
the classic small-files problem, so the CLI exposes --partition-daily).
"""

from __future__ import annotations

import argparse
import errno
import json
import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates, cleaning, dimensions, fact, quality
from ..sources import Catalog
from ..sources.io import local_frame


# -- SQL through Spark's own parser ------------------------------------------
#
# Warehouse.sql hands every statement Spark's grammar knows to Spark's parser
# and reads the unresolved logical plan it returns: the grammar, quoting,
# clause-order rules and syntax errors are Spark's. Every parsed node carries
# the span of statement text it came from, so a MERGE condition or SET value
# reaches the engine as the statement's exact text, and a time-travel
# reference is replaced by its span.


def _parse_sql(spark: SparkSession, method: str, text: str):
    """Spark's parser on ``text`` (``method`` is ``parsePlan`` or
    ``parseExpression``); a syntax error raises ValueError with Spark's
    message. PySpark logs each ParseException it converts, Java stack and
    all, to stderr; the ValueError carries the message, so that logger is
    silenced for this one call."""
    from pyspark.errors import ParseException
    from pyspark.logger import PySparkLogger

    parser = spark._jsparkSession.sessionState().sqlParser()
    log = PySparkLogger.getLogger("SQLQueryContextLogger")
    level = log.level
    log.setLevel(logging.CRITICAL)
    try:
        try:
            return getattr(parser, method)(text)
        except ParseException as e:
            if e.getCondition() != "UNSUPPORTED_FEATURE.SET_TABLE_PROPERTY":
                raise
            plan = _with_reserved_props(spark, text)
            if plan is None:
                raise
            return plan
    except ParseException as e:
        raise ValueError(str(e)) from e
    finally:
        log.setLevel(level)


def _with_reserved_props(spark: SparkSession, text: str):
    """The plan of a CREATE [OR REPLACE] TABLE or ALTER TABLE … SET
    TBLPROPERTIES whose TBLPROPERTIES name a key Spark reserves for its
    catalog (owner, location, provider, external, is_managed_location),
    else None. Spark's parser refuses those keys, or drops them under
    ``spark.sql.legacy.notReserveProperties``; a table here stores them as
    plain properties. So the statement is parsed with the keys dropped,
    and its property map is swapped for the one Spark's AST builder reads
    from the statement's TBLPROPERTIES parse tree."""
    from py4j.java_gateway import get_field

    jvm, state = spark._jvm, spark._jsparkSession.sessionState()
    conf, legacy = state.conf(), "spark.sql.legacy.notReserveProperties"
    old = conf.getConfString(legacy) if conf.contains(legacy) else None
    conf.setConfString(legacy, "true")
    try:
        plan = state.sqlParser().parsePlan(text)
    finally:
        if old is None:
            conf.unsetConf(legacy)
        else:
            conf.setConfString(legacy, old)
    k = _cls(plan)
    if k not in ("SetTableProperties", "CreateTable", "CreateTableAsSelect",
                 "ReplaceTableAsSelect"):
        return None
    p, antlr = jvm.org.apache.spark.sql.catalyst.parser, jvm.org.antlr.v4.runtime
    tree = p.SqlBaseParser(antlr.CommonTokenStream(p.SqlBaseLexer(
        p.UpperCaseCharStream(antlr.CharStreams.fromString(text))
    )))
    tree.removeErrorListeners()  # Spark's parser accepted the statement
    tree.addParseListener(getattr(getattr(p, "PostProcessor$"), "MODULE$"))
    stmt = tree.singleStatement().statement()
    build = state.sqlParser().astBuilder().visitPropertyKeyValues
    if k == "SetTableProperties":
        return _copy_with(spark, plan, "properties", build(stmt.propertyList()))
    props = build(get_field(stmt.createTableClauses(), "tableProps"))
    spec = _copy_with(spark, plan.tableSpec(), "properties", props)
    return _copy_with(spark, plan, "tableSpec", spec)


def _copy_with(spark: SparkSession, node, field: str, value):
    """A copy of the plan or expression ``node`` with its constructor
    field ``field`` set to ``value``."""
    n = node.productArity()
    args = spark.sparkContext._gateway.new_array(spark._jvm.Object, n)
    for i in range(n):
        name = node.productElementName(i)
        args[i] = value if name == field else node.productElement(i)
    return node.makeCopy(args)


def _cls(node) -> str:
    return node.nodeName()  # the plan or expression class's simple name


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _span(node) -> tuple[int, int]:
    """The [start, stop) offsets of the statement text parsed into ``node``.
    Spark positions a predicate (``IN``, ``IS NULL``, ``BETWEEN``, ``LIKE``
    …) from its keyword on, so its text starts where its leftmost operand
    does: down the chain of first children, one that ends before the start
    found so far moves the start back to its own."""
    o = node.origin()
    lo, hi = o.startIndex().get(), o.stopIndex().get() + 1
    kids = node.children()
    while not kids.isEmpty():
        first, kids = kids.head(), kids.head().children()
        if _shared(first):
            break  # its position is another statement's: see _shared
        o = first.origin()
        if not o.stopIndex().isDefined():
            break
        c_lo, c_hi = o.startIndex().get(), o.stopIndex().get() + 1
        if c_hi <= lo:
            lo = c_lo  # an operand left of the predicate's keyword
        elif not lo <= c_lo < c_hi <= hi:
            break  # a position from outside this node (a bare EXISTS)
    return lo, hi


def _shared(node) -> bool:
    """Whether the parser hands ``node`` out as a shared constant: TRUE,
    FALSE, or a Scala object such as the name placeholder of a
    ``struct(…)`` argument. Its position, if any, is from whichever
    statement first made it."""
    k = _cls(node)
    return k.endswith("$") or k == "Literal" and node.sql() in ("true", "false")


def _text(sql: str, node) -> str:
    """The exact text of ``sql`` that Spark parsed into ``node``. A shared
    TRUE or FALSE is its SQL; a bare EXISTS takes its enclosing
    statement's position."""
    k = _cls(node)
    if _shared(node):
        return node.sql()
    lo, hi = _span(node)
    text = sql[lo:hi]
    if k == "Exists" and not text.lstrip("( ").upper().startswith("EXISTS"):
        raise ValueError(
            "Spark's parser records no position for a bare EXISTS (…); "
            "write it in parentheses"
        )
    return text


def _column(e) -> str | None:
    """The name of a bare one-part column reference, else None."""
    if _cls(e) != "UnresolvedAttribute":
        return None
    parts = _seq(e.nameParts())
    return parts[0] if len(parts) == 1 else None


def _relation(node, role: str) -> tuple[str, str]:
    """(name, alias) of a parsed table reference; the alias defaults to
    the name."""
    alias = None
    if _cls(node) == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    k = _cls(node)
    if k == "UnresolvedIdentifier":
        parts = _seq(node.nameParts())
    elif k in ("UnresolvedRelation", "UnresolvedTable", "UnresolvedTableOrView"):
        parts = _seq(node.multipartIdentifier())
    else:
        parts = []
    if len(parts) != 1:
        raise ValueError(f"{role} must name a table or view (one-part name)")
    return parts[0], alias or parts[0]


def _field(node) -> str:
    """A top-level column named by an ALTER TABLE statement."""
    parts = _seq(node.name())
    if len(parts) != 1:
        raise ValueError(
            f"ALTER TABLE names column {'.'.join(parts)!r}: nested fields "
            "are not supported"
        )
    return parts[0]


def _refuse(clauses: dict, context: str, supported: str) -> None:
    """Raise for the first clause present that the backends cannot honour,
    so that no clause of a statement is dropped silently."""
    bad = [clause for clause, present in clauses.items() if present]
    if bad:
        raise ValueError(
            f"unsupported {context}: {bad[0]} (supported: {supported})"
        )


def _props(m) -> dict[str, str]:
    """A parsed TBLPROPERTIES map as a dict."""
    return {kv._1(): kv._2() for kv in _seq(m.toSeq())}


def _column_defs(cols) -> tuple:
    """A parsed CREATE TABLE column list as (schema, generated specs,
    DEFAULT expressions): Delta's declare-time column surface. A column
    takes ``GENERATED ALWAYS AS (expr)``, ``GENERATED ALWAYS AS IDENTITY
    [(START WITH n [INCREMENT BY m])]`` or ``DEFAULT <expr>``; every other
    column clause raises."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_json_string

    fields, generated, defaults = [], {}, {}
    for c in _seq(cols):
        name, ident = c.name(), c.identityColumnSpec()
        _refuse(
            {
                "NOT NULL": not c.nullable(),
                "COMMENT": c.comment().isDefined(),
                "GENERATED BY DEFAULT AS IDENTITY": ident.isDefined()
                and ident.get().isAllowExplicitInsert(),
            },
            f"column constraint on {name!r}",
            "GENERATED ALWAYS AS (expr) | GENERATED ALWAYS AS IDENTITY "
            "[(START WITH n INCREMENT BY m)] | DEFAULT <expr>",
        )
        fields.append(
            StructField(name, _parse_datatype_json_string(c.dataType().json()))
        )
        if ident.isDefined():
            spec = ident.get()
            generated[name] = {
                "identity": {"start": spec.getStart(), "step": spec.getStep()}
            }
        elif c.generationExpression().isDefined():
            generated[name] = {"expr": c.generationExpression().get()}
        if c.defaultValue().isDefined():
            defaults[name] = c.defaultValue().get().originalSQL()
    return StructType(fields), generated, defaults


def _layout(plan) -> dict:
    """The layout clauses of a parsed CREATE TABLE [AS SELECT] as
    ``create_table``/``write_snapshot`` keywords: PARTITIONED BY columns,
    CLUSTERED BY … [SORTED BY …] INTO n BUCKETS and TBLPROPERTIES. Every
    other clause raises."""
    spec = plan.tableSpec()
    supported = "PARTITIONED BY | CLUSTERED BY … INTO n BUCKETS | TBLPROPERTIES"
    _refuse(
        {
            "IF NOT EXISTS": _cls(plan) != "ReplaceTableAsSelect"
            and plan.ignoreIfExists(),
            "USING": spec.provider().isDefined(),
            "OPTIONS": not spec.optionExpression().options().isEmpty(),
            "LOCATION": spec.location().isDefined(),
            "COMMENT": spec.comment().isDefined(),
            "ROW FORMAT / STORED AS": spec.serde().isDefined(),
            "EXTERNAL": spec.external(),
            "DEFAULT COLLATION": spec.collation().isDefined(),
            "a table constraint": not spec.constraints().isEmpty(),
        },
        "CREATE TABLE clause",
        supported,
    )

    def col(ref) -> str:  # a nested name matches no column of the table
        return ".".join(ref.fieldNames())

    out: dict = {}
    for tr in _seq(plan.partitioning()):
        kind = tr.name()
        if kind == "identity":
            out.setdefault("partition_by", []).append(col(tr.ref()))
        elif kind in ("bucket", "sorted_bucket"):
            cols = [col(r) for r in _seq(tr.columns())]
            out["bucket_by"] = (int(tr.numBuckets().value()), cols)
            if kind == "sorted_bucket":
                out["sort_by"] = [col(r) for r in _seq(tr.sortedColumns())]
        else:
            _refuse({tr.toString(): True}, "CREATE TABLE layout", supported)
    props = _props(spec.properties())
    if props:
        out["properties"] = props
    return out


def _canon_merge_expr(
    sql: str, node, t_alias: str, s_alias: str, aliases: str
) -> str:
    """The text of a parsed MERGE expression with the statement's aliases
    rewritten to the engine's canonical ``t``/``s``: each qualified column
    reference or star (``src.v``, ``src.*``) has its span replaced in ONE
    pass (so the swapped alias pair ``target AS s, source AS t`` maps
    correctly), subquery plans included, and string literals are never
    touched. ``aliases`` names the rows the clause may see: ``"ts"``
    (matched: both), ``"t_bare"`` (NOT MATCHED BY SOURCE: the target row,
    bare column names), ``"s"`` (NOT MATCHED insert condition: the source
    row)."""

    def canon(e, nested: bool) -> str | None:  # a qualified reference
        k, parts, star = _cls(e), [], []
        if k == "UnresolvedAttribute":
            parts = _seq(e.nameParts())
        elif k == "UnresolvedStar" and e.target().isDefined():
            parts, star = _seq(e.target().get()), ["*"]
        qual = parts[0].lower() if len(parts + star) > 1 else None
        if qual not in (t_alias.lower(), s_alias.lower()):
            return None
        is_t = qual == t_alias.lower()
        if aliases == "t_bare" and not is_t:
            raise ValueError(
                "a NOT MATCHED BY SOURCE clause sees only the target row; "
                f"{_text(sql, e)!r} references the source"
            )
        if aliases == "t_bare" and nested:
            raise ValueError(
                "a NOT MATCHED BY SOURCE clause names target columns bare, "
                f"so a subquery cannot correlate on {_text(sql, e)!r}"
            )
        if aliases == "s" and is_t:
            raise ValueError(
                "a NOT MATCHED insert condition sees only the source row; "
                f"{_text(sql, e)!r} references the target"
            )
        prefix = "" if aliases == "t_bare" else "t." if is_t else "s."
        names = [f"`{p.replace('`', '``')}`" for p in parts[1:]]
        return prefix + ".".join(names + star)

    # (node, is it a plan, is it in a subquery): a subquery's plan and a
    # plan's expressions are not the node's children
    edits, stack = [], [(node, False, False)]
    while stack:
        e, is_plan, nested = stack.pop()
        new = None if is_plan else canon(e, nested)
        if new is None:
            stack += [(c, is_plan, nested) for c in _seq(e.children())]
            if is_plan:
                stack += [(x, False, True) for x in _seq(e.expressions())]
            elif _cls(e) in ("ScalarSubquery", "ListQuery", "Exists"):
                stack.append((e.plan(), True, True))
        elif e is node:  # one column, as most SET values are: no spans
            return new
        else:
            edits.append((*_span(e), new))
    text = _text(sql, node)
    if edits:
        base = _span(node)[0]
        for lo, hi, new in sorted(edits, reverse=True):
            text = text[: lo - base] + new + text[hi - base :]
    return text.strip()


_DNF_DISJUNCT_CAP = 64
_CMP_OPS = {
    "EqualTo": "==", "LessThan": "<", "LessThanOrEqual": "<=",
    "GreaterThan": ">", "GreaterThanOrEqual": ">=",
}
# a comparison read from its other side: ``5 < id`` is ``id > 5``
_FLIP = {"==": "==", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
# NOT over a leaf negates its op; both ops of each pair are null-unsafe, so
# a NULL input selects no row either way (SQL three-valued logic)
_NEGATE = {
    "==": "!=", "<": ">=", "<=": ">", ">": "<=", ">=": "<",
    "in": "notin", "notin": "in", "isnull": "notnull", "notnull": "isnull",
}


def _where_dnf(spark: SparkSession, text: str, expr=None) -> list[list[tuple]]:
    """A WHERE predicate as DNF: a list of AND-conjunctions of ``(col, op,
    value)`` terms, the filters ``TableLog.delete/update/optimize`` prune
    files with and re-apply to rows. ``expr`` is the predicate Spark's
    parser made from ``text``; it is parsed here when omitted.

    NOT moves to the leaves by De Morgan's laws, which hold in SQL's
    three-valued logic (``<>`` arrives as NOT over ``=``; NOT BETWEEN
    becomes the two-range disjunction). AND over OR distributes, capped at
    ``_DNF_DISJUNCT_CAP`` disjuncts. A leaf compares one bare column with
    constants: a comparison, ``[NOT] IN (…)``, ``IS [NOT] NULL`` or
    ``[NOT] BETWEEN``. The constants fold to Python values in one select
    over an inline table — a local relation, so no job runs — with Spark's
    own semantics: ``date_sub(current_date(), 90)`` folds to a DATE in the
    session time zone, and stats pruning sees a plain literal."""
    if expr is None:
        expr = _parse_sql(spark, "parseExpression", text)
    consts: list = []  # value-side expressions; terms hold their indexes
    unresolved = (
        spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    ).UNRESOLVED_ATTRIBUTE()

    def leaf(e, col_e, op: str, vals: list, neg: bool) -> list[list[tuple]]:
        col = _column(col_e)
        if col is None or any(v.containsPattern(unresolved) for v in vals):
            raise ValueError(
                f"cannot parse WHERE term {_text(text, e)!r}: a term compares "
                "one bare column with constants — use the TableLog API with "
                "a Column predicate for anything richer"
            )
        ids = tuple(range(len(consts), len(consts) + len(vals)))
        consts.extend(vals)
        if op == "between":
            if neg:
                return [[(col, "<", ids[0])], [(col, ">", ids[1])]]
            return [[(col, op, ids)]]
        val = ids if op == "in" else (ids[0] if ids else None)
        return [[(col, _NEGATE[op] if neg else op, val)]]

    def walk(e, neg: bool) -> list[list[tuple]]:
        k = _cls(e)
        if k == "Not":
            return walk(e.child(), not neg)
        if k in ("And", "Or"):
            left, right = walk(e.left(), neg), walk(e.right(), neg)
            if (k == "Or") != neg:  # OR, or NOT over AND
                return left + right
            dnf = [a + b for a in left for b in right]
            if len(dnf) > _DNF_DISJUNCT_CAP:
                raise ValueError(
                    f"WHERE clause expands past {_DNF_DISJUNCT_CAP} DNF "
                    "disjuncts — simplify the predicate or use the TableLog API"
                )
            return dnf
        if k in _CMP_OPS:
            col_e, val_e, op = e.left(), e.right(), _CMP_OPS[k]
            if _column(col_e) is None and _column(val_e) is not None:
                col_e, val_e, op = val_e, col_e, _FLIP[op]
            return leaf(e, col_e, op, [val_e], neg)
        if k == "In":
            return leaf(e, e.value(), "in", _seq(e.list()), neg)
        if k in ("IsNull", "IsNotNull"):
            op = "isnull" if k == "IsNull" else "notnull"
            return leaf(e, e.child(), op, [], neg)
        if k == "UnresolvedFunction" and _seq(e.nameParts()) == ["between"]:
            args = _seq(e.arguments())
            return leaf(e, args[0], "between", args[1:], neg)
        raise ValueError(f"cannot parse WHERE term {_text(text, e)!r}")

    dnf = walk(expr, False)
    vals = _fold_constants(spark, [_text(text, v) for v in consts])

    def bind(v):
        if isinstance(v, tuple):  # an IN list or the BETWEEN bounds
            return tuple(vals[i] for i in v)
        return None if v is None else vals[v]

    return [[(col, op, bind(v)) for col, op, v in d] for d in dnf]


def _where_filters(spark: SparkSession, text: str, expr=None):
    """The row ops' ``filters`` for a WHERE predicate: its DNF, or the
    flat conjunction when there is one disjunct."""
    dnf = _where_dnf(spark, text, expr)
    return dnf[0] if len(dnf) == 1 else dnf


def _fold_constants(spark: SparkSession, texts: list[str]) -> list:
    """Constant SQL expressions (DML predicate values, time-travel
    bounds) as Python values, from one select over a one-row inline table
    (a local relation: collecting it runs no job)."""
    from pyspark.errors import PySparkException

    if not texts:
        return []
    cols = ", ".join(f"({t}) AS c{i}" for i, t in enumerate(texts))
    try:
        df = spark.sql(f"SELECT {cols} FROM VALUES (0) AS _(z)")
        det = df._jdf.queryExecution().analyzed().deterministic()
        row = df.collect()[0] if det else None
    except PySparkException as e:
        raise ValueError(f"cannot fold function to a constant: {e}") from e
    if not det:
        raise ValueError(
            f"non-deterministic function in ({', '.join(texts)}) — a "
            "row-level DML predicate or a time-travel bound must fold to a "
            "constant"
        )
    return list(row)


def _merge_keys(sql: str, e, t_alias: str, s_alias: str) -> list[str]:
    """The key columns of a MERGE ON clause: an AND of
    ``<target>.<col> = <source>.<col>`` terms."""
    if _cls(e) == "And":
        return _merge_keys(sql, e.left(), t_alias, s_alias) + _merge_keys(
            sql, e.right(), t_alias, s_alias
        )
    sides = [e.left(), e.right()] if _cls(e) == "EqualTo" else []
    parts = [
        _seq(x.nameParts()) for x in sides if _cls(x) == "UnresolvedAttribute"
    ]
    quals = {p[0].lower(): p[1] for p in parts if len(p) == 2}
    if len(parts) != 2 or set(quals) != {t_alias.lower(), s_alias.lower()}:
        raise ValueError(
            f"MERGE ON term {_text(sql, e)!r}: ON supports an AND of equality "
            f"terms {t_alias}.<col> = {s_alias}.<col> only — use the merge() "
            "API for richer predicates"
        )
    t_col, s_col = quals[t_alias.lower()], quals[s_alias.lower()]
    if t_col != s_col:
        raise ValueError(
            "MERGE ON requires same-named key columns on both sides, got "
            f"{t_col!r} vs {s_col!r}"
        )
    return [t_col]


def _merge_clauses(
    sql: str, actions, t_alias: str, s_alias: str, aliases: str
) -> list[dict]:
    """One clause family of a parsed MERGE as ``TableLog.merge`` clause
    dicts. Conditions and SET/VALUES expressions keep their statement text,
    with the aliases rewritten by :func:`_canon_merge_expr` (``aliases``
    names the rows the family sees)."""

    def canon(node) -> str:
        return _canon_merge_expr(sql, node, t_alias, s_alias, aliases)

    def target(key) -> str:
        parts = _seq(key.nameParts())
        if len(parts) == 2 and parts[0].lower() == t_alias.lower():
            parts = parts[1:]
        if len(parts) != 1:
            raise ValueError(
                f"MERGE assignment target {_text(sql, key)!r} must be a "
                f"column of {t_alias!r}"
            )
        return parts[0]

    out = []
    for a in _seq(actions):
        k, cond = _cls(a), a.condition()
        clause = {"condition": canon(cond.get()) if cond.isDefined() else None}
        if k == "DeleteAction":
            clause["action"] = "delete"
        else:
            if k.startswith("Update"):
                clause["action"] = "update"
            clause["set"] = (
                None  # UPDATE SET * / INSERT *
                if k.endswith("StarAction")
                else {
                    target(x.key()): canon(x.value())
                    for x in _seq(a.assignments())
                }
            )
        out.append(clause)
    return out


def _values_frame(
    spark: SparkSession, sql: str, node, fields: list, defaults: dict
) -> DataFrame:
    """An INSERT's VALUES rows as a frame of ``fields``: one select over the
    statement's own inline table casts each column to its declared type
    (Spark's INSERT coercion), so the rows stay a local relation and no job
    runs. Spark's parser evaluates an all-literal VALUES list itself; one
    with a DEFAULT cell arrives unresolved, and each DEFAULT cell takes its
    column's declared default (NULL when none is declared)."""
    from pyspark.errors import PySparkException

    inline = _cls(node) == "UnresolvedInlineTable"
    width = (node.names() if inline else node.output()).size()
    if width != len(fields):
        raise ValueError(
            f"INSERT VALUES row 1 has {width} values for {len(fields)} columns"
        )
    text, base = _text(sql, node), _span(node)[0]
    for row in reversed(_seq(node.rows()) if inline else []):
        for f, cell in reversed(list(zip(fields, _seq(row)))):
            if (
                _cls(cell) == "UnresolvedAttribute"
                and cell.name().upper() == "DEFAULT"
            ):
                lo, hi = _span(cell)
                text = (
                    text[: lo - base]
                    + f"({defaults.get(f.name, 'NULL')})"
                    + text[hi - base :]
                )
    casts = ", ".join(
        f"CAST(c{j} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for j, f in enumerate(fields)
    )
    cols = ", ".join(f"c{j}" for j in range(width))
    try:
        df = spark.sql(f"SELECT {casts} FROM {text} AS _({cols})")
        df.collect()  # a failing cast raises here
    except PySparkException as e:
        raise ValueError(f"INSERT VALUES: {e}") from e
    return df


class Warehouse:
    """Path-addressed parquet warehouse: the table-materialized hand-off
    between stages. Pluggable: swap for saveAsTable/Iceberg by replacing
    write/read (the reference's SDSIcebergWriter seam, SURVEY.md §2.10)."""

    # Temp views registered by ANY Warehouse's .sql() — anything else with
    # a table's name in the session catalog belongs to the user. Shared
    # across instances because temp views are session-global (a sibling
    # Warehouse's view is re-registerable, not a user view to preserve) —
    # but keyed by Spark applicationId, NOT stored class-level raw: a
    # session restart clears the temp-view catalog while a class-level set
    # would survive it, and the stale entry would make .sql() clobber a
    # user view created under that name in the NEW session.
    _registered_by_app: dict[str, set[str]] = {}

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    @property
    def _registered(self) -> set[str]:
        app = self.spark.sparkContext.applicationId
        return Warehouse._registered_by_app.setdefault(app, set())

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> int:
        """Overwrite table ``name`` with ``df``; returns the number of rows
        written, counted by the write's own job (no read-back)."""

        def parquet(d: DataFrame) -> None:
            w = d.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(name))

        return _counted_write(df, parquet)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.path(name))

    # -- snapshot / time-travel seam (reference README.md:142-154 uses
    # Iceberg `VERSION AS OF`; SURVEY.md §2.1 S9 keeps it behind a
    # pluggable writer). Portable implementation: immutable versioned
    # directories — v1, v2, … — so any past version stays readable. An
    # Iceberg/Delta backend would swap these three methods for real
    # snapshot metadata with no caller changes.
    #
    # Why no stock Iceberg/Delta backend: this build environment ships NO
    # Iceberg or Delta jars (verified: zero matches in the pyspark jars
    # dir) and is offline, so spark.jars.packages cannot fetch them —
    # native `VERSION AS OF` parsing only exists for v2 catalogs those
    # jars provide. The seam is deliberately the same three methods
    # (write_snapshot / versions / read_snapshot) plus .sql(); a
    # deployment with the jars subclasses Warehouse, points write/read at
    # the catalog, and deletes the time-travel swap in .sql() — no stage
    # or caller changes. TxLogWarehouse below is the scale-true implementation of
    # this seam (atomic commit log, snapshot ids, file-shared history —
    # sources/txlog.py); this base class's copy-per-version directories
    # remain as the zero-machinery default for small stage hand-offs.
    # Shim divergence: versions are sequential integers.

    def write_snapshot(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> int:
        version = max(self.versions(name), default=0) + 1
        w = df.write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        vdir = os.path.join(self.path(name), f"v{version}")
        w.parquet(vdir)
        # Stamp commit wall-clock so TIMESTAMP AS OF resolves on this
        # backend too (txlog records ts_ms in its commit log; here the
        # underscore-prefixed sidecar is invisible to parquet readers,
        # like _SUCCESS). Clamped strictly monotonic per table — Delta
        # does the same — so clock skew can never order a later version
        # before an earlier one.
        ts_ms = int(time.time() * 1000)
        if version > 1:
            ts_ms = max(ts_ms, self._commit_ts(name, version - 1) + 1)
        with open(os.path.join(vdir, "_commit_ts.json"), "w") as f:
            json.dump({"ts_ms": ts_ms}, f)
        return version

    def _commit_ts(self, name: str, version: int) -> int:
        """Commit wall-clock of a snapshot (ms). Snapshots written before
        the stamp existed fall back to the version dir's mtime — the
        monotone envelope in version_at_timestamp absorbs any resulting
        disorder."""
        vdir = os.path.join(self.path(name), f"v{version}")
        try:
            with open(os.path.join(vdir, "_commit_ts.json")) as f:
                return int(json.load(f)["ts_ms"])
        except (FileNotFoundError, ValueError, KeyError):
            return int(os.path.getmtime(vdir) * 1000)

    def versions(self, name: str) -> list[int]:
        base = self.path(name)
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(base)
            if d.startswith("v") and d[1:].isdigit()
        )

    def _live_versions(self, name: str) -> list[int]:
        """The table's versions; FileNotFoundError when it has none."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        return versions

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        """Read a table VERSION AS OF `version` (latest when omitted)."""
        versions = self._live_versions(name)
        v = version if version is not None else versions[-1]
        if v not in versions:
            raise ValueError(f"table {name} has no version {v} (has {versions})")
        return self.spark.read.parquet(os.path.join(self.path(name), f"v{v}"))

    _TABLE_DIR = ""  # what a directory under root holds to be a table

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, self._TABLE_DIR))
        )

    def shallow_clone(
        self, name: str, dest: str, version: int | None = None
    ) -> int:
        """``CREATE TABLE dest SHALLOW CLONE name [VERSION AS OF n]`` on
        the snapshot-dir backend (round 11 — the CLONE verb previously
        refused here): the clone's ``v1`` HARDLINKS the source version's
        files, so no bytes move at any size — the same zero-copy
        contract as ``TableLog.shallow_clone``. Divergence is free both
        ways: snapshots on this backend are immutable copy-per-version
        directories, so later writes to either table create NEW version
        dirs and never touch the shared inodes; deleting either table
        only unlinks its own directory entries. Built in a temp dir and
        published with one atomic rename (no half-visible clone on a
        crash); cross-filesystem destinations refuse (a silent full
        copy would betray the zero-copy contract). Returns the clone's
        version (always 1 — history does not carry over)."""
        versions = self._live_versions(name)
        v = versions[-1] if version is None else version
        if v not in versions:
            raise ValueError(
                f"table {name} has no version {v} (has {versions})"
            )
        if self.versions(dest):
            raise ValueError(f"clone destination {dest!r} already exists")
        src_dir = os.path.join(self.path(name), f"v{v}")
        dest_root = self.path(dest)
        os.makedirs(dest_root, exist_ok=True)
        tmp = os.path.join(dest_root, f".tmp-clone-{uuid.uuid4().hex}")
        os.makedirs(tmp)
        try:
            for dirpath, _dirs, fnames in os.walk(src_dir):
                rel_dir = os.path.relpath(dirpath, src_dir)
                out_dir = (
                    tmp if rel_dir == "." else os.path.join(tmp, rel_dir)
                )
                os.makedirs(out_dir, exist_ok=True)
                for fname in fnames:
                    if fname == "_commit_ts.json":
                        continue  # the clone gets its own commit stamp
                    try:
                        os.link(
                            os.path.join(dirpath, fname),
                            os.path.join(out_dir, fname),
                        )
                    except OSError as e:
                        if e.errno == errno.EXDEV:
                            raise ValueError(
                                f"shallow clone requires {name!r} and "
                                f"{dest!r} on the SAME filesystem "
                                "(hardlink semantics ARE the zero-copy "
                                "contract)"
                            ) from e
                        raise ValueError(
                            f"shallow clone of {name!r} failed linking "
                            f"{fname!r}: {e}"
                        ) from e
            with open(os.path.join(tmp, "_commit_ts.json"), "w") as f:
                json.dump({"ts_ms": int(time.time() * 1000)}, f)
            os.rename(tmp, os.path.join(dest_root, "v1"))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return 1

    # -- column DDL seam (ALTER TABLE … RENAME/ADD/DROP COLUMN, also
    # reachable through .sql()). This backend's snapshots are immutable
    # copy-per-version directories, so a column change writes the next
    # version with the evolved schema — the same cost as any write here.
    # TxLogWarehouse overrides all three with metadata-only commits
    # (column mapping / dropped-column tombstones, zero file rewrites).

    def _snapshot_partition_by(self, name: str, version: int) -> list[str]:
        """Partition columns of a snapshot, recovered from its hive
        directory layout (k=v path segments)."""
        d = os.path.join(self.path(name), f"v{version}")
        out: list[str] = []
        while True:
            subs = [
                s
                for s in os.listdir(d)
                if "=" in s and os.path.isdir(os.path.join(d, s))
            ]
            if not subs:
                return out
            out.append(subs[0].split("=", 1)[0])
            d = os.path.join(d, subs[0])

    def _alter_guard(self, name: str, col: str, verb: str) -> tuple[DataFrame, list[str]]:
        versions = self._live_versions(name)
        part_by = self._snapshot_partition_by(name, versions[-1])
        if col in part_by:
            raise ValueError(
                f"cannot {verb} partition column {col!r}: its name is "
                "baked into the directory layout"
            )
        return self.read_snapshot(name), part_by

    def rename_column(self, name: str, old: str, new: str) -> int:
        df, part_by = self._alter_guard(name, old, "rename")
        if old not in df.columns:
            raise ValueError(f"no column {old!r} in table {name}")
        if new in df.columns:
            raise ValueError(f"column {new!r} already exists in table {name}")
        return self.write_snapshot(
            df.withColumnRenamed(old, new), name, partition_by=part_by or None
        )

    def add_columns(self, name: str, cols: list[tuple[str, str]]) -> int:
        """Multi-column ADD COLUMNS as ONE snapshot write: every name is
        validated against the live schema AND for intra-list duplicates
        before anything is written, so the ALTER is never half-applied."""
        versions = self._live_versions(name)
        df = self.read_snapshot(name)
        seen: set[str] = set()
        for col, _dtype in cols:
            if col in df.columns:
                raise ValueError(
                    f"column {col!r} already exists in table {name}"
                )
            if col in seen:
                raise ValueError(
                    f"duplicate column name {col!r} in ADD COLUMNS list"
                )
            seen.add(col)
        part_by = self._snapshot_partition_by(name, versions[-1])
        for col, dtype in cols:
            df = df.withColumn(col, F.lit(None).cast(dtype))
        return self.write_snapshot(df, name, partition_by=part_by or None)

    def drop_column(self, name: str, col: str) -> int:
        df, part_by = self._alter_guard(name, col, "drop")
        if col not in df.columns:
            raise ValueError(f"no column {col!r} in table {name}")
        if len(df.columns) == 1:
            raise ValueError(
                f"cannot drop {col!r}: it is the last column of table {name}"
            )
        return self.write_snapshot(
            df.drop(col), name, partition_by=part_by or None
        )

    def alter_column_type(self, name: str, col: str, dtype: str) -> int:
        """ALTER COLUMN … TYPE — widening-only, same promotion matrix as
        the txlog backend (semantic parity across backends even though
        this one could cast anything: narrowing must refuse everywhere).
        This backend rewrites the next snapshot with the cast applied."""
        from pyspark.sql.types import StructType as _StructType

        from ..sources.txlog import _is_widening

        versions = self._live_versions(name)
        df = self.read_snapshot(name)
        if col not in df.columns:
            raise ValueError(f"no column {col!r} in table {name}")
        try:
            new_simple = (
                _StructType.fromDDL(f"`{col}` {dtype}")
                .fields[0]
                .dataType.simpleString()
            )
        except Exception:
            raise ValueError(f"cannot parse column type {dtype!r}") from None
        old_simple = df.schema[col].dataType.simpleString()
        if not _is_widening(old_simple, new_simple):
            raise ValueError(
                f"ALTER COLUMN {col!r} TYPE {old_simple} -> {new_simple} "
                "is not a supported widening"
            )
        part_by = self._snapshot_partition_by(name, versions[-1])
        out = df.withColumn(col, F.col(col).cast(new_simple))
        # preserve declared column order (withColumn keeps position)
        return self.write_snapshot(out, name, partition_by=part_by or None)

    def restore_table(self, name: str, version: int) -> int:
        """RESTORE TABLE … TO VERSION AS OF (Delta semantics: a NEW
        version with the target version's state — history stays
        auditable). This backend copies the target snapshot forward;
        txlog overrides with a metadata-only commit sharing the files."""
        part_by = self._snapshot_partition_by(name, version)
        return self.write_snapshot(
            self.read_snapshot(name, version), name, partition_by=part_by or None
        )

    _DETAIL_SCHEMA = (
        "format string, location string, version long, num_files long, "
        "size_bytes long, partition_columns array<string>, num_versions long, "
        "num_dv_files long, dv_positions long, clustered_by array<string>, "
        "num_buckets long"
    )

    def detail(self, name: str) -> DataFrame:
        """Delta-style DESCRIBE DETAIL: one row of physical table facts.
        Also reachable as SQL: ``wh.sql("DESCRIBE DETAIL <table>")``."""
        versions = self._live_versions(name)
        v = versions[-1]
        vdir = os.path.join(self.path(name), f"v{v}")
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        ]
        row = (
            "versioned-parquet",
            self.path(name),
            v,
            len(files),
            sum(os.path.getsize(f) for f in files),
            self._snapshot_partition_by(name, v),
            len(versions),
            0,  # this backend has no deletion vectors
            0,
            [],  # nor bucketed layouts
            0,
        )
        return local_frame(self.spark, [row], self._DETAIL_SCHEMA)

    def optimize_table(
        self,
        name: str,
        n_files: int = 1,
        zorder_by: list[str] | None = None,
        where: list | None = None,
    ) -> int:
        """OPTIMIZE <table> [WHERE …] [ZORDER BY (…)]: small-file
        compaction as the next snapshot version on this backend (txlog
        overrides with its atomic remove-and-add commit over the shared
        data tree; scoped WHERE compaction is a txlog capability — this
        backend's copy-per-version snapshots rewrite wholesale anyway,
        so a WHERE here refuses rather than pretending to scope)."""
        if where:
            raise ValueError(
                "OPTIMIZE WHERE requires the txlog backend "
                "(TxLogWarehouse); this backend's snapshots are "
                "whole-table rewrites"
            )
        versions = self._live_versions(name)
        df = self.read_snapshot(name)
        part_by = self._snapshot_partition_by(name, versions[-1])
        if zorder_by:
            if part_by:
                raise ValueError(
                    "zorder on a partitioned table re-fragments per "
                    "partition directory; drop ZORDER BY or departition"
                )
            from ..operators.zorder import z_order

            df = z_order(df, zorder_by, n_files)
        elif part_by:
            df = df.repartition(*part_by)
        else:
            df = df.repartition(n_files)
        return self.write_snapshot(df, name, partition_by=part_by or None)

    def files(self, name: str) -> DataFrame:
        """Iceberg-style ``table.files`` metadata relation (also SQL:
        ``DESCRIBE FILES <table>``). This backend lists the latest
        snapshot directory; txlog overrides with commit-log metadata
        including footer stats and deletion-vector counts."""
        versions = self._live_versions(name)
        vdir = os.path.join(self.path(name), f"v{versions[-1]}")
        rows = []
        for d, _, fs in os.walk(vdir):
            for f in sorted(fs):
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(d, f)
                rel = os.path.relpath(full, vdir)
                pvals = {
                    seg.split("=", 1)[0]: seg.split("=", 1)[1]
                    for seg in rel.split(os.sep)[:-1]
                    if "=" in seg
                }
                rows.append((rel, None, os.path.getsize(full), pvals, {}, {}, 0))
        return local_frame(
            self.spark,
            rows,
            "path string, rows long, bytes long, "
            "partition_values map<string,string>, "
            "min_values map<string,string>, max_values map<string,string>, "
            "dv_positions long",
        )

    def vacuum_table(self, name: str, retain_last: int = 1) -> int:
        """VACUUM <table> [RETAIN n VERSIONS]: drop all but the last
        ``retain_last`` snapshot versions; returns how many versions were
        reclaimed. Time travel below the horizon then refuses, matching
        the txlog backend's vacuum contract."""
        versions = self._live_versions(name)
        victims = versions[: -max(1, retain_last)]
        for v in victims:
            shutil.rmtree(os.path.join(self.path(name), f"v{v}"))
        return len(victims)

    _HISTORY_SCHEMA = (
        "version long, ts_ms long, operation string, snapshot_id string, "
        "n_adds long, n_removes long"
    )

    def history(self, name: str) -> DataFrame:
        """Delta-style DESCRIBE HISTORY: one row per snapshot with commit
        wall-clock. The base backend's snapshots are whole-table writes,
        so file-level columns are null; the txlog backend overrides with
        real commit metadata. Also reachable as SQL:
        ``wh.sql("DESCRIBE HISTORY <table>")``."""
        rows = [
            (v, self._commit_ts(name, v), "write_snapshot", None, None, None)
            for v in self._live_versions(name)
        ]
        return local_frame(self.spark, rows, self._HISTORY_SCHEMA)

    def version_at_timestamp(self, name: str, ts_ms: int) -> int:
        """Resolve TIMESTAMP AS OF to a snapshot version: the latest
        version whose commit time is at or before ``ts_ms`` (Delta/Iceberg
        semantics; same contract as TableLog.version_at). Commit times pass
        through a monotone envelope (running max) first, so mtime-backfilled
        pre-stamp snapshots can never resolve out of version order."""
        versions = self._live_versions(name)
        best, seen = None, 0
        for v in versions:
            seen = max(seen, self._commit_ts(name, v))
            if seen <= ts_ms:
                best = v
        if best is None:
            raise ValueError(
                f"table {name} has no version at or before ts_ms={ts_ms}"
            )
        return best

    def sql(self, query: str) -> DataFrame:
        """SQL entry point with Iceberg-style time travel (reference
        README.md:143-154 verifies through ``SELECT … VERSION AS OF``).

        Spark's parser reads the statement and its plan class picks the
        handler (``_SQL_PLANS``): DML runs on the row ops, CREATE/ALTER on
        the table metadata, each clause read from its plan node. Every
        other plan runs on Spark (``_sql_select``) once the warehouse
        tables it names are temp views and each ``t VERSION AS OF n``,
        ``t TIMESTAMP AS OF <expr>`` and ``table_changes(t, from [, to])``
        is swapped for a view of that version: vanilla Spark only time
        travels on v2 catalogs (Iceberg/Delta). A temp view the user
        registered under a table's name shadows the table (known edge: a
        user view replacing one this warehouse registered is re-shadowed
        on the next call). Regexes match only what Spark's grammar lacks
        or misparses: DESCRIBE HISTORY/DETAIL/FILES (read as DESCRIBE
        COLUMN), ALTER COLUMN SET/DROP GENERATED, SHALLOW CLONE, OPTIMIZE,
        REORG … APPLY (PURGE), VACUUM and RESTORE. A statement Spark
        cannot parse raises ValueError with Spark's message."""
        m_desc = re.match(
            r"\s*DESCRIBE\s+(HISTORY|DETAIL|FILES)\s+`?(\w+)`?\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_desc:
            # Delta's DESCRIBE HISTORY / DETAIL, Iceberg's files metadata
            return getattr(self, m_desc.group(1).lower())(m_desc.group(2))

        # generated / identity column DDL (round 11; Delta's GENERATED
        # ALWAYS AS, surfaced through ALTER like the SET DEFAULT family):
        # metadata commits; later INSERT/MERGE writes compute the column
        m_gen = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ALTER\s+COLUMN\s+`?(\w+)`?"
            r"\s+(?:SET\s+GENERATED\s+ALWAYS\s+AS\s+(?:"
            r"IDENTITY(?:\s*\(\s*START\s+WITH\s+(-?\d+)"
            r"(?:\s+INCREMENT\s+BY\s+(-?\d+))?\s*\))?"
            r"|\((.+)\))"
            r"|(DROP\s+GENERATED))\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_gen:
            t, col, start, step, expr, drop = m_gen.groups()
            self._require_txlog("generated columns")
            log = self._log(t)
            if drop:
                return self._outcome(t, "DROP GENERATED", log.drop_generated(col))
            if expr:
                v = log.set_generated(col, expr=expr.strip())
                return self._outcome(t, "SET GENERATED ALWAYS AS", v)
            v = log.set_generated(
                col, identity=True, start=int(start or 1), step=int(step or 1)
            )
            return self._outcome(t, "SET GENERATED ALWAYS AS IDENTITY", v)

        # SHALLOW CLONE (round 10; Delta's zero-copy dev/test fork):
        # CREATE TABLE t2 SHALLOW CLONE t1 [VERSION AS OF n |
        # TIMESTAMP AS OF ms] — hardlinked snapshot fork, no bytes move
        m_clone = re.match(
            r"\s*CREATE\s+TABLE\s+`?(\w+)`?\s+SHALLOW\s+CLONE\s+`?(\w+)`?"
            r"(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
            r"|\s+TIMESTAMP\s+AS\s+OF\s+(\d+))?\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_clone:
            # both backends clone zero-copy since round 11: txlog forks
            # the snapshot's file references; the snapshot-dir backend
            # hardlinks the version directory (Warehouse.shallow_clone)
            dst, src_t, ver, ts = m_clone.groups()
            if not self.exists(src_t):
                raise ValueError(f"clone source {src_t!r} does not exist")
            ver = self.version_at_timestamp(src_t, int(ts)) if ts else ver
            v = self.shallow_clone(src_t, dst, version=int(ver) if ver else None)
            return self._outcome(dst, "SHALLOW CLONE", v)

        m_opt = re.match(
            r"\s*OPTIMIZE\s+`?(\w+)`?(?:\s+WHERE\s+(.+?))?"
            r"(?:\s+ZORDER\s+BY\s*\(\s*([\w\s,`]+?)\s*\))?\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_opt:
            t, where, zorder = m_opt.groups()
            zcols = [c.strip(" `") for c in zorder.split(",")] if zorder else None
            where = _where_filters(self.spark, where) if where else None
            v = self.optimize_table(t, zorder_by=zcols, where=where)
            return self._outcome(t, "OPTIMIZE", v)

        # REORG TABLE … APPLY (PURGE) (round 12): Delta's scoped
        # deletion-vector purge — rewrite ONLY the dv-carrying files
        m_reorg = re.match(
            r"\s*REORG\s+TABLE\s+`?(\w+)`?\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_reorg:
            t = m_reorg.group(1)
            self._require_txlog("REORG APPLY (PURGE)")
            res = self._log(t).reorg_purge()
            return local_frame(
                self.spark,
                [(t, "REORG APPLY (PURGE)", res["version"], res["files_purged"])],
                "table_name string, operation string, version long, "
                "files_purged long",
            )

        m_vac = re.match(
            r"\s*VACUUM\s+`?(\w+)`?(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_vac:
            t = m_vac.group(1)
            n = self.vacuum_table(t, retain_last=int(m_vac.group(2) or 1))
            return local_frame(
                self.spark,
                [(t, "VACUUM", n)],
                "table_name string, operation string, removed long",
            )

        m_restore = re.match(
            r"\s*RESTORE\s+TABLE\s+`?(\w+)`?\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)"
            r"\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_restore:
            t = m_restore.group(1)
            v = self.restore_table(t, int(m_restore.group(2)))
            return self._outcome(t, "RESTORE", v)

        plan = _parse_sql(self.spark, "parsePlan", query)
        run = self._SQL_PLANS.get(_cls(plan), "_sql_select")
        return getattr(self, run)(query, plan)

    def _sql_select(self, query: str, plan, part=None) -> DataFrame:
        """Run a parsed statement on Spark over the warehouse tables it
        names (see :meth:`sql`); ``part`` picks the query out of a CTAS or
        INSERT … SELECT plan. The walk covers CTE bodies and subquery
        expressions too (``innerChildren``). Time-travel references are
        replaced by their spans and the edited statement parsed again."""
        root = plan if part is None else part(plan)
        names, edits, stack = set(), [], [root]
        while stack:
            node = stack.pop()
            k = _cls(node)
            if k == "RelationTimeTravel":
                # the span runs from the table name to the clause's end
                start, stop = _span(node.relation())[0], _span(node)[1]
                edits.append((start, stop, self._travel_view(query, node)))
                continue
            if k == "UnresolvedTableValuedFunction" and [
                p.lower() for p in _seq(node.name())
            ] == ["table_changes"]:
                # up to the last argument: the call's ")" and its alias, if
                # any, then close a subquery over the view
                args = _seq(node.functionArgs())
                view = self._changes_view(query, args)
                start, stop = _span(node)[0], _span(args[-1])[1]
                edits.append((start, stop, f"(SELECT * FROM {view}"))
                continue
            if k in ("UnresolvedRelation", "UnresolvedTableOrView"):
                parts = _seq(node.multipartIdentifier())
                if len(parts) == 1:
                    names.add(parts[0])
            if k == "ExplainCommand":
                stack.append(node.logicalPlan())
            stack += _seq(node.children()) + _seq(node.innerChildren())
        if edits:
            for start, stop, new in sorted(edits, reverse=True):
                query = query[:start] + new + query[stop:]
            plan = _parse_sql(self.spark, "parsePlan", query)
            root = plan if part is None else part(plan)
        tables = {t.lower(): t for t in self.tables()} if names else {}
        for name in names:
            t = tables.get(name.lower())
            if t is None or (
                t not in self._registered and self.spark.catalog.tableExists(t)
            ):
                continue  # not a table here, or the user's view shadows it
            df = self.read_snapshot(t) if self.versions(t) else self.read(t)
            df.createOrReplaceTempView(t)
            self._registered.add(t)
        dataset = self.spark._jvm.org.apache.spark.sql.classic.Dataset
        return DataFrame(dataset.ofRows(self.spark._jsparkSession, root), self.spark)

    def _travel_view(self, query: str, node) -> str:
        """A temp view of the snapshot a parsed ``VERSION AS OF n`` or
        ``TIMESTAMP AS OF <expr>`` names. The timestamp folds through
        Spark in the session time zone, Spark's own rule for time travel."""
        name, _ = _relation(node.relation(), "time travel")
        ts, version = node.timestamp(), node.version()
        if ts.isDefined():
            text = _text(query, ts.get())
            (ms,) = _fold_constants(
                self.spark, [f"unix_millis(CAST(({text}) AS TIMESTAMP_LTZ))"]
            )
            if ms is None:
                raise ValueError(f"TIMESTAMP AS OF {text} is NULL")
            version = self.version_at_timestamp(name, ms)
        elif version.get().isdigit():
            version = int(version.get())
        else:
            raise ValueError(f"VERSION AS OF {version.get()!r} is not a number")
        view = f"__{name}_v{version}"
        self.read_snapshot(name, version).createOrReplaceTempView(view)
        return view

    def _changes_view(self, query: str, args: list) -> str:
        """A temp view over Delta's change-data-feed TVF,
        ``table_changes('t' | t, from [, to])``: the batch change feed of
        the txlog commit log. The bounds fold through Spark, so any
        constant expression works."""
        self._require_txlog("table_changes()")
        usage = (
            "table_changes(table, from_version [, to_version]) takes a table "
            "name and one or two integer versions"
        )
        if not 2 <= len(args) <= 3:
            raise ValueError(usage)
        name = _column(args[0])
        vals = _fold_constants(
            self.spark, [_text(query, a) for a in args[name is not None :]]
        )
        if name is None:
            name = vals.pop(0)
        if not isinstance(name, str) or any(type(v) is not int for v in vals):
            raise ValueError(usage)
        lo, hi = (vals + [None])[:2]
        view = f"__tc_{name}_v{lo}_{'latest' if hi is None else hi}"
        self.table_changes(name, lo, hi).createOrReplaceTempView(view)
        return view

    # Spark's plan classes and the method that runs each; every other plan
    # runs through _sql_select
    _SQL_PLANS = {
        "DeleteFromTable": "_sql_delete",
        "TruncateTable": "_sql_truncate",
        "UpdateTable": "_sql_update",
        "MergeIntoTable": "_sql_merge",
        "InsertIntoStatement": "_sql_insert",
        "CreateTable": "_sql_create",
        "CreateTableAsSelect": "_sql_ctas",
        "ReplaceTableAsSelect": "_sql_ctas",
        "AddColumns": "_sql_alter_column",
        "DropColumns": "_sql_alter_column",
        "RenameColumn": "_sql_alter_column",
        "AlterColumns": "_sql_alter_column",
        "AddCheckConstraint": "_sql_table_meta",
        "DropConstraint": "_sql_table_meta",
        "SetTableProperties": "_sql_table_meta",
        "UnsetTableProperties": "_sql_table_meta",
    }

    def _outcome(self, table: str, op: str, version, *rows) -> DataFrame:
        """A statement's one-row result: the table, the operation and the
        version it committed, plus the rows a DML statement touched."""
        return local_frame(
            self.spark,
            [(table, op, version, *rows)],
            "table_name string, operation string, version long"
            + (", rows long" if rows else ""),
        )

    def _require_txlog(self, feature: str) -> None:
        """Refuse a statement only the txlog backend's commit log can
        carry (row-level DML, table metadata, deletion vectors)."""
        if not hasattr(self, "_log"):
            raise ValueError(
                f"{feature}: needs the txlog backend (TxLogWarehouse); this "
                "backend's snapshots are whole-table writes with no such "
                "metadata"
            )

    def _sql_insert(self, query: str, plan) -> DataFrame:
        """INSERT INTO … VALUES / SELECT (round 9): the day-one append verb.
        VALUES rows cast to the table's column types (see
        :func:`_values_frame`); a column list fills the rest with their
        DEFAULT or NULL; the SELECT form runs through the SELECT path, so
        time travel and table_changes() resolve inside it. Appends on the txlog
        backend are atomic commits; the base backend appends by writing
        the next snapshot (same cost as any write there)."""
        t, _ = _relation(plan.table(), "INSERT INTO")
        if plan.overwrite() or plan.byName() or not plan.partitionSpec().isEmpty():
            raise ValueError(
                "INSERT supports INTO <table> [(cols)] VALUES … | SELECT …; "
                "CREATE OR REPLACE TABLE … AS SELECT overwrites"
            )
        cols = _seq(plan.userSpecifiedCols()) or None
        target = self.read_snapshot(t).schema
        # ONE defaults/generated fetch per statement
        if hasattr(self, "_log") and self.exists(t):
            _snap = self._log(t).snapshot()
            defaults, genmeta = _snap.defaults, _snap.generated
            # appends extend the table's standing partition layout
            # (TableLog.write is spec-strict by contract)
            part_spec = list(_snap.partition_by or []) or None
        else:
            defaults, genmeta, part_spec = {}, {}, None
        if genmeta:
            listed = cols if cols is not None else list(target.names)
            bad = sorted(set(listed) & set(genmeta))
            if bad:
                hint = (
                    "use an explicit column list omitting them"
                    if cols is None
                    else "omit them from the column list"
                )
                raise ValueError(
                    f"INSERT may not provide generated column(s) {bad} "
                    f"(GENERATED ALWAYS — the engine computes them); {hint}"
                )
        rows = plan.query()
        if _cls(rows) in ("LocalRelation", "UnresolvedInlineTable"):
            names = cols or list(target.names)
            bad = [c for c in names if c not in target.names]
            if bad:
                raise ValueError(
                    f"INSERT columns {bad} not in table {t!r} "
                    f"(has {list(target.names)})"
                )
            df = _values_frame(
                self.spark, query, rows, [target[c] for c in names], defaults
            )
        else:
            df = self._sql_select(query, plan, lambda p: p.query())
            # INSERT … SELECT binds POSITIONALLY (SQL semantics): the
            # SELECT's outputs map onto the column list — or the full
            # table schema when no list is given — by position, never by
            # the SELECT's own output names
            bind = cols or list(target.names)
            if len(bind) != len(df.columns):
                raise ValueError(
                    f"INSERT binds {len(bind)} column(s) ({bind}) but the "
                    f"SELECT produces {len(df.columns)}"
                )
            df = df.toDF(*bind)
        # columns the INSERT omitted take their declared DEFAULT (round 10)
        # and otherwise read NULL (SQL semantics); GENERATED columns stay
        # ABSENT — the txlog write computes/allocates them (round 11), and
        # subset-schema appends are first-class on that backend
        for f in target.fields:
            if f.name not in df.columns and f.name not in genmeta:
                fill = (
                    F.expr(defaults[f.name])
                    if f.name in defaults
                    else F.lit(None)
                )
                df = df.withColumn(f.name, fill.cast(f.dataType))
        df = df.select(
            *[df[f.name] for f in target.fields if f.name in df.columns]
        )
        n = df.count()
        if hasattr(self, "append"):
            v = self.append(df, t, partition_by=part_spec)
        else:
            v = self.write_snapshot(self.read_snapshot(t).unionByName(df), t)
        return self._outcome(t, "INSERT INTO", v, n)

    def _sql_truncate(self, query: str, plan) -> DataFrame:
        """TRUNCATE TABLE / DELETE without WHERE (round 9): whole-table
        clear as one commit — the surviving snapshot is the empty table
        under the SAME schema; history stays time-travelable."""
        t, _ = _relation(plan.table(), "TRUNCATE TABLE")
        cur = self.read_snapshot(t)
        n = cur.count()
        spec = self._log(t).snapshot().bucket_by if hasattr(self, "_log") else {}
        if spec:
            # a bucketed table keeps its declared layout across TRUNCATE
            # (Hive semantics: truncation clears rows, not table metadata)
            v = self.write_snapshot(
                cur.limit(0),
                t,
                bucket_by=(spec["n"], list(spec["cols"])),
                sort_by=list(spec.get("sort") or []) or None,
            )
        else:
            v = self.write_snapshot(cur.limit(0), t)
        return self._outcome(t, "TRUNCATE", v, n)

    def _sql_delete(self, query: str, plan) -> DataFrame:
        cond = plan.condition()  # the literal true when there is no WHERE
        if _cls(cond) == "Literal" and cond.toString() == "true":
            return self._sql_truncate(query, plan)
        t, _ = _relation(plan.table(), "DELETE FROM")
        self._require_txlog("row-level SQL DML")
        res = self.delete(t, _where_filters(self.spark, query, cond))
        return self._outcome(t, "DELETE", res["version"], res.get("rows_deleted"))

    def _sql_update(self, query: str, plan) -> DataFrame:
        t, _ = _relation(plan.table(), "UPDATE")
        self._require_txlog("row-level SQL DML")
        sets = {}
        for a in _seq(plan.assignments()):
            col = _column(a.key())
            if col is None:
                raise ValueError(
                    f"UPDATE SET target {_text(query, a.key())!r} must be a "
                    "bare column name"
                )
            sets[col] = _text(query, a.value())
        cond = plan.condition()
        where = (
            _where_filters(self.spark, query, cond.get())
            if cond.isDefined()
            else []  # TableLog refuses a row op without a predicate
        )
        res = self.update(t, where, sets)
        return self._outcome(t, "UPDATE", res["version"], res.get("rows_updated"))

    def _sql_merge(self, query: str, plan) -> DataFrame:
        """The FULL multi-branch MERGE (round 10): equality ON terms, then
        WHEN MATCHED [AND cond] THEN UPDATE SET (*|col=expr,…) | DELETE,
        WHEN NOT MATCHED [AND cond] THEN INSERT (*|(cols) VALUES (…)) and
        WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … | DELETE.
        Spark's grammar takes the families in that order and refuses an
        unconditional clause before a later one of its family. Anything
        richer (a non-equality ON) is refused — use the merge() API.

        MERGE WITH SCHEMA EVOLUTION (round 11; the Spark 4 / Delta
        CDC-apply statement against an evolving source): source columns
        absent from the table extend the schema as nullable, and clause
        assignments may target them. Delta's session conf
        spark.databricks.delta.schema.autoMerge.enabled switches the same
        behavior on for every MERGE in the session."""
        t, t_alias = _relation(plan.targetTable(), "MERGE target")
        src, s_alias = _relation(plan.sourceTable(), "MERGE source")
        evolve = plan.withSchemaEvolution() or (
            str(
                self.spark.conf.get(
                    "spark.databricks.delta.schema.autoMerge.enabled", "false"
                )
            ).lower()
            == "true"
        )
        self._require_txlog("MERGE INTO")
        if t_alias.lower() == s_alias.lower():
            raise ValueError(
                f"MERGE target and source aliases collide ({t_alias!r}) — "
                "alias one side differently"
            )
        keys = _merge_keys(query, plan.mergeCondition(), t_alias, s_alias)
        if self.exists(src):
            source = self.read(src)
        elif self.spark.catalog.tableExists(src):
            source = self.spark.table(src)
        else:
            raise ValueError(
                f"MERGE source {src!r} is neither a warehouse table nor a "
                "registered view"
            )
        matched, inserts, nmbs = (
            _merge_clauses(query, actions, t_alias, s_alias, aliases)
            for actions, aliases in (
                (plan.matchedActions(), "ts"),
                (plan.notMatchedActions(), "s"),
                (plan.notMatchedBySourceActions(), "t_bare"),
            )
        )
        res = self.merge(
            source, t, keys,
            matched_clauses=matched,
            not_matched_clauses=inserts,
            not_matched_by_source_clauses=nmbs or None,
            schema_evolution=evolve,
        )
        return self._outcome(t, "MERGE", res["version"], res.get("rows_written"))

    def _sql_create(self, query: str, plan) -> DataFrame:
        """CREATE TABLE with a column list (round 12): Delta's
        declare-before-first-write surface. GENERATED ALWAYS AS /
        IDENTITY, DEFAULT, PARTITIONED BY, CLUSTERED BY … INTO n BUCKETS
        and TBLPROPERTIES all land in the version-1 commit of an EMPTY
        table, so the very first data write already satisfies every
        declared invariant."""
        t, _ = _relation(plan.name(), "CREATE TABLE")
        layout = _layout(plan)
        schema, generated, defaults = _column_defs(plan.columns())
        self._require_txlog("CREATE TABLE with column definitions")
        if self.exists(t):
            raise ValueError(
                f"table {t!r} already exists; CREATE TABLE never clobbers data"
            )
        v = self.create_table(
            t, schema, generated=generated or None,
            defaults=defaults or None, **layout,
        )
        return self._outcome(t, "CREATE TABLE", v)

    def _sql_ctas(self, query: str, plan) -> DataFrame:
        """CREATE [OR REPLACE] TABLE … AS <query> with an optional layout
        (round 8): the query runs through the SELECT path, so time travel,
        table_changes() and warehouse tables resolve inside it. A bare
        CTAS refuses an existing table (Spark/Delta/Iceberg
        TableAlreadyExists: it never clobbers data); CREATE OR REPLACE
        TABLE is the explicit-overwrite form."""
        t, _ = _relation(plan.name(), "CREATE TABLE")
        replace = _cls(plan) == "ReplaceTableAsSelect"
        if replace and not plan.orCreate() and not self.exists(t):
            raise ValueError(f"REPLACE TABLE: no table {t!r}")
        if not replace and self.exists(t):
            raise ValueError(
                f"table {t!r} already exists; use CREATE OR REPLACE "
                "TABLE … AS to overwrite it"
            )
        layout = _layout(plan)
        if set(layout) - {"partition_by"}:
            self._require_txlog("CLUSTERED BY … INTO n BUCKETS, TBLPROPERTIES")
        df = self._sql_select(query, plan, lambda p: p.query())
        v = self.write_snapshot(df, t, **layout)
        return self._outcome(
            t, "CREATE OR REPLACE TABLE AS" if replace else "CREATE TABLE AS", v
        )

    def _sql_alter_column(self, query: str, plan) -> DataFrame:
        """ALTER TABLE … ADD COLUMNS | DROP COLUMN | RENAME COLUMN | ALTER
        COLUMN … TYPE, on both backends (the base backend rewrites the
        next snapshot; txlog commits metadata only), and ALTER COLUMN …
        SET/DROP DEFAULT (round 10) on txlog: later INSERTs whose column
        list omits the column take the default. Returns a one-row
        confirmation with the new table version: Spark's own DDL returns
        an empty frame, but the version is what VERSION AS OF takes."""
        t, _ = _relation(plan.table(), "ALTER TABLE")
        k = _cls(plan)
        if k == "AddColumns":
            cols = []
            for c in _seq(plan.columnsToAdd()):
                name = c.colName()
                _refuse(
                    {
                        "a nested field": c.path().isDefined(),
                        "NOT NULL": not c.nullable(),
                        "COMMENT": c.comment().isDefined(),
                        "FIRST/AFTER": c.position().isDefined(),
                        "DEFAULT": c.default().isDefined(),
                    },
                    f"column constraint on {name!r}",
                    "ADD COLUMNS (<name> <type>, …)",
                )
                cols.append((name, c.dataType().catalogString()))
            # one atomic application: every name is checked against the
            # live schema and the list before anything commits
            return self._outcome(t, "ADD COLUMN", self.add_columns(t, cols))
        if k == "DropColumns":
            cols = [_field(c) for c in _seq(plan.columnsToDrop())]
            multi = len(cols) > 1
            _refuse({"IF EXISTS": plan.ifExists(), "several columns": multi},
                    "DROP COLUMN clause", "DROP COLUMN <name>")
            return self._outcome(t, "DROP COLUMN", self.drop_column(t, cols[0]))
        if k == "RenameColumn":
            v = self.rename_column(t, _field(plan.column()), plan.newName())
            return self._outcome(t, "RENAME COLUMN", v)
        specs = _seq(plan.specs())
        spec = specs[0]
        col, dtype = _field(spec.column()), spec.newDataType()
        _refuse(
            {
                "several columns": len(specs) > 1,
                "COMMENT": spec.newComment().isDefined(),
                "SET/DROP NOT NULL": spec.newNullability().isDefined(),
                "FIRST/AFTER": spec.newPosition().isDefined(),
            },
            f"ALTER COLUMN change on {col!r}",
            "TYPE | SET DEFAULT | DROP DEFAULT",
        )
        if dtype.isDefined():
            v = self.alter_column_type(t, col, dtype.get().catalogString())
            return self._outcome(t, "ALTER COLUMN TYPE", v)
        self._require_txlog("column DEFAULTs")
        if spec.dropDefault():
            return self._outcome(t, "DROP DEFAULT", self._log(t).drop_default(col))
        expr = spec.newDefaultExpression().get().originalSQL()
        return self._outcome(t, "SET DEFAULT", self._log(t).set_default(col, expr))

    def _sql_table_meta(self, query: str, plan) -> DataFrame:
        """CHECK constraints (round 9) and TBLPROPERTIES (round 11), Delta
        syntax: metadata commits on the txlog backend. ADD CONSTRAINT
        validates the existing rows first, then every later write, merge
        and update enforces it in one aggregate pass; SET TBLPROPERTIES
        acts on delta.enableChangeDataFeed (see TableLog.set_properties)."""
        k = _cls(plan)
        # ADD CONSTRAINT parses as a filter over the table
        table = plan.child().child() if k == "AddCheckConstraint" else plan.table()
        t, _ = _relation(table, "ALTER TABLE")
        self._require_txlog(
            "TBLPROPERTIES" if k.endswith("Properties") else "CHECK constraints"
        )
        log = self._log(t)
        if k == "AddCheckConstraint":
            c = plan.checkConstraint()
            ch = c.userProvidedCharacteristic()
            traits = ch.enforced().isDefined() or ch.rely().isDefined()
            _refuse({"ENFORCED/RELY": traits}, "CHECK clause", "CHECK (<expr>)")
            v = log.add_constraint(c.name(), c.condition())
            return self._outcome(t, "ADD CONSTRAINT", v)
        if k == "DropConstraint":
            _refuse({"IF EXISTS": plan.ifExists(), "CASCADE": plan.cascade()},
                    "DROP CONSTRAINT clause", "DROP CONSTRAINT <name>")
            v = log.drop_constraint(plan.name())
            return self._outcome(t, "DROP CONSTRAINT", v)
        if k == "SetTableProperties":
            v = log.set_properties(_props(plan.properties()))
            return self._outcome(t, "SET TBLPROPERTIES", v)
        _refuse({"IF EXISTS": plan.ifExists()}, "UNSET TBLPROPERTIES clause",
                "UNSET TBLPROPERTIES (<key>, …)")
        v = log.unset_properties(_seq(plan.propertyKeys()))
        return self._outcome(t, "UNSET TBLPROPERTIES", v)


class TxLogWarehouse(Warehouse):
    """Warehouse over the transaction-log table format (sources/txlog.py) —
    the closest portable equivalent of the reference's Iceberg backend
    (IngestionJob.scala:15-19): every stage write is an atomic commit with a
    snapshot id, history is file-shared (an append never rewrites old data,
    unlike the base Warehouse's copy-per-version snapshot dirs), and reads
    prune files by partition values + footer min/max before Spark plans the
    scan. Same seam as the other backends: write/read/exists plus the three
    snapshot methods swap; stages and ``.sql()`` (`VERSION AS OF`, plus
    `TIMESTAMP AS OF '<iso>'` — this backend records commit wall-clock)
    run unchanged."""

    def _log(self, name: str):
        from ..sources.txlog import TableLog

        return TableLog(self.spark, self.path(name))

    def version_at_timestamp(self, name: str, ts_ms: int) -> int:
        return self._log(name).version_at(ts_ms)

    # column DDL: metadata-only commits on this backend (column mapping /
    # dropped-column tombstones — no data file is rewritten)

    def rename_column(self, name: str, old: str, new: str) -> int:
        return self._log(name).rename_column(old, new)

    def add_columns(self, name: str, cols: list[tuple[str, str]]) -> int:
        # one metadata commit for the whole list — atomic by construction
        return self._log(name).add_columns(cols)

    def drop_column(self, name: str, col: str) -> int:
        return self._log(name).drop_column(col)

    def alter_column_type(self, name: str, col: str, dtype: str) -> int:
        # metadata-only widening on this backend (see TableLog)
        return self._log(name).alter_column_type(col, dtype)

    def restore_table(self, name: str, version: int) -> int:
        return self._log(name).restore(version)

    def table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        net: bool = False,
    ) -> DataFrame:
        """Batch change-data-feed passthrough (Delta's table_changes):
        also reachable from SQL — ``SELECT … FROM table_changes('t',
        from [, to])`` through :meth:`sql`."""
        return self._log(name).table_changes(from_version, to_version, net=net)

    def detail(self, name: str) -> DataFrame:
        log = self._log(name)
        snap = log.snapshot()
        row = (
            "txlog",
            log.root,
            snap.version,
            len(snap.files),
            sum(int(m.get("bytes") or 0) for m in snap.files.values()),
            list(snap.partition_by or []),
            len(log.versions()),
            len(snap.dvs),
            sum(len(v) for v in snap.dvs.values()),
            list(snap.bucket_by.get("cols") or []),
            int(snap.bucket_by.get("n") or 0),
        )
        return local_frame(self.spark, [row], self._DETAIL_SCHEMA)

    def optimize_table(self, name: str, n_files: int = 1, **kw) -> int:
        return self._log(name).optimize(n_files=n_files, **kw)

    def vacuum_table(self, name: str, retain_last: int = 1) -> int:
        return self._log(name).vacuum(retain_last=retain_last)

    def files(self, name: str) -> DataFrame:
        return self._log(name).files_df()

    def history(self, name: str) -> DataFrame:
        cols = ("version", "ts_ms", "operation", "snapshot_id", "n_adds",
                "n_removes")
        rows = [tuple(h.get(c) for c in cols) for h in self._log(name).history()]
        return local_frame(self.spark, rows, self._HISTORY_SCHEMA)

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> int:
        """An overwrite commit; returns the rows it wrote, summed from the
        per-file row counts the commit records (no Spark job)."""
        log = self._log(name)
        v = log.write(df, mode="overwrite", partition_by=partition_by)
        with open(log._commit_path(v)) as f:
            return sum(int(a["rows"]) for a in json.load(f).get("adds", []))

    def read(self, name: str) -> DataFrame:
        return self._log(name).read()

    def exists(self, name: str) -> bool:
        return self._log(name).exists()

    def append(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> int:
        return self._log(name).write(df, mode="append", partition_by=partition_by)

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str],
        replace_where: dict[str, list],
    ) -> int:
        return self._log(name).write(
            df, partition_by=partition_by, replace_where=replace_where
        )

    def write_snapshot(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None,
        **kw,
    ) -> int:
        """An overwrite commit; ``kw`` are TableLog.write's layout keywords
        (``bucket_by``, ``sort_by``, ``generated``, ``properties``)."""
        return self._log(name).write(df, partition_by=partition_by, **kw)

    def create_table(self, name: str, schema, **kw) -> int:
        """``CREATE TABLE`` with an explicit column list (round 12) —
        an EMPTY version-1 commit carrying schema + declare-time
        metadata; ``kw`` are TableLog.create's."""
        return self._log(name).create(schema, **kw)

    def read_bucketed(self, name: str, version: int | None = None) -> DataFrame:
        """The table as a session-catalog BUCKETED relation: joins and
        aggregations on the bucket columns plan with zero Exchange (see
        TableLog.read_bucketed — CLUSTERED BY surfaces in DESCRIBE
        DETAIL)."""
        return self._log(name).read_bucketed(version)

    def delete(self, name: str, filters: list[tuple], via: str = "cow") -> dict:
        """Row-level DELETE on a warehouse table (copy-on-write, or
        ``via="dv"`` for merge-on-read deletion vectors; see
        TableLog.delete) — only this backend supports it, the snapshot
        and catalog backends raise AttributeError by construction."""
        return self._log(name).delete(filters, via=via)

    def update(
        self,
        name: str,
        filters: list[tuple],
        set_exprs: dict[str, str],
        via: str = "cow",
    ) -> dict:
        """Row-level UPDATE on a warehouse table (see TableLog.update)."""
        return self._log(name).update(filters, set_exprs, via=via)

    def merge(
        self, source: DataFrame, name: str, keys: list[str],
        delete_condition: str | None = None, **kw,
    ) -> dict:
        """MERGE INTO a warehouse table; ``kw`` are TableLog.merge's."""
        return self._log(name).merge(source, keys, delete_condition, **kw)

    def shallow_clone(
        self, name: str, dest: str, version: int | None = None
    ) -> int:
        self._log(name).shallow_clone(self.path(dest), version=version)
        return 1

    def versions(self, name: str) -> list[int]:
        return self._log(name).versions()

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        log = self._log(name)
        if not log.exists():
            raise FileNotFoundError(f"no snapshots for table {name}")
        return log.read(version)

    _TABLE_DIR = "_txlog"


class CatalogWarehouse(Warehouse):
    """Stage hand-off through the session catalog (saveAsTable /
    spark.table / tableExists) instead of parquet paths — the
    persistent-metastore deployment shape (the reference verifies its
    warehouse with ``SHOW TABLES IN …`` / ``DESCRIBE``, README.md:125-128).
    Same stage code runs over either backend; only write/read/exists swap,
    which is exactly the seam an Iceberg catalog would plug into."""

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> int:
        from ..sources.io import overwrite_table

        return _counted_write(
            df, lambda d: overwrite_table(d, name, partition_by)
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(name)


def _counted_write(df: DataFrame, write) -> int:
    """Run ``write`` on ``df`` and return the number of rows it wrote: an
    observed count on the frame rides the write's own job."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return quality.observed_metric(obs, "rows")


def stage_ingest(wh: Warehouse, cat: Catalog, partition_daily: bool = False) -> int:
    """IngestionJob parity: scan → clean → enrich → partitioned write."""
    cleaned = cleaning.clean_lineitem(cat.lineitem).withColumn(
        "ship_year", F.year("ship_date")
    )
    return wh.write(
        cleaned,
        "trips_raw",
        ["ship_date"] if partition_daily else ["ship_year"],
    )


def stage_dimensions(wh: Warehouse, cat: Catalog) -> tuple[int, int]:
    """DimensionJob parity: entity dim (union+distinct+bucket) and date
    dim (sequence/explode spine), both full-overwrite like the reference
    (DimensionJob.scala:58,90)."""
    raw = wh.read("trips_raw")
    entity = dimensions.build_entity_dim(raw, "l_partkey", "l_suppkey")
    date_dim = dimensions.build_date_dim(raw, "ship_date")
    return wh.write(entity, "entity_dim"), wh.write(date_dim, "date_dim")


def stage_fact(wh: Warehouse, cat: Catalog, partition_daily: bool = False) -> int:
    """FactJob parity: guard on upstream tables, star join, partitioned
    write keyed for downstream pruning."""
    for dep in ("trips_raw", "date_dim"):
        if not wh.exists(dep):
            raise RuntimeError(f"pipeline ordering violation: missing table {dep}")
    date_dim = wh.read("date_dim")
    f = fact.build_fact(
        cat.lineitem, cat.orders, cat.customer, cat.supplier, cat.nation, date_dim
    )
    return wh.write(
        f,
        "star_fact",
        ["ship_date"] if partition_daily else ["year"],
    )


def stage_aggregates(wh: Warehouse) -> dict[str, int]:
    """AggregationJob parity: one fact scan fanned into three summaries.
    The fact is cached across the three aggregations — the reference
    re-scans it per summary and even re-aggregates for its log counts
    (SURVEY.md §4.3.1); counts here are the rows each write wrote,
    counted by the write itself."""
    if not wh.exists("star_fact"):
        raise RuntimeError("pipeline ordering violation: missing table star_fact")
    f = wh.read("star_fact").cache()
    try:
        return {
            "pair_daily": wh.write(
                aggregates.agg_pair_daily(f), "pair_daily", ["supp_nation"]
            ),
            "time_analysis": wh.write(
                aggregates.agg_time(f), "time_analysis", ["year"]
            ),
            "top_pairs": wh.write(aggregates.top_pairs(f, 50), "top_pairs"),
        }
    finally:
        f.unpersist()


def stage_quality(wh: Warehouse) -> dict:
    """DataQualityJob parity: null/range violation counts over the fact,
    one aggregation pass, pass/fail verdict."""
    row = quality.quality_counts(wh.read("star_fact")).head()
    return row.asDict()


def stage_curate(wh: Warehouse, cat: Catalog) -> int:
    """Training-data curation stage (extension): quality filter → exact
    dedup → near-dup removal → token budget over the documents corpus,
    written as its own warehouse table for downstream training jobs."""
    from ..operators import curation

    return wh.write(curation.curate_documents(cat.documents), "curated_docs")


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    partition_daily: bool = False,
    warehouse_cls: type[Warehouse] = Warehouse,
) -> dict:
    """All five stages in-process; returns per-stage row counts."""
    cat = Catalog(spark, sf_dir)
    wh = warehouse_cls(spark, warehouse_dir)
    out: dict = {}
    out["ingest_rows"] = stage_ingest(wh, cat, partition_daily)
    out["entity_dim_rows"], out["date_dim_rows"] = stage_dimensions(wh, cat)
    out["fact_rows"] = stage_fact(wh, cat, partition_daily)
    out["aggregates"] = stage_aggregates(wh)
    out["quality"] = stage_quality(wh)
    out["curated_rows"] = stage_curate(wh, cat)
    return out


STAGES = {
    "ingest": lambda wh, cat, daily: stage_ingest(wh, cat, daily),
    "dimensions": lambda wh, cat, daily: stage_dimensions(wh, cat),
    "fact": lambda wh, cat, daily: stage_fact(wh, cat, daily),
    "aggregates": lambda wh, cat, daily: stage_aggregates(wh),
    "quality": lambda wh, cat, daily: stage_quality(wh),
    "curate": lambda wh, cat, daily: stage_curate(wh, cat),
}


def main() -> None:
    p = argparse.ArgumentParser(description="run pipeline stages")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--warehouse", required=True)
    p.add_argument(
        "--stage", choices=[*STAGES, "all"], default="all",
        help="single stage (mimics the reference's per-job spark-submit) or all",
    )
    p.add_argument("--partition-daily", action="store_true")
    args = p.parse_args()

    from .. import get_spark

    spark = get_spark("pipeline")
    if args.stage == "all":
        result = run_pipeline(spark, args.sf_dir, args.warehouse, args.partition_daily)
    else:
        wh = Warehouse(spark, args.warehouse)
        cat = Catalog(spark, args.sf_dir)
        result = STAGES[args.stage](wh, cat, args.partition_daily)
    print(result)
    spark.stop()


if __name__ == "__main__":
    main()
