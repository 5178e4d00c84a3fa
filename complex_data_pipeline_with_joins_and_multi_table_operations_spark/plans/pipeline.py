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
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates, cleaning, dimensions, fact, quality
from ..sources import Catalog
from ..sources.io import local_frame


def _split_in_list(s: str) -> list[str]:
    """Split a comma-separated SQL fragment on TOP-LEVEL commas,
    respecting ''-escaped string literals (a quoted comma is part of
    the literal) and parenthesized sub-expressions (``round(x, 2)``
    stays one item) — used for IN-list bodies and UPDATE SET
    assignment lists."""
    out: list[str] = []
    cur: list[str] = []
    i, n, depth = 0, len(s), 0
    while i < n:
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                if s[j] == "'":
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in {s!r}")
            cur.append(s[i : j + 1])
            i = j + 1
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            i += 1
        else:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            cur.append(ch)
            i += 1
    out.append("".join(cur).strip())
    return out


def _split_coldefs(s: str) -> list[str]:
    """Split a CREATE TABLE column list on TOP-LEVEL commas. Unlike
    ``_split_in_list`` this also respects ``<>`` nesting, because DDL
    types spell complex types with angle brackets whose commas are not
    separators (``MAP<STRING, INT>``, ``STRUCT<a: INT, b: STRING>``) —
    but ONLY here: in expression lists ``<`` is the comparison operator
    and must not open a bracket scope."""
    out: list[str] = []
    cur: list[str] = []
    i, n, depth = 0, len(s), 0
    while i < n:
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                if s[j] == "'":
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in {s!r}")
            cur.append(s[i : j + 1])
            i = j + 1
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            i += 1
        else:
            if ch in "(<":
                depth += 1
            elif ch in ")>":
                depth -= 1
            cur.append(ch)
            i += 1
    out.append("".join(cur).strip())
    return out


def _parse_column_defs(
    body: str,
) -> tuple[list[str], dict[str, dict], dict[str, str]]:
    """Parse a CREATE TABLE column list (round 12): each item is
    ``name TYPE`` optionally followed by ONE of ``GENERATED ALWAYS AS
    (expr)``, ``GENERATED ALWAYS AS IDENTITY [(START WITH n [INCREMENT
    BY m])]`` or ``DEFAULT <expr>`` (Delta's declare-time column
    surface). Returns (ddl "name type" fragments, generated specs,
    default exprs). The constraint keyword is located at TOP level only
    — a keyword inside the type's angle brackets or an expression's
    parens never splits."""
    import re

    fields: list[str] = []
    generated: dict[str, dict] = {}
    defaults: dict[str, str] = {}
    kw = re.compile(r"\b(GENERATED|DEFAULT|NOT)\b", re.IGNORECASE)
    for item in _split_coldefs(body):
        m = re.match(r"`?(\w+)`?\s+(.+)$", item, re.DOTALL)
        if not m:
            raise ValueError(
                f"cannot parse column definition {item!r}; expected "
                "`name TYPE [GENERATED ALWAYS AS …|DEFAULT <expr>]`"
            )
        name, rest = m.group(1), m.group(2).strip()
        # first top-level constraint keyword (outside (), <>, '')
        idx = None
        depth, i, n = 0, 0, len(rest)
        while i < n:
            ch = rest[i]
            if ch == "'":
                j = rest.find("'", i + 1)
                i = n if j < 0 else j + 1
                continue
            if ch in "(<":
                depth += 1
            elif ch in ")>":
                depth -= 1
            elif depth == 0:
                km = kw.match(rest, i)
                if km and (i == 0 or not rest[i - 1].isalnum()):
                    idx = i
                    break
            i += 1
        type_part = (rest[:idx] if idx is not None else rest).strip()
        cons = rest[idx:].strip() if idx is not None else ""
        if not type_part:
            raise ValueError(f"column {name!r} is missing a type: {item!r}")
        fields.append(f"{name} {type_part}")
        if not cons:
            continue
        m_id = re.match(
            r"GENERATED\s+ALWAYS\s+AS\s+IDENTITY"
            r"(?:\s*\(\s*START\s+WITH\s+(-?\d+)"
            r"(?:\s+INCREMENT\s+BY\s+(-?\d+))?\s*\))?\s*$",
            cons,
            re.IGNORECASE,
        )
        m_ex = re.match(
            r"GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*$",
            cons,
            re.IGNORECASE | re.DOTALL,
        )
        m_df = re.match(r"DEFAULT\s+(.+?)\s*$", cons, re.IGNORECASE | re.DOTALL)
        if m_id:
            generated[name] = {
                "identity": {
                    "start": int(m_id.group(1) or 1),
                    "step": int(m_id.group(2) or 1),
                }
            }
        elif m_ex:
            generated[name] = {"expr": m_ex.group(1).strip()}
        elif m_df:
            defaults[name] = m_df.group(1).strip()
        else:
            raise ValueError(
                f"unsupported column constraint {cons!r} on {name!r} "
                "(supported: GENERATED ALWAYS AS (expr) | GENERATED "
                "ALWAYS AS IDENTITY [(START WITH n INCREMENT BY m)] | "
                "DEFAULT <expr>)"
            )
    return fields, generated, defaults


def _unq_sql(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1].replace("''", "'")
    return s


def _parse_props_body(body: str) -> dict[str, str]:
    """``'k' = 'v', …`` inside a TBLPROPERTIES clause → dict."""
    pairs: dict[str, str] = {}
    for item in _split_in_list(body):
        k, eq, val = item.partition("=")
        if not eq:
            raise ValueError(
                f"cannot parse TBLPROPERTIES pair {item!r}; "
                "expected 'key' = 'value'"
            )
        pairs[_unq_sql(k)] = _unq_sql(val)
    return pairs


def _outside_literal_spans(s: str) -> list[tuple[int, int]]:
    """(start, end) spans of ``s`` OUTSIDE ''-escaped string literals —
    the scanner under the alias canonicalizer, so an alias-lookalike
    inside a string literal is never rewritten."""
    spans = []
    i, n, start = 0, len(s), 0
    while i < n:
        if s[i] == "'":
            spans.append((start, i))
            j = i + 1
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    j += 2
                    continue
                if s[j] == "'":
                    break
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in {s!r}")
            i = j + 1
            start = i
        else:
            i += 1
    spans.append((start, n))
    return spans


def _canon_merge_expr(
    expr: str, t_alias: str, s_alias: str, aliases: str
) -> str:
    """Rewrite the statement's aliases to the engine's canonical ``t``/
    ``s`` in ONE pass (so the swapped alias pair ``target AS s, source
    AS t`` maps correctly — sequential substitution would collapse both
    onto one side), skipping string literals. ``aliases`` names the rows
    the clause may see: ``"ts"`` (matched: both), ``"t_bare"`` (NOT
    MATCHED BY SOURCE: the target row, bare column names), ``"s"``
    (NOT MATCHED insert condition: the source row)."""
    import re as _re

    pat = _re.compile(
        rf"\b({_re.escape(t_alias)}|{_re.escape(s_alias)})\s*\.\s*",
        _re.IGNORECASE,
    )

    def repl(m: "_re.Match") -> str:
        is_t = m.group(1).lower() == t_alias.lower()
        if aliases == "ts":
            return "t." if is_t else "s."
        if aliases == "t_bare":
            if not is_t:
                raise ValueError(
                    f"a NOT MATCHED BY SOURCE clause sees only the target "
                    f"row; {m.group(0).strip()!r} references the source"
                )
            return ""
        if is_t:
            raise ValueError(
                f"a NOT MATCHED insert condition sees only the source "
                f"row; {m.group(0).strip()!r} references the target"
            )
        return "s."

    out = []
    prev = 0
    for lo, hi in _outside_literal_spans(expr):
        out.append(expr[prev:lo])
        out.append(pat.sub(repl, expr[lo:hi]))
        prev = hi
    out.append(expr[prev:])
    return "".join(out).strip()


# -- SQL DML through Spark's own parser --------------------------------------
#
# Warehouse.sql hands DELETE, TRUNCATE, UPDATE, MERGE and INSERT to Spark's
# parser and reads the unresolved logical plan it returns: the grammar,
# quoting, clause-order rules and syntax errors are Spark's. Every parsed
# node carries the span of statement text it came from, so a MERGE condition
# or SET value reaches the engine as the statement's exact text.


def _parse_sql(spark: SparkSession, method: str, text: str):
    """Spark's parser on ``text`` (``method`` is ``parsePlan`` or
    ``parseExpression``); a syntax error raises ValueError with Spark's
    message."""
    from pyspark.errors import ParseException

    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        return getattr(parser, method)(text)
    except ParseException as e:
        raise ValueError(str(e)) from e


def _cls(node) -> str:
    return node.nodeName()  # the plan or expression class's simple name


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _text(sql: str, node) -> str:
    """The exact text of ``sql`` that Spark parsed into ``node``. The
    parser hands out TRUE and FALSE as shared constants whose position,
    if any, is from whichever statement first made them; their SQL is
    their text."""
    if _cls(node) == "Literal":
        text = node.sql()
        if text in ("true", "false"):
            return text
    o = node.origin()
    return sql[o.startIndex().get() : o.stopIndex().get() + 1]


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
    parts = (
        _seq(node.multipartIdentifier())
        if _cls(node) in ("UnresolvedRelation", "UnresolvedTable")
        else []
    )
    if len(parts) != 1:
        raise ValueError(f"{role} must name a table or view (one-part name)")
    return parts[0], alias or parts[0]


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
    """Constant SQL expressions as Python values, from one select over a
    one-row inline table (a local relation: collecting it runs no job)."""
    from pyspark.errors import PySparkException

    if not texts:
        return []
    cols = ", ".join(f"({t}) AS c{i}" for i, t in enumerate(texts))
    try:
        df = spark.sql(f"SELECT {cols} FROM VALUES (0) AS _(z)")
        det = df._jdf.queryExecution().analyzed().deterministic()
        row = df.collect()[0] if det else None
    except PySparkException as e:
        raise ValueError(
            f"cannot fold function in a WHERE value to a constant: {e}"
        ) from e
    if not det:
        raise ValueError(
            f"non-deterministic function in a WHERE value ({', '.join(texts)})"
            " — a row-level DML predicate must fold to a constant"
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
        return _canon_merge_expr(_text(sql, node), t_alias, s_alias, aliases)

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
    text, base = _text(sql, node), node.origin().startIndex().get()
    for row in reversed(_seq(node.rows()) if inline else []):
        for f, cell in reversed(list(zip(fields, _seq(row)))):
            if (
                _cls(cell) == "UnresolvedAttribute"
                and cell.name().upper() == "DEFAULT"
            ):
                o = cell.origin()
                text = (
                    text[: o.startIndex().get() - base]
                    + f"({defaults.get(f.name, 'NULL')})"
                    + text[o.stopIndex().get() + 1 - base :]
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
    ) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

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
    # the catalog, and deletes the rewrite in .sql() — no stage or caller
    # changes. TxLogWarehouse below is the scale-true implementation of
    # this seam (atomic commit log, snapshot ids, file-shared history —
    # sources/txlog.py); this base class's copy-per-version directories
    # remain as the zero-machinery default for small stage hand-offs.
    # Shim divergences stay documented and tested: sequential integer
    # versions and .sql()'s literal/comment-aware rewriter
    # (test_sql_rewrite_skips_string_literals_and_comments).

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
        import json as _json
        import time as _time

        ts_ms = int(_time.time() * 1000)
        if version > 1:
            ts_ms = max(ts_ms, self._commit_ts(name, version - 1) + 1)
        with open(os.path.join(vdir, "_commit_ts.json"), "w") as f:
            _json.dump({"ts_ms": ts_ms}, f)
        return version

    def _commit_ts(self, name: str, version: int) -> int:
        """Commit wall-clock of a snapshot (ms). Snapshots written before
        the stamp existed fall back to the version dir's mtime — the
        monotone envelope in version_at_timestamp absorbs any resulting
        disorder."""
        import json as _json

        vdir = os.path.join(self.path(name), f"v{version}")
        try:
            with open(os.path.join(vdir, "_commit_ts.json")) as f:
                return int(_json.load(f)["ts_ms"])
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

    def read_snapshot(self, name: str, version: int | None = None) -> DataFrame:
        """Read a table VERSION AS OF `version` (latest when omitted)."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        v = version if version is not None else versions[-1]
        if v not in versions:
            raise ValueError(f"table {name} has no version {v} (has {versions})")
        return self.spark.read.parquet(os.path.join(self.path(name), f"v{v}"))

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
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
        import errno
        import json as _json
        import shutil as _sh
        import time as _time
        import uuid as _uuid

        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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
        tmp = os.path.join(dest_root, f".tmp-clone-{_uuid.uuid4().hex}")
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
                _json.dump({"ts_ms": int(_time.time() * 1000)}, f)
            os.rename(tmp, os.path.join(dest_root, "v1"))
        except BaseException:
            _sh.rmtree(tmp, ignore_errors=True)
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
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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

    def add_column(self, name: str, col: str, dtype: str) -> int:
        return self.add_columns(name, [(col, dtype)])

    def add_columns(self, name: str, cols: list[tuple[str, str]]) -> int:
        """Multi-column ADD COLUMNS as ONE snapshot write: every name is
        validated against the live schema AND for intra-list duplicates
        before anything is written, so the ALTER is never half-applied."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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

        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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
        import shutil

        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
        victims = versions[: -max(1, retain_last)]
        for v in victims:
            shutil.rmtree(os.path.join(self.path(name), f"v{v}"))
        return len(victims)

    @staticmethod
    def _split_sql_segments(query: str) -> list[tuple[bool, str]]:
        """Split SQL into (is_code, text) segments so the time-travel
        rewrite never touches string literals, quoted identifiers, or
        comments. Handles ``'…'`` (with ``''`` escape), ``"…"``, ``…``
        (backtick), ``-- …`` line comments and ``/* … */`` blocks."""
        segments: list[tuple[bool, str]] = []
        i, n, start = 0, len(query), 0

        def flush_code(end: int) -> None:
            if end > start:
                segments.append((True, query[start:end]))

        while i < n:
            ch = query[i]
            if ch in ("'", '"', "`"):
                flush_code(i)
                j = i + 1
                while j < n:
                    if query[j] == ch:
                        if ch == "'" and j + 1 < n and query[j + 1] == "'":
                            j += 2  # doubled-quote escape
                            continue
                        j += 1
                        break
                    j += 1
                else:
                    j = n
                segments.append((False, query[i:j]))
                i = start = j
            elif ch == "-" and query[i : i + 2] == "--":
                flush_code(i)
                j = query.find("\n", i)
                j = n if j == -1 else j
                segments.append((False, query[i:j]))
                i = start = j
            elif ch == "/" and query[i : i + 2] == "/*":
                flush_code(i)
                j = query.find("*/", i + 2)
                j = n if j == -1 else j + 2
                segments.append((False, query[i:j]))
                i = start = j
            else:
                i += 1
        flush_code(n)
        return segments

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
        if not self.versions(name):
            raise FileNotFoundError(f"no snapshots for table {name}")
        rows = [
            (v, self._commit_ts(name, v), "write_snapshot", None, None, None)
            for v in self.versions(name)
        ]
        return local_frame(self.spark, rows, self._HISTORY_SCHEMA)

    def version_at_timestamp(self, name: str, ts_ms: int) -> int:
        """Resolve TIMESTAMP AS OF to a snapshot version: the latest
        version whose commit time is at or before ``ts_ms`` (Delta/Iceberg
        semantics; same contract as TableLog.version_at). Commit times pass
        through a monotone envelope (running max) first, so mtime-backfilled
        pre-stamp snapshots can never resolve out of version order."""
        versions = self.versions(name)
        if not versions:
            raise FileNotFoundError(f"no snapshots for table {name}")
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

    def _rewrite_timestamp_as_of(
        self, segments: list[tuple[bool, str]]
    ) -> list[tuple[bool, str]]:
        """``<table> TIMESTAMP AS OF '<iso>'`` spans a code segment (name +
        keywords) and a string-literal segment (the timestamp) — rewrite
        the pair into a versioned temp view. Literal-only occurrences of
        the phrase (inside strings/comments) never match because the
        keyword part must sit in a CODE segment."""
        import re
        from datetime import datetime, timezone

        pat = re.compile(r"\b(\w+)\s+TIMESTAMP\s+AS\s+OF\s*$", re.IGNORECASE)
        out = list(segments)
        for i, (is_code, text) in enumerate(out):
            if not is_code or i + 1 >= len(out):
                continue
            m = pat.search(text)
            nxt_is_code, nxt = out[i + 1]
            if not m or nxt_is_code or not nxt.startswith("'"):
                continue
            name = m.group(1)
            ts = datetime.fromisoformat(nxt.strip("'"))
            if ts.tzinfo is None:  # session timezone is pinned UTC
                ts = ts.replace(tzinfo=timezone.utc)
            version = self.version_at_timestamp(name, int(ts.timestamp() * 1000))
            view = f"__{name}_v{version}"
            self.read_snapshot(name, version).createOrReplaceTempView(view)
            out[i] = (True, text[: m.start()] + view)
            out[i + 1] = (True, "")
        return out

    def _rewrite_table_changes(
        self, segments: list[tuple[bool, str]]
    ) -> list[tuple[bool, str]]:
        """Delta's change-data-feed TVF surface:
        ``SELECT … FROM table_changes('t', from [, to])`` (or the bare
        identifier form ``table_changes(t, from [, to])``) rewrites to a
        temp view over the backend's batch change feed. The quoted form
        spans a code segment + a string literal + a code segment, so it
        resolves the same way TIMESTAMP AS OF does — literal-only
        occurrences inside strings/comments can never match. Backends
        without a commit log (whole-table snapshots) refuse loudly, like
        row-level SQL DML."""
        import re

        call = re.compile(
            r"\btable_changes\s*\(\s*`?(\w+)`?\s*,\s*(\d+)\s*"
            r"(?:,\s*(\d+)\s*)?\)",
            re.IGNORECASE,
        )
        open_pat = re.compile(r"\btable_changes\s*\(\s*$", re.IGNORECASE)
        args_pat = re.compile(r"^\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)")

        def _view(name: str, lo: int, hi: int | None) -> str:
            if not hasattr(self, "table_changes"):
                raise ValueError(
                    "table_changes() requires the txlog backend "
                    "(TxLogWarehouse); this backend's snapshots are "
                    "whole-table writes with no commit-level change feed"
                )
            view = f"__tc_{name}_v{lo}_{'latest' if hi is None else hi}"
            self.table_changes(name, lo, hi).createOrReplaceTempView(view)
            return view

        out = list(segments)
        for i, (is_code, text) in enumerate(out):
            if not is_code:
                continue
            text = call.sub(
                lambda m: _view(
                    m.group(1),
                    int(m.group(2)),
                    int(m.group(3)) if m.group(3) else None,
                ),
                text,
            )
            m = open_pat.search(text)
            if m and i + 2 < len(out):
                s_is_code, sname = out[i + 1]
                c_is_code, ctext = out[i + 2]
                if not s_is_code and sname.startswith("'") and c_is_code:
                    m2 = args_pat.match(ctext)
                    if m2:
                        hi = int(m2.group(2)) if m2.group(2) else None
                        view = _view(
                            sname.strip("'"), int(m2.group(1)), hi
                        )
                        text = text[: m.start()] + view
                        out[i + 1] = (True, "")
                        out[i + 2] = (True, ctext[m2.end():])
            out[i] = (True, text)
        return out

    def sql(self, query: str) -> DataFrame:
        """SQL entry point with Iceberg-style time travel (reference
        README.md:143-154 verifies through ``SELECT … VERSION AS OF``).

        ``<table> VERSION AS OF <n>`` references are resolved against the
        warehouse snapshot store and swapped for temp views before the
        query reaches Spark's parser; bare warehouse table names resolve
        to the latest snapshot (or the plain table). Vanilla Spark only
        parses VERSION AS OF for v2 catalogs (Iceberg/Delta); this shim
        keeps the same user-facing SQL over the portable parquet backend
        — an Iceberg catalog would replace it with native parsing and no
        caller changes.

        Hardening (vs a naive regex pass): table names and VERSION AS OF
        clauses inside string literals, quoted identifiers, or comments
        are left untouched; and a temp view the USER registered under a
        warehouse table's name is never clobbered — it shadows the
        warehouse table, matching Spark's own temp-view-over-catalog
        resolution order. Known edge: if the user REPLACES a view this
        warehouse itself registered earlier in the same session, the next
        .sql() re-shadows it (the catalog API cannot distinguish the two);
        pick an unclaimed name for user views over warehouse tables.

        DML (DELETE, TRUNCATE, UPDATE, MERGE, INSERT) is parsed by Spark's
        own parser and run on the backend's row ops; the statements Spark's
        grammar lacks (OPTIMIZE, VACUUM, REORG, RESTORE, DESCRIBE
        HISTORY/DETAIL/FILES, SHALLOW CLONE) and the warehouse's CREATE/
        ALTER DDL are matched first. A statement Spark cannot parse raises
        ValueError with Spark's message."""
        import re

        m_hist = re.match(
            r"\s*DESCRIBE\s+HISTORY\s+`?(\w+)`?\s*;?\s*$", query, re.IGNORECASE
        )
        if m_hist:
            # Delta's DESCRIBE HISTORY, portable across both backends
            return self.history(m_hist.group(1))

        # ALTER TABLE column DDL, portable across both backends (the base
        # backend rewrites the next snapshot; txlog commits metadata only).
        # Returns a one-row confirmation with the new table version —
        # Spark's own DDL returns an empty frame, but the version is the
        # useful fact here (it is what VERSION AS OF takes).
        m_alter = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(?:"
            r"RENAME\s+COLUMN\s+`?(\w+)`?\s+TO\s+`?(\w+)`?"
            r"|ADD\s+COLUMNS?\s+([`\w()\s,]+?)"
            r"|DROP\s+COLUMNS?\s*\(?\s*`?(\w+)`?\s*\)?"
            r"|ALTER\s+COLUMN\s+`?(\w+)`?\s+TYPE\s+([\w()\s,]+?)"
            r")\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        # CHECK-constraint DDL (Delta syntax; round 9): metadata commits
        # on the txlog backend — ADD validates existing rows first, then
        # every later write/merge/update enforces in one aggregate pass
        m_con = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+(?:"
            r"ADD\s+CONSTRAINT\s+`?(\w+)`?\s+CHECK\s*\((.+)\)"
            r"|DROP\s+CONSTRAINT\s+`?(\w+)`?"
            r")\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_con:
            t = m_con.group(1)
            self._require_txlog("CHECK constraints")
            if m_con.group(2):
                op = "ADD CONSTRAINT"
                v = self._log(t).add_constraint(
                    m_con.group(2), m_con.group(3).strip()
                )
            else:
                op = "DROP CONSTRAINT"
                v = self._log(t).drop_constraint(m_con.group(4))
            return self._outcome(t, op, v)

        # column DEFAULT DDL (round 10; Spark/Delta syntax): metadata
        # commits; later INSERTs whose column list omits the column take
        # the default instead of NULL
        m_dflt = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ALTER\s+COLUMN\s+`?(\w+)`?"
            r"\s+(?:SET\s+DEFAULT\s+(.+?)|(DROP\s+DEFAULT))\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_dflt:
            t = m_dflt.group(1)
            self._require_txlog("column DEFAULTs")
            if m_dflt.group(4):
                op = "DROP DEFAULT"
                v = self._log(t).drop_default(m_dflt.group(2))
            else:
                op = "SET DEFAULT"
                v = self._log(t).set_default(
                    m_dflt.group(2), m_dflt.group(3).strip()
                )
            return self._outcome(t, op, v)

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
            t = m_gen.group(1)
            self._require_txlog("generated columns")
            if m_gen.group(6):
                op = "DROP GENERATED"
                v = self._log(t).drop_generated(m_gen.group(2))
            elif m_gen.group(5):
                op = "SET GENERATED ALWAYS AS"
                v = self._log(t).set_generated(
                    m_gen.group(2), expr=m_gen.group(5).strip()
                )
            else:
                op = "SET GENERATED ALWAYS AS IDENTITY"
                v = self._log(t).set_generated(
                    m_gen.group(2),
                    identity=True,
                    start=int(m_gen.group(3) or 1),
                    step=int(m_gen.group(4) or 1),
                )
            return self._outcome(t, op, v)

        # table properties (round 11; Delta/Spark syntax): SET acts on
        # delta.enableChangeDataFeed — CoW MERGE/DELETE commits then
        # write precise CDC sidecars (see TableLog.set_properties)
        m_props = re.match(
            r"\s*ALTER\s+TABLE\s+`?(\w+)`?\s+"
            r"(?:SET\s+TBLPROPERTIES\s*\((.+)\)"
            r"|UNSET\s+TBLPROPERTIES\s*\((.+)\))\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_props:
            t = m_props.group(1)
            self._require_txlog("TBLPROPERTIES")
            if m_props.group(2):
                op = "SET TBLPROPERTIES"
                v = self._log(t).set_properties(
                    _parse_props_body(m_props.group(2))
                )
            else:
                keys = [_unq_sql(k) for k in _split_in_list(m_props.group(3))]
                op = "UNSET TBLPROPERTIES"
                v = self._log(t).unset_properties(keys)
            return self._outcome(t, op, v)

        m_files = re.match(
            r"\s*DESCRIBE\s+FILES\s+`?(\w+)`?\s*;?\s*$", query, re.IGNORECASE
        )
        if m_files:
            return self.files(m_files.group(1))

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
            dst, src_t = m_clone.group(1), m_clone.group(2)
            if not self.exists(src_t):
                raise ValueError(f"clone source {src_t!r} does not exist")
            ver = int(m_clone.group(3)) if m_clone.group(3) else None
            if m_clone.group(4):
                ver = self.version_at_timestamp(
                    src_t, int(m_clone.group(4))
                )
            v = self.shallow_clone(src_t, dst, version=ver)
            return self._outcome(dst, "SHALLOW CLONE", v)

        # CREATE TABLE with an explicit column list (round 12): Delta's
        # declare-before-first-write surface — GENERATED ALWAYS AS /
        # IDENTITY, DEFAULT, PARTITIONED BY, CLUSTERED BY … INTO n
        # BUCKETS and TBLPROPERTIES all land in the version-1 commit of
        # an EMPTY table, so the very first data write already satisfies
        # every declared invariant (closes round 11's ALTER-only gap).
        m_newtab = re.match(
            r"\s*CREATE\s+TABLE\s+`?(\w+)`?\s*\(", query, re.IGNORECASE
        )
        if m_newtab:
            t = m_newtab.group(1)
            # balanced-paren scan for the column list (types and
            # generated expressions nest parens; regexes can't)
            i = m_newtab.end() - 1
            depth, j, n = 0, i, len(query)
            while j < n:
                ch = query[j]
                if ch == "'":
                    k = query.find("'", j + 1)
                    j = n if k < 0 else k + 1
                    continue
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if depth != 0:
                raise ValueError(
                    f"unbalanced parentheses in CREATE TABLE: {query!r}"
                )
            coldefs, tail = query[i + 1 : j], query[j + 1 :]
            m_tail = re.match(
                r"\s*(?:PARTITIONED\s+BY\s*\(([^)]+)\)\s*)?"
                r"(?:CLUSTERED\s+BY\s*\(([^)]+)\)\s*"
                r"(?:SORTED\s+BY\s*\(([^)]+)\)\s*)?"
                r"INTO\s+(\d+)\s+BUCKETS\s*)?"
                r"(?:TBLPROPERTIES\s*\(([^)]*)\)\s*)?;?\s*$",
                tail,
                re.IGNORECASE | re.DOTALL,
            )
            if not m_tail:
                raise ValueError(
                    f"cannot parse CREATE TABLE clauses {tail!r} "
                    "(supported: PARTITIONED BY | CLUSTERED BY … INTO n "
                    "BUCKETS | TBLPROPERTIES; CTAS uses `CREATE TABLE t "
                    "AS SELECT …` without a column list)"
                )
            self._require_txlog("CREATE TABLE with column definitions")
            if self.exists(t):
                raise ValueError(
                    f"table {t!r} already exists; CREATE TABLE never "
                    "clobbers data"
                )
            fields, gen, dflts = _parse_column_defs(coldefs)
            split = lambda g: (
                [c.strip(" `") for c in g.split(",")] if g else None
            )
            part, bcols, scols = (
                split(m_tail.group(1)),
                split(m_tail.group(2)),
                split(m_tail.group(3)),
            )
            props = (
                _parse_props_body(m_tail.group(5))
                if m_tail.group(5)
                else None
            )
            v = self.create_table(
                t,
                ", ".join(fields),
                partition_by=part,
                bucket_by=(int(m_tail.group(4)), bcols) if bcols else None,
                sort_by=scols,
                generated=gen or None,
                defaults=dflts or None,
                properties=props,
            )
            return self._outcome(t, "CREATE TABLE", v)

        # CTAS with optional partition/bucket layout (round 8): the SELECT
        # runs back through .sql() so VERSION AS OF / table_changes() /
        # warehouse table references all resolve inside it. CREATE TABLE
        # refuses when the table already exists (Spark/Delta/Iceberg
        # TableAlreadyExists semantics — a bare CTAS must never clobber
        # data); CREATE OR REPLACE TABLE is the explicit-overwrite form.
        m_ctas = re.match(
            r"\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+`?(\w+)`?\s*"
            r"(?:PARTITIONED\s+BY\s*\(([^)]+)\)\s*)?"
            r"(?:CLUSTERED\s+BY\s*\(([^)]+)\)\s*"
            r"(?:SORTED\s+BY\s*\(([^)]+)\)\s*)?"
            r"INTO\s+(\d+)\s+BUCKETS\s*)?"
            r"(?:TBLPROPERTIES\s*\(([^)]*)\)\s*)?"
            r"AS\s+(SELECT\b.+?)\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_ctas:
            replace = bool(m_ctas.group(1))
            t = m_ctas.group(2)
            if not replace and self.exists(t):
                raise ValueError(
                    f"table {t!r} already exists; use CREATE OR REPLACE "
                    "TABLE … AS to overwrite it"
                )
            split = lambda g: (
                [c.strip(" `") for c in g.split(",")] if g else None
            )
            part, bcols, scols = (
                split(m_ctas.group(3)), split(m_ctas.group(4)),
                split(m_ctas.group(5)),
            )
            props = (
                _parse_props_body(m_ctas.group(7))
                if m_ctas.group(7)
                else None
            )
            if props is not None:
                self._require_txlog("TBLPROPERTIES")
            prop_kw = {"properties": props} if props is not None else {}
            df = self.sql(m_ctas.group(8))
            if bcols:
                # capability check up front (never catch TypeError around
                # the write — an unrelated TypeError from Spark or user
                # data must not be misreported as a backend gap)
                import inspect as _inspect

                if "bucket_by" not in _inspect.signature(
                    self.write_snapshot
                ).parameters:
                    raise ValueError(
                        "CLUSTERED BY … INTO n BUCKETS requires the txlog "
                        "backend (TxLogWarehouse); this backend's snapshots "
                        "have no bucket layout"
                    )
                v = self.write_snapshot(
                    df, t, partition_by=part,
                    bucket_by=(int(m_ctas.group(6)), bcols),
                    sort_by=scols, **prop_kw,
                )
            else:
                v = self.write_snapshot(df, t, partition_by=part, **prop_kw)
            return self._outcome(
                t, "CREATE OR REPLACE TABLE AS" if replace else "CREATE TABLE AS", v
            )

        m_detail = re.match(
            r"\s*DESCRIBE\s+DETAIL\s+`?(\w+)`?\s*;?\s*$", query, re.IGNORECASE
        )
        if m_detail:
            return self.detail(m_detail.group(1))

        m_opt = re.match(
            r"\s*OPTIMIZE\s+`?(\w+)`?"
            r"(?:\s+WHERE\s+(.+?))?"
            r"(?:\s+ZORDER\s+BY\s*\(\s*([\w\s,`]+?)\s*\))?\s*;?\s*$",
            query,
            re.IGNORECASE | re.DOTALL,
        )
        if m_opt:
            t = m_opt.group(1)
            zcols = (
                [c.strip(" `") for c in m_opt.group(3).split(",")]
                if m_opt.group(3)
                else None
            )
            where = (
                _where_filters(self.spark, m_opt.group(2))
                if m_opt.group(2)
                else None
            )
            v = self.optimize_table(t, zorder_by=zcols, where=where)
            return self._outcome(t, "OPTIMIZE", v)

        # REORG TABLE … APPLY (PURGE) (round 12): Delta's scoped
        # deletion-vector purge — rewrite ONLY the dv-carrying files
        m_reorg = re.match(
            r"\s*REORG\s+TABLE\s+`?(\w+)`?\s+APPLY\s*\(\s*PURGE\s*\)"
            r"\s*;?\s*$",
            query,
            re.IGNORECASE,
        )
        if m_reorg:
            t = m_reorg.group(1)
            self._require_txlog("REORG APPLY (PURGE)")
            res = self._log(t).reorg_purge()
            return local_frame(
                self.spark,
                [
                    (
                        t,
                        "REORG APPLY (PURGE)",
                        res["version"],
                        res["files_purged"],
                    )
                ],
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
            n = self.vacuum_table(
                t, retain_last=int(m_vac.group(2) or 1)
            )
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

        if m_alter:
            t = m_alter.group(1)
            if m_alter.group(2):
                op = "RENAME COLUMN"
                v = self.rename_column(t, m_alter.group(2), m_alter.group(3))
            elif m_alter.group(4):
                op = "ADD COLUMN"
                # multi-column form: 'ADD COLUMNS (a INT, b STRING)' — split
                # on TOP-LEVEL commas only (DECIMAL(10,2) carries its own),
                # so every listed column is added, not just the first with
                # the rest silently swallowed into its dtype
                spec = m_alter.group(4).strip()
                if spec.startswith("(") and spec.endswith(")"):
                    spec = spec[1:-1]
                cols = _split_coldefs(spec)
                parsed = []
                for cspec in cols:
                    cname, _, dtype = cspec.strip().partition(" ")
                    cname, dtype = cname.strip("`"), dtype.strip()
                    if not cname or not dtype:
                        # validate EVERY spec before adding ANY column so a
                        # bad spec never leaves a half-applied ALTER
                        raise ValueError(
                            f"cannot parse ADD COLUMNS spec {cspec.strip()!r};"
                            " expected '<name> <dtype>'"
                        )
                    parsed.append((cname, dtype))
                # single atomic application: name collisions (live schema
                # or intra-list) are rejected before anything commits
                v = self.add_columns(t, parsed)
            elif m_alter.group(5):
                op = "DROP COLUMN"
                v = self.drop_column(t, m_alter.group(5))
            else:
                op = "ALTER COLUMN TYPE"
                v = self.alter_column_type(
                    t, m_alter.group(6), m_alter.group(7).strip()
                )
            return self._outcome(t, op, v)

        # the standard DML goes through Spark's own parser; every other
        # statement it parses (SELECT, SHOW, …) runs below with the
        # time-travel rewrite
        plan = _parse_sql(self.spark, "parsePlan", query)
        run = self._SQL_DML.get(_cls(plan))
        if run is not None:
            return getattr(self, run)(query, plan)

        def _versioned(m: "re.Match[str]") -> str:
            name, version = m.group(1), int(m.group(2))
            view = f"__{name}_v{version}"
            self.read_snapshot(name, version).createOrReplaceTempView(view)
            return view

        segments = self._split_sql_segments(query)
        segments = self._rewrite_timestamp_as_of(segments)
        segments = self._rewrite_table_changes(segments)
        code = [
            re.sub(
                r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)",
                _versioned,
                text,
                flags=re.IGNORECASE,
            )
            if is_code
            else text
            for is_code, text in segments
        ]
        rewritten = "".join(code)
        code_only = " ".join(t for (is_code, _), t in zip(segments, code) if is_code)
        # backtick-quoted identifiers are LIVE table references (Spark
        # resolves `name` exactly like name), not string literals — they
        # must trigger view registration even though the rewrite pass
        # rightly leaves their text alone
        backtick_idents = " ".join(
            t.strip("`")
            for is_code, t in segments
            if not is_code and t.startswith("`")
        )
        scan_text = f"{code_only} {backtick_idents}"
        for name in self.tables():
            if not re.search(rf"\b{re.escape(name)}\b", scan_text):
                continue
            foreign_view = (
                name not in self._registered
                and self.spark.catalog.tableExists(name)
            )
            if foreign_view:
                continue  # user's own temp view shadows the warehouse table
            if self.versions(name):
                self.read_snapshot(name).createOrReplaceTempView(name)
            else:
                self.read(name).createOrReplaceTempView(name)
            self._registered.add(name)
        return self.spark.sql(rewritten)

    # Spark's DML plan classes and the method that runs each
    _SQL_DML = {
        "DeleteFromTable": "_sql_delete",
        "TruncateTable": "_sql_truncate",
        "UpdateTable": "_sql_update",
        "MergeIntoTable": "_sql_merge",
        "InsertIntoStatement": "_sql_insert",
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
        DEFAULT or NULL; the SELECT form runs back through .sql() so time
        travel / table_changes() resolve inside it. Appends on the txlog
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
            df = self.sql(_text(query, rows))
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

    def add_column(self, name: str, col: str, dtype: str) -> int:
        return self._log(name).add_column(col, dtype)

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

    def optimize_table(
        self,
        name: str,
        n_files: int = 1,
        zorder_by: list[str] | None = None,
        where: list | None = None,
        max_file_bytes: int | None = None,
    ) -> int:
        return self._log(name).optimize(
            n_files=n_files,
            zorder_by=zorder_by,
            where=where,
            max_file_bytes=max_file_bytes,
        )

    def vacuum_table(self, name: str, retain_last: int = 1) -> int:
        return self._log(name).vacuum(retain_last=retain_last)

    def files(self, name: str) -> DataFrame:
        return self._log(name).files_df()

    def history(self, name: str) -> DataFrame:
        rows = [
            (
                h["version"],
                h.get("ts_ms"),
                h["operation"],
                h["snapshot_id"],
                h["n_adds"],
                h["n_removes"],
            )
            for h in self._log(name).history()
        ]
        return local_frame(self.spark, rows, self._HISTORY_SCHEMA)

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        self._log(name).write(df, mode="overwrite", partition_by=partition_by)

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
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
        generated: dict[str, dict] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        return self._log(name).write(
            df, partition_by=partition_by, bucket_by=bucket_by,
            sort_by=sort_by, generated=generated, properties=properties,
        )

    def create_table(
        self,
        name: str,
        schema,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
        generated: dict[str, dict] | None = None,
        defaults: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        """``CREATE TABLE`` with an explicit column list (round 12) —
        an EMPTY version-1 commit carrying schema + declare-time
        metadata; see TableLog.create."""
        return self._log(name).create(
            schema,
            partition_by=partition_by,
            bucket_by=bucket_by,
            sort_by=sort_by,
            generated=generated,
            defaults=defaults,
            properties=properties,
        )

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
        self,
        source: DataFrame,
        name: str,
        keys: list[str],
        delete_condition: str | None = None,
        via: str = "cow",
        update_set: dict[str, str] | None = None,
        not_matched_by_source_delete: bool = False,
        not_matched_by_source_condition: str | None = None,
        matched_clauses: list[dict] | None = None,
        insert: bool = True,
        insert_condition: str | None = None,
        not_matched_by_source_clauses: list[dict] | None = None,
        not_matched_clauses: list[dict] | None = None,
        schema_evolution: bool = False,
    ) -> dict:
        """MERGE INTO a warehouse table (see TableLog.merge)."""
        return self._log(name).merge(
            source,
            keys,
            delete_condition,
            via=via,
            update_set=update_set,
            not_matched_by_source_delete=not_matched_by_source_delete,
            not_matched_by_source_condition=not_matched_by_source_condition,
            matched_clauses=matched_clauses,
            insert=insert,
            insert_condition=insert_condition,
            not_matched_by_source_clauses=not_matched_by_source_clauses,
            not_matched_clauses=not_matched_clauses,
            schema_evolution=schema_evolution,
        )

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

    def tables(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_txlog"))
        )


class CatalogWarehouse(Warehouse):
    """Stage hand-off through the session catalog (saveAsTable /
    spark.table / tableExists) instead of parquet paths — the
    persistent-metastore deployment shape (the reference verifies its
    warehouse with ``SHOW TABLES IN …`` / ``DESCRIBE``, README.md:125-128).
    Same stage code runs over either backend; only write/read/exists swap,
    which is exactly the seam an Iceberg catalog would plug into."""

    def write(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        from ..sources.io import overwrite_table

        overwrite_table(df, name, partition_by)

    def read(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(name)


def stage_ingest(wh: Warehouse, cat: Catalog, partition_daily: bool = False) -> int:
    """IngestionJob parity: scan → clean → enrich → partitioned write."""
    cleaned = cleaning.clean_lineitem(cat.lineitem).withColumn(
        "ship_year", F.year("ship_date")
    )
    wh.write(
        cleaned,
        "trips_raw",
        ["ship_date"] if partition_daily else ["ship_year"],
    )
    return wh.read("trips_raw").count()


def stage_dimensions(wh: Warehouse, cat: Catalog) -> tuple[int, int]:
    """DimensionJob parity: entity dim (union+distinct+bucket) and date
    dim (sequence/explode spine), both full-overwrite like the reference
    (DimensionJob.scala:58,90)."""
    raw = wh.read("trips_raw")
    entity = dimensions.build_entity_dim(raw, "l_partkey", "l_suppkey")
    date_dim = dimensions.build_date_dim(raw, "ship_date")
    wh.write(entity, "entity_dim")
    wh.write(date_dim, "date_dim")
    return wh.read("entity_dim").count(), wh.read("date_dim").count()


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
    wh.write(
        f,
        "star_fact",
        ["ship_date"] if partition_daily else ["year"],
    )
    return wh.read("star_fact").count()


def stage_aggregates(wh: Warehouse) -> dict[str, int]:
    """AggregationJob parity: one fact scan fanned into three summaries.
    The fact is cached across the three aggregations — the reference
    re-scans it per summary and even re-aggregates for its log counts
    (SURVEY.md §4.3.1); counts here come from the written tables."""
    if not wh.exists("star_fact"):
        raise RuntimeError("pipeline ordering violation: missing table star_fact")
    f = wh.read("star_fact").cache()
    try:
        wh.write(aggregates.agg_pair_daily(f), "pair_daily", ["supp_nation"])
        wh.write(aggregates.agg_time(f), "time_analysis", ["year"])
        wh.write(aggregates.top_pairs(f, 50), "top_pairs")
    finally:
        f.unpersist()
    return {
        name: wh.read(name).count()
        for name in ("pair_daily", "time_analysis", "top_pairs")
    }


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

    curated = curation.curate_documents(cat.documents)
    wh.write(curated, "curated_docs")
    return wh.read("curated_docs").count()


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
