"""Change management for star schemas: SCD Type 2 history, MERGE upsert,
and incremental summary maintenance.

The reference's pipeline rebuilds its dimension and summary tables from
scratch every run (DimensionJob.scala:58,90 full overwrites;
AggregationJob.scala:53-90 re-aggregates the whole fact) — fine for a
monthly batch, wrong at 100 TB where a daily reload of an unchanged
dimension or a full fact re-scan per summary refresh dominates the
pipeline's cost. These operators are the standard warehouse answers,
expressed as pure DataFrame plans:

- :func:`scd2_history` — slowly-changing-dimension type 2: collapse a
  change stream into effective-dated attribute versions
  (valid_from/valid_to/is_current).
- :func:`merge_upsert` — MERGE INTO semantics (update matched, insert
  unmatched, optional delete) as a batch operator; pairs with
  ``sources.txlog.TableLog`` for a transactional MERGE on stored tables.
- :func:`merge_branches` — the full multi-branch MERGE grammar (ordered
  conditional WHEN MATCHED clauses, conditional INSERT, WHEN NOT MATCHED
  BY SOURCE UPDATE/DELETE) — Delta's CDC-apply statement shape.
- :func:`merge_partial_aggregates` — incremental summary maintenance:
  fold a new slice's partial aggregates into an existing summary without
  re-scanning history. Works for any decomposable measure (count/sum, and
  anything derivable from them: avg, rates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import exact_sum


def scd2_history(
    changes: DataFrame,
    key: str,
    attr: str,
    order_by: list[str],
) -> DataFrame:
    """Slowly-changing-dimension Type 2 from a change stream.

    For each ``key``, consecutive events with the same ``attr`` collapse
    into one effective-dated version row: the attribute value, when it
    became effective (``valid_from``, the first ``order_by`` column's
    value), when it stopped (``valid_to``, the next version's
    ``valid_from``; null while current), a per-key ``version_no``, and
    ``is_current``.

    Physical shape: two Window passes over the SAME (partition, order) —
    Catalyst plans one Exchange on ``key``; the change-row filter between
    them preserves the distribution, so the second Window adds no
    shuffle. Null-safe change detection (``eqNullSafe``) means a null
    attribute value is a real version, not a perpetual change.

    ``order_by`` must be a deterministic total order within each key
    (e.g. ``["ts_us", "event_id"]``) or version boundaries are
    tie-dependent.
    """
    w = Window.partitionBy(key).orderBy(*order_by)
    prev = F.lag(attr).over(w)
    is_change = F.row_number().over(w) == 1
    is_change = is_change | ~F.col(attr).eqNullSafe(prev)

    changes_only = (
        changes.select(key, attr, *order_by)
        .withColumn("__is_change", is_change)
        .filter("__is_change")
        .drop("__is_change")
    )
    valid_from = order_by[0]
    wv = Window.partitionBy(key).orderBy(*order_by)
    return (
        changes_only.withColumn("valid_from", F.col(valid_from))
        .withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("version_no", F.row_number().over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(*order_by)
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_condition: Column | None = None,
    insert_unmatched_deletes: bool = True,
    update_set: dict[str, str] | None = None,
    not_matched_by_source_delete: bool = False,
    not_matched_by_source_condition: Column | None = None,
    check_cardinality: bool = True,
) -> DataFrame:
    """MERGE INTO as a batch operator: WHEN MATCHED THEN UPDATE (source row
    wins), WHEN NOT MATCHED THEN INSERT, and optionally WHEN MATCHED AND
    ``delete_condition`` THEN DELETE (those source rows drop their target
    matches and are not inserted).

    SQL MERGE scopes the delete to the MATCHED branch only: a source row
    that satisfies ``delete_condition`` but matches nothing in the target
    still falls through to WHEN NOT MATCHED THEN INSERT. Delete-flagged
    rows therefore need a membership probe against the target keys —
    without it they would silently vanish instead of inserting.

    Plan shape: one left-anti join of target against source keys + a
    union — no full outer join, no row comparison; with a delete branch,
    one extra anti join of the (small) delete-flagged slice against the
    target keys. The anti joins broadcast when the source is small (the
    common dimension-trickle case); at comparable sizes they shuffle on
    the merge keys only once. Schemas must align by name
    (``unionByName``).

    ``insert_unmatched_deletes=False`` switches the unmatched-delete rule
    from SQL MERGE's (falls through to INSERT) to CDC apply's (a delete
    record for a key the table never had is a NO-OP) — and drops the
    membership probe with it.

    ``update_set`` (round 9 — the explicit-assignment MERGE form,
    ``WHEN MATCHED THEN UPDATE SET col = expr``): maps target columns to
    SQL expressions over the aliases ``t`` (the matched target row) and
    ``s`` (the source row); unlisted columns KEEP their target values —
    unlike the default source-wins ``SET *``. The matched branch then
    needs the target row's values, so it runs as one inner join of the
    target against the source on the merge keys (the anti-join shape of
    the default form cannot express it); the INSERT branch still takes
    source values wholesale. SQL MERGE's multiple-matches rule is
    enforced: duplicate source keys raise (with ``SET *`` they
    historically pass through; the explicit form would silently
    duplicate target rows, so it refuses like Delta does).
    """
    if update_set is not None:
        bad = [c for c in update_set if c not in target.columns]
        if bad:
            raise ValueError(
                f"UPDATE SET columns {bad} not in the target "
                f"(has {target.columns})"
            )
        if any(c in keys for c in update_set):
            raise ValueError(
                "UPDATE SET cannot assign a merge key (Delta/SQL MERGE "
                "restriction — reassigning keys makes matching ambiguous)"
            )
        if check_cardinality:
            check_merge_cardinality(target, source, keys)
    # anti-join on ALL source keys (delete rows included — their target
    # matches must disappear)
    all_keys = source.select(*keys).distinct()
    survivors = target.join(all_keys, keys, "left_anti")
    if not_matched_by_source_delete:
        # Delta's three-way merge (full-sync shape): target rows whose
        # keys are absent from the source DELETE — optionally only those
        # satisfying a condition over the TARGET row (SQL tri-state: a
        # NULL condition keeps the row, same as WHEN MATCHED AND)
        if not_matched_by_source_condition is not None:
            survivors = survivors.filter(
                ~F.coalesce(not_matched_by_source_condition, F.lit(False))
            )
        else:
            survivors = survivors.filter(F.lit(False))
    if delete_condition is not None:
        # SQL MERGE's WHEN MATCHED AND <cond> treats an unknown (NULL)
        # condition as false: those rows take the UPDATE/INSERT path, so
        # normalize once and branch on the same boolean both ways.
        cond = F.coalesce(delete_condition, F.lit(False))
        if insert_unmatched_deletes:
            # matched delete rows drop out entirely; UNMATCHED delete rows
            # are ordinary inserts (MERGE's delete gates only WHEN MATCHED).
            # The membership probe is a bare anti join — anti joins ignore
            # right-side duplicates, so no distinct pass over the target keys.
            del_rows = source.filter(cond)
            unmatched_del = del_rows.join(
                target.select(*keys), keys, "left_anti"
            )
            source = source.filter(~cond).unionByName(unmatched_del)
        else:
            source = source.filter(~cond)
    if update_set is None:
        return survivors.unionByName(source.select(*target.columns))
    # explicit-assignment matched branch: target ⋈ source on the keys,
    # assignments evaluated over the t/s aliases, unlisted columns keep
    # the target value; inserts are the source rows matching no target
    matched = (
        target.alias("t")
        .join(source.alias("s"), keys, "inner")
        .select(
            *[
                F.expr(update_set[c]).cast(
                    target.schema[c].dataType
                ).alias(c)
                if c in update_set
                else F.col(f"t.`{c}`").alias(c)
                for c in target.columns
            ]
        )
    )
    inserts = source.join(target.select(*keys), keys, "left_anti")
    return survivors.unionByName(matched).unionByName(
        inserts.select(*target.columns)
    )


def check_merge_cardinality(
    target: DataFrame, source: DataFrame, keys: list[str]
) -> None:
    """SQL MERGE's cardinality rule, scoped the way Delta/SQL scope it
    (round 11): the statement errors only when multiple source rows
    MATCH THE SAME TARGET ROW — duplicate source keys that match no
    target row simply take the NOT MATCHED path (each inserts, exactly
    like Delta). Two-phase so the common case costs one tiny aggregate
    over the (trickle-sized) source and never touches the target: only
    if duplicated keys exist does a broadcast semi-probe of the target
    decide whether any of them actually matches."""
    dups = (
        source.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .select(*keys)
    )
    if not dups.take(1):
        return
    if target.join(F.broadcast(dups), keys, "left_semi").take(1):
        raise ValueError(
            "MERGE with matched clauses requires unique source keys "
            "among rows that match the target: multiple source rows "
            "matched the same target row (SQL MERGE cardinality "
            "violation)"
        )


def _clause_condition(cond: str | None) -> Column:
    """SQL MERGE tri-state rule: a missing condition is always-true, an
    UNKNOWN (NULL) condition is false."""
    if cond is None:
        return F.lit(True)
    return F.coalesce(F.expr(cond).cast("boolean"), F.lit(False))


def _first_match_branch(clauses: list[dict], offset: int = 0) -> Column:
    """Index (plus ``offset``) of the FIRST clause whose condition holds
    (SQL MERGE / Delta: clauses are evaluated in statement order, first
    match wins); NULL when none does."""
    out = None
    for i, cl in enumerate(clauses):
        c = _clause_condition(cl.get("condition"))
        v = F.lit(offset + i)
        out = F.when(c, v) if out is None else out.when(c, v)
    if out is None:
        return F.lit(None).cast("int")
    return out.otherwise(F.lit(None).cast("int"))


def _any_of(branch: Column, idx: list[int]) -> Column:
    return branch.isin(idx) if idx else F.lit(False)


def _when(acc: Column | None, cond: Column, value: Column) -> Column:
    """Append one ``WHEN cond THEN value`` arm to a CASE (start it when
    ``acc`` is None)."""
    return F.when(cond, value) if acc is None else acc.when(cond, value)


def _assigned(cl: dict, c: str, dt, keep_cols: frozenset) -> Column | None:
    """The value an UPDATE clause assigns to column ``c``, or None when
    the clause leaves it alone. ``SET *`` takes the source column, except
    for ``keep_cols`` (round 11 — generated columns: identity values
    persist through source-wins updates, and computed columns are
    recomputed by the caller's post-pass, so the source need not carry
    either)."""
    if cl["action"] != "update":
        return None
    sets = cl.get("set")
    if sets is None:
        return None if c in keep_cols else F.col(f"s.`{c}`").cast(dt)
    return F.expr(sets[c]).cast(dt) if c in sets else None


class _MergeJoin:
    """The one join every MERGE clause family reads: target ⟗ source on
    the merge keys (a full outer equi-join), the first-match clause of
    each row, and the value each output column takes.

    A row's sides pick its clause list: both present → the MATCHED
    clauses; target only → NOT MATCHED BY SOURCE; source only → the
    NOT MATCHED (insert) clauses. Equality never holds for a NULL key,
    so a NULL-keyed target row is NOT MATCHED BY SOURCE and a
    NULL-keyed source row is NOT MATCHED. The three lists share one
    index space (matched, then NMBS, then insert), so ``__branch`` is a
    single int column and each index names one action.

    Name resolution is the per-side one the clause grammar states:
    matched conditions and assignments run on the joined rows under the
    ``t``/``s`` aliases; NOT MATCHED BY SOURCE clauses see the bare
    target row and insert clauses the source row (bare or ``s.``), so
    those two are evaluated on their own side before the join and ride
    it as ``__n_branch``/``__n<i>`` and ``__i_branch``/``__i<i>``.
    Those marker columns, and any target column outside ``columns``,
    carry no alias, so ``t.*`` and ``s.*`` expand to that side's own
    columns only.

    On ``frame``: the predicates ``keep`` (a target row no clause
    touches), ``update``, ``delete`` and ``insert``; ``post`` projects
    the output row (the assigned values on update and insert rows, the
    target row otherwise) and ``pre`` the target pre-image."""

    def __init__(
        self,
        target: DataFrame,
        source: DataFrame,
        keys: list[str],
        matched: list[dict],
        not_matched_by_source: list[dict],
        inserts: list[dict],
        columns: list[str],
        schema,
        defaults: dict[str, str] | None = None,
        generated_cols: frozenset = frozenset(),
    ):
        m, n = len(matched), len(not_matched_by_source)
        actions = [cl["action"] for cl in matched + not_matched_by_source]
        actions += ["insert"] * len(inserts)
        tgt = target.alias("t").select(
            *(
                F.col(f"t.`{c}`") if c in columns else F.col(f"`{c}`").alias(c)
                for c in target.columns
            )
        ).withColumns(
            {
                "__t": F.lit(True),
                "__n_branch": _first_match_branch(not_matched_by_source, m),
            }
        )
        src = source.alias("s").withColumns(
            {
                "__s": F.lit(True),
                "__i_branch": _first_match_branch(inserts, m + n),
            }
        )
        if not matched:
            # no MATCHED clause: a matched target row passes through
            # unchanged and must come out once, however many source rows
            # share its key. The window partitions on the keys, so its
            # exchange is the join's own.
            w = Window.partitionBy(*keys).orderBy(*keys)
            src = src.withColumn("__dup", F.row_number().over(w) > 1)
        b = F.col("__branch")
        n_cols: dict[str, Column] = {}
        i_cols: dict[str, Column] = {}
        post: dict[str, Column | None] = {}
        for i, c in enumerate(columns):
            dt = schema[c].dataType
            v = nv = iv = None
            for g, cl in enumerate(matched + not_matched_by_source):
                val = _assigned(cl, c, dt, generated_cols)
                if val is None:
                    continue
                if g >= m:  # NOT MATCHED BY SOURCE: the target side's value
                    nv = _when(nv, F.col("__n_branch") == g, val)
                    val = F.col(f"__n{i}")
                v = _when(v, b == g, val)
            for g, cl in enumerate(inserts, m + n):
                val = _insert_value(
                    c, dt, cl.get("set"), defaults, generated_cols
                )
                iv = _when(iv, F.col("__i_branch") == g, val)
            if nv is not None:
                n_cols[f"__n{i}"] = nv
            if iv is not None:
                i_cols[f"__i{i}"] = iv
                v = _when(v, b >= m + n, F.col(f"__i{i}"))
            post[c] = v
        tgt, src = tgt.withColumns(n_cols), src.withColumns(i_cols)
        has_t, has_s = F.col("__t").isNotNull(), F.col("__s").isNotNull()
        branch = (
            F.when(has_t & has_s, _first_match_branch(matched))
            .when(has_t, F.col("__n_branch"))
            .otherwise(F.col("__i_branch"))
        )
        self.frame = tgt.join(src, keys, "full_outer").withColumn(
            "__branch", branch
        )
        self.keep = has_t & b.isNull()
        if not matched:
            self.keep = self.keep & ~F.coalesce(F.col("__dup"), F.lit(False))
        self.update, self.delete, self.insert = (
            _any_of(b, [g for g, a in enumerate(actions) if a == kind])
            for kind in ("update", "delete", "insert")
        )
        pre = {c: F.col(f"t.`{c}`") for c in columns}
        self.pre = [pre[c].alias(c) for c in columns]
        self.post = [
            (pre[c] if v is None else v.otherwise(pre[c])).alias(c)
            for c, v in post.items()
        ]


def _validate_clauses(
    clauses: list[dict], target_cols: list[str], keys: list[str], kind: str
) -> None:
    for cl in clauses:
        action = cl.get("action")
        if action not in ("update", "delete"):
            raise ValueError(
                f"{kind} clause action must be 'update' or 'delete', "
                f"got {action!r}"
            )
        sets = cl.get("set")
        if action == "delete" and sets is not None:
            raise ValueError(f"{kind} DELETE clause cannot carry SET")
        if action == "update" and sets is not None:
            bad = [c for c in sets if c not in target_cols]
            if bad:
                raise ValueError(
                    f"{kind} UPDATE SET columns {bad} not in the target "
                    f"(has {target_cols})"
                )
            if any(c in keys for c in sets):
                raise ValueError(
                    "UPDATE SET cannot assign a merge key (Delta/SQL "
                    "MERGE restriction — reassigning keys makes matching "
                    "ambiguous)"
                )
        if action == "update" and sets is None and kind == "NOT MATCHED BY SOURCE":
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE THEN UPDATE requires explicit "
                "SET assignments (there is no source row to take * from)"
            )


def _insert_clauses(
    insert: bool,
    insert_condition: str | None,
    not_matched: list[dict] | None,
    target_cols: list[str],
) -> list[dict]:
    """Normalize the insert surface to an ordered clause list
    ``{"condition": sql|None, "set": {col: sql}|None}`` (``set=None`` =
    ``INSERT *``); the legacy ``insert``/``insert_condition`` pair maps
    to one clause. Column-list inserts NULL-fill unlisted columns
    (Delta semantics); unknown columns refuse."""
    if not_matched is not None:
        for cl in not_matched:
            sets = cl.get("set")
            if sets is not None:
                bad = [c for c in sets if c not in target_cols]
                if bad:
                    raise ValueError(
                        f"INSERT columns {bad} not in the target "
                        f"(has {target_cols})"
                    )
        return not_matched
    return [{"condition": insert_condition, "set": None}] if insert else []


def _insert_value(
    c: str,
    dt,
    sets: dict | None,
    defaults: dict[str, str] | None,
    generated_cols: frozenset = frozenset(),
) -> Column:
    """Value of one target column for one insert clause: ``sets=None``
    is ``INSERT *`` (source column wholesale); a listed column takes its
    VALUES expression — unless that expression is the bare ``DEFAULT``
    keyword (round 11, ANSI/Delta: the column's declared default); an
    UNLISTED column takes its declared default too (Delta fills
    defaults, not NULL) and only defaults-less columns NULL-fill.
    A GENERATED column (round 11) always inserts NULL here — the
    caller's post-pass recomputes computed columns and allocates
    identity values, so the source never needs to carry them."""
    if c in generated_cols:
        return F.lit(None).cast(dt)
    if sets is None:
        return F.col(f"s.`{c}`").cast(dt)  # INSERT *
    expr = sets.get(c)
    if expr is not None and expr.strip().upper() != "DEFAULT":
        return F.expr(expr).cast(dt)
    d = (defaults or {}).get(c)
    return (F.expr(d) if d is not None else F.lit(None)).cast(dt)


def merge_branches(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    matched: list[dict] | None = None,
    insert: bool = True,
    insert_condition: str | None = None,
    not_matched_by_source: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    check_cardinality: bool = True,
    defaults: dict[str, str] | None = None,
    generated_cols: frozenset = frozenset(),
    with_changes: bool = False,
) -> DataFrame:
    """The FULL multi-branch MERGE (Delta's CDC-apply shape) as one batch
    operator::

        MERGE INTO t USING s ON <keys>
        {WHEN MATCHED [AND cond] THEN UPDATE SET (*|col=expr,…) | DELETE}*
        {WHEN NOT MATCHED [AND cond] THEN INSERT (*|(cols) VALUES (exprs))}*
        {WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …|DELETE}*

    ``not_matched`` is the ordered insert-clause list
    ``{"condition": sql|None, "set": {col: sql}|None}`` (``set=None`` =
    ``INSERT *``; first-match-wins, a source row satisfying no clause is
    dropped); the legacy ``insert``/``insert_condition`` pair maps to
    one clause and is superseded when ``not_matched`` is given. A
    column-list insert fills each UNLISTED column with its declared
    default from ``defaults`` ({col: sql expr} — Delta's fill rule,
    round 11) and NULLs only the default-less ones; a VALUES expression
    that is the bare ``DEFAULT`` keyword resolves the same way (ANSI:
    no declared default means NULL).

    ``matched`` / ``not_matched_by_source`` are ordered lists of clause
    dicts ``{"action": "update"|"delete", "condition": sql|None,
    "set": {col: sql}|None}`` — ``set=None`` on an update means ``SET *``
    (source wins). Clause conditions and set expressions are SQL over the
    canonical aliases ``t`` (target row) and ``s`` (source row); NOT
    MATCHED BY SOURCE clauses see only the target row (bare column
    names). Per SQL/Delta semantics: clauses are evaluated IN ORDER and
    the first whose condition holds wins; a matched pair satisfying no
    clause keeps the target row unchanged; a NULL condition is false.

    Plan shape — scale notes for the 100 TB CDC apply: ONE full outer
    equi-join of target and source on the merge keys feeds every branch
    (see ``_MergeJoin``). One projection over it picks each row's
    first-matching clause and evaluates all clause outcomes as a
    per-column CASE over that index — no per-clause join, no per-branch
    join, no second scan of the target. The trade: a full outer join
    cannot broadcast, so both sides shuffle once on the keys (the target
    rows included), where the earlier inner-plus-two-anti-join plan
    scanned the target three times but could broadcast a small source.

    Duplicate source keys raise (SQL MERGE cardinality violation) —
    scoped like Delta/SQL scope it (round 11): only duplicates whose
    key actually MATCHES a target row error; duplicated keys matching
    nothing each take the NOT MATCHED path and insert. With
    conditional or partial updates, two source rows hitting one target
    row would apply both or duplicate it — Delta refuses too.
    ``check_cardinality=False`` skips the probe when the caller already
    ran it or knows the source keys are unique (the txlog MERGE learns
    that from its one collect of the source keys).

    ``with_changes=True`` (round 11 — the CDF sidecar feed) returns
    ``(merged, changes)``: ``changes`` carries the exact change rows —
    table columns plus ``_change_type`` in {'insert', 'delete',
    'update_preimage', 'update_postimage'} — built from the SAME branch
    split in the same lineage, so evaluating it re-runs the join but
    can never disagree with ``merged`` for deterministic expressions.

    Reference analog: the upsert semantics implied by SDSIcebergWriter
    (IngestionJob.scala:80-84), generalized to the standard Delta/SQL
    multi-branch grammar.
    """
    matched = matched or []
    nmbs = not_matched_by_source or []
    _validate_clauses(matched, target.columns, keys, "MATCHED")
    _validate_clauses(nmbs, target.columns, keys, "NOT MATCHED BY SOURCE")
    if matched and check_cardinality:
        check_merge_cardinality(target, source, keys)
    j = _MergeJoin(
        target,
        source,
        keys,
        matched,
        nmbs,
        _insert_clauses(insert, insert_condition, not_matched, target.columns),
        target.columns,
        target.schema,
        defaults,
        generated_cols,
    )
    out = j.frame.filter(j.keep | j.update | j.insert).select(*j.post)
    if not with_changes:
        return out

    def _images(cond: Column, cols: list[Column], label: str) -> DataFrame:
        return j.frame.filter(cond).select(
            *cols, F.lit(label).alias("_change_type")
        )

    changes = (
        _images(j.update, j.pre, "update_preimage")
        .unionByName(_images(j.update, j.post, "update_postimage"))
        .unionByName(_images(j.delete, j.pre, "delete"))
        .unionByName(_images(j.insert, j.post, "insert"))
    )
    return out, changes


def merge_partial_aggregates(
    summary: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str = "cnt",
    sum_cols: dict[str, int] | None = None,
) -> DataFrame:
    """Fold a new data slice into an existing additive summary without
    re-scanning history — the incremental-view-maintenance upgrade of the
    reference's recompute-everything AggregationJob.

    ``summary`` holds per-``keys`` partial states: ``count_col`` plus one
    exact-decimal sum per entry of ``sum_cols`` ({column: decimal scale},
    the engine's deterministic money-math grid). ``delta`` is RAW new
    rows; it is aggregated to the same partial states (one shuffle over
    the delta only) and combined: counts add, sums add. Non-decomposable
    derivations (avg = sum/count) belong downstream of the merged state.

    The merged result is bit-identical to aggregating history+delta from
    scratch — asserted by the ``incremental_agg`` oracle query, which
    recomputes from scratch in DuckDB.
    """
    sum_cols = sum_cols or {}
    delta_summary = delta.groupBy(*keys).agg(
        F.count("*").alias(count_col),
        *[exact_sum(c, s).alias(c) for c, s in sum_cols.items()],
    )
    return (
        summary.unionByName(delta_summary)
        .groupBy(*keys)
        .agg(
            F.sum(count_col).alias(count_col),
            # partial sums are already on the value grid: re-summing them
            # through the same decimal cast stays exact
            *[exact_sum(c, s).alias(c) for c, s in sum_cols.items()],
        )
    )


def apply_changes_to_summary(
    summary: DataFrame,
    changes: DataFrame,
    keys: list[str],
    count_col: str = "cnt",
    sum_cols: dict[str, int] | None = None,
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Incremental view maintenance driven by a change data feed
    (``sources/txlog.py::table_changes``): inserts fold in as positive
    partial aggregates, deletes as NEGATIVE ones, so an additive summary
    tracks a table through overwrites and replaces without ever
    re-scanning it — :func:`merge_partial_aggregates` extended from
    append-only deltas to full CDC.

    Same contracts: decomposable measures only (count/sum and anything
    derived downstream), exact-decimal sums so the fold is
    order-independent and bit-equal to a from-scratch recompute (asserted
    in tests against exactly that). Groups whose count reaches zero are
    dropped — matching what the recompute never produces.
    """
    sum_cols = sum_cols or {}
    # update images (round 11) fold as their additive equivalents:
    # pre-image = the replaced version leaving (−1), post-image = the
    # new version arriving (+1) — identical to the delete+insert pair
    # the pre-round-11 file-granularity feed emitted for the same update
    sign = F.when(
        F.col(change_type_col).isin("delete", "update_preimage"),
        F.lit(-1),
    ).otherwise(F.lit(1))
    delta = changes.withColumn("__sign", sign)
    delta_summary = delta.groupBy(*keys).agg(
        F.sum("__sign").alias(count_col),
        *[
            F.sum(
                (F.col(c) * F.col("__sign")).cast(f"decimal(28,{s})")
            ).cast("double").alias(c)
            for c, s in sum_cols.items()
        ],
    )
    merged = (
        summary.unionByName(delta_summary)
        .groupBy(*keys)
        .agg(
            F.sum(count_col).alias(count_col),
            *[exact_sum(c, s).alias(c) for c, s in sum_cols.items()],
        )
    )
    return merged.filter(F.col(count_col) != 0)


def point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    from_col: str,
    attr_cols: list[str],
    seq_col: str | None = None,
) -> DataFrame:
    """Point-in-time (temporal) join: enrich each fact row with the SCD2
    dimension version that was effective at the fact's timestamp.

    The naive formulation — equi-join on ``key`` plus a
    ``valid_from <= ts < valid_to`` range filter — materializes
    facts × versions-per-key intermediate rows before filtering; with a
    hot key carrying hundreds of versions that blows up the shuffle at
    100 TB. This operator instead uses the union-sort shape: dimension
    version rows are interleaved with fact rows on ``(key, ts)`` and each
    fact picks up the most recent version via ``last(..., ignorenulls)``
    over a running frame — ONE shuffle on ``key``, output exactly
    |facts| rows, no multiplicative intermediate. SCD2 versions are
    contiguous (``valid_to`` = next ``valid_from``), so most-recent-start
    is exactly the effective version; a version starting at the fact's
    own timestamp applies (dim rows sort before fact rows on ties).

    Facts with no version yet (before the key's first ``valid_from``, or
    an unknown key) get null attributes — left-join semantics. Attributes
    ride in ONE struct so a legitimately-null attribute value inside a
    version survives (per-column ``last(ignorenulls)`` would skip it and
    resurrect the previous version's value).

    ``seq_col`` (e.g. SCD2's ``version_no``) orders dim versions that
    share a ``valid_from`` timestamp: the later version wins, matching
    the range formulation where the earlier one is zero-width and
    matches nothing. Without it, same-timestamp versions would leave the
    winner tie-dependent.
    """
    attrs = F.struct(*[F.col(c) for c in attr_cols]).alias("__pit")
    dim_tagged = dim.select(
        F.col(key),
        F.col(from_col).alias(ts_col),
        attrs,
        F.lit(1).alias("__is_dim"),
        *(
            [F.col(seq_col).cast("long").alias("__seq")]
            if seq_col
            else [F.lit(0).cast("long").alias("__seq")]
        ),
    )
    facts_tagged = (
        facts.withColumn(
            "__pit", F.lit(None).cast(dim_tagged.schema["__pit"].dataType)
        )
        .withColumn("__is_dim", F.lit(0))
        .withColumn("__seq", F.lit(None).cast("long"))
    )

    merged = facts_tagged.unionByName(dim_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(
            F.col(ts_col), F.col("__is_dim").desc(), F.asc_nulls_first("__seq")
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = merged.withColumn("__eff", F.last("__pit", ignorenulls=True).over(w))
    return (
        enriched.filter(F.col("__is_dim") == 0)
        .select(
            *facts.columns,
            *[F.col(f"__eff.{c}").alias(f"dim_{c}") for c in attr_cols],
        )
    )
