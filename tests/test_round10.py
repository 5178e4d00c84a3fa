"""Round 10: the full multi-branch MERGE grammar — ordered conditional
WHEN MATCHED clauses, conditional INSERT, WHEN NOT MATCHED BY SOURCE
UPDATE/DELETE — plus merge-on-read (dv) parity for every form and the
advice-driven parser hardening (structural clause detection, one-pass
alias canonicalization, boolean literal coercion)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators.changes import (
    merge_branches,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
    TxLogWarehouse,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
    TableLog,
)

TARGET = [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40), (5, "e", 50)]
T_SCHEMA = "id int, name string, val int"
SOURCE = [
    (1, "U", "A", 100),
    (2, "D", "x", 0),
    (3, "U", "C", 300),
    (6, "I", "f", 60),
    (7, "D", "g", 70),
]
S_SCHEMA = "id int, op string, name string, val int"

CDC_MATCHED = [
    {"action": "delete", "condition": "s.op = 'D'"},
    {
        "action": "update",
        "condition": "s.op = 'U' AND s.val > 150",
        "set": {"val": "s.val", "name": "s.name"},
    },
    {"action": "update", "condition": None, "set": {"name": "upper(s.name)"}},
]
CDC_NMBS = [
    {"action": "delete", "condition": "val >= 50"},
    {"action": "update", "condition": None, "set": {"name": "concat(name, '!')"}},
]
# expected final state for TARGET ⊕ SOURCE under the clauses above:
# id1 matched op=U val=100≤150 → 3rd clause: name=upper('A'), val keeps 10
# id2 matched op=D → deleted | id3 matched op=U val=300>150 → (C, 300)
# id4 unmatched-by-source val<50 → name='d!' | id5 val≥50 → deleted
# id6 inserts | id7 op='D' blocked by the insert condition
CDC_WANT = [(1, "A", 10), (3, "C", 300), (4, "d!", 40), (6, "f", 60)]


def test_merge_branches_operator_semantics(spark):
    """The batch operator: ordered clauses, first-match-wins, SQL
    tri-state NULL conditions, conditional insert, NMBS update+delete,
    cardinality refusal."""
    t = spark.createDataFrame(TARGET, T_SCHEMA)
    s = spark.createDataFrame(SOURCE, S_SCHEMA)
    out = merge_branches(
        t, s, ["id"],
        matched=CDC_MATCHED,
        insert=True,
        insert_condition="s.op <> 'D'",
        not_matched_by_source=CDC_NMBS,
    )
    assert sorted(tuple(r) for r in out.collect()) == sorted(CDC_WANT)

    # first-clause-wins: the earlier of two overlapping updates applies
    out2 = merge_branches(
        t, s, ["id"],
        matched=[
            {"action": "update", "condition": "s.val >= 0",
             "set": {"val": "t.val + 1"}},
            {"action": "update", "condition": None,
             "set": {"val": "t.val + 1000"}},
        ],
        insert=False,
    )
    assert {r.id: r.val for r in out2.collect()} == {
        1: 11, 2: 21, 3: 31, 4: 40, 5: 50
    }

    # NULL condition is FALSE (tri-state): a pair matching no clause
    # keeps the target row byte-for-byte
    s_null = spark.createDataFrame([(1, None, "z", 5)], S_SCHEMA)
    out3 = merge_branches(
        t, s_null, ["id"],
        matched=[
            {"action": "delete", "condition": "s.op = 'D'"},
            {"action": "update", "condition": "s.op = 'U'", "set": None},
        ],
        insert=False,
    )
    kept = [r for r in out3.collect() if r.id == 1][0]
    assert (kept.name, kept.val) == ("a", 10)

    # NMBS-only merge (prune-to-source sync)
    out4 = merge_branches(
        t, s, ["id"], matched=[], insert=False,
        not_matched_by_source=[{"action": "delete", "condition": None}],
    )
    assert sorted(r.id for r in out4.collect()) == [1, 2, 3]

    # duplicate source keys refuse when matched clauses exist
    with pytest.raises(ValueError, match="unique source keys"):
        merge_branches(
            t, s.unionByName(s.limit(1)), ["id"],
            matched=[{"action": "update", "condition": None, "set": None}],
        ).collect()

    # NMBS UPDATE without SET refuses (no source row to take * from)
    with pytest.raises(ValueError, match="explicit SET"):
        merge_branches(
            t, s, ["id"],
            not_matched_by_source=[
                {"action": "update", "condition": None, "set": None}
            ],
        )


def test_merge_branches_plan_is_one_full_outer_join(spark):
    """Plan-shape contract (PLANS.md §multi-branch MERGE): however many
    clauses, the plan carries exactly ONE join — a full outer join of
    target and source whose per-column CASE carries every clause
    outcome, matched, inserted and untouched rows alike. No per-clause
    joins and no anti joins rescanning the target."""
    import re

    t = spark.createDataFrame(TARGET, T_SCHEMA)
    s = spark.createDataFrame(SOURCE, S_SCHEMA)
    out = merge_branches(
        t, s, ["id"], matched=CDC_MATCHED,
        insert=True, insert_condition="s.op <> 'D'",
        not_matched_by_source=CDC_NMBS,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    joins = re.findall(r"Join (\w+)", plan)
    assert joins == ["FullOuter"], joins


def test_sql_merge_multi_branch_end_to_end(spark, tmp_path):
    """The statement form — ordered WHEN MATCHED clauses, conditional
    INSERT, NMBS UPDATE and DELETE — lands the same state as the
    operator."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.createDataFrame(TARGET, T_SCHEMA), "t")
    spark.createDataFrame(SOURCE, S_SCHEMA).createOrReplaceTempView(
        "chg_r10"
    )
    r = wh.sql(
        """
        MERGE INTO t AS tg USING chg_r10 AS c ON tg.id = c.id
        WHEN MATCHED AND c.op = 'D' THEN DELETE
        WHEN MATCHED AND c.op = 'U' AND c.val > 150
            THEN UPDATE SET val = c.val, name = c.name
        WHEN MATCHED THEN UPDATE SET name = upper(c.name)
        WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND tg.val >= 50 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = concat(tg.name, '!')
        """
    ).head()
    assert r.operation == "MERGE"
    got = sorted(tuple(x) for x in wh.read_snapshot("t").collect())
    assert got == sorted(CDC_WANT)


def test_sql_merge_literal_cannot_enable_full_sync(spark, tmp_path):
    """Advice (medium): the phrase NOT MATCHED BY SOURCE inside a string
    literal must NOT flip the merge into full-sync delete semantics —
    clause detection is structural, not a substring search over the
    statement."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.createDataFrame(TARGET, T_SCHEMA), "t")
    spark.createDataFrame(
        [(1, "hit", 1)], T_SCHEMA
    ).createOrReplaceTempView("probe_r10")
    wh.sql(
        "MERGE INTO t USING probe_r10 AS p ON t.id = p.id "
        "WHEN MATCHED THEN UPDATE SET "
        "name = 'WHEN NOT MATCHED BY SOURCE THEN DELETE' "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.id: r.name for r in wh.read_snapshot("t").collect()}
    # every unmatched target row SURVIVES; only id=1 was touched
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1] == "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    assert got[2] == "b"


def test_sql_merge_swapped_aliases_canonicalize(spark, tmp_path):
    """Advice (low): aliasing target AS s and source AS t must map each
    qualifier to its own side — the one-pass canonicalizer cannot
    collapse both onto one alias like sequential substitution did. The
    alias-lookalike inside a string literal stays untouched."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.createDataFrame(TARGET, T_SCHEMA), "t")
    spark.createDataFrame(
        [(2, 7), (6, 60)], "id int, bump int"
    ).createOrReplaceTempView("swap_r10")
    with pytest.raises(Exception):
        # source lacks name/val: INSERT * cannot apply — but the UPDATE
        # path must still resolve, so run without insert first
        wh.sql(
            "MERGE INTO t AS s USING swap_r10 AS t ON s.id = t.id "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    wh.sql(
        "MERGE INTO t AS s USING swap_r10 AS t ON s.id = t.id "
        "WHEN MATCHED THEN UPDATE SET val = s.val + t.bump, "
        "name = concat(s.name, ' s.val ')"
    )
    got = {r.id: (r.name, r.val) for r in wh.read_snapshot("t").collect()}
    # s.val = TARGET val (20) + t.bump = SOURCE bump (7)
    assert got[2] == ("b s.val ", 27)
    assert got[1] == ("a", 10)
    # identical aliases refuse
    with pytest.raises(ValueError, match="collide"):
        wh.sql(
            "MERGE INTO t AS x USING swap_r10 AS x ON x.id = x.id "
            "WHEN MATCHED THEN DELETE"
        )


def test_sql_merge_clause_order_rules(spark, tmp_path):
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.createDataFrame(TARGET, T_SCHEMA), "t")
    spark.createDataFrame([(1, "z", 1)], "id int, name string, val int"
                          ).createOrReplaceTempView("one_r10")
    with pytest.raises(ValueError, match="NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION"):
        wh.sql(
            "MERGE INTO t USING one_r10 AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN MATCHED AND s.val > 0 THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # Spark's grammar takes the clause families in order (MATCHED, NOT
    # MATCHED, NOT MATCHED BY SOURCE): interleaving them does not parse
    with pytest.raises(ValueError, match="PARSE_SYNTAX_ERROR"):
        wh.sql(
            "MERGE INTO t USING one_r10 AS s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    with pytest.raises(ValueError, match="at least one WHEN"):
        wh.sql("MERGE INTO t USING one_r10 AS s ON t.id = s.id")
    # matched-clauses-only merges are legal (no INSERT branch)
    wh.sql(
        "MERGE INTO t USING one_r10 AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    assert {r.name for r in wh.read_snapshot("t").filter("id = 1").collect()} == {"z"}


def test_sql_merge_column_list_and_multi_insert(spark, tmp_path):
    """Round 10: WHEN NOT MATCHED supports column-list inserts and
    MULTIPLE ordered conditional clauses — first-match-wins, unlisted
    columns NULL-fill, a source row matching no clause is dropped. Both
    CoW and merge-on-read land the same state."""
    results = {}
    for via in ("cow", "dv"):
        log = TableLog(spark, str(tmp_path / via))
        log.write(spark.createDataFrame(TARGET, T_SCHEMA).repartition(2))
        res = log.merge(
            spark.createDataFrame(SOURCE, S_SCHEMA),
            ["id"],
            via=via,
            matched_clauses=[],
            not_matched_clauses=[
                {"condition": "s.op = 'I'",
                 "set": {"id": "s.id", "name": "upper(s.name)",
                         "val": "s.val * 10"}},
                {"condition": "s.val > 65", "set": {"id": "s.id"}},
            ],
        )
        if via == "dv":
            assert res["files_rewritten"] == 0
        results[via] = sorted(
            (r.id, r.name, r.val) for r in log.read().collect()
        )
    # id6 op=I -> first clause: ('F', 600); id7 op=D val=70>65 -> second
    # clause: (NULL, NULL); matched rows untouched (no matched clause)
    want = sorted(
        [(i, n, v) for i, n, v in TARGET] + [(6, "F", 600), (7, None, None)]
    )
    assert results["cow"] == results["dv"]
    assert results["cow"] == sorted(want, key=lambda t: (t[0],))

    # the SQL statement form
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.createDataFrame(TARGET, T_SCHEMA), "t")
    spark.createDataFrame(SOURCE, S_SCHEMA).createOrReplaceTempView(
        "ins_r10"
    )
    wh.sql(
        "MERGE INTO t USING ins_r10 AS s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.op = 'I' THEN "
        "INSERT (id, name, val) VALUES (s.id, upper(s.name), s.val * 10) "
        "WHEN NOT MATCHED AND s.val > 65 THEN INSERT (id) VALUES (s.id)"
    )
    got = sorted((r.id, r.name, r.val) for r in wh.read_snapshot("t").collect())
    assert got == results["cow"]
    # ordering rule applies to insert clauses too
    with pytest.raises(
        ValueError, match="NON_LAST_NOT_MATCHED_BY_TARGET_CLAUSE_OMIT_CONDITION"
    ):
        wh.sql(
            "MERGE INTO t USING ins_r10 AS s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (id) VALUES (s.id)"
        )


def test_merge_schema_evolution(spark, tmp_path):
    """Round 10: merge(schema_evolution=True) — Delta's autoMerge for
    MERGE. Source columns absent from the table extend the schema as
    nullable (old rows read NULL), SET */INSERT * carry the new values,
    type conflicts on shared columns raise; both vias agree, and time
    travel serves the pre-evolution schema."""
    for via in ("cow", "dv"):
        log = TableLog(spark, str(tmp_path / via))
        log.write(spark.createDataFrame(TARGET, T_SCHEMA))
        src = spark.createDataFrame(
            [(3, "c3", 33, "EXTRA-3"), (9, "i9", 99, "EXTRA-9")],
            "id int, name string, val int, note string",
        )
        # without the flag: extra source columns simply don't land
        log.merge(src.filter("id = 9"), ["id"], via=via)
        assert "note" not in log.read().columns
        res = log.merge(src, ["id"], via=via, schema_evolution=True)
        out = log.read()
        assert out.columns == ["id", "name", "val", "note"]
        got = {r.id: r.note for r in out.collect()}
        assert got[3] == "EXTRA-3" and got[9] == "EXTRA-9"
        assert got[1] is None  # untouched old row reads NULL
        # the pre-evolution snapshot still reads under its own schema
        assert "note" not in log.read(res["version"] - 1).columns
        # type conflict on a shared column refuses
        bad = spark.createDataFrame([(1, 1.5)], "id int, val double")
        with pytest.raises(ValueError, match="cannot change column"):
            log.merge(bad, ["id"], via=via, schema_evolution=True)
    # clause mode evolves too (explicit assignment to the new column)
    log = TableLog(spark, str(tmp_path / "cl"))
    log.write(spark.createDataFrame(TARGET, T_SCHEMA))
    src = spark.createDataFrame(
        [(2, "tagged")], "id int, note string"
    )
    log.merge(
        src, ["id"], schema_evolution=True,
        matched_clauses=[
            {"action": "update", "condition": None,
             "set": {"note": "concat('t:', s.note)"}}
        ],
        insert=False,
    )
    got = {r.id: r.note for r in log.read().collect()}
    assert got[2] == "t:tagged" and got[1] is None


def test_merge_clauses_dv_matches_cow_and_never_rewrites(spark, tmp_path):
    """Round 10 dv parity: the clause-mode MERGE under via='dv' commits
    the identical logical state with zero host-file rewrites, for the
    full grammar (conditional matched clauses, partial updates,
    conditional insert, NMBS update+delete)."""
    results = {}
    for via in ("cow", "dv"):
        log = TableLog(spark, str(tmp_path / via))
        log.write(
            spark.createDataFrame(TARGET, T_SCHEMA).repartition(3)
        )
        files_before = set(log.snapshot().files)
        res = log.merge(
            spark.createDataFrame(SOURCE, S_SCHEMA),
            ["id"],
            via=via,
            matched_clauses=CDC_MATCHED,
            insert=True,
            insert_condition="s.op <> 'D'",
            not_matched_by_source_clauses=CDC_NMBS,
        )
        if via == "dv":
            assert res["files_rewritten"] == 0
            assert files_before <= set(log.snapshot().files)
        results[via] = sorted(tuple(r) for r in log.read().collect())
    assert results["cow"] == results["dv"] == sorted(CDC_WANT)
    # time travel across the dv merge still serves the pre-image
    log = TableLog(spark, str(tmp_path / "dv"))
    assert log.read(1).count() == len(TARGET)


def test_merge_clauses_dv_slicing_invariance(spark, tmp_path):
    """Applying a time-ordered change feed in 1 slice vs 3 slices via
    clause-mode dv merges lands the bit-identical table (the CDC-apply
    contract extended to explicit assignments)."""
    changes = [  # (lsn, id, op, name, val)
        (1, 1, "U", "a1", 11),
        (2, 2, "U", "b1", 21),
        (3, 1, "U", "a2", 12),
        (4, 2, "D", None, 0),
        (5, 6, "U", "f1", 61),
        (6, 5, "D", None, 0),
    ]
    c_schema = "lsn long, id int, op string, name string, val int"
    slicings = {"one": [changes], "three": [changes[:2], changes[2:4], changes[4:]]}
    results = {}
    for name, slices in slicings.items():
        log = TableLog(spark, str(tmp_path / name))
        log.write(spark.createDataFrame(TARGET, T_SCHEMA))
        for sl in slices:
            # collapse to last change per key (CDC precondition for
            # unique source keys)
            from pyspark.sql import Window

            w = F.row_number().over(
                Window.partitionBy("id").orderBy(F.desc("lsn"))
            )
            src = (
                spark.createDataFrame(sl, c_schema)
                .withColumn("_rn", w)
                .filter("_rn = 1")
                .drop("_rn", "lsn")
            )
            log.merge(
                src, ["id"], via="dv",
                matched_clauses=[
                    {"action": "delete", "condition": "s.op = 'D'"},
                    {"action": "update", "condition": None,
                     "set": {"name": "s.name", "val": "s.val"}},
                ],
                insert=True,
                insert_condition="s.op <> 'D'",
            )
        results[name] = sorted(tuple(r) for r in log.read().collect())
    assert results["one"] == results["three"]
    assert (1, "a2", 12) in results["one"] and (2, "b", 20) not in results["one"]


def test_dml_where_folds_date_functions(spark, tmp_path):
    """Round 10 (verdict task 5): deterministic date functions in DML
    WHERE constant-fold driver-side — the retention-job shape
    ``DELETE WHERE d < date_sub(current_date(), 90)`` — so stats-based
    file pruning sees a plain DATE literal. Results must equal Spark
    SQL's own evaluation of the identical predicate; non-deterministic
    functions refuse."""
    from datetime import date, timedelta

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    today = date.today()
    rows = [(i, today - timedelta(days=i * 10)) for i in range(30)]
    df = spark.createDataFrame(rows, "id int, d date")
    wh.write_snapshot(df, "t")
    # Spark's own answer for the surviving rows
    df.createOrReplaceTempView("ret_src_r10")
    want = sorted(
        r.id
        for r in spark.sql(
            "SELECT id FROM ret_src_r10 "
            "WHERE NOT (d < date_sub(current_date(), 90))"
        ).collect()
    )
    res = wh.sql(
        "DELETE FROM t WHERE d < date_sub(current_date(), 90)"
    ).head()
    assert res.operation == "DELETE" and res.rows == 30 - len(want)
    assert sorted(r.id for r in wh.read_snapshot("t").collect()) == want

    # nested fold + to_date + date_add, in an UPDATE predicate
    wh.write_snapshot(df, "u")
    wh.sql(
        "UPDATE u SET id = id + 1000 "
        "WHERE d BETWEEN date_add(to_date('1970-01-01'), 0) "
        "AND date_sub(date_sub(current_date(), 50), 40)"
    )
    got = {r.id for r in wh.read_snapshot("u").collect()}
    assert got == {i + (1000 if i * 10 >= 90 else 0) for i in range(30)}

    # non-deterministic functions refuse loudly
    with pytest.raises(ValueError, match="non-deterministic"):
        wh.sql("DELETE FROM t WHERE id < rand()")
    with pytest.raises(ValueError, match="cannot fold function"):
        wh.sql("DELETE FROM t WHERE d < some_udf(1)")


def test_bloom_m3_mirror_and_md5_backcompat(spark, tmp_path):
    """Round 10 (verdict task 6): the bloom harvest hashes with Spark
    Murmur3 (h=m3 entries). The pure-python probe must agree with
    F.hash on Spark's EXACT murmur variant (LE words + sign-extended
    per-byte tail rounds, multi-arg seeding), and md5-era entries (no
    'h' field) must keep probing md5 — mixed-generation tables stay
    correct file by file."""
    import base64
    import hashlib

    from pyspark.sql import functions as F2

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        _BLOOM_K,
        _bloom_may_contain,
        _bloom_positions_m3,
        _murmur3_bytes,
        _murmur3_int,
    )

    vals = ["", "a", "héllo wörld", "日本語", "x" * 500, "123", "-45.7",
            "2024-01-15", "true"]
    rows = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", *[F2.hash(F2.col("s"), F2.lit(i)).alias(f"h{i}")
               for i in range(_BLOOM_K)]
    ).collect()
    for r in rows:
        base = _murmur3_bytes(r.s.encode("utf-8"), 42)
        for i in range(_BLOOM_K):
            assert _murmur3_int(i, base) == r[f"h{i}"], (r.s, i)

    # an m3 entry probes murmur, an md5-era entry probes md5 — build
    # one bitmap per generation holding only 'hit'
    m = 2048
    md5_bits = bytearray(m // 8)
    h = hashlib.md5(b"hit").hexdigest()
    for i in range(_BLOOM_K):
        p = int(h[8 * i : 8 * i + 8], 16) % m
        md5_bits[p >> 3] |= 1 << (p & 7)
    m3_bits = bytearray(m // 8)
    for p in _bloom_positions_m3("hit", m, _BLOOM_K):
        m3_bits[p >> 3] |= 1 << (p & 7)
    md5_entry = {"m": m, "k": _BLOOM_K,
                 "b64": base64.b64encode(bytes(md5_bits)).decode()}
    m3_entry = {"m": m, "k": _BLOOM_K, "h": "m3",
                "b64": base64.b64encode(bytes(m3_bits)).decode()}
    assert _bloom_may_contain(md5_entry, "hit", None)
    assert _bloom_may_contain(m3_entry, "hit", None)
    # cross-probing must MISS (different hash families -> different
    # positions): proves the dispatch really switches per entry
    assert not _bloom_may_contain(md5_entry, "miss-xyz", None)
    assert not _bloom_may_contain(m3_entry, "miss-xyz", None)
    assert not _bloom_may_contain(
        {**md5_entry, "h": "m3"}, "hit", None
    ) or not _bloom_may_contain({k: v for k, v in m3_entry.items()
                                 if k != "h"}, "hit", None)

    # end-to-end: Spark-side harvest + driver probe skip a point lookup
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog,
    )

    log = TableLog(spark, str(tmp_path / "t"))
    log.write(
        spark.range(0, 4000).selectExpr("id", "id % 7 AS g").repartition(8),
        bloom_cols=["id"],
    )
    snap = log.snapshot()
    assert all(
        (meta.get("bloom") or {}).get("id", {}).get("h") == "m3"
        for meta in snap.files.values()
    )
    res = log.delete([("id", "==", 12345678)])  # absent key: all skipped
    assert res["files_rewritten"] == 0


def test_shallow_clone_zero_copy_fork(spark, tmp_path):
    """Round 10: CREATE TABLE … SHALLOW CLONE — a hardlinked snapshot
    fork: no data bytes copied (st_nlink proves the shared inodes),
    mutations diverge both ways, VACUUM on the source cannot break the
    clone (the inode lives until its last referent), VERSION AS OF
    clones history points, and dv/bucket/constraint metadata carries."""
    import os

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(spark.createDataFrame(TARGET, T_SCHEMA), "t")
    wh.sql("INSERT INTO t VALUES (6, 'f', 60)")
    wh.delete("t", [("id", "==", 5)], via="dv")  # clone must carry the dv
    r = wh.sql("CREATE TABLE t2 SHALLOW CLONE t").head()
    assert r.operation == "SHALLOW CLONE" and r.version == 1
    assert sorted(x.id for x in wh.read_snapshot("t2").collect()) == [
        1, 2, 3, 4, 6,
    ]
    # zero-copy: every clone data file shares its inode with the source
    clone_log = wh._log("t2")
    data_dir = clone_log.data_dir
    links = [
        os.stat(os.path.join(data_dir, p)).st_nlink
        for p in clone_log.snapshot().files
    ]
    assert links and all(n >= 2 for n in links)
    # divergence: mutate the clone — the source is untouched
    wh.sql("DELETE FROM t2 WHERE id = 1")
    wh.sql("INSERT INTO t2 VALUES (100, 'z', 0)")
    assert sorted(x.id for x in wh.read_snapshot("t2").collect()) == [
        2, 3, 4, 6, 100,
    ]
    assert sorted(x.id for x in wh.read_snapshot("t").collect()) == [
        1, 2, 3, 4, 6,
    ]
    # …and vice versa: source mutations never reach the clone
    wh.sql("UPDATE t SET name = 'CHANGED' WHERE id = 2")
    assert [x.name for x in wh.read_snapshot("t2").filter("id = 2").collect()] == ["b"]
    # VERSION AS OF clones a history point (v1: before the insert/delete)
    wh.sql("CREATE TABLE t0 SHALLOW CLONE t VERSION AS OF 1")
    assert sorted(x.id for x in wh.read_snapshot("t0").collect()) == [
        1, 2, 3, 4, 5,
    ]
    # VACUUM the source aggressively: the clone still reads (hardlinks)
    wh.write_snapshot(spark.createDataFrame([(0, "x", 0)], T_SCHEMA), "t")
    wh._log("t").vacuum(retain_last=1, min_file_age_s=0.0)
    assert wh.read_snapshot("t2").count() == 5
    assert wh.read_snapshot("t0").count() == 5
    # collisions and missing sources refuse
    with pytest.raises(ValueError, match="already exists"):
        wh.sql("CREATE TABLE t2 SHALLOW CLONE t")
    with pytest.raises(ValueError, match="does not exist"):
        wh.sql("CREATE TABLE t9 SHALLOW CLONE nope")
    # bucketed layout carries: the clone's co-bucketed join still works
    wh.write_snapshot(
        spark.createDataFrame([(i, i) for i in range(100)], "k long, v long"),
        "bt",
        bucket_by=(4, ["k"]),
    )
    wh.sql("CREATE TABLE bt2 SHALLOW CLONE bt")
    assert wh._log("bt2").snapshot().bucket_by["n"] == 4
    assert wh._log("bt2").read_bucketed().count() == 100


def test_column_defaults(spark, tmp_path):
    """Round 10: ALTER TABLE … ALTER COLUMN c SET DEFAULT <expr> —
    metadata commits; an INSERT whose column list omits the column takes
    the default instead of NULL (both VALUES and SELECT forms), existing
    rows stay untouched, DROP DEFAULT reverts to NULL-fill,
    non-deterministic or column-referencing defaults refuse, and the
    metadata survives checkpoint/restore round trips."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame(
            [(1, "a", None)], "id int, name string, status string"
        ),
        "t",
    )
    r = wh.sql("ALTER TABLE t ALTER COLUMN status SET DEFAULT 'active'")
    assert r.head().operation == "SET DEFAULT"
    wh.sql("ALTER TABLE t ALTER COLUMN name SET DEFAULT upper('anon')")
    wh.sql("INSERT INTO t (id) VALUES (2)")
    wh.sql("INSERT INTO t (id, status) VALUES (3, 'x')")
    got = {r.id: (r.name, r.status) for r in wh.read_snapshot("t").collect()}
    assert got[1] == ("a", None)  # existing row untouched
    assert got[2] == ("ANON", "active")
    assert got[3] == ("ANON", "x")  # explicit value wins
    # INSERT ... SELECT with a column list uses defaults too
    spark.createDataFrame([(4,)], "id int").createOrReplaceTempView(
        "ids_r10"
    )
    wh.sql("INSERT INTO t (id) SELECT id FROM ids_r10")
    got = {r.id: r.status for r in wh.read_snapshot("t").collect()}
    assert got[4] == "active"
    # the explicit DEFAULT keyword in VALUES resolves the declared
    # default (ANSI: NULL when none is declared)
    wh.sql("INSERT INTO t VALUES (10, DEFAULT, DEFAULT)")
    got = {r.id: (r.name, r.status) for r in wh.read_snapshot("t").collect()}
    assert got[10] == ("ANON", "active")
    # DROP DEFAULT reverts to NULL-fill
    wh.sql("ALTER TABLE t ALTER COLUMN status DROP DEFAULT")
    wh.sql("INSERT INTO t (id) VALUES (5)")
    got = {r.id: r.status for r in wh.read_snapshot("t").collect()}
    assert got[5] is None
    # guards
    with pytest.raises(ValueError, match="deterministic"):
        wh.sql("ALTER TABLE t ALTER COLUMN status SET DEFAULT uuid()")
    with pytest.raises(ValueError, match="constant"):
        wh.sql("ALTER TABLE t ALTER COLUMN status SET DEFAULT name")
    with pytest.raises(ValueError, match="unknown column"):
        wh.sql("ALTER TABLE t ALTER COLUMN zz SET DEFAULT 1")
    with pytest.raises(ValueError, match="no DEFAULT"):
        wh.sql("ALTER TABLE t ALTER COLUMN status DROP DEFAULT")
    # metadata survives restore (time travel to the pre-drop version)
    log = wh._log("t")
    log.restore(3)  # v3 = after both SET DEFAULTs, before inserts
    assert log.snapshot().defaults == {
        "status": "'active'", "name": "upper('anon')"
    }


def test_insert_values_boolean_literal_guard(spark, tmp_path):
    """Advice (low): a quoted 'false' must not coerce to True via
    bool(). VALUES cells cast with Spark's own string->boolean CAST:
    TRUE/FALSE literals and the spellings that cast accepts ('false',
    'yes', …) load as booleans, and a string it cannot cast refuses."""
    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame([(1, True)], "id int, flag boolean"), "t"
    )
    wh.sql("INSERT INTO t VALUES (2, FALSE), (3, TRUE)")
    got = {r.id: r.flag for r in wh.read_snapshot("t").collect()}
    assert got == {1: True, 2: False, 3: True}
    wh.sql("INSERT INTO t VALUES (4, 'false')")
    got = {r.id: r.flag for r in wh.read_snapshot("t").collect()}
    assert got[4] is False
    wh.sql("INSERT INTO t VALUES (5, 'yes')")
    assert wh.sql("SELECT flag FROM t WHERE id = 5").head().flag is True
    with pytest.raises(ValueError, match="BOOLEAN"):
        wh.sql("INSERT INTO t VALUES (6, 'maybe')")
