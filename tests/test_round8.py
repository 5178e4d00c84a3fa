"""Round-8 regression tests: the five ADVICE.md findings.

1 (medium) — triplet_mining must never surface a NULL-cosine (zero-norm)
  candidate as a "hardest" example: Spark's asc() is NULLS FIRST while
  the SQL oracle orders NULLS LAST, so an unfiltered NULL would win
  rank 1 only on the Spark side.
2 (low) — column_profile_approx must treat NaN/±Inf/decimal-overflow
  doubles as real values (sentinel hashes), not silently count them into
  n_nulls; the DuckDB mirror must agree hash-for-hash.
3 (low) — multi-column ADD COLUMNS is atomic: a duplicate or colliding
  name anywhere in the list leaves the table untouched.
4 (low) — add_constraint validates the expression in BOTH dialects
  (TableLog enforces in Spark SQL; format('txlog') writes enforce in
  DuckDB inside the DataSource worker).
5 (low) — the Iceberg seam converts TIMESTAMP AS OF strings to the
  epoch-millis long Iceberg's as-of-timestamp option expects.
"""

from __future__ import annotations

import pytest

from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
    quality,
    similarity,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.io import (
    _iceberg_ts_millis,
)
from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
    TableLog,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )


def test_triplet_mining_null_cosine_ranks_last(spark):
    """A zero-norm different-label candidate (NULL cosine) must NOT
    become the rank-1 'hardest negative': NULLs order LAST on both
    window sides (asc_nulls_last), exactly the SQL oracle's default
    NULLS LAST under ASC/DESC — the divergence ADVICE.md flagged."""
    rows = [
        (0, "a", [1.0, 0.0]),
        (1, "a", [0.9, 0.1]),   # positive for anchor 0
        (2, "b", [0.8, 0.2]),   # real hardest negative
        (3, "b", [0.0, 0.0]),   # zero-norm: cosine NULL, ranks LAST
        (4, "b", [-1.0, 0.0]),  # easy negative
    ]
    out = similarity.triplet_mining(_emb(spark, rows), n_anchors=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r.neg_id == 2 and r.neg_cos is not None
    assert r.pos_id == 1 and r.pos_cos is not None
    assert r.margin is not None
    # a zero-norm ANCHOR yields NULL cosines everywhere: both sides
    # rank their lowest-id candidate with NULL scores — exactly the row
    # the SQL oracle emits (NULLS LAST among all-NULL = c_id tiebreak)
    rows2 = [(0, "a", [0.0, 0.0])] + [
        (i, l, v) for (i, l, v) in rows[1:]
    ]
    out2 = similarity.triplet_mining(_emb(spark, rows2), n_anchors=1).collect()
    assert len(out2) == 1
    r2 = out2[0]
    assert (r2.pos_id, r2.neg_id) == (1, 2)
    assert r2.pos_cos is None and r2.neg_cos is None and r2.margin is None


def test_column_profile_approx_nonfinite_and_overflow(spark):
    """NaN/±Inf/overflow doubles are VALUES: n_nulls counts only true
    NULLs, the HLL registers hash sentinel images, and the DuckDB mirror
    (the oracle construction) produces the identical profile row."""
    import duckdb
    import pyarrow as pa

    nan, inf = float("nan"), float("inf")
    vals = [1.5, 2.5, nan, inf, -inf, 1e30, 1e300, None, 2.5]
    # NaN must survive as NaN on BOTH sides: Spark via explicit rows,
    # DuckDB via Arrow (a pandas frame would fold NaN into NULL)
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    atbl = pa.table({"x": pa.array(vals, type=pa.float64())})
    got = {
        r["column"]: r
        for r in quality.column_profile_approx(sdf, ["x"]).collect()
    }["x"]
    assert got["n_rows"] == 9
    assert got["n_nulls"] == 1  # ONLY the true NULL
    # NaN, +Inf, -Inf, 1e30, 1e300, 1.5, 2.5 -> 7 distinct (2.5 repeats)
    assert abs(got["n_distinct_approx"] - 7) < 1.5
    # the DuckDB mirror agrees value-for-value
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.registry import (
        _profile_approx_sql_for,
    )

    con = duckdb.connect()
    try:
        con.register("t", atbl)
        sql = _profile_approx_sql_for("t", [("x", "money")])
        ora = con.execute(sql).fetchone()
    finally:
        con.close()
    assert ora[1] == got["n_rows"]
    assert ora[2] == got["n_nulls"]
    assert abs(ora[3] - got["n_distinct_approx"]) < 1e-9


def test_add_columns_is_atomic_txlog(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.createDataFrame([(1, 10)], "k long, v long"))
    v0 = log.snapshot().version
    # intra-list duplicate: rejected BEFORE any commit
    with pytest.raises(ValueError, match="duplicate column name"):
        log.add_columns([("a", "int"), ("a", "string")])
    # mid-list collision with a live column: rejected atomically
    with pytest.raises(ValueError, match="collides"):
        log.add_columns([("b", "int"), ("v", "string")])
    snap = log.snapshot()
    assert snap.version == v0
    assert [f.name for f in snap.schema.fields] == ["k", "v"]
    # the happy path lands as ONE commit carrying both columns
    v1 = log.add_columns([("a", "int"), ("b", "string")])
    assert v1 == v0 + 1
    assert [f.name for f in log.snapshot().schema.fields] == [
        "k", "v", "a", "b",
    ]


def test_add_columns_sql_is_atomic(spark, tmp_path):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    wh.write_snapshot(
        spark.createDataFrame([(1, 10)], "k long, v long"), "t"
    )
    with pytest.raises(ValueError, match="duplicate|collides"):
        wh.sql("ALTER TABLE t ADD COLUMNS (a INT, a STRING)")
    assert wh.read_snapshot("t").columns == ["k", "v"]
    with pytest.raises(ValueError, match="collides|exists"):
        wh.sql("ALTER TABLE t ADD COLUMNS (b INT, v STRING)")
    assert wh.read_snapshot("t").columns == ["k", "v"]
    out = wh.sql(
        "ALTER TABLE t ADD COLUMNS (a INT, b DECIMAL(10,2))"
    ).collect()
    assert out[0]["operation"] == "ADD COLUMN"
    assert wh.read_snapshot("t").columns == ["k", "v", "a", "b"]


def test_add_constraint_rejects_spark_only_dialect(spark, tmp_path):
    """A CHECK expression that parses in Spark but not in DuckDB would
    make every format('txlog') DataSource write fail AFTER the ALTER
    succeeded — refuse it up front, naming the dialect gap."""
    log = TableLog(spark, str(tmp_path / "t"))
    log.write(spark.createDataFrame([(1, 10)], "k long, v long"))
    v0 = log.snapshot().version
    with pytest.raises(ValueError, match="DuckDB"):
        log.add_constraint("spark_only", "`v` > 0")
    assert log.snapshot().version == v0
    assert log.snapshot().constraints == {}
    # portable syntax still lands
    log.add_constraint("v_pos", "v > 0")
    assert "v_pos" in log.snapshot().constraints


@pytest.mark.parametrize(
    "clause",
    [
        "id = 3 OR id = 7",
        "(id < 2 OR v > 5) AND id >= 0",
        "id BETWEEN 2 AND 6 OR (v = 1 AND id > 10)",
        "(id = 1 OR id = 2) AND (v < 0 OR v > 3)",
        "((id <= 4))",
        "id < 3 AND v <= 2 OR id > 12",
        "NOT (id < 3 OR v > 5) AND id <> 9",
    ],
)
def test_where_dnf_agrees_with_spark_sql(spark, clause):
    """OR/parenthesized WHERE shapes: the DNF parse + _dnf_column must
    select exactly the rows Spark's own SQL WHERE selects (extending
    test_properties' AND-only agreement to the round-8 grammar)."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        _where_dnf,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        _dnf_column,
    )

    df = spark.createDataFrame(
        [(i, (i * 7) % 13 - 5) for i in range(-5, 16)], "id long, v long"
    )
    df.createOrReplaceTempView("__wt8")
    expected = sorted(
        r.id for r in spark.sql(f"SELECT id FROM __wt8 WHERE {clause}").collect()
    )
    got = df.filter(_dnf_column(_where_dnf(spark, clause)))
    assert sorted(r.id for r in got.select("id").collect()) == expected


def test_sql_delete_update_with_or(spark, tmp_path):
    """`DELETE FROM t WHERE a=1 OR b=2` (and the UPDATE twin) through
    the SQL verb: row-op results equal Spark-filter semantics, and
    disjuncts prune files independently (union of candidate sets)."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.plans.pipeline import (
        TxLogWarehouse,
    )

    wh = TxLogWarehouse(spark, str(tmp_path / "wh"))
    rows = [(i, i % 5, f"u{i}") for i in range(100)]
    wh.write_snapshot(
        spark.createDataFrame(rows, "k long, b long, s string"), "t"
    )
    out = wh.sql("DELETE FROM t WHERE k < 10 OR b = 4").collect()
    assert out[0]["operation"] == "DELETE"
    surviving = {r.k for r in wh.sql("SELECT k FROM t").collect()}
    assert surviving == {k for k, b, _ in rows if not (k < 10 or b == 4)}
    wh.sql("UPDATE t SET s = 'hit' WHERE (k BETWEEN 20 AND 25) OR k = 98")
    hit = {r.k for r in wh.sql("SELECT k FROM t WHERE s = 'hit'").collect()}
    # k=24 (b=4) was already deleted above; 98%5=3 survives
    assert hit == {20, 21, 22, 23, 25, 98}


def test_dnf_delete_prunes_by_disjunct_union(spark, tmp_path):
    """Partitioned table + OR delete: only partitions any disjunct may
    match are rewritten — stats pruning survives the DNF upgrade."""
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, i % 4, i * 10) for i in range(40)], "k long, p long, v long"
    )
    log.write(df, partition_by=["p"])
    res = log.delete([[("p", "==", 0), ("k", "<", 8)], [("p", "==", 3)]])
    # p=1 and p=2 partitions match neither disjunct: skipped untouched
    assert res["files_skipped"] >= 2
    assert res["rows_deleted"] == sum(
        1 for i in range(40) if (i % 4 == 0 and i < 8) or i % 4 == 3
    )
    left = {r.k for r in log.read().collect()}
    assert left == {
        i for i in range(40) if not ((i % 4 == 0 and i < 8) or i % 4 == 3)
    }


def test_codec_seam_detection_and_routing(monkeypatch):
    """The vendor-detect codec seam (multimodal.decode_media): toy
    codecs decode anywhere; real-codec payloads raise a precise error
    naming the missing library in this container, and route through the
    library when one is importable (proven with injected stand-in
    modules — no real codec dependency in the test)."""
    import sys
    import types

    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.operators import (
        multimodal as mm,
    )

    # this container ships neither library: detection must say so and
    # the error must name the gap + the toy fallback
    assert not mm.pil_available()
    assert not mm.soundfile_available()
    ppm = b"P6\n2 1\n255\n" + bytes(6)
    assert mm.decode_media(ppm, "image")["width"] == 2
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm.decode_media(b"\xff\xd8\xff\xe0jpeg...", "image")
    with pytest.raises(NotImplementedError, match="soundfile"):
        mm.decode_media(b"fLaC....", "audio")
    with pytest.raises(NotImplementedError, match="media_type"):
        mm.decode_media(b"\x00\x01", "video")

    # inject a stand-in Pillow: the seam must route through it
    class _Img:
        width, height = 3, 2

        def convert(self, mode):
            assert mode == "RGB"
            return self

        def tobytes(self):
            return bytes(3 * 2 * 3)

    pil = types.ModuleType("PIL")
    pil_image = types.ModuleType("PIL.Image")
    pil_image.open = lambda buf: _Img()
    pil.Image = pil_image
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", pil_image)
    assert mm.pil_available()
    out = mm.decode_media(b"\xff\xd8\xff\xe0jpeg...", "image")
    assert (out["width"], out["height"], len(out["body"])) == (3, 2, 18)

    # and a stand-in soundfile
    class _A:
        shape = (4,)

        def tobytes(self):
            return bytes(8)

    sf_mod = types.ModuleType("soundfile")
    sf_mod.read = lambda buf, dtype: (_A(), 16000)
    monkeypatch.setitem(sys.modules, "soundfile", sf_mod)
    assert mm.soundfile_available()
    out = mm.decode_media(b"fLaC....", "audio")
    assert (out["sample_rate"], out["n_samples"], len(out["body"])) == (
        16000, 4, 8,
    )


def test_apply_changes_batches_equals_sequential(spark, tmp_path):
    """Backlog catch-up (one merge for a list of slices) is bit-identical
    to the per-slice apply for a time-ordered feed, records the highest
    batch id as the txn high-water mark (replays of covered slices
    commit nothing), and refuses non-increasing ids."""
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.sources.txlog import (
        TableLog,
    )
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark.streaming.upsert import (
        apply_changes_batch,
        apply_changes_batches,
    )

    def slices():
        out = []
        for i in range(5):
            rows = [(k, i * 100 + k, f"b{i}", False) for k in range(i, i + 6)]
            if i == 3:
                rows.append((1, 300 + 1, "del", True))  # delete key 1
            out.append(
                (
                    i,
                    spark.createDataFrame(
                        rows, "k long, lsn long, payload string, dead boolean"
                    ),
                )
            )
        return out

    seq_root = str(tmp_path / "seq")
    for i, df in slices():
        apply_changes_batch(
            spark, df, seq_root, ["k"], "lsn",
            delete_col="dead", txn=("app", i),
        )
    bat_root = str(tmp_path / "bat")
    res = apply_changes_batches(
        spark, slices(), bat_root, ["k"], "lsn",
        delete_col="dead", txn_app="app",
    )
    seq = sorted(map(tuple, TableLog(spark, seq_root).read().collect()))
    bat = sorted(map(tuple, TableLog(spark, bat_root).read().collect()))
    assert seq == bat and len(bat) > 0
    # replay of any covered slice id is a no-op on the batched table
    v = TableLog(spark, bat_root).snapshot().version
    apply_changes_batch(
        spark, slices()[2][1], bat_root, ["k"], "lsn",
        delete_col="dead", txn=("app", 2),
    )
    assert TableLog(spark, bat_root).snapshot().version == v
    assert res["version"] >= 1
    with pytest.raises(ValueError, match="increasing"):
        apply_changes_batches(
            spark, [slices()[1], slices()[0]], str(tmp_path / "x"),
            ["k"], "lsn",
        )


def test_iceberg_timestamp_option_is_epoch_millis():
    assert _iceberg_ts_millis(1700000000000) == 1700000000000
    # naive ISO = UTC (the txlog TIMESTAMP AS OF convention)
    assert _iceberg_ts_millis("1970-01-01T00:00:01") == 1000
    assert _iceberg_ts_millis("1970-01-01T00:00:01+00:00") == 1000
    assert _iceberg_ts_millis("2026-01-01 00:00:00") == 1767225600000
