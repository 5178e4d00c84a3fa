"""Expected results, computed by DuckDB over the generated inputs.

Every comparison reduces a relation to an order-insensitive fingerprint:
its sorted column names, its row count and the sum of a hash over each
row's canonical text. Canonical text follows ``tools/check_oracle.py``:
floating values rounded to 6 decimals, everything else as text, NULL as
its own token. Both sides are fingerprinted by the same DuckDB code, so a
difference is a difference in values, never in formatting. The hash runs
inside DuckDB rather than through ``tools/check_oracle.value_hash``,
which formats every value in Python: on a 600k-row fact table that takes
about 11 s per side (4-core x86 host), against well under a second here.
"""

from __future__ import annotations

import os

import duckdb

FLOAT_TYPES = ("DOUBLE", "FLOAT", "REAL")


def connect(input_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(input_dir, t)}.parquet')"
        )
    return con


def fingerprint(con: duckdb.DuckDBPyConnection, relation: str) -> tuple:
    """(sorted column names, row count, hash sum) of a SQL relation."""
    cols = con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    names = sorted(c[0] for c in cols)
    types = {c[0]: c[1] for c in cols}
    parts = []
    for n in names:
        q = f'"{n}"'
        if types[n] in FLOAT_TYPES or types[n].startswith("DECIMAL"):
            expr = f"CAST(round(CAST({q} AS DOUBLE), 6) AS VARCHAR)"
        else:
            expr = f"CAST({q} AS VARCHAR)"
        parts.append(f"coalesce({expr}, '\\N')")
    row = " || chr(31) || ".join(parts)
    n_rows, h = con.execute(
        f"SELECT count(*), coalesce(sum(CAST(hash({row}) AS HUGEINT)), 0) FROM ({relation})"
    ).fetchone()
    return names, int(n_rows), int(h)


def table_fingerprint(path: str) -> tuple:
    """Fingerprint of a warehouse table written by Spark, partition
    columns included."""
    con = duckdb.connect()
    fp = fingerprint(con, f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)")
    con.close()
    return fp


def star_expected(input_dir: str, oracles: dict) -> dict:
    """Fingerprints of the five star-schema oracles plus the data-quality
    row (the pipeline returns it as a dict)."""
    con = connect(input_dir, ["nation", "customer", "supplier", "orders", "lineitem"])
    out = {q: fingerprint(con, oracles[q])
           for q in ("star_fact", "agg_pair_daily", "agg_time", "top_pairs")}
    dq = con.execute(oracles["dq_checks"]).fetchdf().iloc[0].to_dict()
    out["dq_checks"] = {k: (bool(v) if k == "passed" else int(v)) for k, v in dq.items()}
    con.close()
    return out


def corpus_expected(input_dir: str, oracles: dict, queries: list[str]) -> dict:
    con = connect(input_dir, ["documents", "embeddings"])
    out = {q: fingerprint(con, oracles[q]) for q in queries}
    con.close()
    return out


def cdc_expected(input_dir: str, batches: int, compact_after: int, cols: tuple,
                 read_sql: str, travel_sql: str) -> dict:
    """Replay of the change stream in DuckDB, with the MERGE's three
    clauses as plain statements (a batch's keys are distinct, so their
    order does not matter): per batch the pruned read after it and the
    whole-table read of the version before it; the table after the batch
    the benchmark reads back in full (``mid``), and the final table."""
    con = connect(input_dir, [])
    con.execute("CREATE TABLE t AS SELECT *, CAST(year(o_orderdate) AS INTEGER) AS o_year "
                f"FROM read_parquet('{input_dir}/orders.parquet')")
    sets = ", ".join(f"{c} = chg.{c}" for c in cols[1:])
    out = {"reads": [], "travels": []}
    for b in range(batches):
        out["travels"].append(fingerprint(con, travel_sql.format(table="t")))
        con.execute(f"CREATE OR REPLACE VIEW chg AS SELECT * FROM "
                    f"read_parquet('{input_dir}/chg_{b}.parquet')")
        con.execute("DELETE FROM t USING chg WHERE t.o_orderkey = chg.o_orderkey AND chg.op = 'D'")
        con.execute(f"UPDATE t SET {sets} FROM chg "
                    "WHERE t.o_orderkey = chg.o_orderkey AND chg.op <> 'D'")
        con.execute(f"INSERT INTO t SELECT {', '.join(cols)} FROM chg WHERE op <> 'D' "
                    "AND o_orderkey NOT IN (SELECT o_orderkey FROM t)")
        out["reads"].append(fingerprint(con, read_sql.format(table="t")))
        if b == compact_after:
            out["mid"] = fingerprint(con, "SELECT * FROM t")
    out["final"] = fingerprint(con, "SELECT * FROM t")
    con.close()
    return out


def arrow_fingerprint(table) -> tuple:
    """Fingerprint of a pyarrow table (a Spark result collected to the
    driver), computed by the same DuckDB code as the oracles."""
    con = duckdb.connect()
    con.register("result_rel", table)
    fp = fingerprint(con, "SELECT * FROM result_rel")
    con.close()
    return fp
