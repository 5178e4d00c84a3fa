"""Transaction-log table format: ACID snapshots over plain parquet.

The reference stores every table in Apache Iceberg (IngestionJob.scala:15-19)
and verifies with ``SELECT … VERSION AS OF <snapshot_id>`` (README.md:143-154).
This environment ships no Iceberg/Delta jars and is offline, so the native
format is unavailable; the previous portable stand-in (``Warehouse`` versioned
directories) copies the FULL table per snapshot — fine at test scale, a
non-starter at 100 TB where an append must not rewrite 100 TB of history.

This module implements the architecture those formats actually use — an
append-only commit log over immutable data files (public design: the Delta
Lake paper, VLDB 2020; Iceberg spec) — from scratch, Spark-native:

- ``<table>/_txlog/<version>.json`` — one JSON commit per table version,
  holding add/remove **file actions**, the snapshot schema, and per-file
  column min/max/null-count statistics harvested from parquet footers.
- ``<table>/data/…`` — immutable parquet files in a single hive-layout tree
  (``col=val/`` subdirs for partitioned tables), shared across snapshots:
  an append adds files; an overwrite adds new files and marks old ones
  removed — **no data is ever copied or rewritten for versioning**.
- **Atomic commits with optimistic concurrency**: a commit materializes as a
  create-exclusive hard link of the next version file; two racing writers
  cannot both win the same version — the loser re-resolves against the new
  snapshot and retries (appends always merge; overwrites re-point their
  removes). On an object store without atomic create-exclusive this single
  primitive is what a commit service / conditional-put replaces (exactly the
  Delta paper's LogStore seam).
- **Data skipping**: reads prune files by partition values (exact, from the
  log) and by column min/max stats (from footers) before Spark ever lists
  them — the manifest-pruning half of Iceberg, measurable via
  ``df.inputFiles()``.
- **Checkpoints**: every ``CHECKPOINT_EVERY`` commits the full active file
  set is written beside the log so snapshot reconstruction replays O(10)
  recent commits, not the whole history — the log never becomes the scan
  bottleneck on a long-lived table.

Scale notes: file stats are harvested driver-side with pyarrow (footer reads
only — metadata, not data); on a 1000-executor cluster writing thousands of
files per commit the same harvest distributes as a mapInPandas over the file
list with identical output. Commit metadata is O(files changed), snapshot
metadata O(files active) — the checkpoint is the compaction knob.
"""

from __future__ import annotations

import bisect
import functools as _functools
import hashlib
import json
import os
import urllib.parse
import uuid
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .io import local_frame

CHECKPOINT_EVERY = 10
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# functions banned inside GENERATED ALWAYS AS expressions (the invariant
# "recompute on every write yields the same value" requires determinism)
_GEN_NONDETERMINISTIC = (
    r"(?i)\b(rand|randn|random|uuid|shuffle|now|"
    r"current_timestamp|current_date|"
    r"monotonically_increasing_id)\s*\("
)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    loss). ``TableLog.write`` resolves and retries internally; seeing this
    from user code means retries were exhausted."""


# ---------------------------------------------------------------------------
# JSON-safe encoding for footer stats (timestamps/dates/decimals round-trip
# through a type tag so pruning compares like with like)

def _enc(v: Any) -> Any:
    if isinstance(v, datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"t": "dec", "v": str(v)}
    if isinstance(v, bytes):
        return None  # binary stats not comparable portably — skip
    return v


def _dec(v: Any) -> Any:
    if isinstance(v, dict) and "t" in v:
        if v["t"] == "ts":
            return datetime.fromisoformat(v["v"])
        if v["t"] == "date":
            return date.fromisoformat(v["v"])
        if v["t"] == "dec":
            return Decimal(v["v"])
    return v


def _file_stats(path: str) -> tuple[dict[str, dict], int]:
    """Per-column {min, max, nulls} + row count from the parquet footer.
    Metadata-only read — no data pages are touched."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    agg: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested — no scalar pruning
                continue
            st = col.statistics
            # nulls_ok: EVERY row group reported a null count, so the
            # aggregated null total is exact — the precondition for
            # IS [NOT] NULL file skipping (round 9). A single row group
            # without the count poisons the flag (conservative: keep).
            cur = agg.setdefault(
                name, {"min": None, "max": None, "nulls": 0, "nulls_ok": True}
            )
            if st is None or not st.has_null_count:
                cur["nulls_ok"] = False
            else:
                cur["nulls"] += st.null_count
            if st is None or not st.has_min_max:
                # a single stats-less row group makes the file unprunable
                # by min/max (null-count pruning above stays independent:
                # an all-null row group legitimately has no min/max)
                cur["min"] = cur["max"] = None
                cur["no_stats"] = True
                continue
            if not cur.get("no_stats"):
                try:
                    lo, hi = _enc(st.min), _enc(st.max)
                except Exception:
                    # pyarrow cannot extract min/max for some physical
                    # types (e.g. INT32-backed decimals) — the file simply
                    # stays unprunable by range, never an error
                    lo = hi = None
                if lo is None or hi is None:
                    cur["no_stats"] = True
                    cur["min"] = cur["max"] = None
                else:
                    cur["min"] = lo if cur["min"] is None else min(cur["min"], lo, key=_dec_key)
                    cur["max"] = hi if cur["max"] is None else max(cur["max"], hi, key=_dec_key)
    return agg, md.num_rows


def _dec_key(v: Any) -> Any:
    return _dec(v)


# ---------------------------------------------------------------------------


@dataclass
class Snapshot:
    version: int
    snapshot_id: str
    schema_json: str
    partition_by: list[str]
    files: dict[str, dict] = field(default_factory=dict)  # relpath -> meta
    constraints: dict[str, str] = field(default_factory=dict)  # name -> expr
    # Delta-style column mapping (name mode): logical -> physical column
    # name. Physical names are FROZEN at column creation and are what data
    # files, footer stats, and partition dirs use; a rename is a metadata
    # commit that re-points the logical name. Empty dict = identity.
    column_mapping: dict[str, str] = field(default_factory=dict)
    # Physical names of DROPPED columns that may still exist inside active
    # data files (drop is metadata-only — no rewrite). A physical name on
    # this list must never be re-bound: re-adding a column with the same
    # logical name allocates a FRESH physical name (add_column), otherwise
    # the dead bytes would resurrect into the new column. A full overwrite
    # replaces the active set wholesale and clears the list.
    dropped_physical: list[str] = field(default_factory=list)
    # Deletion vectors (merge-on-read DELETE): relpath -> sorted row
    # positions (parquet row_index) deleted from that file WITHOUT a
    # rewrite. Keys are always ⊆ files (snapshot replay prunes entries
    # whose file leaves the active set — an overwrite/optimize/CoW
    # rewrite purges its files' vectors automatically). Every reader
    # anti-filters these positions; OPTIMIZE materializes the deletes.
    dvs: dict[str, list[int]] = field(default_factory=dict)
    # Hive/Spark bucketing spec ({"n": buckets, "cols": [...], "sort":
    # [...]}; {} = unbucketed): files were written by Spark's bucketed
    # writer (bucket ids in the file names), so read_bucketed() exposes
    # the snapshot as a session-catalog bucketed table whose joins and
    # aggregations on the bucket columns run with ZERO Exchange — the
    # shuffle is paid once at write time, the 100 TB fact-table
    # contract. Appends PRESERVE the layout (round 9): they re-stage
    # through the bucketed writer under the standing spec, so new files
    # join the bucket layout (bucket ids in their names keep grouping
    # correct); round 10: row-level DML rewrites re-stage through the
    # bucketed writer too (_stage_for), so only replace_where and the
    # layout-redefining DDL still refuse. Round 11: merge-on-read (dv)
    # works on bucketed tables as well — read_bucketed masks deleted
    # positions with a broadcast anti-join, which preserves the
    # bucketed scan's output partitioning (zero-Exchange joins survive
    # live deletion vectors, plan-asserted).
    bucket_by: dict = field(default_factory=dict)
    # Opt-in per-column Bloom-filter file skipping (round 9 — Delta's
    # Bloom filter index / Iceberg's bloom write property): columns
    # listed here get a small per-file Bloom bitmap harvested at write
    # time (one distributed pass over each commit's new files) and
    # stored in the add-action. Equality/IN predicates consult it after
    # min/max: a point DELETE on a uniformly distributed key — which
    # ranges can never prune — touches only Bloom-positive files.
    bloom_cols: list = field(default_factory=list)
    # Column DEFAULT values (round 10 — Spark/Delta `ALTER COLUMN c SET
    # DEFAULT <expr>`): SQL-literal expressions applied when an INSERT's
    # column list omits the column; existing rows are untouched (the
    # SET DEFAULT form, not ADD COLUMN ... DEFAULT's existence default).
    defaults: dict = field(default_factory=dict)
    # Generated columns (round 11 — Delta `GENERATED ALWAYS AS (expr)` /
    # `GENERATED ALWAYS AS IDENTITY`): col -> {"expr": sql} for computed
    # columns (recomputed from the row's other columns on every
    # INSERT/UPDATE/merge write — the invariant always holds), or
    # {"identity": {"start": n, "step": n, "high": m}} for identity
    # columns (engine-assigned, unique, monotone in `step`'s direction,
    # gaps allowed — Delta semantics; `high` is the allocation
    # high-water mark, bumped by every commit that inserts rows).
    # Explicit writes to identity columns refuse; rides checkpoints,
    # RESTORE and SHALLOW CLONE like `defaults`.
    generated: dict = field(default_factory=dict)
    # Table properties (round 11 — `ALTER TABLE t SET TBLPROPERTIES`):
    # free-form string key/values, same carry-forward rules as
    # `defaults`. The engine-recognized key is
    # `delta.enableChangeDataFeed` ('true'): copy-on-write MERGE and
    # DELETE commits then write their exact change rows to a `_cdc/`
    # sidecar (Delta's CDC-file design) so `table_changes` emits
    # precise insert/delete/update_pre/postimage rows for them too —
    # the dv paths and CoW UPDATE are precise without it.
    properties: dict = field(default_factory=dict)

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))


def _phys_name(mapping: dict[str, str], name: str) -> str:
    return mapping.get(name, name)


def _physical_schema(schema: StructType, mapping: dict[str, str]) -> StructType:
    """The schema as data files spell it: logical field names replaced by
    their frozen physical names."""
    if not mapping:
        return schema
    d = json.loads(schema.json())
    for f in d["fields"]:
        f["name"] = mapping.get(f["name"], f["name"])
    return StructType.fromJson(d)


def _rename_columns(df: DataFrame, renames: dict[str, str]) -> DataFrame:
    """Apply a logical→physical (or inverse) rename map. Names are unique
    on both sides (enforced by rename_column), so sequential renames
    cannot collide except for cyclic swaps, which rename_column forbids
    by refusing a target name that exists in either namespace."""
    for a, b in renames.items():
        if a != b:
            df = df.withColumnRenamed(a, b)
    return df


def _with_positions(df: DataFrame, names) -> DataFrame:
    """``names`` plus each row's deletion-vector coordinates: its file
    basename (uuid-unique across a table) as ``__dv_file`` and its
    ``row_index`` as ``__dv_pos``."""
    return df.select(
        *names,
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "__dv_file"
        ),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )


def _physical_filters(filters: list[tuple], mapping: dict[str, str]) -> list[tuple]:
    """Translate logical filter columns to physical for stats/partition
    pruning (footer stats and partition dirs carry physical names)."""
    if not mapping:
        return filters
    return [(_phys_name(mapping, c), op, v) for c, op, v in filters]


# type-widening promotion rules (Iceberg's schema-evolution matrix):
# metadata-only changes whose every existing value survives exactly
_WIDEN_OK = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def _is_widening(src: str, dst: str) -> bool:
    """True iff dst is a lossless widening of src (Spark simpleString
    spellings). decimal(p,s) widens to decimal(p2,s) for p2 > p — same
    scale, more precision headroom."""
    import re as _re

    src, dst = src.lower(), dst.lower()
    if dst in _WIDEN_OK.get(src, ()):
        return True
    ms = _re.fullmatch(r"decimal\((\d+),(\d+)\)", src)
    md = _re.fullmatch(r"decimal\((\d+),(\d+)\)", dst)
    return bool(
        ms
        and md
        and ms.group(2) == md.group(2)
        and int(md.group(1)) > int(ms.group(1))
    )


def _cdc_lit_to_json(v):
    """JSON-encode one DNF literal with a type tag for the non-native
    types (dates, timestamps, decimals, between/IN sequences). Returns
    the sentinel ``_CDC_UNSERIALIZABLE`` for anything else — the caller
    then skips recording the derivable-CDC metadata rather than
    committing a lossy predicate."""
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, _dt.datetime):
        return {"__t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"__t": "date", "v": v.isoformat()}
    if isinstance(v, _decimal.Decimal):
        return {"__t": "dec", "v": str(v)}
    if isinstance(v, (list, tuple)):
        out = [_cdc_lit_to_json(x) for x in v]
        if any(x is _CDC_UNSERIALIZABLE for x in out):
            return _CDC_UNSERIALIZABLE
        return {"__t": "seq", "v": out}
    if isinstance(v, (int, float, str)):
        return v
    return _CDC_UNSERIALIZABLE


_CDC_UNSERIALIZABLE = object()


def _cdc_lit_from_json(v):
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, dict) and "__t" in v:
        t = v["__t"]
        if t == "ts":
            return _dt.datetime.fromisoformat(v["v"])
        if t == "date":
            return _dt.date.fromisoformat(v["v"])
        if t == "dec":
            return _decimal.Decimal(v["v"])
        if t == "seq":
            return tuple(_cdc_lit_from_json(x) for x in v["v"])
    return v


def _cdc_derive_payload(
    dnf: list,
    set_exprs: dict[str, str],
    gen_exprs: dict[str, str] | None = None,
) -> dict | None:
    """The derivable-CDC record for a copy-on-write UPDATE commit
    (round 11): the row predicate (normalized DNF, typed-JSON literals)
    plus the SET assignment map. ``table_changes`` re-derives the exact
    update_preimage/update_postimage rows from the removed files at
    READ time — precise Delta-style update images with ZERO write-time
    cost (no sidecar files, no extra job). Returns None — and the feed
    falls back to file granularity — when a SET expression is
    non-deterministic (the derived post-image would lie) or a literal
    doesn't round-trip through JSON."""
    import re as _re

    for expr in set_exprs.values():
        if _re.search(
            r"\b(rand|randn|random|uuid|shuffle|now|current_timestamp|"
            r"current_date|monotonically_increasing_id)\s*\(",
            str(expr),
            _re.IGNORECASE,
        ):
            return None
    where = []
    for conj in dnf:
        out_conj = []
        for col, op, val in conj:
            j = _cdc_lit_to_json(val)
            if j is _CDC_UNSERIALIZABLE:
                return None
            out_conj.append([col, op, j])
        where.append(out_conj)
    out = {"where": where, "set": dict(set_exprs)}
    if gen_exprs:
        # computed GENERATED columns re-derive after the SET map (their
        # expressions are deterministic by DDL-time validation), so the
        # derived post-image matches what the rewrite actually stored
        out["gen"] = dict(gen_exprs)
    return out


def _cdc_derive_dnf(payload: dict) -> list:
    return [
        [(col, op, _cdc_lit_from_json(val)) for col, op, val in conj]
        for conj in payload["where"]
    ]


def _translate_legacy_merge(
    source: DataFrame,
    delete_condition: str | None,
    insert_unmatched_deletes: bool,
    update_set: dict[str, str] | None,
    nmbs_delete: bool,
    nmbs_condition: str | None,
) -> tuple[DataFrame, list[dict], str | None, list[dict]]:
    """TableLog.merge's legacy keywords → the ordered clause form. The
    delete condition is over the bare source row, which a matched clause
    cannot name (its columns resolve under ``t``/``s``), so it is
    evaluated on the source as the ``__mrg_del`` flag column: a flagged
    row deletes its target match, and inserts only under
    ``insert_unmatched_deletes``. Returns (source', matched_clauses,
    insert_condition, not_matched_by_source_clauses)."""
    src = source
    mc: list[dict] = []
    ic: str | None = None
    if delete_condition is not None:
        src = source.withColumn(
            "__mrg_del",
            F.coalesce(
                F.expr(delete_condition).cast("boolean"), F.lit(False)
            ),
        )
        mc.append({"action": "delete", "condition": "s.__mrg_del"})
        if not insert_unmatched_deletes:
            ic = "NOT s.__mrg_del"
    mc.append({"action": "update", "condition": None, "set": update_set})
    nc = (
        [{"action": "delete", "condition": nmbs_condition}]
        if nmbs_delete
        else []
    )
    return src, mc, ic, nc


def _evolved_schema(
    base: Snapshot, evolve: StructType | None
) -> tuple[str, StructType]:
    """The schema a MERGE commits: the table's, extended by the new
    columns of ``evolve`` (the caller's source schema) as nullable —
    Delta's autoMerge, the _merge_schemas contract of the
    schema-evolving append (a type conflict on a shared column
    raises)."""
    if evolve is None:
        return base.schema_json, base.schema
    merged = _merge_schemas(base.schema_json, evolve.json())
    if merged == base.schema_json:
        return merged, base.schema
    return merged, StructType.fromJson(json.loads(merged))


def _merge_noop(snap: Snapshot) -> dict:
    """The result of a MERGE that commits nothing against ``snap``."""
    return {
        "version": snap.version,
        "files_rewritten": 0,
        "files_skipped": len(snap.files),
        "rows_written": 0,
    }


class ConstraintViolationError(ValueError):
    """A write/merge/update produced rows failing a table CHECK
    constraint (Delta semantics: NULL passes, FALSE violates); nothing
    was committed."""


class TableLog:
    """One table's commit log + data tree (module docstring has the format)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, "_txlog")
        self.data_dir = os.path.join(root, "data")

    # -- log plumbing -------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir) and bool(self.versions())

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f[:-5])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:012d}.json")

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:012d}.checkpoint")

    def _commit(self, version: int, payload: dict) -> None:
        """Atomically publish `payload` as commit `version`. Create-exclusive
        hard link: exactly one writer can create the version file — the
        optimistic-concurrency primitive (LogStore seam on object stores)."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        ts_ms = payload.get("ts_ms") or int(__import__("time").time() * 1000)
        if version > 0:
            # Clamp to strictly-monotonic per table (Delta does the same):
            # wall-clock skew between writers, or a retried commit stamped
            # late, must not give a later version an earlier timestamp —
            # TIMESTAMP AS OF would resolve to a version committed
            # logically after the requested instant.
            try:
                with open(self._commit_path(version - 1)) as f:
                    parent_ts = json.load(f).get("ts_ms") or 0
            except FileNotFoundError:
                parent_ts = 0
            ts_ms = max(ts_ms, parent_ts + 1)
        payload["ts_ms"] = ts_ms
        with open(tmp, "w") as f:
            json.dump(payload, f)
        try:
            os.link(tmp, self._commit_path(version))
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {version} of {self.root} was committed concurrently"
            ) from e
        finally:
            os.unlink(tmp)

    def snapshot(self, version: int | None = None) -> Snapshot:
        versions = self.versions()
        if not versions:
            raise FileNotFoundError(f"no table at {self.root}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise ValueError(f"{self.root} has no version {v} (has {versions})")

        # start from the newest checkpoint at or below v, replay only the
        # commits after it — snapshot construction opens O(CHECKPOINT_EVERY)
        # files however long the table's history grows
        snap = Snapshot(v, "", "", [])
        replay_from = 0
        for cv in sorted(versions, reverse=True):
            if cv <= v and os.path.exists(self._checkpoint_path(cv)):
                with open(self._checkpoint_path(cv)) as f:
                    cp = json.load(f)
                snap.files = cp["files"]
                snap.snapshot_id = cp["snapshot_id"]
                snap.schema_json = cp["schema"]
                snap.partition_by = cp.get("partition_by") or []
                snap.constraints = cp.get("constraints") or {}
                snap.column_mapping = cp.get("column_mapping") or {}
                snap.dropped_physical = cp.get("dropped_physical") or []
                snap.dvs = cp.get("dvs") or {}
                snap.bucket_by = cp.get("bucket_by") or {}
                snap.bloom_cols = cp.get("bloom_cols") or []
                snap.defaults = cp.get("defaults") or {}
                snap.generated = cp.get("generated") or {}
                snap.properties = cp.get("properties") or {}
                replay_from = cv
                break

        for cv in versions:
            if cv <= replay_from:
                continue
            if cv > v:
                break
            with open(self._commit_path(cv)) as f:
                c = json.load(f)
            snap.snapshot_id = c["snapshot_id"]
            snap.schema_json = c["schema"]
            snap.partition_by = c.get("partition_by") or []
            if "constraints" in c:  # absent key = unchanged (carry forward)
                snap.constraints = c["constraints"]
            if "column_mapping" in c:  # same carry-forward rule
                snap.column_mapping = c["column_mapping"]
            if "dropped_physical" in c:  # same carry-forward rule
                snap.dropped_physical = c["dropped_physical"]
            if "dvs" in c:  # same carry-forward rule
                snap.dvs = c["dvs"]
            if "bucket_by" in c:  # same carry-forward rule
                snap.bucket_by = c["bucket_by"]
            if "bloom_cols" in c:  # same carry-forward rule
                snap.bloom_cols = c["bloom_cols"]
            if "defaults" in c:  # same carry-forward rule
                snap.defaults = c["defaults"]
            if "generated" in c:  # same carry-forward rule
                snap.generated = c["generated"]
            if "properties" in c:  # same carry-forward rule
                snap.properties = c["properties"]
            for r in c.get("removes", []):
                snap.files.pop(r, None)
            for a in c.get("adds", []):
                snap.files[a["path"]] = a
            if snap.dvs:
                # a file leaving the active set takes its deletion vector
                # with it — rewrites/overwrites purge vectors by replay
                # rule, no per-operation bookkeeping required
                snap.dvs = {
                    p: v for p, v in snap.dvs.items() if p in snap.files
                }
        return snap

    def history(self) -> list[dict]:
        out = []
        for v in self.versions():
            with open(self._commit_path(v)) as f:
                c = json.load(f)
            out.append(
                {
                    "version": v,
                    "snapshot_id": c["snapshot_id"],
                    "operation": c["operation"],
                    "ts_ms": c.get("ts_ms"),
                    "n_adds": len(c.get("adds", [])),
                    "n_removes": len(c.get("removes", [])),
                }
            )
        return out

    def version_at(self, ts_ms: int) -> int:
        """TIMESTAMP AS OF resolution: the latest version committed at or
        before ``ts_ms`` (commit wall-clock, recorded in the log). Commits
        predating the ts_ms field (none in practice; defensive) count as
        time 0. Raises if the table didn't exist yet at that time."""
        best = None
        for h in self.history():
            if (h["ts_ms"] or 0) <= ts_ms:
                best = h["version"]
        if best is None:
            raise ValueError(
                f"{self.root} has no version at or before ts_ms={ts_ms}"
            )
        return best

    # -- CHECK constraints --------------------------------------------------

    def _enforce_constraints(
        self, df: DataFrame, constraints: dict[str, str], context: str
    ) -> None:
        """ONE aggregate pass counting violations of every constraint
        (SQL CHECK semantics: NULL passes, FALSE violates). No-op when
        the table has no constraints — writes pay nothing by default."""
        if not constraints:
            return
        passes = {
            n: F.coalesce(F.expr(e).cast("boolean"), F.lit(True))
            for n, e in constraints.items()
        }
        row = df.agg(
            *[
                F.count(F.when(~p, F.lit(1))).alias(f"c{i}")
                for i, p in enumerate(passes.values())
            ]
        ).head()
        bad = {
            n: row[f"c{i}"]
            for i, n in enumerate(passes)
            if row[f"c{i}"]
        }
        if bad:
            detail = ", ".join(
                f"{n} ({constraints[n]!r}): {c} rows" for n, c in bad.items()
            )
            raise ConstraintViolationError(
                f"{context} into {self.root} violates CHECK constraints — "
                f"{detail}; nothing was committed"
            )

    def add_constraint(self, name: str, expr: str, max_retries: int = 3) -> int:
        """ALTER TABLE ADD CONSTRAINT (Delta CHECK semantics): existing
        rows must already satisfy ``expr`` (one validation scan), then the
        constraint commits as table metadata — enforced on every
        subsequent write/merge/update with one aggregate pass over the
        incoming rows only."""
        for _attempt in range(max_retries):
            cur = self.snapshot()
            if name in cur.constraints:
                raise ValueError(
                    f"constraint {name!r} already exists on {self.root}"
                )
            self._enforce_constraints(
                self.read(cur.version), {name: expr}, "add_constraint"
            )
            self._validate_constraint_duckdb(cur, name, expr)
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "add_constraint",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "constraints": {**cur.constraints, name: expr},
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def set_default(
        self, column: str, expr: str, max_retries: int = 3
    ) -> int:
        """ALTER COLUMN … SET DEFAULT (Spark/Delta semantics): a
        metadata-only commit recording a constant SQL expression applied
        whenever a later INSERT's column list omits the column. Existing
        rows are untouched. The expression must evaluate driver-side to
        a constant castable to the column's type — non-deterministic or
        column-referencing defaults refuse (Spark's literal-default
        restriction)."""
        for _attempt in range(max_retries):
            cur = self.snapshot()
            if column not in cur.schema.names:
                raise ValueError(
                    f"cannot set DEFAULT on unknown column {column!r} "
                    f"(table has {cur.schema.names})"
                )
            if column in cur.generated:
                raise ValueError(
                    f"column {column!r} is GENERATED; generated and "
                    "default are mutually exclusive (drop_generated() "
                    "first)"
                )
            # FROM-less probe inside: no columns are in scope, so any
            # column reference in the expression fails right there
            self._validate_default_expr(
                column, expr, cur.schema[column].dataType
            )
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "set_default",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "defaults": {**cur.defaults, column: expr},
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def drop_default(self, column: str, max_retries: int = 3) -> int:
        for _attempt in range(max_retries):
            cur = self.snapshot()
            if column not in cur.defaults:
                raise ValueError(
                    f"column {column!r} has no DEFAULT on {self.root}"
                )
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "drop_default",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "defaults": {
                    k: v for k, v in cur.defaults.items() if k != column
                },
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def set_generated(
        self,
        column: str,
        expr: str | None = None,
        identity: bool = False,
        start: int = 1,
        step: int = 1,
        max_retries: int = 3,
    ) -> int:
        """``ALTER COLUMN … SET GENERATED ALWAYS AS (expr)`` /
        ``… AS IDENTITY (START WITH n INCREMENT BY m)`` — Delta's
        generated/identity columns (round 11), as a metadata-only
        commit.

        Computed columns (``expr``): recomputed from the row's OTHER
        columns on every INSERT/UPDATE/merge write — the invariant
        always holds (Delta recomputes on dependency change; this
        engine recomputes unconditionally, which is the same value for
        a deterministic expression). The expression must be
        deterministic and may not reference itself or another generated
        column (validated here by binding over a zero-row view with the
        generated columns removed). Existing rows are NOT backfilled by
        the DDL (metadata-only, like SET DEFAULT) — they pick the
        invariant up at their next rewrite; declare before first write
        for a uniformly-generated column.

        Identity columns: the engine assigns ``start``, then values
        strictly monotone in ``step``'s direction with GAPS ALLOWED
        (Delta semantics — allocation is `high + step*(1+partition
        counter)` via monotonically_increasing_id, so a commit never
        serializes through a driver-side counter and never shuffles;
        the high-water mark advances from the staged files' harvested
        stats, no extra scan). Explicit writes refuse. Declaring
        identity on a column with existing NULLs refuses (NULL is the
        engine's "allocate me" marker); existing values fold into the
        initial high-water mark so new allocations never collide."""
        if (expr is None) == (not identity):
            raise ValueError(
                "set_generated takes exactly one of expr=<sql> or "
                "identity=True"
            )
        if identity and step == 0:
            raise ValueError("identity INCREMENT BY must be non-zero")
        for _attempt in range(max_retries):
            cur = self.snapshot()
            if column not in cur.schema.names:
                raise ValueError(
                    f"cannot set GENERATED on unknown column {column!r} "
                    f"(table has {cur.schema.names})"
                )
            if column in cur.defaults:
                raise ValueError(
                    f"column {column!r} has a DEFAULT; generated and "
                    "default are mutually exclusive (drop the default "
                    "first)"
                )
            dt = cur.schema[column].dataType.simpleString()
            if identity:
                if dt != "bigint":
                    raise ValueError(
                        f"IDENTITY requires a BIGINT column (Delta's own "
                        f"restriction — allocation uses the sparse "
                        f"monotonically_increasing_id space, which "
                        f"overflows INT); {column!r} is {dt}"
                    )
                agg = self.read(cur.version).agg(
                    F.count("*").alias("n"),
                    F.count(column).alias("nn"),
                    F.max(column).alias("mx"),
                    F.min(column).alias("mn"),
                ).head()
                if agg["n"] != agg["nn"]:
                    raise ValueError(
                        f"column {column!r} has NULL values; IDENTITY "
                        "uses NULL as the allocate-me marker — backfill "
                        "before declaring"
                    )
                # fold existing values into the high-water mark so new
                # allocations never collide with pre-DDL data
                high = start - step
                if agg["n"]:
                    ext = agg["mx"] if step > 0 else agg["mn"]
                    high = max(high, ext) if step > 0 else min(high, ext)
                spec = {
                    "identity": {
                        "start": int(start),
                        "step": int(step),
                        "high": int(high),
                    }
                }
            else:
                import re as _re

                if _re.search(_GEN_NONDETERMINISTIC, expr):
                    raise ValueError(
                        f"GENERATED ALWAYS AS for {column!r} must be "
                        f"deterministic; {expr!r} is not"
                    )
                probe = self.read(cur.version).limit(0).drop(
                    column, *cur.generated.keys()
                )
                try:
                    probe.selectExpr(f"CAST(({expr}) AS {dt})").schema
                except Exception as e:
                    raise ValueError(
                        f"GENERATED ALWAYS AS expression for {column!r} "
                        f"must bind over the table's non-generated "
                        f"columns and cast to {dt}; {expr!r} failed: {e}"
                    ) from e
                spec = {"expr": expr}
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "set_generated",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "generated": {**cur.generated, column: spec},
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def drop_generated(self, column: str, max_retries: int = 3) -> int:
        """``ALTER COLUMN … DROP GENERATED``: the column becomes an
        ordinary writable column; existing values stay."""
        for _attempt in range(max_retries):
            cur = self.snapshot()
            if column not in cur.generated:
                raise ValueError(
                    f"column {column!r} is not generated on {self.root}"
                )
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "drop_generated",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "generated": {
                    k: v for k, v in cur.generated.items() if k != column
                },
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _validate_generated_specs(
        self, specs: dict, schema: StructType, defaults: dict
    ) -> dict:
        """Normalize/validate declare-time generated-column specs (round
        12 — the CREATE-time half of the round-11 ALTER surface) against
        a declared schema: ``{col: {"expr": sql}}`` for computed columns
        (must be deterministic, bind over the table's NON-generated
        columns only — Delta's no-generated-referencing-generated rule —
        and cast to the column's declared type) or ``{col: {"identity":
        {"start": n, "step": m}}}`` for identity columns (BIGINT only;
        the normalized spec gains the allocation high-water mark at
        ``start - step`` so the first allocated value is ``start``)."""
        import re as _re

        norm: dict[str, dict] = {}
        probe_base = self.spark.createDataFrame([], schema)
        for c, spec in specs.items():
            if c not in schema.names:
                raise ValueError(
                    f"cannot declare GENERATED column {c!r}: not in the "
                    f"declared schema {list(schema.names)}"
                )
            if c in (defaults or {}):
                raise ValueError(
                    f"column {c!r} declares both GENERATED and DEFAULT; "
                    "they are mutually exclusive"
                )
            dt = schema[c].dataType.simpleString()
            if "identity" in spec:
                ident = dict(spec.get("identity") or {})
                start = int(ident.get("start", 1))
                step = int(ident.get("step", 1))
                if step == 0:
                    raise ValueError("identity INCREMENT BY must be non-zero")
                if dt != "bigint":
                    raise ValueError(
                        f"IDENTITY requires a BIGINT column (Delta's own "
                        f"restriction — allocation uses the sparse "
                        f"monotonically_increasing_id space, which "
                        f"overflows INT); {c!r} is {dt}"
                    )
                norm[c] = {
                    "identity": {
                        "start": start,
                        "step": step,
                        "high": start - step,
                    }
                }
            elif "expr" in spec:
                expr = str(spec["expr"])
                if _re.search(_GEN_NONDETERMINISTIC, expr):
                    raise ValueError(
                        f"GENERATED ALWAYS AS for {c!r} must be "
                        f"deterministic; {expr!r} is not"
                    )
                probe = probe_base.drop(
                    c, *[k for k in specs if k != c]
                )
                try:
                    probe.selectExpr(f"CAST(({expr}) AS {dt})").schema
                except Exception as e:
                    raise ValueError(
                        f"GENERATED ALWAYS AS expression for {c!r} must "
                        f"bind over the table's non-generated columns and "
                        f"cast to {dt}; {expr!r} failed: {e}"
                    ) from e
                norm[c] = {"expr": expr}
            else:
                raise ValueError(
                    f"generated spec for {c!r} must be {{'expr': <sql>}} "
                    "or {'identity': {'start': n, 'step': m}}; got "
                    f"{spec!r}"
                )
        return norm

    def _validate_default_expr(self, column: str, expr: str, dt) -> None:
        """The SET DEFAULT constant-expression rule, shared by the ALTER
        path (set_default) and CREATE-time declarations: deterministic,
        no column references, castable to the type. The probe selects from
        a one-row relation with no columns, a local relation, so no column
        is in scope and collecting it runs no job."""
        import re as _re

        if _re.search(
            r"\b(rand|randn|random|uuid|shuffle|"
            r"monotonically_increasing_id)\s*\(",
            expr,
            _re.IGNORECASE,
        ):
            raise ValueError(
                f"DEFAULT for {column!r} must be deterministic; "
                f"{expr!r} is not (Spark's constant-default rule)"
            )
        try:
            self.spark.sql("SELECT * FROM VALUES (0) AS _(z)").drop(
                "z"
            ).selectExpr(f"CAST(({expr}) AS {dt.simpleString()})").collect()
        except Exception as e:
            raise ValueError(
                f"DEFAULT for {column!r} must be a constant "
                f"expression castable to {dt.simpleString()}; "
                f"{expr!r} failed: {e}"
            ) from e

    def create(
        self,
        schema: StructType | str,
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
        generated: dict[str, dict] | None = None,
        defaults: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        """``CREATE TABLE`` with an explicit column list (round 12):
        commit version 1 as an EMPTY table carrying the declared schema
        plus all declare-time metadata — generated/identity columns
        (Delta's ``CREATE TABLE … GENERATED ALWAYS AS`` surface, closing
        round 11's "declare before first write by convention" gap: v1
        data already satisfies the invariant because no v1 data exists),
        column DEFAULTs, TBLPROPERTIES, partitioning and bucket layout.
        The reference has no DDL at all (its Scala jobs create tables by
        writing, IngestionJob.scala:15-19); this is the engine's own
        Delta-parity extension. Concurrent double-create loses the
        version-1 commit race atomically (create-exclusive link)."""
        if self.exists():
            raise ValueError(
                f"table {self.root} already exists; CREATE TABLE never "
                "clobbers data (write(mode='overwrite') replaces it)"
            )
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        if not schema.fields:
            raise ValueError("CREATE TABLE needs at least one column")
        defaults = {str(k): str(v) for k, v in (defaults or {}).items()}
        for c in partition_by or []:
            if c not in schema.names:
                raise ValueError(
                    f"partition column {c!r} not in the declared schema"
                )
        if bucket_by is not None:
            if partition_by:
                raise ValueError(
                    "bucket_by does not compose with partition_by on this "
                    "format; pick one physical layout"
                )
            missing = [c for c in bucket_by[1] if c not in schema.names]
            if missing:
                raise ValueError(
                    f"bucket columns {missing} not in the declared schema"
                )
        for c, expr in defaults.items():
            if c not in schema.names:
                raise ValueError(
                    f"cannot declare DEFAULT for unknown column {c!r}"
                )
            self._validate_default_expr(c, expr, schema[c].dataType)
        gen = (
            self._validate_generated_specs(generated, schema, defaults)
            if generated
            else {}
        )
        payload = {
            "version": 1,
            "snapshot_id": _snapshot_id(1, [], [], None),
            "parent_id": None,
            "operation": "create",
            "schema": schema.json(),
            "partition_by": list(partition_by or []),
            "adds": [],
            "removes": [],
            **({"generated": gen} if gen else {}),
            **({"defaults": defaults} if defaults else {}),
            **(
                {
                    "properties": {
                        str(k): str(v) for k, v in properties.items()
                    }
                }
                if properties
                else {}
            ),
        }
        if bucket_by is not None:
            payload["bucket_by"] = {
                "n": int(bucket_by[0]),
                "cols": list(bucket_by[1]),
                "sort": list(sort_by or []),
            }
        self._commit(1, payload)
        return 1

    def set_properties(
        self, props: dict[str, str], max_retries: int = 3
    ) -> int:
        """``ALTER TABLE t SET TBLPROPERTIES (k=v, …)`` (round 11):
        free-form string key/values as a metadata-only commit, Delta's
        table-property surface. The engine acts on
        ``delta.enableChangeDataFeed`` ('true'/'false'): with it on,
        copy-on-write MERGE and DELETE commits write their exact change
        rows to a ``_cdc/`` sidecar so the change feed emits precise
        images for them too (the dv paths and CoW UPDATE are precise
        without it — see table_changes)."""
        if not props:
            raise ValueError("SET TBLPROPERTIES needs at least one pair")
        norm = {str(k): str(v) for k, v in props.items()}
        for _attempt in range(max_retries):
            cur = self.snapshot()
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "set_properties",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "properties": {**cur.properties, **norm},
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def unset_properties(
        self, keys: list[str], max_retries: int = 3
    ) -> int:
        """``ALTER TABLE t UNSET TBLPROPERTIES (k, …)``; unknown keys
        refuse (Delta's IF EXISTS-less semantics)."""
        for _attempt in range(max_retries):
            cur = self.snapshot()
            missing = [k for k in keys if k not in cur.properties]
            if missing:
                raise ValueError(
                    f"table {self.root} has no propert"
                    f"{'y' if len(missing) == 1 else 'ies'} {missing}"
                )
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "unset_properties",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "properties": {
                    k: v
                    for k, v in cur.properties.items()
                    if k not in keys
                },
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _cdf_enabled(self, snap: "Snapshot") -> bool:
        return (
            str(
                snap.properties.get("delta.enableChangeDataFeed", "false")
            ).lower()
            == "true"
        )

    def _stage_cdc(self, changes: DataFrame) -> tuple[list[str], str]:
        """Write a commit's change rows (table columns + _change_type,
        LOGICAL names) as a ``_cdc/<uuid>/*.parquet`` sidecar; returns
        (relpaths under root, schema json). Sidecars are tiny (exact
        changed rows only) and live outside the data tree, so vacuum's
        active-set accounting never sees them; they share the history
        retention story with the commit files that reference them."""
        cdir = f"_cdc/{uuid.uuid4().hex}"
        out = os.path.join(self.root, cdir)
        changes.write.mode("errorifexists").parquet(out)
        rels = [
            os.path.join(cdir, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]
        return rels, changes.schema.json()

    def _apply_generated(
        self, df: DataFrame, generated: dict, schema
    ) -> DataFrame:
        """Enforce the generated-column invariant on rows about to land
        in data files: computed columns are RECOMPUTED from the row
        (missing ones materialize first, so `INSERT *` sources need not
        carry them); identity columns fill their NULL rows — and only
        those — with `high + step*(1 + monotonically_increasing_id())`:
        scan-local, shuffle-free, unique and monotone per commit with
        gaps (Delta's documented identity behavior). Rows that already
        carry an identity value (rewrites of existing rows) keep it.
        Entries whose column left the schema are skipped (a full
        overwrite may have dropped it)."""
        for c, spec in generated.items():
            if c not in schema.names:
                continue
            dt = schema[c].dataType
            if "expr" in spec:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(dt))
                df = df.withColumn(c, F.expr(spec["expr"]).cast(dt))
            else:
                ident = spec["identity"]
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None).cast(dt))
                alloc = (
                    F.lit(int(ident["high"]))
                    + F.lit(int(ident["step"]))
                    * (F.lit(1) + F.monotonically_increasing_id())
                ).cast(dt)
                df = df.withColumn(
                    c,
                    F.when(F.col(c).isNotNull(), F.col(c)).otherwise(
                        alloc
                    ),
                )
        return df

    def _bump_identity_high(
        self, generated: dict, adds: list[dict], mapping: dict | None
    ) -> dict | None:
        """Post-staging high-water advance: the staged files' harvested
        min/max stats already contain the extreme allocated identity
        value — no extra scan. Returns the updated generated map when
        any mark moved, else None (absent commit key = carry-forward)."""
        out = None
        for c, spec in generated.items():
            if "identity" not in spec:
                continue
            ident = spec["identity"]
            step = ident["step"]
            ext = None
            phys = _phys_name(mapping or {}, c)
            for a in adds:
                s = (a.get("stats") or {}).get(phys)
                if not s:
                    continue
                v = s.get("max") if step > 0 else s.get("min")
                if v is None:
                    continue
                v = int(v)
                ext = v if ext is None else (
                    max(ext, v) if step > 0 else min(ext, v)
                )
            if ext is None:
                continue
            new_high = (
                max(ident["high"], ext)
                if step > 0
                else min(ident["high"], ext)
            )
            if new_high != ident["high"]:
                out = out if out is not None else {
                    k: (dict(v) if isinstance(v, dict) else v)
                    for k, v in generated.items()
                }
                out[c] = {"identity": {**ident, "high": int(new_high)}}
        return out

    def _refuse_generated_targets(
        self, generated: dict, cols, what: str
    ) -> None:
        bad = sorted(set(cols or []) & set(generated))
        if bad:
            raise ValueError(
                f"{what} may not assign generated column(s) {bad} "
                "(GENERATED ALWAYS — the engine computes them; "
                "drop_generated() to make them writable)"
            )

    def _validate_constraint_duckdb(self, cur, name: str, expr: str) -> None:
        """format('txlog') writes enforce CHECKs EXECUTOR-SIDE in DuckDB
        (no SparkSession exists in the DataSource python worker —
        pyds.py), so a constraint expression must bind in BOTH dialects;
        otherwise the ALTER would succeed and every later DataSource
        write would fail with an opaque parse error. Binds the pyds
        check query against a ZERO-ROW Arrow table carrying the live
        logical schema (exact types, no data scan) and raises at
        add_constraint time naming the dialect gap."""
        try:
            import duckdb
        except ImportError:  # pragma: no cover — enforcement stays Spark-only
            return
        empty = self.read(cur.version).limit(0).toArrow()
        con = duckdb.connect()
        try:
            con.register("batch", empty)
            con.execute(
                "SELECT count(*) FILTER (WHERE NOT "
                f"coalesce(({expr}), TRUE)) FROM batch"
            )
        except duckdb.Error as e:
            raise ValueError(
                f"constraint {name!r} ({expr!r}) is valid Spark SQL but "
                f"does not bind in DuckDB ({e}); format('txlog') writes "
                "enforce CHECK constraints executor-side in DuckDB, so the "
                "expression must be engine-portable (no backticked "
                "identifiers, rlike, if(), ...)"
            ) from None
        finally:
            con.close()

    def drop_constraint(self, name: str, max_retries: int = 3) -> int:
        """ALTER TABLE DROP CONSTRAINT."""
        for _attempt in range(max_retries):
            cur = self.snapshot()
            if name not in cur.constraints:
                raise ValueError(f"no constraint {name!r} on {self.root}")
            version = cur.version + 1
            remaining = {
                n: e for n, e in cur.constraints.items() if n != name
            }
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "drop_constraint",
                "schema": cur.schema_json,
                "partition_by": list(cur.partition_by or []),
                "adds": [],
                "removes": [],
                "constraints": remaining,
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    # -- column mapping -----------------------------------------------------

    def rename_column(self, old: str, new: str, max_retries: int = 3) -> int:
        """ALTER TABLE RENAME COLUMN without rewriting a single data file
        (Delta column mapping, name mode): data files keep the column's
        FROZEN physical name; this metadata commit re-points the logical
        name, and the spec-safe reader renames physical→logical on every
        scan. Restrictions (each refused loudly): partition columns (their
        physical name is baked into directory layout), columns referenced
        by a CHECK constraint (the stored expression text would silently
        go stale), and target names colliding with any current logical OR
        physical name (keeps the rename map bijective — no swap cycles)."""
        import re as _re

        for _attempt in range(max_retries):
            cur = self.snapshot()
            names = [f.name for f in cur.schema.fields]
            if old not in names:
                raise ValueError(f"no column {old!r} in {self.root}")
            if new in names or new in set(cur.column_mapping.values()) | {
                _phys_name(cur.column_mapping, n) for n in names
            }:
                raise ValueError(
                    f"column name {new!r} collides with an existing "
                    f"logical or physical column of {self.root}"
                )
            if old in (cur.partition_by or []):
                raise ValueError(
                    f"cannot rename partition column {old!r}: its physical "
                    "name is baked into the directory layout"
                )
            if old in (cur.bucket_by.get("cols") or []):
                raise ValueError(
                    f"cannot rename bucket column {old!r}: its physical "
                    "name is baked into the bucket file layout"
                )
            hit = [
                n
                for n, e in cur.constraints.items()
                if _re.search(rf"\b{_re.escape(old)}\b", e)
            ]
            if hit:
                raise ValueError(
                    f"cannot rename {old!r}: referenced by CHECK "
                    f"constraint(s) {hit} — drop and re-add them"
                )
            d = json.loads(cur.schema_json)
            for f in d["fields"]:
                if f["name"] == old:
                    f["name"] = new
            mapping = dict(cur.column_mapping)
            mapping[new] = _phys_name(mapping, old)
            mapping.pop(old, None)
            if mapping[new] == new:  # renamed back to its physical name
                mapping.pop(new)
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "rename_column",
                "schema": json.dumps(d),
                "partition_by": list(cur.partition_by or []),
                "constraints": cur.constraints,
                "column_mapping": mapping,
                "adds": [],
                "removes": [],
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def add_column(self, name: str, dtype: str, max_retries: int = 3) -> int:
        """ALTER TABLE ADD COLUMN — metadata commit, no file rewrite: the
        new nullable column appends to the schema and every existing file
        reads it as NULL. The column's physical name is a FRESH opaque id
        (``col_<hex>``), never the logical name — the rule that makes
        drop-then-re-add safe: a data file still carrying the bytes of a
        previously dropped column with this name can never leak them into
        the new column (Delta's column-mapping id allocation)."""
        return self.add_columns([(name, dtype)], max_retries=max_retries)

    def add_columns(
        self, cols: list[tuple[str, str]], max_retries: int = 3
    ) -> int:
        """Multi-column ADD COLUMNS as ONE commit — either every listed
        column appears in the new snapshot version or none does, so a
        duplicate name mid-list (intra-list or vs the live schema) can
        never leave the ALTER half-applied. Same fresh-physical-id rule
        per column as :meth:`add_column`."""
        from pyspark.sql.types import StructType as _StructType

        if not cols:
            raise ValueError("ADD COLUMNS requires at least one column")
        seen: set[str] = set()
        flds = []
        for name, dtype in cols:
            if name in seen:
                raise ValueError(
                    f"duplicate column name {name!r} in ADD COLUMNS list"
                )
            seen.add(name)
            fld = json.loads(
                _StructType.fromDDL(f"`{name}` {dtype}").json()
            )["fields"][0]
            fld["nullable"] = True
            flds.append((name, fld))
        for _attempt in range(max_retries):
            cur = self.snapshot()
            names = [f.name for f in cur.schema.fields]
            phys_ns = set(cur.column_mapping.values()) | {
                _phys_name(cur.column_mapping, n) for n in names
            }
            for name, _ in flds:
                if name in names or name in phys_ns:
                    raise ValueError(
                        f"column name {name!r} collides with an existing "
                        f"logical or physical column of {self.root}"
                    )
            mapping = dict(cur.column_mapping)
            d = json.loads(cur.schema_json)
            for name, fld in flds:
                mapping[name] = f"col_{uuid.uuid4().hex[:12]}"
                d["fields"].append(fld)
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "add_column",
                "schema": json.dumps(d),
                "partition_by": list(cur.partition_by or []),
                "constraints": cur.constraints,
                "column_mapping": mapping,
                "adds": [],
                "removes": [],
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def alter_column_type(
        self, name: str, dtype: str, max_retries: int = 3
    ) -> int:
        """ALTER TABLE ALTER COLUMN … TYPE — metadata-only type WIDENING
        per the Iceberg promotion rules (tinyint→smallint/int/bigint,
        smallint→int/bigint, int→bigint, float→double, decimal(p,s)→
        decimal(p+,s)): no data file is rewritten — existing files keep
        their frozen physical type and every reader widens at scan time
        (Spark's parquet reader performs these promotions natively;
        the Arrow DataSource path casts to the logical schema). Narrowing
        and unrelated changes refuse loudly — they would corrupt or
        truncate existing data. Bucket columns refuse: the bucket hash is
        type-sensitive (Murmur3 over int and long differ), so widening
        one would scatter future appends across wrong buckets. Time
        travel to a pre-widen version still reads the old type exactly."""
        from pyspark.sql.types import StructType as _StructType

        try:
            new_fld = _StructType.fromDDL(f"`{name}` {dtype}").fields[0]
        except Exception:
            raise ValueError(f"cannot parse column type {dtype!r}") from None
        new_simple = new_fld.dataType.simpleString()
        for _attempt in range(max_retries):
            cur = self.snapshot()
            names = [f.name for f in cur.schema.fields]
            if name not in names:
                raise ValueError(f"no column {name!r} in {self.root}")
            old_simple = cur.schema[name].dataType.simpleString()
            if not _is_widening(old_simple, new_simple):
                raise ValueError(
                    f"ALTER COLUMN {name!r} TYPE {old_simple} -> "
                    f"{new_simple} is not a supported widening "
                    "(tinyint→smallint/int/bigint, smallint→int/bigint, "
                    "int→bigint, float→double, decimal(p,s)→decimal(p+,s)); "
                    "narrowing or re-typing requires rewriting the table "
                    "via a full overwrite"
                )
            if name in (cur.bucket_by.get("cols") or []):
                raise ValueError(
                    f"cannot widen bucket column {name!r}: the bucket "
                    "hash is type-sensitive, so appends after the widen "
                    "would land in wrong buckets — re-bucket via a full "
                    "overwrite"
                )
            d = json.loads(cur.schema_json)
            nf = json.loads(_StructType([new_fld]).json())["fields"][0]
            for f in d["fields"]:
                if f["name"] == name:
                    f["type"] = nf["type"]
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "alter_column_type",
                "schema": json.dumps(d),
                "partition_by": list(cur.partition_by or []),
                "constraints": cur.constraints,
                "column_mapping": cur.column_mapping,
                "adds": [],
                "removes": [],
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def drop_column(self, name: str, max_retries: int = 3) -> int:
        """ALTER TABLE DROP COLUMN — metadata commit, no file rewrite:
        the column leaves the schema; its frozen physical name joins the
        snapshot's ``dropped_physical`` tombstone list so no future
        column (explicit add_column OR implicit append-time schema
        evolution) can ever re-bind the dead bytes still sitting in
        active data files. Time travel to a pre-drop version still reads
        the column. Refused for partition columns (baked into directory
        layout), constraint-referenced columns (the stored expression
        would go stale), and the last remaining column."""
        import re as _re

        for _attempt in range(max_retries):
            cur = self.snapshot()
            names = [f.name for f in cur.schema.fields]
            if name not in names:
                raise ValueError(f"no column {name!r} in {self.root}")
            if len(names) == 1:
                raise ValueError(
                    f"cannot drop {name!r}: it is the last column of "
                    f"{self.root}"
                )
            if name in (cur.partition_by or []):
                raise ValueError(
                    f"cannot drop partition column {name!r}: its physical "
                    "name is baked into the directory layout"
                )
            if name in (cur.bucket_by.get("cols") or []):
                raise ValueError(
                    f"cannot drop bucket column {name!r}: its physical "
                    "name is baked into the bucket file layout"
                )
            hit = [
                n
                for n, e in cur.constraints.items()
                if _re.search(rf"\b{_re.escape(name)}\b", e)
            ]
            if hit:
                raise ValueError(
                    f"cannot drop {name!r}: referenced by CHECK "
                    f"constraint(s) {hit} — drop them first"
                )
            mapping = dict(cur.column_mapping)
            phys = mapping.pop(name, name)
            dropped = list(cur.dropped_physical)
            if phys not in dropped:
                dropped.append(phys)
            d = json.loads(cur.schema_json)
            d["fields"] = [f for f in d["fields"] if f["name"] != name]
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], cur),
                "parent_id": cur.snapshot_id,
                "operation": "drop_column",
                "schema": json.dumps(d),
                "partition_by": list(cur.partition_by or []),
                "constraints": cur.constraints,
                "column_mapping": mapping,
                "dropped_physical": dropped,
                "adds": [],
                "removes": [],
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def restore(self, version: int, max_retries: int = 3) -> int:
        """RESTORE TABLE … TO VERSION AS OF — Delta semantics: a NEW
        commit (history is append-only; the bad versions stay auditable)
        whose active file set, schema, partition spec, constraints, and
        column mapping are the target version's. Metadata-only: data
        files are shared with the old snapshot, nothing is rewritten.
        Refuses if any target file was vacuumed (the restore would
        publish dangling references)."""
        old = self.snapshot(version)  # validates the version exists
        missing = [
            p
            for p in old.files
            if not os.path.exists(os.path.join(self.data_dir, p))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.root} to v{version}: files were "
                f"vacuumed: {missing[:3]}…"
            )
        for _attempt in range(max_retries):
            cur = self.snapshot()
            adds = [m for p, m in old.files.items() if p not in cur.files]
            removes = [p for p in cur.files if p not in old.files]
            new_version = cur.version + 1
            payload = {
                "version": new_version,
                "snapshot_id": _snapshot_id(new_version, adds, removes, cur),
                "parent_id": cur.snapshot_id,
                "operation": "restore",
                "schema": old.schema_json,
                "partition_by": list(old.partition_by or []),
                "bucket_by": old.bucket_by,
                "bloom_cols": old.bloom_cols,
                "defaults": old.defaults,
                "generated": old.generated,
                "properties": old.properties,
                "constraints": old.constraints,
                "column_mapping": old.column_mapping,
                "dropped_physical": old.dropped_physical,
                "dvs": old.dvs,
                "adds": adds,
                "removes": removes,
            }
            try:
                self._commit(new_version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(new_version)
            return new_version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def shallow_clone(
        self, dest_root: str, version: int | None = None
    ) -> "TableLog":
        """``CREATE TABLE … SHALLOW CLONE src [VERSION AS OF n]`` — a
        ZERO-COPY fork of a snapshot (Delta's dev/test-fork verb): the
        clone is an independent table whose v1 references the source
        snapshot's data files via HARDLINKS, so no bytes move at any
        table size. Divergence is free both ways: writes to either table
        never touch the other (commits are per-table; CoW rewrites
        replace files rather than mutating them), and VACUUM on either
        side only unlinks its own directory entry — the shared inode
        lives until the last referent drops it. Deletion vectors, bucket
        layout, column mapping, constraints, and Bloom sidecars all
        carry over; history does NOT (the clone starts at v1, recording
        its lineage in the commit's ``cloned_from``/``cloned_version``).
        Requires same-filesystem roots (hardlink semantics ARE the
        zero-copy contract — a cross-filesystem clone would silently
        become a full copy, so it refuses instead)."""
        import errno

        snap = self.snapshot(version)  # validates the version
        dest = TableLog(self.spark, dest_root)
        if dest.exists():
            raise ValueError(f"clone destination {dest_root} already exists")
        # link into a TEMP tree, publish with one atomic rename (round
        # 11, advice r10): a mid-loop link failure or crash used to
        # leave orphan hardlinks in the real data dir with no commit —
        # and a retry then died on EEXIST, misreported as "no hardlink
        # support". The temp tree is removed on any failure, so a retry
        # always starts clean.
        os.makedirs(dest_root, exist_ok=True)
        if os.path.isdir(dest.data_dir):
            # a commit-less data dir can only be debris from a pre-fix
            # crashed clone (dest.exists() above proved no commit
            # references it) — clear it so the rename below lands
            _rmtree(dest.data_dir)
        tmp_data = os.path.join(dest_root, f".tmp-clone-{uuid.uuid4().hex}")
        os.makedirs(tmp_data)

        def _link(rel: str) -> None:
            src_p = os.path.join(self.data_dir, rel)
            dst_p = os.path.join(tmp_data, rel)
            os.makedirs(os.path.dirname(dst_p), exist_ok=True)
            try:
                os.link(src_p, dst_p)
            except OSError as e:
                if e.errno == errno.EXDEV:
                    raise ValueError(
                        f"shallow clone requires {self.root} and "
                        f"{dest_root} on the SAME filesystem (hardlink "
                        "semantics ARE the zero-copy contract; a cross-"
                        "filesystem clone would silently become a full "
                        f"copy): linking {rel!r} failed with EXDEV"
                    ) from e
                raise ValueError(
                    f"shallow clone of {self.root} failed linking "
                    f"{rel!r}: {e}"
                ) from e

        adds = []
        try:
            for rel, meta in snap.files.items():
                if not os.path.exists(os.path.join(self.data_dir, rel)):
                    raise FileNotFoundError(
                        f"cannot clone {self.root}@v{snap.version}: {rel} "
                        "was vacuumed"
                    )
                _link(rel)
                for entry in (meta.get("bloom") or {}).values():
                    side = entry.get("sidecar")
                    if side:
                        _link(side)
                adds.append(dict(meta))
            os.rename(tmp_data, dest.data_dir)
        except BaseException:
            _rmtree(tmp_data)
            raise
        os.makedirs(dest.log_dir, exist_ok=True)
        payload = {
            "version": 1,
            "snapshot_id": _snapshot_id(1, adds, [], None),
            "parent_id": None,
            "operation": "clone",
            "cloned_from": self.root,
            "cloned_version": snap.version,
            "schema": snap.schema_json,
            "partition_by": list(snap.partition_by or []),
            "bucket_by": snap.bucket_by,
            "bloom_cols": snap.bloom_cols,
            "defaults": snap.defaults,
            "generated": snap.generated,
            "properties": snap.properties,
            "constraints": snap.constraints,
            "column_mapping": snap.column_mapping,
            "dropped_physical": snap.dropped_physical,
            "dvs": snap.dvs,
            "adds": adds,
            "removes": [],
        }
        dest._commit(1, payload)
        return dest

    # -- write path ---------------------------------------------------------

    def _harvest_blooms(
        self,
        adds: list[dict],
        bloom_cols: list[str] | None,
        mapping: dict[str, str] | None,
    ) -> None:
        """Attach per-file Bloom bitmaps for the opted-in columns to the
        freshly staged add-actions: ONE distributed pass over the
        commit's new files per column (never the whole table — write
        amplification stays proportional to the commit). The driver
        collects only (file, distinct bit positions ≤ _BLOOM_M) pairs.
        Partition columns are skipped (partition pruning is already
        exact and the values aren't in the files); a column absent from
        the staged files (subset-schema append) gets an EMPTY bitmap —
        correct, those files read it as all-NULL and equality never
        matches NULL."""
        if not adds or not bloom_cols:
            return
        import base64

        phys = [
            _phys_name(mapping or {}, c)
            for c in bloom_cols
            if c not in (adds[0].get("partition_values") or {})
        ]
        if not phys:
            return
        import zlib

        full = [os.path.join(self.data_dir, a["path"]) for a in adds]
        df = self.spark.read.parquet(*full)
        by_base = {os.path.basename(a["path"]): a for a in adds}
        kk = _BLOOM_K
        # Round 10 (verdict task 6): the per-row payload shipped to the
        # Python fold is cut from (filename string + K int64 md5 words)
        # to (crc32 file code + K int32 POSITIONS) — Arrow transfer was
        # the measured floor of the harvest, and positions beat raw hash
        # words because pmod runs JVM-side. That requires ONE m for the
        # whole commit (a per-file m would need a per-row map lookup),
        # sized from the LARGEST add's row count — small files in a
        # mixed commit get a bigger-than-needed bitmap (bounded by
        # _BLOOM_M_MAX), never an undersized one. Hashing is Spark
        # Murmur3 (hash(col, i), whole-stage codegen) instead of
        # md5+hex-conv; entries carry h=m3 and the driver probe mirrors
        # the exact Spark variant (_murmur3_*). The fold still runs as
        # mapInPandas with ZERO shuffle: each scan partition folds
        # partial bitmaps and the driver ORs them.
        m_commit = _bloom_m_for(
            max(max(1, int(a.get("rows") or 1)) for a in adds)
        )
        code_of = {
            b: zlib.crc32(b.encode("utf-8")) & 0xFFFFFFFF for b in by_base
        }
        collision = len(set(code_of.values())) < len(code_of)
        base_of_code = {c: b for b, c in code_of.items()}
        for pc in phys:
            results: dict[str, bytes] = {}
            if pc in df.columns:
                positions = [
                    F.pmod(
                        F.hash(F.col(pc).cast("string"), F.lit(i)),
                        F.lit(m_commit),
                    )
                    .cast("int")
                    .alias(f"p{i}")
                    for i in range(_BLOOM_K)
                ]
                fname = F.substring_index(F.input_file_name(), "/", -1)
                if collision:
                    # ~2^-22 per commit even at 1000 files; keep the
                    # exact string key rather than risk misattribution
                    fcol = fname.alias("f")
                    fschema = "f string, bm binary"
                else:
                    fcol = F.crc32(F.encode(fname, "UTF-8")).alias("f")
                    fschema = "f long, bm binary"
                mm = m_commit

                def fold(batches):
                    # SELF-CONTAINED closure (python workers don't share
                    # the driver's sys.path). One bool array per file
                    # accumulated ACROSS the partition's Arrow batches —
                    # yielding per batch would ship a full-size partial
                    # bitmap every 10k rows (measured 1.5 GB collected at
                    # 15M rows). Boolean fancy-assignment + packbits:
                    # duplicate positions are legal for bits[p]=True and
                    # it runs ~20x faster than np.bitwise_or.at.
                    import numpy as np
                    import pandas as pd

                    accs: dict = {}
                    for pdf in batches:
                        if not len(pdf):
                            continue
                        for b, sub in pdf.groupby("f", sort=False):
                            bits = accs.get(b)
                            if bits is None:
                                bits = accs[b] = np.zeros(mm, dtype=bool)
                            for i in range(kk):
                                bits[
                                    sub[f"p{i}"].to_numpy(dtype=np.int64)
                                ] = True
                    for b, bits in accs.items():
                        yield pd.DataFrame(
                            {
                                "f": [b],
                                "bm": [
                                    np.packbits(
                                        bits, bitorder="little"
                                    ).tobytes()
                                ],
                            }
                        )

                rows = (
                    df.where(F.col(pc).isNotNull())
                    .select(fcol, *positions)
                    .mapInPandas(fold, fschema)
                    .collect()
                )
                import numpy as _np

                acc: dict[str, Any] = {}
                for r in rows:
                    b = r.f if collision else base_of_code[int(r.f)]
                    a8 = _np.frombuffer(bytes(r.bm), dtype=_np.uint8)
                    acc[b] = (acc[b] | a8) if b in acc else a8
                results = {f: a8.tobytes() for f, a8 in acc.items()}
            for base, a in by_base.items():
                bm = results.get(base, bytes(m_commit // 8))
                entry: dict = {"m": m_commit, "k": _BLOOM_K, "h": "m3"}
                if m_commit <= _BLOOM_INLINE_MAX:
                    entry["b64"] = base64.b64encode(bm).decode()
                else:
                    rel = _bloom_sidecar_rel(a["path"], pc)
                    with open(os.path.join(self.data_dir, rel), "wb") as fh:
                        fh.write(bm)
                    entry["sidecar"] = rel
                a.setdefault("bloom", {})[pc] = entry

    def _stage(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        mapping: dict[str, str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> list[dict]:
        """Write df's files into the shared data tree (via a staging dir so
        a crash mid-write leaves no half-registered state — files without a
        commit are invisible) and return their add-actions with stats.
        ``mapping`` (logical→physical, column mapping): files are always
        written under PHYSICAL names so every file of the table spells a
        column the same way regardless of when it was written."""
        if mapping:
            df = _rename_columns(df, mapping)
        staging = os.path.join(self.root, f"_staged-{uuid.uuid4().hex}")
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)

        adds: list[dict] = []
        prefix = uuid.uuid4().hex[:8]
        for dirpath, _dirs, fnames in os.walk(staging):
            rel_dir = os.path.relpath(dirpath, staging)
            for fname in fnames:
                if not fname.endswith(".parquet"):
                    continue
                part_vals = _parse_partition_values(rel_dir)
                rel = os.path.join(
                    "" if rel_dir == "." else rel_dir, f"{prefix}-{fname}"
                )
                dest = os.path.join(self.data_dir, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(os.path.join(dirpath, fname), dest)
                stats, rows = _file_stats(dest)
                adds.append(
                    {
                        "path": rel,
                        "rows": rows,
                        "bytes": os.path.getsize(dest),
                        "partition_values": part_vals,
                        "stats": stats,
                    }
                )
        _rmtree(staging)
        self._harvest_blooms(adds, bloom_cols, mapping)
        return adds

    def _stage_bucketed(
        self,
        df: DataFrame,
        n_buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None,
        mapping: dict[str, str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> list[dict]:
        """Stage df through Spark's BUCKETED writer (the only writer that
        produces the bucket-tagged file names a bucketed scan trusts):
        an EXTERNAL saveAsTable into a scratch location, metadata dropped
        immediately, files moved — names intact, the bucket id lives in
        them — into a fresh ``data/b-<hex>/`` directory. A single-write
        snapshot therefore holds ONE bucket directory (read_bucketed
        binds LOCATION straight at it); layout-preserving appends
        (round 9) add further ``b-*`` directories under the SAME
        (n, cols) spec — Spark's bucketed scan groups files into buckets
        by the bucket id in each file name, so multiple files per bucket
        across directories keep the co-location contract, and
        read_bucketed unifies multi-directory snapshots through a
        hardlink view (``_bucket_view``). ``mapping`` (logical→physical,
        column mapping): appends write under the standing physical
        names, exactly like ``_stage``; bucket columns are always
        identity-mapped (rename_column refuses them)."""
        if mapping:
            df = _rename_columns(df, mapping)
            bucket_cols = [_phys_name(mapping, c) for c in bucket_cols]
            sort_cols = (
                [_phys_name(mapping, c) for c in sort_cols]
                if sort_cols
                else sort_cols
            )
        spark = df.sparkSession
        staging = os.path.join(self.root, f"_staged-{uuid.uuid4().hex}")
        tmp_table = f"__txb_stage_{uuid.uuid4().hex[:12]}"
        try:
            w = df.write.mode("errorifexists").option("path", staging)
            w = w.bucketBy(n_buckets, *bucket_cols)
            if sort_cols:
                w = w.sortBy(*sort_cols)
            w.saveAsTable(tmp_table)
        except Exception:
            # a failed staging write must not leak the scratch catalog
            # entry or half-written files (same crash contract as _stage:
            # files without a commit are invisible, but tidy up anyway)
            spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
            _rmtree(staging)
            raise
        spark.sql(f"DROP TABLE `{tmp_table}`")  # external: files stay

        bdir = f"b-{uuid.uuid4().hex[:12]}"
        adds: list[dict] = []
        for dirpath, _dirs, fnames in os.walk(staging):
            for fname in fnames:
                if not fname.endswith(".parquet"):
                    continue
                rel = os.path.join(bdir, fname)  # NAME KEPT: bucket tag
                dest = os.path.join(self.data_dir, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(os.path.join(dirpath, fname), dest)
                stats, rows = _file_stats(dest)
                adds.append(
                    {
                        "path": rel,
                        "rows": rows,
                        "bytes": os.path.getsize(dest),
                        "partition_values": {},
                        "stats": stats,
                    }
                )
        _rmtree(staging)
        self._harvest_blooms(adds, bloom_cols, mapping)
        return adds

    def read_bucketed(self, version: int | None = None) -> DataFrame:
        """The snapshot as a session-catalog BUCKETED table: joins and
        aggregations keyed on the bucket columns plan with ZERO Exchange
        (the write already co-located the rows — the 100 TB fact-join
        contract, test_bucketed_txlog_join_has_no_shuffle). Registers an
        external bucketed table over the version's bucket directory on
        first use (deterministic name per (table, version): re-calls and
        time travel each get their own binding). Plain ``read()`` stays
        available and identical in VALUES — bucketing is a physical
        property."""
        snap = self.snapshot(version)
        if not snap.bucket_by:
            raise ValueError(
                f"table {self.root} is not bucketed at version "
                f"{snap.version}; write(bucket_by=(n, cols)) first or use "
                "read()"
            )
        if not snap.files:  # empty bucketed write — no directory to bind
            return self.spark.createDataFrame([], snap.schema)
        dirs = {os.path.dirname(p) for p in snap.files}
        if len(dirs) == 1:
            # single-write snapshot: bind LOCATION straight at its bucket
            # directory (listing == active set by construction)
            loc = os.path.join(self.data_dir, dirs.pop())
        else:
            # layout-preserving appends (round 9) leave the active set
            # spread over several b-* directories; the catalog table needs
            # ONE LOCATION whose listing equals the active set, so build a
            # per-version hardlink view (metadata-only, no data copied)
            loc = self._bucket_view(snap)
        spark = self.spark
        name = (
            "__txb_"
            + hashlib.md5(
                f"{os.path.abspath(self.root)}@{snap.version}".encode()
            ).hexdigest()[:16]
        )
        if spark.catalog.tableExists(name):
            # the binding is keyed by (table path, version), but the
            # version counter restarts when a table root is deleted and
            # recreated, and vacuum can remove an old bucket directory —
            # either way the cached entry would serve a missing or WRONG
            # location (it also persists in a metastore across sessions).
            # Validate the registered LOCATION against this snapshot's
            # bucket directory and rebind on any mismatch.
            import urllib.parse as _up

            bound = next(
                (
                    r.data_type
                    for r in spark.sql(
                        f"DESCRIBE FORMATTED `{name}`"
                    ).collect()
                    if r.col_name == "Location"
                ),
                None,
            )
            bound_path = (
                os.path.abspath(_up.unquote(_up.urlparse(bound).path))
                if bound
                else None
            )
            if bound_path != os.path.abspath(loc):
                spark.sql(f"DROP TABLE `{name}`")  # external: files stay
        if not spark.catalog.tableExists(name):
            cols_ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in _physical_schema(
                    snap.schema, snap.column_mapping
                ).fields
            )
            bcols = ", ".join(f"`{c}`" for c in snap.bucket_by["cols"])
            sort_clause = (
                " SORTED BY (" + ", ".join(
                    f"`{c}`" for c in snap.bucket_by.get("sort") or []
                ) + ")"
                if snap.bucket_by.get("sort")
                else ""
            )
            spark.sql(
                f"CREATE TABLE `{name}` ({cols_ddl}) USING PARQUET "
                f"CLUSTERED BY ({bcols}){sort_clause} "
                f"INTO {snap.bucket_by['n']} BUCKETS "
                f"LOCATION '{loc}'"
            )
        df = spark.table(name)
        dvs = {
            os.path.basename(p): v for p, v in snap.dvs.items() if v
        }
        if dvs:
            # merge-on-read on a bucketed table (round 11): mask the
            # deleted positions with a BROADCAST anti-join on
            # (file basename, row_index). A broadcast join preserves
            # the streamed side's output partitioning, so joins and
            # aggregations keyed on the bucket columns STILL plan zero
            # Exchange (plan-asserted in tests) — the CDC-trickle-into-
            # bucketed-fact shape stops paying file rewrites. The
            # vector is _DV_INLINE_CAP-bounded, so the broadcast side
            # is always tiny.
            df = (
                _with_positions(df, df.columns)
                .join(
                    F.broadcast(self._positions_frame(dvs)),
                    ["__dv_file", "__dv_pos"],
                    "left_anti",
                )
                .drop("__dv_file", "__dv_pos")
            )
        inverse = {p: l for l, p in snap.column_mapping.items()}
        return _rename_columns(df, inverse)

    def _bucket_view(self, snap: "Snapshot") -> str:
        """One directory whose listing IS the active file set of a
        multi-directory bucketed snapshot: hard links into
        ``_bucketview/v<version>`` (atomic rename from a tmp dir, so a
        crashed builder leaves nothing half-visible; a stale or partial
        view — e.g. after a vacuumed file — is detected by listing
        comparison and rebuilt). Hard links cost no data copy; vacuum
        drops views outside its retention horizon so reclaimed files
        actually free their bytes."""
        view_root = os.path.join(self.root, "_bucketview")
        view = os.path.join(view_root, f"v{snap.version}")
        want = {os.path.basename(p): p for p in snap.files}
        if len(want) != len(snap.files):
            raise AssertionError(
                "bucketed file basenames must be unique across the "
                f"snapshot of {self.root} (staging writes uuid-fresh "
                "names; a collision means the data tree was edited "
                "out-of-band)"
            )
        if os.path.isdir(view):
            have = {f for f in os.listdir(view) if f.endswith(".parquet")}
            if have == set(want):
                return view
            _rmtree(view)  # partial/stale — rebuild below
        tmp = os.path.join(view_root, f".tmp-{uuid.uuid4().hex}")
        os.makedirs(tmp)
        for base, rel in want.items():
            os.link(os.path.join(self.data_dir, rel), os.path.join(tmp, base))
        try:
            os.rename(tmp, view)
        except OSError:
            _rmtree(tmp)  # a racing reader built the same view first
        return view

    def _refuse_bucketed(self, snap: "Snapshot", op: str) -> None:
        if snap.bucket_by:
            raise ValueError(
                f"{op} on bucketed table {self.root} would emit files "
                "outside the bucket layout and silently break the "
                "co-location contract; grow a bucketed table with "
                "write(mode='append') (layout-preserving) or rewrite it "
                "via write(mode='overwrite', bucket_by=...)"
            )

    def _stage_for(self, base: "Snapshot", df: DataFrame) -> list[dict]:
        """Stage rewrite output under the table's standing layout: a
        bucketed table re-stages through the BUCKETED writer (round 10 —
        copy-on-write row-level DML no longer refuses on bucketed
        tables; the new files' bucket-tagged names join the layout
        exactly like a layout-preserving append, so co-bucketed joins on
        the mutated table still plan zero Exchange), everything else
        through the plain partitioned stager."""
        spec = base.bucket_by
        if spec:
            return self._stage_bucketed(
                df,
                spec["n"],
                list(spec["cols"]),
                list(spec.get("sort") or []) or None,
                mapping=base.column_mapping,
                bloom_cols=base.bloom_cols,
            )
        return self._stage(
            df, base.partition_by or None, mapping=base.column_mapping,
            bloom_cols=base.bloom_cols,
        )

    def last_txn_version(self, app_id: str) -> int | None:
        """High-water mark of an idempotent writer (see ``write(txn=…)``):
        the largest txn version this ``app_id`` has committed, or None if
        it never has. Scans commit metadata NEWEST-FIRST and stops at the
        first commit carrying the app_id — an app's txn versions commit
        in strictly increasing order (``write`` skips any replay at or
        below the high-water mark), so the newest occurrence IS the max.
        A continuously-folding writer (one summary commit per microbatch)
        calls this on every write; the full-log scan made that O(n²) in
        total commit-file I/O over the stream's life, this is O(1) per
        write for the common tail-writer case."""
        for v in reversed(self.versions()):
            with open(self._commit_path(v)) as f:
                t = json.load(f).get("txn")
            if t and t[0] == app_id:
                return t[1]
        return None

    def _appends_may_conflict(self, base, cur, filters) -> bool:
        """Commit-time concurrent-append conflict check for the row-level
        operations (the Delta ConcurrentAppendException rule for
        MERGE/DELETE/UPDATE): files that joined the active set AFTER our
        base snapshot may hold rows matching our predicate — rows the
        operation scanned for at the base version and never saw.
        Committing over them would let a MERGE insert a key a concurrent
        append already wrote (duplicate keys) or leave the appended rows
        un-updated/un-deleted. True ⇒ the caller retries from a fresh
        snapshot, so the recomputed candidate set includes the new files.
        Bounds are conservative: a new file with no stats for a predicate
        column always conflicts (``_may_match`` keeps it). Accepts a
        flat conjunction or a DNF list-of-conjunctions (normalized via
        ``_as_dnf``)."""
        if cur.version == base.version:
            return False
        pdnf = _as_dnf(filters)
        new_files = [m for p, m in cur.files.items() if p not in base.files]
        return any(_dnf_may_match(m, pdnf, self.data_dir) for m in new_files)

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        replace_where: dict[str, list] | None = None,
        max_retries: int = 3,
        txn: tuple[str, int] | None = None,
        evolve_partitioning: bool = False,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        generated: dict[str, dict] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        """Commit df as a new table version. Modes:

        - ``overwrite``  — new files become the table; previous files are
          removed from the active set (still on disk for time travel).
        - ``append``     — new files join the active set.
        - ``replace_where={col: [values…]}`` (with mode="overwrite") —
          dynamic partition overwrite: only active files whose partition
          values match are removed (idempotent partition reload, the
          reference-append upgrade of SURVEY.md §4.3.3).

        ``evolve_partitioning=True`` (append only) is Iceberg-style
        partition-spec evolution: the append may declare a DIFFERENT
        ``partition_by`` than the table's current spec — the commit's
        spec becomes current, files written under earlier specs stay
        active, and every reader goes through the spec-safe grouped
        reader (``_read_file_metas``). Row-level ops rewrite touched
        rows into the current spec (Iceberg's rewrite behavior);
        ``replace_where`` stays spec-strict.

        ``bloom_cols=[col, …]`` sets the table's Bloom-indexed columns
        (Delta's Bloom filter index, opt-in per column): every listed
        column gets a small per-file bitmap harvested at write time —
        one distributed pass over each commit's NEW files — consulted
        by equality/IN pruning, so a point DELETE on a uniformly
        distributed key touches only Bloom-positive files. The property
        persists in the log (carried by every later commit, including
        appends and row-op rewrites) until explicitly changed;
        ``bloom_cols=[]`` clears it, None inherits. Restricted to
        string/integral/date/boolean columns (the cross-engine hash
        rendering must be exact) and non-partition columns.

        ``txn=(app_id, version)`` is the Delta-style idempotent-writer
        token (txnAppId/txnVersion): the pair is recorded in the commit,
        and a write whose version is ≤ the app's recorded high-water mark
        is SKIPPED (returns the current table version, commits nothing) —
        the guard that makes at-least-once producers (foreachBatch
        replaying a microbatch after a crash) exactly-once at the table.

        Data files land once; only the commit is retried on a concurrency
        loss, re-resolving removes against the winner's snapshot.
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unsupported mode {mode!r}")
        if generated is not None and (mode != "overwrite" or replace_where):
            # declare-time generated specs ride CREATE/REPLACE semantics
            # (round 12): only a full overwrite redefines the table's
            # metadata wholesale — appends inherit, ALTER is set_generated
            raise ValueError(
                "generated column specs may only be declared by a full "
                "overwrite (CREATE/REPLACE semantics); use "
                "set_generated() to ALTER an existing table"
            )
        if properties is not None and (mode != "overwrite" or replace_where):
            raise ValueError(
                "create-time TBLPROPERTIES may only ride a full "
                "overwrite; use set_properties() to ALTER"
            )
        if bucket_by is not None:
            # bucketing spec: a physical layout established by a full
            # overwrite (see Snapshot.bucket_by) and PRESERVED by appends
            # (round 9: append re-stages through the bucketed writer under
            # the table's standing spec — validated against the live
            # snapshot below). Partitioning composes with bucketing in
            # Hive; kept orthogonal here for a crisp dirs-are-the-active-
            # set invariant read_bucketed() depends on.
            if replace_where:
                raise ValueError(
                    "bucket_by does not compose with replace_where "
                    "(partition reloads have no bucket layout)"
                )
            if partition_by:
                raise ValueError(
                    "bucket_by does not compose with partition_by on this "
                    "format; pick one physical layout"
                )
            missing = [c for c in bucket_by[1] if c not in df.columns]
            if missing:
                raise ValueError(f"bucket columns {missing} not in the data")
        if txn is not None:
            seen = self.last_txn_version(txn[0])
            if seen is not None and txn[1] <= seen:
                return self.versions()[-1]

        def validate(cur: Snapshot | None) -> str:
            """Layout guard + evolved schema against a given snapshot.
            Runs BEFORE staging (fail before materializing/orphaning
            df's files) and again per commit attempt — a commit that
            wins the race between attempts may have evolved the schema
            or (via overwrite) changed the layout; publishing guards
            computed against the stale parent would silently erase the
            winner's evolution."""
            if (
                cur is not None
                and cur.partition_by != list(partition_by or [])
                and (mode == "append" or replace_where)
                and not (mode == "append" and evolve_partitioning)
            ):
                # appends and partition replaces extend the CURRENT
                # layout; only a full overwrite may re-partition (it
                # replaces the active set wholesale, so old-layout files
                # all leave the snapshot) — UNLESS the append opts into
                # Iceberg-style partition-spec evolution: the commit's
                # partition_by becomes the table's current spec, files
                # written under earlier specs stay active, and every
                # reader goes through the spec-safe grouped reader
                # (_read_file_metas). replace_where stays spec-strict:
                # "overwrite these partition values" is only well-defined
                # against one spec.
                raise ValueError(
                    f"table partitioning is {cur.partition_by}; append/"
                    f"replace_where writes must match it, got {partition_by}"
                    " (append may opt into evolve_partitioning=True)"
                )
            # schema evolution: appends/partition-replaces EXTEND the
            # table schema (new nullable columns append; old files read
            # them as null; a column the writer omits stays in the schema
            # and reads null for the new files). Type changes and full
            # overwrites that keep old files are where corruption hides,
            # so types must match exactly and only a full overwrite may
            # redefine the schema wholesale.
            if cur is not None and (mode == "append" or replace_where):
                return _merge_schemas(cur.schema_json, df.schema.json())
            return df.schema.json()

        pre = self.snapshot() if self.exists() else None
        validate(pre)
        # staged_bucket: the bucket spec this write's files were staged
        # under (None = plain files). For appends it is the TABLE'S
        # standing spec — the layout-preserving append contract: new files
        # go through the same bucketed writer, so their bucket-tagged
        # names join the existing layout and co-bucketed joins on the
        # grown table still plan zero Exchange. The retry loop re-checks
        # the live snapshot against this spec every attempt (a concurrent
        # overwrite may change the layout mid-write).
        staged_bucket: dict | None = None
        if pre is not None and replace_where:
            self._refuse_bucketed(pre, "write(replace_where=...)")
        elif pre is not None and mode == "append":
            if pre.bucket_by:
                spec = pre.bucket_by
                if bucket_by is not None and (
                    bucket_by[0] != spec["n"]
                    or list(bucket_by[1]) != list(spec["cols"])
                ):
                    raise ValueError(
                        f"append bucket spec ({bucket_by[0]}, "
                        f"{list(bucket_by[1])}) differs from the table's "
                        f"standing layout ({spec['n']}, {spec['cols']}); "
                        "appends must preserve the layout — re-bucket via "
                        "a full overwrite"
                    )
                if sort_by is not None and list(sort_by) != list(
                    spec.get("sort") or []
                ):
                    raise ValueError(
                        f"append sort spec {list(sort_by)} differs from "
                        f"the table's standing layout "
                        f"{spec.get('sort') or []}; appends must preserve "
                        "the layout"
                    )
                staged_bucket = spec
            elif bucket_by is not None:
                raise ValueError(
                    "append with bucket_by requires the table to already "
                    "be bucketed with the same spec; establish a bucket "
                    "layout via mode='overwrite'"
                )
        if bucket_by is not None and mode == "overwrite":
            staged_bucket = {
                "n": bucket_by[0],
                "cols": list(bucket_by[1]),
                "sort": list(sort_by or []),
            }
        pre_gen = dict(pre.generated) if pre else {}
        decl_gen: dict | None = None
        if generated is not None:
            # CREATE/REPLACE-time generated declaration (round 12): the
            # given specs REPLACE the table's generated metadata the way
            # the overwrite's schema replaces its schema. Declared columns
            # absent from df materialize (identity as BIGINT NULLs — the
            # allocate-me marker; computed columns at their expression's
            # inferred type), so a CTAS need not carry them; identity
            # values the df DOES carry are kept (the admin/copy path) and
            # the high-water mark advances over them from staged stats.
            for c, spec in generated.items():
                if c in df.columns:
                    continue
                if "identity" in (spec or {}):
                    df = df.withColumn(c, F.lit(None).cast("bigint"))
                elif "expr" in (spec or {}):
                    others = [
                        k for k in generated if k != c and k in df.columns
                    ]
                    try:
                        inferred = (
                            df.limit(0)
                            .drop(*others)
                            .selectExpr(f"({spec['expr']})")
                            .schema[0]
                            .dataType
                        )
                    except Exception as e:
                        raise ValueError(
                            f"GENERATED ALWAYS AS expression for {c!r} "
                            f"must bind over the data's non-generated "
                            f"columns; {spec['expr']!r} failed: {e}"
                        ) from e
                    df = df.withColumn(c, F.lit(None).cast(inferred))
                # malformed specs fall through to the validator's error
            decl_gen = self._validate_generated_specs(
                generated, df.schema, pre.defaults if pre else {}
            )
            df = self._apply_generated(df, decl_gen, df.schema)
            pre_gen = {}
        elif pre_gen:
            # generated columns (round 11): identity columns cannot be
            # PROVIDED by an append/replace (Delta's GENERATED ALWAYS
            # rule — the engine allocates); a full overwrite is the
            # admin path (restore/copy flows) and may carry existing
            # values, over which the high-water mark then advances.
            # Computed columns are recomputed unconditionally; missing
            # generated columns materialize, so the write's schema
            # always keeps them.
            if mode == "append" or replace_where:
                provided = [
                    c
                    for c, s in pre_gen.items()
                    if "identity" in s and c in df.columns
                ]
                if provided:
                    raise ValueError(
                        f"identity column(s) {provided} are GENERATED "
                        "ALWAYS — appends may not provide them; omit "
                        "the column and the engine allocates"
                    )
            df = self._apply_generated(df, pre_gen, pre.schema)
        if pre is not None:
            self._enforce_constraints(df, pre.constraints, mode)
        # column mapping: a full overwrite redefines the schema wholesale,
        # so its new columns freeze physical = logical (mapping resets);
        # append/replace keep writing under the standing physical names
        keep_mapping = mode == "append" or bool(replace_where)
        pre_mapping = (pre.column_mapping if pre else {}) if keep_mapping else {}
        # a full overwrite replaces the active set wholesale, so dropped-
        # column tombstones (physical names that must not re-bind) reset
        # with it; append/replace carry them forward
        pre_dropped = (pre.dropped_physical if pre else []) if keep_mapping else []
        if pre is not None and keep_mapping:
            # implicit schema evolution binds a NEW column under its
            # literal (identity) physical name — refuse names that would
            # alias a live physical column (a rename froze it) or re-bind
            # a dropped column's dead bytes; add_column allocates a fresh
            # physical id for exactly this case
            taken = set(pre_mapping.values()) | set(pre_dropped)
            bad = [
                c
                for c in df.schema.names
                if c not in pre.schema.names and c in taken
            ]
            if bad:
                raise ValueError(
                    f"new column(s) {bad} collide with a frozen physical "
                    f"or dropped column name of {self.root}; run "
                    "add_column() first (it allocates a fresh physical id)"
                )
        # Bloom property: explicit arg sets/clears, None inherits the
        # table's standing list (survives overwrites like constraints —
        # it is a table property, not a layout)
        eff_bloom = (
            list(bloom_cols)
            if bloom_cols is not None
            else list(pre.bloom_cols if pre else [])
        )
        if bloom_cols:
            for c in bloom_cols:
                if c in (partition_by or []):
                    raise ValueError(
                        f"bloom column {c!r} is a partition column — "
                        "partition pruning is already exact"
                    )
                if c not in df.columns:
                    raise ValueError(f"bloom column {c!r} not in the data")
                t = df.schema[c].dataType.simpleString()
                if t not in _BLOOM_TYPES:
                    raise ValueError(
                        f"bloom column {c!r} has type {t}; Bloom file "
                        f"skipping supports {sorted(_BLOOM_TYPES)} (the "
                        "cross-engine hash rendering must be exact)"
                    )
        if staged_bucket is not None:
            # overwrite: the reset-to-identity mapping (above) means the
            # bucketed files spell logical names — exactly what the
            # catalog table read_bucketed() registers expects. Append:
            # files write under the standing physical names (mapping
            # applied inside _stage_bucketed), same as _stage.
            adds = self._stage_bucketed(
                df,
                staged_bucket["n"],
                list(staged_bucket["cols"]),
                list(staged_bucket.get("sort") or []) or None,
                mapping=pre_mapping,
                bloom_cols=eff_bloom,
            )
        else:
            adds = self._stage(
                df, partition_by, mapping=pre_mapping, bloom_cols=eff_bloom
            )

        enforced_constraints = pre.constraints if pre else {}
        base_gen = decl_gen if decl_gen is not None else pre_gen
        new_gen = self._bump_identity_high(
            base_gen, adds, pre_mapping
        ) if base_gen else None
        for _attempt in range(max_retries):
            cur = self.snapshot() if self.exists() else None
            if generated is None and (
                dict(cur.generated) if cur else {}
            ) != pre_gen:
                # a concurrent generated-column DDL (or another commit's
                # high-water bump) landed after our fill: our allocated
                # identity values came from a stale mark and could
                # collide — surface the race, don't guess
                raise ConcurrentCommitError(
                    f"write to {self.root} raced a concurrent generated-"
                    "column change; re-run the write"
                )
            if mode == "append" and (
                ((cur.bucket_by if cur else {}) or {})
                != (staged_bucket or {})
            ):
                # a concurrent overwrite changed the bucket layout after
                # we staged: committing these files would either inject
                # untagged files into a bucketed snapshot (breaking the
                # bucket-directory invariant read_bucketed trusts) or
                # carry a stale spec — surface the race, don't guess
                raise ConcurrentCommitError(
                    f"append to {self.root} raced a concurrent layout "
                    f"change (bucket spec now "
                    f"{(cur.bucket_by if cur else {}) or None}, files "
                    f"staged for {staged_bucket or None}); re-run the "
                    "append against the current layout"
                )
            if replace_where and cur is not None and cur.bucket_by:
                # same race for partition reloads: the table became
                # bucketed between staging and commit
                raise ConcurrentCommitError(
                    f"replace_where on {self.root} raced a concurrent "
                    "bucketed overwrite; re-run against the current layout"
                )
            cur_constraints = cur.constraints if cur else {}
            if cur_constraints != enforced_constraints:
                # a concurrent add/drop-constraint landed after our
                # pre-staging validation: its own validation scan never
                # saw these staged rows, so committing them unchecked
                # would let violations through — re-enforce against the
                # CURRENT constraint set before publishing
                self._enforce_constraints(df, cur_constraints, mode)
                enforced_constraints = cur_constraints
            if keep_mapping and (cur.dropped_physical if cur else []) != pre_dropped:
                # a concurrent drop_column landed while we were staging:
                # the schema merge below could re-bind the dropped
                # column's dead bytes — surface the race, don't guess
                raise ConcurrentCommitError(
                    f"write to {self.root} raced a concurrent column "
                    "drop; re-read the table and retry with its current "
                    "column names"
                )
            if keep_mapping and (cur.column_mapping if cur else {}) != pre_mapping:
                # a rename landed while we were staging: our files carry
                # physical names derived from the pre-rename logical view
                # and the schema merge below would mis-read the renamed
                # column as a new one — surface the race, don't guess
                raise ConcurrentCommitError(
                    f"write to {self.root} raced a concurrent column "
                    "rename; re-read the table and retry with its current "
                    "column names"
                )
            schema_json = validate(cur)
            version = (cur.version if cur else 0) + 1
            if _attempt and txn is not None:
                # a lost race may have been lost to OUR OWN replayed twin
                # (same app_id): re-check the high-water mark before
                # re-committing the same logical transaction
                seen = self.last_txn_version(txn[0])
                if seen is not None and txn[1] <= seen:
                    return self.versions()[-1]
            if mode == "append":
                removes: list[str] = []
            elif replace_where and cur:
                removes = [
                    p
                    for p, m in cur.files.items()
                    if _partition_match(m.get("partition_values", {}), replace_where)
                ]
            else:
                removes = list(cur.files) if cur else []
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, removes, cur),
                "parent_id": cur.snapshot_id if cur else None,
                "operation": mode if not replace_where else "replace_where",
                "schema": schema_json,
                "partition_by": list(partition_by or []),
                "column_mapping": pre_mapping,
                "dropped_physical": pre_dropped,
                "bloom_cols": eff_bloom,
                "adds": adds,
                "removes": removes,
                **({"txn": [txn[0], txn[1]]} if txn is not None else {}),
            }
            if generated is not None:
                # declaration commit: ALWAYS write the key (replacement
                # semantics — an empty dict explicitly clears)
                payload["generated"] = (
                    new_gen if new_gen is not None else decl_gen
                )
            elif new_gen is not None:
                payload["generated"] = new_gen
            if properties is not None:
                # create-time TBLPROPERTIES: SET semantics over whatever
                # the table carries (same merge rule as set_properties)
                payload["properties"] = {
                    **(cur.properties if cur else {}),
                    **{str(k): str(v) for k, v in properties.items()},
                }
            if bucket_by is not None:
                payload["bucket_by"] = {
                    "n": bucket_by[0],
                    "cols": list(bucket_by[1]),
                    "sort": list(sort_by or []),
                }
            elif mode == "overwrite" and not replace_where:
                payload["bucket_by"] = {}  # full overwrite resets layout
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _maybe_checkpoint(self, version: int) -> None:
        if version % CHECKPOINT_EVERY:
            return
        snap = self.snapshot(version)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "files": snap.files,
                    "snapshot_id": snap.snapshot_id,
                    "schema": snap.schema_json,
                    "partition_by": snap.partition_by,
                    "constraints": snap.constraints,
                    "column_mapping": snap.column_mapping,
                    "dropped_physical": snap.dropped_physical,
                    "dvs": snap.dvs,
                    "bucket_by": snap.bucket_by,
                    "bloom_cols": snap.bloom_cols,
                    "defaults": snap.defaults,
                    "generated": snap.generated,
                    "properties": snap.properties,
                },
                f,
            )
        try:
            os.link(tmp, self._checkpoint_path(version))
        except FileExistsError:
            pass  # a racing reader-side checkpointer beat us — same content
        finally:
            os.unlink(tmp)

    # -- read path ----------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        filters: list[tuple] | None = None,
        timestamp_ms: int | None = None,
    ) -> DataFrame:
        """DataFrame over a snapshot. ``filters`` — [(col, op, value)] with
        op in {"==", "<", "<=", ">", ">=", "between"}, or a DNF
        list-of-conjunctions [[...], [...]] (OR of AND-groups; each
        disjunct prunes independently, candidates union) — prune files by
        log partition values and footer min/max BEFORE Spark plans the scan,
        then re-apply as real Spark filters (correctness never depends on
        stats; skipping is purely an I/O win, same contract as Iceberg
        manifest pruning). ``timestamp_ms`` is TIMESTAMP AS OF: the
        snapshot current at that commit wall-clock time."""
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version or timestamp_ms, not both")
            version = self.version_at(timestamp_ms)
        snap = self.snapshot(version)
        metas = list(snap.files.values())
        dnf = _as_dnf(filters or [])
        if dnf:
            pdnf = _dnf_physical(dnf, snap.column_mapping)
            metas = [m for m in metas if _dnf_may_match(m, pdnf, self.data_dir)]
        paths = [os.path.join(self.data_dir, m["path"]) for m in metas]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"snapshot v{snap.version} references vacuumed files: "
                f"{missing[:3]}…"
            )
        df = self._read_file_metas(
            metas, snap.schema, snap.column_mapping, snap.dvs
        )
        if dnf:
            # the exact predicate re-applies on the rows (skipping is an
            # I/O win, never a correctness dependency) — same OR-of-ANDs
            # shape the row ops take since round 8
            df = df.filter(_dnf_column(dnf))
        return df

    def _read_file_metas(
        self,
        metas: list[dict],
        schema,
        mapping: dict[str, str] | None = None,
        dvs: dict[str, list[int]] | None = None,
    ) -> DataFrame:
        """DataFrame over explicit file metas, PARTITION-SPEC-SAFE: files
        are grouped by the set of partition keys their paths encode and
        each group is read separately (hive-style dir reconstruction per
        group, plain read for dir-less files), then unioned by name.
        With partition evolution (``write(..., evolve_partitioning=True)``,
        the Iceberg spec-evolution semantics) one snapshot legitimately
        holds files written under different specs — a single basePath
        read would die with Spark's conflicting-directory-structures
        error. Single-spec snapshots take the original one-read path
        unchanged (no extra Project in their plans).

        ``dvs`` (deletion vectors, relpath → deleted row positions):
        files WITHOUT a vector keep the plain scan; files WITH one read
        alongside ``_metadata`` (file basename + row_index — basenames
        are uuid-unique across the table) and drop their deleted
        positions with a broadcast anti-join. Vectors are bounded by
        ``_DV_INLINE_CAP`` so the anti-join side is always tiny."""
        if not metas:
            return self.spark.createDataFrame([], schema)
        present = {m["path"] for m in metas}
        dvs = {
            os.path.basename(p): v
            for p, v in (dvs or {}).items()
            if v and p in present
        }

        clean = [m for m in metas if os.path.basename(m["path"]) not in dvs]
        parts = []
        if clean:
            parts.append(self._grouped_scan(clean, schema, mapping))
        if dvs:
            dv_metas = [
                m for m in metas if os.path.basename(m["path"]) in dvs
            ]
            kept = (
                self._grouped_scan(dv_metas, schema, mapping, positions=True)
                .join(
                    F.broadcast(self._positions_frame(dvs)),
                    ["__dv_file", "__dv_pos"],
                    "left_anti",
                )
                .drop("__dv_file", "__dv_pos")
            )
            parts.append(kept)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if mapping:
            out = _rename_columns(out, {p: l for l, p in mapping.items()})
            out = out.select(*[out[n] for n in schema.names])
        return out

    def _grouped_scan(
        self,
        metas: list[dict],
        schema,
        mapping: dict[str, str] | None,
        positions: bool = False,
    ) -> DataFrame:
        """The files of ``metas`` under physical column names, one read
        per partition spec (see _read_file_metas) unioned by name.
        ``positions`` adds each row's deletion-vector coordinates
        (``_with_positions``)."""
        phys = _physical_schema(schema, mapping or {})
        groups: dict[tuple, list] = {}
        for m in metas:
            key = tuple(sorted((m.get("partition_values") or {}).keys()))
            groups.setdefault(key, []).append(m)
        dfs = []
        for key, group in groups.items():
            paths = [os.path.join(self.data_dir, m["path"]) for m in group]
            reader = self.spark.read.schema(phys)
            if key:
                reader = reader.option("basePath", self.data_dir)
            d = reader.parquet(*paths)
            dfs.append(_with_positions(d, phys.names) if positions else d)
        cols = list(phys.names) + (
            ["__dv_file", "__dv_pos"] if positions else []
        )
        out = dfs[0]
        if len(dfs) > 1:
            # pin the declared column order before unioning: partition
            # columns reconstructed from dirs can land at the tail
            out = out.select(*[out[n] for n in cols])
            for d in dfs[1:]:
                out = out.unionByName(d.select(*[d[n] for n in cols]))
        return out

    def _positions_frame(self, dvs: dict[str, list[int]]) -> DataFrame:
        """``(__dv_file, __dv_pos)`` rows of file basename → row
        positions: the broadcast side of every deletion-vector join
        (bounded by ``_DV_INLINE_CAP``)."""
        return self.spark.createDataFrame(
            [(b, int(p)) for b, ps in dvs.items() for p in ps],
            "__dv_file string, __dv_pos long",
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """Iceberg's ``table.files`` metadata relation: one row per active
        data file with size, row count, partition values, per-column
        min/max (stringified for a stable schema), and deletion-vector
        position count. Driver-side log metadata only — no data file is
        opened (the same information every scan's pruning uses)."""
        snap = self.snapshot(version)
        rows = []
        for p, m in sorted(snap.files.items()):
            stats = m.get("stats") or {}
            rows.append(
                (
                    p,
                    int(m.get("rows") or 0),
                    int(m.get("bytes") or 0),
                    {
                        k: (None if v is None else str(v))
                        for k, v in (m.get("partition_values") or {}).items()
                    },
                    {c: str(s.get("min")) for c, s in stats.items()},
                    {c: str(s.get("max")) for c, s in stats.items()},
                    len(snap.dvs.get(p, [])),
                )
            )
        return local_frame(
            self.spark,
            rows,
            "path string, rows long, bytes long, "
            "partition_values map<string,string>, "
            "min_values map<string,string>, max_values map<string,string>, "
            "dv_positions long",
        )

    # -- maintenance --------------------------------------------------------

    def table_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        net: bool = False,
    ) -> DataFrame:
        """Delta-style change data feed: the rows added and removed by
        each commit in ``(from_version, to_version]``, tagged
        ``_change_type`` ('insert' | 'delete' | 'update_preimage' |
        'update_postimage'), ``_commit_version`` and ``_commit_ts_ms``.
        Batch CDC — the complement of the streaming tail
        (sources/pyds.py), which only carries appends.

        UPDATE IMAGES (round 11, Delta CDF parity — downstream CDC
        consumers pattern-match on the update_* types): an ``update_dv``
        commit's masked rows are pre-images and its appended rows
        post-images by definition; a ``merge_dv`` commit records its
        update-branch positions (``dv_update``) and tags its post-image
        files, so its feed separates updates from inserts/deletes
        exactly; a copy-on-write UPDATE commit carries a derivable-CDC
        record (predicate + SET map) from which the exact changed rows
        re-derive at READ time — its surviving co-located rows emit
        nothing (no delete+insert noise), at zero write-time cost.
        Copy-on-write MERGE commits remain file-granularity (their
        delete+insert pairs cancel additively — the pre-round-11
        contract); ``net=True`` output is unchanged everywhere
        (update images fold as their additive equivalents).

        File granularity means an overwrite reports every replaced row as
        a delete plus every new row as an insert (exactly what downstream
        incremental consumers must apply); ``optimize`` commits rewrite
        files WITHOUT changing rows, so they are skipped entirely. Removed
        rows read from the pre-vacuum files — CDC over vacuumed history
        raises FileNotFoundError like any time travel would. Deleted rows
        read under the PARENT snapshot's schema (the schema their files
        were active under — a full overwrite may have redefined the new
        commit's schema incompatibly); the union across commits resolves
        by name, so a dropped column's deleted values survive in the
        feed. A column whose TYPE differs across the window (a
        type-redefining overwrite) is emitted as string on every change —
        Spark's own union coercion would cast-crash at runtime, and
        losing the window entirely helps no one; consumers that need the
        typed value read a window that stays on one side of the
        redefinition.
        """
        all_versions = self.versions()
        if not all_versions:
            raise FileNotFoundError(f"no table at {self.root}")
        if to_version is not None and to_version > all_versions[-1]:
            # an incremental consumer passing a version that does not exist
            # yet must hear about it — silently clamping would let it mark
            # not-yet-committed versions as processed and skip them forever
            raise ValueError(
                f"{self.root} has no version {to_version} "
                f"(latest is {all_versions[-1]})"
            )
        if from_version > all_versions[-1]:
            # the symmetric bookkeeping guard: from_version == latest
            # legitimately yields an empty window, but anything ABOVE it
            # cannot have been processed — a consumer with a corrupted
            # high-water mark must learn it is skipping history, not get
            # a silent empty feed forever
            raise ValueError(
                f"{self.root} has no version {from_version} to read from "
                f"(latest is {all_versions[-1]})"
            )
        hi = all_versions[-1] if to_version is None else to_version
        versions = [v for v in all_versions if from_version < v <= hi]
        parts: list[DataFrame] = []
        # parent schemas resolved incrementally: commits in the window are
        # consecutive, so after the first snapshot() each commit's schema
        # IS the next one's parent — one log pass, not one snapshot replay
        # per remove-bearing commit
        # column-mapping eras: each part reads under the mapping current
        # when its files were ACTIVE (deletes: the parent's; inserts: the
        # commit's), then renames to the LATEST logical names so renamed
        # columns line up across the whole window instead of splitting
        # into old-name/new-name half-null pairs under unionByName
        cur_mapping = self.snapshot(all_versions[-1]).column_mapping
        inv_cur = {pv: lv for lv, pv in cur_mapping.items()}
        parent_schema_json: str | None = None
        parent_mapping: dict | None = None

        def _emit(part, label, mapping_era, v, c):
            """Rename a change part to current logical names and tag it
            with the change type + commit coordinates."""
            if part is None:
                return
            if mapping_era or cur_mapping:
                ren = {
                    n: inv_cur.get(_phys_name(mapping_era, n), n)
                    for n in part.columns
                }
                part = _rename_columns(
                    part, {a: b for a, b in ren.items() if a != b}
                )
            parts.append(
                part.withColumn("_change_type", F.lit(label))
                .withColumn("_commit_version", F.lit(v).cast("long"))
                .withColumn(
                    "_commit_ts_ms", F.lit(c.get("ts_ms")).cast("long")
                )
            )

        for v in versions:
            with open(self._commit_path(v)) as f:
                c = json.load(f)
            if c["operation"] == "optimize":
                parent_schema_json = c["schema"]
                parent_mapping = c.get("column_mapping", parent_mapping)
                continue
            if c["operation"] in (
                "delete_dv",
                "update_dv",
                "merge_dv",
                "merge_latest_dv",
            ):
                # merge-on-read delete/update: the commit's deletion-
                # vector map minus the parent's IS the masked row set —
                # read exactly those positions from the (untouched)
                # files. Round 11, Delta CDF parity: an update_dv's
                # masked rows are BY DEFINITION update pre-images (an
                # UPDATE never deletes), and a merge_dv records its
                # update-branch positions in ``dv_update`` — those emit
                # as update_preimage, the rest as delete. update_dv /
                # merge_dv additionally fall through to the adds loop so
                # their new row versions emit as update_postimage /
                # insert.
                if parent_mapping is None:
                    parent_mapping = (
                        self.snapshot(v - 1).column_mapping if v > 1 else {}
                    )
                pdvs = self.snapshot(v - 1).dvs if v > 1 else {}
                schema_v = StructType.fromJson(json.loads(c["schema"]))
                delta: dict[str, list[int]] = {}
                for p, vv in (c.get("dvs") or {}).items():
                    fresh = sorted(set(vv) - set(pdvs.get(p, [])))
                    if fresh:
                        delta[p] = fresh
                if c["operation"] == "update_dv":
                    upd_pos, del_pos = delta, {}
                else:
                    du = c.get("dv_update") or {}
                    upd_pos = {p: x for p, x in du.items() if x}
                    del_pos = {}
                    for p, x in delta.items():
                        rest = sorted(set(x) - set(upd_pos.get(p, [])))
                        if rest:
                            del_pos[p] = rest
                for label, posmap in (
                    ("update_preimage", upd_pos),
                    ("delete", del_pos),
                ):
                    if not posmap:
                        continue
                    _emit(
                        self._read_dv_rows(
                            c, pdvs, schema_v, parent_mapping or {},
                            positions=posmap,
                        ),
                        label,
                        parent_mapping or {},
                        v,
                        c,
                    )
                parent_schema_json = c["schema"]
                if c["operation"] == "delete_dv":
                    continue
            cfiles = c.get("cdc_files")
            if cfiles:
                # CDF sidecar commit (round 11 — delta.enableChangeData
                # Feed): the exact change rows were written at commit
                # time with their _change_type; read them EXCLUSIVELY —
                # the commit's adds/removes would re-report survivors
                if parent_mapping is None:
                    parent_mapping = (
                        self.snapshot(v - 1).column_mapping if v > 1 else {}
                    )
                cschema = StructType.fromJson(json.loads(c["cdc_schema"]))
                paths = [os.path.join(self.root, p) for p in cfiles]
                missing = [p for p in paths if not os.path.exists(p)]
                if missing:
                    raise FileNotFoundError(
                        f"change feed for v{v} references removed CDC "
                        f"sidecar files: {missing[:3]}…"
                    )
                part = self.spark.read.schema(cschema).parquet(*paths)
                m_use = parent_mapping or {}
                if m_use or cur_mapping:
                    ren = {
                        n: inv_cur.get(_phys_name(m_use, n), n)
                        for n in part.columns
                        if n != "_change_type"
                    }
                    part = _rename_columns(
                        part, {a: b for a, b in ren.items() if a != b}
                    )
                parts.append(
                    part.withColumn(
                        "_commit_version", F.lit(v).cast("long")
                    ).withColumn(
                        "_commit_ts_ms",
                        F.lit(c.get("ts_ms")).cast("long"),
                    )
                )
                parent_schema_json = c["schema"]
                parent_mapping = c.get("column_mapping", parent_mapping)
                continue
            cd = c.get("cdc_derive")
            if c["operation"] == "update" and cd:
                # copy-on-write UPDATE with derivable CDC (round 11):
                # re-derive the exact changed rows from the removed
                # files' alive rows — pre-images are the predicate
                # matches, post-images the same rows through the SET map
                # (+ generated-column recompute). The surviving
                # co-located rows emit NOTHING (no delete+insert noise),
                # matching Delta's CDC-file output.
                if parent_mapping is None:
                    parent_mapping = (
                        self.snapshot(v - 1).column_mapping if v > 1 else {}
                    )
                if parent_schema_json is None:
                    parent_schema_json = self.snapshot(v - 1).schema_json
                pschema = StructType.fromJson(json.loads(parent_schema_json))
                fmetas = [
                    {
                        "path": p,
                        "partition_values": _parse_partition_values(
                            os.path.dirname(p) or "."
                        ),
                    }
                    for p in c.get("removes", [])
                ]
                missing = [
                    m["path"]
                    for m in fmetas
                    if not os.path.exists(
                        os.path.join(self.data_dir, m["path"])
                    )
                ]
                if missing:
                    raise FileNotFoundError(
                        f"change feed for v{v} references vacuumed "
                        f"files: {missing[:3]}…"
                    )
                pdvs = self.snapshot(v - 1).dvs if v > 1 else {}
                alive = self._read_file_metas(
                    fmetas, pschema, parent_mapping or {}, pdvs
                )
                cond = F.coalesce(
                    _dnf_column(_cdc_derive_dnf(cd)), F.lit(False)
                )
                pre = alive.filter(cond)
                sets = cd["set"]
                post = pre.select(
                    *[
                        F.expr(sets[fld.name])
                        .cast(fld.dataType)
                        .alias(fld.name)
                        if fld.name in sets
                        else F.col(fld.name)
                        for fld in pschema.fields
                    ]
                )
                for gcol, gexpr in (cd.get("gen") or {}).items():
                    if gcol in pschema.names:
                        post = post.withColumn(
                            gcol,
                            F.expr(gexpr).cast(pschema[gcol].dataType),
                        )
                _emit(pre, "update_preimage", parent_mapping or {}, v, c)
                _emit(post, "update_postimage", parent_mapping or {}, v, c)
                parent_schema_json = c["schema"]
                parent_mapping = c.get("column_mapping", parent_mapping)
                continue
            adds_ = c.get("adds", [])
            add_groups: list[tuple[str, list]] = []
            if adds_:
                if c["operation"] == "update_dv":
                    add_groups.append(("update_postimage", adds_))
                elif any(a.get("cdc") == "update_post" for a in adds_):
                    post_a = [
                        a for a in adds_ if a.get("cdc") == "update_post"
                    ]
                    ins_a = [
                        a for a in adds_ if a.get("cdc") != "update_post"
                    ]
                    if post_a:
                        add_groups.append(("update_postimage", post_a))
                    if ins_a:
                        add_groups.append(("insert", ins_a))
                else:
                    add_groups.append(("insert", adds_))
            for kind, metas in add_groups + [
                ("delete", c.get("removes", []))
            ]:
                if not metas:
                    continue
                if parent_mapping is None and (
                    kind == "delete" or "column_mapping" not in c
                ):
                    parent_mapping = (
                        self.snapshot(v - 1).column_mapping if v > 1 else {}
                    )
                m_use = (
                    parent_mapping
                    if kind == "delete"
                    else c.get("column_mapping", parent_mapping)
                ) or {}
                if kind == "delete":
                    if parent_schema_json is None:
                        parent_schema_json = self.snapshot(v - 1).schema_json
                    schema = StructType.fromJson(json.loads(parent_schema_json))
                    # removes are bare paths; reconstruct each file's
                    # partition values from its dirs so the spec-safe
                    # reader can group mixed layouts (partition evolution)
                    fmetas = [
                        {
                            "path": p,
                            "partition_values": _parse_partition_values(
                                os.path.dirname(p) or "."
                            ),
                        }
                        for p in metas
                    ]
                else:
                    schema = StructType.fromJson(json.loads(c["schema"]))
                    fmetas = metas
                paths = [
                    os.path.join(self.data_dir, m["path"]) for m in fmetas
                ]
                missing = [p for p in paths if not os.path.exists(p)]
                if missing:
                    raise FileNotFoundError(
                        f"change feed for v{v} references vacuumed files: "
                        f"{missing[:3]}…"
                    )
                # removed files report only their ALIVE rows as deletes:
                # positions already dv-deleted under the parent snapshot
                # were emitted by the earlier *_dv commit — re-reading the
                # full file would double-report them (a CDC consumer
                # folding the feed would then double-apply the delete)
                dvs_use = (
                    (self.snapshot(v - 1).dvs if v > 1 else {})
                    if kind == "delete"
                    else None
                )
                part = self._read_file_metas(fmetas, schema, m_use, dvs_use)
                if m_use or cur_mapping:
                    # current logical name when the physical column is
                    # still live; a column dropped by the latest schema
                    # keeps its era-logical name in the feed
                    ren = {
                        n: inv_cur.get(_phys_name(m_use, n), n)
                        for n in part.columns
                    }
                    part = _rename_columns(
                        part, {a: b for a, b in ren.items() if a != b}
                    )
                parts.append(
                    part
                    .withColumn("_change_type", F.lit(kind))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                    .withColumn(
                        "_commit_ts_ms",
                        F.lit(c.get("ts_ms")).cast("long"),
                    )
                )
            parent_schema_json = c["schema"]
            parent_mapping = c.get("column_mapping", parent_mapping)
        if not parts:
            base = self.snapshot(all_versions[-1]).schema
            empty = StructType(
                base.fields
                + StructType.fromDDL(
                    "_change_type string, _commit_version long, _commit_ts_ms long"
                ).fields
            )
            return self.spark.createDataFrame([], empty)
        # stringify type-conflicted columns before the union (see docstring)
        seen_types: dict[str, Any] = {}
        conflicted: set[str] = set()
        for p in parts:
            for fld in p.schema.fields:
                t = seen_types.setdefault(fld.name, fld.dataType)
                if t != fld.dataType:
                    conflicted.add(fld.name)
        if conflicted:
            parts = [
                p.select(
                    *[
                        F.col(fld.name).cast("string").alias(fld.name)
                        if fld.name in conflicted
                        else F.col(fld.name)
                        for fld in p.schema.fields
                    ]
                )
                for p in parts
            ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if net:
            # collapse each commit to its NET row changes: copy-on-write
            # commits (row-level delete/update/merge) re-add every
            # surviving co-located row, so at file granularity they
            # appear as delete+insert pairs — additive consumers cancel
            # them, but non-additive consumers want the true diff. The
            # multiset difference per commit: group on every data column,
            # count inserts minus deletes, re-emit |net| copies with the
            # surviving sign. Nulls group as equal (SQL GROUP BY), which
            # is exactly multiset semantics.
            data_cols = [
                c
                for c in out.columns
                if c not in ("_change_type", "_commit_version", "_commit_ts_ms")
            ]
            # update images participate as their additive equivalents
            # (post ⇒ +1, pre ⇒ −1), so net output is BIT-IDENTICAL to
            # the pre-round-11 file-granularity diff: insert|delete only
            signed = F.when(
                F.col("_change_type").isin("insert", "update_postimage"), 1
            ).otherwise(-1)
            agg = (
                out.groupBy("_commit_version", "_commit_ts_ms", *data_cols)
                .agg(F.sum(signed).alias("_net"))
                .filter(F.col("_net") != 0)
            )
            out = agg.select(
                *data_cols,
                F.when(F.col("_net") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                "_commit_version",
                "_commit_ts_ms",
                F.explode(
                    F.sequence(F.lit(1), F.abs(F.col("_net")))
                ).alias("_dup"),
            ).drop("_dup")
        return out

    def optimize(
        self,
        n_files: int = 8,
        zorder_by: list[str] | None = None,
        max_retries: int = 3,
        where: list[tuple] | None = None,
        max_file_bytes: int | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the active data files into ``n_files`` larger
        ones — optionally Z-ORDER clustered (operators/zorder.py) so range
        predicates on ANY clustered column prune files — and publish the
        swap as ONE atomic commit (adds = new files, removes = exactly the
        files that were compacted). Row contents are unchanged: readers
        before and after see identical data, and time travel still reads
        the old files until vacuum reclaims them.

        Concurrency: the remove set is FROZEN at the snapshot we compacted
        (a concurrent append's files must survive — their rows are not in
        our rewrite). If a concurrent overwrite/replace removed any of
        those files first, committing would resurrect stale data, so the
        retry loop verifies the frozen set is still active and aborts
        with ConcurrentCommitError otherwise.

        Partitioned tables compact within partitions (repartition on the
        partition columns before the write splits files per partition);
        Z-ordering is an unpartitioned-table feature here — combining it
        with hive partitioning re-fragments the z-clusters per partition
        directory, recreating the small files it was meant to fix.

        BUCKETED tables compact THROUGH the bucketed writer: the rewrite
        re-stages under the standing (n, cols, sort) spec, so the
        co-location contract survives compaction (`n_files` is ignored —
        the bucket count IS the file-count policy; zorder_by refuses,
        it would fight the bucket clustering).

        SCOPED compaction (round 9 — at 100 TB a whole-table OPTIMIZE is
        not an operation, it is an outage): ``where`` restricts the
        rewrite to files whose PARTITION VALUES match the predicate
        (Delta's `OPTIMIZE … WHERE`, with Delta's restriction: only
        partition columns may appear — row-level predicates would make
        "which files to compact" depend on data reads);
        ``max_file_bytes`` compacts only files smaller than the
        threshold (the small-files-only policy: already-right-sized
        files keep their paths and are never rewritten). Both compose;
        untouched files' deletion vectors survive the commit untouched,
        selected files' vectors materialize into the rewrite as always.
        A selection of one-or-zero files commits nothing (returns the
        current version) unless z-ordering was requested.
        """
        base = self.snapshot()
        sel = dict(base.files)
        if where:
            wdnf = _as_dnf(where)
            pdnf = _dnf_physical(wdnf, base.column_mapping)
            part_cols = set(base.partition_by or [])
            bad = sorted(
                {
                    c
                    for d in pdnf
                    for (c, _op, _v) in d
                    if c not in part_cols
                }
            )
            if bad:
                raise ValueError(
                    f"OPTIMIZE WHERE supports partition columns only "
                    f"(got {bad}; partition columns are "
                    f"{sorted(part_cols) or None})"
                )
            sel = {
                p: m
                for p, m in sel.items()
                if _dnf_may_match(m, pdnf, self.data_dir)
            }
        if max_file_bytes is not None:
            sel = {
                p: m
                for p, m in sel.items()
                if int(m.get("bytes") or 0) < max_file_bytes
            }
        sel_has_dv = any(base.dvs.get(p) for p in sel)
        if not sel or (len(sel) <= 1 and not zorder_by and not sel_has_dv):
            # nothing to compact — no commit (a single file WITH a
            # deletion vector still compacts: materializing the vector
            # is the point)
            return base.version
        # read the FROZEN selection, not latest: a commit landing between
        # snapshot() and read() would otherwise get its rows copied into
        # the compacted files while its own files stay active — permanent
        # row duplication
        df = self._read_file_metas(
            list(sel.values()),
            base.schema,
            base.column_mapping,
            {p: v for p, v in base.dvs.items() if p in sel},
        )
        if zorder_by:
            if base.partition_by:
                raise ValueError(
                    "zorder_by on a partitioned table would re-fragment "
                    "per partition directory; z-order an unpartitioned "
                    "table or drop zorder_by"
                )
            if base.bucket_by:
                raise ValueError(
                    "zorder_by on a bucketed table would fight the bucket "
                    "clustering; drop zorder_by or re-layout via a full "
                    "overwrite"
                )
            from ..operators.zorder import z_order

            df = z_order(df, zorder_by, n_files)
        elif base.partition_by:
            df = df.repartition(*base.partition_by)
        elif not base.bucket_by:
            df = df.repartition(n_files)
        if base.bucket_by:
            # align tasks to buckets (repartition's Murmur3 hash is the
            # bucketed writer's own bucket function) so compaction lands
            # ONE file per bucket instead of files-per-task-per-bucket
            df = df.repartition(
                base.bucket_by["n"], *base.bucket_by["cols"]
            )
            adds = self._stage_bucketed(
                df,
                base.bucket_by["n"],
                list(base.bucket_by["cols"]),
                list(base.bucket_by.get("sort") or []),
                bloom_cols=base.bloom_cols,
            )
        else:
            adds = self._stage(
                df, base.partition_by or None, mapping=base.column_mapping,
                bloom_cols=base.bloom_cols,
            )
        removes = list(sel)

        for _attempt in range(max_retries):
            cur = self.snapshot()
            if not set(removes) <= set(cur.files):
                raise ConcurrentCommitError(
                    f"optimize of {self.root} lost to a concurrent "
                    "overwrite/replace: compacted files are no longer active"
                )
            if cur.dvs != base.dvs:
                raise ConcurrentCommitError(
                    f"optimize of {self.root} lost to a concurrent "
                    "deletion-vector commit: the compacted files were "
                    "built from the pre-delete snapshot"
                )
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, removes, cur),
                "parent_id": cur.snapshot_id,
                "operation": "optimize",
                "schema": cur.schema_json,
                "partition_by": list(base.partition_by or []),
                "adds": adds,
                "removes": removes,
                # Delta protocol semantics: a compaction's file actions
                # carry dataChange=false — every row in the new files was
                # already in the table, so streaming readers skip the
                # commit instead of dying (or double-emitting) on it
                "dataChange": False,
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return version
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def reorg_purge(self, max_retries: int = 3) -> dict:
        """``REORG TABLE … APPLY (PURGE)`` (round 12 — Delta's scoped
        deletion-vector purge): rewrite ONLY the active files that carry
        a deletion vector, materializing their soft-deleted rows out;
        every other file keeps its path, bytes and identity untouched.
        At 100 TB this is the difference between an operation and an
        outage — a table with 3 dv-carrying files out of 30,000 rewrites
        3 files, where a whole-table OPTIMIZE (round 11's only way to
        shed vectors) rewrites the active set. After the commit the
        snapshot's ``dvs`` map is empty by the replay rule (a file
        leaving the active set takes its vector with it).

        Layout-preserving like optimize: bucketed tables re-stage the
        purged rows through the bucketed writer under the standing spec
        (zero-Exchange joins survive), partitioned tables restage into
        their partition directories. The rewrite carries
        ``dataChange=false`` — no live row changes, streaming readers
        skip the commit (the deletes themselves were emitted by the dv
        commits that created the vectors).

        Returns {'version', 'files_purged', 'files_untouched',
        'rows_materialized'}; a table with no deletion vectors commits
        nothing."""
        base = self.snapshot()
        sel = {p: base.files[p] for p in base.files if base.dvs.get(p)}
        if not sel:
            return {
                "version": base.version,
                "files_purged": 0,
                "files_untouched": len(base.files),
                "rows_materialized": 0,
            }
        rows_mat = sum(len(base.dvs[p]) for p in sel)
        # read the FROZEN selection with its vectors applied — the
        # survivors are exactly the rows the purged files must carry
        df = self._read_file_metas(
            list(sel.values()),
            base.schema,
            base.column_mapping,
            {p: v for p, v in base.dvs.items() if p in sel},
        )
        if base.bucket_by:
            # align tasks to buckets so the purge lands one file per
            # touched bucket (same trick as optimize's bucketed path)
            df = df.repartition(
                base.bucket_by["n"], *base.bucket_by["cols"]
            )
            adds = self._stage_bucketed(
                df,
                base.bucket_by["n"],
                list(base.bucket_by["cols"]),
                list(base.bucket_by.get("sort") or []),
                bloom_cols=base.bloom_cols,
            )
        else:
            if base.partition_by:
                df = df.repartition(*base.partition_by)
            else:
                # per-file granularity: about as many files out as in
                df = df.repartition(len(sel))
            adds = self._stage(
                df,
                base.partition_by or None,
                mapping=base.column_mapping,
                bloom_cols=base.bloom_cols,
            )
        removes = list(sel)
        for _attempt in range(max_retries):
            cur = self.snapshot()
            if not set(removes) <= set(cur.files):
                raise ConcurrentCommitError(
                    f"reorg_purge of {self.root} lost to a concurrent "
                    "overwrite/replace: purged files are no longer active"
                )
            if {p: cur.dvs.get(p) for p in sel} != {
                p: base.dvs.get(p) for p in sel
            }:
                raise ConcurrentCommitError(
                    f"reorg_purge of {self.root} lost to a concurrent "
                    "deletion-vector commit on a purged file; re-run"
                )
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, removes, cur),
                "parent_id": cur.snapshot_id,
                "operation": "reorg_purge",
                "schema": cur.schema_json,
                "partition_by": list(base.partition_by or []),
                "adds": adds,
                "removes": removes,
                "dataChange": False,
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                "files_purged": len(sel),
                "files_untouched": len(base.files) - len(sel),
                "rows_materialized": rows_mat,
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def delete(
        self, filters: list[tuple], max_retries: int = 3, via: str = "cow"
    ) -> dict:
        """Row-level DELETE via copy-on-write — the Delta/Iceberg v1
        semantics the format was missing: only files whose log stats say
        they MAY contain matching rows are rewritten (everything else
        keeps its file untouched, path and all), matching rows are
        dropped, and the swap publishes as ONE atomic commit
        (operation='delete', removes = the rewritten candidates, adds =
        their survivors). Time travel still reads the pre-delete files;
        the change feed reports the commit at file granularity (deleted
        rows as 'delete'; surviving co-located rows as a
        delete+insert pair, which cancels in any additive consumer —
        exactly Delta CDF without deletion vectors).

        ``via="dv"`` switches to merge-on-read (Delta deletion vectors /
        Iceberg v2 position deletes): the commit records the matched ROW
        POSITIONS per file and rewrites NOTHING — a trickle delete on a
        100 TB table costs one metadata commit instead of file rewrites.
        Readers anti-filter the positions; OPTIMIZE (or any CoW row op
        touching the file) materializes them. Falls back to copy-on-write
        when the matched-position count would exceed ``_DV_INLINE_CAP``
        (a delete that big should materialize anyway — the Delta
        rewrite-threshold rationale).

        ``filters`` is the read()-style [(col, op, value)] conjunction,
        OR a DNF list-of-conjunctions [[...], [...]] meaning (… AND …)
        OR (… AND …) — each disjunct prunes files independently and the
        candidate set is their union (round 8: `DELETE FROM t WHERE a=1
        OR b=2` through the SQL verb). One representation drives BOTH
        the stats-based candidate pruning and the row predicate, so
        skipping can never disagree with semantics. Rows where the
        predicate is NULL are KEPT (SQL DELETE's WHERE semantics — the
        merge_upsert NULL lesson).

        Returns {'version', 'rows_deleted', 'files_rewritten',
        'files_skipped'}; a delete that matches nothing commits nothing.
        """
        if via == "dv":
            return self._delete_dv(filters, max_retries)
        if via != "cow":
            raise ValueError(f"via must be 'cow' or 'dv', got {via!r}")
        return self._rewrite_rows(filters, None, max_retries)

    _DV_INLINE_CAP = 100_000

    def _delete_dv(self, filters: list[tuple], max_retries: int) -> dict:
        if not filters:
            raise ValueError(
                "delete(via='dv') requires filters; truncating a table is "
                "write(mode='overwrite') with the surviving rows"
            )
        dnf = _as_dnf(filters)
        for _attempt in range(max_retries):
            base = self.snapshot()
            # bucketed tables take dv deletes too since round 11:
            # read_bucketed masks the positions with a broadcast
            # anti-join, which PRESERVES the bucketed scan's output
            # partitioning — the zero-Exchange join contract survives
            # (plan-asserted), and a point delete on a 100 TB bucketed
            # fact commits metadata-only instead of rewriting files
            pdnf = _dnf_physical(dnf, base.column_mapping)
            cand = {
                p: m
                for p, m in base.files.items()
                if _dnf_may_match(m, pdnf, self.data_dir)
            }
            skipped = len(base.files) - len(cand)
            if not cand:
                return {
                    "version": base.version,
                    "rows_deleted": 0,
                    "files_rewritten": 0,
                    "files_skipped": skipped,
                }
            # matched positions per candidate file: one distributed scan
            # carrying (file basename, row_index); rows already deleted by
            # a standing vector are excluded so counts stay exact and
            # vectors stay idempotent under re-runs
            cond = _dnf_column(dnf)
            hits, truncated = self._dv_positions(cand, base, cond)
            n_hits = sum(len(v) for v in hits.values())
            if n_hits == 0 and not truncated:
                return {
                    "version": base.version,
                    "rows_deleted": 0,
                    "files_rewritten": 0,
                    "files_skipped": skipped,
                }
            if truncated or (
                n_hits + sum(len(v) for v in base.dvs.values())
                > self._DV_INLINE_CAP
            ):
                # a delete this big should materialize anyway
                return self._rewrite_rows(filters, None, max_retries)
            dvs = {p: list(v) for p, v in base.dvs.items()}
            for p, pos in hits.items():
                dvs[p] = sorted(set(dvs.get(p, [])) | set(pos))
            cur = self.snapshot()
            if (
                cur.version != base.version
            ):
                # positions are only valid against the exact base state
                # (a concurrent rewrite renumbers nothing — files are
                # immutable — but it can REMOVE candidate files or add
                # matching rows); retry from fresh state
                continue
            version = base.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, [], [], base),
                "parent_id": base.snapshot_id,
                "operation": "delete_dv",
                "schema": base.schema_json,
                "partition_by": list(base.partition_by or []),
                "dvs": dvs,
                "adds": [],
                "removes": [],
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                "rows_deleted": n_hits,
                "files_rewritten": 0,
                "files_skipped": skipped,
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _dv_positions(
        self, cand: dict, base: "Snapshot", cond
    ) -> tuple[dict[str, list[int]], bool]:
        """Matched ALIVE row positions per candidate file (relpath →
        sorted row_index list) plus a truncation flag. Positions already
        deleted by standing vectors are excluded by the alive scan. The
        collect is capped at ``_DV_INLINE_CAP + 1`` rows — a driver can
        never be flooded by an unexpectedly huge delete; the caller
        falls back to copy-on-write when the flag is set."""
        if not cand:
            return {}, False
        return self._collect_positions(
            self._scan_with_positions(cand, base).filter(cond), cand
        )

    def _dv_positions_join(
        self, cand: dict, base: "Snapshot", source: DataFrame, keys: list[str]
    ) -> tuple[dict[str, list[int]], bool]:
        """Positions of alive candidate rows whose merge keys appear in
        the source — the semi-join twin of _dv_positions, same cap
        discipline."""
        if not cand:
            return {}, False
        return self._collect_positions(
            self._scan_with_positions(cand, base).join(
                source.select(*keys).distinct(), keys, "left_semi"
            ),
            cand,
        )

    def _collect_positions(
        self, scan: DataFrame, cand: dict
    ) -> tuple[dict[str, list[int]], bool]:
        rows = (
            scan.select("__dv_file", "__dv_pos")
            .limit(self._DV_INLINE_CAP + 1)
            .collect()
        )
        truncated = len(rows) > self._DV_INLINE_CAP
        base_by_name = {os.path.basename(p): p for p in cand}
        out: dict[str, list[int]] = {}
        for r in rows:
            out.setdefault(base_by_name[r["__dv_file"]], []).append(
                int(r["__dv_pos"])
            )
        return {p: sorted(v) for p, v in out.items()}, truncated

    def _read_dv_rows(
        self,
        c: dict,
        parent_dvs: dict[str, list[int]],
        schema,
        mapping: dict[str, str],
        positions: dict[str, list[int]] | None = None,
    ) -> DataFrame | None:
        """The rows a ``delete_dv`` commit deleted: for each file, the
        commit's positions minus the parent's, read back by an inclusion
        join on (file basename, row_index). Logical-era column names.
        Raises FileNotFoundError when the files were vacuumed — same
        contract as any other change-feed read. ``positions`` (round 11)
        overrides the delta computation with an explicit position map —
        the change feed uses it to split a merge commit's masked rows
        into update pre-images vs deletes."""
        if positions is not None:
            new_pos = {p: sorted(v) for p, v in positions.items() if v}
        else:
            new_pos = {}
            for p, v in (c.get("dvs") or {}).items():
                fresh = sorted(set(v) - set(parent_dvs.get(p, [])))
                if fresh:
                    new_pos[p] = fresh
        if not new_pos:
            return None
        missing = [
            p
            for p in new_pos
            if not os.path.exists(os.path.join(self.data_dir, p))
        ]
        if missing:
            raise FileNotFoundError(
                f"change feed for v{c['version']} references vacuumed "
                f"files: {missing[:3]}…"
            )
        metas = [
            {
                "path": p,
                "partition_values": _parse_partition_values(
                    os.path.dirname(p) or "."
                ),
            }
            for p in new_pos
        ]
        out = (
            self._grouped_scan(metas, schema, mapping, positions=True)
            .join(
                F.broadcast(
                    self._positions_frame(
                        {os.path.basename(p): v for p, v in new_pos.items()}
                    )
                ),
                ["__dv_file", "__dv_pos"],
                "inner",
            )
            .drop("__dv_file", "__dv_pos")
        )
        if mapping:
            out = _rename_columns(out, {p: l for l, p in mapping.items()})
            out = out.select(*[out[n] for n in schema.names])
        return out

    def update(
        self,
        filters: list[tuple],
        set_exprs: dict[str, str],
        max_retries: int = 3,
        via: str = "cow",
    ) -> dict:
        """Row-level UPDATE via the same copy-on-write machinery:
        ``set_exprs`` maps column name → SQL expression, applied to rows
        matching ``filters`` (NULL predicate = not matched, like SQL
        UPDATE). Updated values are cast back to the column's declared
        type — an UPDATE can never drift the table schema. New file
        stats are harvested on the rewrite, so skipping stays correct
        for the post-update values.

        ``via="dv"`` is the merge-on-read form (Delta DV updates): the
        matched rows' positions join the deletion vectors and ONLY the
        updated rows append as new files — a single-row update on a
        100 TB table appends one tiny file instead of rewriting its
        host. Same cap-and-fallback policy as delete(via='dv')."""
        if via == "dv":
            return self._update_dv(filters, set_exprs, max_retries)
        if via != "cow":
            raise ValueError(f"via must be 'cow' or 'dv', got {via!r}")
        return self._rewrite_rows(filters, set_exprs, max_retries)

    def _update_dv(
        self, filters: list[tuple], set_exprs: dict[str, str], max_retries: int
    ) -> dict:
        if not filters:
            raise ValueError("update(via='dv') requires filters")
        dnf = _as_dnf(filters)
        for _attempt in range(max_retries):
            base = self.snapshot()
            unknown = [c for c in set_exprs if c not in base.schema.names]
            if unknown:
                raise ValueError(f"update sets unknown columns {unknown}")
            self._refuse_generated_targets(
                base.generated, set_exprs, "UPDATE SET"
            )
            pdnf = _dnf_physical(dnf, base.column_mapping)
            cand = {
                p: m
                for p, m in base.files.items()
                if _dnf_may_match(m, pdnf, self.data_dir)
            }
            skipped = len(base.files) - len(cand)
            if not cand:
                return {
                    "version": base.version,
                    "rows_updated": 0,
                    "files_rewritten": 0,
                    "files_skipped": skipped,
                }
            cond = _dnf_column(dnf)
            hits, truncated = self._dv_positions(cand, base, cond)
            n_hits = sum(len(v) for v in hits.values())
            if n_hits == 0 and not truncated:
                return {
                    "version": base.version,
                    "rows_updated": 0,
                    "files_rewritten": 0,
                    "files_skipped": skipped,
                }
            if truncated or (
                n_hits + sum(len(v) for v in base.dvs.values())
                > self._DV_INLINE_CAP
            ):
                return self._rewrite_rows(filters, set_exprs, max_retries)
            # the updated rows: the SAME matched set (the dv-aware read
            # excludes already-deleted positions, exactly like
            # _dv_positions), with set exprs applied and values cast back
            # to the declared types
            matched = self._read_file_metas(
                list(cand.values()),
                base.schema,
                base.column_mapping,
                base.dvs,
            ).filter(F.coalesce(cond, F.lit(False)))
            cols = []
            for fld in base.schema.fields:
                if fld.name in set_exprs:
                    cols.append(
                        F.expr(set_exprs[fld.name])
                        .cast(fld.dataType)
                        .alias(fld.name)
                    )
                else:
                    cols.append(F.col(fld.name))
            updated = matched.select(*cols)
            if base.generated:
                updated = self._apply_generated(
                    updated, base.generated, base.schema
                )
            self._enforce_constraints(updated, base.constraints, "update")
            # _stage_for: a bucketed table's rewritten rows re-stage
            # through the bucketed writer, so the appended file joins
            # the bucket layout (round 11)
            adds = self._stage_for(base, updated)
            dvs = {p: list(v) for p, v in base.dvs.items()}
            for p, pos in hits.items():
                dvs[p] = sorted(set(dvs.get(p, [])) | set(pos))
            cur = self.snapshot()
            if cur.version != base.version:
                # positions and staged rows are only valid against the
                # exact base state — retry from fresh
                continue
            version = base.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, [], base),
                "parent_id": base.snapshot_id,
                "operation": "update_dv",
                "schema": base.schema_json,
                "partition_by": list(base.partition_by or []),
                "dvs": dvs,
                "adds": adds,
                "removes": [],
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                "rows_updated": n_hits,
                "files_rewritten": 0,
                "files_skipped": skipped,
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _rewrite_rows(
        self,
        filters: list[tuple],
        set_exprs: dict[str, str] | None,
        max_retries: int,
    ) -> dict:
        from pyspark.sql import functions as F

        if not filters:
            raise ValueError(
                "row-level delete/update requires filters; a full-table "
                "delete is write(empty_df, mode='overwrite')"
            )
        op = "delete" if set_exprs is None else "update"
        dnf = _as_dnf(filters)
        for _attempt in range(max_retries):
            base = self.snapshot()
            unknown = [c for c in (set_exprs or {}) if c not in base.schema.names]
            if unknown:
                raise ValueError(f"update sets unknown columns {unknown}")
            if set_exprs:
                self._refuse_generated_targets(
                    base.generated, set_exprs, "UPDATE SET"
                )
            pdnf = _dnf_physical(dnf, base.column_mapping)
            cand = {
                p: m
                for p, m in base.files.items()
                if _dnf_may_match(m, pdnf, self.data_dir)
            }
            skipped = len(base.files) - len(cand)
            if not cand:
                return {
                    "version": base.version,
                    ("rows_deleted" if op == "delete" else "rows_updated"): 0,
                    "files_rewritten": 0,
                    "files_skipped": skipped,
                }
            df = self._read_file_metas(
                list(cand.values()),
                base.schema,
                base.column_mapping,
                base.dvs,
            )
            cond = F.coalesce(_dnf_column(dnf), F.lit(False))
            n_matched = df.filter(cond).count()
            if n_matched == 0:
                # stats said "maybe", the data says no: nothing to commit
                return {
                    "version": base.version,
                    ("rows_deleted" if op == "delete" else "rows_updated"): 0,
                    "files_rewritten": 0,
                    "files_skipped": skipped,
                }
            if set_exprs is None:
                new_df = df.filter(~cond)
            else:
                cols = []
                for fld in base.schema.fields:
                    if fld.name in set_exprs:
                        cols.append(
                            F.when(
                                cond,
                                F.expr(set_exprs[fld.name]).cast(fld.dataType),
                            )
                            .otherwise(F.col(fld.name))
                            .alias(fld.name)
                        )
                    else:
                        cols.append(F.col(fld.name))
                new_df = df.select(*cols)
            if op == "update" and base.generated:
                # an UPDATE may change a computed column's source
                # columns — recompute so the invariant holds (identity
                # rows already carry values; the NULL-fill is a no-op)
                new_df = self._apply_generated(
                    new_df, base.generated, base.schema
                )
            if op == "update":
                # updated rows must still satisfy the table's CHECK
                # constraints (delete survivors satisfied them already)
                self._enforce_constraints(new_df, base.constraints, op)
            adds = self._stage_for(base, new_df)
            # derivable CDC metadata (round 11): lets table_changes
            # reconstruct exact update_preimage/update_postimage rows
            # from the removed files at read time — Delta-precision CDF
            # for CoW updates at zero write-time cost. None when a SET
            # expression is non-deterministic (file granularity then).
            cdc = (
                _cdc_derive_payload(
                    dnf,
                    set_exprs,
                    {
                        c: s["expr"]
                        for c, s in base.generated.items()
                        if "expr" in s and c in base.schema.names
                    },
                )
                if op == "update"
                else None
            )
            cdc_files, cdc_schema = (None, None)
            if op == "delete" and self._cdf_enabled(base):
                # CDF sidecar (round 11): the exact deleted rows — the
                # feed then emits them alone instead of the whole
                # rewritten files' delete+insert pairs
                cdc_files, cdc_schema = self._stage_cdc(
                    df.filter(cond).withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
            elif op == "update" and self._cdf_enabled(base) and cdc:
                # CDF sidecar for CoW UPDATE (round 12 — what Delta
                # itself writes): the exact pre/post images, computed by
                # the SAME deterministic derivation table_changes would
                # run at read time. A sidecar makes the images STREAMABLE
                # (sources/pyds.py change reader — a Python worker with
                # no SparkSession cannot evaluate SET expressions, so
                # derive-at-read can't feed a stream). With the property
                # off, the zero-write-cost derive-at-read path stands.
                pre = df.filter(cond)
                post = pre.select(
                    *[
                        F.expr(set_exprs[fld.name])
                        .cast(fld.dataType)
                        .alias(fld.name)
                        if fld.name in set_exprs
                        else F.col(fld.name)
                        for fld in base.schema.fields
                    ]
                )
                for gcol, gspec in base.generated.items():
                    if "expr" in gspec and gcol in base.schema.names:
                        post = post.withColumn(
                            gcol,
                            F.expr(gspec["expr"]).cast(
                                base.schema[gcol].dataType
                            ),
                        )
                cdc_files, cdc_schema = self._stage_cdc(
                    pre.withColumn(
                        "_change_type", F.lit("update_preimage")
                    ).unionByName(
                        post.withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )
                )
            removes = list(cand)
            cur = self.snapshot()
            if not set(removes) <= set(cur.files):
                # same hazard as optimize: committing would resurrect rows
                # a concurrent overwrite/replace already removed
                raise ConcurrentCommitError(
                    f"{op} of {self.root} lost to a concurrent "
                    "overwrite/replace: candidate files are no longer active"
                )
            if (
                cur.column_mapping != base.column_mapping
                or cur.schema_json != base.schema_json
                or cur.dropped_physical != base.dropped_physical
                or cur.dvs != base.dvs
                or cur.constraints != base.constraints
                or cur.bucket_by != base.bucket_by
            ):
                # a concurrent schema change landed (rename/add/drop column,
                # a schema-evolving append, or an add_constraint whose
                # validation scan never saw our rows): our payload would
                # publish a stale schema or dodge the new CHECK — retry
                # from fresh state so enforcement reruns against it
                continue
            if self._appends_may_conflict(base, cur, pdnf):
                # a concurrent append may have landed rows matching the
                # predicate after our base snapshot; retry so the delete/
                # update sees them (Delta's ConcurrentAppendException,
                # resolved here by re-running instead of raising).
                continue
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, removes, cur),
                "parent_id": cur.snapshot_id,
                "operation": op,
                "schema": base.schema_json,
                "partition_by": list(base.partition_by or []),
                "adds": adds,
                "removes": removes,
                # sidecar present ⇒ it is the single CDC authority (the
                # feed reads sidecars exclusively); derive rides only
                # sidecar-less update commits
                **(
                    {"cdc_derive": cdc}
                    if cdc is not None and cdc_files is None
                    else {}
                ),
                **(
                    {"cdc_files": cdc_files, "cdc_schema": cdc_schema}
                    if cdc_files is not None
                    else {}
                ),
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                # a commit landed between our snapshot and ours: re-resolve
                # candidates from scratch (the staged files orphan until
                # vacuum, like any lost write() race)
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                ("rows_deleted" if op == "delete" else "rows_updated"): n_matched,
                "files_rewritten": len(removes),
                "files_skipped": skipped,
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        delete_condition: str | None = None,
        max_retries: int = 3,
        txn: tuple[str, int] | None = None,
        insert_unmatched_deletes: bool = True,
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
        """MERGE INTO the table, as ordered clause lists (the grammar and
        plan shape of operators/changes.merge_branches):
        ``matched_clauses`` is an ORDERED list of ``{"action":
        "update"|"delete", "condition": sql|None, "set": {col: sql}|None}``
        (``set=None`` = ``SET *``), first-match-wins, conditions over the
        ``t`` (target row) / ``s`` (source row) aliases; a matched pair no
        clause takes keeps the target row. ``not_matched_clauses`` are the
        ordered INSERT clauses (or ``insert=False`` / ``insert_condition``
        for the one ``INSERT *`` clause); ``not_matched_by_source_clauses``
        are UPDATE/DELETE clauses over the bare target row. A NULL
        condition is false. Two source rows matching one target row raise
        (the SQL MERGE cardinality rule).

        The legacy keywords are shorthand for clauses, translated once
        here and mutually exclusive with them:

        - none given: ``WHEN MATCHED THEN UPDATE SET *`` (source wins),
          ``WHEN NOT MATCHED THEN INSERT *``;
        - ``update_set``: the matched update assigns only these columns
          (SQL over ``t``/``s``); the others keep their target values;
        - ``delete_condition`` (SQL over the source row): ``WHEN MATCHED
          AND <cond> THEN DELETE`` ahead of the update; an unmatched
          flagged row still inserts, unless ``insert_unmatched_deletes``
          is False (the CDC apply's rule: a delete for a key the table
          never had is a no-op);
        - ``not_matched_by_source_delete``: ``WHEN NOT MATCHED BY SOURCE
          [AND not_matched_by_source_condition] THEN DELETE``.

        Pruning: only files whose key stats admit a source key are
        candidates. Every other file provably holds no match, keeps its
        path, and insert detection against the candidates alone is
        exact. A NOT MATCHED BY SOURCE clause may touch any target row,
        so it makes every file a candidate (a full-sync merge reads the
        whole table, like Delta).

        ``via="cow"`` rewrites the candidates: removes = candidates, adds
        = the merged rows, one atomic commit under the copy-on-write
        frozen-set guard; ``rows_written`` comes from the staged files'
        harvested stats. ``via="dv"`` is merge-on-read: the same join over
        the alive candidate rows gives the positions of updated and
        deleted rows, which join the deletion vectors, and the
        post-images and inserts append — a CDC trickle never rewrites
        host files. It falls back to copy-on-write when the vectors would
        exceed ``_DV_INLINE_CAP`` (the delete(via='dv') policy).

        ``schema_evolution=True`` (Delta's autoMerge): source columns
        absent from the table extend it as nullable. ``txn`` is write()'s
        idempotent-writer token: a merge at or below the app's high-water
        mark commits nothing. ``source`` may carry extra columns; shared
        columns must be type-compatible."""
        clause_mode = (
            matched_clauses is not None
            or not_matched_by_source_clauses is not None
            or not_matched_clauses is not None
            or insert_condition is not None
            or insert is not True
        )
        if clause_mode and (
            delete_condition is not None
            or update_set is not None
            or not_matched_by_source_delete
            or not_matched_by_source_condition is not None
        ):
            raise ValueError(
                "merge clause mode (matched_clauses / insert_condition / "
                "not_matched_by_source_clauses / insert=False) is mutually "
                "exclusive with the legacy delete_condition / update_set / "
                "not_matched_by_source_* parameters — express everything "
                "as clauses"
            )
        if via not in ("cow", "dv"):
            raise ValueError(f"via must be 'cow' or 'dv', got {via!r}")
        # schema evolution reads the caller's columns, never the flag
        # column the translation adds
        evolve = source.schema if schema_evolution else None
        if not clause_mode:
            (
                source,
                matched_clauses,
                insert_condition,
                not_matched_by_source_clauses,
            ) = _translate_legacy_merge(
                source,
                delete_condition,
                insert_unmatched_deletes,
                update_set,
                not_matched_by_source_delete,
                not_matched_by_source_condition,
            )
        clauses = {
            "matched": matched_clauses or [],
            "insert": insert,
            "insert_condition": insert_condition,
            "not_matched": not_matched_clauses,
            "not_matched_by_source": not_matched_by_source_clauses or [],
        }
        assigned = {
            c
            for cl in clauses["matched"]
            + clauses["not_matched_by_source"]
            + (not_matched_clauses or [])
            for c in cl.get("set") or {}
        }
        if assigned and self.exists():
            # generated columns: no clause may assign them (the engine
            # computes/allocates them) — checked before any work runs
            self._refuse_generated_targets(
                self.snapshot().generated, assigned, "MERGE clause"
            )
        body = self._merge_dv if via == "dv" else self._merge_cow
        return body(source, keys, clauses, evolve, max_retries, txn)

    def _replayed(self, txn: tuple[str, int] | None) -> dict | None:
        """The no-op result of a merge whose ``txn`` token is at or below
        its app's high-water mark, else None. Checked on every attempt:
        a replayed microbatch commits nothing, and a lost race may have
        been lost to our own replayed twin (same app_id), which must not
        apply the same logical transaction twice."""
        if txn is None:
            return None
        seen = self.last_txn_version(txn[0])
        if seen is None or txn[1] > seen:
            return None
        return _merge_noop(self.snapshot())

    def _merge_cow(
        self,
        source: DataFrame,
        keys: list[str],
        clauses: dict,
        evolve: StructType | None,
        max_retries: int,
        txn: tuple[str, int] | None,
        dup_checked: bool = False,
    ) -> dict:
        """Copy-on-write MERGE (see :meth:`merge`): the candidate files
        are replaced by merge_branches' output over them in one commit.
        ``dup_checked``: the cardinality probe already ran."""
        from ..operators.changes import merge_branches

        for _attempt in range(max_retries):
            replayed = self._replayed(txn)
            if replayed is not None:
                return replayed
            base = self.snapshot()
            # computed per attempt so a concurrent schema change retries
            # against fresh state
            eff_schema_json, eff_schema = _evolved_schema(base, evolve)
            cand, pfilters, repeats = self._merge_candidates(
                base, source, keys, prune=not clauses["not_matched_by_source"]
            )
            if cand is None:
                # empty source: MERGE is a no-op
                return _merge_noop(base)
            tgt = self._read_file_metas(
                list(cand.values()),
                base.schema,
                base.column_mapping,
                base.dvs,
            )
            for fld in eff_schema.fields:
                if fld.name not in tgt.columns:
                    tgt = tgt.withColumn(
                        fld.name, F.lit(None).cast(fld.dataType)
                    )
            # CDF sidecar: with delta.enableChangeDataFeed on, the commit
            # carries its exact change rows; identity columns opt out (the
            # sidecar would re-allocate ids independently of the staged
            # data — two evaluations of a nondeterministic expr)
            want_cdc = self._cdf_enabled(base) and not any(
                "identity" in s for s in base.generated.values()
            )
            res = merge_branches(
                tgt,
                source,
                keys,
                **clauses,
                check_cardinality=repeats and not dup_checked,
                defaults=base.defaults,
                generated_cols=frozenset(base.generated),
                with_changes=want_cdc,
            )
            merged, changes = res if want_cdc else (res, None)
            if base.generated:
                # matched rows kept identity values (keep_cols inside
                # merge_branches), inserts carry NULL — recompute
                # computed columns, allocate identity for the NULL rows
                merged = self._apply_generated(
                    merged, base.generated, eff_schema
                )
                if changes is not None:
                    # deterministic recompute: pre-image rows yield
                    # their old value (the invariant held before the
                    # merge), post/insert rows the new one — identical
                    # to what the staged data carries
                    changes = self._apply_generated(
                        changes, base.generated, eff_schema
                    )
            self._enforce_constraints(merged, base.constraints, "merge")
            adds = self._stage_for(base, merged)
            cdc_files, cdc_schema = (
                self._stage_cdc(changes)
                if changes is not None
                else (None, None)
            )
            new_gen = (
                self._bump_identity_high(
                    base.generated, adds, base.column_mapping
                )
                if base.generated
                else None
            )
            removes = list(cand)
            cur = self.snapshot()
            if not set(removes) <= set(cur.files):
                raise ConcurrentCommitError(
                    f"merge of {self.root} lost to a concurrent "
                    "overwrite/replace: candidate files are no longer active"
                )
            if (
                cur.column_mapping != base.column_mapping
                or cur.schema_json != base.schema_json
                or cur.dropped_physical != base.dropped_physical
                or cur.dvs != base.dvs
                or cur.constraints != base.constraints
                or cur.bucket_by != base.bucket_by
                or cur.generated != base.generated
            ):
                # a concurrent schema change landed (rename/add/drop column,
                # a schema-evolving append, or an add_constraint whose
                # validation scan never saw our rows): our payload would
                # publish a stale schema or dodge the new CHECK — retry
                # from fresh state so enforcement reruns against it
                continue
            if self._appends_may_conflict(base, cur, pfilters):
                # a concurrent append landed files whose key bounds
                # intersect the merge keys: insert-detection was exact only
                # against the base snapshot, so committing could duplicate
                # a key the append wrote (or miss updating its rows).
                # Retry from fresh state — the recomputed candidates now
                # include the appended files (our staged files orphan
                # until vacuum, like any lost commit race).
                continue
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, removes, cur),
                "parent_id": cur.snapshot_id,
                "operation": "merge",
                "schema": eff_schema_json,
                "partition_by": list(base.partition_by or []),
                "adds": adds,
                "removes": removes,
                **({"txn": [txn[0], txn[1]]} if txn is not None else {}),
                **({"generated": new_gen} if new_gen is not None else {}),
                **(
                    {"cdc_files": cdc_files, "cdc_schema": cdc_schema}
                    if cdc_files is not None
                    else {}
                ),
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                "files_rewritten": len(removes),
                "files_skipped": len(base.files) - len(removes),
                "rows_written": sum(a["rows"] for a in adds),
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _merge_dv(
        self,
        source: DataFrame,
        keys: list[str],
        clauses: dict,
        evolve: StructType | None,
        max_retries: int,
        txn: tuple[str, int] | None,
    ) -> dict:
        """Merge-on-read MERGE (see :meth:`merge`): any mix of clauses
        commits as deletion-vector masks over the affected target rows
        plus appended files of rewritten rows, so the copy-on-write and
        merge-on-read answers stay equality-identical.

        Candidate pruning is the copy-on-write argument verbatim
        (non-candidate files hold no source key), except that a NOT
        MATCHED BY SOURCE clause touches unmatched rows anywhere (full
        scan). Cap-and-fallback: if the masked-position count would
        exceed ``_DV_INLINE_CAP``, the same clauses run copy-on-write."""
        from ..operators.changes import (
            _insert_clauses,
            _MergeJoin,
            _validate_clauses,
            check_merge_cardinality,
        )

        mc, nc = clauses["matched"], clauses["not_matched_by_source"]
        dup_checked = False
        for _attempt in range(max_retries):
            replayed = self._replayed(txn)
            if replayed is not None:
                return replayed
            base = self.snapshot()
            eff_schema_json, eff_schema = _evolved_schema(base, evolve)
            table_cols = [f.name for f in eff_schema.fields]
            _validate_clauses(mc, table_cols, keys, "MATCHED")
            _validate_clauses(nc, table_cols, keys, "NOT MATCHED BY SOURCE")
            # NMBS touches unmatched rows anywhere: no pruning
            cand, _, repeats = self._merge_candidates(
                base, source, keys, prune=not nc
            )
            if cand is None:
                # empty source and no NMBS clause: nothing matches,
                # nothing inserts
                return _merge_noop(base)
            skipped = len(base.files) - len(cand)
            scan = self._scan_with_positions(cand, base)
            if mc and repeats and not dup_checked:
                # scoped to rows that actually match a target row
                # (candidates are exhaustive for source-key matches by
                # the pruning argument above); the flag keeps the
                # cap-fallback from re-running the probe in CoW
                check_merge_cardinality(scan, source, keys)
                dup_checked = True
            for fld in eff_schema.fields:
                if fld.name not in scan.columns:
                    scan = scan.withColumn(
                        fld.name, F.lit(None).cast(fld.dataType)
                    )
            # the copy-on-write MERGE's one join, read three times: the
            # positions to mask, the update post-images, the inserts.
            # Alive candidate keys are exact for insert detection (the
            # pruning argument above).
            nm = _insert_clauses(
                clauses["insert"],
                clauses["insert_condition"],
                clauses["not_matched"],
                table_cols,
            )
            j = _MergeJoin(
                scan, source, keys, mc, nc, nm, table_cols, eff_schema,
                base.defaults, frozenset(base.generated),
            )
            # the __upd flag rides the position collect so the commit can
            # record which masked rows are UPDATE pre-images (Delta CDF
            # parity, round 11) — one scan, no second collect
            rows = (
                j.frame.filter(j.update | j.delete)
                .select("__dv_file", "__dv_pos", j.update.alias("__upd"))
                .limit(self._DV_INLINE_CAP + 1)
                .collect()
            )
            truncated = len(rows) > self._DV_INLINE_CAP
            base_by_name = {os.path.basename(p): p for p in cand}
            hits, upd_hits = {}, {}
            for r in rows:
                p = base_by_name[r["__dv_file"]]
                hits.setdefault(p, []).append(int(r["__dv_pos"]))
                if r["__upd"]:
                    upd_hits.setdefault(p, []).append(int(r["__dv_pos"]))
            hits = {p: sorted(x) for p, x in hits.items()}
            upd_hits = {p: sorted(x) for p, x in upd_hits.items()}
            n_hits = sum(len(v) for v in hits.values())
            if truncated or (
                n_hits + sum(len(v) for v in base.dvs.values())
                > self._DV_INLINE_CAP
            ):
                return self._merge_cow(
                    source, keys, clauses, evolve, max_retries, txn,
                    dup_checked,
                )

            def _finish(rows_df: DataFrame) -> list[dict]:
                if base.generated:
                    # rewritten matched rows kept their identity
                    # (keep_cols above) and inserts carry NULL —
                    # recompute computed columns, allocate identity for
                    # exactly the NULL rows
                    rows_df = self._apply_generated(
                        rows_df, base.generated, eff_schema
                    )
                self._enforce_constraints(
                    rows_df, base.constraints, "merge"
                )
                # _stage_for: bucketed tables re-stage through the
                # bucketed writer so appended rows join the layout
                return self._stage_for(base, rows_df)

            # update post-images stage separately from inserts so the
            # change feed can tell them apart (the `cdc` tag on the
            # add-action — Delta CDF parity); a trickle merge stages
            # small sets either way
            adds: list[dict] = []
            if any(cl["action"] == "update" for cl in mc + nc):
                for a in _finish(j.frame.filter(j.update).select(*j.post)):
                    a["cdc"] = "update_post"
                    adds.append(a)
            if nm:
                adds += _finish(j.frame.filter(j.insert).select(*j.post))
            new_gen = (
                self._bump_identity_high(
                    base.generated, adds, base.column_mapping
                )
                if base.generated
                else None
            )
            dvs = {p: list(v) for p, v in base.dvs.items()}
            for p, pos in hits.items():
                dvs[p] = sorted(set(dvs.get(p, [])) | set(pos))
            cur = self.snapshot()
            if cur.version != base.version:
                # positions, membership probe, and staged rows are only
                # valid against the exact base state — retry from fresh
                continue
            version = base.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, [], base),
                "parent_id": base.snapshot_id,
                "operation": "merge_dv",
                "schema": eff_schema_json,
                "partition_by": list(base.partition_by or []),
                "dvs": dvs,
                "adds": adds,
                "removes": [],
                **({"txn": [txn[0], txn[1]]} if txn is not None else {}),
                **({"generated": new_gen} if new_gen is not None else {}),
                **({"dv_update": upd_hits} if upd_hits else {}),
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                "files_rewritten": 0,
                "files_skipped": skipped,
                "rows_written": sum(a.get("rows", 0) for a in adds),
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def merge_latest(
        self,
        source: DataFrame,
        keys: list[str],
        order_col: str,
        delete_col: str | None = None,
        max_retries: int = 3,
        txn: tuple[str, int] | None = None,
        via: str = "cow",
    ) -> dict:
        """Out-of-order-safe upsert: WHEN MATCHED AND source.order >=
        target.order semantics — the strong CDC apply for feeds that can
        deliver old changes late. Candidate files prune exactly like
        :meth:`merge`; within them the target rows and the source
        records compete per key under ``order_col`` (ties broken by the
        remaining columns, so replays of the identical record are
        harmless) and the winner stands. A stale source record — lower
        ``order_col`` than the standing row — loses and changes nothing.

        Deletes are TOMBSTONES, not removals: ``delete_col`` must be a
        column of the table itself, the winning record keeps its flag,
        and readers filter ``delete_col = false`` for the live view.
        This is not an implementation convenience — it is what makes the
        apply invariant to ARBITRARY batch slicing (property-tested): a
        hard removal forgets the delete's order, so an OLDER update
        arriving in a later batch would resurrect the key. Reclaiming
        old tombstones is a retention decision (a periodic
        ``delete([(delete_col, '==', True), (order_col, '<', horizon)])``
        once the feed's lateness bound has passed).

        ``via="dv"`` is the merge-on-read form: losing target rows join
        the deletion vectors and only winning SOURCE records append —
        a late-arriving trickle against a 100 TB landing table costs one
        tiny file instead of rewriting every touched host. Bit-identical
        table content to the copy-on-write form (equality-tested); same
        cap-and-fallback policy as the other dv ops."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if self.exists() and self.snapshot().generated:
            # merge_latest's whole-row competition needs the SOURCE to
            # carry every table column — an identity column cannot be
            # source-provided (GENERATED ALWAYS) and a computed column
            # would silently decide ties. Use merge() clauses instead.
            raise ValueError(
                f"merge_latest on {self.root} is unsupported with "
                "generated columns "
                f"({sorted(self.snapshot().generated)}); use merge() "
                "with clauses, or drop_generated() first"
            )
        if via == "dv":
            return self._merge_latest_dv(
                source, keys, order_col, delete_col, max_retries, txn
            )
        if via != "cow":
            raise ValueError(f"via must be 'cow' or 'dv', got {via!r}")

        for _attempt in range(max_retries):
            replayed = self._replayed(txn)
            if replayed is not None:
                return replayed
            base = self.snapshot()
            cand, pfilters, _ = self._merge_candidates(base, source, keys)
            if cand is None:
                return _merge_noop(base)
            tgt = self._read_file_metas(
                list(cand.values()),
                base.schema,
                base.column_mapping,
                base.dvs,
            )
            table_cols = [f.name for f in base.schema.fields]
            if delete_col is not None and delete_col not in table_cols:
                raise ValueError(
                    f"merge_latest tombstones require {delete_col!r} to be "
                    "a table column (hard removals would forget the "
                    "delete's order and let stale updates resurrect keys)"
                )
            src_proj = source.select(*table_cols)
            tie = [c for c in table_cols if c not in keys and c != order_col]
            w = Window.partitionBy(*keys).orderBy(
                F.desc(order_col), *[F.desc(c) for c in tie]
            )
            merged = (
                tgt.unionByName(src_proj)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(*table_cols)
            )
            self._enforce_constraints(merged, base.constraints, "merge")
            adds = self._stage_for(base, merged)
            removes = list(cand)
            cur = self.snapshot()
            if not set(removes) <= set(cur.files):
                raise ConcurrentCommitError(
                    f"merge_latest of {self.root} lost to a concurrent "
                    "overwrite/replace: candidate files are no longer active"
                )
            if (
                cur.column_mapping != base.column_mapping
                or cur.schema_json != base.schema_json
                or cur.dropped_physical != base.dropped_physical
                or cur.dvs != base.dvs
                or cur.constraints != base.constraints
                or cur.bucket_by != base.bucket_by
            ):
                # a concurrent schema change landed (rename/add/drop column,
                # a schema-evolving append, or an add_constraint whose
                # validation scan never saw our rows): our payload would
                # publish a stale schema or dodge the new CHECK — retry
                # from fresh state so enforcement reruns against it
                continue
            if self._appends_may_conflict(base, cur, pfilters):
                # same concurrent-append hazard as merge: an unseen append
                # could hold rows for these keys; retry so the per-key
                # order_col competition includes them.
                continue
            version = cur.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, removes, cur),
                "parent_id": cur.snapshot_id,
                "operation": "merge_latest",
                "schema": base.schema_json,
                "partition_by": list(base.partition_by or []),
                "adds": adds,
                "removes": removes,
                **({"txn": [txn[0], txn[1]]} if txn is not None else {}),
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                "files_rewritten": len(removes),
                "files_skipped": len(base.files) - len(removes),
                "rows_written": sum(a["rows"] for a in adds),
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _merge_latest_dv(
        self,
        source: DataFrame,
        keys: list[str],
        order_col: str,
        delete_col: str | None,
        max_retries: int,
        txn: tuple[str, int] | None,
    ) -> dict:
        from pyspark.sql import Window

        for _attempt in range(max_retries):
            replayed = self._replayed(txn)
            if replayed is not None:
                return replayed
            base = self.snapshot()
            table_cols = [f.name for f in base.schema.fields]
            if delete_col is not None and delete_col not in table_cols:
                raise ValueError(
                    f"merge_latest tombstones require {delete_col!r} to be "
                    "a table column (hard removals would forget the "
                    "delete's order and let stale updates resurrect keys)"
                )
            cand, _, _ = self._merge_candidates(base, source, keys)
            if cand is None:
                return _merge_noop(base)
            skipped = len(base.files) - len(cand)
            # one windowed pass over (alive candidate rows WITH positions)
            # ∪ (source records with NULL positions): per key, the same
            # order_col-desc competition as the CoW form. A losing TARGET
            # row joins the vectors; a winning SOURCE record appends; a
            # winning target row changes nothing.
            tgt = self._scan_with_positions(cand, base)
            src_proj = (
                source.select(*table_cols)
                .withColumn("__dv_file", F.lit(None).cast("string"))
                .withColumn("__dv_pos", F.lit(None).cast("long"))
            )
            tie = [c for c in table_cols if c not in keys and c != order_col]
            # the window is evaluated TWICE below (loser_pos collect, then
            # winners staged from the same lineage); a source record
            # exactly equal to an alive target row (a replayed CDC record:
            # same key, order_col, and every tie column) must resolve
            # identically in both jobs or the row is deleted outright
            # (target dv'd in job 1, source judged loser in job 2) or
            # duplicated. Make the order TOTAL: source-wins on exact ties
            # (__dv_file IS NULL sorts first — a replay then nets to the
            # same content), then (file, pos), unique per target row
            w = Window.partitionBy(*keys).orderBy(
                F.desc(order_col),
                *[F.desc(c) for c in tie],
                F.col("__dv_file").isNull().desc(),
                F.asc("__dv_file"),
                F.asc("__dv_pos"),
            )
            ranked = (
                tgt.select(*table_cols, "__dv_file", "__dv_pos")
                .unionByName(src_proj)
                .withColumn("_rn", F.row_number().over(w))
            )
            loser_pos = (
                ranked.filter(
                    (F.col("_rn") > 1) & F.col("__dv_file").isNotNull()
                )
                .select("__dv_file", "__dv_pos")
                .limit(self._DV_INLINE_CAP + 1)
                .collect()
            )
            if len(loser_pos) > self._DV_INLINE_CAP or (
                len(loser_pos) + sum(len(v) for v in base.dvs.values())
                > self._DV_INLINE_CAP
            ):
                return self.merge_latest(
                    source,
                    keys,
                    order_col,
                    delete_col=delete_col,
                    max_retries=max_retries,
                    txn=txn,
                )
            winners = ranked.filter(
                (F.col("_rn") == 1) & F.col("__dv_file").isNull()
            ).select(*table_cols)
            self._enforce_constraints(winners, base.constraints, "merge")
            # _stage_for: bucketed tables (dv-capable since round 11)
            # re-stage winners through the bucketed writer
            adds = self._stage_for(base, winners)
            base_by_name = {os.path.basename(p): p for p in cand}
            dvs = {p: list(v) for p, v in base.dvs.items()}
            for r in loser_pos:
                p = base_by_name[r["__dv_file"]]
                dvs.setdefault(p, []).append(int(r["__dv_pos"]))
            dvs = {p: sorted(set(v)) for p, v in dvs.items()}
            cur = self.snapshot()
            if cur.version != base.version:
                # positions and winners are only valid against the exact
                # base state — retry from fresh
                continue
            version = base.version + 1
            payload = {
                "version": version,
                "snapshot_id": _snapshot_id(version, adds, [], base),
                "parent_id": base.snapshot_id,
                "operation": "merge_latest_dv",
                "schema": base.schema_json,
                "partition_by": list(base.partition_by or []),
                "dvs": dvs,
                "adds": adds,
                "removes": [],
                **({"txn": [txn[0], txn[1]]} if txn is not None else {}),
            }
            try:
                self._commit(version, payload)
            except ConcurrentCommitError:
                continue
            self._maybe_checkpoint(version)
            return {
                "version": version,
                "files_rewritten": 0,
                "files_skipped": skipped,
                "rows_written": sum(a.get("rows", 0) for a in adds),
            }
        raise ConcurrentCommitError(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _scan_with_positions(self, cand: dict, base: "Snapshot") -> DataFrame:
        """Alive rows of the candidate files carrying (file basename,
        row_index), logical column names — standing deletion vectors
        already anti-filtered."""
        if not cand:
            out = self.spark.createDataFrame([], base.schema)
            return out.withColumn(
                "__dv_file", F.lit(None).cast("string")
            ).withColumn("__dv_pos", F.lit(None).cast("long"))
        scan = self._grouped_scan(
            list(cand.values()),
            base.schema,
            base.column_mapping,
            positions=True,
        )
        if base.column_mapping:
            scan = _rename_columns(
                scan, {p: l for l, p in base.column_mapping.items()}
            )
        dead = {os.path.basename(p): v for p, v in base.dvs.items() if v}
        if dead:
            scan = scan.join(
                F.broadcast(self._positions_frame(dead)),
                ["__dv_file", "__dv_pos"],
                "left_anti",
            )
        return scan

    _MERGE_KEYSET_CAP = 100_000

    def _merge_candidates(
        self,
        base: "Snapshot",
        source: DataFrame,
        keys: list[str],
        prune: bool = True,
    ) -> tuple[dict | None, list[tuple], bool]:
        """The MERGE pre-pass, shared by every merge form: ONE collect of
        the source key columns (at most ``_MERGE_KEYSET_CAP`` + 1 rows)
        yields ``(candidates, pfilters, repeats)``.

        - ``candidates``: the files whose stats admit the key bounds and,
          per key, at least one of its sorted distinct values (bisected
          against the file's [min, max] — the answer a stats⋈keys join
          would give, computed locally; bounds alone are coarse for
          scattered keys, a trickle touching ids 5 and 2000 spans every
          file).
          Every other file provably holds no source key, so it hosts no
          match and insert detection against the candidates alone is
          exact. ``None`` for an empty source (the MERGE is a no-op);
          empty when no row has a full non-NULL key (every row is NOT
          MATCHED). ``prune=False`` keeps every file: a NOT MATCHED BY
          SOURCE clause may touch any target row.
        - ``pfilters``: the physical bound filters, for the commit-time
          concurrent-append check.
        - ``repeats``: whether a non-NULL key tuple occurs twice — only
          then can two source rows match one target row, so only then
          must the cardinality probe read the target.

        A NULL key matches nothing, so rows with one neither widen the
        bounds nor repeat. A source over the cap keeps the aggregate
        path: one min/max job for the bounds, no per-file membership,
        ``repeats`` assumed. Ordering relies on the key's natural Python
        order matching the engine's (ints/floats/strings/dates — the
        types _file_stats records)."""
        rows = (
            source.select(*keys).limit(self._MERGE_KEYSET_CAP + 1).collect()
        )
        vals = None
        if len(rows) > self._MERGE_KEYSET_CAP:
            repeats = True
            if prune:
                b = source.agg(
                    *[f(k) for k in keys for f in (F.min, F.max)]
                ).head()
                bounds = [(b[2 * i], b[2 * i + 1]) for i in range(len(keys))]
        else:
            full = [tuple(r) for r in rows if None not in tuple(r)]
            repeats = len(set(full)) < len(full)
            vals = [sorted({r[i] for r in full}) for i in range(len(keys))]
            bounds = [(v[0], v[-1]) if v else (None, None) for v in vals]
        if not prune:
            return dict(base.files), [], repeats
        if not rows:
            return None, [], False
        if any(lo is None for lo, _ in bounds):
            return {}, [], repeats
        pfilters = _physical_filters(
            [(k, "between", bd) for k, bd in zip(keys, bounds)],
            base.column_mapping,
        )
        cand = {
            p: m
            for p, m in base.files.items()
            if all(_may_match(m, f, self.data_dir) for f in pfilters)
        }
        if vals is not None:
            phys = [_phys_name(base.column_mapping or {}, k) for k in keys]
            cand = {
                p: m
                for p, m in cand.items()
                if all(_range_holds_any(m, c, v) for c, v in zip(phys, vals))
            }
        return cand, pfilters, repeats

    def maintain(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        max_small_files: int = 8,
        max_dv_ratio: float = 0.1,
        retain_last: int | None = None,
        min_file_age_s: float = 3600.0,
    ) -> dict:
        """Policy-driven table janitor — the scheduled maintenance job a
        production lakehouse runs (Delta's auto-compaction + vacuum in
        one idempotent call). Decides from LOG METADATA ONLY (no data
        file is opened), then acts:

        - OPTIMIZE when more than ``max_small_files`` active files are
          under half the ``target_file_bytes``. File count for the
          compaction sizes from total bytes / target.
        - REORG APPLY (PURGE) — round 12 — when the table's
          deletion-vector positions exceed ``max_dv_ratio`` of its rows
          (merge-on-read read overhead has outgrown its write savings):
          materialize ONLY the dv-carrying files, never the whole
          active set (on a 100 TB table the old whole-table OPTIMIZE
          answer was an outage, not maintenance). A compaction that
          runs anyway materializes its files' vectors as always.
        - VACUUM old snapshots when ``retain_last`` is given (left off
          by default: shrinking the time-travel horizon is a policy
          decision, not hygiene).
        - remove_orphans always (crashed writers' leftovers; age-guarded,
          never shrinks the horizon).

        Returns what it did: {'optimized': version | None,
        'purged': version | None, 'files_deleted': int,
        'orphans_deleted': int}."""
        snap = self.snapshot()
        small = sum(
            1
            for m in snap.files.values()
            if int(m.get("bytes") or 0) < target_file_bytes // 2
        )
        total_rows = sum(int(m.get("rows") or 0) for m in snap.files.values())
        dv_positions = sum(len(v) for v in snap.dvs.values())
        total_bytes = sum(int(m.get("bytes") or 0) for m in snap.files.values())
        optimized = None
        purged = None
        if small > max_small_files:
            n_files = max(1, -(-total_bytes // target_file_bytes))
            optimized = self.optimize(n_files=n_files)
        elif total_rows and dv_positions / total_rows > max_dv_ratio:
            purged = self.reorg_purge()["version"]
        files_deleted = (
            self.vacuum(retain_last=retain_last, min_file_age_s=min_file_age_s)
            if retain_last is not None
            else 0
        )
        orphans = self.remove_orphans(min_age_s=min_file_age_s)
        return {
            "optimized": optimized,
            "purged": purged,
            "files_deleted": files_deleted,
            "orphans_deleted": orphans,
        }

    def vacuum(self, retain_last: int = 1, min_file_age_s: float = 3600.0) -> int:
        """Delete data files referenced ONLY by versions older than the last
        ``retain_last`` — reclaims overwrite/replace garbage; older snapshots
        become unreadable (read() then raises FileNotFoundError). Returns
        files deleted. ``retain_last`` is the time-travel horizon.

        ``min_file_age_s``: files younger than this are never deleted even
        if unreferenced — an in-flight concurrent writer stages its data
        files BEFORE its log commit exists, so a vacuum racing a write
        would otherwise delete them and corrupt the winner's snapshot (the
        same hazard Delta/Iceberg guard with a modification-time retention
        window). Set to 0 only when no writer can be running.
        """
        import time

        versions = self.versions()
        keep_versions = versions[-retain_last:]
        live: set[str] = set()
        for v in keep_versions:
            live.update(self.snapshot(v).files)
        deleted = 0
        cutoff = time.time() - min_file_age_s
        for dirpath, _dirs, fnames in os.walk(self.data_dir):
            for fname in fnames:
                full = os.path.join(dirpath, fname)
                rel = os.path.relpath(full, self.data_dir)
                # a bloom sidecar lives exactly as long as its data file
                owner = _bloom_sidecar_owner(rel)
                key = owner if owner is not None else rel
                if key not in live and os.path.getmtime(full) <= cutoff:
                    os.unlink(full)
                    deleted += 1
        # bucket-view hardlink dirs (read_bucketed over multi-directory
        # snapshots) pin the linked inodes: drop views outside the
        # retention horizon so vacuumed files actually free their bytes
        # (views rebuild on demand for any still-readable version)
        view_root = os.path.join(self.root, "_bucketview")
        if os.path.isdir(view_root):
            for d in os.listdir(view_root):
                v_ok = (
                    d.startswith("v")
                    and d[1:].isdigit()
                    and int(d[1:]) in keep_versions
                )
                if not v_ok:
                    _rmtree(os.path.join(view_root, d))
        # CDC sidecars (round 11): a sidecar belongs to the commit that
        # wrote it; a commit below the retention horizon loses its data
        # files above, so its change-feed window is unreadable anyway —
        # reclaim its sidecar too. Dirs referenced by NO commit (a lost
        # commit race staged them) age out the same way. The age guard
        # mirrors the data-file one: a racing merge stages its sidecar
        # BEFORE its commit exists.
        cdc_root = os.path.join(self.root, "_cdc")
        if os.path.isdir(cdc_root):
            horizon = keep_versions[0] if keep_versions else 0
            keep_dirs: set[str] = set()
            for v in versions:
                if v < horizon:
                    continue
                with open(self._commit_path(v)) as f:
                    c = json.load(f)
                for p in c.get("cdc_files") or []:
                    keep_dirs.add(os.path.basename(os.path.dirname(p)))
            for d in os.listdir(cdc_root):
                full = os.path.join(cdc_root, d)
                if d in keep_dirs:
                    continue
                if os.path.getmtime(full) <= cutoff:
                    n_inside = sum(len(fs) for _, _, fs in os.walk(full))
                    _rmtree(full)
                    deleted += n_inside
        return deleted

    def remove_orphans(self, min_age_s: float = 3600.0) -> int:
        """Iceberg's ``remove_orphan_files``: delete data files that NO
        snapshot at any version references — the leftovers of writers
        that staged data but crashed before (or lost) their commit —
        WITHOUT shrinking the time-travel horizon (that is vacuum's
        job; every snapshot stays readable after this). Also clears
        stale ``_staged-*`` dirs from interrupted stages. Age-guarded
        like vacuum (an in-flight writer's fresh files survive); a
        corrupt commit file raises rather than guessing — deleting a
        file an unreadable commit might reference would corrupt time
        travel silently."""
        import time

        referenced: set[str] = set()
        for v in self.versions():
            with open(self._commit_path(v)) as f:
                c = json.load(f)
            referenced.update(a["path"] for a in c.get("adds", []))
        deleted = 0
        cutoff = time.time() - min_age_s
        for dirpath, _dirs, fnames in os.walk(self.data_dir):
            for fname in fnames:
                full = os.path.join(dirpath, fname)
                rel = os.path.relpath(full, self.data_dir)
                # a bloom sidecar is referenced iff its data file is
                owner = _bloom_sidecar_owner(rel)
                key = owner if owner is not None else rel
                if key not in referenced and os.path.getmtime(full) <= cutoff:
                    os.unlink(full)
                    deleted += 1
        for d in os.listdir(self.root):
            if d.startswith("_staged-"):
                full = os.path.join(self.root, d)
                if os.path.getmtime(full) <= cutoff:
                    _rmtree(full)
                    deleted += 1
        return deleted


# ---------------------------------------------------------------------------
# helpers

def _merge_schemas(old_json: str, new_json: str) -> str:
    """Schema evolution for append/replace commits: the merged schema keeps
    every existing column (same position, same type) and appends the
    writer's NEW columns as nullable. A type mismatch on a shared column
    raises — silent type drift is how a table format corrupts history
    (old files would be read under an incompatible reader schema). The
    writer may omit existing columns (its files simply lack them; the
    parquet reader fills null), matching Delta's mergeSchema semantics.
    """
    old = json.loads(old_json)
    new = json.loads(new_json)
    old_types = {f["name"]: f["type"] for f in old["fields"]}
    for f in new["fields"]:
        if f["name"] in old_types and f["type"] != old_types[f["name"]]:
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r} from "
                f"{old_types[f['name']]} to {f['type']}; use a full "
                "overwrite to redefine the schema"
            )
    merged = dict(old)
    merged["fields"] = list(old["fields"]) + [
        dict(f, nullable=True)
        for f in new["fields"]
        if f["name"] not in old_types
    ]
    return json.dumps(merged)


def _parse_partition_values(rel_dir: str) -> dict[str, str | None]:
    vals: dict[str, str | None] = {}
    if rel_dir in (".", ""):
        return vals
    for seg in rel_dir.split(os.sep):
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        vals[k] = None if v == _HIVE_NULL else urllib.parse.unquote(v)
    return vals


def _hive_str(v: Any) -> str | None:
    """Render a python literal the way Spark renders it in a hive-style
    partition directory — str(True) is 'True' but the path says 'true',
    so a plain str() comparison would silently never match booleans."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _partition_match(pvals: dict, replace_where: dict[str, list]) -> bool:
    _missing = object()
    return all(
        pvals.get(col, _missing) in {_hive_str(v) for v in vals}
        for col, vals in replace_where.items()
    )


def _snapshot_id(version: int, adds: list, removes: list, parent) -> str:
    import hashlib

    h = hashlib.sha256()
    h.update(str(version).encode())
    h.update((parent.snapshot_id if parent else "").encode())
    for a in sorted(x["path"] for x in adds):
        h.update(a.encode())
    for r in sorted(removes):
        h.update(r.encode())
    return h.hexdigest()[:16]


# --- per-file Bloom filters (round 9, opt-in via Snapshot.bloom_cols) ------
#
# ADAPTIVELY sized per file: m grows with the file's non-null row count
# (m ≈ 12 bits per value, power of two, floored at 2048 and capped at
# 2^23 = 1 MiB) so a high-cardinality key — the needle-in-haystack
# point-DELETE shape where min/max prunes nothing — keeps FPR ≲1% at
# hundreds of thousands of distinct values per file instead of
# saturating (the fixed-2048-bit first cut pruned nothing past ~500
# distinct values/file, measured at sf10). Small bitmaps (≤4 KiB)
# inline in the commit log; larger ones land as an underscore-prefixed
# SIDECAR next to the data file (Spark's file index ignores _-prefixed
# files, so directory-bound bucketed scans never see them) and the
# add-action carries only {m, k, sidecar}. The hash is md5 over the
# value's STRING rendering, chosen because the Spark-side harvest
# (cast-to-string in the executor) and the driver-side probe
# (hashlib.md5(str(v))) must agree byte-for-byte; that restricts bloom
# columns to types whose renderings match across both engines:
# strings, integrals, dates, booleans.

_BLOOM_M = 2048  # floor (bits)
_BLOOM_K = 4
_BLOOM_M_MAX = 1 << 23  # 1 MiB bitmap cap per column per file
_BLOOM_BITS_PER_VALUE = 12  # k=4 ⇒ FPR ≈ 0.6% at this load
_BLOOM_INLINE_MAX = 1 << 15  # ≤ 4 KiB bitmaps inline in the commit log
_BLOOM_TYPES = {"string", "tinyint", "smallint", "int", "bigint", "date", "boolean"}


def _bloom_m_for(n_values: int) -> int:
    m = _BLOOM_M
    while m < _BLOOM_BITS_PER_VALUE * max(1, n_values) and m < _BLOOM_M_MAX:
        m <<= 1
    return m


def _bloom_sidecar_rel(data_rel: str, col: str) -> str:
    d, base = os.path.dirname(data_rel), os.path.basename(data_rel)
    return os.path.join(d, f"_{base}.bloom-{col}")


def _bloom_sidecar_owner(rel: str) -> str | None:
    """Inverse of :func:`_bloom_sidecar_rel`: the data file a sidecar
    belongs to, or None if ``rel`` is not a sidecar path."""
    base = os.path.basename(rel)
    if not base.startswith("_") or ".bloom-" not in base:
        return None
    return os.path.join(os.path.dirname(rel), base[1:].rsplit(".bloom-", 1)[0])


def _bloom_render(v: Any) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"  # Spark's cast(bool as string)
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, date) and not isinstance(v, datetime):
        return v.isoformat()
    return None  # unsupported literal type — bloom gives no answer


def _bloom_positions(s: str, m: int) -> list[int]:
    h = hashlib.md5(s.encode()).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % m for i in range(_BLOOM_K)]


# -- Spark-exact Murmur3_x86_32 mirror (round 10) ---------------------------
# The harvest hashes JVM-side with hash(cast(col AS string), i) — Spark's
# Murmur3 — because md5+hex-conv was ~20% of the warm harvest cost. The
# probe runs driver-side in Python, so these mirror Spark's exact variant:
# hashUnsafeBytes consumes 4-byte LITTLE-ENDIAN words and then each tail
# byte SIGN-EXTENDED as a full mix round (unlike reference murmur3's
# 1-3-byte tail handling — a stock mmh3 library would NOT agree), and the
# multi-arg hash(col, i) seeds hashInt(i) with the string's hash
# (verified value-equal against F.hash across unicode/empty/long inputs).


def _mm3_mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    return (k1 * 0x1B873593) & 0xFFFFFFFF


def _mm3_mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def _mm3_fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1


def _signed32(x: int) -> int:
    x &= 0xFFFFFFFF
    return x - 0x100000000 if x >= 0x80000000 else x


def _murmur3_bytes(data: bytes, seed: int = 42) -> int:
    h1 = seed & 0xFFFFFFFF
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h1 = _mm3_mix_h1(
            h1, _mm3_mix_k1(int.from_bytes(data[i : i + 4], "little"))
        )
    for i in range(aligned, n):
        b = data[i]
        if b >= 0x80:
            b -= 0x100  # java bytes are signed
        h1 = _mm3_mix_h1(h1, _mm3_mix_k1(b & 0xFFFFFFFF))
    return _signed32(_mm3_fmix(h1, n))


def _murmur3_int(i: int, seed: int) -> int:
    return _signed32(
        _mm3_fmix(_mm3_mix_h1(seed & 0xFFFFFFFF, _mm3_mix_k1(i & 0xFFFFFFFF)), 4)
    )


def _bloom_positions_m3(s: str, m: int, k: int) -> list[int]:
    """Positions for an ``h: m3`` bitmap: python's % IS Spark's pmod for
    the signed int32 hash, so the probe agrees with the JVM harvest's
    pmod(hash(col, i), m) bit for bit."""
    base = _murmur3_bytes(s.encode("utf-8"), 42)
    return [_murmur3_int(i, base) % m for i in range(k)]


def _bloom_bytes(entry: dict, data_dir: str | None) -> bytes | None:
    """The bitmap behind a bloom entry: inline b64, or the sidecar file
    (LRU-cached — one read serves every probe of the same file)."""
    b64 = entry.get("b64")
    if b64 is not None:
        import base64

        return base64.b64decode(b64)
    side = entry.get("sidecar")
    if side and data_dir:
        return _bloom_sidecar_read(os.path.join(data_dir, side))
    return None  # sidecar unavailable from this call site — no answer


@_functools.lru_cache(maxsize=64)  # ≤ 64 MiB of driver-side bitmap cache
def _bloom_sidecar_read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except OSError:
        return None  # vacuumed/missing sidecar — conservative


def _bloom_may_contain(entry: dict, v: Any, data_dir: str | None) -> bool:
    s = _bloom_render(v)
    if s is None:
        return True
    bits = _bloom_bytes(entry, data_dir)
    if not bits:
        return True
    m = int(entry.get("m") or len(bits) * 8)
    # per-entry hash dispatch: round-10 bitmaps carry h=m3 (Spark
    # Murmur3); entries without it are md5-era and keep probing md5 —
    # a table can hold both generations and every file probes with the
    # hash its bitmap was built from
    if entry.get("h") == "m3":
        pos = _bloom_positions_m3(s, m, int(entry.get("k") or _BLOOM_K))
    else:
        pos = _bloom_positions(s, m)
    return all(bits[p >> 3] & (1 << (p & 7)) for p in pos)


def _bloom_ok(
    meta: dict, col: str, op: str, val: Any, data_dir: str | None = None
) -> bool:
    """Bloom veto for equality/membership terms: False ⇒ the file holds
    no matching non-null value, safe to skip (and == / IN never match
    null rows). Files without a bitmap for the column — written before
    the property was set, or never harvested — always pass."""
    bl = (meta.get("bloom") or {}).get(col)
    if not bl:
        return True
    if op == "==":
        return _bloom_may_contain(bl, val, data_dir)
    if op == "in":
        return any(_bloom_may_contain(bl, v, data_dir) for v in val)
    return True


def _range_holds_any(meta: dict, col: str, vals: list) -> bool:
    """Does the file's [min, max] of ``col`` hold one of the sorted
    ``vals``? A file without stats for ``col`` always may."""
    st = (meta.get("stats") or {}).get(col)
    if not st or st.get("min") is None or st.get("max") is None:
        return True
    lo, hi = _dec_key(st["min"]), _dec_key(st["max"])
    i = bisect.bisect_left(vals, lo)
    return i < len(vals) and vals[i] <= hi


def _may_match(meta: dict, flt: tuple, data_dir: str | None = None) -> bool:
    """Can this file contain rows satisfying the filter? (False ⇒ safe to
    skip: partition value is exact; stats ranges are conservative — files
    with no stats for the column are always kept.) ``data_dir`` lets the
    bloom probe resolve sidecar bitmaps; without it only inline bitmaps
    answer (conservative).

    Ops beyond the classic comparisons (round 9): ``in``/``notin`` (val
    is a tuple of literals), ``!=``, and the null tests ``isnull``/
    ``notnull`` (val ignored). Null tests prune on the exact per-file
    null counts the footer harvest records (``nulls`` + ``nulls_ok``);
    ``!=``/``notin`` can only skip a file whose min==max pins every
    non-null row to an excluded value — null rows never satisfy a
    comparison, so they never block that skip."""
    col, op, val = flt
    pvals = meta.get("partition_values", {})
    if col in pvals:
        pv = pvals[col]
        if op == "isnull":
            return pv is None
        if op == "notnull":
            return pv is not None
        if pv is None:
            return False  # null partitions satisfy no comparison predicate
        ref = (
            val[0]
            if op == "between"
            else (val[0] if op in ("in", "notin") and val else val)
        )
        typed = _typed(pv, ref)
        if isinstance(typed, str) and not isinstance(ref, str):
            # literal type _typed cannot coerce (Decimal, …): pruning must
            # stay conservative — keep the file, Spark re-applies the
            # filter on the rows anyway
            return True
        try:
            if op == "==":
                return typed == val
            if op == "!=":
                return typed != val
            if op == "in":
                return any(typed == v for v in val)
            if op == "notin":
                return all(typed != v for v in val)
            if op == "<":
                return typed < val
            if op == "<=":
                return typed <= val
            if op == ">":
                return typed > val
            if op == ">=":
                return typed >= val
            if op == "between":
                lo, hi = val
                return lo <= typed <= hi
        except TypeError:
            return True  # incomparable types — keep the file
        return True
    if op in ("==", "in") and not _bloom_ok(meta, col, op, val, data_dir):
        return False  # bloom veto: no matching non-null value in file
    st = (meta.get("stats") or {}).get(col)
    if op in ("isnull", "notnull"):
        if not st or not st.get("nulls_ok"):
            return True  # null counts unknown (old log / missing) — keep
        if op == "isnull":
            return int(st.get("nulls") or 0) > 0
        rows = meta.get("rows")
        if rows is None:
            return True
        return int(st.get("nulls") or 0) < int(rows)
    if not st or st.get("no_stats") or st.get("min") is None:
        return True
    lo, hi = _dec(st["min"]), _dec(st["max"])
    try:
        if op == "==":
            return lo <= val <= hi
        if op == "!=":
            # skippable only when every non-null row equals val (null
            # rows don't satisfy != either, so they don't block the skip)
            return not (lo == hi == val)
        if op == "in":
            return any(lo <= v <= hi for v in val)
        if op == "notin":
            return not (lo == hi and any(lo == v for v in val))
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "between":
            vlo, vhi = val
            return not (hi < vlo or lo > vhi)
    except TypeError:
        return True  # incomparable literal/stats types — keep the file
    return True


def _typed(path_value: str, like: Any) -> Any:
    """Coerce a partition-path string to the comparison literal's type."""
    try:
        if isinstance(like, bool):
            return path_value.lower() == "true"
        if isinstance(like, int):
            return int(path_value)
        if isinstance(like, float):
            return float(path_value)
        if isinstance(like, date) and not isinstance(like, datetime):
            return date.fromisoformat(path_value)
        if isinstance(like, datetime):
            return datetime.fromisoformat(path_value)
    except ValueError:
        return path_value
    return path_value


def _as_column(flt: tuple):
    """The exact row predicate for one filter term. SQL tri-state is
    preserved by construction: ``!=``/``notin`` are null-UNSAFE (NULL
    input → NULL → row not selected), matching what a WHERE clause —
    and therefore DELETE/UPDATE row selection — does with them."""
    col, op, val = flt
    c = F.col(col)
    return {
        "==": lambda: c == val,
        "!=": lambda: c != val,
        "in": lambda: c.isin(list(val)),
        "notin": lambda: ~c.isin(list(val)),
        "isnull": lambda: c.isNull(),
        "notnull": lambda: c.isNotNull(),
        "<": lambda: c < val,
        "<=": lambda: c <= val,
        ">": lambda: c > val,
        ">=": lambda: c >= val,
        "between": lambda: c.between(val[0], val[1]),
    }[op]()


# --- DNF filters (round 8): row ops accept OR-of-AND predicates -----------
#
# ``filters`` everywhere in the row-op API is EITHER the classic flat
# conjunction [(col, op, val), ...] OR a DNF list-of-conjunctions
# [[(col, op, val), ...], ...] meaning (c11 AND c12 ...) OR (c21 ...).
# DNF is the natural shape for stats pruning: each disjunct prunes files
# independently and a file is a candidate iff ANY disjunct may match it —
# the union of the disjuncts' candidate sets, never a correctness
# decision (the exact row predicate re-applies on the rows).


def _as_dnf(filters) -> list[list[tuple]]:
    """Normalize filters to DNF. A flat list of (col, op, val) tuples is
    one conjunction; a list of sequences-of-tuples is a DNF (each inner
    sequence one AND-group) — the discriminator is the first element of
    the first entry (a str column name ⇒ flat conjunction; a nested
    sequence ⇒ DNF), so tuple-of-tuples input prunes identically to
    list-of-lists instead of being silently mistaken for a flat
    conjunction. Empty input normalizes to [] (no predicate)."""
    if not filters:
        return []
    first = filters[0]
    if not isinstance(first, (list, tuple)) or not first:
        raise ValueError(
            f"filters entries must be (col, op, val) tuples or "
            f"sequences of them, got {first!r}"
        )
    if isinstance(first[0], str):
        return [list(filters)]
    if isinstance(first[0], (list, tuple)):
        dnf = [list(d) for d in filters]
        if any(not d for d in dnf):
            raise ValueError("empty disjunct in DNF filters")
        return dnf
    raise ValueError(
        f"cannot interpret filters: first entry {first!r} is neither a "
        "(col, op, val) term nor a conjunction of terms"
    )


def _dnf_physical(dnf: list[list[tuple]], mapping: dict[str, str]):
    return [_physical_filters(d, mapping) for d in dnf]


def _dnf_may_match(
    meta: dict, pdnf: list[list[tuple]], data_dir: str | None = None
) -> bool:
    """File-skip test for a DNF predicate: keep the file iff any
    disjunct's every term may match (empty DNF = no predicate = keep)."""
    if not pdnf:
        return True
    return any(
        all(_may_match(meta, f, data_dir) for f in d) for d in pdnf
    )


def _dnf_column(dnf: list[list[tuple]]):
    """The exact row predicate: OR over disjuncts of AND over terms."""
    cond = None
    for d in dnf:
        c = _as_column(d[0])
        for f in d[1:]:
            c = c & _as_column(f)
        cond = c if cond is None else (cond | c)
    return cond


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
