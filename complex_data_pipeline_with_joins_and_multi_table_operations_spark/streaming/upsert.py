"""Continuous CDC apply: a stream of upsert/delete records merged into a
transaction-log table, exactly once.

This is the missing verb between the two existing continuous loops —
`streaming/incremental.py` folds ADDITIVE partials (aggregation
maintenance) and `streaming/curation.py` grows an append-only corpus;
neither can apply a keyed mutation stream (the classic CDC landing
pattern: a change stream of latest-row-wins records, some flagged
deleted, continuously materialized as a queryable table). With
``TableLog.merge`` this is one line per microbatch:

- each microbatch MERGEs into the target (matched update, unmatched
  insert, flagged delete — the merge_upsert semantics), with stats-based
  file pruning keeping the rewrite proportional to the touched keys, not
  the table;
- the merge commit carries the Delta-style idempotent-writer token
  (app id + microbatch id), so a microbatch replayed across a crash
  (foreachBatch's at-least-once seam) commits nothing the second time —
  exactly-once at the table;
- ONE caveat a correct CDC apply must own: if a single microbatch holds
  several changes for the same key, MERGE would see a duplicate-key
  source. The loop therefore collapses each batch to its LAST change per
  key first (by a caller-named ordering column — CDC feeds carry an
  LSN/commit timestamp). For a TIME-ORDERED feed (each batch's changes
  follow every earlier batch's — what a log tail delivers) this makes
  the apply batch-boundary invariant: slicing the stream at any
  boundaries yields the bit-identical table (tested). A feed that can
  deliver old changes in later batches takes ``out_of_order=True`` —
  the tombstone-retaining ``TableLog.merge_latest`` apply (WHEN MATCHED
  AND source.order >= target.order; deletes persist as flagged rows so
  a stale update can never resurrect a deleted key), invariant to
  ARBITRARY slicing (tested); its live view filters the flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.txlog import TableLog


def apply_changes_batch(
    spark: SparkSession,
    batch: DataFrame,
    target_root: str,
    keys: list[str],
    order_col: str,
    delete_col: str | None = None,
    txn: tuple[str, int] | None = None,
    out_of_order: bool = False,
    via: str = "cow",
) -> dict:
    """Apply one slice of a change stream: keep the last change per key
    (``order_col`` descending, ties broken by the change columns for
    determinism), then MERGE into the target — creating it on first
    apply. Exposed separately from the stream loop so batch backfills
    reuse the identical apply (same collapse, same merge, same bits)."""
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), *[F.desc(c) for c in batch.columns if c not in keys]
    )
    latest = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # the merge machinery consumes the source twice (the key collect
        # for file pruning, the upsert join itself) — materialize the
        # collapsed batch once or the upstream scan + window sort
        # re-executes per consumer
        # (measured ~2x the per-microbatch cost at the sf10 probe).
        # Batch-sized, values untouched: slicing-invariance holds.
        .localCheckpoint(eager=True)
    )
    log = TableLog(spark, target_root)
    if out_of_order:
        # tombstone-retaining apply (TableLog.merge_latest): the delete
        # flag IS a table column; readers filter it for the live view
        if not log.exists():
            v = log.write(latest, mode="overwrite", txn=txn)
            return {
                "version": v,
                "files_rewritten": 0,
                "rows_written": latest.count(),
            }
        return log.merge_latest(
            latest, keys, order_col, delete_col=delete_col, txn=txn, via=via
        )
    if not log.exists():
        cols = [c for c in latest.columns if c != delete_col]
        first = latest.select(*cols)
        if delete_col is not None:
            first = latest.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).select(*cols)
        v = log.write(first, mode="overwrite", txn=txn)
        return {"version": v, "files_rewritten": 0, "rows_written": first.count()}
    return log.merge(
        latest,
        keys,
        delete_condition=delete_col,
        txn=txn,
        # CDC semantics: a delete record for a key the table never had is
        # a no-op, not an insert (SQL MERGE's rule is the batch default)
        insert_unmatched_deletes=False,
        # via="dv": each microbatch appends only its changed rows and
        # deletion-vectors the superseded positions — the landing table
        # never rewrites host files between OPTIMIZE passes
        via=via,
    )


def apply_changes_batches(
    spark: SparkSession,
    batches: list[tuple[int, DataFrame]],
    target_root: str,
    keys: list[str],
    order_col: str,
    delete_col: str | None = None,
    txn_app: str | None = None,
    out_of_order: bool = False,
    via: str = "cow",
) -> dict:
    """Backlog catch-up: apply a LIST of change-stream slices as ONE
    merge commit instead of one commit per slice — the amortization a
    drained queue or a batch backfill wants (commit cost is per merge:
    log read, candidate pruning, staging, commit; a 10-slice backlog
    pays it once here instead of 10 times).

    Correctness is the slicing-invariance contract the per-batch apply
    already tests: for a TIME-ORDERED feed, applying the union of the
    slices with last-change-per-key collapse is bit-identical to
    applying each slice in turn (and ``out_of_order=True`` routes to
    merge_latest, invariant to ARBITRARY slicing). The txn token
    recorded is the HIGHEST batch id, which is exactly the idempotence
    the per-slice tokens give: a replay of ANY covered slice id is at
    or below the high-water mark and commits nothing.

    ``batches`` is ``[(batch_id, df), ...]``; ids must be increasing
    (the time-ordered-feed precondition this fuses under)."""
    if not batches:
        raise ValueError("apply_changes_batches needs at least one batch")
    ids = [i for i, _ in batches]
    if ids != sorted(ids) or len(set(ids)) != len(ids):
        raise ValueError(
            f"batch ids must be strictly increasing (got {ids}); "
            "out-of-order SLICES need apply_changes_batch per slice"
        )
    union = batches[0][1]
    for _, df in batches[1:]:
        union = union.unionByName(df)
    return apply_changes_batch(
        spark,
        union,
        target_root,
        keys,
        order_col,
        delete_col=delete_col,
        txn=((txn_app or f"cdc-apply:{target_root}"), ids[-1]),
        out_of_order=out_of_order,
        via=via,
    )


def run_cdc_apply(
    spark: SparkSession,
    source_stream: DataFrame,
    target_root: str,
    checkpoint: str,
    keys: list[str],
    order_col: str,
    delete_col: str | None = None,
    timeout_s: int = 120,
    out_of_order: bool = False,
    via: str = "cow",
) -> None:
    """Drain a change stream into the target table exactly once:
    availableNow trigger, per-microbatch :func:`apply_changes_batch`
    with the checkpoint's batch id as the idempotent-writer token.
    ``out_of_order=True`` switches to the tombstone-retaining
    merge_latest apply for feeds that can deliver old changes late."""
    app_id = f"cdc-apply:{target_root}"

    def apply(batch: DataFrame, batch_id: int) -> None:
        apply_changes_batch(
            spark,
            batch,
            target_root,
            keys,
            order_col,
            delete_col=delete_col,
            txn=(app_id, batch_id),
            out_of_order=out_of_order,
            via=via,
        )

    q = (
        source_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"cdc apply exceeded {timeout_s}s; stopped — completed "
            "microbatches are committed, re-run to resume from the checkpoint"
        )
