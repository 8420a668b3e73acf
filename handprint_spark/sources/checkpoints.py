"""Checkpoint / lineage protocol — resumable extraction runs.

The reference's ``-j`` mode reuses prior per-(doc,service) JSON files
instead of re-calling services (manager.py:281-285, SURVEY.md §2.1 S8,
§2.3 J3). At cluster scale that becomes:

    work list  =  input spans table  ANTI JOIN  results table (doc_id)
    lineage    =  per-(batch, partition) row counts + metrics

so a re-run after any failure processes exactly the missing documents
and appends — no partial-document state is possible because one doc is
one row end-to-end (the pipeline is a pure per-row function).

On a real cluster both writes are a single Iceberg transaction
(results append + lineage append committed atomically; a crashed batch
leaves no committed rows and the anti-join re-selects its docs). The
parquet stand-in here writes results first, lineage second; the
anti-join is against *results*, so a crash between the two writes can
only lose lineage rows, never duplicate results.

Determinism makes resume exact: a re-extracted doc produces
byte-identical spans (X9 purity), so resumed-and-restarted tables are
equal as sets — asserted by tests/test_resume.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.extract import extract_documents
from . import table_sink


def pending_work(spark: SparkSession, spans_df: DataFrame, results_dir: str) -> DataFrame:
    """J3: input minus already-extracted doc_ids (left anti join)."""
    done = table_sink.load(spark, results_dir)
    if done is None:
        return spans_df
    # No .distinct() on the right side: LEFT ANTI semantics are
    # unchanged by duplicate keys, and a distinct added a full
    # shuffle+aggregate over the ever-growing results table to every
    # resume check — the one table this module promises never to
    # rescan more than necessary.
    return spans_df.join(done.select("doc_id"), "doc_id", "left_anti")


def commit_batch(
    spark: SparkSession,
    rows: DataFrame,
    results_dir: str,
    lineage_dir: str,
    batch_id: int,
    *counts: Column,
) -> list:
    """The one commit routine every resumable writer goes through:
    tag ``rows`` with ``batch_id``/``partition_id``, append them to
    ``results_dir``, then append one lineage row per partition,
    ``(batch_id, partition_id, n_docs, *counts, min_doc, max_doc)``,
    to ``lineage_dir``. ``counts`` are aliased aggregate columns over
    ``rows``. Returns the lineage rows (one per partition —
    driver-small by construction), so callers derive their metrics
    without a second aggregation pass or a rescan of either sink.

    ``results_dir``/``lineage_dir`` may be parquet paths or catalog
    table identifiers (table_sink) — with an Iceberg catalog the two
    appends become one atomic transaction."""
    rows = rows.withColumn("batch_id", F.lit(batch_id)).withColumn(
        "partition_id", F.spark_partition_id()
    )
    # cache so the results append reads this batch's output instead of
    # recomputing it
    rows.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # Lineage FIRST, append second: the plan under `rows`
        # anti-joins the results sink (pending_work), so any
        # recomputation after the append would see its own output and
        # resolve to empty. Taking the lineage snapshot (which also
        # materializes the cache) before the sink mutates keeps every
        # recomputation of this plan equal to what gets written.
        lineage_rows = (
            rows.groupBy("batch_id", "partition_id")
            .agg(
                F.count("*").alias("n_docs"),
                *counts,
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .collect()
        )
        table_sink.append(rows, results_dir)  # reads the cache
    finally:
        rows.unpersist()
    if lineage_rows:
        table_sink.append(spark.createDataFrame(lineage_rows), lineage_dir)
    return lineage_rows


def run_batch(
    spark: SparkSession,
    spans_df: DataFrame,
    results_dir: str,
    lineage_dir: str,
    batch_id: int,
) -> dict:
    """One resumable batch: anti-join → extract → ``commit_batch``.
    Returns batch metrics.

    Steady-state I/O contract (the shape that must hold at 10^12
    rows): ONE read of the input, ONE read of the results table's
    ``doc_id`` column (the ``pending_work`` anti-join), ONE write of
    results, ONE write of lineage. The per-partition lineage
    aggregates the batch's own (cached) output, never a rescan of the
    sink, and the collected lineage rows also supply the return
    metrics."""
    todo = pending_work(spark, spans_df, results_dir)
    lineage_rows = commit_batch(
        spark,
        extract_documents(todo),
        results_dir,
        lineage_dir,
        batch_id,
        F.sum("n_media").alias("n_media"),
        F.sum("n_errors").alias("n_errors"),
    )
    return {
        "batch_id": batch_id,
        "docs": sum(r["n_docs"] for r in lineage_rows),
        "media": int(sum(r["n_media"] for r in lineage_rows)),
        "errors": int(sum(r["n_errors"] for r in lineage_rows)),
    }
