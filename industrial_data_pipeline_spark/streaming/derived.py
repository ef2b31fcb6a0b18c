"""Real-time derived-attribute maintenance (T5) — Structured Streaming.

The reference generates one plpgsql ``AFTER INSERT FOR EACH ROW``
trigger per derived attribute (/root/reference/database/
database.py:644-743): on every source-row insert it looks up all
sibling source values at the same timestamp and, if all are present,
upserts ``formula(values)`` for the derived id (ON CONFLICT DO UPDATE
— last-wins). The derived row's own insert fires the triggers of the
attributes derived from it in turn.

Spark has no per-row triggers; the equivalent with identical
*final-state* semantics (SURVEY.md §2.8/T5, §7.2) is a micro-batch
maintenance job. For each batch of incoming source rows:

  1. read the stored rows at the batch's timestamps once (its date
     partitions only) and overlay the batch on them, last-wins;
  2. recompute each derived formula whose sources changed, in
     dependency order, at the timestamps where they changed, and
     overlay its rows so later formulas read them (the trigger
     cascade, made explicit);
  3. write the batch and its derived rows with ONE last-wins upsert,
     so a batch's source rows and derived rows become visible
     together.

Visibility latency changes (micro-batch vs synchronous trigger); the
resulting archive state is the same. Cost tracks batch span, not
history size: the working set is the batch's timestamps, and the
upsert rewrites each affected date partition once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from industrial_data_pipeline_spark.catalog.store import (
    ParquetStore,
    merge_archive,
)
from industrial_data_pipeline_spark.functions.formula import (
    dependency_order,
    referenced_ids,
)
from industrial_data_pipeline_spark.operators.derived import backfill_derived
from industrial_data_pipeline_spark.sources.ingest import RAW_SCHEMA, cleanse


class DerivedMaintenance:
    """foreachBatch handler maintaining all derived attributes of one
    database. Derived definitions are re-read from the catalog each
    batch (cheap — dimension table) so inserts/updates of derived
    attributes take effect without restarting the stream."""

    def __init__(self, spark: SparkSession, store: ParquetStore,
                 database: str):
        self.spark = spark
        self.store = store
        self.database = database

    def derived_formulas(self) -> dict[int, str]:
        rows = (self.store.attribute(self.database)
                .where(F.col("formula").isNotNull())
                .select("attribute_id", "formula").collect())
        return {r["attribute_id"]: r["formula"] for r in rows}

    def process_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        """One micro-batch of archive-shaped source rows, written
        together with every derived row it changes."""
        batch = batch.select("attribute_id", "timestamp", "value") \
            .localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        formulas = self.derived_formulas()
        # ONE distinct collect feeds both driver-side sets
        meta = (batch.select("attribute_id",
                             F.to_date("timestamp").alias("d"))
                .distinct().collect())
        changed = {r["attribute_id"] for r in meta}
        dates = sorted({r["d"] for r in meta})

        stored = None
        out = batch  # the batch plus the derived rows computed so far
        for did in dependency_order(formulas):
            src_ids = referenced_ids(formulas[did])
            if not changed & set(src_ids):
                continue  # this batch can't change the derived value
            if stored is None:  # one archive read per batch
                stored = (self.store.archive(self.database)
                          .where(F.col("ts_date").isin(dates))
                          .join(F.broadcast(
                              batch.select("timestamp").distinct()),
                              "timestamp")
                          .select("attribute_id", "timestamp", "value")
                          .localCheckpoint(eager=True))
            affected_ts = (out.where(F.col("attribute_id").isin(src_ids))
                           .select("timestamp").distinct())
            src = (merge_archive(stored, out, "last_wins")
                   .where(F.col("attribute_id").isin(src_ids))
                   .join(F.broadcast(affected_ts), "timestamp"))
            rows = backfill_derived(src, did, formulas[did])
            out = merge_archive(out, rows, "last_wins") \
                .localCheckpoint(eager=True)
            changed.add(did)
        # the trigger's upsert is ON CONFLICT DO UPDATE → last-wins
        self.store.upsert_archive(self.database, out, mode="last_wins")

    # ------------------------------------------------------------ wiring

    def attach(self, source_rows: DataFrame, checkpoint: str,
               trigger_seconds: int | None = None,
               prepare=None) -> StreamingQuery:
        """Start maintenance over a streaming DataFrame of archive-shaped
        rows (attribute_id, timestamp, value). ``prepare`` optionally
        maps each (static) micro-batch before processing — cleansing
        stays inside foreachBatch because it aggregates (first-wins
        dedup), which a plain streaming plan would reject without a
        watermark."""

        def handle(batch: DataFrame, epoch_id: int) -> None:
            if prepare is not None:
                batch = prepare(batch)
            self.process_batch(batch, epoch_id)

        writer = (source_rows.writeStream
                  .foreachBatch(handle)
                  .option("checkpointLocation", checkpoint)
                  .outputMode("update"))
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def attach_staging_dir(self, staging_dir: str, checkpoint: str,
                           raw: bool = False,
                           mapping: DataFrame | None = None,
                           tz_shift_hours: int = 7) -> StreamingQuery:
        """Stream from a staging directory where the fetcher drops
        parquet batches. ``raw=True`` expects RAW_SCHEMA rows (PI batch
        shape) and applies the ingest cleansing per micro-batch — the
        streaming twin of sources/ingest.py."""
        if raw:
            src = (self.spark.readStream.schema(RAW_SCHEMA)
                   .parquet(staging_dir))
            return self.attach(
                src, checkpoint,
                prepare=lambda b: cleanse(b, mapping, tz_shift_hours))
        src = (self.spark.readStream
               .schema("attribute_id long, timestamp timestamp, "
                       "value double")
               .parquet(staging_dir))
        return self.attach(src, checkpoint)
