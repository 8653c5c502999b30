package graft.streaming

import graft.domain.{GaugeStore, ObsIngest, Schemas, SourceMeta}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming restatement of the obs ingest loop
  * (SURVEY §2.9): the reference's cron-driven micro-batch contracts
  * map onto Spark's native streaming machinery.
  *
  *  - ledger table + `ingested` flag + J4 anti-join  → file-source
  *    checkpoint (exactly-once file processing, no ledger scan needed)
  *  - 31-day ledger lookback                         → `maxFileAge`
  *  - overlapping files, keep-latest (J8)            → each batch's one
  *    commit inside `foreachBatch` is the keep-latest fold of the batch
  *    and the stored rows of its source and dates
  *  - `UPDATE ingested=True` commit marker           → checkpoint commit
  *    in the same foreachBatch transaction boundary
  *
  * The batch path (ObsIngest) stays for backfill; both share every
  * transform, so semantics cannot drift.
  */
object StreamingIngest {

  /** Start streaming one catalog source's harvest directory into the
    * store. Caller stops the query (or uses [[runOnce]]). */
  def start(
      spark: SparkSession,
      meta: SourceMeta,
      store: GaugeStore,
      harvestDir: String,
      checkpointDir: String,
      maxFileAge: String = "31d",
      deleteProcessed: Boolean = false): StreamingQuery = {

    val stream = spark.readStream
      .schema(Schemas.harvestCsv(meta.source_variable))
      .option("header", "true")
      // FAILFAST matches the batch path (ObsIngest.readHarvest) and
      // the reference's pandas read_csv: a structurally corrupt file
      // STOPS the stream loudly (operator removes it; the checkpoint
      // has not advanced, so the rest replays) instead of PERMISSIVE's
      // silent null rows being ledgered-and-deleted as processed —
      // without this, batch and streaming semantics drift on exactly
      // the input that matters
      .option("mode", "FAILFAST")
      .option("maxFileAge", maxFileAge)       // 31-day lookback analogue
      // S7: reference deletes harvest files after load
      // (ingestObsTasks.py:412-414); cleanSource=delete is the
      // streaming-native equivalent, committed with the batch.
      .option("cleanSource", if (deleteProcessed) "delete" else "off")
      .csv(s"$harvestDir/${meta.filename_prefix}_*.csv")
      .withColumn("file_name", element_at(split(input_file_name(), "/"), -1))

    stream.writeStream
      .queryName(s"ingest_${meta.data_source}_${meta.source_name}")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, meta, store, batch)
        ()
      }
      .start()
  }

  /** One micro-batch: normalize → enrich → route → register the source
    * in the gauge-source dim → one [[GaugeStore.atomicCommit]] of the
    * fact, the keep-latest fold the batch path commits too. Mirrors the
    * batch path exactly, minus the read and the ledger. */
  private[streaming] def ingestBatch(
      spark: SparkSession, meta: SourceMeta, store: GaugeStore, batch: DataFrame): Unit = {
    if (batch.isEmpty) return
    val stations = store.stations
    store.upsertGaugeSource(meta, ObsIngest.buildGaugeSource(stations, meta))
    val fact = ObsIngest.ingestSource(batch, meta, stations).cache()
    try store.atomicCommit(store.newCommitId("stream"))(
      store.stageGaugeData(fact, meta.data_source, _))
    finally fact.unpersist()
  }

  /** Drain everything currently in the harvest dir and stop — the
    * cron-equivalent single pass. */
  def runOnce(
      spark: SparkSession, meta: SourceMeta, store: GaugeStore,
      harvestDir: String, checkpointDir: String): Unit = {
    val q = start(spark, meta, store, harvestDir, checkpointDir)
    q.awaitTermination()
  }
}
