package graft.streaming

import graft.domain.GaugeStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming restatement of the MODEL-run ingest loop,
  * mirroring [[StreamingIngest]] (which covers the obs path): the
  * reference's queue-driven `runModelIngest.py` consumes one message
  * per completed ADCIRC run; here the "message" is a one-row manifest
  * CSV dropped into a watch directory (exactly what
  * [[graft.domain.HistoricalArchive]] emits per archived run), and the
  * file-source checkpoint replaces the queue's ack for exactly-once
  * manifest consumption.
  *
  * Each micro-batch hands every announced run to
  * [[graft.IngestCli.modelRunIngest]] — the SAME function the batch CLI
  * uses, so streaming and batch semantics cannot drift: per-run fact +
  * ledger rows publish as one atomic commit, re-announcement under the
  * same processing stamp is a no-op (ledger anti-join), and a genuine
  * rerun (new stamp) keeps the latest-processed rows of the run's
  * timemark inside that commit.
  *
  * Crash contract: foreachBatch can replay a batch after a restart.
  * With a manifest-supplied `processing_datetime` the replay is
  * EXACTLY-ONCE (the run ledger already holds the stamp → 0 new
  * files); without one each attempt mints a fresh wall-clock stamp, so
  * a replay lands as a rerun whose commit keeps its own rows and
  * converges to the same final state (at-least-once + self-repair, the
  * reference's cron semantics).
  */
object StreamingModelIngest {

  /** One row per run: everything [[graft.IngestCli.modelRunIngest]]
    * needs. `storm`/`advisory`/`processing_datetime` may be empty. */
  val manifestSchema: StructType = StructType(Seq(
    StructField("model_run_id", StringType),
    StructField("run_dir", StringType),
    StructField("timemark", StringType),
    StructField("ensemble", StringType),
    StructField("grid", StringType),
    StructField("storm", StringType),
    StructField("instance", StringType),
    StructField("metclass", StringType),
    StructField("advisory", StringType),
    StructField("processing_datetime", StringType)))

  def start(
      spark: SparkSession,
      store: GaugeStore,
      watchDir: String,
      checkpointDir: String,
      uiDataUrl: String = "https://ui.example",
      maxFileAge: String = "31d"): StreamingQuery = {
    val stream = spark.readStream
      .schema(manifestSchema)
      .option("header", "true")
      .option("maxFileAge", maxFileAge)
      .csv(s"$watchDir/*.csv")
      .withColumn("src_file", org.apache.spark.sql.functions.input_file_name())
    stream.writeStream
      .queryName("model_run_ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(spark, store, batch, uiDataUrl)
        ()
      }
      .start()
  }

  /** One micro-batch = a handful of announced runs. The collect is
    * control plane — one row per RUN (not per data row), bounded by
    * batch cadence. */
  private[streaming] def ingestBatch(
      spark: SparkSession, store: GaugeStore, batch: DataFrame,
      uiDataUrl: String): Unit = {
    batch.collect().foreach { r =>
      def s(c: String) = Option(r.getAs[String](c)).map(_.trim).filter(_.nonEmpty)
      // A malformed/truncated manifest parses PERMISSIVEly into nulls;
      // feeding those into modelRunIngest NPEs and kills the whole
      // streaming query. Validate the required fields per ROW and
      // skip-and-log with the offending file named, so one bad manifest
      // can't poison the stream (the reference's queue consumer has the
      // same per-message isolation).
      val required = Seq("model_run_id", "run_dir", "timemark",
        "ensemble", "grid", "instance", "metclass")
      val missing = required.filter(c => s(c).isEmpty)
      if (missing.nonEmpty) {
        val file = scala.util.Try(r.getAs[String]("src_file"))
          .toOption.flatMap(Option(_)).getOrElse("<unknown manifest>")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"skipping malformed manifest $file: missing/empty " +
            missing.mkString(", "))
      } else {
        // field validation alone is not isolation: a manifest whose
        // run DIR is corrupt (bad FORECAST csv, commit failure) makes
        // modelRunIngest THROW, and an uncaught throw kills the query
        // before the checkpoint commits — the batch replays into the
        // same exception forever and every manifest behind it stalls.
        // Catch per RUN, record a durable dead-letter row (the
        // operator's re-drive list — modelRunIngest's batch commit keeps
        // the latest-processed rows of the run, so re-running a
        // repaired run is safe), and let the stream advance.
        try {
          graft.IngestCli.modelRunIngest(spark, store,
            runDir = r.getAs[String]("run_dir"),
            modelRunId = r.getAs[String]("model_run_id"),
            timemark = r.getAs[String]("timemark"),
            ensemble = r.getAs[String]("ensemble"),
            grid = r.getAs[String]("grid"),
            storm = s("storm").filterNot(v => v == "none" || v == "None"),
            sourceInstance = r.getAs[String]("instance"),
            forcingMetclass = r.getAs[String]("metclass"),
            uiDataUrl = uiDataUrl,
            processingDatetime = s("processing_datetime"),
            advisory = s("advisory"))
          ()
        } catch {
          case scala.util.control.NonFatal(e) =>
            val runId = r.getAs[String]("model_run_id")
            org.slf4j.LoggerFactory.getLogger(getClass).error(
              s"model run $runId failed ingest — dead-lettered: ${e.getMessage}")
            import spark.implicits._
            Seq((runId, r.getAs[String]("run_dir"),
              String.valueOf(e.getMessage),
              java.time.Instant.now().toString))
              .toDF("model_run_id", "run_dir", "error", "failed_at")
              .write.mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(s"${store.root}/model_ingest_errors")
        }
      }
    }
  }

  /** Dead-lettered runs (empty frame if none ever failed) — the
    * operator's re-drive list for [[ingestBatch]] failures. */
  def deadLetters(spark: SparkSession, store: GaugeStore): DataFrame =
    if (store.tableExists("model_ingest_errors"))
      spark.read.parquet(s"${store.root}/model_ingest_errors")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "model_run_id STRING, run_dir STRING, error STRING, failed_at STRING"))

  /** Drain every manifest currently in the watch dir and stop — the
    * queue-drain single pass. */
  def runOnce(
      spark: SparkSession, store: GaugeStore,
      watchDir: String, checkpointDir: String): Unit = {
    val q = start(spark, store, watchDir, checkpointDir)
    q.awaitTermination()
  }
}
