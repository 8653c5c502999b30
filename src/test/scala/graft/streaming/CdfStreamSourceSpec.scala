package graft.streaming

import graft.SparkSuite
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The change-data-feed as a registered Structured Streaming source:
  * `readStream.format("snapshot-cdf")` consumes table changes with
  * Spark's OWN offset-log checkpointing — crash-and-restart converges
  * with the pull-loop ([[SnapshotChangeFeed]]) control. */
class CdfStreamSourceSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def contents(t: SnapshotTable): Set[(Long, String)] =
    t.read().select("id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def drainOnce(srcDir: String, ckpt: String, sink: SnapshotTable,
      extraOpts: Map[String, String] = Map.empty): Unit = {
    val q = spark.readStream.format("snapshot-cdf")
      .options(extraOpts).load(srcDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.appendIfAbsent(df, s"b$id"); ()
      }
      .start()
    q.awaitTermination()
  }

  test("readStream consumes appends and both delete flavors; restart resumes from Spark's offset log") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    val ckpt = tmp("cdfq")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    // pull-loop control consuming the SAME source at the same points —
    // identical ranges, so the two sinks must converge exactly
    val pull = new SnapshotChangeFeed(spark, src, tmp("cdfckpt"))
    val sinkP = new SnapshotTable(spark, tmp("cdfsinkp"))
    def drainBoth(): Unit = {
      drainOnce(srcDir, ckpt, sink)
      pull.drainAvailableNow((df, tag) => { sinkP.appendIfAbsent(df, tag); () })
    }
    src.append(Seq(1L, 2L).toDF("id"))
    src.append(Seq(3L).toDF("id"))
    drainBoth()
    assert(contents(sink) ==
      Set((1L, "insert"), (2L, "insert"), (3L, "insert")))
    // the stream is DOWN while the table moves on; restart with the
    // same checkpoint resumes from Spark's offset log
    src.append(Seq(4L).toDF("id"))
    src.deleteWhere(col("id") === 2L)
    drainBoth()
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert"),
      (3L, "insert"), (4L, "insert"), (2L, "delete")))
    // a merge-on-read delete flows as delete rows
    src.deleteWhere(col("id") === 4L, mor = true)
    drainBoth()
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert"),
      (3L, "insert"), (4L, "insert"), (2L, "delete"), (4L, "delete")))
    assert(contents(sink) == contents(sinkP),
      "stream and pull-loop control must converge")
  }

  test("a batch that crashes mid-sink redelivers under the SAME batch id; the tag dedups it") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    src.append(Seq(1L).toDF("id"))
    val ckpt = tmp("cdfq")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    // first run: the consumer writes, then dies BEFORE Spark commits
    val q1 = spark.readStream.format("snapshot-cdf").load(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add(id)
        sink.appendIfAbsent(df, s"b$id")
        throw new RuntimeException("crash after sink write")
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    // restart: the SAME batch id redelivers; appendIfAbsent skips it
    drainOnce(srcDir, ckpt, sink)
    assert(seen.size() >= 1)
    assert(contents(sink) == Set((1L, "insert")),
      "redelivered batch must dedup, not double-apply")
  }

  test("maxVersionsPerTrigger bounds each micro-batch; startAt tails new changes only") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    (1L to 4L).foreach(i => src.append(Seq(i).toDF("id")))
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("snapshot-cdf")
      .option("maxVersionsPerTrigger", "2").load(srcDir)
      .writeStream.option("checkpointLocation", tmp("cdfq"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        ids.add(id)
        sink.appendIfAbsent(df, s"b$id"); ()
      }
      .start()
    q.awaitTermination()
    assert(ids.size() == 2, s"4 commits at 2/trigger must be 2 batches, got $ids")
    assert(sink.read().count() == 4)
    // startAt = head: nothing until a NEW commit lands
    val sink2 = new SnapshotTable(spark, tmp("cdfsink2"))
    val ck2 = tmp("cdfq2")
    val head = src.currentVersion
    drainOnce(srcDir, ck2, sink2, Map("startAt" -> head.toString))
    assert(sink2.currentVersion == 0, "caught-up tail must emit no batch")
    src.append(Seq(9L).toDF("id"))
    drainOnce(srcDir, ck2, sink2, Map("startAt" -> head.toString))
    assert(contents(sink2) == Set((9L, "insert")))
  }

  test("table-to-table replication: snapshot-cdf source into snapshot-table sink, exactly-once across restart") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    src.append(Seq(1L, 2L).toDF("id"))
    val sinkDir = tmp("cdfsink")
    val ckpt = tmp("cdfq")
    def replicate(): Unit = {
      val q = spark.readStream.format("snapshot-cdf").load(srcDir)
        .writeStream.format("snapshot-table")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    replicate()
    val sink = new SnapshotTable(spark, sinkDir)
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert")))
    // source moves on while the pipeline is down; restart resumes and
    // the batch tags dedup any redelivery
    src.append(Seq(3L).toDF("id"))
    src.deleteWhere(col("id") === 1L, mor = true)
    replicate()
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert"),
      (3L, "insert"), (1L, "delete")))
    // an idle restart commits nothing (no empty-batch churn)
    val vBefore = sink.currentVersion
    replicate()
    assert(sink.currentVersion == vBefore)
  }

  test("snapshot-table sink refuses partitionBy and non-append modes; stats options build a prunable table") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    src.append((1L to 100L).toDF("id"))
    val sinkDir = tmp("cdfsink")
    val q = spark.readStream.format("snapshot-cdf").load(srcDir)
      .writeStream.format("snapshot-table")
      .option("path", sinkDir)
      .option("statCols", "id")
      .option("checkpointLocation", tmp("cdfq"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val sink = new SnapshotTable(spark, sinkDir)
    assert(sink.read().count() == 100)
    // the sink recorded per-file stats: a range prune works on arrival
    sink.readWhere(col("id").between(1L, 1L))
    assert(SnapshotTable.lastPlannedCandidates(sinkDir).get.size <
      sink.files().size || sink.files().size == 1)
    intercept[IllegalArgumentException] {
      spark.readStream.format("snapshot-cdf").load(srcDir)
        .writeStream.format("snapshot-table")
        .option("path", tmp("x"))
        .partitionBy("id")
        .option("checkpointLocation", tmp("q"))
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }

  test("a rename mid-stream fails the running query; a plain restart resumes on the new schema") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    src.append(Seq(1L).toDF("id"))
    val ckpt = tmp("cdfq")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    drainOnce(srcDir, ckpt, sink)
    // the stream is down; the table renames and appends
    src.renameColumn("id", "doc_id")
    src.append(Seq(2L).toDF("doc_id"))
    // a stream still pinned to the OLD schema cannot project the new
    // frame — it fails LOUDLY (the Delta CDF schema-change contract)…
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .format("snapshot-cdf").load(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.appendIfAbsent(df, s"b$id"); ()
      }.start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    // …and a plain restart (schema re-read at start, same checkpoint)
    // resumes from the offset log and heals: pending ranges read under
    // the CURRENT schema, so the renamed column flows
    val sink2 = new SnapshotTable(spark, tmp("cdfsink2"))
    drainOnce(srcDir, ckpt, sink2)
    assert(sink2.read().select("doc_id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((2L, "insert")))
  }

  test("an empty table refuses to start with a clean error; explicit schema overrides") {
    val srcDir = tmp("cdfsrc")
    new SnapshotTable(spark, srcDir) // table root exists, no commits
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("snapshot-cdf").load(srcDir)
    }
    assert(e.getMessage.contains("no recorded schema"))
    // explicit schema: stream starts and the first append flows
    val df = spark.readStream.format("snapshot-cdf")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .load(srcDir)
    assert(df.schema.fieldNames.toSeq == Seq("id", "_change"))
  }

  test("columns option narrows the stream schema; unknown columns refused") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    src.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "v"))
    val df = spark.readStream.format("snapshot-cdf")
      .option("columns", "id,v").load(srcDir)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "_change"))
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    val q = df.writeStream.option("checkpointLocation", tmp("cdfq"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, i: Long) =>
        sink.appendIfAbsent(b, s"b$i"); ()
      }.start()
    q.awaitTermination()
    assert(sink.read().columns.toSeq == Seq("id", "v", "_change"))
    assert(sink.read().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 20L)))
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("snapshot-cdf")
        .option("columns", "id,nope").load(srcDir)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("where option subsets the feed by row values on both change sides; bad SQL refused at start") {
    val srcDir = tmp("cdfsrc")
    val src = new SnapshotTable(spark, srcDir)
    src.append(Seq((1L, "keep"), (2L, "drop")).toDF("id", "kind"))
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    val ckpt = tmp("cdfq")
    def drain(): Unit = {
      val q = spark.readStream.format("snapshot-cdf")
        .option("where", "kind = 'keep'")
        .option("columns", "id") // where may reference dropped columns
        .load(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, i: Long) =>
          sink.appendIfAbsent(b, s"b$i"); ()
        }.start()
      q.awaitTermination()
    }
    drain()
    def got = sink.read().select("id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "insert")), s"got $got")
    // a delete of a matching OLD row flows; non-matching one doesn't
    src.append(Seq((3L, "keep")).toDF("id", "kind"))
    src.deleteWhere(col("id") === 1L)
    src.deleteWhere(col("id") === 2L) // kind=drop: filtered out
    drain()
    assert(got == Set((1L, "insert"), (3L, "insert"), (1L, "delete")))
    // a predicate that does not parse fails at stream CONSTRUCTION
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("snapshot-cdf")
        .option("where", "kind ><= 'x'").load(srcDir)
    }
    assert(e.getMessage.contains("does not parse"))
  }

  test("TWO pipelines into ONE target land every batch; a fresh checkpoint is a new identity, not a dup") {
    // the exact case the bare batch-$id tag silently lost: both
    // pipelines' batches start at 0, so without query identity in the
    // tag the second pipeline's batches 0..N would read as
    // already-committed and be skipped with no error
    val srcA = new SnapshotTable(spark, tmp("cdfsrcA"))
    val srcB = new SnapshotTable(spark, tmp("cdfsrcB"))
    srcA.append(Seq(1L, 2L).toDF("id"))
    srcB.append(Seq(10L, 20L).toDF("id"))
    val sinkDir = tmp("cdfsink")
    def pipe(srcDir: String, ckpt: String): Unit = {
      val q = spark.readStream.format("snapshot-cdf").load(srcDir)
        .writeStream.format("snapshot-table")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val ckA = tmp("cdfqA")
    pipe(srcA.root, ckA)
    pipe(srcB.root, tmp("cdfqB")) // second query, batch ids restart at 0
    val sink = new SnapshotTable(spark, sinkDir)
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert"),
      (10L, "insert"), (20L, "insert")),
      "second pipeline's batch 0 must land, not dedup against the first's")
    // same-checkpoint restart of pipeline A still dedups redelivery
    srcA.append(Seq(3L).toDF("id"))
    pipe(srcA.root, ckA)
    pipe(srcA.root, ckA) // idle restart: nothing double-applies
    assert(sink.read().count() == 5)
    // a FRESH checkpoint is a new query identity: its batch 0 (a full
    // replay of srcA) lands instead of being silently skipped
    pipe(srcA.root, tmp("cdfqA2"))
    assert(sink.read().count() == 8,
      "fresh-checkpoint replay must append, not vanish as a duplicate")
    // an explicit txnAppId dedups across DIFFERENT checkpoints
    val sink2dir = tmp("cdfsink2")
    def pipeAs(ckpt: String): Unit = {
      val q = spark.readStream.format("snapshot-cdf").load(srcA.root)
        .writeStream.format("snapshot-table")
        .option("path", sink2dir)
        .option("txnAppId", "replicate-A")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pipeAs(tmp("cdfqC"))
    pipeAs(tmp("cdfqD")) // fresh checkpoint, SAME app id → batch 0 dedups
    assert(new SnapshotTable(spark, sink2dir).read().count() == 3)
  }

  test("streamingSink outside a streaming query refuses loudly; streamingSinkAs works anywhere") {
    val t = new SnapshotTable(spark, tmp("snaptab"))
    val df = Seq(1L).toDF("id")
    val e = intercept[IllegalStateException] { t.streamingSink(df, 0L) }
    assert(e.getMessage.contains("txnAppId"))
    // explicit identity path: dedups on (appId, batchId)
    t.streamingSinkAs("job-x")(df, 0L)
    t.streamingSinkAs("job-x")(df, 0L) // redelivery dedups
    t.streamingSinkAs("job-y")(df, 0L) // other app's batch 0 lands
    assert(t.read().count() == 2)
  }

  test("batch read.format(snapshot-cdf): bounded diff with columns/where/SQL; fromVersion required") {
    val dir = tmp("cdfbatch")
    val t = new SnapshotTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val v1 = t.currentVersion
    t.append(Seq((3L, "c")).toDF("id", "tag"))
    t.deleteWhere(col("id") === 1L, mor = true)
    val v3 = t.currentVersion
    t.append(Seq((4L, "d")).toDF("id", "tag"))
    def chg(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select("id", "_change").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // strictly-after-v1 through v3: one insert, one delete
    assert(chg(spark.read.format("snapshot-cdf")
      .option("fromVersion", v1).option("toVersion", v3).load(dir)) ==
      Set((3L, "insert"), (1L, "delete")))
    // toVersion defaults to head
    assert(chg(spark.read.format("snapshot-cdf")
      .option("fromVersion", v3).load(dir)) == Set((4L, "insert")))
    // fromVersion 0 = NET diff against the empty table: the current
    // snapshot as inserts (2,3,4 — the deleted id 1 never appears)
    assert(chg(spark.read.format("snapshot-cdf")
      .option("fromVersion", 0).load(dir)) ==
      Set((2L, "insert"), (3L, "insert"), (4L, "insert")))
    // columns narrows; where subsets by row values; SQL view works
    val narrow = spark.read.format("snapshot-cdf")
      .option("fromVersion", v1).option("toVersion", v3)
      .option("columns", "id").option("where", "tag <> 'c'").load(dir)
    assert(narrow.schema.fieldNames.toSeq == Seq("id", "_change"))
    assert(narrow.select("id").as[Long].collect().toSeq == Seq(1L))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW cdf_v USING `snapshot-cdf` " +
      s"OPTIONS (path '$dir', fromVersion '0')")
    assert(spark.sql(
      "SELECT count(*) FROM cdf_v WHERE _change = 'insert'")
      .as[Long].head() == 3L)
    spark.sql("DROP VIEW cdf_v")
    val e = intercept[IllegalArgumentException] {
      spark.read.format("snapshot-cdf").load(dir)
    }
    assert(e.getMessage.contains("fromVersion"))
    // schema pins at toVersion, not head: a rename AFTER the bounded
    // range must not leak into the bounded read's shape
    t.renameColumn("tag", "label")
    assert(spark.read.format("snapshot-cdf")
      .option("fromVersion", v1).option("toVersion", v3).load(dir)
      .schema.fieldNames.toSeq == Seq("id", "tag", "_change"))
    assert(spark.read.format("snapshot-cdf")
      .option("fromVersion", v3).load(dir)
      .schema.fieldNames.toSeq == Seq("id", "label", "_change"))
  }

  test("timestamp options: fromTimestamp batch CDF, startAtTimestamp stream") {
    val dir = tmp("cdfts")
    val t = new SnapshotTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "tag"))
    Thread.sleep(25)
    val mid = System.currentTimeMillis()
    Thread.sleep(25)
    t.append(Seq((2L, "b")).toDF("id", "tag"))
    // batch: changes strictly after `mid` = the second append only
    assert(spark.read.format("snapshot-cdf")
      .option("fromTimestamp", mid.toString).load(dir)
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // a plausible instant predating the table = everything
    // (versionAtOrStart); a bare '0' (epoch-seconds slip territory)
    // refuses with the seconds-vs-millis hint
    assert(spark.read.format("snapshot-cdf")
      .option("fromTimestamp", "2000-01-02").load(dir).count() == 2)
    assert(intercept[IllegalArgumentException] {
      spark.read.format("snapshot-cdf")
        .option("fromTimestamp", "0").load(dir)
    }.getMessage.contains("epoch"))
    intercept[IllegalArgumentException] {
      spark.read.format("snapshot-cdf").option("fromVersion", 1)
        .option("fromTimestamp", "2000-01-02").load(dir)
    }
    // stream: startAtTimestamp tails only what follows the instant
    val q = spark.readStream.format("snapshot")
      .option("startAtTimestamp", mid.toString).load(dir)
      .writeStream.format("memory").queryName("cdf_ts_tail")
      .option("checkpointLocation", tmp("cdftsck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.sql("SELECT id FROM cdf_ts_tail").as[Long]
      .collect().toSeq == Seq(2L))
  }
}
