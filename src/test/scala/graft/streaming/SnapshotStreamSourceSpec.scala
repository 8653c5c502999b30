package graft.streaming

import graft.SparkSuite
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The append-only `snapshot` STREAM source: plain table rows (no
  * `_change`), loud failure on deleted rows, compaction-transparent. */
class SnapshotStreamSourceSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def drain(srcDir: String, ckpt: String,
      buf: scala.collection.mutable.Buffer[(Long, String)],
      opts: Map[String, String] = Map.empty): Unit = {
    val q = spark.readStream.format("snapshot").options(opts).load(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= df.select("id", "tag").collect()
            .map(r => (r.getLong(0), r.getString(1)))
        }; ()
      }.start()
    q.awaitTermination()
  }

  test("streams appends with the TABLE schema; restart resumes from the offset log") {
    val srcDir = tmp("snapsrc"); val src = new SnapshotTable(spark, srcDir)
    src.append(Seq((1L, "a")).toDF("id", "tag"))
    val schema = spark.readStream.format("snapshot").load(srcDir).schema
    assert(schema.fieldNames.toSeq == Seq("id", "tag")) // no _change
    val ckpt = tmp("snapck")
    val got = scala.collection.mutable.Buffer[(Long, String)]()
    drain(srcDir, ckpt, got)
    assert(got.toSet == Set((1L, "a")))
    src.append(Seq((2L, "b"), (3L, "c")).toDF("id", "tag"))
    drain(srcDir, ckpt, got)
    assert(got.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    drain(srcDir, ckpt, got) // nothing new: no duplicates
    assert(got.size == 3)
  }

  test("a delete in range fails loudly; ignoreDeletes skips it; compaction passes") {
    val srcDir = tmp("snapsrc2"); val src = new SnapshotTable(spark, srcDir)
    src.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val got = scala.collection.mutable.Buffer[(Long, String)]()
    val ckpt = tmp("snapck2")
    drain(srcDir, ckpt, got)
    // compaction only: removes without row deletes must stream through
    src.compact(coalesceTo = 1)
    drain(srcDir, ckpt, got)
    assert(got.size == 2, s"compaction leaked rows: $got")
    // a MoR delete now fails the stream with the named remedy
    src.deleteWhere(col("id") === 1L, mor = true)
    src.append(Seq((4L, "d")).toDF("id", "tag"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(srcDir, ckpt, got)
    }
    assert(e.getCause.getMessage.contains("ignoreDeletes"), e.getCause.getMessage)
    // opt-in skip: the insert flows, the delete is knowingly dropped
    drain(srcDir, ckpt, got, Map("ignoreDeletes" -> "true"))
    assert(got.toSet == Set((1L, "a"), (2L, "b"), (4L, "d")))
  }

  test("columns and startAt options compose with the append-only view") {
    val srcDir = tmp("snapsrc3"); val src = new SnapshotTable(spark, srcDir)
    src.append(Seq((1L, "a")).toDF("id", "tag"))
    src.append(Seq((2L, "b")).toDF("id", "tag"))
    val df = spark.readStream.format("snapshot")
      .option("columns", "id").option("startAt", "1").load(srcDir)
    assert(df.schema.fieldNames.toSeq == Seq("id"))
    val q = df.writeStream.format("memory").queryName("snap_cols")
      .option("checkpointLocation", tmp("snapck3"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.sql("SELECT id FROM snap_cols").as[Long]
      .collect().toSeq == Seq(2L))
  }
}
