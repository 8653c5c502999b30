package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** The registered `snapshot` batch format: read/write/SQL surface,
  * metadata pruning from pushed filters, time travel options, and the
  * exact-translation contract of the filter→Column bridge. */
class SnapshotRelationSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("snaprel").toString

  test("format(snapshot) round-trips data and schema; select prunes columns") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    val df = spark.read.format("snapshot").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // projection-only path (requiredColumns subset, reordered)
    assert(df.select("tag", "id").where($"id" > 1L)
      .as[(String, Long)].collect().toSet == Set(("b", 2L), ("c", 3L)))
    // empty requiredColumns path (count star)
    assert(df.count() == 3L)
  }

  test("pushed filters prune files via stats/blooms; rows stay exact") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    // 5 files of 100 ids each, stat+bloom tracked
    (0 until 5).foreach { b =>
      val lo = b * 100L
      t.appendWithStats(
        (lo until lo + 100L).toDF("id").repartition(1),
        statCols = Seq("id"), bloomCols = Seq("id"))
    }
    val df = spark.read.format("snapshot").load(dir)
    def planned = SnapshotTable.lastPlannedCandidates(dir).get
    assert(df.where($"id" === 250L).as[Long].collect().toSeq == Seq(250L))
    assert(planned.size == 1, s"point lookup planned ${planned.size} files")
    assert(df.where($"id" >= 150L && $"id" < 260L).count() == 110L)
    assert(planned.size == 2)
    // IN-list bloom probes
    assert(df.where($"id".isin(7L, 307L)).count() == 2L)
    assert(planned.size == 2)
    // an untranslatable residual (modulo) widens pruning, never rows
    assert(df.where($"id" % 100L === 0L && $"id" < 100L).count() == 1L)
  }

  test("versionAsOf and timestampAsOf time travel through the format") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    t.append(Seq(1L, 2L).toDF("id"))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(Seq(3L).toDF("id"))
    assert(spark.read.format("snapshot").option("versionAsOf", 1)
      .load(dir).count() == 2L)
    assert(spark.read.format("snapshot")
      .option("timestampAsOf", afterV1.toString).load(dir).count() == 2L)
    assert(spark.read.format("snapshot").load(dir).count() == 3L)
    intercept[IllegalArgumentException] {
      spark.read.format("snapshot").option("versionAsOf", 1)
        .option("timestampAsOf", afterV1.toString).load(dir).schema
    }
  }

  test("USING snapshot temp view serves SQL with pruning and aggregation") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    t.appendWithStats(
      Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "x", 30.0))
        .toDF("id", "grp", "v"),
      statCols = Seq("id"))
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW snap_rel_v USING snapshot " +
        s"OPTIONS (path '$dir')")
    val agg = spark.sql(
      "SELECT grp, sum(v) s FROM snap_rel_v WHERE id >= 1 GROUP BY grp " +
        "ORDER BY grp").as[(String, Double)].collect().toSeq
    assert(agg == Seq(("x", 40.0), ("y", 20.0)))
    // buffered consumption (sort after scan) sees distinct rows — the
    // needConversion=false InternalRow path must not alias buffers
    val all = spark.sql("SELECT id, grp FROM snap_rel_v ORDER BY id DESC")
      .as[(Long, String)].collect().toSeq
    assert(all == Seq((3L, "x"), (2L, "y"), (1L, "x")))
    spark.sql("DROP VIEW snap_rel_v")
  }

  test("write.format(snapshot) honors SaveMode semantics") {
    val dir = tmpDir()
    Seq(1L, 2L).toDF("id").write.format("snapshot")
      .mode(SaveMode.ErrorIfExists).save(dir)
    Seq(3L).toDF("id").write.format("snapshot")
      .mode(SaveMode.Append).save(dir)
    val t = new SnapshotTable(spark, dir)
    assert(t.read().as[Long].collect().toSet == Set(1L, 2L, 3L))
    intercept[IllegalStateException] {
      Seq(9L).toDF("id").write.format("snapshot")
        .mode(SaveMode.ErrorIfExists).save(dir)
    }
    Seq(9L).toDF("id").write.format("snapshot")
      .mode(SaveMode.Ignore).save(dir) // existing table: no-op
    assert(t.read().as[Long].collect().toSet == Set(1L, 2L, 3L))
    Seq(7L, 8L).toDF("id").write.format("snapshot")
      .mode(SaveMode.Overwrite).option("statCols", "id").save(dir)
    assert(t.read().as[Long].collect().toSet == Set(7L, 8L))
    // history preserved by overwrite (logical, not physical, replace)
    assert(t.read(Some(2)).as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the explicit statCols option re-laid the generation with stats:
    // a stat-pruned read plans at most one file
    assert(t.readWhere(col("id") === 7L).as[Long].collect().toSeq == Seq(7L))
    assert(t.lastDmlCandidates.size <= 1)
  }

  test("MoR deletes and renamed columns read correctly through the format") {
    val dir = tmpDir()
    val t = new SnapshotTable(spark, dir)
    t.appendWithStats((1L to 10L).toDF("id"), statCols = Seq("id"))
    t.deleteWhere(col("id") === 5L, mor = true)
    t.renameColumn("id", "ident")
    val df = spark.read.format("snapshot").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("ident"))
    assert(df.as[Long].collect().toSet == ((1L to 10L).toSet - 5L))
    assert(df.where($"ident" === 5L).isEmpty)
  }

  test("filter translation is exact-or-absent inside Or/Not, droppable at top level") {
    def tc(f: Filter) = SnapshotRelation.toColumn(f)
    assert(tc(EqualTo("a", 1)).isDefined)
    assert(tc(EqualTo("a.b", 1)).isEmpty) // dotted = struct path, skip
    assert(tc(Or(EqualTo("a.b", 1), EqualTo("x", 2))).isEmpty)
    assert(tc(Not(EqualTo("a.b", 1))).isEmpty)
    assert(tc(And(EqualTo("a.b", 1), EqualTo("x", 2))).isEmpty)
    assert(tc(Or(EqualTo("a", 1), EqualTo("x", 2))).isDefined)
    assert(tc(Not(In("a", Array(1, 2)))).isDefined)
    assert(tc(StringStartsWith("s", "pre")).isDefined)
  }
}
