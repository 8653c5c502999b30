package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** FROM-clause SQL surface: snapshot_at / table_changes /
  * snapshot_history as table-valued functions, registered from the
  * same builder set GraftExtensions injects at session build. */
class SnapshotTvfSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    SnapshotTvfs.registerOn(spark)
    val d = java.nio.file.Files.createTempDirectory("tvf").toString
    val t = new SnapshotTable(spark, d)
    // one file, so the MoR delete below forms a real DV (a singleton
    // file would convert to a plain remove — no protocol bump)
    t.appendWithStats(
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag").repartition(1),
      statCols = Seq("id"))
    t.append(Seq((3L, "c")).toDF("id", "tag"))
    t.deleteWhere(col("id") === 1L, mor = true)
    d
  }

  test("snapshot_files lists live-file metadata from manifests only") {
    val rows = spark.sql(
      s"SELECT * FROM snapshot_files('$dir') ORDER BY path").collect()
    assert(rows.length == 2, s"expected 2 live files, got ${rows.length}")
    // the stat-tracked first file carries its recorded range + DV debt
    val withDv = rows.find(_.getAs[Long]("dv_tombstones") == 1L).get
    assert(withDv.getSeq[String](withDv.fieldIndex("stats")) == Seq("id=[1,2]"))
    assert(withDv.getAs[Long]("row_count") == 2L)
    assert(withDv.getAs[Long]("size_bytes") > 0L)
    // the second (stat-less) append records rows/size but no ranges
    val plain = rows.find(_.getAs[Long]("dv_tombstones") == 0L).get
    assert(plain.getSeq[String](plain.fieldIndex("stats")).isEmpty)
    assert(plain.getAs[Long]("row_count") == 1L)
    // version argument: before the MoR delete there is no DV debt
    assert(spark.sql(s"SELECT sum(dv_tombstones) FROM snapshot_files('$dir', 2)")
      .head().getLong(0) == 0L)
    // composes with SQL aggregation (total bytes = DESCRIBE DETAIL's)
    val viaFiles = spark.sql(
      s"SELECT sum(size_bytes) FROM snapshot_files('$dir')").head().getLong(0)
    val viaDetail = spark.sql(
      s"SELECT size_bytes FROM snapshot_detail('$dir')").head().getLong(0)
    assert(viaFiles == viaDetail)
  }

  test("snapshot_at serves head and version travel, composable in SQL") {
    assert(spark.sql(s"SELECT id FROM snapshot_at('$dir') ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    assert(spark.sql(s"SELECT count(*) FROM snapshot_at('$dir', 1)")
      .as[Long].head() == 2L)
    // composes: self-join through the TVF
    assert(spark.sql(
      s"""SELECT a.id FROM snapshot_at('$dir') a
         |JOIN snapshot_at('$dir', 1) b ON a.id = b.id""".stripMargin)
      .as[Long].collect().toSeq == Seq(2L))
  }

  test("table_changes yields the bounded diff; upper bound defaults to head") {
    val got = spark.sql(
      s"SELECT id, _change FROM table_changes('$dir', 1, 3)")
      .as[(Long, String)].collect().toSet
    assert(got == Set((3L, "insert"), (1L, "delete")))
    assert(spark.sql(s"SELECT count(*) FROM table_changes('$dir', 0)")
      .as[Long].head() == 2L) // net vs empty: ids 2, 3 as inserts
  }

  test("snapshot_history lists commits newest-first with the keyed marker") {
    val rows = spark.sql(
      s"SELECT version, n_add, n_remove, keyed FROM snapshot_history('$dir')")
      .as[(Int, Int, Int, Boolean)].collect().toSeq
    assert(rows.map(_._1) == Seq(3, 2, 1))
    assert(rows.head._4) // the MoR delete is keyed
    // the operation column names each commit's verb
    assert(spark.sql(
      s"SELECT op FROM snapshot_history('$dir') ORDER BY version")
      .as[String].collect().toSeq ==
      Seq("append", "append", "deleteWhereMoR"))
    assert(spark.sql(
      s"SELECT count(*) FROM snapshot_history('$dir', 2)")
      .as[Long].head() == 2L)
  }

  test("snapshot_detail summarizes; string arguments time-travel by timestamp") {
    val row = spark.sql(
      s"SELECT version, num_files, min_reader FROM snapshot_detail('$dir')")
      .collect().head
    assert(row.getInt(0) == 3 && row.getInt(1) >= 1 && row.getInt(2) == 2)
    // a timestamp far in the future resolves to head; before-creation
    // base = everything for table_changes
    val future = (System.currentTimeMillis() + 60000L).toString
    assert(spark.sql(
      s"SELECT count(*) FROM snapshot_at('$dir', '$future')")
      .as[Long].head() == 2L)
    // a plausible instant predating the table = everything; a bare
    // '0' (epoch-seconds slip territory) refuses with the hint
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('$dir', '2000-01-02')")
      .as[Long].head() == 2L)
    val eSec = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM table_changes('$dir', '0')").collect()
    }
    assert(eSec.getMessage.contains("epoch"))
  }

  test("non-literal and malformed arguments refuse with named errors") {
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_at(concat('$dir', ''))").collect()
    }
    assert(e1.getMessage.contains("string literal"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$dir')").collect()
    }
    assert(e2.getMessage.contains("2 or 3"))
    val e3 = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_at('$dir', 'x')").collect()
    }
    assert(e3.getMessage.contains("must be a timestamp"))
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_at('$dir', array(1))").collect()
    }
    assert(e4.getMessage.contains("integer literal"))
  }
}
