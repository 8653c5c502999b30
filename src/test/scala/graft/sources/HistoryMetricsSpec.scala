package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Operation metrics in `history()` (the DESCRIBE HISTORY
  * operationMetrics shape): rows/bytes added and removed per commit,
  * computed from manifest channels only — one seeded replay plus a
  * forward walk, never a data scan. */
class HistoryMetricsSpec extends SparkSuite {
  import spark.implicits._

  private def tmpTable(): SnapshotTable = {
    val dir = java.nio.file.Files.createTempDirectory("snaphist").toString
    new SnapshotTable(spark, dir)
  }

  private def metricsAt(t: SnapshotTable, v: Int): (Option[Long], Option[Long], Option[Long], Option[Long]) = {
    val r = t.history().collect().find(_.getAs[Int]("version") == v).get
    def o(c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    (o("num_rows_added"), o("num_rows_removed"), o("bytes_added"), o("bytes_removed"))
  }

  test("append / delete / merge / compact / MoR delete carry rows+bytes metrics") {
    val t = tmpTable()
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    t.append(Seq((4L, "d"), (5L, "e")).toDF("id", "v").coalesce(1))

    // append: rows/bytes added, nothing removed
    val (a1, r1, b1, rb1) = metricsAt(t, 1)
    assert(a1.contains(3L) && r1.contains(0L) && b1.exists(_ > 0) && rb1.contains(0L))

    // CoW delete: one file rewritten — 2 rows out, 1 back in
    val v3 = t.deleteWhere(col("id") === 5L)
    val (a3, r3, b3, rb3) = metricsAt(t, v3)
    assert(a3.contains(1L) && r3.contains(2L))
    assert(b3.exists(_ > 0) && rb3.exists(_ > 0))

    // MoR delete: DV-only commit — tombstone growth counts as removed,
    // zero files (and bytes) leave the live set
    val v4 = t.deleteWhere(col("id") === 2L, mor = true)
    val (a4, r4, _, rb4) = metricsAt(t, v4)
    assert(a4.contains(0L) && r4.contains(1L) && rb4.contains(0L))

    // conditional merge: matched update rewrites the (3-row) first
    // file; one insert appends
    val v5 = t.mergeInto(Seq((1L, "A"), (9L, "i")).toDF("id", "v"),
      expr("target.id = source.id"),
      matched = Seq(SnapshotMerge.Update()),
      notMatched = Seq(SnapshotMerge.Insert()))
    val (a5, r5, _, _) = metricsAt(t, v5)
    // removed: the first file's LIVE rows (3 minus the DV-tombstoned
    // id=2) = 2; added: its 2 survivors + 1 insert = 3
    assert(r5.contains(2L), s"merge removed $r5")
    assert(a5.contains(3L), s"merge added $a5")

    // compact: everything rewritten — added == removed == live rows
    val live = t.read().count()
    val v6 = t.compact()
    val (a6, r6, _, _) = metricsAt(t, v6)
    assert(a6.contains(live) && r6.contains(live))
  }

  test("history survives a data vacuum whose retention floor cuts into the window") {
    val t = tmpTable()
    (1 to 6).foreach(i => t.append(Seq(i.toLong).toDF("id").coalesce(1)))
    t.deleteWhere(col("id") === 2L) // v7: remove-bearing, reaps on vacuum
    // data vacuum with the log KEPT: retention floor rises above the
    // window's lower edge while every manifest still exists — the
    // post-vacuum state DESCRIBE HISTORY must keep serving
    // retain only the head: the deleteWhere victim file is reaped, so
    // the retention BOUNDARY records at 7 while the log stays intact
    t.vacuum(retainFrom = 7, stagingGraceMs = 0L, truncateLog = false)
    // the crash shape: the window's lower edge (lo-1 = 4) falls
    // strictly inside (0, floor 7) — replay there is REFUSED, so the
    // walk must seed AT the floor instead of throwing
    val rows = t.history(limit = 3).collect() // window [5, 7]
    assert(rows.map(_.getAs[Int]("version")).sorted.toSeq == Seq(5, 6, 7))
    // every window row sits at/below the seed: added-side metrics stay
    // exact (each version's own manifest channels), removed-side is
    // null — no prior state to diff against, null beats a lie
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("num_rows_removed"))))
    val appends = rows.filter(_.getAs[Any]("op") == "append")
    assert(appends.nonEmpty)
    assert(appends.forall(r => r.getAs[Long]("num_rows_added") == 1L))
    assert(rows.find(_.getAs[Any]("op") == "deleteWhere").get
      .getAs[Long]("num_rows_added") == 0L)
  }

  test("metrics survive the checkpoint seed and degrade to null, not lies") {
    val t = tmpTable()
    // enough commits that history's window seeds from a mid-log replay
    (1 to 25).foreach(i => t.append(Seq((i.toLong, "x")).toDF("id", "v").coalesce(1)))
    t.deleteWhere(col("id") === 3L)
    val rows = t.history(limit = 5).collect()
    assert(rows.length == 5)
    val del = rows.find(_.getAs[Any]("op") == "deleteWhere").get
    // the removed file predates the window — its rows come from the
    // SEEDED replay, not the window's own manifests
    assert(del.getAs[Long]("num_rows_removed") == 1L)
    assert(del.getAs[Long]("num_rows_added") == 0L)
    // the TVF surface carries the new columns too
    SnapshotTvfs.registerOn(spark)
    val viaSql = spark.sql(
      s"SELECT num_rows_added FROM snapshot_history('${t.root}') " +
        "WHERE op = 'append' ORDER BY version DESC LIMIT 1")
    assert(viaSql.head().getLong(0) == 1L)
  }
}
