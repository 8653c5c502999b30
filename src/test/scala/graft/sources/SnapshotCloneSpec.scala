package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Shallow clone: a metadata-only commit referencing the source's live
  * files — content-identical, prunable immediately, fully divergent
  * afterward, and physically incapable of touching source data. */
class SnapshotCloneSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("clone matches source content, stats prune, DVs and mapping carry") {
    val src = new SnapshotTable(spark, tmp("clsrc"))
    (0 until 4).foreach { b =>
      val lo = b * 100L
      src.appendWithStats(
        (lo until lo + 100L).toDF("id").repartition(1),
        statCols = Seq("id"), bloomCols = Seq("id"))
    }
    src.deleteWhere(col("id") === 250L, mor = true) // DV sidecar rides the clone
    src.renameColumn("id", "ident")        // mapping + protocol (3,3)
    src.addCheckConstraint("pos", "ident >= 0")
    val tgtDir = tmp("cltgt")
    val tgt = new SnapshotTable(spark, tgtDir)
    assert(src.shallowCloneTo(tgtDir) == 1)
    // content-identical (deleted row stays deleted through the DV copy)
    assert(tgt.read().as[Long].collect().toSet ==
      ((0L until 400L).toSet - 250L))
    assert(tgt.schemaAt().get.fieldNames.toSeq == Seq("ident"))
    // stats + blooms carried: a point read plans one candidate file
    assert(tgt.readWhere(col("ident") === 307L).as[Long]
      .collect().toSeq == Seq(307L))
    assert(tgt.lastDmlCandidates.size == 1,
      s"clone point read planned ${tgt.lastDmlCandidates.size} files")
    // properties carried: constraint enforces, protocol demands (3,3)
    intercept[SnapshotTable.ConstraintViolation] {
      tgt.append(Seq(-5L).toDF("ident"))
    }
    assert(tgt.protocol() == ((3, 3)))
    // zero data copied: the clone's data dir does not exist yet
    assert(!new java.io.File(s"$tgtDir/data").exists())
  }

  test("clone and source diverge freely; clone writes never touch source files") {
    val srcDir = tmp("clsrc2"); val src = new SnapshotTable(spark, srcDir)
    src.appendWithStats((1L to 10L).toDF("id"), statCols = Seq("id"))
    val tgtDir = tmp("cltgt2"); val tgt = new SnapshotTable(spark, tgtDir)
    src.shallowCloneTo(tgtDir)
    tgt.append(Seq(11L).toDF("id"))
    tgt.deleteWhere(col("id") === 3L) // CoW rewrite of a REFERENCED file
    assert(tgt.read().as[Long].collect().toSet ==
      ((1L to 11L).toSet - 3L))
    // the source never moved: full content, original files intact
    assert(src.read().as[Long].collect().toSet == (1L to 10L).toSet)
    src.append(Seq(99L).toDF("id"))
    assert(!tgt.read().as[Long].collect().toSet.contains(99L))
    // the clone's rewrite staged into its OWN data dir
    assert(new java.io.File(s"$tgtDir/data").exists())
  }

  test("target vacuum keeps foreign references and their sidecars") {
    val src = new SnapshotTable(spark, tmp("clsrc3"))
    src.appendWithStats((1L to 100L).toDF("id").repartition(2),
      statCols = Seq("id"), bloomCols = Seq("id"))
    val tgtDir = tmp("cltgt3"); val tgt = new SnapshotTable(spark, tgtDir)
    src.shallowCloneTo(tgtDir)
    tgt.appendWithStats(Seq(101L).toDF("id"),
      statCols = Seq("id"), bloomCols = Seq("id"))
    // aggressive target vacuum: nothing foreign may be touched, and
    // the COPIED bloom sidecars must survive (keep-aware sweep)
    tgt.vacuum(retainFrom = tgt.currentVersion, stagingGraceMs = -1000L)
    assert(tgt.read().as[Long].collect().toSet == (1L to 101L).toSet)
    assert(src.read().count() == 100L)
    // every live file carries a bloom: a point probe for a value in
    // ONE source half must prune both the other half and the append —
    // only possible if the copied sidecars survived the sweep
    // a string literal on the long column derives only the bloom probe
    tgt.readWhere(col("id") === "42")
    val probed = tgt.lastDmlCandidates
    assert(probed.size == 1 && tgt.files().size == 3,
      s"bloom sidecars lost: probe planned ${probed.size} of ${tgt.files().size}")
  }

  test("refusals: existing target, empty source, self-clone") {
    val srcDir = tmp("clsrc4"); val src = new SnapshotTable(spark, srcDir)
    intercept[IllegalArgumentException] { src.shallowCloneTo(tmp("x")) }
    src.append(Seq(1L).toDF("id"))
    val tgtDir = tmp("cltgt4")
    src.shallowCloneTo(tgtDir)
    intercept[IllegalArgumentException] { src.shallowCloneTo(tgtDir) }
    intercept[IllegalArgumentException] { src.shallowCloneTo(srcDir) }
  }

  test("clone at an explicit version freezes that snapshot") {
    val src = new SnapshotTable(spark, tmp("clsrc5"))
    src.append(Seq(1L, 2L).toDF("id"))
    src.append(Seq(3L).toDF("id"))
    val tgtDir = tmp("cltgt5"); val tgt = new SnapshotTable(spark, tgtDir)
    src.shallowCloneTo(tgtDir, Some(1))
    assert(tgt.read().as[Long].collect().toSet == Set(1L, 2L))
  }
}
