package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Protocol version gating: feature verbs raise the table's
  * (minReader, minWriter) requirement in their own commit; a library
  * behind the requirement refuses loudly instead of silently
  * misreading (all-null renamed columns, resurrected MoR deletes);
  * snapshots below an upgrade stay readable. */
class ProtocolSpec extends SparkSuite {
  import spark.implicits._

  private def tmpTable(): SnapshotTable = {
    val dir = java.nio.file.Files.createTempDirectory("snapproto").toString
    new SnapshotTable(spark, dir)
  }

  test("fresh tables demand (1,1) and record nothing") {
    val t = tmpTable()
    t.append(Seq(1L, 2L).toDF("id"))
    assert(t.protocol() == ((1, 1)))
    assert(!t.properties().keys.exists(
      _.startsWith(SnapshotTable.ProtocolPrefix)))
  }

  test("MoR deletion vectors raise to (2,2) in the same commit") {
    val t = tmpTable()
    t.appendWithStats((1L to 10L).toDF("id"), statCols = Seq("id"))
    val v = t.deleteWhere(col("id") === 3L, mor = true)
    assert(v > 0)
    assert(t.protocol() == ((2, 2)))
    // the pre-DV snapshot still demands (1,1) — per-version gating
    assert(t.protocol(Some(v - 1)) == ((1, 1)))
    // a second MoR verb stays at (2,2)
    t.updateWhere(col("id") === 4L, Seq("id" -> lit(40L)), mor = true)
    assert(t.protocol() == ((2, 2)))
  }

  test("column mapping raises to (3,3); MoR-then-rename keeps the max") {
    val t = tmpTable()
    t.append(Seq((1L, "a")).toDF("id", "tag"))
    t.deleteWhere(col("id") === 99L, mor = true) // no match: no DV, no bump
    assert(t.protocol() == ((1, 1)))
    t.renameColumn("tag", "label")
    assert(t.protocol() == ((3, 3)))
    t.updateWhere(col("id") === 1L, Seq("label" -> lit("b")), mor = true)
    assert(t.protocol() == ((3, 3))) // never lowered by a (2,2) verb
  }

  test("a future minReader refuses reads and writes; history stays open") {
    val t = tmpTable()
    t.append(Seq(1L).toDF("id"))
    val before = t.currentVersion
    t.upgradeProtocol(SnapshotTable.ReaderVersion + 1,
      SnapshotTable.WriterVersion + 1)
    val eRead = intercept[SnapshotTable.ProtocolViolation] { t.read() }
    assert(eRead.getMessage.contains(
      s"reader protocol version ${SnapshotTable.ReaderVersion + 1}"))
    intercept[SnapshotTable.ProtocolViolation] {
      t.append(Seq(2L).toDF("id"))
    }
    intercept[SnapshotTable.ProtocolViolation] {
      t.setProperty("k", "v") // even metadata-only commits gate
    }
    // time travel below the upgrade still works — old libraries keep
    // the versions whose features they predate
    assert(t.read(Some(before)).as[Long].collect().toSeq == Seq(1L))
    assert(t.protocol(Some(before)) == ((1, 1)))
  }

  test("a future minWriter alone keeps reads open, refuses writes") {
    val t = tmpTable()
    t.append(Seq(1L).toDF("id"))
    t.upgradeProtocol(1, SnapshotTable.WriterVersion + 1)
    assert(t.read().as[Long].collect().toSeq == Seq(1L))
    val e = intercept[SnapshotTable.ProtocolViolation] {
      t.append(Seq(2L).toDF("id"))
    }
    assert(e.getMessage.contains(
      s"writer protocol version ${SnapshotTable.WriterVersion + 1}"))
    intercept[SnapshotTable.ProtocolViolation] { t.compact() }
  }

  test("an upgrade racing a blind append re-gates at publish, not just entry") {
    val t = tmpTable()
    t.append(Seq(1L).toDF("id"))
    val other = new SnapshotTable(spark, t.root)
    // fires at the exact race window: this append already passed the
    // ENTRY gate and staged, but has not published
    t.raceInjector = () => {
      other.upgradeProtocol(1, SnapshotTable.WriterVersion + 1); ()
    }
    intercept[SnapshotTable.ProtocolViolation] {
      t.append(Seq(2L).toDF("id"))
    }
    assert(other.read().as[Long].collect().toSeq == Seq(1L))
  }

  test("protocol only rises; direct property writes are refused") {
    val t = tmpTable()
    t.append(Seq(1L).toDF("id"))
    t.upgradeProtocol(2, 3)
    assert(t.protocol() == ((2, 3)))
    intercept[IllegalArgumentException] { t.upgradeProtocol(1, 3) }
    intercept[IllegalArgumentException] { t.upgradeProtocol(2, 2) }
    assert(t.upgradeProtocol(2, 3) == t.currentVersion) // no-op at par
    intercept[IllegalArgumentException] {
      t.setProperty(SnapshotTable.MinReaderProp, "1")
    }
    intercept[IllegalArgumentException] {
      t.removeProperty(SnapshotTable.MinWriterProp)
    }
  }
}
