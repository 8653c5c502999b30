package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarvestSpec extends AnyFunSuite {

  private def land(seed: Long): Path = {
    val h = new HarvestSet(Files.createTempDirectory("perfbench-harvest"), stations = 7)
    h.init()
    h.landBackfill(obsFiles = 3, runs = 2, rerun = true, contentSeed = seed)
    h.root
  }

  private def contents(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("the same seed gives byte-identical harvest files") {
    val a = contents(land(42))
    val b = contents(land(42))
    assert(a.nonEmpty)
    assert(a.keySet == b.keySet)
    a.foreach { case (name, bytes) => assert(bytes == b(name), name) }
  }

  test("another seed changes the content but not the file names") {
    val a = contents(land(42))
    val c = contents(land(43))
    assert(a.keySet == c.keySet)
    assert(a.exists { case (name, bytes) => bytes != c(name) })
  }

  test("the oracle keeps the latest timemark and skips special files") {
    val h = new HarvestSet(Files.createTempDirectory("perfbench-oracle"), stations = 4)
    h.init()
    h.landBackfill(obsFiles = 2, runs = 1, rerun = true, contentSeed = 5)
    h.ingested()
    import Harvest._
    // every (source, station, hour) holds the latest file that carries it;
    // hours 7..12 sit in both files (tm 12 and tm 18)
    val files = h.ledgered.values.filter(_.kind == "data").toSeq
    val latest = files.flatMap(f => obsRows(f, 4).map(r => ((f.src, r._1, r._2), f.tm)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
    assert(h.obsFact.map { case (k, (tm, _)) => k -> tm }.toMap == latest)
    assert(h.obsFact.exists { case ((_, _, t), (tm, _)) => t <= 12 && tm == 18 })
    assert(!h.obsFact.keys.exists(_._1 == Quarantine))
    val kinds = h.ledgered.values.map(_.kind).toSet
    assert(kinds == Set("data", "header_only", "null_time"))
    assert(h.expectedObsLedger.count(_._2 == "null") == 2)
    // the rerun replaced every row of its run with generation 1
    assert(h.modelFact.values.forall(_._1 == 1))
    assert(h.modelLedger.size == 16)
  }
}
