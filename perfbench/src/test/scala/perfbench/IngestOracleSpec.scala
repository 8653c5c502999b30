package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The oracle against a tiny real ingest: a backfill-shaped harvest
  * (keep-latest overlaps, header-only, all-null-TIME and malformed
  * files, a model run and its rerun) through the ingest CLI's public
  * functions, then every store check of the gate and served answers
  * of all four ops. */
class IngestOracleSpec extends AnyFunSuite {

  test("a tiny real ingest agrees with the oracle") {
    val work = Files.createTempDirectory("perfbench-ingest").resolve("work")
    val tiny = Main.Sizes(stations = 3, obsFiles = 2, runs = 1, rerun = true)
    val b = new Bench("prepare", seed = 0, seconds = 0, trace = false, work = work,
      base = None, cores = 2, backfillSizes = tiny, baseSizes = tiny)
    try {
      assert(b.run(), b.failures.mkString("\n"))
      assert(b.attempted >= 10)
      val store = graft.domain.GaugeStore.open(b.spark, work.resolve("store").toString)
      val gen = new b.RequestGen(b.harvest, 1)
      val reqs = (0 until 12).map(_ => gen.next())
      assert(reqs.map(_.op).toSet == Set("obs", "allparms", "forecast", "nowcast"))
      reqs.foreach(r => b.verify(r, b.handle(store, r)._1))
      assert(b.failed == 0, b.failures.mkString("\n"))
      // the oracle is not vacuous: a wrong answer is caught
      b.verify(reqs.head, "[]")
      assert(b.failed == 1)
    } finally b.close()
  }
}
