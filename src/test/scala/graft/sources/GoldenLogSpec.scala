package graft.sources

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Replays the committed golden log (`src/test/resources/golden-log`,
  * written once by the earlier hand-rolled codec and never
  * regenerated) and compares every version to the state dump recorded
  * next to it. Covers every wire field: stats, string stats with an
  * empty lower and a `*` upper bound, blooms, property sets and
  * unsets, sizes, rows, nulls, deletion vectors with a restore
  * tombstone, keyed, op, a column-mapped schema, tags with quotes,
  * backslashes, non-BMP characters and raw control characters,
  * checkpoints, `_last_checkpoint`, `_retention_floor` and a
  * change-feed checkpoint directory. */
class GoldenLogSpec extends SparkSuite {

  private val fixture: Path = Paths.get(getClass.getResource("/golden-log").toURI)

  /** A temporary copy of fixture subdirectory `sub`, minus the files
    * `drop` names, so no test writes into the fixture itself. */
  private def copyOf(sub: String, drop: String => Boolean = _ => false): String = {
    val to = Files.createTempDirectory("golden")
    val from = fixture.resolve(sub)
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (!drop(p.getFileName.toString)) Files.copy(p, q)
    }
    to.toString
  }

  private lazy val meta: Map[String, String] =
    Files.readAllLines(fixture.resolve("meta.txt")).asScala
      .map(_.split(" ", 2)).map(a => a(0) -> a(1)).toMap

  private lazy val head: Int = meta("head").toInt

  /** A dump file: `== v` headers, each followed by that version's
    * state. `replay.txt` holds the checkpoint-seeded replay;
    * `replay-manifests.txt` the replay of the same log with its
    * checkpoints deleted (which keeps removed files' channels a
    * checkpoint drops). */
  private def dumped(name: String): Map[Int, Seq[String]] = {
    val out = scala.collection.mutable.Map[Int, Seq[String]]()
    var cur = -1
    Files.readAllLines(fixture.resolve(name)).asScala.foreach { l =>
      if (l.startsWith("== ")) { cur = l.drop(3).toInt; out(cur) = Vector.empty }
      else out(cur) = out(cur) :+ l
    }
    out.toMap
  }

  private lazy val expected = dumped("replay.txt")

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** The dump format `replay.txt` was written in. */
  private def dump(s: SnapshotTable.TableState): Seq[String] =
    s.live.zipWithIndex.map { case (f, i) => s"live $i ${esc(f)}" } ++
      s.stats.toSeq.map { case ((f, c), (lo, hi)) => s"stat ${esc(f)} ${esc(c)} $lo $hi" }.sorted ++
      s.sstats.toSeq.map { case ((f, c), (lo, hi)) =>
        s"sstat ${esc(f)} ${esc(c)} ${hex(lo)} ${hi.map(hex).getOrElse("*")}" }.sorted ++
      s.tags.toSeq.map(t => s"tag ${esc(t)}").sorted ++
      s.schema.map(x => s"schema ${esc(x)}").toSeq ++
      s.blooms.toSeq.map { case (f, c) => s"bloom ${esc(f)} ${esc(c)}" }.sorted ++
      s.props.toSeq.map { case (k, v) => s"prop ${esc(k)} ${esc(v)}" }.sorted ++
      s.sizes.toSeq.map { case (f, n) => s"size ${esc(f)} $n" }.sorted ++
      s.dvs.toSeq.map { case (f, (sc, n)) => s"dv ${esc(f)} ${esc(sc)} $n" }.sorted ++
      s.rows.toSeq.map { case (f, n) => s"rows ${esc(f)} $n" }.sorted ++
      s.nulls.toSeq.map { case ((f, c), n) => s"nulls ${esc(f)} ${esc(c)} $n" }.sorted

  private def assertReplays(t: SnapshotTable, v: Int,
      want: Map[Int, Seq[String]] = expected): Unit = {
    val got = dump(t.replayStateFull(v))
    assert(got == want(v), s"v$v replay differs:\n" +
      got.diff(want(v)).mkString("\n") + "\n-- expected --\n" +
      want(v).diff(got).mkString("\n"))
  }

  test("golden log: every version replays to the dumped state from its checkpoint") {
    assert(expected.keySet == (0 to head).toSet)
    val t = new SnapshotTable(spark, copyOf("table"), checkpointInterval = 5)
    assert(t.currentVersion == head)
    assert(t.logLists == 0, "the head resolves from _last_checkpoint")
    (0 to head).foreach { v =>
      val before = t.metaReads
      assertReplays(t, v)
      // checkpoint-seeded: one checkpoint plus the manifests above it
      val reads = if (v < 5) v else 1 + v % 5
      assert(t.metaReads - before == reads, s"v$v read ${t.metaReads - before} files")
    }
  }

  test("golden log: every version replays to the dumped state from the manifests alone") {
    val t = new SnapshotTable(spark, copyOf("table",
      n => n.endsWith(".checkpoint.json") || n == "_last_checkpoint"),
      checkpointInterval = 5)
    val want = dumped("replay-manifests.txt")
    assert(t.currentVersion == head && want.keySet == (0 to head).toSet)
    (0 to head).foreach { v =>
      val before = t.metaReads
      assertReplays(t, v, want)
      assert(t.metaReads - before == v, s"v$v must replay manifests 1..v")
    }
  }

  test("golden log: the vacuumed copy replays above its retention floor and refuses below") {
    val t = new SnapshotTable(spark, copyOf("vacuumed"), checkpointInterval = 5)
    val floor = meta("vacuumed.floor").toInt
    assert(t.retentionFloor == floor && t.currentVersion == head)
    (floor to head).foreach(v => assertReplays(t, v))
    (1 until floor).foreach { v =>
      val e = intercept[IllegalArgumentException](t.replayStateFull(v))
      assert(e.getMessage.contains("log-retention floor"), e.getMessage)
    }
  }

  test("golden log: the change feed resumes at the recorded cursor and intent") {
    val t = new SnapshotTable(spark, copyOf("table"), checkpointInterval = 5)
    val feed = new graft.streaming.SnapshotChangeFeed(spark, t, copyOf("feed"))
    assert(feed.cursor == meta("feed.cursor").toInt)
    // the writer committed through v12, then took (12, 15] uncommitted
    assert(feed.pendingIntent ==
      Some(graft.streaming.SnapshotChangeFeed.Intent(12, 15)))
  }

  test("golden log: control-free manifests and checkpoints re-encode to their exact bytes") {
    import graft.streaming.SnapshotChangeFeed.{Bootstrap, Cursor, Intent}
    val Manifest = "\\d{8}\\.json".r
    val Checkpoint = "\\d{8}\\.checkpoint\\.json".r
    val files = Seq("table/_log", "vacuumed/_log", "feed").flatMap(d =>
      Files.list(fixture.resolve(d)).iterator().asScala.toSeq)
    val (raw, clean) = files.partition(p =>
      new String(Files.readAllBytes(p), "UTF-8").exists(_ < ' '))
    clean.foreach { p =>
      val cls = p.getFileName.toString match {
        case Manifest() => classOf[SnapshotTable.Manifest]
        case Checkpoint() => classOf[SnapshotTable.Checkpoint]
        case "_last_checkpoint" => classOf[SnapshotTable.Pointer]
        case "_retention_floor" => classOf[SnapshotTable.RetentionRecord]
        case "cursor" => classOf[Cursor]
        case "intent" => classOf[Intent]
        case "bootstrap" => classOf[Bootstrap]
      }
      val bytes = Files.readAllBytes(p)
      val again = graft.util.Json.mapper.writeValueAsBytes(
        graft.util.Json.mapper.readValue(bytes, cls))
      assert(new String(again, "UTF-8") == new String(bytes, "UTF-8"), p)
    }
    // the raw-newline and tab/SOH tags, in manifests and checkpoints
    assert(clean.size == 29 && raw.size == 8,
      s"${clean.size} clean, raw: ${raw.map(_.getFileName).mkString(" ")}")
  }
}
