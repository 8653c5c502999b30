package graft.streaming

import graft.SparkSuite
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._

/** Change-data-feed over the manifest log: appends and deletes flow
  * through as `_change` rows, crash-replay converges byte-identically
  * via the write-ahead intent + tag-deduping sink, and a feed vacuumed
  * below the retention floor fails with the clean re-bootstrap error. */
class StreamingChangeFeedSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def contents(t: SnapshotTable): Set[(Long, String)] =
    t.read().select("id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("appends and a delete flow through; a fresh feed emits the initial snapshot") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    src.append(Seq(1L, 2L).toDF("id"))
    src.append(Seq(3L).toDF("id"))
    // fresh feed on an existing table: first range = full snapshot as
    // inserts (Delta CDF initial-snapshot semantics)
    val feed = new SnapshotChangeFeed(spark, src, tmp("cdfckpt"))
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    assert(feed.drainAvailableNow((df, tag) => {
      sink.appendIfAbsent(df, tag); ()
    }) == 1)
    assert(contents(sink) ==
      Set((1L, "insert"), (2L, "insert"), (3L, "insert")))
    // caught up: no batch
    assert(feed.next().isEmpty)
    // an append and a copy-on-write delete both ride the next range
    src.append(Seq(4L).toDF("id"))
    src.deleteWhere(col("id") === 2L)
    assert(feed.drainAvailableNow((df, tag) => {
      sink.appendIfAbsent(df, tag); ()
    }) == 1)
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert"),
      (3L, "insert"), (4L, "insert"), (2L, "delete")))
    assert(feed.cursor == src.currentVersion)
  }

  test("crash replay converges: the intent pins the range, the tag dedups the redelivery") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    src.append(Seq(1L).toDF("id"))
    val ckpt = tmp("cdfckpt")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    val feed = new SnapshotChangeFeed(spark, src, ckpt)
    // consumer writes, then "crashes" before commit
    val Some((df1, f1, t1)) = feed.next()
    sink.appendIfAbsent(df1, feed.batchTag(f1, t1))
    // the head advances while the consumer is down — the replayed
    // range must NOT stretch to cover it, or its tag would differ and
    // the sink would double-apply the overlap
    src.append(Seq(2L).toDF("id"))
    val feed2 = new SnapshotChangeFeed(spark, src, ckpt)
    val Some((df2, f2, t2)) = feed2.next()
    assert((f2, t2) == ((f1, t1)), "intent must pin the crashed range")
    assert(sink.appendIfAbsent(df2, feed2.batchTag(f2, t2)).isEmpty,
      "redelivered tag must be skipped")
    feed2.commit(t2)
    // the advance then arrives as its own range
    assert(feed2.drainAvailableNow((df, tag) => {
      sink.appendIfAbsent(df, tag); ()
    }) == 1)
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert")))
    // control: an uncrashed run over a twin source yields the same state
    val src2 = new SnapshotTable(spark, tmp("cdfsrc2"))
    src2.append(Seq(1L).toDF("id"))
    src2.append(Seq(2L).toDF("id"))
    val sink2 = new SnapshotTable(spark, tmp("cdfsink2"))
    new SnapshotChangeFeed(spark, src2, tmp("cdfckpt2"))
      .drainAvailableNow((df, tag) => { sink2.appendIfAbsent(df, tag); () })
    assert(contents(sink) == contents(sink2))
  }

  test("maxVersions backpressure; startAt tails only new changes") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    (1L to 4L).foreach(i => src.append(Seq(i).toDF("id")))
    val feed = new SnapshotChangeFeed(spark, src, tmp("cdfckpt"))
    // 4 commits, 2 per batch: exactly 2 ranges
    var ranges = List.empty[(Int, Int)]
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    assert(feed.drainAvailableNow((df, tag) => {
      sink.appendIfAbsent(df, tag); ()
    }, maxVersions = 2) == 2)
    assert(sink.read().count() == 4)
    // startAt = head: only changes AFTER it flow
    val tail = new SnapshotChangeFeed(spark, src, tmp("cdfckpt2"),
      startAt = src.currentVersion)
    assert(tail.next().isEmpty)
    src.append(Seq(9L).toDF("id"))
    val Some((df, _, _)) = tail.next()
    assert(df.select("id").as[Long].collect().toSet == Set(9L))
  }

  test("a merge-on-read delete flows through the feed as delete rows") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    src.append(Seq(1L, 2L, 3L).toDF("id"))
    val feed = new SnapshotChangeFeed(spark, src, tmp("cdfckpt"))
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    feed.drainAvailableNow((df, tag) => { sink.appendIfAbsent(df, tag); () })
    // a deletion-vector commit has NO remove set — the feed must still
    // surface it (diff's fast path rules out dv-bearing ranges)
    assert(src.deleteWhere(col("id") === 2L, mor = true) > 0)
    assert(feed.drainAvailableNow((df, tag) => {
      sink.appendIfAbsent(df, tag); ()
    }) == 1)
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert"),
      (3L, "insert"), (2L, "delete")))
  }

  test("a lost cursor on a bootstrapped checkpoint is a hard error, not a silent startAt replay") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    src.append(Seq(1L).toDF("id"))
    val ckpt = tmp("cdfckpt")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    val feed = new SnapshotChangeFeed(spark, src, ckpt)
    feed.drainAvailableNow((df, tag) => { sink.appendIfAbsent(df, tag); () })
    // the cursor vanishes (external deletion / a store that lost it)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(ckpt).toUri,
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$ckpt/cursor"), false))
    src.append(Seq(2L).toDF("id"))
    val feed2 = new SnapshotChangeFeed(spark, src, ckpt)
    val e = intercept[IllegalStateException] { feed2.next() }
    assert(e.getMessage.contains("cursor file is missing") &&
      e.getMessage.contains("Re-bootstrap"),
      s"expected the re-bootstrap error, got: ${e.getMessage}")
  }

  test("a first batch that crashed before its first commit replays verbatim, no false loss error") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    src.append(Seq(1L).toDF("id"))
    val ckpt = tmp("cdfckpt")
    val feed = new SnapshotChangeFeed(spark, src, ckpt)
    // intent written (marker too), then crash before ANY commit:
    // bootstrapped + no cursor, but intent.from == startAt pins it
    val Some((_, f1, t1)) = feed.next()
    val feed2 = new SnapshotChangeFeed(spark, src, ckpt)
    val Some((df2, f2, t2)) = feed2.next()
    assert((f2, t2) == ((f1, t1)), "crashed first range must replay verbatim")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    sink.appendIfAbsent(df2, feed2.batchTag(f2, t2))
    feed2.commit(t2)
    assert(contents(sink) == Set((1L, "insert")))
  }

  test("a crash between intent and bootstrap-marker writes recovers (marker is written AFTER intent)") {
    // the state a crash in the intent→marker window leaves behind:
    // intent on disk, NO marker, NO cursor. Because the marker is
    // written after the intent, this reads as un-bootstrapped — the
    // cursor falls back to startAt and the surviving intent pins the
    // verbatim replay. (Marker-first would have bricked this
    // checkpoint with the committed-position-lost error despite no
    // batch ever having been delivered.)
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    src.append(Seq(1L).toDF("id"))
    val ckpt = tmp("cdfckpt")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(ckpt).toUri,
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$ckpt/intent"), true)
    try out.write("""{"from":0,"to":1}""".getBytes("UTF-8"))
    finally out.close()
    val feed = new SnapshotChangeFeed(spark, src, ckpt)
    val Some((df, f, t)) = feed.next()
    assert((f, t) == ((0, 1)), "surviving intent must replay verbatim")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    sink.appendIfAbsent(df, feed.batchTag(f, t))
    feed.commit(t)
    assert(contents(sink) == Set((1L, "insert")))
    assert(feed.next().isEmpty)
  }

  test("non-posix checkpoint writes are window-free: crash replay converges under forceFileContext") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"))
    src.append(Seq(1L).toDF("id"))
    val ckpt = tmp("cdfckpt")
    val sink = new SnapshotTable(spark, tmp("cdfsink"))
    val feed = new SnapshotChangeFeed(spark, src, ckpt)
    feed.forceFileContext = true
    feed.drainAvailableNow((df, tag) => { sink.appendIfAbsent(df, tag); () })
    // the second commit REPLACES the cursor through the FileContext
    // branch — the replace must leave no instant without a cursor, so
    // a reader mid-replace (simulated: a stray tmp from a crashed
    // writer sits beside an intact cursor) still reads the old value
    src.append(Seq(2L).toDF("id"))
    val Some((df1, f1, t1)) = feed.next()
    sink.appendIfAbsent(df1, feed.batchTag(f1, t1))
    // crash after sink write, before commit: tmp debris + intact files
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ckpt, ".tmp-crashed"),
      """{"version":999}""".getBytes)
    val feed2 = new SnapshotChangeFeed(spark, src, ckpt)
    feed2.forceFileContext = true
    assert(feed2.cursor == f1, "debris must not perturb the cursor")
    val Some((df2, f2, t2)) = feed2.next()
    assert((f2, t2) == ((f1, t1)))
    assert(sink.appendIfAbsent(df2, feed2.batchTag(f2, t2)).isEmpty)
    feed2.commit(t2)
    assert(feed2.next().isEmpty)
    assert(contents(sink) == Set((1L, "insert"), (2L, "insert")))
  }

  test("a feed behind the retention floor errors cleanly, naming re-bootstrap") {
    val src = new SnapshotTable(spark, tmp("cdfsrc"), checkpointInterval = 2)
    val feed = new SnapshotChangeFeed(spark, src, tmp("cdfckpt"))
    (1L to 6L).foreach(i => src.append(Seq(i).toDF("id")))
    src.vacuum(retainFrom = 5, stagingGraceMs = -1000L)
    val e = intercept[IllegalStateException] { feed.next() }
    assert(e.getMessage.contains("retention floor") &&
      e.getMessage.contains("Re-bootstrap"))
  }
}
