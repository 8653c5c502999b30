package graft

import graft.domain._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Task-dispatching CLI — the engine's control plane, mirroring the
  * reference's `--inputTask` mains (runObsIngest.py:296-325,
  * prepare4Ingest.py:214-244; SURVEY §2.11). The reference fans out to
  * subprocesses per task; here every task is a plain function over one
  * SparkSession and the stages fuse into one DAG.
  *
  * Usage:
  *   IngestCli SeedStations    --stations <glob> --store <dir>
  *   IngestCli SequenceIngest  --harvestDir <dir> --catalog <csv> --store <dir> [--now <ts>]
  *   IngestCli QueryObs        --store <dir> --station <name> --start <ts> --end <ts>
  *   IngestCli QueryServe      --store <dir>   (stdin/stdout JSON request loop)
  *   IngestCli BuildAnnIndex   --embeddings <parquet> --index <dir> [--k N --iters N --scale N]
  *   IngestCli QueryAnn        --index <dir> --queries <parquet> [--k N --nprobe N --limit N]
  *   IngestCli Rollup          --store <dir>   (incremental daily OHLC tier)
  *   IngestCli Sql             --query "<statement>"   (one JSON line per result row)
  *   IngestCli Snapshot        --table <dir> --op protocol|upgradeProtocol|rename|vacuumLog|aggRefresh
  */
object IngestCli {

  def main(args: Array[String]): Unit = {
    val task = args.headOption.getOrElse(sys.error("usage: IngestCli <task> [--opt v]..."))
    val rest = args.drop(1)
    // STRICT pairing: a value-less flag would silently shift every
    // later pair (or vanish entirely — e.g. a bare --ingest making
    // ArchiveHistorical report success without ingesting); fail loud
    require(rest.length % 2 == 0 &&
      rest.grouped(2).forall(p => p(0).startsWith("--") && !p(1).startsWith("--")),
      s"options must be --key value pairs, got: ${rest.mkString(" ")}")
    val opts = rest.grouped(2).collect {
      case Array(k, v) => k.drop(2) -> v
    }.toMap

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try runTask(spark, task, opts)
    finally spark.stop()
  }

  /** Task dispatch, separated from main so specs can drive the CLI
    * surface against a shared session. */
  def runTask(spark: SparkSession, task: String, opts: Map[String, String]): Unit = {
    def req(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    // the one-shot query tasks: one QueryServe request built from opts
    def query(op: String): Unit = println(QueryServe.answer(
      GaugeStore.open(spark, req("store")), opts + ("op" -> op)))

    task match {
      case "SeedStations" =>
        val store = GaugeStore.open(spark, req("store"))
        store.writeStations(ObsIngest.seedStations(spark, req("stations")))
        println(s"seeded ${store.stations.count()} stations")

      case "SequenceIngest" =>
        val store = GaugeStore.open(spark, req("store"))
        store.vacuum().foreach(a => System.err.println(s"[vacuum] $a"))
        val now = opts.get("now").map(lit(_)).getOrElse(current_timestamp()).cast("timestamp")
        val catalog = loadCatalog(spark, req("catalog"))
        val n = sequenceIngest(spark, store, catalog, req("harvestDir"), now,
          deleteProcessed = opts.get("deleteProcessed").contains("true"))
        println(s"ingested $n new files")

      case "QueryObs" => query("get_obs_timeseries_station_data")

      case "QueryObsAllParms" =>
        query("get_obs_timeseries_station_data_allparms")

      case "ModelRunIngest" =>
        // SequenceIngest for one ADCIRC run dir (runModelIngest.py:553-580):
        // FORECAST_*/NOWCAST_* data + meta_* station files under --runDir.
        val store = GaugeStore.open(spark, req("store"))
        store.vacuum().foreach(a => System.err.println(s"[vacuum] $a"))
        val n = modelRunIngest(spark, store,
          runDir = req("runDir"), modelRunId = req("modelRunID"),
          timemark = req("timemark"), ensemble = req("ensemble"),
          grid = req("grid"), storm = opts.get("storm"),
          sourceInstance = req("instance"), forcingMetclass = req("metclass"),
          uiDataUrl = opts.getOrElse("uiDataUrl", "https://ui.example"),
          processingDatetime = opts.get("now"),
          advisory = opts.get("advisory"))
        println(s"ingested $n model files")

      case "QueryForecast" => query("get_forecast_timeseries_station_data")

      case "QueryNowcast" => query("get_nowcast_timeseries_station_data")

      case "QueryServe" =>
        // long-running read-path endpoint (QueryServe scaladoc): one
        // JSON request per stdin line, one JSON response per stdout
        // line, warm session across requests — the engine half of the
        // reference's REST serving surface (README.md:151-166)
        val store = GaugeStore.open(spark, req("store"))
        System.err.println("[serve] ready (blank line or 'quit' ends)")
        QueryServe.serve(store,
          scala.io.Source.stdin.getLines(), println)

      case "StreamObs" =>
        // streaming obs ingest, one AvailableNow drain per catalog
        // source (cron-equivalent): the file-source checkpoint under
        // the store replaces the ledger anti-join for idempotence
        val store = GaugeStore.open(spark, req("store"))
        store.vacuum().foreach(a => System.err.println(s"[vacuum] $a"))
        loadCatalog(spark, req("catalog")).foreach { meta =>
          graft.streaming.StreamingIngest.runOnce(spark, meta, store,
            req("harvestDir"),
            s"${req("store")}/_checkpoints/obs_${meta.data_source}_${meta.source_name}")
        }
        println("streamed obs drain complete")

      case "StreamModelRuns" =>
        // drain run-manifest announcements (StreamingModelIngest):
        // each manifest row hands a completed run to modelRunIngest
        val store = GaugeStore.open(spark, req("store"))
        store.vacuum().foreach(a => System.err.println(s"[vacuum] $a"))
        graft.streaming.StreamingModelIngest.runOnce(spark, store,
          req("watchDir"), s"${req("store")}/_checkpoints/model_manifests")
        println("streamed model-run drain complete")

      case "Sql" =>
        // one statement through the session's SQL surface (the
        // GraftExtensions DML, maintenance statements and TVFs), run
        // once; each result row prints as one JSON object line (null
        // columns kept), streamed so a large SELECT never collects
        val df = spark.sql(req("query"))
        df.select(to_json(struct(col("*")), Map("ignoreNullFields" -> "false")))
          .as(org.apache.spark.sql.Encoders.STRING).toLocalIterator()
          .forEachRemaining(line => println(line))

      case "Snapshot" =>
        // the snapshot-table operations SQL has no statement for;
        // every other maintenance verb runs through `Sql`
        val t = new graft.sources.SnapshotTable(spark, req("table"))
        def csvOpt(name: String): Seq[String] =
          opts.get(name).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        req("op") match {
          case "protocol" =>
            val (r, w) = t.protocol()
            println(s"minReader=$r minWriter=$w " +
              s"(library reader=${graft.sources.SnapshotTable.ReaderVersion} " +
              s"writer=${graft.sources.SnapshotTable.WriterVersion})")
          case "upgradeProtocol" =>
            println(s"protocol raised in version " +
              t.upgradeProtocol(req("minReader").toInt,
                req("minWriter").toInt))
          case "vacuumLog" =>
            // log-only retention: truncate manifests below the newest
            // checkpoint that keeps the last N snapshots replayable
            // (data files untouched — SQL VACUUM is the data sweep)
            val n = t.vacuumLog(req("retainVersions").toInt)
            println(s"deleted $n log files (retention floor now ${t.retentionFloor})")
          case "rename" =>
            // metadata-only column rename (column mapping): old files
            // keep their values; --column old:new
            val (oldN, newN) = req("column").split(":", 2) match {
              case Array(o, n) => (o, n)
              case _ => sys.error("bad --column (want old:new)")
            }
            val v = t.renameColumn(oldN, newN)
            println(s"renamed $oldN -> $newN at v$v (no data rewritten)")
          case "aggRefresh" =>
            // CDC-maintained rollup: keep a COUNT/SUM state of this
            // table in a second snapshot table (--state), refreshed
            // from diff() since the base version recorded in the state
            // table's newest manifest tag (aggstate-v<N>). Idempotent:
            // re-running with no new base commits is a no-op.
            val stateT = new graft.sources.SnapshotTable(spark, req("state"))
            val keys = csvOpt("keys")
            val sums = csvOpt("sums")
            val prevV = stateT.committedTags
              .flatMap(tag => "^aggstate-v(\\d+)$".r.findFirstMatchIn(tag)
                .map(_.group(1).toInt))
              .foldLeft(0)(math.max)
            val prev = if (prevV == 0) None else Some(stateT.read())
            if (t.currentVersion == prevV)
              // also covers an empty base table (v0 == v0): nothing to
              // aggregate and SnapshotTable.read would refuse anyway
              println(s"state already at v$prevV, no refresh")
            else {
              val (next, to) = graft.sources.IncrementalAgg.refresh(
                t, prev, prevV, keys, sums, csvOpt("minmax"))
              stateT.overwrite(next, Some(s"aggstate-v$to"))
              println(s"state refreshed to v$to " +
                s"(${stateT.read().count()} groups)")
            }
          case other => sys.error(s"unknown snapshot op: $other")
        }

      case "SqlCheck" =>
        // smoke-proves the GraftExtensions SQL surface is live in this
        // deployment mode (native expressions callable from plain SQL)
        val row = spark.sql(
          "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos, " +
            "rolling_hash('abc') AS rh, " +
            "canonical_url('HTTP://WWW.Ex.COM:80/a/?utm_source=x&b=1') AS cu").head()
        // and the table-valued functions (injectTableFunction path):
        // build a throwaway table, query it through the FROM clause
        val tvfDir = java.nio.file.Files
          .createTempDirectory("sqlcheck_tvf").toString
        import spark.implicits._
        new graft.sources.SnapshotTable(spark, tvfDir)
          .append(Seq(1L, 2L, 3L).toDF("id"))
        val tvfN = spark.sql(
          s"SELECT count(*) FROM snapshot_at('$tvfDir')").head().getLong(0)
        // and SQL DML (injectResolutionRule path): DELETE through the
        // path-addressed statement, read back through the same surface
        spark.sql(s"DELETE FROM snapshot.`$tvfDir` WHERE id = 2")
        val dmlN = spark.sql(
          s"SELECT count(*) FROM snapshot.`$tvfDir`").head().getLong(0)
        // and SQL maintenance (injectParser path): OPTIMIZE commits
        spark.sql(s"OPTIMIZE snapshot.`$tvfDir`")
        val optN = spark.sql(
          s"SELECT count(*) FROM snapshot_files('$tvfDir')").head().getLong(0)
        // and the r16 statements: DESCRIBE HISTORY (parser->TVF sugar)
        // and VACUUM RETAIN HOURS (horizon resolution) parse + run
        val histN = spark.sql(s"DESCRIBE HISTORY snapshot.`$tvfDir`")
          .count()
        spark.sql(
          s"VACUUM snapshot.`$tvfDir` RETAIN 1000000 HOURS DRY RUN")
        // and the V2 TableCatalog (spark.sql.catalog.* path): atomic
        // CREATE OR REPLACE ... AS SELECT + TRUNCATE, in this
        // deployment mode
        val v2Wh = java.nio.file.Files
          .createTempDirectory("sqlcheck_v2").toString
        spark.conf.set("spark.sql.catalog.sqlcheck_v2",
          "graft.sources.SnapshotCatalog")
        spark.conf.set("spark.sql.catalog.sqlcheck_v2.warehouse", v2Wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS sqlcheck_v2.ns")
        spark.sql("CREATE OR REPLACE TABLE sqlcheck_v2.ns.t AS " +
          "SELECT id FROM range(5)")
        spark.sql("CREATE OR REPLACE TABLE sqlcheck_v2.ns.t AS " +
          "SELECT id FROM range(4)")
        val v2N = spark.sql("SELECT count(*) FROM sqlcheck_v2.ns.t")
          .head().getLong(0)
        spark.sql("TRUNCATE TABLE sqlcheck_v2.ns.t")
        val v2T = spark.sql("SELECT count(*) FROM sqlcheck_v2.ns.t")
          .head().getLong(0)
        // and the r17 COPY INTO (idempotent batch file loading): the
        // second run's files_loaded must be 0 — exactly-once proven
        // in deployment mode, not just in the spec session
        val copySrc = java.nio.file.Files
          .createTempDirectory("sqlcheck_copy")
        java.nio.file.Files.write(copySrc.resolve("a.csv"),
          "id\n7\n8\n".getBytes("UTF-8"))
        val copySql = s"COPY INTO snapshot.`$tvfDir` " +
          s"FROM '$copySrc' FILEFORMAT = CSV PATTERN = '*.csv' " +
          "FORMAT_OPTIONS ('header' = 'true')"
        spark.sql(copySql).collect()
        val copyN = spark.sql(copySql).head().getLong(1)
        println(s"""{"cosine_similarity":${row.getDouble(0)},"rolling_hash":${row.getLong(1)},"canonical_url":"${row.getString(2)}","snapshot_at_rows":$tvfN,"rows_after_sql_delete":$dmlN,"files_after_sql_optimize":$optN,"describe_history_rows":$histN,"v2_replace_rows":$v2N,"v2_truncate_rows":$v2T,"copy_into_reloaded":$copyN}""")

      case "Stats" =>
        // operational table statistics: live files/bytes of the fact
        // and ledger tables from their manifests; files/bytes/leaves + the worst
        // leaf by file count (the compaction trigger signal) for the
        // rest from a directory walk — metadata only, no Spark jobs
        val store = GaugeStore.open(spark, req("store"))
        val tables = opts.getOrElse("tables",
          "gauge_data,model_data,ledger_obs,ledger_model,apsviz_station_file_meta," +
            "retain_obs_station_file_meta,stations,gauge_source,model_source," +
            "apsviz_station,retain_obs_station")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        tables.flatMap(t => store.tableStats(t)).foreach(m =>
          println(graft.util.Json.mapper.writeValueAsString(m)))

      case "Rollup" =>
        // incremental daily OHLC serving tier: rebuilds only the
        // (source, date) partitions the fact's CDC touched since the
        // last run — idempotent, run on any cadence after ingest
        val store = GaugeStore.open(spark, req("store"))
        val rebuilt = store.rollupDaily()
        if (rebuilt.isEmpty) println("rollup up to date, rebuilt 0 partition(s)")
        else {
          rebuilt.foreach { case (ds, d) => println(s"rebuilt $ds/$d") }
          println(s"rebuilt ${rebuilt.size} partition(s)")
        }

      case "Compact" =>
        // maintenance bin-packing (small-file accretion antidote):
        // rewrites every leaf partition with more files than
        // ⌈bytes/targetBytes⌉ down to that count; idempotent and
        // vacuum-safe, so it can run on any cron cadence.
        // `--index <dir>` targets a BuildAnnIndex layout instead of a
        // gauge store — UpdateAnnIndex appends one file set per run
        // into the centroid_id partition dirs, so the inverted lists
        // accrete small files exactly like the ingest facts; probes
        // (`ivfTopKIndexed`) read the same dirs either way, so results
        // are unchanged and only per-probe open cost falls.
        // CAUTION --zorder: validated against the leaf FILE schema
        // (partition-encoded columns are dir names, not file columns,
        // and are rejected), and a z-order sweep rewrites EVERY leaf
        // every run — re-laying rows out is the point — so unlike the
        // plain path it is NOT idempotent; run it on a slower cadence.
        val store = GaugeStore.open(spark,
          opts.getOrElse("store", opts.getOrElse("index",
            sys.error("missing --store or --index"))))
        store.vacuum().foreach(a => System.err.println(s"[vacuum] $a"))
        val tables = (if (opts.contains("index"))
          opts.getOrElse("tables", "lists")
        else opts.getOrElse("tables", "gauge_data,model_data"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val target = opts.getOrElse("targetBytes", (128L << 20).toString).toLong
        // optional z-order clustering during the rewrite:
        // --zorder col1,col2 [--zorderBits N] (numeric/timestamp cols)
        val zCols = opts.get("zorder").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        val zBits = opts.getOrElse("zorderBits", "4").toInt
        val actions = tables.flatMap(t =>
          store.binPackCompact(t, target, zorderCols = zCols, zorderBits = zBits))
        actions.foreach(println)
        println(s"compacted ${actions.size} partition(s)")

      case "BuildAnnIndex" =>
        // train-and-index the similarity stack: deterministic k-means
        // over an embeddings table, then the corpus laid out as
        // centroid_id partition directories (writeIvfIndex) so probes
        // prune file groups before any IO. Centroids persist beside the
        // lists — the index is self-contained for QueryAnn.
        val idCol = opts.getOrElse("idCol", "vec_id")
        val vecCol = opts.getOrElse("vecCol", "embedding")
        val emb = spark.read.parquet(req("embeddings"))
        val k = opts.getOrElse("k", "8").toInt
        val iters = opts.getOrElse("iters", "2").toInt
        val scale = opts.getOrElse("scale", "512").toInt
        val (assigned, cents) = graft.similarity.Clustering.kmeans(
          emb, k, iters, scale, idCol, vecCol)
        val cf = graft.similarity.Clustering.centroidFrame(
          emb, cents, scale, idCol, vecCol)
        cf.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"${req("index")}/centroids")
        graft.similarity.Ann.writeIvfIndex(
          emb, cf, s"${req("index")}/lists", idCol, vecCol)
        val inertia = assigned.agg(sum("dist2")).head.getLong(0)
        println(s"""{"k":$k,"iters":$iters,"rows":${assigned.count()},"inertia":$inertia}""")

      case "UpdateAnnIndex" =>
        // incremental insert into a BuildAnnIndex layout: assign new
        // vectors against the persisted (frozen) centroids and APPEND
        // to the inverted-list partitions — no retrain/rebuild, and
        // idempotent (already-indexed ids are skipped, so scheduler
        // retries can't double-insert). Prints the appended count and
        // the mean assign cosine — the drift signal: retrain when it
        // falls. Compact the index dir on maintenance cadence like
        // any append-heavy table.
        val idCol = opts.getOrElse("idCol", "vec_id")
        val vecCol = opts.getOrElse("vecCol", "embedding")
        val cf = spark.read.parquet(s"${req("index")}/centroids")
        val add = spark.read.parquet(req("embeddings"))
        val (n, meanCos) = graft.similarity.Ann.appendToIvfIndex(
          add, cf, s"${req("index")}/lists", idCol, vecCol)
        println(s"""{"appended":$n,"mean_assign_cos":$meanCos}""")

      case "NearDupIngest" =>
        // incremental corpus admission against the persistent banded
        // near-dup ledger (graft.dedup.DedupIndex): probe cost is
        // proportional to the BATCH, never to admitted history. Prints
        // admitted/rejected counts; admitted docs' bucket claims are
        // appended (idempotent, single-writer locked).
        val verdict = graft.dedup.DedupIndex.admit(
          spark.read.parquet(req("docs")), req("index"),
          idCol = opts.getOrElse("idCol", "doc_id"),
          textCol = opts.getOrElse("textCol", "text"))
        val n = verdict.groupBy("admitted").count().collect()
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        println(s"""{"admitted":${n.getOrElse(true, 0L)},"rejected":${n.getOrElse(false, 0L)}}""")

      case "QueryAnn" =>
        // top-k retrieval over a BuildAnnIndex layout: nprobe inverted
        // lists per query, scans only the probed partition dirs
        val idCol = opts.getOrElse("idCol", "vec_id")
        val vecCol = opts.getOrElse("vecCol", "embedding")
        val cf = spark.read.parquet(s"${req("index")}/centroids")
        val queries = spark.read.parquet(req("queries"))
        val res = graft.similarity.Ann.ivfTopKIndexed(
          s"${req("index")}/lists", cf, queries,
          k = opts.getOrElse("k", "5").toInt,
          nprobe = opts.getOrElse("nprobe", "2").toInt,
          idCol, vecCol)
        res.orderBy("query_id", "rank")
          .limit(opts.getOrElse("limit", "1000").toInt)
          .collect()
          .foreach(r => println(s"""{"query_id":${r.getLong(0)},"rank":${r.getLong(1)},"neighbor_id":${r.getLong(2)},"cosine":${r.getDouble(3)}}"""))

      case "ArchiveHistorical" =>
        // mvHistADCIRCFiles.py's runnable entry (:204+): decode every
        // long-form historical harvest file under --histDir, cross-check
        // against the dashboard config_item store (--configItems
        // parquet/CSV path, or --configDb JDBC url [+ --configTable]),
        // archive the matches into per-run dirs, and with --ingest true
        // chain a model ingest per produced run dir — the manifest
        // carries everything each run's ingest needs.
        import spark.implicits._
        val histDir = req("histDir")
        // candidates = long-form historical names only (10+ segments:
        // model_storm_location_ENSEMBLE_GRID_FORECAST_STATIONTYPE_
        // advisory_currentdate_timestamp); anything shorter would trip
        // the ANSI element_at in the positional decode, and meta files
        // ride along with their data file
        val files = Option(new java.io.File(histDir).listFiles()).getOrElse(Array.empty)
          .filter { f =>
            val segs = f.getName.split("_")
            f.isFile && f.getName.endsWith(".csv") &&
              segs.length >= 10 && !segs.contains("meta")
          }
          .map(_.getName).toSeq.sorted
        val configItems = opts.get("configDb") match {
          case Some(url) => graft.sources.JdbcLedger.scan(spark, url,
            opts.getOrElse("configTable", "config_item"))
          case None =>
            val p = req("configItems")
            if (p.endsWith(".csv"))
              spark.read.option("header", "true").csv(p)
                .withColumn("instance_id", col("instance_id").cast("long"))
            else spark.read.parquet(p)
        }
        val man = HistoricalArchive.manifest(
          HistoricalArchive.decodeFileNames(files.toDF("file_name")),
          configItems, histDir).cache()
        val runDirs = HistoricalArchive.archive(man)
        println(s"archived ${man.count()} files into ${runDirs.length} run dirs")
        if (opts.get("ingest").contains("true")) {
          val store = GaugeStore.open(spark, req("store"))
          store.vacuum().foreach(a => System.err.println(s"[vacuum] $a"))
          val runs = man.select("run_id", "ensemble_db", "ADCIRCgrid_db",
            "storm_db", "forcing", "instance", "advisory_db", "timemark")
            .distinct().collect()
          var total = 0L
          runs.foreach { r =>
            val runId = r.getAs[String]("run_id")
            total += modelRunIngest(spark, store,
              runDir = s"$histDir/$runId", modelRunId = runId,
              timemark = r.getAs[String]("timemark"),
              ensemble = r.getAs[String]("ensemble_db"),
              grid = r.getAs[String]("ADCIRCgrid_db"),
              storm = Option(r.getAs[String]("storm_db"))
                .filterNot(s => s == "none" || s == "None"),
              sourceInstance = r.getAs[String]("instance"),
              forcingMetclass = r.getAs[String]("forcing"),
              uiDataUrl = opts.getOrElse("uiDataUrl", "https://ui.example"),
              processingDatetime = opts.get("now"),
              advisory = Option(r.getAs[String]("advisory_db")))
          }
          println(s"ingested $total model files from ${runs.length} archived runs")
        }
        man.unpersist()

      case other => sys.error(s"unknown task: $other")
    }
  }

  def loadCatalog(spark: SparkSession, path: String): Seq[SourceMeta] = {
    import spark.implicits._
    spark.read.schema(Schemas.sourceObsMeta).option("header", "true").csv(path)
      .as[SourceMeta].collect().toSeq
  }

  /** The obs SequenceIngest pipeline (SURVEY §3.1): per catalog source
    * — discover files, anti-join the ledger, ingest the new ones, and
    * commit the batch with keep-latest over its source and dates, then
    * its ledger rows. Sources are independent; failures skip the source
    * and continue (reference log-and-continue semantics,
    * runObsIngest.py:116-117): a malformed file fails the read of its
    * source's batch, which is then retried file by file; a failure on
    * the store side fails the batch once, and its files retry on the
    * next run.
    */
  def sequenceIngest(
      spark: SparkSession,
      store: GaugeStore,
      catalog: Seq[SourceMeta],
      harvestDir: String,
      now: Column,
      deleteProcessed: Boolean = false): Long = {
    val stations = store.stations
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    var total = 0L
    catalog.foreach { meta =>
      val glob = s"$harvestDir/${meta.filename_prefix}_*.csv"
      val matched = fs.globStatus(new org.apache.hadoop.fs.Path(glob))
      if (matched != null && matched.nonEmpty) {
        import spark.implicits._
        def read(files: Seq[String]) =
          readObsBatch(spark, stations, meta, harvestDir, now, files)
        def commit(batch: ObsBatch) =
          try commitObsBatch(spark, store, stations, meta, harvestDir, batch, fs,
            deleteProcessed)
          finally batch.release()
        // a store-side failure (ledger read, dim write, commit) fails the
        // batch once: its files stay unledgered and retry on the next run
        try {
          // J4 on the names alone: a ledgered file is never read again
          val names = ObsIngest.newFilesOnly(
            matched.map(_.getPath.getName).toSeq.toDF("file_name"), store.ledger, now)
            .collect().map(_.getString(0)).toSeq.sorted
          scala.util.Try(read(names)) match {
            case scala.util.Success(batch) => total += commit(batch)
            case scala.util.Failure(e) =>
              // FAILFAST means one corrupt file aborts the source's whole
              // batch read — degrade to per-file granularity so the good
              // files still land and ONLY the broken file stays
              // unledgered (it retries next run, reference retry
              // semantics, runObsIngest.py:116-117); a one-file batch
              // has nothing to isolate
              System.err.println(s"[ingest] source ${meta.data_source}/" +
                s"${meta.source_name} batch input failed (${e.getMessage}); " +
                (if (names.size > 1) "retrying per file" else "it retries next run"))
              if (names.size > 1) names.foreach { n =>
                try total += commit(read(Seq(n)))
                catch {
                  case scala.util.control.NonFatal(e2) => System.err.println(
                    s"[ingest] skipping bad file $n: ${e2.getMessage}")
                }
              }
          }
        } catch {
          case scala.util.control.NonFatal(e) => System.err.println(
            s"[ingest] source ${meta.data_source}/${meta.source_name} batch " +
              s"failed in the store (${e.getMessage}); it retries next run")
        }
      }
    }
    total
  }

  /** One source's batch as read from its new harvest files: the rows
    * (cached: every file is read once), the files' ledger rows and,
    * when any of them has rows to load, their fact rows. */
  private final case class ObsBatch(harvest: DataFrame, fresh: DataFrame,
      names: Seq[String], rows: Option[DataFrame]) {
    def release(): Unit = harvest.unpersist()
  }

  /** The harvest side of a source's batch of new files, for the whole
    * batch or a single file (per-file failure isolation): the files are
    * read and parsed here, once, before anything is written, so a
    * malformed file fails this step and nothing else. */
  private def readObsBatch(spark: SparkSession, stations: DataFrame,
      meta: SourceMeta, harvestDir: String, now: Column,
      fileNames: Seq[String]): ObsBatch = {
    if (fileNames.isEmpty)
      return ObsBatch(spark.emptyDataFrame, spark.emptyDataFrame, Nil, None)
    val harvest = ObsIngest.readHarvest(spark, meta,
      fileNames.map(n => s"$harvestDir/$n"): _*).cache()
    try {
      val fresh = ObsIngest.harvestFileMeta(harvest, meta, harvestDir, now,
        allFiles = fileNames)
      // a file whose rows were all dropped (e.g. only unregistered
      // stations) loads no fact, but its ledger row still commits or
      // the file re-fails forever; a null-bounds file loads nothing
      val loadable = fresh.filter(!col("ingested"))
        .select("file_name").collect().map(_.getString(0)).toSeq
      val rows = if (loadable.isEmpty) None else Some(ObsIngest.ingestSource(
        harvest.filter(col("file_name").isin(loadable: _*)), meta, stations))
      ObsBatch(harvest, fresh, fileNames, rows)
    } catch {
      case scala.util.control.NonFatal(e) => harvest.unpersist(); throw e
    }
  }

  /** The store side of a source's batch: its source dim, the batch
    * commit, the retain-obs snapshots and the removal of processed
    * files. Returns the number of NEW files committed to the ledger. */
  private def commitObsBatch(spark: SparkSession, store: GaugeStore,
      stations: DataFrame, meta: SourceMeta, harvestDir: String, batch: ObsBatch,
      fs: org.apache.hadoop.fs.FileSystem, deleteProcessed: Boolean): Long = {
    if (batch.names.nonEmpty) {
      // fact batch + ledger rows commit as ONE batch under one tag
      // (the reference's COPY + UPDATE ingested inside one
      // transaction, ingestObsTasks.py:145-149/:405-409): the ledger
      // rows are already ingested=true and commit only after the fact
      // commit, which applies keep-latest against earlier timemarks in
      // the batch's own source and dates — no observable state has a
      // ledger mark without its fact, or a row next to the one that
      // supersedes it. The source dim is written first, so no
      // committed fact lacks its source.
      store.upsertGaugeSource(meta, ObsIngest.buildGaugeSource(stations, meta))
      store.atomicCommit(store.newCommitId("obs")) { tag =>
        batch.rows.foreach(store.stageGaugeData(_, meta.data_source, tag))
        store.stageLedger(batch.fresh.withColumn("ingested", lit(true)), tag)
      }
    }
    // retain-obs processing runs UNCONDITIONALLY (not inside the
    // new-files branch): its idempotence keys on the retain META
    // ledger, so a crash that committed the data but not the retain
    // side recovers on the next run even when that run ingests
    // nothing new.
    // Retain-obs-station snapshots from sibling meta files
    // (runRetainObsStationCreateIngest, SURVEY §3.1). Candidates
    // derive from the DATA ledger minus the retain META ledger —
    // not from this run's in-memory batch: a crash AFTER the
    // atomic commit (data ledgered, retain not yet written)
    // self-heals on the next run instead of skipping the batch's
    // snapshots forever (recovery keyed on `fresh` cannot see
    // them — newFilesOnly is empty once the ledger holds the
    // batch). Per-meta-file fault isolation: one corrupt meta
    // CSV loses only itself (no retain-ledger row → retried),
    // never the files after it.
    val doneMeta = store.retainObsStationFileMeta
      .filter(col("data_source") === meta.data_source)
      .select("file_name").collect().map(_.getString(0)).toSet
    val retainCandidates = store.ledger
      .filter(col("data_source") === meta.data_source &&
        col("source_name") === meta.source_name)
      .select(col("file_name"),
        date_format(col("data_begin_time"), "yyyy-MM-dd HH:mm:ss").as("b"),
        date_format(col("data_end_time"), "yyyy-MM-dd HH:mm:ss").as("e"),
        date_format(col("timemark"), "yyyy-MM-dd HH:mm:ss").as("tm"))
      .collect().toIndexedSeq
    val processedMeta = retainCandidates.flatMap { r =>
      val metaName = ObsIngest.metaFileNameFor(r.getString(0))
      val metaPath = new org.apache.hadoop.fs.Path(s"$harvestDir/$metaName")
      if (metaName != r.getString(0) && !doneMeta.contains(metaName) &&
        fs.exists(metaPath)) {
        try {
          val raw = spark.read.option("header", "true").csv(metaPath.toString)
          val names = raw.toDF(raw.columns.toIndexedSeq.map(_.toLowerCase): _*)
            .withColumnRenamed("station", "station_name")
            .select("station_name").distinct()
          store.appendRetainObsStations(
            ObsIngest.retainObsStations(stations, names, meta,
              lit(r.getString(3)), lit(r.getString(1)), lit(r.getString(2))))
          Some((metaName, r.getString(3), r.getString(1), r.getString(2)))
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[retain] $metaName failed (${e.getMessage}) — will retry next run")
            None
        }
      } else None
    }
    // per-meta-file bookkeeping ledger with the ingested commit
    // marker (drf_retain_obs_station_file_meta, ingestObsTasks.py:322)
    if (processedMeta.nonEmpty) {
      import spark.implicits._
      store.appendRetainObsStationFileMeta(
        processedMeta.toDF("file_name", "tm", "b", "e").select(
          lit(harvestDir).as("dir_path"),
          col("file_name"),
          lit(meta.data_source).as("data_source"),
          lit(meta.source_name).as("source_name"),
          lit(meta.source_archive).as("source_archive"),
          lit(meta.location_type).as("location_type"),
          col("tm").cast("timestamp").as("timemark"),
          col("b").cast("timestamp").as("begin_date"),
          col("e").cast("timestamp").as("end_date"),
          // rows are appended AFTER the snapshot committed — the
          // append itself is the commit marker (no false→true
          // rewrite cycle, one fewer crash window)
          lit(true).as("ingested")))
    }
    if (deleteProcessed) {
      // S7: the reference removes harvest files once loaded and
      // ledgered (ingestObsTasks.py:412-414) — the batch-path
      // equivalent of the streaming cleanSource=delete option.
      // The ledger, not file absence, stays the idempotence
      // source of truth.
      (batch.names ++ processedMeta.map(_._1)).foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$harvestDir/$n"), false)
      }
    }
    batch.names.size
  }

  /** One ADCIRC model run (SURVEY §3.2): per station-type harvest file
    * — derive data_source name + variable, anti-join the model-file
    * ledger (model-side J4: a (run, file, processing stamp) already
    * ledgered is skipped), build the model sources, ingest the fact
    * with the run timemark; then refresh the model source dim and
    * commit the fact with its ledger rows (ingested=true) as one batch,
    * whose keep-latest by processing stamp repairs a rerun (J8/J9 model
    * variant) in that same commit; then the apsviz station snapshot
    * from the meta files ∪ active retain-obs stations.
    */
  def modelRunIngest(
      spark: SparkSession, store: GaugeStore, runDir: String,
      modelRunId: String, timemark: String, ensemble: String, grid: String,
      storm: Option[String], sourceInstance: String, forcingMetclass: String,
      uiDataUrl: String, processingDatetime: Option[String] = None,
      advisory: Option[String] = None): Long = {
    // ONE driver-side literal for the whole run: current_timestamp()
    // would re-evaluate per write action, giving each harvest file a
    // different proc_ts, and keep-latest would rank one run's own files
    // against each other
    val procTsStr = processingDatetime.map(_.replace("T", " ")).getOrElse(
      java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")))
    val procTs = lit(procTsStr)
    val tmStr = timemark.replace("T", " ")
    // advisory: the run start time for synoptic runs, the storm
    // advisory number for tropical (createHarvestModelFileMeta.py:36-37)
    val advisoryStr = advisory.getOrElse(tmStr.replaceAll("[-: ]", "").take(10))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val stations = store.stations
    val dataSource = ModelIngest.dataSourceName(ensemble, grid, storm)
    var total = 0L
    var allSources = Seq.empty[org.apache.spark.sql.DataFrame]
    var ledgerRows = Seq.empty[org.apache.spark.sql.DataFrame]
    var facts = Seq.empty[org.apache.spark.sql.DataFrame]
    // model-side J4 anti-join, ONE ledger scan for the whole run (the
    // run id's manifest stats plan only its files): files already
    // ledgered under this processing stamp are skipped (idempotent
    // re-invocation). The ledger rows commit after the fact rows
    // below, so a ledgered file's fact is committed by construction.
    val ingestedSeen: Set[String] = store.modelLedger.filter(
      col("model_run_id") === modelRunId &&
        col("processing_datetime") === procTs.cast("timestamp") &&
        col("ingested"))
      .select("file_name").collect().map(_.getString(0)).toSet
    Seq("FORECAST", "NOWCAST").foreach { phase =>
      ModelIngest.stationTypeMeta.foreach { case (stype, (variable, locType, units)) =>
        val fileName = s"${phase}_$stype.csv"
        val p = new org.apache.hadoop.fs.Path(s"$runDir/$fileName")
        if (fs.exists(p) && !ingestedSeen(fileName)) {
          val meta = SourceMeta(dataSource, "adcirc", "renci", variable,
            phase, locType, units)
          val src = ModelIngest.buildModelSource(stations, meta, sourceInstance, forcingMetclass)
          allSources :+= src
          ledgerRows :+= ModelIngest.modelHarvestFileMeta(spark, meta,
            runDir, fileName, modelRunId, sourceInstance, forcingMetclass,
            advisoryStr, lit(tmStr), procTs)
          facts :+= ModelIngest.ingestRun(spark, meta, src, stations,
            lit(tmStr), p.toString)
            .withColumn("proc_ts", procTs.cast("timestamp"))
          total += 1
        }
      }
    }
    // the run's fact rows + ledger rows (ingested=true) commit as ONE
    // batch under one tag — the reference's per-file
    // BEGIN/COPY/UPDATE/COMMIT (ingestModelTasks.py:368-372) widened to
    // the whole run: no observable state has a ledgered file without
    // its fact, and a crash between the two commits leaves facts that
    // the next run's re-ingest folds to the same rows. The fact commit
    // keeps the latest-processed row per (source_id, time) of the run's
    // timemark, so a rerun under a new stamp (ingestModelTasks.py:
    // 375-387) is repaired in that commit. The run's sources are
    // registered first, so no committed fact lacks its source.
    if (facts.nonEmpty) {
      store.upsertModelSource(allSources.reduce(_ unionByName _))
      store.atomicCommit(store.newCommitId("model")) { tag =>
        store.stageModelData(facts.reduce(_ unionByName _), tag)
        store.stageModelLedger(
          ledgerRows.reduce(_ unionByName _).withColumn("ingested", lit(true)),
          tag)
      }
    }
    // apsviz station snapshot from meta_* files (+ active obs stations)
    val metaNames = Seq("FORECAST", "NOWCAST").flatMap { phase =>
      ModelIngest.stationTypeMeta.keys.map(st => s"$runDir/meta_${phase}_$st.csv")
    }.filter(n => fs.exists(new org.apache.hadoop.fs.Path(n)))
    if (metaNames.nonEmpty) {
      val raw = spark.read.option("header", "true").csv(metaNames: _*)
      val adcircNames = raw.toDF(raw.columns.toIndexedSeq.map(_.toLowerCase): _*)
        .withColumnRenamed("station", "station_name")
        .select("station_name").distinct()
      val retain =
        if (store.hasRetainObsStations) store.retainObsStations
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("station_name", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("begin_date", org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("end_date", org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("data_source", org.apache.spark.sql.types.StringType))))
      val snapshot = ModelIngest.apsVizStations(stations, adcircNames,
        retain.select("station_name", "begin_date", "end_date", "data_source"),
        lit(tmStr), modelRunId, uiDataUrl, grid)
      store.appendApsVizStations(snapshot)
      // flip the dim's apsviz_station flag for stations now in a
      // snapshot (the reference view's g.apsviz_station semantics)
      store.markApsVizStations(
        snapshot.select("station_name").distinct().collect().map(_.getString(0)).toSeq)
      // per-meta-file bookkeeping ledger with the ingested commit marker
      // (drf_apsviz_station_file_meta, ingestModelTasks.py:295;
      // createApsVizStationFileMeta.py:17-66). Keyed on (run, file,
      // timemark) so re-invoking the same run does not duplicate rows.
      import spark.implicits._
      val metaBase = metaNames.map(_.split('/').last)
      val known = store.apsVizStationFileMeta
        .filter(col("model_run_id") === modelRunId &&
          col("timemark") === lit(tmStr).cast("timestamp"))
        .select("file_name").collect().map(_.getString(0)).toSet
      val newMeta = metaBase.filterNot(known)
      if (newMeta.nonEmpty) {
        store.appendApsVizStationFileMeta(
          newMeta.map { fn =>
            val stype = fn.stripSuffix(".csv").split('_').last
            (fn, ModelIngest.stationTypeMeta.get(stype).map(_._2).getOrElse("unknown"))
          }.toDF("file_name", "location_type").select(
            lit(runDir).as("dir_path"),
            col("file_name"),
            lit(tmStr).cast("timestamp").as("data_date_time"),
            lit(dataSource).as("data_source"),
            lit("adcirc").as("source_name"),
            lit("renci").as("source_archive"),
            lit(sourceInstance).as("source_instance"),
            lit(forcingMetclass).as("forcing_metclass"),
            lit(grid).as("grid_name"),
            lit(modelRunId).as("model_run_id"),
            lit(tmStr).cast("timestamp").as("timemark"),
            col("location_type"),
            // file-level URL: no station_name key (the per-station URLs
            // live in the snapshot rows, ModelIngest.apsVizStations)
            concat(lit(uiDataUrl), lit("/get_station_data?time_mark="),
              lit(timemark), lit("&data_source="), lit(dataSource)).as("csvurl"),
            // appended AFTER the snapshot committed — the append is the
            // commit marker
            lit(true).as("ingested")))
      }
    }
    total
  }
}
