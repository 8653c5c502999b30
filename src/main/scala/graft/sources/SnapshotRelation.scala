package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** [[SnapshotTable]] as a REGISTERED batch source/sink — the Spark-
  * native read surface the table verbs sit behind:
  *
  * {{{
  *   spark.read.format("snapshot").load(root)              // head
  *   spark.read.format("snapshot")
  *     .option("versionAsOf", 7).load(root)                // time travel
  *   df.write.format("snapshot").mode("append").save(root) // append
  *   sql("CREATE TEMP VIEW t USING snapshot OPTIONS (path '...')")
  * }}}
  *
  * Why DSv1 `PrunedFilteredScan` and not a DSv2 `Table`: identical
  * reasoning to the CDF source's recorded adjudication (PLANS.md) — a
  * snapshot read is a COMPOSED Catalyst plan (column-mapped pruned
  * parquet scans + DV anti-joins), not a per-file record iterator, so
  * DSv2 `PartitionReader`s would either re-implement the read
  * semantics row-by-row (unvectorized — strictly slower) or smuggle a
  * planned RDD across the API (breaks on the DV anti-join's shuffle).
  * DSv1's `buildScan` may legitimately return the planned frame's own
  * RDD, which keeps every scan optimization the table verbs already
  * have.
  *
  * Pruning contract: Catalyst pushes the query's filters into
  * [[SnapshotRelation.buildScan]]; the translatable conjuncts become
  * one `Column` handed to [[SnapshotTable.readWhere]], whose
  * `derivePreds` walk turns them into manifest stat ranges and bloom
  * point probes — so `WHERE id = 7` against a stat/bloom-carrying
  * table reads O(surviving files), not O(table), straight from SQL.
  * Every filter is also declared UNHANDLED ([[SnapshotRelation
  * .unhandledFilters]] returns its input): pruning is advisory,
  * row-level correctness stays with Spark's own re-applied predicates
  * — a translation gap can only cost IO, never rows. Untranslatable
  * conjuncts are dropped from the pruning condition (safe: dropping a
  * conjunct only widens the scan); inside `Or`/`Not` the translation
  * is all-or-nothing, because widening a disjunct or a negated child
  * would NARROW the result.
  *
  * Reference contract: the reference serves its tables to ad-hoc SQL
  * consumers via database functions over its views
  * (`/root/reference/scripts/get_obs_timeseries_station_data.sql`,
  * `get_forecast_timeseries_station_data.sql`); `USING snapshot` temp
  * views are that surface for the lakehouse tables.
  */
final class SnapshotSourceProvider extends RelationProvider
    with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "snapshot"

  // ---- streaming read: the append-only table stream ------------------
  //
  // `spark.readStream.format("snapshot").load(root)` streams the
  // table's NEW ROWS with the table's own schema — the fourth quadrant
  // (batch read/write and the `snapshot-table` stream sink being the
  // others), and the Delta-source UX: a consumer that wants plain rows
  // should not have to know about `_change` columns. Offsets,
  // admission control (`maxVersionsPerTrigger`), `startAt`, `columns`
  // and `where` are the CDF source's (same machinery, append-only
  // mode); commits that DELETE rows fail the batch loudly unless
  // `ignoreDeletes=true` — for delete-aware consumption use
  // `snapshot-cdf`. The deletes gate is metadata-first: append-only
  // ranges pay zero extra jobs, and a compaction-only commit (removes
  // without row deletes) streams through untripped.

  private def cdfDelegate = new graft.streaming.CdfSourceProvider

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : (String, StructType) = {
    val (_, withChange) =
      cdfDelegate.sourceSchema(sqlContext, schema, providerName, parameters)
    (shortName(), StructType(withChange.fields.filterNot(_.name == "_change")))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (_, st) = sourceSchema(sqlContext, schema, providerName, parameters)
    val table = tableFor(sqlContext.sparkSession, parameters)
    new graft.streaming.CdfSource(table, st,
      startAt =
        graft.streaming.CdfSourceProvider.resolveStartAt(table, parameters),
      maxVersionsPerTrigger =
        parameters.get("maxVersionsPerTrigger").map(_.trim.toInt),
      where = parameters.get("where"),
      appendOnly = true,
      ignoreDeletes =
        parameters.get("ignoreDeletes").exists(_.trim.toBoolean))
  }

  private def tableFor(spark: SparkSession,
      parameters: Map[String, String]): SnapshotTable = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "snapshot source requires .option(\"path\", <table root>) or " +
          ".load(<table root>)"))
    new SnapshotTable(spark, path,
      checkpointInterval =
        parameters.get("checkpointInterval").map(_.trim.toInt).getOrElse(20))
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    createRelation(sqlContext, parameters, declared = None)

  /** The `SchemaRelationProvider` half — what the session catalog
    * calls for a table CREATEd with an explicit column list
    * (`CREATE TABLE t (id BIGINT, ...) USING snapshot OPTIONS (path
    * ...)`): the declared schema lets a NOT-YET-WRITTEN table resolve
    * and read as an EMPTY relation, so catalog-registered empty
    * tables work end to end — `INSERT INTO` lands version 1, reads
    * before that return zero rows of the declared shape. Once the
    * table exists on disk its RECORDED schema wins (it may have
    * evolved past the catalog's stored copy — recorded-schema reads
    * are what keep widened appends visible to name-based readers). */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters, declared = Some(schema))

  private def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      declared: Option[StructType]): BaseRelation = {
    val table = tableFor(sqlContext.sparkSession, parameters)
    val asOfV = parameters.get("versionAsOf").map(_.trim.toInt)
    // epoch millis, ISO instant, or local datetime read as UTC —
    // the one shared parser (SnapshotTable.parseTsMillis)
    val asOfT = parameters.get("timestampAsOf")
      .map(SnapshotTable.parseTsMillis)
    require(asOfV.isEmpty || asOfT.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version = asOfV.orElse(asOfT.map(table.versionAt))
    new SnapshotRelation(sqlContext, table, version, declared)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val table = tableFor(sqlContext.sparkSession, parameters)
    def cols(k: String): Seq[String] = parameters.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // `df.write.partitionBy(...)` arrives as the writer's encoded
    // option (V1 has no typed channel). HONORED, not hive-layered: the
    // columns become the table's recorded RANGE-CLUSTERING layout
    // (graft.layout.partitionCols) — every write clusters on them and
    // records their stats, so partition predicates prune from the
    // manifest. A declaration contradicting the recorded layout
    // refuses inside applyLayout.
    val pby: Seq[String] =
      parameters.get(org.apache.spark.sql.graftbridge
        .WriteBridge.PartitioningColumnsKey)
        .map(org.apache.spark.sql.graftbridge
          .WriteBridge.decodePartitioningColumns)
        .getOrElse(Nil)
    mode match {
      case SaveMode.Append =>
        table.appendWithStats(data, cols("statCols"), cols("bloomCols"),
          partitionBy = pby)
      case SaveMode.Overwrite =>
        parameters.get("replaceWhere") match {
          // targeted overwrite (the Delta writer idiom):
          //   df.write.format("snapshot").mode("overwrite")
          //     .option("replaceWhere", "k = 3").save(root)
          // deletes the matching rows and inserts the frame in ONE
          // commit; inserted rows must satisfy the condition unless
          // .option("replaceWhereValidate", "false")
          case Some(c) =>
            val condC = org.apache.spark.sql.functions.expr(c)
            val check = parameters.get("replaceWhereValidate")
              .forall(_.trim.toBoolean)
            // graft.dml.mode=mor routes to deletion vectors like the
            // other DML verbs (one table-level knob)
            table.replaceWhere(data, condC,
              statCols = cols("statCols"), bloomCols = cols("bloomCols"),
              validate = check, partitionBy = pby,
              mor = SnapshotDml.morOf(table))
          case None =>
            // one staging pass records stats/blooms alongside the
            // write — never a second whole-table rewrite, never a
            // stat-less version visible in between
            table.overwrite(data, statCols = cols("statCols"),
              bloomCols = cols("bloomCols"), partitionBy = pby)
        }
      // ErrorIfExists/Ignore go through the KEYED exclusive-create
      // verb: two racing creators serialize through the commit
      // conflict check instead of both passing a non-atomic
      // exists-then-append probe (ADVICE r14)
      case SaveMode.ErrorIfExists =>
        table.createExclusive(data, cols("statCols"), cols("bloomCols"),
          partitionBy = pby)
      case SaveMode.Ignore =>
        table.createExclusive(data, cols("statCols"), cols("bloomCols"),
          ignoreIfExists = true, partitionBy = pby)
    }
    new SnapshotRelation(sqlContext, table, None)
  }
}

/** The scan half: schema from the manifest's recorded schema channel
  * (logical names — column mapping already applied), filters used for
  * metadata pruning via [[SnapshotTable.readWhere]], rows produced by
  * the planned frame itself. `needConversion = false` + the planned
  * `queryExecution.toRdd` avoids a per-row external-Row round trip —
  * the rows Spark receives are the very InternalRows the parquet scan
  * produced. */
final class SnapshotRelation(override val sqlContext: SQLContext,
    table: SnapshotTable, version: Option[Int],
    declared: Option[StructType] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  /** The table handle and pinned read version, for the SQL DML rules
    * ([[SnapshotDml]]) — a resolved `DELETE FROM`/`UPDATE`/`MERGE
    * INTO` target recovers the verbs through these. */
  private[sources] def tableHandle: SnapshotTable = table
  private[sources] def pinnedVersion: Option[Int] = version

  /** `INSERT INTO` / `INSERT OVERWRITE` over the relation (catalog
    * tables, `USING snapshot` temp views, ``snapshot.`/path/``): a
    * plain append/overwrite commit under the table-property
    * stat/bloom defaults. Time-travel relations refuse — the past is
    * immutable. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(version.isEmpty,
      s"cannot INSERT into a time-travel snapshot relation of ${table.root}")
    if (overwrite) table.overwrite(data)
    else table.appendWithStats(data, Nil)
  }

  // lazy: Spark asks for the schema several times during resolution,
  // and each call would otherwise be another manifest-tail replay
  private lazy val resolvedSchema: StructType =
    table.schemaAt(version).getOrElse {
      // a catalog-declared schema carries a table that has no commit
      // yet (CREATE TABLE before the first INSERT) — it reads empty
      if (table.currentVersion == 0 && declared.isDefined) declared.get
      else table.read(version).schema
    }

  override def schema: StructType = resolvedSchema

  override def needConversion: Boolean = false

  /** All filters stay Spark's responsibility; the relation only PRUNES
    * with them. See the class doc — advisory pruning can never drop a
    * row it shouldn't. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val cond = filters.toSeq.flatMap(SnapshotRelation.toColumn)
      .reduceOption(_ && _)
    val base =
      if (table.currentVersion == 0 && declared.isDefined)
        // declared-schema table with no commit yet: empty frame
        sqlContext.sparkSession.createDataFrame(
          sqlContext.sparkSession.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], resolvedSchema)
      else cond match {
        case Some(c) => table.readWhere(c, version)
        case None => table.read(version)
      }
    // Type-drift guard (ADVICE r14): the relation's schema resolved
    // ONCE, but a head read plans at scan time — a type-widening
    // append (int->long) landing between resolution and scan would
    // otherwise hand Spark InternalRows whose slot types disagree
    // with the declared schema, silent garbage under
    // `needConversion = false`. Columns whose head type drifted are
    // cast back to the DECLARED type: under ANSI mode (the Spark 4
    // default) an out-of-range value fails loudly at read; with ANSI
    // off the scan REFUSES instead of risking a silent wrap — either
    // way the fix is re-resolving the relation (re-create the view).
    val headTypes = base.schema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    lazy val ansi = sqlContext.sparkSession.conf
      .get("spark.sql.ansi.enabled", "true").toBoolean
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.toIndexedSeq.map { n =>
        val c = col(SnapshotRelation.quote(n))
        val declared = resolvedSchema.fields
          .find(_.name.equalsIgnoreCase(n)).map(_.dataType)
        (declared, headTypes.get(n.toLowerCase)) match {
          // catalogString comparison = type equality modulo
          // nullability (DataType.sameType is private[sql])
          case (Some(d), Some(h)) if d.catalogString != h.catalogString =>
            if (!ansi) throw new IllegalStateException(
              s"snapshot relation for ${table.root}: column '$n' is " +
                s"${h.simpleString} at the table head but was " +
                s"${d.simpleString} when this relation resolved (a " +
                "type-widening append landed since). Re-create the " +
                "relation/view to read the widened type; refusing a " +
                "non-ANSI narrowing cast that could silently wrap.")
            c.cast(d).as(n)
          case _ => c
        }
      }: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object SnapshotRelation {

  /** Backtick-quote a column name for `col(...)` so names with dots
    * resolve as one attribute, not a struct path. Names containing a
    * backtick are untranslatable (can't be safely quoted) — callers
    * skip them. */
  private def quote(n: String): String = s"`$n`"

  /** EXACT translation of a pushed source filter to a `Column`; None
    * when any part has no exact equivalent. Exactness matters because
    * the result is APPLIED by `readWhere`, not just used to prune:
    * top-level conjuncts may be dropped (widening is safe) but a
    * partially-translated `Or`/`Not` would narrow the result. */
  private[sources] def toColumn(f: Filter): Option[Column] = {
    def c(n: String): Option[Column] =
      if (n.contains("`") || n.contains(".")) None else Some(col(quote(n)))
    f match {
      case EqualTo(a, v) => c(a).map(_ === lit(v))
      case EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case GreaterThan(a, v) => c(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case LessThan(a, v) => c(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case In(a, vs) => c(a).map(_.isin(vs.toIndexedSeq.map(lit): _*))
      case IsNull(a) => c(a).map(_.isNull)
      case IsNotNull(a) => c(a).map(_.isNotNull)
      case StringStartsWith(a, v) => c(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => c(a).map(_.endsWith(v))
      case StringContains(a, v) => c(a).map(_.contains(v))
      case And(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(child) => toColumn(child).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}
