package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-latest deduplication — the Spark restatement of the reference's
  * DELETE self-join (ingestObsTasks.py:45-56, ingestModelTasks.py:102-114):
  * per key group keep the single row with the highest precedence.
  *
  * The reference's precedence is the serial PK (`a.obs_id < b.obs_id`),
  * i.e. insertion order. Spark has no serial sequence, so callers pass
  * explicit precedence columns (timemark, processing_datetime) — which
  * is exactly what insertion order encodes in the reference (SURVEY §7).
  *
  * Scale: one shuffle on `keys`. At 100 TB the fact table is
  * partitioned by source/date, and the caller scopes the dedup to the
  * incoming batch's source and days first (ingestObsTasks.py:392-399)
  * so only affected files shuffle.
  */
object KeepLatestDedup {

  def apply(df: DataFrame, keys: Seq[String], precedence: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(precedence.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
