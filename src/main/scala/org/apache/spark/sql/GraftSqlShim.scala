package org.apache.spark.sql

import java.io.CharArrayWriter

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge (the standard Spark-extension-library
  * pattern) so graft's sharing layer can wrap an existing analyzed plan
  * fragment — e.g. the exact scan LogicalRelation a job used — in a Dataset.
  *
  * Needed because relation identity is sensitive to the path *string* the
  * user passed (`/x` vs `file:/x` produce non-equal HadoopFsRelations), so
  * re-reading by path cannot reliably hit Catalyst's CacheManager
  * substitution; wrapping the original plan node always does.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run `body` with `spark` as the thread's active session, so the conf
    * that an expression or encoder reads on the driver is `spark`'s. */
  def withActive[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[classic.SparkSession].withActive(body)

  /** `rows` of `df`'s result as JSON lines, encoded on the driver exactly
    * as `df.toJSON` encodes them in its tasks: the same generator over the
    * same schema, with no options but the session time zone. One generator
    * serves the whole reply; each line is encoded as it is pulled. */
  def jsonLines(df: DataFrame, rows: Iterator[InternalRow]): Iterator[String] = {
    val tz = df.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.sessionLocalTimeZone
    val writer = new CharArrayWriter()
    val gen = new JacksonGenerator(df.schema, writer,
      new JSONOptions(Map.empty[String, String], tz))
    rows.map { r => writer.reset(); gen.write(r); gen.flush(); writer.toString }
  }
}
