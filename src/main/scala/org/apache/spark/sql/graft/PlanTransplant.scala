package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Session plumbing behind `graft.operators.Tuning.scoped`. Lives in
  * `org.apache.spark.sql.graft` for the same reason as
  * [[GraftStreamSource]]: `cloneSession`, `sessionUUID` and
  * `Dataset.ofRows` are `private[sql]` (the extension-package pattern
  * Delta's sources use). */
object PlanTransplant {

  /** `df` on `target`, another session of the same SparkContext. The
    * naive `target.createDataFrame(df.rdd, df.schema)` decodes and
    * re-encodes every row and runs the upstream plan under the source
    * session's conf; the transplant moves zero rows and the target plans
    * the whole tree under its own conf. The ANALYZED plan travels, so a
    * frame over one session's temp view or function still resolves in a
    * session without it. */
  def reRoot(target: SparkSession, df: DataFrame): DataFrame =
    Dataset.ofRows(target.asInstanceOf[ClassicSession], df.queryExecution.analyzed)

  /** A child of `spark`: same SparkContext, cache manager and codegen
    * cache; its own copy of the SQLConf, temp views and functions. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  /** The session's unique id — names a session without holding it. */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[ClassicSession].sessionUUID
}
