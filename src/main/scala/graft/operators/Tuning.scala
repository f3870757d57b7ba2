package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanTransplant

/** The one way an operator tunes the session its plans run under.
  *
  * [[scoped]] returns a CHILD of the caller's session: its clone (same
  * SparkContext, cache manager and codegen cache; the caller's conf,
  * temp views and functions copied) with the overrides applied. The
  * caller's conf is never touched, so a query planned on it meanwhile
  * never inherits loop-sized shuffle partitions or AQE off, and a
  * failure mid-operator leaves nothing to restore. Frames move between
  * the two with `PlanTransplant.reRoot` (zero rows moved); an action
  * runs under the conf of the session its frame lives on:
  *  - loop operators (Components, GraphAnn, Similarity.ivfAssign)
  *    re-root their inputs into the child and their result back onto
  *    the caller, whose action keeps the caller's conf;
  *  - SuffixArray and [[smallInputPlan]] return frames that stay on the
  *    child, pinning the tuning to the frame whoever materializes it;
  *  - SnapshotStore runs its metadata-plane actions on an AQE-off child.
  *
  * Children are cached per (caller, caller's current conf, overrides),
  * so a later `conf.set` on the caller yields a fresh child, never a
  * stale one. At most [[MaxChildren]] are kept (least recently used
  * out), each behind a soft reference: a child references its caller,
  * so the cache never holds a caller past eviction or memory pressure. */
object Tuning {

  /** Gate: driving inputs under ~256 MB (optimizer byte estimate)
    * schedule classically — far below any scale where AQE's runtime
    * re-planning can recover its per-stage job latency. */
  val SmallInputBytes: Long = 256L << 20
  val MaxChildren = 16
  val AqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  /** Loop operators' overrides: shuffles sized to the loop state, and
    * AQE off when per-round job latency, not data, dominates. */
  def loopConf(parts: Int, small: Boolean): Seq[(String, String)] =
    ("spark.sql.shuffle.partitions" -> parts.toString) +: (if (small) Seq(AqeOff) else Nil)

  private type Key = (String, Map[String, String], Seq[(String, String)])
  private type Ref = java.lang.ref.SoftReference[SparkSession]
  private val children = new java.util.LinkedHashMap[Key, Ref](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Ref]): Boolean =
      size > MaxChildren
  }

  /** `spark` with `overrides` applied, as a cached child session; no
    * overrides is `spark` itself. */
  def scoped(spark: SparkSession, overrides: (String, String)*): SparkSession =
    if (overrides.isEmpty) spark
    else children.synchronized {
      val key = (PlanTransplant.sessionId(spark), spark.conf.getAll, overrides)
      Option(children.get(key)).flatMap(r => Option(r.get)).getOrElse {
        val child = PlanTransplant.cloneSession(spark)
        overrides.foreach { case (k, v) => child.conf.set(k, v) }
        children.put(key, new java.lang.ref.SoftReference(child))
        child
      }
    }

  /** Build a DEEP composite plan (Lloyd rounds + residual codebooks +
    * rank windows ≈ 30 stages) on the caller's AQE-off child when
    * `driving`'s optimizer byte estimate (file sizes for a parquet scan:
    * zero jobs) is under [[SmallInputBytes]]. AQE runs one job per query
    * stage, which pays off on cluster-scale shuffles but is pure
    * scheduling latency on broadcast-sized inputs; at scale the caller's
    * session (and its AQE skew handling) governs.
    *
    * NOT applied blanket: measured per query (r19) — shallow plans and
    * plans whose joins AQE upgrades to broadcast at runtime
    * (bpe_encode, nb_classify, pipeline_e2e, soft_dedup,
    * dedup_clusters…) run FASTER with AQE on, and keep it. Only
    * operators that measured faster under classic scheduling opt in. */
  def smallInputPlan(t: Tables, driving: DataFrame)
                    (build: Tables => DataFrame): DataFrame = {
    val bytes = driving.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= SmallInputBytes) build(t)
    else build(t.copy(spark = scoped(t.spark, AqeOff)))
  }
}
