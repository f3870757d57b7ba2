package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.graft.PlanTransplant

/** The cache contract of [[Tuning.scoped]]. Each test scopes a fresh
  * caller (a `newSession()` of the shared one), so no test sees another
  * test's children. */
class TuningSpec extends SparkSpec {

  private val aqe = "spark.sql.adaptive.enabled"
  private val parts = "spark.sql.shuffle.partitions"

  test("the same caller and overrides return the same child; the caller's conf is untouched") {
    val caller = spark.newSession()
    val child = Tuning.scoped(caller, Tuning.AqeOff)
    assert(!(child eq caller))
    assert(Tuning.scoped(caller, Tuning.AqeOff) eq child)
    assert(child.conf.get(aqe) == "false")
    assert(caller.conf.get(aqe) == "true")
    assert(Tuning.scoped(caller) eq caller, "no overrides is the caller itself")
    assert(!(Tuning.scoped(spark.newSession(), Tuning.AqeOff) eq child),
      "another caller gets its own child")
  }

  test("a conf.set on the caller yields a new child that carries the changed value") {
    val caller = spark.newSession()
    val before = Tuning.scoped(caller, Tuning.AqeOff)
    caller.conf.set(parts, "3")
    val after = Tuning.scoped(caller, Tuning.AqeOff)
    assert(!(after eq before))
    assert(after.conf.get(parts) == "3" && after.conf.get(aqe) == "false")
    assert(before.conf.get(parts) != "3")
  }

  test("a frame over a temp view created after the child was cached re-roots and runs") {
    val caller = spark.newSession()
    val child = Tuning.scoped(caller, Tuning.AqeOff)
    // the child copies the caller's catalog on first use — use it first
    assert(!child.catalog.tableExists("tuning_spec_late"))
    caller.range(5).createOrReplaceTempView("tuning_spec_late")
    assert(!child.catalog.tableExists("tuning_spec_late"))
    val moved = PlanTransplant.reRoot(child,
      caller.sql("SELECT id * 2 AS x FROM tuning_spec_late"))
    assert(moved.sparkSession eq child)
    assert(moved.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    assert(PlanTransplant.reRoot(caller, moved.filter("x > 4")).count() == 2)
  }

  test("the cache is bounded and does not keep an evicted caller alive") {
    var caller = spark.newSession()
    Tuning.scoped(caller, Tuning.AqeOff)
    val ref = new java.lang.ref.WeakReference(caller)
    caller = null
    val other = spark.newSession()
    (1 to Tuning.MaxChildren).foreach(i => Tuning.scoped(other, parts -> i.toString))
    var tries = 0
    while (ref.get != null && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(ref.get == null, "an evicted caller is still reachable")
  }
}
