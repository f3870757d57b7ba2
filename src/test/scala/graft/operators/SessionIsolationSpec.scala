package graft.operators

import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sinks.SnapshotStore
import org.apache.spark.sql.functions.col

/** Operators that tune their plans (loop-sized shuffle partitions, AQE
  * off) must do it on a scoped child session: the caller's conf is what
  * every other query planned on the same session reads, concurrently
  * or later. */
class SessionIsolationSpec extends SparkSpec {

  private val watched = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  /** Every (key, value) of [[watched]] a second thread saw on the caller
    * while `f` ran, beyond the values before it started. */
  private def confChangesDuring(f: => Unit): Set[(String, String)] = {
    def now = watched.map(k => k -> spark.conf.get(k))
    val before = now.toSet
    val seen = ConcurrentHashMap.newKeySet[(String, String)]()
    @volatile var running = true
    val poller = new Thread(() => while (running) now.foreach(seen.add))
    poller.start()
    try f finally { running = false; poller.join() }
    now.foreach(seen.add)
    seen.asScala.toSet -- before
  }

  private def chainEdges = {
    val s = spark; import s.implicits._
    ((1L to 30L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (102L, 101L)))
      .toDF("a", "b")
  }

  private def docs = {
    val s = spark; import s.implicits._
    Seq((0L, "banana bandana"), (1L, "abracadabra"), (2L, "banana"))
      .toDF("doc_id", "text")
  }

  private def cc(): Seq[(Long, Long)] =
    Components.connectedComponents(chainEdges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  private def sa(): Seq[(Long, Long, Long)] =
    SuffixArray.suffixArray(docs).select("sa_pos", "doc_id", "off").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

  test("connectedComponents leaves the caller's conf untouched while it runs") {
    var labels = Seq.empty[(Long, Long)]
    val changed = confChangesDuring { labels = cc() }
    assert(changed.isEmpty, s"caller conf changed mid-operator: $changed")
    assert(labels.filter(_._1 <= 31).forall(_._2 == 1L) &&
      labels.filter(_._1 >= 100).forall(_._2 == 100L))
  }

  test("a stats-tracked commit and readWhereEq leave the caller's conf untouched while they run") {
    val path = java.nio.file.Files.createTempDirectory("isolation-store").toString
    val batch = spark.range(0, 200).select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("id"))
    var hits = 0L
    val changed = confChangesDuring {
      SnapshotStore.commit(batch, path, statsKey = Some("id"))
      SnapshotStore.addConstraint(spark, path, "v_small", "v < 7")
      SnapshotStore.commit(batch.select((col("id") + 200).as("id"), col("v")), path,
        mode = org.apache.spark.sql.SaveMode.Append, statsKey = Some("id"))
      hits = SnapshotStore.readWhereEq(spark, path, "id", "250").count()
    }
    assert(changed.isEmpty, s"caller conf changed mid-operator: $changed")
    assert(hits == 1L)
  }

  test("connectedComponents and suffixArray on one session in two threads equal their serial results") {
    val (ccSerial, saSerial) = (cc(), sa())
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 3).foreach { _ =>
      val (ccPar, saPar) = Await.result(
        Future(cc()).zip(Future(sa())), 5.minutes)
      assert(ccPar == ccSerial)
      assert(saPar == saSerial)
    } finally pool.shutdown()
  }
}
