package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Tools behind `record_expected.sh`, which records the query_mix
  * fingerprints from a run whose results passed the DuckDB oracle.
  *
  *   tables DIR               write the query_mix tables (generator seed
  *                            QueryMix.TableSeed, sf0.1 shape) as
  *                            DIR/<table>.parquet single files, the layout
  *                            graft.Verify and tools/check_oracle.py read
  *   expected DIR VERIFY_OUT  print query_mix_expected.tsv for the keys
  *                            listed on standard input: each key's
  *                            fingerprint over DIR, after checking it
  *                            equals the fingerprint of graft.Verify's
  *                            dump of the same key in VERIFY_OUT
  *   survey DIR [LIMIT_S]     time every registry key over DIR, built and
  *                            fully consumed through the noop sink, one at
  *                            a time in key order after a one-key warm-up;
  *                            print `key, seconds, status` lines (status
  *                            `ok`, `error` or `timeout`: jobs cancelled
  *                            after LIMIT_S seconds, default 60)
  */
object Record {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.tune(SparkSession.builder().master("local[4]"), 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "tables" :: dir :: Nil =>
        val staging = s"$dir/.staging"
        Gen.writeAll(Gen.star(spark, QueryMix.TableSeed, 0.1), staging)
        Gen.star(spark, QueryMix.TableSeed, 0.1).keys.foreach { t =>
          val part = Files.list(Paths.get(s"$staging/$t.parquet")).toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .filter(_.getFileName.toString.endsWith(".parquet")).head
          Files.move(part, Paths.get(s"$dir/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
        }
        EtlPush.deleteTree(Paths.get(staging))
      case "expected" :: dir :: verifyOut :: Nil =>
        val oracled = SparkEntry.oracleSql.keySet
        val keys = scala.io.Source.stdin.getLines().map(_.trim).filter(_.nonEmpty).toList
        println("# key\tkind\texpected (oracle: rows:hashsum fingerprint; rows: row count)")
        keys.foreach { k =>
          val df = SparkEntry.queries(k)(spark, dir)
          if (oracled(k)) {
            val fp = Gen.fingerprint(df)
            val dumped = Gen.fingerprint(spark.read.parquet(s"$verifyOut/$k"))
            require(fp == dumped, s"$k: fingerprint $fp differs from the Verify dump's $dumped")
            println(s"$k\toracle\t$fp")
          } else println(s"$k\trows\t${df.count()}")
          graft.CacheRegistry.drain()
          spark.catalog.clearCache()
        }
      case "survey" :: dir :: rest =>
        survey(spark, dir, rest.headOption.fold(60)(_.toInt))
      case _ =>
        System.err.println("usage: Record tables DIR | Record expected DIR VERIFY_OUT < keys" +
          " | Record survey DIR [LIMIT_S]")
        sys.exit(2)
    }
    spark.stop()
  }

  private def survey(spark: SparkSession, dir: String, limitS: Int): Unit = {
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    def run(key: String): Unit = {
      Consume.noop(SparkEntry.queries(key)(spark, dir))
      graft.CacheRegistry.drain()
      spark.catalog.clearCache()
    }
    run("q1_agg")
    SparkEntry.queries.keys.toSeq.sorted.foreach { k =>
      val t = System.nanoTime()
      val f = Future(run(k))
      val status =
        try { Await.result(f, limitS.seconds); "ok" }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelAllJobs()
            scala.util.Try(Await.ready(f, 60.seconds))
            "timeout"
          case scala.util.control.NonFatal(_) => "error"
        }
      println(f"$k\t${(System.nanoTime() - t) / 1e9}%.3f\t$status")
      scala.util.Try { graft.CacheRegistry.drain(); spark.catalog.clearCache() }
    }
  }
}
