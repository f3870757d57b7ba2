package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine tunes a session only through `operators.Tuning.scoped`: a
  * `conf.set(` on a caller's session leaks into every query planned on
  * it concurrently, and a hand-made child session bypasses the scoped
  * cache. This scans every main source except the standalone `tools/`
  * probes and `Tuning.scala` itself, so a new call site fails here
  * instead of in a concurrency bug. Session-wide defaults belong in
  * `GraftSession.tune`'s builder. */
class ConfScopingGuardSpec extends AnyFunSuite {

  private val banned = Seq("conf.set(", "newSession()", "cloneSession()")

  test("no conf.set(, newSession() or cloneSession() in src/main outside tools/ and Tuning.scala") {
    val root = Seq("src/main/scala/graft", "../src/main/scala/graft")
      .map(Paths.get(_)).find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala/graft not found from test working directory"))
    val walk = Files.walk(root)
    val scanned: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val kept = scanned
      .filterNot(_.startsWith(root.resolve("tools")))
      .filterNot(_.getFileName.toString == "Tuning.scala")
    assert(kept.size > 50, s"scanned only ${kept.size} files")
    val offenders = for {
      f <- kept
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(offenders.isEmpty, offenders.mkString("scope session tuning with Tuning.scoped:\n", "\n", ""))
  }
}
