package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Operators and sinks tune the session only through
  * `operators.Tuning.scoped`: a `conf.set(` on a caller's session leaks
  * into every query planned on it concurrently, and a hand-made child
  * session bypasses the scoped cache. This scans the sources so a new
  * call site fails here instead of in a concurrency bug. */
class ConfScopingGuardSpec extends AnyFunSuite {

  private val banned = Seq("conf.set(", "newSession()", "cloneSession()")

  test("no conf.set(, newSession() or cloneSession() in operators/ or sinks/ outside Tuning.scala") {
    val root = Seq("src/main/scala/graft", "../src/main/scala/graft")
      .map(Paths.get(_)).find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala/graft not found from test working directory"))
    def sources(dir: Path): Seq[Path] = {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val scanned = Seq("operators", "sinks").flatMap(d => sources(root.resolve(d)))
      .filterNot(_.getFileName.toString == "Tuning.scala")
    assert(scanned.size > 10, s"scanned only ${scanned.size} files")
    val offenders = for {
      f <- scanned
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(offenders.isEmpty, offenders.mkString("scope session tuning with Tuning.scoped:\n", "\n", ""))
  }
}
