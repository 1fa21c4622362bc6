package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source rule: the library pins frames in Spark's cache only through
  * `graft.core.Tables.persisted`, so the one scope cannot grow back
  * into hand-rolled persist/unpersist pairs.
  */
class PinRuleSpec extends AnyFunSuite {

  private val Pin = """\.(persist|cache)\(|\.unpersist\(""".r

  /** The one allowed call outside the scope: `QueryCache` frees the
    * blocks of a `localCheckpoint` entry through its RDD.
    */
  private val Allowed = Set(
    "graft/cache/QueryCache.scala" -> "case r: LogicalRDD => r.rdd.unpersist(blocking = false)")

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  test("persist, cache and unpersist appear in src/main only in Tables.persisted") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val hits = for {
      f <- sources(root)
      rel = root.toPath.relativize(f.toPath).toString
      if rel != "graft/core/Tables.scala"
      (line, n) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if Pin.findFirstIn(line).nonEmpty && !Allowed((rel, line.trim))
    } yield s"$rel:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
    // the exception still names a live line
    Allowed.foreach { case (rel, line) =>
      assert(scala.io.Source.fromFile(new File(root, rel), "UTF-8").getLines().exists(_.trim == line),
        s"$rel no longer holds: $line")
    }
  }
}
