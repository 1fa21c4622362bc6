package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // built through the library's GraftSession surface so the suite
    // exercises (and GraftSessionSpec can assert) the recommended confs
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val cleanupDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hookInstalled: Unit =
    sys.addShutdownHook {
      cleanupDirs.forEach { p =>
        try deleteRecursively(p.toFile) catch { case _: Exception => () }
      }
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Create a temp dir swept on JVM exit — suites share one session
    * (no common afterAll), so per-run dirs otherwise accumulate in
    * java.io.tmpdir across `sbt test` invocations.
    */
  def tempDir(prefix: String): String = {
    hookInstalled
    val p = java.nio.file.Files.createTempDirectory(prefix)
    cleanupDirs.add(p)
    p.toString
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** JVM-exit-swept temp dir (see [[SparkTestSession.tempDir]]). */
  def tempDir(prefix: String): String = SparkTestSession.tempDir(prefix)

  /** Number of entries in the session's cache manager. */
  def cacheEntries: Int = org.apache.spark.sql.graftbridge.CacheEntries.count(spark)
}
