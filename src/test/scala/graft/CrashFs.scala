package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.{SparkContext, TaskContext}

/** The local filesystem under the `crashfs` scheme, with one injected
  * fault. Every store derives its filesystem from the path it is given,
  * so pointing a store at `crashfs:///<dir>` puts its writes through
  * this class, and a plain `<dir>` reads what they left.
  *
  * Only mutating calls (`create`, `rename`, `delete`) made for the
  * call that armed the fault are counted: the steps of a write outside
  * Spark tasks, on the arming thread or on a Spark thread it handed
  * work to (an adaptive query commits a write from its own result-stage
  * thread, which Spark gives the caller's local properties). Spark
  * task threads writing part files are not counted, nor are the
  * output committer's steps (paths under `_temporary`, the `_SUCCESS`
  * marker). The start of a Spark write job does count, once: the
  * committer's `mkdirs` of `<out>/_temporary/<attempt>`, charged to
  * `<out>`. A fault there is a process that died after every earlier
  * step and before the job committed a file, which is how a write that
  * clears its live output first (`mode("overwrite")`) shows up as a
  * missing table. Without it the job's own steps are invisible, and
  * rightly so for graft's writers, which stage a dataset at a path no
  * reader follows until a later, counted step points at it.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = CrashFs.Uri
  override def getScheme: String = CrashFs.Scheme

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): OutputStream = {
    CrashFs.step(f, isRename = false)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean =
    CrashFs.step(src, isRename = true) && super.rename(src, dst)

  override def mkdirs(f: Path): Boolean = mkdirs(f, FsPermission.getDirDefault)

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    if (CrashFs.jobSetup(f)) CrashFs.step(f.getParent.getParent, isRename = false)
    super.mkdirs(f, permission)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step(p, isRename = false)
    super.delete(p, recursive)
  }
}

object CrashFs {
  val Scheme = "crashfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  sealed trait Fault
  /** The k-th mutating call throws, and so does every later one: the
    * process died there.
    */
  case object Crash extends Fault
  /** The k-th rename returns false without renaming; later calls work. */
  case object FalseRename extends Fault

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** `dir` (an absolute local path) under the `crashfs` scheme. */
  def path(dir: String): String = s"$Scheme://$dir"

  private final class Armed(val fault: Fault, val k: Int) {
    var calls = 0
    @volatile var fired = false
  }
  /** Armed points by id; the id travels as a SparkContext local property. */
  private val points = new ConcurrentHashMap[String, Armed]
  private val PointKey = "graft.crashfs.point"

  /** Runs `body` with `fault` armed at call `k` for this thread. Returns
    * (fired, threw): whether the fault was injected, and whether `body`
    * then threw. An exception with no fault injected is re-thrown.
    */
  def inject(fault: Fault, k: Int)(body: => Unit): (Boolean, Boolean) = {
    val a = new Armed(fault, k)
    val id = UUID.randomUUID().toString
    val sc = SparkContext.getOrCreate()
    points.put(id, a)
    sc.setLocalProperty(PointKey, id)
    val threw =
      try { body; false }
      catch { case _: Exception if a.fired => true }
      finally { sc.setLocalProperty(PointKey, null); points.remove(id) }
    (a.fired, threw)
  }

  private def armedHere: Option[Armed] =
    if (TaskContext.get() != null) None
    else Option(SparkContext.getOrCreate().getLocalProperty(PointKey))
      .flatMap(id => Option(points.get(id)))

  private def jobSetup(p: Path): Boolean =
    p.getParent != null && p.getParent.getName == "_temporary" && p.getName.forall(_.isDigit)

  private def committerStep(p: Path): Boolean =
    p.getName == "_SUCCESS" || p.toUri.getPath.contains("/_temporary")

  private def step(p: Path, isRename: Boolean): Boolean = armedHere match {
    case None => true
    case Some(_) if committerStep(p) => true
    case Some(a) => a.synchronized(a.fault match {
      case Crash =>
        a.calls += 1
        if (a.calls >= a.k) {
          a.fired = true
          throw new IOException(s"injected crash at mutating call ${a.k}")
        }
        true
      case FalseRename =>
        if (isRename) a.calls += 1
        val fail = isRename && a.calls == a.k
        if (fail) a.fired = true
        !fail
    })
  }
}
