package graft.core

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one mechanism behind every small metadata document graft keeps
  * on a Hadoop filesystem: watermarks, schema pointers and partial
  * progress ([[graft.sync.StateStore]]), sync-log records, table
  * configs, the sync lease, the parquet cache's entry document, the
  * snapshot store's `CURRENT` pointer and the store-compaction
  * manifest.
  *
  * Replace: the new copy is staged at `.<name>.tmp`, the live copy is
  * renamed aside to `.<name>.old`, the staged copy is renamed in, and
  * only then is the aside copy dropped. Both renames are checked. A
  * read that finds the live path missing falls back to the aside
  * copy, so at every crash point a reader sees the old document or the
  * new one, never neither. The same swap commits both writes of the
  * sync target: `PartitionedSync.writeFull` swaps the whole table
  * root, and `PartitionedSync.swapIn` swaps each partition a merge or
  * a compaction rewrote. Temp and aside names start
  * with `.` and end in `.tmp` / `.old`, so a listing that matches a
  * document suffix skips them.
  *
  * Codec: flat JSON objects, written by [[obj]] and read one field at a
  * time ([[str]], [[num]], [[bool]], [[strs]]). Strings escape `"`, `\`
  * and control characters; the reader also takes the raw control
  * characters that documents written before the escape was shared can
  * hold. That leniency is why the codec is hand-written: json4s and
  * Jackson, both on Spark's classpath, reject raw control characters
  * by default.
  */
object DocFiles {

  private def tmpOf(p: Path) = new Path(p.getParent, s".${p.getName}.tmp")
  private def asideOf(p: Path) = new Path(p.getParent, s".${p.getName}.old")

  /** The whole document at `p` (its aside copy while a swap is
    * interrupted), or None when there is none. The live path is tried
    * again last: a concurrent swap can finish between the first two
    * reads.
    */
  def read(fs: FileSystem, p: Path): Option[String] =
    readOne(fs, p).orElse(readOne(fs, asideOf(p))).orElse(readOne(fs, p))

  private def readOne(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Where a reader finds `p`: the live path, or its aside copy while
    * a swap is interrupted (for readers that cannot fall back
    * themselves, such as a parquet scan, and restore nothing).
    */
  def live(fs: FileSystem, p: Path): Path =
    if (!fs.exists(p) && fs.exists(asideOf(p))) asideOf(p) else p

  /** Whether [[read]] finds a document at `p`. */
  def exists(fs: FileSystem, p: Path): Boolean = fs.exists(p) || fs.exists(asideOf(p))

  /** Replace the document at `p` with `body` (see the object doc). */
  def write(fs: FileSystem, p: Path, body: String): Unit =
    replace(fs, p) { tmp =>
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }

  /** Replace the file or directory at `p` with what `stage` writes to
    * the temp path it is given: park the live copy aside, rename the
    * staged one in, drop the aside copy.
    */
  def replace(fs: FileSystem, p: Path)(stage: Path => Unit): Unit = {
    stage(tmpOf(p))
    replace(fs, p, tmpOf(p))
  }

  /** Replace the file or directory at `p` with the one already staged
    * at `staged`, by the same checked swap.
    */
  def replace(fs: FileSystem, p: Path, staged: Path): Unit = {
    val aside = asideOf(p)
    if (fs.exists(p)) {
      fs.delete(aside, true) // a finished swap's leftover
      rename(fs, p, aside)
    }
    rename(fs, staged, p)
    fs.delete(aside, true)
  }

  /** Put back a live copy that an interrupted swap left aside, for
    * readers that cannot fall back themselves (a parquet scan). True
    * iff a live copy exists afterwards.
    */
  def restore(fs: FileSystem, p: Path): Boolean = {
    if (!fs.exists(p) && fs.exists(asideOf(p))) rename(fs, asideOf(p), p)
    fs.exists(p)
  }

  /** Delete the document at `p` wherever it sits; true iff one existed. */
  def delete(fs: FileSystem, p: Path): Boolean = {
    val live = fs.delete(p, true)
    fs.delete(asideOf(p), true) || live
  }

  /** Names of the documents in `dir` (none when it is missing): an aside
    * copy counts under its live name; temp copies and other hidden
    * files are skipped.
    */
  def names(fs: FileSystem, dir: Path): Seq[String] = {
    val all = try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil }
    all.map(_.getPath.getName).flatMap {
      case n if !n.startsWith(".") => Some(n)
      case n if n.endsWith(".old") => Some(n.drop(1).dropRight(4))
      case _ => None
    }.distinct
  }

  /** Crash debris: a temp copy (also the pre-`.` name `CURRENT.tmp`),
    * or an aside copy whose live document is back in place.
    */
  def isDebris(fs: FileSystem, p: Path): Boolean = {
    val n = p.getName
    n.endsWith(".tmp") || (n.startsWith(".") && n.endsWith(".old") &&
      fs.exists(new Path(p.getParent, n.drop(1).dropRight(4))))
  }

  /** The vacuum grace test: nothing anywhere under `p` was modified
    * after `cutoff` (epoch millis). A directory's own mtime is set at
    * creation and not refreshed by writes landing deeper inside
    * (parquet tasks stream into nested `_temporary` attempt dirs), so a
    * write running longer than the grace window still counts as live.
    */
  def idle(fs: FileSystem, p: Path, cutoff: Long): Boolean = {
    val st = fs.getFileStatus(p)
    st.getModificationTime <= cutoff &&
      (!st.isDirectory || fs.listStatus(p).forall(s => idle(fs, s.getPath, cutoff)))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"rename $from -> $to failed")

  // ---- codec ----------------------------------------------------------

  /** `{"k": v, ...}` in field order. Values: String, Option (None is
    * `null`), numbers and booleans, Seq (an array) and Map (an object,
    * keys sorted).
    */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${quote(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  private def value(v: Any): String = v match {
    case None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1): _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case x => x.toString
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def unquote(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) != '\\' || i + 1 == s.length) { b += s(i); i += 1 }
      else s(i + 1) match {
        case 'u' if i + 6 <= s.length =>
          b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        case e =>
          val k = "bfnrt".indexOf(e)
          b += (if (k >= 0) "\b\f\n\r\t"(k) else e); i += 2
      }
    }
    b.toString
  }

  // possessive: a long string is one regex step per escape, not per char
  private val Str = """"((?:[^"\\]++|\\.)*+)""""

  private def field(json: String, name: String, value: String) =
    s"""(?s)"${Pattern.quote(name)}":\\s*$value""".r.findFirstMatchIn(json)

  /** A string field; None when absent or `null`. */
  def str(json: String, name: String): Option[String] =
    field(json, name, s"(?:null|$Str)").flatMap(m => Option(m.group(1))).map(unquote)

  def num(json: String, name: String): Option[Long] =
    field(json, name, "(-?\\d+)").map(_.group(1).toLong)

  def bool(json: String, name: String): Option[Boolean] =
    field(json, name, "(true|false)").map(_.group(1).toBoolean)

  /** The strings of an array field, or the keys and values (in turn) of
    * an object field.
    */
  def strs(json: String, name: String): Seq[String] =
    field(json, name, s"""[\\[{]((?:$Str|[^"\\]}])*+)""").toSeq.flatMap { m =>
      Str.r.findAllMatchIn(m.group(1)).map(s => unquote(s.group(1)))
    }
}
