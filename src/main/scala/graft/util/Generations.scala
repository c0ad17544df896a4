package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit protocol of every durable derived artifact that is
  * maintained from a feed of parquet part files ([[graft.operators.ZIndex]]
  * layouts, [[graft.operators.LshPairs]], [[graft.operators.KmvTable]],
  * [[graft.operators.StatsJoin]]'s typed layout):
  *
  *  - a root holds numbered generation dirs `gen-<n>/`; a maintenance
  *    writes its payload into `gen-<latest+1>/` and commits it by
  *    creating `_COMMITTED` — one atomic create. Readers resolve the
  *    highest committed generation, so a crash mid-write leaves the
  *    prior generation intact;
  *  - [[open]] deletes every `gen-*` entry that is not a committed,
  *    numbered generation: crash leftovers and dirs of older naming
  *    schemes alike;
  *  - `consumed` records the feed's file identities (name, length,
  *    mtime — [[identity]]) a generation was built from. A consumed
  *    file no longer listed with the same identity means the feed was
  *    MUTATED (rebuild); surplus listed files are an APPEND delta;
  *  - a commit keeps the generations the caller still references (its
  *    new payload's and the prior one's — in-flight readers of the
  *    prior generation must find every dir it names) plus the prior and
  *    the new generation, and deletes the rest.
  *
  * Everything here is driver-side Hadoop FS IO: no Spark job. Writers
  * of one root serialize on [[locked]]. */
object Generations {

  val Marker = "_COMMITTED"
  private val GenRe = "gen-(\\d+)".r

  /** One part file of a feed, as listed: identity is (name, len, mtime). */
  final case class PartFile(name: String, len: Long, mtime: Long, path: String)

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Part files of a parquet table file or dir, name-sorted — the
    * listing every artifact's staleness test keys on. */
  def parts(spark: SparkSession, path: String): Seq[PartFile] = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    val st = fs.getFileStatus(p)
    val statuses =
      if (st.isFile) Array(st)
      else fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    statuses.toSeq.map(s => PartFile(s.getPath.getName, s.getLen,
      s.getModificationTime, s.getPath.toString)).sortBy(_.name)
  }

  /** The identity line of one part file: the unit `consumed` records. */
  def identity(f: PartFile): String = s"${f.name}\t${f.len}\t${f.mtime}"

  /** A feed's identity stamp: one [[identity]] line per part file. */
  def stamp(feed: Seq[PartFile]): String = feed.map(identity).mkString("\n")

  def stampOf(spark: SparkSession, path: String): String = stamp(parts(spark, path))

  def isCommitted(fs: FileSystem, root: String, gen: Long): Boolean =
    fs.exists(new Path(s"$root/gen-$gen/$Marker"))

  private def committedOf(fs: FileSystem, root: String)
      (stray: Path => Unit): Seq[Long] = {
    val rp = new Path(root)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq.flatMap { s =>
      s.getPath.getName match {
        case GenRe(n) if s.isDirectory && isCommitted(fs, root, n.toLong) =>
          Some(n.toLong)
        case n if n.startsWith("gen-") => stray(s.getPath); None
        case _ => None
      }
    }.sorted
  }

  /** The highest committed generation, read-only. */
  def latestCommitted(fs: FileSystem, root: String): Option[Long] =
    committedOf(fs, root)(_ => ()).lastOption

  /** List `root`'s committed generations and delete every other `gen-*`
    * entry. Call with the root's [[locked]] held. */
  def open(fs: FileSystem, root: String): Root =
    new Root(fs, root, committedOf(fs, root) { p => fs.delete(p, true); () })

  /** How a feed stands against the latest generation's `consumed`. */
  sealed trait Delta
  /** Every consumed file is listed unchanged and nothing else is. */
  case object Unchanged extends Delta
  /** A consumed file vanished or changed identity: rebuild. */
  case object Mutated extends Delta
  /** The listed files not yet consumed — the whole feed when there is
    * no committed generation. */
  final case class Appended(files: Seq[PartFile]) extends Delta

  final class Root private[Generations] (val fs: FileSystem,
      val root: String, val committed: Seq[Long]) {
    def latest: Option[Long] = committed.lastOption
    val next: Long = latest.fold(0L)(_ + 1)
    def dir(gen: Long): String = s"$root/gen-$gen"
    def nextDir: String = dir(next)

    /** A set diff on the driver of the feed's identities against the
      * latest generation's `consumed`. */
    def diff(feed: Seq[PartFile]): Delta = latest match {
      case None => Appended(feed)
      case Some(g) =>
        readLines(fs, s"${dir(g)}/consumed") match {
          case None => Mutated
          case Some(lines) =>
            val consumed = lines.toSet
            val ids = feed.map(f => f -> identity(f))
            if (!consumed.subsetOf(ids.map(_._2).toSet)) Mutated
            else ids.collect { case (f, id) if !consumed(id) => f } match {
              case Seq() => Unchanged
              case fresh => Appended(fresh)
            }
        }
    }

    /** Commit [[next]] (its payload already written): record `feed` as
      * consumed, create the marker, then delete every committed
      * generation outside `keep`, [[latest]] and [[next]]. */
    def commit(feed: Seq[PartFile], keep: Set[Long]): Long = {
      writeLines(fs, s"$nextDir/consumed", feed.map(identity))
      fs.create(new Path(s"$nextDir/$Marker"), false).close()
      val live = keep ++ latest + next
      committed.filterNot(live).foreach(g => fs.delete(new Path(dir(g)), true))
      next
    }
  }

  /** The non-empty lines of a text file — or of every visible file of a
    * dir, in name order, so a Spark-written text dir reads as its part
    * files. None when `path` is missing. */
  def readLines(fs: FileSystem, path: String): Option[Seq[String]] = {
    val p = new Path(path)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .flatMap { s =>
        val in = fs.open(s.getPath)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").split("\n").toSeq
        finally in.close()
      }.filter(_.nonEmpty))
  }

  def writeLines(fs: FileSystem, path: String, lines: Seq[String]): Unit = {
    val out = fs.create(new Path(path), false)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `f` holding `key`'s lock (a root, or a landing path). */
  def locked[T](key: String)(f: => T): T =
    locks.computeIfAbsent(key, _ => new Object).synchronized(f)

  /** Land a marker-addressed parquet `path` once: `write` runs under
    * `lock`'s lock, and only while the parquet `_SUCCESS` marker is
    * missing — a leftover without one is overwritten whole. A committed
    * landing costs one marker probe and no lock, and is never re-landed:
    * that would overwrite part files an already-analyzed frame still
    * references. */
  def landOnce(spark: SparkSession, path: String, lock: String)
      (write: => Unit): String = {
    if (!landed(spark, path)) locked(lock) { if (!landed(spark, path)) write }
    path
  }

  /** [[landOnce]] under the landing path's own lock. */
  def landOnce(spark: SparkSession, path: String)(write: => Unit): String =
    landOnce(spark, path, path)(write)

  /** Whether a [[landOnce]] of `path` committed: one marker probe. */
  def landed(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new Path(s"$path/_SUCCESS"))
}
