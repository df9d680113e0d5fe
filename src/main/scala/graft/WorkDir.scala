package graft

import java.io.File
import org.apache.spark.sql.SparkSession

/** The engine's one owner of local staging dirs: every query, operator
  * harness and tool that needs scratch space on the driver's disk
  * stages under `java.io.tmpdir/graft_<name>_<tag>`.
  *
  *  - [[path]] builds the name. The tag is the session's applicationId
  *    (plus a caller key where one session stages per input dir), so
  *    CONCURRENT processes never collide.
  *  - [[fresh]] also wipes the dir on entry, so reruns in one session
  *    never accumulate.
  *  - [[removeAtExit]] deletes a session's own dirs when its JVM
  *    exits, so a finished run leaves nothing behind.
  *  - [[reap]] reclaims what neither can: a killed session's dirs,
  *    which no later session's entry wipe will ever touch because its
  *    tag differs. Most leave KB of blobs, but q_stream_profile_inc
  *    stages a near-full copy of the filtered events, so without the
  *    reaper long-lived boxes accumulate data-sized garbage. */
object WorkDir {
  private val Prefix = "graft_"

  /** A dir is stale when neither it nor any direct child was touched
    * for this long. Live runs write children continuously (bench
    * sweeps ~10 min, a full ScaleBench ≤ 50 min), so the age gate
    * cannot catch a concurrent process's live state. */
  val StaleAfterMs: Long = 3L * 3600 * 1000

  private def tmpRoot: File = new File(System.getProperty("java.io.tmpdir"))

  /** The session's applicationId with every non-alphanumeric replaced,
    * safe in a path and in a table name. */
  def tag(s: SparkSession): String =
    s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")

  /** [[tag]] plus a hash of `dir`, for stagings memoized per (session,
    * input dir). */
  def tag(s: SparkSession, dir: String): String =
    s"${tag(s)}_${Integer.toHexString(dir.hashCode)}"

  /** `<tmpdir>/graft_<name>_<tag>`; the caller owns its contents. */
  def path(name: String, tag: String): String =
    new File(tmpRoot, s"$Prefix${name}_$tag").toString

  /** [[path]] tagged by the session's applicationId. */
  def path(s: SparkSession, name: String): String = path(name, tag(s))

  /** [[path]] for this session, deleted first: the caller always starts
    * from an empty (absent) dir. */
  def fresh(s: SparkSession, name: String): String = wipe(s, path(s, name))

  /** Recursively delete `dir` (a no-op when absent); returns `dir`. */
  def wipe(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  /** Delete every stale `graft_*` dir directly under `root` (see
    * [[StaleAfterMs]]). Best effort: a dir that cannot be removed is
    * left for the next sweep. */
  def reap(root: File): Unit = {
    val cutoff = System.currentTimeMillis() - StaleAfterMs
    def lastTouched(d: File): Long =
      (d.lastModified() +: children(d).map(_.lastModified())).max
    removeWhere(root, lastTouched(_) < cutoff)
  }

  /** Delete every `graft_*` dir directly under `root` whose name
    * carries `tag`: one session's own staging dirs. */
  private[graft] def removeTagged(root: File, tag: String): Unit =
    removeWhere(root, _.getName.contains(tag))

  private def children(d: File): Seq[File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)

  /** Best effort: a dir that cannot be removed is left behind. */
  private def removeWhere(root: File, p: File => Boolean): Unit = {
    def rm(x: File): Unit = { children(x).foreach(rm); x.delete(); () }
    children(root)
      .filter(f => f.isDirectory && f.getName.startsWith(Prefix) && p(f))
      .foreach(f => try rm(f) catch { case _: Throwable => () })
  }

  private val exitTags = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()

  /** Registers, once per session, a JVM-exit hook that runs
    * [[removeTagged]] over `java.io.tmpdir` for the session's [[tag]]. */
  private[graft] def removeAtExit(s: SparkSession): Unit = {
    val t = tag(s)
    if (exitTags.add(t)) { sys.addShutdownHook(removeTagged(tmpRoot, t)); () }
  }

  @volatile private var reaped = false

  /** [[reap]] over `java.io.tmpdir`, once per JVM (at session start). */
  private[graft] def reapOnce(): Unit = if (!reaped) {
    reaped = true
    reap(tmpRoot)
  }
}
