package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Temp roots under `java.io.tmpdir`, in two scopes. A query makes one
  * root with [[create]]: its topic store, checkpoint (the `.ckpt` child,
  * which `TopicStore.listTopics` skips), landing dirs and stores are its
  * children, and [[GraftSession.release]] deletes it ([[release]]).
  * [[session]] roots outlive queries and are deleted at JVM exit: the
  * `SharedEventsTopic` bases (copied into later queries), `Stage`'s
  * reliable-checkpoint dir and `SparkSpec.tmpDir` (a registry sweep's
  * release must not delete a suite's own dirs). An exit hook deletes the
  * leftovers of both scopes (a crash, a spec that never releases):
  * without it a repeated soak loop fills the host's disk. */
object TempRoots {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val queryRoots, sessionRoots = ArrayBuffer.empty[Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    synchronized(sessionRoots ++ queryRoots).foreach(delete),
    "graft-temp-roots-cleanup"))

  /** A fresh query-scoped root, deleted by the next [[release]]. */
  def create(prefix: String): String = register(prefix, queryRoots)

  /** A fresh session-scoped root, deleted at JVM exit. */
  def session(prefix: String): String = register(prefix, sessionRoots)

  private def register(prefix: String, scope: ArrayBuffer[Path]): String = {
    val p = Files.createTempDirectory(prefix)
    synchronized(scope += p)
    p.toString
  }

  /** Delete every query-scoped root. It runs in `finally` blocks, so it
    * never throws: a root it cannot remove is logged and left to exit. */
  def release(): Unit = {
    val roots = synchronized(try queryRoots.toList finally queryRoots.clear())
    roots.filterNot(delete).foreach { root =>
      log.warn(s"could not delete temp root $root; it is left to JVM exit")
      synchronized(sessionRoots += root)
    }
  }

  /** Delete the tree at `root`, deepest entries first; true iff nothing
    * of it remains. Never throws. */
  def delete(root: Path): Boolean = {
    try {
      // the walk holds a dirfd until closed: a long soak would otherwise
      // hit the fd limit
      val st = Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(p =>
        try Files.delete(p) catch { case NonFatal(_) => () })
      finally st.close()
    } catch { case NonFatal(_) => () } // no root: nothing to delete
    !Files.exists(root)
  }

  /** Copy the tree at `src` into `dst`, replacing files already there. */
  def copy(src: String, dst: String): Unit = {
    val (from, to) = (Paths.get(src), Paths.get(dst))
    val st = Files.walk(from)
    try st.forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }
}
