package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Deterministic epoch-replay forcing for delivery-semantics gates.
  *
  * Structured Streaming's recovery contract: on (re)start, if the
  * offsets log contains batch N but the commits log does not, batch N
  * re-executes with the SAME epochId over the SAME checkpointed offset
  * range — exactly what happens after a crash between the sink's write
  * and the checkpoint's commit. Deleting the newest commit marker forces
  * that scenario on demand, which is how the exactly-once producer gates
  * (m13/m14, SinkExactlyOnceSpec) prove a replayed epoch does not
  * duplicate in the topic store.
  */
object StreamReplay {

  /** The newest batch id in the checkpoint's commit log, or None when no
    * epoch has committed yet (no `commits/` directory, or an empty one).
    * Only all-digit names are batch ids; Hadoop's `.N.crc` sidecars and
    * temp files are skipped. */
  def lastCommitted(ckpt: String): Option[Long] = {
    val commits = Paths.get(ckpt, "commits")
    if (!Files.isDirectory(commits)) None
    else {
      val st = Files.list(commits)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(c => c >= '0' && c <= '9'))
        .map(_.toLong).maxOption
      finally st.close()
    }
  }

  /** Delete the checkpoint's most recent commit marker; the next restart
    * of the same checkpoint replays that micro-batch. Returns the epoch
    * id that will replay; throws when no epoch has committed. */
  def forceLastEpochReplay(ckpt: String): Long = {
    val last = lastCommitted(ckpt).getOrElse(throw new IllegalStateException(
      s"no committed epoch to replay under $ckpt/commits"))
    val commits = Paths.get(ckpt, "commits")
    Files.delete(commits.resolve(last.toString))
    // Hadoop's checksummed local FS keeps a `.N.crc` sidecar; left
    // behind it makes the replayed commit's rename look like a
    // concurrent writer (SparkConcurrentModificationException)
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    last
  }
}
