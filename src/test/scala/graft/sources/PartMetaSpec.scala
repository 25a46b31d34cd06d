package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import TopicStore.{Msg, PartMeta}

/** The partition record behind the `part-<p>.meta` sidecar: its decode
  * defaults (no file, a legacy `{"count":N,"bytes":B}` meta) and its
  * round trip through append, transactional append and truncation. */
class PartMetaSpec extends SparkSpec {

  private val t0 = 1700000000000000L
  private def msg(i: Int) =
    Msg(null, s"k$i", "eA==", Map.empty, t0 + i, t0 + i, 0, "text/plain")

  private def lineBytes(dir: Path): Seq[Long] =
    Files.readAllLines(dir.resolve("part-0.jsonl")).asScala.toSeq
      .map(_.getBytes(UTF_8).length + 1L)

  /** The record on disk, after checking it re-encodes to the same bytes. */
  private def reread(dir: Path): PartMeta = {
    val m = PartMeta.read(dir, 0)
    assert(PartMeta.encode(m) == Files.readString(dir.resolve("part-0.meta")))
    m
  }

  test("a partition without a meta file decodes to the empty, sorted record") {
    val dir = TopicStore.topicDir(tmpDir("meta-none"), "t")
    assert(PartMeta.read(dir, 0) == PartMeta(count = 0L, bytes = 0L,
      base = 0L, maxPt = Long.MinValue, tsorted = true,
      index = Vector.empty, txn = Map.empty))
    assert(TopicStore.partitionMetaIn(dir, 0) == ((0L, 0L)))
    assert(TopicStore.partitionBaseIn(dir, 0) == 0L)
    assert(TopicStore.readEntries(dir, 0, 0L, 10L).isEmpty)
    assert(TopicStore.seekByTimeIn(dir, 0, t0) == 0L)
  }

  test("a legacy {count, bytes} meta decodes unsorted and unindexed; reads scan") {
    val root = tmpDir("meta-legacy")
    val dir = TopicStore.topicDir(root, "t")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-0.jsonl"), (0 until 10).map(i =>
      TopicStore.encode(msg(i).copy(messageId = s"0:$i:0:0")) + "\n").mkString)
    val bytes = lineBytes(dir).sum
    Files.writeString(dir.resolve("part-0.meta"), s"""{"count":10,"bytes":$bytes}""")
    val legacy = PartMeta.read(dir, 0)
    assert(legacy == PartMeta(count = 10L, bytes = bytes, base = 0L,
      maxPt = Long.MinValue, tsorted = false, index = Vector.empty,
      txn = Map.empty))
    def ids(from: Int, until: Int) = (from until until).map(i => s"0:$i:0:0")
    assert(TopicStore.readEntries(dir, 0, 3L, 6L).map(_.messageId) == ids(3, 6))
    assert(TopicStore.seekByTimeIn(dir, 0, t0 + 7L) == 7L)
    assert(TopicStore.seekByTimeIn(dir, 0, t0 + 100L) == 10L)

    // a truncation keeps it unsorted: the time fields stay absent
    TopicStore.truncateTopic(root, "t", 0, 4L)
    val cut = reread(dir)
    assert(cut == legacy.copy(bytes = lineBytes(dir).sum, base = 4L))
    assert(!Files.readString(dir.resolve("part-0.meta")).contains("maxPt"))
    assert(TopicStore.readEntries(dir, 0, 4L, 6L).map(_.messageId) == ids(4, 6))
    assert(TopicStore.seekByTimeIn(dir, 0, t0 + 7L) == 7L)

    // an append records a high-water but cannot prove the prefix sorted
    TopicStore.append(root, "t", 0, Seq(msg(10)))
    assert(reread(dir) == cut.copy(count = 11L, bytes = lineBytes(dir).sum,
      maxPt = t0 + 10L))
  }

  test("append, txn append and truncation each re-read as the record they wrote") {
    val root = tmpDir("meta-roundtrip")
    val dir = TopicStore.topicDir(root, "t")
    TopicStore.append(root, "t", 0, (0 until 5000).map(msg))
    val appended = reread(dir)
    assert(appended == PartMeta(count = 5000L, bytes = lineBytes(dir).sum,
      base = 0L, maxPt = t0 + 4999L, tsorted = true,
      index = Vector((0L, 0L), (4096L, lineBytes(dir).take(4096).sum)),
      txn = Map.empty))

    TopicStore.append(root, "t", 0, Seq(msg(5000)), Some(("q/0", 7L)))
    val txn = reread(dir)
    assert(txn == appended.copy(count = 5001L, bytes = lineBytes(dir).sum,
      maxPt = t0 + 5000L, txn = Map("q/0" -> 7L)))

    TopicStore.truncateTopic(root, "t", 0, 4000L)
    val truncated = reread(dir)
    assert(truncated == txn.copy(bytes = lineBytes(dir).sum, base = 4000L,
      index = Vector((4096L, lineBytes(dir).take(96).sum))))
    assert(TopicStore.readEntries(dir, 0, 4096L, 4098L).map(_.messageId) ==
      Seq("0:4096:0:0", "0:4097:0:0"))
  }
}
