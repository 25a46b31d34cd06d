package graft.operators

import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.SparkSpec

/** Real-codec video gate (round-8 mirror of ImageioDecodeSpec /
  * WavDecodeSpec, closing the last stub codec): AVIs are assembled
  * programmatically — a spec-correct RIFF container (hdrl LIST, movi
  * LIST of '00dc' chunks with even padding, idx1) whose frames are
  * JDK-encoded JPEGs — then pushed through
  * [[MultimodalOps.aviMjpegDecode]] and the typed mapPartitions seam.
  * Frames are UNIFORM-gray, so JPEG's DCT quantization is lossless on
  * them (a constant block has only a DC coefficient) and the expected
  * Σ luma² per frame is an exact integer — a chunk-walk bug, padding
  * error, or luma-weight drift all fail on exact arithmetic, the
  * stub contract's shape (one energy per frame). */
class AviDecodeSpec extends SparkSpec {

  private def jpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
    id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
  }

  private def list(listType: String, bodies: Array[Byte]): Array[Byte] =
    chunk("LIST", listType.getBytes("US-ASCII") ++ bodies)

  /** Minimal spec-correct MJPEG AVI: RIFF('AVI ') { LIST hdrl { avih },
    * LIST movi { 00dc… }, idx1 }. */
  private def avi(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    val avih = chunk("avih", le32(33366) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ Array.fill[Byte](16)(0))
    val hdrl = list("hdrl", avih)
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val idx1 = chunk("idx1", Array.empty)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi ++ idx1
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  // BT.601 integer luma of a uniform gray g is g itself
  private def energy(w: Int, h: Int, gray: Int): Long =
    w.toLong * h * gray.toLong * gray

  test("RIFF walk + JPEG decode: codec dims and exact per-frame energies") {
    val grays = Seq(17, 200, 99)
    val d = MultimodalOps.aviMjpegDecode(MultimodalOps.VideoRow(
      5L, avi(grays.map(g => jpeg(16, 8, g)), 16, 8)))
    assert(d.width == 16 && d.height == 8 && d.n_frames == 3)
    assert(d.frame_energies.toSeq == grays.map(g => energy(16, 8, g)))
  }

  test("odd-size JPEG chunks: even padding never shifts the walk") {
    // force odd body lengths by trying gray values until one encodes
    // odd; if the encoder always emits even, pad logic is still
    // exercised by the containing movi LIST
    val gs = (30 to 80).map(g => jpeg(11, 7, g))
    val odd = gs.filter(_.length % 2 == 1)
    val frames = (if (odd.size >= 2) odd.take(2) else gs.take(2)) :+ jpeg(11, 7, 250)
    val d = MultimodalOps.aviMjpegDecode(MultimodalOps.VideoRow(
      6L, avi(frames, 11, 7)))
    assert(d.n_frames == 3)
    assert(d.frame_energies.last == energy(11, 7, 250))
  }

  test("non-AVI bytes and frame-less AVIs fail loudly, never fake features") {
    intercept[Exception] {
      MultimodalOps.aviMjpegDecode(MultimodalOps.VideoRow(
        9L, Array.fill[Byte](64)(0x41)))
    }
    intercept[Exception] { // well-formed container, zero frames
      MultimodalOps.aviMjpegDecode(MultimodalOps.VideoRow(
        10L, avi(Seq.empty, 8, 8)))
    }
    intercept[Exception] { // mid-stream dimension change
      MultimodalOps.aviMjpegDecode(MultimodalOps.VideoRow(
        11L, avi(Seq(jpeg(8, 8, 40), jpeg(16, 8, 40)), 8, 8)))
    }
  }

  test("the typed mapPartitions seam decodes a DataFrame of real AVIs") {
    import spark.implicits._
    val rows = (0L until 5L).map { id =>
      val frames = (0 to id.toInt).map(f => jpeg(12, 12, 20 + 40 * f))
      MultimodalOps.VideoRow(id, avi(frames, 12, 12))
    }
    val decoded = rows.toDF().as[MultimodalOps.VideoRow]
      .mapPartitions(_.map(MultimodalOps.aviMjpegDecode))
      .collect().sortBy(_.video_id)
    assert(decoded.length == 5)
    decoded.foreach { d =>
      assert(d.width == 12 && d.height == 12)
      assert(d.n_frames == d.video_id + 1)
      assert(d.frame_energies.toSeq ==
        (0 to d.video_id.toInt).map(f => energy(12, 12, 20 + 40 * f)))
    }
  }
}
