package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.SparkSpec

/** Real-codec audio gate (round-7 mirror of ImageioDecodeSpec): WAV
  * bytes are produced by the JDK's OWN encoder — a spec-correct RIFF
  * container, not a hand-rolled header — then pushed through
  * [[MultimodalOps.wavDecode]] and the typed mapPartitions seam. The
  * expected energies come straight from the source samples, so a
  * header-parse bug, an endianness flip, or a channel-mix error all
  * fail on exact integers. */
class WavDecodeSpec extends SparkSpec {

  private def wavBytes(samples: Array[Short], channels: Int,
      sampleRate: Float = 8000f, bigEndian: Boolean = false): Array[Byte] = {
    // interleaved 16-bit signed PCM frames
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      if (bigEndian) {
        raw(2 * i) = ((s >> 8) & 0xff).toByte
        raw(2 * i + 1) = (s & 0xff).toByte
      } else {
        raw(2 * i) = (s & 0xff).toByte
        raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      i += 1
    }
    val fmt = new AudioFormat(
      AudioFormat.Encoding.PCM_SIGNED, sampleRate, 16, channels,
      2 * channels, sampleRate, bigEndian)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(raw), fmt,
        samples.length / channels),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private def expectedEnergies(mono: Array[Int]): Array[Long] =
    mono.grouped(MultimodalOps.audioFrameLen)
      .map(_.map(s => s.toLong * s).sum).toArray

  test("mono 16-bit: codec metadata and exact per-frame energies") {
    // 40 samples = 2 full frames + one 8-sample tail (the stub's
    // short-tail contract)
    val samples = Array.tabulate(40)(i => ((i - 20) * 613).toShort)
    val d = MultimodalOps.wavDecode(
      MultimodalOps.AudioRow(7L, wavBytes(samples, channels = 1)))
    assert(d.sample_rate == 8000 && d.n_channels == 1 &&
      d.bits_per_sample == 16 && d.n_samples == 40)
    assert(d.frame_energies.toSeq ==
      expectedEnergies(samples.map(_.toInt)).toSeq)
  }

  test("stereo mixes to the integer mono average before framing") {
    val left = Array.tabulate(32)(i => (i * 997 - 11111).toShort)
    val right = Array.tabulate(32)(i => (i * -601 + 4321).toShort)
    val interleaved = new Array[Short](64)
    (0 until 32).foreach { i =>
      interleaved(2 * i) = left(i); interleaved(2 * i + 1) = right(i)
    }
    val d = MultimodalOps.wavDecode(
      MultimodalOps.AudioRow(1L, wavBytes(interleaved, channels = 2)))
    assert(d.n_channels == 2 && d.n_samples == 32)
    val mono = (0 until 32).map(i =>
      ((left(i).toLong + right(i).toLong) / 2).toInt).toArray
    assert(d.frame_energies.toSeq == expectedEnergies(mono).toSeq)
  }

  test("big-endian WAV decodes to the same energies as little-endian") {
    val samples = Array.tabulate(48)(i => ((i * 311) - 7000).toShort)
    val le = MultimodalOps.wavDecode(MultimodalOps.AudioRow(
      2L, wavBytes(samples, 1, bigEndian = false)))
    val be = MultimodalOps.wavDecode(MultimodalOps.AudioRow(
      3L, wavBytes(samples, 1, bigEndian = true)))
    assert(le.frame_energies.toSeq == be.frame_energies.toSeq)
  }

  test("non-audio bytes fail loudly, never fake features") {
    intercept[Exception] {
      MultimodalOps.wavDecode(MultimodalOps.AudioRow(
        9L, Array.fill[Byte](64)(0x41)))
    }
  }

  test("the typed mapPartitions seam decodes a DataFrame of real WAVs") {
    import spark.implicits._
    val rows = (0L until 6L).map { id =>
      val samples = Array.tabulate(40 + id.toInt * 16)(i =>
        ((i * 131 + id * 7) % 30000 - 15000).toShort)
      MultimodalOps.AudioRow(id, wavBytes(samples, channels = 1))
    }
    val decoded = MultimodalOps
      .decodeAudioReal(spark, rows.toDF())
      .collect().sortBy(_.audio_id)
    assert(decoded.length == 6)
    decoded.foreach { d =>
      assert(d.sample_rate == 8000 && d.n_samples == 40 + d.audio_id * 16)
      // energy vector length = ceil(n_samples / frameLen)
      assert(d.frame_energies.length ==
        ((d.n_samples + 15) / 16).toInt)
    }
  }
}
