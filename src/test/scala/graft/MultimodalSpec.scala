package graft

import graft.ops.Multimodal
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("meta extraction: deterministic, one row per media, kinds cycle") {
    import spark.implicits._
    val meta = Multimodal.extractMeta(Multimodal.mediaTable(docs)).collect()
    assert(meta.length == 500)
    meta.foreach { m =>
      assert(Seq("image", "audio", "video").contains(m.kind))
      assert(m.kind == Seq("image", "audio", "video")((m.doc_id % 3).toInt))
      if (m.kind == "image") {
        // PARSED from the PNG/JPEG header bytes ≡ the generator formula
        val (w, h) = Multimodal.imageDims(m.doc_id)
        assert((m.width, m.height) == ((w, h)),
          s"doc ${m.doc_id}: parsed ${(m.width, m.height)} vs formula ${(w, h)}")
      } else if (m.kind == "video") {
        // PARSED from the MP4 mvhd/tkhd/stts boxes ≡ the generator formulas
        val (w, h, frames) = Multimodal.videoParams(m.doc_id)
        assert((m.width, m.height, m.frames) == ((w, h, frames)),
          s"doc ${m.doc_id}: parsed ${(m.width, m.height, m.frames)} vs formula ${(w, h, frames)}")
        assert(m.duration_ms == frames * 50) // 20 fps exactly
      } else assert(m.width == 0 && m.height == 0)
      if (m.kind == "audio") {
        // PARSED from the WAV RIFF/fmt chunks ≡ the generator formula
        val (rate, _) = Multimodal.audioParams(m.doc_id)
        assert(m.sample_rate == rate,
          s"doc ${m.doc_id}: parsed rate ${m.sample_rate} vs formula $rate")
        assert(m.duration_ms >= 0)
      } else assert(m.sample_rate == 0 && (m.kind == "video" || m.duration_ms == 0))
      assert(m.kind != "video" || m.frames >= 1)
    }
    // deterministic across runs
    val again = Multimodal.extractMeta(Multimodal.mediaTable(docs)).collect()
    assert(meta.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
  }

  test("image header parsers: PNG IHDR and JPEG SOF round-trip; garbage → None") {
    val body = "entropy-ish payload bytes".getBytes("UTF-8")
    val png = Multimodal.pngBytes(640, 480, body)
    assert(png.length == 57 + body.length)
    assert(Multimodal.parsePng(png).contains((640, 480)))
    assert(Multimodal.parseImageMeta(png).contains((640, 480)))
    val jpg = Multimodal.jpegBytes(1920, 1080, body)
    assert(jpg.length == 17 + body.length)
    assert(Multimodal.parseJpeg(jpg).contains((1920, 1080)))
    assert(Multimodal.parseImageMeta(jpg).contains((1920, 1080)))
    // cross-sniff: a JPEG is not a PNG and vice versa
    assert(Multimodal.parsePng(jpg).isEmpty)
    assert(Multimodal.parseJpeg(png).isEmpty)
    // garbage, truncation, empty
    assert(Multimodal.parseImageMeta(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseImageMeta("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseImageMeta(png.take(10)).isEmpty)
    // truncated tail of 0xFF fill bytes must return None, not throw
    // (the fill-skip loop can advance past the outer bound — r4 review)
    assert(Multimodal.parseJpeg(
      Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xE0).map(_.toByte)).isEmpty)
    assert(Multimodal.parseJpeg(jpg.take(5)).isEmpty)
    // standalone markers (TEM 0x01, RST0-7) carry NO length segment — the
    // walk must step over them instead of reading garbage lengths
    // (ADVICE r4); here TEM's next two bytes would parse as length 0xFFD9
    val tem = Array(0xFF, 0xD8, 0xFF, 0x01).map(_.toByte) ++ jpg.drop(2)
    assert(Multimodal.parseJpeg(tem).contains((1920, 1080)))
    val rst = Array(0xFF, 0xD8, 0xFF, 0xD0, 0xFF, 0xD7).map(_.toByte) ++ jpg.drop(2)
    assert(Multimodal.parseJpeg(rst).contains((1920, 1080)))
    // the PNG chunk CRCs are real (java.util.zip.CRC32 over type+data)
    val crc = new java.util.zip.CRC32()
    crc.update(png, 12, 4 + 13) // IHDR type + data
    val stored = java.nio.ByteBuffer.wrap(png, 29, 4).getInt
    assert(stored == crc.getValue.toInt)
  }

  test("WAV header parser: RIFF/fmt round-trip, duration arithmetic, garbage → None") {
    val body = new Array[Byte](32000) // 1 s at 16 kHz mono 16-bit
    val wav = Multimodal.wavBytes(16000, 1, body)
    assert(wav.length == 44 + body.length)
    assert(Multimodal.parseWav(wav).contains((1, 16000, 1000)))
    // stereo halves the duration for the same byte count
    assert(Multimodal.parseWav(Multimodal.wavBytes(16000, 2, body)).contains((2, 16000, 500)))
    // truncated data chunk: duration reflects the bytes actually present
    val cut = Multimodal.wavBytes(16000, 1, body).take(44 + 16000)
    assert(Multimodal.parseWav(cut).contains((1, 16000, 500)))
    assert(Multimodal.parseWav("RIFFnope".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseWav(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseWav(Multimodal.pngBytes(4, 4, body)).isEmpty)
  }

  test("MP4 box-walk parser: round-trip, two-entry stts summation, garbage → None") {
    val body = "mdat payload stand-in".getBytes("UTF-8")
    val mp4 = Multimodal.mp4Bytes(640, 360, 123, body)
    assert(mp4.length == 332 + body.length) // the oracle's n_bytes formula
    assert(Multimodal.parseMp4(mp4).contains((640, 360, 123, 123 * 50)))
    // stts frame count is SUMMED over entries (generator always emits 2)
    assert(Multimodal.parseMp4(Multimodal.mp4Bytes(64, 64, 2, Array.empty))
      .contains((64, 64, 2, 100)))
    // garbage, truncation, wrong container
    assert(Multimodal.parseMp4(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseMp4("not an mp4 either...".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseMp4(mp4.take(40)).isEmpty) // ftyp only, no moov
    assert(Multimodal.parseMp4(Multimodal.wavBytes(8000, 1, body)).isEmpty)
    // a hostile size-0 box stops the walk instead of looping
    val hostile = mp4.clone()
    java.nio.ByteBuffer.wrap(hostile).putInt(20, 0) // moov size := 0
    assert(Multimodal.parseMp4(hostile).isEmpty)
  }

  test("MP4 version-1 boxes: 64-bit mvhd/tkhd layouts parse (modern-muxer default)") {
    val body = "payload".getBytes("UTF-8")
    val orig = Multimodal.mp4Bytes(640, 360, 77, body)
    val videoTrakContent = orig.slice(144, 324) // tkhd..mdia inside the synth trak
    val mdat = orig.drop(324)
    // v1 mvhd: 64-bit ctime/mtime/duration, timescale 600, duration 77*30
    val mvhd1 = java.nio.ByteBuffer.allocate(112)
    mvhd1.putInt(0x01000000)           // version 1
    mvhd1.putLong(0L); mvhd1.putLong(0L)
    mvhd1.putInt(600); mvhd1.putLong(77L * 30)
    // (rate/volume/matrix tail not read by the parser)
    // v1 tkhd: 64-bit times/duration shift width/height to content +88/+92
    val tkhd1 = java.nio.ByteBuffer.allocate(96)
    tkhd1.putInt(0x01000007)
    tkhd1.putLong(0L); tkhd1.putLong(0L)
    tkhd1.putInt(1); tkhd1.putInt(0); tkhd1.putLong(77L * 30)
    tkhd1.position(tkhd1.position() + 8 + 2 + 2 + 2 + 2 + 36) // reserved..matrix
    tkhd1.putInt(640 << 16); tkhd1.putInt(360 << 16)
    val origStts = orig.slice(324 - 32, 324) // the synth stts box (32 bytes)
    val trak1 = Multimodal.mp4Box("trak",
      Multimodal.mp4Box("tkhd", tkhd1.array()) ++
        Multimodal.mp4Box("mdia", Multimodal.mp4Box("minf",
          Multimodal.mp4Box("stbl", origStts))))
    val v1 = orig.slice(0, 20) ++
      Multimodal.mp4Box("moov", Multimodal.mp4Box("mvhd", mvhd1.array()) ++ trak1) ++ mdat
    assert(Multimodal.parseMp4(v1).contains((640, 360, 77, 77 * 50)))
    assert(videoTrakContent.nonEmpty) // slice sanity for the synth layout
  }

  test("MP4 multi-track: audio trak's 0x0 tkhd and sample-count stts never clobber video") {
    // the normal real-world layout is video + audio traks; the parser
    // must adopt the FIRST trak with visual dims, not the last trak seen
    val body = "payload".getBytes("UTF-8")
    val orig = Multimodal.mp4Bytes(640, 360, 77, body)
    val mvhdBox = orig.slice(28, 28 + 108)
    val videoTrak = orig.slice(136, 324) // trak box inside the synth moov
    val mdat = orig.drop(324)
    // audio-like trak: tkhd all-zero (0x0 dims), stts with one 48000-sample entry
    val audioStts = java.nio.ByteBuffer.allocate(16)
    audioStts.putInt(0); audioStts.putInt(1); audioStts.putInt(48000); audioStts.putInt(1)
    val audioTrak = Multimodal.mp4Box("trak",
      Multimodal.mp4Box("tkhd", new Array[Byte](84)) ++
        Multimodal.mp4Box("mdia", Multimodal.mp4Box("minf",
          Multimodal.mp4Box("stbl", Multimodal.mp4Box("stts", audioStts.array())))))
    // audio trak FIRST — the hostile ordering for a last-wins parser
    val multi = orig.slice(0, 20) ++
      Multimodal.mp4Box("moov", mvhdBox ++ audioTrak ++ videoTrak) ++ mdat
    assert(Multimodal.parseMp4(multi).contains((640, 360, 77, 77 * 50)))
    // video first, audio second — also stable
    val multi2 = orig.slice(0, 20) ++
      Multimodal.mp4Box("moov", mvhdBox ++ videoTrak ++ audioTrak) ++ mdat
    assert(Multimodal.parseMp4(multi2).contains((640, 360, 77, 77 * 50)))
    // a file with ONLY dim-less traks stays None (no visual track)
    val audioOnly = orig.slice(0, 20) ++
      Multimodal.mp4Box("moov", mvhdBox ++ audioTrak) ++ mdat
    assert(Multimodal.parseMp4(audioOnly).isEmpty)
    // a dims-bearing but stts-less (damaged/preview) trak must not mask
    // a complete video trak that follows it (ADVICE r5): before the fix
    // the first trak's dims were adopted with frames=-1 → whole parse None
    val tkhdOnly = orig.slice(144, 144 + 92) // the synth tkhd box, no stts
    val brokenTrak = Multimodal.mp4Box("trak", tkhdOnly)
    val brokenFirst = orig.slice(0, 20) ++
      Multimodal.mp4Box("moov", mvhdBox ++ brokenTrak ++ videoTrak) ++ mdat
    assert(Multimodal.parseMp4(brokenFirst).contains((640, 360, 77, 77 * 50)))
    // a file with ONLY the broken trak still parses to None
    val brokenOnly = orig.slice(0, 20) ++
      Multimodal.mp4Box("moov", mvhdBox ++ brokenTrak) ++ mdat
    assert(Multimodal.parseMp4(brokenOnly).isEmpty)
  }

  test("media parsers never throw: random bytes, truncations, bit flips") {
    val rnd = new scala.util.Random(42)
    (0 until 3000).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(256))
      rnd.nextBytes(b)
      Multimodal.parsePng(b); Multimodal.parseJpeg(b)
      Multimodal.parseWav(b); Multimodal.parseMp4(b)
      Multimodal.parseImageMeta(b)
    }
    val body = Array.fill(120)(0x41.toByte)
    val valid = Seq(
      Multimodal.mp4Bytes(64, 64, 10, body),
      Multimodal.wavBytes(8000, 1, body),
      Multimodal.pngBytes(32, 32, body),
      Multimodal.jpegBytes(32, 32, body))
    def parseAll(b: Array[Byte]): Unit = {
      Multimodal.parsePng(b); Multimodal.parseJpeg(b)
      Multimodal.parseWav(b); Multimodal.parseMp4(b)
    }
    // every truncation point of every valid payload
    valid.foreach(v => (0 to v.length by 3).foreach(cut => parseAll(v.take(cut))))
    // single-bit corruption across the headers
    valid.foreach { v =>
      (0 until math.min(v.length, 96)).foreach { pos =>
        val m = v.clone(); m(pos) = (m(pos) ^ 0x80).toByte; parseAll(m)
      }
    }
  }

  test("frame-sample plan fans out via explode, stride respected") {
    import spark.implicits._
    val meta = Multimodal.extractMeta(Multimodal.mediaTable(docs))
    val plan = Multimodal.frameSamplePlan(meta, stride = 30)
      .as[(Long, Long)].collect()
    assert(plan.nonEmpty)
    plan.groupBy(_._1).foreach { case (_, rows) =>
      val idxs = rows.map(_._2).sorted
      assert(idxs.head == 0)
      idxs.sliding(2).filter(_.length == 2).foreach(p => assert(p(1) - p(0) == 30))
    }
  }
}
