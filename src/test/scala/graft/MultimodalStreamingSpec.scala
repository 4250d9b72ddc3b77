package graft

import graft.operators.Multimodal
import graft.streaming.GraftStreaming
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("multimodal: payload + meta + partitioned decode plumbing") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    val mm = Multimodal.withImagePayload(docs, "text")
    assert(mm.schema("content").dataType.typeName == "binary")
    val metaFields = mm.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => (f.name, f.dataType)).toSeq
    assert(metaFields == Multimodal.imageMetaSchema.fields
      .map(f => (f.name, f.dataType)).toSeq)
    val decoded = Multimodal.decodeImages(mm.repartition(4), "content", dim = 16)
    val rows = decoded.select("doc_id", "features").collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getSeq[Float](1).length == 16))
    // determinism: same input → same features
    val again = Multimodal.decodeImages(mm.repartition(2), "content", dim = 16)
      .select("doc_id", "features").collect()
    assert(rows.sortBy(_.getLong(0)).map(_.getSeq[Float](1)).toSeq ==
      again.sortBy(_.getLong(0)).map(_.getSeq[Float](1)).toSeq)
  }

  test("multimodal: ImageCodec parses real PPM and BMP headers") {
    // hand-built binary PPM: P6, comment, 640x480, maxval 255, 6 raster bytes
    val ppm = ("P6\n# a comment\n640 480\n255\n").getBytes("UTF-8") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    assert(Multimodal.ImageCodec.probe(ppm) == (640, 480, 3, "ppm"))
    // features pool exactly the raster bytes (normalized /255), not the header
    val f = Multimodal.ImageCodec.features(ppm, 3)
    assert(f.length == 3)
    assert(math.abs(f(0) - 15.0 / 255.0) < 1e-6) // mean(10,20)
    assert(math.abs(f(2) - 55.0 / 255.0) < 1e-6) // mean(50,60)
    // hand-built BMP header: 'BM', raster offset 54 @10, w=320 @18,
    // h=-240 @22 (top-down → abs), bpp=24 @28
    val bmp = new Array[Byte](54)
    bmp(0) = 'B'.toByte; bmp(1) = 'M'.toByte
    def putLe32(o: Int, v: Int): Unit = (0 until 4).foreach(k => bmp(o + k) = ((v >> (8 * k)) & 0xFF).toByte)
    putLe32(10, 54); putLe32(18, 320); putLe32(22, -240)
    bmp(28) = 24
    assert(Multimodal.ImageCodec.probe(bmp) == (320, 240, 3, "bmp"))
    // garbage payload probes as unknown instead of throwing
    assert(Multimodal.ImageCodec.probe("not an image".getBytes) == (0, 0, 0, "unknown"))
  }

  test("multimodal: probeImages re-parses exactly what withImagePayload encoded") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(30)
    val mm = Multimodal.withImagePayload(docs, "text")
    val probed = Multimodal.probeImages(mm.repartition(3), "content")
    val rows = probed.select("meta.width", "meta.height", "meta.format",
      "probed_meta.width", "probed_meta.height", "probed_meta.format").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(3) && r.getInt(1) == r.getInt(4))
      assert(r.getString(2) == "ppm" && r.getString(5) == "ppm")
    }
  }

  test("multimodal: resize meta preserves aspect, frame sampling plan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(10)
    val mm = Multimodal.withImagePayload(docs, "text")
    val rs = Multimodal.resizeMeta(mm, "meta", 128, 128)
    rs.select("meta.width", "meta.height", "resized_meta.width", "resized_meta.height")
      .collect().foreach { r =>
        assert(r.getInt(2) <= 128 && r.getInt(3) <= 128)
        val origAspect = r.getInt(0).toDouble / r.getInt(1)
        val newAspect = r.getInt(2).toDouble / r.getInt(3)
        assert(math.abs(origAspect - newAspect) / origAspect < 0.2)
      }
    val fs = Multimodal.frameSamplePlan(
      docs.withColumn("n_frames", lit(100)), "n_frames", every = 10, maxFrames = 5)
    val plan = fs.select("sampled_frames").first().getSeq[Long](0)
    assert(plan == Seq(0L, 10L, 20L, 30L, 40L))
  }

  test("multimodal: probeAudio re-parses exactly what withAudioPayload encoded") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(30)
    val mm = Multimodal.withAudioPayload(docs, "text")
    val probed = Multimodal.probeAudio(mm.repartition(3), "content")
    val rows = probed.select("audio_meta.sample_rate", "audio_meta.channels",
      "audio_meta.n_samples", "probed_audio.sample_rate",
      "probed_audio.channels", "probed_audio.n_samples",
      "probed_audio.format").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(3), "sample_rate round-trip")
      assert(r.getInt(1) == r.getInt(4), "channels round-trip")
      assert(r.getLong(2) == r.getLong(5), "n_samples round-trip")
      assert(r.getString(6) == "wav")
    }
    // decode plumbing: bounded feature vectors from the PCM data
    val feats = Multimodal.decodeAudio(mm.repartition(3), "content", dim = 8)
      .select("audio_features").collect()
    assert(feats.forall { r =>
      val a = r.getSeq[Float](0); a.length == 8 && a.forall(v => v >= 0f && v <= 1f)
    })
    // garbage payloads probe as unknown, never throw
    import spark.implicits._
    val junk = Seq(Tuple1(Array[Byte](1, 2, 3)),
      Tuple1("RIFFxxxxJUNK".getBytes("US-ASCII")),
      Tuple1(Array.empty[Byte])).toDF("content")
    val p = Multimodal.probeAudio(junk, "content")
      .select("probed_audio.format").collect().map(_.getString(0))
    assert(p.forall(_ == "unknown"))
  }

  test("multimodal: probeVideo counts exactly the frames withVideoPayload wrote") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(30)
    val mm = Multimodal.withVideoPayload(docs, "text")
    val probed = Multimodal.probeVideo(mm.repartition(3), "content")
    val rows = probed.select("video_meta.n_frames", "video_meta.fps_num",
      "probed_video.n_frames", "probed_video.fps_num",
      "probed_video.width", "probed_video.height",
      "probed_video.format").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(2), "frame count round-trip")
      assert(r.getInt(1) == r.getInt(3), "fps round-trip")
      assert(r.getInt(4) == 4 && r.getInt(5) == 2)
      assert(r.getString(6) == "y4m")
    }
    // a hand-built two-frame stream parses exactly; truncation drops the tail
    val two = ("YUV4MPEG2 W4 H2 F30:1 C420\n" +
      "FRAME\nabcdefghijkl" + "FRAME\nmnopqrstuvwx").getBytes("US-ASCII")
    assert(Multimodal.VideoCodec.probe(two) == ((4, 2, 30, 1, 2L, "y4m")))
    assert(Multimodal.VideoCodec.probe(two.dropRight(3)) == ((4, 2, 30, 1, 1L, "y4m")))
    assert(Multimodal.VideoCodec.probe("garbage".getBytes)._6 == "unknown")
  }

  test("multimodal: id3Tags walks v2.3 and v2.4 frames, all text encodings, stops on padding") {
    def frame23(id: String, enc: Byte, text: Array[Byte]): Array[Byte] = {
      val sz = 1 + text.length
      id.getBytes("US-ASCII") ++ Array[Byte](
        ((sz >> 24) & 0xFF).toByte, ((sz >> 16) & 0xFF).toByte,
        ((sz >> 8) & 0xFF).toByte, (sz & 0xFF).toByte, 0, 0, enc) ++ text
    }
    def tag(ver: Byte, frames: Array[Byte], pad: Int = 0): Array[Byte] = {
      val sz = frames.length + pad
      "ID3".getBytes ++ Array[Byte](ver, 0, 0,
        ((sz >> 21) & 0x7F).toByte, ((sz >> 14) & 0x7F).toByte,
        ((sz >> 7) & 0x7F).toByte, (sz & 0x7F).toByte) ++
        frames ++ Array.fill(pad)(0.toByte)
    }
    // v2.3: ISO title with a trailing NUL (stripped), UTF-8 artist,
    // TALB absent, trailing zero padding ends the walk cleanly
    val t23 = tag(3, frame23("TIT2", 0, ("Hello".getBytes("ISO-8859-1") :+ 0.toByte)) ++
      frame23("TPE1", 3, "Füü".getBytes("UTF-8")), pad = 12)
    assert(Multimodal.AudioCodec.id3Tags(t23)
      .contains((Some("Hello"), Some("Füü"), None)))
    // v2.4: SYNCSAFE frame sizes + a BOM-led UTF-16 album
    def frame24(id: String, enc: Byte, text: Array[Byte]): Array[Byte] = {
      val sz = 1 + text.length
      id.getBytes("US-ASCII") ++ Array[Byte](
        ((sz >> 21) & 0x7F).toByte, ((sz >> 14) & 0x7F).toByte,
        ((sz >> 7) & 0x7F).toByte, (sz & 0x7F).toByte, 0, 0, enc) ++ text
    }
    val utf16 = Array[Byte](0xFE.toByte, 0xFF.toByte) ++
      "Wörld".flatMap(c => Seq(((c >> 8) & 0xFF).toByte, (c & 0xFF).toByte))
    val t24 = tag(4, frame24("TALB", 1, utf16))
    assert(Multimodal.AudioCodec.id3Tags(t24)
      .contains((None, None, Some("Wörld"))))
    // first occurrence wins; unknown frames are skipped over
    val dup = tag(3, frame23("TXXX", 0, "skip".getBytes) ++
      frame23("TIT2", 0, "first".getBytes) ++
      frame23("TIT2", 0, "second".getBytes))
    assert(Multimodal.AudioCodec.id3Tags(dup).get._1.contains("first"))
    // a poison frame size cannot run past the tag extent; non-ID3 None
    val poison = tag(3, "TIT2".getBytes ++
      Array[Byte](0x7F, -1, -1, -1, 0, 0, 0) ++ "x".getBytes)
    assert(Multimodal.AudioCodec.id3Tags(poison).contains((None, None, None)))
    assert(Multimodal.AudioCodec.id3Tags("RIFFjunk".getBytes).isEmpty)
    assert(Multimodal.AudioCodec.id3Tags(Array[Byte]('I', 'D', '3')).isEmpty)
    // the fixture round-trips through the DataFrame operator
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(20)
    val got = Multimodal.audioTags(
      Multimodal.withMp3TagPayload(docs, "text").repartition(3), "content")
    assert(got.where(col("tags.title") =!= col("tag_meta.title") ||
      col("tags.artist") =!= col("tag_meta.artist") ||
      col("tags.album").isNotNull).count() == 0)
    // and still probes as mp3 past the populated tag
    val probed = Multimodal.probeAudio(
      Multimodal.withMp3TagPayload(docs, "text"), "content")
    assert(probed.where(col("probed_audio.format") =!= "mp3").count() == 0)
  }

  test("multimodal: frameDeltas computes exact SAD between Y4M frames") {
    // 4x2 C420 → 12-byte rasters; two frames differing in 3 bytes by
    // +1, -2, +3 → SAD 6; third frame equal to second → SAD 0
    val f1 = "abcdefghijkl"
    val f2 = "bbcdcfghijko" // |a-b|=1, |e-c|=2, |l-o|=3
    val y4m = ("YUV4MPEG2 W4 H2 F30:1 C420\n" +
      s"FRAME\n$f1" + s"FRAME\n$f2" + s"FRAME\n$f2").getBytes("US-ASCII")
    assert(Multimodal.VideoCodec.frameDeltas(y4m).contains((3L, 6L, 6L)))
    // one frame → no deltas; truncation drops the partial tail
    assert(Multimodal.VideoCodec.frameDeltas(y4m.take(27 + 18))
      .contains((1L, 0L, 0L)))
    assert(Multimodal.VideoCodec.frameDeltas("junk".getBytes).isEmpty)
    // poison header: a declared stride larger than the payload is
    // rejected before any Int arithmetic can overflow
    val poison = "YUV4MPEG2 W99999 H99999 F30:1\nFRAME\nxx".getBytes
    assert(Multimodal.VideoCodec.frameDeltas(poison).isEmpty)
    // the varying-frame fixture round-trips: probe agrees on count and
    // a repeated-frame payload (withVideoPayload) reads total_sad 0
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(30)
    val varying = Multimodal.videoFrameStats(
      Multimodal.withVideoPayload2(docs, "text").repartition(3), "content")
    assert(varying.where(col("video_meta.n_frames") =!=
      col("frame_stats.n_frames")).count() == 0)
    assert(varying.where(col("frame_stats.n_frames") > 1 &&
      col("frame_stats.total_sad") === 0).count() == 0,
      "varying md5 frames must move")
    val static = Multimodal.videoFrameStats(
      Multimodal.withVideoPayload(docs, "text").repartition(3), "content")
    assert(static.where(col("frame_stats.total_sad") =!= 0).count() == 0,
      "repeated frames must read zero motion")
  }

  test("multimodal: probeAudio walks exactly the MP3 frames withMp3Payload wrote") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(30)
    val mm = Multimodal.withMp3Payload(docs, "text")
    val probed = Multimodal.probeAudio(mm.repartition(3), "content")
    val rows = probed.select("audio_meta.sample_rate", "audio_meta.channels",
      "audio_meta.n_samples", "probed_audio.sample_rate",
      "probed_audio.channels", "probed_audio.n_samples",
      "probed_audio.format", "probed_audio.bits").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(3), "sample_rate round-trip")
      assert(r.getInt(1) == r.getInt(4), "channels round-trip")
      assert(r.getLong(2) == r.getLong(5), "frame-walk sample count")
      assert(r.getString(6) == "mp3")
      assert(r.getInt(7) == 0, "lossy codec: no PCM width")
    }
    // hand-built: ID3 tag (5-byte body) + two 44.1kHz 128kbps stereo
    // frames (stride floor(144000*128/44100) = 417); a truncated
    // trailing frame is not counted
    def frame(n: Int): Array[Byte] =
      Array(0xFF, 0xFB, 0x90, 0x00).map(_.toByte) ++ Array.fill(n - 4)('z'.toByte)
    val id3 = "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, 5) ++
      Array.fill(5)('t'.toByte)
    val mp3 = id3 ++ frame(417) ++ frame(417)
    assert(Multimodal.AudioCodec.probe(mp3) == ((44100, 2, 0, 2304L, "mp3")))
    assert(Multimodal.AudioCodec.probe(mp3.dropRight(10)) ==
      ((44100, 2, 0, 1152L, "mp3")))
    // poison: free-format (bitrate idx 0) and bad samplerate stop the walk
    assert(Multimodal.AudioCodec.probe(
      Array(0xFF, 0xFB, 0x00, 0x00).map(_.toByte))._5 == "unknown")
    assert(Multimodal.AudioCodec.probe(
      Array(0xFF, 0xFB, 0x9C, 0x00).map(_.toByte))._5 == "unknown")
    // an ID3 tag with a poison syncsafe size (max 2^28-1) cannot wrap
    // the Long cursor — it just walks past the end: unknown, no throw
    assert(Multimodal.AudioCodec.probe("ID3".getBytes ++
      Array[Byte](3, 0, 0, 0x7F, 0x7F, 0x7F, 0x7F))._5 == "unknown")
  }

  test("multimodal: pcmStats computes exact integer energy/crossings/peak on hand-built PCM") {
    // mono 16-bit WAV: samples 100, -200, 300, 0, -1: sumSq = 140001 +
    // ... compute by hand: 10000+40000+90000+0+1 = 140001; crossings:
    // +,-,+,+(0),- -> sign flips at j=1,2,4 = 3; peak 300
    def le16(v: Int): Seq[Byte] =
      Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val samples = Seq(100, -200, 300, 0, -1)
    val data = samples.flatMap(le16)
    def le32b(v: Int): Seq[Byte] = Seq(v & 0xFF, (v >> 8) & 0xFF,
      (v >> 16) & 0xFF, (v >> 24) & 0xFF).map(_.toByte)
    val wav = ("RIFF".getBytes("US-ASCII") ++ le32b(36 + data.size) ++
      "WAVEfmt ".getBytes("US-ASCII") ++ le32b(16) ++
      Seq[Byte](1, 0, 1, 0) ++ le32b(8000) ++ le32b(16000) ++
      Seq[Byte](2, 0, 16, 0) ++
      "data".getBytes("US-ASCII") ++ le32b(data.size) ++ data).toArray
    assert(Multimodal.AudioCodec.probe(wav)._1 == 8000)
    val got = Multimodal.AudioCodec.pcmStats(wav)
    assert(got.contains((5L, 140001L, 3L, 300)),
      s"hand-computed stats mismatch: $got")
    // truncation measures the complete samples present
    val cut = Multimodal.AudioCodec.pcmStats(wav.dropRight(3))
    assert(cut.contains((3L, 140000L, 2L, 300)))
    // 8-bit payloads and garbage yield None, never throw
    val wav8 = wav.clone(); wav8(34) = 8
    assert(Multimodal.AudioCodec.pcmStats(wav8).isEmpty)
    assert(Multimodal.AudioCodec.pcmStats("junk".getBytes).isEmpty)
    // DataFrame plumbing: struct lands per row, null for non-PCM
    import spark.implicits._
    val df = Seq(Tuple1(wav), Tuple1("junk".getBytes)).toDF("content")
    val rows = Multimodal.audioStats(df, "content")
      .select("pcm_stats").collect()
    assert(rows.count(_.isNullAt(0)) == 1)
    val st = rows.find(!_.isNullAt(0)).get.getStruct(0)
    assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getInt(3)) ==
      ((5L, 140001L, 3L, 300)))
    // windowed silence: window 2 → windows (100,-200)=50000,
    // (300,0)=90000; ragged 5th sample excluded. threshold 60000 →
    // one silent window, max 90000
    assert(Multimodal.AudioCodec.silenceStats(wav, 2, 60000L)
      .contains((2L, 1L, 90000L)))
    // threshold 0 → nothing silent; huge threshold → all silent
    assert(Multimodal.AudioCodec.silenceStats(wav, 2, 0L)
      .contains((2L, 0L, 90000L)))
    assert(Multimodal.AudioCodec.silenceStats(wav, 2, Long.MaxValue)
      .contains((2L, 2L, 90000L)))
    assert(Multimodal.AudioCodec.silenceStats("junk".getBytes, 2, 1L).isEmpty)
  }

  test("multimodal: audioSilence lands a struct per PCM row, NULL otherwise; window 0 runs no job") {
    def le16(v: Int): Seq[Byte] =
      Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32b(v: Int): Seq[Byte] = Seq(v & 0xFF, (v >> 8) & 0xFF,
      (v >> 16) & 0xFF, (v >> 24) & 0xFF).map(_.toByte)
    val data = Seq(100, -200, 300, 0, -1).flatMap(le16)
    val wav = ("RIFF".getBytes("US-ASCII") ++ le32b(36 + data.size) ++
      "WAVEfmt ".getBytes("US-ASCII") ++ le32b(16) ++
      Seq[Byte](1, 0, 1, 0) ++ le32b(8000) ++ le32b(16000) ++
      Seq[Byte](2, 0, 16, 0) ++
      "data".getBytes("US-ASCII") ++ le32b(data.size) ++ data).toArray
    import spark.implicits._
    val df = Seq((1, wav), (2, "junk".getBytes), (3, null: Array[Byte]))
      .toDF("id", "content")
    val rows = Multimodal.audioSilence(df, "content", window = 2,
        threshold = 60000L)
      .select("id", "silence").collect().map(r => r.getInt(0) -> r).toMap
    // window 2 → energies 50000 and 90000 (ragged 5th sample excluded):
    // one window under 60000, max 90000
    val st = rows(1).getStruct(1)
    assert((st.getLong(0), st.getLong(1), st.getLong(2)) == ((2L, 1L, 90000L)))
    assert(rows(2).isNullAt(1), "a non-PCM payload must give a NULL struct")
    assert(rows(3).isNullAt(1), "a NULL payload must give a NULL struct")

    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(ev: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("silence-bad-window", "window = 0")
      intercept[IllegalArgumentException](
        Multimodal.audioSilence(df, "content", window = 0, threshold = 1L,
          minPartitions = Some(8)))
      // job starts arrive in order: once the sentinel's has, so has any
      // job the call above started
      sc.setJobGroup("silence-sentinel", "sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("silence-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(groups.contains("silence-sentinel"), "the sentinel job never reached the listener")
    val early = groups.toArray.count(_ == "silence-bad-window")
    assert(early == 0, s"$early Spark jobs ran before the window check")
  }

  test("multimodal: probeVideo box-walks exactly what withMp4Payload wrote") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(30)
    val mm = Multimodal.withMp4Payload(docs, "text")
    val probed = Multimodal.probeVideo(mm.repartition(3), "content")
    val rows = probed.select("video_meta.width", "video_meta.height",
      "video_meta.fps_num", "video_meta.fps_den", "video_meta.n_frames",
      "probed_video.width", "probed_video.height", "probed_video.fps_num",
      "probed_video.fps_den", "probed_video.n_frames",
      "probed_video.format").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(5) && r.getInt(1) == r.getInt(6),
        "tkhd 16.16 dims round-trip")
      assert(r.getInt(2) == r.getInt(7), "mdhd media timescale (not mvhd's)")
      assert(r.getInt(3) == r.getInt(8), "stts sample delta")
      assert(r.getLong(4) == r.getLong(9), "stts sample count")
      assert(r.getString(10) == "mp4")
    }
    // fuzz: truncated mid-moov → no dims → unknown; a poison u32 box
    // size neither wraps nor loops the walk
    val one = Multimodal.withMp4Payload(docs.limit(1), "text")
      .select("content").first().getAs[Array[Byte]](0)
    assert(Multimodal.VideoCodec.probe(one.take(40))._6 == "unknown")
    val poison = one.clone()
    poison(0) = 0xFF.toByte // ftyp size := ~4GB
    assert(Multimodal.VideoCodec.probe(poison)._6 == "unknown") // never throws
    assert(Multimodal.VideoCodec.probe("mdat only".getBytes)._6 == "unknown")
  }

  test("multimodal: probeVideo EBML-walks exactly what withWebmPayload wrote") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(30)
    val mm = Multimodal.withWebmPayload(docs, "text")
    val probed = Multimodal.probeVideo(mm.repartition(3), "content")
    val rows = probed.select("video_meta.width", "video_meta.height",
      "video_meta.fps_num", "video_meta.fps_den", "video_meta.n_frames",
      "probed_video.width", "probed_video.height", "probed_video.fps_num",
      "probed_video.fps_den", "probed_video.n_frames",
      "probed_video.format").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(5) && r.getInt(1) == r.getInt(6),
        "PixelWidth/PixelHeight round-trip")
      assert(r.getInt(2) == r.getInt(7) && r.getInt(3) == r.getInt(8),
        "DefaultDuration → nominal-fps ratio")
      assert(r.getLong(4) == r.getLong(9), "SimpleBlock count")
      assert(r.getString(10) == "webm")
    }
    val one = Multimodal.withWebmPayload(docs.limit(1), "text")
      .select("content").first().getAs[Array[Byte]](0)
    // the live-stream shape: Segment size rewritten to "unknown" (all
    // size bits set) must still walk to the payload's end
    val segSizeOff = 12 + 4 // EBML header (12) + Segment ID (4)
    assert((one(segSizeOff) & 0x80) != 0, "fixture uses a 1-byte size here")
    val live = one.clone()
    live(segSizeOff) = 0xFF.toByte
    val full = Multimodal.VideoCodec.probe(one)
    assert(Multimodal.VideoCodec.probe(live) == full)
    // truncation inside Tracks loses the dims → unknown; garbage never throws
    assert(Multimodal.VideoCodec.probe(one.take(20))._6 == "unknown")
    assert(Multimodal.VideoCodec.probe(
      Array(0x1A, 0x45, 0xDF, 0xA3, 0x84, 0, 0, 0).map(_.toByte))._6 == "unknown")
  }

  test("streaming: watermarked windowed counts over events drop") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    spark.read.parquet(s"$dir/events.parquet").limit(500)
      .write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readEvents(spark, tmp)
    assert(stream.isStreaming)
    val agg = GraftStreaming.windowedCounts(stream,
      watermark = "1 hour", window_ = "1 hour")
    // complete mode: append would (correctly) hold back windows that the
    // final watermark hasn't passed yet
    val q = GraftStreaming.runToMemory(agg, "win_counts", outputMode = "complete")
    q.awaitTermination(60000)
    val out = spark.table("win_counts")
    val total = out.agg(sum("n")).collect()(0).getLong(0)
    assert(total == 500, s"windowed counts should cover all rows, got $total")
    // batch equivalence: same aggregation on the static frame
    val expected = GraftStreaming.normalizeTs(spark.read.parquet(tmp))
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .count().count()
    assert(out.count() == expected)
  }

  test("streaming canonicalization: emit-on-improvement; drained min ≡ batch exactText under a batch split") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-canon").toString
    // b0: two fingerprints; b1 brings a SMALLER id for one (improvement
    // → must emit) and a larger id for the other (loser → silent)
    Seq((10L, "same text here"), (5L, "other body"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/b0")
    Seq((3L, "same text here"), (20L, "other body"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val q = GraftStreaming.runToMemory(
      GraftStreaming.canonicalStream(stream, "doc_id", "text"), "canon_out")
    assert(q.awaitTermination(60000), "stream did not finish")
    val emitted = spark.table("canon_out").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // 3 emissions: both fps in b0, the improvement in b1; the b1 loser
    // (id 20) emits nothing
    assert(emitted.length == 3, s"got ${emitted.toSeq}")
    val drained = emitted.groupBy(_._1).view.mapValues(_.map(_._2).min)
    // the drained min per fp equals batch exactText's canonical ids
    val batch = graft.operators.Dedup.exactText(
      spark.read.parquet(s"$tmp/*"), "text", "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(drained.toMap == batch)
    assert(batch.values.toSet == Set(3L, 5L))
  }

  test("streaming confusion monitor ≡ batch per-window confusion on the same drop") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-conf").toString
    spark.read.parquet(s"$dir/events.parquet").limit(500)
      .write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readEvents(spark, tmp)
      .withColumn("label", col("value") > 250.0)
      .withColumn("pred", expr("event_id % 1000 >= 500"))
    val q = GraftStreaming.runToMemory(
      GraftStreaming.confusionStream(stream, "label", "pred"),
      "conf_out", outputMode = "complete")
    assert(q.awaitTermination(60000), "stream did not finish")
    val got = spark.table("conf_out")
      .select(col("window.start").cast("long"), col("n"), col("tp"),
        col("fp"), col("fn"), col("tn"), col("prec"), col("rec"),
        col("f1"), col("acc"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // batch twin over the identical frame and window
    val batch = GraftStreaming.normalizeTs(spark.read.parquet(tmp))
      .withColumn("__y", col("value") > 250.0)
      .withColumn("__p", expr("event_id % 1000 >= 500"))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y") && col("__p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("__y") && col("__p"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("__y") && !col("__p"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("__y") && !col("__p"), 1L).otherwise(0L)).as("tn"))
      .collect().map { r =>
        val (n, tp, fp, fn, tn) = (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))
        def d(x: Long, y: Long) = if (y > 0) x.toDouble / y else Double.NaN
        r.getStruct(0).getTimestamp(0).getTime / 1000L -> Seq[Any](
          n, tp, fp, fn, tn,
          if (tp + fp > 0) d(tp, tp + fp) else null,
          if (tp + fn > 0) d(tp, tp + fn) else null,
          if (2 * tp + fp + fn > 0) d(2 * tp, 2 * tp + fp + fn) else null,
          if (n > 0) d(tp + tn, n) else null)
      }.toMap
    assert(got == batch, "stream/batch confusion divergence")
    // the 500-row drop has actual positives (rec defined) and windows
    // where it is NULL-degenerate — both branches exercised
    assert(got.nonEmpty && got.values.exists(_(6) != null) &&
      got.values.exists(_(6) == null))
  }

  test("streaming DP release ≡ batch count + driver-side Laplace replay") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dp").toString
    spark.read.parquet(s"$dir/events.parquet").limit(500)
      .write.mode("overwrite").parquet(tmp)
    val q = GraftStreaming.runToMemory(
      GraftStreaming.dpCountStream(GraftStreaming.readEvents(spark, tmp),
        eps = 2.0, seed = "spec"),
      "dp_out", outputMode = "complete")
    assert(q.awaitTermination(60000), "stream did not finish")
    val got = spark.table("dp_out")
      .select(col("window.start").cast("long"), col("n_dp"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // batch twin: true hour counts + the exact PRF noise term
    def lap(key: String, b: Double): Double = TestReplay.laplace(key, b)
    val batch = GraftStreaming.normalizeTs(spark.read.parquet(tmp))
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .collect().map { r =>
        val w = r.getStruct(0).getTimestamp(0).getTime / 1000L
        w -> ((r.getLong(1), r.getLong(1) + lap(s"spec|n|$w", 0.5)))
      }.toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (w, v) => assert(math.abs(v - batch(w)._2) < 1e-9) }
    // noise is actually PRESENT: a zeroed draw (broken key/scale wiring)
    // would make every release equal its true count and both twins above
    // would still agree — pin the released series off the raw one
    assert(got.nonEmpty)
    got.foreach { case (w, v) => assert(v != batch(w)._1.toDouble,
      s"window $w released its true count — no noise drawn") }
  }

  test("streaming OHLC bars ≡ batch resampleOhlc on the same drop") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ohlc").toString
    spark.read.parquet(s"$dir/events.parquet").limit(500)
      .write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readEvents(spark, tmp)
    val agg = GraftStreaming.ohlcStream(stream,
      watermark = "1 hour", window_ = "1 hour")
    val q = GraftStreaming.runToMemory(agg, "ohlc_out", outputMode = "complete")
    assert(q.awaitTermination(60000), "stream did not finish")
    val got = spark.table("ohlc_out")
      .select(col("window.start").cast("long").as("b"), col("event_type"),
        col("n"), col("open"), col("high"), col("low"), col("close"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    // batch twin: event_time is second-truncated ts, hourly buckets ->
    // bucket ordinal × 3600 = the window start in epoch seconds; the
    // tiebreak runs on the same µs base as the stream side
    val batch = graft.operators.WindowOps.resampleOhlc(
      GraftStreaming.normalizeTs(spark.read.parquet(tmp))
        .withColumn("tsu", expr("ts DIV 1000")),
      Seq("event_type"), "event_time", "value", period = 3600000000L,
      tieBreak = Seq("tsu", "event_id"))
      .collect().map(r => (r.getLong(1) * 3600L, r.getString(0)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    assert(got == batch, "stream/batch OHLC divergence")
    assert(got.nonEmpty)
  }

  test("streaming last-touch attribution ≡ batch journey walk") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-attr").toString
    spark.read.parquet(s"$dir/events.parquet").limit(800)
      .write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readEvents(spark, tmp)
    val hits = GraftStreaming.lastTouchStream(stream, "purchase")
    val q = GraftStreaming.runToMemory(hits, "attr_out")
    assert(q.awaitTermination(60000), "stream did not finish")
    val got = spark.table("attr_out")
      .collect().map(r => r.getAs[Long]("convId") ->
        (r.getAs[String]("touchType"), r.getAs[Long]("touchTs"))).toMap
    // batch reference: per user walk in (µs, id) order, last touch
    // since previous purchase credits each purchase
    val rows = GraftStreaming.normalizeTs(spark.read.parquet(tmp))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts DIV 1000").as("tsu"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val want = collection.mutable.Map.empty[Long, (String, Long)]
    rows.groupBy(_._1).values.foreach { ev =>
      var pending: Option[(String, Long)] = None
      ev.sortBy(e => (e._4, e._2)).foreach { case (_, id, typ, tsu) =>
        if (typ == "purchase") {
          pending.foreach(t => want(id) = t)
          pending = None
        } else pending = Some((typ, tsu))
      }
    }
    assert(got == want.toMap, "stream/batch attribution divergence")
    assert(got.nonEmpty)
  }

  test("streaming funnel ≡ batch funnel counts; horizon bound honored") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    spark.read.parquet(s"$dir/events.parquet").limit(800)
      .write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readEvents(spark, tmp)
    val hits = GraftStreaming.funnelStream(stream,
      Seq("view", "click", "purchase"))
    val q = GraftStreaming.runToMemory(hits, "funnel_out")
    assert(q.awaitTermination(60000), "stream did not finish")
    val got = spark.table("funnel_out")
      .groupBy("step").agg(countDistinct("userId").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = graft.operators.WindowOps.funnel(
      GraftStreaming.normalizeTs(spark.read.parquet(tmp))
        .withColumn("tsu", expr("ts DIV 1000")),
      "user_id", "event_type", "tsu", Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got == batch.filter(_._2 > 0), "stream/batch funnel divergence")
    assert(got.nonEmpty)
    // horizon: a step outside the window doesn't advance the funnel
    val tiny = java.nio.file.Files.createTempDirectory("graft-funnel2").toString
    Seq((1L, 1000000000L, 10L, "view", 0.0, ""),
        (2L, 2000000000L, 10L, "click", 0.0, ""), // 1s later: outside 1ms
        (3L, 1001000000L, 11L, "view", 0.0, ""),
        (4L, 1001500000L, 11L, "click", 0.0, "")) // 0.5ms later: inside
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tiny)
    val hz = GraftStreaming.funnelStream(GraftStreaming.readEvents(spark, tiny),
      Seq("view", "click"), horizon = Some(1000L)) // 1 ms in µs
    val q2 = GraftStreaming.runToMemory(hz, "funnel_hz_out")
    assert(q2.awaitTermination(60000))
    val steps = spark.table("funnel_hz_out")
      .collect().map(r => (r.getAs[Long]("userId"), r.getAs[Int]("step"))).toSet
    assert(steps == Set((10L, 1), (11L, 1), (11L, 2)))
    // repeated step TYPES (re-engagement funnel): only the NEXT
    // unreached step advances, so view -> click -> view completes
    val re = java.nio.file.Files.createTempDirectory("graft-funnel3").toString
    Seq((1L, 1000000000L, 20L, "view", 0.0, ""),
        (2L, 2000000000L, 20L, "click", 0.0, ""),
        (3L, 3000000000L, 20L, "view", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(re)
    val rq = GraftStreaming.runToMemory(
      GraftStreaming.funnelStream(GraftStreaming.readEvents(spark, re),
        Seq("view", "click", "view")), "funnel_re_out")
    assert(rq.awaitTermination(60000))
    assert(spark.table("funnel_re_out")
      .collect().map(_.getAs[Int]("step")).sorted.toSeq == Seq(1, 2, 3))
  }

  test("cdcStream: tombstones suppress, re-inserts resurrect, stale absorbed") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    // b0: two inserts; b1: delete key 1, STALE update for key 2 (absorbed),
    // insert key 3; b2: re-insert key 1 after its delete
    Seq((1L, 100L, 1.0, "I"), (2L, 100L, 2.0, "I"))
      .toDF("key", "ver", "value", "op").coalesce(1).write.parquet(s"$tmp/b0")
    Seq((1L, 200L, 0.0, "D"), (2L, 50L, 9.9, "U"), (3L, 100L, 3.0, "I"))
      .toDF("key", "ver", "value", "op").coalesce(1).write.parquet(s"$tmp/b1")
    Seq((1L, 300L, 1.5, "I"))
      .toDF("key", "ver", "value", "op").coalesce(1).write.parquet(s"$tmp/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ver", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val q = GraftStreaming.runToMemory(GraftStreaming.cdcStream(stream), "cdc_out")
    assert(q.awaitTermination(120000))
    val emissions = spark.table("cdc_out")
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("ver"),
        r.getAs[Boolean]("deleted"))).toSet
    // minimal update changelog: key 2's stale update emitted NOTHING
    assert(emissions == Set((1L, 100L, false), (1L, 200L, true),
      (1L, 300L, false), (2L, 100L, false), (3L, 100L, false)))
    // compaction of the emission log = the live snapshot
    val snap = graft.operators.Dedup.applyChangelogEmissions(spark.table("cdc_out"))
      .orderBy("key").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Double]("value"))).toSeq
    assert(snap == Seq((1L, 1.5), (2L, 2.0), (3L, 3.0)))
  }

  test("pointInTimeEnrich: version at event time, boundary inclusive, pre-history null") {
    import spark.implicits._
    // dim: user 1 tier A from 10, tier B from 30 (µs)
    val dim = Seq((1L, "A", 10L, Some(30L)), (1L, "B", 30L, None))
      .toDF("user_id", "tier", "valid_from", "valid_to")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pit").toString
    // clicks at µs 5 (pre-history), 10 (boundary -> NEW version), 29, 30
    // (ts in ns = µs * 1000); user 2 has no dimension rows at all
    Seq((1L, 5000L, 1L, "click", 0.0), (2L, 10000L, 1L, "click", 0.0),
        (3L, 29000L, 1L, "click", 0.0), (4L, 30000L, 1L, "click", 0.0),
        (5L, 20000L, 2L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    val stream = GraftStreaming.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"$tmp/b0").schema).parquet(s"$tmp/*"))
    val q = GraftStreaming.runToMemory(GraftStreaming.pointInTimeEnrich(
      stream, dim, Seq("user_id"), "ts", Seq("tier")), "pit_out")
    assert(q.awaitTermination(120000))
    val got = spark.table("pit_out").collect()
      .map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier")))
      .toMap
    assert(got == Map(1L -> None, 2L -> Some("A"), 3L -> Some("A"),
      4L -> Some("B"), 5L -> None))
  }

  test("cdcStream: random multi-batch changelogs compact to the batch snapshot") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val opGen = Gen.frequency(5 -> "I", 3 -> "U", 2 -> "D")
    (0 until 3).foreach { i =>
      val seed = Seed(97L + i)
      // 30 changes over 6 keys, strictly increasing ver per key
      val perKey = scala.collection.mutable.Map.empty[Long, Long]
      val rows = (0 until 30).map { j =>
        val k = Gen.choose(1L, 6L).apply(Gen.Parameters.default,
          seed.reseed(j)).get
        val ver = perKey.updateWith(k)(v => Some(v.getOrElse(0L) + 1L)).get
        val op = opGen.apply(Gen.Parameters.default, seed.reseed(1000 + j)).get
        (k, ver, j * 1.5, op)
      }
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-cdcprop$i").toString
      // split into 3 micro-batches in arrival order
      rows.grouped(10).zipWithIndex.foreach { case (b, bi) =>
        b.toDF("key", "ver", "value", "op")
          .coalesce(1).write.parquet(f"$tmp/b$bi%02d")
      }
      val schema = spark.read.parquet(s"$tmp/b00").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(s"$tmp/*")
      val q = GraftStreaming.runToMemory(
        GraftStreaming.cdcStream(stream), s"cdc_prop_$i")
      assert(q.awaitTermination(120000))
      val streamed = graft.operators.Dedup
        .applyChangelogEmissions(spark.table(s"cdc_prop_$i"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val batch = graft.operators.Dedup.applyChangelog(
          rows.toDF("key", "ver", "value", "op"),
          Seq("key"), Seq("ver"), "op")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(streamed == batch, s"case $i: stream snapshot != batch")
    }
  }

  test("approxDistinctUsers: windowed HLL within tolerance of exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-adist").toString
    // window 1: users 1..500 on type a, 1..3 on type b; window 2: 10 users
    val rows =
      (1 to 500).map(u => (u.toLong, 1000L * 1000000000L, u.toLong, "a", 1.0)) ++
      (1 to 3).map(u => (1000L + u, 1001L * 1000000000L, u.toLong, "b", 1.0)) ++
      (1 to 10).map(u => (2000L + u, 4000L * 1000000000L, u.toLong, "a", 1.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    val stream = GraftStreaming.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"$tmp/b0").schema).parquet(s"$tmp/*"))
    val q = GraftStreaming.runToMemory(
      GraftStreaming.approxDistinctUsers(stream, "1 hour", "1 hour"),
      "adist_out", outputMode = "complete")
    assert(q.awaitTermination(120000))
    val got = spark.table("adist_out")
      .select(col("window.start").cast("long").as("ws"), col("event_type"),
        col("n_users_approx"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size == 3)
    // small cardinalities are exact in HLL++; 500 within rsd envelope
    assert(got((0L, "b")) == 3L)
    assert(got((3600L, "a")) == 10L)
    val big = got((0L, "a"))
    assert(math.abs(big - 500L) <= 500 * 0.05 + 5, s"approx $big vs 500")
  }

  test("cusumStream: batch parity, cross-batch continuation, resetOnAlarm") {
    import spark.implicits._
    // target 10, slack 2, threshold 20: y+ = v-12, y- = 8-v
    val tmp = java.nio.file.Files.createTempDirectory("graft-cusum").toString
    Seq((1L, 1000000000L, 1L, "a", 25.0, ""), (2L, 2000000000L, 1L, "a", 25.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/b0")
    Seq((3L, 3000000000L, 1L, "a", 25.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/b1")
    def stream() = GraftStreaming.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"$tmp/b0").schema).parquet(s"$tmp/*"))
    def run(df: org.apache.spark.sql.DataFrame, name: String) = {
      assert(GraftStreaming.runToMemory(df, name).awaitTermination(120000))
      spark.table(name)
    }
    // two micro-batches, alarmsOnly=false: S+ = 13, 26, 39 — the
    // recursion carries across the batch boundary
    val twoBatchStream = spark.readStream
      .schema(spark.read.parquet(s"$tmp/b0").schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val all = run(GraftStreaming.cusumStream(
        GraftStreaming.normalizeTs(twoBatchStream), 10.0, 2.0, 20.0,
        alarmsOnly = false), "cusum_all")
      .orderBy("eventId").collect()
      .map(r => (r.getAs[Double]("sHi"), r.getAs[Boolean]("alarm"))).toSeq
    assert(all == Seq((13.0, false), (26.0, true), (39.0, true)))
    // single batch, alarmsOnly ≡ batch operator filtered to alarms
    val alarms = run(GraftStreaming.cusumStream(stream(), 10.0, 2.0, 20.0),
        "cusum_alarms")
      .select("eventId").collect().map(_.getLong(0)).toSet
    val batch = graft.operators.WindowOps.cusum(
        spark.read.parquet(s"$tmp/b0", s"$tmp/b1")
          .withColumn("tsu", expr("ts DIV 1000")),
        Seq("user_id"), Seq("tsu", "event_id"), "value", 10.0, 2.0, 20.0)
      .where(col("alarm")).select("event_id").collect().map(_.getLong(0)).toSet
    assert(alarms == batch && alarms == Set(2L, 3L))
    // resetOnAlarm: 26 alarms, state restarts -> 13, no second alarm
    val reset = run(GraftStreaming.cusumStream(
        GraftStreaming.normalizeTs(spark.readStream
          .schema(spark.read.parquet(s"$tmp/b0").schema).parquet(s"$tmp/*")),
        10.0, 2.0, 20.0, alarmsOnly = false, resetOnAlarm = true),
        "cusum_reset")
      .orderBy("eventId").collect().map(_.getAs[Double]("sHi")).toSeq
    assert(reset == Seq(13.0, 26.0, 13.0))
  }

  test("bottomKSampleStream: mergeable across batches, ≡ batch perKey") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bk").toString
    def mk(ids: Seq[Long], uid: Long) = ids
      .map(id => (id, id * 1000000000L, uid, "a", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    mk(Seq(1L, 2L, 3L, 4L), 1L).coalesce(1).write.parquet(s"$tmp/b0")
    mk(Seq(5L, 6L, 7L, 8L), 1L).coalesce(1).write.parquet(s"$tmp/b1")
    val schema = spark.read.parquet(s"$tmp/b0").schema
    val stream = GraftStreaming.normalizeTs(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*"))
    val q = GraftStreaming.runToMemory(
      GraftStreaming.bottomKSampleStream(stream, k = 2), "bk_out")
    assert(q.awaitTermination(120000))
    val all = spark.table("bk_out").collect()
      .map(r => (r.getAs[Long]("rev"), r.getAs[Long]("eventId"))).toSeq
    // the final snapshot (max rev) must equal the batch bottom-2 over
    // BOTH files — the sketch merge is order/batching-independent
    val maxRev = all.map(_._1).max
    val finalSample = all.filter(_._1 == maxRev).map(_._2).sorted
    val batch = graft.operators.Sampling.perKey(
        spark.read.parquet(s"$tmp/b0", s"$tmp/b1"),
        Seq("user_id"), "event_id", n = 2)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(finalSample == batch)
    // each revision snapshot has exactly k = 2 members; an unchanged
    // batch would have emitted nothing (rev values are consecutive)
    assert(all.groupBy(_._1).forall(_._2.size == 2))
  }

  test("cusum batch/stream: out-of-domain values skip identically") {
    import spark.implicits._
    // |v| > QuantizeDomain (and NaN) must behave exactly like NULL on
    // BOTH sides: no alarm, no recursion advance — the batch cast and
    // the stream's math.round would otherwise disagree (NULL-ish vs
    // saturate-at-Long.MaxValue with a permanently poisoned state)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cusum-dom").toString
    val rows = Seq((1L, 1000000000L, 1L, "a", 25.0, ""),
      (2L, 2000000000L, 1L, "a", 1e10, ""),   // out of domain
      (3L, 3000000000L, 1L, "a", Double.NaN, ""),
      (4L, 4000000000L, 1L, "a", 25.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/b0")
    val batch = graft.operators.WindowOps.cusum(
        spark.read.parquet(s"$tmp/b0").withColumn("tsu", expr("ts DIV 1000")),
        Seq("user_id"), Seq("tsu", "event_id"), "value", 10.0, 2.0, 20.0)
      .orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.lang.Double]("s_hi")).map(_.toDouble),
        r.getAs[Boolean]("alarm"))).toSeq
    // S+ = 13 at e1; e2/e3 skipped (NULL score, no alarm); e4 resumes
    // from 13 -> 26
    assert(batch == Seq((1L, Some(13.0), false), (2L, None, false),
      (3L, None, false), (4L, Some(26.0), true)))
    val stream = GraftStreaming.normalizeTs(spark.readStream
      .schema(spark.read.parquet(s"$tmp/b0").schema).parquet(s"$tmp/*"))
    val q = GraftStreaming.runToMemory(GraftStreaming.cusumStream(
      stream, 10.0, 2.0, 20.0, alarmsOnly = false), "cusum_dom")
    assert(q.awaitTermination(120000))
    val got = spark.table("cusum_dom").orderBy("eventId").collect()
      .map(r => (r.getAs[Long]("eventId"), r.getAs[Double]("sHi"),
        r.getAs[Boolean]("alarm"))).toSeq
    // stream emits only processed (in-domain) events — same fold
    assert(got == Seq((1L, 13.0, false), (4L, 26.0, true)))
  }

  test("sessionWindowStats: native session_window ≡ gap split; == gap merges") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sessw").toString
    // user 10: events at 0s, 100s (merge), 2000s (gap 1900 > 1800 ->
    // NEW session), 3800s (diff EXACTLY 1800 -> MERGES: session_window
    // coalesces the adjacent [t, t+gap) windows — the boundary the
    // oracle's strict > mirrors); sentinel far future
    Seq((1L, 0L, 10L, "a", 1.0), (2L, 100L * 1000000000L, 10L, "a", 2.0),
        (3L, 2000L * 1000000000L, 10L, "a", 4.0),
        (4L, 3800L * 1000000000L, 10L, "a", 8.0),
        (99L, 1000000000000000000L, 10L, "zz", -1e11))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    val stream = GraftStreaming.normalizeTs(spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .parquet(s"$tmp/*"))
    val q = GraftStreaming.runToMemory(GraftStreaming.sessionWindowStats(
      stream, "1800 seconds", watermark = "87600 hours"), "sessw_out")
    assert(q.awaitTermination(120000))
    // q_stream_sessions_native's sentinel convention: the -1e11 poison
    // FITS the DECIMAL(18,6) sum (so the numeric guard, not a silent
    // overflow-to-NULL, is what drops it); IS NULL keeps all-NULL-value
    // real sessions
    val rows = spark.table("sessw_out")
      .where(col("total").isNull || col("total") > -1e10)
      .select(unix_seconds(col("session_start")).as("ss"),
        unix_seconds(col("session_end")).as("se"), col("n_events"), col("total"))
      .orderBy("ss").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows == Seq((0L, 1900L, 2L, 3.0), (2000L, 5600L, 2L, 12.0)))
  }

  test("streaming: stateful sessionization emits closed sessions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream3").toString
    spark.read.parquet(s"$dir/events.parquet").limit(300)
      .write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readEvents(spark, tmp)
    val sessions = GraftStreaming.sessionize(stream,
      gapNs = 3600L * 1000000000L, watermark = "0 seconds")
    val q = GraftStreaming.runToMemory(sessions, "sessions_out")
    q.awaitTermination(120000)
    val out = spark.table("sessions_out")
    // sessions may close via gap-split inside the batch; whatever closed
    // must be consistent: nEvents >= 1, first <= last
    val rows = out.collect()
    assert(rows.forall(r => r.getAs[Long]("nEvents") >= 1))
    assert(rows.forall(r => r.getAs[Long]("firstTsNs") <= r.getAs[Long]("lastTsNs")))
  }

  test("streaming: stream-stream join equals the batch range join") {
    val clicks = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
      .where(col("event_type") === "click")
    val purchases = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
      .where(col("event_type") === "purchase")
    val joined = GraftStreaming.streamStreamJoin(clicks, purchases, "user_id")
      .select(col("l.event_id"), col("r.event_id"))
    val q = GraftStreaming.runToMemory(joined, "ss_join_out")
    q.awaitTermination(120000)
    val batch = GraftStreaming.normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
    val bc = batch.where(col("event_type") === "click").as("l")
    val bp = batch.where(col("event_type") === "purchase").as("r")
    val expected = bc.join(bp,
      col("l.user_id") === col("r.user_id") &&
        col("r.event_time") >= col("l.event_time") &&
        col("r.event_time") <= col("l.event_time") + expr("INTERVAL 1 hour"))
      .count()
    assert(spark.table("ss_join_out").count() == expected)
  }

  test("streaming near-dup ≡ batch nearDuplicates on a planted corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-nd").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(120)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // plant exact copies under shifted ids: each (i, i+100000) pair is a
    // guaranteed jaccard-1.0 near-dup in the same buckets of every band
    val planted = docs.where(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 100000L)
    docs.union(planted).write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readDocumentsGlob(spark, tmp, "*.parquet")
    val hits = GraftStreaming.nearDupStream(stream, "doc_id", "text",
      threshold = 0.8, watermark = "87600 hours")
    val q = GraftStreaming.runToMemory(hits, "neardup_spec_out")
    q.awaitTermination(120000)
    val got = spark.table("neardup_spec_out")
      .groupBy("id_l", "id_r").agg(max("jaccard").as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup.nearDuplicates(
      spark.read.parquet(tmp), "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch, s"stream=${got.size} batch=${batch.size}")
    assert(got.count { case (l, r, j) => r == l + 100000L && j == 1.0 } == 10)
  }

  test("streaming near-dup occupancy cap stops absorbing, keeps matching stored prefix") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-nd2").toString
    // 8 identical docs land in ONE bucket per band; cap 3 stores only the
    // first 3 members, so pairs = every arrival x stored-prefix members
    // (ordered processing by (event_time, id)): 3 + 4+4+4+4+4 ... compute:
    // arrivals 1..8 (by id); doc k matches min(k-1, 3) stored members
    import spark.implicits._
    val docs = (1L to 8L).map(i => (i, "same viral boilerplate text everywhere",
      "en", "s", 40L)).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(tmp)
    val stream = GraftStreaming.readDocumentsGlob(spark, tmp, "*.parquet")
    val hits = GraftStreaming.nearDupStream(stream, "doc_id", "text",
      threshold = 0.8, maxBucketOccupancy = 3, watermark = "87600 hours")
    val q = GraftStreaming.runToMemory(hits, "neardup_cap_out")
    q.awaitTermination(120000)
    val pairs = spark.table("neardup_cap_out")
      .select("id_l", "id_r").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      k <- 2L to 8L; m <- 1L to math.min(k - 1, 3L)
    } yield (m, k)).toSet
    assert(pairs == expected, s"got $pairs")
  }

  test("streaming decontamination ≡ batch report (zero state, broadcast benchmark)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val evalSet = docs.where(col("doc_id") % 37 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val stream = GraftStreaming.readDocumentsGlob(spark, dir, "documents.parquet")
    val hits = GraftStreaming.decontaminateStream(stream, "doc_id", "text",
      evalSet, "doc_id", "text", n = 8)
    val q = GraftStreaming.runToMemory(hits, "decon_stream_out")
    q.awaitTermination(120000)
    val got = spark.table("decon_stream_out")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_hits"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Dedup.decontaminationReport(
      docs, "doc_id", "text", evalSet, "doc_id", "text", n = 8, minHits = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch, s"stream=${got.size} batch=${batch.size}")
    assert(got.nonEmpty) // the relabeled sample guarantees self-hits
  }

  test("streaming PSI drift ≡ the same windowed fold on the batch relation") {
    val lo = 0L; val hi = 500L; val bins = 10
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val refMap = batch.where(col("event_id") % 2 === 0)
      .select(expr(s"least(greatest((floor(value) - ${lo}L) * $bins DIV ${hi - lo}L, 0L), ${bins - 1}L)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refCounts = Seq.tabulate(bins)(i => refMap.getOrElse(i.toLong, 0L))
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
    val psi = GraftStreaming.psiDriftStream(stream, "value", refCounts, lo, hi)
    val q = GraftStreaming.runToMemory(psi, "psi_stream_out", outputMode = "complete")
    assert(q.awaitTermination(120000), "stream did not finish")
    val got = spark.table("psi_stream_out")
      .select(col("window.start").cast("long"), col("n"), col("psi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch twin: the IDENTICAL operator applied to the batch relation
    // (window agg + watermark are no-ops batch-side) — stream ≡ batch
    val batchEv = GraftStreaming.normalizeTs(batch)
    val twin = GraftStreaming.psiDriftStream(
        batchEv.withColumn("event_time", GraftStreaming.eventTime(col("ts"))),
        "value", refCounts, lo, hi)
      .select(col("window.start").cast("long"), col("n"), col("psi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == twin, s"stream=${got.size} batch=${twin.size}")
    assert(got.nonEmpty && got.exists(_._3 > 0.0)) // some window drifts
  }

  test("streaming KS drift ≡ batch twin; identical-to-reference windows score near 0") {
    val lo = 0L; val hi = 500L; val bins = 10
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val refMap = batch // reference = the WHOLE relation: windows are
      // draws from it, so per-window KS stays small but nonzero
      .select(expr(s"least(greatest((floor(value) - ${lo}L) * $bins DIV ${hi - lo}L, 0L), ${bins - 1}L)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refCounts = Seq.tabulate(bins)(i => refMap.getOrElse(i.toLong, 0L))
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
    val ks = GraftStreaming.ksDriftStream(stream, "value", refCounts, lo, hi)
    val q = GraftStreaming.runToMemory(ks, "ks_stream_out", outputMode = "complete")
    assert(q.awaitTermination(120000), "stream did not finish")
    val got = spark.table("ks_stream_out")
      .select(col("window.start").cast("long"), col("n"), col("ks"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val twin = GraftStreaming.ksDriftStream(
        GraftStreaming.normalizeTs(batch)
          .withColumn("event_time", GraftStreaming.eventTime(col("ts"))),
        "value", refCounts, lo, hi)
      .select(col("window.start").cast("long"), col("n"), col("ks"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == twin, s"stream=${got.size} batch=${twin.size}")
    assert(got.nonEmpty)
    assert(got.forall { case (_, _, k) => k >= 0.0 && k <= 1.0 })
  }

  test("streaming binned AUC ≡ batch twin and the batch-exact aucRoc per window") {
    val lo = 0L; val hi = 500L; val bins = 20
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
      .withColumn("is_click", col("event_type") === "click")
    val auc = GraftStreaming.aucStream(stream, "value", "is_click", lo, hi, bins)
    val q = GraftStreaming.runToMemory(auc, "auc_stream_out", outputMode = "complete")
    assert(q.awaitTermination(120000), "stream did not finish")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window.start").cast("long"), col("n_pos"), col("n_neg"),
        col("auc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val got = rows(spark.table("auc_stream_out"))
    val batchEv = GraftStreaming.normalizeTs(batch)
      .withColumn("event_time", GraftStreaming.eventTime(col("ts")))
      .withColumn("is_click", col("event_type") === "click")
    val twin = rows(GraftStreaming.aucStream(batchEv, "value", "is_click",
      lo, hi, bins))
    assert(got == twin, s"stream=${got.size} batch=${twin.size}")
    assert(got.nonEmpty)
    assert(got.forall { case (_, _, _, a) => a.forall(x => x >= 0.0 && x <= 1.0) })
    // the stream's binned fold ≡ the batch-exact Mann-Whitney on the
    // binned score (Eval.aucRoc), checked on the fullest two-class window
    val binExpr = expr(s"least(greatest((floor(value) - ${lo}L) * $bins " +
      s"DIV ${hi - lo}L, 0L), ${bins - 1}L)")
    val candidates = got.filter { case (_, p, n, _) => p > 0 && n > 0 }
    assert(candidates.nonEmpty)
    val (w, _, _, streamAuc) = candidates.maxBy { case (_, p, n, _) => p + n }
    val winEvents = batchEv
      .where(date_trunc("hour", col("event_time")).cast("long") === w)
      .select(binExpr.cast("double").as("score"), col("is_click").as("label"))
    val exact = graft.operators.Eval.aucRoc(winEvents, "score", "label")
      .collect().head.getDouble(2)
    assert(streamAuc.contains(exact),
      s"window $w: stream=$streamAuc exact=$exact")
  }

  test("streaming validation ≡ the same windowed rules on the batch relation") {
    import graft.operators.Validate.{InRange, InSet, NotNull, Unique}
    val rules = Seq(NotNull("props"), InRange("value", 0, 450),
      InSet("event_type", Seq("click", "view")))
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
    val v = GraftStreaming.validateStream(stream, rules)
    val q = GraftStreaming.runToMemory(v, "validate_stream_out", outputMode = "complete")
    assert(q.awaitTermination(120000), "stream did not finish")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window.start").cast("long"), col("rule"), col("col_name"),
        col("violations"), col("n_rows"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val got = canon(spark.table("validate_stream_out"))
    val twin = canon(GraftStreaming.validateStream(
      GraftStreaming.normalizeTs(spark.read.parquet(s"$dir/events.parquet")),
      rules))
    assert(got == twin, s"stream=${got.size} batch=${twin.size}")
    // the range/set rules are violated by construction on this corpus
    assert(got.exists { case (_, r, _, viol, _) => r == "in_set" && viol > 0 })
    // unique rules are rejected with a named contract, not silent state
    val err = intercept[IllegalArgumentException] {
      GraftStreaming.validateStream(stream, Seq(Unique("event_id")))
    }
    assert(err.getMessage.contains("batch-side"))
  }

  test("streaming EWMA: single batch ≡ sequential fold; state carries across batches") {
    import spark.implicits._
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
    val q = GraftStreaming.runToMemory(
      GraftStreaming.ewmaStream(stream, alpha = 0.3), "ewma_stream_out")
    q.awaitTermination(120000)
    val got = spark.table("ewma_stream_out").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // brute-force per-user fold over the batch frame, same order
    val rows = GraftStreaming.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .select("user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val beta = 1 - 0.3
    val expect = rows.groupBy(_._1).map { case (u, rs) =>
      u -> rs.sortBy(r => (r._2, r._3)).map(_._4)
        .reduceLeft((acc, v) => 0.3 * v + beta * acc)
    }
    assert(got.keySet == expect.keySet)
    got.foreach { case (u, y) =>
      assert(y == expect(u), s"user $u: $y != ${expect(u)}") // bit-exact fold
    }

    // two file drops in separate micro-batches: batch-2 snapshot must
    // continue batch 1's state, not restart the recursion
    val tmp = java.nio.file.Files.createTempDirectory("graft-ewma").toString
    Seq((1L, 1L, 100L, "a", 10.0), (1L, 2L, 200L, "a", 20.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    Seq((1L, 3L, 300L, "a", 30.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b1")
    val twoBatch = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val q2 = GraftStreaming.runToMemory(
      GraftStreaming.ewmaStream(twoBatch, alpha = 0.5), "ewma_stream_two")
    q2.awaitTermination(120000)
    val snaps = spark.table("ewma_stream_two").collect()
      .map(r => r.getDouble(1)).sorted.toSeq
    // batch 1: y = 10 -> 0.5*20+0.5*10 = 15; batch 2 continues: 0.5*30+0.5*15 = 22.5
    assert(snaps == Seq(15.0, 22.5), s"got $snaps")
  }

  test("streaming EWMA TTL: a timed-out cold key re-seeds from its next value") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("event_time", org.apache.spark.sql.types.TimestampType)))
    def drop(path: String, rows: Seq[(Long, Long, Long, Double, Long)]): Unit =
      rows.toDF("user_id", "event_id", "ts", "value", "sec")
        .withColumn("event_time", timestamp_seconds(col("sec"))).drop("sec")
        .coalesce(1).write.parquet(path)
    // b0: user 1 seeds. b1: user 2 far in the future advances the
    // watermark. b2: user 3 (no user-1 data → user 1's timeout FIRES,
    // state evicted). b3: user 1 returns → must re-seed, not continue.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ewma-ttl").toString
    drop(s"$tmp/b0", Seq((1L, 1L, 100L, 10.0, 100L)))
    drop(s"$tmp/b1", Seq((2L, 2L, 200L, 5.0, 100000L)))
    drop(s"$tmp/b2", Seq((3L, 3L, 300L, 7.0, 100001L)))
    drop(s"$tmp/b3", Seq((1L, 4L, 400L, 30.0, 100002L)))
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val q = GraftStreaming.runToMemory(
      GraftStreaming.ewmaStream(stream(), alpha = 0.5,
        stateTimeout = Some("60 seconds")), "ewma_ttl_out")
    assert(q.awaitTermination(120000), "stream did not finish")
    val u1 = spark.table("ewma_ttl_out").collect()
      .filter(_.getLong(0) == 1L).map(_.getDouble(1)).sorted.toSeq
    // evicted between b2 and b3 → b3 re-seeds at 30.0 (NOT 0.5*30+0.5*10=20)
    assert(u1 == Seq(10.0, 30.0), s"got $u1")
    // control: same drops, NO timeout → state survives and continues
    val q2 = GraftStreaming.runToMemory(
      GraftStreaming.ewmaStream(stream(), alpha = 0.5), "ewma_ttl_ctrl")
    assert(q2.awaitTermination(120000), "control stream did not finish")
    val c1 = spark.table("ewma_ttl_ctrl").collect()
      .filter(_.getLong(0) == 1L).map(_.getDouble(1)).sorted.toSeq
    assert(c1 == Seq(10.0, 20.0), s"got $c1")
  }

  test("streaming EWMA hot-key cap: folds first N of a key's batch, counts the overflow") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ewma-cap").toString
    (1L to 5L).map(i => (1L, i, i * 100L, "a", i.toDouble))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .parquet(s"$tmp/*")
    val acc = GraftStreaming.ewmaDropCounter(spark)
    val before = acc.value
    val q = GraftStreaming.runToMemory(
      GraftStreaming.ewmaStream(stream, alpha = 0.5,
        maxRowsPerKeyPerBatch = 3), "ewma_cap_out")
    assert(q.awaitTermination(120000), "stream did not finish")
    val got = spark.table("ewma_cap_out").collect().map(_.getDouble(1)).toSeq
    // first 3 in (ts, event_id) order: 1 -> 1.5 -> 2.25; rows 4,5 dropped
    assert(got == Seq(2.25), s"got $got")
    assert(acc.value - before == 2L, s"dropped ${acc.value - before}")
  }

  test("streaming: dedup within watermark") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream2").toString
    val ev = spark.read.parquet(s"$dir/events.parquet").limit(100)
    ev.union(ev).write.mode("overwrite").parquet(tmp) // duplicate every event
    val stream = GraftStreaming.readEvents(spark, tmp)
    val deduped = GraftStreaming.dedupStream(stream, Seq("event_id"), "2 hours")
    val q = GraftStreaming.runToMemory(deduped, "dedup_out")
    q.awaitTermination(60000)
    assert(spark.table("dedup_out").count() == 100)
  }

  test("imageNearDup: identical payloads pair at hamming 0; perturbed stay near; distinct stay apart") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").where(length(col("text")) > 200).limit(10)
    val base = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    // 9001 = exact copy of doc A; 9002 = doc A with ONE character changed
    // (a few pooled cells move slightly -> few sign flips)
    val a = base(0)._2
    val perturbed = a.updated(a.length / 2, if (a(a.length / 2) == 'x') 'y' else 'x')
    val corpus = (base :+ (9001L, a) :+ (9002L, perturbed)).toSeq
      .toDF("doc_id", "text")
    val framed = graft.operators.Multimodal.withImagePayload(corpus, "text")
    val exact = graft.operators.Multimodal.imageNearDup(
      framed, "doc_id", "content", dim = 8, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((base(0)._1, 9001L)), s"exact copy not found in $exact")
    // unrelated documents never collide at hamming 0 (9001/9002 are the
    // planted copy family — a 1-char perturbation MAY land at hamming 0,
    // which is exactly what a perceptual hash is for)
    val family = Set(base(0)._1, 9001L, 9002L)
    assert(exact.forall { case (l, r) =>
      (family.contains(l) && family.contains(r)) || {
        val texts = corpus.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
        texts(l) == texts(r)
      }
    }, s"unrelated collision in $exact")
    // the one-char perturbation sits within a small hamming ball of A
    val near = graft.operators.Multimodal.imageNearDup(
      framed, "doc_id", "content", dim = 8, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val k9002 = near.get((base(0)._1, 9002L)).orElse(near.get((9001L, 9002L)))
    assert(k9002.exists(_ <= 3), s"perturbed copy not near: $near")
  }

  test("ImageIO decode: a PNG and a JPEG of the same raster pool to the same luma grid and pair in imageNearDup") {
    import spark.implicits._
    val M = graft.operators.Multimodal
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(6)
    val png = M.withEncodedImagePayload(docs, "text", "png")
    val jpg = M.withEncodedImagePayload(
      docs.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
      "text", "jpeg")

    // kernel-level: the decoded 8×8 luma grid matches the generator's
    // cell pattern exactly for PNG, and within JPEG DC-quantization
    // noise for the re-encode — far inside the 16-level margin
    val pRow = png.select("text", "content").head()
    val pGrid = M.ImageCodec.features(pRow.getAs[Array[Byte]](1), 64)
    val want = M.cellLevels(pRow.getString(0), 8)
      .map(l => (l * 16 + 8) / 255.0f)
    pGrid.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-3, s"png grid off: $g vs $w") }
    val jBytes = jpg.select("text", "content").collect()
      .find(_.getString(0) == pRow.getString(0)).get.getAs[Array[Byte]](1)
    val jGrid = M.ImageCodec.features(jBytes, 64)
    pGrid.zip(jGrid).foreach { case (p, j) =>
      assert(math.abs(p - j) < 4.0 / 255.0, s"jpeg grid drifted: $p vs $j") }

    // operator-level: every (png, jpeg) twin pairs inside the small ball
    val pairs = M.imageNearDup(png.unionByName(jpg), "doc_id", "content",
        dim = 8, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.keys.foreach { id =>
      assert(pairs.contains((id, id + 500000L)), s"twin of $id missing: $pairs") }
    // no cross-document collisions unless the TEXTS are equal
    val allTexts = texts ++ texts.map { case (k, v) => (k + 500000L, v) }
    assert(pairs.forall { case (l, r) => allTexts(l) == allTexts(r) },
      s"unrelated collision: $pairs")
  }

  test("ImageIO decode guard: a header declaring a poison-sized raster skips the decode and byte-pools") {
    val M = graft.operators.Multimodal
    // a REAL PNG signature + IHDR declaring 60000×60000 (3.6G pixels —
    // ImageIO would allocate the raster before decoding a byte), tiny body
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    val poison = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A,
      0x1A, 0x0A) ++ be32(13) ++ "IHDR".getBytes("US-ASCII") ++
      be32(60000) ++ be32(60000) ++
      Array[Byte](8, 2, 0, 0, 0) ++ be32(0) ++
      Array.fill[Byte](64)(7) // junk "body"
    val (w, h, c, f) = M.ImageCodec.probe(poison)
    assert((w, h, c, f) == (60000, 60000, 3, "png")) // header still probes
    assert(60000L * 60000L > M.ImageCodec.MaxDecodePixels)
    val got = M.ImageCodec.features(poison, 64)
    val pooled = M.poolBytes(poison, 33, 64) // raster offset after IHDR+CRC
    assert(got.toSeq == pooled.toSeq,
      "poison header must take the bounded byte-pooling path")

    // GIF frame-descriptor bypass: logical screen 1×1 (passes the cheap
    // header pre-gate) but the FRAME declares 60000×60000 — ImageIO
    // sizes the raster from the frame, so the guard must bound the
    // DECODER's declared dims, not our byte-walk probe's
    def le16(v: Int) = Array[Byte]((v & 0xFF).toByte, (v >> 8).toByte)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      le16(1) ++ le16(1) ++ Array[Byte](0, 0, 0) ++ // 1×1 screen, no GCT
      Array[Byte](0x2C) ++ le16(0) ++ le16(0) ++ // image descriptor
      le16(60000) ++ le16(60000) ++ Array[Byte](0) ++
      Array[Byte](2, 1, 0, 0) ++ Array[Byte](0x3B) // stub LZW + trailer
    val (gw, gh, _, gf) = M.ImageCodec.probe(gif)
    assert((gw, gh, gf) == (1, 1, "gif")) // the probe sees the screen
    val gifGot = M.ImageCodec.features(gif, 64)
    val gifPooled = M.poolBytes(gif, 13, 64) // raster after the 13-byte LSD
    assert(gifGot.toSeq == gifPooled.toSeq,
      "oversized GIF frame must fall back to byte pooling")
  }

  test("streaming heavy hitters: single batch ≡ batch top-k; sketch state accumulates across micro-batches") {
    import spark.implicits._
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
    val agg = GraftStreaming.heavyHittersStream(stream, col("event_type"), 64, 3)
    val q = GraftStreaming.runToMemory(agg, "hh_stream_out", outputMode = "complete")
    q.awaitTermination(120000)
    val got = spark.table("hh_stream_out").select(explode(col("__hh")).as("e"))
      .select(col("e.item"), col("e.cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").count()
      .orderBy(desc("count"), col("event_type")).limit(3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == batch, s"stream=$got batch=$batch")

    // two file drops forced into separate micro-batches: the complete-
    // mode result after batch 2 must count BOTH batches (one sketch row
    // of state carried in the state store)
    val tmp = java.nio.file.Files.createTempDirectory("graft-hhstream").toString
    Seq("x", "x", "x", "y").toDF("w").coalesce(1).write.parquet(s"$tmp/b0")
    Seq("x", "x", "z", "z", "z", "z").toDF("w").coalesce(1).write.parquet(s"$tmp/b1")
    val twoBatch = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val agg2 = GraftStreaming.heavyHittersStream(twoBatch, col("w"), 8, 3)
    val q2 = GraftStreaming.runToMemory(agg2, "hh_stream_two", outputMode = "complete")
    q2.awaitTermination(120000)
    val acc = spark.table("hh_stream_two").select(explode(col("__hh")).as("e"))
      .select(col("e.item"), col("e.cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(acc == Seq(("x", 5L), ("z", 4L), ("y", 1L)), s"got $acc")
  }

  test("compactUpdateDrain: a multi-batch update-mode drain is a changelog; compaction recovers the batch aggregate") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-upd").toString
    val h = 3600L * 1000000000L // one hour in ns
    // batch 0: window 0 gets x,x,y; batch 1 grows window 0's x (forcing a
    // re-emission) and opens window 1 with z
    Seq((1L, "x", 1.0, 1L), (2L, "x", 2.0, 2L), (3L, "y", 3.0, 3L))
      .toDF("event_id", "event_type", "value", "ts")
      .coalesce(1).write.parquet(s"$tmp/b0")
    Seq((4L, "x", 4.0, 4L), (5L, "z", 5.0, h + 5L))
      .toDF("event_id", "event_type", "value", "ts")
      .coalesce(1).write.parquet(s"$tmp/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
      .withColumn("event_time", GraftStreaming.eventTime(col("ts")))
    val agg = GraftStreaming.windowedCounts(stream,
      watermark = "1 hour", window_ = "1 hour")
    val q = GraftStreaming.runToMemory(agg, "upd_compact_out", "update")
    q.awaitTermination(120000)
    val drained = spark.table("upd_compact_out")
    // the changelog really re-emitted window 0's x (2 rows for one key)
    assert(drained.count() > drained.select("window", "event_type")
      .distinct().count(), "expected a re-emission in the changelog")
    val got = GraftStreaming.compactUpdateDrain(drained,
        Seq("window", "event_type"), "n")
      .select(col("window.start").cast("long").as("w"), col("event_type"),
        col("n"), col("total"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      (0L, "x") -> (3L, 7.0), (0L, "y") -> (1L, 3.0),
      (3600L, "z") -> (1L, 5.0)), s"got $got")
  }

  test("latestStream: single batch ≡ batch latestByKey; emits only on change across batches") {
    import spark.implicits._
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
    val q = GraftStreaming.runToMemory(
      GraftStreaming.latestStream(stream), "latest_stream_out")
    q.awaitTermination(120000)
    val got = spark.table("latest_stream_out")
      .select("userId", "eventId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(desc("ts"), desc("event_id"))))
      .where(col("rn") === 1).select("user_id", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch)

    // two file drops in separate micro-batches: batch 2 carries a newer
    // event for user 1 (emitted) and an OLDER one for user 2 (absorbed
    // silently) — output is the minimal update changelog
    val tmp = java.nio.file.Files.createTempDirectory("graft-latest").toString
    Seq((1L, 10L, 100L, "a", 1.0), (2L, 20L, 100L, "b", 2.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    Seq((1L, 11L, 200L, "a2", 3.0), (2L, 19L, 50L, "stale", 4.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b1")
    val twoBatch = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val q2 = GraftStreaming.runToMemory(
      GraftStreaming.latestStream(twoBatch), "latest_stream_two")
    q2.awaitTermination(120000)
    val updates = spark.table("latest_stream_two")
      .select("userId", "eventId").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // 3 emissions total: both keys in batch 1, only user 1 in batch 2
    assert(updates == Seq((1L, 10L), (1L, 11L), (2L, 20L)), s"got $updates")
  }

  test("streaming budget admission ≡ batch budgetSample in one batch; quota binds across batches") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("n_tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    val stream = GraftStreaming.readDocumentsGlob(spark, dir, "documents.parquet")
      .withColumn("n_tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    val adm = GraftStreaming.budgetAdmitStream(stream, "lang", "doc_id",
      "n_tokens", budget = 800L)
    val q = GraftStreaming.runToMemory(adm, "budget_admit_out")
    q.awaitTermination(120000)
    val got = spark.table("budget_admit_out")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.operators.Sampling.budgetSample(
      docs.select("lang", "doc_id", "n_tokens"),
      "lang", "doc_id", "n_tokens", 800L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == batch, s"stream=${got.size} batch=${batch.size}")

    // two file drops forced into separate micro-batches: the first
    // exhausts the quota, the second must admit nothing
    val tmp = java.nio.file.Files.createTempDirectory("graft-badmit").toString
    val mk = (ids: Seq[Long]) => ids.map(i => (i, "ten tokens " * 5, "a", "s", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    mk(Seq(1L, 2L)).write.parquet(s"$tmp/b0")
    mk(Seq(3L, 4L)).write.parquet(s"$tmp/b1")
    val twoBatch = spark.readStream.schema(GraftStreaming.documentsSchema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$tmp/*")
      .withColumn("event_time", timestamp_seconds(col("doc_id") + 86400L))
      .withColumn("n_tokens", lit(100L))
    val adm2 = GraftStreaming.budgetAdmitStream(twoBatch, "lang", "doc_id",
      "n_tokens", budget = 150L)
    val q2 = GraftStreaming.runToMemory(adm2, "budget_admit_two")
    q2.awaitTermination(120000)
    // used hits 200 >= 150 inside the first batch → later batches admit 0
    val admitted = spark.table("budget_admit_two")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted.size == 2 && admitted.forall(_ <= 2L), s"got $admitted")
  }

  test("streaming Holt: single pass ≡ batch holtSmooth; state carries across batches") {
    import spark.implicits._
    val stream = GraftStreaming.readEventsGlob(spark, dir, "events.parquet")
    val q = GraftStreaming.runToMemory(
      GraftStreaming.holtStream(stream, alpha = 0.5, beta = 0.25),
      "holt_stream_out")
    q.awaitTermination(120000)
    val got = spark.table("holt_stream_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    // batch twin with a covering history bound: bit-identical fold
    val twin = graft.operators.WindowOps.holtSmooth(
        GraftStreaming.normalizeTs(
          spark.read.parquet(s"$dir/events.parquet")),
        Seq("user_id"), Seq("ts", "event_id"), "value", 0.5, 0.25,
        maxHistory = 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(got.keySet == twin.keySet)
    got.foreach { case (u, s) =>
      assert(s == twin(u), s"user $u: $s != ${twin(u)}")
    }

    // two micro-batches: the (level, trend, n) state must continue,
    // not re-initialize on batch 2
    val tmp = java.nio.file.Files.createTempDirectory("graft-holt").toString
    Seq((1L, 1L, 100L, "a", 1.0), (1L, 2L, 200L, "a", 2.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    Seq((1L, 3L, 300L, "a", 4.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b1")
    val twoBatch = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val q2 = GraftStreaming.runToMemory(
      GraftStreaming.holtStream(twoBatch, alpha = 0.5, beta = 0.25),
      "holt_stream_two")
    q2.awaitTermination(120000)
    val snaps = spark.table("holt_stream_two").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // batch 1: (l=1, t=1, n=2); batch 2 continues: l'=0.5*4+0.5*2=3,
    // t'=0.25*2+0.75*1=1.25 — a restart would give t=0
    assert(snaps == Seq((2L, 1.0, 1.0), (3L, 3.0, 1.25)), s"got $snaps")
  }

  test("streaming Holt hot-key cap: folds first N in order, counts overflow") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-holtcap").toString
    (1L to 5L).map(i => (1L, i, i * 100L, "a", i.toDouble))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$tmp/b0")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
      .parquet(s"$tmp/*")
    val acc = GraftStreaming.streamDropCounter(spark)
    val before = acc.value
    val q = GraftStreaming.runToMemory(
      GraftStreaming.holtStream(stream, alpha = 0.5, beta = 0.25,
        maxRowsPerKeyPerBatch = 3), "holt_cap_out")
    assert(q.awaitTermination(120000), "stream did not finish")
    val got = spark.table("holt_cap_out").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    // first 3 of 5 fold: l1=1,n=1 -> t2=1,l=1 -> l3=0.5*3+0.5*2=2.5,
    // t3=0.25*1.5+0.75*1=1.125; rows 4,5 dropped and counted
    assert(got == Seq((3L, 2.5, 1.125)), s"got $got")
    assert(acc.value - before == 2L, s"dropped ${acc.value - before}")
  }

  test("streaming canonicalization excludes NULL ids exactly as SQL min() does") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-canonnull").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // a NULL id arrives FIRST for the fingerprint — without the filter
    // it unboxes to 0L and crowns a fabricated winner
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(null, "same text here"),
        org.apache.spark.sql.Row(7L, "same text here"))), schema)
      .coalesce(1).write.parquet(s"$tmp/b0")
    val stream = spark.readStream.schema(schema).parquet(s"$tmp/*")
    val q = GraftStreaming.runToMemory(
      GraftStreaming.canonicalStream(stream, "doc_id", "text"),
      "canon_null_out")
    assert(q.awaitTermination(60000), "stream did not finish")
    val ids = spark.table("canon_null_out").collect()
      .map(_.getLong(1)).toSeq
    assert(ids == Seq(7L), s"got $ids")
  }

  test("probeEachBatch: multi-batch BM25 serving drain ≡ one batch probe") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(200)
    graft.operators.TextAnalysis.buildBm25Index(
      corpus, "doc_id", "text", "bm25_probe_spec", buckets = 4)
    // two files -> two micro-batches under maxFilesPerTrigger=1: the
    // drain must equal ONE batch probe of the union (disjoint ids are
    // each scored once, by the batch they arrived in)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-pb").toString
    val qdocs = corpus.where(col("doc_id") < 6)
    qdocs.where(col("doc_id") < 3).coalesce(1).write.parquet(s"$tmp/b0")
    qdocs.where(col("doc_id") >= 3).coalesce(1).write.parquet(s"$tmp/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$tmp/*")
    val out = java.nio.file.Files
      .createTempDirectory("graft-bm25-pb-out").toString
    val q = GraftStreaming.probeEachBatch(stream, out)(b =>
      graft.operators.TextAnalysis.bm25AgainstIndex(
        spark, "bm25_probe_spec", b, "doc_id", "text", topK = 5))
    assert(q.awaitTermination(120000), "stream did not finish")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "doc_id", "bm25").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val drained = canon(spark.read.parquet(out))
    val single = canon(graft.operators.TextAnalysis.bm25AgainstIndex(
      spark, "bm25_probe_spec", qdocs, "doc_id", "text", topK = 5))
    assert(drained.nonEmpty)
    assert(drained == single,
      s"drained=${drained.size} single=${single.size}")
  }
}
