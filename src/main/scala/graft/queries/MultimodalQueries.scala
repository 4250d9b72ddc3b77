package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal}

import Glue._

/** Query records of the multimodal: `Multimodal` (image, audio and video).
  * */
object MultimodalQueries {

  val all: Seq[Q] = Seq(
    // multimodal: synthesize a real binary-PPM payload, re-PARSE its
    // header from the bytes (probeImages → ImageCodec), then resize-meta.
    // The oracle recomputes width/height from the text length and the
    // resize math — a hash match proves the byte-level header parse
    // round-trips the synthesis exactly.
    // perceptual image dedup: planted byte-identical images (copies of
    // the same source text through the deterministic PPM framing) must
    // pair at hamming 0 through decode → pooled grid → dHash → the
    // simhash pigeonhole machinery; the generator is text-deterministic,
    // so the oracle is text equality over the planted corpus
    Q("q_image_dedup", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val copies = docs.where(col("doc_id") < 15)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
      val framed = Multimodal.withImagePayload(docs.unionAll(copies), "text")
      Multimodal.imageNearDup(framed, "doc_id", "content",
        dim = 8, maxHamming = 0)
        .orderBy("id_l", "id_r")
    },
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 500000, text FROM documents WHERE doc_id < 15)
        |SELECT a.doc_id AS id_l, b.doc_id AS id_r, 0 AS hamming
        |FROM all_docs a JOIN all_docs b
        |  ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY id_l, id_r""".stripMargin),

    // multimodal, real-codec leg: the SAME deterministic raster encoded
    // once as PNG and once as JPEG (javax.imageio both ways) must pair
    // inside a small hamming ball through the REAL pixel decode → luma
    // grid → dHash — the cross-container promise the byte path cannot
    // make. The raster is text-deterministic, so the oracle is text
    // equality over the planted corpus (q_image_dedup's pattern); the
    // hamming value itself is codec-noise-dependent and stays out of
    // the compared columns. maxHamming = 3 is the largest radius the
    // 4x16-bit pigeonhole banding FULLY recalls (hamming <= 3 => one
    // chunk equal — hammingNearDupFromSig's contract); the planted
    // twins land at hamming 0 with a 16/255 cell margin vs <~2/255
    // JPEG DC noise, so the radius is slack, not load-bearing
    Q("q_image_dedup2", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 120)
      val png = Multimodal.withEncodedImagePayload(docs, "text", "png",
        minPartitions = Some(s.sparkContext.defaultParallelism))
      val jpg = Multimodal.withEncodedImagePayload(
        docs.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
        "text", "jpeg", minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.imageNearDup(png.unionByName(jpg), "doc_id", "content",
          dim = 8, maxHamming = 3)
        .select("id_l", "id_r")
        .orderBy("id_l", "id_r")
    },
      // every doc's PNG pairs with its JPEG twin (same raster, two
      // codecs); equal TEXTS pair across ids too — the raster is a pure
      // function of the text, so text equality is the full ground truth
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
        |all_docs AS (SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 500000, text FROM d)
        |SELECT a.doc_id AS id_l, b.doc_id AS id_r
        |FROM all_docs a JOIN all_docs b
        |  ON a.text = b.text AND a.doc_id < b.doc_id
        |ORDER BY id_l, id_r""".stripMargin),

    // PERSISTED perceptual image dedup — the ingest-time face: the
    // corpus (PNG containers) is decoded + dHashed ONCE into the
    // hamming index, then a JPEG batch of re-encoded twins probes it
    // at its own decode cost only. Every batch image must match its
    // corpus original CROSS-CONTAINER (real pixel decode, radius 3 =
    // the pigeonhole full-recall bound); the raster is text-
    // deterministic, so the oracle is text equality
    Q("q_image_index", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 100)
      val corpus = Multimodal.withEncodedImagePayload(docs, "text", "png",
        minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.buildImageDupIndex(corpus, "doc_id", "content",
        "graft_img_idx", dim = 8, buckets = 8)
      val batch = Multimodal.withEncodedImagePayload(
        docs.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
        "text", "jpeg", minPartitions = Some(s.sparkContext.defaultParallelism))
      Multimodal.imageDupAgainstIndex(s, "graft_img_idx", batch,
          "doc_id", "content", dim = 8, maxHamming = 3)
        .select("corpus_id", "batch_id")
        .orderBy("corpus_id", "batch_id")
    },
      // every JPEG twin must find its PNG original: text equality over
      // the planted corpus IS the cross-container ground truth
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100)
        |SELECT c.doc_id AS corpus_id, b.doc_id + 500000 AS batch_id
        |FROM d c JOIN d b ON c.text = b.text
        |ORDER BY corpus_id, batch_id""".stripMargin),

    // image dedup CLUSTERS: the near-dup pair relation (decode → dHash
    // → banded hamming) closed into connected components — three
    // planted framings of each text form one clique, so the component
    // label is the min id of the text-equal group (the
    // duplicateClusters composition the text family already has,
    // applied to the image signature path)
    Q("q_image_clusters", (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 60)
      val all = docs
        .unionByName(docs.select((col("doc_id") + 500000L).as("doc_id"),
          col("text")))
        .unionByName(docs.select((col("doc_id") + 600000L).as("doc_id"),
          col("text")))
      val framed = Multimodal.withImagePayload(all, "text")
      val pairs = Multimodal.imageNearDup(framed, "doc_id", "content",
        dim = 8, maxHamming = 0)
      Dedup.duplicateClusters(pairs, "id_l", "id_r")
        .orderBy("node")
    },
      // clusters = text-equality components over the planted corpus:
      // label = min id of each text group, singleton groups excluded
      // (duplicateClusters emits only nodes that appear in some pair)
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
        |all_docs AS (SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 500000, text FROM d
        |  UNION ALL SELECT doc_id + 600000, text FROM d),
        |comp AS (SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY text) AS label,
        |    count(*) OVER (PARTITION BY text) AS n
        |  FROM all_docs)
        |SELECT doc_id AS node, label FROM comp WHERE n >= 2
        |ORDER BY node""".stripMargin),

    Q("q_multimodal", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withImagePayload(docs, "text")
      val probed = Multimodal.probeImages(mm.repartition(8), "content")
      Multimodal.resizeMeta(probed, "probed_meta", 256, 256)
        .select(col("doc_id"),
          col("probed_meta.width").as("width"),
          col("probed_meta.height").as("height"),
          col("resized_meta.width").as("rs_width"),
          col("resized_meta.height").as("rs_height"))
        .orderBy("doc_id")
    },
      """WITH m AS (SELECT doc_id,
        |    CAST(64 + (len(text) * 7) % 1921 AS INT) AS width,
        |    CAST(64 + (len(text) * 13) % 1081 AS INT) AS height
        |  FROM documents),
        |r AS (SELECT doc_id, width, height,
        |    least(256.0 / width, 256.0 / height, 1.0) AS sc FROM m)
        |SELECT doc_id, width, height,
        |  CAST(round(width * sc) AS INT) AS rs_width,
        |  CAST(round(height * sc) AS INT) AS rs_height
        |FROM r ORDER BY doc_id""".stripMargin),

    // multimodal image, compressed-container leg: a REAL PNG signature +
    // IHDR chunk assembled byte-for-byte (big-endian dims, truecolor),
    // re-parsed from the bytes by the PNG header probe; the oracle
    // recomputes the dimension arithmetic from the text length. JPEG's
    // SOF marker walk is spec-covered (handcrafted + fuzzed payloads).
    Q("q_image2", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withPngPayload(docs, "text")
      Multimodal.probeImages(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_meta.width").as("width"),
          col("probed_meta.height").as("height"),
          col("probed_meta.channels").as("channels"),
          col("probed_meta.format").as("format"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(16 + (len(text) * 5) % 1009 AS INT) AS width,
        |  CAST(16 + (len(text) * 11) % 737 AS INT) AS height,
        |  3 AS channels, 'png' AS format
        |FROM documents ORDER BY doc_id""".stripMargin),

    // multimodal audio: REAL RIFF/WAVE header synthesis (byte-exact LE
    // fields from expressions) round-tripped through the byte parser;
    // oracle recomputes the header arithmetic from the text byte length
    Q("q_audio", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withAudioPayload(docs, "text")
      val probed = Multimodal.probeAudio(mm.repartition(8), "content")
      Multimodal.frameSampleMeta(probed, "probed_audio", 4)
        .select(col("doc_id"),
          col("probed_audio.sample_rate").as("sample_rate"),
          col("probed_audio.channels").as("channels"),
          col("probed_audio.n_samples").as("n_samples"),
          col("sampled_meta.sample_rate").as("fs_rate"),
          col("sampled_meta.n_samples").as("fs_samples"))
        .orderBy("doc_id")
    },
      """WITH m AS (SELECT doc_id,
        |    CAST(8000 + (strlen(text) * 7) % 36001 AS INT) AS sample_rate,
        |    CAST(1 + strlen(text) % 2 AS INT) AS channels,
        |    strlen(text) AS ds FROM documents),
        |s AS (SELECT doc_id, sample_rate, channels,
        |    CAST(ds // (channels * 2) AS BIGINT) AS n_samples FROM m)
        |SELECT doc_id, sample_rate, channels, n_samples,
        |  CAST(sample_rate // 4 AS INT) AS fs_rate,
        |  CAST((n_samples + 3) // 4 AS BIGINT) AS fs_samples
        |FROM s ORDER BY doc_id""".stripMargin),

    // multimodal video: real Y4M stream synthesis (header + FRAME
    // sections) frame-COUNTED back by the chunk-walking parser; oracle
    // recomputes dimensions/frame count from the text byte length
    Q("q_video", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withVideoPayload(docs, "text")
      val probed = Multimodal.probeVideo(mm.repartition(8), "content")
      Multimodal.videoFrameSamplePlan(probed, "probed_video",
          everyN = 2, maxFrames = 3)
        .select(col("doc_id"),
          col("probed_video.width").as("width"),
          col("probed_video.fps_num").as("fps_num"),
          col("probed_video.n_frames").as("n_frames"),
          size(col("sampled_frames")).as("n_sampled"))
        .orderBy("doc_id")
    },
      """WITH m AS (SELECT doc_id,
        |    CAST(24 + strlen(text) % 7 AS INT) AS fps_num,
        |    CAST(1 + strlen(text) % 5 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT doc_id, 4 AS width, fps_num, n_frames,
        |  CAST(least(n_frames - 1, 4) // 2 + 1 AS INT) AS n_sampled
        |FROM m ORDER BY doc_id""".stripMargin),

    // multimodal audio, compressed-container leg: a REAL MPEG1 Layer
    // III frame sequence (ID3v2 tag skipped via its syncsafe size,
    // then frames counted at their computed bitrate/samplerate stride)
    // walked back by the byte parser; the oracle recomputes the header
    // arithmetic — rate/channel tables and frames×1152 samples — from
    // the text byte length
    Q("q_audio2", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withMp3Payload(docs, "text")
      Multimodal.probeAudio(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_audio.sample_rate").as("sample_rate"),
          col("probed_audio.channels").as("channels"),
          col("probed_audio.bits").as("bits"),
          col("probed_audio.n_samples").as("n_samples"),
          col("probed_audio.format").as("format"))
        .orderBy("doc_id")
    },
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST([44100, 48000, 32000][CAST(ds % 3 AS INT) + 1] AS INT)
        |    AS sample_rate,
        |  CAST(1 + ds % 2 AS INT) AS channels,
        |  0 AS bits,
        |  CAST((1 + ds % 5) * 1152 AS BIGINT) AS n_samples,
        |  'mp3' AS format
        |FROM m ORDER BY doc_id""".stripMargin),

    // REAL audio signal analysis: energy (Σ s²), zero-crossing count
    // and peak over the signed 16-bit PCM sample stream — the classic
    // cheap speech/music/noise discriminators, computed EXACTLY in
    // integers (no float leaves the kernel). The PCM data is
    // md5-derived bytes (full 0–255 range → real negative samples and
    // crossings, unlike ASCII text), so the oracle replays every
    // sample from the hex-pair arithmetic and the result hash-matches
    Q("q_audio3", (s, dir) => {
      val docs = table(s, dir, "documents")
      val r = lit(2) + pmod(length(col("text")), lit(5))
      val src = docs.select(col("doc_id"),
        unhex(repeat(md5(col("text")), r)).as("pcm"))
      val mm = Multimodal.withAudioPayload(src, "pcm")
      Multimodal.audioStats(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("pcm_stats.n_samples").as("n_samples"),
          col("pcm_stats.sum_sq").as("sum_sq"),
          col("pcm_stats.zero_crossings").as("zero_crossings"),
          col("pcm_stats.peak").as("peak"))
        .orderBy("doc_id")
    }, {
      // every sample replayed from the md5 hex pairs: byte = h1*16+h2
      // (the md5Long48 ascii arithmetic), sample = lo + 256*hi signed,
      // then exact integer energy / crossings / peak per doc
      def hv(pos: String) =
        s"(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
          s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
          s"ELSE ascii(substr(hx, $pos, 1)) - 48 END)"
      s"""WITH m AS (SELECT doc_id, md5(text) AS h,
         |    2 + strlen(text) % 5 AS r FROM documents),
         |hx AS (SELECT doc_id, repeat(h, CAST(r AS INT)) AS hx,
         |    8 * r AS n FROM m),
         |smp AS (SELECT doc_id,
         |    unnest(range(1, CAST(n + 1 AS BIGINT))) AS i FROM hx),
         |raw AS (SELECT s.doc_id, s.i,
         |    (${hv("4*s.i-3")} * 16 + ${hv("4*s.i-2")})
         |    + 256 * (${hv("4*s.i-1")} * 16 + ${hv("4*s.i")}) AS rv
         |  FROM smp s JOIN hx USING (doc_id)),
         |sgn AS (SELECT doc_id, i,
         |    CASE WHEN rv >= 32768 THEN rv - 65536 ELSE rv END AS sv
         |  FROM raw),
         |lagd AS (SELECT doc_id, i, sv,
         |    lag(sv) OVER (PARTITION BY doc_id ORDER BY i) AS pv
         |  FROM sgn)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(sum(CAST(sv AS BIGINT) * sv) AS BIGINT) AS sum_sq,
         |  CAST(sum(CASE WHEN pv IS NOT NULL
         |    AND ((sv < 0) <> (pv < 0)) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS zero_crossings,
         |  CAST(max(abs(sv)) AS INT) AS peak
         |FROM lagd GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // ID3v2 tag extraction: the TIT2/TPE1 text frames parsed back out
    // of real tag bytes — title/artist are the join keys audio
    // curation dedups and caps on; absent frames (TALB here) read
    // NULL. The fixture strings derive from the doc text, so the
    // oracle recomputes exactly what the frame walk must decode
    Q("q_audio5", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withMp3TagPayload(docs, "text")
      Multimodal.audioTags(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("tags.title").as("title"),
          col("tags.artist").as("artist"),
          col("tags.album").as("album"))
        .orderBy("doc_id")
    },
      // the tag strings recomputed from the text
      """SELECT doc_id,
        |  'T' || substr(text, 1, 8) AS title,
        |  'A' || CAST(strlen(text) % 100 AS VARCHAR) AS artist,
        |  CAST(NULL AS VARCHAR) AS album
        |FROM documents ORDER BY doc_id""".stripMargin),

    // windowed PCM energy → silence profile: the dead-air / truncated-
    // upload curation gate — 4-sample blocks, exact long energies,
    // silent iff energy < 1.2e9 (≈ the md5-uniform expectation, so
    // both classes occur); the oracle replays every sample and the
    // same window grouping
    Q("q_audio4", (s, dir) => {
      val docs = table(s, dir, "documents")
      val r = lit(2) + pmod(length(col("text")), lit(5))
      val src = docs.select(col("doc_id"),
        unhex(repeat(md5(col("text")), r)).as("pcm"))
      val mm = Multimodal.withAudioPayload(src, "pcm")
      Multimodal.audioSilence(mm.repartition(8), "content",
          window = 4, threshold = 1200000000L)
        .select(col("doc_id"),
          col("silence.n_windows").as("n_windows"),
          col("silence.n_silent").as("n_silent"),
          col("silence.max_window_energy").as("max_window_energy"))
        .orderBy("doc_id")
    }, {
      // q_audio3's sample replay with a window grouping on top
      def hv(pos: String) =
        s"(CASE WHEN ascii(substr(hx, $pos, 1)) >= 97 " +
          s"THEN ascii(substr(hx, $pos, 1)) - 87 " +
          s"ELSE ascii(substr(hx, $pos, 1)) - 48 END)"
      s"""WITH m AS (SELECT doc_id, md5(text) AS h,
         |    2 + strlen(text) % 5 AS r FROM documents),
         |hx AS (SELECT doc_id, repeat(h, CAST(r AS INT)) AS hx,
         |    8 * r AS n FROM m),
         |smp AS (SELECT doc_id,
         |    unnest(range(1, CAST(n + 1 AS BIGINT))) AS i FROM hx),
         |raw AS (SELECT s.doc_id, s.i,
         |    (${hv("4*s.i-3")} * 16 + ${hv("4*s.i-2")})
         |    + 256 * (${hv("4*s.i-1")} * 16 + ${hv("4*s.i")}) AS rv
         |  FROM smp s JOIN hx USING (doc_id)),
         |sgn AS (SELECT doc_id, i,
         |    CASE WHEN rv >= 32768 THEN rv - 65536 ELSE rv END AS sv
         |  FROM raw),
         |win AS (SELECT doc_id, CAST((i - 1) // 4 AS BIGINT) AS w,
         |    CAST(sum(CAST(sv AS BIGINT) * sv) AS BIGINT) AS e
         |  FROM sgn GROUP BY doc_id, CAST((i - 1) // 4 AS BIGINT))
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN e < 1200000000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_silent,
         |  CAST(max(e) AS BIGINT) AS max_window_energy
         |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // multimodal video, ISO-BMFF leg: a REAL minimal MP4 box tree
    // (ftyp/moov/trak/mdia/stbl, 16.16 tkhd dims, mdhd timescale, stts
    // sample table; mvhd carries a DECOY timescale) box-walked back by
    // the byte parser; the oracle recomputes every field from the text
    // byte length
    Q("q_video2", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withMp4Payload(docs, "text")
      Multimodal.probeVideo(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_video.width").as("width"),
          col("probed_video.height").as("height"),
          col("probed_video.fps_num").as("fps_num"),
          col("probed_video.fps_den").as("fps_den"),
          col("probed_video.n_frames").as("n_frames"),
          col("probed_video.format").as("format"))
        .orderBy("doc_id")
    },
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST(16 + (ds * 3) % 601 AS INT) AS width,
        |  CAST(16 + (ds * 7) % 401 AS INT) AS height,
        |  CAST(600 + (ds * 11) % 29401 AS INT) AS fps_num,
        |  CAST(1 + ds % 1000 AS INT) AS fps_den,
        |  CAST(1 + ds % 2000 AS BIGINT) AS n_frames,
        |  'mp4' AS format
        |FROM m ORDER BY doc_id""".stripMargin),

    // multimodal video, EBML leg: a REAL WebM element tree (DocType,
    // TrackEntry DefaultDuration → the nominal-fps ratio, Video dims,
    // SimpleBlocks counted across Clusters) EBML-walked back by the
    // byte parser; oracle recomputes from the text byte length
    Q("q_video3", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withWebmPayload(docs, "text")
      Multimodal.probeVideo(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("probed_video.width").as("width"),
          col("probed_video.height").as("height"),
          col("probed_video.fps_num").as("fps_num"),
          col("probed_video.fps_den").as("fps_den"),
          col("probed_video.n_frames").as("n_frames"),
          col("probed_video.format").as("format"))
        .orderBy("doc_id")
    },
      """WITH m AS (SELECT doc_id, strlen(text) AS ds FROM documents)
        |SELECT doc_id,
        |  CAST(16 + (ds * 5) % 1201 AS INT) AS width,
        |  CAST(16 + (ds * 9) % 801 AS INT) AS height,
        |  1000000000 AS fps_num,
        |  CAST(25000000 + (ds * 13) % 16666667 AS INT) AS fps_den,
        |  CAST(1 + ds % 5 AS BIGINT) AS n_frames,
        |  'webm' AS format
        |FROM m ORDER BY doc_id""".stripMargin),

    // REAL inter-frame motion analysis: sum-of-absolute-differences
    // between consecutive Y4M rasters — the scene-cut / static-content
    // discriminator for video curation — exact in integers over a
    // varying-frame fixture (frame k = md5(text|k) bytes), every
    // raster byte replayed by the oracle
    Q("q_video4", (s, dir) => {
      val docs = table(s, dir, "documents")
      val mm = Multimodal.withVideoPayload2(docs, "text")
      Multimodal.videoFrameStats(mm.repartition(8), "content")
        .select(col("doc_id"),
          col("frame_stats.n_frames").as("n_frames"),
          col("frame_stats.total_sad").as("total_sad"),
          col("frame_stats.max_sad").as("max_sad"))
        .orderBy("doc_id")
    },
      // every raster byte replayed: frame k = first 12 chars of
      // md5(text|k); SAD over consecutive frames via ascii arithmetic
      """WITH m AS (SELECT doc_id, text,
        |    1 + strlen(text) % 5 AS n FROM documents),
        |ks AS (SELECT doc_id, unnest(range(1, CAST(n + 1 AS BIGINT))) AS k
        |  FROM m),
        |fs AS (SELECT ks.doc_id, ks.k,
        |    substr(md5(m.text || '|' || CAST(ks.k AS VARCHAR)), 1, 12)
        |      AS fstr
        |  FROM ks JOIN m USING (doc_id)),
        |sad AS (SELECT a.doc_id, a.k,
        |    CAST(sum(abs(ascii(substr(a.fstr, i.i, 1))
        |      - ascii(substr(b.fstr, i.i, 1)))) AS BIGINT) AS s
        |  FROM fs a JOIN fs b ON a.doc_id = b.doc_id AND b.k = a.k - 1,
        |       generate_series(1, 12) i(i)
        |  GROUP BY a.doc_id, a.k)
        |SELECT m.doc_id, CAST(m.n AS BIGINT) AS n_frames,
        |  COALESCE(CAST(sum(s.s) AS BIGINT), 0) AS total_sad,
        |  COALESCE(CAST(max(s.s) AS BIGINT), 0) AS max_sad
        |FROM m LEFT JOIN sad s USING (doc_id)
        |GROUP BY m.doc_id, m.n ORDER BY m.doc_id""".stripMargin)
  )
}
