package graft.operators

import java.security.MessageDigest

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (pipeline north-star): image/audio/video
  * are opaque `binary` columns with typed metadata; decode / feature-
  * extract run as partition-batched functions over the payload bytes.
  *
  * The decode step is REAL: every document materializes as a genuine
  * binary PPM (P6) image — 16 pixels wide, the document's UTF-8 bytes as
  * the RGB raster, zero-padded to whole rows — and [[Ppm.decode]] is a
  * spec-conformant parser of the public netpbm P6 format (magic,
  * comment/whitespace handling, decimal dimension fields, single-byte
  * raster), so frame sampling and resizing operate on decoded pixels, not
  * on the encoded stream. The DuckDB oracle never parses: it derives the
  * expected pixel checksums ANALYTICALLY from the text, so an encoder and
  * decoder that share a mistaken offset cannot cancel each other out.
  * The feature lanes of [[qMmFeatures]] are likewise computed from the
  * DECODED raster (per-channel and overall pixel means — the normalize
  * stage every learned-embedding pipeline runs first); a learned model
  * (CLIP-style) would replace the statistic at the same mapPartitions
  * boundary with the same fixed-width output contract.
  *
  * Spark-side plumbing: binary column schema, typed Dataset,
  * `mapPartitions` batch shape (one codec instance per partition, the
  * same contract a Pandas-UDF/`mapInPandas` batch has in PySpark), and a
  * columnar metadata path that never leaves codegen.
  */
object MultimodalOps {
  /** Image geometry: every payload renders as a [[MM_W]]-pixel-wide RGB
    * image, [[ROW_BYTES]] bytes per pixel row, zero-padded to whole rows. */
  val MM_W = 16
  val ROW_BYTES: Int = MM_W * 3

  /** Pure-JVM codec for the netpbm PPM "P6" format (public spec:
    * netpbm.sourceforge.net/doc/ppm.html — binary RGB, maxval ≤ 255 means
    * one byte per sample). No external codec library: the container ships
    * none, and an uncompressed public format keeps decode genuinely
    * implementable while exercising every real codec concern — magic
    * validation, comments anywhere whitespace may appear, multi-digit
    * decimal fields, the single post-maxval whitespace byte, exact raster
    * length. Malformed input fails LOUDLY with the byte offset, never a
    * silent partial image. */
  object Ppm {
    val MAXVAL = 255

    case class Image(width: Int, height: Int, maxval: Int, raster: Array[Byte])

    /** Serialize an RGB raster as P6 with a comment line (comments are
      * part of the format; emitting one keeps the parser's comment path
      * exercised by every gate row, not just the unit spec). */
    def encode(w: Int, h: Int, raster: Array[Byte], comment: String): Array[Byte] = {
      require(raster.length == w * h * 3,
        s"raster ${raster.length} != ${w}x${h}x3")
      require(!comment.contains('\n'), "PPM comment cannot span lines")
      val header = s"P6\n# $comment\n$w $h\n$MAXVAL\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + raster.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(raster, 0, out, header.length, raster.length)
      out
    }

    /** Parse a P6 image. Accepts exactly the public grammar: "P6", then
      * three whitespace/comment-separated decimal fields (width, height,
      * maxval ≤ 255), one whitespace byte, then width·height·3 raster
      * bytes — no more, no less. */
    def decode(bytes: Array[Byte]): Image = {
      var pos = 0
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"PPM: $msg at byte $pos")
      def isWs(b: Byte): Boolean =
        b == ' ' || b == '\n' || b == '\r' || b == '\t'
      if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') fail("bad magic")
      pos = 2
      def skipWsAndComments(): Unit = {
        var going = true
        while (going && pos < bytes.length) {
          if (isWs(bytes(pos))) pos += 1
          else if (bytes(pos) == '#') {
            while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          } else going = false
        }
      }
      def readField(name: String): Int = {
        skipWsAndComments()
        val start = pos
        var v = 0
        while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
          v = v * 10 + (bytes(pos) - '0')
          // no arbitrary dimension cap (a multi-MB payload is a tall
          // image here) — only guard the accumulator itself
          if (v > Int.MaxValue / 16) fail(s"$name out of range")
          pos += 1
        }
        if (pos == start) fail(s"expected $name digits")
        v
      }
      val w = readField("width")
      val h = readField("height")
      val mv = readField("maxval")
      // raster must be addressable as one JVM array
      if (w.toLong * h * 3 > Int.MaxValue - 64)
        fail(s"raster ${w}x$h exceeds addressable size")
      if (mv < 1 || mv > MAXVAL) fail(s"maxval $mv unsupported (need 1..$MAXVAL)")
      if (pos >= bytes.length || !isWs(bytes(pos))) fail("expected single whitespace after maxval")
      pos += 1
      val need = w * h * 3
      if (bytes.length - pos != need)
        fail(s"raster is ${bytes.length - pos} bytes, header promises $need")
      Image(w, h, mv, java.util.Arrays.copyOfRange(bytes, pos, pos + need))
    }
  }

  val N_FEATURES = 4

  case class MmDoc(doc_id: Long, payload: Array[Byte])
  case class MmFeat(doc_id: Long, n_bytes: Long, f0: Double, f1: Double, f2: Double, f3: Double)

  /** md5 hex digest — shared deterministic-hash utility (feature jitter
    * in specs, content digests). */
  object Decoder {
    def md5hex(b: Array[Byte]): String =
      MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString
  }

  /** Render a document as a P6 image: UTF-8 bytes as the row-major RGB
    * raster, zero-padded to [[MM_W]]-pixel rows, with a per-doc comment
    * so every decode crosses the parser's comment path. */
  private def ppmOf(doc: MmDoc): Array[Byte] = {
    val n = doc.payload.length
    val h = (n + ROW_BYTES - 1) / ROW_BYTES
    val raster = java.util.Arrays.copyOf(doc.payload, h * ROW_BYTES)
    Ppm.encode(MM_W, h, raster, s"graft doc ${doc.doc_id}")
  }

  /** Typed metadata over the opaque payload — pure column algebra (byte
    * length, content digest, modality tag), no decode needed: the cheap
    * catalog pass a 100 TB media corpus runs first. */
  val qMmMeta: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"))
      .orderBy("doc_id")

  /** Feature-extract through the partition-batch path: one codec instance
    * per partition over the typed Dataset — the Spark-native shape of a
    * Pandas-UDF media pipeline. The lanes are REAL image statistics of the
    * decoded pixels (not the encoded stream): per-channel means f0/f1/f2
    * and the overall byte mean f3 — the channel-normalization pass every
    * learned-embedding pipeline computes first. Integer channel sums over
    * the parsed raster divided by exact pixel counts, so both engines
    * produce the identical binary64 value before the shared rounding.
    * Output is fixed-width feature lanes (columnar, joinable with the
    * embeddings table downstream). */
  val qMmFeatures: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.map { doc =>
          val img = Ppm.decode(ppmOf(doc))
          val sums = new Array[Long](3)
          var i = 0
          while (i < img.raster.length) {
            sums(i % 3) += (img.raster(i) & 0xff).toLong
            i += 1
          }
          val px = img.raster.length / 3 // = height × MM_W, 0 only for empty docs
          def mean(s: Long, n: Long): Double = if (n == 0) 0.0 else s.toDouble / n
          MmFeat(doc.doc_id, doc.payload.length.toLong,
            mean(sums(0), px), mean(sums(1), px), mean(sums(2), px),
            mean(sums(0) + sums(1) + sums(2), img.raster.length.toLong))
        }
      }
      .toDF()
      .select(col("doc_id"), col("n_bytes"),
        Fns.roundP(col("f0"), 6).as("f0"), Fns.roundP(col("f1"), 6).as("f1"),
        Fns.roundP(col("f2"), 6).as("f2"), Fns.roundP(col("f3"), 6).as("f3"))
      .orderBy("doc_id")
  }

  case class MmDecoded(doc_id: Long, width: Int, height: Int, maxval: Int,
    n_raster: Long, checksum: Long, wsum: Long)

  /** Full decode — encode each document as P6, parse it back with the
    * real parser, and gate the DECODED image: dimensions and maxval from
    * the header, plus two integer-exact raster checksums (Σ byte and the
    * position-weighted Σ (i+1)·byte, so a one-byte offset error anywhere
    * in the parse cannot cancel). The oracle computes both sums from the
    * text directly — it never sees the PPM container, which is exactly
    * what makes the gate a parser test. 1:1 row shape, one scan. */
  val qMmDecode: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.map { doc =>
          val img = Ppm.decode(ppmOf(doc))
          var cs = 0L; var ws = 0L; var i = 0
          while (i < img.raster.length) {
            val b = (img.raster(i) & 0xff).toLong
            cs += b; ws += (i + 1) * b; i += 1
          }
          MmDecoded(doc.doc_id, img.width, img.height, img.maxval,
            img.raster.length.toLong, cs, ws)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Every FRAME_STRIDE-th pixel row is sampled as a "frame". */
  val FRAME_STRIDE = 2

  case class MmFrame(doc_id: Long, frame_idx: Long, frame_checksum: Long, frame_wsum: Long)

  /** Frame sampling on DECODED pixels — the row-EXPANDING multimodal
    * shape (one input row → many frame rows): the parsed image's pixel
    * rows are the frame sequence, every [[FRAME_STRIDE]]-th row is kept,
    * and each sampled frame leaves as its two integer checksums (plain and
    * position-weighted within the frame). A real video frame extractor
    * plugs in at the row slice; the `flatMap`-per-doc partition-batch
    * contract is already the right one. */
  val qMmFrames: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.flatMap { doc =>
          val img = Ppm.decode(ppmOf(doc))
          (0 until img.height by FRAME_STRIDE).iterator.map { f =>
            var cs = 0L; var ws = 0L; var j = 0
            while (j < ROW_BYTES) {
              val b = (img.raster(f * ROW_BYTES + j) & 0xff).toLong
              cs += b; ws += (j + 1) * b; j += 1
            }
            MmFrame(doc.doc_id, f.toLong, cs, ws)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  case class MmResized(doc_id: Long, out_w: Int, out_h: Int, checksum: Long, wsum: Long)

  /** 2×2 nearest-neighbor downsample on DECODED pixels — the
    * size-REDUCING multimodal shape: keep even pixel rows and even
    * columns of the parsed image (all three channels), emit the resized
    * dimensions and the two integer checksums over the resized raster in
    * row-major order. A real resampler (area-average, Lanczos) replaces
    * the pixel selection; the decode → pixel-space transform → re-emit
    * pipeline stage is the real thing. 1:1 row shape. */
  val qMmResize: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.map { doc =>
          val img = Ppm.decode(ppmOf(doc))
          val outW = MM_W / 2
          val outH = (img.height + 1) / 2
          var cs = 0L; var ws = 0L; var m = 0
          var r = 0
          while (r < img.height) {
            var c = 0
            while (c < MM_W) {
              val base = (r * MM_W + c) * 3
              var k = 0
              while (k < 3) {
                val b = (img.raster(base + k) & 0xff).toLong
                cs += b; ws += (m + 1) * b
                m += 1; k += 1
              }
              c += 2
            }
            r += 2
          }
          MmResized(doc.doc_id, outW, outH, cs, ws)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** PCM sample rate of the synthesized audio lane. 8 kHz makes the
    * per-sample duration exactly 125 µs, so durations are integer-exact
    * on both engines. */
  val WAV_RATE = 8000

  /** Sample mapping: text byte b → signed 16-bit sample (b − 96)·256.
    * 96 sits between punctuation/space (< 96 → negative) and lowercase
    * letters (> 96 → positive), so real text yields real zero crossings
    * at word boundaries instead of a degenerate all-negative signal. */
  val WAV_BIAS = 96

  /** Pure-JVM codec for the RIFF/WAVE PCM container (public spec:
    * the Microsoft/IBM WAVE format — RIFF chunk grammar with
    * little-endian sizes, a 16-byte PCM `fmt ` chunk, and an even-byte
    * chunk-padding rule). The encoder emits a JUNK chunk between `fmt `
    * and `data` (the standard alignment-filler convention), deliberately
    * odd-sized, so EVERY gate row crosses the parser's chunk-skip and
    * pad-byte paths — the two places real-world WAV readers break.
    * Malformed input fails LOUDLY with the byte offset. */
  object Wav {
    case class Audio(rate: Int, samples: Array[Short])

    private def u16(b: java.nio.ByteBuffer, v: Int): Unit = b.putShort(v.toShort)
    private def u32(b: java.nio.ByteBuffer, v: Int): Unit = b.putInt(v)

    /** Serialize mono PCM16 as RIFF/WAVE: `fmt ` + odd-sized JUNK (with
      * its pad byte) + `data`. */
    def encode(samples: Array[Short], rate: Int, junk: String): Array[Byte] = {
      val junkBytes = junk.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val junkSize = if (junkBytes.length % 2 == 1) junkBytes.length else junkBytes.length + 1
      val junkPadded = junkSize + 1 // odd declared size ⇒ one pad byte on disk
      val dataSize = samples.length * 2
      val riffSize = 4 + (8 + 16) + (8 + junkPadded) + (8 + dataSize)
      val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes); u32(buf, riffSize); buf.put("WAVE".getBytes)
      buf.put("fmt ".getBytes); u32(buf, 16)
      u16(buf, 1); u16(buf, 1); u32(buf, rate) // PCM, mono
      u32(buf, rate * 2); u16(buf, 2); u16(buf, 16) // byteRate, block, bits
      buf.put("JUNK".getBytes); u32(buf, junkSize)
      buf.put(java.util.Arrays.copyOf(junkBytes, junkSize)); buf.put(0.toByte)
      buf.put("data".getBytes); u32(buf, dataSize)
      samples.foreach(s => buf.putShort(s))
      buf.array()
    }

    /** Parse a WAVE file: walk the chunk list (honoring the even-byte
      * padding rule), require a PCM/mono/16-bit `fmt ` before `data`,
      * and materialize the little-endian samples. Exactly the public
      * grammar — unknown chunks are skipped, structural violations
      * throw with the offending byte offset. */
    def decode(bytes: Array[Byte]): Audio = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"WAV: $msg at byte ${buf.position()}")
      def tag(): String = {
        if (buf.remaining() < 4) fail("truncated tag")
        val t = new Array[Byte](4); buf.get(t); new String(t, "US-ASCII")
      }
      if (tag() != "RIFF") fail("missing RIFF magic")
      val riffSize = buf.getInt
      if (riffSize != bytes.length - 8) fail(s"RIFF size $riffSize != ${bytes.length - 8}")
      if (tag() != "WAVE") fail("missing WAVE form type")
      var rate = -1
      var samples: Array[Short] = null
      while (buf.remaining() >= 8) {
        val id = tag()
        val size = buf.getInt
        if (size < 0 || size > buf.remaining()) fail(s"chunk $id size $size overruns")
        id match {
          case "fmt " =>
            if (size < 16) fail(s"fmt chunk too small ($size)")
            val start = buf.position()
            val fmt = buf.getShort; val ch = buf.getShort
            rate = buf.getInt; buf.getInt; buf.getShort
            val bits = buf.getShort
            if (fmt != 1) fail(s"not PCM (format $fmt)")
            if (ch != 1) fail(s"not mono ($ch channels)")
            if (bits != 16) fail(s"not 16-bit ($bits)")
            buf.position(start + size)
          case "data" =>
            if (rate < 0) fail("data chunk before fmt")
            if (size % 2 != 0) fail(s"odd PCM16 data size $size")
            samples = new Array[Short](size / 2)
            var i = 0
            while (i < samples.length) { samples(i) = buf.getShort; i += 1 }
          case _ => buf.position(buf.position() + size) // unknown: skip
        }
        if (size % 2 == 1) {
          if (buf.remaining() < 1) fail("missing chunk pad byte")
          buf.get() // even-byte padding rule
        }
      }
      if (samples == null) fail("no data chunk")
      Audio(rate, samples)
    }
  }

  case class MmAudio(doc_id: Long, n_samples: Long, duration_us: Long,
    peak: Long, zero_cross: Long, energy: Long)

  /** Audio lane — the third modality, end-to-end through a REAL container:
    * each document renders as mono PCM16 WAV (sample i = (byte i −
    * [[WAV_BIAS]])·256 at [[WAV_RATE]] Hz), [[Wav.decode]] walks the RIFF
    * chunk grammar back (crossing the JUNK-skip + odd-size-padding paths
    * on every row), and the gate pins integer-exact signal features of
    * the DECODED samples: count, exact µs duration, peak |s|, zero
    * crossings (the word-boundary rhythm of the text), and Σ s² energy.
    * The oracle derives all five ANALYTICALLY from the text — it never
    * builds or parses a container, so a shared encoder/decoder offset
    * bug cannot cancel out. Same typed mapPartitions batch contract as
    * the image lanes; 1:1 row shape, one scan, zero shuffles. */
  val qMmAudio: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.map { doc =>
          val pcm = doc.payload.map(b => (((b & 0xff) - WAV_BIAS) * 256).toShort)
          val a = Wav.decode(Wav.encode(pcm, WAV_RATE, s"graft doc ${doc.doc_id}"))
          var peak = 0L; var zc = 0L; var en = 0L
          var i = 0
          while (i < a.samples.length) {
            val x = a.samples(i).toLong
            if (math.abs(x) > peak) peak = math.abs(x)
            en += x * x
            if (i > 0 && (a.samples(i - 1) >= 0) != (x >= 0)) zc += 1
            i += 1
          }
          MmAudio(doc.doc_id, a.samples.length.toLong,
            a.samples.length.toLong * 1000000L / a.rate, peak, zc, en)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Samples per analysis frame for [[qAudioFeatures]] — the short-time
    * window size. Non-overlapping (hop == frame) keeps every sample in
    * exactly one frame, so frame sums partition the whole-signal sums
    * [[qMmAudio]] pins (cross-checked by the spec). */
  val AF_FRAME = 64

  case class MmAudioFrame(doc_id: Long, frame_id: Int, n: Int,
    energy: Long, peak: Long, zero_cross: Long)

  /** Short-time framing over the decoded PCM — the windowing stage every
    * audio featurizer (MFCC, learned encoder) runs first. Each decoded
    * signal splits into non-overlapping [[AF_FRAME]]-sample frames (the
    * tail frame keeps its true length), and the gate pins integer-exact
    * per-frame features: Σ s² energy, peak |s|, and WITHIN-frame zero
    * crossings (sign changes between adjacent samples of the same frame —
    * no cross-frame pair, so frames are independently recomputable, the
    * property that lets a 100 TB run re-featurize one shard). Row shape
    * is 1:⌈n/FRAME⌉ flatMap inside the same typed mapPartitions scan as
    * the other lanes — framing adds no shuffle at any corpus size. The
    * oracle slices the analytically-derived sample list per frame and
    * never sees a WAV container. */
  val qAudioFeatures: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.flatMap { doc =>
          val pcm = doc.payload.map(b => (((b & 0xff) - WAV_BIAS) * 256).toShort)
          val a = Wav.decode(Wav.encode(pcm, WAV_RATE, s"graft doc ${doc.doc_id}"))
          a.samples.grouped(AF_FRAME).zipWithIndex.map { case (fr, fi) =>
            var peak = 0L; var zc = 0L; var en = 0L
            var i = 0
            while (i < fr.length) {
              val x = fr(i).toLong
              if (math.abs(x) > peak) peak = math.abs(x)
              en += x * x
              if (i > 0 && (fr(i - 1) >= 0) != (x >= 0)) zc += 1
              i += 1
            }
            MmAudioFrame(doc.doc_id, fi, fr.length, en, peak, zc)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_id")
  }

  /** Frames per clip for [[qMmVideo]]. */
  val VID_FRAMES = 4

  case class MmVideoFrame(doc_id: Long, frame: Int, checksum: Long, motion: Long)

  /** Video lane — the third modality of q_mm_meta's triad, end-to-end:
    * each document renders as a CLIP of [[VID_FRAMES]] equal-geometry PPM
    * frames (chunk f of the text bytes, zero-padded to the shared raster
    * length — video frames share dimensions), every frame goes through a
    * REAL [[Ppm]] encode+decode pass, and the gate pins per-frame
    * integer-exact features: the raster checksum and the MOTION signal
    * Σ|byte_f(i) − byte_{f−1}(i)| against the previous decoded frame
    * (frame 0 diffs against black, so its motion equals its checksum —
    * the scene-cut convention). Inter-frame deltas are the temporal
    * feature a video pipeline extracts first (shot detection, motion
    * thresholds for frame sampling). One typed mapPartitions scan,
    * 1:VID_FRAMES row shape, zero shuffles; the oracle derives every
    * byte analytically and never sees a container. */
  /** Decode one doc's clip and return (frame, checksum, motion) per frame
    * — the shared per-clip kernel of [[qMmVideo]] and [[qMmKeyframes]]
    * (each frame through the REAL Ppm encode+decode pass; motion diffs
    * against the previous DECODED raster, frame −1 = black). */
  private def clipMotions(doc: MmDoc): Array[(Int, Long, Long)] = {
    val len = doc.payload.length
    val chunk = (len + VID_FRAMES - 1) / VID_FRAMES
    val rlen = ((chunk + ROW_BYTES - 1) / ROW_BYTES) * ROW_BYTES
    var prev = new Array[Byte](rlen) // frame -1 = black
    Array.tabulate(VID_FRAMES) { f =>
      if (rlen == 0) (f, 0L, 0L)
      else {
        val raw = new Array[Byte](rlen)
        var i = 0
        while (i < chunk && f * chunk + i < len) {
          raw(i) = doc.payload(f * chunk + i); i += 1
        }
        val img = Ppm.decode(Ppm.encode(MM_W, rlen / ROW_BYTES, raw,
          s"graft clip ${doc.doc_id} frame $f"))
        var cs = 0L; var mo = 0L; var j = 0
        while (j < rlen) {
          val b = img.raster(j) & 0xff
          cs += b
          mo += math.abs(b - (prev(j) & 0xff))
          j += 1
        }
        prev = img.raster
        (f, cs, mo)
      }
    }
  }

  val qMmVideo: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.flatMap { doc =>
          clipMotions(doc).iterator.map { case (f, cs, mo) =>
            MmVideoFrame(doc.doc_id, f, cs, mo)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame")
  }

  /** Keyframe threshold as the rational [[KF_NUM]]/[[KF_DEN]] of the clip's
    * mean INTER-frame motion (6/5 = "1.2× the average change between
    * consecutive frames"). The baseline excludes frame 0: its motion is the
    * diff against black (the scene-cut convention), an order of magnitude
    * above real inter-frame deltas, and a mean polluted by it makes every
    * threshold unreachable (measured: 1/500 clips selected at sf0.001 with
    * the naive mean vs 49/500 with the inter-frame mean). Rational so the
    * test `motion·(VID_FRAMES−1)·KF_DEN > KF_NUM·(Σmotion − motion₀)` is
    * all-integer on both engines. */
  val KF_NUM = 6
  val KF_DEN = 5

  case class MmKeyframe(doc_id: Long, frame: Int, motion: Long, kf_rank: Int)

  /** Shot detection on the video lane — per-clip KEYFRAME selection at
    * motion-threshold boundaries, the frame-sampling stage a multimodal
    * training pipeline runs before captioning (sample one frame per shot
    * instead of a fixed stride). Frame 0 is always a keyframe (scene
    * start); frame f ≥ 1 is one iff its motion exceeds [[KF_NUM]]/[[KF_DEN]]
    * of the clip's mean inter-frame motion — the integer cross-multiplied
    * test above, exact on both engines. `kf_rank` is the keyframe's ordinal
    * within its clip (the caption-batch index).
    *
    * Scale shape: the clip's [[VID_FRAMES]] frames are decoded per doc in
    * the SAME flatMap, so the clip total is local state — selection costs
    * zero shuffles at any corpus size (only the reporting sort ranges).
    * The oracle derives every byte analytically (q_mm_video's chain) and
    * applies the identical integer threshold. */
  val qMmKeyframes: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.flatMap { doc =>
          val frames = clipMotions(doc)
          // inter-frame baseline: clip total minus the scene-start frame
          var tot = 0L
          frames.foreach { case (f, _, mo) => if (f > 0) tot += mo }
          var rank = 0
          frames.iterator.collect {
            case (f, _, mo)
                if f == 0 ||
                  mo * (VID_FRAMES - 1) * KF_DEN > KF_NUM * tot =>
              rank += 1
              MmKeyframe(doc.doc_id, f, mo, rank)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame")
  }

  /** aHash bit width — 32 keeps the hash inside a positive BIGINT shift
    * on both engines. */
  val PHASH_BITS = 32

  case class MmPhash(doc_id: Long, phash: Long, n_ones: Int)

  /** Perceptual average-hash lane over the DECODED raster — the standard
    * aHash recipe (block means vs global mean → one bit per block),
    * which is how image pipelines near-dup at scale: the 32-bit
    * signature buckets visually-similar rasters where the exact digest
    * of [[qMmMeta]] only catches byte-identical ones. The raster is
    * parsed by the real P6 codec in the same partition-batch shape as
    * [[qMmFeatures]]; each bit compares integers cross-multiplied
    * (`Σblock·L > Σtotal·len` ⇔ blockMean > globalMean) so no division
    * ever happens and the oracle reproduces every bit from the text
    * bytes analytically. Blocks are contiguous raster spans with
    * ⌊c·L/B⌋ boundaries — exact for any length, including the zero
    * padding the row alignment adds (pad bytes count as 0 on both
    * engines). Row-local; zero shuffle but the final sort. */
  val qMmPhash: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.map { doc =>
          val raster = Ppm.decode(ppmOf(doc)).raster
          val L = raster.length
          var tot = 0L
          var i = 0
          while (i < L) { tot += raster(i) & 0xff; i += 1 }
          var phash = 0L
          var ones = 0
          var c = 0
          while (c < PHASH_BITS) {
            val b0 = (c.toLong * L / PHASH_BITS).toInt
            val b1 = ((c + 1).toLong * L / PHASH_BITS).toInt
            var s0 = 0L
            var j = b0
            while (j < b1) { s0 += raster(j) & 0xff; j += 1 }
            if (s0 * L > tot * (b1 - b0)) { phash |= 1L << c; ones += 1 }
            c += 1
          }
          MmPhash(doc.doc_id, phash, ones)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  // ---- Hamming-radius image near-dup join (r12 advice #3) -----------------

  /** Wide aHash geometry: 64 block bits carried as [[PH64_BANDS]] 16-bit
    * band INTEGERS (never packed into one long — DuckDB 1.0 range-checks
    * `1::BIGINT << 63`, and the banded join only ever needs band values). */
  val PH64_BITS = 64
  val PH64_BANDS = 4
  val PH64_BAND_BITS = 16
  /** Match radius: pairs within Hamming distance 3 of each other. */
  val PH64_RADIUS = 3

  case class MmPhash64(doc_id: Long, h0: Int, h1: Int, h2: Int, h3: Int)

  /** The 64-block aHash of a decoded raster, one 16-bit int per band —
    * same cross-multiplied integer bit rule as [[qMmPhash]], widened so a
    * few corrupted pixels flip FEW bits instead of few-of-32. */
  private def phash64(raster: Array[Byte]): Array[Int] = {
    val L = raster.length
    var tot = 0L
    var i = 0
    while (i < L) { tot += raster(i) & 0xff; i += 1 }
    val bands = new Array[Int](PH64_BANDS)
    var c = 0
    while (c < PH64_BITS) {
      val p0 = (c.toLong * L / PH64_BITS).toInt
      val p1 = ((c + 1).toLong * L / PH64_BITS).toInt
      var s0 = 0L
      var j = p0
      while (j < p1) { s0 += raster(j) & 0xff; j += 1 }
      if (s0 * L > tot * (p1 - p0))
        bands(c / PH64_BAND_BITS) |= 1 << (c % PH64_BAND_BITS)
      c += 1
    }
    bands
  }

  /** The per-doc 64-bit-as-4-bands hash frame behind [[qPhashNear]]
    * (factored out so the spec can pin the pigeonhole guarantee on
    * synthetic rasters). */
  private[graft] def phash64Frame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MmDoc]
      .mapPartitions { docs =>
        docs.map { doc =>
          val bs = phash64(Ppm.decode(ppmOf(doc)).raster)
          MmPhash64(doc.doc_id, bs(0), bs(1), bs(2), bs(3))
        }
      }
      .toDF()
  }

  /** Hamming-radius near-dup image join over the perceptual hash — the
    * lane [[qMmPhash]] stops short of: identical 32-bit hashes only catch
    * byte-stable rasters, while real image near-dups differ by a few
    * bits. Pigeonhole banding (multi-index hashing, Norouzi et al. CVPR
    * 2012): any pair within Hamming radius [[PH64_RADIUS]] = 3 differs in
    * ≤ 3 of the [[PH64_BANDS]] = 4 bands, so at least one 16-bit band is
    * IDENTICAL — a band-keyed equi-join generates every qualifying pair
    * (completeness guaranteed, spec-pinned), and the exact
    * `Σ bit_count(xor)` popcount verifies each candidate. The minhash-LSH
    * posture rendered in hash space: band keys shuffle (5 ints/row, never
    * rasters), candidate volume is Σ over 4×2^16 buckets of pop² — linear
    * for hash distributions a corpus produces, and 2^16 values per band
    * is the production bucket granularity (a 32-bit hash's 2^8-value
    * bands would crowd ~N/256 rows per bucket). Hash frame persisted —
    * it feeds both join sides and the verify (no cross-branch CSE), and
    * the final orderBy would otherwise re-execute the join subtree for
    * range-bound sampling (PERF.md). */
  val qPhashNear: Q = (s, d) => {
    val hashes = phash64Frame(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    phashNearJoin(hashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("a", "b")
  }

  /** The banded candidate join + exact popcount verify over a
    * (doc_id, h0..h3) hash frame — factored from [[qPhashNear]] so the
    * spec can drive it with crafted band values (pigeonhole guarantee /
    * beyond-radius rejection). */
  private[graft] def phashNearJoin(hashes: DataFrame): DataFrame = {
    val bandCols = (0 until PH64_BANDS).map(i => col(s"h$i"))
    val banded = hashes.select(col("doc_id") +: bandCols :+
      posexplode(array(bandCols: _*)).as(Seq("band", "bval")): _*)
    def side(tag: String) = banded.select(col("band") +: col("bval") +:
      col("doc_id").as(tag) +:
      (0 until PH64_BANDS).map(i => col(s"h$i").as(s"$tag$i")): _*)
    val ham = (0 until PH64_BANDS)
      .map(i => bit_count(col(s"a$i").bitwiseXOR(col(s"b$i"))))
      .reduce(_ + _)
    side("a").join(side("b"), Seq("band", "bval"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= PH64_RADIUS)
      .select(col("a"), col("b"), col("hamming"))
      .distinct()
  }

  // ---- DuckDB oracles ------------------------------------------------------
  // The oracle derives every pixel value analytically from the text (byte
  // i of the raster is ord(text[i+1]) below the text length, 0 in the
  // padding) — it never constructs or parses a PPM container. ASCII makes
  // char positions == byte positions (asserted per SF dir in the fixture
  // checks), and ord() over ASCII is the byte value.

  val gates: Seq[Gate] = Seq(
    // audio lane: samples, duration, peak, zero crossings, energy derived
    // analytically from the text bytes — no WAV container on this side
    Gate("q_mm_audio", qMmAudio,
      s"""WITH b AS (
         |  SELECT doc_id,
         |    list_transform(range(1, length(text) + 1),
         |      i -> (ord(text[i]) - $WAV_BIAS) * 256) AS s
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(s) AS BIGINT) AS n_samples,
         |  CAST(len(s) AS BIGINT) * ${1000000 / WAV_RATE} AS duration_us,
         |  CAST(coalesce(list_max(list_transform(s, x -> abs(x))), 0) AS BIGINT) AS peak,
         |  CAST(len(list_filter(range(1, len(s)),
         |    i -> (s[i] >= 0) <> (s[i+1] >= 0))) AS BIGINT) AS zero_cross,
         |  CAST(coalesce(list_sum(list_transform(s, x -> CAST(x AS BIGINT) * x)), 0) AS BIGINT) AS energy
         |FROM b ORDER BY doc_id""".stripMargin),
    // video clip: byte i (1-based, i <= rlen) of frame f is
    // ord(text[f*chunk + i]) when i <= chunk and in-range, else 0; frame -1
    // is black, so frame 0's motion equals its checksum
    Gate("q_mm_video", qMmVideo, {
      def byteAt(frame: String) =
        s"""CASE WHEN i <= chunk AND $frame * chunk + i <= len
           |  THEN ord(text[CAST($frame * chunk + i AS INT)]) ELSE 0 END""".stripMargin
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS len,
         |    (length(text) + ${VID_FRAMES - 1}) // $VID_FRAMES AS chunk
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, text, len, chunk,
         |    ((chunk + ${ROW_BYTES - 1}) // $ROW_BYTES) * $ROW_BYTES AS rlen
         |  FROM d),
         |f AS (
         |  SELECT doc_id, text, len, chunk, rlen, unnest(range($VID_FRAMES)) AS fr
         |  FROM g)
         |SELECT doc_id, CAST(fr AS INT) AS frame,
         |  CAST(coalesce(list_sum(list_transform(range(1, rlen + 1),
         |    i -> ${byteAt("fr")})), 0) AS BIGINT) AS checksum,
         |  CAST(coalesce(list_sum(list_transform(range(1, rlen + 1),
         |    i -> abs(${byteAt("fr")} -
         |      CASE WHEN fr = 0 THEN 0 ELSE ${byteAt("(fr - 1)")} END))), 0) AS BIGINT)
         |    AS motion
         |FROM f ORDER BY doc_id, frame""".stripMargin
    }),
    // keyframes: q_mm_video's analytic motion chain + the integer
    // cross-multiplied clip-mean threshold; frame 0 always kept
    Gate("q_mm_keyframes", qMmKeyframes, {
      def byteAt(frame: String) =
        s"""CASE WHEN i <= chunk AND $frame * chunk + i <= len
           |  THEN ord(text[CAST($frame * chunk + i AS INT)]) ELSE 0 END""".stripMargin
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS len,
         |    (length(text) + ${VID_FRAMES - 1}) // $VID_FRAMES AS chunk
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, text, len, chunk,
         |    ((chunk + ${ROW_BYTES - 1}) // $ROW_BYTES) * $ROW_BYTES AS rlen
         |  FROM d),
         |f AS (
         |  SELECT doc_id, text, len, chunk, rlen, unnest(range($VID_FRAMES)) AS fr
         |  FROM g),
         |m AS (
         |  SELECT doc_id, CAST(fr AS INT) AS frame,
         |    CAST(coalesce(list_sum(list_transform(range(1, rlen + 1),
         |      i -> abs(${byteAt("fr")} -
         |        CASE WHEN fr = 0 THEN 0 ELSE ${byteAt("(fr - 1)")} END))), 0) AS BIGINT)
         |      AS motion
         |  FROM f),
         |t AS (SELECT doc_id, frame, motion,
         |    sum(CASE WHEN frame > 0 THEN motion ELSE 0 END)
         |      OVER (PARTITION BY doc_id) AS tot FROM m),
         |k AS (SELECT doc_id, frame, motion FROM t
         |  WHERE frame = 0 OR motion * ${(VID_FRAMES - 1) * KF_DEN} > $KF_NUM * tot)
         |SELECT doc_id, frame, motion,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY frame) AS INT) AS kf_rank
         |FROM k ORDER BY doc_id, frame""".stripMargin
    }),
    // short-time frames: slice the analytic sample list into 64-sample
    // runs; within-frame zero crossings only (adjacent pairs of the slice)
    Gate("q_audio_features", qAudioFeatures,
      s"""WITH b AS (
         |  SELECT doc_id,
         |    list_transform(range(1, length(text) + 1),
         |      i -> (ord(text[i]) - $WAV_BIAS) * 256) AS s
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, CAST(fi AS INT) AS frame_id,
         |    s[fi * $AF_FRAME + 1 : fi * $AF_FRAME + $AF_FRAME] AS fr
         |  FROM (
         |    -- DuckDB 1.0: table-function range() takes no lateral column
         |    -- args; the LIST-function range() does, unnested per row
         |    SELECT doc_id, s,
         |      unnest(range((len(s) + ${AF_FRAME - 1}) // $AF_FRAME)) AS fi
         |    FROM b))
         |SELECT doc_id, frame_id,
         |  CAST(len(fr) AS INT) AS n,
         |  CAST(coalesce(list_sum(list_transform(fr, x -> CAST(x AS BIGINT) * x)), 0) AS BIGINT) AS energy,
         |  CAST(coalesce(list_max(list_transform(fr, x -> abs(x))), 0) AS BIGINT) AS peak,
         |  CAST(len(list_filter(range(1, len(fr)),
         |    i -> (fr[i] >= 0) <> (fr[i+1] >= 0))) AS BIGINT) AS zero_cross
         |FROM f ORDER BY doc_id, frame_id""".stripMargin),
    Gate("q_mm_meta", qMmMeta,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q_mm_features", qMmFeatures, {
      // channel c sum = Σ ord(text[i]) over 1-based i with (i-1)%3 = c;
      // padding bytes are 0 so summing the text alone is the raster sum.
      def chanSum(c: Int) =
        s"""coalesce(list_sum(list_transform(range(1, n + 1),
           |    i -> CASE WHEN (i - 1) % 3 = $c THEN ord(text[i]) ELSE 0 END)), 0)""".stripMargin
      def mean(num: String, den: String) =
        Fns.roundPSql(s"CASE WHEN $den = 0 THEN 0.0 ELSE CAST($num AS DOUBLE) / $den END", 6)
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    (length(text) + ${ROW_BYTES - 1}) // $ROW_BYTES AS h
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, n, h * $MM_W AS px, h * $ROW_BYTES AS nr,
         |    ${chanSum(0)} AS s0,
         |    ${chanSum(1)} AS s1,
         |    ${chanSum(2)} AS s2
         |  FROM d)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
         |  ${mean("s0", "px")} AS f0,
         |  ${mean("s1", "px")} AS f1,
         |  ${mean("s2", "px")} AS f2,
         |  ${mean("s0 + s1 + s2", "nr")} AS f3
         |FROM s ORDER BY doc_id""".stripMargin
    }),
    Gate("q_mm_phash", qMmPhash,
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    ((length(text) + ${ROW_BYTES - 1}) // $ROW_BYTES) * $ROW_BYTES AS L
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, text, n, L,
         |    coalesce(list_sum(list_transform(range(1, n + 1),
         |      i -> ord(text[i]))), 0) AS tot
         |  FROM d),
         |b AS (SELECT doc_id, text, n, L, tot,
         |        unnest(range(0, $PHASH_BITS)) AS c FROM t),
         |cs AS (
         |  SELECT doc_id, L, tot, c,
         |    (c * L) // $PHASH_BITS AS b0,
         |    ((c + 1) * L) // $PHASH_BITS AS b1,
         |    coalesce(list_sum(list_transform(
         |      range((c * L) // $PHASH_BITS + 1,
         |            least(((c + 1) * L) // $PHASH_BITS, n) + 1),
         |      i -> ord(text[i]))), 0) AS s0
         |  FROM b),
         |ph AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN s0 * L > tot * (b1 - b0)
         |        THEN (1::BIGINT << c) ELSE 0 END) AS phash,
         |    sum(CASE WHEN s0 * L > tot * (b1 - b0) THEN 1 ELSE 0 END) AS n_ones
         |  FROM cs GROUP BY 1)
         |SELECT doc_id, CAST(coalesce(phash, 0) AS BIGINT) AS phash,
         |  CAST(coalesce(n_ones, 0) AS INT) AS n_ones
         |FROM ph ORDER BY doc_id""".stripMargin),
    Gate("q_phash_near", qPhashNear, {
      // band h_k of the 64-block aHash, derived analytically (same raster
      // model as q_mm_phash's oracle: byte i = ord(text[i]) under the
      // length, 0 in the row padding); candidates from the same 4×16-bit
      // pigeonhole band join, verified by per-band popcount of the xor
      def bandSum(k: Int) =
        s"""CAST(coalesce(sum(CASE WHEN c // $PH64_BAND_BITS = $k
           |      AND s0 * L > tot * (b1 - b0)
           |      THEN (1 << (c % $PH64_BAND_BITS)) ELSE 0 END), 0) AS INT) AS h$k"""
          .stripMargin
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    ((length(text) + ${ROW_BYTES - 1}) // $ROW_BYTES) * $ROW_BYTES AS L
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, text, n, L,
         |    coalesce(list_sum(list_transform(range(1, n + 1),
         |      i -> ord(text[i]))), 0) AS tot
         |  FROM d),
         |b AS (SELECT doc_id, text, n, L, tot,
         |        unnest(range(0, $PH64_BITS)) AS c FROM t),
         |cs AS (
         |  SELECT doc_id, L, tot, c,
         |    (c * L) // $PH64_BITS AS b0,
         |    ((c + 1) * L) // $PH64_BITS AS b1,
         |    coalesce(list_sum(list_transform(
         |      range((c * L) // $PH64_BITS + 1,
         |            least(((c + 1) * L) // $PH64_BITS, n) + 1),
         |      i -> ord(text[i]))), 0) AS s0
         |  FROM b),
         |ph AS (
         |  SELECT doc_id,
         |    ${bandSum(0)},
         |    ${bandSum(1)},
         |    ${bandSum(2)},
         |    ${bandSum(3)}
         |  FROM cs GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, unnest([0, 1, 2, 3]) AS band,
         |    unnest([h0, h1, h2, h3]) AS bval FROM ph),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id),
         |ham AS (
         |  SELECT cand.a, cand.b,
         |    bit_count(xor(x.h0::BIGINT, y.h0::BIGINT)) +
         |    bit_count(xor(x.h1::BIGINT, y.h1::BIGINT)) +
         |    bit_count(xor(x.h2::BIGINT, y.h2::BIGINT)) +
         |    bit_count(xor(x.h3::BIGINT, y.h3::BIGINT)) AS hm
         |  FROM cand JOIN ph x ON cand.a = x.doc_id JOIN ph y ON cand.b = y.doc_id)
         |SELECT a, b, CAST(hm AS INT) AS hamming FROM ham
         |WHERE hm <= $PH64_RADIUS ORDER BY a, b""".stripMargin
    }),
    Gate("q_mm_decode", qMmDecode,
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    (length(text) + ${ROW_BYTES - 1}) // $ROW_BYTES AS h
         |  FROM documents)
         |SELECT doc_id, $MM_W AS width, CAST(h AS INT) AS height,
         |  ${Ppm.MAXVAL} AS maxval,
         |  CAST(h * $ROW_BYTES AS BIGINT) AS n_raster,
         |  CAST(coalesce(list_sum(list_transform(range(1, n + 1),
         |    i -> ord(text[i]))), 0) AS BIGINT) AS checksum,
         |  CAST(coalesce(list_sum(list_transform(range(1, n + 1),
         |    i -> i * ord(text[i]))), 0) AS BIGINT) AS wsum
         |FROM d ORDER BY doc_id""".stripMargin),
    Gate("q_mm_frames", qMmFrames,
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    (length(text) + ${ROW_BYTES - 1}) // $ROW_BYTES AS h
         |  FROM documents),
         |fr AS (
         |  SELECT doc_id, text, n, unnest(range(0, h, $FRAME_STRIDE)) AS frame_idx
         |  FROM d)
         |SELECT doc_id, frame_idx,
         |  CAST(coalesce(list_sum(list_transform(range(1, ${ROW_BYTES + 1}),
         |    j -> CASE WHEN frame_idx * $ROW_BYTES + j <= n
         |              THEN ord(text[CAST(frame_idx * $ROW_BYTES + j AS INT)])
         |              ELSE 0 END)), 0) AS BIGINT) AS frame_checksum,
         |  CAST(coalesce(list_sum(list_transform(range(1, ${ROW_BYTES + 1}),
         |    j -> j * CASE WHEN frame_idx * $ROW_BYTES + j <= n
         |              THEN ord(text[CAST(frame_idx * $ROW_BYTES + j AS INT)])
         |              ELSE 0 END)), 0) AS BIGINT) AS frame_wsum
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin),
    Gate("q_mm_resize", qMmResize,
      // resized raster index m (0-based) maps back to source byte
      // (((m//3)//8)*2*16 + ((m//3)%8)*2)*3 + m%3 — even row, even col,
      // channel preserved; weight is m+1 like the Spark loop.
      s"""WITH d AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    (length(text) + ${ROW_BYTES - 1}) // $ROW_BYTES AS h
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, n, ((h + 1) // 2) AS out_h,
         |    list_transform(range(0, ((h + 1) // 2) * ${MM_W / 2} * 3), m ->
         |      (((m // 3) // ${MM_W / 2}) * 2 * $MM_W + ((m // 3) % ${MM_W / 2}) * 2) * 3
         |        + (m % 3) + 1) AS src,
         |    text AS t
         |  FROM d)
         |SELECT doc_id, ${MM_W / 2} AS out_w, CAST(out_h AS INT) AS out_h,
         |  CAST(coalesce(list_sum(list_transform(src,
         |    i -> CASE WHEN i <= n THEN ord(t[CAST(i AS INT)]) ELSE 0 END)), 0) AS BIGINT) AS checksum,
         |  CAST(coalesce(list_sum(list_transform(range(1, len(src) + 1),
         |    m -> m * CASE WHEN src[m] <= n THEN ord(t[CAST(src[m] AS INT)]) ELSE 0 END)), 0) AS BIGINT) AS wsum
         |FROM g ORDER BY doc_id""".stripMargin),
  )
}
