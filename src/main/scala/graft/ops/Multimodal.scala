package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, decoded in batches.
  *
  * The codec layer is REAL for images, audio, and video frames:
  * [[decodeImages]] runs the JDK's `javax.imageio.ImageIO` (PNG/JPEG/BMP/
  * GIF), [[decodeAudio]] the JDK's `javax.sound.sampled` WAV parser, and
  * [[decodeVideoFrames]] walks a length-prefixed frame container and
  * ImageIO-decodes only the sampled frames — zero external dependencies.
  * The execution shape is what a production decode uses at 100 TB: a
  * binary column flowing through `mapPartitions` (the Scala analog of
  * `mapInPandas` batch decode), a typed output schema, partition-sized
  * batches, no driver involvement. [[decodeStub]] remains as the
  * header-arithmetic fast path.
  */
object Multimodal {

  /** Fan a narrow synthesis seed out across the session's cores before the
    * per-row codec work. The synthesis entry points below are fixture
    * generators: their input is an id column (8 bytes/row), but their
    * OUTPUT is the product of a real PNG/WAV encode per row — orders of
    * magnitude more compute than the seed's size suggests. A small bench
    * corpus arrives as ONE parquet split (594 KB at sf0.1 under a 4 MB
    * split size), so without this the whole synthesis+codec chain — and
    * every narrow decode stage chained after it — serializes onto a
    * single task (measured: qm_scene_cuts 5.0 s isolated on a 32-core
    * host, single-task stages). Round-robin on the seed is the guide's
    * input-skew fix ("repartition immediately after the read") and costs
    * 8 bytes/row at ANY scale; a real deployment decodes stored payloads
    * through the decode* entry points, whose partitioning is untouched.
    */
  private def fanOutSeed(df: DataFrame, idCol: String): DataFrame =
    // project to the id column FIRST so the narrow-seed invariant ("8
    // bytes/row at ANY scale") is enforced here rather than assumed of
    // the caller (the mapPartitions below blocks column pruning, so the
    // projection cannot be left to Catalyst); measured plan-identical on
    // the gates, which already pre-project. The id is column 0.
    df.select(col(idCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Per-partition Java Sound provider lookup. `AudioSystem.write` /
    * `AudioSystem.getAudioInputStream` route EVERY call through
    * `JDK13Services.getProviders` — a `static synchronized` ServiceLoader
    * scan with no cache: one global lock plus a provider walk per clip.
    * Serial code never notices; 32 concurrent decode tasks serialize on
    * that lock and run SLOWER than one task (measured on this box:
    * decodeAudio 0.50 s on one task → 1.9 s wall / 63 s summed task time
    * at 32 tasks). Loading the providers ONCE per partition (guide §4.5:
    * initialise heavyweight state once per task, not per row) keeps the
    * REAL JDK codec — the same `WaveFileReader`/`WaveFileWriter` service
    * classes AudioSystem itself dispatches to — minus the per-row lock.
    * First-success-wins over the provider list is AudioSystem's own
    * dispatch rule.
    */
  /** A minimal valid RIFF/WAVE clip (44-byte canonical header + one
    * 16-bit mono sample) used to probe reader CAPABILITY at init — see
    * [[wavReaders]].
    */
  private lazy val probeWavBytes: Array[Byte] = {
    val dataSize = 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(1.toShort) // mono
      .putInt(8000)        // sample rate
      .putInt(16000)       // byte rate
      .putShort(2.toShort) // block align
      .putShort(16.toShort) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
      .putShort(0.toShort)
    bb.array()
  }

  /** WAVE-capable providers first, decided by CAPABILITY (each reader is
    * probed once, per JVM, with [[probeWavBytes]]): the JDK's
    * SoftMidiAudioFileReader otherwise probes every clip by calling
    * MidiSystem.getSequence, which re-enters the synchronized
    * JDK13Services registry per call — the very lock this helper exists
    * to avoid (sampled: 2,741/3,000 task-thread samples BLOCKED in that
    * probe before the reorder). Probing beats matching on the provider's
    * class NAME, which silently degrades back to the slow path if the
    * JDK class is renamed. Accepting readers keep ServiceLoader order
    * among themselves (AudioSystem's own first-success-wins rule);
    * non-accepting ones stay as fallbacks. Cached per JVM: SPI provider
    * instances are stateless services (AudioSystem itself holds them
    * globally across threads).
    */
  private lazy val wavReadersOrdered: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val all = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator.asScala.toSeq
    val (wave, rest) = all.partition { r =>
      try {
        r.getAudioInputStream(
          new java.io.ByteArrayInputStream(probeWavBytes)).close()
        true
      } catch { case _: Exception => false }
    }
    if (wave.isEmpty)
      System.err.println("[graft] no registered AudioFileReader accepted a " +
        "canonical WAV probe — audio decode will fall back to slow probing")
    wave ++ rest
  }
  private def wavReaders(): Seq[javax.sound.sampled.spi.AudioFileReader] =
    wavReadersOrdered
  private lazy val wavWritersLoaded: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator.asScala.toSeq
  }
  private def wavWriters(): Seq[javax.sound.sampled.spi.AudioFileWriter] =
    wavWritersLoaded
  private def readWav(readers: Seq[javax.sound.sampled.spi.AudioFileReader],
      bytes: Array[Byte], what: => String): javax.sound.sampled.AudioInputStream = {
    readers.foreach { rd =>
      try return rd.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
    }
    // no registered provider accepted the payload — same terminal state
    // AudioSystem reports, with the doc context added
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      s"no AudioFileReader accepted the payload for $what")
  }
  private def writeWav(writers: Seq[javax.sound.sampled.spi.AudioFileWriter],
      ais: javax.sound.sampled.AudioInputStream,
      out: java.io.OutputStream, what: => String): Unit = {
    val t = javax.sound.sampled.AudioFileFormat.Type.WAVE
    writers.find(_.isFileTypeSupported(t, ais)).getOrElse(
      throw new IllegalStateException(
        s"no WAVE AudioFileWriter available for $what"))
      .write(ais, t, out): Unit
  }

  /** Fake media payload: 2-byte header (w, h in 32..126, single-byte UTF-8)
    * followed by the document text bytes. Built as expressions so the
    * construction is portable to the oracle.
    */
  def fakePayload(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(
      col(idCol),
      encode(concat(expr(s"char($idCol % 95 + 32)"), expr(s"char(($idCol * 7) % 95 + 32)"),
        col(textCol)), "UTF-8").as("payload"))
  }

  /** The output schema of the stub decoder. */
  val DecodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("img_w", IntegerType, nullable = false),
    StructField("img_h", IntegerType, nullable = false),
    StructField("blob_len", IntegerType, nullable = false),
    StructField("brightness", IntegerType, nullable = false)))

  /** Batch "decode": reads real bytes from the binary column per partition.
    * brightness = sum of the first 16 payload bytes mod 256 — the stand-in
    * for a real feature extraction.
    */
  def decodeStub(payloads: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val idIdx = payloads.schema.fieldIndex(idCol)
    val pIdx = payloads.schema.fieldIndex("payload")
    payloads.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        val w = bytes(0) & 0xFF
        val h = bytes(1) & 0xFF
        var s = 0
        var i = 0
        while (i < math.min(16, bytes.length)) { s += bytes(i) & 0xFF; i += 1 }
        Row(id, w, h, bytes.length, s % 256)
      }
    }(Encoders.row(DecodedSchema))
  }

  /** Output schema of the real image decode. All BIGINT for oracle parity. */
  val ImageDecodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("img_w", LongType, nullable = false),
    StructField("img_h", LongType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("sum_luma", LongType, nullable = false),
    StructField("mean_mluma", LongType, nullable = false)))

  /** Deterministic PNG synthesis: a w×h grayscale gradient derived purely
    * from `idCol` arithmetic (w = id%95+32, h = (id*7)%95+32, row y filled
    * with gray (id+y)%256), encoded through the JDK's real PNG writer. The
    * payload column is a genuine PNG byte stream — `file`-sniffable,
    * decodable by any image library — so [[decodeImages]] exercises a real
    * codec round trip while the expected stats stay closed-form for the
    * oracle (h ≤ 126 < 256 ⇒ the row-gray sequence wraps at most once).
    */
  def imagePayload(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    fanOutSeed(df, idCol).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file spills per encode
      it.map { r =>
        val id = r.getLong(0)
        val w = (id % 95 + 32).toInt
        val h = ((id * 7) % 95 + 32).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rowBuf = new Array[Int](w)
        var y = 0
        while (y < h) {
          val v = ((id + y) % 256).toInt
          val rgb = (v << 16) | (v << 8) | v
          java.util.Arrays.fill(rowBuf, rgb)
          img.setRGB(0, y, w, 1, rowBuf, 0, w)
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        // write returns false (with an EMPTY output) when no writer is
        // registered for the format — fail here with the doc id, not
        // later in the decoder with a generic bad-payload message
        require(javax.imageio.ImageIO.write(img, "png", bos),
          s"no PNG ImageIO writer available (doc_id=$id)")
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(schema))
  }

  /** REAL batch image decode via the JDK's ImageIO (PNG/JPEG/BMP/GIF):
    * per-partition, parse each payload, emit dimensions and luma stats.
    * mean_mluma = floor(sum_luma * 1000 / n_pixels) — integer arithmetic so
    * the oracle's `//` matches bit-for-bit. Luma per pixel = (r+g+b)/3.
    */
  def decodeImages(payloads: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val idIdx = payloads.schema.fieldIndex(idCol)
    val pIdx = payloads.schema.fieldIndex("payload")
    payloads.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"undecodable image payload for $idCol=$id")
        val w = img.getWidth; val h = img.getHeight
        val pixels = img.getRGB(0, 0, w, h, null, 0, w)
        var sum = 0L
        var i = 0
        while (i < pixels.length) {
          val p = pixels(i)
          sum += ((p >> 16 & 0xFF) + (p >> 8 & 0xFF) + (p & 0xFF)) / 3
          i += 1
        }
        val n = w.toLong * h
        Row(id, w.toLong, h.toLong, n, sum, sum * 1000L / n)
      }
    }(Encoders.row(ImageDecodedSchema))
  }

  /** 8×8 average-hash bits of one decoded image — shared by the image
    * and video dedup paths. 64-char bit string, row-major.
    */
  private def aHashBits(img: java.awt.image.BufferedImage): String = {
    val w = img.getWidth; val h = img.getHeight
    // the exact cross-multiplied compare below needs blockSum·w·h < 2^63;
    // blockSum ≤ 255·wh, so wh ≤ 2^27 (134 MP — beyond any real photo)
    // keeps it safe. Larger inputs fail LOUDLY instead of silently
    // wrapping negative and emitting a garbage hash.
    require(w.toLong * h <= (1L << 27),
      s"imageAHash: ${w}x$h exceeds 2^27 pixels; exact compare would overflow")
    val pixels = img.getRGB(0, 0, w, h, null, 0, w)
    // 8×8 integer block sums of luma ((r+g+b)/3, like decodeImages)
    val block = Array.ofDim[Long](8, 8)
    var total = 0L
    var y = 0
    while (y < h) {
      // inverse of the floor(k·dim/8) edges: y sits in band
      // floor((8y+7)/h) — NOT floor(8y/h), which drifts off the
      // edge sequence whenever dim is not a multiple of 8
      val by = (y * 8 + 7) / h
      var x = 0
      while (x < w) {
        val p = pixels(y * w + x)
        val l = ((p >> 16 & 0xFF) + (p >> 8 & 0xFF) + (p & 0xFF)) / 3
        block(by)((x * 8 + 7) / w) += l
        total += l
        x += 1
      }
      y += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var by = 0
    while (by < 8) {
      val y0 = by * h / 8; val y1 = (by + 1) * h / 8
      var bx = 0
      while (bx < 8) {
        val x0 = bx * w / 8; val x1 = (bx + 1) * w / 8
        // blockMean >= globalMean, cross-multiplied exactly
        val set = block(by)(bx) * w * h >=
          total * (x1 - x0).toLong * (y1 - y0)
        sb.append(if (set) '1' else '0')
        bx += 1
      }
      by += 1
    }
    sb.toString
  }

  /** Average-hash (aHash) over REAL decoded pixels — the standard first
    * tier of image deduplication: luma is block-summed into an 8×8 grid
    * and each block compares against the global mean. The comparison is
    * EXACT integer cross-multiplication (`blockSum·w·h ≥ total·bw·bh`,
    * all operands < 2^35 — no float averaging, so two engines can never
    * disagree on a boundary block), and the hash is surfaced as a
    * 64-char bit string (a 64-bit long would go negative at bit 63 and
    * overflow DuckDB's BIGINT power).
    *
    * Block edges are `floor(k·dim/8)` — ragged blocks at non-multiple
    * sizes get the remainder rows/columns, matching the oracle's integer
    * division. Per-partition real ImageIO decode like [[decodeImages]];
    * grouping the output by `ahash` is exact perceptual dedup, the shape
    * a 100 TB image corpus runs before any learned-embedding pass.
    */
  def imageAHash(payloads: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val idIdx = payloads.schema.fieldIndex(idCol)
    val pIdx = payloads.schema.fieldIndex("payload")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("ahash", org.apache.spark.sql.types.StringType,
        nullable = false)))
    payloads.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"undecodable image payload for $idCol=$id")
        Row(id, aHashBits(img))
      }
    }(Encoders.row(schema))
  }

  /** Perceptual image NEAR-dup pairing over [[imageAHash]] output — the
    * hamming tier above exact-hash grouping (a re-encoded or slightly
    * resized copy flips a few aHash bits; exact grouping misses it).
    * The 64 hash bits split into 8 byte-bands; documents sharing ANY
    * band become candidates through [[Dedup.bandedCandidates]]' capped
    * machinery, and candidates verify by exact bit-position hamming on
    * the carried hashes. With `maxHamming < 8`, pigeonhole (≤7
    * differing bits cannot touch all 8 bands) guarantees a shared band
    * for every qualifying pair — so recall is EXACT while the shared
    * buckets stay within `bandCap`. Over-cap buckets degrade to star
    * edges like every banded operator here: both members stay reachable
    * from the bucket minimum (keep-min dedup still collapses the
    * cluster), but the direct pair itself may go unproposed — the
    * deliberate price of bounding a quadratic bucket join, NOT the
    * simhash-style unconditional guarantee. Verification is
    * pair-bounded; banding is one capped self-join — never all-pairs.
    */
  def imageNearDups(hashes: DataFrame, maxHamming: Int = 6,
      bandCap: Int = Dedup.BandBucketCap): DataFrame = {
    require(maxHamming < 8,
      s"pigeonhole guarantee needs maxHamming ($maxHamming) < 8 bands")
    // the 64 hash bits ride the banding as two 32-bit integers (16 bytes
    // per band row instead of the 80-byte bit string — guide §2.3
    // "narrower types"), parsed ONCE per document here; the verify is
    // then one xor+bit_count per half instead of 64 per-pair substring
    // compares (measured: the post-banding verify stage was a 2.4 s
    // single task at sf0.1 — AQE coalesces the tiny candidate relation
    // to one partition, so per-pair cost is the whole lever). conv(·,2,
    // 10) of a 32-char '0'/'1' slice is ≤ 2^32−1, exact in a long under
    // ANSI; hamming(a,b) = Σ bit_count(half_a xor half_b) is
    // position-for-position the old character compare.
    val hi = conv(substring(col("ahash"), 1, 32), 2, 10).cast("long")
    val lo = conv(substring(col("ahash"), 33, 32), 2, 10).cast("long")
    val banded = hashes.select(col("doc_id"), hi.as("_hi"), lo.as("_lo"),
        explode(array((0 until 8).map(b =>
          struct(lit(b).as("band"),
            substring(col("ahash"), b * 8 + 1, 8).as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("_hi"), col("_lo"),
        col("bk.band"), col("bk.bkey"))
    val ham = bit_count(col("_hi_a").bitwiseXOR(col("_hi_b"))) +
      bit_count(col("_lo_a").bitwiseXOR(col("_lo_b")))
    Dedup.bandedCandidates(banded, "doc_id", bandCap,
        carry = Seq("_hi", "_lo"))
      .select(col("doc_a"), col("doc_b"), ham.cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Video-level perceptual fingerprint: md5 over the concatenated
    * [[aHashBits]] of every `every`-th frame (same k-th-frame walk as
    * [[decodeVideoFrames]] — skipped frames are never decoded). Grouping
    * by the fingerprint is exact perceptual video dedup: two videos
    * collapse iff every sampled frame pair shares its aHash. Real codec
    * work per sampled frame, map-only at any corpus size.
    */
  def videoFingerprint(payloads: DataFrame, idCol: String = "doc_id",
      every: Int = 3): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val idIdx = payloads.schema.fieldIndex(idCol)
    val pIdx = payloads.schema.fieldIndex("payload")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_sampled", LongType, nullable = false),
      StructField("vhash", org.apache.spark.sql.types.StringType,
        nullable = false)))
    payloads.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val sb = new java.lang.StringBuilder()
        var f = 0L
        var sampled = 0L
        while (buf.remaining() >= 4) {
          val len = buf.getInt
          require(len >= 0 && len <= buf.remaining(),
            s"corrupt frame chunk for $idCol=$id at frame $f (len=$len)")
          if (f % every == 0) {
            val frame = new Array[Byte](len)
            buf.get(frame)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(frame))
            require(img != null, s"undecodable frame $f for $idCol=$id")
            sb.append(aHashBits(img))
            sampled += 1
          } else buf.position(buf.position() + len)
          f += 1
        }
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(sb.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"${b & 0xFF}%02x").mkString
        Row(id, sampled, hex)
      }
    }(Encoders.row(schema))
  }

  /** Output schema of the real audio decode. All BIGINT for oracle parity. */
  val AudioDecodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("mean_sq", LongType, nullable = false)))

  /** Audio sample-rate shared by synthesis, decode, and the oracle. */
  val AudioRate = 8000

  /** Deterministic WAV synthesis: n = id%800+100 samples of 16-bit mono PCM
    * at [[AudioRate]] Hz, sample i = ((id*31 + i*7) % 65536) - 32768 —
    * full-range deterministic "noise" with an oracle-computable sum of
    * squares. Written through the JDK's real WAV encoder
    * (`javax.sound.sampled.AudioSystem.write`), so the payload is a genuine
    * RIFF/WAVE container.
    */
  def audioPayload(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    fanOutSeed(df, idCol).mapPartitions { it =>
      import javax.sound.sampled._
      val fmt = new AudioFormat(AudioRate.toFloat, 16, 1, true, false) // 16-bit LE mono
      val writers = wavWriters() // once per task — see wavWriters
      it.map { r =>
        val id = r.getLong(0)
        val n = (id % 800 + 100).toInt
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 31 + i.toLong * 7) % 65536) - 32768).toInt
          pcm(2 * i) = (s & 0xFF).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        writeWav(writers, ais, bos, s"doc_id=$id")
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(schema))
  }

  /** REAL batch audio decode via the JDK's WAV parser: per-partition, parse
    * the RIFF container (format, rate, frame count read from the header, not
    * assumed), reassemble the 16-bit LE samples, emit duration and
    * sum-of-squares energy stats. Integer arithmetic throughout so the
    * oracle matches exactly.
    */
  def decodeAudio(payloads: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val idIdx = payloads.schema.fieldIndex(idCol)
    val pIdx = payloads.schema.fieldIndex("payload")
    payloads.mapPartitions { it =>
      val readers = wavReaders() // once per task — see wavReaders
      it.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        val ais = readWav(readers, bytes, s"$idCol=$id")
        try {
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
            s"unexpected WAV format for $idCol=$id: $fmt")
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          var sum = 0L
          var i = 0
          while (i < n) {
            val s = ((pcm(2 * i) & 0xFF) | (pcm(2 * i + 1).toInt << 8)).toShort.toLong
            sum += s * s
            i += 1
          }
          val rate = fmt.getSampleRate.toLong
          Row(id, rate, n.toLong, n * 1000L / rate, sum, if (n == 0) 0L else sum / n)
        } finally ais.close()
      }
    }(Encoders.row(AudioDecodedSchema))
  }

  /** Band-marked audio synthesis for the fingerprint gate: sample i is
    * the LCG base tone (±8192 here, so a ×3 burst stays within 16-bit)
    * AMPLIFIED ×3 whenever the clip's time band `(8i+7)/n` has the
    * corresponding bit of `doc_id` set. The plain [[audioPayload]] LCG
    * noise has a flat energy profile — every clip fingerprints
    * identically — so this marks each clip with a genuine 8-band energy
    * signature ([[audioFingerprint]] recovers `doc_id & 0xFF` for
    * non-zero masks: a 9× band always clears the mean, a 1× band never
    * does once any burst exists).
    */
  def audioPayloadMarked(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    fanOutSeed(df, idCol).mapPartitions { it =>
      import javax.sound.sampled._
      val fmt = new AudioFormat(AudioRate.toFloat, 16, 1, true, false)
      val writers = wavWriters() // once per task — see wavWriters
      it.map { r =>
        val id = r.getLong(0)
        val n = (id % 800 + 100).toInt
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val base = (((id * 31 + i.toLong * 7) % 16384) - 8192).toInt
          val mult = if (((id >> ((i * 8 + 7) / n)) & 1L) == 1L) 3 else 1
          val s = base * mult
          pcm(2 * i) = (s & 0xFF).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        writeWav(writers, ais, bos, s"doc_id=$id")
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(schema))
  }

  /** Audio perceptual fingerprint from REAL-decoded samples — the
    * energy-profile analogue of [[aHashBits]]: the decoded PCM stream is
    * split into 8 time bands (same `floor(k·n/8)` edges / inverse-index
    * math as the image blocks), per-band ENERGY (sum of squares) compares
    * against the global mean by exact integer cross-multiplication
    * (`bandEnergy·n ≥ total·bandLen`). The cross-products exceed 2^63
    * once clips pass ~2^18 samples (total can reach 2^30·n, so
    * total·bandLen ~ 2^27·n²), so the compare runs in 128 bits via
    * [[java.lang.Math.multiplyHigh]] — exact at any clip length, no
    * overflow guard needed. Gives an 8-char bit string; grouping by it
    * is the coarse audio dedup tier. Map-only decode per clip.
    */
  def audioFingerprint(payloads: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val idIdx = payloads.schema.fieldIndex(idCol)
    val pIdx = payloads.schema.fieldIndex("payload")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("afp", org.apache.spark.sql.types.StringType,
        nullable = false)))
    payloads.mapPartitions { it =>
      val readers = wavReaders() // once per task — see wavReaders
      it.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        val ais = readWav(readers, bytes, s"$idCol=$id")
        try {
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian, s"unexpected WAV format for $idCol=$id: $fmt")
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          val band = new Array[Long](8)
          var total = 0L
          var i = 0
          while (i < n) {
            val s = ((pcm(2 * i) & 0xFF) | (pcm(2 * i + 1).toInt << 8))
              .toShort.toLong
            val e = s * s
            // long band index: i*8 wraps Int past 2^28 samples (within
            // readAllBytes' 2 GB reach) — a negative index, not a wrong bit
            band(((i.toLong * 8 + 7) / n).toInt) += e
            total += e
            i += 1
          }
          val sb = new java.lang.StringBuilder(8)
          var b = 0
          while (b < 8) {
            // long edge math for the same 2^28-sample reason as the
            // band index above (7*n wraps Int); the edges themselves
            // always fit an Int (<= n)
            val i0 = (b.toLong * n / 8).toInt
            val i1 = ((b + 1).toLong * n / 8).toInt
            // 128-bit unsigned compare of band(b)*n vs total*(i1-i0):
            // all operands are non-negative, and 64-bit products overflow
            // for clips past ~2^18 samples (~33 s at 8 kHz)
            val lhsHi = Math.multiplyHigh(band(b), n.toLong)
            val lhsLo = band(b) * n.toLong
            val rhsHi = Math.multiplyHigh(total, (i1 - i0).toLong)
            val rhsLo = total * (i1 - i0).toLong
            val ge = lhsHi > rhsHi || (lhsHi == rhsHi &&
              java.lang.Long.compareUnsigned(lhsLo, rhsLo) >= 0)
            sb.append(if (ge) '1' else '0')
            b += 1
          }
          Row(id, n.toLong, sb.toString)
        } finally ais.close()
      }
    }(Encoders.row(schema))
  }

  /** Cheap expression-level "thumbnail": first n payload bytes (what a real
    * resize would replace); stays in codegen.
    */
  def thumbnail(payload: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    payload.substr(lit(1), lit(n))

  /** Output schema of the real video-frame decode. All BIGINT for oracle
    * parity.
    */
  val VideoFrameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("img_w", LongType, nullable = false),
    StructField("img_h", LongType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("sum_luma", LongType, nullable = false),
    StructField("mean_mluma", LongType, nullable = false)))

  /** Deterministic "video" synthesis: `n_frames = id%8+2` gradient PNG
    * frames (w = id%31+16, h = (id*3)%31+16; frame f's row y filled with
    * gray (id + f*17 + y) % 256), each a REAL JDK-encoded PNG, concatenated
    * into a minimal length-prefixed chunk container (4-byte big-endian
    * frame length + frame bytes — the structural shape of every real
    * container: RIFF/AVI chunks, MP4 boxes). The JDK ships no video codec
    * and this environment is offline, so the container is minimal by
    * necessity; the per-frame payloads are genuine PNG streams and the
    * stats stay closed-form for the oracle (h ≤ 46 < 256 ⇒ the row-gray
    * sequence wraps at most once, same derivation as [[imagePayload]]).
    */
  def videoPayload(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    fanOutSeed(df, idCol).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(0)
        val nf = (id % 8 + 2).toInt
        val w = (id % 31 + 16).toInt
        val h = ((id * 3) % 31 + 16).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(bos)
        var f = 0
        while (f < nf) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rowBuf = new Array[Int](w)
          var y = 0
          while (y < h) {
            val v = ((id + f * 17L + y) % 256).toInt
            val rgb = (v << 16) | (v << 8) | v
            java.util.Arrays.fill(rowBuf, rgb)
            img.setRGB(0, y, w, 1, rowBuf, 0, w)
            y += 1
          }
          val fb = new java.io.ByteArrayOutputStream()
          require(javax.imageio.ImageIO.write(img, "png", fb),
            s"no PNG ImageIO writer available (doc_id=$id)")
          val bytes = fb.toByteArray
          dos.writeInt(bytes.length)
          dos.write(bytes)
          f += 1
        }
        dos.flush()
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(schema))
  }

  /** REAL video-frame sampling + decode: walk the length-prefixed chunk
    * container, keep every `every`-th frame, and run ONLY the kept frames
    * through a genuine ImageIO decode — skipped frames are passed over by
    * their header length without touching the codec, which is the whole
    * point of frame sampling at 100 TB (decode cost scales with kept
    * frames, not stored frames). Emits per-kept-frame dimension and luma
    * stats; integer arithmetic throughout so the oracle matches exactly.
    *
    * STRICT CONTAINER VALIDATION (behavior change in round 9): a payload
    * with a 1–3 byte trailing fragment — a truncated frame header — now
    * throws instead of silently ignoring the tail, as does a frame length
    * running past the buffer. Externally produced containers with benign
    * trailing padding must be trimmed by the caller; silent acceptance
    * would also mask real truncation (a cut-short upload decoding to
    * "success" with fewer frames).
    */
  def decodeVideoFrames(payloads: DataFrame, idCol: String = "doc_id",
      every: Int = 3): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    val idIdx = payloads.schema.fieldIndex(idCol)
    val pIdx = payloads.schema.fieldIndex("payload")
    payloads.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](pIdx)
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val out = Seq.newBuilder[Row]
        var f = 0L
        while (buf.remaining() >= 4) {
          val len = buf.getInt
          require(len >= 0 && len <= buf.remaining(),
            s"corrupt frame chunk for $idCol=$id at frame $f (len=$len)")
          if (f % every == 0) {
            val frame = new Array[Byte](len)
            buf.get(frame)
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frame))
            require(img != null, s"undecodable frame $f for $idCol=$id")
            val w = img.getWidth; val h = img.getHeight
            val pixels = img.getRGB(0, 0, w, h, null, 0, w)
            var sum = 0L
            var i = 0
            while (i < pixels.length) {
              val p = pixels(i)
              sum += ((p >> 16 & 0xFF) + (p >> 8 & 0xFF) + (p & 0xFF)) / 3
              i += 1
            }
            val n = w.toLong * h
            out += Row(id, f, w.toLong, h.toLong, n, sum, sum * 1000L / n)
          } else buf.position(buf.position() + len) // skip WITHOUT decoding
          f += 1
        }
        // a 1-3 byte tail is a truncated header — corruption, same as a bad
        // chunk length (the loop above only stops cleanly at remaining == 0)
        require(buf.remaining() == 0,
          s"truncated trailing frame header for $idCol=$id (${buf.remaining()} bytes)")
        out.result()
      }
    }(Encoders.row(VideoFrameSchema))
  }

  /** Scene-STRUCTURED video container: the [[videoPayload]] chunk format
    * (length-prefixed PNGs) with `doc_id % 8 + 6` frames in scenes of
    * `sceneLen`: within a scene consecutive frames are pixel-identical
    * (row luma `(id + scene·53) mod 128 + y`), across a boundary the
    * base jumps by +53 or −75 (mod 128) — so the frame MEAN moves by
    * ≥ 53 luma at EVERY boundary. The base stays under 128 and the row
    * offset under 46, so no pixel ever wraps mod 256: a wrap inside the
    * row window would partially cancel the mean jump and leave ~19% of
    * boundaries under the detector's 30-luma default threshold (the
    * original `·97 mod 256` construction had exactly that flaw —
    * boundaries the fixture claimed detectable were silently
    * sub-threshold on both engines). Closed-form luma, oracle-replayable.
    */
  def videoPayloadScenes(df: DataFrame, idCol: String = "doc_id",
      sceneLen: Int = 4): DataFrame = {
    require(sceneLen >= 1, s"sceneLen must be >= 1, got $sceneLen")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    fanOutSeed(df, idCol).mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(0)
        val nf = (id % 8 + 6).toInt
        val w = (id % 31 + 16).toInt
        val h = ((id * 3) % 31 + 16).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val dos = new java.io.DataOutputStream(bos)
        var f = 0
        while (f < nf) {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val rowBuf = new Array[Int](w)
          var y = 0
          while (y < h) {
            val v = (((id + (f / sceneLen) * 53L) % 128) + y).toInt
            val rgb = (v << 16) | (v << 8) | v
            java.util.Arrays.fill(rowBuf, rgb)
            img.setRGB(0, y, w, 1, rowBuf, 0, w)
            y += 1
          }
          val fb = new java.io.ByteArrayOutputStream()
          require(javax.imageio.ImageIO.write(img, "png", fb),
            s"no PNG ImageIO writer available (doc_id=$id)")
          val bytes = fb.toByteArray
          dos.writeInt(bytes.length)
          dos.write(bytes)
          f += 1
        }
        dos.flush()
        Row(id, bos.toByteArray)
      }
    }(Encoders.row(schema))
  }

  /** Shot-boundary (scene-cut) detection: decode EVERY frame (cuts
    * compare consecutive frames, so there is nothing to sample away),
    * take each frame's integer mean-luma, and flag frames whose
    * mean-luma jumps more than `thresholdMilli` (milli-luma levels)
    * from their predecessor. The per-document report carries the frame
    * count, the cut count, and the first cut's frame index (−1 when the
    * video is one continuous shot).
    *
    * The comparison window partitions by the video id — frames of one
    * video are decoded and compared together, videos parallelize
    * freely; the decode itself is [[decodeVideoFrames]]'s chunk walk,
    * so the whole pipeline is one mapPartitions pass plus a per-video
    * window and one aggregation.
    */
  def sceneCuts(payloads: DataFrame, idCol: String = "doc_id",
      thresholdMilli: Long = 30000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("frame_idx")
    decodeVideoFrames(payloads, idCol, every = 1)
      .withColumn("_prev", lag(col("mean_mluma"), 1).over(w))
      .withColumn("_cut", col("_prev").isNotNull &&
        abs(col("mean_mluma") - col("_prev")) > thresholdMilli)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("_cut"), 1L).otherwise(0L)).as("n_cuts"),
        coalesce(min(when(col("_cut"), col("frame_idx"))), lit(-1L))
          .as("first_cut"))
      .orderBy(idCol)
  }

  /** Frame sampling for a (stub) video payload: split the payload into
    * fixed-size frames and keep every k-th — exercises the
    * array-of-binary shape a video pipeline produces.
    */
  def sampleFrames(payloads: DataFrame, idCol: String, frameSize: Int, every: Int): DataFrame = {
    val payload = col("payload")
    val frameIdx = filter(
      sequence(lit(0L), ((length(payload) - 1) / frameSize).cast("long")),
      i => i % every === 0)
    payloads.select(
      col(idCol),
      transform(frameIdx, i => payload.substr(i * frameSize + 1, lit(frameSize)))
        .as("frames"))
  }
}
