package graft.gates

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal}
import graft.fixtures.Tables._
import graft.fixtures.Staging._

/** Multimodal gates (`qm_*`): image, audio and video decode,
  * sampling and dedup over synthetic media.
  */
object QmGates extends GateFamily {

  // closed-form aHash replay (the synthetic gradient is x-invariant,
  // so the 8x8 hash reduces to row-band sums) — shared by
  // qm_image_dedup and qm_image_neardup
  private val imageHashCtes =
    """WITH g AS (SELECT doc_id, doc_id % 95 + 32 AS w,
      |    (doc_id*7) % 95 + 32 AS h FROM documents),
      |l AS (SELECT doc_id, w, h,
      |    list_transform(range(h), y -> (doc_id + y) % 256) AS gr FROM g),
      |t AS (SELECT doc_id, w, h, gr, list_sum(gr) AS ty FROM l),
      |b AS (SELECT doc_id, list_aggregate(list_transform(range(8), by ->
      |      repeat(CASE WHEN
      |          list_sum(gr[by*h//8 + 1 : (by+1)*h//8]) * h >=
      |          ty * ((by+1)*h//8 - by*h//8)
      |        THEN '1' ELSE '0' END, 8)), 'string_agg', '') AS ahash
      |  FROM t)""".stripMargin

  val mediaDecode = gate("qm_media_decode") { (s, dir) =>
    // oracle computes byte math from characters, so restrict the gate to
    // ASCII docs (bytes == chars); the stub itself is byte-correct for
    // any input
    val ascii = t(s, dir, "documents")
      .filter(octet_length(col("text")) === length(col("text")))
    val payloads = Multimodal.fakePayload(ascii, "doc_id", "text")
    Multimodal.decodeStub(payloads)
  }(
    """SELECT doc_id,
      |  CAST(doc_id % 95 + 32 AS INTEGER) AS img_w,
      |  CAST((doc_id*7) % 95 + 32 AS INTEGER) AS img_h,
      |  CAST(n_chars + 2 AS INTEGER) AS blob_len,
      |  CAST((doc_id % 95 + 32 + (doc_id*7) % 95 + 32 +
      |    list_reduce(list_transform(string_split(substr(text,1,14),''), c -> ord(c)),
      |      (a,b) -> a+b)) % 256 AS INTEGER) AS brightness
      |FROM documents WHERE octet_length(encode(text)) = length(text)""".stripMargin)

  val frameSample = gate("qm_frame_sample") { (s, dir) =>
    // video-shaped plumbing: split payload into 32-byte frames, keep
    // every 3rd; output per-doc frame stats (arithmetic oracle; ASCII
    // subset for the same bytes-vs-chars reason as qm_media_decode)
    val payloads = Multimodal.fakePayload(
      t(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text"))),
      "doc_id", "text")
    Multimodal.sampleFrames(payloads, "doc_id", frameSize = 32, every = 3)
      .select(col("doc_id"), size(col("frames")).as("n_frames"),
        length(element_at(col("frames"), 1)).as("first_len"),
        length(element_at(col("frames"), -1)).as("last_len"))
  }(
    """SELECT doc_id,
      |  CAST(((n_chars + 2 + 31)//32 + 2)//3 AS INTEGER) AS n_frames,
      |  CAST(least(32, n_chars + 2) AS INTEGER) AS first_len,
      |  CAST(least(32, n_chars + 2 -
      |    ((((n_chars + 2 + 31)//32) - 1)//3)*3*32) AS INTEGER) AS last_len
      |FROM documents WHERE octet_length(encode(text)) = length(text)""".stripMargin)

  val imageDecode = gate("qm_image_decode") { (s, dir) =>
    // REAL codec round trip: deterministic gradient PNGs synthesized from
    // doc_id arithmetic, encoded AND decoded through the JDK's ImageIO;
    // the oracle recomputes the luma stats closed-form (h<256 ⇒ the
    // row-gray sequence (id+y)%256 wraps at most once)
    Multimodal.decodeImages(
      Multimodal.imagePayload(t(s, dir, "documents").select("doc_id")))
  }(
    """WITH dims AS (
      |  SELECT doc_id, doc_id % 95 + 32 AS w, (doc_id*7) % 95 + 32 AS h,
      |         doc_id % 256 AS a
      |  FROM documents),
      |luma AS (
      |  SELECT doc_id, w, h,
      |    w*(h*a + h*(h-1)//2 - 256*greatest(0, a + h - 256)) AS s
      |  FROM dims)
      |SELECT doc_id, w AS img_w, h AS img_h, w*h AS n_pixels,
      |  s AS sum_luma, s*1000 // (w*h) AS mean_mluma
      |FROM luma""".stripMargin)

  val imageDedup = gate("qm_image_dedup") { (s, dir) =>
    // multimodal dedup tier 1: average-hash over REAL decoded pixels
    // (8×8 integer block means vs global mean, exact cross-multiplied
    // compare), then exact-hash dup groups — what an image corpus runs
    // before any learned-embedding pass. The oracle exploits the
    // synthetic gradient's x-invariance to reproduce the hash
    // closed-form in SQL; the Spark side computes it from the pixels.
    Multimodal.imageAHash(
        Multimodal.imagePayload(t(s, dir, "documents").select("doc_id")))
      .groupBy("ahash")
      .agg(count(lit(1)).as("n_imgs"), min("doc_id").as("keep_id"))
      .filter(col("n_imgs") > 1)
      .orderBy("ahash")
  }(
    // aHash closed-form: the gradient is x-constant, so for every block
    // row the cross-multiplied compare reduces (divide both sides by
    // the positive bw·w) to rowBandSum·h ≥ totalRowSum·bh — each of the
    // 8 bits in a block row is identical, hence repeat(bit, 8)
    imageHashCtes +
    """
      |SELECT ahash, count(*) AS n_imgs, min(doc_id) AS keep_id
      |FROM b GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)

  val imageNeardup = gate("qm_image_neardup") { (s, dir) =>
    // the hamming tier above qm_image_dedup's exact grouping: byte-band
    // the 64 aHash bits, pair via the capped band join, verify exact
    // hamming <= 6 — guaranteed-recall banding (pigeonhole over 8
    // bands), never all-pairs. The PNG synthesis + codec round trip is
    // STAGED once per (JVM, dir) — qm_image_dedup already prices the
    // codec path, so this gate times the pairing operator; a real
    // deployment's hash table is likewise a prior stage's output.
    val hashes = stagedInput("qmnh", dir) { p =>
      Multimodal.imageAHash(
          Multimodal.imagePayload(t(s, dir, "documents").select("doc_id")))
        .write.mode("overwrite").parquet(p)
    }
    Multimodal.imageNearDups(s.read.parquet(hashes))
      .orderBy("doc_a", "doc_b")
  }(
    // banded hamming over the same closed-form hashes: byte-bands with
    // the minhash cap machinery (cap 32 + star edges), exact
    // bit-position hamming on candidates
    imageHashCtes +
    s""",
       |bands AS (SELECT b.doc_id, g2.bb AS band,
       |    substr(b.ahash, g2.bb*8 + 1, 8) AS bkey
       |  FROM b, (SELECT unnest(range(8)) AS bb) g2),
       |r AS (SELECT doc_id, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn,
       |    first_value(doc_id) OVER (PARTITION BY band, bkey ORDER BY doc_id) AS mn
       |  FROM bands),
       |cb AS (SELECT doc_id, band, bkey FROM r WHERE rn <= ${Dedup.BandBucketCap}),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM cb a JOIN cb b2 ON a.band = b2.band AND a.bkey = b2.bkey
       |    AND a.doc_id < b2.doc_id
       |  UNION ALL
       |  SELECT mn, doc_id FROM r WHERE rn > ${Dedup.BandBucketCap}) u),
       |hm AS (SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_filter(range(64), i ->
       |      substr(ha.ahash, i+1, 1) <> substr(hb.ahash, i+1, 1))) AS BIGINT)
       |      AS hamming
       |  FROM cand c
       |  JOIN b ha ON ha.doc_id = c.doc_a
       |  JOIN b hb ON hb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, hamming FROM hm
       |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin)

  val audioDedup = gate("qm_audio_dedup") { (s, dir) =>
    // multimodal audio dedup (coarse tier): 8-band energy-profile
    // fingerprint from REAL-decoded WAV samples (integer
    // cross-multiplied compare, the aHash analogue in time), then
    // fingerprint buckets — the candidate generator an audio corpus
    // runs before any expensive alignment. Clips are the band-MARKED
    // synthesis (plain LCG noise has a flat profile and fingerprints
    // identically — spec-pinned); the real WAV codec runs both ways.
    Multimodal.audioFingerprint(
        Multimodal.audioPayloadMarked(t(s, dir, "documents").select("doc_id")))
      .groupBy("afp")
      .agg(count(lit(1)).as("n_clips"), min("doc_id").as("keep_id"))
      .filter(col("n_clips") > 1)
      .orderBy("afp")
  }(
    // energy bands replayed closed-form from the band-marked synthesis:
    // sample i = ((id*31 + i*7) % 16384 - 8192) · (3 if bit (8i+7)//n of
    // id else 1), n = id%800+100
    """WITH g AS (SELECT doc_id, doc_id % 800 + 100 AS n FROM documents),
      |e AS (SELECT doc_id, n, list_transform(range(n), i ->
      |      ((doc_id*31 + i*7) % 16384 - 8192) *
      |      ((doc_id*31 + i*7) % 16384 - 8192) *
      |      (CASE WHEN (doc_id >> ((i*8+7)//n)) & 1 = 1 THEN 9 ELSE 1 END)) AS en
      |  FROM g),
      |fp AS (SELECT doc_id, list_aggregate(list_transform(range(8), b ->
      |      CASE WHEN
      |        list_sum(en[b*n//8 + 1 : (b+1)*n//8]) * n >=
      |        list_sum(en) * ((b+1)*n//8 - b*n//8)
      |      THEN '1' ELSE '0' END), 'string_agg', '') AS afp
      |  FROM e)
      |SELECT afp, count(*) AS n_clips, min(doc_id) AS keep_id
      |FROM fp GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)

  val videoDedup = gate("qm_video_dedup") { (s, dir) =>
    // multimodal video dedup: per-video perceptual fingerprint = md5
    // over the aHashes of every 3rd REAL-decoded frame (skipped frames
    // never touch the codec); fingerprint groups are exact perceptual
    // dups. Map-only decode + one hash aggregation.
    Multimodal.videoFingerprint(
        Multimodal.videoPayload(t(s, dir, "documents").select("doc_id")),
        every = 3)
      .groupBy("vhash")
      .agg(count(lit(1)).as("n_videos"), min("doc_id").as("keep_id"))
      .filter(col("n_videos") > 1)
      .orderBy("vhash")
  }(
    // same x-invariance reduction as qm_image_dedup, per sampled frame;
    // the video hash is md5 over the frame bit strings in frame order
    """WITH g AS (SELECT doc_id, doc_id % 8 + 2 AS nf,
      |    doc_id % 31 + 16 AS w, (doc_id*3) % 31 + 16 AS h FROM documents),
      |fr AS (SELECT doc_id, h, unnest(range(0, nf, 3)) AS f FROM g),
      |fg AS (SELECT doc_id, f, h,
      |    list_transform(range(h), y -> (doc_id + f*17 + y) % 256) AS gr
      |  FROM fr),
      |fb AS (SELECT doc_id, f, list_aggregate(list_transform(range(8), by ->
      |      repeat(CASE WHEN
      |          list_sum(gr[by*h//8 + 1 : (by+1)*h//8]) * h >=
      |          list_sum(gr) * ((by+1)*h//8 - by*h//8)
      |        THEN '1' ELSE '0' END, 8)), 'string_agg', '') AS bits
      |  FROM fg),
      |v AS (SELECT doc_id, md5(string_agg(bits, '' ORDER BY f)) AS vhash
      |  FROM fb GROUP BY 1)
      |SELECT vhash, count(*) AS n_videos, min(doc_id) AS keep_id
      |FROM v GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)

  val videoFrames = gate("qm_video_frames") { (s, dir) =>
    // REAL video-frame path: "video" = a length-prefixed chunk container
    // of deterministic gradient PNGs (the JDK ships no video codec, so
    // the container is minimal — but the sampler walks real chunk
    // lengths and every KEPT frame goes through a genuine ImageIO
    // decode; skipped frames are never decoded). Keep every 3rd frame;
    // the oracle recomputes the per-frame luma closed-form.
    Multimodal.decodeVideoFrames(
      Multimodal.videoPayload(t(s, dir, "documents").select("doc_id")), every = 3)
  }(
    """WITH dims AS (
      |  SELECT doc_id, doc_id % 8 + 2 AS nf,
      |         doc_id % 31 + 16 AS w, (doc_id*3) % 31 + 16 AS h
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, w, h,
      |         unnest(list_filter(range(0, nf), f -> f % 3 = 0)) AS f
      |  FROM dims),
      |luma AS (
      |  SELECT doc_id, f, w, h, (doc_id + f*17) % 256 AS a FROM fr)
      |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
      |  w AS img_w, h AS img_h, w*h AS n_pixels,
      |  w*(h*a + h*(h-1)//2 - 256*greatest(0, a + h - 256)) AS sum_luma,
      |  (w*(h*a + h*(h-1)//2 - 256*greatest(0, a + h - 256)))*1000 // (w*h)
      |    AS mean_mluma
      |FROM luma""".stripMargin)

  val sceneCuts = gate("qm_scene_cuts") { (s, dir) =>
    // shot-boundary detection over a scene-structured container:
    // every frame ImageIO-decoded (cuts compare consecutive frames),
    // integer mean-luma deltas against a milli-luma threshold, window
    // per video — the oracle replays the closed-form frame luma and
    // the same lag comparison; see Multimodal.sceneCuts
    Multimodal.sceneCuts(
      Multimodal.videoPayloadScenes(
        t(s, dir, "documents").select("doc_id")))
  }(
    // scene-cut replay: closed-form frame mean-luma (single-wrap sum,
    // like qm_video_frames) per scene base, then the same lag window
    // and threshold
    """WITH dims AS (
      |  SELECT doc_id, doc_id % 8 + 6 AS nf,
      |         doc_id % 31 + 16 AS w, (doc_id*3) % 31 + 16 AS h
      |  FROM documents),
      |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM dims),
      |luma AS (SELECT doc_id, f, w, h,
      |    (doc_id + (f // 4) * 53) % 128 AS a FROM fr),
      |m AS (SELECT doc_id, f,
      |    (w*(h*a + h*(h-1)//2))*1000 // (w*h) AS mm FROM luma),
      |d AS (SELECT doc_id, f, mm,
      |    lag(mm) OVER (PARTITION BY doc_id ORDER BY f) AS pm FROM m),
      |c AS (SELECT doc_id, f,
      |    (pm IS NOT NULL AND abs(mm - pm) > 30000) AS cut FROM d)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      |  coalesce(min(CASE WHEN cut THEN f END), -1) AS first_cut
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  val audioDecode = gate("qm_audio_decode") { (s, dir) =>
    // REAL WAV round trip: deterministic 16-bit PCM synthesized from
    // doc_id arithmetic, written and parsed via javax.sound.sampled; the
    // oracle replays the sample formula with list arithmetic
    Multimodal.decodeAudio(
      Multimodal.audioPayload(t(s, dir, "documents").select("doc_id")))
  }(
    """WITH sq AS (
      |  SELECT doc_id, doc_id % 800 + 100 AS n,
      |    CAST(list_sum(list_transform(range(0, doc_id % 800 + 100),
      |      i -> ((doc_id*31 + i*7) % 65536 - 32768)
      |         * ((doc_id*31 + i*7) % 65536 - 32768))) AS BIGINT) AS ss
      |  FROM documents)
      |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, n AS n_samples,
      |  n*1000 // 8000 AS duration_ms, ss AS sum_sq, ss // n AS mean_sq
      |FROM sq""".stripMargin)
}
