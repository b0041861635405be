package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import perfbench.Main._

/** `Dedup.nearDupGroups` (threshold 0.4) over a seeded Zipf-vocabulary
  * corpus with planted near-duplicate twins: the training-data half of
  * graft, which bypasses every `can.*` layer. A job reads the corpus,
  * computes verified pairs and their groups, and writes both.
  *
  * The corpus is JSON lines (`doc_id`, `text`), as training corpora
  * usually ship. A traced job makes the same two calls `nearDupGroups` makes —
  * `minhashNearDups` (shingle, signature, band, verify; returns a
  * materialized result) and `connectedComponentsWithStats` — with a span
  * around each; the shingle, signature and band prefixes are timed
  * separately after the loop.
  */
object DedupBench {

  val Docs = 5000
  /** The warm-up corpus: same generator, a fifth of the documents. */
  val WarmUpDocs = 1000
  val Threshold = 0.4
  /** LSH with 4 bands of 4 hashes finds a pair of Jaccard 0.8 with
    * probability ~0.87; the planted twins sit at 0.8 to 0.9. Recall below
    * this floor means candidates are being lost.
    */
  val RecallFloor = 0.8

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val corpus = Gen.corpus(ctx.conf.seed, Docs)
    // JSON lines, written without Spark so staging warms nothing up
    def writeCorpus(c: Gen.Corpus, name: String): String = {
      val p = ctx.work.resolve("in").resolve(name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, c.ids.indices.map { k =>
        s"""{"doc_id":${c.ids(k)},"text":${Json.str(c.texts(k))}}"""
      }.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p.toString
    }
    val path = writeCorpus(corpus, "corpus.jsonl")
    val warmPath = writeCorpus(Gen.corpus(ctx.conf.seed + 1, WarmUpDocs), "warm-up.jsonl")
    def read(p: String = path) = spark.read.schema("doc_id LONG, text STRING").json(p)
    val outRoot = ctx.work.resolve("out")
    ctx.phase("stage")
    val rounds = mutable.ArrayBuffer.empty[Int]

    def job(i: Int, traced: Boolean, df: => org.apache.spark.sql.DataFrame = read()): Unit = {
      val out = outRoot.resolve(s"job$i")
      if (!traced) {
        val r = Dedup.nearDupGroups(df, "doc_id", col("text"), Threshold)
        r.pairs.write.parquet(out.resolve("pairs").toString)
        r.groups.write.parquet(out.resolve("groups").toString)
        r.pairs.unpersist()
      } else tr.span("job") {
        val pairs = tr.span("dedup.verify")(Dedup.minhashNearDups(df, "doc_id", col("text"), Threshold))
        val cc = tr.span("dedup.components")(Dedup.connectedComponentsWithStats(pairs))
        rounds += cc.rounds
        tr.span("sink.parquet") {
          pairs.write.parquet(out.resolve("pairs").toString)
          cc.labels.write.parquet(out.resolve("groups").toString)
        }
        pairs.unpersist()
      }
      ()
    }
    val (coldS, runs) = loop(ctx, () => job(-1, traced = false, read(warmPath)), (i, t) => job(i, t))
    ctx.phase("jobs")

    // ---- correctness ----------------------------------------------------
    val text = corpus.ids.zip(corpus.texts).toMap
    val shingles = mutable.HashMap.empty[Long, Set[String]]
    def sh(id: Long) = shingles.getOrElseUpdate(id, Reference.shingles(text(id)))
    val planted = corpus.planted.toSet
    val errors = mutable.ArrayBuffer.empty[String]
    val recalls = mutable.ArrayBuffer.empty[Double]
    var pairsKept = 0L
    runs.foreach { r =>
      r.error.foreach(errors += _)
      if (r.error.isEmpty) {
        val out = outRoot.resolve(s"job${r.i}")
        val pairs = spark.read.parquet(out.resolve("pairs").toString)
          .select("doc_a", "doc_b", "jaccard").collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        val comp = spark.read.parquet(out.resolve("groups").toString).collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap
        pairsKept = pairs.length
        val bad = pairs.find { case (a, b, j) =>
          val exact = Reference.jaccard(sh(a), sh(b))
          a >= b || exact < Threshold || math.abs(exact - j) > 1e-9 ||
            !comp.contains(a) || comp.get(a) != comp.get(b)
        }
        val found = pairs.count { case (a, b, _) => planted.contains((a, b)) }
        val recall = found.toDouble / planted.size
        recalls += recall
        bad.foreach(p => errors += s"job ${r.i}: pair $p fails the exact Jaccard / group check")
        if (comp.exists { case (id, c) => c > id || comp.get(c) != Some(c) })
          errors += s"job ${r.i}: a group label is not its component's smallest id"
        if (recall < RecallFloor) errors += f"job ${r.i}: planted-pair recall $recall%.3f < $RecallFloor"
      }
    }
    val failed = runs.count(r => errors.exists(_.startsWith(s"job ${r.i}:")))
    ctx.phase("check")

    val jobS = medianOf(runs.filter(r => !r.traced && r.error.isEmpty).map(_.seconds))
    val (outBytes, outFiles) = parquetFiles(outRoot.resolve("job0"))
    val e2e = Map(
      "setup_s" -> ctx.setupS,
      "job_s" -> jobS,
      "records_per_s" -> Docs / jobS,
      "out_bytes_per_record" -> outBytes.toDouble / Docs)

    val layer =
      if (!ctx.conf.trace) Map.empty[String, Double]
      else {
        val df = read()
        def shingled = Dedup.shingleHashes(df, "doc_id", col("text"))
        def signed = Dedup.minhashAgg(shingled, "doc_id")
        val shingleS = seconds(tr.span("dedup.shingle.prefix")(noop(shingled)))._2
        val signatureS = seconds(tr.span("dedup.signature.prefix")(noop(signed)))._2
        val (candidates, bandS) = seconds(tr.span("dedup.band.prefix")(
          Dedup.bandedCandidates(Dedup.bandKeys(signed, "doc_id", Seq("nsh")), "doc_id",
            Dedup.BandBucketCap, Seq("nsh")).count()))
        Map(
          "pipeline.cold_job_s" -> coldS,
          "sink.parquet.bytes" -> outBytes.toDouble,
          "sink.parquet.files" -> outFiles.toDouble,
          "dedup.shingle_s" -> shingleS,
          "dedup.signature_s" -> signatureS,
          "dedup.band_s" -> bandS,
          "dedup.verify_s" -> medianOf(tr.durations("dedup.verify")),
          "dedup.components_s" -> medianOf(tr.durations("dedup.components")),
          "dedup.candidates" -> candidates.toDouble,
          "dedup.pairs_kept" -> pairsKept.toDouble,
          "dedup.verify_yield" -> pairsKept.toDouble / math.max(1L, candidates),
          "dedup.cc_rounds" -> medianOf(rounds.map(_.toDouble).toSeq),
          "dedup.pair_recall" -> medianOf(recalls.toSeq),
          "sink.parquet.write_s" -> medianOf(tr.durations("sink.parquet"))) ++
          engineMetrics(ctx, runs.flatMap(_.engine), "sink.parquet") ++ overhead(runs)
      }
    ctx.phase("layers")
    Outcome(runs.size, failed, errors.toSeq, e2e, layer)
  }
}
