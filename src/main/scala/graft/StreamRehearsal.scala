package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.{Multimodal, Similarity}
import graft.streaming.DocStreams

/** Streaming-twin throughput rehearsal — the evidence class SCALE.md's
  * batch tables can't show: per-MICRO-BATCH wall-clock as the persisted
  * state grows. The correctness story (StreamingSpec, the crash sweep)
  * says the twins compute the right thing; this measures whether the
  * per-batch cost stays bounded by BATCH size (the production contract:
  * a probe that scales with total-state-ever-ingested would melt at
  * streaming cadence) rather than store size.
  *
  *  - `admission`: the static-index twin — corpus = 90% of documents
  *    (shingled + band index, resolved once), stream = the remaining 10%
  *    in `nBatches` equal micro-batches. Expect ~flat per-batch times.
  *  - `chunk`: the SELF-MAINTAINING chunk-dedup twin — every document's
  *    payload streams through in `nBatches` batches, each probing the
  *    store built by all earlier batches and then appending its own
  *    chunks. The store grows linearly; per-batch time must not.
  *  - `triage`: the full static-index ingest decision (exact fp probe +
  *    band probe + Jaccard verify) — the most production-like twin.
  *  - `selfadmission`: the self-maintaining text twin — band index AND
  *    shingle store grow within the run.
  *  - `templatedf`: the self-maintaining template-df twin — the gram-df
  *    store grows every batch; the probe must stay batch-gram-scoped.
  *  - `dsir`: the pre-fitted-λ scoring twin — static 256-row state; the
  *    row proves per-batch cost is pure batch scoring.
  *
  * Usage: runMain graft.StreamRehearsal
  *   <sfDir> <admission|chunk|phash|triage|selfadmission|templatedf|dsir> <nBatches>
  */
object StreamRehearsal {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, twin, nStr) = args.take(3)
    val n = nStr.toInt
    val spark: org.apache.spark.sql.SparkSession =
      Session.forCorpus("graft-streamrehearsal", sfDir)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = java.nio.file.Files.createTempDirectory(s"graft_streamreh_$twin").toString
    val times = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var docsPerBatch = 0
    var totalDocs = 0

    // ceil division: floor could produce n+1 batches with a tiny remainder
    // batch whose time would then pollute the last/first ratio
    def perBatch(len: Int): Int = math.max((len + n - 1) / n, 1)

    def timeBatches[T](stream: Array[T], input: MemoryStream[T], q: StreamingQuery): Unit =
      try {
        stream.grouped(docsPerBatch).zipWithIndex.foreach { case (b, i) =>
          val t0 = System.nanoTime()
          input.addData(b.toSeq: _*)
          q.processAllAvailable()
          times += ((i, (System.nanoTime() - t0) / 1e9))
        }
      } finally q.stop()

    def textStream(docs: org.apache.spark.sql.DataFrame): Array[(Long, String)] =
      docs.collect().map(r => (r.getLong(0), r.getString(1)))

    twin match {
      case "admission" =>
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        val corpusSh = Similarity.shingleDocs(docs.filter(col("doc_id") % 10 =!= 0))
          .localCheckpoint()
        val index = Similarity.bandIndex(corpusSh).localCheckpoint()
        val stream = textStream(docs.filter(col("doc_id") % 10 === 0))
        require(stream.nonEmpty, s"no streamable docs (doc_id % 10 == 0) under $sfDir")
        totalDocs = stream.length
        docsPerBatch = perBatch(stream.length)
        val input = MemoryStream[(Long, String)]
        val q = DocStreams.admissionStream(
          input.toDS().toDF("doc_id", "text"), index, corpusSh,
          s"$base/out", s"$base/ckpt")
        timeBatches(stream, input, q)

      case "chunk" =>
        val payloads = Multimodal.mediaPayload(spark, sfDir).collect()
          .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        require(payloads.nonEmpty, s"no media payloads under $sfDir")
        totalDocs = payloads.length
        docsPerBatch = perBatch(payloads.length)
        spark.sql("DROP TABLE IF EXISTS streamreh_chunk")
        val input = MemoryStream[(Long, Array[Byte])]
        val q = DocStreams.chunkIndexStream(
          input.toDS().toDF("doc_id", "payload"),
          "streamreh_chunk", s"$base/store", s"$base/out", s"$base/ckpt")
        timeBatches(payloads, input, q)
        spark.sql("DROP TABLE IF EXISTS streamreh_chunk")

      case "phash" =>
        // the self-maintaining image twin: the banded-signature store grows
        // by every admitted image, so later batches probe ever-more state;
        // flat-per-batch requires the probe to stay band-bucketed (the
        // phashAdmission candidate join), never store-scan-sized
        val payloads = Multimodal.rasterPayload(spark, sfDir).collect()
          .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        require(payloads.nonEmpty, s"no raster payloads under $sfDir")
        totalDocs = payloads.length
        docsPerBatch = perBatch(payloads.length)
        spark.sql("DROP TABLE IF EXISTS streamreh_phash")
        val input = MemoryStream[(Long, Array[Byte])]
        val q = DocStreams.imagePhashStream(
          input.toDS().toDF("doc_id", "payload"),
          "streamreh_phash", s"$base/store", s"$base/out", s"$base/ckpt")
        timeBatches(payloads, input, q)
        spark.sql("DROP TABLE IF EXISTS streamreh_phash")

      case "triage" =>
        // the full ingest decision (exact-dup fp probe + near-dup band
        // probe + Jaccard verify) against a static 90%-corpus pair of
        // indexes — the most production-like twin
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val corpusSh = Similarity.shingleDocs(corpus).localCheckpoint()
        val index = Similarity.bandIndex(corpusSh).localCheckpoint()
        val fpIndex = corpus
          .select(Similarity.canonicalFp(col("text")).as("fp")).distinct()
          .localCheckpoint()
        val stream = textStream(docs.filter(col("doc_id") % 10 === 0))
        require(stream.nonEmpty, s"no streamable docs (doc_id % 10 == 0) under $sfDir")
        totalDocs = stream.length
        docsPerBatch = perBatch(stream.length)
        val input = MemoryStream[(Long, String)]
        val q = DocStreams.triageStream(
          input.toDS().toDF("doc_id", "text"), fpIndex, index, corpusSh,
          s"$base/out", s"$base/ckpt")
        timeBatches(stream, input, q)

      case "selfadmission" =>
        // the self-maintaining text twin: BOTH the band index and the
        // shingle store grow within the run (every admitted doc appends);
        // per-batch time must stay batch-scoped as state accumulates
        val stream = textStream(Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text")))
        require(stream.nonEmpty, s"no documents under $sfDir")
        totalDocs = stream.length
        docsPerBatch = perBatch(stream.length)
        spark.sql("DROP TABLE IF EXISTS streamreh_idx")
        spark.sql("DROP TABLE IF EXISTS streamreh_sh")
        val input = MemoryStream[(Long, String)]
        val q = DocStreams.selfMaintainingAdmissionStream(
          input.toDS().toDF("doc_id", "text"),
          "streamreh_idx", s"$base/idx", "streamreh_sh", s"$base/sh",
          s"$base/out", s"$base/ckpt")
        timeBatches(stream, input, q)
        spark.sql("DROP TABLE IF EXISTS streamreh_idx")
        spark.sql("DROP TABLE IF EXISTS streamreh_sh")

      case "templatedf" =>
        // the self-maintaining template-df twin: the (h, df_part, batch_id)
        // store grows by one row per distinct batch gram every batch; the
        // df_before probe is semi-joined down to THIS batch's grams, so
        // per-batch time must track batch gram count, not store size
        val stream = textStream(Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("text")))
        require(stream.nonEmpty, s"no documents under $sfDir")
        totalDocs = stream.length
        docsPerBatch = perBatch(stream.length)
        spark.sql("DROP TABLE IF EXISTS streamreh_tpl")
        val input = MemoryStream[(Long, String)]
        val q = DocStreams.templateDfStream(
          input.toDS().toDF("doc_id", "text"),
          "streamreh_tpl", s"$base/store", s"$base/out", s"$base/ckpt")
        timeBatches(stream, input, q)
        spark.sql("DROP TABLE IF EXISTS streamreh_tpl")

      case "dsir" =>
        // the pre-fitted-λ scoring twin: state is a static 256-row table
        // (refreshed out-of-band in production); the rehearsal row proves
        // the per-batch cost is pure batch-scoped scoring — tokenize +
        // broadcast λ lookup + per-doc agg — with no cross-batch residue
        val docs = Tables.documents(spark, sfDir)
        val lam = graft.operators.Dsir.lambdaTable(
          graft.operators.Dsir.bucketed(docs.filter(col("lang") === "en"), "doc_id", "text", 256),
          graft.operators.Dsir.bucketed(docs.filter(col("lang") =!= "en"), "doc_id", "text", 256),
          256).localCheckpoint()
        val stream = textStream(docs.select(col("doc_id"), col("text")))
        require(stream.nonEmpty, s"no documents under $sfDir")
        totalDocs = stream.length
        docsPerBatch = perBatch(stream.length)
        val input = MemoryStream[(Long, String)]
        val q = DocStreams.dsirWeightStream(
          input.toDS().toDF("doc_id", "text"), lam, 256, s"$base/out", s"$base/ckpt")
        timeBatches(stream, input, q)

      case other => sys.error(s"unknown twin: $other")
    }

    val secs = times.map(_._2).toSeq
    println(f"${"batch"}%-7s sec")
    times.foreach { case (i, s) => println(f"$i%-7d $s%6.2f") }
    val total = secs.sum
    // last/first over FULL batches only: with ceil division a remainder
    // batch can still exist (totalDocs % docsPerBatch != 0) and its
    // smaller time would understate the growth ratio
    val fullBatches = totalDocs / docsPerBatch
    val lastFull = secs(math.min(math.max(fullBatches, 1), secs.length) - 1)
    val remainder = totalDocs % docsPerBatch
    val remNote = if (remainder == 0) "" else f"  (remainder batch of $remainder docs excluded)"
    println(f"docs/batch=$docsPerBatch  total=$total%.1f s  " +
      f"throughput=${totalDocs / total}%.0f docs/s  " +
      f"first=${secs.head}%.2f  lastFull=$lastFull%.2f  " +
      f"lastFull/first=${lastFull / secs.head}%.2f$remNote")
    spark.stop()
  }
}
