package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ImageDedup, MediaCodec, Similarity, TrainingData}
import graft.streaming.StreamingOps

/** One `StreamingOps.ingestBatch*` body over a fixture: `run(base, i)` folds
  * fixture batch `i`, as batch id `i`, into the stores and outputs it keeps
  * under `base`, at the relative `paths`. */
final case class IngestBody(name: String, paths: Seq[String], run: (String, Int) => Unit)

/** Small deterministic batches for every ingest body: batch `i` of a
  * fixture is the same rows on every call, and each batch repeats content
  * of batch 0 (so the stores drop or flag it) next to content of its own. */
object IngestBodies {
  private def words(prefix: String): String = (1 to 20).map(i => s"$prefix$i").mkString(" ")

  /** (doc_id, text): a doc repeated from batch 0, a novel doc, and its
    * word-order reversal (the same token set). */
  def textRows(i: Int): Seq[(Long, String)] = Seq(
    (10L * i, words("w")), (10L * i + 1, words(s"v$i")),
    (10L * i + 2, words(s"v$i").split(" ").reverse.mkString(" ")))

  private def vector(seed: Long): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
  }

  /** A 16×16 noise image: images of different seeds are far apart in dHash. */
  private def noise(seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    MediaCodec.encodeBmp(16, 16, Array.fill(3 * 16 * 16)(rnd.nextInt(256).toByte))
  }

  /** Every body, with the frozen artifacts its serving bodies read built
    * and cached before it returns. */
  def apply(spark: SparkSession): Seq[IngestBody] = {
    import spark.implicits._
    def texts(i: Int): DataFrame = textRows(i).toDF("doc_id", "text")
    def urls(i: Int): DataFrame = Seq((10L * i, "https://example.org/a"),
      (10L * i + 1, s"http://www.example.org/p$i/")).toDF("doc_id", "url")
    // four vectors of this batch plus a copy of one vector every batch sends
    def vecs(i: Int): DataFrame =
      ((0 until 4).map(j => (10L * i + j, vector(10L * i + j))) :+ ((10L * i + 4, vector(-1L))))
        .toDF("vec_id", "embedding")
    def images(i: Int): DataFrame =
      Seq((10L * i, noise(-1L)), (10L * i + 1, noise(i))).toDF("doc_id", "payload")

    val hist = Similarity.withNorm((100L until 116L).map(j => (j, vector(j)))
      .toDF("vec_id", "embedding"))
    val cents = Similarity.kmeansCentroidArray(hist, 2, 1).cache()
    val cb = Similarity.ivfPqCodebook(hist, 8, cents, 1).cache()
    val chunkCents = Similarity.centroidArray(Similarity.chunkEmbed(
      TrainingData.chunkTexts(texts(9))
        .groupBy(md5(col("chunk_text")).as("chunk_hash"))
        .agg(min(col("chunk_text")).as("chunk_text"))), 4).cache()
    Seq(cents, cb, chunkCents).foreach(_.count())

    def body(name: String, paths: String*)(run: (Int, Seq[String]) => Unit) =
      IngestBody(name, paths, (base, i) => run(i, paths.map(p => s"$base/$p")))
    Seq(
      body("ingestBatch", "fp", "fp_out") { case (i, Seq(fp, out)) =>
        StreamingOps.ingestBatch(texts(i), fp, out, i) },
      body("ingestBatchSemantic", "sem", "sem_out") { case (i, Seq(mem, out)) =>
        StreamingOps.ingestBatchSemantic(vecs(i), cents, mem, out, i) },
      body("ingestBatchNearDup", "nd_sig", "nd_band", "nd_out") { case (i, Seq(sig, band, out)) =>
        StreamingOps.ingestBatchNearDup(texts(i), sig, band, out, i) },
      body("ingestBatchMedia", "img_fp", "img_band", "img_out") { case (i, Seq(fp, band, out)) =>
        StreamingOps.ingestBatchMedia(images(i), ImageDedup.fingerprints, fp, band, out, i) },
      body("ingestBatchChunks", "chunks", "chunks_out") { case (i, Seq(store, out)) =>
        StreamingOps.ingestBatchChunks(texts(i), store, out, i) },
      body("ingestBatchChunkSemantic", "chunk_mem", "chunk_sem_out") { case (i, Seq(mem, out)) =>
        StreamingOps.ingestBatchChunkSemantic(texts(i), chunkCents, mem, out, i) },
      body("ingestBatchUrl", "url", "url_out") { case (i, Seq(store, out)) =>
        StreamingOps.ingestBatchUrl(urls(i), store, out, i) },
      body("ingestBatchIvfPq", "codes") { case (i, Seq(codes)) =>
        StreamingOps.ingestBatchIvfPq(vecs(i), cents, cb, 8, codes, i) },
      body("ingestBatchSpans", "spans", "spans_out") { case (i, Seq(store, out)) =>
        StreamingOps.ingestBatchSpans(texts(i), store, out, i) },
      body("ingestBatchDrift", "drift", "drift_out") { case (i, Seq(store, out)) =>
        StreamingOps.ingestBatchDrift(texts(i), store, out, i) },
      body("ingestBatchEmbeddingDrift", "edrift", "edrift_out") { case (i, Seq(store, out)) =>
        StreamingOps.ingestBatchEmbeddingDrift(vecs(i), cents, store, out, i) })
  }
}
