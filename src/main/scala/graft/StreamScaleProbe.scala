package graft

import org.apache.spark.sql.functions._

/** Streaming-side decade receipt (r19 verdict item 6's suggested shape):
  * drive the batch bodies of two ingest loops over the FULL 10× ProbeGen
  * corpus, one micro-batch per probe copy, and print per-batch seconds.
  * The claim under test is the incremental contract — per-batch cost is
  * O(batch + store probe), NOT O(corpus ingested so far) — measured, not
  * argued: if any loop's per-batch time grew with the accumulated store,
  * the curve would slope; flat is the receipt.
  *
  * Loops driven (the heaviest and the simplest of the family):
  *  - `ingestBatchSpans`: span-grain audit + distinct-hash store append.
  *    Copy 0 seeds the store with the ENTIRE sf0.1 corpus's distinct span
  *    hashes, so batches 1..9 each probe a corpus-scale store — exactly
  *    the daily-ingest posture at 100 TB.
  *  - `ingestBatch` (exact token-set dedup): copies are verbatim twins,
  *    so batch 0 emits survivors and every later batch must drop ALL its
  *    rows against the store — the all-duplicate worst case for the
  *    anti-join probe.
  *
  * Usage: runMain graft.StreamScaleProbe <probeDir> <workDir> [copies=10]
  * Prints one JSON line: {"spans_secs":[...], "exact_secs":[...]}. */
object StreamScaleProbe {
  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    val probeDir = args.headOption.getOrElse("/tmp/probe10x")
    val workDir = args.lift(1).getOrElse("/tmp/stream_scale_probe")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(workDir), true)

    val docs = Tables.documents(spark, probeDir)
    def copyBatch(c: Int) =
      docs.filter(col("doc_id") >= c * Off && col("doc_id") < (c + 1) * Off)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val spanSecs = (0 until copies).map { c =>
      timed(graft.streaming.StreamingOps.ingestBatchSpans(
        copyBatch(c), s"$workDir/span_store", s"$workDir/span_out", c.toLong))
    }
    val exactSecs = (0 until copies).map { c =>
      timed(graft.streaming.StreamingOps.ingestBatch(
        copyBatch(c), s"$workDir/fp_store", s"$workDir/fp_out"))
    }

    // Parted URL-merge loop (r22, the r20 verdict's carried probe): the
    // claim under test is the BAND-PARTITIONED store contract — per-batch
    // store READ and WRITE are O(touched bands), never O(store). Batch 0
    // seeds the store with the whole copy-0 corpus under distinct
    // canonicals (one per doc — the crawl-frontier posture); batches 1..9
    // are small daily slivers CONFINED TO ONE HASH BAND each (the band is
    // a pure function of the canonical, so a band-filtered batch is
    // constructible), so a flat curve means the other 63 bands of the
    // corpus-scale store were never read or rewritten. A curve that
    // sloped with the seeded store would falsify the manifest pruning.
    val nb = 64
    def urlDocs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text"))
        .withColumn("url", concat(lit("https://example.org/p/"), col("doc_id")))
    val bandOf = pmod(xxhash64(
      graft.operators.Dedup.canonicalUrl(col("url"))), lit(nb.toLong))
    val urlSecs = (0 until copies).map { c =>
      val batch =
        if (c == 0) urlDocs(copyBatch(0))
        else urlDocs(copyBatch(c))
          .filter(pmod(col("doc_id"), lit(199L)) === 3 &&
            bandOf === (c % nb).toLong)
      timed(graft.streaming.StreamingOps.ingestBatchUrlMergeParted(
        batch, s"$workDir/urlp_store", s"$workDir/urlp_out", c.toLong, nb))
    }

    // SCD2 stateful-stream loop (r22, same carried item): the REAL
    // streaming surface — flatMapGroupsWithState over MemoryStream
    // micro-batches, one batch per probe copy. Copy c's user_ids and
    // event_ids are offset per copy, so the state store grows by a full
    // corpus of keys every batch while each batch's event count stays
    // constant: a flat curve after warm-up is the O(batch + changed keys)
    // receipt — per-batch cost must not slope with accumulated state.
    val scd2Secs = {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val evs = graft.operators.InventoryFold.asUpdateEvents(
        Tables.events(spark, probeDir))
        .select(col("product_code").as("productCode"),
          col("event_order").as("eventOrder"), col("action"), col("delta"))
        .as[graft.model.OrderedUpdateEvent]
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.model.OrderedUpdateEvent]
      val query = graft.streaming.InventoryStream.scd2Stream(input.toDS())
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .option("checkpointLocation", s"$workDir/scd2_ckpt")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.Scd2Interval],
              _: Long) => { b.count(); () }
        }
        .start()
      try {
        (0 until copies).map { c =>
          // collect OUTSIDE the timed region: feeding MemoryStream is
          // harness work, the timed part is the micro-batch itself
          val batch = evs
            .filter(col("eventOrder") >= c * Off && col("eventOrder") < (c + 1) * Off)
            .collect().sortBy(_.eventOrder).toSeq
          timed { input.addData(batch); query.processAllAvailable() }
        }
      } finally query.stop()
    }

    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    println(s"""{"spans_secs":${arr(spanSecs)},"exact_secs":${arr(exactSecs)},"urlparted_secs":${arr(urlSecs)},"scd2_secs":${arr(scd2Secs)},"copies":$copies,"probe":"$probeDir"}""")
    spark.stop()
  }
}
