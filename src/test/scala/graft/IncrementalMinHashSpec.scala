package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, MinHashLSH}
import graft.sources.ParquetSink

/** Signature-store incremental near-dup: the keep rule under the 8-lane md5
  * MinHash ESTIMATE, and its agreement with the exact-Jaccard sibling on
  * real docs (the estimate is deterministic — fixed hash family, no RNG). */
class IncrementalMinHashSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("keep rule: estimated history/batch near-dups drop, novel and short docs survive") {
    import spark.implicits._
    val long = (1 to 20).map(i => s"t$i").mkString(" ")
    val hist = Seq((1L, long)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, long),                                        // exact copy → 8/8 lanes
      (11L, long.split(" ").dropRight(1).mkString(" ") + " zz"), // J≈0.89 → dropped
      (12L, (1 to 20).map(i => s"u$i").mkString(" ")),    // novel → kept
      (13L, (1 to 20).map(i => s"u$i").mkString(" ")),    // in-batch copy of 12 → dropped
      (14L, "a b")                                        // too short to shingle → kept
    ).toDF("doc_id", "text")
    val sigs = MinHashLSH.md5Signatures(MinHashLSH.shingleArrays(hist))
    val bandT = ParquetSink.writeBucketed(MinHashLSH.md5Bands(sigs), "inc_mh_band", "bh", 4)
    val sigT = ParquetSink.writeBucketed(sigs, "inc_mh_sig", "doc_id", 4)
    val out = MinHashLSH.dedupIncrementalMinHashOn(batch, sigT, bandT)
      .collect().map(_.getLong(0))
    assert(out.toSeq === Seq(12L, 14L))
  }

  test("registered query agrees with the exact-Jaccard sibling on real docs") {
    val est = MinHashLSH.incrementalMinHashMd5.run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val exact = Dedup.incrementalJaccard.run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val batchSize = Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 >= 8).count()
    assert(est.nonEmpty && exact.nonEmpty)
    val diff = (est -- exact) ++ (exact -- est)
    assert(diff.size <= batchSize / 10,
      s"estimate vs exact disagree on ${diff.size} of $batchSize batch docs: $diff")
  }
}
