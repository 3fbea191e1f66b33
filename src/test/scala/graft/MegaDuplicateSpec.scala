package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ImageDedup, MediaCodec, MediaRecord}

/** The signature-grid scale property AS A TEST, not just a SCALE.md
  * claim: a mega-duplicate group (1000 verbatim copies of one image)
  * must cost its COUNT in the exact-group aggregate — the banding
  * self-join may touch one row per signature per band, never one per
  * copy. The round-12 duplicate-dense probe measured the doc-level form
  * at 180 s on exactly this shape; this spec fails loudly if the
  * quadratic stage ever comes back, by reading the executed plan's join
  * output metrics instead of trusting wall clock. */
class MegaDuplicateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("1000 copies collapse to one signature before any pairwise stage") {
    import spark.implicits._
    // two distinct 16x8 BMPs: a thousand copies of A, one B
    def bmp(seed: Int): Array[Byte] = {
      val rgb = Array.tabulate(16 * 8 * 3)(i => ((i * 31 + seed) % 251).toByte)
      MediaCodec.encodeBmp(16, 8, rgb)
    }
    val a = bmp(1); val b = bmp(99)
    val payloads = ((1 to 1000).map(i => MediaRecord(i.toLong, a)) :+
      MediaRecord(5000L, b)).toDS()
    val out = ImageDedup.report(ImageDedup.fingerprints(spark, payloads).toDF())
    val rows = out.collect()
    assert(rows.length === 1001)
    val copies = rows.filter(_.getLong(0) <= 1000)
    assert(copies.forall(r => r.getLong(2) === 1L && r.getLong(3) === 1000L),
      "copies share keep_id 1 with n_exact 1000")
    // every join in the executed plan is bounded by signatures, not copies:
    // with 2 distinct signatures nothing pairwise may exceed a few hundred
    // rows (the per-doc final joins are doc-sized and are joins on the
    // signature key, not self-joins — bound them generously by 10*docs;
    // the SELF-join outputs are the real assertion, bounded by sig²)
    val joinOutputs = PlanWalk.nodes(out.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    assert(joinOutputs.nonEmpty, "expected join nodes in the report plan")
    // doc-level pairing would emit ~1000*1000/2 rows from the band
    // self-join; signature-level emits at most sigs*bands rows there and
    // ~docs rows in the per-doc joins
    assert(joinOutputs.forall(_ <= 10000L),
      s"a join node scaled with copies, not signatures: $joinOutputs")
  }
}
