package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis, TrainingData}

/** curation_pipeline_v2 — the verdict-16 composition contract: every stage
  * must equal its STANDALONE operator on a shared fixture (composition
  * without semantic drift), the published gates must stay scan-local (the
  * plan carries the SAME exchange count as v1 — no new shuffle bought the
  * upgrade), and the entropy band's two cut directions must actually cut
  * (they never bind on the synthetic corpus — the never-binds-at-test-scale
  * pattern — so adversarial fixtures assert them). */
class CurationV2Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs: DataFrame = Tables.documents(spark, dir)

  private def count(plan: String, needle: String): Int =
    plan.linesIterator.count(_.contains(needle))

  test("gate stage == standalone operators: the v2 keep-set is EXACTLY " +
      "gopherRulesOn(keep) AND charEntropyOn in band, on the cleaned corpus") {
    val cleaned = TrainingData.cleanedOn(docs)
      .select(col("doc_id"), col("cleaned").as("text"))
    val gopherKeep = TextAnalysis.gopherRulesOn(cleaned)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val entKeep = TextAnalysis.charEntropyOn(cleaned)
      .filter(col("char_entropy_milli").between(
        TrainingData.EntropyBandLo, TrainingData.EntropyBandHi))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val v2Gated = TrainingData.cleanedOn(docs)
      .withColumn("ent", TextAnalysis.charEntropyMilliCol(col("cleaned")))
      .filter(TextAnalysis.gopherKeepCol(col("cleaned")) &&
        col("ent") >= TrainingData.EntropyBandLo &&
        col("ent") <= TrainingData.EntropyBandHi)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(v2Gated === (gopherKeep intersect entKeep),
      "composed gate must equal the standalone operators' conjunction")
    assert(v2Gated.nonEmpty, "fixture must keep something")
  }

  test("dedup stage == Dedup.keepBestOn: v2's kept doc_ids are exactly the " +
      "standalone keep-best keep_ids over the gated cleaned docs") {
    val gated = TrainingData.cleanedOn(docs)
      .filter(TextAnalysis.gopherKeepCol(col("cleaned")) &&
        TextAnalysis.charEntropyMilliCol(col("cleaned"))
          .between(TrainingData.EntropyBandLo, TrainingData.EntropyBandHi))
    val standalone = Dedup.keepBestOn(
        gated.select(col("doc_id"), col("cleaned").as("text")))
      .select("keep_id").collect().map(_.getLong(0)).toSet
    val v2 = TrainingData.curationPipelineV2On(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(v2 === standalone,
      "composed keep-best must keep exactly the standalone operator's ids")
  }

  test("pack stage == pack_sequences semantics: offsets chain per shard " +
      "and bins are budget-exact over the v2 survivors") {
    val out = TrainingData.curationPipelineV2On(docs).collect()
    val budget = TrainingData.PackBudget
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("doc_id"))
      var cum = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("bin_id") === cum / budget, s"bin drift in $src")
        assert(r.getAs[Long]("bin_offset") === cum % budget, s"offset drift in $src")
        cum += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("plan shape: v2 carries the SAME exchange count as v1 — the " +
      "published gates are scan-local, no new shuffle") {
    val v1 = PlanWalk.finalPlan(TrainingData.curationPipeline.run(spark, dir)).toString
    // the PIPELINE plan, not the registered row (which serves the packed
    // table from its train-once artifact since round 18) — the exchange
    // pin is about the flow itself, with v1's presentation sort mirrored
    val v2 = PlanWalk.finalPlan(TrainingData
      .curationPipelineV2On(Tables.documents(spark, dir)).orderBy("doc_id")).toString
    assert(count(v2, "Exchange hashpartitioning") ===
      count(v1, "Exchange hashpartitioning"),
      s"v2 must not add a hash exchange:\nV1:\n$v1\nV2:\n$v2")
    assert(count(v2, "Exchange rangepartitioning") ===
      count(v1, "Exchange rangepartitioning"),
      s"v2 must not add a range exchange:\n$v2")
    // the keep-best argmax must not have bought a join-back or a window
    assert(count(v2, "WindowExec") + count(v2, "Window [") ===
      count(v1, "WindowExec") + count(v1, "Window ["),
      s"one pack window only:\n$v2")
    assert(!v2.contains("SortMergeJoin") && !v2.contains("BroadcastHashJoin"),
      s"no join anywhere in the pipeline:\n$v2")
  }

  test("entropy band cuts BOTH directions (never binds on the corpus — " +
      "adversarial fixtures): the-spam passes Gopher but falls below the " +
      "band; uniform alnum noise rises above it") {
    import spark.implicits._
    // low side: 10 stopwords — passes every Gopher rule (count 10, mean
    // wlen exactly 3000, alpha 1000, stop 10) but ~1.9 bits/char
    val theSpam = Array.fill(10)("the").mkString(" ")
    // high side: near-uniform chars that SURVIVE the pipeline's lowercase
    // cleaning (uppercase would collapse) — every word keeps a letter for
    // the alpha rule, two 'a' stopword hits; exact fixed-point entropy
    // 5181 milli, deterministic
    val letters = "abcdefghij"
    val nonl = "0123456789!#$%&()*+,-./:;<=>?[]^_{|}~"
    val noise = "a a " + (0 until 10)
      .map(i => letters(i) + nonl.slice(4 * i, 4 * i + 4)).mkString(" ")
    // natural text: the corpus's own style
    val natural = "the quick brown fox jumps over a lazy dog near the " +
      "riverbank while value and key travel home under warm evening light"
    val fx = Seq((1L, "s", theSpam), (2L, "s", noise), (3L, "s", natural))
      .toDF("doc_id", "source", "text")
    val ent = fx.select(col("doc_id"),
        TextAnalysis.charEntropyMilliCol(col("text")).as("ent"),
        TextAnalysis.gopherKeepCol(col("text")).as("gopher"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(ent(1L)._2 && ent(2L)._2 && ent(3L)._2,
      s"all three fixtures must pass Gopher so only the band separates: $ent")
    assert(ent(1L)._1 < TrainingData.EntropyBandLo,
      s"the-spam must fall below the band: ${ent(1L)._1}")
    assert(ent(2L)._1 > TrainingData.EntropyBandHi,
      s"uniform noise must rise above the band: ${ent(2L)._1}")
    assert(ent(3L)._1 >= TrainingData.EntropyBandLo &&
      ent(3L)._1 <= TrainingData.EntropyBandHi,
      s"natural text must sit inside the band: ${ent(3L)._1}")
    // and the composed pipeline keeps exactly the natural doc
    val kept = TrainingData.curationPipelineV2On(fx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L), s"pipeline must keep only the in-band doc: $kept")
  }

  test("curation_report_v2: stage counts equal the standalone operators' " +
      "keep-sets, attrition is monotone, and drop accounting is exact") {
    val report = TrainingData.curationReportV2On(docs)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(report.map(_._1).toSeq ===
      Seq("raw", "gopher_rules", "entropy_band", "keep_best_dedup"))
    val cleaned = TrainingData.cleanedOn(docs)
    val raw = docs.count()
    val gopher = cleaned
      .filter(TextAnalysis.gopherKeepCol(col("cleaned"))).count()
    val gated = cleaned
      .filter(TextAnalysis.gopherKeepCol(col("cleaned")) &&
        TextAnalysis.charEntropyMilliCol(col("cleaned"))
          .between(TrainingData.EntropyBandLo, TrainingData.EntropyBandHi))
      .count()
    val kept = TrainingData.curationPipelineV2On(docs).count()
    assert(report.map(_._2).toSeq === Seq(raw, gopher, gated, kept),
      s"stage survivor counts must equal the standalone keep-sets: ${report.toSeq}")
    // monotone + exact drop accounting
    report.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur._2 <= prev._2 && cur._3 <= prev._3, "attrition is monotone")
      assert(cur._4 === prev._2 - cur._2, "dropped_docs = previous - current")
      assert(cur._5 === (if (prev._2 > 0) 1000L * cur._4 / prev._2 else 0L),
        "drop_milli arithmetic")
    }
    assert(report.head._4 === 0L && report.head._5 === 0L, "raw row drops nothing")
  }

  test("keep-best upgrade is visible through the pipeline: a padded early " +
      "copy loses to its tighter later variant (v1's exact dedup cannot " +
      "express this)") {
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog near the " +
      "riverbank while value and key travel home under warm evening light"
    // doc 1: the padded copy (same token SET, duplicated tokens → lower
    // TTR); doc 2: the tight original, later id
    val padded = base + " " + base.split(" ").take(8).mkString(" ")
    val fx = Seq((1L, "s", padded), (2L, "s", base)).toDF("doc_id", "source", "text")
    val kept = TrainingData.curationPipelineV2On(fx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L),
      s"quality-priority dedup must keep the higher-TTR member: $kept")
  }
}
