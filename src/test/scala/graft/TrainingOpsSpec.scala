package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, MinHashLSH, Multimodal, SimHash, Similarity}

/** Differential invariants hash-agnostic of the oracle story: MinHash-LSH
  * and SimHash (both fully oracled since their md5 re-keys — these
  * property pins are the SECOND angle), sign-bit LSH ANN, and the
  * multimodal stub pipeline. Runs on the sf0.001 tables. */
class TrainingOpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("minhash-LSH near-dups equal the exact shingle-Jaccard result at threshold") {
    // the md5 form reports jaccard rounded to 6 digits; round the exact
    // result the same way
    val exact = Dedup.shingleJaccard.run(spark, dir)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = MinHashLSH.queryMd5.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // LSH candidates may miss borderline pairs (probabilistic recall), but
    // every pair it reports must carry the exact Jaccard value, and at this
    // threshold/band config recall is total on the test corpus.
    assert(exact.nonEmpty && lsh === exact)
  }

  test("simhash: identical token sets hash identically; fingerprint groups ≥ token-set groups") {
    val docs = Tables.documents(spark, dir)
    val fp = SimHash.fingerprints(docs)
    val joined = docs
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("set_fp"))
      .join(fp, "doc_id")
    val setGroups = joined.select("set_fp").distinct().count()
    val pairsViolating = joined.as("a").join(joined.as("b"),
        col("a.set_fp") === col("b.set_fp") && col("a.simhash") =!= col("b.simhash"))
      .count()
    assert(pairsViolating === 0, "same token set must imply same simhash")
    val simGroups = fp.select("simhash").distinct().count()
    assert(simGroups <= setGroups, "simhash can only merge token-set groups")
  }

  test("LSH ANN returns a subset of scored pairs with exact cosines, bounded work") {
    val brute = Similarity.knnBruteForce.run(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val lsh = Similarity.knnLshBucketed.run(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(lsh.nonEmpty, "LSH must return candidates on the test corpus")
    // any (query, neighbor) surfaced by LSH that brute force also ranked must
    // agree on the cosine to the rounding precision
    val common = lsh.keySet.intersect(brute.keySet)
    common.foreach { k => assert(math.abs(lsh(k) - brute(k)) < 1e-9, s"cosine mismatch at $k") }
  }

  test("banded all-pairs cosine equals the exact cross-join result") {
    val exact = Similarity.cosinePairs.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Similarity.cosinePairsLsh.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // The banded twin can only miss pairs whose signatures disagree on every
    // band (P ≤ 3e-4 per pair at cosine 0.4 with 16×2-bit bands) and every
    // pair it reports carries the exact verified cosine — at this config the
    // candidate set covers all qualifying pairs on the test corpus, so the
    // two results are identical (deterministic hyperplanes, fixed data).
    assert(banded === exact)
    assert(exact.nonEmpty)
  }

  test("banded all-pairs cosine sweep: exact across threshold × band regimes") {
    // The 0.4-threshold spec above pins one operating point; this sweeps the
    // regimes the scaladoc reasons about (real near-dup pipelines run at
    // ≥ 0.6-0.8, where wider bands prune far harder). The test corpus has no
    // pairs above 0.6, so near-dups are synthesized: two deterministically
    // jittered copies of every vector (per-dimension multiplicative jitter
    // from a splitmix64 stream) land base↔copy cosines around ~0.85 (β=2)
    // and ~0.65 (β=4). For each sweep point the banded result must EQUAL the
    // exact collapse-first twin — deterministic hyperplanes + fixed data
    // make this a stable fact, not a flaky probabilistic bound. Band configs
    // per threshold are the ones the operator recommends there (miss
    // probability ≤ ~1e-3).
    def jitter(beta: Double, seed: Int): org.apache.spark.sql.Column = {
      val factors = (0 until 64).map { j =>
        var z = (seed.toLong * 64 + j + 1) * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1EC4B3B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        val u = (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
        (1.0 + beta * u).toFloat
      }
      zip_with(col("embedding"), typedlit(factors), (x, f) => x * f)
    }
    val base = Tables.embeddings(spark, dir)
    val emb = base
      .union(base.withColumn("vec_id", col("vec_id") + 200000L)
        .withColumn("embedding", jitter(2.0, 1)))
      .union(base.withColumn("vec_id", col("vec_id") + 400000L)
        .withColumn("embedding", jitter(4.0, 2)))
    val sweep = Seq(
      (0.6, 32, 2), // default-width bands at a mid threshold
      (0.6, 64, 2), // doubled signature, same band width
      (0.8, 32, 2), // high threshold, narrow bands
      (0.8, 64, 4)) // high threshold, wide bands: the ~250×-pruning regime
    sweep.foreach { case (t, nBits, bandBits) =>
      val exact = Similarity.cosinePairsExactCollapsed(emb, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val banded = Similarity.cosinePairsBanded(emb, t, nBits, bandBits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty, s"sweep point (t=$t) must have qualifying pairs to be meaningful")
      assert(banded === exact, s"banded != exact at (t=$t, nBits=$nBits, bandBits=$bandBits)")
    }
  }

  test("banded all-pairs collapse/expand is exact on a corpus with duplicate vectors") {
    // every vector duplicated under a shifted id: exercises the
    // distinct-vector collapse, the within-group (identical-vector) pairs,
    // and the score expansion through duplicate groups
    val emb = Tables.embeddings(spark, dir)
    val dup = emb.union(emb.withColumn("vec_id", col("vec_id") + 100000L))
    val banded = Similarity.cosinePairsBanded(dup)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e = transform(col("embedding"), x => x.cast("double"))
    val n = dup.select(col("vec_id"), e.as("e"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dotProduct(col("e"), col("e"))))
    val a = n.select(col("vec_id").as("id1"), col("e").as("e1"), col("nrm").as("n1"))
    val b = n.select(col("vec_id").as("id2"), col("e").as("e2"), col("nrm").as("n2"))
    val exact = a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("cos",
        graft.functions.VectorFunctions.dotProduct(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= 0.4)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded === exact)
    // the duplicated corpus must actually produce within-group pairs
    assert(exact.exists { case (i1, i2, _) => i2 == i1 + 100000L })
  }

  test("IVF list-building is shuffle-free (projection-side centroid argmax)") {
    val n = Similarity.withNorm(Tables.embeddings(spark, dir))
    val lists = Similarity.ivfListsFrom(n, Similarity.centroidArray(n, 16))
    lists.collect() // let AQE finalize the plan before inspecting it
    val plan = lists.queryExecution.executedPlan.toString
    // the only allowed exchanges: fanOut's round-robin input rebalance and
    // the SinglePartition collect_list on the 16-row centroid side — the
    // corpus must reach its assigned centroid without any hash/range shuffle
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("IVF ANN: exact cosines on candidates, recall@5 vs brute force") {
    val brute = Similarity.knnBruteForce.run(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val ivf = Similarity.knnIvf(Tables.embeddings(spark, dir))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(ivf.nonEmpty, "IVF must return candidates on the test corpus")
    val common = ivf.keySet.intersect(brute.keySet)
    common.foreach { k => assert(math.abs(ivf(k) - brute(k)) < 1e-9, s"cosine mismatch at $k") }
    // nprobe=4/16 lists: recall can miss neighbors in unprobed lists, but on
    // the test corpus at least half of the true top-5 must surface
    val recall = common.size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 too low: $recall")
  }

  test("k-means-trained IVF: exact cosines on candidates, recall not below the sampled codebook") {
    val brute = Similarity.knnBruteForce.run(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val sampled = Similarity.knnIvf(Tables.embeddings(spark, dir))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val trained = Similarity.knnIvf(Tables.embeddings(spark, dir), trainIters = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(trained.nonEmpty)
    val common = trained.keySet.intersect(brute.keySet)
    common.foreach { k => assert(math.abs(trained(k) - brute(k)) < 1e-9, s"cosine mismatch at $k") }
    val recallTrained = common.size.toDouble / brute.size
    val recallSampled = sampled.keySet.intersect(brute.keySet).size.toDouble / brute.size
    info(f"recall@5: sampled=$recallSampled%.2f trained=$recallTrained%.2f")
    // deterministic corpus + deterministic training: this is a fixed fact,
    // not a flaky bound — Lloyd iterations must not lose recall here
    assert(recallTrained >= recallSampled,
      s"training reduced recall: $recallTrained < $recallSampled")
    assert(recallTrained >= 0.5, s"recall@5 too low: $recallTrained")
  }

  test("embedding-cosine dedup survivors satisfy the exact keep rule") {
    // The registered query builds its drop set from BANDED candidate pairs;
    // this differential pins it to the exact rule independently of the
    // DuckDB oracle: a vector survives iff no smaller-id neighbor scores
    // cosine >= threshold in the EXACT all-pairs result (corpus small
    // enough here for the guarded exact twin to run).
    val survivors = Similarity.dedupEmbeddingCosine.run(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exactDropped = Similarity.cosinePairs.run(spark, dir)
      .select("id2").collect().map(_.getLong(0)).toSet
    val all = Tables.embeddings(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === all -- exactDropped)
  }

  test("semantic dedup: within-cluster keep rule matches a local brute-force; cluster minima kept") {
    // The clustering itself is pinned by the DuckDB oracle; this
    // differential independently re-derives the PAIRWISE stage: taking the
    // operator's own cluster assignment, a vector must be marked dup iff
    // some smaller-id member of its cluster sits at cosine >= 0.99, with
    // dup_of = the smallest such id (computed here by a plain Scala loop
    // over the collected corpus — same sequential-f64 dot discipline).
    val out = Similarity.semanticDedup.run(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val vecs = Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    assert(out.keySet === vecs.keySet, "one output row per vector")
    val byCluster = out.toSeq.groupBy(_._2._1)
    byCluster.foreach { case (cid, members) =>
      val ids = members.map(_._1).sorted
      ids.foreach { v =>
        val expected = ids.filter(u => u < v && cos(vecs(u), vecs(v)) >= 0.99)
          .minOption.getOrElse(-1L)
        val (_, dupOf, kept) = out(v)
        assert(dupOf === expected, s"dup_of for $v in cluster $cid")
        assert(kept === (if (expected == -1L) 1L else 0L), s"kept flag for $v")
      }
      assert(out(ids.min)._3 === 1L, s"cluster $cid must keep its min id")
    }
  }

  test("incremental semantic dedup survivors match a full local reimplementation") {
    // Unlike the dedup_semantic differential (which trusts the operator's
    // clustering), this one re-derives EVERYTHING locally — md5-ranked
    // history centroids, nearest-centroid assignment with the (csim DESC,
    // cid ASC) tie-break, history-hit drops, and the first-arrival
    // within-batch rule — so store persistence, reload, and both join
    // paths are pinned end to end at a scale the DuckDB oracle doesn't run.
    val out = Similarity.incrementalSemantic.run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val hist = vecs.filter(_._1 % 10 < 8)
    val batch = vecs.filter(_._1 % 10 >= 8)
    val cents = hist.sortBy { case (id, _) => (md5hex(id.toString), id) }.take(16)
    def assign(v: Array[Double]): Long =
      cents.map { case (cid, ce) => (cos(ce, v), cid) }
        .minBy { case (sim, cid) => (-sim, cid) }._2
    val hmem = hist.map { case (id, v) => (id, v, assign(v)) }
    val bmem = batch.map { case (id, v) => (id, v, assign(v)) }
    // drops compare against ALL earlier same-cluster arrivals, surviving or
    // not — the operator's pairwise join has no survivor filter
    val expected = bmem.flatMap { case (id, v, cid) =>
      val histHit = hmem.exists { case (_, hv, hc) => hc == cid && cos(hv, v) >= 0.99 }
      val batchHit = bmem.exists { case (aid, av, ac) =>
        ac == cid && aid < id && cos(av, v) >= 0.99 }
      if (!histHit && !batchHit) Some(id -> cid) else None
    }.toMap
    assert(out === expected)
    assert(out.nonEmpty, "split must leave survivors")
  }

  test("multimodal stub pipeline: typed mapPartitions output matches per-record decode") {
    val docs = Tables.documents(spark, dir)
    val viaPipeline = Multimodal.features(spark, docs).collect().map(f => f.doc_id -> f).toMap
    val raw = docs.select("doc_id", "text").collect()
    assert(viaPipeline.size === raw.length)
    raw.foreach { r =>
      val expected = Multimodal.decodeStub(
        graft.operators.MediaRecord(r.getLong(0), r.getString(1).getBytes("UTF-8")))
      assert(viaPipeline(r.getLong(0)) === expected)
    }
  }
}
