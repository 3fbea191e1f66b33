package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TextAnalysis}

/** Int8 quantization invariants (beyond the DuckDB oracle's value parity)
  * and PII-scrub completeness — the properties that make these operators
  * trustworthy, not just reproducible. */
class QuantizationSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("int8 quantization: error bounded by scale/2, max element saturates, cosine loss tiny") {
    val rows = Similarity.quantizeInt8.run(spark, dir)
      .select("vec_id", "scale", "n_sat", "max_err_micro", "cos_loss_nano")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, nSat, maxErr, cosLoss) =
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // rounding to the nearest code can miss by at most half a step
      assert(maxErr <= math.ceil(1e6 * scale / 2).toLong + 1,
        s"vec ${r.getLong(0)}: err $maxErr exceeds scale/2 bound for scale $scale")
      assert(nSat >= 1, s"vec ${r.getLong(0)}: the max-abs element must hit ±127")
      assert(cosLoss >= 0 && cosLoss < 1000000L, // cosine within 1e-3 of exact
        s"vec ${r.getLong(0)}: cos loss $cosLoss nano out of range")
    }
  }

  test("int8 kNN serves from the compressed store with high recall vs exact") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSets(Similarity.knnBruteForce.run(spark, dir))
    val int8 = topSets(Similarity.knnInt8.run(spark, dir))
    assert(int8.keySet === exact.keySet)
    val recall = exact.map { case (q, e) => int8(q).intersect(e).size.toDouble / e.size }
    val mean = recall.sum / recall.size
    assert(mean >= 0.9, s"mean recall@5 $mean below 0.9 — quantization too lossy")
  }

  test("PQ ANN: code shape, ADC ≡ dot(query, reconstruction), recall vs exact") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, dir)
    val n = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    val dim = n.select(size(col("e"))).head.getInt(0)
    val ds = dim / Similarity.PqSubspaces
    val subs = n.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(Similarity.PqSubspaces - 1)),
          m => slice(col("e"), m * lit(ds) + lit(1), lit(ds))))
      .as(Seq("m", "sub")))
    val cb = Similarity.pqCodebook(subs, iters = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    // codebook shape: dense cids 0..K'-1 per subspace, sub-dim centroids
    (0 until Similarity.PqSubspaces).foreach { m =>
      val cids = cb.keys.filter(_._1 == m).map(_._2).toSeq.sorted
      assert(cids === cids.indices.map(identity), s"subspace $m cids not dense: $cids")
      assert(cids.size <= Similarity.PqCodebookSize)
      cids.foreach(c => assert(cb((m, c)).size === ds))
    }
    val codes = Similarity.pqEncode(subs,
        Similarity.pqCodebook(subs, iters = 2))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2))).toSeq
    val vecs = n.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(codes.size === vecs.size)
    codes.foreach { case (id, cs, rnrm) =>
      assert(cs.size === Similarity.PqSubspaces, s"vec $id: ${cs.size} codes")
      // the stored rnrm is the reconstruction's norm
      val recon = cs.zipWithIndex.flatMap { case (c, m) => cb((m, c)) }
      assert(math.abs(rnrm - math.sqrt(recon.map(x => x * x).sum)) < 1e-9)
      // ADC identity on a query: sum of per-subspace LUT entries equals
      // dot(q, reconstruction) up to reassociation
      val q = vecs(0L)
      val adc = cs.zipWithIndex.map { case (c, m) =>
        val qs = q.slice(m * ds, (m + 1) * ds)
        qs.zip(cb((m, c))).map { case (a, b) => a * b }.sum
      }.sum
      val full = q.zip(recon).map { case (a, b) => a * b }.sum
      assert(math.abs(adc - full) < 1e-9, s"vec $id: ADC $adc vs $full")
    }
    // end-to-end recall@5 vs brute force, exact cosines on what's reported
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSets(Similarity.knnBruteForce.run(spark, dir))
    val pq = topSets(Similarity.knnPqQuery.run(spark, dir))
    assert(pq.keySet === exact.keySet)
    val recall = exact.map { case (q, e) => pq(q).intersect(e).size.toDouble / e.size }
    val mean = recall.sum / recall.size
    info(f"PQ recall@5 = $mean%.2f")
    assert(mean >= 0.6, s"mean recall@5 $mean below 0.6 — codebook too coarse")
  }

  test("IVF+PQ: reported cosines are exact, recall vs brute force holds") {
    import org.apache.spark.sql.functions._
    def collectRows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exactAll = {
      // full exact cosine table (queries × corpus) as the value reference
      val emb = Tables.embeddings(spark, dir)
      val n = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      val rows = n.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      def cos(a: Seq[Double], b: Seq[Double]) = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      for { q <- rows.keys.filter(_ < 10); c <- rows.keys if c != q }
        yield (q, c) -> cos(rows(q), rows(c))
    }.toMap
    val ivfpq = collectRows(Similarity.knnIvfPqQuery.run(spark, dir))
    assert(ivfpq.nonEmpty)
    // every reported cosine is the EXACT value for that pair
    ivfpq.foreach { case (pair, c) =>
      assert(math.abs(c - exactAll(pair)) < 1e-6, s"pair $pair: $c not exact")
    }
    // recall@5 vs brute force
    def topSets(m: Map[(Long, Long), Double]) =
      m.keys.groupBy(_._1).map { case (q, ks) => q -> ks.map(_._2).toSet }
    val pq = topSets(ivfpq)
    val exact = topSets(collectRows(Similarity.knnBruteForce.run(spark, dir)))
    assert(pq.keySet === exact.keySet)
    val recall = exact.map { case (q, e) => pq(q).intersect(e).size.toDouble / e.size }
    val mean = recall.sum / recall.size
    info(f"IVF+PQ recall@5 = $mean%.2f")
    assert(mean >= 0.6, s"mean recall@5 $mean below 0.6 — probe/codebook too coarse")
  }

  test("IVF+PQ: recall@5 non-decreasing in nprobe, full-probe recovers the ceiling") {
    // the composed index's serving contract (round-7 verdict item 7):
    // probing more coarse lists can only widen what the residual-ADC stage
    // sees — on the deterministic fixture (hash-ranked seeds, no RNG) the
    // measured recall curve must be monotone, and probing ALL K lists must
    // reach the index's ADC ceiling (the rerank cap, not list selection,
    // is then the only recall limiter)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSets(Similarity.knnBruteForce.run(spark, dir))
    val emb = Tables.embeddings(spark, dir)
    val recalls = Seq(1, 4, 8, 16).map { nprobe =>
      val got = topSets(QuantizationSpec.knnIvfPq(emb, k = 5, numCentroids = 16,
        nprobe = nprobe, trainIters = 2))
      val r = exact.map { case (q, e) => got.getOrElse(q, Set.empty[Long]).intersect(e).size.toDouble / e.size }
      nprobe -> r.sum / r.size
    }
    info(recalls.map { case (p, r) => f"nprobe=$p%2d -> $r%.2f" }.mkString(", "))
    recalls.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      assert(r2 >= r1 - 1e-9, f"recall fell $r1%.3f -> $r2%.3f from nprobe=$p1 to $p2")
    }
    assert(recalls.last._2 >= 0.6, "full-probe recall must clear the serving gate")
  }

  test("PII scrub leaves no residual matches and redacts every counted span") {
    val rows = TextAnalysis.piiScrub.run(spark, dir).collect()
    val res = Seq(TextAnalysis.EmailRe, TextAnalysis.Ipv4Re, TextAnalysis.PhoneRe)
      .map(_.r)
    rows.foreach { r =>
      val (id, nEmail, nIp, nPhone, scrubbed) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      res.foreach(re => assert(re.findFirstIn(scrubbed).isEmpty,
        s"doc $id: residual PII in: $scrubbed"))
      // one span per residue class, none for the clean class — and each
      // counted span must surface as its redaction token
      val expected = (id % 4) match {
        case 0 => (1L, 0L, 0L); case 1 => (0L, 0L, 1L)
        case 2 => (0L, 1L, 0L); case _ => (0L, 0L, 0L)
      }
      assert((nEmail, nIp, nPhone) === expected, s"doc $id counts")
      assert(scrubbed.contains("<email>") === (nEmail > 0), s"doc $id email token")
      assert(scrubbed.contains("<ip>") === (nIp > 0), s"doc $id ip token")
      assert(scrubbed.contains("<phone>") === (nPhone > 0), s"doc $id phone token")
    }
  }
}

object QuantizationSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, size}
  import Similarity._

  /** IVF-PQ kNN trained and served in one call: the index built from
    * `embeddings` itself, then [[Similarity.knnIvfPqWith]]'s serving path. */
  def knnIvfPq(embeddings: DataFrame, k: Int = 5, numCentroids: Int = 16,
      nprobe: Int = 8, trainIters: Int = 2): DataFrame = {
    val n = Tables.materialize(withNorm(embeddings))
    val dim = n.select(size(col("e"))).head.getInt(0)
    val cents = Tables.materialize(kmeansCentroidArray(n, numCentroids, trainIters))
    val cb = Tables.materialize(ivfPqCodebook(n, dim, cents, trainIters))
    knnIvfPqWith(n, dim, cents, cb, ivfPqIndex(n, dim, cents, cb), k, nprobe)
  }
}
