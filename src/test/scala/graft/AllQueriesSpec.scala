package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-level invariants over every registered query — the cheap local
  * stand-in for the driver's full DuckDB gate:
  *  - names are unique (duplicates would silently drop entries from the
  *    `queries` map the driver iterates);
  *  - every query plans AND executes at sf0.001 (catches analysis errors,
  *    missing columns, bad casts at `sbt test` time);
  *  - every oracled query's SQL mentions each of its output column names
  *    (the driver hash-compare sorts columns by name, so a rename on one
  *    side is an automatic mismatch);
  *  - results do not depend on the shuffle partition count or on adaptive
  *    execution (a sample of queries, about 100 s on a 4-core host). */
class AllQueriesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("query names are unique") {
    val names = SparkEntry.allQueries.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
  }

  test("every registered query executes at sf0.001") {
    val failures = SparkEntry.allQueries.flatMap { q =>
      try { q.run(spark, dir).count(); None }
      catch { case e: Throwable => Some(q.name -> e.getMessage.take(200)) }
      finally Driver.resetCaches(spark)
    }
    assert(failures.isEmpty, s"queries failed: ${failures.mkString("\n")}")
  }

  test("oracled queries name every output column in their SQL") {
    val failures = SparkEntry.allQueries.filter(_.oracle.isDefined).flatMap { q =>
      val sqlLower = q.oracle.get.toLowerCase
      val missing = q.run(spark, dir).columns.filterNot(c => sqlLower.contains(c.toLowerCase))
      if (missing.isEmpty) None else Some(q.name -> missing.toSeq)
    }
    assert(failures.isEmpty,
      s"columns absent from oracle SQL (hash compare would misalign): ${failures.mkString("\n")}")
  }

  test("registered results are the same at shuffle partitions {1, 17} x AQE {on, off}") {
    // same rows in the same order as at the shared session's own conf;
    // caches are cleared before every run so each cell plans and executes
    // afresh, and the session's conf is restored whatever happens
    val queries = Seq("dedup_minhash_lsh_md5", "dedup_incremental_minhash_md5",
      "inventory_fold", "inventory_scd2")
    val partitions = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    def rows(name: String): Seq[org.apache.spark.sql.Row] = {
      Driver.resetCaches(spark)
      SparkEntry.queries(name)(spark, dir).collect().toSeq
    }
    val saved = Seq(partitions, aqe).map(k => k -> spark.conf.get(k))
    val expected = queries.map(q => q -> rows(q)).toMap
    queries.foreach(q => assert(expected(q).nonEmpty, s"$q returned no rows"))
    try {
      for (n <- Seq(1, 17); adaptive <- Seq(true, false)) {
        spark.conf.set(partitions, n.toLong)
        spark.conf.set(aqe, adaptive)
        queries.foreach { q =>
          assert(rows(q) === expected(q), s"$q differs at partitions=$n aqe=$adaptive")
        }
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
