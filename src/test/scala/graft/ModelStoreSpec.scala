package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ModelStore

/** The build-once artifact store, on both backends: a parquet directory
  * (`dir`/`getOrBuild`, reused across JVMs) and a managed catalog table
  * (`table`, reused within the JVM). Entries are named by tag, source
  * directory and source content, so a second call builds nothing, an
  * in-place corpus rewrite is never served stale, two directories never
  * evict each other, a crashed write heals and an old generation goes. */
class ModelStoreSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  /** A fresh source directory holding `rows` as `src.parquet`. */
  private def source(rows: Seq[Long]): String = {
    val d = Files.createTempDirectory("graft-model-store").toString
    writeSource(d, rows)
    d
  }

  private def writeSource(d: String, rows: Seq[Long]): Unit = {
    import spark.implicits._
    rows.toDF("v").write.mode("overwrite").parquet(s"$d/src.parquet")
  }

  /** Warehouse entries of `tag`, any directory and generation. */
  private def entries(tag: String): Seq[String] = {
    val w = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = w.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(w).map(_.getPath.getName).filter(_.startsWith(s"graft_${tag}_")).sorted.toSeq
  }

  /** Serve `tag` from `d` on one backend, counting builds in `builds`. */
  private def serve(backend: String, d: String, tag: String, builds: Array[Int]): Seq[Long] = {
    def build: DataFrame = {
      builds(0) += 1
      spark.read.parquet(s"$d/src.parquet").select((col("v") * 10).as("v"))
    }
    val df = backend match {
      case "dir" => ModelStore.getOrBuild(spark, d, "src.parquet", tag)(build)
      case "table" => ModelStore.table(spark, d, "src.parquet", tag, Some("v"))(build)
    }
    df.collect().map(_.getLong(0)).sorted.toSeq
  }

  private val backends = Seq("dir", "table")

  test("a second call runs no build closure (directory and catalog backends)") {
    backends.foreach { b =>
      val d = source(Seq(1L, 2L, 3L))
      val builds = Array(0)
      assert(serve(b, d, s"ms_reuse_$b", builds) === Seq(10L, 20L, 30L))
      assert(serve(b, d, s"ms_reuse_$b", builds) === Seq(10L, 20L, 30L))
      assert(builds(0) === 1, s"$b: the second call must serve, not build")
    }
  }

  test("a corpus rewritten in place serves the new corpus: source_json_roundtrip " +
      "and dedup_incremental in the same JVM") {
    // 60 one-token documents `t<(id + shift) % 60>`: shifting by 2 puts
    // every batch doc (doc_id % 10 >= 8) on a token the other corpus's
    // history split holds, so a stale fingerprint store drops them all
    def corpus(shift: Int): DataFrame = spark.range(60).select(col("id").as("doc_id"),
      concat(lit("t"), ((col("id") + shift) % 60).cast("string")).as("text"),
      lit("en").as("lang"), lit("crawl").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def rows(name: String, d: String): Seq[Row] = Graft.run(spark, name, d).collect().toSeq
    val (v1, v2) = (corpus(0), corpus(2))
    val inPlace = Files.createTempDirectory("graft-corpus").toString
    val fresh = Files.createTempDirectory("graft-corpus").toString
    v1.write.parquet(s"$inPlace/documents.parquet")
    v2.write.parquet(s"$fresh/documents.parquet")
    val names = Seq("source_json_roundtrip", "dedup_incremental")
    val before = names.map(rows(_, inPlace))
    v2.write.mode("overwrite").parquet(s"$inPlace/documents.parquet")
    names.zip(before).foreach { case (name, old) =>
      val expected = rows(name, fresh)
      assert(expected !== old, s"$name: the two corpora must give different results")
      assert(rows(name, inPlace) === expected, s"$name served the rewritten corpus stale")
    }
  }

  test("two directories' artifacts with one tag coexist (directory and catalog backends)") {
    backends.foreach { b =>
      val (d1, d2) = (source(Seq(1L)), source(Seq(2L)))
      val builds = Array(0)
      val tag = s"ms_two_$b"
      assert(serve(b, d1, tag, builds) === Seq(10L))
      assert(serve(b, d2, tag, builds) === Seq(20L))
      assert(entries(tag).size === 2, s"$b: both directories keep their entry")
      assert(serve(b, d1, tag, builds) === Seq(10L))
      assert(serve(b, d2, tag, builds) === Seq(20L))
      assert(builds(0) === 2, s"$b: neither directory evicted the other")
    }
  }

  test("a directory without _SUCCESS is rebuilt; a failed catalog build serves nothing") {
    val d = source(Seq(4L, 5L))
    val builds = Array(0)
    assert(serve("dir", d, "ms_heal_dir", builds) === Seq(40L, 50L))
    val Seq(entry) = entries("ms_heal_dir")
    val w = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = w.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed write: data files present, commit marker missing
    assert(fs.delete(new Path(new Path(w, entry), "_SUCCESS"), false))
    assert(serve("dir", d, "ms_heal_dir", builds) === Seq(40L, 50L))
    assert(builds(0) === 2, "the marker-less directory must be rebuilt")
    assert(fs.exists(new Path(new Path(w, entry), "_SUCCESS")))

    val e = intercept[Exception] {
      ModelStore.table(spark, d, "src.parquet", "ms_heal_table", Some("v")) {
        spark.read.parquet(s"$d/src.parquet")
          .select(expr("raise_error('build failed')").cast("long").as("v"))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("build failed")), e)
    assert(serve("table", d, "ms_heal_table", builds) === Seq(40L, 50L))
    assert(builds(0) === 3, "the failed build left nothing to serve")
  }

  test("an older generation of the same tag and directory is pruned " +
      "(directory and catalog backends)") {
    backends.foreach { b =>
      val d = source(Seq(6L))
      val builds = Array(0)
      val tag = s"ms_prune_$b"
      assert(serve(b, d, tag, builds) === Seq(60L))
      val Seq(old) = entries(tag)
      writeSource(d, Seq(7L, 8L)) // regenerated in place: a new content key
      assert(serve(b, d, tag, builds) === Seq(70L, 80L))
      val Seq(current) = entries(tag)
      assert(current !== old, s"$b: the old generation is gone, the new one served")
      if (b == "table") assert(!spark.catalog.tableExists(old), "its catalog entry too")
    }
  }
}
