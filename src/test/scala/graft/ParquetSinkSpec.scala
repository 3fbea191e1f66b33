package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetSink

/** Write-path semantics: partitioned layout round-trips losslessly and a
  * partition-key predicate prunes at the directory level (no data files of
  * other partitions are even listed into the scan). */
class ParquetSinkSpec extends AnyFunSuite {
  import ParquetSinkSpec._
  private lazy val spark = SharedSpark.spark

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s } ++
      plan.collect { case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case s: FileSourceScanExec => s } }.flatten
    scans.head
  }

  test("partitioned write round-trips and prunes partitions on read") {
    val dir = Files.createTempDirectory("graft-sink").toFile.getAbsolutePath
    val src = Tables.orders(spark, "/root/testdata/sf0.001")
    val reloaded = writePartitioned(src, s"$dir/orders_p", "o_orderstatus")
    // lossless round-trip (column order differs: partition cols move last)
    assert(reloaded.count() === src.count())
    val a = src.select("o_orderkey", "o_orderstatus").collect().map(_.toSeq).toSet
    val b = reloaded.select("o_orderkey", "o_orderstatus").collect().map(_.toSeq).toSet
    assert(a === b)
    // predicate on the partition key becomes a partitionFilter, not a data filter
    val filtered = reloaded.filter(col("o_orderstatus") === "F")
    val scan = scanOf(filtered)
    assert(scan.partitionFilters.nonEmpty, "status predicate must prune partitions")
    val statuses = src.select("o_orderstatus").distinct().count()
    assert(statuses > 1, "test requires multiple partitions")
    assert(filtered.count() ===
      src.filter(col("o_orderstatus") === "F").count())
  }

  test("bucketed write joins without an exchange on the bucket key") {
    val src = Tables.customer(spark, "/root/testdata/sf0.001")
    val t1 = ParquetSink.writeBucketed(src, "cust_b1", "c_custkey", 4)
    val t2 = ParquetSink.writeBucketed(
      src.select(col("c_custkey"), col("c_acctbal")), "cust_b2", "c_custkey", 4)
    // force the shuffle-join path: broadcast would bypass bucketing entirely
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = t1.join(t2, "c_custkey")
      val shuffles = joined.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("ShuffleExchange"))
      assert(shuffles === 0, "same-bucketing join must plan with zero shuffles")
      assert(joined.count() === src.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed write is idempotent: rewrite and orphaned warehouse dir") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // same-session rewrite: second call overwrites the first
    ParquetSink.writeBucketed(df, "idem_t", "k", 2)
    val again = ParquetSink.writeBucketed(df.filter(col("k") === 1L), "idem_t", "k", 2)
    assert(again.count() === 1)
    // orphaned-location case: the driver's failure mode — a fresh JVM's
    // in-memory catalog has no entry for the table, but the managed location
    // survives on disk from a prior process. Simulate by dropping the
    // catalog entry while leaving the directory behind.
    ParquetSink.writeBucketed(df, "idem_orphan", "k", 2)
    val loc = new java.io.File(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("idem_orphan")))
    spark.sessionState.catalog.dropTable(
      org.apache.spark.sql.catalyst.TableIdentifier("idem_orphan"),
      ignoreIfNotExists = false, purge = false)
    if (!loc.exists()) { // dropTable purged the managed dir: recreate the orphan
      loc.mkdirs()
      java.nio.file.Files.write(loc.toPath.resolve("stale"), Array[Byte](1))
    }
    assert(loc.exists(), "orphaned location must be on disk for this test")
    val reloaded = ParquetSink.writeBucketed(df, "idem_orphan", "k", 2)
    assert(reloaded.count() === 2)
  }

  test("failed overwrite leaves the previous table intact (staging swap)") {
    import spark.implicits._
    val good = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    ParquetSink.writeBucketed(good, "swap_t", "k", 2)
    // a df that throws during evaluation — the write must fail BEFORE the
    // live table is touched (r5 advice: the fingerprint store is the
    // pipeline's only dedup history; a failed refresh must not destroy it)
    val boom = udf((k: Long) => { throw new RuntimeException("boom"); k })
    val bad = good.select(boom(col("k")).as("k"), col("v"))
    intercept[Exception] { ParquetSink.writeBucketed(bad, "swap_t", "k", 2) }
    val survived = spark.table("swap_t")
    assert(survived.count() === 2)
    assert(survived.select("v").as[String].collect().sorted === Array("a", "b"))
    // and the staging table does not linger after a successful write
    ParquetSink.writeBucketed(good.filter(col("k") === 1L), "swap_t", "k", 2)
    assert(spark.table("swap_t").count() === 1)
    assert(!spark.catalog.tableExists("swap_t__staging"))
  }

  test("mergeBucketed: update replaces, insert lands, unmatched store rows carry over") {
    import spark.implicits._
    val store = Seq((1L, "old-1"), (2L, "keep-2"), (3L, "keep-3")).toDF("k", "v")
    ParquetSink.writeBucketed(store, "merge_t", "k", 2)
    val batch = Seq((1L, "new-1"), (9L, "ins-9")).toDF("k", "v")
    val merged = ParquetSink.mergeBucketed(batch, "merge_t", "k")
    val rows = merged.as[(Long, String)].collect().sortBy(_._1)
    assert(rows === Array((1L, "new-1"), (2L, "keep-2"), (3L, "keep-3"), (9L, "ins-9")))
    // the merged generation keeps the bucket layout — the next probe or
    // merge must stay exchange-free, so this is part of the contract
    assert(ParquetSink.bucketCount(spark, "merge_t") === Some(2))
    // idempotent: re-merging the same keyed batch is a fixpoint (the
    // crash-replay posture — a retried batch must not duplicate or churn)
    val again = ParquetSink.mergeBucketed(batch, "merge_t", "k")
    assert(again.as[(Long, String)].collect().sortBy(_._1) === rows)
  }

  test("mergeBucketed: failed batch evaluation leaves the store generation intact") {
    import spark.implicits._
    val store = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    ParquetSink.writeBucketed(store, "merge_crash_t", "k", 2)
    val boom = udf((k: Long) => { throw new RuntimeException("boom"); k })
    val bad = store.select(boom(col("k")).as("k"), col("v"))
    intercept[Exception] { ParquetSink.mergeBucketed(bad, "merge_crash_t", "k") }
    // the staging swap fired only after the merged write committed, so the
    // pre-merge generation — the store's only history — survives untouched
    val survived = spark.table("merge_crash_t").as[(Long, String)].collect().sortBy(_._1)
    assert(survived === Array((1L, "a"), (2L, "b")))
  }

  test("mergeBucketed: the store side of the merge never exchanges (bucketed " +
      "scan probed in place; only the batch shuffles)") {
    import spark.implicits._
    val store = Tables.customer(spark, "/root/testdata/sf0.001")
      .select(col("c_custkey").as("k"), col("c_name").as("v"))
    ParquetSink.writeBucketed(store, "merge_plan_t", "k", 4)
    val batch = Seq((1L, "updated"), (99999L, "inserted")).toDF("k", "v")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the exact anti-join+union plan mergeBucketed evaluates, pre-write
      val merged = spark.table("merge_plan_t")
        .join(batch.select(col("k")), Seq("k"), "left_anti")
        .unionByName(batch)
      merged.collect()
      val root = merged.queryExecution.executedPlan
      val plan = root.collectFirst {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(root).toString
      val hashExchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashExchanges === 1, s"store side must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"store scan must be bucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("mergePartitionedBucketed rewrites ONLY partitions containing batch " +
      "keys: untouched partitions' files stay byte-identical on disk") {
    import spark.implicits._
    // part = k % 3 — a pure function of the key (the layout contract)
    val store = (0L until 30L).map(k => (k, s"old-$k", k % 3)).toDF("k", "v", "part")
    ParquetSink.writePartitionedBucketed(store, "pmerge_t", "part", "k", 2)
    assert(ParquetSink.bucketCount(spark, "pmerge_t") === Some(2))
    val loc = new java.io.File(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("pmerge_t")))
    def snapshot(part: String): Map[String, (Long, String)] = {
      val dir = new java.io.File(loc, part)
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val sum = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        f.getName -> ((f.length(), sum))
      }.toMap
    }
    val before0 = snapshot("part=0")
    val before2 = snapshot("part=2")
    assert(before0.nonEmpty && before2.nonEmpty, "fixture writes every partition")
    // the batch touches only part=1 keys: update k=1, insert k=31 (31%3=1)
    val batch = Seq((1L, "new-1", 1L), (31L, "ins-31", 1L)).toDF("k", "v", "part")
    val merged = ParquetSink.mergePartitionedBucketed(batch, "pmerge_t", "part", "k")
    val got = merged.select("k", "v").as[(Long, String)].collect().toMap
    assert(got(1L) === "new-1" && got(31L) === "ins-31", "replace + insert land")
    assert(got(4L) === "old-4" && got(0L) === "old-0" && got.size === 31,
      s"same-partition and other-partition store rows carry over: ${got.size}")
    // THE claim: untouched partitions were never rewritten
    assert(snapshot("part=0") === before0, "part=0 files byte-identical")
    assert(snapshot("part=2") === before2, "part=2 files byte-identical")
    // the MERGE cadence never degrades the layout: each dynamic overwrite
    // replaces the touched partition with one file per bucket
    assert(snapshot("part=1").size === 2, "merge keeps numBuckets files")
    // re-merging the same keyed batch is a fixpoint (crash-replay posture)
    val again = ParquetSink.mergePartitionedBucketed(batch, "pmerge_t", "part", "k")
    assert(again.select("k", "v").as[(Long, String)].collect().toMap === got)
    assert(snapshot("part=1").size === 2, "a second merge keeps numBuckets files")
    // and the keyed-batch precondition holds here too
    val unkeyed = Seq((1L, "x", 1L), (1L, "y", 1L)).toDF("k", "v", "part")
    val e = intercept[IllegalArgumentException] {
      ParquetSink.mergePartitionedBucketed(unkeyed, "pmerge_t", "part", "k")
    }
    assert(e.getMessage.contains("mergePartitionedBucketed"))
  }

  test("mergeBucketed: refuses an UNKEYED batch with a named error (the " +
      "one-row-per-key store invariant is load-bearing)") {
    import spark.implicits._
    ParquetSink.writeBucketed(Seq((1L, "a")).toDF("k", "v"), "merge_unkeyed_t", "k", 2)
    val unkeyed = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      ParquetSink.mergeBucketed(unkeyed, "merge_unkeyed_t", "k")
    }
    assert(e.getMessage.contains("more than once"))
    // and the store generation was not touched
    assert(spark.table("merge_unkeyed_t").count() === 1L)
  }

  test("mergeBucketed: refuses an unbucketed target with a named error") {
    import spark.implicits._
    val flat = Seq((1L, "a")).toDF("k", "v")
    ParquetSink.writeTable(flat, "merge_flat_t")
    val e = intercept[IllegalArgumentException] {
      ParquetSink.mergeBucketed(flat, "merge_flat_t", "k")
    }
    assert(e.getMessage.contains("not a bucketed table"))
  }

  test("bucket count is recoverable from the catalog (cross-session contract)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    ParquetSink.writeBucketed(df, "bc_t", "k", 3)
    assert(ParquetSink.bucketCount(spark, "bc_t") === Some(3))
  }

  test("z-clustered write opens strictly fewer row groups than lexico under a 2-D predicate") {
    // The layout_zorder audit made real (r8 verdict item 4): same grid
    // coordinates as Layout.audit (custkey & 255, order-day & 255), same
    // query rectangle, but the "buckets" are now actual parquet row groups
    // and the hit counts come from the files' own footer min-max stats —
    // the statistics a lakehouse scan planner prunes by.
    val dir = Files.createTempDirectory("graft-zorder").toFile.getAbsolutePath
    val mask = 255L
    val src = Tables.orders(spark, "/root/testdata/sf0.01").select(
      col("o_orderkey"),
      col("o_custkey").bitwiseAND(lit(mask)).as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").bitwiseAND(lit(mask)).as("y"))
    // 256 files = the same bucket granularity the layout_zorder audit
    // measures (12/256 z vs 31/256 lexico); at coarser granularity (e.g.
    // 64 files) quadrant-boundary slop can erase the z margin on this
    // rectangle — granularity is part of the layout design, not a tunable
    val nFiles = 256
    val z = writeClustered(src, s"$dir/z", "x", "y", nFiles, bits = 8)
    val lex = writeLayout(src, s"$dir/lex", nFiles, col("x"), col("y"))
    // both layouts round-trip the data
    assert(z.count() === src.count())
    assert(lex.count() === src.count())
    // the audited rectangle: both dimensions selective (Layout's Xq/Yq)
    val (zHit, zTotal) = rowGroupsHit(spark, s"$dir/z", "x", "y", 50, 80, 100, 150)
    val (lexHit, lexTotal) = rowGroupsHit(spark, s"$dir/lex", "x", "y", 50, 80, 100, 150)
    assert(zTotal === lexTotal, "same file-count dial must yield the same row-group count")
    assert(zHit < lexHit,
      s"z-order must open strictly fewer row groups ($zHit vs lexico $lexHit of $zTotal)")
    // and on a minor-dimension-only predicate the lexico layout collapses
    // to a full scan (every x-major file spans the full y range) while the
    // z layout still prunes — the whole reason to interleave
    val (zY, _) = rowGroupsHit(spark, s"$dir/z", "x", "y", 0, mask, 100, 150)
    val (lexY, _) = rowGroupsHit(spark, s"$dir/lex", "x", "y", 0, mask, 100, 150)
    assert(zY < lexY,
      s"y-only predicate: z must beat lexico ($zY vs $lexY of $zTotal)")
  }

  test("hilbert-clustered write opens fewer real row groups than z-order") {
    // layout_hilbert made real: same grid coordinates, same rectangle,
    // hits counted from actual parquet footer min-max stats. The range
    // exchange cuts the key space by row count (unaligned runs), the
    // regime where Hilbert's grid-adjacent walk beats Morton's diagonal
    // seams — the model sweep (194/200 rectangles) pinned at the audit's
    // fixed rectangle on real files.
    val dir = Files.createTempDirectory("graft-hilbert").toFile.getAbsolutePath
    val mask = 255L
    val src = Tables.orders(spark, "/root/testdata/sf0.01").select(
      col("o_orderkey"),
      col("o_custkey").bitwiseAND(lit(mask)).as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").bitwiseAND(lit(mask)).as("y"))
    val nFiles = 256
    val h = writeClusteredHilbert(src, s"$dir/h", "x", "y", nFiles, bits = 8)
    writeClustered(src, s"$dir/z", "x", "y", nFiles, bits = 8)
    assert(h.count() === src.count())
    val (hHit, hTotal) = rowGroupsHit(spark, s"$dir/h", "x", "y", 50, 80, 100, 150)
    val (zHit, zTotal) = rowGroupsHit(spark, s"$dir/z", "x", "y", 50, 80, 100, 150)
    assert(hHit < zHit,
      s"hilbert must open fewer row groups ($hHit/$hTotal vs z $zHit/$zTotal)")
  }

  /** ADVICE r11 (low): the Hilbert clustered writer must accept the same
    * integral input types as the Z-order twin — INT grid coordinates
    * previously failed HilbertD's (bigint, bigint) analysis check while
    * writeClustered's shift/mask tree widened implicitly. */
  test("writeClusteredHilbert accepts INT coordinate columns like the z twin") {
    val dir = Files.createTempDirectory("graft-hilbert-int").toFile.getAbsolutePath
    val src = Tables.orders(spark, "/root/testdata/sf0.001").select(
      col("o_orderkey"),
      col("o_custkey").bitwiseAND(lit(15L)).cast("int").as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .bitwiseAND(lit(15)).cast("int").as("y"))
    val h = writeClusteredHilbert(src, s"$dir/h", "x", "y", 4, bits = 4)
    assert(h.count() === src.count())
    writeClustered(src, s"$dir/z", "x", "y", 4, bits = 4)
    assert(spark.read.parquet(s"$dir/z").count() === src.count())
  }
}

/** The layout writers and the footer audit the layout tests compare:
  * plain partitioned, range-clustered (lexicographic, Z-order, Hilbert)
  * writes, and the row-group pruning count read from real footers. */
object ParquetSinkSpec {

  /** Write `df` partitioned by `cols`; returns the reloaded DataFrame. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): DataFrame = {
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Layout-controlled parquet write: `repartitionByRange(numFiles,
    * orderKey)` (each output file covers one contiguous key range — the
    * file-count dial) + `sortWithinPartitions(orderKey)` (row groups
    * inside each file get TIGHT footer min-max stats on every column
    * correlated with the key). The key column is dropped before the write
    * when synthetic — projection after the sort preserves ordering. This
    * is the generic engine under [[writeClustered]] and its lexico
    * comparison twin in ParquetSinkSpec. */
  def writeLayout(df: DataFrame, path: String, numFiles: Int,
      orderKeys: Column*): DataFrame = {
    val keyed = df.withColumns(
      orderKeys.zipWithIndex.map { case (k, i) => s"__graft_k$i" -> k }.toMap)
    val keyCols = orderKeys.indices.map(i => col(s"__graft_k$i"))
    keyed.repartitionByRange(numFiles, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .drop(orderKeys.indices.map(i => s"__graft_k$i"): _*)
      .write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Z-order-clustered write (round-8 verdict item 4: `layout_zorder`
    * proved the pruning win on bucket stand-ins; this is the real write
    * path): cluster by the Morton interleave of two dimension columns so
    * every file/row-group has tight min-max footer stats on BOTH —
    * a 2-D predicate then prunes row groups by stats alone, where a
    * lexicographic sort keeps only the major column tight. Cost at scale:
    * exactly the range exchange any file-count-controlled write already
    * pays — the z-value is a pure codegen column expression
    * ([[graft.operators.Layout.zValue]]). [[rowGroupsHit]] audits the
    * result from the REAL parquet footers. */
  def writeClustered(df: DataFrame, path: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = graft.operators.Layout.Bits): DataFrame =
    writeLayout(df, path, numFiles,
      graft.operators.Layout.zValue(col(xCol), col(yCol), bits))

  /** [[writeClustered]] with the Hilbert index as the layout key — the
    * `layout_hilbert` audit's production form. The range exchange cuts
    * the 1-D key space by ROW COUNT, not by bit-aligned prefixes, which
    * is precisely the regime where the Hilbert walk's grid-adjacency
    * tightens file bounding boxes over the Morton interleave's diagonal
    * seams (aligned power-of-4 ranges tie; unaligned runs do not —
    * measured on real footers in `ParquetSinkSpec`). */
  def writeClusteredHilbert(df: DataFrame, path: String, xCol: String,
      yCol: String, numFiles: Int,
      bits: Int = graft.operators.Layout.GridBits): DataFrame =
    writeLayout(df, path, numFiles,
      graft.functions.LayoutFunctions.hilbertD(col(xCol), col(yCol), bits))

  /** Footer-stats pruning audit over a parquet directory: of all row
    * groups, how many have a min-max bounding box on (`xCol`, `yCol`)
    * intersecting the query rectangle — i.e. how many a stats-pruning
    * scan must OPEN for that 2-D predicate. Reads only footers (metadata
    * IO on the calling JVM, no data pages) via parquet-hadoop — the same
    * statistics a production lakehouse scan planner consults. Returns
    * (rowGroupsHit, rowGroupsTotal). */
  def rowGroupsHit(spark: SparkSession, path: String, xCol: String, yCol: String,
      x0: Long, x1: Long, y0: Long, y1: Long): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    var hit = 0
    var total = 0
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try rd.getFooter.getBlocks.asScala.foreach { b =>
        total += 1
        def minMax(name: String): (Long, Long) = {
          val cc = b.getColumns.asScala.find(_.getPath.toDotString == name)
            .getOrElse(sys.error(s"no column chunk '$name' in ${f.getPath}"))
          val st = cc.getStatistics
          (st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)
        }
        val (xmin, xmax) = minMax(xCol)
        val (ymin, ymax) = minMax(yCol)
        if (xmin <= x1 && xmax >= x0 && ymin <= y1 && ymax >= y0) hit += 1
      } finally rd.close()
    }
    (hit, total)
  }
}
