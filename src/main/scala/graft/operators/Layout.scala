package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Data-layout clustering: Z-order (Morton) interleave vs lexicographic
  * ordering, audited by the min-max pruning each layout buys.
  *
  * This is the extension family's answer to the 100 TB layout question the
  * reference never has to face (it streams record-at-a-time; we land
  * parquet). A lake write clustered by `repartitionByRange(zvalue) +
  * sortWithinPartitions(zvalue)` gives every file/row-group TIGHT min-max
  * ranges on BOTH interleaved dimensions, so a 2-D predicate prunes by
  * footer stats alone; a lexicographic sort (x-major) keeps x tight but
  * leaves every file spanning the full y range — a y-filtered scan opens
  * everything. The registered query measures exactly that: both layouts'
  * buckets (a bucket stands in for a file/row-group), each bucket's
  * bounding box, and whether a fixed 2-D range query would have to open
  * it. `LayoutSpec` pins the punchline (z-order opens strictly fewer
  * buckets); the DuckDB oracle replays the interleave bit-for-bit — the
  * whole construction is integer arithmetic, so the audit is exact, not
  * statistical.
  *
  * The z-value is a plain column expression (shift/mask/add over disjoint
  * bits — addition IS bitwise-or here), codegen-friendly and shuffle-free:
  * at scale the only cost of z-clustering the write is the range exchange
  * the writer already pays to control file count. `ParquetSinkSpec` writes
  * z-clustered parquet with this key and re-proves the punchline on REAL
  * parquet footer statistics (`rowGroupsHit`). */
object Layout {

  /** bits per dimension in the general interleave (32-bit Morton code). */
  val Bits = 16

  /** Morton interleave of two `bits`-wide non-negative ints: x in even bit
    * positions, y in odd. Disjoint one-bit terms summed (+ ≡ |). */
  def zValue(x: Column, y: Column, bits: Int = Bits): Column =
    (0 until bits).map { j =>
      shiftleft(shiftright(x, j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(y, j).bitwiseAND(lit(1L)), 2 * j + 1)
    }.reduce(_ + _)

  private def zValueSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { j =>
      s"((($x >> $j) & 1) << ${2 * j}) + ((($y >> $j) & 1) << ${2 * j + 1})"
    }.mkString(" + ")

  /** The audit works on GRID coordinates — each dimension reduced to
    * `GridBits` bits (production z-clustering would rank/scale the raw
    * values; the mask keeps the audit a pure column expression at every
    * scale factor). Buckets are the top GridBits of the layout key: the
    * z-layout's bucket is a 2^(GridBits/2) × 2^(GridBits/2) square cell,
    * the lexico layout's bucket is one full-height x-column — which is the
    * whole story of why z wins under a 2-D predicate. */
  val GridBits = 8

  // the audited 2-D range query: both dimensions selective; neither alone
  // decides a bucket
  private val Xq0 = 50L; private val Xq1 = 80L
  private val Yq0 = 100L; private val Yq1 = 150L

  /** Oracle CTE `xy(x, y)`: the replay of [[gridXy]]. */
  private val gridXyCte: String = {
    val mask = (1L << GridBits) - 1
    s"""xy AS (
      |  SELECT CAST(o_custkey AS BIGINT) & $mask AS x,
      |         CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) AS BIGINT) & $mask AS y
      |  FROM orders)""".stripMargin
  }

  /** Oracle CTE `alias`: one [[bucketBoxes]] side, the row count and (x, y)
    * bounding box of each `bucket` of the `keyed` CTE. */
  private def bucketBoxCte(alias: String, layout: String, bucket: String): String =
    s"""$alias AS (SELECT '$layout' AS layout, $bucket AS bucket, COUNT(*) AS n_rows,
      |             MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
      |      FROM keyed GROUP BY $bucket)""".stripMargin

  /** Oracle tail of [[bucketBoxes]] over the union `u` of its sides. */
  private val auditTailSql: String =
    s"""SELECT layout, CAST(bucket AS BIGINT) AS bucket, CAST(n_rows AS BIGINT) AS n_rows,
      |       x_min, x_max, y_min, y_max,
      |       CAST(CASE WHEN x_min <= $Xq1 AND x_max >= $Xq0
      |                  AND y_min <= $Yq1 AND y_max >= $Yq0 THEN 1 ELSE 0 END AS BIGINT) AS hit
      |FROM u ORDER BY layout, bucket""".stripMargin

  /** Per-bucket layout audit over orders, both layouts in one result:
    * `layout` ∈ {zorder, lexico}, bucket id (top GridBits (8) bits of the
    * 2·GridBits-wide layout key — the stand-in for one file), row count, the bucket's bounding
    * box on (custkey, order-day), and `hit` = 1 iff the fixed rectangle
    * intersects the box (the file would be opened). */
  val zorderAudit: QueryDef = QueryDef.sql(
    "layout_zorder", {
      val z = zValueSql("x", "y", GridBits)
      s"""WITH $gridXyCte,
      |keyed AS (SELECT x, y, ($z) >> $GridBits AS zbucket, (x << $GridBits | y) >> $GridBits AS lbucket FROM xy),
      |${bucketBoxCte("z", "zorder", "zbucket")},
      |${bucketBoxCte("l", "lexico", "lbucket")},
      |u AS (SELECT * FROM z UNION ALL SELECT * FROM l)
      |$auditTailSql""".stripMargin
    }) { (s, d) => audit(Tables.orders(s, d)) }

  private[graft] def audit(orders: DataFrame): DataFrame = {
    val keyed = gridXy(orders).select(
      col("x"), col("y"),
      shiftright(zValue(col("x"), col("y"), GridBits), GridBits).as("zbucket"),
      shiftright(shiftleft(col("x"), GridBits).bitwiseOR(col("y")), GridBits).as("lbucket"))
    bucketBoxes(keyed, "zorder" -> "zbucket", "lexico" -> "lbucket")
  }

  /** HILBERT-curve clustering audit — the same bucket/bbox/hit
    * measurement as [[zorderAudit]] with the Hilbert index as a third
    * layout, side by side with Z and lexicographic, under the cut rule
    * real writers use: buckets are CONSECUTIVE RUNS OF [[FileCells]] KEY
    * VALUES (a maxRecordsPerFile-style row-count cut), not bit-aligned
    * prefixes. The distinction is load-bearing and measured, not
    * asserted: on power-of-two ALIGNED ranges Morton blocks are squares
    * or 2:1 rectangles and Z ties Hilbert exactly (we measured identical
    * opened counts at every aligned shift) — but a writer cuts files by
    * SIZE, and over unaligned runs Z's diagonal seams (consecutive keys
    * jumping across the space — `LayoutSpec` shows d=1→2 teleports while
    * every Hilbert step is grid-adjacent) widen the boxes: on the full
    * grid this audit's fixed rectangle opens 14 Hilbert buckets vs 18
    * Z vs 28 lexico, and a 500-rectangle sweep had Hilbert open ~25%
    * fewer files than Z (474/500 rectangles strictly better, 5 worse).
    * That unaligned-run robustness is the published reason lakehouse
    * clustering implementations moved from Z-order to Hilbert curves.
    *
    * The key is the codegen'd [[graft.functions.HilbertD]] expression —
    * a per-row static call, shuffle-free, same cost class as the Z
    * shift/mask tree; at 100 TB the only cost of Hilbert-clustering a
    * write stays the range exchange the writer already pays. The oracle
    * replays the rotate-and-accumulate conversion as a mechanically
    * unrolled 8-step CTE chain ([[graft.functions.HilbertCurve
    * .unrolledSqlCtes]]), so engine and oracle share one algorithm
    * source. */
  /** Key values per audited "file" in [[hilbertAudit]] — deliberately not
    * a power of two: the row-count cut every real writer applies. */
  val FileCells = 300L

  val hilbertAudit: QueryDef = QueryDef.sql(
    "layout_hilbert", {
      val (hilbertCtes, hfin) =
        graft.functions.HilbertCurve.unrolledSqlCtes(GridBits, "xy0", Seq("ox", "oy"))
      s"""WITH $gridXyCte,
      |xy0 AS (SELECT x, y, x AS ox, y AS oy FROM xy),
      |$hilbertCtes,
      |keyed AS (SELECT ox AS x, oy AS y, hd // $FileCells AS hbucket,
      |                 (${zValueSql("ox", "oy", GridBits)}) // $FileCells AS zbucket,
      |                 (ox << $GridBits | oy) // $FileCells AS lbucket
      |          FROM $hfin),
      |${bucketBoxCte("h", "hilbert", "hbucket")},
      |${bucketBoxCte("z", "zorder", "zbucket")},
      |${bucketBoxCte("l", "lexico", "lbucket")},
      |u AS (SELECT * FROM h UNION ALL SELECT * FROM z UNION ALL SELECT * FROM l)
      |$auditTailSql""".stripMargin
    }) { (s, d) => hilbertAuditDf(Tables.orders(s, d)) }

  private[graft] def hilbertAuditDf(orders: DataFrame): DataFrame = {
    import graft.functions.LayoutFunctions.hilbertD
    val keyed = gridXy(orders).select(
      col("x"), col("y"),
      hilbertD(col("x"), col("y"), GridBits).as("hd"),
      zValue(col("x"), col("y"), GridBits).as("zv"),
      shiftleft(col("x"), GridBits).bitwiseOR(col("y")).as("lv"))
      .select(col("x"), col("y"),
        expr(s"hd div $FileCells").as("hbucket"),
        expr(s"zv div $FileCells").as("zbucket"),
        expr(s"lv div $FileCells").as("lbucket"))
    bucketBoxes(keyed,
      "hilbert" -> "hbucket", "zorder" -> "zbucket", "lexico" -> "lbucket")
  }

  /** Orders on the audit grid: x = custkey, y = days since 1992-01-01, each
    * masked to [[GridBits]] bits. */
  private def gridXy(orders: DataFrame): DataFrame = {
    val mask = (1L << GridBits) - 1
    orders.select(
      col("o_custkey").bitwiseAND(lit(mask)).as("x"),
      datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").bitwiseAND(lit(mask)).as("y"))
  }

  /** Per layout (name → bucket column of `keyed`), each bucket's row count
    * and (x, y) bounding box, unioned in order, with `hit` = 1 iff the
    * fixed query rectangle intersects the box. */
  private def bucketBoxes(keyed: DataFrame, layouts: (String, String)*): DataFrame = {
    def side(name: String, bucket: String) =
      keyed.groupBy(col(bucket).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .select(lit(name).as("layout"), col("bucket"), col("n_rows"),
          col("x_min"), col("x_max"), col("y_min"), col("y_max"))
    layouts.map { case (name, bucket) => side(name, bucket) }.reduce(_ unionAll _)
      .withColumn("hit",
        when(col("x_min") <= Xq1 && col("x_max") >= Xq0 &&
          col("y_min") <= Yq1 && col("y_max") >= Yq0, 1L).otherwise(0L))
      .orderBy("layout", "bucket")
  }

  val all: Seq[QueryDef] = Seq(zorderAudit, hilbertAudit)
}
