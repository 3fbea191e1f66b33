package graftbench

import scala.collection.mutable

/** One benchmark run in its own JVM. `perfbench/run.py` launches it, reads
  * the record it writes to `--out`, and turns that into metrics.
  *
  * Options: --workload stream_steady|stream_growth|batch_suite|hashes|hash-dumps
  * --seed N --seconds S --trace 0|1 --out FILE --work DIR --cores N
  * [--data DIR] [--queries a,b,c] [--dumps DIR]. The warehouse, local and
  * temporary directories come from the `spark.*` and `java.io.tmpdir` system
  * properties the launcher sets. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val tracer = new Tracer(opts.getOrElse("trace", "0") == "1")
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> tracer.on,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)

    val t0 = Clock.nowMs
    val spark = tracer.span("session", "session")(
      graft.Graft.session("perfbench", master = Some(s"local[${opts("cores")}]")))
    rec("session_ms") = Clock.nowMs - t0
    spark.sparkContext.setLogLevel("WARN")
    // map-typed outputs must be hashable by the forced reduce, as in graft.Bench
    spark.conf.set("spark.sql.legacy.allowHashOnMapType", "true")
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    val work = opts("work")
    try workload match {
      case "stream_steady" =>
        Streams.steady(spark, tracer, exec, progress, seed, seconds, work, rec)
      case "stream_growth" =>
        Streams.growth(spark, tracer, exec, progress, seed, seconds, work, rec)
      case "batch_suite" =>
        BatchSuite.run(spark, tracer, exec, opts("data"), opts("queries").split(",").toSeq, rec)
      case "hashes" => BatchSuite.hashAll(spark, opts("data"), rec)
      case "hash-dumps" => BatchSuite.hashDumps(spark, opts("dumps"), rec)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    } finally {
      rec("rss_peak_mb") = Jvm.rssPeakMb
      if (tracer.on) rec("spans") = tracer.all
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), Json.render(rec) + "\n")
      spark.stop()
    }
  }
}
