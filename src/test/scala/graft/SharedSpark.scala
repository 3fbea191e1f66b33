package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM: the shipped
  * [[Graft.session]] on `local[4]`, so plan shapes do not depend on the
  * host: 4 task slots, hence 4 shuffle partitions. */
object SharedSpark {
  lazy val spark: SparkSession = {
    // a static conf, so it must be in place before the session exists; the
    // per-JVM temp warehouse keeps test tables out of the working directory
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    val s = Graft.session("graft-test", master = Some("local[4]"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
