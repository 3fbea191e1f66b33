package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftFacadeSpec extends AnyFunSuite {

  // first in the suite, so no test below has touched the session's conf
  test("the shared test session carries the shipped Graft.session conf") {
    val s = SharedSpark.spark
    assert(s.conf.get("spark.sql.streaming.stateStore.providerClass") ===
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.conf.get("spark.hadoop.fs.file.impl") === classOf[ForkFreeLocalFileSystem].getName)
    assert(s.conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ===
      classOf[ForkFreeLocalFs].getName)
    // FileSystem caches one instance per scheme: a stock instance cached
    // before the session existed would bypass the conf above
    val local = new java.net.URI("file:///")
    val hadoopConf = s.sessionState.newHadoopConf()
    assert(org.apache.hadoop.fs.FileSystem.get(local, hadoopConf).getClass ===
      classOf[ForkFreeLocalFileSystem])
    assert(org.apache.hadoop.fs.FileContext.getFileContext(local, hadoopConf)
      .getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
    // the SQL functions are registered when the session is created: no
    // explicit GraftExtensions.register call here
    val dot = s.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dot === 11.0)
  }

  test("facade session runs a registered query with SQL functions available") {
    // getOrCreate reuses SharedSpark's context; facade must still register
    // its functions and expose the query surface on the returned session
    SharedSpark.spark // force base session first
    val before = SharedSpark.spark.conf.get("spark.sql.shuffle.partitions")
    // simulate an embedding app whose session breaks graft's semantics
    SharedSpark.spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    val s = Graft.session(appName = "graft-facade-test", master = Some("local[4]"))
    // adopting an existing session must NOT re-apply graft's conf onto it —
    // the silent shuffle.partitions rewrite broke other suites' plans (r4)
    assert(s.conf.get("spark.sql.shuffle.partitions") === before)
    // ... but the semantics-critical runtime confs ARE applied on adoption:
    // a graft query must not return different timestamps on an adopted
    // session than on a fresh one (r5 advice)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(Graft.queries.contains("inventory_fold"))
    val df = Graft.run(s, "inventory_fold", "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val dot = s.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dot === 11.0)
  }
}
