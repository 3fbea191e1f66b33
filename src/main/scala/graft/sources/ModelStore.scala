package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once store for every derived table a registered query persists:
  * model artifacts (ANN codebooks, the NB quality-classifier fit, the langid
  * prediction table), the history stores of the incremental queries and the
  * format exports of the source round trips. A derived table is a
  * deterministic function of its input, so it is built ONCE per input
  * content and served afterwards — the serving posture real pipelines run
  * (models are fit on a schedule, not per query), and the reason a suite of
  * N consumers costs one build, not N.
  *
  * One policy for both backends — a parquet directory ([[dir]],
  * [[getOrBuild]]) and a managed catalog table ([[table]]):
  *
  *  - NAME: `graft_<tag>_<dirKey>_<contentKey>`, where `dirKey` hashes the
  *    source directory's path and `contentKey` fingerprints the source
  *    table's files (name, length, mtime). Regenerating the corpus in place
  *    produces a new name, so nothing stale ever serves.
  *  - REUSE: a committed entry under that name is served. Directories
  *    persist across JVMs; catalog tables live in the session catalog, so
  *    they are reused within one JVM and rebuilt by the next.
  *  - CRASH SAFETY: a directory without its `_SUCCESS` marker is a crashed
  *    write and is rebuilt; builds land in a dot-prefixed temp dir and
  *    enter via one atomic rename, so two applications sharing a warehouse race
  *    to a single winner. Catalog tables go through
  *    [[ParquetSink.writeBucketed]]'s staged swap.
  *  - PRUNE: on sight, every other generation of the same tag AND source
  *    directory is deleted (a catalog entry is dropped with it); another
  *    directory's artifact of the same tag is left alone.
  *
  * [[fsPath]] exposes the scheme-stripped filesystem path so a DuckDB
  * oracle can `read_parquet` an artifact directly — the trained serving
  * paths stay hash-checked, not self-reported. */
object ModelStore {

  /** Content fingerprint of `dir/table` — every underlying file's
    * (name, length, mtime), md5'd to 12 hex chars. */
  def contentKey(s: SparkSession, dir: String, table: String): String = {
    val src = new Path(s"$dir/$table")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listing = new StringBuilder(dir)
    def walk(p: Path): Unit =
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else listing.append(st.getPath.getName).append(':')
          .append(st.getLen).append(':').append(st.getModificationTime).append(';')
      }
    val st = fs.getFileStatus(src)
    if (st.isDirectory) walk(src)
    else listing.append(st.getLen).append(':').append(st.getModificationTime)
    md5(listing.toString).take(12)
  }

  private def md5(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Path fingerprint of a source directory: fixed-width, so one tag's
    * generations for one directory share a prefix no other directory has. */
  private def dirKey(dir: String): String = md5(dir).take(8)

  /** Name of the `tag` entry derived from `dir/source`: its warehouse
    * directory, and for a [[table]] store its catalog name (what a caller
    * that rewrites the store in place, a MERGE target, addresses). */
  def name(s: SparkSession, dir: String, source: String, tag: String): String =
    s"graft_${tag}_${dirKey(dir)}_${contentKey(s, dir, source)}"

  private def warehouse(s: SparkSession): (Path, FileSystem) = {
    val w = new Path(s.conf.get("spark.sql.warehouse.dir"))
    (w, w.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Delete every generation of `tag` for `dir` other than `keep`: a corpus
    * regeneration changes the content key, and without this every
    * regeneration leaks a dead store-sized entry. The match is exact
    * (fixed-width keys), so neither another directory's entry nor another
    * tag that merely starts with `tag` is touched. */
  private def prune(s: SparkSession, dir: String, tag: String, keep: String): Unit = {
    val (w, fs) = warehouse(s)
    val generation = s"graft_${java.util.regex.Pattern.quote(tag)}_${dirKey(dir)}_[0-9a-f]{12}"
    if (fs.exists(w)) fs.listStatus(w).map(_.getPath).foreach { p =>
      val nm = p.getName
      if (nm != keep && nm.matches(generation)) {
        if (s.catalog.tableExists(nm)) s.sql(s"DROP TABLE `$nm`")
        fs.delete(p, true)
      }
    }
  }

  /** The committed directory of the `tag` artifact derived from
    * `dir/source`, running `write(path)` into a temp directory and renaming
    * it into place only if no committed generation exists. `write` may lay
    * out anything under its path (one Spark write or several); the store
    * marks the directory complete once it returns. */
  def dir(s: SparkSession, dir: String, source: String, tag: String)(
      write: String => Unit): String = {
    val nm = name(s, dir, source, tag)
    prune(s, dir, tag, nm)
    val (w, fs) = warehouse(s)
    val p = new Path(w, nm)
    if (!fs.exists(new Path(p, "_SUCCESS"))) {
      fs.delete(p, true) // a crashed write self-heals
      // dot-prefixed: never a generation name, never scanned as data
      val tmp = new Path(w, s".graft_tmp_${nm}_${java.util.UUID.randomUUID}")
      write(tmp.toString)
      fs.create(new Path(tmp, "_SUCCESS"), true).close()
      // two applications sharing the warehouse race to one rename; the
      // loser reads the winner's artifact
      if (!fs.rename(tmp, p)) fs.delete(tmp, true)
    }
    p.toString
  }

  /** Serve the `tag` artifact keyed on `dir/table`'s content, building it
    * (and persisting to the warehouse) only if absent or stale. */
  def getOrBuild(s: SparkSession, dir: String, table: String, tag: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(this.dir(s, dir, table, tag)(build.write.parquet(_)))

  /** Serve the `tag` store derived from `dir/source` as a managed catalog
    * table, building it only if this session's catalog lacks it. With a
    * `bucketKey` the table is written bucketed and sorted on it (and
    * directory-partitioned by `partCol` when given) into
    * [[graft.operators.Dedup.storeBuckets]] buckets, so joins on the key
    * scan it in place; without one it is a plain table (a broadcast-side
    * stoplist or centroid set). */
  def table(s: SparkSession, dir: String, source: String, tag: String,
      bucketKey: Option[String], partCol: Option[String] = None)(
      build: => DataFrame): DataFrame = {
    val nm = name(s, dir, source, tag)
    prune(s, dir, tag, nm)
    if (s.catalog.tableExists(nm)) s.table(nm)
    else {
      val buckets = graft.operators.Dedup.storeBuckets(s)
      (bucketKey, partCol) match {
        case (Some(k), Some(p)) => ParquetSink.writePartitionedBucketed(build, nm, p, k, buckets)
        case (Some(k), None) => ParquetSink.writeBucketed(build, nm, k, buckets)
        case (None, _) => ParquetSink.writeTable(build, nm)
      }
    }
  }

  /** Resolved filesystem path of a [[getOrBuild]] artifact, scheme-stripped
    * so a DuckDB oracle can `read_parquet` it directly. */
  def fsPath(s: SparkSession, dir: String, table: String, tag: String): String = {
    val w = s.conf.get("spark.sql.warehouse.dir")
    val base =
      if (w.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")) new java.net.URI(w).getPath
      else w
    s"$base/${name(s, dir, table, tag)}"
  }
}
