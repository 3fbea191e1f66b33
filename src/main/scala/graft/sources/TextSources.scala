package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{QueryDef, Tables}

/** Line-oriented text sources (JSON-lines, CSV) with EXPLICIT schemas — the
  * batch face of the reference's fixed-schema JSON discipline (SURVEY §1.2:
  * declared `StructType`s, never inference; an inferred schema re-scans the
  * data and silently drifts when a batch happens to miss a field).
  *
  * The registered queries are write → read-back round trips: the documents
  * table is exported once per corpus content to JSON-lines / CSV under
  * the session's warehouse, then read back through the real
  * `spark.read.schema(...).json/csv` path and compared — field order,
  * quoting, escaping, and type round-tripping all on the line. The oracle
  * is the identity query over the same rows, so any wire-format corruption
  * hash-fails. At scale these sources are splittable line formats: a 100 TB
  * JSONL ingest parallelizes by byte range exactly like this one. */
object TextSources {

  /** doc schema as explicitly declared (no inference, mirrors parquet). */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents table exported once per corpus content as `format`
    * under the warehouse ([[ModelStore.dir]]: same build-once contract as
    * the dedup stores — the unit of work under measurement is the READ). */
  private def export(spark: SparkSession, dir: String, format: String): String =
    ModelStore.dir(spark, dir, "documents.parquet", s"export_$format") { out =>
      val w = Tables.documents(spark, dir).select(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      format match {
        case "json" => w.write.json(out)
        case "csv" => w.write.option("header", "true").option("escape", "\"").csv(out)
        case "orc" => w.write.orc(out)
      }
    }

  /** JSONL round trip: parquet → json-lines → schema-pinned read-back. */
  val jsonRoundTrip: QueryDef = QueryDef.sql(
    "source_json_roundtrip",
    """SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    s.read.schema(DocSchema).json(export(s, d, "json"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** CSV round trip: header + RFC-quoting, schema-pinned read-back. */
  val csvRoundTrip: QueryDef = QueryDef.sql(
    "source_csv_roundtrip",
    """SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    s.read.schema(DocSchema)
      .option("header", "true").option("escape", "\"")
      .csv(export(s, d, "csv"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Partition-pruned round trip: documents written `partitionBy(lang)`
    * (once per corpus content), read back with a partition-key predicate. The
    * predicate lands in the scan's partitionFilters — the read lists ONE
    * `lang=en/` directory and never opens the others, which at 100 TB is
    * the difference between scanning the corpus and scanning the slice
    * (ParquetSinkSpec asserts the pruned plan; this query puts the same
    * path under the driver's value-level oracle). */
  val partitionedPruned: QueryDef = QueryDef.sql(
    "source_partitioned_pruning",
    """SELECT doc_id, text, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin) { (s, d) =>
    val out = ModelStore.dir(s, d, "documents.parquet", "export_bylang") { out =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"), col("lang"))
        .write.partitionBy("lang").parquet(out)
    }
    s.read.parquet(out)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** ORC round trip: the second columnar wire format Spark ships natively.
    * Same write-once/read-measured contract as the line formats; ORC's
    * own type system (no unsigned, its own string/long encodings) is what
    * the identity oracle pins — plus predicate pushdown and column pruning
    * work in the ORC scan exactly as in parquet, so a lake standardized on
    * ORC loses nothing the engine relies on. */
  val orcRoundTrip: QueryDef = QueryDef.sql(
    "source_orc_roundtrip",
    """SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    s.read.schema(DocSchema).orc(export(s, d, "orc"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Schema evolution: a v1 export without `n_chars` plus a v2 export with
    * it, read back as ONE table via parquet schema merging — the
    * add-a-column lake migration every long-lived pipeline performs. The
    * declared read schema (mergeSchema + explicit select) pins the
    * semantics: v1 rows surface the new column as NULL, v2 rows carry
    * values, nothing is silently dropped or re-typed. The oracle replays
    * the same union in SQL, so a regression in merge behavior (column
    * order, null fill, type widening) hash-fails. Nullness is pinned
    * through an explicit `has_n_chars` indicator + a -1 sentinel rather
    * than a raw nullable BIGINT — pandas widens nullable int64 to float64
    * in the driver's hash compare, which would turn an exact column into a
    * tolerance comparison. At scale this is footer-merge work at planning
    * time only — the data files are never rewritten, which is the entire
    * point of additive schema evolution. */
  val schemaEvolution: QueryDef = QueryDef.sql(
    "source_schema_evolution",
    """SELECT doc_id, lang, CAST(0 AS BIGINT) AS has_n_chars,
      |       CAST(-1 AS BIGINT) AS n_chars, 1 AS v
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, lang, CAST(1 AS BIGINT) AS has_n_chars,
      |       CAST(n_chars AS BIGINT) AS n_chars, 2 AS v
      |FROM documents WHERE doc_id % 2 = 1
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val out = ModelStore.dir(s, d, "documents.parquet", "export_evo") { base =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), lit(1).as("v"))
        .write.parquet(s"$base/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), lit(2).as("v"))
        .write.parquet(s"$base/v2")
    }
    s.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(out)
      .select(col("doc_id"), col("lang"),
        col("n_chars").isNotNull.cast("long").as("has_n_chars"),
        coalesce(col("n_chars"), lit(-1L)).as("n_chars"), col("v"))
      .orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(jsonRoundTrip, csvRoundTrip, partitionedPruned,
    orcRoundTrip, schemaEvolution)
}
