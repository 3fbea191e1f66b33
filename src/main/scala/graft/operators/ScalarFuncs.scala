package graft.operators

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Scalar-function surface coverage (string / date / math / array), all
  * codegen'd builtins — no UDFs — with exact (string / BIGINT) outputs so
  * the DuckDB oracle hash-compares bit-identically. Everything here is a
  * single narrow projection: no shuffle except the presentation sort. */
object ScalarFuncs {

  /** String + math functions over orders. */
  val stringFuncs: QueryDef = QueryDef.sql(
    "string_funcs_orders",
    """SELECT o_orderkey,
      |       upper(o_orderpriority) AS prio_upper,
      |       CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
      |       substr(o_orderpriority, 1, 1) AS prio_code,
      |       concat(o_orderstatus, ':', o_orderpriority) AS status_prio,
      |       replace(o_orderpriority, '-', '_') AS prio_snake,
      |       lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
      |       regexp_extract(o_orderpriority, '([0-9]+)', 1) AS prio_digit,
      |       CAST(o_orderkey % 97 AS BIGINT) AS key_mod,
      |       CAST(abs(o_orderkey - 1000000) AS BIGINT) AS key_absdiff,
      |       CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |       CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_upper"),
        length(col("o_orderpriority")).cast("long").as("prio_len"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        concat(col("o_orderstatus"), lit(":"), col("o_orderpriority")).as("status_prio"),
        regexp_replace(col("o_orderpriority"), "-", "_").as("prio_snake"),
        lpad(col("o_orderkey").cast("string"), 12, "0").as("key_padded"),
        regexp_extract(col("o_orderpriority"), "([0-9]+)", 1).as("prio_digit"),
        (col("o_orderkey") % 97).cast("long").as("key_mod"),
        abs(col("o_orderkey") - 1000000).cast("long").as("key_absdiff"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        ceil(col("o_totalprice")).cast("long").as("price_ceil"))
      .orderBy("o_orderkey")
  }

  /** Date/time extraction + arithmetic over orders; everything lands as
    * BIGINT (extract fields, epoch seconds, day diffs) for exact hashing. */
  val dateFuncs: QueryDef = QueryDef.sql(
    "date_funcs_orders",
    """SELECT o_orderkey,
      |       CAST(year(o_orderdate) AS BIGINT) AS y,
      |       CAST(month(o_orderdate) AS BIGINT) AS m,
      |       CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
      |       CAST(quarter(o_orderdate) AS BIGINT) AS q,
      |       epoch_ms(date_trunc('month', o_orderdate))//1000 AS month_epoch,
      |       CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since_95
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_epoch"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since_95"))
      .orderBy("o_orderkey")
  }

  /** Array functions: build, slice, membership, aggregate over an array
    * derived from the priority string — exercised relationally in both
    * engines. */
  val arrayFuncs: QueryDef = QueryDef.sql(
    "array_funcs_orders",
    """WITH t AS (SELECT o_orderkey, string_split(o_orderpriority, '-') AS parts FROM orders)
      |SELECT o_orderkey,
      |       CAST(len(parts) AS BIGINT) AS n_parts,
      |       parts[1] AS first_part,
      |       parts[-1] AS last_part,
      |       CAST(list_contains(parts, 'URGENT') AS BIGINT) AS has_urgent,
      |       array_to_string(list_reverse(parts), '|') AS reversed
      |FROM t ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), split(col("o_orderpriority"), "-").as("parts"))
      .select(
        col("o_orderkey"),
        size(col("parts")).cast("long").as("n_parts"),
        element_at(col("parts"), 1).as("first_part"),
        element_at(col("parts"), -1).as("last_part"),
        array_contains(col("parts"), "URGENT").cast("long").as("has_urgent"),
        array_join(reverse(col("parts")), "|").as("reversed"))
      .orderBy("o_orderkey")
  }

  /** Map functions: construct from arrays, extract by key, enumerate keys —
    * outputs kept scalar/array-of-string since the engines' MAP storage
    * differs (DuckDB extraction returns a single-element list, hence the
    * [1] in the oracle). */
  val mapFuncs: QueryDef = QueryDef.sql(
    "map_funcs_orders",
    """WITH t AS (SELECT o_orderkey,
      |             map(['code','name'], string_split(o_orderpriority, '-')) AS m
      |           FROM orders)
      |SELECT o_orderkey,
      |       m['code'][1] AS prio_code,
      |       m['name'][1] AS prio_name,
      |       array_to_string(map_keys(m), ',') AS keys_csv,
      |       CAST(cardinality(m) AS BIGINT) AS n_keys
      |FROM t ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        map_from_arrays(
          array(lit("code"), lit("name")),
          split(col("o_orderpriority"), "-")).as("m"))
      .select(
        col("o_orderkey"),
        element_at(col("m"), "code").as("prio_code"),
        element_at(col("m"), "name").as("prio_name"),
        array_join(map_keys(col("m")), ",").as("keys_csv"),
        size(col("m")).cast("long").as("n_keys"))
      .orderBy("o_orderkey")
  }

  /** JSON functions: build a nested document per row with `to_json`, then
    * recover every input from ONE schema-pinned `from_json` parse — the
    * struct serves all six output fields (nested path, array index,
    * missing-path null included). The oracle is the IDENTITY over the
    * source columns: serialization whitespace and key-order differences
    * between engines never appear in the output, but any build/extract
    * defect (quoting, nesting, array indexing) hash-fails. Scan-local, no
    * shuffle (the ORDER BY is presentation-only).
    *
    * PARSE-ONCE posture (round 18; the round-14 "one pass per API" shape
    * finished the migration): `get_json_object` and `json_tuple` each
    * re-parse the document string per call — measured 0.36 s and 0.23 s
    * on top of the 0.86 s schema parse at sf0.1, ~45% of the query for
    * columns the `from_json` struct already holds. At 100 TB the operator
    * contract is parse once, derive everything from the struct; the
    * re-parsing path/tuple APIs stay covered value-level by
    * `JsonFuncsSpec`, which pins both ≡ struct extraction (missing-path
    * null included) on the same document shape. */
  val jsonFuncs: QueryDef = QueryDef.sql(
    "json_funcs_orders",
    """SELECT o_orderkey,
      |       o_orderstatus AS status_path,
      |       o_orderpriority AS prio_nested,
      |       CAST(o_custkey AS BIGINT) AS custkey_arr,
      |       o_orderstatus AS status_tuple,
      |       CAST(o_custkey AS BIGINT) AS custkey_struct,
      |       CAST(NULL AS VARCHAR) AS missing_path
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val doc = to_json(struct(
      col("o_orderkey").as("k"),
      col("o_orderstatus").as("st"),
      struct(col("o_custkey").as("ck"), col("o_orderpriority").as("pr")).as("cust"),
      array(col("o_orderkey"), col("o_custkey")).as("ids")))
    // `nope` is in the SCHEMA but never in the document: the parse itself
    // produces the missing-path NULL, the same probe the tuple API ran
    val schema = "STRUCT<k: BIGINT, st: STRING, cust: STRUCT<ck: BIGINT, pr: STRING>, ids: ARRAY<BIGINT>, nope: STRING>"
    val parsed = from_json(col("j"),
      org.apache.spark.sql.types.DataType.fromDDL(schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    // r22 (guide §2.5 input skew): the single-row-group local scan ran the
    // whole to_json + from_json chain in ONE task (profiled: 3 jobs / 3
    // tasks, parallelism 0.9) — fanOut rebalances the scan output to
    // cluster width before the heavy row-local serde, the multimodal-codec
    // discipline (per-row JSON build+parse dwarfs the row's transport cost)
    Tables.fanOut(Tables.orders(s, d))
      .withColumn("j", doc)
      .withColumn("p", parsed)
      .select(
        col("o_orderkey"),
        col("p.st").as("status_path"),
        col("p.cust.pr").as("prio_nested"),
        element_at(col("p.ids"), 2).as("custkey_arr"),
        col("p.st").as("status_tuple"),
        col("p.cust.ck").as("custkey_struct"),
        // the missing-path probe, FROM THE PARSE: `nope` is schema-declared
        // but absent from every document, so the struct field is the same
        // NULL the path/tuple APIs produce (JsonFuncsSpec pins all three)
        col("p.nope").as("missing_path"))
      .orderBy("o_orderkey")
  }

  /** String-DISTANCE scalar family — the fuzzy-matching primitives as
    * first-class queries (round-7 verdict item 10: levenshtein previously
    * existed only inside the dedup operators). Pure codegen'd projection
    * over customer, scan-local, no shuffle. The THRESHOLD form is the one
    * to reach for at 100 TB: Spark's 3-arg levenshtein runs the banded
    * O(len·threshold) DP and bails to -1 past the cap, vs the full
    * O(len²) table — on long documents the cap is the difference between
    * a scan-speed fuzzy filter and a quadratic stall (the same reason
    * [[Dedup.fuzzyLevenshtein]] length-gates its inputs). The similarity
    * ratio is micro-integerized (floor(1e6·x + 0.5)) so both engines hash
    * identical BIGINTs — int-division doubles are exact on both sides. */
  val stringDistanceFuncs: QueryDef = QueryDef.sql(
    "string_distance_funcs",
    """SELECT c_custkey,
      |       CAST(levenshtein(c_name, c_mktsegment) AS BIGINT) AS lev_name_seg,
      |       CAST(CASE WHEN levenshtein(c_name, c_mktsegment) <= 10
      |                 THEN levenshtein(c_name, c_mktsegment) ELSE -1 END AS BIGINT)
      |         AS lev_name_seg_capped,
      |       CAST(levenshtein(c_name, reverse(c_name)) AS BIGINT) AS lev_name_rev,
      |       CAST(floor(1000000.0 * (1.0 - CAST(levenshtein(c_name, c_mktsegment) AS DOUBLE)
      |              / greatest(length(c_name), length(c_mktsegment))) + 0.5) AS BIGINT)
      |         AS sim_micro
      |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        levenshtein(col("c_name"), col("c_mktsegment")).cast("long").as("lev_name_seg"),
        levenshtein(col("c_name"), col("c_mktsegment"), 10).cast("long")
          .as("lev_name_seg_capped"),
        levenshtein(col("c_name"), reverse(col("c_name"))).cast("long")
          .as("lev_name_rev"),
        floor(lit(1000000.0) * (lit(1.0) -
            levenshtein(col("c_name"), col("c_mktsegment")).cast("double") /
              greatest(length(col("c_name")), length(col("c_mktsegment")))) + lit(0.5))
          .cast("long").as("sim_micro"))
      .orderBy("c_custkey")
  }

  val all: Seq[QueryDef] = Seq(stringFuncs, dateFuncs, arrayFuncs, mapFuncs,
    jsonFuncs, stringDistanceFuncs)
}
