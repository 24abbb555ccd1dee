package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scalar function library coverage (SURVEY.md §2 F1–F9) — the Spark
  * equivalents of the reference engine's builtin expression families
  * (apache-impala-4.1.0/be/src/exprs/: conditional-functions-ir.cc,
  * string-functions-ir.cc, math-functions-ir.cc, date-functions-ir.cc,
  * bit-byte-functions-ir.cc, and the fe registry BuiltinsDb.java).
  * Everything here is a codegen'd builtin — no UDFs in the hot path.
  */
object FunctionQueries extends graft.QueryModule {

  val queries: Map[String, Q] = Map(
    // F1: CASE / coalesce / nullif / if-else chains.
    "fn_conditional" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("other").as("status_word"),
          coalesce(nullif(col("o_orderstatus"), lit("P")), lit("was_p")).as("np"),
          when(col("o_totalprice") > 200000.0, col("o_totalprice")).otherwise(0.0).as("big_price"),
          least(col("o_totalprice"), lit(100000.0)).as("capped"),
          greatest(col("o_custkey"), lit(100L)).as("floored_cust"))
        .orderBy("o_orderkey")
    }),

    // F2: string family.
    "fn_string" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          upper(col("c_mktsegment")).as("up"),
          lower(col("c_mktsegment")).as("lo"),
          substring(col("c_name"), 10, 5).as("sub"),
          length(col("c_name")).cast("long").as("len"),
          concat_ws("-", col("c_mktsegment"), col("c_name")).as("joined"),
          lpad(col("c_mktsegment"), 12, "*").as("lp"),
          rpad(col("c_mktsegment"), 12, "*").as("rp"),
          regexp_replace(col("c_name"), "0", "").as("no_zeros"),
          reverse(col("c_mktsegment")).as("rev"),
          instr(col("c_name"), "#").cast("long").as("hash_pos"),
          element_at(split(col("c_name"), "#"), 2).as("num_part"),
          repeat(lit("ab"), 3).as("rep"),
          trim(lit("  x  ")).as("trimmed"))
        .orderBy("c_custkey")
    }),

    // F3: regexp family (patterns kept in the RE2 ∩ java.util.regex
    // common dialect, as the reference uses RE2 — string-functions.h).
    "fn_regexp" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("digits"),
          regexp_replace(col("c_name"), "[0-9]", "").as("stripped"),
          col("c_name").rlike("00[0-9]*7$").as("ends_7"),
          // Impala's 3-arg regexp_like(s, p, 'i') — the options land as
          // inline flags in the RE2/Java common dialect.
          col("c_name").rlike("(?i)^CUSTOMER#").as("ci_match"),
          regexp_extract(col("c_mktsegment"), "^(.)", 1).as("first_char"))
        .orderBy("c_custkey")
    }),

    // F4: date/time family.
    "fn_datetime" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          dayofweek(col("o_orderdate")).cast("long").as("dow"),
          to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
          date_add(to_date(col("o_orderdate")), 30).as("plus30"),
          last_day(to_date(col("o_orderdate"))).as("eom"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy("o_orderkey")
    }),

    // F5: math family (libm-dependent fns rounded to 6 digits).
    "fn_math" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(-col("l_quantity")).as("absq"),
          ceil(col("l_extendedprice") / 100.0).cast("long").as("ceil_h"),
          floor(col("l_extendedprice") / 100.0).cast("long").as("floor_h"),
          (col("l_orderkey") % 7).as("m7"),
          round(pow(col("l_quantity"), 1.5), 6).as("q_pow"),
          sqrt(col("l_extendedprice")).as("price_sqrt"),
          round(log(col("l_extendedprice")), 6).as("price_ln"),
          round(log10(col("l_extendedprice")), 6).as("price_log10"),
          signum(col("l_discount") - 0.05).cast("long").as("disc_sign"),
          greatest(col("l_quantity"), col("l_discount") * 100.0, col("l_tax") * 100.0).as("gr"),
          least(col("l_quantity"), col("l_discount") * 100.0, col("l_tax") * 100.0).as("ls"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F6: digests (md5 / sha256).
    "fn_hash" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          md5(col("c_name").cast("binary")).as("name_md5"),
          sha2(col("c_name").cast("binary"), 256).as("name_sha256"))
        .orderBy("c_custkey")
    }),

    // F6b: the reference's fnv_hash() builtin as our custom codegen
    // expression, exercised through the SQL registry. Oracle-exact:
    // DuckDB replays FNV-1/murmur2-64A/fingerprint64 bit-for-bit via
    // generated HUGEINT arithmetic (DuckHashSql).
    "fn_fnv_hash" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          call_function("fnv_hash", col("c_name")).as("name_fnv"),
          call_function("murmur_hash", col("c_name")).as("name_murmur"),
          call_function("fingerprint64", col("c_name")).as("name_fp"))
        .orderBy("c_custkey")
    }),

    // F7: cast matrix (the defined-behavior subset shared with ANSI).
    "fn_cast" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          col("c_nationkey").cast("long").as("nk_long"),
          col("c_nationkey").cast("double").as("nk_double"),
          lit("123").cast("long").as("s_to_i"),
          lit("3.5").cast("double").as("s_to_d"),
          col("c_custkey").cast("string").as("key_str"),
          col("c_acctbal").cast("int").isNotNull.as("bal_int_ok"))
        .orderBy("c_custkey")
    }),

    // F8: JSON extraction from the events.props column.
    "fn_json" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.events.filter(col("event_id") < 500)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }),

    // F8b: structured JSON beyond path extraction — schema'd parse
    // (from_json → struct), serialization round-trip (to_json), array
    // length and key enumeration over a per-row synthesized document.
    "fn_json2" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val doc = concat(lit("{\"id\": "), col("event_id"),
        lit(", \"tags\": [\"x\", \"y\", \"z\"], \"nested\": {\"a\": "),
        col("user_id"), lit("}}"))
      t.events.filter(col("event_id") < 300)
        .select(col("event_id"), doc.as("doc"),
          expr("from_json(props, 'k INT').k").cast("long").as("k_struct"),
          to_json(expr("from_json(props, 'k INT')")).as("rt"))
        .select(col("event_id"), col("k_struct"), col("rt"),
          json_array_length(get_json_object(col("doc"), "$.tags")).cast("long").as("n_tags"),
          get_json_object(col("doc"), "$.nested.a").cast("long").as("nested_a"),
          array_join(json_object_keys(col("doc")), ",").as("keys_csv"))
        .orderBy("event_id")
    }),

    // F9: bit ops.
    "fn_bitops" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          (col("c_nationkey").bitwiseAND(lit(10))).as("band"),
          (col("c_nationkey").bitwiseOR(lit(10))).as("bor"),
          (col("c_nationkey").bitwiseXOR(lit(10))).as("bxor"),
          shiftleft(col("c_nationkey"), 2).as("shl"),
          shiftright(col("c_nationkey"), 1).as("shr"),
          bit_count(col("c_nationkey")).cast("long").as("bits"))
        .orderBy("c_custkey")
    }),
  )

  val oracles: Map[String, String] = Map(
    "fn_conditional" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderstatus = 'F' THEN 'finished'
        |       WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS status_word,
        |  coalesce(nullif(o_orderstatus, 'P'), 'was_p') AS np,
        |  CASE WHEN o_totalprice > 200000.0 THEN o_totalprice ELSE 0.0 END AS big_price,
        |  least(o_totalprice, 100000.0) AS capped,
        |  greatest(o_custkey, 100) AS floored_cust
        |FROM orders WHERE o_orderkey < 500 ORDER BY 1""".stripMargin,

    "fn_string" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS up, lower(c_mktsegment) AS lo,
        |  substr(c_name, 10, 5) AS sub, CAST(length(c_name) AS BIGINT) AS len,
        |  concat_ws('-', c_mktsegment, c_name) AS joined,
        |  lpad(c_mktsegment, 12, '*') AS lp, rpad(c_mktsegment, 12, '*') AS rp,
        |  replace(c_name, '0', '') AS no_zeros,
        |  reverse(c_mktsegment) AS rev,
        |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
        |  split_part(c_name, '#', 2) AS num_part,
        |  repeat('ab', 3) AS rep, trim('  x  ') AS trimmed
        |FROM customer WHERE c_custkey < 200 ORDER BY 1""".stripMargin,

    "fn_regexp" ->
      """SELECT c_custkey,
        |  regexp_extract(c_name, '([0-9]+)$', 1) AS digits,
        |  regexp_replace(c_name, '[0-9]', '', 'g') AS stripped,
        |  regexp_matches(c_name, '00[0-9]*7$') AS ends_7,
        |  regexp_matches(c_name, '^CUSTOMER#', 'i') AS ci_match,
        |  regexp_extract(c_mktsegment, '^(.)', 1) AS first_char
        |FROM customer WHERE c_custkey < 200 ORDER BY 1""".stripMargin,

    "fn_datetime" ->
      """SELECT o_orderkey,
        |  EXTRACT(YEAR FROM o_orderdate) AS y, EXTRACT(MONTH FROM o_orderdate) AS m,
        |  EXTRACT(DAY FROM o_orderdate) AS d, EXTRACT(QUARTER FROM o_orderdate) AS q,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  strftime(o_orderdate, '%Y-%m') AS ym
        |FROM orders WHERE o_orderkey < 500 ORDER BY 1""".stripMargin,

    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(-l_quantity) AS absq,
        |  CAST(ceil(l_extendedprice / 100.0) AS BIGINT) AS ceil_h,
        |  CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS floor_h,
        |  l_orderkey % 7 AS m7,
        |  round(pow(l_quantity, 1.5), 6) AS q_pow,
        |  sqrt(l_extendedprice) AS price_sqrt,
        |  round(ln(l_extendedprice), 6) AS price_ln,
        |  round(log10(l_extendedprice), 6) AS price_log10,
        |  CAST(sign(l_discount - 0.05) AS BIGINT) AS disc_sign,
        |  greatest(l_quantity, l_discount * 100.0, l_tax * 100.0) AS gr,
        |  least(l_quantity, l_discount * 100.0, l_tax * 100.0) AS ls
        |FROM lineitem WHERE l_orderkey < 200 ORDER BY 1, 2""".stripMargin,

    "fn_hash" ->
      """SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256
        |FROM customer WHERE c_custkey < 200 ORDER BY 1""".stripMargin,

    "fn_fnv_hash" ->
      s"""SELECT c_custkey,
         |  ${DuckHashSql.fnv64("c_name", "length(c_name)")} AS name_fnv,
         |  ${DuckHashSql.murmur2_64("c_name", "length(c_name)")} AS name_murmur,
         |  ${DuckHashSql.fingerprint64("c_name", "length(c_name)")} AS name_fp
         |FROM customer WHERE c_custkey < 200 ORDER BY 1""".stripMargin,

    "fn_cast" ->
      """SELECT c_custkey,
        |  CAST(c_nationkey AS BIGINT) AS nk_long,
        |  CAST(c_nationkey AS DOUBLE) AS nk_double,
        |  CAST('123' AS BIGINT) AS s_to_i,
        |  CAST('3.5' AS DOUBLE) AS s_to_d,
        |  CAST(c_custkey AS VARCHAR) AS key_str,
        |  TRY_CAST(c_acctbal AS INT) IS NOT NULL AS bal_int_ok
        |FROM customer WHERE c_custkey < 200 ORDER BY 1""".stripMargin,

    "fn_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id < 500 ORDER BY 1""".stripMargin,

    "fn_json2" ->
      """WITH d AS (
        |  SELECT event_id, props,
        |    '{"id": ' || event_id || ', "tags": ["x", "y", "z"], "nested": {"a": ' || user_id || '}}' AS doc
        |  FROM events WHERE event_id < 300)
        |SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_struct,
        |  '{"k":' || CAST(json_extract_string(props, '$.k') AS BIGINT) || '}' AS rt,
        |  CAST(json_array_length(doc, '$.tags') AS BIGINT) AS n_tags,
        |  CAST(json_extract_string(doc, '$.nested.a') AS BIGINT) AS nested_a,
        |  array_to_string(json_keys(doc), ',') AS keys_csv
        |FROM d ORDER BY event_id""".stripMargin,

    "fn_bitops" ->
      """SELECT c_custkey,
        |  c_nationkey & 10 AS band, c_nationkey | 10 AS bor, xor(c_nationkey, 10) AS bxor,
        |  c_nationkey << 2 AS shl, c_nationkey >> 1 AS shr,
        |  CAST(bit_count(c_nationkey) AS BIGINT) AS bits
        |FROM customer WHERE c_custkey < 200 ORDER BY 1""".stripMargin,
  )
}
