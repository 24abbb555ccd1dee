package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Second scalar-function batch (SURVEY.md §2 F2b/F4b/F5b) — deeper
  * coverage of the reference's builtin registry
  * (apache-impala-4.1.0/be/src/exprs/string-functions-ir.cc,
  * date-functions-ir.cc, math-functions-ir.cc): translate/ascii/chr/
  * left/right/starts/ends/contains, month arithmetic with end-of-month
  * clamping, day-of-year, trig/radians. Plus TABLESAMPLE (Impala
  * TABLESAMPLE SYSTEM(n)) as seeded Bernoulli sampling (rows-only:
  * sampling is engine-specific by construction).
  */
object FunctionQueries2 extends graft.QueryModule {

  val queries: Map[String, Q] = Map(
    "fn_string2" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          translate(col("c_name"), "0123", "abcd").as("tr"),
          ascii(col("c_mktsegment")).cast("long").as("first_ascii"),
          chr(col("c_nationkey") + lit(65)).as("nation_chr"),
          expr("left(c_name, 8)").as("l8"),
          expr("right(c_name, 4)").as("r4"),
          col("c_name").startsWith("Customer").as("is_cust"),
          col("c_name").endsWith("7").as("ends7"),
          col("c_name").contains("#00").as("has_pad"))
        .orderBy("c_custkey")
    }),

    "fn_datetime2" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          add_months(to_date(col("o_orderdate")), 1).as("plus_month"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          make_date(year(col("o_orderdate")), lit(12), lit(31)).as("year_end"),
          (to_date(col("o_orderdate")) === last_day(to_date(col("o_orderdate")))).as("is_eom"))
        .orderBy("o_orderkey")
    }),

    "fn_math2" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(radians(col("l_quantity")), 6).as("rad"),
          round(degrees(col("l_discount")), 6).as("deg"),
          round(atan2(col("l_quantity"), col("l_extendedprice")), 6).as("at2"),
          round(sin(col("l_discount")), 6).as("sn"),
          round(cos(col("l_discount")), 6).as("cs"),
          round(lit(math.Pi), 6).as("pi6"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Complex types (the reference's nested-types surface —
    // tpch_nested workload, fe ARRAY/MAP/STRUCT support): build arrays
    // in aggregation, element access, membership, struct round trip.
    "fn_complex_types" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 300)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
        .select(col("l_orderkey"),
          array_join(transform(col("lines"), x => x.cast("string")), ",").as("lines_csv"),
          size(col("lines")).cast("long").as("n_lines"),
          element_at(col("lines"), 1).as("first_ln"),
          array_contains(col("lines"), 3).as("has3"),
          struct(col("l_orderkey").as("k"), size(col("lines")).as("v")).getField("k").as("sk"))
        .orderBy("l_orderkey")
    }),

    // F13b: MAP type surface (Impala 4.1 reads maps via join unnesting —
    // fe/.../analysis/CollectionTableRef.java; Spark's map column is the
    // native twin). Values are integer-valued doubles so the fold over
    // map_values is order-exact; the oracle mirrors with sorted
    // key/value lists (result parity, not construct parity).
    "fn_map_types" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      // (orderkey, linenumber) is NOT unique in this synthetic data —
      // pre-aggregate so map keys are; quantities are integer-valued
      // doubles, so the per-key sum is exact in any order.
      t.lineitem.filter(col("l_orderkey") < 300)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum(col("l_quantity")).as("q"))
        .groupBy("l_orderkey")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("l_linenumber"), col("q"))))).as("m"))
        .select(col("l_orderkey"),
          size(col("m")).cast("long").as("n_keys"),
          element_at(col("m"), 1).as("q1"),
          map_contains_key(col("m"), 2).as("has2"),
          size(map_concat(col("m"), map(lit(99), lit(0.0)))).cast("long").as("n_plus_sentinel"),
          expr("aggregate(map_values(m), CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("qty_sum"),
          // higher-order map fns: rescaled-value fold + key-predicate filter
          expr("aggregate(map_values(transform_values(m, (k, v) -> v * 2.0)), CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("qty_sum_x2"),
          expr("size(map_filter(m, (k, v) -> k <= 3))").cast("long").as("n_low_keys"),
          array_join(transform(map_keys(col("m")), x => x.cast("string")), ",").as("keys_csv"))
        .orderBy("l_orderkey")
    }),

    // F13c: array set algebra — union/intersect/except (distinct
    // semantics), position, repeat+flatten, max/min. Same deduped
    // per-order line-number base as fn_map_types.
    "fn_array_ops" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 300)
        .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("all_ln"),
          sort_array(collect_list(when(col("l_linenumber") % 2 === 0, col("l_linenumber")))).as("evens"),
          sort_array(collect_list(when(col("l_linenumber") % 2 === 1, col("l_linenumber")))).as("odds"))
        .select(col("l_orderkey"),
          size(array_union(col("evens"), col("odds"))).cast("long").as("n_union"),
          size(array_intersect(col("all_ln"), col("evens"))).cast("long").as("n_inter"),
          size(array_except(col("all_ln"), col("evens"))).cast("long").as("n_except"),
          array_position(col("all_ln"), 3).as("pos3"),
          size(flatten(array_repeat(col("evens"), 2))).cast("long").as("n_flat"),
          array_max(col("all_ln")).cast("long").as("ln_max"),
          array_min(col("all_ln")).cast("long").as("ln_min"))
        .orderBy("l_orderkey")
    }),

    // DECIMAL arithmetic (the reference's DECIMAL(p,s) engine —
    // be/src/exprs/decimal-operators-ir.cc): exact add/multiply on
    // decimal-cast money, final cast to double for engine-portable
    // output (decimal display scales differ across engines; values
    // don't).
    "fn_decimal" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val price = col("o_totalprice").cast("decimal(18,2)")
      val tax = (price * lit("0.08").cast("decimal(4,2)"))
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          price.cast("double").as("price_d"),
          tax.cast("double").as("tax_d"),
          // no scale-reducing intermediate cast (engines disagree on its
          // rounding); decimal addition aligns scales exactly
          (price + tax).cast("double").as("total_d"),
          // scale-reduction rounding is engine-specific (HALF_UP in
          // Spark, truncation in DuckDB) — use explicit floor instead
          floor(price).cast("long").as("price_floor"))
        .orderBy("o_orderkey")
    }),

    // LIKE family: %/_ wildcards, ILIKE, NOT LIKE, escape.
    "fn_like" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          col("c_name").like("Customer#%7").as("like_7"),
          col("c_name").ilike("CUSTOMER#%").as("ilike_any"),
          (!col("c_mktsegment").like("%ING%")).as("not_ing"),
          col("c_mktsegment").like("_UILDING").as("one_wild"))
        .orderBy("c_custkey")
    }),

    // URL parsing (reference surface: parse_url/parse_url_key,
    // apache-impala-4.1.0/be/src/exprs/string-functions-ir.cc:1266,1306)
    // via Spark's builtin parse_url. Deterministic URLs are constructed
    // from document columns so the oracle can mirror extraction with
    // regexp string ops.
    "fn_url" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id"), lit("?lang="), col("lang"), lit("&n="), col("n_chars"),
        lit("#sec"), col("doc_id") % 10)
      t.documents.filter(col("doc_id") < 300)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          parse_url(col("url"), lit("PROTOCOL")).as("proto"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY")).as("query"),
          parse_url(col("url"), lit("QUERY"), lit("lang")).as("q_lang"),
          parse_url(col("url"), lit("REF")).as("ref"))
        .orderBy("doc_id")
    }),

    // Word frequency via explode(split) — lateral-view shape + the
    // vocabulary-stats pass every corpus pipeline runs.
    "text_word_freq" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.documents
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(50)
    }),

    // UNPIVOT (wide→long reshape; Impala expresses this as a UNION ALL
    // of per-column selects — Spark 3.4+ has the operator natively).
    "rel_unpivot" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }),

    // String batch 3: edit distance, k-th field split, substring search,
    // repetition (string-functions-ir.cc: Levenshtein/SplitPart/Instr/
    // Repeat parity).
    "fn_string3" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          levenshtein(col("c_mktsegment"), lit("MACHINERY")).cast("long").as("lev"),
          split_part(col("c_name"), lit("#"), lit(2)).as("cust_num"),
          instr(col("c_name"), "#").cast("long").as("hash_pos"),
          repeat(lit("ab"), 3).as("rep"),
          substring_index(col("c_name"), "#", 1).as("name_head"))
        .orderBy("c_custkey")
    }),

    // Math batch 3: hex encoding, positive modulus, roots/logs
    // (math-functions-ir.cc: Conv/Pmod/Cbrt/Log2 parity).
    "fn_math3" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          upper(hex(col("o_orderkey"))).as("key_hex"),
          pmod(col("o_custkey") - lit(7), lit(5)).cast("long").as("pm"),
          round(cbrt(col("o_totalprice")), 6).as("cube_root"),
          round(log2(col("o_totalprice")), 6).as("lg2"),
          round(exp(col("o_totalprice") / lit(100000.0)), 6).as("e_scaled"),
          round(hypot(col("o_totalprice"), lit(1000.0)), 4).as("hyp"))
        .orderBy("o_orderkey")
    }),

    // Higher-order array functions — the lambda surface the brief calls
    // out for vector math (`functions.aggregate`/`zip_with`). The
    // oracle mirrors the lambda results with scalar arithmetic on the
    // same constructed arrays, so every lambda is checked exactly.
    "fn_higher_order" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val a = array(col("c_custkey") % 7, col("c_custkey") % 5, col("c_custkey") % 3)
      val b = array(lit(2L), lit(3L), lit(4L))
      t.customer.filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          array_join(transform(a, x => x * 2), ",").as("doubled"),
          array_join(filter(a, x => x > lit(2L)), ",").as("big_elems"),
          aggregate(a, lit(0L), (acc, x) => acc + x).as("fold_sum"),
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x).as("dot"),
          exists(a, x => x > lit(5L)).as("has_big"),
          forall(a, x => x >= lit(0L)).as("all_nonneg"))
        .orderBy("c_custkey")
    }),

    // Date batch 3: month-end, day naming, epoch seconds, ISO week
    // (timestamp-functions parity: be/src/exprs/timestamp-functions*.cc).
    "fn_datetime3" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          to_date(last_day(col("o_orderdate"))).as("month_end"),
          date_format(col("o_orderdate"), "EEEE").as("day_name"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          datediff(lit("2000-01-01").cast("date"), to_date(col("o_orderdate")))
            .cast("long").as("days_to_y2k"))
        .orderBy("o_orderkey")
    }),

    // Base64/binary codecs (base64encode/decode parity).
    "fn_base64" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          base64(col("c_name").cast("binary")).as("b64"),
          unbase64(base64(col("c_name").cast("binary"))).cast("string").as("roundtrip"),
          length(base64(col("c_mktsegment").cast("binary"))).cast("long").as("b64_len"))
        .orderBy("c_custkey")
    }),

    // TABLESAMPLE: seeded, deterministic per engine but not across
    // engines → rows-only; the spec bounds the sampled fraction.
    "rel_tablesample" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.sample(withReplacement = false, 0.1, seed = 42)
        .select("o_orderkey").orderBy("o_orderkey")
    }),
  )

  override val rowsOnly: Map[String, String] = Map(
    "rel_tablesample" -> ("seeded-rng: TABLESAMPLE draws from the engine's seeded RNG — no " +
      "replay exists; bounds spec"),
  )

  val oracles: Map[String, String] = Map(
    // lambda results mirrored with scalar arithmetic over the same
    // constructed elements (m7=c%7, m5=c%5, m3=c%3; weights 2,3,4)
    "fn_higher_order" ->
      """SELECT c_custkey,
        |  (m7*2) || ',' || (m5*2) || ',' || (m3*2) AS doubled,
        |  concat_ws(',',
        |    CASE WHEN m7 > 2 THEN CAST(m7 AS VARCHAR) END,
        |    CASE WHEN m5 > 2 THEN CAST(m5 AS VARCHAR) END,
        |    CASE WHEN m3 > 2 THEN CAST(m3 AS VARCHAR) END) AS big_elems,
        |  m7 + m5 + m3 AS fold_sum,
        |  m7*2 + m5*3 + m3*4 AS dot,
        |  (m7 > 5 OR m5 > 5 OR m3 > 5) AS has_big,
        |  (m7 >= 0 AND m5 >= 0 AND m3 >= 0) AS all_nonneg
        |FROM (SELECT c_custkey, c_custkey % 7 AS m7, c_custkey % 5 AS m5,
        |        c_custkey % 3 AS m3
        |      FROM customer WHERE c_custkey < 300)
        |ORDER BY c_custkey""".stripMargin,
    "fn_datetime3" ->
      """SELECT o_orderkey,
        |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
        |  dayname(o_orderdate) AS day_name,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k
        |FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""".stripMargin,
    "fn_base64" ->
      """SELECT c_custkey,
        |  to_base64(ENCODE(c_name)) AS b64,
        |  DECODE(from_base64(to_base64(ENCODE(c_name)))) AS roundtrip,
        |  CAST(length(to_base64(ENCODE(c_mktsegment))) AS BIGINT) AS b64_len
        |FROM customer WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin,
    "rel_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, val
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |      FROM lineitem WHERE l_orderkey < 100)
        |UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "fn_string3" ->
      """SELECT c_custkey,
        |  CAST(levenshtein(c_mktsegment, 'MACHINERY') AS BIGINT) AS lev,
        |  split_part(c_name, '#', 2) AS cust_num,
        |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
        |  repeat('ab', 3) AS rep,
        |  split_part(c_name, '#', 1) AS name_head
        |FROM customer WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin,
    "fn_math3" ->
      """SELECT o_orderkey,
        |  upper(to_hex(o_orderkey)) AS key_hex,
        |  CAST(((o_custkey - 7) % 5 + 5) % 5 AS BIGINT) AS pm,
        |  round(cbrt(o_totalprice), 6) AS cube_root,
        |  round(log2(o_totalprice), 6) AS lg2,
        |  round(exp(o_totalprice / 100000.0), 6) AS e_scaled,
        |  round(sqrt(o_totalprice * o_totalprice + 1000.0 * 1000.0), 4) AS hyp
        |FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""".stripMargin,
    "fn_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.com/docs/' || doc_id ||
        |    '?lang=' || lang || '&n=' || n_chars || '#sec' || (doc_id % 10) AS url
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
        |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query,
        |  regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS q_lang,
        |  regexp_extract(url, '#(.*)$', 1) AS ref
        |FROM u ORDER BY doc_id""".stripMargin,
    "fn_decimal" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_d,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST('0.08' AS DECIMAL(4,2)) AS DOUBLE) AS tax_d,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) +
        |       CAST(o_totalprice AS DECIMAL(18,2)) * CAST('0.08' AS DECIMAL(4,2))
        |       AS DOUBLE) AS total_d,
        |  CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS price_floor
        |FROM orders WHERE o_orderkey < 500 ORDER BY 1""".stripMargin,

    "fn_like" ->
      """SELECT c_custkey,
        |  c_name LIKE 'Customer#%7' AS like_7,
        |  c_name ILIKE 'CUSTOMER#%' AS ilike_any,
        |  c_mktsegment NOT LIKE '%ING%' AS not_ing,
        |  c_mktsegment LIKE '_UILDING' AS one_wild
        |FROM customer WHERE c_custkey < 300 ORDER BY 1""".stripMargin,

    "text_word_freq" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |  FROM documents)
        |GROUP BY 1 ORDER BY n DESC, word LIMIT 50""".stripMargin,

    "fn_complex_types" ->
      """SELECT l_orderkey,
        |  array_to_string(lines, ',') AS lines_csv, CAST(len(lines) AS BIGINT) AS n_lines,
        |  lines[1] AS first_ln, list_contains(lines, 3) AS has3,
        |  struct_pack(k := l_orderkey, v := len(lines)).k AS sk
        |FROM (SELECT l_orderkey, list(l_linenumber ORDER BY l_linenumber) AS lines
        |      FROM lineitem WHERE l_orderkey < 300 GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "fn_array_ops" ->
      """WITH g AS (
        |  SELECT l_orderkey,
        |         list(DISTINCT l_linenumber ORDER BY l_linenumber) AS all_ln
        |  FROM lineitem WHERE l_orderkey < 300 GROUP BY 1),
        |s AS (
        |  SELECT l_orderkey, all_ln,
        |         [x for x in all_ln if x % 2 = 0] AS evens,
        |         [x for x in all_ln if x % 2 = 1] AS odds
        |  FROM g)
        |SELECT l_orderkey,
        |  CAST(len(list_distinct(list_concat(evens, odds))) AS BIGINT) AS n_union,
        |  CAST(len(evens) AS BIGINT) AS n_inter,
        |  CAST(len(odds) AS BIGINT) AS n_except,
        |  CAST(coalesce(list_position(all_ln, 3), 0) AS BIGINT) AS pos3,
        |  CAST(2 * len(evens) AS BIGINT) AS n_flat,
        |  CAST(list_max(all_ln) AS BIGINT) AS ln_max,
        |  CAST(list_min(all_ln) AS BIGINT) AS ln_min
        |FROM s ORDER BY 1""".stripMargin,

    "fn_map_types" ->
      """WITH pl AS (
        |  SELECT l_orderkey, l_linenumber, SUM(l_quantity) AS q
        |  FROM lineitem WHERE l_orderkey < 300 GROUP BY 1, 2),
        |g AS (
        |  SELECT l_orderkey,
        |         list(l_linenumber ORDER BY l_linenumber) AS ks,
        |         list(q ORDER BY l_linenumber) AS vs
        |  FROM pl GROUP BY 1)
        |SELECT l_orderkey,
        |  CAST(len(ks) AS BIGINT) AS n_keys,
        |  vs[list_position(ks, 1)] AS q1,
        |  list_contains(ks, 2) AS has2,
        |  CAST(len(ks) + 1 AS BIGINT) AS n_plus_sentinel,
        |  list_sum(vs) AS qty_sum,
        |  list_sum([v * 2.0 for v in vs]) AS qty_sum_x2,
        |  CAST(len(list_filter(ks, k -> k <= 3)) AS BIGINT) AS n_low_keys,
        |  array_to_string(ks, ',') AS keys_csv
        |FROM g ORDER BY 1""".stripMargin,

    "fn_string2" ->
      """SELECT c_custkey,
        |  translate(c_name, '0123', 'abcd') AS tr,
        |  CAST(ascii(c_mktsegment) AS BIGINT) AS first_ascii,
        |  chr(c_nationkey + 65) AS nation_chr,
        |  left(c_name, 8) AS l8, right(c_name, 4) AS r4,
        |  starts_with(c_name, 'Customer') AS is_cust,
        |  ends_with(c_name, '7') AS ends7,
        |  contains(c_name, '#00') AS has_pad
        |FROM customer WHERE c_custkey < 200 ORDER BY 1""".stripMargin,

    "fn_datetime2" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_month,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  make_date(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT), 12, 31) AS year_end,
        |  CAST(o_orderdate AS DATE) = last_day(CAST(o_orderdate AS DATE)) AS is_eom
        |FROM orders WHERE o_orderkey < 500 ORDER BY 1""".stripMargin,

    "fn_math2" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(radians(l_quantity), 6) AS rad,
        |  round(degrees(l_discount), 6) AS deg,
        |  round(atan2(l_quantity, l_extendedprice), 6) AS at2,
        |  round(sin(l_discount), 6) AS sn,
        |  round(cos(l_discount), 6) AS cs,
        |  round(pi(), 6) AS pi6
        |FROM lineitem WHERE l_orderkey < 200 ORDER BY 1, 2""".stripMargin,
  )
}
