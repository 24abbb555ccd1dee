package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Fourth builtin batch (round 3) — the remaining scalar/aggregate
  * surface from the reference registry
  * (apache-impala-4.1.0/common/function-registry/impala_functions.py):
  *
  * - string distances: jaro_distance/similarity, jaro_winkler_*,
  *   damerau_levenshtein (:602-618) → custom codegen expressions
  *   (graft.functions.StringDistance), oracle-checked against the
  *   oracle engine's native implementations of the same published
  *   algorithms.
  * - aggif(predicate, expr) (fe/.../BuiltinsDb.java) → the standard SQL
  *   `agg FILTER (WHERE ...)` clause, which both engines execute.
  * - grouping_id() under CUBE (BuiltinsDb.java grouping_id).
  * - bit manipulation: rotateleft/rotateright/getbit/setbit/countset
  *   (bit-byte-functions.cc) → shift/or/and-composed column algebra —
  *   the rotate identity ((x<<n)|(x>>(w-n))) masked to 32 bits, so
  *   every term stays in non-negative int64 range in both engines.
  * - leftover math/predicates: cosh/sinh/tanh/cot, is_inf/is_nan,
  *   IS [NOT] DISTINCT FROM (distinctfrom/notdistinct), conv(), bin().
  * - leftover string: initcap, find_in_set, locate, space,
  *   regexp_match_count (→ regexp_count), regexp_escape (→ class-based
  *   regexp_replace with a group backreference).
  * - leftover date/time: months_between, next_day, monthname,
  *   weeks_add, quarter-add (months_add ×3).
  */
object FunctionQueries4 extends graft.QueryModule {

  private val mangle = translate(col("c_name"), "0123456789", "OIZEASGTBQ")

  val queries: Map[String, Q] = Map(
    // F22: string-distance family over c_name and deterministic mangles
    // (digit-substitution for a prefix-preserving Jaro-Winkler case,
    // reversal for a transposition-heavy Damerau case). dl_mangled uses
    // the OSA damerau_levenshtein (reference parity): on a
    // substitution-only mangle OSA and the full variant agree, so
    // DuckDB's (full-variant) builtin still oracles it; dl_rev, where
    // distant transpositions matter, uses damerau_levenshtein_full —
    // DuckDB's convention. OSA's divergent cases are pinned in
    // FunctionsSpec instead (no DuckDB OSA builtin to oracle against).
    "fn_strdist" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          round(call_function("jaro_sim", col("c_name"), reverse(col("c_name"))), 6).as("jaro_rev"),
          round(lit(1.0) - call_function("jaro_sim", col("c_name"), mangle), 6).as("jaro_dist"),
          round(call_function("jaro_winkler_sim", col("c_name"), mangle), 6).as("jw_sim"),
          call_function("damerau_levenshtein", col("c_name"), mangle).cast("long").as("dl_mangled"),
          call_function("damerau_levenshtein_full", col("c_name"), reverse(col("c_name"))).cast("long").as("dl_rev"))
        .orderBy("c_custkey")
    }),

    // A20: FILTER'd aggregates — the reference's aggif() in its
    // standard-SQL form, including a FILTER'd DISTINCT agg.
    "agg_filter" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.createOrReplaceTempView("graft_li_filter")
      spark.sql(
        """SELECT l_returnflag,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_hidisc,
          |  count(*) FILTER (WHERE l_tax > 0.04) AS n_hitax,
          |  count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25.0) AS supp_big,
          |  CAST(max(l_linenumber) FILTER (WHERE l_quantity < 10.0) AS BIGINT) AS maxline_small
          |FROM graft_li_filter GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // A21: grouping_id() bitmask under CUBE (complements agg_grouping_fn's
    // per-column grouping() indicators).
    "agg_grouping_id" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.createOrReplaceTempView("graft_li_gid")
      spark.sql(
        """WITH grain AS (
          |  SELECT l_returnflag, l_linestatus, count(*) AS cnt
          |  FROM graft_li_gid GROUP BY 1, 2)
          |SELECT l_returnflag, l_linestatus,
          |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  sum(cnt) AS n
          |FROM grain GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // F23: bit-manipulation batch. x is masked to 32 bits so the rotate
    // identity never leaves non-negative int64 territory.
    "fn_bitops2" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val x = col("l_orderkey").bitwiseAND(lit(4294967295L))
      val n = (col("l_linenumber") % 31 + 1).cast("int")
      t.lineitem.filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          (shiftleft(x, 1).bitwiseOR(shiftrightunsigned(x, 31))).bitwiseAND(lit(4294967295L)).as("rotl_const"),
          expr("(shiftleft(l_orderkey & 4294967295, (l_linenumber % 31 + 1)) | " +
            "shiftrightunsigned(l_orderkey & 4294967295, 32 - (l_linenumber % 31 + 1))) & 4294967295").as("rotl"),
          expr("(shiftrightunsigned(l_orderkey & 4294967295, (l_linenumber % 31 + 1)) | " +
            "shiftleft(l_orderkey & 4294967295, 32 - (l_linenumber % 31 + 1))) & 4294967295").as("rotr"),
          shiftrightunsigned(x, 3).bitwiseAND(lit(1L)).as("getbit3"),
          x.bitwiseOR(lit(32L)).as("setbit5"),
          (x - x.bitwiseAND(lit(4L))).as("clearbit2"),
          bit_count(x).cast("long").as("countset"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F24: leftover math + predicates. is_inf is data-dependent
    // (exp overflows to +Inf for the big quantities in both engines);
    // NaN goes through an engine-portable literal cast.
    "fn_math4" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.lineitem.filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(cosh(col("l_discount")), 6).as("cosh_d"),
          round(sinh(col("l_discount")), 6).as("sinh_d"),
          round(tanh(col("l_discount")), 6).as("tanh_d"),
          round(lit(1.0) / tan(col("l_quantity")), 6).as("cot_q"),
          (exp(col("l_quantity") * 100) === lit("Infinity").cast("double")).as("is_inf_big"),
          isnan(lit("NaN").cast("double") * col("l_quantity")).as("is_nan_lit"),
          nullif(col("l_quantity"), lit(25.0)) <=> col("l_quantity") as "notdistinct_q",
          conv(col("l_orderkey").cast("string"), 10, 16).as("hex36"),
          conv(col("l_orderkey").cast("string"), 10, 36).as("base36"),
          bin(col("l_orderkey")).as("bin_key"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F25: leftover string builtins over part names (multi-word, so
    // initcap is a real per-word test).
    "fn_string4" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.part.filter(col("p_partkey") < 500)
        .select(col("p_partkey"),
          initcap(col("p_name")).as("ic_name"),
          expr("CAST(find_in_set(split_part(p_name, ' ', 1), 'red,blue,green,small,large') AS BIGINT)").as("fis_color"),
          expr("CAST(locate('e', p_name) AS BIGINT)").as("loc_e"),
          concat(expr("space(CAST(p_size % 4 AS INT))"), lit("|")).as("spaced"),
          regexp_count(col("p_name"), lit("[aeiou]")).cast("long").as("n_vowels"),
          regexp_replace(concat(col("p_name"), lit("[a].*")),
            "([.^$|?*+()\\[\\]{}\\\\])", "\\\\$1").as("re_escaped"))
        .orderBy("p_partkey")
    }),

    // F27: Iceberg truncate partition transform (reference
    // iceberg_truncate_transform, impala_functions.py:1105) — integer
    // floor-to-width (negative-safe) and string code-point prefix. The
    // integer/string truncate rules are pure arithmetic → oracle-exact.
    "fn_iceberg_truncate" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          call_function("iceberg_truncate", col("c_custkey") - 250, lit(10L)).as("trunc10"),
          call_function("iceberg_truncate", col("c_custkey") - 250, lit(7L)).as("trunc7"),
          call_function("iceberg_truncate", col("c_name"), lit(6L)).as("name6"))
        .orderBy("c_custkey")
    }),

    // F28: Iceberg bucket partition transform (murmur3_x86_32 per the
    // public Iceberg spec; seed 0, little-endian widened ints).
    // Oracle-exact: DuckDB replays murmur3_32 via generated HUGEINT
    // arithmetic (DuckHashSql); FunctionsSpec additionally pins the
    // spec's published vectors.
    "fn_iceberg_bucket" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.customer.filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          call_function("iceberg_bucket", col("c_custkey"), lit(16)).as("b_key16"),
          call_function("iceberg_bucket", col("c_name"), lit(32)).as("b_name32"))
        .orderBy("c_custkey")
    }),

    // F29: timezone conversions (from_utc_timestamp/to_utc_timestamp/
    // from_unixtime/unix_timestamp — the reference's
    // from_utc_timestamp/to_utc_timestamp/from_unixtime surface). The
    // oracle mirrors with fixed-offset zones (Tokyo +9, Kolkata +5:30 —
    // neither observes DST, so interval arithmetic is exact parity) and
    // wall-clock strings are returned instead of raw timestamps.
    "fn_datetime5" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          date_format(from_utc_timestamp(col("o_orderdate"), "Asia/Tokyo"), "yyyy-MM-dd HH:mm").as("tokyo_wall"),
          date_format(from_utc_timestamp(col("o_orderdate"), "Asia/Kolkata"), "yyyy-MM-dd HH:mm").as("kolkata_wall"),
          date_format(to_utc_timestamp(col("o_orderdate"), "Asia/Tokyo"), "yyyy-MM-dd HH:mm").as("tokyo_to_utc"),
          from_unixtime(unix_timestamp(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("epoch_rt"))
        .orderBy("o_orderkey")
    }),

    // F30: madlib vector-builtin parity (madlib_vector/vector_get/
    // encode_vector in the reference registry) — expressed as native
    // array algebra over the embeddings table: dimension, element get,
    // and double-accumulated self-dot / element-sum via zip_with +
    // aggregate lambdas. No UDF anywhere.
    "fn_vector" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.embeddings.filter(col("vec_id") < 300)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 3).cast("double"), 6).as("get3"),
          round(expr("aggregate(zip_with(embedding, embedding, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"), 4).as("self_dot"),
          round(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"), 5).as("sum_elems"))
        .orderBy("vec_id")
    }),

    // F31: environment/utility builtins (user()/version()/
    // current_database()/pid() in the reference). Values are
    // deployment-specific → rows-only; the point is the surface exists.
    "fn_env" -> ((spark, dir) => {
      val _ = dir
      spark.range(1).select(
        expr("current_database()").as("db"),
        expr("current_catalog()").as("catalog"),
        expr("substring(version(), 1, 1)").as("major_version"),
        expr("current_user()").as("usr"),
        // uuid() is per-row random (reference: impala_functions.py
        // 'uuid'); assert shape, not value — RFC-4122 v4 layout.
        expr("uuid()").rlike("^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")
          .as("uuid_v4_shape"),
        // utc_timestamp() (impala_functions.py:248): wall-clock in UTC —
        // value is run-dependent, so assert shape + sanity (after the
        // library's own build year). Session tz is pinned UTC in the
        // driver contract, making current_timestamp the UTC clock; the
        // explicit to_utc_timestamp(.., current_timezone()) form keeps
        // the expression correct under any session tz.
        expr("to_utc_timestamp(current_timestamp(), current_timezone())")
          .cast("date").geq(lit("2024-01-01")).as("utc_ts_sane"))
    }),

    // F33: the remaining one-line registry aliases from the reference's
    // builtin list (impala_functions.py): unhex, btrim/ltrim/rtrim with
    // a trim-set, tan/asin/acos/atan, millisecond + ms/µs interval
    // arithmetic (ns stays out of scope — Spark timestamps are µs),
    // date_part, adddate/subdate (date_add/date_sub), strleft/strright
    // (left/right), decode() as its null-safe-CASE expansion (<=> is
    // Impala decode's NULL-matches-NULL rule), istrue/isfalse and
    // nullvalue/nonnullvalue as IS (NOT) TRUE / IS (NOT) NULL. sha1 has
    // no DuckDB twin → pinned by RFC 3174 vectors in FunctionsSpec;
    // current_date/current_timestamp are env-dependent → fn_env.
    "fn_leftovers" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.createOrReplaceTempView("graft_orders_lo")
      spark.sql(
        """SELECT o_orderkey,
          |  upper(hex(unhex(hex(o_orderpriority)))) AS uh,
          |  TRIM(BOTH '0123456789-' FROM o_orderpriority) AS bt,
          |  TRIM(LEADING '0123456789-' FROM o_orderpriority) AS lt,
          |  TRIM(TRAILING 'TNEGRU' FROM o_orderpriority) AS rt,
          |  round(tan((o_orderkey % 100) / 100.0), 8) AS tan_x,
          |  round(asin((o_orderkey % 100) / 100.0), 8) AS asin_x,
          |  round(acos((o_orderkey % 100) / 100.0), 8) AS acos_x,
          |  round(atan((o_orderkey % 100) / 100.0), 8) AS atan_x,
          |  (unix_micros(CAST(timestampadd(MILLISECOND, o_orderkey % 1000, o_orderdate) AS TIMESTAMP)) % 1000000) DIV 1000 AS msec,
          |  unix_micros(CAST(timestampadd(MICROSECOND, o_orderkey % 1000000, o_orderdate) AS TIMESTAMP)) AS us_added,
          |  CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
          |  CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
          |  date_add(CAST(o_orderdate AS DATE), 5) AS d_add,
          |  date_sub(CAST(o_orderdate AS DATE), 5) AS d_sub,
          |  left(o_orderpriority, 3) AS sl,
          |  right(o_orderpriority, 3) AS sr,
          |  CASE WHEN nullif(o_orderstatus, 'O') <=> NULL THEN 'open'
          |       WHEN nullif(o_orderstatus, 'O') <=> 'F' THEN 'filled'
          |       ELSE 'other' END AS dec_status,
          |  ((o_totalprice > 150000) IS TRUE) AS is_t,
          |  ((o_totalprice > 150000) IS FALSE) AS is_f,
          |  (NULLIF(o_orderstatus, 'O') IS NULL) AS nv,
          |  (NULLIF(o_orderstatus, 'O') IS NOT NULL) AS nnv
          |FROM graft_orders_lo WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin)
    }),

    // F35: the remaining interval-unit arithmetic family
    // (hours/days/minutes/seconds/weeks/years add/sub — ms/µs live in
    // fn_leftovers), trunc(ts, unit) for quarter/week/hour, nvl/ifnull,
    // ceiling, fmod (C fmod = `%` on doubles in both engines),
    // power, date_cmp (sign of day diff), and the
    // utc_to_unix_micros / unix_micros_to_utc_timestamp pair.
    "fn_datetime6" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.createOrReplaceTempView("graft_orders_dt6")
      spark.sql(
        """SELECT o_orderkey,
          |  unix_micros(CAST(timestampadd(HOUR, o_orderkey % 24, o_orderdate) AS TIMESTAMP)) AS hrs_add,
          |  unix_micros(CAST(timestampadd(DAY, -(o_orderkey % 28), o_orderdate) AS TIMESTAMP)) AS days_sub,
          |  unix_micros(CAST(timestampadd(MINUTE, o_orderkey % 60, o_orderdate) AS TIMESTAMP)) AS mins_add,
          |  unix_micros(CAST(timestampadd(SECOND, -(o_orderkey % 3600), o_orderdate) AS TIMESTAMP)) AS secs_sub,
          |  unix_micros(CAST(timestampadd(WEEK, o_orderkey % 5, o_orderdate) AS TIMESTAMP)) AS weeks_add,
          |  unix_micros(CAST(timestampadd(YEAR, -(o_orderkey % 3), o_orderdate) AS TIMESTAMP)) AS years_sub,
          |  unix_micros(CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP)) AS trunc_q,
          |  unix_micros(CAST(date_trunc('week', o_orderdate) AS TIMESTAMP)) AS trunc_w,
          |  unix_micros(CAST(date_trunc('hour', o_orderdate) AS TIMESTAMP)) AS trunc_h,
          |  nvl(nullif(o_orderstatus, 'O'), 'none') AS nvl_status,
          |  ifnull(nullif(o_orderpriority, '1-URGENT'), 'urgent') AS ifnull_prio,
          |  CAST(ceiling(o_totalprice) AS BIGINT) AS ceil_price,
          |  round(o_totalprice % 7.5, 6) AS fmod_price,
          |  round(power(o_orderkey % 9 + 1, 2.0), 4) AS pow_k,
          |  CAST(sign(datediff(CAST(o_orderdate AS DATE), DATE '1996-06-15')) AS BIGINT) AS date_cmp,
          |  unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS utc_to_us,
          |  date_format(timestamp_micros(unix_micros(CAST(o_orderdate AS TIMESTAMP))), 'yyyy-MM-dd HH:mm:ss') AS us_to_ts
          |FROM graft_orders_dt6 WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin)
    }),

    // F34: UTF-8 string-mode dialect pin. The reference is byte-
    // semantic by default and char-semantic under utf8_mode=1
    // (impala_functions.py: utf8_length/upper_utf8/...); Spark operates
    // char-semantic NATIVELY — i.e. Spark's length/substring/upper ARE
    // the reference's *_utf8 forms, and octet_length is its default
    // byte-wise length. This query pins both sides over genuinely
    // multi-byte rows (the zh documents make chars ≠ bytes), so a user
    // porting Impala SQL sees the exact dialect mapping, oracle-checked.
    "fn_utf8_mode" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.documents.filter(col("doc_id") < 300)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars_sem"),
          octet_length(col("text")).cast("long").as("n_bytes_sem"),
          (octet_length(col("text")) > length(col("text"))).as("is_multibyte"),
          length(substring(col("text"), 1, 10)).cast("long").as("sub10_chars"),
          octet_length(substring(col("text"), 1, 10)).cast("long").as("sub10_bytes"),
          upper(substring(col("text"), 1, 8)).as("up8"))
        .orderBy("doc_id")
    }),

    // F32: try_* ANSI-safety family — NULL-on-failure casts, division
    // and element access (the safe-mode twins of the reference's
    // error-returning casts). DuckDB mirrors via TRY_CAST, NULLIF-guarded
    // division, and its natively NULL-on-out-of-bounds list index.
    "fn_try" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          expr("try_cast(o_orderpriority AS INT)").as("bad_int"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)").as("good_int"),
          expr("try_divide(o_totalprice, o_custkey % 3)").as("maybe_div"),
          expr("try_element_at(split(o_orderpriority, '-'), 2)").as("second_tok"),
          expr("try_element_at(split(o_orderpriority, '-'), 5)").as("oob_tok"))
        .orderBy("o_orderkey")
    }),

    // F26: leftover date/time builtins. months_between is mirrored in
    // the oracle by its published rule (whole months when days match,
    // else +(d1-d2)/31, rounded to 8); next_day by ISO-dow arithmetic.
    "fn_datetime4" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          months_between(col("o_orderdate"), lit("1995-01-15").cast("timestamp")).as("mb"),
          next_day(col("o_orderdate"), "Monday").cast("date").as("next_mon"),
          date_format(col("o_orderdate"), "MMMM").as("mname"),
          date_add(col("o_orderdate").cast("date"), 14).as("plus2w"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus_q"))
        .orderBy("o_orderkey")
    }),

    // Registry datetime aliases (impala_functions.py:254,256,266 —
    // timestamp-functions-ir.cc:525,598,176): timestamp_cmp is the
    // -1/0/1 three-way compare (NULL if either side is), int_months_
    // between truncates months_between toward zero (static_cast<int>),
    // from_timestamp(ts, fmt) renders with a format pattern —
    // date_format is the Spark twin (the Impala pattern dialect maps
    // 'yyyy-MM-dd HH:mm:ss' unchanged).
    "fn_datetime7" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val pivot = lit("1996-06-15").cast("timestamp")
      t.orders.filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          when(col("o_orderdate") > pivot, 1)
            .when(col("o_orderdate") < pivot, -1)
            .otherwise(when(col("o_orderdate").isNull, lit(null)).otherwise(0))
            .cast("long").as("ts_cmp"),
          months_between(col("o_orderdate"), pivot).cast("int").cast("long").as("int_mb"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("from_ts"),
          date_format(col("o_orderdate"), "EEEE").as("from_ts_day"))
        .orderBy("o_orderkey")
    }),

    // Regexp DIALECT pin. The reference compiles patterns with RE2
    // (be/src/exprs/string-functions-ir.cc:874 CompileRegex), which
    // REJECTS backreferences and lookaround at compile time; Spark
    // compiles java.util.regex, which accepts them. This query pins the
    // delta the way fn_utf8_mode pins string semantics: each Java-only
    // construct (backreference '(.)\1', lookahead '(?=…)', lookbehind
    // '(?<=…)') is mirrored in the oracle by an RE2-expressible rewrite
    // (adjacent-char scan / capture groups) — DuckDB runs RE2 too, so a
    // literal mirror would error exactly like Impala. The last two
    // columns pin the agreement surface ('\w', '(?i)') where both
    // dialects coincide.
    "fn_regexp_dialect" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      t.part.filter(col("p_partkey") < 500)
        .select(col("p_partkey"),
          col("p_name").rlike("(.)\\1").as("has_doubled_char"),
          regexp_extract(col("p_name"), "^[a-z]+(?=\\s)", 0).as("first_word_la"),
          regexp_extract(col("p_name"), "(?<=\\s)[a-z]+$", 0).as("last_word_lb"),
          col("p_name").rlike("^\\w+\\s\\w+$").as("two_words"),
          regexp_replace(col("p_name"), "(?i)WIDGET", "W").as("ci_replace"))
        .orderBy("p_partkey")
    }),
  )

  private val duckMangle = "translate(c_name, '0123456789', 'OIZEASGTBQ')"

  override val rowsOnly: Map[String, String] = Map(
    "fn_env" -> ("env: version()/current_database() are engine identity by definition — no " +
      "replay exists"),
  )

  val oracles: Map[String, String] = Map(
    "fn_strdist" ->
      s"""SELECT c_custkey,
         |  round(jaro_similarity(c_name, reverse(c_name)), 6) AS jaro_rev,
         |  round(1.0 - jaro_similarity(c_name, $duckMangle), 6) AS jaro_dist,
         |  round(jaro_winkler_similarity(c_name, $duckMangle), 6) AS jw_sim,
         |  CAST(damerau_levenshtein(c_name, $duckMangle) AS BIGINT) AS dl_mangled,
         |  CAST(damerau_levenshtein(c_name, reverse(c_name)) AS BIGINT) AS dl_rev
         |FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin,

    "fn_leftovers" ->
      """SELECT o_orderkey,
        |  upper(to_hex(unhex(to_hex(o_orderpriority)))) AS uh,
        |  trim(o_orderpriority, '0123456789-') AS bt,
        |  ltrim(o_orderpriority, '0123456789-') AS lt,
        |  rtrim(o_orderpriority, 'TNEGRU') AS rt,
        |  round(tan((o_orderkey % 100) / 100.0), 8) AS tan_x,
        |  round(asin((o_orderkey % 100) / 100.0), 8) AS asin_x,
        |  round(acos((o_orderkey % 100) / 100.0), 8) AS acos_x,
        |  round(atan((o_orderkey % 100) / 100.0), 8) AS atan_x,
        |  (epoch_us(o_orderdate + (o_orderkey % 1000) * INTERVAL 1 MILLISECOND) % 1000000) // 1000 AS msec,
        |  epoch_us(o_orderdate + (o_orderkey % 1000000) * INTERVAL 1 MICROSECOND) AS us_added,
        |  date_part('year', o_orderdate) AS yr,
        |  date_part('month', o_orderdate) AS mo,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 5 DAY AS DATE) AS d_add,
        |  CAST(CAST(o_orderdate AS DATE) - INTERVAL 5 DAY AS DATE) AS d_sub,
        |  left(o_orderpriority, 3) AS sl,
        |  right(o_orderpriority, 3) AS sr,
        |  CASE WHEN nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL THEN 'open'
        |       WHEN nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' THEN 'filled'
        |       ELSE 'other' END AS dec_status,
        |  ((o_totalprice > 150000) IS TRUE) AS is_t,
        |  ((o_totalprice > 150000) IS FALSE) AS is_f,
        |  (NULLIF(o_orderstatus, 'O') IS NULL) AS nv,
        |  (NULLIF(o_orderstatus, 'O') IS NOT NULL) AS nnv
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin,

    "fn_datetime6" ->
      """SELECT o_orderkey,
        |  epoch_us(o_orderdate + (o_orderkey % 24) * INTERVAL 1 HOUR) AS hrs_add,
        |  epoch_us(o_orderdate - (o_orderkey % 28) * INTERVAL 1 DAY) AS days_sub,
        |  epoch_us(o_orderdate + (o_orderkey % 60) * INTERVAL 1 MINUTE) AS mins_add,
        |  epoch_us(o_orderdate - (o_orderkey % 3600) * INTERVAL 1 SECOND) AS secs_sub,
        |  epoch_us(o_orderdate + (o_orderkey % 5) * INTERVAL 1 WEEK) AS weeks_add,
        |  epoch_us(o_orderdate - (o_orderkey % 3) * INTERVAL 1 YEAR) AS years_sub,
        |  epoch_us(date_trunc('quarter', o_orderdate)) AS trunc_q,
        |  epoch_us(date_trunc('week', o_orderdate)) AS trunc_w,
        |  epoch_us(date_trunc('hour', o_orderdate)) AS trunc_h,
        |  coalesce(nullif(o_orderstatus, 'O'), 'none') AS nvl_status,
        |  coalesce(nullif(o_orderpriority, '1-URGENT'), 'urgent') AS ifnull_prio,
        |  CAST(ceiling(o_totalprice) AS BIGINT) AS ceil_price,
        |  round(o_totalprice % 7.5, 6) AS fmod_price,
        |  round(power(o_orderkey % 9 + 1, 2.0), 4) AS pow_k,
        |  CAST(sign(date_diff('day', DATE '1996-06-15', CAST(o_orderdate AS DATE))) AS BIGINT) AS date_cmp,
        |  epoch_us(o_orderdate) AS utc_to_us,
        |  strftime(make_timestamp(epoch_us(o_orderdate)), '%Y-%m-%d %H:%M:%S') AS us_to_ts
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin,

    // DuckDB: length() is chars, strlen() is bytes; substring is
    // char-based — the same char-native dialect Spark uses.
    "fn_utf8_mode" ->
      """SELECT doc_id, lang,
        |  length(text) AS n_chars_sem,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes_sem,
        |  (strlen(text) > length(text)) AS is_multibyte,
        |  length(substring(text, 1, 10)) AS sub10_chars,
        |  CAST(strlen(substring(text, 1, 10)) AS BIGINT) AS sub10_bytes,
        |  upper(substring(text, 1, 8)) AS up8
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin,

    "fn_try" ->
      """SELECT o_orderkey,
        |  TRY_CAST(o_orderpriority AS INT) AS bad_int,
        |  TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS good_int,
        |  o_totalprice / NULLIF(o_custkey % 3, 0) AS maybe_div,
        |  string_split(o_orderpriority, '-')[2] AS second_tok,
        |  string_split(o_orderpriority, '-')[5] AS oob_tok
        |FROM orders WHERE o_orderkey < 500 ORDER BY 1""".stripMargin,

    "agg_filter" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_hidisc,
        |  count(*) FILTER (WHERE l_tax > 0.04) AS n_hitax,
        |  count(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25.0) AS supp_big,
        |  CAST(max(l_linenumber) FILTER (WHERE l_quantity < 10.0) AS BIGINT) AS maxline_small
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "fn_bitops2" ->
      """SELECT l_orderkey, l_linenumber,
        |  ((x << 1) | (x >> 31)) & 4294967295 AS rotl_const,
        |  ((x << n) | (x >> (32 - n))) & 4294967295 AS rotl,
        |  ((x >> n) | (x << (32 - n))) & 4294967295 AS rotr,
        |  (x >> 3) & 1 AS getbit3,
        |  x | 32 AS setbit5,
        |  x - (x & 4) AS clearbit2,
        |  CAST(bit_count(x) AS BIGINT) AS countset
        |FROM (SELECT l_orderkey, l_linenumber,
        |        l_orderkey & 4294967295 AS x,
        |        l_linenumber % 31 + 1 AS n
        |      FROM lineitem WHERE l_orderkey < 300)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_math4" ->
      """SELECT l_orderkey, l_linenumber,
        |  round((exp(l_discount) + exp(-l_discount)) / 2, 6) AS cosh_d,
        |  round((exp(l_discount) - exp(-l_discount)) / 2, 6) AS sinh_d,
        |  round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 6) AS tanh_d,
        |  round(1.0 / tan(l_quantity), 6) AS cot_q,
        |  exp(l_quantity * 100) = 'inf'::DOUBLE AS is_inf_big,
        |  isnan('nan'::DOUBLE * l_quantity) AS is_nan_lit,
        |  nullif(l_quantity, 25.0) IS NOT DISTINCT FROM l_quantity AS notdistinct_q,
        |  upper(to_base(l_orderkey, 16)) AS hex36,
        |  to_base(l_orderkey, 36) AS base36,
        |  to_base(l_orderkey, 2) AS bin_key
        |FROM lineitem WHERE l_orderkey < 300
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_string4" ->
      """SELECT p_partkey,
        |  list_aggregate([upper(w[1]) || w[2:] for w in string_split(p_name, ' ')], 'string_agg', ' ') AS ic_name,
        |  CAST(coalesce(list_position(string_split('red,blue,green,small,large', ','), split_part(p_name, ' ', 1)), 0) AS BIGINT) AS fis_color,
        |  CAST(strpos(p_name, 'e') AS BIGINT) AS loc_e,
        |  repeat(' ', p_size % 4) || '|' AS spaced,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
        |  regexp_replace(p_name || '[a].*', '([.^$|?*+()\[\]{}\\])', '\\\1', 'g') AS re_escaped
        |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""".stripMargin,

    "fn_datetime5" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL 9 HOUR, '%Y-%m-%d %H:%M') AS tokyo_wall,
        |  strftime(o_orderdate + INTERVAL 330 MINUTE, '%Y-%m-%d %H:%M') AS kolkata_wall,
        |  strftime(o_orderdate - INTERVAL 9 HOUR, '%Y-%m-%d %H:%M') AS tokyo_to_utc,
        |  strftime(to_timestamp(epoch(o_orderdate)), '%Y-%m-%d %H:%M:%S') AS epoch_rt
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,

    "fn_vector" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[3] AS DOUBLE), 6) AS get3,
        |  round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 4) AS self_dot,
        |  round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 5) AS sum_elems
        |FROM embeddings WHERE vec_id < 300 ORDER BY vec_id""".stripMargin,

    "fn_iceberg_bucket" ->
      s"""SELECT c_custkey,
         |  ${DuckHashSql.icebergBucketLong("c_custkey", 16)} AS b_key16,
         |  ${DuckHashSql.icebergBucketStr("c_name", "length(c_name)", 32)} AS b_name32
         |FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin,

    "fn_iceberg_truncate" ->
      """SELECT c_custkey,
        |  (c_custkey - 250) - ((((c_custkey - 250) % 10) + 10) % 10) AS trunc10,
        |  (c_custkey - 250) - ((((c_custkey - 250) % 7) + 7) % 7) AS trunc7,
        |  substring(c_name, 1, 6) AS name6
        |FROM customer WHERE c_custkey < 500 ORDER BY c_custkey""".stripMargin,

    "fn_datetime4" ->
      """SELECT o_orderkey,
        |  round((EXTRACT(YEAR FROM o_orderdate) - 1995) * 12 + (EXTRACT(MONTH FROM o_orderdate) - 1)
        |    + CASE WHEN EXTRACT(DAY FROM o_orderdate) = 15 THEN 0.0
        |           ELSE (EXTRACT(DAY FROM o_orderdate) - 15) / 31.0 END, 8) AS mb,
        |  CAST(o_orderdate + INTERVAL (CASE WHEN (1 - isodow(o_orderdate) + 7) % 7 = 0 THEN 7
        |                                    ELSE (1 - isodow(o_orderdate) + 7) % 7 END) DAY AS DATE) AS next_mon,
        |  monthname(o_orderdate) AS mname,
        |  CAST(o_orderdate + INTERVAL 14 DAY AS DATE) AS plus2w,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_q
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,

    "fn_datetime7" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN o_orderdate IS NULL THEN NULL
        |            WHEN o_orderdate > TIMESTAMP '1996-06-15' THEN 1
        |            WHEN o_orderdate < TIMESTAMP '1996-06-15' THEN -1
        |            ELSE 0 END AS BIGINT) AS ts_cmp,
        |  CAST(trunc(round((EXTRACT(YEAR FROM o_orderdate) - 1996) * 12 + (EXTRACT(MONTH FROM o_orderdate) - 6)
        |    + CASE WHEN EXTRACT(DAY FROM o_orderdate) = 15 THEN 0.0
        |           ELSE (EXTRACT(DAY FROM o_orderdate) - 15) / 31.0 END, 8)) AS BIGINT) AS int_mb,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS from_ts,
        |  strftime(o_orderdate, '%A') AS from_ts_day
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,

    "fn_regexp_dialect" ->
      """SELECT p_partkey,
        |  coalesce(list_contains(
        |    [p_name[i+1:i+1] = p_name[i:i] for i in range(1, strlen(p_name))], true), false)
        |    AS has_doubled_char,
        |  regexp_extract(p_name, '^([a-z]+)\s', 1) AS first_word_la,
        |  regexp_extract(p_name, '\s([a-z]+)$', 1) AS last_word_lb,
        |  regexp_matches(p_name, '^\w+\s\w+$') AS two_words,
        |  regexp_replace(p_name, 'WIDGET', 'W', 'gi') AS ci_replace
        |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""".stripMargin,
  )
}
