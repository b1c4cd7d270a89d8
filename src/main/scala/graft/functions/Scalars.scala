package graft.functions

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.2 "Scalar functions").
  *
  * The reference uses only CAST, to_json/from_json, + and /
  * (`temDataRead.py:78-79`, `temReadFromTopic.py:78-83`); this module
  * declares the string / date / math / array / map / JSON families. All are
  * `org.apache.spark.sql.functions._` built-ins — codegen'd, no UDFs —
  * and all stay inside whole-stage codegen.
  *
  * Cross-engine notes encoded in the oracles:
  *  - Spark `dayofweek` is 1-based Sunday=1; DuckDB's is 0-based (oracle adds 1);
  *  - `ln`/`exp` are not correctly-rounded by IEEE, so those outputs are
  *    rounded to 6 decimals on both sides; `sqrt` IS correctly rounded and
  *    compares raw;
  *  - Spark `split` / DuckDB `string_split` agree on single-space-separated
  *    text (the documents table's shape).
  */
object Scalars {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_str_funcs",
      (s, d) => Tables.customer(s, d)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("up"),
          lower(col("c_mktsegment")).as("lo"),
          substring(col("c_name"), 10, 4).as("sub"),
          length(col("c_name")).as("len"),
          concat(col("c_name"), lit("-"), col("c_mktsegment")).as("cat"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_replace(col("c_mktsegment"), "[AEIOU]", "_").as("novowel"),
          trim(lit("  pad  ")).as("trimmed"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |  UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo,
             |  SUBSTRING(c_name, 10, 4) AS sub, LENGTH(c_name) AS len,
             |  c_name || '-' || c_mktsegment AS cat,
             |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
             |  regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS novowel,
             |  TRIM('  pad  ') AS trimmed
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q_date_funcs",
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("q"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS INT) AS y,
             |  CAST(month(o_orderdate) AS INT) AS m,
             |  CAST(dayofmonth(o_orderdate) AS INT) AS dom,
             |  CAST(quarter(o_orderdate) AS INT) AS q,
             |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
             |  CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "q_math_funcs",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_extendedprice") * lit(-1.0)).as("abs_v"),
          round(col("l_extendedprice") / 7.0, 2).as("round_v"),
          sqrt(col("l_quantity")).as("sqrt_v"),
          floor(col("l_extendedprice") / 100.0).as("floor_v"),
          ceil(col("l_extendedprice") / 100.0).as("ceil_v"),
          pow(col("l_quantity"), 2).as("pow_v"),
          round(log(col("l_extendedprice")), 6).as("ln_v"),
          round(exp(col("l_discount")), 6).as("exp_v"),
          (col("l_orderkey") % 7).as("mod_v"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  ABS(l_extendedprice * -1.0) AS abs_v,
             |  ROUND(l_extendedprice / 7.0, 2) AS round_v,
             |  SQRT(l_quantity) AS sqrt_v,
             |  CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS floor_v,
             |  CAST(CEIL(l_extendedprice / 100.0) AS BIGINT) AS ceil_v,
             |  POW(l_quantity, 2) AS pow_v,
             |  ROUND(LN(l_extendedprice), 6) AS ln_v,
             |  ROUND(EXP(l_discount), 6) AS exp_v,
             |  l_orderkey % 7 AS mod_v
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = false),

    // Error-safe casts and arithmetic: try_cast / try_divide return null
    // instead of failing — the ingestion-hardening surface for dirty
    // data at scale (a single bad row must not kill a 100 TB job).
    QueryDef(
      "q_try_funcs",
      (s, d) => Tables.part(s, d)
        .selectExpr(
          "p_partkey",
          "try_cast(p_name AS INT) AS name_as_int",
          "try_cast(regexp_extract(p_name, '([0-9]+)', 1) AS INT) AS digits_int",
          "try_divide(p_partkey, p_partkey % 10) AS div_maybe_zero")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  TRY_CAST(p_name AS INT) AS name_as_int,
             |  TRY_CAST(regexp_extract(p_name, '([0-9]+)', 1) AS INT) AS digits_int,
             |  CASE WHEN p_partkey % 10 = 0 THEN NULL
             |       ELSE CAST(p_partkey AS DOUBLE) / (p_partkey % 10) END AS div_maybe_zero
             |FROM part ORDER BY p_partkey""".stripMargin),
      headline = false),

    // Calendar arithmetic: day/month offsets with end-of-month clamping,
    // last_day, week truncation.
    QueryDef(
      "q_date_arith",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") % 25 === 0)
        .selectExpr(
          "o_orderkey",
          "date_add(o_orderdate, 30) AS plus30d",
          "add_months(o_orderdate, 2) AS plus2m",
          "last_day(o_orderdate) AS month_end",
          "CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30d,
             |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
             |  last_day(o_orderdate) AS month_end,
             |  CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start
             |FROM orders WHERE o_orderkey % 25 = 0
             |ORDER BY o_orderkey""".stripMargin),
      headline = false),

    // Timestamp parse/format round trip — the dateTime string→timestamp
    // cast the reference never performs (SURVEY.md §1.2: TimestampType
    // imported but unused); format then reparse then diff against the
    // original, all in one projection.
    QueryDef(
      "q_ts_parse",
      (s, d) => Tables.orders(s, d)
        .selectExpr(
          "o_orderkey",
          "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS s",
          "unix_timestamp(to_timestamp(date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss'))) AS reparsed_epoch",
          "unix_timestamp(o_orderdate) AS orig_epoch")
        .selectExpr("o_orderkey", "s", "reparsed_epoch",
          "reparsed_epoch - orig_epoch AS drift")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, s, reparsed_epoch, reparsed_epoch - orig_epoch AS drift
             |FROM (
             |  SELECT o_orderkey,
             |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS s,
             |    CAST(epoch(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
             |         '%Y-%m-%d %H:%M:%S')) AS BIGINT) AS reparsed_epoch,
             |    CAST(epoch(o_orderdate) AS BIGINT) AS orig_epoch
             |  FROM orders)
             |ORDER BY o_orderkey""".stripMargin),
      headline = false),

    // split → explode → word frequency: the array/generator path.
    QueryDef(
      "q_array_explode",
      (s, d) => Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")),
      Some("""SELECT word, COUNT(*) AS n
             |FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word ORDER BY n DESC, word""".stripMargin),
      headline = false),

    // Array scalar functions over the embedding column.
    QueryDef(
      "q_array_funcs",
      (s, d) => Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_v"),
          element_at(col("embedding"), -1).cast("double").as("last_v"),
          array_max(col("embedding")).cast("double").as("max_v"),
          array_min(col("embedding")).cast("double").as("min_v"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  CAST(len(embedding) AS INT) AS dim,
             |  CAST(embedding[1] AS DOUBLE) AS first_v,
             |  CAST(embedding[-1] AS DOUBLE) AS last_v,
             |  CAST(list_max(embedding) AS DOUBLE) AS max_v,
             |  CAST(list_min(embedding) AS DOUBLE) AS min_v
             |FROM embeddings ORDER BY vec_id""".stripMargin),
      headline = false),

    // Higher-order functions over arrays: exists/forall/filter/
    // transform/aggregate plus posexplode, sort_array, flatten and
    // sequence — the lambda surface Catalyst evaluates without UDFs.
    QueryDef(
      "q_array_hof",
      (s, d) => Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr(
          "doc_id",
          "exists(toks, w -> length(w) > 8) AS has_long",
          "forall(toks, w -> length(w) > 1) AS all_gt1",
          "size(filter(toks, w -> w RLIKE '^[st]')) AS st_words",
          "aggregate(transform(toks, w -> length(w)), 0, (a, x) -> a + x) AS total_chars",
          "size(flatten(array(slice(toks, 1, 3), slice(toks, 1, 2)))) AS flat_n",
          "array_join(sort_array(slice(toks, 1, 4)), ',') AS first4_csv",
          "size(sequence(1, size(toks))) AS seq_n")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(list_filter(toks, w -> len(w) > 8)) > 0 AS has_long,
             |  len(list_filter(toks, w -> NOT len(w) > 1)) = 0 AS all_gt1,
             |  CAST(len(list_filter(toks, w -> regexp_matches(w, '^[st]'))) AS INT) AS st_words,
             |  CAST(list_sum(list_transform(toks, w -> len(w))) AS INT) AS total_chars,
             |  CAST(len(list_cat(toks[1:3], toks[1:2])) AS INT) AS flat_n,
             |  array_to_string(list_sort(toks[1:4]), ',') AS first4_csv,
             |  CAST(len(toks) AS INT) AS seq_n
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
             |ORDER BY doc_id""".stripMargin),
      headline = false),

    // posexplode → UNNEST WITH ORDINALITY: position-preserving generator.
    QueryDef(
      "q_posexplode",
      (s, d) => Tables.documents(s, d)
        .filter(col("doc_id") % 100 === 0)
        .selectExpr("doc_id", "posexplode(slice(split(text, ' '), 1, 5)) AS (pos, tok)")
        .orderBy("doc_id", "pos"),
      Some("""SELECT doc_id, CAST(pos - 1 AS INT) AS pos, tok FROM (
             |  SELECT doc_id, UNNEST(string_split(text, ' ')[1:5]) AS tok,
             |         generate_subscripts(string_split(text, ' ')[1:5], 1) AS pos
             |  FROM documents WHERE doc_id % 100 = 0)
             |ORDER BY doc_id, pos""".stripMargin),
      headline = false),

    // Map construction + extraction. The oracle pins the *values* (map
    // lookup must return exactly the source columns), which checks the
    // Spark map path without relying on engine map-type formatting.
    QueryDef(
      "q_map_funcs",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 500 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          map_from_arrays(array(lit("qty"), lit("disc")),
            array(col("l_quantity"), col("l_discount"))).as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          element_at(col("m"), "qty").as("qty_v"),
          element_at(col("m"), "disc").as("disc_v"),
          size(map_keys(col("m"))).as("n_keys"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_quantity AS qty_v, l_discount AS disc_v, 2 AS n_keys
             |FROM lineitem WHERE l_orderkey % 500 = 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = false),

    // Conditional / null-handling family: coalesce, nullif, nvl2-shape,
    // least/greatest, boolean algebra with three-valued NULL logic.
    QueryDef(
      "q_cond_funcs",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 50 === 0)
        .selectExpr(
          "l_orderkey", "l_linenumber",
          "coalesce(nullif(l_returnflag, 'N'), 'none') AS rf",
          "CASE WHEN nullif(l_linestatus, 'O') IS NULL THEN 'open' ELSE 'final' END AS status",
          "least(l_quantity, l_discount * 100) AS lo",
          "greatest(l_quantity, l_discount * 100) AS hi",
          "(l_quantity > 25 AND NULL) IS NULL AS three_valued")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS rf,
             |  CASE WHEN NULLIF(l_linestatus, 'O') IS NULL THEN 'open' ELSE 'final' END AS status,
             |  LEAST(l_quantity, l_discount * 100) AS lo,
             |  GREATEST(l_quantity, l_discount * 100) AS hi,
             |  ((l_quantity > 25 AND NULL) IS NULL) AS three_valued
             |FROM lineitem WHERE l_orderkey % 50 = 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = false),

    // Bitwise family as first-class scalars (used structurally by
    // SimHash; here as the declared operator surface).
    QueryDef(
      "q_bit_funcs",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderkey") % 100 === 0)
        .selectExpr(
          "o_orderkey",
          "o_orderkey & 255 AS band",
          "o_orderkey | 15 AS ored",
          "o_orderkey ^ 85 AS xored",
          "shiftleft(o_orderkey, 2) AS shl",
          "shiftright(o_orderkey, 3) AS shr",
          "bit_count(o_orderkey) AS popcnt")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  o_orderkey & 255 AS band,
             |  o_orderkey | 15 AS ored,
             |  xor(o_orderkey, 85) AS xored,
             |  o_orderkey << 2 AS shl,
             |  o_orderkey >> 3 AS shr,
             |  CAST(bit_count(o_orderkey) AS INT) AS popcnt
             |FROM orders WHERE o_orderkey % 100 = 0
             |ORDER BY o_orderkey""".stripMargin),
      headline = false),

    // Map explode: generator over key/value pairs of a map column.
    QueryDef(
      "q_map_explode",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 1000 === 0)
        .selectExpr("l_orderkey", "l_linenumber",
          "map('qty', l_quantity, 'disc', l_discount, 'tax', l_tax) AS m")
        .selectExpr("l_orderkey", "l_linenumber", "explode(m) AS (k, v)")
        .orderBy("l_orderkey", "l_linenumber", "k"),
      Some("""SELECT l_orderkey, l_linenumber, k, v FROM (
             |  SELECT l_orderkey, l_linenumber, UNNEST(['qty','disc','tax']) AS k,
             |         UNNEST([l_quantity, l_discount, l_tax]) AS v
             |  FROM lineitem WHERE l_orderkey % 1000 = 0)
             |ORDER BY l_orderkey, l_linenumber, k""".stripMargin),
      headline = false),

    // String family II: pad, translate, initcap-adjacent casing, repeat,
    // reverse, position.
    QueryDef(
      "q_str_funcs2",
      (s, d) => Tables.nation(s, d)
        .selectExpr(
          "n_nationkey",
          "lpad(n_name, 12, '.') AS padded",
          "rpad(n_name, 12, '-') AS rpadded",
          "translate(n_name, 'AEIOU', 'aeiou') AS lowered_vowels",
          "reverse(n_name) AS rev",
          "repeat(substr(n_name, 1, 2), 3) AS rep",
          "instr(n_name, 'A') AS pos_a",
          "split_part(n_name, 'A', 1) AS first_part")
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey,
             |  lpad(n_name, 12, '.') AS padded,
             |  rpad(n_name, 12, '-') AS rpadded,
             |  translate(n_name, 'AEIOU', 'aeiou') AS lowered_vowels,
             |  reverse(n_name) AS rev,
             |  repeat(substr(n_name, 1, 2), 3) AS rep,
             |  CAST(instr(n_name, 'A') AS INT) AS pos_a,
             |  split_part(n_name, 'A', 1) AS first_part
             |FROM nation ORDER BY n_nationkey""".stripMargin),
      headline = false),

    // Map higher-order functions — transform_keys/values, map_filter,
    // map_zip_with. DuckDB has no map lambdas, so the oracle pins the
    // extracted VALUES the lambdas must produce (same technique as
    // q_map_funcs).
    QueryDef(
      "q_map_hof",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 1000 === 0)
        .selectExpr("l_orderkey", "l_linenumber",
          "map('qty', l_quantity, 'disc', l_discount) AS m")
        .selectExpr("l_orderkey", "l_linenumber",
          "element_at(transform_values(m, (k, v) -> v * 2), 'qty') AS qty2",
          "element_at(transform_keys(m, (k, v) -> upper(k)), 'DISC') AS disc_up",
          "size(map_filter(m, (k, v) -> v > 0.5)) AS n_big",
          "element_at(map_zip_with(m, map('qty', 1.0, 'disc', 10.0), (k, a, b) -> a * b), 'disc') AS disc10")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_quantity * 2 AS qty2,
             |  l_discount AS disc_up,
             |  CAST((CASE WHEN l_quantity > 0.5 THEN 1 ELSE 0 END)
             |     + (CASE WHEN l_discount > 0.5 THEN 1 ELSE 0 END) AS INT) AS n_big,
             |  l_discount * 10.0 AS disc10
             |FROM lineitem WHERE l_orderkey % 1000 = 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      headline = false),

    // JSON extraction over events.props (e.g. '{"k": 87}').
    QueryDef(
      "q_json_extract",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_int"),
          get_json_object(col("props"), "$.missing").as("missing"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  json_extract_string(props, '$.k') AS k_str,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
             |  json_extract_string(props, '$.missing') AS missing
             |FROM events ORDER BY event_id""".stripMargin))
  )
}
