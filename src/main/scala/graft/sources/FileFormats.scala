package graft.sources

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** ORC and Avro file sources — the two lake formats SURVEY.md §2.2 named
  * absent from the reference (its only file I/O is CSV,
  * `pyspark_scripts/temDataRead.py:21-25`). Spark 4 bundles both readers;
  * a real 100 TB lake is mixed-format, so "switch to this engine" has to
  * include them.
  *
  * Oracle strategy: the Spark side round-trips a projection of a testdata
  * table through the format under test (write → read back → aggregate);
  * DuckDB computes the same aggregate from the original parquet. A lossy
  * format round-trip (types, timestamps, nulls) breaks the hash match, so
  * the comparison covers the serialization itself, not just the reader
  * API. Only exact-typed columns (ints, strings, timestamps) are
  * aggregated — double sums would need the Parity decimal path and prove
  * nothing extra about the format.
  *
  * The round-trip slice is written under a `TmpSlices` dir, keyed by input
  * dir, `overwrite` mode — idempotent per (sf, format).
  */
object FileFormats {

  /** This distribution bundles `AvroFileFormat` inside spark-sql but does
    * NOT register the `avro` short name (lookupDataSource special-cases
    * the bare name into a "deploy spark-avro" error) — the fully
    * qualified class name loads the same built-in format directly. */
  val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  private def sliceDir(d: String, fmt: String): String =
    graft.TmpSlices.dir("graft_roundtrip", s"${fmt}_${graft.TmpSlices.key(d)}")

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_scan_orc",
      (s, d) => {
        val dir = sliceDir(d, "orc")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_linenumber", "l_returnflag", "l_shipdate")
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_linenumber").cast("long")).as("sum_line"),
            min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
            min("l_shipdate").as("first_ship"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(SUM(l_linenumber) AS BIGINT) AS sum_line,
             |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
             |  MIN(l_shipdate) AS first_ship
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = false),

    QueryDef(
      "q_scan_avro",
      (s, d) => {
        val dir = sliceDir(d, "avro")
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
          .write.mode("overwrite").format(AvroFormat).save(dir)
        s.read.format(AvroFormat).load(dir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum("o_custkey").as("sum_cust"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
            min("o_orderdate").as("first_date"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
             |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
             |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
             |  MIN(o_orderdate) AS first_date
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      headline = false),

    // JSON-lines — the interchange format most text corpora actually
    // arrive in. The round-trip covers string escaping (document text
    // with arbitrary punctuation survives a JSON encode/decode cycle —
    // the checksum over text lengths would drift on any mangling), and
    // the aggregate pins counts per language like a corpus manifest.
    // Schema-first read-back, same 100 TB posture as q_scan_csv:
    // inference is a full extra pass over the data and a type-drift
    // risk (a shard whose doc_ids all fit in INT infers narrower).
    QueryDef(
      "q_scan_jsonl",
      (s, d) => {
        val dir = sliceDir(d, "jsonl")
        Tables.documents(s, d)
          .select("doc_id", "lang", "source", "text", "n_chars")
          .write.mode("overwrite").json(dir)
        s.read
          .schema("doc_id BIGINT, lang STRING, source STRING, text STRING, n_chars BIGINT")
          .json(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(length(col("text")).cast("long")).as("sum_text_len"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(SUM(len(text)) AS BIGINT) AS sum_text_len,
             |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      headline = false),

    // CSV — the reference's own format (its pipelines are schema-first
    // CSV readers, `temDataRead.py:21-25`; graft.reference exercises
    // that faithfully). This closes the source matrix as an ORACLE
    // obligation: schema-first read-back (no inference — the 100 TB
    // posture; inference is a full extra pass and type drift), explicit
    // timestamp format, and a customer slice whose string column
    // (c_mktsegment) and decimal-ish acctbal survive quoting — acctbal
    // rides the round trip as DOUBLE text and is checked through an
    // exact cents quantization (round(x·100) → BIGINT sum), so any
    // parse drift in the decimal representation breaks the hash while
    // the aggregate itself stays on exact integers per the module
    // contract.
    QueryDef(
      "q_scan_csv",
      (s, d) => {
        val dir = sliceDir(d, "csv")
        Tables.customer(s, d)
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
          .write.mode("overwrite").option("header", "true").csv(dir)
        s.read
          .schema("c_custkey BIGINT, c_nationkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
          .option("header", "true")
          .csv(dir)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum("c_nationkey").cast("long").as("sum_nation"),
            sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).cast("long").as("sum_acctbal_cents"),
            min("c_custkey").as("min_key"), max("c_custkey").as("max_key"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |  CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation,
             |  CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents,
             |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      headline = false),

    // Plain-text lines — the rawest corpus interchange (one document
    // per line, the Common-Crawl-derivative drop format). `read.text`
    // is also the entry point for "bring your own parser" ingestion at
    // 100 TB: a text scan is splittable and schema-free, the parse is a
    // downstream projection. The round-trip (write.text → read.text)
    // covers line-framing fidelity; the aggregate checksums line count
    // and total/min/max line length against the source-of-truth table.
    // (Documents' synthetic text is verified newline-free — a text
    // round-trip of embedded newlines would honestly split lines, which
    // is the format's contract, not a bug.)
    QueryDef(
      "q_scan_text",
      (s, d) => {
        val dir = sliceDir(d, "text")
        Tables.documents(s, d)
          .select("text")
          .write.mode("overwrite").text(dir)
        s.read.text(dir)
          .agg(count(lit(1)).as("n_lines"),
            sum(length(col("value")).cast("long")).as("sum_len"),
            min(length(col("value"))).as("min_len"),
            max(length(col("value"))).as("max_len"))
      },
      Some("""SELECT COUNT(*) AS n_lines,
             |  CAST(SUM(len(text)) AS BIGINT) AS sum_len,
             |  CAST(MIN(len(text)) AS INT) AS min_len,
             |  CAST(MAX(len(text)) AS INT) AS max_len
             |FROM documents""".stripMargin),
      headline = false),

    // Hive-style partitioned parquet — THE 100 TB scan layout: the
    // partition column lives in the directory name, so a filter on it
    // prunes whole directories before any row is read (the plan shows
    // it as PartitionFilters, distinct from row-group PushedFilters;
    // ScaleSpec pins both the static and the runtime-DPP mechanism).
    // This entry makes the layout an ORACLE obligation: write a slice
    // partitioned by ship year, read it back through the partition-
    // discovering reader with a year filter, and match the aggregate
    // DuckDB computes from the unpartitioned original — a reader that
    // mis-binds the partition column to rows (the classic off-by-one
    // of directory-derived columns) hash-mismatches.
    QueryDef(
      "q_scan_partitioned",
      (s, d) => {
        val dir = sliceDir(d, "parted")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_quantity"), year(col("l_shipdate")).as("ship_year"))
          .write.mode("overwrite").partitionBy("ship_year").parquet(dir)
        s.read.parquet(dir)
          .filter(col("ship_year") >= 1996)
          .groupBy("ship_year", "l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty_int"),
            min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
          .orderBy("ship_year", "l_returnflag")
      },
      Some("""SELECT CAST(year(l_shipdate) AS INT) AS ship_year, l_returnflag,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_int,
             |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
             |FROM lineitem WHERE year(l_shipdate) >= 1996
             |GROUP BY 1, 2 ORDER BY ship_year, l_returnflag""".stripMargin),
      headline = false),

    // XML — Spark 4's built-in XML source (merged from spark-xml; no
    // external connector jar). Feeds/exports still arrive as XML in
    // enterprise lakes; the round-trip covers element encode/decode —
    // entity escaping of text content, typed read-back under an
    // explicit schema (same no-inference posture as csv/jsonl: XML
    // inference is a full extra pass). rowTag is explicit on both
    // sides; the aggregate is the per-lang corpus manifest the jsonl
    // entry pins, so the two interchange formats are held to the
    // identical contract.
    QueryDef(
      "q_scan_xml",
      (s, d) => {
        val dir = sliceDir(d, "xml")
        Tables.documents(s, d)
          .select("doc_id", "lang", "source", "text", "n_chars")
          .write.mode("overwrite").option("rowTag", "doc").format("xml").save(dir)
        s.read
          .schema("doc_id BIGINT, lang STRING, source STRING, text STRING, n_chars BIGINT")
          .option("rowTag", "doc")
          .format("xml").load(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(length(col("text")).cast("long")).as("sum_text_len"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(SUM(len(text)) AS BIGINT) AS sum_text_len,
             |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      headline = false),

    // Parquet schema evolution — the lakehouse reality every long-lived
    // table hits: old files were written before a column existed, new
    // files carry it, and ONE read must span both vintages. Two
    // vintages are written here (≤1995 orders without o_year; later
    // orders with it), read back through `mergeSchema` — Spark unions
    // the footers into the superset schema and fills the missing
    // column with NULL for legacy files (no rewrite of old data, the
    // whole point at 100 TB). The aggregate then proves the NULL
    // semantics: legacy rows land in the `-1` bucket via coalesce, new
    // rows group by their real year, and totals conserve the source
    // table. Money stays exact DECIMAL cents.
    QueryDef(
      "q_scan_merge_schema",
      (s, d) => {
        val dir = sliceDir(d, "evolved")
        val base = Tables.orders(s, d).selectExpr("o_orderkey",
          "CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents",
          "year(o_orderdate) AS yr")
        base.filter(col("yr") <= 1995).select("o_orderkey", "cents")
          .write.mode("overwrite").parquet(s"$dir/v1")
        base.filter(col("yr") > 1995)
          .selectExpr("o_orderkey", "cents", "yr AS o_year")
          .write.mode("overwrite").parquet(s"$dir/v2")
        s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
          .groupBy(coalesce(col("o_year"), lit(-1)).as("o_year"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .selectExpr("CAST(o_year AS INT) AS o_year", "n",
            "CAST(cents AS BIGINT) AS cents")
          .orderBy("o_year")
      },
      Some("""WITH f AS (
             |  SELECT CASE WHEN year(o_orderdate) <= 1995 THEN -1
             |              ELSE year(o_orderdate) END AS o_year,
             |    CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
             |  FROM orders)
             |SELECT CAST(o_year AS INT) AS o_year, COUNT(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS cents
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Partition-SPEC evolution (the layout sibling of
    // q_scan_merge_schema's column evolution): history lands
    // day-partitioned, the spec later coarsens to month — a 100 TB
    // store carries both vintages side by side for years, and every
    // reader must prune BOTH layouts for a date range that straddles
    // the spec change. Each side filters on its own partition column
    // (day=... / month=... reach the scans as PartitionFilters; the
    // month side adds a row-level ts refinement for the sub-month
    // remainder), then the union normalizes and aggregates. Values are
    // cents-quantized once so the sum is exact integer.
    QueryDef(
      "q_part_evolution",
      (s, d) => {
        val dir = sliceDir(d, "ptev")
        val ev = Tables.events(s, d).selectExpr("event_type", "ts",
          "CAST(round(value * 100) AS BIGINT) AS cents",
          "to_date(ts) AS day",
          "CAST(date_trunc('month', ts) AS DATE) AS month")
        ev.filter(col("day") <= lit("2024-01-15"))
          .select("event_type", "ts", "cents", "day")
          .write.partitionBy("day").mode("overwrite").parquet(s"$dir/daily")
        ev.filter(col("day") > lit("2024-01-15"))
          .select("event_type", "ts", "cents", "month")
          .write.partitionBy("month").mode("overwrite").parquet(s"$dir/monthly")
        val r1 = s.read.parquet(s"$dir/daily")
          .filter(col("day").between(lit("2024-01-10"), lit("2024-01-20")))
          .select("event_type", "cents")
        val r2 = s.read.parquet(s"$dir/monthly")
          .filter(col("month") === lit("2024-01-01"))
          .filter(to_date(col("ts")).between(lit("2024-01-10"), lit("2024-01-20")))
          .select("event_type", "cents")
        r1.unionAll(r2).groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("cents")).cast("bigint").as("cents"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM events
             |WHERE CAST(ts AS DATE) BETWEEN '2024-01-10' AND '2024-01-20'
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
