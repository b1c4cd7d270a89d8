package graft.functions

import graft.{Parity, QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Text-analysis surface for a training-data pipeline (builder prompt +
  * SURVEY.md §2.2 extension ops): token counting, quality scoring,
  * language-ID heuristic, document fingerprinting. The reference has no
  * text ops at all (its four scripts are sensor-JSON plumbing —
  * `pyspark_scripts/temReadFromTopic.py:78-84` is the closest thing), so
  * this whole family is engine extension surface over `documents`.
  *
  * Everything is built-in functions + SQL higher-order functions — no
  * UDFs, so the projections stay codegen-friendly and fully distributed
  * (per-row map work, no shuffle except the final demo aggregations). At
  * 100 TB these are embarrassingly parallel scans.
  *
  * Cross-engine determinism:
  *  - token hash = first 8 hex chars of md5 → BIGINT; md5 is identical
  *    everywhere, and the hex→int parse is exact in both engines
  *    (Spark `conv(.,16,10)`, DuckDB `CAST('0x'||. AS BIGINT)`);
  *  - the rolling fingerprint folds left-to-right with `% 1e9+7` at each
  *    step — pure integer math, order fixed by the fold;
  *  - ratio doubles are single IEEE divisions (deterministic); averaged
  *    ratios go through [[Parity]] decimal sums.
  */
object TextAnalysis {

  /** Spark SQL: md5-derived 32-bit token hash as BIGINT. */
  def tokHash(w: String): String =
    s"CAST(conv(substr(md5($w), 1, 8), 16, 10) AS BIGINT)"

  /** DuckDB twin of [[tokHash]]. */
  def duckTokHash(w: String): String =
    s"CAST(('0x' || substr(md5($w), 1, 8)) AS BIGINT)"

  private[graft] val stop = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private[graft] val stopSql = stop.map(w => s"'$w'").mkString(", ")

  /** PII patterns, RE2 ∩ java.util.regex common subset (q_pii_redact):
    * character classes and bounded repetition only, no lookaround /
    * backreferences, so Spark (Java regex) and DuckDB (RE2) match the
    * same spans. */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  private[graft] val Ipv4Re  = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** The q_pii_redact spiked corpus (text + deterministically planted
    * PII) — shared with the spec so redaction idempotence is checked
    * against the exact query input. */
  private[graft] def spikedDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).selectExpr("doc_id", "lang",
      "concat(text," +
        " CASE WHEN doc_id % 7 = 0 THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com now') ELSE '' END," +
        " CASE WHEN doc_id % 11 = 0 THEN concat(' call +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END," +
        " CASE WHEN doc_id % 13 = 0 THEN concat(' from 10.0.', CAST(doc_id % 256 AS STRING), '.', CAST((doc_id * 7) % 256 AS STRING)) ELSE '' END) AS t2")

  /** Two-pass distributed cumulative sum feeding the q_text_pack bins.
    *
    * Pass 1: range-partition on `doc_id` (range, so partition order ==
    * key order) and take a running sum WITHIN each partition — every
    * window here has a partitionBy, so no single-task global sort.
    * Pass 2: per-partition totals (numPartitions rows) get an exclusive
    * prefix-sum; that tiny frame is broadcast-joined back and added to
    * the local running sums, reconstructing the exact global cumsum.
    * At 100 TB the only global window runs over ~thousands of rows (one
    * per partition), never over the corpus.
    */
  private[graft] def distributedCumsumPack(
      s: org.apache.spark.sql.SparkSession, d: String, partitions: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint pins ONE physical layout: both downstream branches
    // (local running sums, per-partition offsets) must see identical
    // pid↔row assignments, and repartitionByRange SAMPLES its range
    // boundaries — without pinning, correctness silently depends on
    // Spark reusing the exchange for both branches.
    val docs = Tables.documents(s, d)
      .selectExpr("doc_id", "size(split(text, ' ')) AS n_toks")
      .repartitionByRange(partitions, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val wLocal = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = docs.withColumn("local_cum", sum(col("n_toks")).over(wLocal))
    // One row per partition; the exclusive prefix window is global but
    // runs over `partitions` rows, which is bounded by cluster size.
    // Offsets derive from `docs` (pre-window), not `local`: the join
    // reuses the shuffle but would re-execute a window-bearing branch.
    val wPrefix = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy("pid")
      .agg(sum(col("n_toks")).as("part_toks"))
      .withColumn("offset", coalesce(sum(col("part_toks")).over(wPrefix), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .selectExpr("doc_id", "n_toks",
        "CAST(floor((local_cum + offset - 1) / 2048) AS BIGINT) AS bin")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_toks"))
      .orderBy("bin")
  }

  val defs: Seq[QueryDef] = Seq(

    // Per-document structural stats: lengths, token counts, distinctness.
    QueryDef(
      "q_text_stats",
      (s, d) => Tables.documents(s, d).selectExpr(
        "doc_id",
        "length(text) AS len_chars",
        "size(split(text, ' ')) AS n_tokens",
        "size(array_distinct(split(text, ' '))) AS n_distinct",
        // mean token length: tokens are single-space separated, so
        // chars = len - (n_tokens - 1); one IEEE division, deterministic.
        "CAST(length(text) - size(split(text, ' ')) + 1 AS DOUBLE) / size(split(text, ' ')) AS avg_tok_len",
        "array_max(transform(split(text, ' '), w -> length(w))) AS max_tok_len",
        "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / size(split(text, ' ')) AS distinct_ratio")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(text) AS INT) AS len_chars,
             |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
             |  CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
             |    / len(string_split(text, ' ')) AS avg_tok_len,
             |  CAST(list_max(list_transform(string_split(text, ' '), w -> len(w))) AS INT) AS max_tok_len,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |    / len(string_split(text, ' ')) AS distinct_ratio
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Token counting two ways: whitespace and a BPE-ish regex lexer
    // (letter runs / digit runs / single non-alnum), plus long-token count.
    QueryDef(
      "q_text_tokens",
      (s, d) => Tables.documents(s, d).selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS ws_tokens",
        "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS lex_tokens",
        "size(filter(split(text, ' '), w -> length(w) > 6)) AS long_tokens")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS lex_tokens,
             |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 6)) AS INT) AS long_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
      headline = false),

    // Language-ID heuristic: English stopword fraction → 'en'/'other',
    // summarized per true lang. (The synthetic corpus shares vocabulary
    // across langs, so accuracy is weak — what's checked is the operator,
    // a distributed filter-ratio classifier, not the lexicon.)
    QueryDef(
      "q_text_langid",
      (s, d) => Tables.documents(s, d).selectExpr(
        "lang",
        s"CAST(size(filter(split(text, ' '), w -> w IN ($stopSql))) AS DOUBLE) / size(split(text, ' ')) AS en_score")
        .selectExpr("lang", "en_score",
          "CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS pred")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred") === "en", 1L).otherwise(0L)).as("n_pred_en"),
          Parity.davg(col("en_score"), 6).as("avg_en_score"))
        .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS n,
              |  CAST(SUM(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en,
              |  ${Parity.sqlDavg("en_score", 6)} AS avg_en_score
              |FROM (
              |  SELECT lang, en_score,
              |    CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS pred
              |  FROM (
              |    SELECT lang,
              |      CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopSql))) AS DOUBLE)
              |        / len(string_split(text, ' ')) AS en_score
              |    FROM documents))
              |GROUP BY lang ORDER BY lang""".stripMargin),
      headline = false),

    // Quality scoring: blend of length, distinctness and stopword signal,
    // bucketed. The per-row score is pure IEEE arithmetic on exact ints.
    QueryDef(
      "q_text_quality",
      (s, d) => Tables.documents(s, d).selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS n_tokens",
        "size(array_distinct(split(text, ' '))) AS n_distinct",
        s"size(filter(split(text, ' '), w -> w IN ($stopSql))) AS n_stop")
        .selectExpr("doc_id",
          """0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
            | + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
            | + 0.2 * (CAST(n_stop AS DOUBLE) / n_tokens) AS score""".stripMargin)
        .selectExpr("doc_id", "score",
          "CASE WHEN score >= 0.55 THEN 'high' WHEN score >= 0.40 THEN 'mid' ELSE 'low' END AS bucket")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), Parity.dsum(col("score"), 6).as("sum_score"))
        .orderBy("bucket"),
      Some(s"""SELECT bucket, COUNT(*) AS n, ${Parity.sqlDsum("score", 6)} AS sum_score
              |FROM (
              |  SELECT doc_id, score,
              |    CASE WHEN score >= 0.55 THEN 'high' WHEN score >= 0.40 THEN 'mid' ELSE 'low' END AS bucket
              |  FROM (
              |    SELECT doc_id,
              |      0.5 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 200.0)
              |       + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              |                 / len(string_split(text, ' ')))
              |       + 0.2 * (CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopSql))) AS DOUBLE)
              |                 / len(string_split(text, ' '))) AS score
              |    FROM documents))
              |GROUP BY bucket ORDER BY bucket""".stripMargin),
      headline = false),

    // Overlapping token chunking — THE training-data preprocessing op:
    // fixed-size windows (40 tokens, stride 30) per document, exploded
    // to one row per chunk with position metadata. Pure per-row map
    // work + a generator: embarrassingly parallel at any scale.
    QueryDef(
      "q_text_chunk",
      (s, d) => Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id", "size(toks) AS n_toks",
          // chunk starts: 1, 31, 61, ... up to the last index that opens
          // a non-empty window
          "transform(sequence(1, greatest(size(toks) - 9, 1), 30), i -> " +
            "named_struct('start', i, 'body', concat_ws(' ', slice(toks, i, 40)))) AS chunks")
        .selectExpr("doc_id", "n_toks", "posexplode(chunks) AS (chunk_idx, c)")
        .selectExpr("doc_id", "chunk_idx", "c.start AS tok_start",
          "size(split(c.body, ' ')) AS chunk_toks", "c.body AS chunk_text")
        .orderBy("doc_id", "chunk_idx"),
      Some("""SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             |  CAST(tok_start AS INT) AS tok_start,
             |  CAST(len(string_split(chunk_text, ' ')) AS INT) AS chunk_toks, chunk_text
             |FROM (
             |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(starts)), j ->
             |    struct_pack(chunk_idx := j - 1, tok_start := starts[j],
             |      chunk_text := array_to_string(toks[starts[j]:starts[j]+39], ' '))),
             |    recursive := true)
             |  FROM (
             |    SELECT doc_id, toks,
             |      generate_series(1, greatest(len(toks) - 9, 1), 30) AS starts
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))
             |ORDER BY doc_id, chunk_idx""".stripMargin),
      headline = false),

    // Greedy sequence packing: assign documents to fixed-budget bins by
    // cumulative token count (the distributed approximation of training
    // batch packing — exact bin packing is sequential; running-sum
    // bucketing is the shape that scales).
    //
    // The running sum is the classic two-pass distributed cumsum, NOT a
    // global partitionBy-less window (which would funnel the whole corpus
    // through one task): (1) range-partition by doc_id and take a
    // per-partition running sum; (2) aggregate per-partition totals — one
    // row per partition — into exclusive prefix offsets (the only global
    // window runs over ~numPartitions rows); (3) broadcast the offsets
    // back and add. Exact same result, no single-task stage over the data.
    QueryDef(
      "q_text_pack",
      (s, d) => distributedCumsumPack(s, d, partitions = 8),
      Some("""SELECT bin, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS bin_toks FROM (
             |  SELECT doc_id, n_toks,
             |    CAST(floor((SUM(n_toks) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 2048) AS BIGINT) AS bin
             |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents))
             |GROUP BY bin ORDER BY bin""".stripMargin),
      headline = false),

    // Edit distance between consecutive documents — levenshtein as the
    // character-level near-dup metric (token/shingle metrics live in
    // Dedup); the adjacent-pair join bounds the quadratic cost.
    QueryDef(
      "q_text_editdist",
      (s, d) => {
        val docs = Tables.documents(s, d).select(
          col("doc_id"), substring(col("text"), 1, 120).as("t"))
        val a = docs.select(col("doc_id").as("a"), col("t").as("ta"))
        val b = docs.select(col("doc_id").as("b"), col("t").as("tb"))
        a.join(b, col("b") === col("a") + 1)
          .selectExpr("a", "b", "levenshtein(ta, tb) AS dist",
            "levenshtein(ta, ta) AS self_zero")
          .orderBy("a")
      },
      Some("""SELECT a, b, dist, self_zero FROM (
             |  SELECT x.doc_id AS a, y.doc_id AS b,
             |    CAST(levenshtein(substr(x.text, 1, 120), substr(y.text, 1, 120)) AS INT) AS dist,
             |    CAST(levenshtein(substr(x.text, 1, 120), substr(x.text, 1, 120)) AS INT) AS self_zero
             |  FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 1)
             |ORDER BY a""".stripMargin),
      headline = false),

    // Deterministic train/val/test split by content hash — the holdout
    // idiom for a 100 TB corpus: no RNG state, no sampling seed to
    // coordinate across jobs; membership is a pure function of the key,
    // reproducible from any engine (oracle checks the split itself).
    QueryDef(
      "q_split_holdout",
      (s, d) => Tables.documents(s, d)
        .selectExpr("doc_id", s"${tokHash("CAST(doc_id AS STRING)")} % 100 AS h")
        .selectExpr("doc_id",
          "CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split")
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_checksum"))
        .orderBy("split"),
      Some(s"""SELECT split, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              |FROM (
              |  SELECT doc_id,
              |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
              |  FROM (SELECT doc_id, ${duckTokHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
              |        FROM documents))
              |GROUP BY split ORDER BY split""".stripMargin)),

    // TF-IDF top term per document — the canonical corpus-statistics op:
    // term frequency is an explode + groupBy (map-side combinable),
    // document frequency aggregates the (doc, term) pairs again, and the
    // small term-frequency table broadcast-joins back. At 100 TB both
    // aggregations shuffle once on their keys; nothing is quadratic.
    // ln() is not correctly rounded cross-engine, so the score is rounded
    // to 6 dp on both sides (same rule as every ln/exp output here).
    QueryDef(
      "q_text_tfidf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS term")
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val total = docs.agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        tf.join(broadcast(dfreq), "term")
          .crossJoin(broadcast(total))
          .selectExpr("doc_id", "term",
            "round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") === 1)
          .select("doc_id", "term", "score")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |total AS (SELECT COUNT(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, tf.term AS term,
             |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
             |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN total)
             |SELECT doc_id, term, score FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |            ORDER BY score DESC, term) AS rnk FROM scored)
             |WHERE rnk = 1 ORDER BY doc_id""".stripMargin),
      headline = false),

    // Document fingerprint: left-fold rolling hash over md5-derived token
    // hashes, mod 1e9+7 at each step (no overflow: h*31 + tok < 2^63).
    QueryDef(
      "q_text_fingerprint",
      (s, d) => Tables.documents(s, d).selectExpr(
        "doc_id",
        s"""aggregate(split(text, ' '), CAST(0 AS BIGINT),
           |  (h, w) -> (h * 31 + ${tokHash("w")}) % 1000000007) AS fp""".stripMargin)
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  list_reduce(
              |    list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(text, ' '), w -> ${duckTokHash("w")})),
              |    (h, x) -> (h * 31 + x) % 1000000007) AS fp
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII detection + redaction — the scrubbing pass every training
    // corpus runs before release: regex-detect emails / phone numbers /
    // IPv4 addresses, count them, and rewrite each span to a typed
    // placeholder. The synthetic corpus carries no natural PII, so the
    // classes are PLANTED deterministically from doc_id (the
    // q_snapshot_diff convention: both engines derive the same spiked
    // text, so detection and redaction are genuinely exercised and the
    // redacted-corpus checksum is oracle-pinned). Patterns stay in the
    // RE2 ∩ java.util.regex common subset (character classes + bounded
    // repetition, no lookaround) so Spark and DuckDB agree byte-for-
    // byte. 100 TB shape: pure per-row codegen'd projection — three
    // regexp passes, no shuffle except the final per-lang rollup.
    QueryDef(
      "q_pii_redact",
      (s, d) => {
        spikedDocs(s, d)
          .withColumn("n_e", regexp_count(col("t2"), lit(EmailRe)))
          .withColumn("n_p", regexp_count(col("t2"), lit(PhoneRe)))
          .withColumn("n_i", regexp_count(col("t2"), lit(Ipv4Re)))
          .withColumn("red", regexp_replace(
            regexp_replace(regexp_replace(col("t2"), EmailRe, "<EMAIL>"),
              PhoneRe, "<PHONE>"), Ipv4Re, "<IP>"))
          .selectExpr("lang", "n_e", "n_p", "n_i",
            s"${tokHash("red")} AS h")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_e") + col("n_p") + col("n_i") > 0, 1L).otherwise(0L))
              .as("docs_with_pii"),
            sum(col("n_e")).as("n_emails"),
            sum(col("n_p")).as("n_phones"),
            sum(col("n_i")).as("n_ips"),
            sum(col("h")).as("red_cksum"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, text ||
              |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
              |    CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
              |    CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS t2
              |  FROM documents),
              |m AS (SELECT lang,
              |    len(regexp_extract_all(t2, '$EmailRe')) AS n_e,
              |    len(regexp_extract_all(t2, '$PhoneRe')) AS n_p,
              |    len(regexp_extract_all(t2, '$Ipv4Re')) AS n_i,
              |    regexp_replace(regexp_replace(regexp_replace(t2,
              |      '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
              |      '$Ipv4Re', '<IP>', 'g') AS red
              |  FROM t)
              |SELECT lang, COUNT(*) AS n_docs,
              |  CAST(SUM(CASE WHEN n_e + n_p + n_i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
              |  CAST(SUM(n_e) AS BIGINT) AS n_emails,
              |  CAST(SUM(n_p) AS BIGINT) AS n_phones,
              |  CAST(SUM(n_i) AS BIGINT) AS n_ips,
              |  CAST(SUM(${duckTokHash("red")}) AS BIGINT) AS red_cksum
              |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),

    // Repetition ratio — the corpus-filtering signal that catches
    // boilerplate and degenerate generations (a doc whose mass sits in
    // a few repeated bigrams): duplicate-bigram fraction and the top
    // bigram's share of all bigrams. Two hash aggregates over the
    // exploded pairs — map-side combinable, no per-doc state beyond
    // counts, the same guarded sequence as q_bpe_pairs.
    QueryDef(
      "q_text_repetition",
      (s, d) => Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          "explode(transform(CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1) " +
            "ELSE CAST(array() AS ARRAY<INT>) END, " +
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))) AS p")
        .selectExpr("doc_id", "p.w1 AS w1", "p.w2 AS w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          max(col("n")).as("top_n"))
        .selectExpr("doc_id", "n_bigrams", "n_distinct",
          "CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_bigrams AS dup_frac",
          "CAST(top_n AS DOUBLE) / n_bigrams AS top_frac")
        .orderBy("doc_id"),
      Some("""WITH pairs AS (
             |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 1),
             |           i -> struct_pack(w1 := t[i], w2 := t[i + 1])), recursive := true)
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
             |per AS (SELECT doc_id, w1, w2, COUNT(*) AS n FROM pairs GROUP BY doc_id, w1, w2)
             |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, COUNT(*) AS n_distinct,
             |  CAST(1 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) / SUM(n) AS dup_frac,
             |  CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_frac
             |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Trained multinomial Naive Bayes language classifier: token
    // likelihoods with Laplace smoothing fitted on the even doc_ids,
    // evaluated on the odd — the second TRAINED model in the engine
    // (beside the GD quality classifier) and the classic first-pass
    // lang-ID for corpus routing. Every log term is ln of an INTEGER
    // (count+1, or langTotal+V), quantized to micros BEFORE the
    // per-document sum, so scores are exact BIGINTs and the argmax is
    // bit-identical cross-engine (ties → lexicographic lang). Scale
    // shape: the model (langs × distinct train tokens) is a keyed
    // relation JOINED to the exploded test tokens on the token — the
    // corpus never collects; the 5-row lang spine and the two scalar
    // totals broadcast. Output: the test-set confusion matrix.
    QueryDef(
      "q_nb_lang",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val train = docs.filter(col("doc_id") % 2 === 0)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        val cntTl = train.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        val cntL = train.groupBy("lang").agg(count(lit(1)).as("n_l"))
        val vocab = train.agg(countDistinct(col("tok")).as("v"))
        val priors = docs.filter(col("doc_id") % 2 === 0)
          .groupBy("lang").agg(count(lit(1)).as("nd"))
        val nTrain = docs.filter(col("doc_id") % 2 === 0).agg(count(lit(1)).as("nt"))
        // per-(lang, token) smoothed log-likelihood in integer micros
        val model = cntTl.join(broadcast(cntL), "lang").crossJoin(broadcast(vocab))
          .selectExpr("lang", "tok",
            """CAST(round(ln(CAST(c + 1 AS DOUBLE)) * 1000000) AS BIGINT)
              | - CAST(round(ln(CAST(n_l + v AS DOUBLE)) * 1000000) AS BIGINT) AS ll_micro""".stripMargin)
        // a test token missing from a lang's rows scores ln(1) − ln(n_l+v)
        val miss = broadcast(cntL.crossJoin(broadcast(vocab))
          .selectExpr("lang",
            "-CAST(round(ln(CAST(n_l + v AS DOUBLE)) * 1000000) AS BIGINT) AS miss_micro"))
        val prior = broadcast(priors.crossJoin(broadcast(nTrain))
          .selectExpr("lang",
            """CAST(round(ln(CAST(nd AS DOUBLE)) * 1000000) AS BIGINT)
              | - CAST(round(ln(CAST(nt AS DOUBLE)) * 1000000) AS BIGINT) AS prior_micro""".stripMargin))
        val test = docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang").as("true_lang"),
            explode(split(col("text"), " ")).as("tok"))
        val scored = test
          .crossJoin(miss)
          .join(model, Seq("lang", "tok"), "left")
          .withColumn("term", coalesce(col("ll_micro"), col("miss_micro")))
          .groupBy("doc_id", "true_lang", "lang")
          .agg(sum(col("term")).as("tok_score"))
          .join(prior, "lang")
          .withColumn("score", col("tok_score") + col("prior_micro"))
        val wPick = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("lang"))
        scored.withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .groupBy(col("true_lang"), col("lang").as("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("true_lang", "pred_lang")
      },
      Some("""WITH train AS (
             |  SELECT lang, UNNEST(string_split(text, ' ')) AS tok
             |  FROM documents WHERE doc_id % 2 = 0),
             |cnt_tl AS (SELECT lang, tok, COUNT(*) AS c FROM train GROUP BY 1, 2),
             |cnt_l AS (SELECT lang, COUNT(*) AS n_l FROM train GROUP BY 1),
             |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM train),
             |priors AS (SELECT lang, COUNT(*) AS nd FROM documents
             |           WHERE doc_id % 2 = 0 GROUP BY 1),
             |ntr AS (SELECT COUNT(*) AS nt FROM documents WHERE doc_id % 2 = 0),
             |model AS (
             |  SELECT cnt_tl.lang, tok,
             |    CAST(round(ln(CAST(c + 1 AS DOUBLE)) * 1000000) AS BIGINT)
             |    - CAST(round(ln(CAST(n_l + v AS DOUBLE)) * 1000000) AS BIGINT) AS ll_micro
             |  FROM cnt_tl JOIN cnt_l ON cnt_l.lang = cnt_tl.lang CROSS JOIN vocab),
             |miss AS (
             |  SELECT lang,
             |    -CAST(round(ln(CAST(n_l + v AS DOUBLE)) * 1000000) AS BIGINT) AS miss_micro
             |  FROM cnt_l CROSS JOIN vocab),
             |prior AS (
             |  SELECT lang,
             |    CAST(round(ln(CAST(nd AS DOUBLE)) * 1000000) AS BIGINT)
             |    - CAST(round(ln(CAST(nt AS DOUBLE)) * 1000000) AS BIGINT) AS prior_micro
             |  FROM priors CROSS JOIN ntr),
             |test AS (
             |  SELECT doc_id, lang AS true_lang, UNNEST(string_split(text, ' ')) AS tok
             |  FROM documents WHERE doc_id % 2 = 1),
             |scored AS (
             |  SELECT t.doc_id, t.true_lang, miss.lang,
             |    CAST(SUM(COALESCE(ll_micro, miss_micro)) AS BIGINT)
             |      + ANY_VALUE(prior_micro) AS score
             |  FROM test t
             |  CROSS JOIN miss
             |  LEFT JOIN model ON model.lang = miss.lang AND model.tok = t.tok
             |  JOIN prior ON prior.lang = miss.lang
             |  GROUP BY 1, 2, 3),
             |pick AS (
             |  SELECT doc_id, true_lang, lang,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY score DESC, lang) AS rn
             |  FROM scored)
             |SELECT true_lang, lang AS pred_lang, COUNT(*) AS n
             |FROM pick WHERE rn = 1
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
