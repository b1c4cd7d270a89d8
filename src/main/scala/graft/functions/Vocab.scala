package graft.functions

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Corpus vocabulary statistics — the token-level counting passes every
  * tokenizer/LM training run starts with: frequency-ranked vocabulary,
  * adjacent-pair counts (the candidate table of one BPE merge step),
  * n-gram language-model conditionals, and a bounded inverted index.
  * The reference does no text processing at all (its payloads are
  * numeric CSV, SURVEY.md §5); this is extension surface over
  * `documents`.
  *
  * Scale design: every query is explode → hash-aggregate — map-side
  * combinable counts over (token | pair | trigram) keys, one shuffle
  * each, no per-group state beyond the count. Top-k cuts go through
  * rank-over-count windows AFTER aggregation (the aggregated key space
  * is ≪ rows) or TakeOrderedAndProject. The inverted index bounds its
  * posting lists with a per-token rank BEFORE collecting (rank ≤ k plans
  * as WindowGroupLimit), so no collect_list ever sees unbounded input —
  * the difference between an index build that survives 100 TB and one
  * that OOMs on the first stop-word.
  */
object Vocab {

  /** Ordered (non-distinct) token frame: one row per token occurrence. */
  private def tokens(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "posexplode(toks) AS (pos, tok)")

  /** Greedy BPE merge training: `k` rounds of (count adjacent pairs →
    * pick argmax → rewrite the corpus merging that pair), returning the
    * learned merge table — the loop [[q_bpe_pairs]] is one step of.
    *
    * The rewrite trick that makes a merge round ONE codegen'd string
    * expression on both engines (no fold/UDF): each document is held as
    * `' ' + join(toks, '  ') + ' '` — every token flanked by its own
    * spaces — so `replace(t2, ' w1  w2 ', ' w1+w2 ')` merges exactly the
    * greedy left-to-right non-overlapping occurrences (SQL replace scans
    * left to right and resumes after the inserted text, so a run
    * [a,a,a] merges to [a+a, a] — the BPE convention) and the output is
    * back in the same representation for the next round. Merged tokens
    * are `w1+w2` ('+' must not appear in the raw vocabulary — true for
    * the generator corpus), so later rounds merge merged tokens like any
    * other.
    *
    * Scale shape: the corpus never leaves the executors — each round
    * collects ONE argmax row (the model row being trained, the k-means
    * centroid analog), and the corpus state is a linear chain of
    * projections over the scan (round r costs a scan + r string
    * replaces; a long-k production run would persist every few rounds
    * the way [[graft.operators.Clustering]] checkpoints centroids).
    * Deterministic: integer counts, ties broken on (w1, w2) text. */
  private[graft] def bpeMerges(s: org.apache.spark.sql.SparkSession, d: String,
                               k: Int): org.apache.spark.sql.DataFrame =
    bpeMergesFrame(s, Tables.documents(s, d), k)

  /** One BPE training round's argmax over the flanked-token corpus
    * column `t2`: the (w1, w2, count) of the most frequent adjacent
    * pair, ties on pair text. ONE row leaves the executors — the model
    * row being trained, the k-means-centroid analog. */
  private def bpeBest(txt: org.apache.spark.sql.DataFrame): (String, String, Long) = {
    val best = txt
      .selectExpr("split(substring(t2, 2, length(t2) - 2), '  ') AS toks")
      .selectExpr("explode(transform(CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1) " +
        "ELSE CAST(array() AS ARRAY<INT>) END, " +
        "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))) AS p")
      .selectExpr("p.w1 AS w1", "p.w2 AS w2")
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(1).head()
    (best.getString(0), best.getString(1), best.getLong(2))
  }

  /** [[bpeMerges]] over an arbitrary `text`-column frame (spec entry).
    *
    * Each round's corpus state is CACHED (at most two round states live
    * at once): without it, round r's argmax re-executes the whole
    * lineage from the parquet scan — r string rewrites plus the
    * split/join re-tokenization — so the k-round loop did O(k²)
    * rewrites and k full re-scans. With the cache each round is one
    * in-memory replace. The round state is the rewritten corpus
    * (~bytes of the text column), the same size class FrameCache
    * already holds for the shingle relation; a 100 TB trainer would
    * localCheckpoint the round state for the same reason. */
  private[graft] def bpeMergesFrame(s: org.apache.spark.sql.SparkSession,
                                    docs: org.apache.spark.sql.DataFrame,
                                    k: Int): org.apache.spark.sql.DataFrame = {
    var txt = docs
      .selectExpr("concat(' ', array_join(split(text, ' '), '  '), ' ') AS t2")
    var prev: Option[org.apache.spark.sql.DataFrame] = None
    val rows = (1 to k).map { r =>
      val cur = txt.cache()
      val (w1, w2, n) = bpeBest(cur) // materializes cur off prev's cache
      prev.foreach(_.unpersist())
      prev = Some(cur)
      txt = cur.select(org.apache.spark.sql.functions.replace(col("t2"),
        lit(s" $w1  $w2 "), lit(s" $w1+$w2 ")).as("t2"))
      (r, w1, w2, n)
    }
    prev.foreach(_.unpersist())
    import s.implicits._
    rows.toDF("merge_round", "w1", "w2", "n")
      .selectExpr("merge_round", "w1", "w2", "concat(w1, '+', w2) AS merged", "n")
      .orderBy("merge_round")
  }

  /** The INFERENCE half of BPE: train k merges ([[bpeMerges]]) and apply
    * them to every document, returning per-doc token counts before/after
    * — the compression the learned vocabulary buys. Same replace-chain
    * trick with `doc_id` carried through; the k merge rows are the only
    * data the driver ever holds, and each round's rewrite is one more
    * codegen'd string projection over the scan (a production encoder
    * would collect the k-row merge table once and apply all k replaces
    * in a single pass — here each round stays a separate projection so
    * the training argmax and the encode share the same corpus state). */
  private[graft] def bpeEncode(s: org.apache.spark.sql.SparkSession, d: String,
                               k: Int): org.apache.spark.sql.DataFrame = {
    // Same round-state cache as [[bpeMergesFrame]]; the LAST round's
    // cache stays live because the returned frame reads it — released
    // with the session (the 100 TB shape would checkpoint per round).
    var txt = Tables.documents(s, d)
      .selectExpr("doc_id", "size(split(text, ' ')) AS n_tok_before",
        "concat(' ', array_join(split(text, ' '), '  '), ' ') AS t2")
    var prev: Option[org.apache.spark.sql.DataFrame] = None
    for (_ <- 1 to k) {
      val cur = txt.cache()
      val (w1, w2, _) = bpeBest(cur)
      prev.foreach(_.unpersist())
      prev = Some(cur)
      txt = cur.select(col("doc_id"), col("n_tok_before"),
        org.apache.spark.sql.functions.replace(col("t2"),
          lit(s" $w1  $w2 "), lit(s" $w1+$w2 ")).as("t2"))
    }
    txt.selectExpr("doc_id", "n_tok_before",
        "size(split(substring(t2, 2, length(t2) - 2), '  ')) AS n_tok_after")
      .orderBy("doc_id")
  }

  /** The k unrolled training-round CTEs (pair counts → 1-row argmax →
    * replace-rewritten corpus) shared by the merge and encode oracles;
    * `carry` names extra t0 columns threaded through each rewrite.
    *
    * Every CTE is MATERIALIZED: t$r is referenced by both p$(r+1) and
    * t$(r+1), and b$r four times by t$r — inlined, the chain
    * re-evaluates multiplicatively per round (measured: the 6-round
    * statement runs 0.1 s materialized and did not finish in minutes
    * inlined). Spark needs no twin hint — each round's argmax is
    * already an eager head() action there. */
  private def duckBpeRounds(k: Int, carry: String = ""): String =
    (1 to k).map { r =>
      s"""p$r AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS n FROM (
         |  SELECT UNNEST(list_transform(generate_series(1, len(toks) - 1),
         |    i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])), recursive := true)
         |  FROM (SELECT string_split(substr(t2, 2, length(t2) - 2), '  ') AS toks
         |        FROM t${r - 1}))
         |  GROUP BY w1, w2),
         |b$r AS MATERIALIZED (SELECT w1, w2, n FROM p$r ORDER BY n DESC, w1, w2 LIMIT 1),
         |t$r AS MATERIALIZED (SELECT ${carry}replace(t2,
         |    ' ' || (SELECT w1 FROM b$r) || '  ' || (SELECT w2 FROM b$r) || ' ',
         |    ' ' || (SELECT w1 FROM b$r) || '+' || (SELECT w2 FROM b$r) || ' ') AS t2
         |  FROM t${r - 1})""".stripMargin
    }.mkString(",\n")

  /** Oracle twin of [[bpeMerges]]: the k rounds unrolled as CTE chains,
    * the same pattern q_kmeans uses for its Lloyd iterations. */
  private def duckBpeMerges(k: Int): String = {
    val union = (1 to k).map(r =>
      s"SELECT $r AS merge_round, w1, w2, w1 || '+' || w2 AS merged, n FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH t0 AS MATERIALIZED (
       |  SELECT ' ' || array_to_string(string_split(text, ' '), '  ') || ' ' AS t2
       |  FROM documents),
       |${duckBpeRounds(k)}
       |$union
       |ORDER BY merge_round""".stripMargin
  }

  /** Oracle twin of [[bpeEncode]]: the same k training rounds with
    * doc_id and the pre-merge token count carried through every
    * rewrite, then per-doc post-merge counts off the final corpus. */
  private def duckBpeEncode(k: Int): String =
    s"""WITH t0 AS MATERIALIZED (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok_before,
       |    ' ' || array_to_string(string_split(text, ' '), '  ') || ' ' AS t2
       |  FROM documents),
       |${duckBpeRounds(k, carry = "doc_id, n_tok_before, ")}
       |SELECT doc_id, n_tok_before,
       |  CAST(len(string_split(substr(t2, 2, length(t2) - 2), '  ')) AS INT) AS n_tok_after
       |FROM t$k ORDER BY doc_id""".stripMargin

  /** The corpus's trigram-instance stream (doc_id, w1, w2, w3) — one
    * row per position. Deliberately NOT cached: it is corpus-sized, and
    * its consumers reduce it map-side, so a re-explode is cheaper than
    * materializing 10⁸+ rows. Same ≥3-token guard as q_bpe_pairs. */
  private def lmInstances(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "explode(transform(CASE WHEN size(toks) >= 3 THEN sequence(1, size(toks) - 2) " +
          "ELSE CAST(array() AS ARRAY<INT>) END, " +
          "i -> struct(toks[i - 1] AS w1, toks[i] AS w2, toks[i + 1] AS w3))) AS g")
      .selectExpr("doc_id", "g.w1 AS w1", "g.w2 AS w2", "g.w3 AS w3")

  /** The trained trigram model: conditional count n3 and context count
    * nc per trigram, keyed by the space-joined trigram string (tokens
    * contain no spaces, so the concat key is bijective with the triple
    * and halves the join-side string traffic). Vocab-bounded, cached
    * per session ([[graft.FrameCache]]) — training is a once-per-corpus
    * artifact like the dedup family's shingle frame, which Bench warms
    * untimed on the same grounds; every scoring pass reuses it. */
  private[graft] def lmModel(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.FrameCache.memo(s, s"lmmodel:$d") {
      val tri = lmInstances(s, d)
        .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("n3"))
      tri.join(
        tri.groupBy("w1", "w2").agg(sum(col("n3")).as("nc")), Seq("w1", "w2"))
        .selectExpr("concat_ws(' ', w1, w2, w3) AS tg", "n3", "nc")
    }

  /** Per-source document cap and hard perplexity threshold shared by
    * q_source_cap, the curation pipeline's filter stages, and their
    * DuckDB oracles — one definition each, so the Spark plans and the
    * oracle SQL can never drift apart. */
  val SourceCap: Int = 15
  val HardNllMicro: Long = 3000000L

  /** Broadcast gate for the memoized LM: ≤ 5M conditionals is the
    * pruned-LM contract (a vocab-bounded model fits every executor); an
    * unpruned web-scale model falls back to the trigram-key equi-join. */
  val LmBroadcastMax: Long = 5000000L

  /** Per-doc trigram NLL partials against the memoized LM — the scoring
    * subtree shared by q_lm_score and the curation pipeline's
    * perplexity filter: instance explode on the single concat key,
    * broadcast model join (gated by [[LmBroadcastMax]]), per-doc
    * combinable aggregate. Returns (doc_id, n_tri, nll_sum); docs under
    * 3 tokens carry no trigrams and are absent. */
  private[graft] def lmDocScores(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame = {
    val model = lmModel(s, d)
    val mj = if (model.count() <= LmBroadcastMax) broadcast(model) else model
    Tables.documents(s, d)
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "explode(transform(CASE WHEN size(toks) >= 3 THEN sequence(1, size(toks) - 2) " +
          "ELSE CAST(array() AS ARRAY<INT>) END, " +
          "i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))) AS tg")
      .join(mj, Seq("tg"))
      .withColumn("nll_micro",
        expr("CAST(round(-ln(CAST(n3 AS DOUBLE) / CAST(nc AS DOUBLE)) * 1e6, 0) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum(col("nll_micro")).as("nll_sum"))
  }

  /** DuckDB CTE chain for the trigram model (toks → inst → tri → model)
    * plus the per-instance NLL scoring — shared by q_lm_score's oracle
    * and the composed curation pipeline's. MATERIALIZED throughout: tri
    * is referenced twice and inst twice (the multiplicative
    * re-evaluation trap). */
  private[graft] val duckLmScored: String =
    """toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |inst AS MATERIALIZED (
      |  SELECT doc_id, w1, w2, w3 FROM (
      |    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(t) - 2),
      |      i -> struct_pack(w1 := t[i], w2 := t[i + 1], w3 := t[i + 2])), recursive := true)
      |    FROM toks)),
      |tri AS MATERIALIZED (
      |  SELECT w1, w2, w3, COUNT(*) AS n3 FROM inst GROUP BY 1, 2, 3),
      |model AS MATERIALIZED (
      |  SELECT w1, w2, w3, n3, nc FROM tri JOIN (
      |    SELECT w1, w2, CAST(SUM(n3) AS BIGINT) AS nc FROM tri GROUP BY 1, 2)
      |    USING (w1, w2)),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(round(-ln(CAST(n3 AS DOUBLE) / CAST(nc AS DOUBLE)) * 1e6, 0) AS BIGINT)
      |      AS nll_micro
      |  FROM inst JOIN model USING (w1, w2, w3))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Feature hashing (the "hashing trick" — fastText/VW's input
    // transform): every token maps to one of 256 buckets by md5, with a
    // ±1 sign from an independent hash bit so collisions cancel in
    // expectation instead of accumulating. The per-BUCKET rollup is
    // the diagnostic a pipeline reads before picking the dimension:
    // distinct tokens per bucket (collision load), total occurrences,
    // and the signed net weight (how much mass the sign trick
    // recovered). One explode + one 256-group agg — pure integer
    // arithmetic end-to-end.
    QueryDef(
      "q_feature_hash",
      (s, d) => {
        val h = graft.functions.TextAnalysis.tokHash("tok")
        Tables.documents(s, d)
          .selectExpr("explode(split(text, ' ')) AS tok")
          .selectExpr("tok", s"$h % 256 AS bucket",
            "CASE WHEN CAST(conv(substr(md5(tok), 9, 1), 16, 10) AS INT) % 2 = 0 " +
              "THEN 1 ELSE -1 END AS sign")
          .groupBy("bucket")
          .agg(countDistinct("tok").as("n_tokens"),
            count(lit(1)).as("n_occ"),
            sum(col("sign")).cast("bigint").as("net_weight"))
          .orderBy("bucket")
      },
      Some {
        val h = graft.functions.TextAnalysis.duckTokHash("tok")
        s"""WITH t AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
           |SELECT $h % 256 AS bucket,
           |  COUNT(DISTINCT tok) AS n_tokens, COUNT(*) AS n_occ,
           |  CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS INT) % 2 = 0
           |           THEN 1 ELSE -1 END) AS BIGINT) AS net_weight
           |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // KL divergence of each source's unigram distribution from the
    // corpus distribution — the domain-shift diagnostic a mixture
    // designer reads next to q_mix_temperature (a source whose KL is
    // high contributes different text, not just more text). Identity
    // used: KL(P_s ‖ P_g) = (1/c_s)·[Σ_w c_sw·(ln c_sw − ln c_gw)] +
    // ln(c_g) − ln(c_s), so every transcendental is ln of an INTEGER
    // count, µ-quantized before the exact BIGINT sum — the
    // q_dq_entropy discipline; partial-sum order can't move a bit.
    // Two keyed aggs (word×source, word) + one broadcast-back join.
    QueryDef(
      "q_kl_sources",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .selectExpr("source", "explode(split(text, ' ')) AS tok")
        val bySrc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c_sw"))
        val glob = toks.groupBy("tok").agg(count(lit(1)).as("c_gw"))
        val totals = bySrc.groupBy("source").agg(sum(col("c_sw")).as("c_s"))
        val cg = glob.agg(sum(col("c_gw")).as("c_g"))
        bySrc.join(glob, "tok")
          .selectExpr("source",
            "c_sw * (CAST(round(ln(c_sw) * 1e6, 0) AS BIGINT) " +
              "- CAST(round(ln(c_gw) * 1e6, 0) AS BIGINT)) AS term_micro")
          .groupBy("source").agg(sum(col("term_micro")).as("s_micro"))
          .join(totals, "source").crossJoin(broadcast(cg))
          .selectExpr("source", "c_s",
            "round(CAST(s_micro AS DOUBLE) / c_s / 1e6 " +
              "+ (CAST(round(ln(c_g) * 1e6, 0) AS BIGINT) " +
              "- CAST(round(ln(c_s) * 1e6, 0) AS BIGINT)) / 1e6, 6) AS kl_nats")
          .orderBy("source")
      },
      Some("""WITH t AS (SELECT source, UNNEST(string_split(text, ' ')) AS tok
             |  FROM documents),
             |bysrc AS (SELECT source, tok, COUNT(*) AS c_sw FROM t GROUP BY 1, 2),
             |gw AS (SELECT tok, COUNT(*) AS c_gw FROM t GROUP BY 1),
             |totals AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS c_s
             |  FROM bysrc GROUP BY source),
             |cg AS (SELECT CAST(SUM(c_gw) AS BIGINT) AS c_g FROM gw),
             |terms AS (SELECT source,
             |    CAST(SUM(c_sw * (CAST(round(ln(c_sw) * 1e6, 0) AS BIGINT)
             |                     - CAST(round(ln(c_gw) * 1e6, 0) AS BIGINT))) AS BIGINT)
             |      AS s_micro
             |  FROM bysrc JOIN gw USING (tok) GROUP BY source)
             |SELECT source, c_s,
             |  round(CAST(s_micro AS DOUBLE) / c_s / 1e6
             |    + (CAST(round(ln(c_g) * 1e6, 0) AS BIGINT)
             |       - CAST(round(ln(c_s) * 1e6, 0) AS BIGINT)) / 1e6, 6) AS kl_nats
             |FROM terms JOIN totals USING (source) CROSS JOIN cg
             |ORDER BY source""".stripMargin)),

    // Frequency-ranked vocabulary head: top 50 tokens, rank keyed by
    // (count desc, token) so the cut is total and engine-independent.
    QueryDef(
      "q_vocab_topk",
      (s, d) => tokens(s, d)
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50)
        .selectExpr("row_number() OVER (ORDER BY n DESC, tok) AS rank", "tok", "n"),
      Some("""WITH counts AS (
             |  SELECT tok, COUNT(*) AS n FROM (
             |    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY tok)
             |SELECT * FROM (
             |  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank, tok, n
             |  FROM counts)
             |WHERE rank <= 50 ORDER BY rank""".stripMargin)),

    // Adjacent-pair counts — the exact candidate relation a BPE merge
    // step ranks (merge = argmax count). Top 30 pins the head. The
    // sequence upper bound is guarded: Spark's `sequence(1, n)` DESCENDS
    // when n < 1 ([1, 0] — spurious null-token pairs), while the
    // oracle's generate_series(1, 0) is empty; single-token docs must
    // yield no pairs on both sides.
    QueryDef(
      "q_bpe_pairs",
      (s, d) => Tables.documents(s, d)
        .selectExpr("split(text, ' ') AS toks")
        .selectExpr("explode(transform(CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1) " +
          "ELSE CAST(array() AS ARRAY<INT>) END, " +
          "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))) AS p")
        .selectExpr("p.w1 AS w1", "p.w2 AS w2")
        .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(30),
      Some("""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
             |pairs AS (SELECT UNNEST(list_transform(generate_series(1, len(t) - 1),
             |                 i -> struct_pack(w1 := t[i], w2 := t[i + 1])), recursive := true)
             |          FROM toks)
             |SELECT w1, w2, COUNT(*) AS n FROM pairs
             |GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 30""".stripMargin),
      headline = false),

    // The merge LOOP over those pair counts — k greedy rounds training
    // an actual BPE merge table, with the corpus rewritten between
    // rounds (round r's argmax depends on rounds 1..r-1's merges).
    QueryDef(
      "q_bpe_merges",
      (s, d) => bpeMerges(s, d, 6),
      Some(duckBpeMerges(6))),

    // The inference half: ENCODE the corpus with the 6 trained merges —
    // per-doc token counts before/after, the compression the vocabulary
    // buys. Round r's rewrite feeds round r+1's argmax, so merge and
    // encode share one corpus state. Untimed: it re-runs the training
    // loop q_bpe_merges already times.
    QueryDef(
      "q_bpe_encode",
      (s, d) => bpeEncode(s, d, 6),
      Some(duckBpeEncode(6)),
      headline = false),

    // Trigram LM conditionals: P(w3 | w1 w2) = c(w1w2w3)/c(w1w2) for the
    // 20 most frequent trigrams. Two count aggregates joined on the
    // bigram prefix; the division is per-row IEEE double — deterministic
    // without decimal machinery.
    QueryDef(
      "q_ngram_lm",
      (s, d) => {
        val toks = Tables.documents(s, d).selectExpr("split(text, ' ') AS toks")
        // same descending-sequence guard as q_bpe_pairs (≥3 / ≥2 tokens)
        val tri = toks
          .selectExpr("explode(transform(CASE WHEN size(toks) >= 3 THEN sequence(1, size(toks) - 2) " +
            "ELSE CAST(array() AS ARRAY<INT>) END, " +
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2, toks[i + 1] AS w3))) AS g")
          .selectExpr("g.w1 AS w1", "g.w2 AS w2", "g.w3 AS w3")
          .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("n3"))
        val bi = toks
          .selectExpr("explode(transform(CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1) " +
            "ELSE CAST(array() AS ARRAY<INT>) END, " +
            "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))) AS g")
          .selectExpr("g.w1 AS w1", "g.w2 AS w2")
          .groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
        tri.join(bi, Seq("w1", "w2"))
          .withColumn("p_cond", col("n3").cast("double") / col("n2"))
          .orderBy(col("n3").desc, col("w1"), col("w2"), col("w3"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
             |tri AS (SELECT w1, w2, w3, COUNT(*) AS n3 FROM (
             |  SELECT UNNEST(list_transform(generate_series(1, len(t) - 2),
             |    i -> struct_pack(w1 := t[i], w2 := t[i + 1], w3 := t[i + 2])), recursive := true)
             |  FROM toks) GROUP BY w1, w2, w3),
             |bi AS (SELECT w1, w2, COUNT(*) AS n2 FROM (
             |  SELECT UNNEST(list_transform(generate_series(1, len(t) - 1),
             |    i -> struct_pack(w1 := t[i], w2 := t[i + 1])), recursive := true)
             |  FROM toks) GROUP BY w1, w2)
             |SELECT w1, w2, w3, n3, n2, CAST(n3 AS DOUBLE) / n2 AS p_cond
             |FROM tri JOIN bi USING (w1, w2)
             |ORDER BY n3 DESC, w1, w2, w3 LIMIT 20""".stripMargin),
      headline = false),

    // Stopword-strip + whitespace-normalize — the cleaning map every
    // corpus pass applies before tokenization counts. Stateless per-row
    // HOF work (tokens staged once; the lambda re-evaluating split()
    // per element is the documented O(tokens²) trap).
    QueryDef(
      "q_text_clean",
      (s, d) => Tables.documents(s, d)
        .selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr("doc_id",
          s"filter(toks, w -> NOT (w IN (${TextAnalysis.stopSql}))) AS kept")
        .selectExpr("doc_id", "array_join(kept, ' ') AS cleaned", "size(kept) AS n_kept")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  array_to_string(kept, ' ') AS cleaned, len(kept) AS n_kept
              |FROM (SELECT doc_id,
              |  list_filter(string_split(text, ' '),
              |              w -> NOT (w IN (${TextAnalysis.stopSql}))) AS kept
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin),
      headline = false),

    // Digit-run redaction over the events' JSON payloads — the masking
    // shape of PII scrubbing (the patterns here are toy; the machinery —
    // global regex replace + match counting, engine-portable semantics —
    // is the real operator). Spark's regexp_replace is global by
    // default; DuckDB needs the explicit 'g' flag.
    QueryDef(
      "q_text_mask",
      (s, d) => Tables.events(s, d)
        .selectExpr("event_id",
          "regexp_replace(props, '[0-9]+', '#') AS masked",
          "size(regexp_extract_all(props, '([0-9]+)', 0)) AS n_runs")
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  regexp_replace(props, '[0-9]+', '#', 'g') AS masked,
             |  len(regexp_extract_all(props, '[0-9]+')) AS n_runs
             |FROM events ORDER BY event_id""".stripMargin),
      headline = false),

    // Bounded inverted index: document frequency + the first 8 postings
    // per token, for tokens appearing in ≥ 100 documents. The posting
    // cut happens BEFORE collect (rank ≤ 8 → WindowGroupLimit), so
    // aggregate state is O(8) per token regardless of corpus size.
    QueryDef(
      "q_inverted_index",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val posting = Tables.documents(s, d)
          .selectExpr("doc_id", "explode(array_distinct(split(text, ' '))) AS tok")
        val dfreq = posting.groupBy("tok").agg(count(lit(1)).as("doc_freq"))
        val w = Window.partitionBy("tok").orderBy("doc_id")
        val head = posting
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 8)
          .groupBy("tok")
          .agg(array_join(array_sort(collect_list(col("doc_id"))), ",").as("postings_head"))
        dfreq.filter(col("doc_freq") >= 100)
          .join(head, "tok")
          .select("tok", "doc_freq", "postings_head")
          .orderBy("tok")
      },
      Some("""WITH posting AS (
             |  SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
             |  FROM documents)
             |SELECT tok, COUNT(*) AS doc_freq,
             |  array_to_string(list_sort(list(doc_id ORDER BY doc_id))[1:8], ',') AS postings_head
             |FROM posting GROUP BY tok HAVING COUNT(*) >= 100 ORDER BY tok""".stripMargin),
      headline = false),

    // Trigram-LM document scoring — the KenLM-style perplexity filter
    // every corpus pass runs (here self-scored against the corpus's own
    // model; production scores against a held-out high-quality model,
    // which only changes which table the counts come from). Conditional
    // p(w3|w1,w2) = n3 / Σ_w n(w1,w2,w) — the context count comes from
    // the trigram table itself so the distribution sums to 1 exactly.
    // Scale shape: the model is a VOCAB-BOUNDED aggregate, memoized per
    // session (train once, score often — the FrameCache role the dedup
    // pair relation plays) and BROADCAST into the scoring scan when it
    // fits (≤ 5M conditionals — the pruned-LM contract; an unpruned
    // web-scale model falls back to the trigram-key equi-join). With
    // the broadcast, the corpus trigram stream never shuffles at all:
    // its map-side count partials collapse to the vocab, and the
    // per-doc NLL partials collapse to docs-per-partition, so both
    // exchanges are tiny. The 26 s → 7.7 s sf10 difference vs the
    // 3-shuffle equi-join draft is this plan (the scoring scan joins on
    // the single concat key, not three strings).
    // Cross-engine determinism: each trigram's -ln p is µ-quantized to
    // BIGINT before summing (the q_sample_weighted idiom — ln is the
    // only ulp risk, and a double Σ of logs would be partial-sum-order
    // dependent); the published average stays in integer arithmetic.
    // Output = the 20 highest-perplexity docs, the filter's drop list.
    QueryDef(
      "q_lm_score",
      (s, d) => lmDocScores(s, d)
        .withColumn("avg_nll_micro", expr("nll_sum div n_tri"))
        .orderBy(col("avg_nll_micro").desc, col("doc_id"))
        .limit(20),
      Some(s"""WITH $duckLmScored
             |SELECT doc_id, COUNT(*) AS n_tri,
             |  CAST(SUM(nll_micro) AS BIGINT) AS nll_sum,
             |  CAST(SUM(nll_micro) AS BIGINT) // COUNT(*) AS avg_nll_micro
             |FROM scored GROUP BY doc_id
             |ORDER BY avg_nll_micro DESC, doc_id LIMIT 20""".stripMargin)),

    // Vocabulary coverage / OOV rate: fit a top-1000 vocabulary on the
    // even doc_ids, measure what fraction of held-out token
    // occurrences it covers — THE sizing read before freezing a
    // tokenizer vocab (coverage vs size is the curve; this is one
    // point on it). The vocab cut is a distributed TakeOrdered by
    // (count DESC, token) — total order, no global window — and the
    // held-out probe is one broadcast semi-style join tallied in the
    // same pass (LEFT join + indicator sum, so in-vocab and OOV come
    // from a single scan).
    QueryDef(
      "q_vocab_coverage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val vocab = docs.filter(col("doc_id") % 2 === 0)
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok")).limit(1000)
          .select(col("tok"), lit(1L).as("inv"))
        docs.filter(col("doc_id") % 2 === 1)
          .select(explode(split(col("text"), " ")).as("tok"))
          .join(broadcast(vocab), Seq("tok"), "left")
          .agg(count(lit(1)).as("n_tokens"),
            sum(coalesce(col("inv"), lit(0L))).as("n_in_vocab"))
          .selectExpr("n_tokens", "n_in_vocab", "n_tokens - n_in_vocab AS n_oov",
            "CAST(n_tokens - n_in_vocab AS DOUBLE) / n_tokens AS oov_rate")
      },
      Some("""WITH vocab AS (
             |  SELECT tok FROM (
             |    SELECT tok, COUNT(*) AS n FROM (
             |      SELECT UNNEST(string_split(text, ' ')) AS tok
             |      FROM documents WHERE doc_id % 2 = 0)
             |    GROUP BY 1)
             |  ORDER BY n DESC, tok LIMIT 1000),
             |test AS (
             |  SELECT UNNEST(string_split(text, ' ')) AS tok
             |  FROM documents WHERE doc_id % 2 = 1)
             |SELECT COUNT(*) AS n_tokens,
             |  CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_in_vocab,
             |  CAST(COUNT(*) - SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_oov,
             |  CAST(COUNT(*) - SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*) AS oov_rate
             |FROM test t LEFT JOIN vocab v ON v.tok = t.tok""".stripMargin)),

    // Zipf fit: log-log OLS slope over the top-100 token frequencies —
    // the health check that a corpus is natural-language-shaped
    // (slope ≈ −1) rather than boilerplate- or spam-collapsed. Both
    // ln terms are quantized to integer micros per point (ln of an
    // INTEGER rank/count), the five OLS moments are exact BIGINT sums
    // over 100 points, and slope/intercept are closed-form float
    // expressions of those integers. The head cut is TakeOrdered; the
    // rank window runs over the 100 surviving rows only.
    QueryDef(
      "q_text_zipf",
      (s, d) => {
        val top = tokens(s, d)
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok")).limit(100)
          .selectExpr("row_number() OVER (ORDER BY n DESC, tok) AS r", "n")
          .selectExpr(
            "CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS lx",
            "CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS ly")
        top.agg(count(lit(1)).as("np"),
            sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
            sum(col("lx") * col("lx")).as("sxx"),
            sum(col("lx") * col("ly")).as("sxy"))
          .selectExpr("np",
            """(CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              | / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope""".stripMargin,
            """(CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
              | / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS intercept""".stripMargin)
      },
      Some("""WITH counts AS (
             |  SELECT tok, COUNT(*) AS n FROM (
             |    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY tok),
             |top AS (
             |  SELECT ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r, n
             |  FROM (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT 100)),
             |pts AS (
             |  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
             |    CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS ly
             |  FROM top),
             |mo AS (
             |  SELECT COUNT(*) AS np,
             |    CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
             |    CAST(SUM(lx * lx) AS BIGINT) AS sxx,
             |    CAST(SUM(lx * ly) AS BIGINT) AS sxy
             |  FROM pts)
             |SELECT np,
             |  (CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |  / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
             |  (CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
             |  / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS intercept
             |FROM mo""".stripMargin))
  )
}
