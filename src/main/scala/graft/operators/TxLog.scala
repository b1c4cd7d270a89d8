package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.{QueryDef, Tables, TmpSlices}

/** Delta-style transactional commit protocol over a file manifest —
  * the multi-writer lake-lifecycle capability the compaction /
  * retention / dynamic-overwrite write paths don't model on their own:
  * several writers, each holding a STALE snapshot, concurrently adding
  * and removing files of a partitioned table, with optimistic
  * concurrency deciding who commits and who must abort.
  *
  * The design follows the public Delta Lake / Iceberg commit model:
  *
  *  - A table is data files plus an ordered log of version manifests
  *    (`_log/v%06d.tsv`, one line per action: add/remove, partition,
  *    file). A snapshot is the log replayed in order: files added and
  *    not later removed. Readers NEVER list the data directory — the
  *    manifest is the source of truth, so concurrent writers can stage
  *    data files freely (staged-but-uncommitted files are invisible).
  *  - A writer reads a snapshot at version R, stages its data files,
  *    then tries to commit at the lowest free slot v > R. Before every
  *    attempt it re-reads the log tail (R, v): if any committed-later
  *    version TOUCHES one of its partitions, the writer's snapshot was
  *    stale in a way that matters — it aborts (real engines re-run the
  *    transaction). Disjoint-partition writers rebase silently and
  *    take the next slot — blind appends always win eventually.
  *  - The slot claim is an ATOMIC CREATE-EXCLUSIVE of the manifest
  *    file (POSIX O_CREAT|O_EXCL via `Files.createFile`; HDFS `create`
  *    overwrite=false has the same semantics — the primitive public
  *    log stores use there). Object stores without atomic create need
  *    a coordinating log store in front; that substitution is config,
  *    not protocol.
  *
  * Each manifest format has one owner here:
  *  - act line (`action\tpart\tfile`): written by [[publish]], parsed by
  *    [[readManifest]]; version manifests and checkpoints share it, and
  *    [[listLog]] lists both kinds of log file;
  *  - table slice (`<tmpdir>/<family>/<key>/{data,_log}`, wiped per
  *    run): [[Table.fresh]];
  *  - `partitionBy` directory → partition value: [[partitionedActs]]
  *    (write side) and [[readPartitioned]] (read side);
  *  - base commit by `lang`: [[Table.commitByLang]];
  *  - eight `doc_id DIV width` range buckets: [[Table.rangeBuckets]];
  *  - zone-map `stats` line (`lo,hi`): built by [[zoneMap]], parsed by
  *    [[liveZoneMaps]], pruned on by [[Table.prunedRead]];
  *  - which candidate files exist on disk: [[Table.readExisting]].
  *
  * At 100 TB the data writes are ordinary distributed parquet jobs;
  * the log is metadata — bytes per commit, independent of data volume.
  * Only the manifest lines pass through the driver.
  *
  * TxLogSpec races REAL threads over the create-exclusive slot claim
  * (exactly one winner per slot) and runs a genuinely concurrent
  * multi-writer append storm (all writers land, every file visible,
  * zero aborts). The oracle entry `q_tx_commit` executes a
  * deterministic three-writer script — append vs disjoint rewrite vs
  * conflicting rewrite, all from the SAME stale snapshot — and proves
  * the outcome by reading the final table THROUGH the manifest.
  */
object TxLog {

  final case class Act(action: String, part: String, file: String)

  private def manifestName(version: Int): String = f"v$version%06d.tsv"
  private def checkpointName(version: Int): String = f"ckpt_v$version%06d.tsv"

  /** Atomic slot claim with the manifest content ALREADY COMPLETE:
    * stage the lines into a hidden temp file, then publish by hard
    * link — POSIX link() fails with EEXIST if the slot is taken, and
    * the linked name carries the fully-written content, so a
    * concurrent reader can never observe a torn manifest (a bare
    * create-then-write would expose an empty slot file mid-commit).
    * Filesystems without hard links degrade to ATOMIC_MOVE behind an
    * existence check: still no torn reads (the move is atomic), but
    * create-exclusivity is only best-effort there — single-writer use
    * keeps full semantics; true multi-writer logs on such filesystems
    * need a coordinating log store, same as object stores (HDFS
    * substitutes its server-side atomic create(overwrite=false)).
    * Returns false iff `name` was already taken. */
  private def publish(logDir: String, name: String, acts: Seq[Act]): Boolean = {
    val dir = Paths.get(logDir)
    Files.createDirectories(dir)
    val path = dir.resolve(name)
    val stage = dir.resolve(
      s".stage_${Thread.currentThread().getId}_${System.nanoTime()}")
    Files.write(stage, acts.map(a => s"${a.action}\t${a.part}\t${a.file}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    try {
      Files.createLink(path, stage) // link() — atomic, EEXCL
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        if (Files.exists(path)) false
        else try {
          Files.move(stage, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(stage)
  }

  /** Claim manifest slot `version` for `acts`; false iff it was taken. */
  def tryCommit(logDir: String, version: Int, acts: Seq[Act]): Boolean =
    publish(logDir, manifestName(version), acts)

  /** Versions of the log files named `<prefix>%06d.tsv`, in order. */
  private def listLog(logDir: String, prefix: String): Seq[Int] = {
    val dir = Paths.get(logDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.endsWith(".tsv"))
      .map(n => n.stripPrefix(prefix).stripSuffix(".tsv").toInt)
      .toSeq.sorted
    finally st.close()
  }

  /** Committed versions in order. */
  def versions(logDir: String): Seq[Int] = listLog(logDir, "v")

  /** Committed checkpoint versions in order. */
  def checkpointVersions(logDir: String): Seq[Int] = listLog(logDir, "ckpt_v")

  /** Log files are immutable once published, so acts cache by path —
    * validated with one cheap stat (size + mtime) so a log directory
    * wiped and re-created at the same path (specs, re-run queries in
    * one JVM) never serves stale lines. This is what makes the OCC
    * loop and snapshot replay O(new manifests read), not O(full log
    * re-parsed per call). */
  private val actCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Seq[Act])]()

  private def readManifest(logDir: String, name: String): Seq[Act] = {
    val path = Paths.get(logDir, name)
    val attrs = Files.readAttributes(
      path, classOf[java.nio.file.attribute.BasicFileAttributes])
    val stamp = (attrs.size(), attrs.lastModifiedTime().toMillis)
    Option(actCache.get(path.toString)) match {
      case Some((sz, mt, acts)) if (sz, mt) == stamp => acts
      case _ =>
        val acts = Files.readAllLines(path).asScala.toSeq
          .filter(_.nonEmpty).map { l =>
            val Array(a, p, f) = l.split("\t", 3); Act(a, p, f)
          }
        actCache.put(path.toString, (stamp._1, stamp._2, acts))
        acts
    }
  }

  def readActs(logDir: String, version: Int): Seq[Act] =
    readManifest(logDir, manifestName(version))

  private def replayInto(live: scala.collection.mutable.LinkedHashMap[String, Vector[String]],
                         acts: Seq[Act]): Unit =
    acts.foreach {
      case Act("add", p, f)    => live(p) = live.getOrElse(p, Vector.empty) :+ f
      case Act("remove", p, f) => live(p) = live.getOrElse(p, Vector.empty).filterNot(_ == f)
      case Act("txn", _, _)    => ()
      case Act("stats", _, _)  => ()
      case Act("bloom", _, _)  => ()
      case Act(other, _, _)    => sys.error(s"unknown manifest action: $other")
    }

  /** Snapshot at (up to and including) `asOf`: live files per
    * partition after replaying the log in version order. `txn` marker
    * lines (writer-identity bookkeeping, see [[idempotentCommit]])
    * carry no file state and are skipped. When a checkpoint at or
    * before `asOf` exists, the read replays checkpoint + tail —
    * O(1) + recent instead of O(versions) — unless `useCheckpoint`
    * is disabled (how q_tx_vacuum proves checkpoint == full replay
    * without circularity). */
  def snapshotFiles(logDir: String, asOf: Int = Int.MaxValue,
                    useCheckpoint: Boolean = true): Map[String, Seq[String]] = {
    val live = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    val ck = if (useCheckpoint) checkpointVersions(logDir).filter(_ <= asOf).lastOption
             else None
    ck.foreach(c => replayInto(live, readManifest(logDir, checkpointName(c))))
    versions(logDir).filter(v => v <= asOf && ck.forall(v > _))
      .foreach(v => replayInto(live, readActs(logDir, v)))
    live.toMap.filter(_._2.nonEmpty)
  }

  /** Highest transaction id committed by `appId`, from the `txn`
    * marker lines — the Delta txnAppId/txnVersion pattern that makes a
    * retried writer idempotent. */
  def txnVersion(logDir: String, appId: String): Option[Long] =
    versions(logDir).flatMap(readActs(logDir, _)).collect {
      case Act("txn", `appId`, b) => b.toLong
    }.sorted.lastOption

  /** Exactly-once commit for replayable writers (a streaming
    * foreachBatch sink retrying a failed microbatch, a restarted
    * backfill job): the commit carries a (appId, batchId) marker line,
    * and a commit whose batchId is <= the highest already-committed
    * marker for the same appId is dropped as a duplicate delivery.
    * Returns Right(version) on commit, Left("duplicate") on an
    * idempotent skip, Left("conflict") on an OCC abort. */
  def idempotentCommit(logDir: String, readVer: Int, acts: Seq[Act],
                       touched: Set[String], appId: String,
                       batchId: Long): Either[String, Int] = {
    if (txnVersion(logDir, appId).exists(_ >= batchId)) return Left("duplicate")
    // Fencing: the txn marker's part field IS the appId, and appId
    // joins the touched set — so a concurrent same-appId commit landing
    // between the duplicate check and the slot claim surfaces as an OCC
    // conflict instead of slipping past (the zombie-writer double-append
    // the check-then-act alone would allow). On conflict, re-read the
    // marker: if the rival delivery carried our batch, this is a
    // duplicate after all.
    commit(logDir, readVer, acts :+ Act("txn", appId, batchId.toString),
      touched + appId) match {
      case Some(v) => Right(v)
      case None =>
        if (txnVersion(logDir, appId).exists(_ >= batchId)) Left("duplicate")
        else Left("conflict")
    }
  }

  /** Packaged abort-then-re-run: the documented OCC contract is that a
    * conflicted writer re-executes its transaction against a FRESH
    * snapshot (stale inputs are why it aborted). `txn` receives the
    * current snapshot version, re-derives (and re-stages) its acts
    * from that snapshot, and returns the acts plus touched partitions;
    * returning None abandons the transaction (nothing left to do).
    * Gives up after `maxAttempts` conflicts. Returns the committed
    * version and the number of aborts absorbed on the way. */
  def retryingCommit(logDir: String, readVer0: Int, maxAttempts: Int = 3)
      (txn: Int => Option[(Seq[Act], Set[String])]): Option[(Int, Int)] = {
    var aborts = 0
    var readVer = readVer0
    while (aborts < maxAttempts) {
      txn(readVer) match {
        case None => return None
        case Some((acts, touched)) =>
          commit(logDir, readVer, acts, touched) match {
            case Some(v) => return Some((v, aborts))
            case None =>
              aborts += 1
              readVer = versions(logDir).lastOption.getOrElse(-1)
          }
      }
    }
    None
  }

  /** Optimistic commit: stage was already written; claim the next free
    * slot unless a version committed after `readVer` touched one of
    * `touched` partitions. Returns the committed version, or None on
    * logical conflict (caller must re-run its transaction). */
  def commit(logDir: String, readVer: Int, acts: Seq[Act],
             touched: Set[String]): Option[Int] = {
    var attempt = math.max(readVer + 1, versions(logDir).lastOption.getOrElse(-1) + 1)
    while (true) {
      val committedSince = versions(logDir).filter(v => v > readVer && v < attempt)
      val touchedSince = committedSince.flatMap(readActs(logDir, _)).map(_.part).toSet
      if (touchedSince.intersect(touched).nonEmpty) return None
      if (tryCommit(logDir, attempt, acts)) return Some(attempt)
      attempt += 1 // slot raced away — rebase against the new tail
    }
    None // unreachable
  }

  /** Act lines derived from the directory layout a `partitionBy` write
    * job actually produced — ONE distributed write per transaction
    * instead of a driver-serialized loop of per-partition jobs, with
    * the manifest reflecting reality (a row-empty partition writes no
    * dir and commits no act). Directory values are Hive-escaped
    * (`%2F` for `/`); the partition value is the unescaped one, so it
    * equals the data's own value. A NULL partition value (Hive's
    * default-partition directory) has no manifest partition and fails
    * loudly. Returns (partitionValue, relativeFile), sorted by value. */
  def partitionedActs(s: SparkSession, dataDir: String,
                      rel: String): Seq[(String, String)] = {
    val root = new Path(s"$dataDir/$rel")
    root.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(root)
      .map(_.getPath.getName)
      .filter(_.contains("="))
      .map { n =>
        val v = n.substring(n.indexOf('=') + 1)
        require(v != ExternalCatalogUtils.DEFAULT_PARTITION_NAME,
          s"NULL partition value in $dataDir/$rel/$n")
        (ExternalCatalogUtils.unescapePathName(v), s"$rel/$n")
      }
      .sortBy(_._1)
      .toSeq
  }

  /** Read a snapshot's table partitions through the manifest, attaching
    * the partition value as a column (the partition is manifest
    * metadata — the data files written by `partitionBy` don't carry
    * the column). Reserved partitions (e.g. `_dv`) are excluded.
    *
    * ONE parquet relation over every live file, and ONE constant-size
    * lookup for the partition: the directory of `input_file_name()`
    * keys a map literal of live directory → partition (every manifest
    * act names the directory that directly holds its files; keys are
    * qualified URIs, encoded the way
    * `input_file_name()` encodes them, so Hive-escaped directories
    * match). The expression's size does not depend on the file count,
    * and a row whose directory is not in the snapshot fails the query
    * instead of getting a NULL partition. */
  def readPartitioned(s: SparkSession, dataDir: String,
                      snap: Map[String, Seq[String]], partCol: String,
                      except: Set[String] = Set.empty): DataFrame = {
    val dirs = (snap -- except).toSeq.sortBy(_._1)
      .flatMap { case (p, files) => files.map(f => (s"$dataDir/$f", p)) }
    val fs = new Path(dataDir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val partOf = typedLit(dirs.map { case (dir, p) =>
      fs.makeQualified(new Path(dir)).toUri.toString -> p
    }.toMap)
    val file = input_file_name()
    s.read.parquet(dirs.map(_._1): _*)
      .withColumn(partCol, coalesce(partOf(regexp_extract(file, "^(.*)/[^/]*$", 1)),
        raise_error(concat(lit("file outside the manifest snapshot: "), file))))
  }

  /** Size-gated deletion-vector anti-join — the two-regime discipline:
    * metadata-sized DVs broadcast (zero shuffle of the table side);
    * past `graft.tx.dvBroadcastMaxBytes` (default 64 MB of DV parquet —
    * ~10⁷ keys) the probe switches to a SHUFFLE_HASH anti-join, because
    * no broadcast survives the ~10¹⁰ keys a 1% delete on a 100 TB
    * table produces. The gate reads FILE SIZES from the manifest
    * listing — a metadata decision, not an extra count() job. */
  def antiJoinDv(s: SparkSession, t: DataFrame, del: DataFrame,
                 dvBytes: Long): DataFrame = {
    val maxBytes = s.conf.get("graft.tx.dvBroadcastMaxBytes",
      (64L << 20).toString).toLong
    val cond = col("doc_id") === col("del_id")
    if (dvBytes <= maxBytes) t.join(broadcast(del), cond, "left_anti")
    else t.join(del.hint("SHUFFLE_HASH"), cond, "left_anti")
  }

  /** The zone-map manifest line: file `f` holds doc_ids in [lo, hi]. */
  private def zoneMap(f: String, lo: Long, hi: Long): Act = Act("stats", f, s"$lo,$hi")

  /** Zone maps of the live files, from the log's `stats` lines; the
    * stale line of a removed file is inert. */
  private def liveZoneMaps(logDir: String): Seq[(String, Long, Long)] = {
    val live = snapshotFiles(logDir).values.flatten.toSet
    versions(logDir).flatMap(readActs(logDir, _)).collect {
      case Act("stats", f, mm) if live(f) =>
        val Array(lo, hi) = mm.split(",", 2); (f, lo.toLong, hi.toLong)
    }
  }

  private def bucketFile(b: Int): String = s"buckets/bucket=$b"
  /** Integer DIV, not double division: exact for all longs, where
    * /-then-cast drifts past 2^53. */
  private def bucketOf(width: Long): Column = expr(s"CAST(doc_id DIV $width AS INT)")
  private def bucketZoneMaps(width: Long): Seq[Act] =
    (0 until 8).map(b => zoneMap(bucketFile(b), b * width, (b + 1) * width - 1))

  /** The result columns every entry pins: row count and an exact key
    * checksum (Σ key·7). */
  private val nRows: Column = count(lit(1)).as("n_rows")
  private def keyChecksum(key: String): Column = sum(col(key) * 7).cast("bigint").as("key_checksum")

  /** One entry's manifest table: data files under `data/`, the log
    * under `_log/`. */
  private final class Table(s: SparkSession, val base: String) {
    val dataDir = s"$base/data"
    val logDir = s"$base/_log"
    val fs: org.apache.hadoop.fs.FileSystem =
      new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    def path(f: String): String = s"$dataDir/$f"
    def read(files: Seq[String]): DataFrame = s.read.parquet(files.map(path): _*)

    /** Read the candidates that exist: a range bucket that happened to
      * be row-empty has a manifest line but no directory (partitionBy
      * writes none — sparse id spaces). */
    def readExisting(files: Seq[String]): DataFrame =
      read(files.filter(f => fs.exists(new Path(path(f)))))

    /** v0 partitioned by `lang`: ONE partitionBy write job, acts derived
      * from the layout it produced (the driver never loops
      * per-partition writes, and no separate distinct-langs job runs).
      * Returns the langs, sorted. */
    def commitByLang(docs: DataFrame): Seq[String] = {
      docs.write.partitionBy("lang").mode("overwrite").parquet(path("base"))
      val acts = partitionedActs(s, dataDir, "base")
      val langs = acts.map(_._1)
      val v0 = commit(logDir, -1, acts.map { case (l, f) => Act("add", l, f) }, langs.toSet)
      require(v0.contains(0), s"base commit landed at $v0, expected 0")
      langs
    }

    /** v0 range-bucketed on doc_id: ONE pass writes all eight buckets
      * `doc_id DIV width` (width = maxId / 8 + 1; bucket = partition
      * column), not eight filtered scans, and one commit adds them with
      * the per-bucket lines `meta(width)`. `maxId` comes from the
      * caller's own aggregate pass, so this scans nothing else. Returns
      * the width. */
    def rangeBuckets(docs: DataFrame, maxId: Long)(meta: Long => Seq[Act]): Long = {
      // the pinned pruning arithmetic needs width >= 2 (with width 1
      // the [2.5w, 4.5w) band straddles two buckets); fail loud instead
      // of hash-mismatching on a degenerate fixture
      require(maxId >= 8, s"range buckets need max doc_id >= 8, got $maxId")
      val width = maxId / 8 + 1
      docs.withColumn("bucket", bucketOf(width))
        .write.partitionBy("bucket").mode("overwrite").parquet(path("buckets"))
      require(commit(logDir, -1,
        (0 until 8).map(b => Act("add", "all", bucketFile(b))) ++ meta(width),
        Set("all")).contains(0))
      width
    }

    /** Zone-map pruning: open only the live files whose [lo, hi]
      * overlaps [qLo, qHi], run `q` over them, and pin the answer
      * (count, checksum, n_chars sum) next to the pruning arithmetic
      * (files scanned / skipped), so opening too many or — worse — too
      * few files fails the hash. */
    def prunedRead(qLo: Long, qHi: Long)(q: DataFrame => DataFrame): DataFrame = {
      val scanned = liveZoneMaps(logDir).filter { case (_, lo, hi) =>
        hi >= qLo && lo <= qHi
      }.map(_._1).sorted
      val skipped = snapshotFiles(logDir).values.flatten.toSet.size.toLong - scanned.length
      q(readExisting(scanned))
        .agg(nRows, keyChecksum("doc_id"), sum(col("n_chars").cast("long")).as("chars_sum"))
        .withColumn("files_scanned", lit(scanned.length.toLong))
        .withColumn("files_skipped", lit(skipped))
    }
  }

  private object Table {
    /** `family`'s slice for dataset `d`, emptied first: every run
      * replays its script from an empty table, so a re-run in the same
      * JVM returns the same rows. */
    def fresh(s: SparkSession, d: String, family: String): Table = {
      val t = new Table(s, TmpSlices.dir(family, TmpSlices.key(d)))
      t.fs.delete(new Path(t.base), true)
      t
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // Three writers, one stale snapshot, deterministic outcome:
    //   v0     base commit — ONE partitionBy write job, acts derived
    //          from the directory layout it produced (the driver never
    //          loops per-partition writes);
    //   A(@v0) blind append of re-keyed duplicates into lang_max
    //          → commits v1 (no one committed since v0);
    //   B(@v0) rewrite of lang_min (remove base file, add evens-only)
    //          → finds v1 taken, sees A touched only lang_max,
    //            DISJOINT → rebases, commits v2;
    //   C(@v0) rewrite of lang_max to evens-only → sees A's v1 touched
    //            lang_max, CONFLICT → aborts — then RE-RUNS the
    //            transaction against the fresh snapshot
    //            (retryingCommit), so the retry's evens include A's
    //            appends, and commits v3 (n_aborted = 1 absorbed).
    // The result is read exclusively THROUGH the final manifest and
    // pinned per-lang: count + key checksum, with the log shape
    // (n_versions, n_aborted) on every row. DuckDB replays the same
    // logical edits over `documents` directly.
    QueryDef(
      "q_tx_commit",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txlog")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val langs = t.commitByLang(docs)
        val (lmin, lmax) = (langs.head, langs.last)

        // all three writers snapshot NOW — each holds readVer = 0
        val snapVer = versions(t.logDir).last

        // writer A: blind append into lmax (re-keyed duplicates)
        docs.filter(col("lang") === lmax)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"))
          .write.mode("overwrite").parquet(t.path(s"appendA_$lmax"))
        val vA = commit(t.logDir, snapVer,
          Seq(Act("add", lmax, s"appendA_$lmax")), Set(lmax))
        require(vA.isDefined, "append A must never conflict")

        // writer B: stale rewrite of lmin — disjoint from A, must rebase
        docs.filter(col("lang") === lmin && col("doc_id") % 2 === 0)
          .select("doc_id")
          .write.mode("overwrite").parquet(t.path(s"rewriteB_$lmin"))
        val vB = commit(t.logDir, snapVer,
          snapshotFiles(t.logDir, snapVer)(lmin).map(f => Act("remove", lmin, f)) :+
            Act("add", lmin, s"rewriteB_$lmin"), Set(lmin))
        require(vB.isDefined, "disjoint rewrite B must rebase, not abort")

        // writer C: stale rewrite of lmax — A got there first, so the
        // first attempt ABORTS; the packaged retry re-runs the
        // transaction body against the fresh snapshot (whose lmax now
        // includes A's appends) and lands
        val retried = retryingCommit(t.logDir, snapVer) { rv =>
          val cur = snapshotFiles(t.logDir, rv)(lmax)
          t.read(cur).filter(col("doc_id") % 2 === 0)
            .write.mode("overwrite").parquet(t.path(s"rewriteC_v$rv"))
          Some((cur.map(f => Act("remove", lmax, f)) :+
            Act("add", lmax, s"rewriteC_v$rv"), Set(lmax)))
        }
        require(retried.exists(_._2 == 1),
          s"C must abort once then land on retry, got $retried")
        val nAborted = retried.get._2.toLong

        // read the final table THROUGH the manifest (partition value
        // attached from manifest metadata, not from the data files)
        val nVersions = versions(t.logDir).length.toLong
        readPartitioned(s, t.dataDir, snapshotFiles(t.logDir), "lang")
          .groupBy("lang").agg(nRows, keyChecksum("doc_id"))
          .withColumn("n_versions", lit(nVersions))
          .withColumn("n_aborted", lit(nAborted))
          .orderBy("lang")
      },
      Some("""WITH l AS (
             |  SELECT MIN(lang) AS lmin, MAX(lang) AS lmax FROM documents),
             |fin AS (
             |  -- survivors of B's rewrite: evens only in lmin
             |  SELECT lang, doc_id FROM documents, l
             |  WHERE lang = lmin AND doc_id % 2 = 0
             |  UNION ALL
             |  -- untouched partitions
             |  SELECT lang, doc_id FROM documents, l
             |  WHERE lang <> lmin AND lang <> lmax
             |  UNION ALL
             |  -- lmax after C's retried rewrite: evens of (base ∪ A's
             |  -- re-keyed appends); the 1e9 offset preserves parity
             |  SELECT lang, doc_id FROM documents, l
             |  WHERE lang = lmax AND doc_id % 2 = 0
             |  UNION ALL
             |  SELECT lang, doc_id + 1000000000 FROM documents, l
             |  WHERE lang = lmax AND doc_id % 2 = 0)
             |SELECT lang, COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(4 AS BIGINT) AS n_versions,
             |  CAST(1 AS BIGINT) AS n_aborted
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // TIME TRAVEL through the manifest — the read-side dividend of
    // logging removes instead of deleting: an as-of read replays the
    // log only up to the requested version, so every historical
    // snapshot stays queryable for free until vacuum reclaims its
    // files. Three versions of the lang_min partition (base → rewrite
    // evens → append re-keyed odds), then ONE output row per version
    // with that snapshot's count + checksum — each row read through
    // `snapshotFiles(asOf = v)`. The oracle replays the same edit
    // script over `documents` directly; a reader that leaks a future
    // file into an old snapshot (or loses a past one) hash-mismatches
    // on the exact checksum.
    QueryDef(
      "q_tx_timetravel",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txtt")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val lmin = docs.agg(min("lang")).head().getString(0)
        val part = docs.filter(col("lang") === lmin)

        part.write.mode("overwrite").parquet(t.path("f0"))
        require(commit(t.logDir, -1, Seq(Act("add", lmin, "f0")), Set(lmin)).contains(0))
        part.filter(col("doc_id") % 2 === 0)
          .write.mode("overwrite").parquet(t.path("f1"))
        require(commit(t.logDir, 0,
          Seq(Act("remove", lmin, "f0"), Act("add", lmin, "f1")), Set(lmin)).contains(1))
        part.filter(col("doc_id") % 2 === 1)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L))
          .write.mode("overwrite").parquet(t.path("f2"))
        require(commit(t.logDir, 1, Seq(Act("add", lmin, "f2")), Set(lmin)).contains(2))

        (0 to 2).map { v =>
          t.read(snapshotFiles(t.logDir, asOf = v).values.flatten.toSeq.sorted)
            .agg(nRows, keyChecksum("doc_id"))
            .withColumn("version", lit(v))
            .select("version", "n_rows", "key_checksum")
        }.reduce(_ unionAll _).orderBy("version")
      },
      Some("""WITH l AS (SELECT MIN(lang) AS lmin FROM documents),
             |p AS (SELECT doc_id FROM documents, l WHERE lang = lmin)
             |SELECT 0 AS version, COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum FROM p
             |UNION ALL
             |SELECT 1, COUNT(*), CAST(SUM(doc_id * 7) AS BIGINT)
             |FROM p WHERE doc_id % 2 = 0
             |UNION ALL
             |SELECT 2, COUNT(*), CAST(SUM(doc_id * 7) AS BIGINT) FROM (
             |  SELECT doc_id FROM p WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT doc_id + 1000000000 FROM p WHERE doc_id % 2 = 1)
             |ORDER BY version""".stripMargin)),

    // CHECKPOINT + VACUUM — the two maintenance duties a manifest
    // table owes its operators. Checkpoint: past N versions a reader
    // replaying every manifest pays O(versions) metadata reads; a
    // checkpoint file materializes the flattened snapshot so cold
    // reads replay checkpoint + tail (O(1) + recent) — Delta's
    // _last_checkpoint pattern. Vacuum: files no longer referenced by
    // any retained snapshot (dead rewrites, crashed writers' staged-
    // but-never-committed dirs) are physically reclaimed; the explicit
    // trade-off — logged here as vacuumed counts the oracle pins — is
    // that time travel beyond the retention horizon dies with them.
    // The final read goes through the CHECKPOINT (require()d equal to
    // the full log replay), so a wrong checkpoint fails the query, and
    // the post-vacuum read proves the reclaim removed only dead bytes.
    QueryDef(
      "q_tx_vacuum",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txvac")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val lmin = t.commitByLang(docs).head
        // v1 rewrite makes lmin's base dir DEAD (referenced only by v0)
        docs.filter(col("lang") === lmin && col("doc_id") % 2 === 0)
          .select("doc_id")
          .write.mode("overwrite").parquet(t.path(s"live_$lmin"))
        require(commit(t.logDir, 0,
          snapshotFiles(t.logDir)(lmin).map(f => Act("remove", lmin, f)) :+
            Act("add", lmin, s"live_$lmin"), Set(lmin)).contains(1))
        // a crashed writer: staged data, commit never attempted
        docs.limit(1).write.mode("overwrite").parquet(t.path("staged_orphan"))

        // checkpoint the latest snapshot; prove it equals the FULL log
        // replay (useCheckpoint=false — the default read path now
        // consults the checkpoint, which would make this circular)
        val ckVer = versions(t.logDir).last
        writeCheckpoint(t.logDir, ckVer)
        val fromCk = readCheckpoint(t.logDir).get
        require(fromCk == snapshotFiles(t.logDir, ckVer, useCheckpoint = false),
          "checkpoint must equal the full log replay")

        // vacuum with retention 0: live = latest snapshot only. The
        // on-disk inventory expands partitionBy layouts one level so a
        // dead PARTITION DIR (base/lang=lmin) is reclaimed without
        // touching its live siblings; _SUCCESS markers are ignored.
        val live = fromCk.values.flatten.toSet
        val onDisk = t.fs.listStatus(new Path(t.dataDir))
          .flatMap { st =>
            val n = st.getPath.getName
            if (st.isDirectory) {
              val kids = t.fs.listStatus(st.getPath)
                .map(_.getPath.getName).filter(_.contains("="))
              if (kids.nonEmpty) kids.map(k => s"$n/$k").toSeq else Seq(n)
            } else Seq(n)
          }.filterNot(_.startsWith("_")).sorted.toVector
        val dead = onDisk.filterNot(live)
        dead.foreach(f => t.fs.delete(new Path(t.path(f)), true))
        readPartitioned(s, t.dataDir, fromCk, "lang")
          .groupBy("lang").agg(nRows, keyChecksum("doc_id"))
          .withColumn("n_live_files", lit(live.size.toLong))
          .withColumn("n_vacuumed", lit(dead.size.toLong))
          .orderBy("lang")
      },
      Some("""WITH l AS (SELECT MIN(lang) AS lmin FROM documents),
             |nl AS (SELECT COUNT(DISTINCT lang) AS n FROM documents),
             |fin AS (
             |  SELECT lang, doc_id FROM documents, l
             |  WHERE lang = lmin AND doc_id % 2 = 0
             |  UNION ALL
             |  SELECT lang, doc_id FROM documents, l WHERE lang <> lmin)
             |SELECT lang, COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  (SELECT CAST(n AS BIGINT) FROM nl) AS n_live_files,
             |  CAST(2 AS BIGINT) AS n_vacuumed
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // EXACTLY-ONCE streaming sink through the transactional log — the
    // production pattern for "stream into a lake table without
    // duplicates on retry": a foreachBatch writer stages each
    // microbatch's files and commits them with a (appId, batchId)
    // marker (idempotentCommit — Delta's txnAppId/txnVersion
    // discipline), so a REDELIVERED batch (failure between the data
    // write and the engine recording the batch as done — the classic
    // at-least-once window) is detected in the log and dropped instead
    // of double-appended. A real AvailableNow file-source stream runs
    // to completion inside the query (maxFilesPerTrigger=2 over a
    // 4-file source forces multiple batches), then the
    // duplicate delivery is REPLAYED deliberately and must skip. The
    // final table state, read through the manifest, is oracle-exact:
    // any double-commit doubles a count and fails the driver hash —
    // the exactly-once claim is the hash match itself, regardless of
    // how the source files happened to batch.
    QueryDef(
      "q_tx_stream_sink",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txsink")
        // stage the source as a 4-file directory: the file-stream
        // source needs a directory, and multiple files force multiple
        // microbatches under maxFilesPerTrigger — the retry window
        // the marker protocol exists for
        val srcDir = s"${t.base}/src"
        Tables.events(s, d).select(col("event_id"), col("event_type"))
          .repartition(4).write.mode("overwrite").parquet(srcDir)
        val sch = s.read.parquet(srcDir).schema
        val appId = "graft_tx_sink"
        val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
        // two files per microbatch — still >1 batch over the 4-file
        // source (the at-least-once retry window stays exercised, and
        // the deliberate duplicate replay below is the exactly-once
        // proof either way), at half the per-batch stream-cycle +
        // commit overhead of one file per batch.
        val q = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 2).parquet(srcDir)
          .writeStream
          .option("checkpointLocation", s"${t.base}/_ckpt")
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val file = f"batch_$batchId%06d"
            df.write.mode("overwrite").parquet(t.path(file))
            val readVer = versions(t.logDir).lastOption.getOrElse(-1)
            require(idempotentCommit(t.logDir, readVer,
              Seq(Act("add", "all", file)), Set.empty, appId, batchId).isRight,
              s"sink commit for batch $batchId must land")
            lastBatch.updateAndGet(b => math.max(b, batchId))
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()

        // deliberate duplicate delivery of the last batch — the
        // at-least-once retry the marker must absorb
        val retry = idempotentCommit(t.logDir,
          versions(t.logDir).last, Seq(Act("add", "all", "batch_DUP")),
          Set.empty, appId, lastBatch.get())
        val retrySkipped = retry == Left("duplicate")

        t.read(snapshotFiles(t.logDir).values.flatten.toSeq.sorted)
          .groupBy("event_type").agg(nRows, keyChecksum("event_id"))
          .withColumn("retry_skipped", lit(retrySkipped))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n_rows,
             |  CAST(SUM(event_id * 7) AS BIGINT) AS key_checksum,
             |  TRUE AS retry_skipped
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // SCHEMA EVOLUTION on the manifest table: v1 appends files carrying
    // a column v0's files don't have, and readers mergeSchema across
    // the live set — old rows surface NULL for the new column, new
    // rows carry it; nothing is rewritten (the 100 TB property: adding
    // a column must be a metadata change, not a table rewrite). The
    // oracle replays the same evolution logically: per-lang totals
    // over old∪new rows, the non-null count isolating the new-schema
    // rows, and the checksum covering both generations.
    QueryDef(
      "q_tx_schema_evolve",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txevo")
        val docs = Tables.documents(s, d)
        docs.select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(t.path("gen0"))
        require(commit(t.logDir, -1, Seq(Act("add", "all", "gen0")), Set("all")).contains(0))
        docs.select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"))
          .write.mode("overwrite").parquet(t.path("gen1"))
        require(commit(t.logDir, 0, Seq(Act("add", "all", "gen1")), Set.empty).isDefined)

        val files = snapshotFiles(t.logDir).values.flatten.toSeq.sorted
        s.read.option("mergeSchema", "true").parquet(files.map(t.path): _*)
          .groupBy("lang")
          .agg(nRows,
            count(col("n_chars")).as("n_with_chars"),
            sum(col("n_chars")).cast("bigint").as("chars_sum"),
            keyChecksum("doc_id"))
          .orderBy("lang")
      },
      Some("""WITH fin AS (
             |  SELECT lang, doc_id, CAST(NULL AS BIGINT) AS nc FROM documents
             |  UNION ALL
             |  SELECT lang, doc_id + 1000000000, CAST(n_chars AS BIGINT)
             |  FROM documents)
             |SELECT lang, COUNT(*) AS n_rows,
             |  COUNT(nc) AS n_with_chars,
             |  CAST(SUM(nc) AS BIGINT) AS chars_sum,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // COMPACTION AS A TRANSACTION — small-file maintenance running
    // concurrently with writers, the everyday case a manifest table
    // exists for: the compactor rewrites one partition's fragments as
    // one file (remove×k + add×1) under the SAME OCC rules as any
    // writer, so it conflicts with a concurrent rewrite of ITS
    // partition but never blocks appends elsewhere. Script: v0 lands
    // lang_min as FOUR fragment files (plus the other partitions);
    // the compactor (stale @v0) commits the 4→1 rewrite at v1; an
    // appender also @v0 rebases past it into v2 (disjoint partition);
    // a SECOND compactor @v0 aborts on v1's overlap. Compaction must
    // be a CONTENT no-op — the oracle pins per-lang counts/checksums
    // that an off-by-one-fragment rewrite would break — while the
    // file count drop (4→1) is asserted from the manifest itself.
    QueryDef(
      "q_tx_compact",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txcomp")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val langs = docs.select("lang").distinct()
          .collect().map(_.getString(0)).sorted // bounded: #langs
        val (lmin, lmax) = (langs.head, langs.last)
        // v0: ONE write job produces the whole fragmented layout —
        // lang_min split into 4 slice dirs, the rest one slice each —
        // via a two-level partitionBy; acts derive from the layout
        docs.withColumn("slice",
            when(col("lang") === lmin,
              concat(lit("frag"), (col("doc_id") % 4).cast("int")))
              .otherwise(lit("base")))
          .write.partitionBy("lang", "slice").mode("overwrite")
          .parquet(t.path("base"))
        val baseActs = partitionedActs(s, t.dataDir, "base").flatMap {
          case (l, rel) => partitionedActs(s, t.dataDir, rel).map {
            case (_, sliceRel) => Act("add", l, sliceRel)
          }
        }
        require(commit(t.logDir, -1, baseActs, langs.toSet).contains(0))
        val nFragsBefore = snapshotFiles(t.logDir)(lmin).length.toLong
        require(nFragsBefore == 4L, s"expected 4 fragments, got $nFragsBefore")

        // compactor @v0: rewrite the snapshot's lmin fragments as ONE file
        val frags = snapshotFiles(t.logDir, 0)(lmin)
        t.read(frags).coalesce(1)
          .write.mode("overwrite").parquet(t.path(s"compacted_$lmin"))
        val vComp = commit(t.logDir, 0,
          frags.map(f => Act("remove", lmin, f)) :+
            Act("add", lmin, s"compacted_$lmin"), Set(lmin))
        require(vComp.contains(1), s"compactor must commit at v1, got $vComp")

        // appender @v0 (stale): disjoint partition — rebases past v1
        docs.filter(col("lang") === lmax)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"))
          .write.mode("overwrite").parquet(t.path(s"append_$lmax"))
        require(commit(t.logDir, 0,
          Seq(Act("add", lmax, s"append_$lmax")), Set(lmax)).contains(2))

        // second compactor @v0 (stale): lmin changed under it — abort
        val vComp2 = commit(t.logDir, 0,
          Seq(Act("remove", lmin, frags.head), Act("add", lmin, "recompact")),
          Set(lmin))
        require(vComp2.isEmpty, s"stale second compactor must abort, got $vComp2")

        val snap = snapshotFiles(t.logDir)
        val nFragsAfter = snap(lmin).length.toLong
        readPartitioned(s, t.dataDir, snap, "lang")
          .groupBy("lang").agg(nRows, keyChecksum("doc_id"))
          .withColumn("files_before", lit(nFragsBefore))
          .withColumn("files_after", lit(nFragsAfter))
          .withColumn("n_aborted", lit(1L))
          .orderBy("lang")
      },
      Some("""WITH l AS (
             |  SELECT MIN(lang) AS lmin, MAX(lang) AS lmax FROM documents),
             |fin AS (
             |  SELECT lang, doc_id FROM documents
             |  UNION ALL
             |  SELECT lang, doc_id + 1000000000 FROM documents, l
             |  WHERE lang = lmax)
             |SELECT lang, COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(4 AS BIGINT) AS files_before,
             |  CAST(1 AS BIGINT) AS files_after,
             |  CAST(1 AS BIGINT) AS n_aborted
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // EXPECTATIONS GATE with quarantine — enforcement, where
    // q_dq_audit only reports: rows failing the declared contract
    // (value > 0 here) are ROUTED to a quarantine partition instead of
    // the table, and both destinations commit in ONE transaction so
    // no reader can observe the table without its quarantine (the
    // half-committed gate is the production incident this prevents).
    // The 100 TB cost shape is the point: ONE scan — the validity
    // flag is a partition column of a single partitionBy write, never
    // two filtered passes over the source — and the commit is
    // metadata. Read back through the manifest: per-destination
    // counts + checksums, with conservation (main + quarantine =
    // source) enforced by the oracle hash.
    QueryDef(
      "q_tx_quarantine",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txq")
        // ONE pass: validity is a partition column, not a second filter scan
        Tables.events(s, d)
          .selectExpr("event_id", "event_type", "value",
            "CASE WHEN value > 0 THEN 'main' ELSE 'quarantine' END AS dest")
          .write.partitionBy("dest").mode("overwrite").parquet(t.path("gate"))
        // both destinations in ONE atomic version (a dest with zero
        // rows writes no partition dir — commit only what exists, and
        // report the empty destination as a 0/NULL row like the oracle)
        require(commit(t.logDir, -1,
          partitionedActs(s, t.dataDir, "gate").map { case (dest, f) => Act("add", dest, f) },
          Set("main", "quarantine")).contains(0))

        val snap = snapshotFiles(t.logDir)
        Seq("main", "quarantine").map { dest =>
          snap.get(dest) match {
            case Some(files) =>
              t.read(files).agg(nRows, keyChecksum("event_id"))
                .withColumn("dest", lit(dest))
                .select("dest", "n_rows", "key_checksum")
            case None =>
              s.range(1).select(lit(dest).as("dest"), lit(0L).as("n_rows"),
                lit(null).cast("long").as("key_checksum"))
          }
        }.reduce(_ unionAll _).orderBy("dest")
      },
      // NULL contract is explicit on both sides: a NULL value fails the
      // expectation and lands in quarantine (Spark's CASE ELSE), so the
      // oracle's quarantine predicate is `value <= 0 OR value IS NULL` —
      // not `NOT (value > 0)`, whose NULL evaluates to NULL and silently
      // DROPS the row from both destinations, breaking conservation.
      Some("""SELECT 'main' AS dest, COUNT(*) AS n_rows,
             |  CAST(SUM(event_id * 7) AS BIGINT) AS key_checksum
             |FROM events WHERE value > 0
             |UNION ALL
             |SELECT 'quarantine', COUNT(*),
             |  CAST(SUM(event_id * 7) AS BIGINT)
             |FROM events WHERE value <= 0 OR value IS NULL
             |ORDER BY dest""".stripMargin)),

    // DATA SKIPPING FROM MANIFEST STATS — Iceberg/Delta-style file
    // pruning one level ABOVE parquet footers: each commit records a
    // per-file zone map (min/max doc_id) as `stats` manifest lines, and
    // a range-predicate reader intersects its predicate with the
    // stats to decide WHICH FILES TO OPEN before any scan is planned.
    // At 100 TB this is the difference between listing-then-opening
    // every file (footer pruning still opens them) and never touching
    // the irrelevant 95% — the manifest is metadata-sized and lives on
    // the driver. Eight range-bucketed files (the per-file min/max are
    // the band edges by construction, so the stats lines need no
    // second look at the data); the query band overlaps exactly three
    // of them; the output pins the answer AND the pruning arithmetic.
    QueryDef(
      "q_tx_dataskip",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txskip")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val width = t.rangeBuckets(docs, docs.agg(max("doc_id")).head().getLong(0))(bucketZoneMaps)
        // predicate band: the middle quarter [2.5w, 4.5w) — overlaps
        // exactly buckets 2..4 at the edges: [2w..3w),[3w..4w),[4w..5w)
        val (qLo, qHi) = (width * 5 / 2, width * 9 / 2 - 1)
        t.prunedRead(qLo, qHi)(_.filter(col("doc_id").between(qLo, qHi)))
      },
      Some("""WITH m AS (SELECT MAX(doc_id) AS mx FROM documents),
             |w AS (SELECT mx // 8 + 1 AS width FROM m),
             |band AS (
             |  SELECT width * 5 // 2 AS lo, width * 9 // 2 - 1 AS hi FROM w)
             |SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
             |  CAST(3 AS BIGINT) AS files_scanned,
             |  CAST(5 AS BIGINT) AS files_skipped
             |FROM documents, band
             |WHERE doc_id BETWEEN lo AND hi""".stripMargin)),

    // PARTITION-SCOPED MERGE (upsert) — the most-used lake write op:
    // given an updates relation (changed rows + brand-new rows), only
    // the partitions that CONTAIN touched keys rewrite; everything
    // else keeps its committed files untouched (require()d in-query by
    // file identity, not just content). The merge itself is the
    // standard shape — target left-anti updates ∪ updated ∪ inserts —
    // executed per touched partition against the SNAPSHOT read, and
    // all rewrites land in ONE atomic version (readers never see a
    // half-merged table). At 100 TB partition-scoping is the whole
    // game: a 0.1%-of-keys update touching 2 of 2000 partitions
    // rewrites 0.1% of the table, not all of it.
    QueryDef(
      "q_tx_merge",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txmerge")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        val langs = t.commitByLang(docs)
        val (lmin, lmax) = (langs.head, langs.last)

        // updates: every 10th doc of lang_max gets n_chars += 1000;
        // inserts: re-keyed new rows landing in lang_min
        val updates = docs
          .filter(col("lang") === lmax && col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + lit(1000L))
        val inserts = docs.filter(col("lang") === lmin)
          .withColumn("doc_id", col("doc_id") + lit(2000000000L))
        val touched = Seq(lmin, lmax)

        // ONE merge job for all touched partitions: union the touched
        // snapshot partitions (lang attached from manifest metadata),
        // anti-join the update keys, re-add updated + inserted rows,
        // and land every rewritten partition with a single partitionBy
        // write — one Spark job per transaction, not one per partition
        // serialized on the driver. Acts derive from the layout the
        // job produced.
        val snap0 = snapshotFiles(t.logDir)
        val cur = readPartitioned(s, t.dataDir,
          touched.map(l => l -> snap0(l)).toMap, "lang")
        val merged = cur.join(
            updates.select(col("doc_id").as("uid"), col("lang").as("ulang")),
            col("doc_id") === col("uid") && col("lang") === col("ulang"),
            "left_anti")
          .unionByName(updates).unionByName(inserts)
        merged.write.partitionBy("lang").mode("overwrite").parquet(t.path("merged"))
        val acts = partitionedActs(s, t.dataDir, "merged").flatMap { case (l, rel) =>
          snap0(l).map(f => Act("remove", l, f)) :+ Act("add", l, rel)
        }
        require(acts.map(_.part).distinct.sorted == touched.sorted,
          "merge must rewrite exactly the touched partitions")
        require(commit(t.logDir, 0, acts, touched.toSet).contains(1))

        // untouched partitions must keep their v0 FILES, not just content
        val snap1 = snapshotFiles(t.logDir)
        langs.filterNot(touched.contains).foreach { l =>
          require(snap1(l) == snap0(l), s"untouched partition $l was rewritten")
        }
        val nRewritten = touched.size.toLong

        readPartitioned(s, t.dataDir, snap1, "lang")
          .groupBy("lang")
          .agg(nRows, sum(col("n_chars")).as("chars_sum"), keyChecksum("doc_id"))
          .withColumn("n_partitions_rewritten", lit(nRewritten))
          .withColumn("n_partitions_total", lit(langs.length.toLong))
          .select("lang", "n_rows", "chars_sum", "key_checksum",
            "n_partitions_rewritten", "n_partitions_total")
          .orderBy("lang")
      },
      Some("""WITH l AS (
             |  SELECT MIN(lang) AS lmin, MAX(lang) AS lmax FROM documents),
             |nl AS (SELECT COUNT(DISTINCT lang) AS n FROM documents),
             |fin AS (
             |  SELECT lang, doc_id,
             |    CAST(n_chars AS BIGINT)
             |      + CASE WHEN lang = (SELECT lmax FROM l) AND doc_id % 10 = 0
             |             THEN 1000 ELSE 0 END AS n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT lang, doc_id + 2000000000, CAST(n_chars AS BIGINT)
             |  FROM documents WHERE lang = (SELECT lmin FROM l))
             |SELECT lang, COUNT(*) AS n_rows,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(2 AS BIGINT) AS n_partitions_rewritten,
             |  (SELECT CAST(n AS BIGINT) FROM nl) AS n_partitions_total
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin)),

    // ROW-LEVEL DELETES VIA DELETION VECTORS — the modern lake delete
    // path: instead of rewriting a partition to drop 1% of its rows,
    // commit a metadata-sized sidecar of deleted keys under the
    // reserved `_dv` partition; readers anti-join the union of live
    // DVs. Deletes become O(deleted) writes, reads pay one broadcast
    // anti-join — until PURGE materializes the deletions (rewrite
    // files minus deleted keys, drop the DVs in the same version) and
    // reads are clean again. Two stacked deletes prove DV union; the
    // in-query require() proves purge changed no row content, and the
    // oracle pins the post-delete state both before and after purge
    // via the dv-count columns.
    QueryDef(
      "q_tx_delete_vectors",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txdv")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val langs = t.commitByLang(docs)

        // delete #1 and #2: each writes ONLY its deleted keys + a log line
        def deleteWhere(cond: Column, tag: String, readVer: Int): Int = {
          docs.filter(cond).select("doc_id")
            .write.mode("overwrite").parquet(t.path(s"dv_$tag"))
          commit(t.logDir, readVer, Seq(Act("add", "_dv", s"dv_$tag")), Set("_dv")).get
        }
        deleteWhere(col("doc_id") % 7 === 0, "a", 0)
        deleteWhere(col("doc_id") % 11 === 3, "b", 1)

        // manifest-resolved read: per-partition (the data files don't
        // carry the partition column), DV union anti-joined when live —
        // size-gated on the DV files' TOTAL BYTES from the listing
        def readTable(): DataFrame = {
          val snap = snapshotFiles(t.logDir)
          val live = readPartitioned(s, t.dataDir, snap, "lang", except = Set("_dv"))
          snap.get("_dv").fold(live) { dvs =>
            val del = t.read(dvs).select(col("doc_id").as("del_id")).distinct()
            val dvBytes = dvs.map(f => t.fs.getContentSummary(new Path(t.path(f))).getLength).sum
            antiJoinDv(s, live, del, dvBytes)
          }
        }
        val preDvs = snapshotFiles(t.logDir).getOrElse("_dv", Seq.empty).length.toLong
        val pre = readTable().agg(count(lit(1)), sum(col("doc_id") * 7)).head()
        // PURGE: ONE job materializes the DV-filtered read for every
        // partition (partitionBy write), drop DVs in the same version;
        // removes cover every rewritten partition's old files, adds
        // derive from the layout the job produced (a fully-deleted
        // partition writes no dir and simply disappears)
        val snap = snapshotFiles(t.logDir)
        readTable().write.partitionBy("lang").mode("overwrite").parquet(t.path("purged"))
        val purgeActs =
          langs.flatMap(l => snap(l).map(f => Act("remove", l, f))) ++
          partitionedActs(s, t.dataDir, "purged").map {
            case (l, rel) => Act("add", l, rel)
          } ++ snap("_dv").map(f => Act("remove", "_dv", f))
        require(commit(t.logDir, versions(t.logDir).last, purgeActs,
          langs.toSet + "_dv").isDefined)
        val postDvs = snapshotFiles(t.logDir).getOrElse("_dv", Seq.empty).length.toLong
        // the post-purge content proof derives from the FINAL per-lang
        // aggregate (materialized once via eager local checkpoint), not
        // a separate full-table read — the global (count, checksum) is
        // the exact integer sum of the per-lang rows. The returned
        // frame re-reads only the checkpointed 5-row aggregate.
        val fin = readTable()
          .groupBy("lang").agg(nRows, keyChecksum("doc_id"))
          .withColumn("dvs_before_purge", lit(preDvs))
          .withColumn("dvs_after_purge", lit(postDvs))
          .localCheckpoint(true)
        val finRows = fin.collect()
        require(pre.getLong(0) == finRows.map(_.getLong(1)).sum &&
            pre.getLong(1) == finRows.map(_.getLong(2)).sum,
          s"purge changed content: $pre vs ${finRows.mkString(",")}")
        fin.orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(2 AS BIGINT) AS dvs_before_purge,
             |  CAST(0 AS BIGINT) AS dvs_after_purge
             |FROM documents
             |WHERE NOT (doc_id % 7 = 0 OR doc_id % 11 = 3)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // MANIFEST STATS PRUNING A JOIN — the Iceberg metadata-join
    // pattern, one step past q_tx_dataskip's static range predicate:
    // the pruning bounds come from the OTHER RELATION. The dim side's
    // key min/max (one metadata-sized aggregate — two longs reach the
    // driver) intersects the fact table's per-file zone maps, so the
    // join plan never opens the fact files whose key range can't
    // match. At 100 TB this is the difference between scanning the
    // 95% of a fact table a narrow dim can never join and never
    // listing it: footer pruning still opens every file; dynamic
    // partition pruning still plans the full scan. The output pins
    // BOTH the join result and the pruning arithmetic — and the
    // oracle recomputes files_scanned from the dim bounds
    // (dmax//w - dmin//w + 1), so opening too many or too few files
    // fails the hash regardless of where the dim keys happen to land.
    QueryDef(
      "q_tx_join_prune",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txjp")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        // fact table: eight range buckets + zone-map stats, ONE write
        val width = t.rangeBuckets(docs, docs.agg(max("doc_id")).head().getLong(0))(bucketZoneMaps)

        // dim relation: a narrow key subset (band ∩ every-5th) standing
        // in for a small dimension table — its bounds drive the prune
        val (bandLo, bandHi) = (width * 7 / 2, width * 9 / 2 - 1)
        val dim = docs.filter(col("doc_id").between(bandLo, bandHi) &&
            col("doc_id") % 5 === 2)
          .select(col("doc_id").as("dim_id"))
        val bounds = dim.agg(min("dim_id"), max("dim_id")).head()
        require(!bounds.isNullAt(0), "dim relation is empty — prune is vacuous")

        // metadata join: dim bounds × manifest zone maps → files to open
        t.prunedRead(bounds.getLong(0), bounds.getLong(1))(
          _.join(broadcast(dim), col("doc_id") === col("dim_id")))
      },
      Some("""WITH m AS (SELECT MAX(doc_id) AS mx FROM documents),
             |w AS (SELECT mx // 8 + 1 AS width FROM m),
             |dim AS (
             |  SELECT doc_id FROM documents, w
             |  WHERE doc_id BETWEEN width * 7 // 2 AND width * 9 // 2 - 1
             |    AND doc_id % 5 = 2),
             |dm AS (SELECT MIN(doc_id) AS dmin, MAX(doc_id) AS dmax FROM dim),
             |ns AS (SELECT dmax // width - dmin // width + 1 AS n FROM dm, w)
             |SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(d.doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_sum,
             |  (SELECT CAST(n AS BIGINT) FROM ns) AS files_scanned,
             |  (SELECT CAST(8 - n AS BIGINT) FROM ns) AS files_skipped
             |FROM documents d JOIN dim USING (doc_id)""".stripMargin)),

    // PER-FILE BLOOM INDEX IN THE MANIFEST — the pruning axis zone
    // maps can't cover: min/max lines prune RANGE predicates on the
    // layout key; a point lookup on any OTHER column sails through
    // every zone map. Each commit carries a per-file bloom over the
    // lookup column as `bloom` manifest lines (the Delta bloom-index /
    // Iceberg puffin-blob pattern), built by ONE grouped aggregation
    // (8 bloom rows reach the driver — metadata); the reader probes
    // the blooms with its point key and opens only candidate files.
    // No false negatives by construction (the key's own file always
    // probes positive — the oracle equality IS that proof); false
    // positives cost an extra file open, never a wrong answer. The
    // spec asserts the prune actually bit (candidates < total files).
    QueryDef(
      "q_tx_bloom_index",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txbli")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        // ONE scalar-aggregate pass supplies the bucket width, the
        // bloom sizing count AND the lookup key (don't re-read what one
        // pass can answer)
        val head = docs.agg(max("doc_id"), count(lit(1)), min("n_chars")).head()
        val (maxId, n, k) = (head.getLong(0), head.getLong(1), head.getLong(2))
        // per-file blooms over the NON-layout column, one grouped pass
        val bloomAgg = graft.functions.BloomFilterAgg.sized(n / 8 + 1)
        t.rangeBuckets(docs, maxId) { width =>
          docs.withColumn("bucket", bucketOf(width))
            .groupBy("bucket").agg(bloomAgg(col("n_chars")).as("bits"))
            .collect().toSeq
            .map(r => Act("bloom", bucketFile(r.getInt(0)), r.getSeq[Long](1).mkString(",")))
        }

        // point lookup on n_chars = MIN(n_chars) (k, from the single
        // aggregate pass above): probe the manifest blooms, open only
        // candidate files
        val bloomLines = versions(t.logDir).flatMap(readActs(t.logDir, _)).collect {
          case Act("bloom", f, bs) => (f, bs.split(",").map(_.toLong).toSeq)
        }
        val live = snapshotFiles(t.logDir).values.flatten.toSet
        val candidates = bloomLines.filter { case (f, bits) =>
          live(f) && graft.functions.BloomHash.mightContainBoxed(bits, k)
        }.map(_._1).sorted
        require(candidates.nonEmpty, "the key's own file must probe positive")
        t.readExisting(candidates)
          .filter(col("n_chars") === k)
          .agg(nRows, keyChecksum("doc_id"))
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum
             |FROM documents
             |WHERE n_chars = (SELECT MIN(n_chars) FROM documents)""".stripMargin)),

    // STATS MAINTENANCE THROUGH COMPACTION — the production bug class
    // this pins: a compactor that rewrites files but DROPS their zone
    // maps silently degrades every future pruned read back to a full
    // scan (correct answers, 100 TB cost). Here the maintenance commit
    // carries the new file's stats line derived from the UNION of the
    // removed files' manifest ranges — metadata-only, no second look
    // at the data — and the same band query as q_tx_dataskip shows the
    // pruning arithmetic adapting to the new layout (2 of 7 files
    // opened where the pre-compaction layout opened 3 of 8). Stale
    // stats lines for dead files are inert by construction: the read
    // path intersects stats with the LIVE file set.
    QueryDef(
      "q_tx_dataskip_compact",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txskc")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val width = t.rangeBuckets(docs, docs.agg(max("doc_id")).head().getLong(0))(bucketZoneMaps)

        // maintenance: compact buckets 3+4 into ONE file; the new
        // stats line is the union of the removed ranges, read from the
        // manifest — stats upkeep costs metadata, never a data scan
        val victims = Seq(3, 4).map(bucketFile)
        val vStats = liveZoneMaps(t.logDir).filter { case (f, _, _) => victims.contains(f) }
        require(vStats.length == 2, s"expected 2 victim stats, got $vStats")
        t.readExisting(victims).coalesce(1)
          .write.mode("overwrite").parquet(t.path("compact34"))
        require(commit(t.logDir, 0,
          victims.map(f => Act("remove", "all", f)) ++
            Seq(Act("add", "all", "compact34"),
              zoneMap("compact34", vStats.map(_._2).min, vStats.map(_._3).max)),
          Set("all")).contains(1))

        // the q_tx_dataskip band over the POST-maintenance layout
        val (qLo, qHi) = (width * 5 / 2, width * 9 / 2 - 1)
        t.prunedRead(qLo, qHi)(_.filter(col("doc_id").between(qLo, qHi)))
      },
      Some("""WITH m AS (SELECT MAX(doc_id) AS mx FROM documents),
             |w AS (SELECT mx // 8 + 1 AS width FROM m),
             |band AS (
             |  SELECT width * 5 // 2 AS lo, width * 9 // 2 - 1 AS hi FROM w)
             |SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
             |  CAST(2 AS BIGINT) AS files_scanned,
             |  CAST(5 AS BIGINT) AS files_skipped
             |FROM documents, band
             |WHERE doc_id BETWEEN lo AND hi""".stripMargin)),

    // RESTORE TO VERSION — time travel made writable: a bad deploy
    // rewrote and appended; RESTORE commits a NEW version whose acts
    // are the file-level DIFF back to the target snapshot (re-add what
    // was removed, remove what was added — legal because removed files
    // stay on disk until vacuum reclaims them; Delta's RESTORE TABLE
    // works exactly this way). History is preserved — the bad versions
    // remain queryable via as-of reads — and the restore itself is
    // METADATA-ONLY: zero data files move, the commit is the diff's
    // act lines, so restoring a 100 TB table costs bytes. The oracle
    // pins the restored state (== the original table) and the log
    // shape; the in-query require proves the restored snapshot equals
    // the as-of snapshot file-for-file.
    QueryDef(
      "q_tx_restore",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txrst")
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val langs = t.commitByLang(docs)
        val (lmin, lmax) = (langs.head, langs.last)

        // the "bad deploy": v1 rewrites lmin to evens, v2 appends
        // re-keyed duplicates into lmax
        docs.filter(col("lang") === lmin && col("doc_id") % 2 === 0)
          .select("doc_id")
          .write.mode("overwrite").parquet(t.path("bad_rewrite"))
        require(commit(t.logDir, 0,
          snapshotFiles(t.logDir)(lmin).map(f => Act("remove", lmin, f)) :+
            Act("add", lmin, "bad_rewrite"), Set(lmin)).contains(1))
        docs.filter(col("lang") === lmax)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"))
          .write.mode("overwrite").parquet(t.path("bad_append"))
        require(commit(t.logDir, 1,
          Seq(Act("add", lmax, "bad_append")), Set(lmax)).contains(2))

        // RESTORE to v0: metadata-only diff commit
        val restored = restore(t.logDir, toVersion = 0)
        require(restored.contains(3), s"restore must commit at v3, got $restored")

        // the restored snapshot must equal the as-of-v0 snapshot exactly
        require(snapshotFiles(t.logDir) == snapshotFiles(t.logDir, asOf = 0),
          "restored snapshot must equal the as-of target")
        val nVersions = versions(t.logDir).length.toLong
        readPartitioned(s, t.dataDir, snapshotFiles(t.logDir), "lang")
          .groupBy("lang").agg(nRows, keyChecksum("doc_id"))
          .withColumn("n_versions", lit(nVersions))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum,
             |  CAST(4 AS BIGINT) AS n_versions
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // CHANGE DATA FEED between two versions — what downstream
    // consumers (incremental ETL, cache invalidation, replication)
    // read instead of re-scanning the table: the row-level net diff,
    // computed from ONLY the files the window's commits touched. The
    // file-level diff (added vs removed between the snapshots) prunes
    // the read — untouched partitions are never opened, so CDF cost
    // scales with the CHANGE, not the table (the 100 TB property; a
    // carried-over unchanged row inside a rewritten file is filtered
    // by the full-outer compare, exactly the file-diff CDF semantics
    // lake engines fall back to without per-row lineage). Three change
    // types from one edit script: v1 rewrites lang_max (drop %9==4,
    // bump n_chars for %10==0), v2 inserts re-keyed rows into
    // lang_min; the oracle replays the script logically.
    QueryDef(
      "q_tx_cdf",
      (s, d) => {
        val t = Table.fresh(s, d, "graft_txcdf")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
        val langs = t.commitByLang(docs)
        val (lmin, lmax) = (langs.head, langs.last)

        // v1: rewrite lang_max — deletes (%9==4) and updates (%10==0)
        docs.filter(col("lang") === lmax && col("doc_id") % 9 =!= 4)
          .withColumn("n_chars",
            when(col("doc_id") % 10 === 0, col("n_chars") + lit(1000L))
              .otherwise(col("n_chars")))
          .select("doc_id", "n_chars")
          .write.mode("overwrite").parquet(t.path(s"rewrite_$lmax"))
        require(commit(t.logDir, 0,
          snapshotFiles(t.logDir)(lmax).map(f => Act("remove", lmax, f)) :+
            Act("add", lmax, s"rewrite_$lmax"), Set(lmax)).contains(1))
        // v2: inserts into lang_min
        docs.filter(col("lang") === lmin)
          .select((col("doc_id") + lit(2000000000L)).as("doc_id"), col("n_chars"))
          .write.mode("overwrite").parquet(t.path(s"inserts_$lmin"))
        require(commit(t.logDir, 1,
          Seq(Act("add", lmin, s"inserts_$lmin")), Set(lmin)).contains(2))

        changeFeed(s, t.dataDir, t.logDir, fromVersion = 0, toVersion = 2)
          .groupBy("change_type").agg(nRows, keyChecksum("doc_id"))
          .orderBy("change_type")
      },
      Some("""WITH l AS (
             |  SELECT MIN(lang) AS lmin, MAX(lang) AS lmax FROM documents),
             |changes AS (
             |  SELECT 'delete' AS change_type, doc_id FROM documents, l
             |  WHERE lang = lmax AND doc_id % 9 = 4
             |  UNION ALL
             |  SELECT 'update', doc_id FROM documents, l
             |  WHERE lang = lmax AND doc_id % 10 = 0 AND doc_id % 9 <> 4
             |  UNION ALL
             |  SELECT 'insert', doc_id + 2000000000 FROM documents, l
             |  WHERE lang = lmin)
             |SELECT change_type, COUNT(*) AS n_rows,
             |  CAST(SUM(doc_id * 7) AS BIGINT) AS key_checksum
             |FROM changes GROUP BY change_type ORDER BY change_type""".stripMargin))
  )

  /** RESTORE to `toVersion` as a new commit: the file-level diff
    * between the current snapshot and the target — re-add files the
    * window removed, remove files it added. Metadata-only (no data
    * moves); conflicts with any concurrent writer of a diffed
    * partition under the usual OCC rules. None = nothing to restore
    * (snapshots already equal) or conflict. */
  def restore(logDir: String, toVersion: Int): Option[Int] = {
    val vs = versions(logDir)
    if (vs.isEmpty) return None
    val readVer = vs.last
    val cur = snapshotFiles(logDir)
    val target = snapshotFiles(logDir, asOf = toVersion)
    val parts = (cur.keySet ++ target.keySet).toSeq.sorted
    val acts = parts.flatMap { p =>
      val (c, t) = (cur.getOrElse(p, Seq.empty), target.getOrElse(p, Seq.empty))
      c.filterNot(t.contains).map(f => Act("remove", p, f)) ++
        t.filterNot(c.contains).map(f => Act("add", p, f))
    }
    if (acts.isEmpty) None
    else commit(logDir, readVer, acts, acts.map(_.part).toSet)
  }

  /** File-level diff between two snapshot versions: (removed, added),
    * each in sorted-partition order — the pruned read set a change
    * feed or restore works from. */
  def fileDiff(logDir: String, fromVersion: Int,
               toVersion: Int): (Seq[String], Seq[String]) = {
    val from = snapshotFiles(logDir, asOf = fromVersion)
    val to = snapshotFiles(logDir, asOf = toVersion)
    val parts = (from.keySet ++ to.keySet).toSeq.sorted
    val removed = parts.flatMap(p => from.getOrElse(p, Seq.empty)
      .filterNot(to.getOrElse(p, Seq.empty).contains))
    val added = parts.flatMap(p => to.getOrElse(p, Seq.empty)
      .filterNot(from.getOrElse(p, Seq.empty).contains))
    (removed, added)
  }

  /** Row-level change feed between two snapshot versions, from ONLY
    * the files their file-level diff touches: full-outer-join the
    * removed-files read against the added-files read on the key and
    * classify — before-only = delete, after-only = insert, both with
    * a changed payload = update; carried-over identical rows fall out.
    * Returns (change_type, doc_id, n_chars). */
  def changeFeed(s: SparkSession, dataDir: String, logDir: String,
                 fromVersion: Int, toVersion: Int): DataFrame = {
    val (removed, added) = fileDiff(logDir, fromVersion, toVersion)
    def readFiles(fs: Seq[String], idCol: String, vCol: String) =
      if (fs.isEmpty)
        s.range(0).selectExpr(s"id AS $idCol", s"CAST(NULL AS BIGINT) AS $vCol")
      else s.read.parquet(fs.map(f => s"$dataDir/$f"): _*)
        .select(col("doc_id").as(idCol), col("n_chars").cast("long").as(vCol))
    val before = readFiles(removed, "b_id", "b_chars")
    val after = readFiles(added, "a_id", "a_chars")
    before.join(after, col("b_id") === col("a_id"), "full_outer")
      .withColumn("change_type",
        when(col("b_id").isNull, lit("insert"))
          .when(col("a_id").isNull, lit("delete"))
          .when(col("b_chars") =!= col("a_chars"), lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(col("change_type"),
        coalesce(col("a_id"), col("b_id")).as("doc_id"),
        coalesce(col("a_chars"), col("b_chars")).as("n_chars"))
  }

  /** Materialize the flattened snapshot at `version` as
    * `_log/ckpt_v%06d.tsv` (add-lines only) — readers replay the
    * newest checkpoint plus the log tail after it instead of the full
    * history. The checkpoint is published atomically through the same
    * staged-link [[publish]] as commits. */
  def writeCheckpoint(logDir: String, version: Int): Unit = {
    publish(logDir, checkpointName(version),
      snapshotFiles(logDir, version).toSeq.sortBy(_._1).flatMap { case (p, fs) =>
        fs.map(f => Act("add", p, f))
      })
    ()
  }

  /** Snapshot from the newest checkpoint plus the tail of the log
    * after it; None when no checkpoint exists yet. (The same path
    * [[snapshotFiles]] takes by default once a checkpoint exists.) */
  def readCheckpoint(logDir: String): Option[Map[String, Seq[String]]] =
    checkpointVersions(logDir).lastOption
      .map(_ => snapshotFiles(logDir, useCheckpoint = true))
}
