package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.reference.{InMemoryTransport, SensorFixture, TemPipelines}
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.ProcfsProbe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file:` scheme (`graft.io`): every local write of the
  * engine runs without spawning a process, and the nio calls behave like
  * stock Hadoop's `chmod`/`readlink` ones. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val root = URI.create("file:///")

  private def tmp(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toString)

  /** `jdk.ProcessStart` events recorded in this JVM while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); Files.delete(file) }
  }

  /** Spark's `ArtifactManager` deletes a discarded session's artifact dir
    * with `rm -rf` on the JVM's cleaner thread, whenever a GC finds that
    * session (earlier specs leave many): timed by the GC, not by the
    * writes under test, and not a write of the engine. */
  private def artifactCleanup(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))

  /** Streaming checkpoint (offset + commit log per micro-batch), the
    * pipe-CSV sink, and a TxLog manifest commit over parquet. */
  private def localWrites(kv: Seq[(String, String)]): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = TemPipelines.streamConsume(mem.toDF().toDF("key", "value"), Trigger.ProcessingTime(0L),
      "memory", "t_localfs_stream", Map("checkpointLocation" -> tmp("graft_localfs_ckpt").toString))
    try kv.grouped((kv.size + 3) / 4).foreach { chunk =>
      mem.addData(chunk)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === 4)
    assert(spark.table("t_localfs_stream").count() === kv.size.toLong)
    spark.catalog.dropTempView("t_localfs_stream")

    val t = new InMemoryTransport
    assert(TemPipelines.seedProduce(spark, SensorFixture.csv2, t) === 1510L)
    val csv = new Path(tmp("graft_localfs_csv"), "out").toString
    TemPipelines.batchConsume(spark, t, Some(csv), show = false)
    assert(spark.read.option("header", "true").option("sep", "|").csv(csv).count() === 1510L)

    Bench.force(SparkEntry.queries("q_tx_bloom_index")(spark, sf))
  }

  test("a checkpointed stream, the pipe-CSV sink and a TxLog commit spawn no process") {
    val kv = TemPipelines.toKeyValue(TemPipelines.readSeedCsv(spark, SensorFixture.csv2))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    ProcfsProbe.settle()
    val starts = processStarts(localWrites(kv)).filterNot(artifactCleanup)
    val shown = starts.map { e =>
      val top = e.getStackTrace.getFrames.asScala.take(12)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < ")
      s"${e.getString("command")}: $top"
    }
    assert(starts.isEmpty, shown.mkString(s"${starts.size} process starts:\n", "\n", ""))
  }

  test("the session's file: FileSystem and FileContext resolve to graft.io") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tmp("graft_localfs_resolve").toString).getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
  }

  private def stockRaw: RawLocalFileSystem = initialized(new RawLocalFileSystem)
  private def nioRaw: RawLocalFileSystem = initialized(new NioRawLocalFileSystem)
  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, new Configuration())
    fs
  }

  /** All twelve mode bits (sticky included) as the kernel holds them. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Integer] & 0x0fff

  test("setPermission and mkdirs(path, perm) leave the same mode bits as stock chmod") {
    val dir = tmp("graft_localfs_perm")
    for (bits <- Seq(0x1a4, 0x1c0, 0x1ed); (name, fs) <- Seq("stock" -> stockRaw, "nio" -> nioRaw)) {
      val perm = new FsPermission(bits.toShort)
      val f = new Path(dir, s"f_${name}_$bits")
      fs.create(f).close()
      fs.setPermission(f, perm)
      assert(mode(f) === bits, s"$name setPermission $perm")
      val d = new Path(dir, s"d_${name}_$bits/sub")
      assert(fs.mkdirs(d, perm))
      assert(mode(d) === mode(new Path(dir, s"d_stock_$bits/sub")), s"$name mkdirs $perm")
    }
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    assert(sticky.getStickyBit)
    for ((name, fs) <- Seq("stock" -> stockRaw, "nio" -> nioRaw)) {
      val d = new Path(dir, s"sticky_$name")
      assert(fs.mkdirs(d))
      fs.setPermission(d, sticky)
      assert(mode(d) === 0x3ff, s"$name sticky")
    }
  }

  private def view(s: FileStatus) =
    (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.isDirectory, s.getLen,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("getFileLinkStatus matches stock on a file, a directory, a link and a dangling link") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val file = Files.write(dir.resolve("file"), "payload".getBytes(UTF_8))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val (stock, nio) = (stockRaw, nioRaw)
    for (p <- Seq(file, sub, link, dangling)) {
      val unqualified = new Path(p.toString)
      assert(view(nio.getFileLinkStatus(unqualified)) === view(stock.getFileLinkStatus(unqualified)),
        p.getFileName.toString)
    }
    val viaLink = nio.getFileLinkStatus(new Path(link.toString))
    assert(viaLink.isSymlink && viaLink.getSymlink === new Path(s"file:$file") && viaLink.getLen === 7)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)

    // `file:`-qualified, as FileContext passes them: stock's readlink misses the link.
    val qualified = new Path(s"file:$link")
    assert(!stock.getFileLinkStatus(qualified).isSymlink)
    assert(nio.getFileLinkStatus(qualified).isSymlink)
    val fc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
    assert(fc.getFileLinkStatus(qualified).getSymlink === new Path(s"file:$file"))
    assert(!fc.getFileLinkStatus(new Path(s"file:$file")).isSymlink)
  }

  /** A checkpoint-style commit: write `.1.tmp`, rename it over `1`. Returns
    * the directory listing and the content of `1` (read back through the
    * checksummed stream, so a stale `.crc` would fail). */
  private def renameOverwrite(fc: FileContext, dir: Path): (Seq[String], String) = {
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
    val (tmpFile, dst) = (new Path(dir, ".1.tmp"), new Path(dir, "1"))
    write(dst, "old")
    write(tmpFile, "the new entry")
    fc.rename(tmpFile, dst, Options.Rename.OVERWRITE)
    val in = fc.open(dst)
    val content = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val ls = Files.list(Paths.get(dir.toUri.getPath))
    try (ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted, content) finally ls.close()
  }

  test("FileContext rename with OVERWRITE moves a temp file and its .crc like stock") {
    val stock = renameOverwrite(FileContext.getFileContext(root, new Configuration()),
      tmp("graft_localfs_rename_stock"))
    val nio = renameOverwrite(FileContext.getFileContext(root, spark.sessionState.newHadoopConf()),
      tmp("graft_localfs_rename_nio"))
    assert(nio === stock)
    assert(nio === (Seq(".1.crc", "1"), "the new entry"))
  }
}
