package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** How `Verify` and `Bench` treat an entry that throws: a non-fatal
  * failure is reported for that entry and the run moves on; a fatal error
  * (an `OutOfMemoryError`) ends the run instead of being folded into the
  * next entry's numbers. */
class EntryFailureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "unused-sf-dir" // the entries below never read their data dir

  private def throwing(t: Throwable): (SparkSession, String) => DataFrame = (_, _) => throw t

  /** An output dir holding a stale nested result for entry `name`. */
  private def withStaleOutput(name: String)(body: (Path, Path) => Unit): Unit = {
    val out = Files.createTempDirectory("graft_verify_entry")
    try {
      val entry = Files.createDirectories(out.resolve(name).resolve("_temporary"))
      Files.writeString(entry.resolve("part-0"), "stale")
      body(out, out.resolve(name))
    } finally FileUtils.deleteDirectory(out.toFile)
  }

  test("Verify: a non-fatal entry failure is reported and its stale output removed") {
    withStaleOutput("q_failing") { (out, entry) =>
      Verify.runEntry(spark, sf, out.toString, "q_failing", throwing(new RuntimeException("boom")))
      assert(!Files.exists(entry), s"stale output survived at $entry")
    }
  }

  test("Verify: an OutOfMemoryError from an entry propagates") {
    withStaleOutput("q_oom") { (out, _) =>
      val e = intercept[OutOfMemoryError] {
        Verify.runEntry(spark, sf, out.toString, "q_oom", throwing(new OutOfMemoryError("heap")))
      }
      assert(e.getMessage === "heap")
    }
  }

  test("Verify: a passing entry replaces the stale output with its parquet") {
    withStaleOutput("q_ok") { (out, entry) =>
      Verify.runEntry(spark, sf, out.toString, "q_ok", (s, _) => s.range(3).toDF("id"))
      assert(spark.read.parquet(entry.toString).count() === 3L)
    }
  }

  test("Bench: a non-fatal entry failure comes back as its message") {
    assert(Bench.runEntry(spark, sf, throwing(new RuntimeException("boom")))
      === Some("RuntimeException: boom"))
    assert(Bench.runEntry(spark, sf, (s, _) => s.range(3).toDF("id")) === None)
  }

  test("Bench: an OutOfMemoryError from an entry propagates") {
    intercept[OutOfMemoryError] {
      Bench.runEntry(spark, sf, throwing(new OutOfMemoryError("heap")))
    }
  }

  test("Bench: an unknown BENCH_ONLY name fails the selection; an explicit untimed entry runs") {
    val e = intercept[IllegalArgumentException](Bench.selected(Some("q_scan_parquet,q_nope")))
    assert(e.getMessage.contains("q_nope"))
    assert(Bench.selected(Some("q_dedup_ngram")) === Seq("q_dedup_ngram"))
  }
}
