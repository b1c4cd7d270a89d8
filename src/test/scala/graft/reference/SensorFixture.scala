package graft.reference

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.util.Random

/** Deterministic stand-ins for the reference's two sensor CSVs, built
  * only from the documented profile in FIXTURES.md §A (never from the
  * code under test) and written once per test JVM to a temp directory.
  *
  *  - [[seedCsv]] (`csvFile_2021_01_27.csv`): 6054 rows, unique gapped
  *    ids 3208–10807, one reading every 2–3 s from 2021-01-27 09:15:28
  *    to 12:55:06;
  *  - [[csv2]] (`csv2.csv`): a block of 755 rows (gapped ids 2799–4071,
  *    2021-02-11 14:32:55 → 15:09:36) written twice with the same pandas
  *    index, so each id is present exactly twice, ids restart halfway,
  *    the first id is 2799 and the last 4071. Both copies of id 2799 are
  *    the verbatim §A sample row, whose golden `Tem(Avg)` is
  *    24.41182861328125.
  *
  * Every file has the 26-column producer header: an empty-named pandas
  * index column first, and numeric text in `TbottomTestTankHpCir`.
  */
object SensorFixture {

  private val Header: Seq[String] =
    Seq("", "id", "dateTime", "Tamb", "TtopTestTankHPCir", "TbottomTestTankHpCir",
      "TtopSourceTank", "TloadTankMix", "TTopTestTankLoadCir", "TloadMix",
      "TbottomSourceTank", "TbottomTestTankLoadCir") ++
      (0 to 9).map(i => s"T$i") ++
      Seq("flowHP", "flowLoad", "Load_kW", "Heat_Capacity_kW")

  /** `csv2.csv` line 2, verbatim (FIXTURES.md §A). */
  private val SampleRow: String =
    "0,2799,2021-02-11 14:32:55,18.6031,23.4007,23.6036,17.5904,21.0011,24.1784," +
      "19.5148,16.848,21.1024,24.6181,24.6857,24.2799,24.0432,22.7584,24.6857," +
      "24.8548,24.7534,24.6857,24.7534,925.4415900002797,0.5340774213713702," +
      "0.0018917531154484322,-0.21694738032782843"

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_sensor_fixture")
    d.toFile.deleteOnExit()
    d
  }

  lazy val seedCsv: String = write("csvFile_2021_01_27.csv",
    rows(seed = 27L, n = 6054, firstId = 3208, lastId = 10807,
      start = "2021-01-27T09:15:28", end = "2021-01-27T12:55:06"))

  lazy val csv2: String = {
    val block = rows(seed = 211L, n = 755, firstId = 2799, lastId = 4071,
      start = "2021-02-11T14:32:55", end = "2021-02-11T15:09:36")
    val withSample = SampleRow +: block.tail
    write("csv2.csv", withSample ++ withSample)
  }

  private val Stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** `n` rows with the pandas index 0..n-1. Ids rise from `firstId` to
    * `lastId` and seconds from `start` to `end`, the extra steps spread
    * evenly (so ids are gapped and the cadence is about 2 s). */
  private def rows(seed: Long, n: Int, firstId: Int, lastId: Int,
      start: String, end: String): Seq[String] = {
    val rnd = new Random(seed)
    val t0 = LocalDateTime.parse(start)
    val span = java.time.Duration.between(t0, LocalDateTime.parse(end)).getSeconds
    def spread(i: Int, total: Long): Long = i.toLong * total / (n - 1)
    def f4(v: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(v))
    (0 until n).map { i =>
      val base = 16.0 + 9.0 * rnd.nextDouble()
      val tanks = Seq.fill(9)(f4(base - 3.0 + 6.0 * rnd.nextDouble()))
      val strat = Seq.fill(10)(f4(base - 1.5 + 3.0 * rnd.nextDouble()))
      val flows = Seq(850.0 + 150.0 * rnd.nextDouble(), rnd.nextDouble(),
        0.02 * rnd.nextDouble() - 0.01, rnd.nextDouble() - 0.5).map(_.toString)
      (Seq(i.toString, (firstId + spread(i, lastId - firstId)).toString,
        t0.plusSeconds(spread(i, span)).format(Stamp)) ++ tanks ++ strat ++ flows).mkString(",")
    }
  }

  private def write(name: String, lines: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.write(f, (Header.mkString(",") +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
    f.toFile.deleteOnExit()
    f.toString
  }
}
