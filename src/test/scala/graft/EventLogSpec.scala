package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the event-log kernels shared by the `events` entries of
  * Cdc (sessions, SCD2 segments), TimeSeries (daily series, day-ordered
  * fold, 6-hour gap fill) and Analytics (transition counts, the
  * stream-head frame, the two-segment order sample). */
class EventLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("event-log entries keep every output row") {
    // fingerprint per entry (TestSpark.fingerprint), pinned so that a
    // change to a shared kernel that shifts any row of any entry fails
    // here, not only in oracle parity
    val expected = Map(
      "q_sessionize" -> "3:9323698482161033543",
      "q_sessionize_incremental" -> "3:9323698482161033543",
      "q_scd2" -> "802:84976508141223914652",
      "q_scd2_asof" -> "15:31173240641223427993",
      "q_ts_seasonal" -> "5:10318712301357115033",
      "q_ts_acf" -> "35:55359726357172578222",
      "q_ts_cusum" -> "5:1465674212831537260",
      "q_ts_forecast" -> "5:-4213594530522012876",
      "q_ts_ewma" -> "5:-918325437079854404",
      "q_ts_holt" -> "5:-696159728691251150",
      "q_ts_resample" -> "1759:-619236839079773259411",
      "q_ts_interpolate" -> "1759:-424937101294405376735",
      "q_event_transitions" -> "25:14677122914798700138",
      "q_markov_acc" -> "5:-3484719721237445263",
      "q_churn" -> "2:-8811849850665399181",
      "q_survival" -> "2:-470017473056364640",
      "q_welch_ttest" -> "1:7560233554934259944",
      "q_ks_test" -> "1:-3360937789596849240",
      "q_mannwhitney" -> "1:4639019244228342913")
    val got = expected.keys.map { name =>
      name -> TestSpark.fingerprint(SparkEntry.queries(name)(spark, sf))
    }.toMap
    assert(got === expected)
  }
}
