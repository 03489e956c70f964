package graft.ts

import graft.SparkSpec
import java.time.Duration

/** Continuity analysis pins (A5/A6/W1/W2; reference
  * tests/test_load_file.py:954-976 pin inferred "3600s" on hourly data).
  */
class ContinuitySpec extends SparkSpec {
  import spark.implicits._

  // hourly series with a 3-hour hole: 00,01,02, [gap], 05,06
  private def gappy = Seq(0, 1, 2, 5, 6)
    .map(h => ts(f"2024-01-01 $h%02d:00:00")).toDF("ts")

  test("inferFrequency returns '3600s' for hourly data (reference pin)") {
    assert(Continuity.inferFrequency(gappy, "ts") == Some("3600s"))
  }

  test("gap scan finds the hole with expected_points = diff/expected - 1") {
    val gaps = Continuity.gaps(gappy, "ts",
      expected = Duration.ofHours(1), minGap = Duration.ofMinutes(1))
    assert(gaps.size == 1)
    val g = gaps.head
    assert(g.start == ts("2024-01-01 02:00:00"))
    assert(g.end == ts("2024-01-01 05:00:00"))
    assert(g.duration == Duration.ofHours(3))
    assert(g.expectedPoints == 2) // 03:00 and 04:00 missing
  }

  test("analyze: span, gap total, coverage percent") {
    val r = Continuity.analyze(gappy, "ts")
    assert(r.inferredFrequency == Some("3600s"))
    assert(r.totalSpan == Some(Duration.ofHours(6)))
    assert(r.totalGapDuration == Duration.ofHours(3))
    assert(math.abs(r.coveragePercent - 50.0) < 1e-9)
    assert(r.totalPoints == 5)
  }

  test("continuous series: no gaps, 100% coverage") {
    val cont = (0 to 5).map(h => ts(f"2024-01-01 $h%02d:00:00")).toDF("ts")
    val r = Continuity.analyze(cont, "ts")
    assert(r.gaps.isEmpty)
    assert(r.coveragePercent == 100.0)
  }

  test("analyze edge cases: empty, one row, all-equal timestamps, a null timestamp") {
    def report(tss: Option[String]*) =
      Continuity.analyze(tss.map(_.map(ts)).toDF("ts"), "ts")
    val t0 = Some("2024-01-01 00:00:00")
    // no diff to take a median of: the 1s fallback frequency
    val empty = report()
    assert(empty == Continuity.ContinuityReport(Some("1s"), None, Nil, Duration.ZERO, 100.0, 0L))
    val one = report(t0)
    assert(one == Continuity.ContinuityReport(Some("1s"), Some(Duration.ZERO), Nil,
      Duration.ZERO, 100.0, 1L))
    // a zero median diff infers "0s"; no diff exceeds the 1min gap threshold
    val equal = report(t0, t0, t0)
    assert(equal == Continuity.ContinuityReport(Some("0s"), Some(Duration.ZERO), Nil,
      Duration.ZERO, 100.0, 3L))
    // a row whose timestamp failed to parse still counts as a point
    val withNull = report(None +: Seq(0, 1, 2, 3, 6).map(h => Some(f"2024-01-01 $h%02d:00:00")): _*)
    assert(withNull.inferredFrequency == Some("3600s"))
    assert(withNull.totalSpan == Some(Duration.ofHours(6)))
    assert(withNull.gaps.map(g => (g.start, g.end, g.expectedPoints)) ==
      Seq((ts("2024-01-01 03:00:00"), ts("2024-01-01 06:00:00"), 2L)))
    assert(math.abs(withNull.coveragePercent - 50.0) < 1e-9)
    assert(withNull.totalPoints == 6)
  }

  test("per-series gap scan partitions by key") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00")),
      ("a", ts("2024-01-01 05:00:00")), // 5h gap within a
      ("b", ts("2024-01-01 00:30:00")),
      ("b", ts("2024-01-01 01:30:00"))  // 1h, normal
    ).toDF("k", "ts")
    val gaps = Continuity.gapsDf(df, "ts",
        expected = Duration.ofHours(1), minGap = Duration.ofMinutes(1),
        seriesCols = Seq("k"))
      .collect()
    assert(gaps.length == 1)
    assert(gaps.head.getString(0) == "a")
  }
}
