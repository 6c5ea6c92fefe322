package graft

import graft.ops.WindowAgg
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck invariants for the sliding-window aggregation (SURVEY §5.2
  * item 3): with window 10 min / slide 5 min, every event belongs to exactly
  * two windows, so the full output must equal a brute-force per-event
  * expansion computed independently in plain Scala. */
class WindowPropsSpec extends SparkSpec {
  import spark.implicits._

  private val base = ts("2026-01-01 00:00:00").getTime / 1000 // epoch seconds, UTC

  private val eventGen = for {
    user <- Gen.choose(1, 5)
    offSec <- Gen.choose(0, 3600)
  } yield (s"u$user", offSec)

  private def expected(events: Seq[(String, Int)]): Map[(Long, Long, String), Long] =
    events
      .flatMap { case (u, off) =>
        val t = base + off
        val aligned = math.floorDiv(t, 300L) * 300L
        Seq((aligned - 300L, aligned + 300L, u), (aligned, aligned + 600L, u))
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("windowed counts equal the brute-force two-window expansion") {
    val prop = Prop.forAllNoShrink(Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, eventGen))) { events =>
      val df = events
        .map { case (u, off) => (u, new java.sql.Timestamp((base + off) * 1000L)) }
        .toDF("user_id", "ts")
      val got = WindowAgg.windowsBy(df, "user_id")
        .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)]
        .collect()
        .map(r => ((r._1.getTime / 1000, r._2.getTime / 1000, r._3), r._4))
        .toMap
      got == expected(events) && // exact equality with independent oracle
        got.values.sum == 2L * events.size && // 2 windows per event
        got.keys.forall { case (s, e, _) => e - s == 600L } // 10-min spans
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
