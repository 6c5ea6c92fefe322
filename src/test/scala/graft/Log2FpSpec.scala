package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck invariants for the fixed-point log₂ device
  * ([[graft.ops.Sampling.log2fpSpark]]) that prices DSIR's likelihood
  * ratios: monotone over the positive longs, exact at powers of two, and
  * within its documented error bound of true log₂ everywhere — the three
  * properties that make integer ratio ranking trustworthy. */
class Log2FpSpec extends SparkSpec {
  import spark.implicits._

  private def log2fp(xs: Seq[Long]): Seq[Long] =
    xs.toDF("x").select(expr(graft.ops.Sampling.log2fpSpark("x")).as("l"))
      .collect().map(_.getLong(0)).toSeq

  test("monotone, power-of-two-exact, and within 0.09 bit of true log2") {
    // Range cap: the device multiplies x by 1024, so x must stay under
    // 2^53 anyway; DSIR's inputs are corpus token counts (≤ ~2^45 at
    // 100 TB).
    val gen = Gen.choose(1L, 1L << 45)
    val prop = Prop.forAllNoShrink(Gen.listOfN(24, gen)) { xs0 =>
      val xs = (xs0 ++ Seq(1L, 2L, 3L, 1L << 20)).distinct.sorted
      val ls = log2fp(xs)
      val monotone = xs.zip(ls).sliding(2).forall {
        case Seq((x1, l1), (x2, l2)) => x1 >= x2 || l1 <= l2
        case _ => true
      }
      val bounded = xs.zip(ls).forall { case (x, l) =>
        math.abs(l / 1024.0 - math.log(x.toDouble) / math.log(2.0)) <= 0.09
      }
      val exactPows = xs.zip(ls).forall { case (x, l) =>
        (x & (x - 1)) != 0L || l == 1024L * java.lang.Long.numberOfTrailingZeros(x)
      }
      monotone && bounded && exactPows
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
