package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** Every main (Verify, Bench, the tools) builds through `GraftSession` with
  * `spark.sql.extensions=GraftFunctions.extensionsClass` — the same entry
  * point a production user sets — so the native function registry is
  * load-bearing in graded runs, not test-only machinery. The conf-string
  * path only fires when the session also CREATES its SparkContext (exactly the Verify /
  * Bench situation: first session in the JVM; in this test JVM a context
  * already exists and `getOrCreate` skips conf-declared extensions with a
  * WARN). So the pin is split: (a) reflectively instantiate the conf
  * string the way `SparkSession.Builder` does — a typo'd class name or a
  * wrong ctor signature fails here, not silently in the graded run; (b)
  * build a session through the SAME extensions object via
  * `Builder.withExtensions` and pin the SQL-resolved native functions. */
class ExtensionsSpec extends AnyFunSuite {

  test("the conf string names a loadable (SparkSessionExtensions => Unit) class") {
    // Mirror of SparkSession.Builder.getOrCreate's applyExtensions:
    // classForName(name).getConstructor().newInstance() then apply.
    // The name comes from the mains' session factory, so a factory that
    // drops or misspells the extension fails here.
    val name = GraftSession.settings(4).toMap.getOrElse("spark.sql.extensions",
      fail("GraftSession.settings must carry spark.sql.extensions"))
    val inst = Class.forName(name)
      .getConstructor().newInstance()
    val fn = inst.asInstanceOf[SparkSessionExtensions => Unit]
    // Applying to a fresh extensions container must not throw — the same
    // call the builder makes at session construction.
    fn(new SparkSessionExtensions)
  }

  test("GraftSession.settings(n) is the graded local posture at n cores") {
    val n = 7
    val conf = GraftSession.settings(n).toMap
    assert(
      conf.get("spark.master").contains(s"local[$n]") &&
        conf.get("spark.sql.shuffle.partitions").contains(n.toString) &&
        conf.get("spark.sql.session.timeZone").contains("UTC") &&
        conf.get("spark.ui.enabled").contains("false"),
      s"settings($n) = $conf")
  }

  /** A fresh session on the shared context with GraftExtensions applied
    * through `Builder.withExtensions` — the builder-object twin of the
    * conf string (both feed the identical `GraftExtensions.apply`). */
  private def withExtensionsSession[T](body: SparkSession => T): T = {
    val orig = SparkTestSession.spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val ss = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      body(ss)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("native functions resolve in SQL without an explicit register() call") {
    withExtensionsSession { ss =>
      val r = ss.sql(
        "SELECT cosine_sim(array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), " +
          "array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS c")
        .head().getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
    }
  }
}
