package graft

import graft.ops.SpillMemo
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** [[graft.ops.SpillMemo.spill]] contract: per (session, tag, key) the
  * derivation runs once; different keys never wait on one shared lock; a
  * spill nested in another's derivation completes; sessions never share an
  * entry. Every wait is bounded, so a regression fails instead of hanging
  * the suite. */
class SpillMemoSpec extends SparkSpec {
  private val limit = 60.seconds

  /** A tag no other test (or earlier run in this JVM) has spilled under. */
  private def freshTag(name: String): String = s"spillspec-$name-${System.nanoTime()}"

  private def onPool[A](threads: Int)(f: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(threads)
    try f(ExecutionContext.fromExecutorService(pool)) finally pool.shutdownNow()
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).sorted.toSeq

  test("8 threads spilling one key run the derivation once and read the same rows") {
    val tag = freshTag("once")
    val runs = new AtomicInteger
    val go = new CountDownLatch(1)
    val seen = onPool(8) { implicit ec =>
      val reads = (1 to 8).map { _ =>
        Future {
          assert(go.await(limit.toSeconds, TimeUnit.SECONDS))
          ids(SpillMemo.spill(spark, tag, "k") {
            runs.incrementAndGet()
            Thread.sleep(200) // hold the derivation open while the others arrive
            spark.range(50).toDF("id")
          })
        }
      }
      go.countDown()
      Await.result(Future.sequence(reads), limit)
    }
    assert(runs.get == 1, s"derivation ran ${runs.get} times")
    assert(seen.forall(_ == (0L until 50L)))
  }

  test("two keys derive concurrently: no lock is shared across keys") {
    val tag = freshTag("concurrent")
    val aDeriving = new CountDownLatch(1)
    val bDerived = new CountDownLatch(1)
    onPool(2) { implicit ec =>
      val a = Future(SpillMemo.spill(spark, tag, "a") {
        aDeriving.countDown()
        // under one JVM-wide lock B cannot start until A returns: this
        // wait then times out and the test fails
        assert(bDerived.await(limit.toSeconds, TimeUnit.SECONDS),
          "derivation B never ran while derivation A was running")
        spark.range(1).toDF("id")
      }.count())
      assert(aDeriving.await(limit.toSeconds, TimeUnit.SECONDS))
      val b = Future(SpillMemo.spill(spark, tag, "b") {
        bDerived.countDown()
        spark.range(2).toDF("id")
      }.count())
      assert(Await.result(b, limit) == 2L)
      assert(Await.result(a, limit) == 1L)
    }
  }

  test("a spill nested inside another spill's derivation completes") {
    val tag = freshTag("nested")
    val out = onPool(1) { implicit ec =>
      Await.result(Future(ids(SpillMemo.spill(spark, tag, "outer") {
        SpillMemo.spill(spark, tag, "inner")(spark.range(3).toDF("id"))
          .selectExpr("id * 10 AS id")
      })), limit)
    }
    assert(out == Seq(0L, 10L, 20L))
  }

  test("two sessions never share an entry; each reuses its own") {
    val tag = freshTag("sessions")
    val other = spark.newSession()
    val runs = new AtomicInteger
    def spilled(s: SparkSession, n: Long): Seq[Long] =
      ids(SpillMemo.spill(s, tag, "k") { runs.incrementAndGet(); s.range(n).toDF("id") })
    assert(spilled(spark, 3) == Seq(0L, 1L, 2L))
    assert(spilled(other, 5) == (0L until 5L))
    // the second call per session is a read-back, whatever it would derive
    assert(spilled(spark, 7) == Seq(0L, 1L, 2L))
    assert(spilled(other, 7) == (0L until 5L))
    assert(runs.get == 2)
  }

  test("a derivation that throws leaves no entry: the next call derives again") {
    val tag = freshTag("retry")
    intercept[IllegalStateException] {
      SpillMemo.spill(spark, tag, "k")(throw new IllegalStateException("boom"))
    }
    assert(ids(SpillMemo.spill(spark, tag, "k")(spark.range(2).toDF("id"))) == Seq(0L, 1L))
  }
}
