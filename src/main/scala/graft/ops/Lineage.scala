package graft.ops

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** Lineage truncation for iterative and multiply-referenced relations.
  *
  * Local mode (default): `localCheckpoint` — blocks live on executor storage
  * (MEMORY_AND_DISK), zero external I/O, the right cut for `local[n]` and
  * short-lived jobs. NOT fault-tolerant: localCheckpoint discards the lineage
  * needed to recompute lost blocks, so on a real cluster one lost executor
  * mid-job fails every job reading them — fatal for an O(log n)-round
  * iterative algorithm ([[Dedup.components]]) that would run for hours at
  * 100 TB.
  *
  * Cluster mode (`spark.graft.reliableCheckpoints=true` plus
  * `SparkContext.setCheckpointDir(<lake path>)`): reliable `checkpoint()` —
  * every cut is written to the checkpoint directory, so the job survives
  * executor loss and restarts resume from durable state. Cost: Spark writes
  * checkpoint files in a second pass over the RDD (the documented
  * recompute-on-checkpoint behavior), i.e. each cut relation is computed
  * twice — the standard price of durability, paid only on the small
  * already-reduced relations these operators cut (signatures, adjacency,
  * per-round labels — never the corpus). Contract documented in SCALE.md.
  */
object Lineage {

  /** Conf key selecting reliable checkpoints (cluster mode). */
  val reliableConf = "spark.graft.reliableCheckpoints"

  private def reliable(df: DataFrame): Boolean = {
    val s = df.sparkSession
    val on = s.conf.getOption(reliableConf).exists(_.toBoolean)
    require(!on || s.sparkContext.getCheckpointDir.isDefined,
      s"$reliableConf=true requires SparkContext.setCheckpointDir (the lake path on a cluster)")
    on
  }

  /** Eager cut: materializes now; the returned plan is truncated to the
    * result (a `LogicalRDD` over the materialized blocks/files). */
  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

  /** Cut whose materialization is FUSED into the caller's next action over
    * the returned frame (the action must cover all partitions — e.g. a
    * count): in local mode the lazy `localCheckpoint` persists blocks during
    * that action, so one job both materializes the round and reads its
    * convergence metric. Reliable mode stays eager (checkpoint files are
    * written under the scheduler's doCheckpoint hook at materialization
    * time); the caller's action then re-reads the checkpoint files — a cheap
    * columnar scan, not a recompute. */
  def cutFused(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = true) else df.localCheckpoint(eager = false)
}

/** The session memo for derived relations, and the scratch it spills to.
  *
  * [[spill]] is the one place that decides when a derived relation is
  * reused within a session: it runs the derivation at most once per
  * (session id, tag, key parts), writes the result to parquet under an
  * exit-cleaned [[scratchDir]] and returns the read-back. The once-only
  * guarantee is per key, enforced by `spill` itself: two different
  * relations derive concurrently, and a derivation that spills another
  * relation nests without deadlock. A derivation that throws leaves no
  * entry, so the next caller derives again. Serving indexes resolve
  * through [[IndexStore.served]], which reads a configured store first.
  *
  * Every allocated scratch dir is registered for recursive deletion at JVM
  * exit, so a long-lived driver that churns sessions does not leak spilled
  * relations into the tmpdir.
  *
  * READ-BACK SEMANTICS, for anyone comparing bench numbers: a memoized
  * query's warm samples measure a parquet read of the spilled relation, not
  * the derivation — the derivation cost appears only in the first (cold)
  * sample. `bench_full.json` keeps all raw samples precisely so the two are
  * distinguishable; BASELINE.md states this next to the affected queries. */
private[graft] object SpillMemo {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** Root for all scratch allocation (optimization guide §6: put ephemeral
    * I/O on the fastest local medium). Order: `SPARK_GRAFT_SCRATCH` env
    * override → `/dev/shm` when present and writable (the container's
    * fast local medium — on a real cluster this is the node's NVMe
    * scratch; everything under it is per-run state deleted at JVM exit,
    * never a cross-run cache) → `java.io.tmpdir`. Measured on the full
    * bench sweep: the streaming family's checkpoint WAL fsyncs, the
    * upsert sinks and the memo spills all land here, and moving them off
    * the disk-backed /tmp is worth ~10-18% of the suite (BASELINE.md
    * round 19, "scratch-medium A/B" — /tmp 396 s vs /dev/shm 323-360 s,
    * same tree, same cal band; cluster posture documented there too:
    * SPARK_LOCAL_DIRS on NVMe, durable checkpoints for live streams). */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    def writable(p: java.nio.file.Path): Option[java.nio.file.Path] =
      try {
        java.nio.file.Files.createDirectories(p)
        val probe = java.nio.file.Files.createTempFile(p, ".graft-probe-", "")
        java.nio.file.Files.deleteIfExists(probe)
        Some(p)
      } catch { case NonFatal(_) => None }
    sys.env.get("SPARK_GRAFT_SCRATCH").flatMap(d => writable(java.nio.file.Paths.get(d)))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm)) writable(shm.resolve("graft-scratch"))
        else None
      }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach { root =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case NonFatal(_) => () } // best effort — exit path
    }
  }))

  /** A fresh temp dir under [[scratchRoot]], registered for deletion at
    * JVM exit. */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(scratchRoot, prefix)
    created.add(p)
    p.toString
  }

  /** One memo entry: the derivation runs inside the lazy val's
    * initializer, which holds this entry's monitor only — never a lock
    * shared with other keys. The thunk is dropped once spilled so an entry
    * never pins its session. */
  private final class Spilled(tag: String, private var derive: () => DataFrame) {
    lazy val dir: String = {
      val out = scratchDir(s"graft-$tag-")
      derive().write.mode("overwrite").parquet(out)
      derive = null
      out
    }
  }

  private val spills =
    scala.collection.concurrent.TrieMap.empty[(Long, String, List[Any]), Spilled]

  /** `derive` spilled once per (session, `tag`, `key`) and read back. */
  def spill(s: org.apache.spark.sql.SparkSession, tag: String, key: Any*)(
      derive: => DataFrame): DataFrame = {
    val k = (sessionId(s), tag, key.toList)
    val entry = spills.getOrElseUpdate(k, new Spilled(tag, () => derive))
    val dir =
      try entry.dir
      catch { case NonFatal(e) => spills.remove(k, entry); throw e }
    s.read.parquet(dir)
  }

  /** `spark.local.dir` value for the runtime mains: shuffle/block scratch
    * on the fast medium, under an exit-deleted dir. Spark's own resolution
    * lets `SPARK_LOCAL_DIRS` override this, so cluster postures are
    * unaffected — this is the local-mode default, not a mandate. */
  private[graft] lazy val sparkLocalDir: String = scratchDir("spark-local-")

  private val sessionIds =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Long]
  private val nextSessionId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Monotone id for a session, for use in memo keys: unlike
    * `System.identityHashCode` (whose value a GC'd session's successor can
    * reuse, silently serving it the dead session's memo entries), an id from
    * this map is never reassigned. The WeakHashMap keeps the map itself from
    * pinning sessions. NOTE the memo families keyed on this assume the data
    * under a table dir is immutable for the session's lifetime — the cached
    * payloads are pure functions of (dir contents, tunables), and none of
    * them read session conf at derivation time in a way that could change
    * between calls. */
  def sessionId(s: org.apache.spark.sql.SparkSession): Long =
    sessionIds.synchronized {
      val got = sessionIds.get(s)
      if (got != null) got.longValue()
      else {
        val id = nextSessionId.incrementAndGet()
        sessionIds.put(s, java.lang.Long.valueOf(id))
        id
      }
    }
}

/** Join-side hints whose validity is DATA-dependent, behind a conf (the
  * [[Lineage.reliableConf]] pattern): some relations are small by
  * construction at the tested scales but only heuristically small at 100 TB
  * — a BPE round's top-pair occurrence list (the most frequent pair in a
  * natural-language corpus is ~1% of all tokens), or an incremental-dedup
  * "new batch" a caller might point at a bigger-than-a-day partition.
  * Forcing `broadcast()` there would OOM the driver; silently dropping the
  * hint everywhere would cost the tested scales their no-shuffle plans. So
  * the hint is ON by default and a cluster deployment whose sides outgrow
  * the driver sets `spark.graft.broadcastSmallSides=false` to fall back to
  * the co-partitioned shuffle join — a conf switch, not a code edit. */
object Hints {

  /** Conf key: `false` drops the data-dependent broadcast hints. */
  val broadcastSmallSidesConf = "spark.graft.broadcastSmallSides"

  /** `broadcast(df)` unless the session opted out. */
  def broadcastSmall(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption(broadcastSmallSidesConf).forall(_.toBoolean))
      org.apache.spark.sql.functions.broadcast(df)
    else df
}
