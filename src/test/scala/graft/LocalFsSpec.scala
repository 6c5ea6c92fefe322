package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventPipeline, LocalFs, UpsertSink}

/** [[graft.streaming.LocalFs]], the local file system every stream writes
  * its checkpoint and sink through, is the stock checksummed local file
  * system minus the processes: same modes, same `.crc` sidecars, same
  * checksum failure, same link answers, and a checkpoint written by the
  * stock file manager resumes under it. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def initialized(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private def stockFs = initialized(new LocalFileSystem())
  private def localFs = initialized(new LocalFs())

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file below `root`, relative, in sorted order. */
  private def layout(root: NioPath): Seq[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSeq.sorted
    finally s.close()
  }

  /** The commands of the processes `f` starts, from a JFR recording. */
  private def processesStarted(f: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val out = Files.createTempFile("graft-localfs-", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  private def addEvents(src: String, users: Seq[String]): Unit =
    users.zipWithIndex.map { case (u, i) => (ts("2024-01-01 00:00:00").getTime / 1000 + 60L * i, u) }
      .toDF("ts_s", "user_id")
      .selectExpr("timestamp_seconds(ts_s) AS ts", "user_id")
      .coalesce(1).write.mode("append").parquet(src)

  private def counts(src: String): DataFrame =
    EventPipeline.windowCounts(
      spark.readStream.schema("ts TIMESTAMP, user_id STRING").parquet(src),
      "user_id", Some("3650 days"))

  private def toSink(sink: String): (DataFrame, Long) => Unit =
    (b, id) => UpsertSink.writeBatch(b, id, sink)

  /** The same query started as Spark starts it, without the starter
    * (with the starter's choice of no-data batches, so that both run the
    * same batches). */
  private def drainStock(src: String, ckpt: String, sink: String): Unit = {
    val frame = counts(src)
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, EventPipeline.runSettings(frame, "update")._1.toString)
    val q =
      try frame.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: Dataset[Row], id: Long) => toSink(sink)(b, id))
        .start()
      finally spark.conf.unset(noData)
    q.awaitTermination()
  }

  private def resolved(sink: String): Set[Row] =
    UpsertSink.resolve(spark, sink, Seq("window_start", "window_end", "user_id"))
      .collect().toSet

  private def scratch(): NioPath = Files.createTempDirectory("graft-localfs-")

  test("files and directories get the stock modes; sticky bits still apply") {
    val root = scratch()
    val made = Seq(stockFs -> "stock", localFs -> "local").map { case (fs, name) =>
      val dir = new Path(s"file:$root/$name/a/b")
      val file = new Path(dir, "f")
      fs.create(file).close()
      val sticky = new Path(s"file:$root/$name/sticky")
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission(Integer.parseInt("1755", 8).toShort))
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "sticky")
        .map(p => p -> mode(root.resolve(s"$name/$p")))
    }
    assert(made(1) == made(0))
    assert(made(0).toMap.apply("a/b/f") == Integer.parseInt("644", 8))
    assert(made(0).toMap.apply("sticky") == Integer.parseInt("1755", 8))
  }

  test("getFileLinkStatus on a symlink and on a plain file matches the stock answer") {
    val root = scratch()
    val target = Files.writeString(root.resolve("target"), "abc")
    Files.createSymbolicLink(root.resolve("link"), target)
    def answer(fs: FileSystem, p: Path) = {
      val st = fs.getFileLinkStatus(p)
      (st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
        st.getLen, st.isDirectory, st.getPath)
    }
    val (stock, local) = (stockFs, localFs)
    for (name <- Seq("target", "link"); spelling <- Seq("", "file:")) {
      val p = new Path(s"$spelling$root/$name")
      assert(answer(local, p) == answer(stock, p), p)
    }
    assert(local.getFileLinkStatus(new Path(s"$root/link")).isSymlink)
    intercept[java.io.FileNotFoundException](local.getFileLinkStatus(new Path(s"file:$root/none")))
  }

  test("a stream writes the stock checkpoint layout, .crc sidecars included, with no process per file") {
    val root = scratch()
    val src = s"$root/src"
    addEvents(src, Seq("u1", "u2", "u1"))
    // the file source's own log (`sources/`) is written through the
    // session that read the source, after the starter has restored it
    def fileProcesses(run: => Unit, dir: String): Seq[String] =
      processesStarted(run).filter(c => c.contains(dir) && !c.contains(s"$dir/ckpt/sources"))
    val stock = fileProcesses(drainStock(src, s"$root/stock/ckpt", s"$root/stock/sink"), s"$root/stock")
    var batchFs = Option.empty[String]
    val local = fileProcesses(EventPipeline.drain(counts(src), "update", s"$root/local/ckpt") {
      (b, id) =>
        batchFs = Option(b.sparkSession.conf.get("fs.file.impl", null))
        toSink(s"$root/local/sink")(b, id)
    }, s"$root/local")
    assert(batchFs.contains(classOf[LocalFs].getName))
    assert(spark.conf.getOption("fs.file.impl").isEmpty, "the starter restores the session")
    assert(local.isEmpty, local.mkString("\n"))
    assume(stock.nonEmpty, "the stock file system starts no process here (native Hadoop)")

    val ckpt = layout(root.resolve("stock/ckpt"))
    assert(layout(root.resolve("local/ckpt")) == ckpt)
    assert(Seq("offsets/.0.crc", "commits/.0.crc", "state/0/0/.1.delta.crc").forall(ckpt.contains),
      ckpt.mkString("\n"))
    assert(layout(root.resolve("local/sink")).count(_.endsWith(".crc")) ==
      layout(root.resolve("stock/sink")).count(_.endsWith(".crc")))
    assert(resolved(s"$root/local/sink") == resolved(s"$root/stock/sink"))
  }

  test("a flipped byte in an offset-log file still fails the restart with a ChecksumException") {
    val root = scratch()
    val src = s"$root/src"
    addEvents(src, Seq("u1", "u2"))
    val ckpt = s"$root/ckpt"
    EventPipeline.drain(counts(src), "update", ckpt)(toSink(s"$root/sink"))
    val offsets = root.resolve("ckpt/offsets/0")
    val bytes = Files.readAllBytes(offsets)
    bytes(bytes.length - 2) = (bytes(bytes.length - 2) ^ 1).toByte
    Files.write(offsets, bytes)
    addEvents(src, Seq("u3"))
    val e = intercept[Exception](
      EventPipeline.drain(counts(src), "update", ckpt)(toSink(s"$root/sink")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
    // the corrupt file is left in place, as the stock checkpoint path leaves it
    assert(Files.readAllBytes(offsets).sameElements(bytes))
  }

  test("a checkpoint written by the stock file manager resumes with an identical resolved sink") {
    val root = scratch()
    val src = s"$root/src"
    addEvents(src, Seq("u1", "u2", "u1"))
    drainStock(src, s"$root/resumed/ckpt", s"$root/resumed/sink")
    def deltas = layout(root.resolve("resumed/sink")).map(_.takeWhile(_ != '/')).distinct.size
    val stockDeltas = deltas
    addEvents(src, Seq("u2", "u3"))
    EventPipeline.drain(counts(src), "update", s"$root/resumed/ckpt")(toSink(s"$root/resumed/sink"))
    EventPipeline.drain(counts(src), "update", s"$root/once/ckpt")(toSink(s"$root/once/sink"))

    val once = resolved(s"$root/once/sink")
    assert(resolved(s"$root/resumed/sink") == once)
    assert(once.toSeq.map(_.getAs[Long]("total_interactions")).sum == 2L * 5)
    assert(deltas > stockDeltas, "the resume ran a batch")
  }
}
