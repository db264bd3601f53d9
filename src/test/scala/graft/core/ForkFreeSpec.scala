package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.ShardWriter
import graft.streaming.KeyedMerge

/** The engine's `file:` I/O launches no Hadoop shell process: a shard
  * write, a shard append and a checkpointed keyed merge run under a JFR
  * recording of `jdk.ProcessStart`, and no recorded launch may have an
  * `org.apache.hadoop.util.Shell` frame (stock Hadoop without libhadoop
  * launches `chmod` per created file and `readlink` per rename).
  */
class ForkFreeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val Shell = "org.apache.hadoop.util.Shell"

  /** The stack (class names, innermost first) of every process `body`
    * launches.
    */
  private def launches(body: => Unit): Seq[Seq[String]] = {
    // Shell's static initializer probes `setsid` with a launch of its own;
    // run it before recording so only per-operation launches are counted
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("forkfree", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(_.getMethod.getType.getName))
    } finally { r.close(); Files.delete(f) }
  }

  private def viaShell(ls: Seq[Seq[String]]): Seq[Seq[String]] =
    ls.filter(_.contains(Shell))

  test("the recording sees stock Hadoop's per-file chmod") {
    val stock = new org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val dir = Files.createTempDirectory("forkfree-stock")
    val ls = launches {
      stock.create(new org.apache.hadoop.fs.Path(dir.resolve("a").toUri)).close()
    }
    assert(viaShell(ls).nonEmpty, s"no Shell launch recorded: $ls")
  }

  test("a shard write and a shard append launch no Hadoop shell process") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
    val out = Files.createTempDirectory("forkfree-shards").toString
    val ls = launches {
      ShardWriter.write(docs.filter(col("doc_id") % 2 === 0), "doc_id", 8, out)
      ShardWriter.append(docs.filter(col("doc_id") % 2 === 1), "doc_id", 8, out)
    }
    assert(spark.read.parquet(out).count() === docs.count())
    assert(viaShell(ls).isEmpty, s"${viaShell(ls).size} Shell launches: ${viaShell(ls).take(1)}")
  }

  test("three checkpointed KeyedMerge micro-batches launch no Hadoop shell process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = KeyedMerge.eventsAsDs(spark, sf).collect()
    val ckpt = Files.createTempDirectory("forkfree-ckpt").resolve("ckpt").toString
    val last = new ConcurrentHashMap[Long, KeyedMerge.StateOut]()
    val ls = launches {
      val stream = MemoryStream[KeyedMerge.Ev]
      val q = KeyedMerge.latestState(stream.toDS(), None, "3650 days")
        .writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[KeyedMerge.StateOut], _: Long) =>
          b.collect().foreach(s => last.put(s.user_id, s))
        }.start()
      try (0 until 3).foreach { r =>
        stream.addData(evs.filter(_.event_id % 3 == r).toSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(Files.exists(Paths.get(ckpt, "commits", "2")), "three batches committed")
    assert(last.size === evs.map(_.user_id).distinct.length)
    assert(viaShell(ls).isEmpty, s"${viaShell(ls).size} Shell launches: ${viaShell(ls).take(1)}")
  }
}
