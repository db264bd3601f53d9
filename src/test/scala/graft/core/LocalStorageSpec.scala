package graft.core

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileSystem}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.ShardWriter
import graft.streaming.KeyedMerge

/** The fork-free `file:` storage keeps stock Hadoop's semantics: the same
  * POSIX permissions on every file and directory, the same `.crc`
  * sidecars (still verified on read), the same rows, and a streaming
  * query that restarts from its checkpoint ends where an uninterrupted
  * run ends.
  */
class LocalStorageSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val FileUri = URI.create("file:///")

  /** Run `body` with the session's `file:` scheme on stock Hadoop. */
  private def withStockStorage[T](body: => T): T = {
    spark.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    spark.conf.set("fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    try body finally LocalStorage.install(spark)
  }

  /** Relative path (write UUID masked) -> POSIX permissions, for the root,
    * every directory and every file under it.
    */
  private def tree(root: String): Map[String, String] =
    Files.walk(Paths.get(root)).iterator().asScala.map { p =>
      Paths.get(root).relativize(p).toString
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID") ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toMap

  test("the session's file: scheme resolves to the fork-free classes, uncached") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(FileUri, conf).isInstanceOf[LocalStorage.FileSystem])
    assert(FileSystem.get(FileUri, conf) ne FileSystem.get(FileUri, conf))
    assert(AbstractFileSystem.get(FileUri, conf).isInstanceOf[LocalStorage.Fs])
    val before = spark.conf.getAll
    LocalStorage.install(spark)
    assert(spark.conf.getAll === before, "install is idempotent")
  }

  test("shards match stock Hadoop: permissions, .crc sidecars, rows") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
    val stockOut = Files.createTempDirectory("shards-stock").toString
    val ownOut = Files.createTempDirectory("shards-forkfree").toString
    withStockStorage(ShardWriter.write(docs, "doc_id", 8, stockOut, 40L))
    ShardWriter.write(docs, "doc_id", 8, ownOut, 40L)

    val (stock, own) = (tree(stockOut), tree(ownOut))
    assert(own === stock)
    val crcs = own.keySet.filter(_.endsWith(".crc"))
    assert(crcs.size === own.keySet.count(k => k.endsWith(".parquet") || k == "_SUCCESS"))
    def rows(out: String) = spark.read.parquet(out)
      .as[(Long, String, Int)].collect().sorted.toSeq
    assert(rows(ownOut) === rows(stockOut))
  }

  test("a corrupted shard fails its checksum on read") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val out = Files.createTempDirectory("shards-corrupt").toString
    ShardWriter.write(docs, "doc_id", 2, out)
    val part: Path = Files.walk(Paths.get(out)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(part)
    bytes(4) = (bytes(4) ^ 0xff).toByte // inside the first page, after the magic
    Files.write(part, bytes)
    val fs = FileSystem.get(FileUri, spark.sessionState.newHadoopConf())
    val in = fs.open(new org.apache.hadoop.fs.Path(part.toUri))
    try intercept[ChecksumException](in.readFully(new Array[Byte](bytes.length)))
    finally in.close()
  }

  test("a KeyedMerge query restarted from its checkpoint ends in the uninterrupted state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = KeyedMerge.eventsAsDs(spark, sf).collect()
    val chunks = (0 until 3).map(r => evs.filter(_.event_id % 3 == r).toSeq)

    /** Start on `ckpt`, re-add the batches it already committed (a fresh
      * MemoryStream restarts its offsets), then feed `fresh` one batch at
      * a time; the latest emission per key lands in `last`.
      */
    def run(ckpt: String, committed: Seq[Seq[KeyedMerge.Ev]],
        fresh: Seq[Seq[KeyedMerge.Ev]],
        last: ConcurrentHashMap[Long, KeyedMerge.StateOut]): Unit = {
      val stream = MemoryStream[KeyedMerge.Ev]
      committed.foreach(stream.addData(_))
      val q = KeyedMerge.latestState(stream.toDS(), None, "3650 days")
        .writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[KeyedMerge.StateOut], _: Long) =>
          b.collect().foreach(s => last.put(s.user_id, s))
        }.start()
      try fresh.foreach { c => stream.addData(c); q.processAllAvailable() }
      finally q.stop()
    }

    val tmp = Files.createTempDirectory("restart")
    val whole = new ConcurrentHashMap[Long, KeyedMerge.StateOut]()
    run(tmp.resolve("whole").toString, Nil, chunks, whole)
    val split = new ConcurrentHashMap[Long, KeyedMerge.StateOut]()
    val ckpt = tmp.resolve("split").toString
    run(ckpt, Nil, chunks.take(2), split)
    run(ckpt, chunks.take(2), chunks.drop(2), split)

    assert(whole.size === evs.map(_.user_id).distinct.length)
    assert(split.asScala.toMap === whole.asScala.toMap)
    // the restart resumed at batch 2 instead of replaying from batch 0
    assert(Files.exists(Paths.get(ckpt, "commits", "2")))
    assert(!Files.exists(Paths.get(ckpt, "commits", "3")))
  }
}
