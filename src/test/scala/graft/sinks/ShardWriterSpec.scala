package graft.sinks

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Shard-writer layout contract: shard directories hold exactly their
  * hash-assigned keys, rows are key-sorted within every part file, the
  * per-file record cap is respected, nothing is lost or duplicated, a
  * re-write reproduces identical shard membership (determinism), and a
  * shard under the cap is one file. Empty and one-row inputs keep the
  * layout the `repartition(n, shard)` writer produced.
  */
class ShardWriterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val NShards = 4

  private def docs = graft.core.Tables.documents(spark, sf)
    .select(col("doc_id"), col("lang"), col("n_chars"))

  test("shards are complete, hash-consistent, sorted, and size-capped") {
    import spark.implicits._
    val out = Files.createTempDirectory("shards").toString
    ShardWriter.write(docs, "doc_id", NShards, out, maxRecordsPerFile = 50L)

    // completeness + hash consistency: every row lands in the shard its
    // key hashes to, and nothing is lost or duplicated
    val back = spark.read.parquet(out)
    assert(back.count() === docs.count())
    val misplaced = back.filter(
      col("shard") =!= ShardWriter.shardId(col("doc_id"), NShards)).count()
    assert(misplaced === 0L, "every row must sit in its hash-assigned shard")
    assert(back.select(col("doc_id")).distinct().count() === docs.count())

    // within-file key order + record cap, checked file by file
    val parts = Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && p.toFile.isFile).toSeq
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val ids = spark.read.parquet(p.toString).select(col("doc_id"))
        .as[Long].collect()
      assert(ids.length <= 50, s"record cap exceeded in $p: ${ids.length}")
      assert(ids.sameElements(ids.sorted), s"rows not key-sorted in $p")
    }

    // determinism: a second write produces identical shard membership
    val out2 = Files.createTempDirectory("shards2").toString
    ShardWriter.write(docs, "doc_id", NShards, out2, maxRecordsPerFile = 50L)
    val m1 = back.select(col("doc_id"), col("shard")).as[(Long, Long)]
      .collect().sorted.toSeq
    val m2 = spark.read.parquet(out2).select(col("doc_id"), col("shard"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(m1 === m2, "shard membership must be reproducible")
  }

  /** Every file under `out`, relative, with the write's UUID and the
    * writing task's index masked (which task writes a shard is not part of
    * the layout: a `repartition(4, shard)` writer put the one-row shard
    * below in part-00001).
    */
  private def layout(out: String): Seq[String] =
    Files.walk(Paths.get(out)).iterator().asScala.filter(_.toFile.isFile)
      .map(p => Paths.get(out).relativize(p).toString
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID")
        .replaceAll("part-[0-9]{5}", "part-N"))
      .toSeq.sorted

  test("an empty input writes only the success marker") {
    val out = Files.createTempDirectory("shards-empty").toString
    ShardWriter.write(docs.filter(col("doc_id") < 0L), "doc_id", NShards, out)
    assert(layout(out) === Seq("._SUCCESS.crc", "_SUCCESS"))
  }

  test("a one-row input writes one file in its shard") {
    import spark.implicits._
    val one = docs.filter(col("doc_id") === docs.agg(min(col("doc_id"))).as[Long].head())
    val shard = one.select(ShardWriter.shardId(col("doc_id"), NShards)).as[Long].head()
    val out = Files.createTempDirectory("shards-one").toString
    ShardWriter.write(one, "doc_id", NShards, out)
    assert(layout(out) === Seq("._SUCCESS.crc", "_SUCCESS",
      s"shard=$shard/.part-N-UUID.c000.snappy.parquet.crc",
      s"shard=$shard/part-N-UUID.c000.snappy.parquet"))
    assert(spark.read.parquet(out).as[(Long, String, Long, Long)].collect().toSeq ===
      one.withColumn("shard", lit(shard)).as[(Long, String, Long, Long)].collect().toSeq)
  }

  test("an input under the record cap writes one file per non-empty shard") {
    import spark.implicits._
    val n = 16
    val out = Files.createTempDirectory("shards-small").toString
    ShardWriter.write(docs, "doc_id", n, out)
    val shards = docs.select(ShardWriter.shardId(col("doc_id"), n)).distinct()
      .as[Long].collect().toSet
    val parts = layout(out).filter(_.endsWith(".parquet"))
    assert(parts.map(_.takeWhile(_ != '/')).toSet === shards.map(k => s"shard=$k"))
    assert(parts.size === shards.size, s"one part file per shard: $parts")
  }
}
