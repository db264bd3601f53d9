package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-shard writer: lays a corpus out as N deterministic,
  * key-sorted, size-bounded parquet shards — the on-disk contract a
  * training data-loader consumes (shard = unit of loader parallelism;
  * within-shard key order makes sampling reproducible and resumable by
  * (shard, offset)).
  *
  * Spark-first shape: ONE hash exchange on the shard id followed by
  * `sortWithinPartitions` — the sort is per-shard (bounded by corpus/n,
  * the q74 argument), there is no global sort, and `maxRecordsPerFile`
  * splits oversized shards into numbered part files without another
  * pass. The shard id is the salted md5-prefix hash of the key
  * (`partitionBy("shard")` directory layout), so shard membership is a
  * pure function of the key — re-running the writer on a re-deduped
  * corpus moves no row between shards.
  *
  * The exchange is `repartition(shard)`, not `repartition(n, shard)`:
  * `n` fixes membership, not the task count. Hash partitioning keeps
  * every shard inside one task, and AQE sizes the tasks by data,
  * coalescing small partitions (with `n` as the task count, a 125-row
  * corpus in 64 shards takes 64 write tasks, each deserializing the
  * job's Hadoop conf).
  *
  * At 100 TB: n scales with the corpus, the exchange is the single
  * shuffle, and each task writes the shard directories of its
  * partition — no driver funnel, no post-pass. ShardWriterSpec verifies
  * the layout contract: every shard directory holds only its keys, rows
  * are key-sorted within every part file, file sizes respect the record
  * cap, a shard under the cap is one file, and a re-write reproduces
  * identical shard membership.
  */
object ShardWriter {

  /** Deterministic shard id for a key column (salted so it is independent
    * of content fingerprints and split hashes built from the same key).
    */
  def shardId(key: Column, nShards: Int): Column =
    pmod(conv(substring(md5(concat(lit("shard:"), key.cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(nShards.toLong))

  /** Write `df` as `nShards` key-sorted shard directories under `outDir`
    * (`shard=K/part-*.parquet`), each part file capped at
    * `maxRecordsPerFile` rows.
    */
  def write(df: DataFrame, key: String, nShards: Int, outDir: String,
      maxRecordsPerFile: Long = 1000000L): Unit =
    writeMode(df, key, nShards, outDir, maxRecordsPerFile, "overwrite")

  /** Append `df`'s rows into an EXISTING shard layout (the nightly
    * incremental-update path). Shard membership is the same pure salted
    * key hash, so new rows land in their deterministic shard directories
    * as NEW part files — pre-existing files are never rewritten, which is
    * what keeps already-shipped (shard, file, offset) positions
    * byte-stable across increments. Each appended file is itself
    * key-sorted (the loader's within-file offset contract); whole-shard
    * order becomes per-file order under appends, which is what a
    * resumable loader consumes anyway (files are its work units).
    * `nShards` MUST match the layout being appended to — membership is
    * `hash(key) mod nShards`.
    */
  def append(df: DataFrame, key: String, nShards: Int, outDir: String,
      maxRecordsPerFile: Long = 1000000L): Unit =
    writeMode(df, key, nShards, outDir, maxRecordsPerFile, "append")

  private def writeMode(df: DataFrame, key: String, nShards: Int,
      outDir: String, maxRecordsPerFile: Long, mode: String): Unit = {
    df.withColumn("shard", shardId(col(key), nShards))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(key))
      .write
      .partitionBy("shard")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(mode)
      .parquet(outDir)
  }
}
