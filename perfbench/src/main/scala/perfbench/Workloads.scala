package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.CacheScope

/** The op sets of the query and job workloads. */
object Workloads {

  /** A registered query and the registry family (Queries object) it
    * belongs to.
    */
  final case class Q(name: String, family: String)

  /** Reference-surface queries: one per registry family that serves the
    * common operating picture (aggregate, latest state, spatial filter,
    * filter DSL, source scan, ingest projection, raster). Queries that
    * stage fixture files (graft.queries.Staging writes under /tmp) are
    * left out: the benchmark writes only inside its checkout.
    */
  val copQueries: Seq[Q] = Seq(
    Q("q03_group_count_rank", "Relational"),
    Q("q09_latest_state_per_key", "Temporal"),
    Q("q17_bbox_filter", "GeoQueries"),
    Q("q31_filter_dsl", "DslQueries"),
    Q("q237_lookup_rate_ledger", "SourceQueries"),
    Q("q45_eta_projections", "IngestQueries"),
    Q("q71_frame_sample", "RasterQueries"))

  /** LLM-tier queries where retrieval joins and native kernels do the
    * work: brute-force and multi-vector top-k, hard-negative mining (the
    * quadratic retrieval family) and the Bloom-filter aggregate.
    */
  val corpusQueries: Seq[Q] = Seq("q38_ann_brute_topk", "q164_maxsim_rerank",
    "q173_hard_negative_mining", "q131_bloom_membership").map(Q(_, "corpus"))

  def cop(tiny: Boolean): Seq[Q] = if (tiny) copQueries.take(3) else copQueries
  def corpus(tiny: Boolean): Seq[Q] =
    if (tiny) corpusQueries.take(2) else corpusQueries
}

/** cop_queries and corpus_queries: every op is one registered query,
  * timed as graft.Bench times it — cache cleared first, a fresh DataFrame,
  * a `noop` write inside CacheScope.scoped, so every row is produced.
  * corpus_queries also runs LlmPipeline.writeTrainingShards as one op, so
  * the sinks layer is measured on a driver workload.
  */
final class QueryWorkload(ctx: Ctx, qs: Seq[Workloads.Q], corpus: Boolean)
    extends Workload {
  val nominalPassS: Double = if (corpus) 6.0 else 3.5
  private val spark = ctx.spark
  private val a = ctx.args
  private val fns = graft.SparkEntry.queries
  private val oracles = graft.SparkEntry.oracleSql
  private val dir = a.data
  private val ops = if (corpus) qs :+ Workloads.Q(Shards.Op, "jobs") else qs

  /** The cold pass writes every query output as parquet for the oracle
    * check, and checks the shard row count.
    */
  def cold(): Unit = order(-1).foreach { q =>
    if (q.name == Shards.Op) Shards.verified(ctx, dir, ctx.work("shards/cold"))
    else {
      val out = ctx.work(s"out/${q.name}")
      spark.sharedState.cacheManager.clearCache()
      try {
        CacheScope.scoped {
          fns(q.name)(spark, dir).write.mode("overwrite").parquet(out)
        }
        ctx.oracle += Map("name" -> q.name, "out" -> out, "data" -> dir,
          "sql" -> oracles.get(q.name))
      } catch {
        case scala.util.control.NonFatal(e) =>
          ctx.check(s"cold:${q.name}", ok = false, e.toString)
      }
    }
  }

  private def order(k: Int): Seq[Workloads.Q] =
    new scala.util.Random(a.seed * 7919L + k).shuffle(ops)

  def pass(k: Int): Unit = order(k).foreach { q =>
    spark.sharedState.cacheManager.clearCache()
    if (q.name == Shards.Op) {
      val out = ctx.work(s"shards/p$k")
      Shards.write(ctx, k, dir, out)
      Shards.delete(out)
    } else ctx.op(k, q.name, q.family) {
      CacheScope.scoped {
        val df = ctx.span(k, "build", "queries")(fns(q.name)(spark, dir))
        ctx.span(k, "execute", "exec") {
          df.write.format("noop").mode("overwrite").save()
        }
      }
    }
  }
}

/** The shard-writing op shared by corpus_queries and corpus_jobs. */
object Shards {
  val Op = "write_shards"

  def write(ctx: Ctx, k: Int, dir: String, out: String): Unit =
    ctx.op(k, Op, "jobs")(CacheScope.scoped(ctx.span(k, "execute", "exec")(
      graft.queries.LlmPipeline.writeTrainingShards(ctx.spark, dir, out))))

  /** Untimed: write the shards and check that they hold exactly the
    * funnel's survivors.
    */
  def verified(ctx: Ctx, dir: String, out: String): Unit = {
    val survivors = graft.queries.LlmPipeline.trainingSurvivors(ctx.spark, dir).count()
    write(ctx, -1, dir, out)
    val n = ctx.spark.read.parquet(out).count()
    ctx.check("shard_rows_eq_survivors", n == survivors,
      s"shards $n vs survivors $survivors")
  }

  def delete(out: String): Unit = {
    val p = Paths.get(out)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}

/** corpus_jobs: the production compositions, in the order a nightly run
  * makes them — write the shards, apply an increment, re-apply it (must
  * append nothing), release the train corpus, refine the codebook.
  */
final class JobsWorkload(ctx: Ctx) extends Workload {
  val nominalPassS = 14.0
  private val spark = ctx.spark
  private val dir = ctx.args.data
  private val batchPath = ctx.args.batch

  def cold(): Unit = iteration(-1, ctx.work("shards/cold"))

  def pass(k: Int): Unit = iteration(k, ctx.work(s"shards/p$k"))

  /** MD5 of every parquet file under `out`, by relative path. */
  private def files(out: String): Map[String, String] = {
    val root = Paths.get(out)
    val s = Files.walk(root)
    try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val md = java.security.MessageDigest.getInstance("MD5")
        root.relativize(p).toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
    finally s.close()
  }

  /** One nightly iteration. The cold one (k < 0) also checks the shard
    * row count and that the update leaves existing shard files untouched.
    */
  private def iteration(k: Int, out: String): Unit = {
    def op[A](name: String)(body: => A): Option[A] =
      ctx.op(k, name, "jobs")(CacheScope.scoped(ctx.span(k, "execute", "exec")(body)))
    val verify = k < 0
    val batch = () => spark.read.parquet(batchPath)
    spark.sharedState.cacheManager.clearCache()
    if (verify) Shards.verified(ctx, dir, out) else Shards.write(ctx, k, dir, out)
    val before = if (verify) files(out) else Map.empty[String, String]
    val appended = op("update_shards")(
      graft.queries.IncrementalFunnel.updateTrainingShards(spark, dir, batch(), out))
    ctx.check(s"update_appends[$k]", appended.exists(_ > 0), s"appended $appended")
    val again = op("update_again")(
      graft.queries.IncrementalFunnel.updateTrainingShards(spark, dir, batch(), out))
    ctx.check(s"update_idempotent[$k]", again.contains(0L), s"re-run appended $again")
    if (verify) {
      val after = files(out)
      val changed = before.count { case (f, h) => !after.get(f).contains(h) }
      ctx.check("shards_byte_stable", before.nonEmpty && changed == 0,
        s"${before.size} files before the update, $changed changed")
    }
    op("release") {
      graft.queries.GovernedRelease.releaseTrainCorpus(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    val code = op("codebook")(graft.queries.LlmPipeline.refineCodebook(spark, dir))
    ctx.check(s"codebook[$k]", code.exists { case (c, shifts) =>
      c.nonEmpty && shifts.forall(s => !s.isNaN && !s.isInfinite)
    }, s"${code.map(_._1.size)} centroids")
    Shards.delete(out)
  }
}
