package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{QueryDef, Release}
import graft.io.Writers

/** `relational` and `llm-corpus`: a fixed list of registry queries, each
  * built (`QueryDef.fn`), run to completion into Spark's `noop` sink and
  * released (`core.Release.storage`), as `graft.Bench` does. The
  * reference job `q02_tsv_converter` writes through
  * `io.Writers.parquetOverwrite` instead. The untimed warm-up pass, and
  * one more untimed pass after the timed ones, write every output as
  * parquet for the oracle check: a query that goes wrong only when it runs
  * again in the same session shows there. */
final class BatchWorkload(cfg: Config) extends Workload {
  private val queries = BatchWorkload.queries(cfg.workload)
  private val outDir = s"${cfg.runDir}/out"
  private val failed = scala.collection.mutable.Set.empty[String]

  /** Builds, runs and releases one query; the reference job writes to
    * `out`, every other query into `sink`. */
  private def run(spark: SparkSession, tr: Tracer, name: String, q: QueryDef,
      module: String, sink: DataFrame => Unit, out: String): Boolean =
    tr(name, module) {
      try {
        val df = tr("build", module)(q.fn(spark, cfg.input))
        tr("action", module) {
          if (name == BatchWorkload.RefJob) tr("write", "io")(Writers.parquetOverwrite(df, out))
          else sink(df)
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
        false
      } finally tr("release", "core")(Release.storage(spark))
    }

  /** An untimed pass that writes every output as parquet under
    * `$outDir/$label/<query>`. */
  private def checkedPass(spark: SparkSession, tr: Tracer, label: String): Unit =
    queries.foreach { case (name, q, module) =>
      val out = s"$outDir/$label/$name"
      if (!run(spark, tr, name, q, module, _.coalesce(1).write.mode("overwrite").parquet(out), out))
        failed += name
    }

  override def setup(spark: SparkSession, tr: Tracer): Unit = checkedPass(spark, tr, "warm")

  override def pass(spark: SparkSession, tr: Tracer, ops: ArrayBuffer[Op]): Unit =
    queries.foreach { case (name, q, module) =>
      val ok = run(spark, tr, name, q, module, _.write.format("noop").mode("overwrite").save(),
        s"$outDir/timed/$name")
      val s = tr.last(name)
      ops += Op("query", name, module, tr.pass, s.seconds, ok, s.id)
    }

  override def check(spark: SparkSession): Map[String, Any] = {
    checkedPass(spark, new Tracer(spark), "final") // its spans are not kept
    Map(
      "outputs" -> Seq("warm", "final").map(l => s"$outDir/$l"),
      "names" -> queries.map(_._1),
      "ref_job" -> BatchWorkload.RefJob,
      "oracle" -> queries.flatMap { case (n, q, _) => q.oracle.map(n -> _) }.toMap,
      "failed" -> failed.toSeq.sorted)
  }

  override def layers(spark: SparkSession, tr: Tracer, ls: Listeners,
      passOps: Seq[Op]): (Map[String, Double], Seq[Map[String, Any]]) = {
    val passSpans = tr.spans.filter(_.pass == tr.pass).toSeq
    val children = passSpans.groupBy(_.parent)
    def subtree(id: Long): Seq[Span] = children.getOrElse(id, Nil).flatMap(c => c +: subtree(c.id))
    val byId = passSpans.map(s => s.id -> s).toMap
    val roots = passOps.map(op => byId(op.span))
    val work = ls.attribute(roots, r => subtree(r.id).map(_.id).toSet + r.id)
    val rows = passOps.map { op =>
      val kids = subtree(op.span)
      BatchWorkload.Row(op.name, op.module, op.seconds,
        kids.filter(_.name == "build").map(_.seconds).sum, work(op.span))
    }
    val perModule = rows.groupBy(_.module).flatMap { case (m, rs) =>
      BatchWorkload.moduleMetrics(m, rs, cfg.cpus)
    }
    val asOf = BatchWorkload.moduleMetrics("plans", rows.filter(_.work.asOf), cfg.cpus)
    val io = passSpans.filter(_.layer == "io")
    val metrics = perModule ++ asOf ++ Map(
      "core.release_s" -> passSpans.filter(_.name == "release").map(_.seconds).sum,
      "io.write_s" -> io.map(_.seconds).sum,
      "io.bytes_written" -> (if (io.isEmpty) 0.0 else Main.bytesUnder(s"$outDir/timed/${BatchWorkload.RefJob}").toDouble))
    (metrics, rows.map(r => Map("query" -> r.name, "module" -> r.module, "wall_s" -> r.wallS,
      "build_s" -> r.buildS, "plan_s" -> r.work.planS, "exec_busy_s" -> r.work.busyS,
      "jobs" -> r.work.jobs, "stages" -> r.work.stages, "tasks" -> r.work.tasks,
      "task_run_s" -> r.work.taskRunS, "task_cpu_s" -> r.work.taskCpuS,
      "max_task_s" -> r.work.maxTaskS, "shuffle_read_bytes" -> r.work.shuffleRead,
      "shuffle_write_bytes" -> r.work.shuffleWrite, "spill_bytes" -> r.work.spill,
      "asof_join" -> r.work.asOf)))
  }
}

object BatchWorkload {
  val RefJob = "q02_tsv_converter"

  final case class Row(name: String, module: String, wallS: Double, buildS: Double, work: SparkWork)

  /** The module that declares a query: the package of its `fn`. The
    * registry's inline entries (the multimodal family, declared in
    * `SparkEntry` itself) all delegate to `graft.llm.Multimodal`. */
  def moduleOf(q: QueryDef): String = {
    val n = q.fn.getClass.getName.stripPrefix("graft.")
    val i = n.indexOf('.')
    if (i > 0) n.substring(0, i) else "llm"
  }

  /** `relational`: every fifth `q*` query of the `operators` groups in
    * registry order, starting at the reference job, with q41_asof_native
    * (the one query planned through `plans.AsOfJoinExec`) in place of
    * q53_asof_forward: 14 of 67 (all 67 take 13 s a pass on 4 cores, too
    * long for the run budget). The sample spans outer joins, rollups,
    * top-k, exact dedup, string and array functions, exact statistics,
    * decimals, histograms, as-of and point-in-time joins, event analytics
    * and a z-order layout. */
  val Relational = Seq("q02_tsv_converter", "q07_left_outer", "q12_rollup", "q17_topk",
    "q19b_dedup_exact", "q20_string_funcs", "q24_array_hof", "q33_stats_exact",
    "q40_decimal_canary", "q46_histogram", "q41_asof_native", "q58_pit_join",
    "q51_user_growth", "q52_zorder_layout")

  /** `llm-corpus`: queries that carry the shuffle- and iteration-heavy
    * llm/ mechanisms: four consumers of the jaccard capped-distinct chain
    * and its pair generation (dedup_ngram_jaccard, dedup_clusters,
    * graph_lpa_communities, graph_kcore), the per-round label loops
    * (dedup_clusters, graph_lpa_communities, graph_kcore,
    * emb_knn_components, multimodal_phash_groups) and pseudo-relevance
    * feedback (retrieval_prf). 7 of the 37 dedup/graph/ANN/retrieval
    * queries, about a quarter of their time (all 37 take 21 s a pass on
    * 4 cores; README "Sizing" has the per-query shares). */
  val LlmCorpus = Seq("dedup_ngram_jaccard", "dedup_clusters", "graph_lpa_communities",
    "graph_kcore", "retrieval_prf", "emb_knn_components", "multimodal_phash_groups")

  /** The workload's queries, with their module. */
  def queries(workload: String): Seq[(String, QueryDef, String)] = {
    val registry = SparkEntry.registry.toMap
    val names = if (workload == "relational") Relational else LlmCorpus
    names.map { n =>
      val q = registry.getOrElse(n, throw new IllegalStateException(s"$n is not in the registry"))
      (n, q, moduleOf(q))
    }
  }

  def moduleMetrics(m: String, rs: Seq[Row], cpus: Int): Map[String, Double] = {
    if (rs.isEmpty) return Map.empty
    val wall = rs.map(_.wallS).sum
    val busy = rs.map(_.work.busyS).sum
    val run = rs.map(_.work.taskRunS).sum
    Map(
      "wall_s" -> wall,
      "build_s" -> rs.map(_.buildS).sum,
      "plan_s" -> rs.map(_.work.planS).sum,
      "exec_busy_s" -> busy,
      "driver_gap_s" -> (wall - busy),
      "jobs" -> rs.map(_.work.jobs).sum.toDouble,
      "stages" -> rs.map(_.work.stages).sum.toDouble,
      "tasks" -> rs.map(_.work.tasks).sum.toDouble,
      "task_run_s" -> run,
      "task_cpu_s" -> rs.map(_.work.taskCpuS).sum,
      "core_util" -> (if (wall > 0) run / (wall * cpus) else 0.0),
      "max_task_s" -> rs.map(_.work.maxTaskS).max,
      "shuffle_read_bytes" -> rs.map(_.work.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> rs.map(_.work.shuffleWrite).sum.toDouble,
      "spill_bytes" -> rs.map(_.work.spill).sum.toDouble,
    ).map { case (k, v) => s"$m.$k" -> v }
  }
}
