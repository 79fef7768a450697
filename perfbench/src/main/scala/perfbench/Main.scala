package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Run settings, passed by `perfbench/run.py`. */
final case class Config(workload: String, input: String, runDir: String,
    seconds: Double, trace: Boolean, cpus: Int, seed: Long)

/** One timed operation: a registry query, a lake operation or a
  * micro-batch. `name` is the same for the same operation in every pass;
  * `span` is the driver span that timed it. */
final case class Op(kind: String, name: String, module: String, pass: Int,
    seconds: Double, ok: Boolean, span: Long)

/** A workload: its set-up (fixtures and an untimed warm-up), one pass of
  * its operations, and the checks made on its outputs after timing. */
trait Workload {
  def setup(spark: SparkSession, tr: Tracer): Unit
  def pass(spark: SparkSession, tr: Tracer, ops: ArrayBuffer[Op]): Unit
  def check(spark: SparkSession): Map[String, Any]
  /** Per-layer metrics of one traced pass, and a row of runtime metrics
    * per operation where the workload has one. */
  def layers(spark: SparkSession, tr: Tracer, ls: Listeners,
      passOps: Seq[Op]): (Map[String, Double], Seq[Map[String, Any]])
}

/** The benchmark's JVM side: sets the workload up, then runs passes until
  * `seconds` have been measured, then checks outputs and writes
  * `result.json` into the run directory.
  * With tracing on, passes run untraced, traced, traced, untraced, ...
  * (listeners attached on the traced ones; the ABBA order keeps warm-up
  * drift out of the difference), so the run also measures the tracing
  * overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(o("workload"), o("input"), o("run-dir"), o("seconds").toDouble,
      o("trace") == "1", o("cpus").toInt, o("seed").toLong)
    val wl: Workload = cfg.workload match {
      case "relational" | "llm-corpus" => new BatchWorkload(cfg)
      case "lake-rw"                   => new LakeWorkload(cfg)
      case "metric-stream"             => new StreamWorkload(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    val spark = session(cfg)
    val tr = new Tracer(spark)
    wl.setup(spark, tr)
    val setupS = (System.nanoTime() - t0) / 1e9

    val ls = new Listeners
    val progress = new ProgressListener(ls.progress)
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val layerSamples = ArrayBuffer.empty[Map[String, Double]]
    val perOp = ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var p = 0
    while (System.nanoTime() < deadline || (cfg.trace && p < 4)) {
      val traced = cfg.trace && (p % 4 == 1 || p % 4 == 2)
      if (traced) {
        ls.clear()
        spark.sparkContext.addSparkListener(ls)
        spark.listenerManager.register(ls)
        spark.streams.addListener(progress)
      }
      tr.pass = p
      val before = ops.size
      tr("pass", "bench")(wl.pass(spark, tr, ops))
      passes += Map("idx" -> p, "traced" -> traced, "s" -> tr.last("pass").seconds)
      if (traced) {
        Listeners.drain(spark)
        spark.sparkContext.removeSparkListener(ls)
        spark.listenerManager.unregister(ls)
        spark.streams.removeListener(progress)
        tr.spans ++= ls.jobSpans(p)
        val (metrics, rows) = wl.layers(spark, tr, ls, ops.drop(before).toSeq)
        layerSamples += metrics
        perOp ++= rows.map(_ + ("pass" -> p))
      }
      p += 1
    }

    val checks = wl.check(spark)
    val rss = peakRssMb()
    spark.stop()

    val layerNames = layerSamples.flatMap(_.keys).distinct.sorted
    val result = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cpus" -> cfg.cpus,
      "setup_s" -> setupS,
      "passes" -> passes,
      "ops" -> ops.map(op => Map("kind" -> op.kind, "name" -> op.name,
        "module" -> op.module, "pass" -> op.pass, "s" -> op.seconds, "ok" -> op.ok)),
      "peak_rss_mb" -> rss,
      "checks" -> checks,
      "layers" -> layerNames.map(n => n -> layerSamples.map(_.getOrElse(n, 0.0))).toMap,
      "per_op" -> perOp)
    implicit val formats: DefaultFormats.type = DefaultFormats
    Files.writeString(Paths.get(cfg.runDir, "result.json"), Serialization.write(result))
    if (cfg.trace)
      Files.writeString(Paths.get(cfg.runDir, "spans.jsonl"), tr.spans.map(s =>
        Serialization.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "pass" -> s.pass, "start_ms" -> s.startMs,
          "dur_s" -> s.seconds))).mkString("", "\n", "\n"))
    // Spark's shutdown hooks delete its scratch directories file by file
    // (10 s and more after a streaming run); they all sit in the run
    // directory, which run.py keeps
    Runtime.getRuntime.halt(0)
  }

  /** Local session as `graft.Bench` builds it: N cores, N shuffle
    * partitions, AQE on, UTC, the engine's extensions. Scratch state stays
    * in the run directory. */
  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.runDir}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total bytes of the regular files under `path`. */
  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles()).getOrElse(Array.empty).map(c => bytesUnder(c.getPath)).sum
  }
}
