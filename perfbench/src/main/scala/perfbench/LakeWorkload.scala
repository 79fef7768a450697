package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Tables => T}
import graft.lake.CowTable

/** `lake-rw`: a copy-on-write table over `orders`, changed and read in
  * rounds. Each round commits one change set (`CowTable.mergeInto`), reads
  * the whole snapshot into an aggregate (`readVersion`) and reads one
  * custkey stripe through the manifest (`prunedRead`). Even rounds upsert
  * a clustered custkey stripe, odd rounds a scattered key sample. A pass
  * is [[RoundsPerPass]] rounds, the last of which also deletes a key
  * sample (`deleteWhere`), folds it (`compactDeletes`), then runs
  * `optimize` and `vacuum`. Change sets are drawn from the seed and
  * collected before the commit is timed; every applied change is written
  * out for the replay check. */
final class LakeWorkload(cfg: Config) extends Workload {
  import LakeWorkload._

  private var root: String = _
  private var orders: DataFrame = _
  private var minCust = 0L
  private var nCust = 0L // custkey range size
  private var round = 0
  private var version = 0L
  private val applied = ArrayBuffer.empty[(Int, String, Row)]
  private val commits = ArrayBuffer.empty[(Int, Long, Long, Long)] // round, changed rows, bytes, units
  private val pruned = ArrayBuffer.empty[(Int, Int, Int)]           // round, files scanned, total
  private val afterVacuum = ArrayBuffer.empty[(Long, Long)]         // bytes stored, live bytes

  override def setup(spark: SparkSession, tr: Tracer): Unit = {
    root = s"${cfg.runDir}/lake/table"
    orders = T.orders(spark, cfg.input).cache()
    val range = orders.agg(min(col("o_custkey")), max(col("o_custkey"))).head()
    minCust = range.getLong(0)
    nCust = range.getLong(1) - minCust + 1
    version = tr("init", "lake")(CowTable.init(spark, orders, root))
    oneRound(spark, tr, ArrayBuffer.empty[Op], maintenance = true)
  }

  override def pass(spark: SparkSession, tr: Tracer, ops: ArrayBuffer[Op]): Unit =
    (1 to RoundsPerPass).foreach(i => oneRound(spark, tr, ops, maintenance = i == RoundsPerPass))

  private def h(parts: Column*) = xxhash64((lit(cfg.seed) +: parts): _*)

  /** First custkey of a seeded 20-key stripe inside the table's range. */
  private def stripe(salt: String, r: Int): Long = minCust + java.lang.Math.floorMod(
    scala.util.hashing.MurmurHash3.stringHash(s"${cfg.seed}:$salt:$r").toLong, nCust - StripeWidth)

  /** The round's upserts, from the seed: updated prices for a clustered
    * custkey stripe (even rounds) or a scattered key sample (odd rounds),
    * plus inserts of new keys copied from a quarter of those rows. */
  private def changeSet(r: Int): DataFrame = {
    val key = col("o_orderkey")
    val sel =
      if (r % 2 == 0) {
        val lo = stripe("stripe", r)
        col("o_custkey").between(lo, lo + StripeWidth - 1)
      } else pmod(h(lit(r), key), lit(ScatterMod)) === 0
    val rows = orders.filter(sel)
    val upd = rows.withColumn("o_totalprice", col("o_totalprice") + (r % 7 + 1).toDouble)
    val ins = rows.filter(pmod(h(lit(r), key, lit("ins")), lit(4)) === 0)
      .withColumn("o_orderkey", key + (InsertBase + r.toLong * InsertStride))
    upd.unionByName(ins)
  }

  private def deleteSet(r: Int): DataFrame =
    orders.filter(pmod(h(lit(r), col("o_orderkey"), lit("del")), lit(DeleteMod)) === 0)
      .select(col("o_orderkey"))

  private def local(spark: SparkSession, df: DataFrame): (Array[Row], DataFrame) = {
    val rows = df.collect()
    (rows, spark.createDataFrame(rows.toSeq.asJava, df.schema))
  }

  private def op(tr: Tracer, ops: ArrayBuffer[Op], kind: String)(body: => Unit): Unit = {
    val ok = try { tr(kind, "lake")(body); true } catch { case e: Throwable =>
      System.err.println(s"[perfbench] lake $kind round $round failed: ${e.getMessage}")
      false
    }
    val s = tr.last(kind)
    ops += Op(kind, s"$kind-${round % RoundsPerPass}", "lake", tr.pass, s.seconds, ok, s.id)
  }

  private def aggregate(df: DataFrame): Array[Row] =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)), sum(col("o_orderkey")), sum(col("o_totalprice")))
      .collect()

  private def poolUnits(): Map[String, Long] =
    Option(new java.io.File(s"$root/files").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("g"))
      .map(f => f.getName -> Main.bytesUnder(f.getPath)).toMap

  private def oneRound(spark: SparkSession, tr: Tracer, ops: ArrayBuffer[Op],
      maintenance: Boolean): Unit = {
    val r = round
    val (ups, upsDf) = local(spark, changeSet(r))
    val before = poolUnits()
    op(tr, ops, "commit") { version = CowTable.mergeInto(spark, root, upsDf) }
    val added = poolUnits() -- before.keys
    ups.foreach(row => applied += ((r, "U", row)))
    commits += ((r, ups.length.toLong, added.values.sum, added.size.toLong))

    op(tr, ops, "read") {
      val df = tr("read_plan", "lake")(CowTable.readVersion(spark, root, version))
      tr("read_exec", "lake")(aggregate(df))
    }
    val lo = stripe("prune", r) % 65536 // ck = o_custkey % 65536
    var prunedDf: DataFrame = null
    op(tr, ops, "pruned_read") {
      prunedDf = tr("read_plan", "lake")(
        CowTable.prunedRead(spark, root, version, Seq(("ck", lo, lo + StripeWidth - 1))))
      tr("read_exec", "lake")(aggregate(prunedDf))
    }
    if (prunedDf != null) pruned += ((r,
      prunedDf.inputFiles.map(p => p.split("/files/")(1).takeWhile(_ != '/')).distinct.length,
      CowTable.filelist(spark, root, version).count().toInt))

    if (maintenance) {
      val (dels, delDf) = local(spark, deleteSet(r))
      op(tr, ops, "delete") { version = CowTable.deleteWhere(spark, root, delDf) }
      dels.foreach(row => applied += ((r, "D", row)))
      op(tr, ops, "compact") { version = CowTable.compactDeletes(spark, root) }
      op(tr, ops, "optimize") { version = CowTable.optimize(spark, root) }
      op(tr, ops, "vacuum") { CowTable.vacuum(spark, root, keepLast = 2) }
      afterVacuum += storage(spark)
    }
    round += 1
  }

  /** Bytes stored under the table, and bytes of the units the latest
    * snapshot references. */
  private def storage(spark: SparkSession): (Long, Long) = {
    val live = CowTable.filelist(spark, root, version).select(col("path")).collect()
      .map(r => Main.bytesUnder(s"$root/files/${r.getString(0)}")).sum
    (Main.bytesUnder(root), live)
  }

  override def check(spark: SparkSession): Map[String, Any] = {
    val out = s"${cfg.runDir}/lake_check"
    CowTable.readVersion(spark, root, version)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/final")
    val ups = applied.filter(_._2 == "U")
    val schema = orders.schema.add("round", "int")
    spark.createDataFrame(ups.map { case (r, _, row) => Row.fromSeq(row.toSeq :+ r) }.asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/upserts")
    spark.createDataFrame(applied.filter(_._2 == "D")
        .map { case (r, _, row) => Row(row.getLong(0), r) }.asJava,
        new org.apache.spark.sql.types.StructType().add("o_orderkey", "long").add("round", "int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/deletes")
    Map("final" -> s"$out/final", "upserts" -> s"$out/upserts", "deletes" -> s"$out/deletes",
      "rounds" -> round) ++ amplification(spark)
  }

  override def layers(spark: SparkSession, tr: Tracer, ls: Listeners,
      passOps: Seq[Op]): (Map[String, Double], Seq[Map[String, Any]]) = {
    val passSpans = tr.spans.filter(_.pass == tr.pass)
    val rounds = (round - RoundsPerPass until round).toSet
    val (stored, live) = storage(spark)
    val c = commits.filter(x => rounds(x._1))
    val pr = pruned.filter(x => rounds(x._1))
    Map(
      "lake.commit_s" -> passSpans.filter(_.name == "commit").map(_.seconds).sum,
      "lake.commit_bytes_written" -> c.map(_._3).sum.toDouble,
      "lake.units_rewritten" -> c.map(_._4).sum.toDouble,
      "lake.read_plan_s" -> passSpans.filter(_.name == "read_plan").map(_.seconds).sum,
      "lake.read_exec_s" -> passSpans.filter(_.name == "read_exec").map(_.seconds).sum,
      "lake.files_scanned" -> pr.map(_._2).sum.toDouble,
      "lake.files_total" -> pr.map(_._3).sum.toDouble,
      "lake.bytes_stored" -> stored.toDouble,
      "lake.live_bytes" -> live.toDouble) -> Nil
  }

  /** Whole-run write amplification (pool bytes the merge commits wrote
    * per byte of changed rows, a changed row sized as the live table's
    * mean row) and space amplification after the last `vacuum`. */
  private def amplification(spark: SparkSession): Map[String, Double] = {
    val (_, live) = storage(spark)
    val liveRows = CowTable.filelist(spark, root, version).agg(sum(col("n"))).head().getLong(0)
    val changed = commits.map(_._2).sum * live.toDouble / math.max(1L, liveRows)
    val (stored, liveAtVacuum) = afterVacuum.last
    Map("write_amp" -> commits.map(_._3).sum / math.max(1.0, changed),
      "space_amp" -> stored.toDouble / math.max(1L, liveAtVacuum))
  }
}

object LakeWorkload {
  val RoundsPerPass = 4
  val StripeWidth = 20L
  val ScatterMod = 64L
  val DeleteMod = 64L
  val InsertBase = 1000000000L
  val InsertStride = 10000000L
}
