package perfbench

import graft.{Controller, GraftLake}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The two lake workloads: DMS-style deliveries of `orders`
  * (unpartitioned) and `lineitem` (Hive-partitioned on `l_month`), applied by `GraftLake.sync()` on copy-on-write tables
  * (`lake_cow_batch`, where `orders` carries a stats + bloom index) or by
  * `GraftLake.syncStreaming(...).awaitAll()` on merge-on-read tables
  * (`lake_mor_stream`). Between deliveries a fixed read mix runs: point
  * lookups of `orders` keys, a date-range aggregate over `orders`, and a
  * per-month aggregate over `lineitem`. */
final class Lake(spark: SparkSession, spans: Spans, gen: String, work: String,
                 mor: Boolean) extends Workload {
  private val tables = Seq("orders", "lineitem")
  private val pks = Map("orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  private val cols: Map[String, Seq[String]] = tables.map { t =>
    t -> spark.read.parquet(s"$gen/load/$t").columns.toSeq
  }.toMap
  private val params = Main.readJson(s"$gen/params.json")
  private val rounds = params.get("rounds")
  private val changeRows: IndexedSeq[Long] = params.get("change_rows").elements().asScala
    .map(_.asLong).toIndexedSeq
  val deliveries: Int = changeRows.size - 1

  private var root = ""
  private var lake: GraftLake = _
  private def raw = s"$root/raw"
  private def lakeRoot = s"$root/lake"
  private def changeFile(t: String, d: Int) = f"$gen/changes/$t/20260101-$d%06d.parquet"

  // outputs recorded for the untimed check: (round, key) -> rows
  private val points = mutable.ArrayBuffer.empty[(Int, Long, Seq[String])]
  private val ranges = mutable.ArrayBuffer.empty[(Int, Long, Double)]
  private val months = mutable.ArrayBuffer.empty[(Int, Map[String, (Long, Double)])]
  private var returned = 0L

  def setup(rep: Int): Unit = {
    root = s"$work/rep$rep"
    tables.foreach { t =>
      val dir = Paths.get(s"$raw/db/$t")
      Files.createDirectories(dir)
      Files.copy(Paths.get(s"$gen/load/$t/LOAD00000001.parquet"), dir.resolve("LOAD00000001.parquet"))
    }
    lake = GraftLake(spark, raw, lakeRoot, s"$root/state")
    lake.tables(): Unit
    tables.foreach { t =>
      lake.activate("db", t, primaryKeys = pks(t),
        partitionKeys = if (t == "lineitem") Seq("l_month") else Nil, mergeOnRead = mor)
    }
    val res = spans.span("lake.sync")(lake.sync())
    tables.foreach { t =>
      res.get(s"db/$t") match {
        case Some(List(Controller.FullLoad(_))) => ()
        case other => sys.error(s"initial load of $t: $other")
      }
    }
    if (!mor) spans.span("lake.build_stats_index") {
      lake.buildStatsIndex("db", "orders", Seq("o_orderkey", "o_orderdate"),
        bloomCols = Seq("o_orderkey"))
    }: Unit
  }

  def deliver(d: Int): Long = {
    tables.foreach { t =>
      val src = Paths.get(changeFile(t, d))
      Files.copy(src, Paths.get(s"$raw/db/$t").resolve(src.getFileName))
    }
    if (!mor) {
      val res = spans.span("lake.sync")(lake.sync())
      tables.foreach { t =>
        res.get(s"db/$t") match {
          case Some(List(Controller.Incremental(_, 1))) => ()
          case other => sys.error(s"delivery $d to $t: $other")
        }
      }
    } else {
      val failures = spans.span("lake.sync_streaming") {
        val streams = lake.syncStreaming(s"$root/checkpoints").awaitAll()
        try streams.failures finally streams.stopAll()
      }
      if (failures.nonEmpty) sys.error(s"delivery $d: $failures")
    }
    changeRows(d)
  }

  def landedBytes(d: Int): Long = tables.map(t => Files.size(Paths.get(changeFile(t, d)))).sum

  private def round(d: Int) = rounds.get(d)
  private def range(d: Int) = {
    val r = round(d).get("range")
    (java.sql.Date.valueOf(r.get(0).asText), java.sql.Date.valueOf(r.get(1).asText))
  }

  def readRound(d: Int, kind: String): Unit = {
    val rd = round(d)
    rd.get("points").elements().asScala.map(_.asLong).foreach { k =>
      val rows = spans.op(kind)(spans.span("lake.read.point") {
        lake.readPrunedPoint("db", "orders", "o_orderkey", k)
          .select(cols("orders").map(col): _*).collect()
      })._1
      points += ((d, k, rows.toSeq.map(canon)))
      returned += rows.length
    }
    val (lo, hi) = range(d)
    val r = spans.op(kind)(spans.span("lake.read.range") {
      lake.readPruned("db", "orders", "o_orderdate", Some(lo), Some(hi))
        .agg(count(lit(1)), sum("o_totalprice")).head()
    })._1
    ranges += ((d, r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
    returned += 1
    val month = rd.get("month").asText
    val ms = spans.op(kind)(spans.span("lake.read.scan") {
      lake.read("db", "lineitem").where(col("l_month") >= month)
        .groupBy("l_month").agg(count(lit(1)), sum("l_extendedprice")).collect()
    })._1
    months += ((d, ms.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap))
    returned += ms.length
  }

  def rowsReturned: Long = returned

  def prunedFiles(d: Int): (Long, Long) =
    if (mor) (0L, 0L)
    else {
      val (lo, hi) = range(d)
      val all = lake.read("db", "orders").inputFiles.length.toLong
      val key = round(d).get("points").get(0).asLong
      val opened = lake.readPruned("db", "orders", "o_orderdate", Some(lo), Some(hi))
        .inputFiles.length + lake.readPrunedPoint("db", "orders", "o_orderkey", key)
        .inputFiles.length
      (opened.toLong, 2 * all)
    }

  def storage: Seq[Path] = Seq(Paths.get(lakeRoot))

  private def canon(r: Row): String =
    r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")

  /** The independent model: every version of every key with the interval
    * of deliveries [__d, __to) during which it was the live row — plain
    * DataFrame windows over the generator's rows (latest position within a
    * delivery wins; a delete ends the key). */
  private def versions(t: String, last: Int): DataFrame = {
    val m = spark.read.parquet(s"$gen/model/$t").where(col("__d") <= last)
    val perDelivery = Window.partitionBy((pks(t) :+ "__d").map(col): _*).orderBy(col("__pos").desc)
    val byKey = Window.partitionBy(pks(t).map(col): _*).orderBy("__d")
    m.withColumn("__rn", row_number().over(perDelivery)).where(col("__rn") === 1)
      .withColumn("__to", coalesce(lead("__d", 1).over(byKey), lit(Int.MaxValue)))
      .where(col("Op") =!= "D")
  }

  private def asOf(v: DataFrame, d: Column) = v.where(col("__d") <= d && col("__to") > d)

  /** Order-independent content hash of a table: row count and the exact
    * sum of per-row 64-bit hashes. */
  private def fingerprint(df: DataFrame, t: String): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols(t).map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  // model state after the last delivery, kept for plainBytes
  private val finals = mutable.Map.empty[String, DataFrame]

  def verify(last: Int): Seq[String] = {
    import spark.implicits._
    val vs = Main.parallel(tables.map(t => () => t -> versions(t, last).localCheckpoint())).toMap
    tables.foreach(t => finals(t) = asOf(vs(t), lit(last)).select(cols(t).map(col): _*))
    val tableChecks = tables.map { t => () =>
      val got = lake.read("db", t).select(cols(t).map(col): _*)
      if (fingerprint(got, t) == fingerprint(finals(t), t)) Nil
      else {
        val extra = got.exceptAll(finals(t)).count()
        val missing = finals(t).exceptAll(got).count()
        Seq(s"$t after $last deliveries: $extra unexpected rows, $missing missing rows")
      }
    }
    val ov = vs("orders")
    val pointCheck = () => {
      val probes = points.map { case (d, k, _) => (d, k) }.distinct.toSeq.toDF("__r", "__k")
      val want = ov.join(probes, col("o_orderkey") === col("__k") && col("__d") <= col("__r") &&
          col("__to") > col("__r"))
        .select((col("__r") +: cols("orders").map(col)): _*).collect()
        .groupBy(r => (r.getInt(0), r.getLong(1))).map { case (k, rs) =>
          k -> rs.map(r => canon(Row.fromSeq(r.toSeq.tail))).toSeq.sorted }
      points.toSeq.collect { case (d, k, got) if got.sorted != want.getOrElse((d, k), Nil) =>
        s"point read of order $k after delivery $d: got $got, want ${want.getOrElse((d, k), Nil)}"
      }
    }
    val rs = ranges.map(_._1).distinct.toSeq
      .map(d => (d, range(d)._1, range(d)._2, round(d).get("month").asText))
      .toDF("__r", "__lo", "__hi", "__m")
    val live = (v: DataFrame) => v.join(broadcast(rs), col("__d") <= col("__r") && col("__to") > col("__r"))
    val rangeCheck = () => {
      val want = live(ov).where(col("o_orderdate").between(col("__lo"), col("__hi")))
        .groupBy("__r").agg(count(lit(1)), sum("o_totalprice")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
      ranges.toSeq.flatMap { case (d, n, s) =>
        val (wn, ws) = want.getOrElse(d, (0L, 0.0))
        if (n == wn && close(s, ws)) None
        else Some(s"range read after delivery $d: got ($n, $s), want ($wn, $ws)")
      }
    }
    val monthCheck = () => {
      val want = live(vs("lineitem")).where(col("l_month") >= col("__m"))
        .groupBy("__r", "l_month").agg(count(lit(1)), sum("l_extendedprice")).collect()
        .groupBy(_.getInt(0)).map { case (d, xs) =>
          d -> xs.map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap }
      months.toSeq.flatMap { case (d, got) =>
        val w = want.getOrElse(d, Map.empty)
        val ok = got.keySet == w.keySet && got.forall { case (m, (n, s)) =>
          w(m)._1 == n && close(s, w(m)._2) }
        if (ok) None else Some(s"month scan after delivery $d: got $got, want $w")
      }
    }
    Main.parallel(tableChecks ++ Seq(pointCheck, rangeCheck, monthCheck)).flatten
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def plainBytes(last: Int): Long = Main.parallel(tables.map { t => () =>
    val dir = s"$work/plain/$t"
    finals.getOrElse(t, asOf(versions(t, last), lit(last)).select(cols(t).map(col): _*))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Main.listing(Seq(Paths.get(dir))).values.sum
  }).sum

  def health(): Map[String, Double] =
    Map("io.mor.mask_rows" -> (if (!mor) 0.0
      else tables.flatMap(t => lake.morHealth("db", t)).map(_.maskRows).sum.toDouble),
      "index.segments" -> 0.0, "index.tombstone_fraction" -> 0.0)
}
