package perfbench

import graft.io.SegmentedIndex
import graft.ops.{Dedup, Retrieval, Similarity}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `corpus_index` workload: BM25, phrase and LSH segmented indexes over
  * `documents` and an IVF index over `embeddings`, built in set-up. Each
  * delivery is one merged document change batch and one embedding change
  * batch (U/D/I), applied through `Retrieval.updateBm25Index`,
  * `Retrieval.updatePhraseIndex`, `Dedup.updateLshIndex` and
  * `Similarity.updateIvfIndex`. Each read round probes the indexes through
  * `bm25AgainstIndex`, `phraseAgainstIndex` and `lshCandidatesAgainstIndex`. */
final class Corpus(spark: SparkSession, spans: Spans, gen: String, work: String)
    extends Workload {
  import spark.implicits._

  private val buckets = 4
  private val k = 10
  private val params = Main.readJson(s"$gen/params.json")
  private val clusters = params.get("params").get("clusters").asInt
  private val changeRows: IndexedSeq[Long] = params.get("change_rows").elements().asScala
    .map(_.asLong).toIndexedSeq
  val deliveries: Int = changeRows.size - 1
  // Index deliveries are the slowest and noisiest operations (four families,
  // ~85 jobs each): a run measures two and reports their median, and
  // skips the separate warm-up read round to stay within the run budget.
  override val minDeliveries = 2
  override val warmUpReads = false

  private val docs = spark.read.parquet(s"$gen/base/docs.parquet")
  private val emb = spark.read.parquet(s"$gen/base/emb.parquet")
  private val cents = emb.where(col("vec_id") < clusters)
    .select(col("vec_id").as("cid"), col("embedding"))
  /** Probe texts by family and round: (qid, text). */
  private val probes: Map[String, Map[Int, Seq[(Long, String)]]] =
    Seq("bm25", "phrase", "lsh").map { f =>
      f -> spark.read.parquet(s"$gen/probes/$f.parquet").collect().toSeq
        .groupBy(_.getInt(0)).map { case (r, rs) => r -> rs.map(x => (x.getLong(1), x.getString(2))) }
    }.toMap

  private var prefix = ""
  private var ivfDir = ""
  private def bm25 = s"${prefix}bm25"
  private def phrase = s"${prefix}phrase"
  private def lsh = s"${prefix}lsh"
  private def changeFile(f: String, d: Int) = f"$gen/changes/$f/$d%06d.parquet"

  // outputs recorded for the untimed check: (round, family, sorted rows)
  private val results = mutable.ArrayBuffer.empty[(Int, String, Seq[String])]
  private var returned = 0L

  def setup(rep: Int): Unit = {
    prefix = s"r${rep}_"
    ivfDir = s"$work/rep$rep/ivf"
    spans.span("index.bm25.build")(Retrieval.writeBm25Index(docs, "doc_id", "text", bm25, buckets))
    spans.span("index.phrase.build")(Retrieval.writePhraseIndex(docs, "doc_id", "text", phrase, buckets))
    spans.span("index.lsh.build")(Dedup.writeLshIndex(docs, "doc_id", "text", lsh, buckets))
    spans.span("index.ivf.build") {
      Similarity.writeIvfIndex(Similarity.ivfAssign(emb, cents, "vec_id", "embedding", "cid")
        .select("vec_id", "embedding", "cluster"), ivfDir)
      Similarity.buildIvfIdMap(spark, ivfDir, "vec_id")
    }
  }

  def deliver(d: Int): Long = {
    val ch = spark.read.parquet(changeFile("docs", d))
    val ech = spark.read.parquet(changeFile("emb", d))
    val batch = s"d$d"
    spans.span("index.bm25.update") {
      Retrieval.updateBm25Index(spark, ch, "doc_id", "text", "op", bm25, buckets, batch)
    }
    spans.span("index.phrase.update") {
      Retrieval.updatePhraseIndex(spark, ch, "doc_id", "text", "op", phrase, buckets, batch)
    }
    spans.span("index.lsh.update") {
      Dedup.updateLshIndex(spark, ch, "doc_id", "text", "op", lsh, buckets, batchId = batch)
    }
    spans.span("index.ivf.update") {
      Similarity.updateIvfIndex(spark, ech, cents, "vec_id", "embedding", "cid", "op", ivfDir, batch)
    }
    changeRows(d)
  }

  def landedBytes(d: Int): Long =
    Seq("docs", "emb").map(f => Files.size(Paths.get(changeFile(f, d)))).sum

  private def queries(f: String, d: Int): DataFrame =
    probes(f).getOrElse(d, Nil).toDF("qid", "qtext")

  private def probeBm25(idx: String, q: DataFrame) =
    Retrieval.bm25AgainstIndex(spark, idx, q, "qid", "qtext", k).select("qid", "doc_id", "rank", "score")
  private def probePhrase(idx: String, q: DataFrame) =
    Retrieval.phraseAgainstIndex(spark, idx, q, "qid", "qtext", k).select("qid", "doc_id", "rank", "phrase_hits")
  private def probeLsh(idx: String, q: DataFrame) =
    Dedup.lshCandidatesAgainstIndex(spark, idx, q.toDF("doc_id", "text"), "doc_id", "text")
      .select("id_new", "id_corpus", "est_jaccard")

  def readRound(d: Int, kind: String): Unit = {
    Seq[(String, DataFrame => DataFrame)](("bm25", probeBm25(bm25, _)),
        ("phrase", probePhrase(phrase, _)), ("lsh", probeLsh(lsh, _))).foreach { case (f, probe) =>
      val q = queries(f, d)
      val rows = spans.op(kind)(spans.span(s"index.probe.$f")(probe(q).collect()))._1
      results += ((d, f, canon(rows)))
      returned += rows.length
    }
  }

  def rowsReturned: Long = returned
  def prunedFiles(d: Int): (Long, Long) = (0L, 0L)

  def storage: Seq[Path] = {
    val wh = Paths.get(s"$work/warehouse")
    val tables = if (!Files.exists(wh)) Nil else {
      val s = Files.list(wh)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toList
      finally s.close()
    }
    tables :+ Paths.get(ivfDir)
  }

  private def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map {
      case x: Double => f"$x%.9e"
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Latest-wins corpus after `last` deliveries: plain DataFrame windows
    * over the generator's base rows and change batches. */
  private def merged(f: String, id: String, value: String, last: Int): DataFrame = {
    val w = Window.partitionBy(id).orderBy(col("__d").desc)
    spark.read.parquet(s"$gen/model/$f").where(col("__d") <= last)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1 && col("op") =!= "D")
      .select(id, value)
  }

  /** What `lshCandidatesAgainstIndex` must return, without an index:
    * probe and corpus MinHash band keys joined directly, buckets above the
    * default cap of 1000 live docs dropped, estimated Jaccard = agreeing
    * signature positions / 16. */
  private def lshFromScratch(corpus: DataFrame, probe: DataFrame): DataFrame = {
    val bands = Dedup.minHashed(corpus, "doc_id", "text")
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band_key")))
      .where(col("bucket_n") <= 1000)
      .select(col("band_key"), col("doc_id").as("id_corpus"), col("signature").as("sig_c"))
    Dedup.minHashed(probe.toDF("doc_id", "text"), "doc_id", "text")
      .select(col("band_key"), col("doc_id").as("id_new"), col("signature").as("sig_n"))
      .join(bands, "band_key")
      .select(col("id_new"), col("id_corpus"),
        (aggregate(zip_with(col("sig_n"), col("sig_c"), (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).cast("double") / 16).as("est_jaccard"))
      .distinct()
  }

  def verify(last: Int): Seq[String] = {
    val docsNow = merged("docs", "doc_id", "text", last).localCheckpoint()
    // from-scratch recomputes over the merged corpus, for the probes of
    // the read round that followed the last delivery
    val recompute = Seq(
      "bm25" -> (() => Retrieval.bm25TopK(docsNow, queries("bm25", last), "doc_id", "text",
        "qid", "qtext", k).select("qid", "doc_id", "rank", "score")),
      "phrase" -> (() => Retrieval.phraseTopK(docsNow, queries("phrase", last), "doc_id", "text",
        "qid", "qtext", k).select("qid", "doc_id", "rank", "phrase_hits")),
      "lsh" -> (() => lshFromScratch(docsNow, queries("lsh", last))))
    val probeChecks = recompute.map { case (f, df) => () =>
      val want = canon(df().collect())
      results.toSeq.collect { case (d, `f`, got) if d == last && got != want =>
        s"$f probe after delivery $d: got ${got.take(5)}…, want ${want.take(5)}…"
      }
    }
    // IVF: the index's (vec_id, cluster) set equals a fresh assignment
    val ivfCheck = () => {
      val ivf = (df: DataFrame) => df.select(xxhash64(col("vec_id"), col("cluster").cast("long"))
        .cast("decimal(38,0)").as("h")).agg(count(lit(1)), sum("h")).head().toSeq
      val got = ivf(spark.read.parquet(ivfDir))
      val want = ivf(Similarity.ivfAssign(merged("emb", "vec_id", "embedding", last), cents,
        "vec_id", "embedding", "cid"))
      if (got == want) Nil else Seq(s"ivf index after $last deliveries: (rows, hash) $got, want $want")
    }
    Main.parallel(probeChecks :+ ivfCheck).flatten
  }

  def plainBytes(last: Int): Long =
    Main.parallel(Seq(("docs", "doc_id", "text"), ("emb", "vec_id", "embedding")).map {
      case (f, id, v) => () =>
        val dir = s"$work/plain/$f"
        merged(f, id, v, last).coalesce(1).write.mode("overwrite").parquet(dir)
        Main.listing(Seq(Paths.get(dir))).values.sum
    }).sum

  def health(): Map[String, Double] = {
    val hs = Seq(bm25, phrase, lsh).map(SegmentedIndex.health(spark, _))
    Map("io.mor.mask_rows" -> 0.0,
      "index.segments" -> hs.map(_.segments).sum.toDouble,
      "index.tombstone_fraction" -> hs.map(_.tombstoneFraction).sum / hs.size)
  }
}
