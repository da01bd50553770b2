package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{CorpusPipeline, Dedup, Packing, Sampling, TextAnalysis}

/** `web_ingest`: `CorpusPipeline.webIngest` over a seeded planted
  * crawl, counted through its output layout. String kernels and
  * shuffles do the work; `ml` and the vector store stay idle.
  */
final class WebIngest(spark: SparkSession, seed: Long, cpus: Int) extends Workload {
  import WebIngest._

  private var crawl: Gen.Crawl = _
  private var pages: DataFrame = _
  private var lastChunks = -1L

  def inputs: Map[String, Any] = Map("pages" -> Pages, "content_tokens" -> ContentTokens,
    "exact_dups" -> crawl.exactDups.size, "near_dups" -> crawl.nearDups.size,
    "hosts" -> Gen.Hosts, "max_per_host" -> MaxPerHost, "seq_len" -> SeqLen,
    "digest" -> crawl.digest)

  /** The set-up passes' `webIngest` calls take the JIT-cold passes. The
    * first timed turn is still the slowest, and the median of three takes
    * the second. A run's turns move together with the machine's speed, so
    * more turns do not make the median steadier across runs.
    */
  val warmupTurns = 0
  override val minTurns = 3

  def setup(pass: Int): Unit = {
    crawl = Gen.crawl(seed, Pages, ContentTokens)
    val rows = crawl.ids.indices.map(i => Row(crawl.ids(i), crawl.urls(i), crawl.htmls(i)))
    pages = spark.createDataFrame(spark.sparkContext.parallelize(rows, cpus), Schema)
      .localCheckpoint(true)
    // a small pass of the turn's own call, over the first pages
    CorpusPipeline.webIngest(pages.where(col("id") < SetupPages), "id", "html", "url",
      maxPerHost = MaxPerHost, seqLen = SeqLen, shuffleSalt = "setup").count()
  }

  def turn(t: Turn): Unit = {
    val (layout, chunks) = t.call("CorpusPipeline.webIngest") {
      val out = CorpusPipeline.webIngest(pages, "id", "html", "url",
        maxPerHost = MaxPerHost, seqLen = SeqLen, shuffleSalt = "epoch0")
      (out, out.count())
    }
    t.values("pages") = Pages
    t.values("chunks") = chunks
    lastChunks = chunks
    checkLayout(t, layout)
  }

  /** The planted outcome: exact and near copies gone, their originals
    * kept, each boilerplate line kept by at most one page, every chunk
    * within `SeqLen` tokens, no host above the cap.
    */
  private def checkLayout(t: Turn, layout: DataFrame): Unit = {
    val rows = layout.select("id", "chunk_text", "n_chunk_tokens", "url_host").collect()
    val ids = rows.map(_.getLong(0)).toSet
    val leakedExact = crawl.exactDups.keySet.intersect(ids)
    val leakedNear = crawl.nearDups.keySet.intersect(ids)
    val lostOriginals = (crawl.exactDups.values ++ crawl.nearDups.values).toSet.diff(ids)
    t.check(leakedExact.isEmpty, s"${leakedExact.size} exact duplicates kept, e.g. ${leakedExact.take(3)}")
    t.check(leakedNear.isEmpty, s"${leakedNear.size} near duplicates kept, e.g. ${leakedNear.take(3)}")
    t.check(lostOriginals.isEmpty, s"${lostOriginals.size} planted originals lost, e.g. ${lostOriginals.take(3)}")
    val words = rows.map(_.getString(1).split("\\s+").filter(_.nonEmpty))
    val tokens = words.map(_.length)
    t.check(rows.forall(_.getLong(2) <= SeqLen) && tokens.forall(_ <= SeqLen),
      s"a chunk exceeds $SeqLen tokens (max ${if (tokens.isEmpty) 0 else tokens.max})")
    val boilerDocs = crawl.boilerTokens.map(b =>
      b -> rows.indices.filter(i => words(i).contains(b)).map(rows(_).getLong(0)).distinct.length)
    t.check(boilerDocs.forall(_._2 <= 1),
      s"boilerplate lines survive in several pages: ${boilerDocs.filter(_._2 > 1)}")
    val perHost = rows.groupBy(_.getString(3)).view.mapValues(_.map(_.getLong(0)).distinct.length)
    t.check(perHost.values.forall(_ <= MaxPerHost), s"a host exceeds the cap of $MaxPerHost pages")
    t.values("docs_out") = ids.size
  }

  /** The stage functions `webIngest` composes, each landed in turn, so
    * each stage's time, task metrics and plan are read on their own.
    * The last stage must land as many chunks as `webIngest` did, so a
    * change to the pipeline's composition fails the traced run instead
    * of leaving the replay timing a stale copy.
    */
  def replay(tracer: Tracer, facts: mutable.Map[String, Double], failures: mutable.Buffer[String]): Unit = {
    val attrs = Seq("url_norm", "url_host", "lang_pred")
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "cleanedCrawlPrefix" -> (df => CorpusPipeline.cleanedCrawlPrefix(df, "id", None, "html", "url",
        Nil, None, false, false, false, false, false, false)),
      "lineDedup" -> (df => Dedup.lineDedupCarry(df, "id", "text", 5, attrs)
        .where(length(trim(col("clean_text"))) > 0)
        .select(col("id") +: col("clean_text").as("text") +: attrs.map(col): _*)),
      "cleanCorpus" -> (df => Dedup.cleanCorpus(df, "id", "text", 0.8, transitive = true)),
      "capPerStratum" -> (df => Sampling.capPerStratum(df, "url_host", "id", MaxPerHost)),
      "chunkTokens" -> (df => TextAnalysis.chunkTokensCarry(df, "id", "text", SeqLen, SeqLen, attrs)
        .withColumn("chunk_id", concat(col("id").cast("string"), lit("#"), col("chunk_idx")))),
      "shuffleAndPack" -> (df => df.join(
        Packing.shuffleAndPackUnordered(df, "chunk_id", "n_chunk_tokens", SeqLen, "epoch0")
          .select("chunk_id", "pos", "start_offset", "pack_first", "pack_last"),
        "chunk_id")),
    )
    var frame = pages
    var rowsIn = Pages.toLong
    stages.foreach { case (name, stage) =>
      val key = s"stage.$name"
      val landed = tracer.span(key)(stage(frame).localCheckpoint(true))
      val rowsOut = landed.count()
      facts(s"$key.rows_in") = rowsIn.toDouble
      facts(s"$key.rows_out") = rowsOut.toDouble
      if (name == "cleanCorpus") {
        // exact copies already lost every line to line dedup, so this
        // stage must drop exactly the planted near copies
        if (rowsIn - rowsOut != crawl.nearDups.size)
          failures += s"cleanCorpus dropped ${rowsIn - rowsOut} docs, planted ${crawl.nearDups.size} near copies"
      }
      frame = landed
      rowsIn = rowsOut
    }
    if (rowsIn != lastChunks)
      failures += s"replayed stages landed $rowsIn chunks, webIngest $lastChunks"
  }
}

object WebIngest {
  val Pages = 6000
  val ContentTokens = 100
  /** Binds on the hottest host only (~23% of pages; the next has ~11%). */
  val MaxPerHost: Int = Pages * 15 / 100
  val SeqLen = 64
  /** Pages in each set-up pass's small `webIngest`. */
  val SetupPages = 200

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("url", StringType), StructField("html", StringType)))
}
