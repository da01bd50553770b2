package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{Similarity, VectorStore}
import graft.streaming.StreamingVectorStore

/** `vector_store`: the daily-ingest store lifecycle, writes beside
  * reads. Set-up trains IVF-PQ and writes a seed epoch 0. A cycle
  * copies the seed epoch and runs `TurnsPerCycle` turns; each turn
  * lands an increment (planted near copies of standing vectors plus
  * fresh ones) through `vectorIncrementSink`, folds it with one
  * `compactVectorStore` turn, prunes old epochs and serves query
  * batches from the grown store. The store grows every turn of a
  * cycle, so a cost that follows the standing corpus rather than the
  * increment shows; every cycle replays the same increments, so runs
  * of different lengths see the same mix.
  */
final class VectorStoreTurns(spark: SparkSession, seed: Long, root: String) extends Workload {
  import VectorStoreTurns._

  private val emb = new Gen.Embeddings(seed, Dim, Clusters)
  private var standing: Gen.Vectors = _
  private var seedPath = ""
  private var cycle = -1
  private var turnInCycle = 0
  private var epochRoot = ""
  private var incDir = ""
  private var base = ""
  private var epoch = 0
  private var live = 0L

  def inputs: Map[String, Any] = Map("standing" -> Standing, "dim" -> Dim, "clusters" -> Clusters,
    "increment_near_copies" -> IncNear, "increment_fresh" -> IncFresh,
    "turns_per_cycle" -> TurnsPerCycle, "query_batches" -> QueryBatches,
    "batch_queries" -> BatchQueries, "k" -> K, "digest" -> standing.digest)

  private def frame(v: Gen.Vectors): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(v.ids.indices.map(i => Row(v.ids(i), v.vecs(i).toSeq)), 4),
      Schema)

  /** Turn times fall for several turns. Of three timed turns the first,
    * JIT-cold, is the slowest, and the median takes the second. A run's
    * turns move together with the machine's speed, so more turns do not
    * make the median steadier across runs. Three turns are one cycle.
    */
  val warmupTurns = 0
  override val minTurns = 3

  def setup(pass: Int): Unit = {
    standing = emb.members(tag = 10, firstId = 0L, n = Standing)
    val df = frame(standing).localCheckpoint(true)
    val (ivf, pq) = Similarity.trainIvfPq(df, "vec", nlist = Nlist, m = PqM, ksub = PqK)
    seedPath = s"$root/vector_store/seed$pass"
    VectorStore.write(df, "id", "vec", seedPath, s"pb_seed$pass", ivf, pq, numBuckets = Buckets)
    spark.sql(s"DROP TABLE IF EXISTS pb_seed${pass}_coded")
    spark.sql(s"DROP TABLE IF EXISTS pb_seed${pass}_vecs")
  }

  /** A fresh copy of the seed epoch under a cycle-unique name. */
  private def startCycle(): Unit = {
    cycle += 1
    val dir = s"$root/vector_store/c$cycle"
    epochRoot = s"$dir/epochs"
    incDir = s"$dir/inc"
    base = s"pb_c$cycle"
    Dirs.copy(Paths.get(seedPath), Paths.get(s"$epochRoot/epoch0"))
    VectorStore.read(spark, s"$epochRoot/epoch0", s"${base}_e0")
    epoch = 0
    live = Standing
  }

  private def endCycle(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${base}_e${epoch}_coded")
    spark.sql(s"DROP TABLE IF EXISTS ${base}_e${epoch}_vecs")
    Dirs.delete(Paths.get(s"$root/vector_store/c$cycle"))
    turnInCycle = 0
  }

  /** Turn `j` of a cycle's increment: planted near copies, fresh vectors. */
  private def increment(j: Int): (Gen.Vectors, Gen.Vectors) = {
    val first = Standing + j * (IncNear + IncFresh).toLong
    (emb.nearCopies(tag = 100 + j, standing, first, IncNear),
      emb.members(tag = 200 + j, first + IncNear, IncFresh))
  }

  def turn(t: Turn): Unit = {
    if (turnInCycle == 0) startCycle()
    val j = turnInCycle
    val (near, fresh) = increment(j)
    val inc = Gen.Vectors(near.ids ++ fresh.ids, near.vecs ++ fresh.vecs)
    val incFrame = frame(inc)
    val srcParts = partNames(Paths.get(s"$epochRoot/epoch$epoch"))
    val sink = StreamingVectorStore.vectorIncrementSink(incDir, "id", "vec")
    t.call("StreamingVectorStore.sink")(sink(incFrame, j.toLong))
    val incBytes = Dirs.bytes(Paths.get(incDir))
    val written0 = localBytesWritten()
    val (store, victims) = t.call("StreamingVectorStore.compact") {
      val (s, v) = StreamingVectorStore.compactVectorStore(spark, epochRoot, base, epoch, incDir,
        threshold = Threshold)
      (s, v.collect())
    }
    val written = localBytesWritten() - written0
    epoch += 1
    // the new epoch's part files (and checksums) that `merge` encoded
    // from the increment, as opposed to those copied from the standing epoch
    val encodedBytes = partFiles(Paths.get(s"$epochRoot/epoch$epoch"))
      .filterNot { case (name, _) => srcParts(name) }
      .map { case (_, f) => Files.size(f) }.sum
    t.call("VectorStore.pruneEpochs") {
      VectorStore.pruneEpochs(spark, epochRoot, base, keepLatest = 1, upTo = epoch)
    }
    val answers = (0 until QueryBatches).map { b =>
      val q = emb.members(tag = 1000 + 16 * j + b, firstId = 0L, n = BatchQueries)
      val queries = Gen.Vectors(q.ids.map(i => -1L - i), q.vecs)
      val hits = t.call("Similarity.query") {
        Similarity.ivfPqTopKFromStore(store, frame(queries), "id", "vec", K).collect()
      }
      (queries, hits)
    }

    // checks: the planted near copies fold away, fresh vectors land,
    // the store grows by exactly the survivors, answers are complete
    val victimIds = victims.map(_.getLong(0)).toSet
    val missed = near.ids.filterNot(victimIds)
    t.check(missed.length <= near.size * (1.0 - NearFoldRate),
      s"${missed.length} of ${near.size} planted near copies missing from the victim ledger")
    val wrongVictims = fresh.ids.filter(victimIds)
    t.check(wrongVictims.isEmpty, s"${wrongVictims.length} fresh vectors folded as duplicates")
    val counts = store.vecs
      .agg(count(lit(1)), count_if(col("id").isin(fresh.ids.toSeq: _*)))
      .head()
    val (rows, freshKept) = (counts.getLong(0), counts.getLong(1))
    t.check(freshKept == fresh.size, s"$freshKept of ${fresh.size} fresh vectors in the store")
    val expected = live + inc.size - victimIds.size
    t.check(rows == expected, s"store holds $rows vectors, expected $expected")
    live = rows
    answers.foreach { case (q, hits) =>
      t.check(hits.length == q.size * K, s"query batch returned ${hits.length} hits, expected ${q.size * K}")
    }
    val liveBytes = Dirs.bytes(Paths.get(s"$epochRoot/epoch$epoch"))
    t.values("increment_vectors") = inc.size
    t.values("live_vectors") = rows.toDouble
    t.values("live_bytes") = liveBytes.toDouble
    t.values("increment_bytes") = incBytes.toDouble
    t.values("fold_written_bytes") = written.toDouble
    t.values("fold_encoded_bytes") = encodedBytes.toDouble

    if (j == TurnsPerCycle - 1) {
      val (q, hits) = answers.head
      val recall = recallAt(K, hits, Similarity.bruteForceTopK(store.vecs, frame(q), "id", "vec", K)
        .collect())
      t.values("recall_at_k") = recall
      t.check(recall >= RecallBound, f"recall@$K $recall%.3f below $RecallBound")
      endCycle()
    } else turnInCycle += 1
  }

  /** The fold's two halves called one at a time, as `ingestDedup`
    * composes them: the store-served dedup search, then `merge`.
    */
  def replay(tracer: Tracer, facts: mutable.Map[String, Double], failures: mutable.Buffer[String]): Unit = {
    startCycle()
    val (near, fresh) = increment(0)
    val inc = frame(Gen.Vectors(near.ids ++ fresh.ids, near.vecs ++ fresh.vecs)).localCheckpoint(true)
    val src = VectorStore.read(spark, s"$epochRoot/epoch0", s"${base}_e0")
    val victims = tracer.span("Similarity.dedup_search") {
      Similarity.ivfPqTopKFromStore(src, inc, "id", "vec", 4, 4, 4)
        .where(col("rank") === 1 && col("cosine") >= Threshold)
        .select(col("query_id").as("id"))
        .localCheckpoint(true)
    }
    val merged = tracer.span("VectorStore.merge") {
      VectorStore.merge(spark, s"$epochRoot/epoch0", s"${base}_e0",
        inc.join(victims, Seq("id"), "left_anti"), "id", "vec", s"$epochRoot/epoch1", s"${base}_e1")
    }
    val rows = merged.vecs.count()
    if (rows != Standing + near.size + fresh.size - victims.count())
      failures += s"replayed fold holds $rows vectors"
    spark.sql(s"DROP TABLE IF EXISTS ${base}_e0_coded")
    spark.sql(s"DROP TABLE IF EXISTS ${base}_e0_vecs")
    epoch = 1
    endCycle()
  }
}

object VectorStoreTurns {
  val Standing = 4000
  val Dim = 64
  val Clusters = 16
  val IncNear = 500
  val IncFresh = 500
  val TurnsPerCycle = 3
  val QueryBatches = 1
  val BatchQueries = 64
  val K = 10
  val Nlist = 16
  val PqM = 16
  val PqK = 256
  val Buckets = 8
  val Threshold = 0.92
  /** Share of planted near copies the ANN dedup search must fold. */
  val NearFoldRate = 0.98
  /** recall@K of the store-served IVF-PQ search against brute force. */
  val RecallBound = 0.7

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(FloatType, containsNull = false))))

  def recallAt(k: Int, approx: Array[Row], exact: Array[Row]): Double = {
    def byQuery(rows: Array[Row]) = rows.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val a = byQuery(approx)
    val e = byQuery(exact)
    val hits = e.map { case (q, ns) => ns.intersect(a.getOrElse(q, Set.empty)).size }.sum
    hits.toDouble / e.values.map(_.size).sum
  }

  /** The bucketed part files of an epoch's coded and vecs tables with
    * their checksum files, each keyed by the part file's name.
    */
  def partFiles(epoch: Path): Seq[(String, Path)] =
    Seq("coded", "vecs").flatMap(sub => Dirs.files(epoch.resolve(sub))).flatMap { f =>
      val part = f.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
      if (part.startsWith("part-")) Some(part -> f) else None
    }

  def partNames(epoch: Path): Set[String] = partFiles(epoch).map(_._1).toSet

  /** Bytes written so far through Hadoop's local file system, by every
    * thread of the process: Spark's table writes and `FileUtil.copy`.
    */
  def localBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}
