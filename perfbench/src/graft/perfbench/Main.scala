package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One closed-loop turn: the wall time of each timed call into the
  * program, the counts the metrics divide by, and the failures of the
  * checks run on the turn's outputs after the calls (never timed).
  */
final class Turn(tracer: Tracer) {
  val calls: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer.empty
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0

  def call[T](name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    calls += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
}

/** A benchmark workload. `setup` builds the inputs from the seed and
  * the state the turns start from, and makes a small pass of the
  * workload's own program calls; `warmupTurns` untimed turns then take
  * the JIT-cold first passes; at least `minTurns` timed turns follow.
  * `turn` makes the timed calls of one closed-loop turn and then checks
  * their outputs; `replay` (traced runs only) calls single layers
  * directly under spans and records the counts their metrics divide by
  * in `facts`.
  */
trait Workload {
  def setup(pass: Int): Unit
  def warmupTurns: Int
  def minTurns: Int = 3
  def turn(t: Turn): Unit
  def replay(tracer: Tracer, facts: mutable.Map[String, Double], failures: mutable.Buffer[String]): Unit
  def inputs: Map[String, Any]
}

/** Fixed work that touches no program code: a pure-JVM loop and a
  * `spark.range` job. It reads the machine's speed at the start and end
  * of every run so a regime change shows beside the metrics; nothing
  * is rescaled by it.
  */
object Control {
  @volatile private var sink = 0L

  def calib(spark: SparkSession, cpus: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    sink = acc
    val t1 = System.nanoTime()
    sink += spark.range(0L, 5000000L, 1L, cpus).selectExpr("sum((id * 7) % 13)").head().getLong(0)
    val t2 = System.nanoTime()
    Map("jvm_s" -> (t1 - t0) / 1e9, "spark_s" -> (t2 - t1) / 1e9, "calib_s" -> (t2 - t0) / 1e9)
  }
}

/** Local directory trees of a run's stores. */
object Dirs {
  import java.nio.file.{Files, Path}
  import scala.jdk.CollectionConverters._

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  def files(p: Path): Seq[Path] = walk(p).filter(Files.isRegularFile(_))

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def copy(src: Path, dst: Path): Unit = walk(src).foreach { f =>
    val to = dst.resolve(src.relativize(f).toString)
    if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
  }

  def delete(p: Path): Unit = walk(p).reverse.foreach(Files.delete)
}

/** Runs one workload in one process and writes the raw record (every
  * turn's call times, the spans, the listener's per-span task metrics
  * and the check failures) to `--out`; `perfbench/run.py` derives the
  * metrics from it.
  *
  * Arguments: `--workload --seed --seconds --trace 0|1 --cpus --root
  * --out`. `--root` is the run's private directory: the warehouse,
  * Spark local dirs and every store live under it.
  */
object Main {
  /** Set-up passes: at least 3, more while they add up to under 3 s,
    * at most 9, so a cheap set-up is still read as a steady median.
    */
  val SetupPasses = (3, 3.0, 9)
  /** A turn loop stops early after this many consecutive failed turns. */
  val MaxFailedInRow = 2
  /** Hard ceiling on the timed loop, far above any `--seconds` used. */
  val LoopCapSeconds = 100.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val root = opts("root")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    val listener = if (trace) Some(new GroupListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = new Tracer(sc, s"$workload-s$seed-t${if (trace) 1 else 0}")

    val wl: Workload = workload match {
      case "ml_sql" => new MlSql(spark, seed, root)
      case "web_ingest" => new WebIngest(spark, seed, cpus)
      case "vector_store" => new VectorStoreTurns(spark, seed, root)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val (minPasses, passSeconds, maxPasses) = SetupPasses
    val setups = mutable.ArrayBuffer.empty[Double]
    while (setups.size < minPasses || (setups.sum < passSeconds && setups.size < maxPasses)) {
      val s0 = System.nanoTime()
      wl.setup(setups.size)
      setups += (System.nanoTime() - s0) / 1e9
    }
    // untimed warm-up turns, a fixed count per workload so every run
    // starts timing equally warm; their outputs are checked like any
    // other turn's
    val w0 = System.nanoTime()
    var warmFailed = false
    var w = 0
    while (!warmFailed && w < wl.warmupTurns) {
      val warm = new Turn(tracer)
      try wl.turn(warm)
      catch { case NonFatal(e) => warm.failures += s"${e.getClass.getName}: ${e.getMessage}" }
      attempted += warm.attempted
      warm.failures.foreach(f => failures += s"warm-up turn $w: $f")
      failed += math.min(math.max(1, warm.attempted), warm.failures.size)
      warmFailed = warm.failures.nonEmpty
      w += 1
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    // read after set-up, so both readings see a warm JVM and session
    val calibStart = Control.calib(spark, cpus)

    // the timed loop: one client, each call waits for the one before it
    JvmStats.reset()
    val turns = mutable.ArrayBuffer.empty[Map[String, Any]]
    var timed = 0.0
    var failedInRow = 0
    var i = 0
    val loop0 = System.nanoTime()
    // traced runs take two traced and two untraced turns after the first
    val minTurns = if (trace) math.max(5, wl.minTurns) else wl.minTurns
    while ((timed < seconds || i < minTurns) && failedInRow < MaxFailedInRow &&
        (System.nanoTime() - loop0) / 1e9 < LoopCapSeconds) {
      // traced runs mix traced and untraced turns, so the tracing overhead
      // is read inside one process and one machine regime. The first turn
      // (the JIT-cold one where a workload has no warm-up) is untraced and
      // left out of the comparison; the rest run traced, untraced,
      // untraced, traced, so a trend over the run's turns cancels.
      val traced = trace && i > 0 && i % 4 < 2
      tracer.on = traced
      val turn = new Turn(tracer)
      val error =
        try { tracer.span("turn")(wl.turn(turn)); None }
        catch { case NonFatal(e) => Some(e) }
      tracer.on = false
      attempted += turn.attempted
      error.foreach { e => failures += s"turn $i: ${e.getClass.getName}: ${e.getMessage}" }
      turn.failures.foreach(f => failures += s"turn $i: check failed: $f")
      val turnFailed = math.min(turn.attempted,
        turn.failures.size + (if (error.isDefined) 1 else 0))
      failed += turnFailed
      timed += turn.calls.map(_._2).sum
      if (turnFailed == 0) {
        failedInRow = 0
        turns += Map("index" -> i, "traced" -> traced,
          "calls" -> turn.calls.toSeq, "values" -> turn.values.toMap)
      } else failedInRow += 1
      i += 1
    }
    val jvm = Map("gc_s" -> JvmStats.gcSeconds, "heap_peak_mb" -> JvmStats.heapPeakMb,
      "loop_s" -> (System.nanoTime() - loop0) / 1e9)

    val facts = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      val before = failures.size
      tracer.on = true
      try tracer.span("replay")(wl.replay(tracer, facts, failures))
      catch { case NonFatal(e) => failures += s"replay: ${e.getClass.getName}: ${e.getMessage}" }
      tracer.on = false
      failed += failures.size - before
    }
    val calibEnd = Control.calib(spark, cpus)
    val groups = listener.map { l =>
      org.apache.spark.PerfbenchBus.drain(sc)
      l.totals.map { case (g, t) => g -> t.toMap }.toMap
    }.getOrElse(Map.empty)
    val exchanges = listener.map(_.exchangesByGroup).getOrElse(Map.empty)

    // leave no catalog registration behind
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "seconds" -> seconds, "session_s" -> sessionS, "setup_s" -> setups.toSeq, "warmup_s" -> warmupS,
      "run_s" -> (System.nanoTime() - t0) / 1e9,
      "calib" -> Map("start" -> calibStart, "end" -> calibEnd),
      "inputs" -> wl.inputs, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(50).toSeq, "turns" -> turns.toSeq, "jvm" -> jvm,
      "facts" -> facts.toMap,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq,
      "groups" -> groups.map { case (g, m) => g -> (m ++ Map("exchanges" -> exchanges.getOrElse(g, 0))) })
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), json)
    spark.stop()
  }
}
