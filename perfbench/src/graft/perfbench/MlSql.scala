package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.MlFunctions
import graft.ml.{Mlp, ModelRegistry, TrainConfig}

/** `ml_sql`: the paper's SQL surface at lineitem scale. Each turn runs
  * `ml_create` → `ml_train_cfg` (30% train split, the 8→64→32→1 relu
  * net, Adam) → `MlFunctions.publish` → `sum(ml_pred(...))` over the
  * whole relation → `ml_models`, each a SQL statement or public call.
  */
final class MlSql(spark: SparkSession, seed: Long, root: String) extends Workload {
  import MlSql._

  private var data: Gen.Lineitem = _
  private var dir = ""
  private var targetVar = 0.0

  def inputs: Map[String, Any] = Map("rows" -> Rows, "train_rows" -> TrainRows, "epochs" -> Epochs,
    "batch_size" -> BatchSize, "digest" -> data.digest)

  /** A turn is short and its time still falls over the first several;
    * four warm-up turns together cost about one of the others' turns.
    */
  val warmupTurns = 4
  /** Its time is mostly one single-threaded `Mlp.fit` in the final
    * aggregate, which a shared host runs fast or slow for stretches of
    * seconds; a median over fourteen turns spans several of them.
    */
  override val minTurns = 14

  def setup(pass: Int): Unit = {
    data = Gen.lineitem(seed, Rows)
    dir = s"$root/ml_sql/p$pass"
    spark.createDataFrame(spark.sparkContext.parallelize(lineitemRows(data), 4), Schema)
      .write.parquet(s"$dir/lineitem.parquet")
    graft.sources.Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    if (pass == 0) MlFunctions.registerAll(spark)
    val ys = (0 until Rows).map(i => data.target(i).toDouble)
    val mean = ys.sum / Rows
    targetVar = ys.map(y => (y - mean) * (y - mean)).sum / Rows
    // a small pass of the turn's own calls: a one-epoch train, then scoring
    val created = spark.sql(s"SELECT ml_create('$Model', '$Spec')").head().getString(0)
    val trained = spark.sql(s"SELECT ml_train_cfg('$Model', $Features, $Target, '$SetupConfig') FROM lineitem")
      .head().getString(0)
    require(created == "Ok" && trained == "Ok", s"set-up train: ml_create $created, ml_train_cfg $trained")
    MlFunctions.publish(spark)
    spark.sql(s"SELECT sum(ml_pred('$Model', $Features)[0]) FROM lineitem").head()
  }

  def turn(t: Turn): Unit = {
    val created = t.call("MlFunctions.create") {
      spark.sql(s"SELECT ml_create('$Model', '$Spec')").head().getString(0)
    }
    val trained = t.call("MlFunctions.train") {
      spark.sql(s"SELECT ml_train_cfg('$Model', $Features, $Target, '$Config') FROM lineitem")
        .head().getString(0)
    }
    t.call("MlFunctions.publish")(MlFunctions.publish(spark))
    val predSum = t.call("MlFunctions.pred") {
      spark.sql(s"SELECT sum(ml_pred('$Model', $Features)[0]) FROM lineitem").head().getDouble(0)
    }
    val models = t.call("MlFunctions.models")(spark.sql("SELECT model FROM ml_models").collect())
    t.values("train_rows") = TrainRows
    t.values("epochs") = Epochs
    t.values("pred_rows") = Rows

    t.check(created == "Ok", s"ml_create returned $created")
    t.check(trained == "Ok", s"ml_train_cfg returned $trained")
    t.check(!predSum.isNaN && !predSum.isInfinite, s"sum(ml_pred) is $predSum")
    t.check(models.exists(_.getString(0) == Model), "trained model missing from ml_models")
    val q = spark.sql(
      s"""SELECT count(*) AS n, count(p) AS scored,
         |  count_if(isnan(p) OR abs(p) > 1e30) AS bad, avg((p - y) * (p - y)) AS mse
         |FROM (SELECT ml_pred('$Model', $Features)[0] AS p, $TargetScalar AS y FROM lineitem)""".stripMargin)
      .head()
    t.check(q.getLong(0) == Rows && q.getLong(1) == Rows,
      s"ml_pred scored ${q.getLong(1)} of ${q.getLong(0)} rows, expected $Rows")
    t.check(q.getLong(2) == 0, s"${q.getLong(2)} predictions are not finite")
    val mse = q.getDouble(3)
    t.check(mse * MseFactor < targetVar,
      f"MSE $mse%.5f does not beat the mean predictor's $targetVar%.5f by ${MseFactor}x")
    t.values("mse_ratio") = mse / targetVar
  }

  def replay(tracer: Tracer, facts: mutable.Map[String, Double], failures: mutable.Buffer[String]): Unit = {
    tracer.span("sources.scan") {
      graft.sources.Tables.load(spark, dir, "lineitem").write.format("noop").mode("overwrite").save()
    }
    // the relation's data files: Spark's task input metric misses the
    // parquet reader's vectored reads and counts little beyond footers
    facts("sources.bytes_read") = Dirs.files(java.nio.file.Paths.get(s"$dir/lineitem.parquet"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size).sum.toDouble

    // the kernels alone, called directly outside Spark, on the same rows and config
    val feats = Array.tabulate(Rows)(data.features)
    val tgts = Array.tabulate(Rows)(i => Array(data.target(i)))
    val mlp = Mlp.fromSpec("perfbench_direct", Spec)
    tracer.span("ml.fit")(mlp.fit(feats, tgts, TrainConfig.parse(Config), trainFraction = 0.3))
    val macs = mlp.spec.layers.map(l => l.in.toDouble * l.out).sum
    // forward + backward ≈ 3 forward passes of 2 flops per MAC on the
    // train split, plus the per-epoch train/test MSE forward passes
    facts("ml.fit_flops") = Epochs * (6.0 * macs * TrainRows + 2.0 * macs * Rows)
    var acc = 0.0
    tracer.span("ml.predict_1t") { feats.foreach(f => acc += mlp.predict(f)(0)) }
    if (acc.isNaN || acc.isInfinite) failures += s"direct Mlp.predict sum is $acc"

    val trained = ModelRegistry.get(Model).getOrElse(throw new IllegalStateException("model gone"))
    val viaCodegen = tracer.span("graftext.mlp_predict") {
      spark.table("lineitem")
        .select(sum(element_at(org.apache.spark.sql.graftext.MlpPredict
          .column(expr(Features), trained), 1)))
        .head().getDouble(0)
    }
    if (viaCodegen.isNaN || viaCodegen.isInfinite) failures += s"MlpPredict sum is $viaCodegen"
  }
}

object MlSql {
  val Rows = 40000
  val TrainRows: Int = (0.3 * Rows).toInt
  val Epochs = 3
  val BatchSize = 64
  /** MSE over the relation (70% of it the held-out split) must be below
    * the mean predictor's by this factor.
    */
  val MseFactor = 4.0
  val Model = "perfbench_mlp"
  val Spec =
    """{"layers":[{"in":8,"out":64,"activation":"relu"},{"in":64,"out":32,"activation":"relu"},{"in":32,"out":1}]}"""
  val Config = s"""{"epochs":$Epochs,"batch_size":$BatchSize,"seed":42}"""
  /** The set-up pass trains one epoch. */
  val SetupConfig = s"""{"epochs":1,"batch_size":$BatchSize,"seed":42}"""
  val Features: String =
    """CAST(array(l_quantity / 50.0, l_partprice / 2100.0, l_discount * 10.0, l_tax * 12.5,
      |  l_linenumber / 7.0, l_shipdays / 2500.0, (l_commitlag + 30) / 60.0, l_flag / 2.0)
      |  AS ARRAY<FLOAT>)""".stripMargin.replace('\n', ' ')
  val TargetScalar = "CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) / 100000.0 AS FLOAT)"
  val Target = s"array($TargetScalar)"

  val Schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_partprice", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_shipdays", IntegerType),
    StructField("l_commitlag", IntegerType), StructField("l_flag", IntegerType)))

  def lineitemRows(d: Gen.Lineitem): Seq[Row] = (0 until d.rows).map { i =>
    Row(d.orderkey(i), d.linenumber(i), d.quantity(i), d.partprice(i), d.extendedprice(i),
      d.discount(i), d.tax(i), d.shipdays(i), d.commitlag(i), d.flag(i))
  }
}
