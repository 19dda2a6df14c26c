package graft.perfbench

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.iforest.{IForest, IForestModel}

/** `http_paper`: the paper's train/predict experiment, like for like.
  *
  * The input is `graft.BaselineBench`'s http-shaped set (567,498 rows x 3
  * features, 0.4% far-out labelled anomalies), drawn from the seed
  * argument (seed 11 reproduces BaselineBench's set exactly) and cached
  * in set-up. One iteration times `IForest.fit` (numTrees=100,
  * maxSamples=256, maxDepth=10, contamination=0.004, fit seed = the seed
  * argument), including its summary/threshold pass, as `build_s`; then,
  * twice, `transform` plus a noop write, threshold reused, as `query_s`.
  * `lap_s` is the fit plus the first predict after it. The AUC is a
  * checked output, not a timed metric.
  */
final class HttpPaper(run: Run) {
  import HttpPaper._
  private val spark = run.spark
  private val seed = run.o.seed

  private def input(): DataFrame = {
    val base = spark.range(0, Rows, 1, 4)
      .withColumn("u", rand(seed))
      .withColumn("is_anomaly", (col("u") < 0.004).cast("int"))
      .withColumn("f0", randn(seed + 1) + col("is_anomaly") * lit(6.0))
      .withColumn("f1", randn(seed + 2) * (lit(1.0) + col("is_anomaly") * lit(3.0)))
      .withColumn("f2", randn(seed + 3) - col("is_anomaly") * lit(5.0))
    new VectorAssembler().setInputCols(Array("f0", "f1", "f2")).setOutputCol("features")
      .transform(base)
      .select("id", "features", "is_anomaly")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  private def estimator = new IForest()
    .setNumTrees(NumTrees).setMaxSamples(256).setMaxDepth(10)
    .setContamination(Contamination).setSeed(seed)

  private def predict(model: IForestModel, data: DataFrame): DataFrame =
    model.transform(data).select("id", "anomalyScore", "prediction")

  def apply(): Unit = {
    // set-up, repeated: the median of the repeats is the input's set-up cost
    var data: DataFrame = null
    val builds = (1 to 3).map { _ =>
      if (data != null) data.unpersist(blocking = true)
      Run.seconds { data = input(); data.count() }
    }
    run.setup("input_s", Run.median(builds))
    // two untimed iterations: the first timed one is otherwise still JIT-cold
    run.setup("warmup_s", Run.seconds((1 to 2).foreach(_ => Run.noop(predict(estimator.fit(data), data)))))

    var model: IForestModel = null
    val start = run.elapsed
    var passes = 0
    while (run.more(start, passes)) {
      val train = run.op("train") { model = estimator.fit(data) }
      train.foreach(run.sample("build_s", _))
      // predict is the shorter op: two samples per iteration; the lap is
      // the train plus the first predict after it
      if (model != null) for (i <- 1 to 2) {
        val predictSecs = run.op("predict") { Run.noop(predict(model, data)) }
        predictSecs.foreach(run.sample("query_s", _))
        if (i == 1) for (t <- train; p <- predictSecs) run.sample("lap_s", t + p)
      }
      passes += 1
    }
    run.extra("rows") = Rows
    run.extra("num_trees") = NumTrees
    if (model != null) verify(model, data)
    else run.check("model_fitted", ok = false, "every fit failed")
    data.unpersist(blocking = true)
  }

  /** Output checks on the last iteration's model: AUC against the labels,
    * predicted share, the threshold's rank, and a sample for the
    * independent re-scoring in `rescore.py`. */
  private def verify(model: IForestModel, data: DataFrame): Unit = {
    val spark = this.spark
    import spark.implicits._
    val scored = model.transform(data)
    val rows = scored.select($"anomalyScore", $"is_anomaly", $"prediction")
      .as[(Double, Int, Double)].collect()
    val n = rows.length
    run.check("row_count", n == Rows, s"$n scored rows, expected $Rows")

    val auc = HttpPaper.auc(rows.map(_._1), rows.map(_._2))
    run.extra("auc") = auc
    run.check("auc_floor", auc >= AucFloor, f"auc $auc%.5f, floor $AucFloor")

    // Threshold = the (1-c) quantile of the scores, within the estimator's
    // relative error eps: some rank in [below+1, atOrBelow] lies within
    // eps*n (+1 for the rank convention) of (1-c)*n.
    val t = model.getThreshold
    val eps = model.getApproxQuantileRelativeError
    val scores = rows.map(_._1)
    val below = scores.count(_ < t).toLong
    val atOrBelow = scores.count(_ <= t).toLong
    val target = (1 - Contamination) * n
    val slack = eps * n + 1
    val rankOk = atOrBelow >= below + 1 &&
      below + 1 <= target + slack && atOrBelow >= target - slack
    run.check("threshold_rank", rankOk,
      f"threshold $t%.12f has ranks ${below + 1}..$atOrBelow, target $target%.1f +- $slack%.1f")

    // Predicted share: rows above the threshold. It may fall short of c by
    // the rows tied at the threshold, and miss by eps and one row otherwise.
    val predicted = rows.count(_._3 == 1.0)
    val share = predicted.toDouble / n
    val ties = (atOrBelow - below).toDouble / n
    val tol = eps + 1.0 / n
    val shareOk = predicted == n - atOrBelow &&
      share <= Contamination + tol && share >= Contamination - ties - tol
    run.check("predicted_share", shareOk,
      f"share $share%.6f vs contamination $Contamination (ties at threshold $ties%.6f, eps $eps)")

    // Independent re-scoring: the saved NodeData model and >= 1,000 rows
    // (every 500th row plus every labelled anomaly) with the program's scores.
    val modelPath = s"${run.o.work}/model"
    model.write.overwrite().save(modelPath)
    val samplePath = s"${run.o.work}/rescore_sample"
    scored.where(col("id") % 500 === 0 || col("is_anomaly") === 1)
      .select(col("id"), vector_to_array(col("features")).as("features"), col("anomalyScore"))
      .coalesce(1).write.mode("overwrite").parquet(samplePath)
    run.extra("rescore") = Map("model" -> modelPath, "sample" -> samplePath,
      "max_samples" -> 256, "tolerance" -> 1e-12)

    run.o.scoresOut.foreach { dir =>
      scored.select("id", "anomalyScore").write.mode("overwrite").parquet(dir)
    }
  }
}

object HttpPaper {
  val Rows = 567498L
  val NumTrees = 100
  val Contamination = 0.004
  /** Set from measured runs: 30 seeds gave AUC 0.99998-0.9999999 at
    * local[4] (the far-out tail is easy to isolate); the floor sits well
    * below that spread, not at it. */
  val AucFloor = 0.999

  /** Exact ROC AUC (Mann-Whitney U, tied scores share their mean rank). */
  def auc(scores: Array[Double], labels: Array[Int]): Double = {
    val idx = scores.indices.sortBy(i => scores(i)).toArray
    var rankSumPos = 0.0
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && scores(idx(j + 1)) == scores(idx(i))) j += 1
      val meanRank = (i + j) / 2.0 + 1
      var k = i
      while (k <= j) { if (labels(idx(k)) == 1) rankSumPos += meanRank; k += 1 }
      i = j + 1
    }
    val pos = labels.count(_ == 1).toDouble
    val neg = labels.length - pos
    (rankSumPos - pos * (pos + 1) / 2) / (pos * neg)
  }
}
