package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.queries.Caches

/** `grid_ops`: the grid's sf0.1 ops on the fixed, read-only testdata. The
  * seed argument does not change these inputs.
  *
  * Each pass of the closed loop runs one flagship lap
  * (`SparkEntry.queries("iforest_score")`, noop write, `Caches.releaseAll`)
  * timed as `lap_s`; then the write ops in a fixed order (each starts from
  * its own reset); then [[ReadPasses]] passes of the steady-state read ops
  * on stores opened in set-up. `build_s` (write ops) and `query_s` (read
  * ops) are the mean seconds per op of one pass. The lap and the stores
  * share one JVM only to fit the run budget; each has its own metrics.
  */
final class GridOps(run: Run) {
  import GridOps._
  private val spark = run.spark
  private val sf = run.o.sf
  private val dumpDir = s"${run.o.work}/oracle_out"

  private var lineitemRows = 0L
  private var firstLap: Option[Row] = None
  private val annOutputs = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
  private val readWrites = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

  def apply(): Unit = {
    // the warm-up lap goes last, so the timed lap has the same lead-in
    run.setup("store_open_s", Run.seconds(Reads.foreach(storeOp(_, timed = false, dump = false))))
    run.setup("lineitem_count_s", Run.seconds {
      lineitemRows = spark.read.parquet(s"$sf/lineitem.parquet").count()
    })
    run.setup("warmup_lap_s", Run.seconds(lapOnce(timed = false)))

    val start = run.elapsed
    var passes = 0
    while (run.more(start, passes)) {
      lapOnce(timed = true)
      passMean(Writes.flatMap(storeOp(_, timed = true, dump = true))).foreach(run.sample("build_s", _))
      for (p <- 1 to ReadPasses)
        passMean(Reads.flatMap(storeOp(_, timed = true, dump = p == ReadPasses)))
          .foreach(run.sample("query_s", _))
      passes += 1
    }
    run.extra("lineitem_rows") = lineitemRows
    storeChecks()
  }

  private def passMean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.length)

  /** One flagship lap; untimed, it is the set-up's warm-up lap. The
    * untimed digest after it checks the row count, the predicted share and
    * that every lap of the run, warm-up included, scores alike (it also
    * gives every timed lap the same lead-in as the one before it). */
  private def lapOnce(timed: Boolean): Unit = {
    var df: DataFrame = null
    def body(): Unit = {
      run.tracer.span("lap.build") { df = SparkEntry.queries("iforest_score")(spark, sf) }
      run.tracer.span("lap.write") { Run.noop(df) }
    }
    try {
      val ok = if (timed) run.op("lap")(body()).map(run.sample("lap_s", _)).isDefined
        else { body(); true }
      if (ok) {
        if (run.o.trace && timed)
          run.layerSample("cache.mb", spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0)
        lapChecks(df)
      }
    } finally Caches.releaseAll()
  }

  private def lapChecks(df: DataFrame): Unit = {
    val d = df.agg(
      count(lit(1)), sum(col("prediction")),
      bit_xor(xxhash64(col("l_orderkey"), col("l_linenumber"), col("anomalyScore"))),
      max(when(col("prediction") === 0.0, col("anomalyScore")))).head()
    firstLap match {
      case None => firstLap = Some(d)
      case Some(f) =>
        run.check("lap_scores_identical", f == d, s"first lap $f, this lap $d")
    }
    val n = d.getLong(0)
    run.check("lap_row_count", n == lineitemRows, s"$n scored rows, lineitem has $lineitemRows")
    // rows tied at the threshold (the highest non-anomalous score) all
    // fall below it, so the share can fall short of 0.05 by their mass
    val share = d.getDouble(1) / n
    val exact = math.abs(share - LapContamination) <= 1.0 / n
    val ties = if (exact) 0.0
      else df.where(col("anomalyScore") === d.getDouble(3)).count().toDouble / n
    run.check("lap_predicted_share",
      exact || (share < LapContamination && share >= LapContamination - ties - 1.0 / n),
      f"share $share%.6f vs 0.05 (ties at threshold $ties%.6f)")
  }

  /** One store op: build the query's frame and run a noop write. The
    * output is dumped (untimed) for the oracle check; every output of the
    * ANN read is kept for the pass-to-pass identity check. */
  private def storeOp(q: String, timed: Boolean, dump: Boolean): Option[Double] = {
    var df: DataFrame = null
    try {
      val secs =
        if (timed) run.op(s"store.$q") { df = SparkEntry.queries(q)(spark, sf); Run.noop(df) }
        else { df = SparkEntry.queries(q)(spark, sf); Some(Run.seconds(Run.noop(df))) }
      if (secs.isDefined) {
        if (timed && Reads.contains(q)) {
          val sp = run.tracer.spans.last
          val (b, w) = readWrites.getOrElse(q, (0L, 0L))
          readWrites(q) = (b + sp.fsBytesWritten, w + sp.fsWriteOps)
        }
        if (dump) df.write.mode("overwrite").parquet(s"$dumpDir/$q")
        if (q == AnnRead) annOutputs += df.collect().toSeq.sortBy(_.toString)
      }
      secs
    } finally Caches.releaseAll()
  }

  private def storeChecks(): Unit = {
    val oracles = (Writes ++ Reads).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dumpDir))
    Main.writeJson(s"$dumpDir/oracle_sql.json", oracles)
    run.extra("oracle") = Map("dir" -> dumpDir, "queries" -> oracles.keys.toSeq.sorted,
      "rows_only" -> (Writes ++ Reads).filterNot(oracles.contains))
    val n = annOutputs.map(_.length)
    run.check("ann_rows_stable", n.nonEmpty && n.head > 0 && annOutputs.forall(_ == annOutputs.head),
      s"row counts per pass ${n.mkString(", ")}; outputs identical: ${annOutputs.forall(_ == annOutputs.head)}")
    run.check("read_ops_write_nothing", readWrites.values.forall(_._1 == 0),
      "FS bytes / write ops per read query, steady state: " +
        readWrites.map { case (q, (b, w)) => s"$q $b / $w" }.mkString(", "))
  }
}

object GridOps {
  val Writes = Seq("q165_tx_vacuum", "q206_tx_table_optimize")
  val Reads = Seq("q181_bm25_store", "q148_stats_asof", "q59_ann_ivf_persisted")
  val AnnRead = "q59_ann_ivf_persisted"
  val ReadPasses = 3
  val LapContamination = 0.05
}
