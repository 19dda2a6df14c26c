package graft.perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, attributed to the enclosing
  * benchmark span. Inside a span, Spark jobs are matched to a layer by
  * call site (method and file, without the line number). Each figure is
  * computed per span instance (per op, or per pass of ops for the
  * stores) and reported as the median over the run. A layer that does not
  * run in a workload (respread, scan, cache and the stores in http_paper)
  * reports 0; those figures go to the result file only. */
object Layers {

  val Writes: Seq[String] = GridOps.Writes
  val Reads: Seq[String] = GridOps.Reads
  /** Per-op figures of the build and query ops (both workloads). */
  val OpFigures = Seq("jobs", "stages", "tasks", "driver_gap_s", "task_cpu_s",
    "fs_read_ops", "fs_write_ops", "fs_bytes_written_mb", "gc_s", "spill_mb", "shuffle_read_mb")
  /** The op spans behind `build_s` and `query_s`, per workload. */
  val OpSpans: Seq[(String, Seq[String])] = Seq(
    "build" -> Seq("train"), "query" -> Seq("predict"),
    "build" -> Writes.map(q => s"store.$q"), "query" -> Reads.map(q => s"store.$q"))

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] =
    Seq("fit.count_s", "fit.sample_pass_s", "fit.build_s", "fit.threshold_s",
      "fit.driver_gap_s", "fit.jobs", "fit.tasks", "fit.shuffle_write_mb",
      "score.task_cpu_s", "score.cpu_ns_per_row_tree", "score.tasks", "score.task_skew",
      "threshold.s", "threshold.tasks") ++
      Seq("build", "query").flatMap(p => OpFigures.map(m => s"$p.$m")) ++
      Seq("respread.s", "respread.tasks", "respread.shuffle_write_mb", "scan.s",
        "cache.fill_s", "cache.mb", "lap.gc_s", "lap.spill_mb", "lap.shuffle_read_mb") ++
      (Writes ++ Reads).flatMap(q => Seq(s"store.$q.s", s"store.$q.jobs"))

  private val MB = 1048576.0

  /** "count at IForest.scala:85" -> "count at IForest.scala" */
  def site(callSite: String): String = callSite.replaceAll(":\\d+$", "")

  def apply(run: Run, c: Collector): Map[String, Double] = {
    val spans = run.tracer.spans.toSeq
    val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit =
      values.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double]) += v

    val ranStages = c.stages.filter(_._2.completeMs > 0)
    /** Jobs submitted inside the span (a job exactly on a boundary goes to
      * the later span of the same depth). */
    def jobsOf(s: Span): Seq[JobRec] = {
      val peers = spans.filter(_.depth == s.depth)
      c.jobs.toSeq.filter { j =>
        j.startMs >= s.startMs && j.startMs <= s.endMs &&
          !peers.exists(p => (p ne s) && p.startMs > s.startMs &&
            j.startMs >= p.startMs && j.startMs <= p.endMs)
      }
    }
    def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
      js.flatMap(_.stageIds).distinct.flatMap(ranStages.get)
    /** Wall seconds covered by the jobs (overlaps counted once). */
    def jobSecs(js: Seq[JobRec]): Double = {
      var covered = 0L
      var end = Long.MinValue
      js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      covered / 1e3
    }
    /** Span time not covered by any of its jobs: driver-side work. */
    def gap(s: Span, js: Seq[JobRec]): Double = math.max(0.0, s.seconds - jobSecs(js))
    def tasks(st: Seq[StageRec]) = st.map(_.numTasks).sum.toDouble
    def isFit(j: JobRec) = site(j.callSite).endsWith("at IForest.scala")
    def isThreshold(j: JobRec) = site(j.callSite).endsWith("at IForestModel.scala")

    /** Fit phases and threshold pass of one `IForest.fit` call. */
    def fit(s: Span, js: Seq[JobRec]): Unit = {
      val fitJobs = js.filter(j => isFit(j) || isThreshold(j))
      val collect = js.filter(j => site(j.callSite) == "collect at IForest.scala")
      val buildStages = collect.flatMap(j => stagesOf(Seq(j)).sortBy(_.id).lastOption)
      val samplePassStages = stagesOf(collect).filterNot(buildStages.contains)
      val thr = js.filter(isThreshold)
      add("fit.count_s", jobSecs(js.filter(j => site(j.callSite) == "count at IForest.scala")))
      add("fit.sample_pass_s",
        jobSecs(js.filter(j => site(j.callSite) == "zipWithIndex at IForest.scala")) +
          samplePassStages.map(_.seconds).sum)
      add("fit.build_s", buildStages.map(_.seconds).sum)
      add("fit.threshold_s", jobSecs(thr))
      add("fit.driver_gap_s", gap(s, js))
      add("fit.jobs", fitJobs.length)
      add("fit.tasks", tasks(stagesOf(fitJobs)))
      add("fit.shuffle_write_mb", stagesOf(fitJobs).map(_.shuffleWriteBytes).sum / MB)
      add("threshold.s", jobSecs(thr))
      add("threshold.tasks", tasks(stagesOf(thr)))
    }

    /** The scoring kernel, measured on a predict call over `rows` rows. */
    def score(st: Seq[StageRec], rows: Double, trees: Double): Unit = {
      val cpu = st.map(_.cpuNs).sum.toDouble
      val t = st.flatMap(_.taskMs).sorted
      add("score.task_cpu_s", cpu / 1e9)
      add("score.cpu_ns_per_row_tree", cpu / (rows * trees))
      add("score.tasks", tasks(st))
      add("score.task_skew",
        if (t.isEmpty) 0.0 else t.last / math.max(1.0, Run.median(t.map(_.toDouble))))
    }

    def top(name: String) = spans.filter(s => s.name == name && s.ok)
    def child(parent: Span, name: String) = spans.find(s =>
      s.name == name && s.depth == parent.depth + 1 &&
        s.startMs >= parent.startMs && s.endMs <= parent.endMs)

    val trees = run.extra.get("num_trees").map(_.toString.toDouble).getOrElse(100.0)
    // http_paper: train and predict spans
    top("train").foreach(s => fit(s, jobsOf(s)))
    top("predict").foreach { s =>
      score(stagesOf(jobsOf(s)), run.extra.get("rows").map(_.toString.toDouble).getOrElse(1.0), trees)
    }
    // the flagship lap: build (respread, cache, fit) then the output pass
    top("lap").foreach { s =>
      val js = jobsOf(s)
      val st = stagesOf(js)
      add("lap.gc_s", s.gcSeconds)
      add("lap.spill_mb", st.map(_.spillBytes).sum / MB)
      add("lap.shuffle_read_mb", st.map(_.shuffleReadBytes).sum / MB)
      child(s, "lap.build").foreach { b =>
        val bj = js.filter(j => j.startMs >= b.startMs && j.startMs <= b.endMs)
        fit(b, bj)
        val st = stagesOf(bj)
        val respread = st.filter(x => x.scan && x.shuffleWriteBytes > 0)
        add("respread.s", respread.map(_.seconds).sum)
        add("respread.tasks", tasks(respread))
        add("respread.shuffle_write_mb", respread.map(_.shuffleWriteBytes).sum / MB)
        add("scan.s", st.filter(_.scan)
          .map(x => (x.runMs - x.shuffleWriteNs / 1e6) / 1e3).sum)
        add("cache.fill_s", st.filter(_.cached).sortBy(_.submitMs).headOption.map(_.seconds).getOrElse(0.0))
      }
      child(s, "lap.write").foreach { w =>
        score(stagesOf(js.filter(j => j.startMs >= w.startMs && j.startMs <= w.endMs)),
          run.extra.get("lineitem_rows").map(_.toString.toDouble).getOrElse(1.0),
          100.0) // iforest_score fits 100 trees
      }
    }
    run.layerSamples.foreach { case (k, v) => v.foreach(add(k, _)) }

    // build and query ops: per-op figures, averaged over the ops of one pass
    (Writes ++ Reads).foreach { q =>
      top(s"store.$q").foreach { s =>
        add(s"store.$q.s", s.seconds)
        add(s"store.$q.jobs", jobsOf(s).length)
      }
    }
    for ((kind, opNames) <- OpSpans) {
      val ops = spans.filter(s => s.ok && opNames.contains(s.name))
      // group the op spans into passes of |opNames| consecutive ops
      ops.sortBy(_.startMs).grouped(opNames.length).filter(_.length == opNames.length).foreach { g =>
        val per = g.map { s =>
          val js = jobsOf(s)
          val st = stagesOf(js)
          Map("jobs" -> js.length.toDouble, "stages" -> st.length.toDouble, "tasks" -> tasks(st),
            "driver_gap_s" -> gap(s, js), "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
            "fs_read_ops" -> s.fsReadOps.toDouble, "fs_write_ops" -> s.fsWriteOps.toDouble,
            "fs_bytes_written_mb" -> s.fsBytesWritten / MB,
            "gc_s" -> s.gcSeconds, "spill_mb" -> st.map(_.spillBytes).sum / MB,
            "shuffle_read_mb" -> st.map(_.shuffleReadBytes).sum / MB)
        }
        OpFigures.foreach(k => add(s"$kind.$k", per.map(_(k)).sum / per.length))
      }
    }
    names.map(n => n -> values.get(n).map(v => Run.median(v.toSeq)).getOrElse(0.0)).toMap
  }
}
