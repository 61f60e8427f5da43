package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans and listener records
  * of [[Trace]].  Additive metrics are per round (the run's totals divided
  * by its round count), so runs of different length compare. */
object Layers {
  /** Commit op → (meta files, meta bytes, data bytes) written. */
  val commitFiles = mutable.HashMap.empty[String, (Long, Long, Long)]
  /** Read op → data files of the table it reads, from the last walk. */
  val tableFiles = mutable.HashMap.empty[String, Long]
  var kernelRows = 0L
  var lshPairs = 0L

  /** A warehouse file that is table metadata rather than row data: anything
    * that is not a parquet part file (or its checksum), or that sits in a
    * stats sidecar, a version directory or an underscore directory. */
  def isMeta(rel: String): Boolean = {
    val parts = rel.split('/')
    val name = parts.last.stripPrefix(".").stripSuffix(".crc")
    !name.endsWith(".parquet") || parts.init.exists(p =>
      p.startsWith("_") || p.endsWith(".stats") || p.endsWith(".versions"))
  }

  /** Exclusive time per layer inside one op: each instant goes to the
    * deepest span open at that instant (the earliest-started among equals),
    * so the self times of an op's spans sum to its wall time. */
  def selfTimes(root: Span, spans: Seq[Span]): Map[String, Long] = {
    val clipped = (root +: spans).map(s => s.copy(start = math.max(s.start, root.start),
      end = math.min(s.end, root.end))).filter(s => s.end > s.start).zipWithIndex
    val events = clipped.flatMap { case (s, i) => Seq((s.start, 1, i), (s.end, 0, i)) }
      .sortBy(e => (e._1, e._2))
    val order = Ordering.by[(Int, Long, Int), (Int, Long, Int)](k => (-k._1, k._2, k._3))
    val active = mutable.TreeSet.empty[(Int, Long, Int)](order)
    val out = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var prev = root.start
    events.foreach { case (t, kind, i) =>
      if (active.nonEmpty && t > prev) out(clipped(active.head._3)._1.layer) += t - prev
      prev = t
      val s = clipped(i)._1
      if (kind == 1) active += ((s.depth, s.start, i)) else active -= ((s.depth, s.start, i))
    }
    out.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  def summarize(tr: Trace, ops: Seq[OpRec], rounds: Int): Map[String, Any] = {
    val R = math.max(1, rounds).toDouble
    val byOp = tr.spans.groupBy(_.op)
    val opOf = ops.map(o => o.id -> o).toMap
    def opAt(t: Long): Option[OpRec] = ops.find(o => o.start <= t && t <= o.end)
    // jobs: by the job group the benchmark set, else by start time (stream threads)
    val jobOp: Map[Int, String] = tr.jobs.values.flatMap { j =>
      val g = j.group.takeWhile(_ != '|')
      (if (opOf.contains(g)) Some(g) else opAt(j.start).map(_.id)).map(j.id -> _)
    }.toMap
    val jobsOf = jobOp.groupBy(_._2).map { case (o, m) => o -> m.keys.toSeq.map(tr.jobs) }
    val phasesOf = tr.phases.groupBy(p => opAt(p.start).map(_.id).getOrElse(""))
    val plansOf = tr.plans.groupBy(p => opAt(p.at).map(_.id).getOrElse(""))

    val self = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var maxErr = 0.0
    var gapNs = 0L
    ops.foreach { o =>
      val spans = byOp.getOrElse(o.id, Nil)
      val root = spans.find(_.depth == 0).getOrElse(Span(o.id, "bench", o.id, o.start, o.end, 0))
      val jobSpans = jobsOf.getOrElse(o.id, Nil).filter(_.end > 0)
        .map(j => Span(o.id, "spark", s"job${j.id}", j.start, j.end, 100))
      val phaseSpans = phasesOf.getOrElse(o.id, Nil)
        .map(p => Span(o.id, "plans", p.name, p.start, p.end, 99))
      val st = selfTimes(root, (spans.filter(_.depth > 0) ++ jobSpans ++ phaseSpans).toSeq)
      val wall = (root.end - root.start).toDouble
      maxErr = math.max(maxErr, math.abs(st.values.sum - wall) / wall)
      st.foreach { case (l, ns) => self(l) += ns / 1e9 }
      gapNs += (root.end - root.start) - union(jobSpans.map(s =>
        (math.max(s.start, root.start), math.min(s.end, root.end))).filter(x => x._2 > x._1))
    }

    def incl(layer: String, pick: OpRec => Boolean = _ => true): Double =
      tr.spans.filter(s => s.layer == layer && s.depth > 0 &&
        opOf.get(s.op).exists(pick)).map(s => (s.end - s.start) / 1e9).sum
    // calls into a module; an op whose only span in the layer is its collect
    // (ST functions evaluated inside a SQL statement) entered it once
    def calls(layer: String): Double =
      tr.spans.filter(s => s.layer == layer && s.depth > 0).groupBy(_.op).values
        .map(ss => math.max(1, ss.count(_.name != "collect"))).sum / R
    val isCommit = (o: OpRec) => o.extra.get("commit").contains(true)
    val isBuild = (o: OpRec) => o.extra.get("build").contains(true)
    val isSearch = (o: OpRec) => o.extra.get("build").contains(false)
    val commitOps = ops.filter(isCommit)
    val jobsIn = (p: OpRec => Boolean) => ops.filter(p).map(o => jobsOf.getOrElse(o.id, Nil).size).sum
    val allJobs = jobsOf.values.flatten.toSeq
    val tasks = allJobs.flatMap(j => tr.taskAgg.get(j.id))
    def taskSum(f: Trace.TaskAgg => Long): Double = tasks.map(f).sum.toDouble / R
    val cf = commitOps.flatMap(o => commitFiles.get(o.id))
    val reads = ops.filterNot(isCommit)
    val scanned = reads.map(o => plansOf.getOrElse(o.id, Nil).map(_.filesRead).sum)
    val skipped = reads.zip(scanned).map { case (o, n) =>
      tableFiles.get(o.id).map(t => math.max(0L, t - n)).getOrElse(0L) }
    val searches = ops.filter(isSearch)
    val annRows = searches.map(o => plansOf.getOrElse(o.id, Nil).map(_.topkInputRows).sum)
    val kernelS = incl("functions")
    val prog = tr.progress.map(_.progress).toSeq
    def dur(k: String): Double =
      prog.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / R
    val lastPerRun = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq

    Map(
      "api.calls" -> calls("api"),
      "api.read_s" -> incl("api", o => !isCommit(o)) / R,
      "api.commit_s" -> incl("api", isCommit) / R,
      "api.driver_s" -> self("api") / R,
      "api.jobs_per_commit" -> (if (commitOps.isEmpty) 0.0 else jobsIn(isCommit).toDouble / commitOps.size),
      "api.meta_files_written" -> cf.map(_._1).sum / R,
      "api.meta_bytes_written" -> cf.map(_._2).sum / R,
      "api.data_bytes_written" -> cf.map(_._3).sum / R,
      "api.files_scanned" -> scanned.sum / R,
      "api.files_skipped" -> skipped.sum / R,
      "rel.calls" -> calls("rel"),
      "rel.busy_s" -> incl("rel") / R,
      "spatial.calls" -> calls("spatial"),
      "spatial.busy_s" -> incl("spatial") / R,
      "functions.kernel_s" -> kernelS / R,
      "functions.rows_per_s" -> (if (kernelS > 0) kernelRows / kernelS else 0.0),
      "llm.build_s" -> incl("llm", isBuild) / R,
      "llm.train_jobs" -> jobsIn(isBuild) / R,
      "llm.search_s" -> incl("llm", isSearch) / R,
      "llm.ann_rows_scored_per_query" ->
        (if (searches.isEmpty) 0.0 else annRows.sum.toDouble / searches.size),
      "llm.lsh_candidate_pairs" -> lshPairs / R,
      "stream.batches" -> prog.count(_.numInputRows > 0) / R,
      "stream.trigger_s" -> dur("triggerExecution"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> dur("walCommit"),
      "stream.commit_s" -> dur("commitOffsets"),
      "stream.planning_s" -> dur("queryPlanning"),
      "stream.state_rows" -> lastPerRun.map(_.stateOperators.map(_.numRowsTotal).sum).sum / R,
      "stream.state_bytes" -> lastPerRun.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / R,
      "stream.state_commit_s" -> prog.map(_.stateOperators.map(_.commitTimeMs).sum).sum / 1e3 / R,
      "plans.analysis_s" -> tr.phases.filter(_.name == "analysis").map(p => (p.end - p.start) / 1e9).sum / R,
      "plans.optimizer_s" -> tr.phases.filter(_.name == "optimization").map(p => (p.end - p.start) / 1e9).sum / R,
      "plans.physical_s" -> tr.phases.filter(_.name == "planning").map(p => (p.end - p.start) / 1e9).sum / R,
      "spark.jobs" -> allJobs.size / R,
      "spark.driver_gap_s" -> gapNs / 1e9 / R,
      "spark.shuffle_read_bytes" -> taskSum(_.shuffleRead),
      "spark.shuffle_write_bytes" -> taskSum(_.shuffleWrite),
      "spark.spill_bytes" -> taskSum(_.spill),
      "spark.tasks" -> taskSum(_.tasks),
      "spark.job_s" -> allJobs.filter(_.end > 0).map(j => (j.end - j.start) / 1e9).sum / R,
      "spark.executor_cpu_s" -> taskSum(_.cpuNs) / 1e9,
      "spark.scheduler_delay_s" -> taskSum(_.schedDelayMs) / 1e3,
      "spark.input_bytes" -> taskSum(_.input),
      "fs.bytes_read" -> ops.map(_.fs._2).sum / R,
      "fs.bytes_written" -> ops.map(_.fs._1).sum / R,
      "trace.self_sum_err" -> maxErr,
      "self_s" -> self.map { case (k, v) => k -> v / R }.toMap)
  }
}
