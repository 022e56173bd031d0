package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of the traced window, from the listener's jobs and
  * stages, the benchmark's spans and the executed plans' SQL metrics.
  * Times and counts are per pass; ratios and peaks are not.
  */
object Layers {
  /** Mean bytes per row of a parquet table directory, for write
    * amplification.
    */
  def bytesPerRow(spark: SparkSession, path: String): Double =
    dataFiles(path).map(_.length).sum.toDouble / spark.read.parquet(path).count().max(1L)

  /** The data files of a flat table directory (hidden names skipped, as
    * Spark's listing does).
    */
  def dataFiles(path: String): Array[java.io.File] =
    Option(new java.io.File(path).listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  private def groupId(g: String): Option[Int] =
    if (g.startsWith("pb-")) Some(g.stripPrefix("pb-").toInt) else None

  /** Length of the union of [start, end) intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def summarise(c: Main.Ctx, l: ExecListener, tracer: Tracer, traced: Range, passes: Int,
                gcS: Double, peakHeapMb: Double, filesAfter: Seq[Double],
                rowBytes: Map[String, Double]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val jobs = l.jobs.filter(j => groupId(j.group).exists(traced.contains))
    val stageIds = jobs.flatMap(_.stages).toSet
    val stages = l.stages.filter { case ((id, _), _) => stageIds(id) }.values.toSeq
    def per(v: Double) = v / passes
    // time inside the traced statements
    val wall = union(tracer.spans.toSeq.filter(s => s.parent == 0 && traced.contains(s.stmt))
      .map(s => (s.start, s.end))) / 1e3

    m("exec.jobs") = per(jobs.size)
    m("exec.stages") = per(stages.size)
    m("exec.tasks") = per(stages.map(_.tasks).sum)
    val busy = union(stages.map(s => (s.submitted, s.completed))) / 1e3
    m("exec.driver_gap_s") = per(wall - busy)
    val runS = stages.map(_.runMs).sum / 1e3
    m("exec.task_run_s") = per(runS)
    m("exec.task_cpu_s") = per(stages.map(_.cpuNs).sum / 1e9)
    m("exec.core_busy_ratio") = runS / (wall * c.cores)
    m("exec.gc_s") = per(gcS)
    m("jvm.peak_heap_mb") = peakHeapMb

    def spanSum(name: String) =
      tracer.spans.filter(_.name == name).map(s => s.end - s.start).sum / 1e3
    m("front.translate_s") = per(spanSum("front.translate"))
    m("front.analyze_s") = per(spanSum("front.analyze"))
    m("front.plan_s") = per(spanSum("front.plan"))

    val p = c.plans.v
    Seq("scan.bytes", "scan.rows", "scan.files", "scan.time_s", "exchange.count",
      "exchange.reused").foreach(k => m(k) = per(p(k)))
    m("exchange.bytes") = per(stages.map(_.shuffleWriteBytes).sum)
    m("exchange.write_s") = per(stages.map(_.shuffleWriteNs).sum / 1e9)
    m("exchange.fetch_wait_s") = per(stages.map(_.fetchWaitMs).sum / 1e3)
    Seq("join.build_s", "join.bhj", "join.shj", "join.smj", "join.nlj", "agg.time_s",
      "sort.time_s").foreach(k => m(k) = per(p(k)))
    m("spill.bytes") = per(stages.map(_.spillBytes).sum)
    m("mem.peak_exec_bytes") = (0L +: stages.map(_.peakExecBytes)).max.toDouble

    val cand = c.dedupCand.values.sum
    val out = c.dedupOut.values.sum
    m("dedup.candidates") = per(cand)
    m("dedup.pairs_out") = per(out)
    m("dedup.useful_ratio") = if (cand > 0) out / cand else 0.0

    // DML: hit files over table files for the ops that rewrite; bytes
    // written over bytes of changed rows
    val rewrites = c.dmlTrace.filter(t => Seq("update", "delete", "merge").exists(t._2.startsWith))
    val tableFiles = rewrites.map(_._3).sum
    m("dml.hit_file_ratio") = if (tableFiles > 0) rewrites.map(_._4.hitFiles).sum.toDouble / tableFiles else 0.0
    val written = c.dmlTrace.map { t =>
      val bytes = jobs.filter(j => groupId(j.group).contains(t._1)).flatMap(_.stages)
        .flatMap(id => l.stages.collect { case ((sid, _), s) if sid == id => s.outputBytes }).sum
      val table = t._2.dropWhile(_ != '_').drop(1)
      (bytes.toDouble, (t._4.rowsRewritten + t._4.rowsInserted) * rowBytes.getOrElse(table, 0.0))
    }
    val changed = written.map(_._2).sum
    m("dml.write_amp") = if (changed > 0) written.map(_._1).sum / changed else 0.0
    m("dml.files_after") = if (filesAfter.isEmpty) 0.0 else filesAfter.sum / filesAfter.size
    m.toMap
  }

  /** Writes every span — the benchmark's, plus one per job and stage
    * nested under the statement span active when the job started — and
    * the self time of each layer: a span's duration minus the part of
    * it its children cover.
    */
  def writeTrace(c: Main.Ctx, l: ExecListener, tr: Tracer, traced: Range, path: String): Unit = {
    val own = tr.spans.toList
    val byStmt = own.groupBy(_.stmt)
    val jobSpan = mutable.Map.empty[Int, Int]
    l.jobs.foreach { j =>
      groupId(j.group).filter(traced.contains).foreach { stmt =>
        val enclosing = byStmt.getOrElse(stmt, Nil)
          .filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(s => s.end - s.start).headOption
        val parent = enclosing.map(_.id).getOrElse(0)
        jobSpan(j.id) = tr.add(parent, stmt, "job", j.start, j.end)
        j.stages.foreach { sid =>
          l.stages.collect { case ((`sid`, _), s) if s.completed > 0 =>
            tr.add(jobSpan(j.id), stmt, "stage", s.submitted, s.completed)
          }
        }
      }
    }
    val all = tr.spans.toList
    val children = all.groupBy(_.parent)
    def layer(s: Span) =
      if (s.name.startsWith("front.") || s.name.startsWith("kernel.") ||
          Seq("execute", "job", "stage").contains(s.name)) s.name
      else if (s.parent == 0 && c.dmlTrace.exists(_._1 == s.stmt)) "dml_op"
      else "statement"
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      self(layer(s)) += (s.end - s.start - union(kids)) / 1e3
    }
    Json.write(path, Map(
      "self_s" -> self,
      "spans" -> all.map(s => Seq(s.id, s.parent, s.stmt, s.name, s.start, s.end))))
  }
}
