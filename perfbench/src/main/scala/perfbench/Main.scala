package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, GraftSql}
import graft.sources.{Bucketize, Catalog, Dml}

/** Benchmark harness: runs one workload in one JVM and writes
  * `result.json` into the work directory for run.py to check and
  * summarise.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <workDir> <cores>
  *
  * Phases: one cold set-up round timed from JVM start, one untimed and
  * `warmRounds` timed warm set-up rounds (fresh session, input
  * registration, the bucketed write for query), `warmPasses` warm-up
  * passes, an untraced timed window of at least `timedPasses` passes,
  * then — traced runs only — a traced window of the same length, the
  * single-thread kernel loops and one more untraced window. Every
  * client is closed loop: the next statement is issued when the
  * previous one returns. With `seconds` 0 (class-data-sharing
  * training) a window is one pass.
  */
object Main {
  /** Timed warm set-up rounds; `setup_s` is their median. They follow
    * the cold round and one untimed warm round, which compiles the
    * set-up path's code as the warm-up passes do the statements'.
    */
  val warmRounds = 3
  /** A timed window holds at least this many passes, so that its
    * median never rests on one pass and every run measures the same
    * passes of the JIT's warm-up curve.
    */
  val timedPasses = 3
  /** Untimed passes before the first window. The JIT goes on compiling
    * for several passes after the first; a window that starts on that
    * slope measures how far the compiler got, which varies from run to
    * run, more than the passes themselves.
    */
  val warmPasses = 3

  final case class Sample(name: String, kind: String, seconds: Double)

  final class Ctx(val workload: String, val seed: Long, val seconds: Double, val trace: Boolean,
                  val data: String, val work: String, val cores: Int) {
    var spark: SparkSession = _
    var tracer: Tracer = _
    val plans = new PlanAgg
    val dedupCand = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val dedupOut = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    /** Last result of each query: rows, schema and oracle text. */
    val lastRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType, Option[String])]
    val dmlStats = mutable.ArrayBuffer.empty[Seq[Any]]
    /** Traced DML ops: (statement id, op name, table files before, stats). */
    val dmlTrace = mutable.ArrayBuffer.empty[(Int, String, Int, Dml.DmlStats)]
    var attempted = 0L
    var stmtSeq = 0
    /** Executions per statement name, failed ones included. */
    val executions = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    /** Index of the pass being run (maintain: the op-list cycle). */
    var pass = 0
    /** Warm-up passes, and the fewest passes of a timed window. */
    var warm = warmPasses
    var timed = timedPasses
    /** SQL texts the traced window sent through the front door. */
    val tracedSql = mutable.ArrayBuffer.empty[String]
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, data, work, cores) = argv
    val c = new Ctx(workload, seed.toLong, seconds.toDouble, trace == "1", data, work,
      cores.toInt)
    // seconds 0 only loads the classes a run uses (class-data-sharing
    // training): one pass of each kind is enough
    if (c.seconds <= 0) { c.warm = 1; c.timed = 1 }
    val out = mutable.LinkedHashMap.empty[String, Any]
    run(c, out)
    Json.write(s"$work/result.json", out)
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(c: Ctx, round: Int): SparkSession = {
    val s = GraftSession.builder(s"local[${c.cores}]", c.cores)
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse-$round")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.adaptScanParallelism(s, c.data)
    s
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  /** The workload as a sequence of passes. Each call yields the next
    * pass, or None when the workload has no more (maintain runs out of
    * generated cycles).
    */
  trait Passes {
    var count = 0
    def next(): Option[Seq[Stmt]]
  }

  private def passes(c: Ctx, dir: String): Passes = c.workload match {
    case "query" =>
      // every pass runs the statements in one seeded order: a statement
      // runs slower the more others ran since its last run (shuffled
      // per pass, 0.84× its median first in a pass and 1.10× last), so
      // a pass's time would hang on its order
      val stmts = new scala.util.Random(c.seed).shuffle(Workloads.query(dir))
      new Passes {
        def next() = { count += 1; Some(stmts) }
      }
    case "maintain" =>
      val cycles = Files.readAllLines(Paths.get(s"${c.data}/maintain/ops.txt")).asScala.toSeq
        .map(_.trim.split("\\s+")).filter(_.length > 1)
        .groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2.map(_.drop(1)).toSeq)
      new Passes {
        def next() = {
          count += 1
          cycles.lift(count - 1).map(ops => Workloads.cycle(dir, s"${c.data}/maintain", ops))
        }
      }
  }

  /** Executes one statement; returns its latency, or None if it failed. */
  private def exec(c: Ctx, st: Stmt): Option[Double] = {
    c.stmtSeq += 1
    val id = c.stmtSeq
    val sc = c.spark.sparkContext
    sc.setJobGroup(s"pb-$id", st.name, interruptOnCancel = false)
    c.attempted += 1
    c.executions(st.name) += 1
    val t0 = now()
    try {
      st match {
        case q: Query =>
          val (rows, schema) =
            if (c.tracer == null) {
              val df = q.build(c.spark)
              (df.collect(), df.schema)
            } else tracedQuery(c, q, id)
          c.lastRows(q.name) = (rows, schema, q.oracle)
        case o: Op =>
          val stats =
            if (c.tracer == null) o.run(c.spark)
            else tracedOp(c, o, id)
          c.dmlStats += Seq(c.pass, o.name, stats.hitFiles, stats.rowsRewritten, stats.rowsInserted)
      }
      Some(now() - t0)
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" | ")
        c.failures += ((st.name, s"${e.getClass.getSimpleName}: $msg"))
        None
    } finally sc.clearJobGroup()
  }

  private def tracedQuery(c: Ctx, q: Query, id: Int): (Array[Row], StructType) = {
    val tr = c.tracer
    tr.span(0, id, q.name) { root =>
      q.sql.foreach(c.tracedSql += _)
      val df = tr.span(root, id, "front.analyze")(_ => q.build(c.spark))
      val plan = tr.span(root, id, "front.plan")(_ => df.queryExecution.executedPlan)
      val rows = tr.span(root, id, "execute")(_ => df.collect())
      c.plans.add(df.queryExecution.executedPlan)
      if (Workloads.rowsOnly(q.name)) {
        c.plans.pairCandidates(plan).foreach { n =>
          c.dedupCand(q.name) += n
          c.dedupOut(q.name) += rows.length
        }
      }
      (rows, df.schema)
    }
  }

  private def tracedOp(c: Ctx, o: Op, id: Int): Dml.DmlStats = {
    val before = dmlFilesAt(s"${c.work}/maintain-copy", o.table)
    val stats = c.tracer.span(0, id, o.name)(_ => o.run(c.spark))
    c.dmlTrace += ((id, o.name, before, stats))
    stats
  }

  /** Runs passes until `seconds` elapse and at least `minPasses` ran;
    * a pass started before the deadline runs to completion.
    */
  private def window(c: Ctx, ps: Passes, seconds: Double, minPasses: Int,
                     samples: mutable.Buffer[Sample], passTimes: mutable.Buffer[Double],
                     afterPass: () => Unit = () => ()): Unit = {
    val deadline = now() + seconds
    val start = passTimes.size
    var more = true
    while (more && (passTimes.size - start < minPasses || now() < deadline)) {
      ps.next() match {
        case None => more = false
        case Some(stmts) =>
          c.pass = ps.count
          val t0 = now()
          stmts.foreach(st => exec(c, st).foreach(t => samples += Sample(st.name, st.kind, t)))
          passTimes += now() - t0
          afterPass()
      }
    }
  }

  private def run(c: Ctx, out: mutable.Map[String, Any]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val wallAtNano = System.currentTimeMillis() / 1e3 - now()
    val maintain = c.workload == "maintain"
    // the writable copy maintain mutates; every other workload reads the generated data
    val copy = s"${c.work}/maintain-copy"
    def dir = if (maintain) copy else c.data

    // ---- set-up: a cold round from JVM start, then warm rounds of
    // session build, input registration and (query) the bucketed write,
    // each after the previous session is stopped, its files removed and
    // the heap collected (untimed); then the warm-up passes ----
    val setup = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
    def rec(k: String, v: Double) = setup.getOrElseUpdate(k, mutable.Buffer.empty) += v
    for (round <- 0 to warmRounds + 1) {
      if (c.spark != null) {
        c.spark.stop()
        deleteTree(Paths.get(s"${c.work}/warehouse-${round - 1}"))
        if (maintain) deleteTree(Paths.get(copy))
        // every timed round starts on a heap without the previous
        // session's garbage, so no round pays for another's collection
        System.gc()
      }
      val t0 = if (round == 0) jvmStart - wallAtNano else now()
      c.spark = session(c, round)
      val t1 = now()
      if (maintain) {
        val p = Paths.get(copy)
        Catalog.tableNames.foreach { t =>
          copyTree(Paths.get(s"${c.data}/$t.parquet"), p.resolve(s"$t.parquet"))
        }
      }
      Catalog.registerAll(c.spark, dir)
      val t2 = now()
      if (c.workload == "query") Bucketize.ensure(c.spark, dir)
      val t3 = now()
      if (round == 0) rec("cold_s", t3 - t0)
      else if (round > 1) {
        rec("round_s", t3 - t0)
        rec("session_s", t1 - t0)
        rec("register_s", t2 - t1)
        rec("bucketize_s", t3 - t2)
      }
    }
    val ps = passes(c, dir)
    val tw = now()
    window(c, ps, 0.0, c.warm, mutable.Buffer.empty, mutable.Buffer.empty)
    rec("warmup_s", now() - tw)
    out("setup") = setup

    // ---- untraced window ----
    val samples = mutable.Buffer.empty[Sample]
    val passTimes = mutable.Buffer.empty[Double]
    window(c, ps, c.seconds, c.timed, samples, passTimes)
    out("passes") = passTimes

    // ---- traced window, kernel loops, a second untraced window ----
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (c.trace) {
      val listener = new ExecListener
      c.spark.sparkContext.addSparkListener(listener)
      c.tracer = new Tracer
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      // one sample per generated class compiled, i.e. per miss of
      // Spark's generated-code cache
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val tSamples = mutable.Buffer.empty[Sample]
      val tPasses = mutable.Buffer.empty[Double]
      val filesAfter = mutable.Buffer.empty[Double]
      val rowBytes =
        if (maintain) Seq("orders", "lineitem").map(t => t -> Layers.bytesPerRow(c.spark, s"$copy/$t.parquet")).toMap
        else Map.empty[String, Double]
      val firstId = c.stmtSeq + 1
      window(c, ps, c.seconds, c.timed, tSamples, tPasses,
        () => if (maintain) filesAfter += (dmlFilesAt(copy, "orders") + dmlFilesAt(copy, "lineitem")))
      val traced = firstId to c.stmtSeq
      val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      // GraftSql.sql translates inside the analyze step; the translation
      // alone is timed here, once per SQL text the traced window ran
      c.tracedSql.foreach(text => c.tracer.span(0, 0, "front.translate")(_ => GraftSql.translate(text)))
      layers ++= Kernels.run(c.spark, c.data, c.tracer)
      val tracer = c.tracer
      c.tracer = null
      // the same passes untraced again: the traced window sits between
      // two untraced ones, so JIT warm-up does not pass for overhead
      val postPasses = mutable.Buffer.empty[Double]
      window(c, ps, c.seconds, c.timed, samples, postPasses)
      if (maintain) compactAll(c, copy, samples)
      c.spark.stop() // drains the listener bus
      c.spark = null
      layers ++= Layers.summarise(c, listener, tracer, traced, tPasses.size.max(1), gcS,
        peakHeap, filesAfter.toSeq, rowBytes)
      layers("exec.codegen_compiles") = compiles.toDouble / tPasses.size.max(1)
      layers("trace.overhead_ratio") = median(tPasses.toSeq) / median((passTimes ++ postPasses).toSeq)
      Layers.writeTrace(c, listener, tracer, traced, s"${c.work}/trace.json")
    } else if (maintain) compactAll(c, copy, samples)
    out("samples") = samples.map(s => Seq(s.name, s.kind, s.seconds))
    out("layers") = layers

    // ---- correctness dumps (outside every timed window) ----
    if (c.spark == null) {
      c.spark = session(c, warmRounds + 2)
      Catalog.registerAll(c.spark, dir)
    }
    if (maintain) {
      // the final state's reads, checked against a DuckDB replay
      c.lastRows.clear()
      Workloads.maintainReadStmts().foreach(st => exec(c, st))
      // the final copy holds cycles 1..n of the op list, then compaction
      out("cycles_applied") = ps.count
      out("dml_stats") = c.dmlStats
      out("copy") = copy
    }
    val dumps = mutable.ArrayBuffer.empty[Seq[String]]
    c.lastRows.foreach { case (name, (rows, schema, oracle)) =>
      val path = s"${c.work}/out/$name"
      try {
        c.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(path)
        dumps += Seq(name, path, oracle.getOrElse(""))
      } catch {
        case e: Throwable => c.failures += ((name, s"result dump failed: $e"))
      }
    }
    out("dumps") = dumps
    out("attempted") = c.attempted
    out("executions") = c.executions
    out("failures") = c.failures.map { case (n, m) => Seq(n, m) }
    c.spark.stop()
  }

  private def dmlFilesAt(copy: String, table: String): Int =
    Layers.dataFiles(s"$copy/$table.parquet").length

  private def compactAll(c: Ctx, copy: String, samples: mutable.Buffer[Sample]): Unit = {
    c.pass = -1
    Workloads.compact(copy).foreach { st =>
      exec(c, st).foreach(t => samples += Sample(st.name, st.kind, t))
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
  }
}
