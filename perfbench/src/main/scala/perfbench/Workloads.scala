package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSql
import graft.queries._
import graft.sources.{Catalog, Dml}

/** One unit of client work. A `Query` yields rows; `sql` is set when
  * the statement enters through the SQL front door. An `Op` is a DML
  * call whose result is its stats.
  */
sealed trait Stmt {
  def name: String
  def kind: String // "read" or "write"
}
final case class Query(name: String, sql: Option[String], oracle: Option[String],
                       build: SparkSession => DataFrame) extends Stmt {
  def kind = "read"
}
final case class Op(name: String, table: String, run: SparkSession => Dml.DmlStats) extends Stmt {
  def kind = "write"
}

object Op {
  /** A DML op on a table the SQL reads see through a temp view: the
    * view is registered again after the write, because a view's file
    * listing is fixed when it is created and the write replaced files.
    */
  def viewed(name: String, dir: String, table: String)(dml: SparkSession => Dml.DmlStats): Op =
    Op(name, table, { s =>
      val stats = dml(s)
      Catalog.table(s, dir, table).createOrReplaceTempView(table)
      stats
    })
}

/** Statement lists, resolved from the per-module query registries
  * (never through graft.SparkEntry, whose registry init reads
  * reference files that need not exist).
  */
object Workloads {
  /** TPC-H and relational plans of the query workload: scan, exchange,
    * hash join/aggregate, window and the bucketed merge join.
    */
  val tpchNames: Seq[String] = Seq(
    "tpch_q1", "tpch_q3_bucketed", "tpch_q18", "q13_window_rank")

  /** Near-duplicate pipelines of the query workload: shingle/minhash/
    * n-gram kernels, pair exchanges and verification.
    */
  val dedupNames: Seq[String] = Seq("d02_dedup_minhash", "d04_ngram_jaccard")

  /** Pair-emitting dedup pipelines: no SQL oracle; checked against
    * invariants of their output instead.
    */
  val rowsOnly: Set[String] = dedupNames.toSet

  /** Reads between maintenance cycles, issued as SQL text through the
    * DuckDB-dialect front door (GraftSql.sql) with the registry
    * entries' oracle texts.
    */
  val maintainReads: Seq[String] = Seq("tpch_q1", "tpch_q3")

  private def tpchDefs: Seq[QDef] = Tpch.defs ++ TpchBucketed.defs ++ RelationalA.defs

  /** Every name must resolve, and every statement the workload checks
    * against DuckDB must carry an oracle; a miss fails the run before
    * anything is timed.
    */
  private def resolve(defs: Seq[QDef], names: Seq[String], noOracle: Set[String]): Seq[QDef] = {
    val byName = defs.map(d => d.name -> d).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"unresolved statement names: ${missing.mkString(", ")}")
    val unchecked = names.filter(n => !noOracle(n) && byName(n).oracle.isEmpty)
    require(unchecked.isEmpty, s"statements without an oracle: ${unchecked.mkString(", ")}")
    names.map(byName)
  }

  private def registry(d: QDef, dir: String): Query =
    Query(d.name, None, d.oracle, s => d.fn(s, dir))

  /** The read-only workload: both lists in one pass. */
  def query(dir: String): Seq[Stmt] =
    (resolve(tpchDefs, tpchNames, Set.empty) ++ resolve(Pipeline.defs, dedupNames, rowsOnly))
      .map(registry(_, dir))

  def maintainReadStmts(): Seq[Stmt] =
    resolve(Tpch.defs, maintainReads, Set.empty).map { d =>
      val text = d.oracle.get
      Query(d.name, Some(text), Some(text), s => GraftSql.sql(s, text))
    }

  /** One maintenance cycle from the generated op list: DML against
    * the writable copy at `dir`, then the reads over the mutated tables.
    * Batches are parquet files written by the generator.
    */
  def cycle(dir: String, batches: String, ops: Seq[Array[String]]): Seq[Stmt] = {
    def path(t: String) = s"$dir/$t.parquet"
    val writes = ops.map { op =>
      // op line: <op> <table> <batch file> | <op> <table> <lo> <hi>
      val table = op(1)
      val key = if (table == "orders") "o_orderkey" else "l_orderkey"
      def keyRange: Column = col(key).between(op(2).toLong, op(3).toLong)
      def batch(s: SparkSession) = s.read.parquet(s"$batches/${op(2)}")
      op(0) match {
        case "insert" =>
          val pk = if (table == "orders") Seq(key) else Nil
          Op.viewed(s"insert_$table", dir, table)(s => Dml.insert(s, path(table), batch(s), pk))
        case "update" =>
          Op.viewed(s"update_$table", dir, table)(s => Dml.update(s, path(table), keyRange,
            Map("o_orderstatus" -> lit("F"), "o_totalprice" -> (col("o_totalprice") + lit(1.0)))))
        case "delete" =>
          Op.viewed(s"delete_$table", dir, table)(s => Dml.delete(s, path(table), keyRange))
        case "merge" =>
          Op.viewed(s"merge_$table", dir, table) { s =>
            val src = batch(s)
            Dml.merge(s, path(table), src, Seq(key),
              Map("o_totalprice" -> src("o_totalprice"), "o_orderpriority" -> src("o_orderpriority")))
          }
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }
    }
    writes ++ maintainReadStmts()
  }

  def compact(dir: String): Seq[Stmt] =
    Seq("orders", "lineitem").map(t =>
      Op.viewed(s"compact_$t", dir, t)(s => Dml.compact(s, s"$dir/$t.parquet")))
}
