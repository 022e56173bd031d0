package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.HashKernels

/** Single-thread loops over the generated document texts calling the
  * public text kernels the dedup pipelines run per row. Each kernel
  * sweeps the corpus for `minSeconds` untimed (so the JIT has compiled
  * it on every workload, not only where the pipelines ran), then for
  * `minSeconds` timed; the result is rows/s.
  */
object Kernels {
  val minSeconds = 0.3
  /** Receives every kernel result's size, so no call can be optimised away. */
  @volatile private var sink = 0

  def run(spark: SparkSession, data: String, tracer: Tracer): Map[String, Double] = {
    val texts = spark.read.parquet(s"$data/documents.parquet").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val shingles = texts.map(HashKernels.charShingleHashes(_, 5))
    val tokenHashes: Array[ArrayData] = texts.map { t =>
      new GenericArrayData(t.toString.split("\\s+").filter(_.nonEmpty)
        .map(w => w.hashCode.toLong * 0x9E3779B97F4A7C15L))
    }
    val rnd = new scala.util.Random(42)
    val as = Array.fill(64)(1L + (rnd.nextLong() & 0x7ffffffeL))
    val bs = Array.fill(64)(1L + (rnd.nextLong() & 0x7ffffffeL))

    def sweep(f: Int => ArrayData): Double = {
      val t0 = System.nanoTime()
      var rows = 0L
      var acc = 0
      while (rows == 0 || System.nanoTime() - t0 < minSeconds * 1e9) {
        var i = 0
        while (i < texts.length) { acc ^= f(i).numElements(); i += 1 }
        rows += texts.length
      }
      sink = acc
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    def loop(name: String)(f: Int => ArrayData): (String, Double) = {
      sweep(f)
      tracer.span(0, 0, s"kernel.$name")(_ => s"kernel.${name}_rows_per_s" -> sweep(f))
    }

    Map(
      loop("shingle")(i => HashKernels.charShingleHashes(texts(i), 5)),
      loop("minhash")(i => HashKernels.minhash(shingles(i), as, bs)),
      loop("simhash")(i => HashKernels.simhashBlocks(tokenHashes(i))),
      loop("ngram")(i => HashKernels.wordNgramHashes(texts(i), 3)))
  }
}
