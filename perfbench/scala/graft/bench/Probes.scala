package graft.bench

import java.util.{LinkedHashMap => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, explode, lit, sequence}

import graft.functions.{HashKernels, TokenCount, TokenKernels}

/** The single-core xorshift probe `graft.Bench` records as box-speed
  * context: the same loop and unit (seconds per 500M steps, min of 3),
  * run for a tenth of the steps so it costs well under a second. */
object Probe {
  private val Steps = 50000000
  private var sink = 0L

  private def once(): Double = {
    var x = System.nanoTime() | 1L
    var i = 0
    val t0 = System.nanoTime()
    while (i < Steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    sink ^= x
    dt * (500000000.0 / Steps)
  }

  def cpuProbe(): Double = {
    once() // JIT warm-up
    val v = Seq(once(), once(), once()).min
    if (sink == 42L) System.err.println("probe")
    v
  }
}

/** Per-row cost of graft's native hash and tokenizer functions: each
  * one aggregated over a cached single-partition column of about
  * [[Rows]] document texts (the fixture's documents, repeated), so one
  * task does all the work; median of three timed passes, in wall-clock
  * nanoseconds per row on one core. */
object KernelProbe {
  val Rows = 50000

  private val Kernels = Seq(
    "hash60_ns_row" -> "max(hash60(text))",
    "hash120_ns_row" -> "max(hash120(text))",
    "ngram_hash60_ns_row" -> "max(size(ngram_hash60(tokens_ws(text), 5)))",
    "tokens_ns_row" -> "max(size(tokens_ws(text)))",
    "token_count_ns_row" -> "max(token_count(text))")

  def run(spark: SparkSession, dir: String): JMap[String, Any] = {
    HashKernels.register(spark)
    TokenKernels.register(spark)
    TokenCount.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet").select(col("text"))
    val reps = math.max(1L, Rows / math.max(1L, docs.count()))
    val corpus = docs.select(col("text"), explode(sequence(lit(1L), lit(reps))).as("r"))
      .select(col("text")).coalesce(1).persist()
    val rows = corpus.count()
    val out = new JMap[String, Any]()
    out.put("rows", rows)
    for ((name, agg) <- Kernels) {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        corpus.selectExpr(agg).collect()
        System.nanoTime() - t0
      }.sorted
      out.put(name, times(1).toDouble / rows)
    }
    corpus.unpersist(blocking = true)
    out
  }
}
