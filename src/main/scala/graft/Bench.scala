package graft
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    // benchmark under the same planning-time cartesian guard Verify runs
    val spark = GraftSession.local(cpus)
    // optional session confs for scale experiments, recorded in the
    // output JSON (a bench run measures wall-clock, not oracle
    // equality, so knobs are fair here):
    //   SPARK_GRAFT_CONF="spark.graft.ivf.k=auto"
    val confOverrides = GraftSession.applyConfOverrides(spark)
    // Box-speed control (r15, hardened r16): inter-round bench totals
    // have repeatedly drifted with HOST state, not code — r14
    // adjudicated a +26% drift by rebuilding r12's code, and r15
    // measured the same box at 0.69 vs 1.51 s on an identical
    // single-core loop minutes apart. Every bench run self-records a
    // deterministic single-core integer probe (xorshift, JIT-warmed)
    // before/mid/after the passes AND once per ~25-query block within
    // each pass, so ANY query's number can be normalized by a probe
    // taken near it in time (r15 verdict item 2: intra-run noise
    // bursts were invisible at run granularity). Each probe point is
    // the MIN of 3 shorter runs (same total cost): a single 500M-step
    // sample can land in a transient scheduler stall, and
    // normalization should divide by box speed, not by one scheduling
    // accident (r15 verdict item 7).
    val probeSteps = 166666667 // 3 × this ≈ the r15 500M-step budget
    var probeSink = 0L // read below: the JIT cannot fold the loops away
    def probeOnce(): Double = {
      // seed is data-dependent (nanoTime) and the result feeds probeSink,
      // so a future JIT cannot constant-fold the xorshift chain (ADVICE
      // r15: a folded loop would silently report ~0 and corrupt every
      // cross-round normalization)
      var x = System.nanoTime() | 1L
      var i = 0
      val t0 = System.nanoTime()
      while (i < probeSteps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      probeSink ^= x
      // scale to the r15-comparable per-500M-step unit
      dt * (500000000.0 / probeSteps)
    }
    def cpuProbe(): Double = Seq(probeOnce(), probeOnce(), probeOnce()).min
    cpuProbe() // discarded JIT warmup
    val probeBefore = cpuProbe()
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case e: Throwable =>
          // a failed query is the -1 sentinel in the JSON; the CAUSE goes
          // to stderr (a silent -1 across the board cost r11 a bench run)
          System.err.println(s"BENCH query failed: ${e.getClass.getName}: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Two passes; BOTH are recorded per query (queries_pass1/2 in the
    // JSON — a cross-round adjudication needs to see whether a slow
    // number was slow in one pass or both), and the headline per-query
    // map stays the min (the first pass absorbs JVM/codegen/scan warmup
    // that would otherwise bill whichever query runs first). A -1
    // (error) stays -1. Within each pass a block probe fires every
    // [[blockSize]] queries, keyed by the first query of the block. Each
    // query also records the classes Spark's code generator compiled
    // while it ran (code-cache misses).
    val names = SparkEntry.queries.keys.toSeq.sorted
    val blockSize = 25
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def runPass(): (Map[String, Double], Seq[(String, Double)], Map[String, Long]) = {
      val times = Map.newBuilder[String, Double]
      val blockProbes = Seq.newBuilder[(String, Double)]
      val compiles = Map.newBuilder[String, Long]
      names.grouped(blockSize).foreach { block =>
        blockProbes += block.head -> cpuProbe()
        block.foreach { n =>
          val c0 = compiled()
          times += n -> timeOnce(SparkEntry.queries(n))
          compiles += n -> (compiled() - c0)
        }
      }
      (times.result(), blockProbes.result(), compiles.result())
    }
    // metaspace in use (MB): generated classes live there, so its growth
    // is what the code cache's size costs
    def metaspaceMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed / 1e6).sum
    val metaStart = metaspaceMb()
    val (pass1, blocks1, compiles1) = runPass()
    val metaPass1 = metaspaceMb()
    // drop persisted intermediates so pass 2 measures true recompute,
    // not cache reads (clearCache covers persisted plans; reset drops
    // the memoized checkpoint frames, which clearCache cannot see)
    spark.catalog.clearCache()
    graft.operators.Materialize.reset(spark)
    val probeMid = cpuProbe()
    val (pass2, blocks2, compiles2) = runPass()
    val metaPass2 = metaspaceMb()
    val results = names.map { n =>
      val (t1, t2) = (pass1(n), pass2(n))
      n -> (if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2))
    }
    val probeAfter = cpuProbe()
    if (probeSink == 42L) System.err.println("probe") // keep probeSink live
    // conf override VALUES are user-supplied and may contain quotes or
    // backslashes; query names are identifiers but get the same escape
    import Json.{quote => q}
    val qs = results.map { case (k, v) => q(k) + ":" + v }
      .mkString("{", ",", "}")
    // a failed query is the -1.0 sentinel in the per-query map; it must
    // NOT be summed into the total (it would silently SHRINK it) — the
    // total covers successful queries and failures are listed by name
    val errs = results.collect { case (k, v) if v < 0 => q(k) }
      .mkString("[", ",", "]")
    // Exact/super-linear-baseline bucket (PLANS.md r12 bench policy,
    // widened r13): registrations that are super-linear at scale BY
    // DESIGN — the two brute-force kNN baselines (O(|Q|·n·dim)) and
    // the FIXED-k=8 IVF route (n/8 vectors per probed cell grows
    // linearly with the corpus; `knn_label_ivf_auto` is the √n-flat
    // scale shape and stays in the headline). These are the documented
    // baselines the serving paths are graded AGAINST — at sf>=10 they
    // dominate wall-clock while saying nothing about the serving
    // paths' scaling. They always RUN and are always reported, with
    // their own subtotal; the headline stays all-inclusive so
    // round-over-round totals stay comparable.
    val exactBaseline = Set("knn_label", "sql_knn_label", "knn_label_ivf")
    val exactTotal = results.collect {
      case (k, v) if exactBaseline(k) && v >= 0 => v }.sum
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val exactJson = {
      val m = results.collect { case (k, v) if exactBaseline(k) => q(k) + ":" + v }
        .mkString("{", ",", "}")
      s"""{"queries":$m,"total":$exactTotal,"policy":"included-in-headline"}"""
    }
    // Build-phase bucket (ADVICE r14): `pq_build` is a deliberate alias
    // of `pq_encode` registered so alphabetical sweeps bill the pqIndex
    // materialization to it and the serving queries measure warm. That
    // double-counts one result set in the registry, so aggregate
    // cross-round statistics (per-query means, family subtotals) should
    // read this bucket and exclude it. It stays in the headline total
    // by default for round-over-round comparability (same policy knob
    // shape as the exact-baseline bucket).
    val buildPhase = Set("pq_build", "pq_build_residual", "bpe_build", "bpe_build_scaled")
    val buildTotal = results.collect {
      case (k, v) if buildPhase(k) && v >= 0 => v }.sum
    val buildJson = {
      val m = results.collect { case (k, v) if buildPhase(k) => q(k) + ":" + v }
        .mkString("{", ",", "}")
      s"""{"queries":$m,"total":$buildTotal,"policy":"included-in-headline; exclude from per-query aggregate stats"}"""
    }
    val conf = confOverrides.map(q).mkString("[", ",", "]")
    // probes print through a fixed %.6f format: raw Double.toString emits
    // exponent notation below 1e-3 (e.g. a pathological folded probe),
    // which the strict JSON grammar rejects (ADVICE r15)
    def pf(v: Double): String = f"$v%.6f"
    def probeMap(ps: Seq[(String, Double)]): String =
      ps.map { case (k, v) => q(k) + ":" + pf(v) }.mkString("{", ",", "}")
    val probeJson =
      s"""{"before":${pf(probeBefore)},"mid":${pf(probeMid)},"after":${pf(probeAfter)},"blocks_pass1":${probeMap(blocks1)},"blocks_pass2":${probeMap(blocks2)},"unit":"sec per 500M xorshift steps, single core, min of 3; block keys = first query of each 25-query block"}"""
    def passMap(m: Map[String, Any]): String =
      names.map(n => q(n) + ":" + m(n)).mkString("{", ",", "}")
    val compilesJson = s"""{"pass1":${passMap(compiles1)},"pass2":${passMap(compiles2)}}"""
    val metaJson = s"""{"start":${pf(metaStart)},"pass1":${pf(metaPass1)},"pass2":${pf(metaPass2)}}"""
    // self-identify the parallelism contract (r16 verdict item 1: the
    // driver's suspect_cpus_ignored heuristic fired because the JSON
    // carried no evidence the env var reached Spark — emit the resolved
    // core count AND the master string the session actually runs with)
    val masterStr = spark.sparkContext.master
    val json = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"master":${q(masterStr)},"errors":$errs,"conf":$conf,"cpu_probe":$probeJson,"exact_baseline":$exactJson,"build_phase":$buildJson,"queries":$qs,"queries_pass1":${passMap(pass1)},"queries_pass2":${passMap(pass2)},"sf":"$sfDir","codegen_compiles":$compilesJson,"metaspace_mb":$metaJson}"""
    println(json)
    // Also persist to the repo: the driver captures the stdout tail,
    // which truncates the per-query map once the registry is this big
    // (r7 lost 53 of 119 numbers) — the file is the complete record.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val outPath = java.nio.file.Paths.get(out).toAbsolutePath
      java.nio.file.Files.write(outPath, (json + "\n").getBytes("UTF-8"))
      // round-stamped copy, so every round's FULL per-query record is
      // versioned even though the driver's stdout tail-capture truncates:
      // the driver's own BENCH_r<N>.json siblings identify the round in
      // progress (max existing N + 1)
      val dir = outPath.getParent
      val R = "BENCH_r(\\d+)\\.json".r
      val prev = dir.toFile.list() match {
        case null => Seq.empty[Int]
        case fs => fs.toSeq.collect { case R(n) => n.toInt }
      }
      if (prev.nonEmpty) {
        val stamped = dir.resolve(f"bench_out_r${prev.max + 1}%02d.json")
        java.nio.file.Files.write(stamped, (json + "\n").getBytes("UTF-8"))
      }
    }
    catch { case e: Throwable => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
  }
}
