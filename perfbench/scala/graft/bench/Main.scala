package graft.bench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.{GraftConf, SparkEntry}
import graft.operators.RefQueries

/** One benchmark run of graft in a single JVM.
  *
  *   Main <workload> <dataDir> <runDir> <seconds> <trace 0|1> <seed>
  *
  * The run sets a `local[cores]` session up once in a fresh JVM (session
  * start, view registration, a first query) and runs [[WarmupPasses]]
  * untimed passes: together the cold set-up. Then it runs whole passes
  * of the workload's operations as a closed loop with one client until
  * `seconds` have passed. Each operation is timed from the call into
  * graft's public function to the end of `collect()`. Results are kept and
  * written under `<runDir>/check` after the window, for the caller to
  * compare against the DuckDB oracle. With trace 1 a [[Tracer]] records
  * jobs, stages and Catalyst phases, and the kernel probe times graft's
  * native functions per row. Everything goes to `<runDir>/run.json`.
  */
object Main {

  /** One operation: what the client calls, its parameters, and the
    * oracle SQL its result must equal (null when checked otherwise). */
  case class Op(name: String, params: Map[String, Any], oracle: String,
                run: SparkSession => DataFrame)

  private val json = new ObjectMapper()

  def session(cpus: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.NoCartesianGuard.install(spark)
    spark.conf.set(GraftConf.NoCartesianGuardKey, "true")
    spark
  }

  // ---------------------------------------------------------------- workloads

  private val TopKShapes = Seq("q1a", "q1b", "q1c", "q2",
    "q3_shipping_priority", "q9_product_profit", "q18_large_orders")

  /** One pass of `topk_adhoc`: every shape once, in seeded order, the
    * four reference shapes each with a seeded K and date window. */
  def topkPass(rnd: Random, dir: String): Seq[Op] = rnd.shuffle(TopKShapes).map {
    case ref if ref.length <= 3 =>
      val k = 5 + rnd.nextInt(96)
      val from = LocalDate.of(1995, 1, 1).plusDays(rnd.nextInt(2200).toLong)
      val start = from.toString
      val end = from.plusDays(30L + rnd.nextInt(700)).toString + " 23:59:59"
      val p = Map[String, Any]("k" -> k, "start" -> start, "end" -> end)
      ref match {
        case "q1a" => Op(ref, p, RefQueries.q1aSqlWith(k, start, end),
          s => RefQueries.q1aTopRevenue(s, dir, k, start, end))
        case "q1b" => Op(ref, p, RefQueries.q1bSqlWith(k, start, end),
          s => RefQueries.q1bTopQuantity(s, dir, k, start, end))
        case "q1c" => Op(ref, p, RefQueries.q1cSqlWith(k, start, end),
          s => RefQueries.q1cRevenueByDate(s, dir, k, start, end))
        case _ => Op(ref, p, RefQueries.q2SqlWith(k, start, end),
          s => RefQueries.q2SupplierRevenueJoin(s, dir, k, start, end))
      }
    case name => registryOp(name, dir)
  }

  def registryOp(name: String, dir: String): Op =
    Op(name, Map.empty, SparkEntry.oracleSql.getOrElse(name, null),
      s => SparkEntry.queries(name)(s, dir))

  /** The fixed slice of the registry `registry_sweep` times: every
    * [[RegistryStride]]-th entry by name, so every run covers the same
    * queries. Seven queries keep a cold pass near 15 s and a warm one
    * near 4.5 s, so set-up and about four timed passes fit a run; an odd
    * count keeps the median on one query's samples rather than between
    * two. */
  lazy val registrySlice: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % RegistryStride == 0 => n }

  // ---------------------------------------------------------------- run

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, runDir, secondsArg, traceArg, seedArg) = args
    val (seconds, trace) = (secondsArg.toDouble, traceArg == "1")
    val rnd = new Random(seedArg.toLong)
    val cpus = Runtime.getRuntime.availableProcessors
    val out = new JMap[String, Any]()
    val host = new JMap[String, Any]()
    host.put("nproc", cpus)
    host.put("jvm_flags", java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments)
    host.put("probe_before_s", Probe.cpuProbe())

    def pass(): Seq[Op] = workload match {
      case "topk_adhoc" => topkPass(rnd, dir)
      case "registry_sweep" => rnd.shuffle(registrySlice).map(registryOp(_, dir))
    }

    val phase = new JMap[String, Any]()
    var mark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      phase.put(name, (now - mark) / 1e9)
      mark = now
    }

    // the cold set-up: a session in this fresh JVM, the fixture views
    // and a first result (the registered q1a), which every workload
    // shares; then untimed passes, so every operation in the window
    // runs warm
    val setup0 = System.nanoTime()
    val spark = session(cpus, runDir)
    graft.sources.Tables.fixtureNames.foreach { t =>
      graft.sources.Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    SparkEntry.queries("q1a_top_revenue")(spark, dir).collect()
    lap("session")
    val passS = (1 to WarmupPasses).map { _ =>
      val t0 = System.nanoTime()
      pass().foreach(_.run(spark).collect())
      (System.nanoTime() - t0) / 1e9
    }
    lap("warmup")
    out.put("setup_s", (System.nanoTime() - setup0) / 1e9)
    out.put("warmup_pass_s", passS.asJava)
    host.put("master", spark.sparkContext.master)

    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }

    // the measured window: whole passes while time is left, so every
    // operation of the pass is sampled equally often
    val anchorMs = System.currentTimeMillis().toDouble
    val anchorNs = System.nanoTime()
    def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
    val ops = new JList[JMap[String, Any]]()
    // per operation name: the result schema (op index first) and rows
    val checks = scala.collection.mutable.LinkedHashMap[String, (StructType, JList[Row])]()
    val deadline = anchorNs + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      for (op <- pass()) {
        sc.setLocalProperty(Tracer.OpKey, i.toString)
        val rec = new JMap[String, Any]()
        rec.put("i", i)
        rec.put("name", op.name)
        rec.put("params", op.params.asJava)
        rec.put("oracle", op.oracle)
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        try {
          val df = op.run(spark)
          val tb = System.nanoTime()
          val rows = df.collect()
          val t1 = System.nanoTime()
          rec.put("build_ms", epochMs(tb))
          rec.put("end_ms", epochMs(t1))
          rec.put("rows", rows.length)
          rec.put("ok", true)
          val (_, kept) = checks.getOrElseUpdate(op.name, (StructType(
            StructField("bench_op", IntegerType, nullable = false) +: df.schema.fields),
            new JList[Row]()))
          rows.foreach(r => kept.add(Row.fromSeq(i +: r.toSeq)))
        } catch {
          case e: Throwable =>
            rec.put("end_ms", epochMs(System.nanoTime()))
            rec.put("ok", false)
            rec.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        }
        rec.put("start_ms", epochMs(t0))
        rec.put("codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
        sc.setLocalProperty(Tracer.OpKey, null)
        // what the session holds once the operation is done
        rec.put("retained_mb", sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6)
        rec.put("memo_views", spark.catalog.listTables().collect()
          .count(_.name.startsWith("graft_ckpt_")))
        ops.add(rec)
        i += 1
      }
    }
    out.put("window_s", (System.nanoTime() - anchorNs) / 1e9)
    out.put("ops", ops)
    lap("window")

    tracer.foreach { t =>
      // let the listener bus deliver the window's last events
      val waitEnd = System.nanoTime() + 10000000000L
      while (System.nanoTime() < waitEnd &&
          (t.jobsOpen > 0 || System.nanoTime() - t.lastEventNs < 300000000L))
        Thread.sleep(50)
      out.put("trace", t.dump())
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      lap("drain")
      out.put("functions", KernelProbe.run(spark, dir))
      lap("functions")
    }

    // results for the oracle check, written after the window
    checks.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$runDir/check/$name")
    }
    lap("check_write")
    out.put("phase_s", phase)
    host.put("probe_after_s", Probe.cpuProbe())
    out.put("host", host)
    Files.write(Paths.get(runDir, "run.json"), json.writeValueAsBytes(out))
    spark.stop()
  }

  // Passes keep getting faster for about six passes while the JIT
  // compiles Catalyst and Janino: the first takes two to three times
  // as long as a warm one, the second about 1.3 times, and later ones
  // gain a few percent each, too little to pay for in set-up time.
  val WarmupPasses = 2
  val RegistryStride = 38
}
