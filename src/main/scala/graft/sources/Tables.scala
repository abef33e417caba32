package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Typed loaders for the harness parquet fixtures plus the reference's
  * pipe-delimited external-table format (SURVEY.md §1.1, §2.1 S1/S6:
  * `Query 1a/TopKNetProfitDriver.java:61` splits rows on `|`;
  * Software Documentation.pdf gives the Hive `row format delimited
  * fields terminated by '|'` DDL).
  *
  * Scale notes: parquet scans get column pruning + predicate pushdown
  * from Catalyst for free; partition-size is governed by
  * `spark.sql.files.maxPartitionBytes` (the Spark analogue of the
  * reference's `FileInputFormat.setMinInputSplitSize`,
  * `Query 1a/TopKNetProfitDriver.java:219-225`).
  */
object Tables {

  val fixtureNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet loader for a harness fixture table. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** A parquet file or directory, resolved once per session.
    *
    * `spark.read.parquet` lists the files, reads a footer and runs a
    * one-task schema-merge job on EVERY call — fixed overhead paid by
    * every query construction before any query work starts. The
    * resolved `HadoopFsRelation` (file index + inferred schema) is
    * instead memoized under [[sourceKey]]: a rewrite at the same path
    * or a changed schema-inference conf misses the memo and resolves
    * afresh, so the memo never serves a stale corpus. The key is taken
    * BEFORE resolving, so a rewrite racing the resolution can only make
    * the next call resolve again, never pin old files.
    *
    * Every call wraps the relation in a fresh `LogicalRelation`, so
    * each frame gets its own attribute ids and self-joins (two
    * [[nation]] reads in one plan) stay unambiguous. A missing path
    * fails in the plain reader as before; a non-file source (parquet
    * moved to DataSource V2) is read plainly, unmemoized. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = RelationMemo.Key(spark, path, sourceKey(spark, path))
    RelationMemo.get(key).map(spark.baseRelationToDataFrame).getOrElse {
      val df = spark.read.parquet(path)
      df.queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
      }.foreach(RelationMemo.put(key, _))
      df
    }
  }

  /** The leaf files under a path — name, length and mtime — from one
    * Hadoop listing, with no data read. A glob expands the way the
    * parquet reader expands it; the listing is empty when nothing
    * matches. */
  private[graft] final case class Listing(files: Seq[(String, Long, Long)]) {
    def bytes: Long = files.map(_._2).sum
    /** md5 hex over every leaf: any added, removed, resized or
      * re-written file changes it. */
    def fingerprint: String = md5Hex(files.sorted.mkString("\n"))
  }

  private[graft] def listing(spark: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[(String, Long, Long)]
    Option(fs.globStatus(p)).toSeq.flatten.foreach { root =>
      val it = fs.listFiles(root.getPath, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    }
    Listing(files.result())
  }

  /** Session confs parquet schema inference reads. */
  private val SchemaConfPrefixes =
    Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.files.")

  /** Memo key of a parquet source in this session: the [[Listing]]
    * fingerprint plus the values of the schema-inference confs. The one
    * staleness key behind the relation memo and every path-derived
    * memo built on a source (split counts, corpus sizes). */
  private[graft] def sourceKey(spark: SparkSession, path: String): String = {
    val confs = spark.conf.getAll.filter { case (k, _) =>
      SchemaConfPrefixes.exists(k.startsWith) }.toSeq.sorted
    md5Hex(listing(spark, path).fingerprint + confs.mkString("\n", "\n", ""))
  }

  private[graft] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Resolved relations, LRU-bounded across sessions. An entry holds
    * its session, so entries of a stopped `SparkContext` are dropped
    * when the application ends (and on every access), never keeping a
    * stopped session alive. */
  private object RelationMemo {
    final case class Key(session: SparkSession, path: String, source: String)

    private val Capacity = 64
    private val entries: java.util.LinkedHashMap[Key, HadoopFsRelation] =
      new java.util.LinkedHashMap[Key, HadoopFsRelation](16, 0.75f, true) {
        override protected def removeEldestEntry(
            e: java.util.Map.Entry[Key, HadoopFsRelation]): Boolean = size() > Capacity
      }
    private val watched = java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

    def get(k: Key): Option[HadoopFsRelation] = synchronized {
      dropStopped()
      Option(entries.get(k))
    }

    def put(k: Key, rel: HadoopFsRelation): Unit = synchronized {
      dropStopped()
      val sc = k.session.sparkContext
      if (watched.add(sc)) sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          RelationMemo.synchronized(dropStopped())
      })
      entries.put(k, rel)
    }

    private def dropStopped(): Unit =
      entries.keySet.removeIf(_.session.sparkContext.isStopped)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** `events.ts` normalized to a session-UTC `TimestampType` whatever
    * the fixture generation wrote, so every downstream `unix_micros` /
    * window / watermark sees one type:
    *  - TIMESTAMP(NANOS) parquet (early fixtures) is only readable as a
    *    long (`spark.sql.legacy.parquet.nanosAsLong`, set in
    *    Verify/Bench) — convert with exact integer division (`div`,
    *    not `/` — long division through a double would lose precision
    *    above 2^53);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current fixtures)
    *    reads as TIMESTAMP_NTZ — cast to TimestampType, which
    *    reinterprets the naive value in the session zone (pinned UTC
    *    everywhere), i.e. the identical microsecond count.
    * DuckDB reads either encoding as the same naive timestamp, so both
    * engines see identical values. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")

  /** [[documents]] rebalanced to the session's parallelism WHEN the
    * scan plans fewer splits than the cluster has slots — the
    * `Similarity.corpus` rebalance precedent, scoped (r15) to the
    * SKIP-GRAM consumer only: its O(len·W) pair struct-explosion is
    * the one map stage whose per-byte cost dwarfs the exchange at ANY
    * fixture size (measured: `skipgram_pairs` 7.2 → 1.26 s at sf0.1 on
    * a 780 KB table), which is why — unlike `Similarity.corpus` — there
    * is deliberately NO minimum-bytes gate here. The BPE consumers
    * moved back to the plain scan (their next operator is a shuffle
    * anyway; the r14 unconditional use cost `bpe_encode` +0.65 s
    * shipping full text). At real scale the split condition is false
    * (thousands of splits), so no exchange is ever added. Round-robin
    * redistribution cannot change any consumer's result: every consumer
    * aggregates with exact integer arithmetic or sorts
    * deterministically, and the correctness gates compare as sorted
    * multisets. The split-count probe forces physical planning of the
    * scan (an RDD conversion), so it is memoized per session under the
    * table's [[sourceKey]]: a rewritten table or a changed
    * `spark.sql.files.*` split conf re-probes. */
  def documentsBalanced(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = documents(spark, sfDir)
    val target = spark.sparkContext.defaultParallelism
    val memoKey = "spark.graft.internal.docSplits:" +
      sourceKey(spark, s"$sfDir/documents.parquet")
    val splits = spark.conf.getOption(memoKey).map(_.toInt).getOrElse {
      val n = raw.rdd.getNumPartitions
      spark.conf.set(memoKey, n.toString)
      n
    }
    if (splits < target) raw.repartition(target) else raw
  }

  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** lineitem schema for the pipe-delimited text path (format parity with
    * the reference's schema-on-read external tables, SURVEY.md §1.5). */
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Store-like dimension schema exercising the reference's full
    * external-table type surface on the pipe path (Software
    * Documentation.pdf "stores.dat" DDL: decimal(5,2), char(n),
    * varchar(n), date). This is the READ schema — Spark forbids
    * char/varchar in source read schemas, so the id/name columns read
    * as STRING; [[storeDdlSchema]] carries the declared widths for the
    * catalog DDL path. */
  val storeSchema: StructType = StructType(Seq(
    StructField("s_store_sk", LongType),
    StructField("s_store_id", StringType),
    StructField("s_store_name", StringType),
    StructField("s_floor_space", IntegerType),
    StructField("s_tax_percentage", DecimalType(5, 2)),
    StructField("s_rec_start_date", DateType)))

  /** [[storeSchema]] with the reference DDL's CHAR(16)/VARCHAR(50)
    * widths, for `CREATE TABLE` statements (where Spark does accept
    * them and enforces padding/length semantics). */
  val storeDdlSchema: StructType = StructType(storeSchema.fields.map {
    case f if f.name == "s_store_id" => f.copy(dataType = CharType(16))
    case f if f.name == "s_store_name" => f.copy(dataType = VarcharType(50))
    case f => f
  })

  /** S1/S6: read a pipe-delimited text "external table" with a typed
    * schema. PERMISSIVE mode turns malformed cells into nulls, which a
    * downstream `isNotNull` filter then drops — the HiveQL semantics the
    * survey picks as the spec for dirty rows (SURVEY.md §1.4). */
  def readPipeDelimited(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("sep", "|")
      .option("mode", "PERMISSIVE")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema)
      .csv(path)

  /** S4 analogue: pipe-delimited text sink. */
  def writePipeDelimited(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("sep", "|")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  /** S4: tab-separated text sink (the reference's inter-job format,
    * `Query 1a/TopKNetProfitDriver.java:131,228`). */
  def writeTabText(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").csv(path)

  /** S5: gzip-compressed sink (`Query 1b/TopKSoldItemsDriver.java:216`). */
  def writeGzip(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").option("compression", "gzip").csv(path)

  /** JSONL export — the interchange format training stacks ingest (one
    * JSON object per line, gzip-compressed, one file per partition).
    * Pair with `Sharding.shuffleExport`'s shard/split columns via
    * `partitionBy` for a ready-to-train directory layout. */
  def writeJsonl(df: DataFrame, path: String,
                 partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").option("compression", "gzip")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).json(path)
  }

  /** Schema-pinned JSONL reader (inferring would scan twice and can
    * widen types a round-trip must preserve). */
  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink/source — Hive's native columnar format, the natural
    * interchange with the reference's own ecosystem (its tables live in
    * a Hive warehouse). Spark's ORC writer carries the schema, so the
    * reader needs no pinning. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** zstd-compressed parquet — the storage configuration a 100 TB
    * training corpus actually sits in (≈30% smaller than snappy at
    * similar scan speed; splittable, unlike gzip text). */
  def writeParquetZstd(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** S6: external-table DDL — the Spark twin of the reference's
    * `CREATE EXTERNAL TABLE ... row format delimited fields terminated
    * by '|' location ...` (Software Documentation.pdf "stores.dat" DDL):
    * a catalog table over a pipe-delimited directory, queryable by name
    * through `spark.sql`. */
  def createExternalPipeTable(spark: SparkSession, name: String, path: String,
                              schema: StructType): Unit = {
    val cols = schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(
      s"""CREATE TABLE `$name` ($cols)
         |USING CSV
         |OPTIONS (sep '|', timestampFormat 'yyyy-MM-dd HH:mm:ss', mode 'PERMISSIVE')
         |LOCATION '$path'""".stripMargin)
  }

  /** Register every fixture table as a temp view so the declarative
    * `spark.sql` path (the reference's Hive CLI entry point, SURVEY.md
    * §3.3) can run ANSI SQL against the same names the DuckDB oracle
    * uses. */
  def registerAllViews(spark: SparkSession, sfDir: String): Unit = {
    fixtureNames.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
    spark.conf.set(ViewsDirKey, sfDir)
  }

  private val ViewsDirKey = "spark.graft.views.dir"

  /** Idempotent view setup: registers the fixture views only when the
    * session isn't already pointed at `sfDir` AND every view actually
    * exists (the conf flag alone would go stale if other code dropped
    * or shadowed a temp view). Catalog registration is session state,
    * not query work — hoisting it out of the per-query path keeps the
    * declarative `spark.sql` entries measuring the query rather than
    * catalog churn. */
  def ensureViews(spark: SparkSession, sfDir: String): Unit =
    if (!spark.conf.getOption(ViewsDirKey).contains(sfDir) ||
        !fixtureNames.forall(spark.catalog.tableExists))
      registerAllViews(spark, sfDir)

  /** Bucketed persistent table: pre-shuffles by `key` into `buckets`
    * files per partition so repeated joins/aggregations on `key` read
    * co-located data and skip the exchange entirely — the storage-level
    * answer to "this join runs every day on 100 TB". Requires
    * `saveAsTable` (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style partitioned parquet sink: one directory per value of
    * `key` (`key=value/part-*.parquet`), rows range-sorted within each
    * partition by `sortCol`. The write-once / prune-on-read layout for
    * a 100 TB corpus: a reader filtering on `key` touches only the
    * matching directories (partition pruning happens in the catalog,
    * before any file is opened — `.explain` shows `PartitionFilters`,
    * not a post-scan filter), and the within-partition sort gives
    * parquet min/max row-group statistics their best selectivity. */
  def writePartitioned(df: DataFrame, path: String, key: String, sortCol: String): Unit = {
    // sort by (key, sortCol): the writer REQUIRES ordering by the
    // partition column and would re-sort every partition if given
    // sortCol alone — this satisfies it in one sort and makes the
    // within-partition sortCol order guaranteed, not TimSort-stability
    // luck
    val f = org.apache.spark.sql.functions
    df.repartition(f.col(key))
      .sortWithinPartitions(f.col(key), f.col(sortCol))
      .write.mode("overwrite")
      .partitionBy(key)
      .parquet(path)
  }

  /** S2 analogue: scan partition-size control. On a real cluster this
    * bounds bytes-per-task like the reference's min-split tuning. */
  def withMaxPartitionBytes[A](spark: SparkSession, bytes: Long)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
