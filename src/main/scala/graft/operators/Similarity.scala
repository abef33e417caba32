package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumns.{column, expression}
import graft.functions.DotLong
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`ArrayType(FloatType)`
  * vectors): brute-force cosine top-K as the correctness baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Numeric design: vectors are quantized to exact integers
  * (round(x * 1e6) as long) so dot products and squared norms are exact
  * 64-bit integer sums — order-independent, overflow-free (64 dims ×
  * (1e7)² ≈ 6.4e15 < 2^63), and bit-identical in the DuckDB oracle. The
  * only floating-point steps are two correctly-rounded sqrts, one
  * multiply, and one divide — a fixed IEEE tree, identical everywhere.
  * Everything is Catalyst higher-order functions — no UDFs.
  *
  * Scale design: squared norms are computed ONCE per vector on the scan
  * side (not per candidate pair); the query vector joins via broadcast
  * (one row), so brute-force is a single scan + TakeOrderedAndProject.
  * The ANN variants bucket the corpus by random-hyperplane sign bits in
  * [[AnnTables]] independent hash tables whose per-table bit count
  * grows with the corpus ([[annPlanesFor]]), so bucket occupancy — and
  * with it candidate-pair work — stays bounded per vector at any scale;
  * at cluster scale the (tbl, bucket) id is the shuffle key.
  */
/** One coarse-quantizer centroid in driver-side form — the element type
  * of the [[Similarity.centsLit]] plan literal (field names must stay
  * `cid`/`cq`/`cn2`: the `ivf_probes` kernel resolves them by name). */
case class CentLit(cid: Long, cq: Seq[Long], cn2: Long)

object Similarity {

  val Dims = 64
  val QueryVecId = 0L
  val TopK = 10

  /** Every [[KnnQueryMod]]-th vector is held out as an unlabeled query
    * for [[knnLabel]]; the rest are the labeled reference corpus.
    * Declared up here with the other object-initialization-order-
    * sensitive constants: `trainedCellsSqlFor` interpolates it into
    * the `assigned` CTE, and strict vals like `ivfTrainedTopKSql`
    * evaluate that during <clinit> (the `% 0` trap the lazy
    * `knnCellIndexIncrementalSql` documents). */
  val KnnQueryMod = 25L

  /** Multi-table LSH geometry. Each of [[AnnTables]] independent hash
    * tables packs [[annPlanesFor]]-many hyperplane sign bits into a
    * bucket id; candidates are vectors sharing a bucket in ANY table
    * (OR-probing). The bit count per table GROWS with the corpus —
    * 2^planes ≈ n / [[AnnBucketTarget]], clamped — so expected bucket
    * occupancy stays ~constant and candidate work stays O(n · tables ·
    * occupancy) instead of the n²/2^k all-pairs a fixed bucket count
    * degenerates to. More tables buy recall, not quadratic work. */
  val AnnTables = 4
  val AnnMinPlanes = 4
  val AnnMaxPlanes = 20
  val AnnBucketTarget = 32

  /** Bits per table for a corpus of n vectors: the bit-length of
    * (n-1)/target, clamped to [min, max]. Integer-exact (no float log),
    * so the DuckDB twin `length(bin(...))` agrees at every n. */
  def annPlanesFor(n: Long): Int = {
    val bits = java.lang.Long.toBinaryString(math.max(0L, (n - 1) / AnnBucketTarget)).length
    math.min(AnnMaxPlanes, math.max(AnnMinPlanes, bits))
  }

  /** Plane count for a corpus dir: `spark.graft.ann.planes` if set
    * (runtime override, same channel as GraftConf), else derived from
    * the corpus row count ONCE per (session, table version) — the
    * count is parquet-footer metadata, but there is no reason to re-run
    * even that job on every query construction. The memo lives in the
    * session's own conf (`spark.graft.ann.planes.derived:<sourceKey>`),
    * NOT a static map: nothing outlives or pins the session, and the
    * cached value is user-visible. The key is the table's
    * [[Tables.sourceKey]], so a corpus rewritten at the same path
    * re-derives from a fresh count. */
  private def annPlanes(spark: SparkSession, sfDir: String): Int =
    spark.conf.getOption(graft.GraftConf.AnnPlanesKey).map(_.toInt).getOrElse {
      val memoKey = s"${graft.GraftConf.AnnPlanesKey}.derived:" +
        Tables.sourceKey(spark, s"$sfDir/embeddings.parquet")
      spark.conf.getOption(memoKey).map(_.toInt).getOrElse {
        val p = annPlanesFor(Tables.embeddings(spark, sfDir).count())
        spark.conf.set(memoKey, p.toString)
        p
      }
    }

  /** Exact integer quantization of a float vector. */
  /** Fixed-point quantization via the native [[graft.functions
    * .QuantizeLong]] kernel — value-identical to the previous
    * `transform(v, x => round(x.cast("double") * 1000000.0)
    * .cast("long"))` higher-order form (same widen, same BigDecimal
    * HALF_UP round, same cast, nulls preserved), but one primitive
    * loop instead of an interpreted per-element `Round` that allocates
    * a BigDecimal per element per row on every corpus scan. */
  private[graft] def quantize(v: Column): Column =
    column(graft.functions.QuantizeLong(expression(v)))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen'd [[DotLong]] kernel. */
  private[graft] def dotQ(a: Column, b: Column): Column =
    column(DotLong(expression(a), expression(b)))

  /** Cosine from a precomputed integer dot and two precomputed integer
    * squared norms: a fixed IEEE sqrt/multiply/divide tree. */
  private[graft] def cosineFrom(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** Corpus projection: quantized vector + its squared norm, computed
    * once on the scan side.
    *
    * Embedding tables are BYTE-dense and COMPUTE-heavy: at sf10 the
    * 200 k-vector table is ~50 MB on disk — one default 128 MB scan
    * split — which would run every downstream n×k×dim kernel pass on
    * ONE core of local[32] (measured, PLANS.md). When the scan plans
    * fewer splits than the cluster has slots AND the table is big
    * enough that the kernel passes dominate the exchange (the bytes
    * gate — at fixture scale a sub-MB table on one split finishes a
    * full kernel pass faster than a 32-way shuffle round-trip,
    * measured as the r10 1.3–1.7× kNN/ANN drift, PLANS.md), rebalance
    * once; at real scale (thousands of splits) the split condition is
    * false and no exchange is added. The bytes gate reads parquet FILE
    * SIZES (one FS listing per call, [[embedBytes]]) — no job, no
    * RDD materialization on the small-table path. Round-robin
    * redistribution cannot change any result: every consumer
    * aggregates with commutative exact arithmetic or sorts
    * deterministically. */
  /** Rebalance only pays past this scan size: below it the exchange
    * costs more than the single-split kernel pass it parallelizes
    * (r10 drift adjudication, PLANS.md). 16 MB ≈ an eighth of a
    * default split — sf10's 50 MB table clears it, sf0.1's 780 KB
    * fixture does not. */
  private[graft] val RebalanceMinBytes = 16L << 20

  /** Total parquet bytes of the embeddings table, from the same leaf
    * listing that keys the table's relation memo (one driver-side FS
    * listing, no data read). Read fresh on every call, so a corpus
    * grown mid-session is seen at once. */
  private[graft] def embedBytes(spark: SparkSession, sfDir: String): Long =
    Tables.listing(spark, s"$sfDir/embeddings.parquet").bytes

  private[graft] def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.embeddings(spark, sfDir)
    val target = spark.sparkContext.defaultParallelism
    val balanced =
      if (embedBytes(spark, sfDir) >= RebalanceMinBytes &&
          raw.rdd.getNumPartitions < target) raw.repartition(target) else raw
    balanced
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("q"))
      .withColumn("n2", dotQ(col("q"), col("q")))
  }

  /** ±1 hyperplane components, derived from md5 at PLAN BUILD time (pure
    * Scala, same md5 the SQL twin would see) and inlined as literals —
    * zero per-row hashing at runtime. */
  def planeSigns(plane: Int, dims: Int = Dims): Seq[Int] = {
    (0 until dims).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$plane:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1 else -1
    }
  }

  /** All [[AnnTables]] bucket ids of a quantized vector in ONE fused
    * pass: the native [[graft.functions.AnnBuckets]] kernel, with the
    * ±1 plane components flattened into a single foldable literal.
    * Bit-for-bit the same packing as one dot-product + threshold per
    * (table, plane) — which is how the DuckDB twin still computes it —
    * but the vector is read once per row instead of tables × planes
    * times, and the generated code is one expression instead of ~240
    * (measured ~0.3 s off sim_ann_topk's first run at sf0.1, where
    * codegen compile time dominates). Tables are independent: table t
    * consumes planes t·AnnMaxPlanes … t·AnnMaxPlanes+planes-1. */
  private def bucketArray(q: Column, planes: Int): Column = {
    val flat = (0 until AnnTables).flatMap(t =>
      (0 until planes).flatMap(p => planeSigns(t * AnnMaxPlanes + p).map(_.toLong)))
    // a null vector lands in bucket 0 of every table — the semantics of
    // the per-plane composition this kernel replaced (null dot → CASE
    // else-branch → all bits 0), which the SQL twins still compute; the
    // kernel itself returns null for null input, so coalesce here
    coalesce(
      column(graft.functions.AnnBuckets(expression(q), expression(lit(flat.toArray)),
        Literal(planes), Literal(AnnTables))),
      array((0 until AnnTables).map(_ => lit(0L)): _*))
  }

  /** Slim (vec_id, tbl, bucket) rows — one per vector per hash table.
    * Like the dedup band rows, these deliberately carry NOTHING but the
    * id and the key: bucket joins must never ship vector payloads. */
  private[graft] def bucketRows(embQ: DataFrame, planes: Int): DataFrame = {
    embQ.select(col("vec_id"),
      posexplode(bucketArray(col("q"), planes)).as(Seq("tbl", "bucket")))
  }

  /** Distinct candidate pairs sharing a bucket in at least one table —
    * the scale-bounded substitute for the n²/2 cross product. Input
    * must have (vec_id, q) columns with q already quantized. */
  private[graft] def candidatePairs(embQ: DataFrame, planes: Int): DataFrame = {
    val buckets = bucketRows(embQ, planes)
    buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** Brute-force cosine top-K against the query vector (vec_id = 0):
    * one broadcast of the single query row, one scan of the corpus, one
    * TakeOrderedAndProject — no shuffle of the corpus. */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpus(spark, sfDir)
    val query = emb.where(col("vec_id") === QueryVecId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    emb.join(broadcast(query))
      .where(col("vec_id") =!= QueryVecId)
      .select(col("vec_id"), col("label"),
        cosineFrom(dotQ(col("q"), col("qq")), col("n2"), col("qn2")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** Shared SQL scaffolding: quantized vectors + squared norms. */
  private val quantizeSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

  private[graft] def dotQSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Dims + 1}), i -> $a[i] * $b[i]))"

  private[graft] def cosineFromSql(dot: String, n2a: String, n2b: String): String =
    s"CAST($dot AS DOUBLE) / (sqrt(CAST($n2a AS DOUBLE)) * sqrt(CAST($n2b AS DOUBLE)))"

  private[graft] val corpusSql =
    s"""e0 AS (SELECT vec_id, label, $quantizeSql AS q FROM embeddings),
       |e AS (SELECT vec_id, label, q, ${dotQSql("q", "q")} AS n2 FROM e0)""".stripMargin

  val cosineTopKSql: String =
    s"""WITH $corpusSql,
       |qv AS (SELECT q AS qq, n2 AS qn2 FROM e WHERE vec_id = $QueryVecId)
       |SELECT e.vec_id, e.label, ${cosineFromSql(dotQSql("e.q", "qv.qq"), "e.n2", "qv.qn2")} AS cos_sim
       |FROM e, qv
       |WHERE e.vec_id <> $QueryVecId
       |ORDER BY cos_sim DESC, e.vec_id ASC
       |LIMIT $TopK""".stripMargin

  /** The 4×20 ±1 plane components as one nested SQL list literal,
    * indexed [tbl+1][p+1][i] in the twin queries. */
  private def signsSqlLiteral: String =
    (0 until AnnTables).map { t =>
      (0 until AnnMaxPlanes).map { p =>
        planeSigns(t * AnnMaxPlanes + p).mkString("[", ", ", "]")
      }.mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")

  /** SQL scaffolding shared by the ANN twins: the plane count derived
    * from COUNT(*) with the same integer bit-length formula as
    * [[annPlanesFor]], and per-(vector, table) bucket ids. The nested
    * signs literal is hoisted into the tiny `sg` CTE (one row per
    * (table, plane)) — referencing it inside the per-element lambda
    * makes DuckDB rebuild the whole 5120-element list per element. */
  private def annSqlPrefix: String =
    s"""$corpusSql,
       |nn AS (SELECT LEAST($AnnMaxPlanes, GREATEST($AnnMinPlanes,
       |                    length(bin(GREATEST(COUNT(*) - 1, 0) // $AnnBucketTarget)))) AS planes FROM e),
       |sg AS (SELECT t.range AS tbl, p.range AS p, ($signsSqlLiteral)[t.range + 1][p.range + 1] AS signs
       |       FROM range($AnnTables) t, range($AnnMaxPlanes) p, nn WHERE p.range < nn.planes),
       |bits AS (SELECT e.vec_id, sg.tbl, sg.p,
       |                CASE WHEN list_sum(list_transform(range(1, ${Dims + 1}), i -> e.q[i] * sg.signs[i])) >= 0
       |                     THEN (CAST(1 AS BIGINT) << sg.p) ELSE 0 END AS bit
       |         FROM e, sg),
       |eb AS (SELECT vec_id, tbl, CAST(SUM(bit) AS BIGINT) AS bucket FROM bits GROUP BY vec_id, tbl)""".stripMargin

  /** ANN top-K: probe the query's bucket in each hash table, take the
    * OR-union of bucket-mates as the candidate set, then score ONLY the
    * candidates. Candidate discovery runs on the slim bucket rows and
    * the candidate id list broadcasts back onto the corpus scan, so the
    * corpus itself is never shuffled and never pairwise-compared. */
  def annTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpus(spark, sfDir)
    val planes = annPlanes(spark, sfDir)
    val buckets = bucketRows(emb, planes)
    // Multi-probe (Lv et al., VLDB'07): probe the query's own bucket
    // PLUS every bucket within Hamming distance ≤ 2 (each sign bit
    // flipped once, each pair flipped once) in each table —
    // 1 + planes + C(planes,2) probes/table instead of 1. On weakly
    // clustered data a near neighbor disagrees with the query on one
    // or two planes per table far more often than on zero, so this
    // buys the recall of ~planes²× more tables WITHOUT growing the
    // index or the corpus-side work: the probe list is query-side
    // only (grows O(log² n) with the corpus via the plane count),
    // candidates stay tables·probes·occupancy — at n = 10⁹ that is
    // 4·211·32 ≈ 27 k candidates scored, vs the corpus's 10⁹.
    // Measured at sf0.1 (6 planes, true top-10 at cosine ≈ 0.31, i.e.
    // near-random data): recall@10 0.0 (single-probe) → 0.4
    // (Hamming ≤ 1) → 1.0 (Hamming ≤ 2; sf0.01 also 1.0 — at fixture
    // scale the probe set covers most buckets, at 10⁹ rows it covers
    // ~27 k of them). The PAIRWISE path
    // ([[candidatePairs]]) deliberately stays single-probe: its
    // consumers look for near-duplicates, whose tiny angles make
    // zero-disagreement collisions the common case.
    val flips: Seq[Column] = {
      val one = (0 until planes).map(p => lit(1L << p))
      val two = for { i <- 0 until planes; j <- i + 1 until planes }
        yield lit((1L << i) | (1L << j))
      (one ++ two).map(m => col("bucket").bitwiseXOR(m))
    }
    val qb = buckets.where(col("vec_id") === QueryVecId)
      .select(col("tbl").as("qtbl"),
        explode(array(col("bucket") +: flips: _*)).as("qbucket"))
    val cand = buckets.join(broadcast(qb),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket"))
      .where(col("vec_id") =!= QueryVecId)
      .select(col("vec_id")).distinct()
    val query = emb.where(col("vec_id") === QueryVecId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    emb.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(query))
      .select(col("vec_id"), col("label"),
        cosineFrom(dotQ(col("q"), col("qq")), col("n2"), col("qn2")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(TopK)
  }

  val annTopKSql: String =
    s"""WITH $annSqlPrefix,
       |qb AS (SELECT tbl, bucket FROM eb WHERE vec_id = $QueryVecId),
       |qp AS (SELECT tbl, bucket FROM qb
       |       UNION
       |       SELECT qb.tbl, xor(qb.bucket, CAST(1 AS BIGINT) << p.range) AS bucket
       |       FROM qb, range($AnnMaxPlanes) p, nn WHERE p.range < nn.planes
       |       UNION
       |       SELECT qb.tbl, xor(qb.bucket, (CAST(1 AS BIGINT) << i.range) | (CAST(1 AS BIGINT) << j.range)) AS bucket
       |       FROM qb, range($AnnMaxPlanes) i, range($AnnMaxPlanes) j, nn
       |       WHERE i.range < j.range AND j.range < nn.planes),
       |cand AS (SELECT DISTINCT eb.vec_id
       |         FROM eb JOIN qp ON eb.tbl = qp.tbl AND eb.bucket = qp.bucket
       |         WHERE eb.vec_id <> $QueryVecId),
       |qv AS (SELECT q AS qq, n2 AS qn2 FROM e WHERE vec_id = $QueryVecId)
       |SELECT e.vec_id, e.label, ${cosineFromSql(dotQSql("e.q", "qv.qq"), "e.n2", "qv.qn2")} AS cos_sim
       |FROM e JOIN cand ON e.vec_id = cand.vec_id, qv
       |ORDER BY cos_sim DESC, e.vec_id ASC
       |LIMIT $TopK""".stripMargin

  /** IVF-style ANN: a coarse quantizer partitions the corpus into cells
    * (nearest of NumCentroids probe vectors by exact integer squared
    * distance, ties to the smallest centroid id); the query searches
    * only its NumProbes nearest cells. At scale the assignment is the
    * classic IVF build — NumCentroids dot products per vector against
    * broadcast centroids, map-side — and the cell id becomes the
    * partition key, so a query touches NumProbes/NumCentroids of the
    * data. Centroids here are fixed probe vectors (vec_id 1..16) to
    * keep the operator deterministic and oracle-able; a production
    * build would plug k-means centroids into the same plan. */
  val NumCentroids = 16
  val NumProbes = 4

  /** The whole coarse quantizer as ONE constant-folded plan literal:
    * an array of (cid, cq, cn2) structs, collected to the driver
    * (k rows — the bounded, documented centroid collect) and inlined.
    * Cell assignment against it is a per-row kernel call, so the build
    * side of IVF needs ZERO exchanges AND no join: the earlier
    * broadcast-one-row-array formulation went through a
    * BroadcastNestedLoopJoin whose output row copies the k·dim-long
    * centroid array per corpus row — ~48 GB of memcpy per assignment
    * pass at sf10/k=448 (measured, PLANS.md); a literal is referenced,
    * never copied. `typedlit` of the case-class rows makes this ONE
    * Literal node (an `array(struct(lit…))` tree is k·(dim+2) nodes —
    * ~29 k at k=448 — and every analyzer/optimizer walk of it costs
    * driver seconds per materialization). Sorted by cid so the literal
    * (and the codegen cache key) is deterministic regardless of
    * upstream partitioning. */
  private[graft] def centsLit(cent: DataFrame): Column = {
    val rows = cent.select(col("cid"), col("cq"), col("cn2")).collect()
      .map(r => CentLit(r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_.cid).toIndexedSeq
    typedlit(rows)
  }

  /** Map-side argmin cell id — rank 1 of (dist2 asc, cid asc) over the
    * broadcast centroid array, via the native [[graft.functions
    * .IvfProbes]] kernel (a tight primitive loop; the original
    * higher-order `aggregate` fold is `CodegenFallback` and its
    * interpreted per-centroid lambda dominated the n×k×dim assignment
    * pass once k left fixture scale — see PLANS.md). Order-independent
    * like the fold (collect_list's nondeterministic array order cannot
    * leak into an argmin). The coalesce preserves the fold's
    * empty/degenerate result: no valid centroid → Long.MaxValue. */
  private[graft] def nearestCid(cents: Column, q: Column, n2: Column): Column =
    coalesce(element_at(probeCids(cents, q, n2, 1), 1),
      lit(Long.MaxValue))

  /** The query's nProbes nearest cell ids, nearest first — the same
    * kernel with p = nProbes (identical to the transform→array_sort→
    * slice rank on null-free centroid arrays, which [[centsLit]]
    * always produces). */
  private[graft] def probeCids(cents: Column, q: Column, n2: Column, nProbes: Int): Column =
    column(graft.functions.IvfProbes(expression(cents), expression(q), expression(n2), nProbes))

  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpus(spark, sfDir)
    val cent = emb.where(col("vec_id").between(1, NumCentroids))
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    ivfSearchWith(spark, sfDir, cent)
  }

  val ivfTopKSql: String =
    s"""WITH $corpusSql,
       |cent AS (SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM e WHERE vec_id BETWEEN 1 AND $NumCentroids),
       |assigned AS (SELECT e.vec_id, e.label, e.q, e.n2, cent.cid,
       |                    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                                       ORDER BY e.n2 - 2 * ${dotQSql("e.q", "cent.cq")} + cent.cn2 ASC,
       |                                                cent.cid ASC) AS rn
       |             FROM e, cent),
       |cells AS (SELECT vec_id, label, q, n2, cid FROM assigned WHERE rn = 1),
       |probes AS (SELECT cid AS probe_cid FROM assigned WHERE vec_id = $QueryVecId AND rn <= $NumProbes),
       |qv AS (SELECT q AS qq, n2 AS qn2 FROM e WHERE vec_id = $QueryVecId)
       |SELECT cells.vec_id, cells.label, cells.cid,
       |       ${cosineFromSql(dotQSql("cells.q", "qv.qq"), "cells.n2", "qv.qn2")} AS cos_sim
       |FROM cells
       |JOIN probes ON cells.cid = probes.probe_cid, qv
       |WHERE cells.vec_id <> $QueryVecId
       |ORDER BY cos_sim DESC, cells.vec_id ASC
       |LIMIT $TopK""".stripMargin

  /** Frees the executor blocks behind a `localCheckpoint`ed frame (the
    * cached RDD a checkpoint materializes into). No-op on frames that
    * aren't checkpointed. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Deterministic k-means in quantized space, for building real IVF
    * centroids: init = the fixed probe vectors; assignment by exact
    * integer squared distance (ties to smallest cid); update = per-dim
    * exact integer sums divided by counts, re-quantized — every
    * iteration is a pure function of the data, so the trained centroids
    * are reproducible across partitionings and reruns (the property
    * float-mean k-means lacks). Feed the result into [[ivfSearchWith]].
    *
    * Iteration hygiene: each new centroid frame is `localCheckpoint`ed
    * (truncating the plan so iteration i does not embed all i-1
    * predecessors) and the previous iteration's blocks are freed, so
    * executor storage and plan size stay CONSTANT in `iters`. A cell
    * that receives no assignments keeps its previous centroid — the
    * trained result always has exactly k centroids (no silent shrink).
    *
    * Fault-tolerance trade-off: a local checkpoint lives only in
    * executor storage with NO lineage to recompute it, so an executor
    * loss mid-training fails the job (acceptable: training is cheap to
    * re-run and the result is deterministic, so a retry is exact). On a
    * preemption-heavy cluster, set a checkpoint dir and swap in
    * reliable `checkpoint()` — the iteration structure is unchanged.
    */
  /** Quantizer-training sample floor: k-means codebooks train on a
    * pinned deterministic sample of ≥ max(this, 100·k) vectors, never
    * the full corpus — the standard IVF/PQ practice (≈100+ training
    * points per centroid is the usual guidance, e.g. the FAISS
    * clustering FAQ); nobody fits a 256-entry codebook on 10¹¹
    * vectors. 25 600 = 100 × 256 covers the largest codebook in the
    * library (PQ's K=256), so every training path shares one floor.
    *
    * The sample is a modulo stride on `vec_id` ([[trainSampleStride]]):
    * rows with `vec_id % S == 1 % S`, S = max(1, n / target). Pinned
    * and engine-replayable (the oracle computes the identical S from
    * COUNT(*) and filters the identical rows); uniform under GenScale's
    * block-dense replica ids (ids are consecutive within a replica, so
    * a stride samples every replica evenly). At fixture scales
    * (n ≤ 25 600) S = 1 and training is byte-identical to full-corpus
    * training; the stride engages exactly where full-corpus training
    * stops being what a deployment would run. */
  private[graft] val TrainSampleFloor = 25600L

  /** Training-sample stride for a k-centroid quantizer over n rows. */
  private[graft] def trainSampleStride(n: Long, k: Int): Long =
    math.max(1L, n / math.max(TrainSampleFloor, 100L * k))

  def kmeansCentroids(spark: SparkSession, sfDir: String,
                      k: Int = NumCentroids, iters: Int = 3): DataFrame = {
    // MLlib-architecture training loop: centroids live ON THE DRIVER
    // (k·dim longs — the bounded, documented centroid collect) and ride
    // into each assignment pass as one plan literal; each partition
    // folds its rows into a k-entry map of (long[dim] sums, count) over
    // raw InternalRows — primitive while-loops, zero boxing — and the
    // driver merges k×partitions slim partials and computes the means.
    // No per-iteration shuffle, join, or checkpoint at all; the
    // declarative mean-update forms all hit a wall at real k (measured
    // at sf10/k=448, PLANS.md): posexplode pushes n·dim rows through a
    // generate (~18 s/iter), an Aggregator-UDAF trips
    // ObjectHashAggregate's 128-key sort-based fallback, a Dims-wide
    // sum(element_at) HashAggregate's generated update method is too
    // big to JIT, and a broadcast-array join memcpys the k·dim-long
    // quantizer into every joined row. Exact integer sums commute, so
    // partials are partitioning-invariant; the driver's
    // BigDecimal HALF_UP mean reproduces Spark's round() (and DuckDB's)
    // for negative sums too, so centroids stay bit-identical to the
    // training replay the oracle runs.
    //
    // The quantized corpus is persisted for the loop (each iteration is
    // one in-memory map pass, not a parquet scan + quantize) and freed
    // before returning; the returned k-row frame is a LocalRelation —
    // constant plan size and zero lineage into the loop by construction.
    // training reads the pinned vec_id-stride sample, not the corpus
    // (see TrainSampleFloor): at 100 TB the per-iteration kernel pass
    // runs over ~100·k vectors however big the table is, and the
    // oracle replays the identical stride. S = 1 (the identity) at
    // every fixture where n ≤ the floor. Init = the first k sampled
    // vectors by vec_id (== vectors 1..k when S = 1 and ids are
    // dense, the previous rule); cid = vec_id stays unique and
    // stable through training.
    val stride = trainSampleStride(corpusCount(spark, sfDir), k)
    val emb = corpus(spark, sfDir).select(col("vec_id"), col("q"), col("n2"))
      .where(pmod(col("vec_id"), lit(stride)) === lit(1L % stride))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: IndexedSeq[CentLit] = emb.where(col("vec_id") >= 1)
      .orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
      .collect()
      .map(r => CentLit(r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_.cid).toIndexedSeq
    val dims = Dims
    for (_ <- 1 to iters) {
      val assigned = emb
        .select(nearestCid(typedlit(cents), col("q"), col("n2")).as("cid"), col("q"))
      val partials = assigned.queryExecution.toRdd.mapPartitions { it =>
        val acc = scala.collection.mutable.LongMap.empty[(Array[Long], Array[Long])]
        while (it.hasNext) {
          val r = it.next()
          val e = acc.getOrElseUpdate(r.getLong(0),
            (new Array[Long](dims), new Array[Long](1)))
          e._2(0) += 1L
          if (!r.isNullAt(1)) {
            val q = r.getArray(1)
            val n = math.min(dims, q.numElements())
            var j = 0
            while (j < n) { e._1(j) += q.getLong(j); j += 1 }
          }
        }
        acc.iterator.map { case (cid, (s, n)) => (cid, s, n(0)) }
      }.collect()
      val sums = scala.collection.mutable.LongMap.empty[(Array[Long], Long)]
      partials.foreach { case (cid, s, n) =>
        val cur = sums.getOrElse(cid, (new Array[Long](dims), 0L))
        var j = 0
        while (j < dims) { cur._1(j) += s(j); j += 1 }
        sums(cid) = (cur._1, cur._2 + n)
      }
      cents = cents.map { c =>
        sums.get(c.cid) match {
          case Some((s, n)) if n > 0 =>
            val mq = IndexedSeq.tabulate(dims) { j =>
              // Spark round(double) = BigDecimal HALF_UP (away from
              // zero on .5), NOT java Math.round (toward +inf on -.5)
              java.math.BigDecimal.valueOf(s(j).toDouble / n)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
            }
            CentLit(c.cid, mq, mq.map(v => v * v).sum)
          case _ => c // empty cell keeps its centroid — never fewer than k
        }
      }
    }
    emb.unpersist()
    spark.createDataFrame(cents.map(c => (c.cid, c.cq, c.cn2)))
      .toDF("cid", "cq", "cn2")
  }

  /** IVF search against caller-supplied centroids (e.g. from
    * [[kmeansCentroids]]): same probed-cell plan as [[ivfTopK]].
    *
    * Assignment stage is exchange-free AND join-free: the centroid set
    * rides in as a constant-folded plan literal ([[centsLit]]) and each
    * vector runs the native argmin kernel over it ([[nearestCid]]), so
    * the only shuffle anywhere in the serving path is the final top-K
    * (TakeOrderedAndProject). */
  def ivfSearchWith(spark: SparkSession, sfDir: String, cent: DataFrame,
                    nProbes: Int = NumProbes): DataFrame = {
    val emb = corpus(spark, sfDir)
    val cl = centsLit(cent)
    val cells = emb
      .select(col("vec_id"), col("label"), col("q"), col("n2"),
        nearestCid(cl, col("q"), col("n2")).as("cid"))
    val probes = emb.where(col("vec_id") === QueryVecId)
      .select(explode(probeCids(cl, col("q"), col("n2"), nProbes)).as("probe_cid"))
    val query = emb.where(col("vec_id") === QueryVecId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    cells.join(broadcast(probes), col("cid") === col("probe_cid"))
      .join(broadcast(query))
      .where(col("vec_id") =!= QueryVecId)
      .select(col("vec_id"), col("label"), col("cid"),
        cosineFrom(dotQ(col("q"), col("qq")), col("n2"), col("qn2")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** End-to-end trained IVF: [[kmeansCentroids]] (k=8, 2 iterations)
    * feeding [[ivfSearchWith]] — the full build+serve pipeline as ONE
    * oracle-verified query. Possible only because the k-means is
    * deterministic in quantized space: the DuckDB twin replays the
    * identical iterations (argmin assignment with (dist2, cid) ties,
    * per-dim integer sums, round-half-away mean, empty-cell keep) and
    * must land on bit-identical centroids, then the same probed search.
    */
  val TrainedK: Int = graft.GraftConf.DefaultIvfK
  val TrainedIters = 2

  /** The trained centroid frame shared by [[ivfTrainedTopK]] and
    * [[semanticDedup]] — memoized per (dir, session, k) so the k-means
    * runs ONCE however many consumers build on it, and the training
    * loop's final internal checkpoint is freed as soon as the memo's
    * own (k-row) checkpoint has materialized. The cell count is the
    * `spark.graft.ivf.k` knob (oracle pins the [[TrainedK]] default —
    * Verify refuses overrides): IVF's scale rule is k ∝ √n so cells
    * stay ~constant-sized; with k FIXED the probe scan degenerates
    * toward quadratic (measured: sf10's 200 k vectors at k=8 put
    * 24 k vectors in every cell — see PLANS.md). */
  /** Corpus size for `ivf.k=auto` resolution — a parquet-metadata
    * count on the raw embeddings table (no quantization work), memoized
    * in session conf per directory so auto mode costs ONE count job
    * per (session, dir) however many consumers resolve k. The memo key
    * carries the table's [[Tables.sourceKey]]: when the table is grown
    * or rewritten (the incremental-ingest scenarios), the key changes
    * and auto-k re-resolves from a fresh count instead of the stale
    * cached n. */
  private[graft] def corpusCount(spark: SparkSession, sfDir: String): Long = {
    val memoKey =
      s"${graft.GraftConf.IvfKKey}.corpusCount:" +
        Tables.sourceKey(spark, s"$sfDir/embeddings.parquet")
    spark.conf.getOption(memoKey).map(_.toLong).getOrElse {
      val n = graft.sources.Tables.embeddings(spark, sfDir).count()
      spark.conf.set(memoKey, n.toString)
      n
    }
  }

  private[graft] def trainedCentroids(spark: SparkSession, sfDir: String): DataFrame =
    trainedCentroidsK(spark, sfDir,
      graft.GraftConf.ivfKResolved(spark, corpusCount(spark, sfDir)))

  /** [[trainedCentroids]] at an EXPLICIT cell count — the shared body,
    * and the entry point for registrations that pin k in the query
    * itself (the `knn_label_ivf_auto` pattern) rather than through the
    * conf knob. */
  private[graft] def trainedCentroidsK(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    var inner: DataFrame = null
    val out = Materialize.memoized(spark,
        s"kmeans_cent_${k}_${TrainedIters}_${Materialize.dirTag(spark, sfDir)}") {
      inner = kmeansCentroids(spark, sfDir, k, TrainedIters)
      inner
    }
    if (inner ne null) Materialize.free(inner)
    out
  }

  def ivfTrainedTopK(spark: SparkSession, sfDir: String): DataFrame =
    ivfSearchWith(spark, sfDir, trainedCentroids(spark, sfDir))

  /** Persist the trained coarse quantizer — the model-store half of a
    * serving deployment: train once, write the k-row centroid frame as
    * zstd parquet, and any later session serves from the artifact
    * without retraining (or even seeing the training corpus). The
    * k-means is deterministic, so the artifact is reproducible and a
    * retrain writes bit-identical centroids. */
  def saveTrainedIndex(spark: SparkSession, sfDir: String, outDir: String): Unit =
    Tables.writeParquetZstd(
      trainedCentroids(spark, sfDir).select(col("cid"), col("cq"), col("cn2")), outDir)

  /** Load a persisted quantizer for serving. */
  def loadTrainedIndex(spark: SparkSession, indexDir: String): DataFrame =
    Tables.parquet(spark, indexDir).select(col("cid"), col("cq"), col("cn2"))

  /** IVF search against a PERSISTED index — [[ivfTrainedTopK]] with the
    * training replaced by an artifact load; identical plan otherwise. */
  def ivfTopKFromIndex(spark: SparkSession, sfDir: String, indexDir: String): DataFrame =
    ivfSearchWith(spark, sfDir, loadTrainedIndex(spark, indexDir))

  /** The trained coarse quantizer inlined as a PLAN LITERAL — the form
    * a streaming serving job wants: k = [[TrainedK]] rows collected
    * once per session (driver-side, bounded by k like the vocabTerms
    * artifact — never corpus-scale) and baked into the probe
    * expression, so cell assignment on a stream is a pure per-row fold
    * with no join at all. Sorted by cid for a deterministic literal. */
  private[graft] def trainedCentroidLiteral(spark: SparkSession, sfDir: String): Column =
    centsLit(trainedCentroids(spark, sfDir))

  /** The cell-keyed reference index [[graft.streaming.EmbedStream]]
    * serves kNN labels from: every labeled reference vector grouped
    * into its trained cell as one (cid, members) row — the IVF posting
    * list. Memoized/checkpointed per (session, dir): this IS the
    * serving index, built once and read by every micro-batch (the
    * streaming twin of [[knnLabelIvf]]'s refs frame). Cell sizes are
    * corpus/k with the trained quantizer; at 100 TB the members arrays
    * shard by cid across executors like any other keyed frame.
    * Members are sorted by vec_id (first struct field, unique) at
    * build time so the memoized/persisted artifact is CANONICAL —
    * collect_list alone inherits shuffle arrival order, and a
    * persisted index whose array order varies run-to-run is a trap
    * for any future positional consumer. */
  private[graft] def knnCellIndex(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.memoized(spark, s"knn_cell_index_${Materialize.dirTag(spark, sfDir)}") {
      val emb = corpus(spark, sfDir)
      val cl = trainedCentroidLiteral(spark, sfDir)
      emb.where(col("vec_id") % KnnQueryMod =!= 0 && col("n2") > 0)
        .select(col("vec_id"), col("label"), col("q"), col("n2"),
          nearestCid(cl, col("q"), col("n2")).as("cid"))
        .groupBy(col("cid"))
        .agg(sort_array(
          collect_list(struct(col("vec_id"), col("label"), col("q"), col("n2"))))
          .as("members"))
    }

  /** Incremental posting-list maintenance — how the serving index of
    * [[knnCellIndex]] grows with the corpus WITHOUT rebuilding: newly
    * ingested reference vectors (the `vec_id % 10 = 0` delta, the same
    * placeholder predicate as the incremental dedup family) are
    * assigned to their trained cell by the zero-exchange broadcast fold
    * and merged into the stored lists with one cells-keyed full-outer
    * join — cost proportional to the DELTA plus a |cells|-sized merge,
    * never a corpus re-assignment. Valid because cell assignment is a
    * pure per-vector function of the (frozen) centroids: incremental
    * and full builds MUST agree, and the oracle enforces exactly that —
    * it replays the full training + assignment over the whole corpus
    * and compares per-cell membership counts and id sums, so a merge
    * bug (dropped delta, double-added vector, wrong cell) mismatches.
    * Emits per-cell (n_members, sum of member ids) off the genuinely
    * merged ARRAY index, not side-stats. */
  def knnCellIndexIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpus(spark, sfDir)
    val cl = trainedCentroidLiteral(spark, sfDir)
    def assignedLists(refs: DataFrame): DataFrame = refs
      .select(col("vec_id"), nearestCid(cl, col("q"), col("n2")).as("cid"))
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(col("vec_id"))).as("members"))
    val refs = emb.where(col("vec_id") % KnnQueryMod =!= 0 && col("n2") > 0)
    val base = assignedLists(refs.where(col("vec_id") % 10 =!= 0))
    val delta = assignedLists(refs.where(col("vec_id") % 10 === 0))
    base.select(col("cid"), col("members").as("base_m"))
      .join(delta.select(col("cid"), col("members").as("delta_m")), Seq("cid"), "full_outer")
      .select(col("cid"),
        concat(coalesce(col("base_m"), array().cast("array<bigint>")),
          coalesce(col("delta_m"), array().cast("array<bigint>"))).as("members"))
      .select(col("cid"),
        size(col("members")).cast("long").as("n_members"),
        aggregate(col("members"), lit(0L), (acc, x) => acc + x).as("sum_vec_ids"))
      .orderBy(col("cid").asc)
  }

  /** Oracle: the FULL assignment (replayed training + every reference
    * assigned from scratch) aggregated per cell — the invariant the
    * incremental merge must preserve. */
  // lazy: KnnQueryMod is declared later in this object, and a strict
  // val here would interpolate its pre-init 0 (the % 0 trap)
  lazy val knnCellIndexIncrementalSql: String =
    s"""WITH $corpusSql,
       |$trainedCellsSql
       |SELECT cid, COUNT(*) AS n_members,
       |       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids
       |FROM cells
       |WHERE vec_id % $KnnQueryMod <> 0 AND n2 > 0
       |GROUP BY cid
       |ORDER BY cid ASC""".stripMargin

  /** Cosine above this marks a vector as a semantic duplicate of an
    * earlier same-cell vector. */
  val SemDedupTau = 0.8

  /** SemDeDup-style semantic deduplication: cluster the embedding space
    * with the trained k-means ([[kmeansCentroids]] — deterministic, so
    * the oracle replays it), then compare each vector ONLY against its
    * own cell and drop it if an earlier (lower vec_id) cell-mate is
    * within cosine [[SemDedupTau]]. Emits every vector's verdict:
    * its cell, how many earlier cell-mates it was compared against,
    * the strongest of those similarities, and the drop decision —
    * the manifest a curation job joins on to filter the corpus.
    *
    * Scale design: the cluster assignment is the zero-exchange
    * broadcast-fold of [[ivfSearchWith]]; the quadratic is confined
    * WITHIN cells, which is the SemDeDup contract — in production k
    * grows with the corpus (cells stay ~constant-sized, like
    * [[annPlanesFor]] scales planes; here k is pinned to [[TrainedK]]
    * because the oracle replays the training iterations), and cells
    * over `spark.graft.semdedup.cellCap` are EXCLUDED from pairing
    * (members keep conservative not-dropped verdicts), so a degenerate
    * clustering degrades to a visible no-op instead of a quadratic job
    * — the LSH bucket-cap discipline, oracle-mirrored at the default.
    * Pairing happens on slim (vec_id, cid) rows only; the 8-byte-keyed
    * join-backs attach each side's quantized vector once per PAIR —
    * unavoidable here since every pair is scored, but the rows never
    * carry text or float arrays. Zero-norm vectors have undefined
    * cosine; their pairs score NULL (never NaN) so they cannot poison
    * a drop verdict. The assignment frame is memoized/checkpointed
    * (the pair join reads it from three subtrees) on top of the
    * [[trainedCentroids]] memo it shares with [[ivfTrainedTopK]] —
    * one training run serves both queries. */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = graft.GraftConf.semdedupCellCap(spark)
    val cells = Materialize.memoized(spark,
        s"semdedup_cells_${Materialize.dirTag(spark, sfDir)}") {
      corpus(spark, sfDir)
        .select(col("vec_id"), col("q"), col("n2"),
          nearestCid(trainedCentroidLiteral(spark, sfDir),
            col("q"), col("n2")).as("cid"))
    }
    // occupancy window partitions on the SAME key the self-join shuffles
    // on, so the cap reuses the exchange rather than adding one
    val slim = cells.select(col("vec_id"), col("cid"))
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .where(col("occ") <= cap)
      .select(col("vec_id"), col("cid"))
    val pairs = slim.as("a").join(slim.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("prior_id"), col("b.vec_id").as("vec_id"))
    val cos = cosineFrom(dotQ(col("qa"), col("qb")), col("n2a"), col("n2b"))
    val prior = pairs
      .join(cells.select(col("vec_id").as("prior_id"), col("q").as("qa"), col("n2").as("n2a")), "prior_id")
      .join(cells.select(col("vec_id"), col("q").as("qb"), col("n2").as("n2b")), "vec_id")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_prior"),
        // 0/0 = NaN sorts ABOVE every double in both engines, so an
        // undefined cosine would win the max and force dropped=true;
        // null instead, which max ignores
        max(when(col("n2a") > 0 && col("n2b") > 0, cos)).as("max_prior_cos"))
    cells.select(col("vec_id"), col("cid"))
      .join(prior, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        col("max_prior_cos"),
        coalesce(col("max_prior_cos") >= SemDedupTau, lit(false)).as("dropped"))
      .orderBy(col("vec_id").asc)
  }

  val semanticDedupSql: String =
    s"""WITH $corpusSql,
       |$trainedCellsSql,
       |paired AS (SELECT vec_id, cid, q, n2 FROM cells
       |           QUALIFY COUNT(*) OVER (PARTITION BY cid) <= ${graft.GraftConf.DefaultSemdedupCellCap}),
       |pc AS (SELECT b.vec_id, COUNT(*) AS n_prior,
       |              MAX(CASE WHEN a.n2 > 0 AND b.n2 > 0
       |                       THEN ${cosineFromSql(dotQSql("a.q", "b.q"), "a.n2", "b.n2")} END) AS max_prior_cos
       |       FROM paired a JOIN paired b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |       GROUP BY b.vec_id)
       |SELECT c.vec_id, c.cid,
       |       COALESCE(pc.n_prior, 0) AS n_prior,
       |       pc.max_prior_cos,
       |       COALESCE(pc.max_prior_cos >= $SemDedupTau, FALSE) AS dropped
       |FROM cells c LEFT JOIN pc ON c.vec_id = pc.vec_id
       |ORDER BY c.vec_id ASC""".stripMargin

  /** CTE chain `c0 … c<TrainedIters>` replaying [[kmeansCentroids]]
    * (assignment with (dist2, cid) ties, per-dim integer sums,
    * round-half-away mean, empty-cell keep), then `cells` (every
    * vector's trained cell) and `assigned` (ranked candidate cells FOR
    * QUERY VECTORS ONLY) — the shared oracle prefix of
    * [[ivfTrainedTopKSql]] and [[semanticDedupSql]]. `cells` is the
    * tie-pinned argmin as a streaming AGGREGATE (lexicographic
    * min([dist2, cid]) == the old per-vector ROW_NUMBER window, with
    * NULL distances coalesced to int64-max to keep the window's
    * NULLS-LAST order) — the window form materialized and sorted
    * (n × k) rows carrying 64-long arrays, which is what spilled the
    * auto-k sf10 replay past box disk. `assigned` keeps the window
    * but only over `vec_id % KnnQueryMod = 0` (includes
    * [[QueryVecId]] since 0 % mod = 0): every consumer reads it at
    * query vectors with `rn <= NumProbes`, so the restriction is
    * exactly the rows they can see and the rank within a vec_id
    * partition is unchanged. Expects the `e` CTE ([[corpusSql]]) in
    * scope. */
  private[graft] def trainedCellsSql: String = trainedCellsSqlFor(TrainedK.toString)

  /** [[trainedCellsSql]] with the cell count as an arbitrary SQL
    * expression — a literal for the pinned default, a COUNT(*) scalar
    * subquery for the auto rule (both sides of the auto formula are
    * exact integer math on the row count, so Spark's driver-side
    * ⌈√n⌉ and DuckDB's replay agree bit-for-bit). */
  private def trainedCellsSqlFor(kSql: String): String = {
    val dims = Dims
    // one k-means iteration: cIn -> cOut (CTE names), matching
    // kmeansCentroids' assignment/update/keep semantics exactly. The
    // assignment is the tie-pinned argmin as a streaming AGGREGATE
    // (min([dist2, cid]) over the (sample × centroids) cross) with the
    // vector re-attached by a slim vec_id join for the mean — the old
    // per-vector ROW_NUMBER window materialized and sorted every
    // candidate row CARRYING its 64-long array, which is what pushed
    // the auto-k (k=448) sf10 replay past box memory. NULL distances
    // coalesce to int64-max, preserving the window's NULLS-LAST order.
    def iterSql(i: Int, cIn: String): String = {
      s"""a$i AS (SELECT e.vec_id,
         |               min([CAST(COALESCE(e.n2 - 2 * ${dotQSql("e.q", "c.cq")} + c.cn2, ${Long.MaxValue}) AS BIGINT), c.cid])[2] AS cid
         |        FROM tr e, $cIn c GROUP BY e.vec_id),
         |m$i AS (SELECT a.cid, i.range AS pos,
         |               CAST(round(CAST(SUM(t.q[i.range]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
         |        FROM a$i a JOIN tr t ON a.vec_id = t.vec_id, range(1, ${dims + 1}) i
         |        GROUP BY a.cid, i.range),
         |cm$i AS (SELECT cid, list(m ORDER BY pos) AS cq FROM m$i GROUP BY cid),
         |c$i AS (SELECT c.cid, COALESCE(mm.cq, c.cq) AS cq,
         |               ${dotQSql("COALESCE(mm.cq, c.cq)", "COALESCE(mm.cq, c.cq)")} AS cn2
         |        FROM $cIn c LEFT JOIN cm$i mm ON c.cid = mm.cid)""".stripMargin
    }
    val iters = (1 to TrainedIters).map(i => iterSql(i, if (i == 1) "c0" else s"c${i - 1}"))
      .mkString(",\n")
    val cent = s"c$TrainedIters"
    // smp/tr replay kmeansCentroids' pinned training sample: the same
    // stride formula over the same COUNT(*), the same modulo filter,
    // and init = the first k sampled vectors by vec_id. S = 1 at
    // fixture scales, where tr == e and c0 == the old vec_id 1..k rule.
    s"""smp AS (SELECT GREATEST(1, (SELECT COUNT(*) FROM e) // GREATEST($TrainSampleFloor, 100 * ($kSql))) AS s),
       |tr AS MATERIALIZED (SELECT e.* FROM e, smp WHERE e.vec_id % smp.s = 1 % smp.s),
       |c0 AS (SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM tr WHERE vec_id >= 1 ORDER BY vec_id ASC LIMIT ($kSql)),
       |$iters,
       |asgc AS (SELECT e.vec_id,
       |                min([CAST(COALESCE(e.n2 - 2 * ${dotQSql("e.q", "c.cq")} + c.cn2, ${Long.MaxValue}) AS BIGINT), c.cid])[2] AS cid
       |         FROM e, $cent c GROUP BY e.vec_id),
       |cells AS (SELECT e.vec_id, e.label, e.q, e.n2, a.cid
       |          FROM e JOIN asgc a ON e.vec_id = a.vec_id),
       |assigned AS (SELECT e.vec_id, e.label, e.q, e.n2, c.cid,
       |                    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                                       ORDER BY e.n2 - 2 * ${dotQSql("e.q", "c.cq")} + c.cn2 ASC,
       |                                                c.cid ASC) AS rn
       |             FROM e, $cent c
       |             WHERE e.vec_id % $KnnQueryMod = 0)""".stripMargin
  }

  val ivfTrainedTopKSql: String =
    s"""WITH $corpusSql,
       |$trainedCellsSql,
       |probes AS (SELECT cid AS probe_cid FROM assigned WHERE vec_id = $QueryVecId AND rn <= $NumProbes),
       |qv AS (SELECT q AS qq, n2 AS qn2 FROM e WHERE vec_id = $QueryVecId)
       |SELECT cells.vec_id, cells.label, cells.cid,
       |       ${cosineFromSql(dotQSql("cells.q", "qv.qq"), "cells.n2", "qv.qn2")} AS cos_sim
       |FROM cells
       |JOIN probes ON cells.cid = probes.probe_cid, qv
       |WHERE cells.vec_id <> $QueryVecId
       |ORDER BY cos_sim DESC, cells.vec_id ASC
       |LIMIT $TopK""".stripMargin

  /** Embedding-cosine near-duplicate candidates: the most-similar pairs
    * among the multi-table bucket collisions — O(n · tables · bucket
    * occupancy) candidate work at any corpus size, never n². The pair
    * list is discovered on the slim bucket rows and joined back to the
    * corpus once per side for scoring, so no vector payload rides the
    * bucket self-join. (A production dedup would threshold; the fixture
    * corpus has no planted embedding dups — max pairwise cosine ≈ 0.51 —
    * so this surfaces the top candidates instead of an always-empty
    * set.) */
  val NearDupPairs = 20

  def embeddingNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpus(spark, sfDir)
    val planes = annPlanes(spark, sfDir)
    val pairs = candidatePairs(emb, planes)
    val a = emb.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("n2").as("n2a"))
    val b = emb.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("n2").as("n2b"))
    pairs.join(a, "vec_a").join(b, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosineFrom(dotQ(col("qa"), col("qb")), col("n2a"), col("n2b")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(NearDupPairs)
  }

  val embeddingNearDupsSql: String =
    s"""WITH $annSqlPrefix,
       |pairs AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |          FROM eb a JOIN eb b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT p.vec_a, p.vec_b,
       |       ${cosineFromSql(dotQSql("ea.q", "eb2.q"), "ea.n2", "eb2.n2")} AS cos_sim
       |FROM pairs p
       |JOIN e ea ON p.vec_a = ea.vec_id
       |JOIN e eb2 ON p.vec_b = eb2.vec_id
       |ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC
       |LIMIT $NearDupPairs""".stripMargin

  /** Trained-clustering quality report — the evaluation surface for the
    * k-means cells that [[ivfTrainedTopK]], [[semanticDedup]] and
    * [[knnLabelIvf]] all build on: per cell, its member count and the
    * weakest/strongest member-to-centroid cosine. A cell whose min_cos
    * is low is a catch-all the probe count cannot fix (retrain with
    * larger k); empty member counts never appear because every vector
    * assigns somewhere. Deliberately ONLY order-free aggregates (count,
    * min, max) — a mean would sum per-member doubles in
    * engine-dependent order and flake the oracle hash, the same reason
    * the temperature mixture avoids float normalization.
    *
    * Scale: assignment is the zero-exchange broadcast fold; what
    * shuffles is (cid, cos) pairs into a k-cell aggregation. */
  def cellQualityReport(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpus(spark, sfDir)
    val cent = trainedCentroids(spark, sfDir)
    // every vector assigns (matching semanticDedup's occupancy — no
    // n2 filter here); only the COSINE nulls out when either norm is
    // zero, and min/max ignore nulls. The assigned centroid's own
    // vector comes back via a slim k-row broadcast EQUI-join on cid
    // (each row copies one centroid, not the whole quantizer — the
    // filter-the-literal-array alternative re-scans k structs per
    // corpus row through an interpreted HOF)
    emb
      .select(col("q"), col("n2"),
        nearestCid(centsLit(cent), col("q"), col("n2")).as("cid"))
      .join(broadcast(cent.select(col("cid"),
        col("cq").as("ccq"), col("cn2").as("ccn2"))), Seq("cid"))
      .select(col("cid"),
        when(col("n2") > 0 && col("ccn2") > 0,
          cosineFrom(dotQ(col("q"), col("ccq")), col("n2"), col("ccn2")))
          .as("cos_c"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        min(col("cos_c")).as("min_cos"), max(col("cos_c")).as("max_cos"))
      .orderBy(col("cid").asc)
  }

  val cellQualityReportSql: String =
    s"""WITH $corpusSql,
       |$trainedCellsSql,
       |cent AS (SELECT cid AS ccid, cq, cn2 FROM c$TrainedIters),
       |scored AS (SELECT cells.cid,
       |                  CASE WHEN cells.n2 > 0 AND cent.cn2 > 0 THEN
       |                    ${cosineFromSql(dotQSql("cells.q", "cent.cq"), "cells.n2", "cent.cn2")}
       |                  END AS cos_c
       |           FROM cells JOIN cent ON cells.cid = cent.ccid)
       |SELECT cid, COUNT(*) AS n_members,
       |       MIN(cos_c) AS min_cos, MAX(cos_c) AS max_cos
       |FROM scored
       |GROUP BY cid
       |ORDER BY cid ASC""".stripMargin

  /** Default neighbors consulted per query — runtime-settable via
    * `spark.graft.knn.k` (oracle-pinned at the default, like topK).
    * Deliberately even, so the deterministic tiebreak (vote count DESC,
    * label ASC) is exercised. */
  val KnnK: Int = graft.GraftConf.DefaultKnnK

  /** kNN label assignment — the embedding-space stand-in for a
    * model-based quality/topic classifier: every held-out query vector
    * (vec_id ≡ 0 mod [[KnnQueryMod]]) is labeled by majority vote of its
    * [[KnnK]] nearest reference vectors under exact quantized cosine
    * (ties: higher vote count, then smaller label).
    *
    * Scale shape: the query set broadcasts and the REFERENCE CORPUS
    * NEVER SHUFFLES — scoring is map-side over the corpus scan, and the
    * per-query top-K is cut by the bounded-buffer
    * [[graft.functions.BestKByScore]] aggregator BEFORE the exchange
    * (a per-query ROW_NUMBER window would ship every |corpus|·|Q|
    * scored row to one partition per query first), so the shuffle
    * carries O(|Q| · K · partitions) slim buffers. This is the
    * labeled-corpus dual of [[cosineTopK]]'s one-query broadcast; the
    * n·|Q| scoring COMPUTE is the price of exact brute force. For query
    * sets too large to broadcast — or to cut the compute — route each
    * query through the trained IVF cells ([[ivfTrainedTopK]]) instead:
    * same vote tail, probed-cell candidate generation. */
  def knnLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpus(spark, sfDir)
    // zero-norm vectors have no defined cosine: 0/0 = NaN ranks WORST in
    // the Scala aggregator's ordering but BEST under DuckDB's ORDER BY
    // DESC (the semanticDedup hazard) — exclude them from both engines
    val queries = emb.where(col("vec_id") % KnnQueryMod === 0 && col("n2") > 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = emb.where(col("vec_id") % KnnQueryMod =!= 0 && col("n2") > 0)
      .join(broadcast(queries))
      .select(col("query_id"),
        cosineFrom(dotQ(col("q"), col("qq")), col("n2"), col("qn2")).as("cos_sim"),
        col("vec_id"), col("label"))
    voteTail(scored)
  }

  /** The shared kNN vote tail over (query_id, cos_sim, vec_id, label)
    * scored-candidate rows: bounded-buffer top-k cut BEFORE the
    * exchange, explode, vote count, deterministic argmax. */
  private def voteTail(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bestK = udaf(new graft.functions.BestKByScore(
      graft.GraftConf.knnK(scored.sparkSession)))
    scored.groupBy(col("query_id"))
      .agg(bestK(col("cos_sim"), col("vec_id"), col("label")).as("nbrs"))
      .select(col("query_id"), explode(col("nbrs")).as("nbr"))
      .groupBy(col("query_id"), col("nbr.label").as("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("n_votes").desc, col("label").asc)))
      .where(col("vr") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("n_votes"))
      .orderBy(col("query_id").asc)
  }

  /** kNN labeling routed through the TRAINED IVF cells — the scale path
    * [[knnLabel]]'s scaladoc points at for query sets too large to
    * broadcast or corpora too large to brute-force: every query probes
    * its [[NumProbes]] nearest trained cells and votes among reference
    * vectors assigned to those cells ONLY, so scoring work is
    * Σ_cell |refs_cell| · |queries probing cell| instead of n·|Q|.
    *
    * Cell assignment on both sides is the zero-exchange broadcast fold
    * ([[nearestCid]] / [[probeCids]] over the memoized trained
    * centroids). The candidate join is cell-KEYED: here the probe side
    * broadcasts (it is |Q|·probes slim rows); for a non-broadcastable
    * query set, dropping the hint lets both sides shuffle by the 8-byte
    * cid — the join shape a distributed kNN-join has to have. Each
    * reference lives in exactly one cell, so no (query, candidate) pair
    * is scored twice. Same bounded-buffer vote tail as [[knnLabel]];
    * recall is governed by the probe count, and the oracle replays the
    * identical training + probing, so the probed semantics themselves
    * are hash-verified. */
  def knnLabelIvf(spark: SparkSession, sfDir: String): DataFrame =
    knnLabelIvfWith(spark, sfDir, trainedCentroidLiteral(spark, sfDir))

  /** [[knnLabelIvf]] in the PRODUCTION serving shape: k derived from
    * the corpus size by the auto rule ([[graft.GraftConf.autoIvfK]],
    * k=⌈√n⌉ clamped) with the k pinned IN the query — the same
    * explicit-parameter pattern as `span_rate_w50`, so the serving
    * path has a driver-tracked bench number and its own oracle
    * (the SQL twin computes the identical k from a COUNT(*) scalar
    * subquery) without touching the oracle-pinned `ivf.k` default.
    * At sf0.1's 20 k vectors this trains k=142 cells; with k fixed
    * at the default 8 the probe scan degenerates toward quadratic as
    * n grows (measured at sf10, PLANS.md) — THIS registration is the
    * shape a 100 TB deployment runs. */
  def knnLabelIvfAuto(spark: SparkSession, sfDir: String): DataFrame = {
    // same non-empty-corpus guard ivfKResolved enforces for the
    // conf-driven auto path — an empty embeddings table must fail
    // here too, not silently train k=8 over an empty seed set
    val n = corpusCount(spark, sfDir)
    require(n > 0, s"ivf.k auto serving needs a non-empty corpus, got $n rows")
    val k = graft.GraftConf.autoIvfK(n)
    knnLabelIvfWith(spark, sfDir, centsLit(trainedCentroidsK(spark, sfDir, k)))
  }

  private def knnLabelIvfWith(spark: SparkSession, sfDir: String, cl: Column): DataFrame = {
    val emb = corpus(spark, sfDir)
    // zero-norm exclusion: same undefined-cosine hazard as [[knnLabel]]
    val refs = emb.where(col("vec_id") % KnnQueryMod =!= 0 && col("n2") > 0)
      .select(col("vec_id"), col("label"), col("q"), col("n2"),
        nearestCid(cl, col("q"), col("n2")).as("cid"))
    val queries = emb.where(col("vec_id") % KnnQueryMod === 0 && col("n2") > 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("qn2"),
        explode(probeCids(cl, col("q"), col("n2"), NumProbes)).as("cid"))
    val scored = refs.join(broadcast(queries), "cid")
      .select(col("query_id"),
        cosineFrom(dotQ(col("q"), col("qq")), col("n2"), col("qn2")).as("cos_sim"),
        col("vec_id"), col("label"))
    voteTail(scored)
  }

  val knnLabelIvfSql: String = knnLabelIvfSqlFor(trainedCellsSql)

  /** SQL twin of [[knnLabelIvfAuto]]: the identical probed search with
    * the training replayed at k = GREATEST(8, LEAST(65536,
    * CEIL(SQRT(COUNT(*))))) — the [[graft.GraftConf.autoIvfK]] formula
    * as exact SQL over the same row count Spark's driver resolves
    * from (IEEE sqrt is correctly rounded on both engines, so the
    * ceil agrees even at perfect squares). */
  val knnLabelIvfAutoSql: String = knnLabelIvfSqlFor(trainedCellsSqlFor(
    s"SELECT CAST(GREATEST(${graft.GraftConf.DefaultIvfK}, LEAST(${graft.GraftConf.MaxAutoIvfK}, " +
      "CEIL(SQRT(COUNT(*))))) AS BIGINT) FROM embeddings"))

  private def knnLabelIvfSqlFor(cellsSql: String): String =
    s"""WITH $corpusSql,
       |$cellsSql,
       |qprobes AS (SELECT vec_id AS query_id, cid FROM assigned
       |            WHERE vec_id % $KnnQueryMod = 0 AND n2 > 0 AND rn <= $NumProbes),
       |qv AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM e
       |       WHERE vec_id % $KnnQueryMod = 0 AND n2 > 0),
       |scored AS (SELECT qp.query_id, cells.label, cells.vec_id,
       |                  ${cosineFromSql(dotQSql("cells.q", "qv.qq"), "cells.n2", "qv.qn2")} AS cos_sim
       |           FROM cells
       |           JOIN qprobes qp ON cells.cid = qp.cid
       |           JOIN qv ON qv.query_id = qp.query_id
       |           WHERE cells.vec_id % $KnnQueryMod <> 0 AND cells.n2 > 0),
       |topk AS (SELECT query_id, label,
       |                ROW_NUMBER() OVER (PARTITION BY query_id
       |                                   ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |         FROM scored),
       |votes AS (SELECT query_id, label, COUNT(*) AS n_votes
       |          FROM topk WHERE rn <= $KnnK
       |          GROUP BY query_id, label)
       |SELECT query_id, label AS pred_label, n_votes
       |FROM (SELECT query_id, label, n_votes,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY n_votes DESC, label ASC) AS vr
       |      FROM votes)
       |WHERE vr = 1
       |ORDER BY query_id ASC""".stripMargin

  val knnLabelSql: String =
    s"""WITH $corpusSql,
       |qs AS (SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM e
       |       WHERE vec_id % $KnnQueryMod = 0 AND n2 > 0),
       |scored AS (SELECT qs.query_id, e.label, e.vec_id,
       |                  ${cosineFromSql(dotQSql("e.q", "qs.qq"), "e.n2", "qs.qn2")} AS cos_sim
       |           FROM e, qs
       |           WHERE e.vec_id % $KnnQueryMod <> 0 AND e.n2 > 0),
       |topk AS (SELECT query_id, label,
       |                ROW_NUMBER() OVER (PARTITION BY query_id
       |                                   ORDER BY cos_sim DESC, vec_id ASC) AS rn
       |         FROM scored),
       |votes AS (SELECT query_id, label, COUNT(*) AS n_votes
       |          FROM topk WHERE rn <= $KnnK
       |          GROUP BY query_id, label)
       |SELECT query_id, label AS pred_label, n_votes
       |FROM (SELECT query_id, label, n_votes,
       |             ROW_NUMBER() OVER (PARTITION BY query_id
       |                                ORDER BY n_votes DESC, label ASC) AS vr
       |      FROM votes)
       |WHERE vr = 1
       |ORDER BY query_id ASC""".stripMargin

  /** Recall@K AND reciprocal rank of an approximate serving tier
    * against the exact brute-force cosine top-K — the acceptance
    * metrics a serving rollout gates on (PQ's twin lives in
    * `ProductQuant.pqRecall`). Recall counts set overlap; RR is
    * rank-sensitive — 1/rank of the tier's FIRST true hit in its own
    * returned order, so a tier that buries its only true neighbor at
    * rank 10 scores 0.1 where recall alone would hide the difference.
    * One row: k, n_overlap, recall, first_hit_rank, rr (rank/rr NULL
    * when nothing overlaps). RR stays inside exact-rounded IEEE
    * division — no transcendental (the reason this is RR and not an
    * NDCG log-discount: cross-engine log is not bitwise-pinned). */
  private[graft] def recallOf(approx: DataFrame, exact: DataFrame,
      scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col("vec_id").asc)
    approx.select(col("vec_id"), col(scoreCol))
      .withColumn("rn", row_number().over(w))
      .join(exact.select(col("vec_id")), "vec_id")
      .agg(count(lit(1)).as("n_overlap"),
        min(col("rn")).cast("long").as("first_hit_rank"))
      .select(lit(TopK.toLong).as("k"), col("n_overlap"),
        (col("n_overlap").cast("double") / TopK).as("recall"),
        col("first_hit_rank"),
        (lit(1.0) / col("first_hit_rank").cast("double")).as("rr"))
  }

  def annRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallOf(annTopK(spark, sfDir), cosineTopK(spark, sfDir), "cos_sim")

  def ivfRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallOf(ivfTrainedTopK(spark, sfDir), cosineTopK(spark, sfDir), "cos_sim")

  private[graft] def recallSqlOf(approxSql: String,
      scoreCol: String = "cos_sim"): String =
    s"""WITH approx AS (${approxSql.replace("\n", "\n     ")}),
       |exact AS (${cosineTopKSql.replace("\n", "\n     ")}),
       |ranked AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY $scoreCol DESC, vec_id ASC) AS rn
       |           FROM approx),
       |hits AS (SELECT rn FROM ranked JOIN exact ON ranked.vec_id = exact.vec_id)
       |SELECT CAST($TopK AS BIGINT) AS k,
       |       COUNT(*) AS n_overlap,
       |       CAST(COUNT(*) AS DOUBLE) / $TopK AS recall,
       |       MIN(rn) AS first_hit_rank,
       |       CAST(1 AS DOUBLE) / CAST(MIN(rn) AS DOUBLE) AS rr
       |FROM hits""".stripMargin

  lazy val annRecallSql: String = recallSqlOf(annTopKSql)
  lazy val ivfRecallSql: String = recallSqlOf(ivfTrainedTopKSql)
}
