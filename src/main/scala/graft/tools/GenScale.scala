package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic scale-up of the pinned harness fixtures — produces an
  * sfN directory (default 10× sf0.1 ≈ sf1) so the 100× design claims in
  * PLANS.md can be MEASURED above the driver's largest fixture instead
  * of argued from plan shape alone.
  *
  * Construction: REP disjoint replicas of the source tables. Every
  * int64 key domain is offset by `rep * 10_000_000` (all fixture keys
  * are far below 10M), so referential integrity (orders→customer,
  * lineitem→orders/part/supplier, events→user, docs, vectors) holds
  * replica-by-replica and per-key group sizes — join fan-outs, session
  * lengths, near-dup cluster sizes — are preserved while key
  * cardinality grows linearly, which is exactly how a larger corpus
  * grows (more users/docs, not longer sessions per user).
  *
  * Two columns need more than an offset:
  *  - `documents.text`: replica r>0 applies a letter SUBSTITUTION
  *    (translate over [a-zA-Z]: rotation by r for ≤26 replicas, a
  *    seeded permutation per replica above that — see [[alphabetFor]])
  *    — length-preserving (so `n_chars` stays true) and
  *    token-shape-preserving, but shingles become disjoint across
  *    replicas, so replicas do not collapse into cross-replica
  *    near-dup cliques (which would make LSH bucket occupancy grow
  *    with REP², nothing like real corpus growth).
  *  - `embeddings.embedding`: replica r cyclically rotates the vector
  *    by r positions (composed with a per-replica ±1 sign pattern
  *    above 26 replicas) — an isometry (within-replica dot/cosine
  *    structure is bit-preserved) that decorrelates replicas.
  *
  * `region`/`nation` stay fixed (TPC-H dims do not scale with SF).
  *
  * Output layout: `<outDir>/<table>.parquet` as a DIRECTORY of part
  * files (sized for parallel scans), which `spark.read.parquet` reads
  * directly and DuckDB reads via a glob over the directory.
  *
  *   sbt -batch "runMain graft.tools.GenScale /root/testdata/sf0.1 scale/sf1 10"
  */
object GenScale {

  val Off = 10000000L

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private def rot(s: String, r: Int): String =
    s.drop(r % s.length) + s.take(r % s.length)

  /** Substitution alphabet for replica r. Rotation is mod-26, so past
    * 26 replicas r and r+26 would share it — cross-replica shingles
    * become IDENTICAL and LSH forms replica-cliques, which is nothing
    * like real corpus growth. ≤26 replicas keep the original rotation
    * (the committed sf1 fixture stays bit-reproducible); above that,
    * each replica gets a seeded-shuffle PERMUTATION of the alphabet —
    * two of 100 permutations colliding has probability ~100²/26!, and
    * an 8-token shingle mapping identically under two distinct
    * permutations needs every character to agree, ~(1/26)^chars. */
  private def alphabetFor(r: Int, reps: Int): String =
    if (reps <= 26) rot(lower, r)
    else {
      val p = new scala.util.Random(1000 + r).shuffle(lower.toList).mkString
      if (p == lower) rot(p, 1) else p
    }

  /** CASE over the replica id: identity for rep 0, the replica's
    * substitution alphabet otherwise (upper/lower in lockstep). */
  private def rotText(text: org.apache.spark.sql.Column,
                      rep: org.apache.spark.sql.Column,
                      reps: Int): org.apache.spark.sql.Column =
    (1 until reps).foldLeft(text) { (acc, r) =>
      val a = alphabetFor(r, reps)
      when(rep === r,
        translate(text, lower + lower.toUpperCase,
          a + a.toUpperCase)).otherwise(acc)
    }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "scale/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local()

    def replicate(df: DataFrame): DataFrame =
      df.select(col("*"), explode(lit((0 until reps).toArray)).as("rep"))

    def offsetKeys(df: DataFrame, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + col("rep") * Off))

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.drop("rep").repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[genscale] wrote $name x$reps -> $outDir/$name.parquet ($files files)")
    }

    // fixed-size dims: copy through unchanged
    for (t <- Seq("region", "nation"))
      Tables.load(spark, srcDir, t).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")

    write(offsetKeys(replicate(Tables.load(spark, srcDir, "customer")), "c_custkey"),
      "customer", 4)
    write(offsetKeys(replicate(Tables.load(spark, srcDir, "supplier")), "s_suppkey"),
      "supplier", 2)
    write(offsetKeys(replicate(Tables.load(spark, srcDir, "part")), "p_partkey"),
      "part", 4)
    write(offsetKeys(replicate(Tables.load(spark, srcDir, "orders")),
      "o_orderkey", "o_custkey"), "orders", 16)
    write(offsetKeys(replicate(Tables.load(spark, srcDir, "lineitem")),
      "l_orderkey", "l_partkey", "l_suppkey"), "lineitem", 32)
    // events via Tables.events so nanos-as-long ts is normalized to a
    // real timestamp column (micros) in the written file — DuckDB and
    // Spark then agree on it exactly as they do on the ns original
    write(offsetKeys(replicate(Tables.events(spark, srcDir)),
      "event_id", "user_id"), "events", 16)
    write(
      offsetKeys(replicate(Tables.load(spark, srcDir, "documents")), "doc_id")
        .withColumn("text", rotText(col("text"), col("rep"), reps)),
      "documents", 4)
    // cyclic rotation is mod-dim (64), so past 64 replicas r and r+64
    // would share it; above 26 replicas compose the rotation with a
    // deterministic per-(rep, position) ±1 sign pattern (Murmur3 via
    // Spark's hash(), seed-stable) — a diagonal isometry, so
    // within-replica dot/cosine structure is still bit-preserved while
    // two replicas share the full dim-long pattern with prob 2^-dim
    val rotated = when(col("rep") === 0, col("embedding")).otherwise(
      concat(
        expr("slice(embedding, pmod(rep, size(embedding)) + 1, size(embedding) - pmod(rep, size(embedding)))"),
        expr("slice(embedding, 1, pmod(rep, size(embedding)))")))
    val embBase = offsetKeys(replicate(Tables.load(spark, srcDir, "embeddings")), "vec_id")
    val emb =
      if (reps <= 26) embBase.withColumn("embedding", rotated)
      else embBase
        .withColumn("rot_emb", rotated)
        .withColumn("embedding", expr(
          "transform(rot_emb, (x, i) -> CASE WHEN pmod(hash(rep, i), 2) = 0 THEN x ELSE -x END)"))
        .drop("rot_emb")
    write(emb, "embeddings", 4)
    spark.stop()
  }
}
