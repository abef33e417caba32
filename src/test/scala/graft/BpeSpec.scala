package graft

import org.apache.spark.sql.functions._
import graft.operators.Bpe
import graft.sources.Tables

/** BPE training/encode against an independent driver-side replay —
  * list-of-symbols merge application (scan-and-merge over token
  * vectors), a different algorithm than the engine's wrapped-string
  * `replace` representation. */
class BpeSpec extends SparkSpec {

  /** Unsigned UTF-8 byte order — DuckDB's and Spark's string sort. */
  private val byteOrder: Ordering[String] =
    Ordering.by((s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toSeq.map(_ & 0xff))(Ordering.Implicits.seqOrdering[Seq, Int])

  /** Reference implementation: greedy BPE over a (word -> count) map
    * using symbol VECTORS (one initial symbol per code point),
    * leftmost-first non-overlapping merges, ties broken in
    * [[byteOrder]]. */
  private def refBpe(wc: Map[String, Long], n: Int): (Seq[(Int, String, String, Long)], Map[String, Vector[String]]) = {
    var segs: Map[String, Vector[String]] = wc.keys.map(w => w ->
      w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))).toMap
    val tieOrd = Ordering.Tuple3(Ordering.Long, byteOrder, byteOrder)
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= n && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segs; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + wc(w)
      }
      if (counts.isEmpty) exhausted = true // pinned early stop
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }(tieOrd)
        learned += ((step, a, b, c))
        segs = segs.map { case (w, syms) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2 // leftmost-first, non-overlapping
            } else { out += syms(i); i += 1 }
          }
          w -> out.result()
        }
        step += 1
      }
    }
    (learned.result(), segs)
  }

  private def fixtureWordCounts(): Map[String, Long] =
    Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }

  test("bpe_merges: learned rules equal the vector-replay reference on the fixture") {
    val (expected, _) = refBpe(fixtureWordCounts(), Bpe.Merges)
    val got = Bpe.merges(Bpe.Toy)(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("bpe_vocab: symbol occurrences equal the reference final segmentation") {
    val wc = fixtureWordCounts()
    val (_, segs) = refBpe(wc, Bpe.Merges)
    val expected = segs.toSeq
      .flatMap { case (w, syms) => syms.map(_ -> wc(w)) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val got = Bpe.vocab(Bpe.Toy)(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // total symbol mass only shrinks vs characters (each merge joins two)
    val charMass = wc.map { case (w, c) => w.length * c }.sum
    assert(got.values.sum <= charMass)
  }

  test("bpe_encode: per-doc token counts equal reference retokenization") {
    val wc = fixtureWordCounts()
    val (_, segs) = refBpe(wc, Bpe.Merges)
    val docs = Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val expected = docs.map { case (id, ws) =>
      (id, ws.length.toLong, ws.map(w => segs(w).length.toLong).sum)
    }.sortBy(_._1).toSeq
    val got = Bpe.encode(Bpe.Toy)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("bpe_token_ids: sequences equal reference segmentation under symbol-asc dense ids") {
    val wc = fixtureWordCounts()
    val (_, segs) = refBpe(wc, Bpe.Merges)
    val symId = segs.values.flatten.toSeq.distinct.sorted
      .zipWithIndex.map { case (s, i) => s -> (i + 1).toLong }.toMap
    val docs = Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val expected = docs.map { case (id, ws) =>
      id -> ws.flatMap(w => segs(w).map(symId)).toSeq
    }.toMap
    val got = Bpe.tokenIdsFrame(Bpe.Toy)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    assert(got.map(_._1) == got.map(_._1).sorted)
    for ((id, n, ids) <- got) {
      assert(ids == expected(id), s"doc $id")
      assert(n == ids.length.toLong)
    }
    assert(got.map(_._1).toSet == expected.keySet)
    // the REGISTERED surface canonicalizes ids to a space-joined string
    // (driver-gate shape: pandas-sortable scalar columns only)
    val reg = Bpe.tokenIds(Bpe.Toy)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    for ((id, n, ids) <- got) assert(reg(id) == ids.mkString(" "))
  }

  test("bpe_decode round-trips ids to the original tokens concatenated") {
    val docs = Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .filter(_._2.nonEmpty).toMap
    val got = Bpe.decode(Bpe.Toy)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.keySet == docs.keySet)
    for ((id, ws) <- docs) assert(got(id) == ws.mkString(""), s"doc $id")
  }

  test("bpe_merges_scaled: 256 rules equal the vector-replay reference over top-capped c_names") {
    val wc = Tables.customer(spark, sf)
      .where(col("c_name").isNotNull)
      .select(col("c_name")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val capped = wc.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Bpe.TopWordTypes).toMap
    val (expected, _) = refBpe(capped, Bpe.ScaledMerges)
    val got = Bpe.merges(Bpe.CustScaled)(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // sf0.001's 150 shared-prefix names exhaust before 256 rules — the
    // pinned early stop; the reference must land on the same step
    assert(got == expected && got.length > Bpe.Merges)
  }

  test("bpe_encode_scaled: counts equal reference retokenization under the capped scaled vocab") {
    val wc = Tables.customer(spark, sf)
      .where(col("c_name").isNotNull)
      .select(col("c_name")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val capped = wc.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Bpe.TopWordTypes).toMap
    val (_, segs) = refBpe(capped, Bpe.ScaledMerges)
    val custs = Tables.customer(spark, sf)
      .where(col("c_name").isNotNull)
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val expected = custs.flatMap { case (k, ws) =>
      val inVocab = ws.filter(segs.contains)
      if (inVocab.isEmpty) None // inner-join semantics: untrained words drop
      else Some((k, inVocab.length.toLong, inVocab.map(w => segs(w).length.toLong).sum))
    }.sortBy(_._1).toSeq
    val got = Bpe.encode(Bpe.CustScaled)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("bpe_merges_scaled_docs: docs-trained rules equal the vector-replay reference (exhaustion stop)") {
    val wc = fixtureWordCounts()
    val capped = wc.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Bpe.TopWordTypes).toMap
    val (expected, _) = refBpe(capped, Bpe.ScaledMerges)
    val got = Bpe.merges(Bpe.DocsScaled)(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // the fixture documents vocabulary is small: training exhausts
    // before ScaledMerges and the reference must stop at the same step
    assert(got == expected && got.length < Bpe.ScaledMerges && got.nonEmpty)
  }

  test("bpe_token_ids_scaled: sequences equal reference segmentation under the docs-scaled vocab") {
    val wc = fixtureWordCounts()
    val capped = wc.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Bpe.TopWordTypes).toMap
    val (_, segs) = refBpe(capped, Bpe.ScaledMerges)
    val symId = segs.values.flatten.toSeq.distinct.sorted
      .zipWithIndex.map { case (s, i) => s -> (i + 1).toLong }.toMap
    val docs = Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val expected = docs.flatMap { case (id, ws) =>
      val inVocab = ws.filter(segs.contains)
      if (inVocab.isEmpty) None // inner-join semantics
      else Some(id -> inVocab.flatMap(w => segs(w).map(symId)).toSeq)
    }.toMap
    val got = Bpe.tokenIdsFrame(Bpe.DocsScaled)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    assert(got.map(_._1).toSet == expected.keySet)
    for ((id, n, ids) <- got) {
      assert(ids == expected(id), s"doc $id")
      assert(n == ids.length.toLong)
    }
  }

  test("bpe_decode_scaled round-trips docs-scaled ids to in-vocab tokens concatenated") {
    val wc = fixtureWordCounts()
    val capped = wc.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Bpe.TopWordTypes).toMap.keySet
    val docs = Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).filter(capped))
      .filter(_._2.nonEmpty).toMap
    val got = Bpe.decode(Bpe.DocsScaled)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.keySet == docs.keySet)
    for ((id, ws) <- docs) assert(got(id) == ws.mkString(""), s"doc $id")
  }

  test("pack_from_bpe_scaled conserves the docs-scaled token mass") {
    val wc = fixtureWordCounts()
    val capped = wc.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Bpe.TopWordTypes).toMap
    val (_, segs) = refBpe(capped, Bpe.ScaledMerges)
    val docs = Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
    val totalToks = docs.filter(segs.contains).map(w => segs(w).length.toLong).sum
    val packed = Bpe.packFromBpe(Bpe.DocsScaled)(spark, sf).collect()
    assert(packed.map(_.getLong(4)).sum == totalToks && packed.nonEmpty)
    val byCell = packed.groupBy(r => (r.getString(0), r.getLong(1)))
    for ((_, rows) <- byCell) {
      val ids = rows.map(_.getLong(2)).toSeq
      assert(ids.min == 0L && ids.distinct == ids)
    }
  }

  test("pack_from_bpe round-trips the encode token counts into sequences") {
    val packed = Bpe.packFromBpe(Bpe.Toy)(spark, sf).collect()
    val encoded = Bpe.encode(Bpe.Toy)(spark, sf).collect()
    assert(packed.map(_.getLong(4)).sum == encoded.map(_.getLong(2)).sum)
    assert(packed.nonEmpty)
    // within each (lang, shard), the first doc's first token is always
    // in chunk 0, and chunk ids are distinct
    val byCell = packed.groupBy(r => (r.getString(0), r.getLong(1)))
    for ((_, rows) <- byCell) {
      val ids = rows.map(_.getLong(2)).toSeq
      assert(ids.min == 0L && ids.distinct == ids)
    }
  }

  test("merge application is leftmost-first non-overlapping (aaaa/aaa shapes)") {
    val wc = Seq(("aaaa", 10L), ("aaa", 7L), ("ab", 1L))
    // pair (a,a): aaaa has 3 adjacent occurrences but only 2 disjoint;
    // counting is positional (3*10 + 2*7 = 44), application is disjoint.
    val (learned, v) = Bpe.trainLoop(wc, 1)
    assert(learned.head._2 == "a" && learned.head._3 == "a" && learned.head._4 == 44L)
    val segs = v.map { case (w, _, q) => w ->
      q.stripPrefix("·").stripSuffix("·").split("··").toSeq }.toMap
    assert(segs("aaaa") == Seq("aa", "aa"))
    assert(segs("aaa") == Seq("aa", "a"))
    assert(segs("ab") == Seq("a", "b"))
  }

  test("tiebreaks are (count desc, lhs asc, rhs asc)") {
    // abba: pairs (a,b), (b,b), (b,a) each occur once -> (a,b) wins on lhs asc
    val (learned, _) = Bpe.trainLoop(Seq(("abba", 1L)), 1)
    assert((learned.head._2, learned.head._3) == ("a", "b"))
    // bbba: (b,b) x2 beats (b,a) x1 on count before any tiebreak
    val (learned2, v2) = Bpe.trainLoop(Seq(("bbba", 1L)), 1)
    assert((learned2.head._2, learned2.head._3, learned2.head._4) == ("b", "b", 2L))
    assert(v2.head._3 == "·bb··b··a·")
  }

  test("bpe_merges is the first 12 rules of bpe_merges_scaled_docs (one trainer, one cap)") {
    val toy = Bpe.merges(Bpe.Toy)(spark, sf).collect().toSeq
    val docs = Bpe.merges(Bpe.DocsScaled)(spark, sf).collect().toSeq
    assert(docs.length > Bpe.Merges)
    assert(toy == docs.take(Bpe.Merges))
  }

  test("degenerate documents: all-null, emoji and < 12 available merges give the reference answer") {
    // all-null text trains zero rules; each other text allows exactly
    // two merges before every word is one symbol. An emoji is ONE
    // initial symbol (a code point, not two surrogates), and the
    // (ｂ,😀)/(😀,ｂ) tie goes to UTF-8 byte order, where U+FF42 sorts
    // below U+1F600 (UTF-16 code-unit order says the opposite)
    for ((text, nRules) <- Seq((lit(null).cast("string"), 0), (lit("ab ba ab"), 2),
        (lit("\ud83d\ude00\ud83d\ude00 \ud83d\ude00a"), 2),
        (lit("\uff42\ud83d\ude00 \ud83d\ude00\uff42"), 2))) {
      val dir = copyFixture("documents")
      rewrite(Tables.documents(spark, sf).withColumn("text", text), s"$dir/documents.parquet")
      val wc = Tables.documents(spark, dir).where(col("text").isNotNull)
        .select(col("text")).collect()
        .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      val (expected, segs) = refBpe(wc, Bpe.Merges)
      assert(expected.length == nRules)
      val rules = Bpe.merges(Bpe.Toy)(spark, dir).collect()
        .map(r => (r.getLong(0).toInt, r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(rules == expected)
      val vocab = Bpe.vocab(Bpe.Toy)(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(vocab == segs.toSeq.flatMap { case (w, syms) => syms.map(_ -> wc(w)) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum })
      val encoded = Bpe.encode(Bpe.Toy)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val docs = Tables.documents(spark, dir).where(col("text").isNotNull)
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
        .filter(_._2.nonEmpty)
      assert(encoded == docs.map { case (id, ws) =>
        (id, ws.length.toLong, ws.map(w => segs(w).length.toLong).sum)
      }.sortBy(_._1).toSeq)
      val symId = segs.values.flatten.toSeq.distinct.sorted(byteOrder)
        .zipWithIndex.map { case (s, i) => s -> (i + 1).toLong }.toMap
      val ids = Bpe.tokenIds(Bpe.Toy)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(ids == docs.map { case (id, ws) =>
        val seq = ws.flatMap(w => segs(w).map(symId))
        (id, seq.length.toLong, seq.mkString(" "))
      }.sortBy(_._1).toSeq)
      val decoded = Bpe.decode(Bpe.Toy)(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(decoded == docs.map { case (id, ws) => id -> ws.mkString("") }.toMap)
    }
  }
}
