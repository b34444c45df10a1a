package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sub-document-granularity dedup (paragraph keep-first, repeated-span
  * removal) and BPE training — each operator checked against an
  * INDEPENDENT naive single-node reimplementation on fixtures that hit
  * the edge geometry (overlapping/adjacent spans, all-duplicate
  * documents, empty paragraphs, sub-gram-length documents, overlapping
  * BPE pairs). */
class SubDocSpec extends SparkSpec {

  // ----------------------------------------------------------------
  // dedupParagraphs
  // ----------------------------------------------------------------

  private def naiveParagraphs(docs: Seq[(Long, String)], sep: String)
      : Map[Long, (Long, Long, String)] = {
    val seen = scala.collection.mutable.Set.empty[String]
    docs.sortBy(_._1).map { case (id, t) =>
      val paras = t.split(java.util.regex.Pattern.quote(sep), -1)
      val kept = paras.filter { p =>
        val norm = p.replaceAll("\\s+", " ").trim.toLowerCase
        norm.isEmpty || seen.add(norm)
      }
      id -> ((paras.length.toLong, kept.length.toLong, kept.mkString(sep)))
    }.toMap
  }

  test("dedupParagraphs keeps exactly the first occurrence of each paragraph") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      1L -> "alpha beta gamma\n\nshared footer text\n\nunique one",
      2L -> "shared footer text\n\ndelta epsilon",
      // same paragraph twice WITHIN one doc: second copy drops
      3L -> "unique two\n\nunique two\n\nShared  Footer   TEXT",
      // empty paragraph (a\n\n\n\nb) is structure, always kept
      4L -> "head\n\n\n\ntail",
      // document that loses everything
      5L -> "shared footer text")
    val expected = naiveParagraphs(docs, "\n\n")
    val got = Dedup.dedupParagraphs(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === expected)
    // spot-check the semantics directly
    assert(got(2L)._3 === "delta epsilon")
    assert(got(3L)._3 === "unique two") // intra-doc copy + normalized copy drop
    assert(got(4L) === ((3L, 3L, "head\n\n\n\ntail")))
    assert(got(5L) === ((1L, 0L, "")))
  }

  test("dedupParagraphs dedups under STRING ids (no silent cast-to-null no-op)") {
    val sp = spark
    import sp.implicits._
    // lexicographic id order decides "first"
    val docs = Seq(
      "doc-b" -> "shared paragraph\n\nown b",
      "doc-a" -> "own a\n\nshared paragraph",
      "doc-c" -> "shared paragraph")
    val got = Dedup.dedupParagraphs(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got("doc-a") === ((2L, "own a\n\nshared paragraph"))) // doc-a is first
    assert(got("doc-b") === ((1L, "own b")))
    assert(got("doc-c") === ((0L, "")))
  }

  test("dedupParagraphsAgainst equals the symmetric keep-first restricted to the batch") {
    val sp = spark
    import sp.implicits._
    // history ids all order before batch ids, so symmetric keep-first
    // over history ∪ batch gives history the win on shared paragraphs —
    // exactly what the incremental form computes from the KEY SET alone
    val history = Seq(
      1L -> "alpha beta\n\nshared footer text",
      2L -> "history only paragraph")
    val batch = Seq(
      10L -> "shared footer text\n\nnovel one",
      11L -> "novel one\n\nnovel two",
      12L -> "head\n\n\n\nshared footer text") // empty para survives
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val incr = collect(Dedup.dedupParagraphsAgainst(
      batch.toDF("doc_id", "text"), "doc_id", "text",
      Dedup.paragraphKeys(history.toDF("doc_id", "text"), "text")))
    val symmetric = collect(Dedup.dedupParagraphs(
        (history ++ batch).toDF("doc_id", "text"), "doc_id", "text")
      .filter(col("doc_id") >= 10L))
    assert(incr === symmetric)
    assert(incr(10L)._3 === "novel one")           // shared para in history
    assert(incr(11L)._3 === "novel two")           // novel one won at doc 10
    assert(incr(12L) === ((3L, 2L, "head\n\n")))   // empty para is structure
  }

  test("paragraphKeyIndex standing table probes in place and append folds kept keys in") {
    val sp = spark
    import sp.implicits._
    import graft.catalog.Layout
    val table = "para_idx_spec"
    sp.sql(s"DROP TABLE IF EXISTS ${table}_pkeys")
    try {
      val history = Seq(1L -> "seed paragraph one\n\nseed paragraph two")
        .toDF("doc_id", "text")
      Layout.paragraphKeyIndex(sp, history, "text", tableName = table)
      val batch1 = Seq(
        10L -> "seed paragraph one\n\nbatch novel alpha").toDF("doc_id", "text")
      val viaTable = Dedup.dedupParagraphsAgainst(batch1, "doc_id", "text",
        sp.table(s"${table}_pkeys"))
      val viaFrame = Dedup.dedupParagraphsAgainst(batch1, "doc_id", "text",
        Dedup.paragraphKeys(history, "text"))
      assert(viaTable.collect().toSeq === viaFrame.collect().toSeq)
      // fold ONLY the kept text in; a later copy of the admitted novel
      // paragraph must then dedup against the standing table
      Layout.paragraphKeyIndexAppend(sp,
        viaTable.select(col("doc_id"), col("clean_text").as("text")),
        "text", tableName = table)
      val batch2 = Seq(20L -> "batch novel alpha\n\nbatch novel beta")
        .toDF("doc_id", "text")
      val r2 = Dedup.dedupParagraphsAgainst(batch2, "doc_id", "text",
          sp.table(s"${table}_pkeys")).collect().head
      assert(r2.getLong(2) === 1L && r2.getString(3) === "batch novel beta")
    } finally sp.sql(s"DROP TABLE IF EXISTS ${table}_pkeys")
  }

  // ----------------------------------------------------------------
  // removeRepeatedSpans
  // ----------------------------------------------------------------

  private def naiveSpans(docs: Seq[(Long, String)], gramLen: Int)
      : Map[Long, (Long, Long, Long, String)] = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; i <- 0 to t.length - gramLen)
      counts.updateWith(t.substring(i, i + gramLen))(c => Some(c.getOrElse(0) + 1))
    docs.map { case (id, t) =>
      val cov = Array.fill(t.length)(false)
      for (i <- 0 to t.length - gramLen
           if counts(t.substring(i, i + gramLen)) > 1; j <- i until i + gramLen)
        cov(j) = true
      val clean = t.zipWithIndex.collect { case (c, j) if !cov(j) => c }.mkString
      val nSpans = cov.zipWithIndex.count { case (c, j) => c && (j == 0 || !cov(j - 1)) }
      id -> ((t.length.toLong, nSpans.toLong, cov.count(identity).toLong, clean))
    }.toMap
  }

  test("removeRepeatedSpans equals the per-character naive formulation") {
    val sp = spark
    import sp.implicits._
    val shared = "0123456789ABCDEFGHIJ" // exactly gramLen chars
    val docs = Seq(
      1L -> s"prefix one $shared middle $shared suffix", // two spans, same doc repeat
      2L -> s"${shared}head then unrelated tail",        // span at position 1
      3L -> s"tail case ends with the block $shared",    // span at the end
      4L -> "short",                                     // below gram length
      5L -> shared,                                      // entire doc duplicated
      6L -> "no repeats here at all - unique text body.",
      // overlapping repeated windows merge into ONE maximal span
      7L -> s"AB$shared${shared}YZ",
      8L -> s"CD$shared${shared}WX")
    val expected = naiveSpans(docs, 20)
    val got = Dedup.removeRepeatedSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", gramLen = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got === expected)
    assert(got(4L) === ((5L, 0L, 0L, "short"))) // sub-gram doc untouched
    assert(got(5L)._4 === "")                   // fully-duplicated doc emptied
    assert(got(7L)._2 === 1L)                   // overlapping windows: one span
  }

  test("removeRepeatedSpans is exact under a colliding census prefix (confirm pass)") {
    val sp = spark
    import sp.implicits._
    // ~2500 DISTINCT grams against 256 possible 1-byte prefixes: census
    // collisions are pigeonhole-certain, so the truncated census marks
    // many unique grams as candidates — the full-key confirm pass must
    // strip every false positive and keep the planted duplicates
    val rnd = new scala.util.Random(42)
    val shared = "0123456789ABCDEFGHIJ"
    val docs = (1L to 40L).map { i =>
      val unique = Array.fill(60)(('a' + rnd.nextInt(26)).toChar).mkString
      i -> (if (i % 7 == 0) s"$unique $shared" else unique)
    }
    val df = docs.toDF("doc_id", "text")
    def run(prefix: Int) =
      Dedup.removeRepeatedSpans(df, "doc_id", "text", gramLen = 20,
          prefixBytes = prefix)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val viaPrefix = run(1)
    val viaFullKey = run(16)
    assert(viaPrefix === viaFullKey)
    assert(viaPrefix === naiveSpans(docs, 20))
    assert(viaPrefix.count(_._2._2 > 0) === docs.count(_._1 % 7 == 0),
      "exactly the seeded docs lose their shared block")
  }

  test("removeRepeatedSpansAgainst equals the symmetric removal restricted to the batch") {
    val sp = spark
    import sp.implicits._
    val shared = "0123456789ABCDEFGHIJ"   // in history once
    val intra = "KLMNOPQRSTUVWXYZabcd"    // twice WITHIN the batch only
    val history = Seq(
      1L -> s"history text holding $shared and nothing else",
      2L -> "independent history body with no repeats")
    val batch = Seq(
      10L -> s"batch copy of $shared the history singleton", // dup vs standing count 1
      11L -> s"first $intra here",                           // dup vs batch itself
      12L -> s"again $intra there",
      13L -> "wholly unique batch document stays intact")
    def collect(df: DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val incr = collect(Dedup.removeRepeatedSpansAgainst(
      batch.toDF("doc_id", "text"), "doc_id", "text",
      Dedup.gramCensus(history.toDF("doc_id", "text"), "text", 20), 20))
    val symmetric = collect(Dedup.removeRepeatedSpans(
        (history ++ batch).toDF("doc_id", "text"), "doc_id", "text", 20)
      .filter(col("doc_id") >= 10L))
    assert(incr === symmetric)
    assert(incr(10L)._2 === 1L, "history singleton + batch copy = duplicated")
    assert(incr(11L)._2 === 1L && incr(12L)._2 === 1L, "batch-internal repeat")
    assert(incr(13L) === ((41L, 0L, 0L, "wholly unique batch document stays intact")))
  }

  // ----------------------------------------------------------------
  // Bpe
  // ----------------------------------------------------------------

  private def naiveMergeList(s: List[String], a: String, b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toList
  }

  private def naiveBpeW(words: Map[String, Long], numMerges: Int,
                        minPair: Long): Seq[(String, String, Long)] = {
    var vocab: Map[List[String], Long] =
      words.map { case (w, c) => (w.split("").toList, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (out.size < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(v => Some(v.getOrElse(0L) + c))
      val best = counts.toSeq.sortBy { case ((a, b), w) => (-w, a, b) }.headOption
      best match {
        case Some(((a, b), w)) if w >= minPair =>
          out += ((a, b, w))
          vocab = vocab.map { case (syms, c) => (naiveMergeList(syms, a, b), c) }
        case _ => done = true
      }
    }
    out.toSeq
  }

  private def naiveBpe(words: Map[String, Long], numMerges: Int,
                       minPair: Long): Seq[(String, String)] =
    naiveBpeW(words, numMerges, minPair).map { case (a, b, _) => (a, b) }

  test("mergeAdjacent applies the non-overlap left-to-right rule") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      Seq("a", "a", "a"),             // overlap: -> [aa, a]
      Seq("a", "a", "a", "a"),        // -> [aa, aa]
      Seq("b", "a", "a", "b"),        // -> [b, aa, b]
      Seq("a"), Seq.empty[String]).toDF("syms")
    val got = df.select(Bpe.mergeAdjacent(col("syms"), "a", "a").as("m"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got.toList === List(
      List("aa", "a"), List("aa", "aa"), List("b", "aa", "b"),
      List("a"), Nil))
  }

  test("bpeApplyMerges equals the chained mergeAdjacent folds, rank order and overlaps included (r15)") {
    val sp = spark
    import sp.implicits._
    // chained-creation case: (a,a) then (aa,a) — the second merge only
    // exists because the first created its left symbol; plus overlap
    // runs, non-matches, short arrays and the empty array
    val df = Seq(
      Seq("a", "a", "a", "a", "a"),
      Seq("a", "a", "a"),
      Seq("b", "a", "a", "b", "a"),
      Seq("x", "y", "z"),
      Seq("a"), Seq.empty[String]).toDF("syms")
    val merges = Seq(("a", "a"), ("aa", "a"), ("b", "aa"))
    val chained = merges.foldLeft(col("syms")) {
      case (s, (a, b)) => Bpe.mergeAdjacent(s, a, b)
    }
    val got = df.select(
        graft.functions.bpeApplyMerges(col("syms"), merges).as("f"),
        chained.as("c"))
      .collect()
      .map(r => (r.getSeq[String](0).toList, r.getSeq[String](1).toList))
    got.foreach { case (f, c) =>
      assert(f === c, "expression and fold chain diverged")
    }
    // and the fused result is the expected hand-derived sequence:
    // aaaaa -(a,a)-> [aa,aa,a] -(aa,a)-> [aa,aaa] -(b,aa)-> [aa,aaa]
    assert(got.head._1 === List("aa", "aaa"))
    // the chained-creation + cross-symbol case:
    // [b,a,a,b,a] -(a,a)-> [b,aa,b,a] -(aa,a)-> same -(b,aa)-> [baa,b,a]
    assert(got(2)._1 === List("baa", "b", "a"))
  }

  test("train matches the naive reference merge-for-merge, ties included") {
    val sp = spark
    import sp.implicits._
    // 'low/lower/lowest/new/newest/wide/widest' - the classic BPE corpus,
    // with weights forcing both clear winners and lexicographic ties
    val words = Map(
      "low" -> 5L, "lower" -> 2L, "lowest" -> 6L,
      "new" -> 6L, "newest" -> 3L, "wide" -> 3L, "widest" -> 2L)
    val expected = naiveBpe(words, numMerges = 10, minPair = 2L)
    val got = Bpe.collectMerges(
      Bpe.train(words.toSeq.toDF("word", "weight"), "word", "weight",
        numMerges = 10, minPairCount = 2L, checkpointEvery = 3))
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("train's weight column is the pair's census frequency at selection time") {
    val sp = spark
    import sp.implicits._
    val words = Map(
      "low" -> 5L, "lower" -> 2L, "lowest" -> 6L,
      "new" -> 6L, "newest" -> 3L, "wide" -> 3L, "widest" -> 2L)
    val expected = naiveBpeW(words, numMerges = 10, minPair = 2L)
      .zipWithIndex.map { case ((a, b, w), i) => (i + 1, a, b, w) }
    val got = Bpe.train(words.toSeq.toDF("word", "weight"), "word", "weight",
        numMerges = 10, minPairCount = 2L)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("batched train: batchK=1 is exactly sequential; disjoint batches match; conflicts defer") {
    val sp = spark
    import sp.implicits._
    def table(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // batchK=1 is the naive reference's exact sequence on the classic corpus
    val classic = Map("low" -> 5L, "lower" -> 2L, "lowest" -> 6L,
      "new" -> 6L, "newest" -> 3L, "wide" -> 3L, "widest" -> 2L)
    assert(table(Bpe.train(classic.toSeq.toDF("word", "weight"), "word", "weight",
        numMerges = 10, batchK = 1, minPairCount = 2L)) ===
      naiveBpeW(classic, numMerges = 10, minPair = 2L)
        .zipWithIndex.map { case ((a, b, w), i) => (i + 1, a, b, w) })
    // four symbol-disjoint pairs: ONE scan selects all four, and the
    // table (ranks, pairs, weights) is identical to the sequential run
    val disjoint = Seq("ab" -> 100L, "cd" -> 90L, "ef" -> 80L, "gh" -> 70L)
      .toDF("word", "weight")
    assert(table(Bpe.train(disjoint, "word", "weight", numMerges = 4,
        batchK = 4)) ===
      table(Bpe.train(disjoint, "word", "weight", numMerges = 4)))
    // (a,b) and (b,c) share a symbol: the batch takes only (a,b) and the
    // NEXT scan re-censuses (b,c) at its post-merge weight 90 — batching
    // both in one fold would have recorded the stale 95
    val conflict = Seq("ab" -> 100L, "bc" -> 90L, "abc" -> 5L)
      .toDF("word", "weight")
    val got = table(Bpe.train(conflict, "word", "weight",
      numMerges = 2, batchK = 2))
    assert(got === table(Bpe.train(conflict, "word", "weight", numMerges = 2)))
    assert(got === Seq((1, "a", "b", 105L), (2, "b", "c", 90L)))
  }

  test("batched train: created-pair overtaking — the documented divergence appears and is bounded") {
    val sp = spark
    import sp.implicits._
    def table(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // engineered so the pair CREATED by merge 1 outranks the batch's
    // second pick: (a,b) = 190 dominates; after it merges, (ab,c) = 90
    // exists and sequential train ranks it above (x,y) = 80 — but a
    // batchK = 2 scan cannot see (ab,c) (it does not exist in the
    // pre-scan census) and takes (x,y) instead. This is the standard
    // parallel-BPE approximation the scaladoc documents; the divergence
    // is exactly one table row here, and batchK = 1 stays exact.
    val words = Seq("ab" -> 100L, "abc" -> 90L, "xy" -> 80L)
      .toDF("word", "weight")
    val seq2 = table(Bpe.train(words, "word", "weight", numMerges = 2,
      minPairCount = 1L))
    val bat2 = table(Bpe.train(words, "word", "weight", numMerges = 2,
      batchK = 2, minPairCount = 1L))
    assert(seq2 === Seq((1, "a", "b", 190L), (2, "ab", "c", 90L)),
      s"sequential must rank the created pair second: $seq2")
    assert(bat2 === Seq((1, "a", "b", 190L), (2, "x", "y", 80L)),
      s"the batch must miss the created pair: $bat2")
    assert(seq2.head == bat2.head && seq2(1) != bat2(1),
      "divergence is exactly the created-pair rank (1 of 2 rows)")
    // at numMerges = 3 both tables CONVERGE again (the batched run's
    // next scan sees (ab,c)): same merge SET, different ranks — the
    // divergence is an ordering window of width < batchK, not a loss
    val seq3 = table(Bpe.train(words, "word", "weight", numMerges = 3,
      minPairCount = 1L)).map(t => (t._2, t._3)).toSet
    val bat3 = table(Bpe.train(words, "word", "weight", numMerges = 3,
      batchK = 2, minPairCount = 1L)).map(t => (t._2, t._3)).toSet
    assert(seq3 === bat3, s"merge SETS must converge at +1 scan: $seq3 vs $bat3")
  }

  test("train is invariant to input partitioning (argmax ties break by value, not order)") {
    val sp = spark
    import sp.implicits._
    val words = Seq("low" -> 5L, "lowest" -> 6L, "new" -> 6L, "newest" -> 3L,
      "wide" -> 3L, "widest" -> 2L).toDF("word", "weight")
    val m1 = Bpe.collectMerges(
      Bpe.train(words.coalesce(1), "word", "weight", numMerges = 6))
    val m7 = Bpe.collectMerges(
      Bpe.train(words.repartition(7), "word", "weight", numMerges = 6))
    assert(m1 == m7, s"merge table must not depend on partitioning: $m1 vs $m7")
  }

  test("train stops early when no pair reaches minPairCount") {
    val sp = spark
    import sp.implicits._
    val words = Seq(("ab", 1L), ("cd", 1L)).toDF("word", "weight")
    val merges = Bpe.train(words, "word", "weight", numMerges = 5,
      minPairCount = 2L)
    assert(merges.count() === 0L)
  }

  test("encodeVocab (capped-lineage production route) equals the expression-fold encode") {
    val sp = spark
    import sp.implicits._
    val words = Map("low" -> 5L, "lower" -> 2L, "lowest" -> 6L,
      "new" -> 6L, "newest" -> 3L, "wide" -> 3L, "widest" -> 2L)
    val merges = naiveBpe(words, numMerges = 10, minPair = 1L)
    val vocab = words.keys.toSeq.toDF("word")
    val viaExpr = vocab
      .select(col("word"), Bpe.encode(col("word"), merges).as("pieces"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // checkpointEvery=3 forces several lineage cuts inside the 10 merges
    val viaVocab = Bpe.encodeVocab(vocab, "word", merges, checkpointEvery = 3)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(viaVocab === viaExpr)
    assert(viaVocab.values.exists(_.size > 1), "fixture must produce real pieces")
  }

  test("encode applies trained merges in rank order over distinct words") {
    val sp = spark
    import sp.implicits._
    val words = Map("low" -> 5L, "lowest" -> 6L, "newest" -> 3L)
    val merges = naiveBpe(words, numMerges = 4, minPair = 2L)
    val got = Seq("lowest", "slow", "xyz").toDF("word")
      .select(col("word"), Bpe.encode(col("word"), merges).as("pieces"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val naive = Map(
      "lowest" -> merges.foldLeft("lowest".split("").toList) {
        case (s, (a, b)) => naiveMergeList(s, a, b) },
      "slow" -> merges.foldLeft("slow".split("").toList) {
        case (s, (a, b)) => naiveMergeList(s, a, b) },
      "xyz" -> merges.foldLeft("xyz".split("").toList) {
        case (s, (a, b)) => naiveMergeList(s, a, b) })
    assert(got === naive)
  }
}
