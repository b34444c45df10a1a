package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{tokens, wordShingles}

class DedupSpec extends SparkSpec {

  /** Deterministic synthetic corpus with planted near-duplicates. */
  private lazy val docs: DataFrame = {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(3)
    val vocab = (1 to 200).map(i => s"w$i")
    def sentence(n: Int) = List.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val originals = (0 until 40).map(i => (i.toLong, sentence(30)))
    // plant near-dups: copy with one word changed
    val nearDups = originals.take(10).map { case (id, text) =>
      val toks = text.split(" ")
      (100L + id, toks.updated(5, "REPLACED").mkString(" "))
    }
    (originals ++ nearDups).toDF("doc_id", "text")
  }

  /** Brute-force jaccard pairs over distinct 2-gram shingle sets. */
  private def bruteJaccard(threshold: Double): Set[(Long, Long, Double)] = {
    val rows = docs.select(col("doc_id"), wordShingles(tokens(col("text")), 2).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      inter = sa.intersect(sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      jr = BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= threshold
    } yield (ia, ib, jr)).toSet
  }

  test("denseDictionary: dense unique ids across a forced-multi-partition dictionary") {
    val sp = spark
    import sp.implicits._
    // shingle universe large enough that every one of the 32 shards is hit
    val sh = (0 until 5000).map(i => (i.toLong % 7, s"shingle_$i"))
      .toDF("id", "sh").repartition(16)
    val (ids, vocab) = graft.Storage.scoped { st =>
      val (dict, vocab) = Dedup.denseDictionary(st, sh, numShards = 32)
      (dict.select(col("shid")).collect().map(_.getLong(0)).sorted, vocab)
    }
    assert(vocab == 5000L)
    // dense cover of [0, V): unique, min 0, max V-1
    assert(ids.length == 5000 && ids.head == 0L && ids.last == 4999L)
    assert(ids.distinct.length == 5000)
  }

  test("repeated jaccardPairs calls on different inputs add no CacheManager entry") {
    // the dictionary's shard-rank cache lives in the call's scope: a
    // cache returned with the dictionary left one entry per call that
    // only clearCache() reclaimed
    val sp = spark
    import sp.implicits._
    val entries = graft.StorageSpec.cachedEntries(spark)
    val a = Dedup.jaccardPairs(
      Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text"),
      "doc_id", "text", 2, 0.2).collect()
    val b = Dedup.jaccardPairs(
      Seq((1L, "x y z"), (2L, "x y z"), (3L, "q r")).toDF("doc_id", "text"),
      "doc_id", "text", 2, 0.2).collect()
    assert(a.length == 1 && b.length == 1)
    assert(graft.StorageSpec.cachedEntries(spark) == entries)
  }

  test("jaccardPairs (auto strategy) equals brute force on both sides of the vocab cutoff") {
    val expect = bruteJaccard(0.2)
    // small cutoff forces the inverted-index path; large keeps the bitmap path
    for (cutoff <- Seq(1L, 1L << 18)) {
      val got = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.2, maxBitmapVocab = cutoff)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expect, s"cutoff=$cutoff")
    }
  }

  test("jaccardPairs: small-vocab/many-doc corpus takes the inverted path, not the n² bitmap loop") {
    // tiny vocabulary (well under any bitmap cutoff) but a doc count above
    // maxBruteDocs — the round-4 guard must route this to the inverted
    // index even though the vocabulary alone would pick bitmaps
    val sp = spark
    import sp.implicits._
    val boiler = (0 until 60).map { i =>
      (i.toLong, s"alpha beta gamma delta w${i % 3} epsilon zeta")
    }.toDF("doc_id", "text")

    def planOf(df: DataFrame) = df.queryExecution.executedPlan.toString

    val guarded = Dedup.jaccardPairs(boiler, "doc_id", "text", 2, 0.2, maxBruteDocs = 10L)
    assert(!planOf(guarded).toLowerCase.contains("bit_and_count"),
      "doc-count guard must force the inverted-index path")
    val unguarded = Dedup.jaccardPairs(boiler, "doc_id", "text", 2, 0.2)
    assert(planOf(unguarded).toLowerCase.contains("bit_and_count"),
      "small corpus under both limits keeps the bitmap path")
    // both paths agree on the result set
    val a = guarded.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = unguarded.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("simHashNearDups banding equals brute-force hamming filter") {
    val sh = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, ha) <- sh; (ib, hb) <- sh if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    val banded = Dedup.simHashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
  }

  test("minHashNearDups finds the planted near-duplicates") {
    val got = Dedup.minHashNearDups(docs, "doc_id", "text",
        shingleN = 2, numHashes = 32, bands = 8, estThreshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each planted pair (i, 100+i) has true jaccard ~0.87 — recall must be high
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    val found = planted.intersect(got)
    assert(found.size >= 9, s"found only ${found.size}/10 planted pairs")
  }

  test("minHashSignatures emits one row per non-empty doc, k columns in sig") {
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", 2, 16)
    assert(sigs.count() == docs.count())
    assert(sigs.select(size(col("sig"))).distinct().head().getInt(0) == 16)
  }

  test("minHashNearDupsAgainst equals the symmetric run restricted to cross pairs") {
    // the incremental premise: originals are the indexed history, the
    // planted near-dups arrive as the new batch
    val corpus = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100)
    val index = Dedup.minHashSignatures(corpus, "doc_id", "text", 2, 32)
    val incr = Dedup.minHashNearDupsAgainst(batch, index, "doc_id", "text",
        shingleN = 2, numHashes = 32, bands = 8, estThreshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch always left, corpus always right — no same-side leakage
    assert(incr.forall { case (b, c, _) => b >= 100 && c < 100 })
    // same pair set AND same estimates as running the full symmetric
    // operator over history∪batch and keeping the cross pairs (fixed
    // seeds make both deterministic)
    val full = Dedup.minHashNearDups(docs, "doc_id", "text", 2, 32, 8, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a < 100) != (b < 100) }
      .map { case (a, b, e) => if (a >= 100) (a, b, e) else (b, a, e) }.toSet
    assert(incr == full)
    // and the planted (i, 100+i) near-dups are found
    val planted = (0 until 10).map(i => (100L + i, i.toLong)).toSet
    assert(planted.intersect(incr.map(t => (t._1, t._2))).size >= 9,
      s"missed planted dups: found ${planted.intersect(incr.map(t => (t._1, t._2))).size}/10")
  }

  test("simHashNearDupsAgainst equals the symmetric run restricted to cross pairs") {
    val corpus = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100)
    val index = Dedup.simHash(corpus, "doc_id", "text")
    val incr = Dedup.simHashNearDupsAgainst(batch, index, "doc_id", "text", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr.forall { case (b, c, _) => b >= 100 && c < 100 })
    // pigeonhole banding is exact, so cross-restriction equality is exact
    val full = Dedup.simHashNearDups(docs, "doc_id", "text", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => (a < 100) != (b < 100) }
      .map { case (a, b, h) => if (a >= 100) (a, b, h) else (b, a, h) }.toSet
    assert(incr == full)
    assert(incr.nonEmpty, "expected planted near-dups within Hamming 6")
  }

  test("incremental == symmetric-restricted-to-cross on random corpus/batch splits") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(59)
    val vocab = (1 to 120).map(i => s"v$i")
    for (trial <- 1 to 3) {
      def sentence(n: Int) = List.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val originals = (0 until 30).map(i => (i.toLong, sentence(20 + rng.nextInt(15))))
      // random near-dups of random originals, randomly perturbed
      val dups = (0 until 8).map { j =>
        val (srcId, text) = originals(rng.nextInt(originals.size))
        val toks = text.split(" ")
        (200L + j, toks.updated(rng.nextInt(toks.length), s"X$j").mkString(" "))
      }
      val all = (originals ++ dups).toDF("doc_id", "text")
      val cut = 100L // originals are history, dups arrive as the batch
      val corpus = all.filter(col("doc_id") < cut)
      val batch = all.filter(col("doc_id") >= cut)
      val incr = Dedup.minHashNearDupsAgainst(batch,
          Dedup.minHashSignatures(corpus, "doc_id", "text", 2, 32),
          "doc_id", "text", shingleN = 2, numHashes = 32, bands = 8,
          estThreshold = 0.25)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = Dedup.minHashNearDups(all, "doc_id", "text", 2, 32, 8, 0.25)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (a, b, _) => (a < cut) != (b < cut) }
        .map { case (a, b, e) => if (a >= cut) (a, b, e) else (b, a, e) }.toSet
      assert(incr == full, s"trial $trial: incremental != symmetric cross")
      assert(incr.nonEmpty, s"trial $trial: no cross pairs found")
    }
  }

  test("incremental ops tolerate empty and degenerate batches") {
    val sp = spark
    import sp.implicits._
    val corpus = docs.filter(col("doc_id") < 100)
    val sigs = Dedup.minHashSignatures(corpus, "doc_id", "text", 2, 32)
    val hashes = Dedup.simHash(corpus, "doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minHashNearDupsAgainst(empty, sigs, "doc_id", "text",
      2, 32, 8, 0.3).count() == 0)
    assert(Dedup.simHashNearDupsAgainst(empty, hashes, "doc_id", "text", 3)
      .count() == 0)
    // sub-shingle docs produce null signatures and must be filtered, not
    // crash or match everything
    val degenerate = Seq((900L, "one"), (901L, "")).toDF("doc_id", "text")
    assert(Dedup.minHashNearDupsAgainst(degenerate, sigs, "doc_id", "text",
      2, 32, 8, 0.0).count() == 0)
    // curate with an empty batch: no survivors, index untouched
    val table = "mh_edge_idx"
    Seq("_sigs", "_bands").foreach(s => sp.sql(s"DROP TABLE IF EXISTS $table$s"))
    try {
      graft.catalog.Layout.minhashBandIndex(sp, corpus, "doc_id", "text",
        shingleN = 2, numHashes = 32, bands = 8, buckets = 2, table)
      val before = sp.table(s"${table}_sigs").count()
      val survivors = Dedup.curateBatchAgainstIndex(empty, sp, table,
        "doc_id", "text", shingleN = 2, numHashes = 32, bands = 8,
        buckets = 2, estThreshold = 0.3)
      assert(survivors.count() == 0)
      assert(sp.table(s"${table}_sigs").count() == before)
    } finally Seq("_sigs", "_bands").foreach(s =>
      sp.sql(s"DROP TABLE IF EXISTS $table$s"))
  }

  test("curateBatchAgainstIndex drops matched docs and folds survivors into the index") {
    val sp = spark
    import sp.implicits._
    val corpus = docs.filter(col("doc_id") < 100) // 40 originals
    // batch: the 10 planted near-dups + 2 novel docs on a disjoint vocab
    val novel = Seq(
      (500L, (1 to 30).map(i => s"zz$i").mkString(" ")),
      (501L, (31 to 60).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") >= 100).unionAll(novel)
    val table = "mh_curate_idx"
    Seq("_sigs", "_bands").foreach(s => sp.sql(s"DROP TABLE IF EXISTS $table$s"))
    try {
      graft.catalog.Layout.minhashBandIndex(sp, corpus, "doc_id", "text",
        shingleN = 2, numHashes = 32, bands = 8, buckets = 4, table)
      val survivors = Dedup.curateBatchAgainstIndex(batch, sp, table,
        "doc_id", "text", shingleN = 2, numHashes = 32, bands = 8,
        buckets = 4, estThreshold = 0.3)
      val survived = survivors.select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      // expected: batch minus ids the (index-free) incremental op matches
      val matched = Dedup.minHashNearDupsAgainst(batch,
          Dedup.minHashSignatures(corpus, "doc_id", "text", 2, 32),
          "doc_id", "text", shingleN = 2, numHashes = 32, bands = 8,
          estThreshold = 0.3)
        .select(col("batch_id")).distinct().collect().map(_.getLong(0)).toSet
      val batchIds = batch.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(survived == batchIds -- matched)
      // the novel docs never match the w-vocab corpus; most planted dups do
      assert(survived.contains(500L) && survived.contains(501L))
      assert(matched.size >= 9, s"expected >=9 planted dups matched, got ${matched.size}")
      // survivors were folded in: the index grew by exactly |survivors|...
      assert(sp.table(s"${table}_sigs").count() == 40L + survived.size)
      // ...and a twin of a survivor now near-dups the index
      val twin = novel.filter(col("doc_id") === 500L)
        .select(lit(900L).as("doc_id"), col("text"))
      val reprobe = Dedup.minHashNearDupsAgainstIndex(twin, sp, table,
          "doc_id", "text", shingleN = 2, numHashes = 32, bands = 8,
          estThreshold = 0.3)
        .select(col("corpus_id")).collect().map(_.getLong(0)).toSet
      assert(reprobe.contains(500L))
    } finally Seq("_sigs", "_bands").foreach(s =>
      sp.sql(s"DROP TABLE IF EXISTS $table$s"))
  }

  test("connectedComponents labels every component by its min member id") {
    val sp = spark
    import sp.implicits._
    // two triangles bridged by one edge + a separate pair + a chain
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L)
    assert(got == expect)
  }

  test("self-loop-only nodes are ignored identically by both components variants") {
    val sp = spark
    import sp.implicits._
    // node 3's only edge is a self-loop, so it is dropped (the caller's
    // left-join + coalesce labels it with its own id)
    val edges = Seq((1L, 2L), (3L, 3L), (2L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("connectedComponents matches a local union-find on random graphs") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(45)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // local union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> {
          // fully compress: min id of the component
          var r = find(id.toInt); r.toLong
        }).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find roots are min ids because union always keeps the smaller
      assert(got == expect, s"trial $trial mismatch")
    }
  }

  test("connectedComponents matches union-find on random graphs and long chains") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(47)
    val cases = Seq(
      Seq.fill(45)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter { case (a, b) => a != b },                       // random
      (1L until 30L).map(i => (i, i + 1)),                       // long chain
      Seq((5L, 9L), (9L, 5L), (5L, 9L), (2L, 1L))) // dups + both orientations
    for ((edges, ci) <- cases.zipWithIndex) {
      val n = (edges.flatMap(e => Seq(e._1, e._2)).max + 1).toInt
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"case $ci mismatch")
    }
  }

  test("dedupCorpus keeps exactly one canonical doc per dup group") {
    val sp = spark
    import sp.implicits._
    val corpus = (1L to 12L).map(i => (i, s"doc_$i")).toDF("doc_id", "body")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupCorpus(corpus, "doc_id", pairs)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 9L, 10L, 11L, 12L))
  }

  test("dedupCorpus over a 40-node chain keeps only its min id") {
    val sp = spark
    import sp.implicits._
    // a chain's diameter is 39: a per-hop labeling would need ~40 rounds
    val corpus = (1L to 40L).map(i => (i, s"doc_$i")).toDF("doc_id", "body")
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val kept = Dedup.dedupCorpus(corpus, "doc_id", pairs)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("connectedComponents converges on a long chain and enforces maxIter") {
    val sp = spark
    import sp.implicits._
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(1L), "every chain node must label to min id 1")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 2)
    }
  }

  test("jaccardPrefixPairs equals brute-force jaccard exactly at high thresholds") {
    for (t <- Seq(0.5, 0.8)) {
      val got = Dedup.jaccardPrefixPairs(docs, "doc_id", "text", 2, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == bruteJaccard(t), s"threshold=$t")
    }
    assert(bruteJaccard(0.8).size >= 10,
      "planted near-dups must qualify at 0.8 or the equality check is vacuous")
  }

  test("jaccardPairs past the bitmap gates routes high thresholds to the prefix path") {
    // force past the bitmap vocabulary gate: high threshold → prefix
    // (the strategy keeps bitmaps whenever they are admissible — measured
    // fastest within their gates — so prefix is the beyond-gate path)
    val pf = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.8, maxBitmapVocab = 1L)
    val plan = pf.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("cartesianproduct") && !plan.contains("broadcastnestedloop"),
      s"prefix path must never enumerate all pairs:\n$plan")
    assert(!plan.contains("bit_and_count"), "prefix path must not build bitmaps")
    assert(plan.contains("sorted_intersect_count"),
      "exact verify must be the two-pointer merge")
    val got = pf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == bruteJaccard(0.8))
    // within the gates the bitmap path keeps the high-threshold corpus
    val bm = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.8)
    assert(bm.queryExecution.executedPlan.toString.toLowerCase.contains("bit_and_count"),
      "bitmap path must keep admissible corpora at any threshold")
  }

  test("jaccardPrefixPairs degenerate inputs: too-short docs, identical docs, threshold 1.0") {
    val sp = spark
    import sp.implicits._
    // docs shorter than the shingle produce no rows and no pairs, not a crash
    val shorts = Seq((1L, "one"), (2L, "two"), (3L, "alpha beta")).toDF("doc_id", "text")
    assert(Dedup.jaccardPrefixPairs(shorts, "doc_id", "text", 2, 0.8).count() == 0L)
    // identical docs at threshold 1.0: prefix length 1 still pairs them
    val same = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.jaccardPrefixPairs(same, "doc_id", "text", 2, 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("dedupCorpusByQuality keeps the best-quality member per group, min id on ties") {
    val sp = spark
    import sp.implicits._
    // groups: {1,2,3} (2 has best quality), {4,5} (tie -> min id 4),
    // 6 isolated (passes through), 7 isolated
    val docs = Seq((1L, 0.1), (2L, 0.9), (3L, 0.5), (4L, 0.7), (5L, 0.7),
      (6L, 0.0), (7L, 1.0)).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupCorpusByQuality(docs, "doc_id", "q", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L, 7L), kept.toString)
    // degenerate: no pairs -> identity
    val none = Dedup.dedupCorpusByQuality(docs, "doc_id", "q",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(none.count() == 7L)
  }

  private def bruteLevenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("editDistancePairs equals the brute-force levenshtein join on a randomized corpus") {
    val sp = spark
    import sp.implicits._
    // mixed-length corpus straddling the long/short tier boundary
    // ((d+1)*q = 6 for d=2, q=2), with deliberate near-dup mass: edits of
    // earlier strings at distance 1-3
    val rnd = new scala.util.Random(20260813)
    val alphabet = "abcdef"
    def randStr(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val base = (0 until 60).map(i => randStr(2 + rnd.nextInt(12)))
    val edited = base.take(30).map { s =>
      (1 to 1 + rnd.nextInt(3)).foldLeft(s) { (cur, _) =>
        val p = rnd.nextInt(math.max(cur.length, 1))
        rnd.nextInt(3) match {
          case 0 if cur.length > 1 => cur.take(p) + cur.drop(p + 1) // delete
          case 1 => cur.take(p) + alphabet(rnd.nextInt(6)) + cur.drop(p) // insert
          case _ => cur.take(p) + alphabet(rnd.nextInt(6)) + cur.drop(p + 1) // sub
        }
      }
    }
    val strs = (base ++ edited).distinct
    val rows = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = rows.toDF("id", "s")
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(df, "id", "s", maxDist = d, q = 2, unicodeForm = None)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ai, a) <- rows; (bi, b) <- rows if ai < bi
        dist = bruteLevenshtein(a, b) if dist >= 1 && dist <= d
      } yield (ai, bi, dist.toLong)).toSet
      assert(got == want,
        s"d=$d: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("measureEditQ routes q up with posting density; auto route answers equal every explicit q") {
    val sp = spark
    import sp.implicits._
    // low-entropy corpus: 4-word titles over an 8-word vocabulary — the
    // 2-gram space saturates, so the density bound must pick q > 2
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val dense = (0L until 600L).map { i =>
      (i, Seq(0, 1, 2, 3).map(j => vocab(((i >> (3 * j)) % 8).toInt)).mkString(" "))
    }.toDF("id", "t")
    val qDense = Dedup.measureEditQ(dense, "t")
    assert(qDense > 2, s"dense corpus must push the measured q past 2, got $qDense")
    // high-entropy tiny corpus: few strings, long random-ish grams — the
    // minimum q already satisfies the bound
    val sparse = (0L until 40L).map(i =>
      (i, f"u${i * 7919}%06d v${i * 104729}%08d")).toDF("id", "t")
    assert(Dedup.measureEditQ(sparse, "t") == 2,
      "sparse corpus must keep the minimum q")
    // the ANSWER is q-invariant: the auto route returns exactly the pair
    // set of every explicit q (recall 1.0 by the pigeonhole, precision
    // 1.0 by the levenshtein verify) — only candidate volume moves
    val auto = Dedup.editDistancePairs(dense, "id", "t", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (q <- Seq(2, 3, 4)) {
      val explicit = Dedup.editDistancePairs(dense, "id", "t", maxDist = 1, q = q, unicodeForm = None)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(explicit == auto, s"q=$q answer diverged from the auto route")
    }
  }

  test("editDistancePairs blocks: no cartesian in the plan, identical strings excluded") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "spark native engine"), (2L, "spark native enginx"),
      (3L, "spark native engine"), (4L, "zz")).toDF("id", "s")
    val pairs = Dedup.editDistancePairs(df, "id", "s", maxDist = 2)
    val plan = pairs.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("cartesianproduct") && !plan.contains("broadcastnestedloop"),
      s"q-gram blocking must never enumerate all pairs:\n$plan")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // (1,3) identical -> dist 0 -> excluded by contract; (1,2) and (2,3) are 1
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 1L)), got.toString)
  }

  test("jaccardPairs pair sets are identical under every storage tier " +
    "(memdisk/disk/reliable; r14 eager materialization)") {
    // gates the r14 eager-checkpoint rework: the shingle frame and the
    // bitmap route's docSets build side materialize on the
    // graft.checkpointStorage tier — the answer must not depend
    // on which tier holds the blocks, on either route
    val expectLow = bruteJaccard(0.2)  // bitmap route at the default gates
    val expectHigh = bruteJaccard(0.8) // prefix route past the vocab gate
    val ckDir = java.nio.file.Files
      .createTempDirectory("jac_reliable").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    for (mode <- Seq("memdisk", "disk", "reliable")) {
      spark.conf.set(graft.Storage.CheckpointStorageConf, mode)
      try {
        val bm = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val pf = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.8,
            maxBitmapVocab = 1L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(bm == expectLow, s"bitmap route, mode $mode")
        assert(pf == expectHigh, s"prefix route, mode $mode")
      } finally spark.conf.unset(graft.Storage.CheckpointStorageConf)
    }
  }

  test("connected-components non-convergence releases the iteration's " +
    "checkpoint blocks (error-path hygiene, ADVICE r13)") {
    val sp = spark
    import sp.implicits._
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // set difference, not count equality: the ContextCleaner may
    // concurrently unpersist unrelated GC'd RDDs from earlier tests —
    // a leak means a NEW rdd id created during the call survives it
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    // one round cannot settle a chain; maxIter=1 throws, and the scope
    // must release the edge and round frames — a session repeatedly
    // hitting the error must not accumulate blocks
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 1)
    }
    assert((persisted -- before).isEmpty,
      s"error path leaked checkpoint blocks: ${persisted -- before}")
  }
}
