package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurationSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "text")
  }

  test("removeBoilerplateLines deletes lines shared by >= minDocs docs, keeps order and bytes") {
    val d = docs(
      (1L, "unique alpha\nCOPYRIGHT FOOTER\nunique beta"),
      (2L, "copyright   footer\nonly in two"),
      (3L, "Copyright Footer\nanother line\nonly in two"),
      (4L, "nothing shared here"))
    // "copyright footer" normalizes identically in 3 docs; "only in two"
    // appears in 2 → below the minDocs=3 bar, survives
    val out = Curation.removeBoilerplateLines(d, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((3L, 2L, "unique alpha\nunique beta")))
    assert(out(2L) == ((2L, 1L, "only in two")))
    assert(out(3L) == ((3L, 2L, "another line\nonly in two")))
    assert(out(4L) == ((1L, 1L, "nothing shared here")))
  }

  test("a document whose every line is boilerplate survives as empty, not missing") {
    val d = docs(
      (1L, "spam line"), (2L, "spam line"), (3L, "spam line"),
      (4L, "spam line\nreal content survives"))
    val out = Curation.removeBoilerplateLines(d, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "no document may vanish")
    assert(out(1L) == ((0L, "")) && out(2L) == ((0L, "")) && out(3L) == ((0L, "")))
    assert(out(4L) == ((1L, "real content survives")))
  }

  test("within-document repeats count once toward the document frequency") {
    // the repeated line lives in ONLY 2 documents (many times each):
    // distinct-pair counting must see df=2, below minDocs=3
    val d = docs(
      (1L, "dup\ndup\ndup"), (2L, "dup\ndup"), (3L, "clean"))
    val out = Curation.removeBoilerplateLines(d, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 3L && out(2L) == 2L,
      "df must count distinct documents, not line instances")
  }

  test("boilerplate decision keys on the normalized form but output keeps original bytes") {
    val d = docs(
      (1L, "  Mixed   Case Line  \nkeep me one"),
      (2L, "mixed case line\nkeep me two"),
      (3L, "MIXED CASE LINE\nkeep me three"))
    val out = Curation.removeBoilerplateLines(d, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(1L -> "keep me one", 2L -> "keep me two",
      3L -> "keep me three"))
  }

  test("repeated unigramLogProb calls on different inputs add no CacheManager entry") {
    // the vocab-gated route materializes its term relation instead of
    // persisting it: a returned lazy plan over a persist left one entry
    // per call that only clearCache() reclaimed
    val entries = graft.StorageSpec.cachedEntries(spark)
    val a = Curation.unigramLogProb(docs((1L, "a b a"), (2L, "b c")), "id",
      "text", maxBroadcastVocab = 1000L).collect()
    val b = Curation.unigramLogProb(docs((1L, "x y"), (2L, "y y z")), "id",
      "text", maxBroadcastVocab = 1000L).collect()
    assert(a.length == 2 && b.length == 2)
    assert(graft.StorageSpec.cachedEntries(spark) == entries)
  }

  test("pipeline composes exactly the chain of its stages and appends accepted docs to the index") {
    import graft.{PipelineHarness, Tables}
    val sf = "/root/testdata/sf0.001"
    val corpus = PipelineHarness.corpus(spark, sf)
    val table = "cur_pipe_spec_idx"
    PipelineHarness.ensureIndex(spark, corpus, table)

    val out = Curation.pipeline(spark, corpus, "doc_id", "text", "lang",
      targetTotal = 30L, alpha = 0.5, minLineDocs = 50,
      indexTable = Some(table),
      evalShingles = Some(PipelineHarness.evalShingles(corpus)),
      evalShingleN = 3, shardSeed = "ep0",
      qualityFilter = Some(PipelineHarness.c4OnlyFilter),
      shingleN = 2, numHashes = 32, bands = 8, buckets = 8,
      estThreshold = 0.3, appendToIndex = false)
    assert(out.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "shard", "pos"))
    val got = out.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty, "pipeline must keep a nonempty draw")
    assert(got.size <= 30 + 5, s"draw ${got.size} blew past targetTotal + #langs")

    // the pipeline must equal the hand-composed chain of its stages
    val cols = corpus.columns.map(col)
    val q = PipelineHarness.c4OnlyFilter(corpus).select(cols: _*)
    val cleaned = q.drop("text").join(
        Curation.removeBoilerplateLines(q, "doc_id", "text", 50)
          .filter(col("n_kept") >= 1)
          .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(cols: _*)
    val idxSurv = Dedup.curateBatchAgainstIndex(cleaned, spark, table,
      "doc_id", "text", 2, 32, 8, 8, 0.3, appendSurvivors = false)
    val intra = Dedup.minHashNearDups(idxSurv, "doc_id", "text", 2, 32, 8, 0.3)
    val kept = idxSurv.join(intra.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val contaminated = kept.select(col("doc_id"),
        explode(graft.functions.wordShingles(graft.functions.tokens(col("text")), 3)).as("s"))
      .join(PipelineHarness.evalShingles(corpus), "s")
      .select(col("doc_id")).distinct()
    val accepted = kept.join(contaminated, Seq("doc_id"), "left_anti")
    val manual = graft.operators.Sampling.shardShuffle(
        graft.operators.Sampling.temperatureMix(accepted, "doc_id", "lang", 0.5, 30L),
        "doc_id", "ep0")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == manual, "pipeline must equal its hand-composed stage chain")

    // the index dedup must FIRE: history twins (doc_id % 20 == 0 among the
    // C4 survivors) are near-dups of the index and must not be drawn
    val cleanedTwins = cleaned.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(cleanedTwins.nonEmpty, "corpus must contain index twins for the gate")
    assert(got.intersect(cleanedTwins).isEmpty,
      "docs with an index twin must be deduped out")

    // appendToIndex folds the ACCEPTED set (pre-mix) into the index
    val sigsBefore = spark.table(s"${table}_sigs").count()
    val nAccepted = accepted.count()
    Curation.pipeline(spark, corpus, "doc_id", "text", "lang",
      targetTotal = 30L, alpha = 0.5, minLineDocs = 50,
      indexTable = Some(table),
      evalShingles = Some(PipelineHarness.evalShingles(corpus)),
      evalShingleN = 3, shardSeed = "ep0",
      qualityFilter = Some(PipelineHarness.c4OnlyFilter),
      shingleN = 2, numHashes = 32, bands = 8, buckets = 8,
      estThreshold = 0.3, appendToIndex = true).count()
    val sigsAfter = spark.table(s"${table}_sigs").count()
    assert(sigsAfter == sigsBefore + nAccepted,
      s"index must grow by exactly the accepted set: $sigsBefore + $nAccepted != $sigsAfter")
  }

  test("pipeline's optional sub-document stages equal their hand-composed chain and actually fire") {
    import org.apache.spark.sql.functions.lit
    // the subdoc probe corpus: unique md5 filler paragraph (+ a shared
    // sentence inside it on every 4th doc), a shared second paragraph on
    // every 3rd doc. minLineDocs is set above the corpus size so the
    // line stage is a pass-through and the sub-document stages do the
    // work; the mix target exceeds the population so the draw keeps all.
    val corpus = graft.ScaleProbe.subdocReplica(spark, 200L, 0, 0)
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val cols = corpus.columns.map(col)
    val out = Curation.pipeline(spark, corpus, "doc_id", "text", "lang",
      targetTotal = 10000L, alpha = 1.0, minLineDocs = 100000L,
      paragraphDedup = true, spanGramLen = Some(20),
      qualityFilter = Some(identity[org.apache.spark.sql.DataFrame] _))
    val got = out.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val afterParas = corpus.drop("text").join(
        Dedup.dedupParagraphs(corpus, "doc_id", "text")
          .filter(col("n_kept") >= 1)
          .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(cols: _*)
    val manual = afterParas.drop("text").join(
        Dedup.removeRepeatedSpans(afterParas, "doc_id", "text", 20)
          .filter(col("n_removed") < col("n_chars"))
          .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == manual,
      "sub-document stages must equal their hand-composed chain")

    // both stages must have FIRED: the shared paragraph (every 3rd doc)
    // survives only at its first occurrence, and the shared sentence
    // (every 4th doc) is span-removed from every copy
    val texts = got.toMap
    assert(texts(0L).contains("subscribe_q00"),
      "doc 0 keeps the first copy of the shared paragraph")
    assert(!texts(3L).contains("subscribe_q00"),
      "doc 3's later copy of the shared paragraph must dedup away")
    assert(!texts(4L).contains("boilerplate_q00"),
      "the shared sentence must be span-removed from every copy")
    assert(got.size == 200, "no document should vanish in this corpus")
  }

  test("unicodeForm threads through the pipeline's identity-keyed stages") {
    import org.apache.spark.sql.functions.lit
    val nfc = graft.queries.Text.nfcTail
    val nfd = graft.queries.Text.nfdTail
    // line census arm: the same accented footer in 3 docs — NFC-encoded
    // in two, NFD in the third. Under NFC its df is 3 (removed
    // everywhere); byte-level the NFC copies have df 2 and the NFD copy
    // df 1, so everything survives minDocs = 3.
    val d = docs(
      (1L, s"alpha body one\nfooter$nfc"),
      (2L, s"beta body two\nfooter$nfc"),
      (3L, s"gamma body three\nfooter$nfd"))
    val on = Curation.removeBoilerplateLines(d, "id", "text", minDocs = 3,
        unicodeForm = Some("NFC"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(on == Map(1L -> "alpha body one", 2L -> "beta body two",
      3L -> "gamma body three"), s"NFC census must reach df=3: $on")
    val off = Curation.removeBoilerplateLines(d, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(off.values.forall(_.contains("footer")),
      s"byte census must miss the cross-encoding footer: $off")
    // pipeline arm: an NFD twin paragraph of doc 1's NFC paragraph
    // dedups away with the form on and survives the default
    val corpus = docs(
      (1L, s"unique one\n\nshared para$nfc"),
      (2L, s"unique two\n\nshared para$nfd"))
      .withColumnRenamed("id", "doc_id")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    def run(form: Option[String]) =
      Curation.pipeline(spark, corpus, "doc_id", "text", "lang",
          targetTotal = 10000L, alpha = 1.0, minLineDocs = 100000L,
          paragraphDedup = true,
          qualityFilter = Some(identity[org.apache.spark.sql.DataFrame] _),
          unicodeForm = form)
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val formed = run(Some("NFC"))
    assert(formed(1L).contains("shared para") &&
      !formed(2L).contains("shared para"),
      s"the NFD twin paragraph must dedup away under NFC: $formed")
    val byte = run(None)
    assert(byte(2L).contains("shared para"),
      s"the default byte identity must keep both encodings: $byte")
  }

  test("pipeline's trainer tail equals its hand-composed chain (BPE counts -> token mix -> pack)") {
    import graft.PipelineHarness
    import graft.functions.tokens
    import graft.operators.{Bpe, Packing, Sampling}
    val sf = "/root/testdata/sf0.001"
    val corpus = PipelineHarness.corpus(spark, sf)
    val table = "cur_pack_spec_idx"
    PipelineHarness.ensureIndex(spark, corpus, table)
    val out = PipelineHarness.run(spark, corpus, table, targetTotal = 30L,
      materialize = true, trainerTail = true)
    // the tail rewrites the output shape: sequence fragments, not docs
    assert(out.columns.toSeq ==
      Seq("doc_id", "shard", "pos", "seq_id", "seq_off", "frag_start", "frag_len"))
    val got = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got.nonEmpty, "trainer tail must pack a nonempty draw")

    // hand chain: the accepted set (same stages as the composed test),
    // then BPE-piece counts -> token-budget mix -> packing
    val cols = corpus.columns.map(col)
    val q = PipelineHarness.c4OnlyFilter(corpus).select(cols: _*)
    val cleaned = q.drop("text").join(
        Curation.removeBoilerplateLines(q, "doc_id", "text", 50)
          .filter(col("n_kept") >= 1)
          .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .select(cols: _*)
    val idxSurv = Dedup.curateBatchAgainstIndex(cleaned, spark, table,
      "doc_id", "text", 2, 32, 8, 8, 0.3, appendSurvivors = false)
    val intra = Dedup.minHashNearDups(idxSurv, "doc_id", "text", 2, 32, 8, 0.3)
    val kept = idxSurv.join(intra.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val contaminated = kept.select(col("doc_id"),
        explode(graft.functions.wordShingles(tokens(col("text")), 3)).as("s"))
      .join(PipelineHarness.evalShingles(corpus), "s")
      .select(col("doc_id")).distinct()
    val accepted = kept.join(contaminated, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val words = Bpe.wordCounts(accepted, "text")
    val merges = Bpe.collectMerges(
      Bpe.train(words, "word", "weight", numMerges = 12, minPairCount = 1L))
    assert(merges.size == 12, s"BPE training must complete: ${merges.size}")
    val pieces = Bpe.encodeVocab(words.select(col("word")), "word", merges)
      .select(col("word").as("__w"), size(col("pieces")).cast("long").as("__np"))
    val perDoc = accepted
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("__w"))
      .join(pieces, Seq("__w"))
      .groupBy(col("doc_id")).agg(sum(col("__np")).as("n_tokens"))
    val withTok = accepted.join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
    val mixed = Sampling.temperatureMixTokens(withTok, "doc_id", "lang",
      "n_tokens", alpha = 0.5, targetTokens = 30L * 60L)
    val manual = Packing.packSequences(mixed, "doc_id", "n_tokens",
        seqLen = 512, seed = "ep0")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == manual, "trainer tail must equal its hand-composed chain")

    // the BPE counter actually fired: pieces-per-doc differ from the
    // whitespace token counts (12 merges fuse the most frequent pairs,
    // so piece counts exceed word counts for multi-char words)
    val ws = accepted
      .select(col("doc_id"), size(tokens(lower(col("text")))).cast("long").as("nw"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bp = perDoc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bp.exists { case (id, n) => ws(id) != n },
      "BPE piece counts should differ from whitespace counts")
  }

  test("bigramLogProb matches a naive add-alpha bigram LM; short docs absent") {
    val d = docs(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "a dog sat on the mat"),
      (4L, "single"), // one token -> no bigrams -> absent
      (5L, ""))       // zero tokens -> absent
    val alpha = 0.1
    // naive single-node reference
    val tokd = Map(
      1L -> "the cat sat on the mat".split(" ").toSeq,
      2L -> "the cat ran".split(" ").toSeq,
      3L -> "a dog sat on the mat".split(" ").toSeq)
    val allBigrams = tokd.values.flatMap(ws => ws.zip(ws.tail)).toSeq
    val c2 = allBigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = allBigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val vocab = (tokd.values.flatten ++ Seq("single")).toSet.size // doc 4's token counts toward V
    def logp(b: (String, String)): BigDecimal =
      BigDecimal(math.log((c2(b) + alpha) / (c1(b._1).toDouble + alpha * vocab)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expect = tokd.map { case (id, ws) =>
      val lps = ws.zip(ws.tail).map(logp)
      id -> (lps.size.toLong,
        BigDecimal(lps.sum.toDouble / lps.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Curation.bigramLogProb(d, "id", "text", alpha, maxBroadcastVocab = 1000)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "short docs must be absent")
    for ((id, (n, m)) <- expect) {
      assert(got(id)._1 == n, s"doc $id bigram count")
      assert(math.abs(got(id)._2 - m) < 1e-9, s"doc $id mean_logp ${got(id)._2} vs $m")
    }
    // the shuffle-join route (type count above the gate) agrees exactly
    val shuffled = Curation.bigramLogProb(d, "id", "text", alpha, maxBroadcastVocab = 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(shuffled == got, "broadcast and shuffle routes must agree")
  }
}
