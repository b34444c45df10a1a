package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{unicodeNormalize, unicodeNormalizeOpt}

/** Opt-in Unicode canonical normalization for the dedup canonical forms
  * (round-12, VERDICT r11 "what's missing" #1). The positive direction —
  * an NFD-encoded duplicate of an NFC document IS caught with
  * `unicodeForm = Some("NFC")` — is oracle-gated end-to-end in
  * `dedup_exact_nfc` (DuckDB `nfc_normalize`); this spec pins the
  * NEGATIVE (the default byte identity misses every canonically-
  * equivalent twin — the documented pre-r12 behavior, kept as the
  * default because the oracle rows pin byte semantics) and the
  * per-operator positives across paragraph/span/winnow forms. */
class UnicodeNormSpec extends SparkSpec {

  // NFC "é répété…" vs the same text as NFD combining sequences —
  // byte-different, canonically equivalent (the dedup_exact_nfc tails)
  private val nfc = graft.queries.Text.nfcTail
  private val nfd = graft.queries.Text.nfdTail

  test("unicode_normalize: forms, identity fast path, null, bad form") {
    val sp = spark
    import sp.implicits._
    val row = Seq((nfd, nfc)).toDF("d", "c")
      .select(
        unicodeNormalize(col("d"), "NFC").as("dn"),
        unicodeNormalize(col("c"), "NFC").as("cn"),
        unicodeNormalize(col("c"), "NFD").as("cd"),
        unicodeNormalize(lit("plain ascii"), "NFC").as("a"),
        unicodeNormalize(lit(null).cast("string"), "NFC").as("nl"),
        unicodeNormalize(lit("ﬁle ①"), "NFKC").as("k"))
      .head()
    assert(row.getString(0) == nfc, "NFC(nfd) must equal the NFC twin")
    assert(row.getString(1) == nfc, "already-NFC input is unchanged")
    assert(row.getString(2) == nfd, "NFD(nfc) must equal the NFD twin")
    assert(row.getString(3) == "plain ascii")
    assert(row.isNullAt(4), "null propagates")
    // NFKC also folds compatibility forms: fi-ligature and circled one
    assert(row.getString(5) == "file 1")
    val bad = intercept[IllegalArgumentException](
      Seq("x").toDF("t").select(unicodeNormalize(col("t"), "NFX")).head())
    assert(bad.getMessage.contains("NFC|NFD|NFKC|NFKD"))
    // identity form of the Option shape
    assert(Seq((nfd, 1)).toDF("t", "i")
      .select(unicodeNormalizeOpt(col("t"), None)).head().getString(0) == nfd)
  }

  test("exact fingerprints: NFD twin collapses with NFC on, survives with it off (the pinned default)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      1L -> s"shared body$nfc",
      2L -> s"shared body$nfd", // canonical twin of doc 1, different bytes
      3L -> "unrelated").toDF("doc_id", "text")
    def dupSets(form: Option[String]): Map[String, Long] =
      Dedup.fingerprints(docs, "doc_id", "text", unicodeForm = form)
        .groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val on = dupSets(Some("NFC"))
    assert(on.values.toSeq.sorted == Seq(1L, 2L),
      s"NFC must collapse the twin pair: $on")
    val off = dupSets(None)
    assert(off.values.forall(_ == 1L),
      s"the DEFAULT must keep byte identity (oracle-pinned): $off")
  }

  test("exact fingerprints: NFC on an NFD re-encoding equal the byte fingerprints of the NFC re-encoding") {
    // the form changes bytes, never content identity: every row, not
    // just the twins, fingerprints as its NFC re-encoding does
    val sp = spark
    import sp.implicits._
    val accented = (0 until 40).map { i =>
      i.toLong -> s"doc $i about a veiled ouzo aria ${i % 7} unique"
    }.toDF("doc_id", "plain")
      .select(col("doc_id"),
        translate(col("plain"), "aeiou", "àéîöü").as("text"))
    val nfdDocs = accented.select(col("doc_id"),
      unicodeNormalize(col("text"), "NFD").as("text"))
    val nfcDocs = accented.select(col("doc_id"),
      unicodeNormalize(col("text"), "NFC").as("text"))
    def texts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val (d, c) = (texts(nfdDocs), texts(nfcDocs))
    assert(d.size == 40 && d.forall { case (id, t) => t != c(id) },
      "the NFD re-encoding must differ in bytes on every row")
    val viaForm = Dedup.fingerprints(nfdDocs, "doc_id", "text", Some("NFC"))
    val viaBytes = Dedup.fingerprints(nfcDocs, "doc_id", "text")
    assert(viaForm.count() == 40)
    assert(viaForm.exceptAll(viaBytes).isEmpty &&
      viaBytes.exceptAll(viaForm).isEmpty)
  }

  test("paragraph keep-first: NFD paragraph copy is deleted with NFC on, kept with it off") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      1L -> s"intro one\n\ncommon$nfc\n\ntail one",
      2L -> s"intro two\n\ncommon$nfd\n\ntail two").toDF("doc_id", "text")
    val on = Dedup.dedupParagraphs(docs, "doc_id", "text",
        unicodeForm = Some("NFC"))
      .orderBy(col("doc_id")).collect()
    assert(on(0).getAs[Long]("n_kept") == 3L)
    assert(on(1).getAs[Long]("n_kept") == 2L,
      "doc 2's NFD copy of doc 1's paragraph must be deleted under NFC")
    // clean_text keeps the ORIGINAL paragraph bytes of the survivors
    assert(on(0).getAs[String]("clean_text").contains(nfc))
    assert(!on(1).getAs[String]("clean_text").contains("common"))
    val off = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(off.map(_.getAs[Long]("n_kept")).toSeq == Seq(3L, 3L),
      "default byte identity keeps both encodings")
    // incremental form agrees: standing NFC keys kill the NFD batch copy
    val keys = Dedup.paragraphKeys(docs.filter(col("doc_id") === 1L), "text",
      unicodeForm = Some("NFC"))
    val incr = Dedup.dedupParagraphsAgainst(
        docs.filter(col("doc_id") === 2L), "doc_id", "text", keys,
        unicodeForm = Some("NFC")).head()
    assert(incr.getAs[Long]("n_kept") == 2L)
  }

  test("repeated spans: an NFD re-encoding of a repeated passage census-collides with NFC on") {
    val sp = spark
    import sp.implicits._
    // ONE copy of the passage per document (longer than gramLen),
    // NFC-encoded in doc 1 and NFD in doc 2 — so the only repeat is the
    // CROSS-document canonical one, invisible to a byte-level census
    val docs = Seq(
      1L -> s"AAAA${nfc}BBBB",
      2L -> s"CCCC${nfd}DDDD").toDF("doc_id", "text")
    val on = Dedup.removeRepeatedSpans(docs, "doc_id", "text", gramLen = 8,
        unicodeForm = Some("NFC"))
      .orderBy(col("doc_id")).collect()
    assert(on.forall(_.getAs[Long]("n_removed") > 0L),
      s"NFC must make the twin passages census-collide: ${on.toSeq}")
    val off = Dedup.removeRepeatedSpans(docs, "doc_id", "text", gramLen = 8)
      .orderBy(col("doc_id")).collect()
    assert(off.forall(_.getAs[Long]("n_removed") == 0L),
      "byte-level census must see no repeats across the two encodings")
    // incremental form: census built from doc 1 (NFC form), batch doc 2
    val census = Dedup.gramCensus(docs.filter(col("doc_id") === 1L), "text",
      gramLen = 8, unicodeForm = Some("NFC"))
    val incr = Dedup.removeRepeatedSpansAgainst(
        docs.filter(col("doc_id") === 2L), "doc_id", "text", census,
        gramLen = 8, unicodeForm = Some("NFC")).head()
    assert(incr.getAs[Long]("n_removed") > 0L)
  }

  test("minhash LSH: canonical twins signature-collide (est 1.0) with NFC on, diverge with it off") {
    val sp = spark
    import sp.implicits._
    // several accented words so the NFC/NFD difference spans many
    // shingles — the default (byte) run must NOT estimate 1.0
    val docs = Seq(
      1L -> s"shared body of words$nfc and more shared words",
      2L -> s"shared body of words$nfd and more shared words",
      3L -> "something else entirely unrelated here").toDF("doc_id", "text")
    def pairs(form: Option[String]): Map[(Long, Long), Double] =
      Dedup.minHashNearDups(docs, "doc_id", "text",
          shingleN = 2, numHashes = 32, bands = 8, estThreshold = 0.1,
          unicodeForm = form)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    val on = pairs(Some("NFC"))
    assert(on.get((1L, 2L)).contains(1.0),
      s"NFC twins must have identical signatures: $on")
    val off = pairs(None)
    assert(!off.get((1L, 2L)).contains(1.0),
      s"byte-level signatures must differ across the encodings: $off")
  }

  test("simhash: canonical twins hash identically with NFC on, differ with it off") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      1L -> s"body$nfc words$nfc more$nfc",
      2L -> s"body$nfd words$nfd more$nfd").toDF("doc_id", "text")
    def hashes(form: Option[String]): Map[Long, Long] =
      Dedup.simHash(docs, "doc_id", "text", form)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val on = hashes(Some("NFC"))
    assert(on(1L) == on(2L), s"NFC twins must simhash identically: $on")
    val off = hashes(None)
    assert(off(1L) != off(2L),
      s"byte-level simhash must distinguish the encodings: $off")
    // and the pair surfaces through the banded join at hamming 0
    val p = Dedup.simHashNearDups(docs, "doc_id", "text", maxDist = 3,
        unicodeForm = Some("NFC"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(p.toSeq == Seq((1L, 2L, 0L)), s"got ${p.toSeq}")
  }

  test("exact jaccard: canonical twins score 1.0 with NFC on, below 1.0 with it off") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      1L -> s"alpha$nfc beta gamma$nfc delta",
      2L -> s"alpha$nfd beta gamma$nfd delta").toDF("doc_id", "text")
    def j(form: Option[String]): Option[Double] =
      Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 2,
          threshold = 0.01, unicodeForm = form)
        .collect().headOption.map(_.getAs[Double]("jaccard"))
    assert(j(Some("NFC")).contains(1.0), "NFC twins are shingle-identical")
    assert(j(None).forall(_ < 1.0),
      "byte-level shingle sets must differ across the encodings")
  }

  test("edit distance: NFC folds the combining-sequence noise out of the distance") {
    val sp = spark
    import sp.implicits._
    // b = NFD re-encoding of a plus ONE real edit (trailing x): under
    // NFC the true distance is 1; byte-level code points put the pair
    // past maxDist=1 (every accent is an extra combining mark)
    val strs = Seq(
      1L -> s"title$nfc",
      2L -> s"title${nfd}x").toDF("id", "str")
    val on = Dedup.editDistancePairs(strs, "id", "str", maxDist = 1, q = 2,
        unicodeForm = Some("NFC"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(on.toSeq == Seq((1L, 2L, 1L)), s"got ${on.toSeq}")
    val off = Dedup.editDistancePairs(strs, "id", "str", maxDist = 1, q = 2,
        unicodeForm = None)
      .count()
    assert(off == 0L, "code-point distance must exceed 1 without NFC")
  }

  test("winnow overlap pairs: canonical twins fully overlap with NFC on") {
    val sp = spark
    import sp.implicits._
    val body = "a long enough body for winnowing "
    val docs = Seq(
      1L -> s"$body$nfc$body",
      2L -> s"$body$nfd$body").toDF("doc_id", "text")
    val on = Winnow.overlapPairs(docs, "doc_id", "text", k = 8, w = 6,
        minShared = 1, maxDf = Long.MaxValue, unicodeForm = Some("NFC"))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("overlap")))
    assert(on.toSeq == Seq((1L, 2L, 1.0)), s"got ${on.toSeq}")
  }

  test("standing indexes pin the form: NFC-built fingerprint and minhash indexes catch NFD twin batches") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq(1L -> s"stored document$nfc body").toDF("doc_id", "text")
    val batch = Seq(2L -> s"stored document$nfd body").toDF("doc_id", "text")
    sp.sql("DROP TABLE IF EXISTS ufp_idx_fps")
    Seq("_sigs", "_bands").foreach(s => sp.sql(s"DROP TABLE IF EXISTS umh_idx$s"))
    try {
      // exact tier: index built NFC, probe passed NFC → the NFD twin hits
      graft.catalog.Layout.fingerprintIndex(sp, corpus, "doc_id", "text",
        buckets = 2, "ufp_idx", unicodeForm = Some("NFC"))
      val hits = Dedup.exactDupsAgainstIndex(batch, sp, "ufp_idx",
          "doc_id", "text", unicodeForm = Some("NFC"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hits.toSeq == Seq((2L, 1L)), s"got ${hits.toSeq}")
      // and a byte-level probe against the same NFC index misses — the
      // form is layout metadata, not a probe-side nicety
      assert(Dedup.exactDupsAgainstIndex(batch, sp, "ufp_idx",
        "doc_id", "text").count() == 0L)
      // minhash tier: signatures collide exactly when both sides agree
      graft.catalog.Layout.minhashBandIndex(sp, corpus, "doc_id", "text",
        shingleN = 2, numHashes = 16, bands = 4, buckets = 2, "umh_idx",
        unicodeForm = Some("NFC"))
      val mh = Dedup.minHashNearDupsAgainstIndex(batch, sp, "umh_idx",
          "doc_id", "text", shingleN = 2, numHashes = 16, bands = 4,
          estThreshold = 0.9, unicodeForm = Some("NFC"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(mh.toSeq == Seq((2L, 1L, 1.0)), s"got ${mh.toSeq}")
    } finally {
      sp.sql("DROP TABLE IF EXISTS ufp_idx_fps")
      Seq("_sigs", "_bands").foreach(s => sp.sql(s"DROP TABLE IF EXISTS umh_idx$s"))
    }
  }

  test("winnow fingerprints: NFC and NFD encodings select identical sets with the form on") {
    val sp = spark
    import sp.implicits._
    val body = "a long enough body for winnowing "
    val docs = Seq(
      1L -> s"$body$nfc$body",
      2L -> s"$body$nfd$body").toDF("doc_id", "text")
    def sets(form: Option[String]): Map[Long, Set[String]] =
      Winnow.fingerprintSets(docs, "doc_id", "text", k = 8, w = 6,
          unicodeForm = form)
        .collect().groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    val on = sets(Some("NFC"))
    assert(on(1L) == on(2L),
      "canonical twins must fingerprint identically under NFC")
    val off = sets(None)
    assert(off(1L) != off(2L),
      "byte-level winnowing must distinguish the encodings")
  }
}
