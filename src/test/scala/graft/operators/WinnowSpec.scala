package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Winnowing fingerprints (Schleimer et al. 2003) — [[Winnow
  * .winnowFingerprints]]: naive reimplementation parity, the coverage
  * guarantee (every w-window selects), the shared-substring detection
  * property the fingerprints exist for, and partition invariance. */
class WinnowSpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Naive single-node winnowing with the identical normalization, hash
    * and rightmost-tie rule. */
  private def naive(text: String, k: Int, w: Int): Set[(Long, String)] = {
    val t = text.toLowerCase.replaceAll("\\s+", " ").trim
    val m = t.length - k + 1
    if (m < 1) Set.empty
    else {
      val hs = (1 to m).map(p => p.toLong -> md5hex(t.substring(p - 1, p - 1 + k)).take(16))
      val starts = 1 to math.max(m - w + 1, 1)
      starts.map { s =>
        val window = hs.slice(s - 1, math.min(s - 1 + w, m))
        // min hash, rightmost position on ties
        window.minBy { case (p, h) => (h, -p) }
      }.toSet
    }
  }

  private val texts = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "pack my box with five dozen liquor jugs and then some more text",
    3L -> "aaaaaaaaaaaaaaaaaaaaaaaa", // all-equal grams: ties everywhere
    4L -> "short", // < k chars: absent
    5L -> "exactly12ch") // few grams (< w): single global min

  private def docs = {
    val sp = spark
    import sp.implicits._
    texts.toDF("doc_id", "text")
  }

  test("winnowFingerprints matches the naive reimplementation, ties and short docs included") {
    val got = Winnow.winnowFingerprints(docs, "doc_id", "text", k = 8, w = 4)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getString(2))).toSet).toMap
    for ((id, text) <- texts) {
      val expect = naive(text, 8, 4)
      assert(got.getOrElse(id, Set.empty) == expect,
        s"doc $id: got ${got.getOrElse(id, Set.empty)} expect $expect")
    }
    assert(!got.contains(4L), "sub-k documents are absent")
    assert(got(5L).size == 1, "a sub-w document selects its single global min")
    // doc 3 (all-equal grams): the rightmost-tie rule picks each window's
    // LAST position, so selections are one per window start — covered by
    // the naive parity above
  }

  test("coverage guarantee: every w-window of gram positions contains a selection") {
    val (id, text) = texts.head
    val t = text.toLowerCase.replaceAll("\\s+", " ").trim
    val m = t.length - 8 + 1
    val sel = Winnow.winnowFingerprints(docs.filter(col("doc_id") === id),
        "doc_id", "text", k = 8, w = 4)
      .collect().map(_.getLong(1)).toSet
    for (s <- 1 to m - 4 + 1)
      assert((s until s + 4).exists(p => sel.contains(p.toLong)),
        s"window starting at $s has no selected position")
  }

  test("shared substrings of length >= w + k - 1 share a fingerprint; density ~ 2/(w+1)") {
    val sp = spark
    import sp.implicits._
    val shared = "thiscommonsubstringisquitelongindeed" // 36 chars >= 4+8-1
    val d = Seq(
      10L -> s"prefix one junk padding $shared and a suffix here",
      20L -> s"completely different preamble text $shared other tail words")
      .toDF("doc_id", "text")
    val fps = Winnow.winnowFingerprints(d, "doc_id", "text", k = 8, w = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(2)).toSet).toMap
    assert((fps(10L) intersect fps(20L)).nonEmpty,
      "the winnowing guarantee: a >= w+k-1 shared substring must share a fingerprint")
    // density: expected ~2/(w+1) of grams selected (paper §3); allow wide slack
    val (id, text) = texts.head
    val m = text.toLowerCase.replaceAll("\\s+", " ").trim.length - 8 + 1
    val nSel = Winnow.winnowFingerprints(docs.filter(col("doc_id") === id),
        "doc_id", "text", k = 8, w = 4).count()
    assert(nSel >= m / 5 && nSel <= 4 * m / 5, s"density $nSel of $m grams")
  }

  test("winnowFingerprints is partition-invariant") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Winnow.winnowFingerprints(df, "doc_id", "text", k = 8, w = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(run(docs) == run(docs.repartition(7)))
  }

  test("per-row selection equals the relational window formulation, multi-byte text included (r14)") {
    // The r14 WinnowSelectExpr replaced the explode → Window-min →
    // distinct pipeline; this pins the two formulations equal on the
    // adversarial corners the expression handles by hand: astral symbols
    // (4-byte UTF-8, surrogate PAIRS on the JVM — code-point stepping
    // must match substr), combining marks, constant-hash tie runs, the
    // same fp selected at several positions, and sub-w documents.
    val sp = spark
    import sp.implicits._
    val uni = Seq(
      1L -> "café naïve 𐍈𝄞 résumé café naïve 𐍈𝄞 résumé tail",
      2L -> "中文中文中文中文中文中文中文",
      3L -> "aaaa😀aaaa😀aaaa😀aaaa😀",
      4L -> "ééééé decomposed run",
      5L -> "𝄞𝄞𝄞𝄞", // 4 code points: m < w at k = 3
      6L -> "the quick brown fox jumps over the lazy dog")
    val df = uni.toDF("doc_id", "text")
    val (k, w) = (3, 4)
    // the pre-r14 relational formulation, verbatim
    def relational(docs: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val normed = docs
        .select(col("doc_id"),
          lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("__t"))
        .filter(length(col("__t")) >= k)
        .withColumn("__m", (length(col("__t")) - k + 1).cast("long"))
      val grams = normed
        .select(col("doc_id"), col("__m"), explode(transform(
          sequence(lit(1), col("__m").cast("int")),
          p => struct(p.cast("long").as("p"),
            substr(col("__t"), p, lit(k)).as("g")))).as("e"))
        .select(col("doc_id"), col("__m"), col("e.p").as("p"),
          concat(substring(md5(col("e.g")), 1, 16),
            lpad((lit(999999999999L) - col("e.p")).cast("string"), 12, "0"))
            .as("key"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(0, w - 1)
      grams
        .withColumn("__wk", min(col("key")).over(win))
        .filter(col("p") <= greatest(col("__m") - w + 1, lit(1L)))
        .select(col("doc_id"),
          (lit(999999999999L) - substring(col("__wk"), 17, 12).cast("long"))
            .as("pos"),
          substring(col("__wk"), 1, 16).as("fp"))
        .distinct()
    }
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val got = rows(Winnow.winnowFingerprints(df, "doc_id", "text", k, w))
    val expect = rows(relational(df))
    assert(got == expect, s"per-row vs relational:\n got    $got\n expect $expect")
    // posMode = false (fingerprintSets) equals the distinct (id, fp)
    // projection of the positions output
    val sets = Winnow.fingerprintSets(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sets == got.map { case (id, _, fp) => (id, fp) },
      "fingerprintSets must equal the distinct (id, fp) projection")
  }

  /** Overlap fixture: 1-2 share a long planted run, 3 is disjoint, and
    * every doc carries the same boilerplate banner (df = n). */
  private def overlapDocs = {
    val sp = spark
    import sp.implicits._
    val banner = "standard legal boilerplate banner attached everywhere"
    val run = "a very long shared passage that winnowing must detect across documents"
    Seq(
      1L -> s"$banner apple quartz jungle $run umbra finish one",
      2L -> s"$banner banana willow vortex $run omega shut two",
      3L -> s"$banner cherry mystic puzzle entirely changed stuff")
      .toDF("doc_id", "text")
  }

  test("overlapPairs names the overlapping pair; est overlap and set sizes are exact") {
    val rows = Winnow.overlapPairs(overlapDocs, "doc_id", "text",
        k = 8, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(rows.contains((1L, 2L)), s"planted overlap pair missing: $rows")
    val (shared, nA, nB, ov) = rows((1L, 2L))
    // exact recomputation from the fingerprint sets
    val sets = Winnow.fingerprintSets(overlapDocs, "doc_id", "text", 8, 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(shared == (sets(1L) intersect sets(2L)).size)
    assert(nA == sets(1L).size && nB == sets(2L).size)
    assert(math.abs(ov - shared.toDouble / math.min(nA, nB)) < 1e-3)
    // the winnowing guarantee upstream: >= w+k-1 shared run => >= 1
    // shared fingerprint => with the banner's fps too, >= 2 and detected
  }

  test("grouped pair generation equals the verbatim self-join formulation (r15)") {
    // r15: the pair tier groups fingerprints into per-fp sorted id lists
    // and explodes suffix slices (one exchange) — this pins the grouped
    // (shared_fps per unordered pair) result against the REPLACED
    // relational self-join computed from the same fingerprint sets, on a
    // fixture with a df=n banner, a df=2 planted run and df=1 tails
    val fps = Winnow.fingerprintSets(overlapDocs, "doc_id", "text", 8, 4)
      .select(col("doc_id").as("id"), col("fp"))
    val byJoin = fps.toDF("id_a", "fp")
      .join(fps.toDF("id_b", "fp_b"),
        col("fp") === col("fp_b") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byOp = Winnow.overlapPairs(overlapDocs, "doc_id", "text",
        k = 8, w = 4, minShared = 1, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(byOp == byJoin,
      s"grouped pair tier diverged from the self-join: op=$byOp join=$byJoin")
  }

  test("overlapPairs maxDf gates boilerplate: banner-only pairs vanish, real overlap survives") {
    // without a cap, the shared banner makes EVERY pair overlap
    val uncapped = Winnow.overlapPairs(overlapDocs, "doc_id", "text",
        k = 8, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"banner should connect all pairs uncapped: $uncapped")
    // df <= 2 drops exactly the fps present in all three documents (the
    // banner interior); expectation recomputed from the sets themselves —
    // window-boundary selections can leave a stray df-2 fp between any
    // pair, so the honest oracle is the df rule, not a hardcoded pair list
    val capped = Winnow.overlapPairs(overlapDocs, "doc_id", "text",
        k = 8, w = 4, minShared = 1, maxDf = 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val sets = Winnow.fingerprintSets(overlapDocs, "doc_id", "text", 8, 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    val df3 = sets(1L) intersect sets(2L) intersect sets(3L)
    val expect = (for {
      (a, b) <- Seq((1L, 2L), (1L, 3L), (2L, 3L))
      n = ((sets(a) intersect sets(b)) -- df3).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    assert(capped == expect, s"capped=$capped expect=$expect")
    // the planted run dominates: pair (1,2) holds nearly all surviving
    // shared evidence
    assert(capped((1L, 2L)) >= 5,
      s"planted run should contribute many df-2 fps: $capped")
  }

  test("auto maxDf routing: floor keeps a clean corpus uncapped, quantile excises extreme boilerplate") {
    val sp = spark
    import sp.implicits._
    def snap(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 1. small/clean regime: every df here is far under the 64 floor, so
    //    the AUTO default must equal the explicit uncapped call exactly
    val auto = snap(Winnow.overlapPairs(overlapDocs, "doc_id", "text",
      k = 8, w = 4, minShared = 1))
    val uncapped = snap(Winnow.overlapPairs(overlapDocs, "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDf = Long.MaxValue))
    assert(auto == uncapped,
      s"floor must keep a small corpus uncapped: $auto vs $uncapped")
    // 2. boilerplate regime: 40 docs share one banner (df = 40 fps, the
    //    extreme tail of the df histogram) on top of unique content;
    //    docs 0 and 1 additionally share a genuine long run (df = 2).
    //    With quantile 0.9 and floor 2, the derived cap is 2: banner
    //    evidence vanishes, the genuine pair survives — and the auto
    //    answer equals the explicitly capped one
    val banner = "standard legal boilerplate banner attached everywhere in this corpus"
    val run = "a very long shared passage that the detector must still find afterwards"
    val rng = new scala.util.Random(11)
    def noise(i: Int) = (0 until 12).map(_ => f"u${i}%02d${rng.nextInt(99999)}%05d").mkString(" ")
    val docs = (0 until 40).map { i =>
      val extra = if (i <= 1) s" $run" else ""
      i.toLong -> s"$banner ${noise(i)}$extra"
    }.toDF("doc_id", "text")
    val autoB = snap(Winnow.overlapPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDf = Winnow.AutoMaxDf,
      autoDfQuantile = 0.9, autoDfFloor = 2L))
    val cappedB = snap(Winnow.overlapPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDf = 2L))
    assert(autoB == cappedB,
      s"derived cap must route to the df<=2 answer: ${autoB.keySet} vs ${cappedB.keySet}")
    assert(autoB.contains((0L, 1L)), s"genuine pair lost: ${autoB.keySet}")
    // uncapped, the banner connects everything — the quadratic regime
    // the default now avoids
    val uncappedB = snap(Winnow.overlapPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDf = Long.MaxValue))
    assert(uncappedB.size == 40 * 39 / 2, s"banner connects all: ${uncappedB.size}")
    assert(autoB.size < uncappedB.size / 10,
      s"cap must excise the banner pairs: ${autoB.size} of ${uncappedB.size}")
  }

  test("shared fingerprints confirm as exact shared substrings (precision of the evidence)") {
    // every shared fp between a detected pair must correspond to a k-gram
    // present VERBATIM in both normalized texts — md5-prefix collisions
    // aside, the fingerprint evidence is exact substring evidence
    val texts = overlapDocs.collect().map(r => r.getLong(0) ->
      r.getString(1).toLowerCase.replaceAll("\\s+", " ").trim).toMap
    def grams(t: String) = (0 to t.length - 8).map(i => t.substring(i, i + 8)).toSet
    val sets = Winnow.fingerprintSets(overlapDocs, "doc_id", "text", 8, 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    val pairs = Winnow.overlapPairs(overlapDocs, "doc_id", "text",
        k = 8, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    for ((a, b) <- pairs) {
      val sharedGrams = grams(texts(a)) intersect grams(texts(b))
      val sharedFpHashes = sharedGrams.map(g => md5hex(g).take(16))
      for (fp <- sets(a) intersect sets(b))
        assert(sharedFpHashes.contains(fp),
          s"fp $fp of pair ($a,$b) has no exact shared 8-gram")
    }
  }

  test("overlapPairsAgainst equals the cross pairs of the symmetric form") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables(spark, dir, "documents")
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val incr = Winnow.overlapPairsAgainst(batch, "doc_id", "text",
        Winnow.fingerprintSets(history, "doc_id", "text", 8, 6),
        k = 8, w = 6, minShared = 5)
      .collect().map(r => ((r.getLong(1), r.getLong(0)), r.getLong(2))).toSet
    // symmetric over the union, restricted to history×batch pairs; with
    // history ids interleaved, (id_a, id_b) may fall either way — key on
    // (history_id, batch_id)
    val batchIds = batch.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val sym = Winnow.overlapPairs(docs, "doc_id", "text",
        k = 8, w = 6, minShared = 5, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) => batchIds.contains(a) ^ batchIds.contains(b) }
      .map { case (a, b, s) =>
        (if (batchIds.contains(a)) (b, a) else (a, b), s) }.toSet
    assert(incr.nonEmpty && incr == sym)
  }

  test("materialized fingerprints equal the lazy relation under every storage tier") {
    val lazyFps = Winnow.winnowFingerprints(docs, "doc_id", "text", k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    for (mode <- Seq("memdisk", "disk")) {
      spark.conf.set(graft.Storage.CheckpointStorageConf, mode)
      try {
        val mat = Winnow.winnowFingerprints(docs, "doc_id", "text",
            k = 8, w = 4, materialize = true)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        assert(mat == lazyFps, s"mode $mode")
      } finally spark.conf.unset(graft.Storage.CheckpointStorageConf)
    }
  }
}
