package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Storage
import graft.functions.tokens

/** Corpus-level document curation: the cleaning passes that need to see
  * MORE than one document at a time (unlike the per-row Gopher/C4 rule
  * evaluations in graft.queries.Text, which are pure scans).
  *
  * The flagship here is boilerplate-line removal — the CCNet/RefinedWeb
  * step that strips navigation bars, cookie banners and copyright footers
  * by deleting every line whose normalized form appears in at least
  * `minDocs` distinct documents. It is the line-granularity sibling of
  * exact document dedup, and at 100 TB it is one of the highest-volume
  * passes in a web pipeline (most HTML-derived text is boilerplate).
  */
object Curation {

  /** Normalized line identity: whitespace-collapsed, lowercased, hashed.
    * Hashing early means the corpus-wide aggregation and joins ship a
    * 32-byte key, never line text. */
  private def lineKey(line: Column): Column =
    md5(lower(trim(regexp_replace(line, "\\s+", " "))))

  /** Remove every line that occurs (in normalized form) in at least
    * `minDocs` distinct documents; returns one row per input document
    * with `n_lines`, `n_kept` and the cleaned text (original line order,
    * original line bytes — normalization is only the *identity*, not the
    * output).
    *
    * Plan shape, stage by stage, and why it survives 100 TB:
    *  1. posexplode lines — map-side, row count = total lines.
    *  2. distinct (doc, key) pairs then hash-agg count per key — both
    *     shuffle on the 32-byte key; partial aggregation collapses each
    *     map task's repeats before the exchange, so the shuffle carries
    *     per-task-distinct pairs, not raw lines.
    *  3. left_anti join lines against the boilerplate keys (count >=
    *     minDocs). The boilerplate relation is the FILTERED aggregate —
    *     orders of magnitude smaller than the line table, but still
    *     data-dependent in size, so no broadcast hint: AQE promotes it to
    *     a broadcast anti-join at runtime when it fits, and the shuffle
    *     anti-join on the key is the correct fallback when a pathological
    *     corpus makes it large.
    *  4. re-assemble per document: collect_list of (pos, line) structs
    *     under a doc-keyed hash agg, array_sort, join with newline. The
    *     collected list is bounded by a single document's line count —
    *     the same per-row bound the document itself already imposes on
    *     every scan — so this is NOT an unbounded collect.
    *  5. left join back to the input ids so documents whose every line
    *     was boilerplate survive with empty text (n_kept = 0) instead of
    *     vanishing.
    *
    * Reference analog: none — the reference pipes text through engine SQL
    * untouched; this is part of the training-data north star surface. */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                             minDocs: Long,
                             unicodeForm: Option[String] = None): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val id = col(idCol)
    val lines = docs
      .select(id, posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lkey", lineKey(
        graft.functions.unicodeNormalizeOpt(col("line"), unicodeForm)))
    val boiler = lines.select(id, col("lkey")).distinct()
      .groupBy(col("lkey")).agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDocs)
      .select(col("lkey"))
    val kept = lines.join(boiler, Seq("lkey"), "left_anti")
      .groupBy(id)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          e => e.getField("line")), "\n").as("clean_text"))
    docs.select(id, size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(id, col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Join term-level stats `tf` with the per-term relation `dfRel`,
    * broadcasting only under a MEASURED vocabulary bound — the
    * measure-then-route pattern of `Dedup.jaccardPairs` (VERDICT_r05
    * next-round #2). The relation is materialized first, so the routing
    * count is one cheap pass over the (vocab-sized) aggregate the query
    * needs anyway; the returned plan reads the checkpoint, which the
    * ContextCleaner reclaims with it (no CacheManager entry outlives the
    * call). Shared by tfidf/bm25 (queries.Text forwards here) and
    * [[unigramLogProb]]. */
  private[graft] def idfJoinVocabGated(tf: DataFrame, dfRel: DataFrame,
                                       maxBroadcastVocab: Long): DataFrame = {
    val dfp = Storage.materializeOnce(dfRel)
    val vocab = dfp.count()
    if (vocab <= maxBroadcastVocab) tf.join(broadcast(dfp), "term")
    else tf.join(dfp, "term")
  }

  /** The Gopher required-stopword list (Rae et al. 2021, appendix A). */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Append the Gopher quality-rule metrics (Rae et al. 2021, appendix A)
    * and the combined `passes` verdict to every row: word-count bounds,
    * mean word length, symbol-to-word ratio (# / ellipsis), bullet- and
    * ellipsis-line ratios, alpha-word ratio, required-stopword hits.
    * Entirely per-row codegen'd higher-order functions — zero shuffle,
    * scan speed at any corpus size. `passes` derives from the ROUNDED
    * metrics so rule outcomes are bit-identical cross-engine (this IS the
    * `text_gopher_rules` contract body; the query delegates here). An
    * empty document (zero tokens) yields NULL ratios and a NULL verdict —
    * identical in Spark and any SQL engine with NULL-on-zero-divide. */
  def withGopherMetrics(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val nd = n.cast("double")
    val meanLen = round(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
        .cast("double") / nd, 4)
    val symRatio = round(
      ((length(text) - length(regexp_replace(text, "#", ""))) +
        (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3))
        .cast("double") / nd, 4)
    val lines = split(text, "\n")
    val nl = size(lines).cast("double")
    val bulletRatio = round(size(filter(lines, l =>
      substring(trim(l), 1, 1).isin("-", "*"))).cast("double") / nl, 4)
    val ellipsisRatio = round(size(filter(lines, l =>
      endswith(rtrim(l), lit("...")))).cast("double") / nl, 4)
    val alphaRatio = round(size(filter(toks, t =>
      t.rlike("[A-Za-z]"))).cast("double") / nd, 4)
    val stopHits = size(filter(
      array(gopherStops.map(lit): _*), sw => array_contains(toks, sw)))
      .cast("long")
    df.withColumn("n_words", n)
      .withColumn("mean_word_len", meanLen)
      .withColumn("symbol_ratio", symRatio)
      .withColumn("bullet_ratio", bulletRatio)
      .withColumn("ellipsis_ratio", ellipsisRatio)
      .withColumn("alpha_word_ratio", alphaRatio)
      .withColumn("stop_hits", stopHits)
      .withColumn("passes",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          (col("symbol_ratio") < 0.1) && (col("bullet_ratio") < 0.9) &&
          (col("ellipsis_ratio") < 0.3) && (col("alpha_word_ratio") > 0.8) &&
          (col("stop_hits") >= 2L))
  }

  /** Append the C4 cleaning-rule outcome (Raffel et al. 2020 §2.2) to
    * every row: line retention (terminal punctuation + >= 5 words),
    * `clean_text` (retained lines, original order/bytes), the lorem-
    * ipsum / curly-brace page flags, and the `keep_doc` verdict
    * (>= 3 surviving lines, no policy flags). Pure per-row expression
    * work (this IS the `text_c4_rules` rule body; the query adds its
    * deterministic corpus seeding and fingerprints the clean text). */
  def withC4Rules(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(tokens(l)) >= 5)
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept_lines", size(kept).cast("long"))
      .withColumn("clean_text", array_join(kept, "\n"))
      .withColumn("has_lorem", lower(text).contains("lorem ipsum"))
      .withColumn("has_brace", text.contains("{"))
      .withColumn("keep_doc",
        col("n_kept_lines") >= 3L && !col("has_lorem") && !col("has_brace"))
  }

  /** The default per-row quality gate for [[pipeline]]: C4 line cleaning
    * (Raffel et al. 2020 §2.2 — [[withC4Rules]], keep_doc verdict, text
    * REPLACED by the retained lines) followed by the Gopher document
    * rules (Rae et al. 2021 — [[withGopherMetrics]], passes verdict) on
    * the CLEANED text. Returns the input columns unchanged except
    * `textCol`, which carries the C4-cleaned text. Pure per-row scan
    * work, zero shuffle. */
  def c4ThenGopherFilter(textCol: String): DataFrame => DataFrame = df => {
    val cols = df.columns.map(col)
    val cleaned = withC4Rules(df, textCol)
      .filter(col("keep_doc"))
      .withColumn(textCol, col("clean_text"))
      .select(cols: _*)
    withGopherMetrics(cleaned, textCol)
      .filter(col("passes"))
      .select(cols: _*)
  }

  /** The COMPOSED corpus-curation chain — the realistic end-to-end intake
    * a training corpus runs, as ONE job with a shared caching discipline
    * (reference analog: the 14-step `Runner.Run` orchestration,
    * `internal/pipeline/runner.go:169-448`, which plays exactly this
    * composition role for the reference's deploy pipeline):
    *
    *  1. per-row quality gate (`qualityFilter`, default
    *     [[c4ThenGopherFilter]]) — pure scan, no shuffle; the gate may
    *     rewrite `textCol` (C4 does);
    *  2. corpus-wide boilerplate-line removal ([[removeBoilerplateLines]],
    *     line-df agg + anti-join); documents reduced to zero lines drop;
    *  2b. OPTIONAL sub-document dedup between line removal and the
    *     document-level passes — the Dolma/Lee-et-al. order: paragraph
    *     KEEP-FIRST dedup ([[Dedup.dedupParagraphs]], `paragraphDedup`;
    *     documents losing every paragraph drop) then repeated-substring
    *     span removal ([[Dedup.removeRepeatedSpans]], `spanGramLen`;
    *     documents emptied entirely drop). Both default off — they
    *     rewrite `textCol`, so the MinHash/decontamination stages then
    *     see the deduplicated bytes;
    *  3. near-dup dedup against a STANDING MinHash index
    *     ([[Dedup.curateBatchAgainstIndex]] semantics: the probe reads
    *     the bucketed band table in place, only this batch shuffles),
    *     PLUS intra-batch near-dups under the greedy smaller-id rule of
    *     [[graft.streaming.StreamOps.curateStreamAgainstIndex]] (drop
    *     every doc matching a smaller-id doc — see that scaladoc for the
    *     exact chain/star behavior; [[Dedup.dedupCorpus]] is the
    *     transitive-cluster alternative);
    *  4. decontamination against an eval shingle set: contaminated
    *     documents REMOVED; the eval relation is counted and broadcast
    *     only under `maxBroadcastShingles` (measure-then-route — the
    *     text_decontaminate discipline), with
    *     the exact shuffle semi-join as the at-scale fallback;
    *  5. temperature mixing ([[Sampling.temperatureMix]] — quotas attach
    *     chain- or join-routed by source cardinality); with `tokenBudget`
    *     set, the TOKEN-BUDGET form instead
    *     ([[Sampling.temperatureMixTokens]] — the trainer's actual
    *     contract: per-source budgets in tokens, not documents), over
    *     per-document token counts from stage 4b;
    *  4b. OPTIONAL trainer-tail token counting (runs when `tokenBudget`
    *     or `packSeqLen` is set): per-document `n_tokens` — whitespace
    *     tokens by default, or TRAINED-BPE piece counts when
    *     `bpeMerges` is set ([[Bpe.train]] on the ACCEPTED corpus's
    *     word frequencies, [[Bpe.encodeVocab]] over the distinct vocab,
    *     per-word piece counts joined back through the measured
    *     vocab-gated route and summed per document — the corpus is
    *     never re-tokenized per merge);
    *  6. deterministic shard shuffle ([[Sampling.shardShuffle]]) — the
    *     output carries (shard, pos) training order; with `packSeqLen`
    *     set, [[Packing.packSequences]] instead: the mixed draw is
    *     concatenated in that same shard order and cut into fixed
    *     `packSeqLen`-token training sequences (output rows become
    *     sequence fragments — the trainer's physical layout, closing
    *     the chain quality gate → dedup → mix → pack in ONE job).
    *
    * Caching discipline — what a 100 TB run actually has to get right
    * across stage BOUNDARIES even when each stage is clean alone:
    *  - the post-line-removal frame is the one reuse point (read by the
    *    dedup signature pass, the intra-batch pass, the decontamination
    *    shingle pass, the mix's count agg and the final row set); the
    *    pipeline persists exactly that frame plus the (eval-set-sized)
    *    distinct shingle relation, and unpersists BOTH before returning —
    *    a tiered probe running many pipelines in one session must not
    *    accumulate dead blocks;
    *  - the post-decontamination survivor set is
    *    eagerly checkpointed BEFORE any index append — the survivors are
    *    computed by READING the index tables, and deferring their
    *    evaluation past the append would re-read the grown index (the
    *    curateStreamAgainstIndex self-referential-append hazard);
    *  - `appendToIndex` folds the ACCEPTED corpus (post-dedup,
    *    post-decontamination — not the mix draw, which is a per-run
    *    sample) into the standing index, so the next increment dedups
    *    against everything this run admitted.
    *
    * Every stage cache and checkpoint is released when the call exits,
    * on return or throw (`Storage.scoped`); the returned frame is the
    * eagerly materialized shard-shuffled output. Each stage's plan has
    * its own PLANS.tsv row; scale posture: SCALE.md `pipeline_*` tiers +
    * the ScaleSpec output-count gate. */
  def pipeline(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
               idCol: String, textCol: String, srcCol: String,
               targetTotal: Long,
               alpha: Double = 0.5,
               minLineDocs: Long = 50,
               paragraphDedup: Boolean = false,
               paragraphSep: String = "\n\n",
               spanGramLen: Option[Int] = None,
               indexTable: Option[String] = None,
               evalShingles: Option[DataFrame] = None,
               evalShingleN: Int = 3,
               shardSeed: String = "ep0",
               qualityFilter: Option[DataFrame => DataFrame] = None,
               shingleN: Int = 2, numHashes: Int = 32, bands: Int = 8,
               buckets: Int = 8, estThreshold: Double = 0.3,
               appendToIndex: Boolean = false,
               maxBroadcastShingles: Long = 1L << 20,
               tokenBudget: Option[Long] = None,
               packSeqLen: Option[Int] = None,
               bpeMerges: Option[Int] = None,
               maxBroadcastVocab: Long = 1L << 20,
               // opt-in Unicode canonical normalization for every
               // identity-keyed stage (line census, paragraph keys, span
               // grams, minhash signatures, decontamination shingles on
               // BOTH sides). Quality metrics stay byte-level: they
               // score, they don't key. Output-form contract: kept text
               // preserves original bytes through the line and paragraph
               // stages (normalization is only the identity there), but
               // an enabled SPAN stage emits the normalized form — exact
               // substring surgery cuts character ranges of the
               // normalized text and cannot map them back to the
               // original bytes (removeRepeatedSpans scaladoc).
               unicodeForm: Option[String] = None): DataFrame = Storage.scoped { st =>
    require(!appendToIndex || indexTable.nonEmpty,
      "appendToIndex requires an indexTable")
    require(bpeMerges.isEmpty || tokenBudget.nonEmpty || packSeqLen.nonEmpty,
      "bpeMerges without tokenBudget/packSeqLen counts tokens nothing consumes")
    val cols = docs.columns.map(col)
    val gate = qualityFilter.getOrElse(c4ThenGopherFilter(textCol))
    // each text-rewriting stage joins its rewrite back to the surviving
    // rows, REFERENCING its input twice — so every enabled stage
    // boundary is cached (computed once, both references read cache; at
    // 100 TB recomputing the line-removal agg under the paragraph join
    // would double the most expensive pass)
    def stageBoundary(df: DataFrame, needed: Boolean): DataFrame =
      if (needed) st.cache(df) else df
    // the GATE is a stage boundary too (r15 session 2, measured per
    // stage at sf0.1): the quality rewrite is the chain's heaviest
    // per-row pass (regex/line transforms over every corpus byte) and
    // the line-removal join references it THREE times — the line census,
    // the per-doc reassembly's n_lines side, and the surviving-rows join
    // side. Unpersisted, the composed arm paid the gate ~3× (≈9 s of
    // op_pipeline_full's 41 s at sf0.1); persisted, it computes once.
    val q = stageBoundary(gate(docs).select(cols: _*), needed = true)
    val lineClean = removeBoilerplateLines(q, idCol, textCol, minLineDocs,
      unicodeForm)
    val afterLines = stageBoundary(
      q.drop(textCol)
        .join(lineClean.filter(col("n_kept") >= 1)
          .select(col(idCol), col("clean_text").as(textCol)), Seq(idCol))
        .select(cols: _*),
      needed = paragraphDedup || spanGramLen.nonEmpty)
    val afterParas = stageBoundary(
      if (!paragraphDedup) afterLines
      else afterLines.drop(textCol)
        .join(Dedup.dedupParagraphs(afterLines, idCol, textCol, paragraphSep,
            unicodeForm = unicodeForm)
          .filter(col("n_kept") >= 1)
          .select(col(idCol), col("clean_text").as(textCol)), Seq(idCol))
        .select(cols: _*),
      needed = paragraphDedup && spanGramLen.nonEmpty)
    val cleanedLazy = spanGramLen match {
      case None => afterParas
      case Some(l) => afterParas.drop(textCol)
        .join(Dedup.removeRepeatedSpans(afterParas, idCol, textCol, l,
            unicodeForm = unicodeForm)
          .filter(col("n_removed") < col("n_chars")) // emptied docs drop
          .select(col(idCol), col("clean_text").as(textCol)), Seq(idCol))
        .select(cols: _*)
    }
    // the cache point sits AFTER the last text-rewriting stage, so the
    // optional sub-document passes are inside the one reuse point too
    val cleaned = st.cache(cleanedLazy)
    val afterDedup0 = indexTable match {
      case Some(table) =>
        val idxSurv = Dedup.curateBatchAgainstIndex(cleaned, spark, table,
          idCol, textCol, shingleN, numHashes, bands, buckets, estThreshold,
          appendSurvivors = false, unicodeForm = unicodeForm)
        val intra = Dedup.minHashNearDups(idxSurv, idCol, textCol, shingleN,
          numHashes, bands, estThreshold, unicodeForm)
        idxSurv.join(intra.select(col("id_b").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
      case None => cleaned
    }
    // decontamination references the deduped frame TWICE (the shingle
    // explode and the anti-join's kept side) — unpersisted, the intra
    // minhash signatures and both anti-joins computed twice per run
    // (r15 session 2, measured: ~4 s per evaluation at sf0.1).
    // Stage boundary only when that double reference exists.
    val afterDedup = stageBoundary(afterDedup0,
      needed = evalShingles.nonEmpty && indexTable.nonEmpty)
    val decon = evalShingles match {
      case Some(es) =>
        // the eval side joins the (normalized) corpus shingles, so it
        // must carry the same form — an NFD-encoded eval set would
        // otherwise silently miss, admitting contaminated documents the
        // caller explicitly opted into catching. Normalizing a shingle
        // string equals joining normalized tokens: the ASCII-space
        // separator composes with nothing and terminates any combining
        // sequence, so the per-token and whole-string forms agree.
        val espLazy = es.select(graft.functions.unicodeNormalizeOpt(
            col(es.columns.head), unicodeForm).as("__pl_s")).distinct()
        // measure-then-route: one count over the cached eval set
        val esp = st.cache(espLazy)
        val esJoin =
          if (esp.count() <= maxBroadcastShingles) broadcast(esp) else esp
        val contaminated = afterDedup.select(col(idCol),
            explode(graft.functions.wordShingles(tokens(
              graft.functions.unicodeNormalizeOpt(col(textCol), unicodeForm)),
              evalShingleN)).as("__pl_s"))
          .join(esJoin, "__pl_s")
          .select(col(idCol)).distinct()
        afterDedup.join(contaminated, Seq(idCol), "left_anti")
      case None => afterDedup
    }
    val accepted = st.materialize(decon)
    if (appendToIndex)
      graft.catalog.Layout.minhashIndexAppend(spark, accepted.select(cols: _*),
        idCol, textCol, shingleN, numHashes, bands, buckets, indexTable.get,
        unicodeForm = unicodeForm)
    // trainer tail (round-9): token counting → token-budget mix → packing.
    // Token counts ride the accepted frame as `n_tokens`; with bpeMerges
    // the count is trained-BPE pieces — train on the accepted corpus's
    // word frequencies (driver loop of k-bounded jobs), encode the
    // DISTINCT vocab once, and join per-word piece counts back through
    // the measured vocab-gated route (broadcast under maxBroadcastVocab,
    // word-keyed shuffle join past it — the bigramLogProb discipline).
    val withTokens: DataFrame =
      if (tokenBudget.isEmpty && packSeqLen.isEmpty) accepted
      else bpeMerges match {
        case None =>
          accepted.withColumn("n_tokens",
            size(tokens(lower(col(textCol)))).cast("long"))
        case Some(m) =>
          val words = st.cache(Bpe.wordCounts(accepted, textCol))
          val merges = Bpe.collectMerges(
            Bpe.train(words, "word", "weight", numMerges = m,
              minPairCount = 1L))
          val pieces = Bpe.encodeVocab(words.select(col("word")), "word",
              merges)
            .select(col("word").as("__w"), size(col("pieces")).cast("long").as("__np"))
          val vocabSize = words.count()
          st.release(words)
          val piecesRouted =
            if (vocabSize <= maxBroadcastVocab) broadcast(pieces) else pieces
          val perDoc = accepted
            .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
            .join(piecesRouted, Seq("__w"))
            .groupBy(col(idCol)).agg(sum(col("__np")).as("n_tokens"))
          accepted.join(perDoc, Seq(idCol), "left")
            .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      }
    val mixed = tokenBudget match {
      case Some(t) => Sampling.temperatureMixTokens(withTokens, idCol, srcCol,
        "n_tokens", alpha, t)
      case None => Sampling.temperatureMix(withTokens, idCol, srcCol, alpha,
        targetTotal)
    }
    val out = packSeqLen match {
      case Some(l) => Packing.packSequences(mixed, idCol, "n_tokens", l,
        shardSeed)
      case None => Sampling.shardShuffle(mixed, idCol, shardSeed)
    }
    Storage.materializeOnce(out)
  }

  /** Per-document mean corpus log-probability (the CCNet perplexity-
    * bucket proxy): a unigram LM fit on the corpus itself scores every
    * document by the mean ln p(token). Per-token logp is quantized to
    * DECIMAL(12,6) BEFORE the per-doc sum, so the aggregate is order-
    * independent and bit-identical across engines; the term join uses
    * the MEASURED vocab-gated broadcast route shared with tfidf/bm25
    * (a 100 TB vocabulary falls back to a term-keyed shuffle join).
    * Output: (id, n_tokens, mean_logp), documents with zero tokens
    * absent (no token rows — inner-join semantics on both engines). */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     maxBroadcastVocab: Long): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(lower(col(textCol))))
      .as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nTot = vocab.agg(sum(col("c")).as("n_total"))
    val lp = vocab.crossJoin(broadcast(nTot))
      .select(col("term"),
        round(log(col("c").cast("double") / col("n_total")), 6)
          .cast(DecimalType(12, 6)).as("logp"))
    idfJoinVocabGated(toks, lp, maxBroadcastVocab)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("logp")).as("slp"))
      .select(col(idCol), col("n_tokens"),
        round(col("slp").cast("double") / col("n_tokens"), 4).as("mean_logp"))
  }

  /** Per-document mean BIGRAM log-probability with add-α smoothing — the
    * CCNet perplexity filter (Wenzek et al. 2020) one Markov order up
    * from [[unigramLogProb]]: fit bigram counts on the corpus itself and
    * score every document by mean ln p(w_i | w_{i−1}), where
    * p(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V), c(w1) the bigram-context
    * count (Σ_w2 c(w1,w2)) and V the corpus token-type count. Smoothing
    * keeps the estimator proper (the LM here is fit on the scoring
    * corpus, so no bigram is unseen, but a held-out corpus plugs into the
    * same formula). Per-bigram logp is quantized to DECIMAL(12,6) BEFORE
    * the per-doc sum (QueryPack policy — order-independent, bit-identical
    * cross-engine); documents with < 2 tokens have no bigrams and are
    * absent (inner-join semantics both engines).
    *
    * 100 TB shape: bigram extraction is a per-row HOF (adjacent-token
    * structs from the document's own token array — zero shuffle, no
    * window); the count tables are plain partial+final aggregations on
    * (w1,w2)/(w1); V is a 1-row scalar broadcast; the score join routes
    * through the MEASURED bigram-vocabulary gate — broadcast when the
    * bigram type count fits, (w1,w2)-keyed shuffle join at web scale. */
  def bigramLogProb(docs0: DataFrame, idCol: String, textCol: String,
                    alpha: Double, maxBroadcastVocab: Long): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    // r15 (VERDICT r14 next #7, measured): the operator's cost at bench
    // scale was never the (w1, w2) exchange width — it was the THREE
    // tokenize passes (probe docBg, LM build, V census) each inheriting
    // a sub-block-size file's single scan task, exactly the r14
    // gopher/c4/dsir signature. Spread once at entry; every pass below
    // shares it (no-op on real corpus scans — Storage.spread scaladoc).
    // Dictionary-encoding the bigram join key was evaluated and NOT
    // taken: the score join already routes through the MEASURED
    // bigram-type broadcast gate (no docBg shuffle on the join key at
    // all when the vocab fits), an exact dictionary would cost an extra
    // aggregation + join pass on every route, and a hashed key is not
    // collision-safe for exact per-document counts.
    val docs = graft.Storage.spread(docs0, col(idCol))
    // bind the token array ONCE per row behind a projection: referencing
    // the raw tokens() tree from inside a lambda re-evaluates the whole
    // split/filter per reference in interpreted HOF evaluation (the Bpe
    // lambda-binding lesson) — with element_at per index that is O(n²)
    // per document. zip_with over two slices touches the bound array 3
    // times per row, independent of length.
    val tokenized = docs
      .select(col(idCol), tokens(lower(col(textCol))).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    val n1 = size(col("__toks")) - 1
    val bigrams = tokenized
      .select(col(idCol), explode(zip_with(
        slice(col("__toks"), lit(1), n1),
        slice(col("__toks"), lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vs = docs.select(explode(tokens(lower(col(textCol)))).as("t"))
      .agg(countDistinct(col("t")).as("vs"))
    val lp = c2.join(c1, "w1").crossJoin(broadcast(vs))
      .select(col("w1"), col("w2"),
        round(log((col("c2") + alpha) /
          (col("c1").cast("double") + col("vs") * alpha)), 6)
          .cast(DecimalType(12, 6)).as("logp"))
    // score off the per-document bigram TYPE counts, not instances: the
    // (id, w1, w2) -> n aggregation combines map-side, and the LM join
    // then costs one probe per distinct (doc, bigram) — on repetitive
    // corpora (and any natural-language Zipf tail) far fewer rows than
    // the instance stream; Σ n·logp in DECIMAL is the same
    // order-independent sum
    val docBg = bigrams.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
    // measured route on the BIGRAM type count (the idfJoinVocabGated
    // discipline, keyed on the pair)
    val lpp = Storage.materializeOnce(lp)
    val nTypes = lpp.count()
    val joined =
      if (nTypes <= maxBroadcastVocab) docBg.join(broadcast(lpp), Seq("w1", "w2"))
      else docBg.join(lpp, Seq("w1", "w2"))
    joined
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("logp") * col("n")).as("slp"))
      .select(col(idCol), col("n_bigrams"),
        round(col("slp").cast("double") / col("n_bigrams"), 4).as("mean_logp"))
  }
}
