package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Shared wiring for the COMPOSED curation pipeline
  * ([[graft.operators.Curation.pipeline]]) over the synthetic corpus —
  * used by Bench (`op_pipeline`), the benchmark's curate_chain and the
  * ScaleSpec output-count gate, so all three drive the IDENTICAL chain.
  *
  * The synthetic documents are single-line with no punctuation (C4's
  * line rules would be vacuous) and their tiny vocabulary holds at most
  * one Gopher stopword (stop_hits <= 1 corpus-wide — the full Gopher
  * gate would empty the corpus), so the harness:
  *
  *  - restructures every document into deterministic 8-token sentence
  *    lines (the text_c4_rules seeding) and appends the seeded web
  *    furniture of text_line_dedup (universal footer, parity nav bar,
  *    third-residue banner) plus the C4 policy violations on fixed id
  *    residues — giving the C4 gate, the line-df removal, the index
  *    dedup and the decontamination real, exactly-computable work;
  *  - runs the C4 tier of the quality gate only ([[c4OnlyFilter]]);
  *    real corpora use the default `c4ThenGopherFilter`.
  *
  * Replication model for the scale tiers: K replicas with a FIXED-WIDTH
  * per-token suffix `_q%02d` — cross-replica shingles are disjoint (the
  * decoupled-shard argument) while every replica stays
  * STRUCTURALLY isomorphic to replica 0 (same token counts, same token
  * lengths, and all id-residue seeding keyed on the WITHIN-replica id).
  * Every rule-based stage outcome — C4 verdicts, line dfs,
  * contamination hits, per-lang populations — is therefore exactly
  * replica-0's. The MinHash stages are the one caveat: signatures hash
  * the suffixed TEXT, so a pair whose true overlap sits near the
  * estimate threshold can flicker across replicas (single docs, not
  * percents — bounded in the ScaleSpec gate). Consequences the gate
  * asserts: the accepted (pre-mix) count is K x the 1x count to within
  * that flicker, and the temperature quotas (round(T·(K·n)^a /
  * Σ(K·n_j)^a) = round(T·n^a / Σ n_j^a)) — hence the final drawn
  * count — repeat at every tier. */
object PipelineHarness {

  /** Replica id stride, shared by the scale-test fixtures; the
    * standing-index history lives above 10^9. */
  val IdStride = 10_000_000L
  private val HistoryOffset = 1_000_000_000L

  /** text_c4_rules sentence seeding + text_line_dedup furniture over a
    * token array, keyed on the (within-replica) doc id. Deterministic
    * and engine-portable (the same expressions the contract queries
    * mirror in DuckDB). */
  private def seedText(docId: Column, toks: Column): Column = {
    val nch = floor((size(toks) + lit(7)) / lit(8)).cast("int")
    // empty-doc guard: sequence(0, -1) is a DESCENDING Spark sequence
    val sent = when(nch > 0,
      transform(sequence(lit(0), greatest(nch - 1, lit(0))), i =>
        concat(array_join(slice(toks, i * 8 + 1, lit(8)), " "),
          when(i % 3 === 0, ".").when(i % 3 === 1, "!").otherwise("?"))))
      .otherwise(array().cast("array<string>"))
    concat(array_join(sent, "\n"),
      lit("\nshort line."),
      when(docId % 41 === 0, lit("\nlorem ipsum dolor sit amet."))
        .otherwise(lit("")),
      when(docId % 37 === 0, lit("\nconfig { debug } done here now."))
        .otherwise(lit("")),
      lit("\nCopyright Example Corp. All rights reserved."),
      when(docId % 2 === 0, lit("\nHome | About | Contact")).otherwise(lit("")),
      when(docId % 3 === 0, lit("\nSubscribe to our newsletter today!"))
        .otherwise(lit("")))
  }

  /** Replica i: fixed-width token suffix FIRST (so seeding keeps line
    * structure), sentence + furniture seeding on the ORIGINAL doc id
    * (so %41/%37/%2/%3 residues are replica-invariant), id offset LAST. */
  private def replica(docs: DataFrame, i: Int): DataFrame = {
    val sfx = f"_q$i%02d"
    val toks = transform(
      filter(split(col("text"), "\\s+"), t => t =!= ""),
      t => concat(t, lit(sfx)))
    docs.select((col("doc_id") + lit(i * IdStride)).as("doc_id"),
      seedText(col("doc_id"), toks).as("text"),
      col("lang"), col("source"))
  }

  /** K isomorphic, shingle-decoupled replicas of the seeded corpus.
    * Spread (r15 session 2, measured per stage at sf0.1): the seeding and
    * the C4 gate are heavy per-row regex/transform passes that inherited
    * the sub-block-size documents file's single scan task (the r14
    * gopher/c4 signature — the gate alone ran ~4.6 s serial at sf0.1);
    * the spread is the standing [[graft.Storage.spread]] small-scan
    * guard, a no-op on real corpus scans. */
  def corpus(spark: SparkSession, dir: String, k: Int = 1): DataFrame =
    graft.Storage.spread(
      (0 until k).map(i => replica(Tables(spark, dir, "documents"), i))
        .reduce(_ unionAll _),
      col("doc_id"))

  /** Decontamination eval set: 3-gram shingles of every 50th doc of
    * EVERY replica (IdStride % 50 == 0, so the residue survives the id
    * offset) — each replica decontaminates isomorphically, keeping the
    * accepted count exactly linear in K. */
  def evalShingles(corpus: DataFrame): DataFrame = {
    import graft.functions.{tokens, wordShingles}
    corpus.filter(col("doc_id") % 50 === 0)
      .select(explode(wordShingles(tokens(col("text")), 3)).as("s"))
      .distinct()
  }

  /** Standing MinHash index over the "history": every 20th doc of every
    * replica (IdStride % 20 == 0) under ids offset past 10^9 — exact-
    * text twins of batch documents, so the index dedup removes a
    * deterministic per-replica-constant slice. Drops any stale
    * warehouse location first: the in-memory catalog forgets the
    * table, the warehouse dir keeps it. */
  def ensureIndex(spark: SparkSession, corpus: DataFrame, table: String): Unit = {
    // BOTH tables must exist to reuse — a half-built index (died between
    // the two writes) must rebuild, not silently serve stale bands
    if (graft.catalog.Layout.minhashIndexComplete(spark, table)) return
    graft.catalog.Layout.dropMinhashIndex(spark, table)
    val history = corpus.filter(col("doc_id") % 20 === 0)
      .withColumn("doc_id", col("doc_id") + lit(HistoryOffset))
    graft.catalog.Layout.minhashBandIndex(spark, history, "doc_id", "text",
      shingleN = 2, numHashes = 32, bands = 8, buckets = 8, table)
  }

  /** C4-only quality gate (keep_doc + clean-text rewrite) — the tier the
    * synthetic corpus can exercise; see the object scaladoc. */
  def c4OnlyFilter: DataFrame => DataFrame = df => {
    val cols = df.columns.map(col)
    Curation.withC4Rules(df, "text")
      .filter(col("keep_doc"))
      .withColumn("text", col("clean_text"))
      .select(cols: _*)
  }

  /** The full composed chain over `corpus`: C4 gate → boilerplate-line
    * removal → index dedup (+ intra-batch) → decontamination →
    * temperature mix on `lang` → shard shuffle. `ensureIndex` must have
    * run for `indexTable`. `materialize` must be true (the chain has
    * one, materialized form; the parameter stays for existing callers
    * that pass it by name). */
  def run(spark: SparkSession, corpus: DataFrame, indexTable: String,
          targetTotal: Long = 1000L,
          materialize: Boolean = true,
          subDocStages: Boolean = false,
          trainerTail: Boolean = false,
          tailBpeMerges: Option[Int] = Some(12)): DataFrame = {
    require(materialize, "the curation chain has only a materialized form")
    Curation.pipeline(spark, corpus, "doc_id", "text", "lang",
      targetTotal = targetTotal, alpha = 0.5, minLineDocs = 50,
      paragraphDedup = subDocStages,
      spanGramLen = if (subDocStages) Some(20) else None,
      indexTable = Some(indexTable),
      evalShingles = Some(evalShingles(corpus)), evalShingleN = 3,
      shardSeed = "ep0", qualityFilter = Some(c4OnlyFilter),
      shingleN = 2, numHashes = 32, bands = 8, buckets = 8,
      estThreshold = 0.3, appendToIndex = false,
      // trainer tail (round-9): token-budget mix (~60 tokens/doc keeps
      // the draw comparable to the doc-count target) + 512-token packing;
      // tailBpeMerges = None counts whitespace tokens instead of
      // trained-BPE pieces (the scale exactness tiers use that —
      // replica-salted vocabularies make cross-tier BPE counts
      // incomparable, while whitespace counts are replica-invariant)
      tokenBudget = if (trainerTail) Some(targetTotal * 60L) else None,
      packSeqLen = if (trainerTail) Some(512) else None,
      bpeMerges = if (trainerTail) tailBpeMerges else None)
  }
}
