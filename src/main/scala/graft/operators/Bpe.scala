package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.tokens

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016) — the vocabulary-building step of a training-data pipeline,
  * run over the corpus the engine just curated.
  *
  * The key scale property of BPE training is that after the first word
  * count the corpus never appears again: merges operate on the WORD
  * VOCABULARY table (word → corpus frequency), which grows sublinearly
  * in corpus bytes (Heaps' law) — at 100 TB the vocab relation is
  * typically 10^7–10^8 rows, a mid-size DataFrame, while the corpus
  * stays untouched on disk. Each merge iteration is:
  *
  *  1. one codegen'd scan of the vocab table exploding adjacent symbol
  *     pairs weighted by word frequency, into a hash aggregation with
  *     map-side partial combine (the pair space is vocab-bounded);
  *  2. a `orderBy(...).limit(4·batchK)` TakeOrdered — the argmax pair
  *     and its runners-up — collected to the driver. This is a k-bounded
  *     driver action, not a corpus collect;
  *  3. a per-row fold rewriting each word's symbol array, merging the
  *     chosen pair left-to-right without overlap (pure expression work).
  *
  * Lineage is capped with `localCheckpoint` every `checkpointEvery`
  * scans — without it the plan nests `numMerges` folds and analysis
  * time goes quadratic. Ties at the argmax break deterministically by
  * (weight DESC, left ASC, right ASC), so training is reproducible and
  * engine-independent.
  *
  * Encoding with the trained merges is [[encode]] — an expression chain
  * of depth numMerges, appropriate for the tens-to-hundreds of merges a
  * spec/analysis pass uses. A production 30k-merge vocabulary should
  * not inline 30k folds into one expression tree (codegen/constant-pool
  * limits — the Sampling.quotaCap when-chain lesson); route it through
  * numMerges/checkpointEvery iterative scans of the corpus exactly like
  * [[train]] rewrites the vocab, or a dedicated greedy-longest-match
  * expression.
  *
  * Reference analog: none — the reference has no tokenizer surface;
  * training-data north-star component. */
object Bpe {

  /** Lowercased whitespace-token frequencies — the corpus-to-vocab
    * reduction every other step runs on. One scan, one hash agg. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("weight"))

  /** Adjacent-pair frequencies of a symbol-array vocab table, weighted
    * by word frequency. Overlapping occurrences all count (the
    * classical get_stats semantics: "aaa" holds (a,a) twice). */
  private[graft] def pairCounts(syms: DataFrame): DataFrame =
    syms.select(col("weight"), explode(
        when(size(col("syms")) >= 2,
          transform(sequence(lit(0), size(col("syms")) - 2),
            j => struct(get(col("syms"), j).as("a"),
              get(col("syms"), j + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("weight")).as("w"))

  /** Merge every non-overlapping left-to-right occurrence of the
    * adjacent pair (a, b) in a symbol array into the single symbol
    * `a+b` — one per-row fold, no shuffle. The skip flag implements the
    * non-overlap rule: after a merge the right member cannot start
    * another ("aaa" + (a,a) → ["aa", "a"]).
    *
    * The input is bound ONCE to a lambda variable (`transform` over a
    * 1-element array) before the fold references it: Catalyst
    * expressions are trees, not DAGs, so referencing a nested child
    * column k times multiplies the subtree k-fold — chaining merges
    * (exactly what [[encode]] and [[train]] do) would otherwise grow
    * the expression ~5^merges and OOM the analyzer at a dozen merges.
    * Bound through the lambda leaf, each chained merge adds constant
    * size. */
  private[graft] def mergeAdjacent(syms: Column, a: String, b: String): Column = {
    val merged = lit(a + b)
    element_at(transform(array(syms), s =>
      when(size(s) < 2, s).otherwise(
        aggregate(sequence(lit(0), size(s) - 1),
          struct(array().cast("array<string>").as("out"), lit(false).as("skip")),
          (st, i) => {
            val cur = get(s, i)
            val nxt = get(s, i + 1) // null past the end -> condition falls through
            when(st.getField("skip"),
              struct(st.getField("out").as("out"), lit(false).as("skip")))
              .when(cur === lit(a) && nxt === lit(b),
                struct(concat(st.getField("out"), array(merged)).as("out"),
                  lit(true).as("skip")))
              .otherwise(
                struct(concat(st.getField("out"), array(cur)).as("out"),
                  lit(false).as("skip")))
          },
          st => st.getField("out")))), lit(1))
  }

  /** Train `numMerges` BPE merges over a (word, frequency) table; stops
    * early when the best remaining pair's corpus frequency drops below
    * `minPairCount` (merging a once-seen pair never helps a tokenizer).
    * Returns the ordered merge table (rank, left, right, weight) — rank 1
    * is the first, highest-frequency merge, `weight` the pair's corpus
    * frequency AT SELECTION TIME (an exactly-recomputable training anchor
    * — the oracle gate re-derives it per iteration). Deterministic (see
    * object scaladoc for the tie rule and the per-iteration plan shape).
    *
    * `batchK` is the number of merges one vocab scan may select. With
    * `batchK` = 1 (the default) training is the exact sequential
    * reference: one argmax per scan (SubDocSpec: naive-reference
    * parity). `batchK` > 1 is the production-vocabulary route (round-7
    * verdict "what's wrong" #3): a 30k-merge vocabulary at one merge per
    * scan is ~2 sequential Spark jobs per merge; here each scan selects
    * up to `batchK` mutually NON-INTERACTING pairs (no shared symbol —
    * their censuses are invariant under each other's application, so
    * applying them in one chained fold is order-independent) and applies
    * them together, cutting the driver-loop job count ~batchK×.
    *
    * Semantics at `batchK` > 1: the standard parallel-BPE approximation.
    * For pairs selected in one batch, merged-pair counts are exact
    * (symbol-disjointness ⇒ census invariance), but a pair CREATED by an
    * earlier selection (e.g. (ab, c) after merging (a, b)) cannot be seen
    * until the next scan — one merge per scan could rank it above the
    * batch's later picks. Where no created pair overtakes (typical for
    * real corpora, where adjacent ranks differ in weight), the merge
    * tables coincide — spec-asserted on such fixtures. Selection is
    * greedy over the (weight DESC, pair ASC) order, so output stays
    * deterministic and partition-invariant. Candidates come from a
    * `limit(4·batchK)` TakeOrdered — still a k-bounded driver action.
    *
    * Divergence bound (measured, SubDocSpec "created-pair overtaking"):
    * on a fixture engineered so merge 1's created pair outranks the
    * batch's second pick, exactly that one table row diverges, and the
    * merge SETS re-converge one scan later — the approximation is an
    * ordering window of width < batchK, not a lost merge. Guidance:
    * overtaking needs a created pair's count to beat a same-scan
    * candidate, i.e. adjacent ranks closer than the created pair's
    * mass; pick batchK well under the corpus's typical same-weight run
    * length (8 is conservative for Zipfian word frequencies), and keep
    * batchK = 1 where exact reference parity matters more than the
    * ~batchK× scan saving. Lineage is capped every `checkpointEvery`
    * scans. */
  def train(words: DataFrame, wordCol: String, weightCol: String,
            numMerges: Int, minPairCount: Long = 2L,
            checkpointEvery: Int = 8, batchK: Int = 1): DataFrame = graft.Storage.scoped { st =>
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    val spark = words.sparkSession
    import spark.implicits._
    var base = st.materialize(words
      .select(split(col(wordCol), "").as("syms"),
        col(weightCol).cast("long").as("weight")))
    // merges since the last checkpoint ride in ONE BpeApplyMergesExpr
    // (r15): the census plan's SOURCE is then identical at every
    // iteration (the list lives in the expression object, not the
    // tree), so whole-stage codegen compiles once per checkpoint window
    // instead of once per merge, and each pass rewrites a word in
    // O(symbols) instead of the chained fold's O(symbols²) appends.
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def symsNow: DataFrame =
      if (pending.isEmpty) base
      else base.withColumn("syms",
        graft.functions.bpeApplyMerges(col("syms"), pending.toList))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var scans = 0
    var done = false
    while (merges.size < numMerges && !done) {
      val want = math.min(batchK, numMerges - merges.size)
      val top = pairCounts(symsNow)
        .orderBy(col("w").desc, col("a"), col("b")).limit(4 * want).collect()
      val used = scala.collection.mutable.Set.empty[String]
      val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      top.iterator
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .takeWhile(_._3 >= minPairCount) // sorted DESC: the rest is smaller
        .foreach { case (a, b, w) =>
          // non-interaction = no shared symbol AND no candidate whose
          // component equals another pick's merged OUTPUT (a+b rides in
          // `used`): a batch holding both (a, b) and (a+b, c) would let
          // the chained fold also merge a+b occurrences the second
          // pick's census never counted — order-dependence the
          // "censuses invariant under each other" claim forbids. (A
          // reachability argument says such a candidate pair cannot
          // co-occur in one census — the adjacency that would feed
          // (a+b, c) is always consumed by whichever earlier merge
          // created the a+b symbol — but the guard makes the invariance
          // LOCAL instead of resting on that argument.)
          if (selected.size < want && !used(a) && !used(b) && !used(a + b)) {
            selected += ((a, b, w)); used += a; used += b; used += a + b
          }
        }
      if (selected.isEmpty) done = true
      else {
        selected.foreach { case (a, b, w) =>
          merges += ((merges.size + 1, a, b, w))
          pending += ((a, b))
        }
        scans += 1
        if (scans % checkpointEvery == 0) {
          val superseded = base
          base = st.materialize(symsNow)
          st.release(superseded)
          pending.clear()
        }
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "weight")
  }

  /** Encode one word column with a trained merge list, applying merges
    * in rank order (the BPE inference rule). One
    * [[graft.functions.BpeApplyMergesExpr]] node — the list rides in
    * the expression object, so plan size is constant in merges.size
    * (r15; the previous chain of merges.size folds grew the tree and
    * ran each fold interpreted). A production 30k-merge vocabulary
    * still goes through [[encodeVocab]]: per-ROW work is
    * merges × symbols either way, and the vocab route pays it once per
    * distinct word instead of once per corpus token. */
  def encode(word: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) split(word, "")
    else graft.functions.bpeApplyMerges(split(word, ""), merges)

  /** Production-vocabulary encoding: apply a LARGE trained merge list to
    * a distinct-word frame in rank order, cutting lineage with
    * `localCheckpoint` every `checkpointEvery` merges — the same
    * capped-iteration shape as [[train]]'s vocab rewriting, so a
    * 30k-merge vocabulary is ~30k/checkpointEvery bounded-size plans
    * instead of one unplannable expression tree. Each checkpoint
    * materializes the VOCAB relation (Heaps'-law sublinear in corpus
    * bytes), never the corpus. Returns (`wordCol`, pieces).
    *
    * Spec-asserted identical to [[encode]] (merge-for-merge the same
    * fold); encode corpus ROWS by joining this vocab table back on the
    * word — the corpus is never re-tokenized per merge. */
  def encodeVocab(words: DataFrame, wordCol: String,
                  merges: Seq[(String, String)],
                  checkpointEvery: Int = 64): DataFrame = {
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val start = words.select(col(wordCol),
      split(col(wordCol), "").as("pieces"))
    graft.Storage.scoped { st =>
      merges.grouped(checkpointEvery).foldLeft(start) { (acc, group) =>
        val next = st.materialize(acc.withColumn("pieces",
          graft.functions.bpeApplyMerges(col("pieces"), group)))
        st.release(acc) // the superseded window (no-op on `start`)
        next
      }
    }
  }

  /** Collect a merge table back to the rank-ordered (left, right) list
    * [[encode]] consumes — numMerges rows, a k-bounded driver action. */
  def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
}
