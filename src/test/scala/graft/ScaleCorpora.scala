package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PipelineHarness.IdStride

/** Corpus fixtures for the near-linearity gates (`ScaleSpec`) — the
  * inputs the SCALE.md tables were measured on.
  *
  * Replication model: K *decoupled shards*, not K exact copies. A naive
  * K× replication (ids offset, payload identical) is all-duplicate-
  * adversarial — every document gains K−1 perfect near-dups, dup groups
  * grow to size K, and pair-emitting operators' OUTPUT grows ~K² inside
  * the groups, so wall-time can't be judged for linearity. Instead each
  * replica i is transformed so its within-shard structure is exactly the
  * original corpus but cross-shard similarity collapses:
  *
  *  - documents: every token gets an `_r<i>` suffix — shingle sets across
  *    shards are disjoint (cross-shard Jaccard = 0), within-shard shingle
  *    relations are isomorphic to the original;
  *  - embeddings: the vector is circularly shifted by i positions — a
  *    permutation preserves norms and all within-shard cosines exactly,
  *    while cross-shard cosines of shifted gaussian vectors are ~0.
  *
  * So the K× corpus models "K independent slices of the same
  * distribution" — the actual shape of a 100 TB corpus — and near-linear
  * wall-time growth is the honest pass condition. The 1× input goes
  * through the identical transform+parquet round trip (replica 0 only) so
  * the comparison is apples-to-apples.
  */
object ScaleCorpora {

  /** Replica i of the documents table: ids offset, every token suffixed
    * `_r<i>` so shingles never collide across replicas. */
  private def docReplica(docs: DataFrame, i: Int): DataFrame =
    docs.select(
      (col("doc_id") + lit(i * IdStride)).as("doc_id"),
      expr(s"array_join(transform(filter(split(text, '\\\\s+'), x -> x <> ''), " +
        s"x -> concat(x, '_r$i')), ' ')").as("text"))

  /** Replica i of the embeddings table: ids offset, vector circularly
    * shifted by i AND sign-flipped per coordinate by a deterministic
    * per-shard ±1 pattern (hash(i, j) parity). Both transforms preserve
    * norms and all within-shard cosines exactly (the flip multiplies each
    * dot-product term by s_j² = 1); cross-shard cosines are ~0. The sign
    * pattern matters beyond aesthetics: shifts alone repeat at i ≥ dim
    * (i % 64), so a K > 64 probe would hand shard pairs (i, i+64)
    * IDENTICAL vectors — 2 040 exact duplicates per such pair, an answer
    * set the decoupling is supposed to exclude; the 2^64 sign patterns
    * keep every shard pair decorrelated. PLUS a 2% planted near-dup per
    * shard (deterministic small perturbation, cosine ≈ 0.99) so the
    * sim ≥ 0.8 answer set is nonempty and linear in the shard count —
    * the synthetic corpus itself has zero pairs at 0.8, and probing the
    * ANN ops at their gate threshold 0.3 would measure an inherently
    * quadratic answer set (~0.8% of ALL random dim-64 pairs clear 0.3),
    * not the operator. */
  private def embReplica(emb: DataFrame, i: Int, dim: Int): DataFrame = {
    val shift = i % dim
    val shifted =
      (if (shift == 0) col("embedding")
       else expr(s"concat(slice(embedding, ${shift + 1}, ${dim - shift}), " +
         s"slice(embedding, 1, $shift))")).cast("array<double>")
    val base = emb
      .select((col("vec_id") + lit(i * IdStride)).as("vec_id"),
        shifted.as("sgn_in"))
      .select(col("vec_id"),
        (if (i == 0) col("sgn_in") // replica 0 IS the original corpus
         else expr(s"transform(sgn_in, (x, j) -> " +
           s"CASE WHEN pmod(hash($i, j), 2) = 0 THEN x ELSE -x END)")
           .cast("array<double>"))
          .as("embedding"))
    val dups = base.filter(col("vec_id") % 50 === 0) // IdStride % 50 == 0
      .select((col("vec_id") + lit(IdStride / 2)).as("vec_id"),
        expr("transform(embedding, (x, j) -> x + 0.03d * sin(cast(vec_id * 37 + j as double)))")
          .as("embedding"))
    base.unionAll(dups)
  }

  /** Growing-vocabulary document corpus for the prefix-jaccard probes —
    * the prefix path's DESIGN regime (real text: vocabulary grows with
    * the corpus; the sf0.1 synthetic documents are the opposite,
    * degenerate regime — 931 shingles over 5 000 docs — where
    * [[graft.operators.Dedup.jaccardPairs]] deliberately routes to
    * bitmaps instead). Fully distributed and deterministic (Murmur3 via
    * `hash()`, no driver-side row building), so it scales to the 100×
    * probe (500k docs) and gives CI-stable candidate counts: doc i =
    * 30 tokens `w<hash(i,j) mod 8n>`; every 10th doc gets a planted
    * near-dup (token 5 replaced → 2-shingle jaccard ≈ 0.87 ≥ 0.8) under
    * id + 10^9. */
  def prefixCorpus(spark: SparkSession, n: Long): DataFrame = {
    val vocab = n * 8
    def sentence(changed: Boolean) = {
      val tok = s"concat('w', pmod(hash(id, j), ${vocab}L))"
      val body = if (changed) s"CASE WHEN j = 5 THEN 'CHANGED' ELSE $tok END" else tok
      expr(s"array_join(transform(sequence(0, 29), j -> $body), ' ')").as("text")
    }
    val base = spark.range(n).select(col("id").as("doc_id"), sentence(changed = false))
    val dups = spark.range(0, n, 10)
      .select((col("id") + 1000000000L).as("doc_id"), sentence(changed = true))
    base.unionAll(dups)
  }

  /** Title corpus for the edit-distance probes: 4 hex-md5 tokens per
    * title (27 chars, high-entropy alphabet — the operator's design
    * regime; digit-soup strings are its documented degenerate regime,
    * like low-vocab shingles for the prefix-jaccard path), every 10th
    * title planted a distance-1 variant (first char swapped) under
    * id + 10^9. Fully distributed and deterministic (md5 of the id), so
    * pair counts are CI-stable: answer ≈ n/10, linear in the corpus. */
  def editCorpus(spark: SparkSession, n: Long): DataFrame = {
    val title = "array_join(transform(sequence(0, 3), " +
      "j -> substring(md5(concat(cast(id as string), ':', cast(j as string))), 1, 6)), ' ')"
    val base = spark.range(n).select(col("id"), expr(title).as("t"))
    val dups = spark.range(0, n, 10)
      .select((col("id") + 1000000000L).as("id"),
        expr(s"concat('x', substring($title, 2))").as("t"))
    base.unionAll(dups)
  }

  /** Replica i of the sub-document probe corpus (round 7: span removal,
    * paragraph keep-first, BPE): n documents of 12 unique 6-char md5
    * filler tokens, a shared boilerplate SENTENCE appended inside the
    * first paragraph on every 4th doc, and a shared second PARAGRAPH on
    * every 3rd doc. Every token carries the fixed-width `_q<ii>` salt of
    * `saltI`, so replicas are WINDOW-ISOMORPHIC: the underlying chars are
    * identical across replicas and only the salt digit varies, hence two
    * character windows match within replica i iff their counterparts
    * match within replica 0 (digit substitution is invertible on whole
    * windows) — per-replica span/paragraph answers are EXACTLY replica
    * 0's. Cross-replica, every 20-char window contains at least one
    * varying salt digit (max token period 16 chars < 21), so replicas are
    * fully decoupled and K-replica answers are exactly K x the 1x answer
    * — the deterministic scale signal. `offsetI` keys the id offset
    * separately so exact-copy replication (BPE's scale-invariance probe)
    * can reuse the builder with saltI fixed. Fully distributed (expr over
    * spark.range — no driver rows). */
  def subdocReplica(spark: SparkSession, n: Long, saltI: Int,
                    offsetI: Int): DataFrame = {
    val sfx = f"_q$saltI%02d"
    def sent(s: String) = s.split(" ").map(_ + sfx).mkString(" ")
    val filler = "array_join(transform(sequence(0, 11), " +
      "j -> concat(substring(md5(concat('f:', cast(id as string), ':', " +
      s"cast(j as string))), 1, 6), '$sfx')), ' ')"
    val shared1 =
      sent("the shared boilerplate sentence repeated verbatim across documents")
    val shared2 = sent("subscribe to our newsletter for updates and offers")
    spark.range(n).select(
      (col("id") + lit(offsetI * IdStride)).as("doc_id"),
      expr(s"concat($filler, " +
        s"CASE WHEN id % 4 = 0 THEN concat(' ', '$shared1') ELSE '' END, " +
        s"CASE WHEN id % 3 = 0 THEN concat('\\n\\n', '$shared2') ELSE '' END)")
        .as("text"))
  }

  /** K decoupled (salted) replicas of the sub-document corpus. */
  def subdocCorpus(spark: SparkSession, n: Long, k: Int): DataFrame =
    (0 until k).map(i => subdocReplica(spark, n, i, i)).reduce(_ unionAll _)

  /** Decoupled replica corpus for the WINNOW probes — the overlap
    * detector's EXACTNESS regime needs two properties the other
    * generators don't give at character-gram granularity:
    *
    *  1. NO 8-gram shared across replicas. The word-suffix salt of
    *     [[docReplica]]/[[subdocReplica]] fails this: 8-grams fit
    *     wholly inside long word bodies, which are replica-invariant.
    *     Here text is 6-hex-char chunks each followed by a 2-digit
    *     replica salt (period 8): every 8-gram contains at least one
    *     salt character, so cross-replica grams never match.
    *  2. NO chance shared fingerprints within a replica. Every 8-gram
    *     contains exactly SIX doc-unique md5 hex chars (the period-8
    *     phase arithmetic), so a cross-doc gram collision is p = 16⁻⁶
    *     per aligned position pair — zero expected ≥ minShared pairs
    *     even at the 100× tier, where 3-char salted WORDS (the first
    *     cut of this generator) produced boundary pairs that flipped
    *     the exact-K-linearity signal.
    *
    * Doc = 25 chunks (200 chars) of md5(id, ·) — identical per id
    * across replicas, decoupled by the salt. Every 50th doc appends a
    * shared 20-chunk run (160 chars): within a replica the run is
    * byte-identical across group members, so interior window
    * selections coincide — every group pair shares ~40 fps in every
    * replica (hash-independent, since the shared CONTENT is identical;
    * which fps get selected varies per replica, how many ≥ the
    * winnowing floor never does) — while across replicas the salt
    * decouples it. Pair count per replica = C(n/50, 2) exactly. */
  def winnowReplica(spark: SparkSession, n: Long, saltI: Int,
                    offsetI: Int): DataFrame = {
    val s2 = f"${saltI % 100}%02d"
    val filler = "array_join(transform(sequence(0, 24), " +
      "j -> concat(substring(md5(concat('w:', cast(id as string), ':', " +
      s"cast(floor(j / 5) as string))), (j % 5) * 6 + 1, 6), '$s2')), '')"
    val shared = "array_join(transform(sequence(0, 19), " +
      "j -> concat(substring(md5(concat('shared:', " +
      s"cast(floor(j / 5) as string))), (j % 5) * 6 + 1, 6), '$s2')), '')"
    spark.range(n).select(
      (col("id") + lit(offsetI * IdStride)).as("doc_id"),
      expr(s"concat($filler, " +
        s"CASE WHEN id % 50 = 0 THEN $shared ELSE '' END)")
        .as("text"))
  }

  /** K decoupled replicas of the winnow corpus. */
  def winnowCorpus(spark: SparkSession, n: Long, k: Int): DataFrame =
    (0 until k).map(i => winnowReplica(spark, n, i, i)).reduce(_ unionAll _)

  /** Embedding corpus with ONE planted mega-cell (round-10 hot-cell
    * tier): even ids form a tight direction cluster around the all-ones
    * vector — one k-means cell swallows half the corpus — with noise
    * sized so pairwise cosines sit ~0.68, BELOW the 0.8 tau. That is the
    * adversarial shape for the gathered per-cell pass: a cell of
    * almost-duplicates where the exists() scan cannot short-circuit (in
    * an all-dups cell every member finds a preceding neighbor in O(1);
    * here most members scan the whole group), so the whole-cell gather
    * pays its full n²·dim in ONE task. Odd ids are isotropic. Fully
    * distributed and hash-deterministic (uniform coordinates from md5
    * slices — direction isotropy is all the cell geometry needs). */
  def hotCellCorpus(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    val noise = s"transform(sequence(0, ${dim - 1}), j -> " +
      "(cast(conv(substring(md5(concat('h:', cast(id as string), ':', " +
      "cast(j as string))), 1, 6), 16, 10) as double) / 8388608.0) - 1.0)"
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"CASE WHEN id % 2 = 0 THEN transform($noise, x -> 1.0 + 1.2 * x) " +
        s"ELSE $noise END").as("embedding"))
  }

  /** Decoupled replica of the REALISTIC-ENTROPY sub-document corpus
    * (round-10, VERDICT r9 next #5): every bench/probe fixture for the
    * token-indexed detectors is either the low-entropy sf corpus (tiny
    * vocabulary — nearly every 20-gram repeats, the adversarial regime)
    * or the 25–33% dup-fraction subdoc corpus. This one is the
    * PRODUCTION shape: 60 md5-unique tokens per document (vocabulary ∝
    * corpus, zero cross-document grams from the filler) with a 2% dup
    * fraction — every 50th document appends one shared 20-token passage.
    * The span/winnow cost constants measured here are what a user sees
    * on real web text; the adversarial constants stay recorded next to
    * them (the [[subdocReplica]] corpus / the sf0.1 bench). Same
    * salt/offset decoupling discipline as [[subdocReplica]]. */
  def entropyReplica(spark: SparkSession, n: Long, saltI: Int,
                     offsetI: Int, dupEvery: Int = 50): DataFrame = {
    // the replica salt lives in the md5 SEED, not as a literal suffix:
    // a literal suffix hands every boundary-crossing 8-gram a shared
    // low-entropy core (grams containing only the suffix + 3 hex chars
    // collide in a 16^3 space, and grams missing the salt digits leak
    // across replicas — measured 84x pair inflation before this fix);
    // seeded 10-hex-char tokens keep every gram in a >= 16^7 space and
    // make replicas fully gram-disjoint.
    // `dupEvery` sets the planted passage's document frequency
    // (df = n / dupEvery per replica): the default 50 is the r10 2%-dup
    // regime; the winnow AUTO-cap tiers (round-11) pass a value putting
    // df UNDER the cap's df floor, because a cluster past the floor is
    // — by the cap's own design — excised as boilerplate.
    val filler = "array_join(transform(sequence(0, 59), " +
      s"j -> substring(md5(concat('t:$saltI:', cast(id as string), ':', " +
      "cast(j as string))), 1, 10)), ' ')"
    val passage = "array_join(transform(sequence(0, 19), " +
      s"j -> substring(md5(concat('p:$saltI:', cast(j as string))), 1, 10)), ' ')"
    spark.range(n).select(
      (col("id") + lit(offsetI * IdStride)).as("doc_id"),
      expr(s"concat($filler, " +
        s"CASE WHEN id % $dupEvery = 0 THEN concat(' ', $passage) ELSE '' END)")
        .as("text"))
  }

  /** K decoupled replicas of the realistic-entropy corpus. */
  def entropyCorpus(spark: SparkSession, n: Long, k: Int,
                    dupEvery: Int = 50): DataFrame =
    (0 until k).map(i => entropyReplica(spark, n, i, i, dupEvery))
      .reduce(_ unionAll _)

  /** Build the K-shard corpus under `dst` and read it back. */
  def shardedCorpus(spark: SparkSession, src: String, dst: String, k: Int,
                    dim: Int = 64): (DataFrame, DataFrame) = {
    val docs0 = Tables(spark, src, "documents")
    val emb0 = Tables(spark, src, "embeddings")
    (0 until k).map(docReplica(docs0, _)).reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    (0 until k).map(embReplica(emb0, _, dim)).reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    (spark.read.parquet(s"$dst/documents.parquet"),
      spark.read.parquet(s"$dst/embeddings.parquet"))
  }
}
