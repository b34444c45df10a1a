package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Storage.materializeOnce
import graft.Tables
import graft.catalog.Layout
import graft.functions.cosineSim
import graft.operators.Similarity

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`) — SURVEY.md §2.B north-star extensions.
  *
  * The oracle-checked queries are the exact brute-force formulations; the
  * cosine math runs in the codegen'd graft expressions (sequential double
  * fold — see graft.functions.VectorExpressions), and the DuckDB oracles
  * spell out the identical fold so results are bit-exact across engines.
  * The approximate scale path (random-hyperplane LSH bucketing,
  * graft.operators.Similarity) ships as a rows-only query plus a measured
  * recall gate: at 100 TB the brute-force pairwise join is infeasible and
  * LSH bounds the candidate set per bucket.
  */
object Embeddings extends QueryPack {

  val queries: Map[String, QFn] = Map(
    // -- Q23: brute-force cosine top-k against one query vector. The
    //    1-row query side is broadcast — no shuffle of the big side; top-k
    //    is TakeOrderedAndProject (per-partition heaps, driver merges k).
    "q23_cosine_topk" -> ((s, dir) =>
      queryCosines(Tables(s, dir, "embeddings"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)),

    // -- embedding-cosine near-dup pairs above a threshold. Brute-force
    //    O(n²) pair join is the exactness baseline; the LSH query below is
    //    the same semantics at scale (candidates only). Norms are computed
    //    once per row *below* the join (Catalyst keeps the projection on
    //    each join input), so the per-pair work is one codegen'd dot plus
    //    two multiplies; the double prefilter keeps BigDecimal allocation
    //    off the 99.9% of pairs that cannot reach the threshold (0.2999 is
    //    strictly below any double that rounds to >= 0.3000 at 4 digits, so
    //    the decimal gate below stays the semantic filter).
    "dedup_embedding_cosine" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          graft.functions.l2NormSq(col("embedding")).as("nsq"))
      // spread the nested-loop stream side across all cores (the parquet
      // scan of a small table is a single partition otherwise)
      val a = emb.toDF("id_a", "emb_a", "nsq_a")
        .repartition(s.sparkContext.defaultParallelism)
      val b = emb.toDF("id_b", "emb_b", "nsq_b")
      // evaluation-order control: Catalyst fuses every pushable conjunct
      // into the pair-join predicate ordered by push origin, which put
      // the dot product BEFORE the id compare — evaluated for all n²
      // ordered pairs. The evalBarrier filter cannot be pushed, so the
      // join condition stays the bare id compare (halves the pairs), the
      // projection computes the dot product ONCE per surviving pair, and
      // the threshold tests run above it.
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (graft.functions.dotProduct(col("emb_a"), col("emb_b")) /
            (sqrt(col("nsq_a")) * sqrt(col("nsq_b")))).as("sim_d"))
        .filter(graft.functions.evalBarrier(col("sim_d") >= 0.2999))
        .select(col("id_a"), col("id_b"),
          col("sim_d").cast(DecimalType(9, 4)).as("sim_q"))
        .filter(col("sim_q") >= 0.3)
        // decimal filters the threshold exactly; double is the OUTPUT type
        // (representation-free across engines — see queryCosines)
        .select(col("id_a"), col("id_b"), col("sim_q").cast("double").as("sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // -- ANN via multi-band random-hyperplane LSH: banded bucket join +
    //    exact verify. r=4 planes/band × 24 bands → expected recall ≈ 0.96
    //    at sim 0.3 on isotropic data (see Similarity scaladoc).
    //    SELF-VERIFYING (round-4: was rows-only): emits the contract that
    //    makes the approximation auditable —
    //      n_true    — exact brute-force pair count (DuckDB recomputes);
    //      subset_ok — every LSH pair is an exact pair (candidates are
    //                  verified with the identical cosine + decimal
    //                  semantics, so an except against brute-force must
    //                  come back empty);
    //      recall_ok — LSH found >= 90% of the true pairs;
    //      nonempty  — the bucketing produced pairs at all.
    "sim_ann_lsh" -> ((s, dir) =>
      subsetRecall(brutePairs(s, dir), Similarity.lshNearDupPairs(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, rowsPerBand = 4, bands = 24, seed = 42, simThreshold = 0.3)
        .select(col("id_a"), col("id_b")))),

    // -- int8 quantization round trip: per-vector scale, codes, and max
    //    reconstruction error — the 4× storage compression for a 100 TB
    //    embedding corpus, hash-checked end to end (scale and error are
    //    elementwise arithmetic + max: no fold-order sensitivity, and
    //    round() is half-away-from-zero in both engines).
    "emb_quantize_int8" -> ((s, dir) => {
      import graft.operators.Quantize
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale", Quantize.int8Scale(col("v")))
        .withColumn("codes", Quantize.quantizeInt8(col("v"), col("scale")))
        .withColumn("deq", Quantize.dequantizeInt8(col("codes"), col("scale")))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0), (a, c) => a + c.cast("int"))
            .cast("long").as("code_sum"),
          array_max(zip_with(col("v"), col("deq"), (a, b) => abs(a - b)))
            .cast(DecimalType(12, 8)).cast("double").as("max_err"))
        .orderBy(col("vec_id"))
    }),

    // -- dedup groups: connected components over the cosine near-dup
    //    pairs (min-member-id labeling — the canonical-document step of
    //    every dedup pipeline). Deterministic and SQL-expressible, so it
    //    is hash-checked against a DuckDB recursive CTE computing min
    //    reachable id over the identical pair set. Isolated vectors keep
    //    their own id via the left join + coalesce.
    "dedup_components" -> ((s, dir) =>
      labelAll(s, dir, graft.operators.Dedup.connectedComponents(
        brutePairs(s, dir), "id_a", "id_b"))),

    // -- the INCREMENTAL form (round-12): the identical cosine pair set
    //    folded into a STANDING component map in three deterministic
    //    batches (id_a % 3 — each fold merges across earlier batches, so
    //    the merge log is exercised, not just the first build), with a
    //    COMPACTION between folds (flattened chains must change nothing).
    //    The resolved labeling is hash-checked against the one-shot
    //    recursive-CTE oracle over the WHOLE pair set — per-batch work is
    //    batch-proportional, yet the final answer is exactly the batch
    //    operator's. [[graft.catalog.Layout.componentsIndexAppend]] /
    //    [[graft.catalog.Layout.componentsResolve]].
    "dedup_components_incr" -> ((s, dir) => {
      val table = "cmp_incr_gate"
      // the pair checkpoint is released once the folds are complete: the
      // result below reads only the standing tables
      graft.Storage.scoped { st =>
        val pairs = st.materialize(brutePairs(s, dir))
        Layout.dropComponentsIndex(s, table)
        def slice(i: Int) = pairs.filter(col("id_a") % 3 === i)
        Layout.componentsIndex(s, slice(0), "id_a", "id_b", buckets = 4,
          tableName = table)
        Layout.componentsIndexAppend(s, slice(1), "id_a", "id_b", buckets = 4,
          tableName = table, batchTag = Some("gate_b1"))
        Layout.componentsIndexCompact(s, buckets = 4, tableName = table)
        Layout.componentsIndexAppend(s, slice(2), "id_a", "id_b", buckets = 4,
          tableName = table, batchTag = Some("gate_b2"))
      }
      labelAll(s, dir, Layout.componentsResolve(s, table))
    }),

    // -- ANN via IVF: spherical-k-means cells + multi-probe assignment +
    //    exact verify. k=8 cells, 3 probes, 3 Lloyd iterations — measured
    //    recall 0.94–0.97 across seeds at sf0.01/sf0.1. Approximate
    //    (cell boundaries may split neighbors) → rows-only check; the
    //    recall gate below is the oracle-checked companion. On this
    //    isotropic synthetic data cells prune weakly (see Similarity
    //    scaladoc) — IVF is the scale path for *clustered* real corpora,
    //    and the unit suite demonstrates strong pruning on clustered data.
    //    SELF-VERIFYING (round-4: was rows-only): same contract shape as
    //    sim_ann_lsh — exact pair count anchored by DuckDB, subset via
    //    except, recall >= 0.9, nonempty.
    "sim_ann_ivf" -> ((s, dir) =>
      subsetRecall(brutePairs(s, dir), Similarity.ivfNearDupPairs(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, probes = 3, lloydIters = 3, seed = 42, simThreshold = 0.3)
        .select(col("id_a"), col("id_b")))),

    // -- IVF recall gate (oracle-checked), same contract as sim_ann_recall:
    //    ivf ⊆ brute-force (identical exact-verify semantics), so recall =
    //    n_found / n_true; the oracle recomputes n_true independently.
    "sim_ann_ivf_recall" -> ((s, dir) =>
      recall(queries("dedup_embedding_cosine")(s, dir), Similarity.ivfNearDupPairs(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, probes = 3, lloydIters = 3, seed = 42, simThreshold = 0.3))),

    // -- SemDeDup (Abbas et al. 2023): spherical-k-means clusters + exact
    //    within-cluster cosine, keep-first under the id order
    //    ([[graft.operators.Similarity.semDedup]]). SELF-VERIFYING, the
    //    sim_ann_ivf contract shape: under keepBy="id" a vector is removed
    //    iff a SAME-CELL neighbor at >= tau precedes it, so the clustered
    //    removal set is a provable subset of the global keep-min-id rule
    //    {b : ∃ a < b, cos(a,b) >= tau} — whose size DuckDB recomputes
    //    exactly from the raw embeddings (distinct id_b of the brute pair
    //    set). Gates: anchor n_true, subset via except, vertex recall
    //    >= 0.9 (2-probe boundary replication recovers cell-split
    //    neighborhoods), nonempty.
    "dedup_semdedup" -> ((s, dir) => semDedupContract(s, dir, chunks = 1)),

    // -- the chunk-pair gather (round-10 hot-cell mitigation): identical
    //    contract, computed with cell members hash-split into 3 chunks
    //    and gathered per chunk PAIR — a mega-cell becomes chunks²
    //    bounded tasks instead of one n² task. Spec-asserted
    //    answer-identical to the whole-cell gather (SemDedupSpec); this
    //    row pins the subset/recall contract against DuckDB's exact
    //    global rule.
    "dedup_semdedup_chunked" -> ((s, dir) => semDedupContract(s, dir, chunks = 3)),

    // -- incremental SemDeDup (round-9: the daily-batch form every other
    //    dedup family has): the vec_id % 10 == 0 batch deduped against
    //    the cell-partitioned layout of the % 10 != 0 corpus
    //    (Layout.ivfPartitionOf, centroids pinned), corpus-before-batch
    //    precedence, keep-first by id within the batch. CONTRACT ARM
    //    (sim_ann_ivf_incr shape): DuckDB recomputes the GLOBAL rule's
    //    batch-removal count — a batch vector is removed iff some corpus
    //    vector or some smaller batch id is a decimal-cosine >= 0.3
    //    neighbor — and the booleans assert clustered ⊆ global plus
    //    >= 0.9 recall. [[graft.operators.Similarity.semDedupAgainst]].
    "dedup_semdedup_incr" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding",
        k = 8, lloydIters = 2, seed = 42)
      val table = "emb_semdedup_incr_gate"
      Layout.dropTable(s, table)
      Layout.ivfPartitionOf(s, corpus, "embedding", cents, table)
      // probes = 5 of 8: recall measured 0.93-1.0 across sf tiers at the
      // gate's isotropic tau = 0.3 (the weak-pruning regime — a corpus
      // twin is caught iff its top-1 cell is among the batch vector's
      // probes; 3 of 8 measured 0.87, under the 0.9 contract)
      val removed = Similarity.semDedupAgainst(batch, s.table(table),
          "vec_id", "embedding", cents, probes = 5, tau = 0.3)
        .filter(!col("kept")).select(col("id"))
      // exact global-rule arm, same sequential-fold + decimal semantics
      val globalRemoved = batch
        .select(col("vec_id").as("b_id"), col("embedding").as("emb_a"))
        .crossJoin(emb.select(col("vec_id").as("a_id"),
          col("embedding").as("emb_b")))
        .filter(col("a_id") % 10 =!= 0 || col("a_id") < col("b_id"))
        .filter(cosineSim(col("emb_a"), col("emb_b"))
          .cast(DecimalType(9, 4)) >= 0.3)
        .select(col("b_id").as("id")).distinct()
      subsetRecall(globalRemoved, removed)
    }),

    // -- IVF top-k search for one query vector (vec 0): probe the 3
    //    nearest of 8 cells with 2-way corpus assignment (IVF replication
    //    — boundary neighbors are indexed under both nearby cells), rank
    //    candidates only. SELF-VERIFYING (round-4: was rows-only):
    //      n_corpus      — corpus size, recomputed by DuckDB (anchors the
    //                      row to the real input);
    //      n_results_ok  — 5 <= |results| <= k: NOT pinned to exactly k,
    //                      because probing nprobe of k cells can
    //                      legitimately return fewer than k candidates on
    //                      a small/clustered corpus (>= 5 is what the
    //                      overlap gate needs to be meaningful);
    //      overlap_ok    — >= 5 of the IVF top-10 are in the exact top-10
    //                      (measured 8-10 across scales and seeds);
    //      sims_exact_ok — every returned (vec_id, sim) carries the true
    //                      cosine (ranking is approximate, the reported
    //                      similarity is not), asserted against the
    //                      brute-force computation for those ids.
    "sim_ann_ivf_topk" -> ((s, dir) =>
      topkContract(s, dir, ivfTop10(Tables(s, dir, "embeddings")))),

    // -- IVF top-k overlap gate: |ivf_top10 ∩ brute_top10| >= 5. Measured
    //    8-10 with 2-way assignment across sf0.001/sf0.01/sf0.1 and seeds
    //    (deterministic per dataset: seeded farthest-point init + fixed
    //    Lloyd count); the clustered-data unit test shows exact agreement.
    //    Emits the contract, oracle asserts TRUE. (Round 4: builds the
    //    top-k itself — sim_ann_ivf_topk now returns its own contract row,
    //    not the ranked ids.)
    "sim_ann_ivf_topk_check" -> ((s, dir) => {
      val ivf = ivfTop10(Tables(s, dir, "embeddings")).select(col("vec_id"))
      val brute = queries("q23_cosine_topk")(s, dir).select(col("vec_id"))
      ivf.intersect(brute).agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), (col("n_overlap") >= 5).as("overlap_ok"))
    }),

    // -- INCREMENTAL embedding dedup, SELF-VERIFYING: a batch of exact
    //    twins (vec_id % 10 == 0, copied under +10^6 ids) deduped against
    //    the cell-partitioned corpus layout (Layout.ivfPartition →
    //    Similarity.ivfNearDupsAgainstLayout; the plan-level pruning
    //    evidence is LayoutSpec). Contract columns:
    //      n_exact_high  — exact count of CROSS (batch×corpus) pairs with
    //                      decimal cosine >= 0.8, Spark's brute arm,
    //                      recomputed independently by DuckDB (twins score
    //                      1.0, so this is >= |batch|);
    //      twins_covered — every (v+10^6, v) twin pair is emitted:
    //                      deterministic at any probes >= 1, because an
    //                      identical vector gets an identical cell
    //                      assignment;
    //      subset_ok     — emitted ⊆ the exact cross set (precision 1.0,
    //                      the verify is the exact cosine);
    //      nonempty.
    "sim_ann_ivf_incr" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        k = 8, lloydIters = 2, seed = 42)
      val table = "emb_ivf_incr_gate"
      Layout.dropTable(s, table)
      Layout.ivfPartition(s, dir, cents, table)
      val batch = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val got = Similarity.ivfNearDupsAgainstLayout(batch, s.table(table),
          "vec_id", "embedding", cents, probes = 2, simThreshold = 0.8)
        .select(col("batch_id"), col("corpus_id"))
      val twins = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("batch_id"),
          col("vec_id").as("corpus_id"))
      // exact cross arm, same sequential-fold + decimal semantics
      val exact = materializeOnce(batch.toDF("batch_id", "emb_a")
        .crossJoin(emb.select(col("vec_id").as("corpus_id"),
          col("embedding").as("emb_b")))
        .filter(cosineSim(col("emb_a"), col("emb_b"))
          .cast(DecimalType(9, 4)) >= 0.8)
        .select(col("batch_id"), col("corpus_id")))
      exact.agg(count(lit(1)).as("n_exact_high"))
        .crossJoin(twins.except(got).agg(count(lit(1)).as("n_twin_missed")))
        .crossJoin(got.except(exact).agg(count(lit(1)).as("n_false")))
        .crossJoin(got.agg(count(lit(1)).as("n_found")))
        .select(col("n_exact_high"),
          (col("n_twin_missed") === 0).as("twins_covered"),
          (col("n_false") === 0).as("subset_ok"),
          (col("n_found") > 0).as("nonempty"))
    }),

    // -- LSH recall gate (oracle-checked): because LSH candidates are
    //    verified with the exact cosine + identical decimal semantics,
    //    lsh ⊆ brute-force; recall = |lsh| / |brute|. The DuckDB oracle
    //    computes |brute| independently and asserts the >= 0.9 recall
    //    contract — a recall regression (e.g. round 1's single-band 2%)
    //    becomes a red correctness row, not a silent rows-only pass.
    "sim_ann_recall" -> ((s, dir) =>
      recall(queries("dedup_embedding_cosine")(s, dir), Similarity.lshNearDupPairs(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, rowsPerBand = 4, bands = 24, seed = 42, simThreshold = 0.3))),

    // -- PQ compressed-domain search: codes are m=8 ints per vector (the
    //    32×-class tier; codes ride the scan, embeddings stay cold), the
    //    query ranks the corpus by the codegen'd ADC table lookup, and the
    //    shortlist is re-ranked by the EXACT q23 cosine. With the true
    //    top-10 inside the 192-row shortlist the answer is IDENTICAL to
    //    the brute-force scan — so the oracle is q23's brute SQL verbatim,
    //    and a recall regression (codebook drift, ADC bug, shortlist too
    //    small) is a red hash row, not a silent rows-only pass.
    "sim_ann_pq" -> ((s, dir) => {
      import graft.operators.Quantize
      val emb = Tables(s, dir, "embeddings")
      val books = Quantize.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, lloydIters = 2, seed = 42)
      Quantize.pqTopKForVector(emb, "vec_id", "embedding", queryVec(emb), k = 10,
        books, shortlist = 192)
    }),

    // -- IVF × PQ composite (IVFADC): coarse cells prune the scan, ADC
    //    ranks only the probed cells' codes, exact re-rank touches
    //    embeddings for the shortlist. Two approximation layers, so the
    //    contract is the overlap gate (>= 5 of the brute top-10, measured
    //    8-10 here) plus the re-rank exactness booleans: every emitted
    //    sim must equal the exact decimal cosine, and results must come
    //    from the probed cells only (subset of the IVF candidate set).
    "sim_ann_ivfpq" -> ((s, dir) => {
      import graft.operators.Quantize
      val emb = Tables(s, dir, "embeddings")
      val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        k = 8, lloydIters = 3, seed = 42)
      val books = Quantize.trainPqCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, lloydIters = 2, seed = 42)
      topkContract(s, dir, Quantize.ivfPqTopKForVector(emb, "vec_id", "embedding",
        queryVec(emb), k = 10, cents, nprobe = 4, books, shortlist = 192))
    })
  )

  /** Each vector's exact cosine to vec_id 0 as (vec_id, sim): the 1-row
    * query side is broadcast, no shuffle of the big side. DECIMAL(9,4)
    * quantization, not round(double): double rounding differs by 1 ulp
    * across engines; the decimal cast is exact on both. The FINAL type is
    * double (decimal(9,4)→double is exact everywhere): Spark-parquet and
    * DuckDB decimals hash differently in the driver's canonicalization
    * even when equal as values. */
  private def queryCosines(emb: DataFrame): DataFrame = {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.crossJoin(broadcast(q))
      .select(col("vec_id"), cosineSim(col("embedding"), col("qv"))
        .cast(DecimalType(9, 4)).cast("double").as("sim"))
  }

  /** vec_id 0's embedding, the query vector of every top-k gate. */
  private def queryVec(emb: DataFrame): Seq[Double] =
    emb.filter(col("vec_id") === 0).select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0).toSeq

  /** The IVF top-10 of the sim_ann_ivf_topk gates: 3 of 8 cells probed,
    * 2-way corpus assignment. */
  private def ivfTop10(emb: DataFrame): DataFrame =
    Similarity.topKForVectorIvf(emb, "vec_id", "embedding", queryVec(emb), k = 10,
      Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        k = 8, lloydIters = 3, seed = 42),
      nprobe = 3, assignReplicas = 2)

  /** The contract row of an approximate (vec_id, sim) top-10 against
    * vec_id 0 (see sim_ann_ivf_topk): corpus size, 5 <= |topk| <= 10,
    * >= 5 of q23's exact top-10, and every emitted sim exact. */
  private def topkContract(s: SparkSession, dir: String, topk: DataFrame): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val exact = queryCosines(emb).withColumnRenamed("sim", "sim_x")
    val brute10 = queries("q23_cosine_topk")(s, dir).select(col("vec_id"))
    emb.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(topk.agg(count(lit(1)).as("n_results")))
      .crossJoin(topk.select(col("vec_id")).intersect(brute10)
        .agg(count(lit(1)).as("n_overlap")))
      .crossJoin(topk.join(exact, "vec_id")
        .filter(col("sim") =!= col("sim_x")).agg(count(lit(1)).as("n_sim_bad")))
      .select(col("n_corpus"),
        (col("n_results") >= 5 && col("n_results") <= 10).as("n_results_ok"),
        (col("n_overlap") >= 5).as("overlap_ok"),
        (col("n_sim_bad") === 0).as("sims_exact_ok"))
  }

  /** Every vector's (vec_id, component) under the (id, component)
    * labeling `comps`; an isolated vector keeps its own id. */
  private def labelAll(s: SparkSession, dir: String, comps: DataFrame): DataFrame =
    Tables(s, dir, "embeddings").select(col("vec_id"))
      .join(comps, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .orderBy(col("vec_id"))

  /** The (id_a, id_b) pairs of the exact dedup_embedding_cosine query. */
  private def brutePairs(s: SparkSession, dir: String): DataFrame =
    queries("dedup_embedding_cosine")(s, dir).select(col("id_a"), col("id_b"))

  /** The self-verifying contract row of an approximate operator whose
    * `found` rows must be a subset of the exact `truth` rows: n_true
    * (DuckDB recomputes it), subset_ok (found except truth is empty),
    * recall_ok (|found| >= 0.9·|truth|) and nonempty. Both sides feed two
    * arms each (count + except), so each is materialized once via
    * localCheckpoint — ContextCleaner-managed, released when the frames
    * are GC'd, unlike persist whose CacheManager entries outlive the call
    * until clearCache(). */
  private def subsetRecall(truth: DataFrame, found: DataFrame): DataFrame = {
    val t = materializeOnce(truth)
    val f = materializeOnce(found)
    t.agg(count(lit(1)).as("n_true"))
      .crossJoin(f.except(t).agg(count(lit(1)).as("n_extra")))
      .crossJoin(f.agg(count(lit(1)).as("n_found")))
      .select(col("n_true"),
        (col("n_extra") === 0).as("subset_ok"),
        (col("n_found") >= col("n_true") * 0.9).as("recall_ok"),
        (col("n_found") > 0).as("nonempty"))
  }

  /** The recall gate row: n_true = |truth| (DuckDB recomputes it) and
    * recall_ok = |found| >= 0.9·|truth|, for an operator whose output is
    * a subset of the truth by construction. */
  private def recall(truth: DataFrame, found: DataFrame): DataFrame =
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .select(col("n_true"),
        (col("n_found") >= col("n_true") * 0.9).as("recall_ok"))

  /** The dedup_semdedup contract row for [[Similarity.semDedup]] at
    * `chunks`: the global keep-min-id anchor n_true and the subset,
    * recall and nonempty gates (see the dedup_semdedup query). */
  private def semDedupContract(s: SparkSession, dir: String,
                               chunks: Int): DataFrame =
    subsetRecall(queries("dedup_embedding_cosine")(s, dir).select(col("id_b")).distinct(),
      Similarity.semDedup(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, probes = 3, lloydIters = 3, seed = 42, tau = 0.3, chunks = chunks)
        .filter(!col("kept")).select(col("id").as("id_b")))

  /** Brute-force cosine top-10 against vec_id 0 — q23's oracle, and (by
    * the exact-re-rank contract) sim_ann_pq's too. */
  private val bruteTopkSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
      |  FROM embeddings),
      |q AS (SELECT v, nsq FROM e WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  CAST(CAST(list_reduce(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * q.v[i]), (x, y) -> x + y)
      |       / (sqrt(e.nsq) * sqrt(q.nsq)) AS DECIMAL(9,4)) AS DOUBLE) AS sim
      |FROM e, q
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** Global keep-min-id removal count recomputed exactly: a vector is
    * removed under the unclustered rule iff SOME lower id is an exact
    * >= 0.3 neighbor (decimal-gated like dedup_embedding_cosine). */
  private val semDedupGlobalSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
      |  FROM embeddings)
      |SELECT count(DISTINCT b.vec_id) AS n_true, TRUE AS subset_ok,
      |  TRUE AS recall_ok, TRUE AS nonempty
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |       / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) >= 0.3""".stripMargin

  /** The exact pair count behind the sim_ann_lsh / sim_ann_ivf
    * contracts, with their subset, recall and nonempty gates asserted. */
  private val annPairsSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
      |  FROM embeddings)
      |SELECT count(*) AS n_true, TRUE AS subset_ok, TRUE AS recall_ok,
      |  TRUE AS nonempty
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |       / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) >= 0.3""".stripMargin

  /** The exact pair count behind the LSH and IVF recall gates. */
  private val annRecallSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
      |  FROM embeddings)
      |SELECT count(*) AS n_true, TRUE AS recall_ok
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |       / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) >= 0.3""".stripMargin

  /** Min-reachable-id labeling over the >= 0.3 cosine pairs (recursive
    * CTE); batching the fold must not change it, so dedup_components and
    * dedup_components_incr share it. */
  private val componentsSql: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
      |  WHERE CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |         / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) >= 0.3),
      |ed AS (SELECT id_a AS src, id_b AS dst FROM p
      |       UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM ed
      |  UNION
      |  SELECT ed.src, reach.r FROM ed JOIN reach ON ed.dst = reach.id)
      |SELECT emb.vec_id,
      |  COALESCE(c.component, emb.vec_id) AS component
      |FROM embeddings emb
      |LEFT JOIN (SELECT id, MIN(r) AS component FROM reach GROUP BY id) c
      |  ON emb.vec_id = c.id
      |ORDER BY emb.vec_id""".stripMargin

  // Oracle note: round 1 used DuckDB's list_cosine_similarity, whose internal
  // accumulation is NOT the sequential double fold Spark performs → 1-ulp
  // differences at DECIMAL(9,4) rounding boundaries (hash_match=false). The
  // oracles below spell out the *identical* computation — sequential
  // left-fold dot and norms via list_reduce, then dot/(sqrt(na)*sqrt(nb)) —
  // so both engines produce bit-identical doubles before the decimal cast.
  val oracles: Map[String, String] = Map(
    "q23_cosine_topk" -> bruteTopkSql,

    // PQ search result contract: with the true top-10 inside the ADC
    // shortlist, the re-ranked answer IS the brute-force answer — one
    // oracle, two plans (the q43↔q45, decontaminate↔bloom pattern)
    "sim_ann_pq" -> bruteTopkSql,

    "dedup_embedding_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |       / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) AS DOUBLE) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |       / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "sim_ann_ivf_topk_check" ->
      "SELECT CAST(10 AS BIGINT) AS k, TRUE AS overlap_ok",

    // composite contract: corpus size recomputed independently, gate
    // booleans asserted TRUE (overlap vs brute top-10, exact re-rank sims)
    "sim_ann_ivfpq" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus, TRUE AS n_results_ok,
        |  TRUE AS overlap_ok, TRUE AS sims_exact_ok
        |FROM embeddings""".stripMargin,

    // Self-verifying contract (see the query): DuckDB independently
    // recomputes the exact count of CROSS (batch×corpus) pairs at decimal
    // cosine >= 0.8 — the batch is the vec_id % 10 = 0 vectors themselves
    // (copied under offset ids on the Spark side, same payloads) — and
    // asserts the coverage/subset/nonempty booleans.
    "sim_ann_ivf_incr" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
        |  FROM embeddings)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_high,
        |  TRUE AS twins_covered, TRUE AS subset_ok, TRUE AS nonempty
        |FROM e a, e b
        |WHERE a.vec_id % 10 = 0
        |  AND CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |       / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) >= 0.8""".stripMargin,

    // Self-verifying ANN contracts (see the queries): DuckDB recomputes the
    // exact anchor (brute-force pair count / result-set size) and asserts
    // the subset/recall/exact-sim booleans computed Spark-side.
    "sim_ann_lsh" -> annPairsSql,
    "sim_ann_ivf" -> annPairsSql,

    "sim_ann_ivf_topk" ->
      """SELECT count(*) AS n_corpus, TRUE AS n_results_ok,
        |  TRUE AS overlap_ok, TRUE AS sims_exact_ok
        |FROM embeddings""".stripMargin,

    // the incremental global rule recomputed exactly: a batch
    // (vec_id % 10 = 0) vector is removed iff SOME corpus vector or some
    // smaller batch id is a decimal-cosine >= 0.3 neighbor — corpus
    // precedes batch, keep-first by id within the batch
    "dedup_semdedup_incr" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b) AS nsq
        |  FROM embeddings)
        |SELECT count(DISTINCT b.vec_id) AS n_true, TRUE AS subset_ok,
        |  TRUE AS recall_ok, TRUE AS nonempty
        |FROM e b JOIN e a
        |  ON b.vec_id % 10 = 0 AND (a.vec_id % 10 <> 0 OR a.vec_id < b.vec_id)
        |WHERE CAST(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
        |       / (sqrt(a.nsq) * sqrt(b.nsq)) AS DECIMAL(9,4)) >= 0.3""".stripMargin,

    "dedup_semdedup" -> semDedupGlobalSql,

    // the chunk-pair gather changes nothing about the relational rule
    "dedup_semdedup_chunked" -> semDedupGlobalSql,

    "emb_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CAST(round(x / scale) AS TINYINT)) AS codes
        |  FROM s)
        |SELECT vec_id,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  CAST(CAST(list_max(list_transform(range(1, len(v) + 1),
        |      i -> abs(v[i] - CAST(codes[i] AS DOUBLE) * scale))) AS DECIMAL(12,8)) AS DOUBLE) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "dedup_components" -> componentsSql,
    "dedup_components_incr" -> componentsSql,

    "sim_ann_ivf_recall" -> annRecallSql,
    "sim_ann_recall" -> annRecallSql
  )
}
