package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Storage
import graft.functions.{cosineSim, dotProduct, hyperplaneBits, ivfAssign, l2NormSq}

/** Approximate similarity search — the 100 TB path for embedding
  * near-neighbor work (SURVEY.md §2.B north-star extensions).
  *
  * Random-hyperplane LSH with MULTI-BAND candidate union (round 1 shipped a
  * single 8-plane band ≈ 2% recall at sim 0.3 — VERDICT.md "what's wrong"
  * #4). Collision probability per plane is 1 - θ/π; a band of r planes
  * collides with p^r, and b bands give recall 1 - (1 - p^r)^b. Candidates
  * are verified with the exact codegen'd cosine, so precision is always
  * 1.0 and recall is the only approximation.
  *
  * Parameter guidance: pruning is strong for genuinely-near duplicates
  * (sim >= 0.8: r=8..12 bands prune >99% of pairs at recall >0.95). At low
  * thresholds on isotropic data (e.g. 0.3 on the synthetic test
  * embeddings, where random pairs sit at θ ≈ 90° and qualifying pairs at
  * θ ≈ 72°) the collision gap is provably thin and ANY LSH keeps most
  * pairs as candidates — the operator still bounds the join to colliding
  * buckets, but the honest scale answer in that regime is the exact
  * brute-force, or the IVF family below ([[ivfNearDupPairs]],
  * [[topKForVectorIvf]]) on clustered real-world data, backed by the
  * cell-partitioned physical layout in graft.catalog.Layout.ivfPartition.
  */
object Similarity {

  /** Above this k, [[trainIvfCentroids]] switches from exact distributed
    * farthest-point init (k−1 TakeOrdered scans, quadratic in k) to the
    * k-means‖-style oversample + driver-local refine. */
  val FarthestPointExactK: Int = 16

  /** Per-band numeric bucket keys from packed hyperplane sign bits:
    * band i covers bits [i*r, (i+1)*r); key packs (band, bits) so a single
    * equality join covers all bands after an explode. */
  private def bandKeys(bits: Column, bands: Int, rowsPerBand: Int): Column = {
    require(rowsPerBand >= 1 && rowsPerBand <= 32, "rowsPerBand out of range")
    val mask = (1L << rowsPerBand) - 1
    array((0 until bands).map { b =>
      val lo = b * rowsPerBand
      val word = element_at(bits, lo / 64 + 1)
      // bands never straddle a word boundary when 64 % rowsPerBand == 0;
      // for other r the straddling bits are fetched from the next word
      val hi = (b + 1) * rowsPerBand - 1
      val v =
        if (lo / 64 == hi / 64) shiftright(word, lo % 64).bitwiseAND(mask)
        else {
          val nxt = element_at(bits, hi / 64 + 1)
          shiftright(word, lo % 64)
            .bitwiseAND((1L << (64 - lo % 64)) - 1)
            .bitwiseOR(shiftleft(nxt, 64 - lo % 64)).bitwiseAND(mask)
        }
      (lit(b.toLong) * lit(4294967296L)) + v // (band << 32) | bucket
    }: _*)
  }

  /** Candidate near-dup pairs via multi-band LSH, verified by exact cosine.
    *
    * Output: (id_a, id_b, sim DOUBLE) with id_a < id_b and sim >=
    * simThreshold under the decimal gate ([[gatedCosine]]), restricted to
    * pairs colliding in >= 1 band. The banded join ships only (bucketKey,
    * id); embeddings and norms are joined back per deduped candidate
    * ([[candidatePairs]]) with the brute-force query's decimal semantics,
    * so LSH output ⊆ exact output and recall is measurable with two
    * counts. A zero-norm vector has no direction and pairs with nothing.
    */
  def lshNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                      dim: Int, rowsPerBand: Int, bands: Int, seed: Long,
                      simThreshold: Double,
                      materialize: Boolean = true): DataFrame = Storage.scoped { s =>
    // cached: base feeds the banded self-join AND both verify joins —
    // without it the O(dim·numPlanes)-per-row hyperplane projection (and
    // the source scan) re-executes once per reference
    val base = s.cache(vectors(df, idCol, embCol).withColumn("bits",
      hyperplaneBits(col("emb"), dim, rowsPerBand * bands, seed)))
    output(candidatePairs(base, bandKeys(col("bits"), bands, rowsPerBand),
      simThreshold), materialize)
  }

  /** The (id, emb, nsq) rows every pair path starts from. */
  private def vectors(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).as("emb"),
      l2NormSq(col(embCol)).as("nsq"))

  /** The scoped operators' result: the (small) output eagerly
    * materialized, so the scope releases the cached working set before
    * returning — a long-lived session calling these operators repeatedly
    * must not accumulate CacheManager entries that only
    * `spark.catalog.clearCache()` reclaims; the checkpoint itself is
    * ContextCleaner-managed. `materialize = false` returns the lazy plan
    * (plan inspection, or a caller composing it further): the working
    * set it reads STAYS cached (the scope detaches it) and the caller
    * owns it (`spark.catalog.clearCache()`). */
  private def output(out: DataFrame, materialize: Boolean): DataFrame =
    if (materialize) Storage.materializeOnce(out) else out

  /** The candidate-pair path of [[lshNearDupPairs]] and
    * [[ivfNearDupPairs]]: explode each (id, emb, nsq) row of `base` into
    * its bucket `keys`, self-join on key with id_a < id_b (only (key, id)
    * rows shuffle), take `distinct` across keys, then join embeddings and
    * norms back per candidate for the exact [[gatedPairs]] verify. */
  private def candidatePairs(base: DataFrame, keys: Column,
                             simThreshold: Double): DataFrame = {
    val keyed = base.select(col("id"), explode(keys).as("key"))
    val sides = base.select(col("id"), col("emb"), col("nsq"))
    val pairs = keyed.toDF("id_a", "key")
      .join(keyed.toDF("id_b", "key_b"),
        col("key") === col("key_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
      .join(sides.toDF("id_a", "emb_a", "nsq_a"), "id_a")
      .join(sides.toDF("id_b", "emb_b", "nsq_b"), "id_b")
    gatedPairs(pairs, "id_a", "id_b", simThreshold)
  }

  /** The decimal cosine gate of every pair check: the DECIMAL(9,4)
    * rounding of dot / (sqrt(nsq_a)·sqrt(nsq_b)), the brute-force
    * queries' exact semantics, compared `>= t` by the caller. NULL (which
    * fails that comparison) where the pair cannot pass: a zero norm on
    * either side — no direction, and ANSI mode makes a bare /0 an error —
    * or a double below t − 1e-4 (rounded >= t means a true value >=
    * t − 5e-5, so the cheap double keeps decimal allocation off the
    * pairs that cannot reach t). Plain column arithmetic, so it also
    * runs inside the array lambdas of [[keepFirstRemoved]]. */
  private def gatedCosine(embA: Column, nsqA: Column, embB: Column, nsqB: Column,
                          t: Double): Column = {
    val cos = dotProduct(embA, embB) / (sqrt(nsqA) * sqrt(nsqB))
    when(nsqA > 0 && nsqB > 0 && cos >= t - 1e-4, cos.cast(DecimalType(9, 4)))
  }

  /** (a, b, emb_a, nsq_a, emb_b, nsq_b) rows to the (a, b, sim) pairs at
    * or above `t` under [[gatedCosine]]. The decimal gates the threshold
    * exactly; double is the output type (decimal→double is exact, and
    * decimal physical representations hash differently across engines
    * in the driver's canonicalization). */
  private def gatedPairs(rows: DataFrame, a: String, b: String, t: Double): DataFrame =
    rows.select(col(a), col(b), gatedCosine(col("emb_a"), col("nsq_a"),
        col("emb_b"), col("nsq_b"), t).as("sim_q"))
      .filter(col("sim_q") >= t)
      .select(col(a), col(b), col("sim_q").cast("double").as("sim"))

  /** Spherical-k-means centroids for IVF partitioning, trained with a few
    * Lloyd iterations entirely as Spark jobs.
    *
    * Scale design (100 TB lens):
    *  - init = k rows picked by `xxhash64(id, seed)` rank — a deterministic
    *    pseudo-random sample, one TakeOrdered job (per-partition top-k
    *    heaps, driver merges k rows);
    *  - each Lloyd iteration is one map-side assignment (the centroid
    *    matrix travels inside the plan — k×dim doubles) plus one
    *    partial+final aggregation of per-dimension sums keyed by
    *    (cell, dim): k×dim result rows to the driver, never the data;
    *  - `trainFraction` < 1 trains on a Bernoulli sample — at 100 TB you
    *    train centroids on ~1% and assign the full corpus; sampling is a
    *    scan-side filter, no shuffle.
    *
    * Centroids are unit-normalized on the driver, so downstream assignment
    * ranks by plain dot product (== cosine rank; row norms are per-row
    * constants). Empty cells keep their previous centroid. Rows with zero
    * norm are excluded from training (they cannot express a direction).
    */
  def trainIvfCentroids(df: DataFrame, idCol: String, embCol: String,
                        k: Int, lloydIters: Int, seed: Long,
                        trainFraction: Double = 1.0): Seq[Seq[Double]] = Storage.scoped { s =>
    val sampled = if (trainFraction < 1.0) df.sample(trainFraction, seed) else df
    // cached: init runs k TakeOrdered actions and each Lloyd iteration
    // one aggregation — without caching, every action re-scans (and with
    // trainFraction < 1, RE-SAMPLES) the upstream source
    val base = s.cache(trainingRows(sampled, idCol, embCol))

    // Farthest-point (k-means++-style, deterministic) init. Two regimes:
    //
    //  - k <= FarthestPointExactK: first seed by xxhash64 rank, then
    //    greedily the point whose max cosine to the chosen set is smallest
    //    (ties -> lower id), each step one TakeOrdered scan. Guards
    //    against the plain random sample landing several seeds in one
    //    dense cluster and Lloyd merging cells. Cost: k-1 scans, each
    //    projecting `greatest` over the chosen set — O(k²·dim) per row by
    //    the last pass, fine for small k but quadratic in k.
    //  - k > FarthestPointExactK (the 100 TB regime, k ≈ √N in the
    //    thousands): k-means‖-style — ONE TakeOrdered oversample by
    //    xxhash64 rank (max(64·k, 4096) candidate rows to the driver,
    //    k×dim-scale, never the data), then the same greedy farthest-point
    //    refine LOCALLY over the candidates: O(|cand|·k·dim) driver flops
    //    instead of k distributed scans. Deterministic for a given seed
    //    (hash-ranked sample; ties broken by sample order).
    var cents: Seq[Seq[Double]] =
      if (k <= FarthestPointExactK) {
        var cs: Seq[Seq[Double]] = Seq(hashRanked(base, seed, 1).head.toSeq)
        while (cs.size < k)
          cs = cs :+ unit(farthestStep(base, cs).collect().head
            .getSeq[Double](0).toArray).toSeq
        cs
      } else {
        val cand = hashRanked(base, seed, math.max(64 * k, 4096))
        require(cand.length >= k,
          s"IVF k=$k exceeds the ${cand.length}-row training set — size k to the corpus")
        val chosen = new Array[Array[Double]](k)
        chosen(0) = cand(0) // lowest hash rank == the distributed first seed
        val maxCos = Array.fill(cand.length)(-2.0)
        for (step <- 1 until k) {
          val last = chosen(step - 1)
          var best = -1
          var bestCos = Double.MaxValue
          var i = 0
          while (i < cand.length) {
            var d = 0.0
            val v = cand(i)
            var j = 0
            while (j < v.length && j < last.length) { d += v(j) * last(j); j += 1 }
            if (d > maxCos(i)) maxCos(i) = d
            if (maxCos(i) < bestCos) { bestCos = maxCos(i); best = i }
            i += 1
          }
          chosen(step) = cand(best)
        }
        chosen.map(_.toSeq).toSeq
      }
    val dim = cents.head.length

    // Lloyd route (r15, VERDICT r14 next #4): per-(cell, dim) sums FOLD
    // PER ROW inside one custom aggregate (NormalizedVectorSumAgg) — the
    // posexplode route generated `dim` rows per member before its
    // (cell, pos) hash aggregate (guide §2.3 "aggregate before you
    // shuffle"). Grouping by (spark_partition_id, cell) makes the merge
    // order FULLY pinned: each group holds exactly one real partial
    // (accumulated in row order — the identical addition sequence the
    // posexplode route's map-side partials performed), and the driver
    // folds the partials in ascending partition id. The replaced route's
    // final-aggregate merge followed shuffle fetch order, so the fold is
    // strictly more deterministic; SimilaritySpec pins the fold
    // bit-identical to a posexplode reference on the fixtures.
    for (_ <- 1 to lloydIters) {
      val acc = Array.fill(k, dim)(0.0)
      val seen = new Array[Boolean](k)
      val perPart = lloydFoldFrame(base, cents, dim)
        .collect()
        .sortBy(_.getInt(0)) // ascending partition id — pinned merge order
      perPart.foreach { r =>
        val cell = r.getInt(1)
        val s = r.getSeq[Double](2)
        var j = 0
        while (j < dim) { acc(cell)(j) += s(j); j += 1 }
        seen(cell) = true
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        val m = unit(acc(c))
        if (seen(c) && m.exists(_ != 0.0)) m.toSeq else old
      }
    }
    cents
  }

  /** The IVF training projection: (id, emb double[], nsq) rows with a
    * nonzero norm — a zero vector cannot express a direction. */
  private def trainingRows(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb"),
        l2NormSq(col(embCol)).as("nsq"))
      .filter(col("nsq") > 0)

  /** `v` scaled to unit L2 norm; a zero vector stays zero. The one
    * driver-side normalisation: init seeds, Lloyd means, query vectors. */
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** The first `n` [[trainingRows]] by `xxhash64(id, seed)` rank (ties →
    * lower id), unit-normalised: one TakeOrdered job. Its head is the
    * first seed of both init regimes. */
  private def hashRanked(base: DataFrame, seed: Long, n: Int): Array[Array[Double]] = {
    val rows = base.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(n).select(col("emb")).collect()
      .map(r => unit(r.getSeq[Double](0).toArray))
    require(rows.nonEmpty, "empty training set for IVF centroids")
    rows
  }

  /** One exact farthest-point init step as a lazy TakeOrdered(1) frame:
    * the training row whose max cosine to the `chosen` seeds is smallest
    * (ties → lower id). r15: ONE step-shape-invariant expression instead
    * of a growing greatest(dot_product(emb, typedLit(c)) / sqrt(nsq))
    * chain — the chain's expression tree differed every step, so each
    * scan compiled a fresh codegen class; with the chosen set captured
    * inside MaxDotExpr the per-step plan source is identical and the
    * codegen cache hits from step 2 on. Bit-identical selection:
    * max(d_c/s) == max(d_c)/s for the row's positive norm s (division by
    * a positive double is monotone), and each d_c is the same
    * ascending-index fold (MaxDotExpr scaladoc; SimilaritySpec pins it). */
  private def farthestStep(base: DataFrame, chosen: Seq[Seq[Double]]): DataFrame =
    base.select(col("id"), col("emb"),
        (graft.functions.maxCentroidDot(col("emb"), chosen) / sqrt(col("nsq")))
          .as("max_cos"))
      .orderBy(col("max_cos"), col("id"))
      .limit(1)
      .select(col("emb"))

  /** The fold-route Lloyd iteration frame: map-side cell assignment
    * (centroids ride in the plan) + ONE per-(partition, cell) aggregate
    * of row-normalized vector sums ([[graft.functions
    * .NormalizedVectorSumAgg]]'s summation-order contract) — (pids × k)
    * result rows, merged on the driver in ascending partition id. */
  private def lloydFoldFrame(base: DataFrame, cents: Seq[Seq[Double]],
                             dim: Int): DataFrame =
    base
      .select(element_at(ivfAssign(col("emb"), cents, 1), 1).as("cell"),
        col("emb"), col("nsq"))
      .groupBy(spark_partition_id().as("__pid"), col("cell"))
      .agg(graft.functions.normalizedVectorSum(
        col("emb"), col("nsq"), dim).as("s"))

  /** One Lloyd iteration as a lazy frame over init-only centroids — the
    * audit/bench surface of the r15 fold route (the training loop itself
    * is a driver-side iteration, so the fold's plan shape would
    * otherwise never appear in any audited plan): scan → assignment
    * projection → (spark_partition_id, cell) aggregate with
    * normalized_vector_sum. Construction runs the farthest-point init's
    * jobs; the frame itself is lazy. */
  def lloydIterationFrame(df: DataFrame, idCol: String, embCol: String,
                          k: Int, seed: Long): DataFrame = {
    val cents = trainIvfCentroids(df, idCol, embCol, k, lloydIters = 0,
      seed = seed)
    lloydFoldFrame(trainingRows(df, idCol, embCol), cents, cents.head.length)
  }

  /** One farthest-point init step as a lazy frame over the first seed —
    * the audit surface of the r15 step-shape-invariant init scan (the
    * init loop is driver-side, so its per-step plan would otherwise
    * appear in no audited plan): scan → `max_centroid_dot / sqrt(nsq)`
    * projection → TakeOrdered(1). The projection's SOURCE is identical
    * at every step (the chosen set rides in the expression's references,
    * never in the tree shape), which is what lets the codegen cache hit
    * from step 2 on — see [[graft.functions.MaxDotExpr]]. Construction
    * runs only the first-seed job; the frame itself is lazy. */
  def initStepFrame(df: DataFrame, idCol: String, embCol: String,
                    seed: Long): DataFrame = {
    val base = trainingRows(df, idCol, embCol)
    farthestStep(base, Seq(hashRanked(base, seed, 1).head.toSeq))
  }

  /** Candidate near-dup pairs via IVF (inverted-file) cell partitioning,
    * verified by exact cosine: train spherical-k-means centroids, assign
    * every vector to its `probes` nearest cells, and restrict the pair
    * join to vectors sharing ANY probed cell — [[lshNearDupPairs]]'s
    * candidate path ([[candidatePairs]]) with cells as the bucket keys.
    *
    * Output contract matches [[lshNearDupPairs]]: (id_a, id_b, sim DOUBLE)
    * with id_a < id_b, sim >= simThreshold under the decimal gate, and
    * IVF output ⊆ brute-force output (recall measurable with two counts).
    * A zero-norm vector is left out of training and pairs with nothing.
    *
    * Scale notes: assignment is map-side (centroids ride in the plan); the
    * candidate join shuffles (cell, id) pairs only — embeddings are joined
    * back per surviving candidate; within-cell work is O(Σ cell²), so size
    * k to the corpus (k ≈ N/√N keeps cells ~√N) and lean on AQE skew
    * handling for hot cells. On isotropic low-threshold data (the synthetic
    * test embeddings) cells prune weakly — same caveat as the LSH scaladoc;
    * IVF earns its keep on real clustered corpora. Gathering each cell
    * once and verifying inside the group ([[semDedup]]'s kernel) returned
    * the same pairs at sf0.1 but ran slower than this join (ROADMAP). */
  def ivfNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                      k: Int, probes: Int, lloydIters: Int, seed: Long,
                      simThreshold: Double,
                      trainFraction: Double = 1.0,
                      materialize: Boolean = true): DataFrame = Storage.scoped { s =>
    val cents = trainIvfCentroids(df, idCol, embCol, k, lloydIters, seed, trainFraction)
    // cached — base feeds the cell self-join and both verify joins (see
    // lshNearDupPairs)
    val base = s.cache(vectors(df, idCol, embCol))
    output(candidatePairs(base, ivfAssign(col("emb"), cents, probes),
      simThreshold), materialize)
  }

  /** Incremental embedding near-dup detection: a NEW batch of vectors
    * against the cell-partitioned corpus layout written by
    * graft.catalog.Layout.ivfPartition — the embedding-side analog of
    * graft.operators.Dedup.minHashNearDupsAgainstIndex. The probe is
    * [[layoutPairs]]: partition-pruned corpus read, candidate join left
    * to Catalyst/AQE, the exact codegen'd cosine under the same decimal
    * gate as [[ivfNearDupPairs]] — precision 1.0 by construction; recall
    * is governed by `probes`. `centroids` must be the layout's own
    * trained matrix (version-pinned metadata, like a bucketing spec).
    * Output: (batch_id, corpus_id, sim) for cross pairs with cosine >=
    * simThreshold; ids present on both sides are excluded, and a
    * zero-norm vector on either side pairs with nothing. */
  def ivfNearDupsAgainstLayout(batch: DataFrame, corpusLayout: DataFrame,
                               idCol: String, embCol: String,
                               centroids: Seq[Seq[Double]], probes: Int,
                               simThreshold: Double,
                               materialize: Boolean = true): DataFrame = Storage.scoped { s =>
    output(layoutPairs(s.cache(vectors(batch, idCol, embCol)), corpusLayout,
      idCol, embCol, centroids, probes, simThreshold), materialize)
  }

  /** The batch-vs-layout probe of [[ivfNearDupsAgainstLayout]] and
    * [[semDedupAgainst]]: (batch_id, corpus_id, sim) for each (id, emb,
    * nsq) row of `batch` and each corpus row in one of its `probes`
    * nearest cells, gated at `t` ([[gatedPairs]]).
    *
    * 100 TB shape: the batch is assigned map-side (centroid matrix rides
    * in the plan); the distinct probed cells (a k-bounded driver collect,
    * <= min(|batch|·probes, k) ids — the price of partition pruning) are
    * pushed into the corpus scan as an IN-filter on the PARTITION column,
    * so the history read opens probed/k of the corpus directories and
    * re-assigns nothing. The candidate join is left to Catalyst/AQE: a
    * day-sized batch broadcasts (corpus never shuffles); a batch past the
    * broadcast threshold falls back to a shuffle sized to the PRUNED
    * cells — no unconditional broadcast hint (the vocab-broadcast
    * lesson). Corpus embeddings ride the candidate join once (the pruned
    * scan IS that join side; a join-back would scan it twice). Unscoped:
    * `batch` is read twice, so the caller caches it. */
  private def layoutPairs(batch: DataFrame, corpusLayout: DataFrame,
                          idCol: String, embCol: String,
                          centroids: Seq[Seq[Double]], probes: Int,
                          t: Double): DataFrame = {
    val batchCells = batch.select(col("id").as("batch_id"), col("emb").as("emb_a"),
      col("nsq").as("nsq_a"), explode(ivfAssign(col("emb"), centroids, probes)).as("cell"))
    val probed = batchCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val corpus = corpusLayout
      .filter(col("cell").isin(probed: _*))
      .select(col("cell"), col(idCol).as("corpus_id"),
        col(embCol).as("emb_b"), l2NormSq(col(embCol)).as("nsq_b"))
    gatedPairs(corpus.join(batchCells, Seq("cell"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id"), "batch_id", "corpus_id", t)
  }

  /** Driver-side query-to-cell assignment: the nprobe nearest centroids
    * by cosine (normalized query · centroid), deterministic tie-break by
    * cell id. Microseconds of driver math — k×dim products. */
  private def probedCells(queryVec: Seq[Double], centroids: Seq[Seq[Double]],
                          nprobe: Int): Seq[Int] = {
    val qn = unit(queryVec.toArray)
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.zip(qn).map { case (x, y) => x * y }.sum) }
      .sortBy { case (i, d) => (-d, i) }
      .take(nprobe).map(_._1)
  }

  /** The IVF probe of one query vector: `df`'s (idCol, embCol, cell) rows
    * whose top-1 `cell` is among the query's `nprobe` nearest
    * ([[probedCells]]) — the candidate set of [[topKForVectorIvf]] and
    * `Quantize.ivfPqTopKForVector`.
    *
    * `trustCellColumn`: the caller vouches that the DataFrame's `cell`
    * column is the top-1 assignment under THIS centroid matrix (the
    * partitionBy(cell) layout written by Layout.ivfPartition — centroids
    * are version-pinned metadata of that layout). Filtering on the
    * partition column — not on a recomputed expression over the
    * embedding — is what turns the probe into PARTITION PRUNING, so the
    * scan opens only nprobe/k of the corpus directories (LayoutSpec
    * plan-asserts this). Opt-in, NOT inferred from a column named `cell`:
    * probing a layout written from a different centroid matrix (or a
    * coincidental user column) would silently return wrong candidates. */
  private[operators] def probedCellRows(df: DataFrame, idCol: String, embCol: String,
                                        queryVec: Seq[Double],
                                        centroids: Seq[Seq[Double]], nprobe: Int,
                                        trustCellColumn: Boolean): DataFrame = {
    require(!trustCellColumn || df.columns.contains("cell"),
      "trustCellColumn requires a `cell` column (see Layout.ivfPartition)")
    val cell =
      if (trustCellColumn) col("cell")
      else element_at(ivfAssign(col(embCol), centroids, 1), 1)
    val probed = probedCells(queryVec, centroids, nprobe)
    df.select(col(idCol), col(embCol), cell.as("cell"))
      .filter(col("cell").isin(probed: _*))
  }

  /** IVF-accelerated top-k for one query vector: probe the query's
    * `nprobe` nearest cells and rank only vectors assigned to those
    * cells — the classic IVF search path.
    *
    * Query-to-cell assignment happens on the DRIVER (nprobe dot products
    * against k centroids — microseconds); the corpus side is a single
    * scan-filter ([[probedCellRows]]) followed by TakeOrderedAndProject:
    * no shuffle, no join. With the corpus WRITTEN partitioned by cell id
    * (Layout.ivfPartition, `trustCellColumn = true`) the filter becomes
    * partition pruning and the scan touches only nprobe/k of the data;
    * unpartitioned, it is still a full scan but with candidate ranking
    * bounded to the probed cells.
    *
    * `assignReplicas` > 1 = the standard IVF replication tradeoff: each
    * vector is indexed under its top-R cells, costing R× storage/scan in
    * the partitioned layout but catching neighbors that sit just across a
    * cell boundary (overlap@10 on the isotropic test data: 5-9 at R=1 vs
    * 8-10 at R=2 across scales and seeds). R=1 keeps the single-cell
    * partition-pruning layout. */
  def topKForVectorIvf(df: DataFrame, idCol: String, embCol: String,
                       queryVec: Seq[Double], k: Int,
                       centroids: Seq[Seq[Double]], nprobe: Int,
                       assignReplicas: Int = 1,
                       trustCellColumn: Boolean = false): DataFrame = {
    // the flag's whole contract is partition pruning, and the replica
    // branch below recomputes assignment over a full scan — honoring the
    // flag silently would give the caller a full-corpus scan they believe
    // is pruned
    require(!trustCellColumn || assignReplicas <= 1,
      "trustCellColumn only applies to the top-1 layout (assignReplicas = 1); " +
        "a replicated layout needs its own materialized cells")
    val candidates =
      if (assignReplicas <= 1)
        probedCellRows(df, idCol, embCol, queryVec, centroids, nprobe, trustCellColumn)
      else
        df.filter(arrays_overlap(ivfAssign(col(embCol), centroids, assignReplicas),
          typedLit(probedCells(queryVec, centroids, nprobe))))
    candidates
      .select(col(idCol), cosineSim(col(embCol), typedLit(queryVec))
        .cast(DecimalType(9, 4)).cast("double").as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Brute-force top-k neighbors for one query vector (exact baseline).
    * Query side is a 1-row broadcast; result is TakeOrderedAndProject. */
  def topKForVector(df: DataFrame, idCol: String, embCol: String,
                    queryVec: Seq[Double], k: Int): DataFrame = {
    val qv = typedLit(queryVec)
    df.select(col(idCol), round(cosineSim(col(embCol), qv), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space semantic
    * dedup. Cluster the corpus with the [[trainIvfCentroids]] spherical
    * k-means, then WITHIN each cluster remove every vector that has an
    * exact-cosine neighbor at `tau` or above preceding it in the keep
    * order — keep-first under a total order, the same relational rule as
    * `Dedup.dedupParagraphs`, so the answer is exact given the clustering
    * (no greedy iteration-order dependence).
    *
    * Keep order (`keepBy`):
    *  - `"id"`       — lowest id survives each neighborhood (the
    *                   oracle-friendly default; clustered removals are
    *                   then a provable SUBSET of the global keep-min-id
    *                   rule, making recall measurable with two counts);
    *  - `"centroid"` — the paper's best-performing policy: LOW cosine to
    *                   the (primary) cluster centroid survives — dedup
    *                   keeps the atypical member of each duplicate
    *                   neighborhood. Rounded to 6 dp before comparison
    *                   (ties → lower id) so the order is deterministic.
    *
    * `probes` > 1 assigns each vector to its `probes` nearest cells
    * (IVF-style boundary replication): a pair is compared if the two
    * vectors share ANY cell, which recovers neighbors split across a cell
    * boundary — the clustered-removal set stays a subset of the global
    * rule (a same-cell neighbor is still a real neighbor), recall just
    * rises. Output: one row per input vector — (id, cell, cent_sim,
    * kept) with `cell` the primary (nearest) centroid. Zero-norm vectors
    * have no direction, join no group, and are always kept.
    *
    * 100 TB shape (the paper's own cost model): candidate work is
    * Σ cell² — size k ≈ √N so cells hold ~√N vectors, train centroids on
    * a `trainFraction` sample (scan-side filter, no shuffle) and assign
    * the full corpus map-side (the k×dim centroid matrix rides in the
    * plan). Verification is PER-CELL LOCAL ([[keepFirstRemoved]]): each
    * vector ships ONCE per probed cell, cells gather with collect_list,
    * and the pairwise decimal-gated cosine runs inside each group. A
    * candidate join would ship two embeddings per pair instead — ~1 KB
    * per pair, ~230 GB of shuffle at the 234M-pair 100× geometry against
    * ~0.3 GB gathered (SCALE.md r9). A cell's group must fit an executor
    * (~cell_size × dim×8 B — size k to the corpus).
    *
    * `chunks` ≥ 2 is the HOT-CELL mitigation: cell members are
    * hash-split into `chunks` buckets by id and the gather runs per CHUNK
    * PAIR, so a mega-cell of n rows becomes chunks² independent tasks of
    * ≤ (n/chunks)² comparisons over ≤ 2n/chunks gathered rows — task
    * COUNT absorbs the skew (the SCALE.md semdedup_hotcell tier). Same
    * answer as `chunks` = 1 (spec-asserted on both fixtures, both keep
    * orders); payload cost is 2·chunks copies per (vector, probed cell).
    *
    * `maxCellRows` > 0 arms an upfront guard (one cheap count over the
    * member rows): if any probed cell exceeds it, fail fast with the
    * offending cell, its size, and the remedies — rather than an opaque
    * executor OOM mid-gather.
    *
    * Reference analog: none (no embedding ops in the reference) — a
    * training-data north-star operator. */
  def semDedup(df: DataFrame, idCol: String, embCol: String,
               k: Int, probes: Int, lloydIters: Int, seed: Long,
               tau: Double, keepBy: String = "id",
               trainFraction: Double = 1.0,
               materialize: Boolean = true,
               chunks: Int = 1,
               maxCellRows: Long = 0L): DataFrame = Storage.scoped { s =>
    requireKeepBy(keepBy)
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    val cents = trainIvfCentroids(df, idCol, embCol, k, lloydIters, seed,
      trainFraction)
    // cached: feeds the member gather, the cell guard and the output join
    val assigned = assignCells(s.cache(vectors(df, idCol, embCol)), cents, probes)
    output(keptRows(assigned,
      keepFirstRemoved(assigned, keepBy, tau, chunks, maxCellRows)), materialize)
  }

  private def requireKeepBy(keepBy: String): Unit =
    require(keepBy == "id" || keepBy == "centroid",
      s"keepBy must be 'id' or 'centroid', got '$keepBy'")

  /** The SemDeDup cell assignment of (id, emb, nsq) rows under `cents`:
    * adds the primary `cell`, `cent_sim` (cosine to the primary centroid
    * == max over centroids, rounded to 6 dp) and the `probes` nearest
    * `cells`. Zero-norm rows have no cosine: NULL cent_sim, guarded —
    * ANSI mode makes a bare /0 an error, not NULL. */
  private def assignCells(vecs: DataFrame, cents: Seq[Seq[Double]],
                          probes: Int): DataFrame = {
    val cos = cents.map(c => dotProduct(col("emb"), typedLit(c)) / sqrt(col("nsq")))
    vecs.select(col("id"), col("emb"), col("nsq"),
      element_at(ivfAssign(col("emb"), cents, 1), 1).as("cell"),
      when(col("nsq") > 0,
        round(if (cos.size == 1) cos.head else greatest(cos: _*), 6)).as("cent_sim"),
      ivfAssign(col("emb"), cents, probes).as("cells"))
  }

  /** The keep-first kernel of every SemDeDup form: the distinct `id`s of
    * [[assignCells]] rows that have a PRECEDING (under `keepBy`)
    * neighbor sharing a probed cell at DECIMAL(9,4) cosine >= `tau`.
    * One row per (vector, probed cell) ships — the whole shuffled
    * payload — and cells gather with collect_list; the pairwise cosine
    * runs INSIDE each group as nested array HOFs (exists/filter over the
    * gathered structs with the codegen'd fold dot product) — pure
    * Catalyst expressions, no UDF, no driver loop. Zero-norm rows join
    * no group. With `chunks` = 1 a hot cell is ONE task computing its n²
    * (AQE cannot split a group); `chunks` ≥ 2 gathers per chunk pair
    * (see [[semDedup]]). */
  private def keepFirstRemoved(assigned: DataFrame, keepBy: String, tau: Double,
                               chunks: Int, maxCellRows: Long): DataFrame = {
    val members = assigned.filter(col("nsq") > 0)
      .select(explode(col("cells")).as("cellx"),
        struct(col("id"), col("cent_sim").as("cs"),
          col("emb").cast("array<double>").as("emb"), col("nsq")).as("m"))
    def precedes(a: Column, b: Column): Column =
      if (keepBy == "id") a.getField("id") < b.getField("id")
      else a.getField("cs") < b.getField("cs") ||
        (a.getField("cs") === b.getField("cs") &&
          a.getField("id") < b.getField("id"))
    // y is a preceding neighbor of x
    def removes(y: Column, x: Column): Column =
      precedes(y, x) && gatedCosine(y.getField("emb"), y.getField("nsq"),
        x.getField("emb"), x.getField("nsq"), tau) >= tau
    if (maxCellRows > 0) {
      // one cheap count over (cell, id) rows — no embeddings shuffled
      val hot = members.groupBy(col("cellx")).agg(count(lit(1)).as("n"))
        .filter(col("n") > maxCellRows)
        .orderBy(col("n").desc).limit(1).collect()
      if (hot.nonEmpty) {
        throw new IllegalStateException(
          s"semDedup: cell ${hot.head.getInt(0)} holds " +
          s"${hot.head.getLong(1)} members (> maxCellRows=$maxCellRows). " +
          "A gathered cell group must fit one executor. Remedies: raise " +
          "`chunks` (chunk-pair gather bounds each task to " +
          "(cell/chunks)^2 work) or raise `k` so cells shrink.")
      }
    }
    val removedRows =
      if (chunks == 1)
        members.groupBy(col("cellx"))
          .agg(collect_list(col("m")).as("grp"))
          .select(explode(filter(col("grp"), x =>
            exists(col("grp"), y => removes(y, x))))
            .as("r"))
      else {
        // chunk-pair gather: member m with hash chunk h enters group
        // (cell, cw, h) as a TARGET for every witness chunk cw, and group
        // (cell, h, ct) as a WITNESS for every target chunk ct. Each
        // (witness, target) combination meets in exactly one group;
        // precedes() is strict, so the self-pair in (h, h) never fires.
        val tagged = members.withColumn("ch",
          pmod(xxhash64(col("m.id")), lit(chunks)).cast("int"))
        val all = explode(sequence(lit(0), lit(chunks - 1)))
        val targets = tagged.select(col("cellx"), all.as("cw"),
          col("ch").as("ct"), col("m"), lit(true).as("is_t"))
        val witnesses = tagged.select(col("cellx"), col("ch").as("cw"),
          all.as("ct"), col("m"), lit(false).as("is_t"))
        targets.unionByName(witnesses)
          .groupBy(col("cellx"), col("cw"), col("ct"))
          // collect_list drops the nulls the `when` leaves on the other role
          .agg(collect_list(when(col("is_t"), col("m"))).as("ts"),
            collect_list(when(!col("is_t"), col("m"))).as("ws"))
          .select(explode(filter(col("ts"), x =>
            exists(col("ws"), y => removes(y, x))))
            .as("r"))
      }
    removedRows.select(col("r.id").as("id")).distinct()
  }

  /** The SemDeDup output: (id, cell, cent_sim, kept) per assigned row,
    * `kept` false iff the id is in `removed`. */
  private def keptRows(assigned: DataFrame, removed: DataFrame): DataFrame =
    assigned.join(removed.withColumn("__rm", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("cent_sim"),
        coalesce(!col("__rm"), lit(true)).as("kept"))

  /** Incremental SemDeDup: a NEW batch of vectors deduped against the
    * cell-partitioned corpus layout written by
    * graft.catalog.Layout.ivfPartition — the daily-batch form every other
    * dedup family has ([[semDedup]]'s sibling, the
    * [[ivfNearDupsAgainstLayout]] probe shape).
    *
    * Precedence is CORPUS-BEFORE-BATCH: the accepted corpus never loses
    * members to an arriving batch — a batch vector is removed iff it has
    * an exact-cosine neighbor at `tau` or above among the corpus vectors
    * sharing a probed cell, OR a PRECEDING batch vector (under `keepBy`,
    * [[semDedup]]'s orders) sharing a probe cell. Both rules are
    * relational (no greedy iteration-order dependence): under the global
    * keep-first order "all corpus, then batch by keepBy", this is exactly
    * the [[semDedup]] rule restricted to batch rows — given the cell
    * geometry.
    *
    * 100 TB shape: batch vectors assign map-side against the PINNED
    * centroid matrix (the layout's version-pinned metadata — a re-trained
    * matrix would scatter corpus and batch across incompatible cells);
    * the cross pass is [[ivfNearDupsAgainstLayout]]'s probe
    * ([[layoutPairs]]: partition-pruned corpus read, nothing re-assigned
    * on the corpus side), and the intra-batch pass is [[semDedup]]'s
    * per-cell gather over the batch. `probes` governs recall (a corpus
    * twin is caught iff its top-1 cell is among the batch vector's
    * `probes` nearest); removals are a subset of the global rule at any
    * setting. Zero-norm vectors have no direction: a batch one is always
    * kept, a corpus one removes nothing. Output: one row per batch
    * vector — (id, cell, cent_sim, kept) with `cell` the primary
    * assignment under the layout's matrix. */
  def semDedupAgainst(batch: DataFrame, corpusLayout: DataFrame,
                      idCol: String, embCol: String,
                      centroids: Seq[Seq[Double]], probes: Int,
                      tau: Double, keepBy: String = "id",
                      materialize: Boolean = true): DataFrame = Storage.scoped { s =>
    requireKeepBy(keepBy)
    val vecs = s.cache(vectors(batch, idCol, embCol))
    val assigned = assignCells(vecs, centroids, probes)
    val crossRemoved = layoutPairs(vecs, corpusLayout, idCol, embCol,
      centroids, probes, tau).select(col("batch_id").as("id"))
    val intraRemoved = keepFirstRemoved(assigned, keepBy, tau,
      chunks = 1, maxCellRows = 0L)
    output(keptRows(assigned, crossRemoved.unionByName(intraRemoved).distinct()),
      materialize)
  }
}
