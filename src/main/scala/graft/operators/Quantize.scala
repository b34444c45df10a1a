package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{cosineSim, pqAdc, pqEncode}

/** Symmetric per-vector int8 quantization for embedding columns — the
  * storage/bandwidth lever for 100 TB embedding corpora (4× smaller than
  * float32 plus better parquet byte-stream-split/dictionary behavior, at
  * a bounded per-element error of scale/2 = amax/254).
  *
  * Composed from built-in higher-order functions on purpose (the
  * preference order is compose-built-ins before custom expressions):
  * these run per ROW, O(n) — the interpreted-HOF cost model that is fine
  * for sketches applies; nothing here sits on a per-PAIR hot path. The
  * lambda bodies reference only attributes and the lambda variable, so
  * the HOF re-evaluation pitfall (recomputing an expensive subtree per
  * element) does not apply.
  *
  * Determinism (oracle parity): scale and codes are elementwise
  * arithmetic + max — no fold-order sensitivity; Spark `round` and DuckDB
  * `round` both round half away from zero on doubles.
  */
object Quantize {

  /** Per-vector quantization scale: max|x| / 127, floored at 1e-30 so a
    * zero vector quantizes to all-zero codes instead of NaN. */
  def int8Scale(emb: Column): Column =
    greatest(array_max(transform(emb, x => abs(x))), lit(1e-30)) / lit(127.0)

  /** Codes: round-half-away(x / scale), guaranteed in [-127, 127] because
    * |x| <= amax = 127 * scale. */
  def quantizeInt8(emb: Column, scale: Column): Column =
    transform(emb, x => round(x / scale).cast("tinyint"))

  /** Reconstruction: code * scale, back to double. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  // ---- Product quantization (the 32×-class compression tier; int8 above
  // is the 4× tier). Geometry: dim = m · dsub, one ksub-entry codebook
  // per subspace, codes = array<int> of length m. Train here, encode via
  // graft.functions.pqEncode, search via [[pqTopKForVector]].

  /** Train PQ codebooks (`m × ksub × dsub`) with per-subspace L2 Lloyd.
    *
    * Deterministic: init takes a hash-ranked sample (xxhash64(id, seed) —
    * the same distributed-deterministic draw as the IVF trainer) of
    * max(64·ksub, 4096) rows to the driver and greedy-farthest-points
    * each subspace locally; every Lloyd iteration is ONE distributed job
    * (encode → explode subspace → explode dim → partial+final avg) that
    * collects exactly m·ksub·dsub cell means — codebook-sized, never
    * data-sized. At 100 TB train on `trainFraction` (the scaladoc
    * contract of the IVF trainer applies verbatim: the codebook needs a
    * distribution sample, not the corpus). Empty cells keep their old
    * centroid (same policy as the IVF Lloyd). */
  def trainPqCodebooks(df: DataFrame, idCol: String, embCol: String,
                       dim: Int, m: Int, ksub: Int, lloydIters: Int,
                       seed: Long, trainFraction: Double = 1.0): Seq[Seq[Seq[Double]]] =
    graft.Storage.scoped { st =>
      require(dim % m == 0, s"m=$m must divide dim=$dim")
      val dsub = dim / m
      val sampled = if (trainFraction < 1.0) df.sample(trainFraction, seed) else df
      val base = st.cache(sampled
        .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb"))
        .filter(size(col("emb")) >= dim))
      val cand = base.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
        .limit(math.max(64 * ksub, 4096))
        .select(col("emb")).collect()
        .map(_.getSeq[Double](0).toArray)
      require(cand.length >= ksub,
        s"PQ ksub=$ksub exceeds the ${cand.length}-row training sample")

      // greedy farthest-point init per subspace, local over the sample:
      // spreads seeds so Lloyd cannot merge cells on clustered data;
      // deterministic (sample order breaks ties)
      var books: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
        val off = s * dsub
        val sub = cand.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
        val chosen = new Array[Array[Double]](ksub)
        chosen(0) = sub(0)
        val minDist = Array.fill(sub.length)(Double.MaxValue)
        for (step <- 1 until ksub) {
          val last = chosen(step - 1)
          var best = 0
          var bestDist = -1.0
          var i = 0
          while (i < sub.length) {
            var dist = 0.0
            var d = 0
            while (d < dsub) { val t = sub(i)(d) - last(d); dist += t * t; d += 1 }
            if (dist < minDist(i)) minDist(i) = dist
            if (minDist(i) > bestDist) { bestDist = minDist(i); best = i }
            i += 1
          }
          chosen(step) = sub(best)
        }
        chosen.map(_.toSeq).toSeq
      }

      for (_ <- 1 to lloydIters) {
        val perDim = base
          .select(posexplode(pqEncode(col("emb"), books)).as(Seq("s", "code")),
            col("emb"))
          .select(col("s"), col("code"),
            posexplode(slice(col("emb"), col("s") * dsub + 1, lit(dsub)))
              .as(Seq("d", "x")))
          .groupBy(col("s"), col("code"), col("d"))
          .agg(avg(col("x")).as("mean"))
          .collect()
        val acc = Array.fill(m, ksub, dsub)(Double.NaN)
        perDim.foreach { r =>
          acc(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
        }
        books = books.zipWithIndex.map { case (book, s) =>
          book.zipWithIndex.map { case (old, j) =>
            if (acc(s)(j).exists(_.isNaN)) old else acc(s)(j).toSeq
          }
        }
      }
      books
    }

  /** The query-side ADC lookup table: lut[s·ksub + j] = dot(query subvec
    * s, codebook entry (s, j)) — so Σ_s lut[s][code_s] approximates
    * dot(query, vector). m·ksub doubles per query, computed driver-side. */
  def adcLut(query: Seq[Double], codebooks: Seq[Seq[Seq[Double]]]): Array[Double] = {
    val m = codebooks.length
    val ksub = codebooks.head.length
    val dsub = codebooks.head.head.length
    require(query.length >= m * dsub,
      s"query dim ${query.length} < m*dsub = ${m * dsub}")
    val lut = new Array[Double](m * ksub)
    for (s <- 0 until m; j <- 0 until ksub) {
      var acc = 0.0
      var d = 0
      while (d < dsub) { acc += query(s * dsub + d) * codebooks(s)(j)(d); d += 1 }
      lut(s * ksub + j) = acc
    }
    lut
  }

  /** Top-k by exact cosine over an ADC-ranked shortlist: rank every row
    * by the compressed-domain approximate dot (m array reads per row, no
    * vector math), TakeOrdered the `shortlist` best, then re-rank those
    * few exactly (the q23 decimal-gated cosine). With the true top-k
    * inside the shortlist — the recall knob — the result is IDENTICAL to
    * the brute-force scan, which is what the sim_ann_pq oracle asserts.
    *
    * Scale shape: the scan reads codes (+ id), not embeddings; the exact
    * re-rank joins embeddings back for `shortlist` rows only. Store codes
    * at ingest (pqEncode is one row pass) and this is a search over
    * ~m bytes/vector. */
  def pqTopKForVector(df: DataFrame, idCol: String, embCol: String,
                      query: Seq[Double], k: Int,
                      codebooks: Seq[Seq[Seq[Double]]],
                      shortlist: Int): DataFrame = {
    val ksub = codebooks.head.length
    val lut = adcLut(query, codebooks)
    val short = df
      .select(col(idCol),
        pqAdc(pqEncode(col(embCol).cast("array<double>"), codebooks), lut, ksub)
          .as("adc"))
      .orderBy(col("adc").desc, col(idCol))
      .limit(shortlist)
      .select(col(idCol))
    df.join(short, Seq(idCol), "left_semi")
      .select(col(idCol),
        cosineSim(col(embCol), typedLit(query))
          .cast(DecimalType(9, 4)).cast("double").as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF × PQ composite search — the standard large-scale ANN index
    * layout (an IVFADC in the Jégou et al. terminology): the IVF coarse
    * quantizer prunes the scan to `nprobe` of the k cells, the PQ ADC
    * ranks ONLY those cells' codes (m array reads per row), and the
    * exact re-rank touches embeddings for `shortlist` rows.
    *
    * Cost at 100 TB, multiplicatively: partition pruning cuts the scan to
    * ~nprobe/k of the corpus (with the cell-partitioned layout of
    * [[graft.catalog.Layout.ivfPartition]] and `trustCellColumn = true` —
    * the filter lands on the partition column, same plan contract
    * LayoutSpec asserts for the exact IVF probe), PQ cuts the scanned
    * bytes per row to ~m + id (codes stored at ingest), and the only
    * full-width vector reads are the shortlist join. Approximation is
    * two-layered (cell recall × shortlist recall) — both knobs widen
    * toward exactness, and the gate query measures the composite's
    * overlap against the brute-force answer while asserting emitted sims
    * are the exact decimal cosine (the re-rank contract). */
  def ivfPqTopKForVector(df: DataFrame, idCol: String, embCol: String,
                         query: Seq[Double], k: Int,
                         centroids: Seq[Seq[Double]], nprobe: Int,
                         codebooks: Seq[Seq[Seq[Double]]], shortlist: Int,
                         trustCellColumn: Boolean = false): DataFrame =
    pqTopKForVector(Similarity.probedCellRows(df, idCol, embCol, query,
      centroids, nprobe, trustCellColumn), idCol, embCol, query, k, codebooks, shortlist)
}
