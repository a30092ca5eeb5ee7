package graft.vectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.CentroidMatrix
import graft.functions.VectorExpressions._

/** Similarity search over an embedding column (Array[Float]) — the ANN
  * toolkit of a training-data pipeline. Baseline is exact brute-force
  * cosine top-k; the scale path is random-hyperplane LSH bucketing so
  * only same-bucket pairs are scored.
  *
  * Dot products, cosine, and LSH signatures are native Catalyst
  * expressions with whole-stage codegen
  * (`graft.functions.VectorExpressions`) — one compiled loop per row.
  * (Round-1 shipped these as `zip_with`/`aggregate` higher-order
  * functions, which are `CodegenFallback` and ~1000× slower per row;
  * see VERDICT.md.)
  */
object VectorFunctions {

  /** Cast a float vector to double (only needed where a uniform element
    * type simplifies a downstream oracle; the native expressions accept
    * float or double arrays directly).
    */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column = dot_product(a, b)

  def cosine(a: Column, b: Column): Column = cosine_sim(a, b)

  /** The kNN entry points answer ONE query vector per call (the serving
    * shape: per-query top-k under one limit). A multi-row query frame
    * would silently mix per-row sims under a single top-k, so the
    * contract is enforced, not latent.
    */
  private def requireSingleQuery(query: DataFrame, fn: String): Unit =
    require(query.take(2).length == 1,
      s"$fn expects a query DataFrame with exactly one row " +
        "(one query vector per call); got a different cardinality")

  /** Exact top-k nearest neighbours of `queryVec` (from a one-row
    * DataFrame, broadcast) by cosine. One scan over the vectors; the
    * top-k is a TakeOrderedAndProject (per-partition heap + driver
    * merge), not a global sort.
    */
  def knnBrute(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    requireSingleQuery(query, "knnBrute")
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    v.crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** SQ8 (scalar int8) quantized kNN: each vector compresses to one
    * double scale + dim bytes (4× smaller than float32), and serving
    * scores EXACT integer dot products between code vectors in a
    * compiled byte-loop ([[graft.functions.Sq8Dot]]) — the faiss-SQ8
    * serving shape: at 100 TB the codes table is a quarter of the
    * float scan, the quantization is one map pass, and the int
    * accumulation is order-independent (so results are replayable,
    * unlike float-sum scores). Approximate inner product =
    * int_dot / (scale_v × scale_q); ties break toward the smaller id.
    */
  def knnSq8(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame = {
    requireSingleQuery(query, "knnSq8")
    import graft.functions.Sq8Expressions._
    val v = vectors.select(col(idCol).as("id"),
      sq8_encode(col(vecCol)).as("cv"), sq8_scale(col(vecCol)).as("s"))
    val q = query.select(sq8_encode(col(queryVecCol)).as("cq"),
      sq8_scale(col(queryVecCol)).as("qs"))
    v.crossJoin(broadcast(q))
      .select(col("id"), sq8_dot(col("cv"), col("cq")).as("dotq"),
        col("s"), col("qs"))
      .select(col("id"), col("dotq"),
        when(col("s") > 0 && col("qs") > 0,
          col("dotq").cast("double") / (col("s") * col("qs")))
          .otherwise(lit(0.0)).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Binary-quantized (sign-bit) kNN: vectors compress 32× to 1 bit per
    * dimension and candidates pre-rank by Hamming distance (popcount
    * over XOR, [[graft.functions.BqHamming]] — a compiled word loop);
    * the best `rerank` candidates then rescore with the exact float
    * cosine. Sign-bit Hamming estimates angular distance (the SimHash
    * hyperplane identity), so modest rerank depths recover exact top-k
    * with high recall while the scan reads 1/32nd of the float bytes —
    * the faiss-IndexBinary serving shape. Both stages are
    * per-partition TopN + driver merge of O(rerank) rows (no full
    * shuffle); candidate selection and final order carry (metric, id)
    * tiebreaks so the whole pipeline is deterministic and replayable.
    */
  def knnBinary(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int, rerank: Int = 100): DataFrame = {
    requireSingleQuery(query, "knnBinary")
    import graft.functions.BqExpressions._
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      bq_encode(col(vecCol)).as("cb"))
    val q = query.select(col(queryVecCol).as("qv"),
      bq_encode(col(queryVecCol)).as("qb"))
    val cand = v.crossJoin(broadcast(q))
      .select(col("id"), col("v"), col("qv"),
        bq_hamming(col("cb"), col("qb")).as("ham"))
      .orderBy(col("ham").asc, col("id"))
      .limit(math.max(k, rerank))
    cand.select(col("id"), col("ham"), cosine_sim(col("v"), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** BATCHED brute-force kNN: top-k for EVERY query vector in one
    * corpus pass — the serving shape when queries arrive in batches
    * (rerank sets, offline eval panels, embedding joins). The query
    * batch broadcasts; each scan task scores its slice against all
    * queries and keeps an O(k) heap PER QUERY ([[graft.functions.TopKAgg]]
    * map-side partials), so the only shuffle is O(queries × k) heap
    * state — never the queries × corpus candidate relation a
    * `row_number() OVER (PARTITION BY query)` translation would move.
    * Output: (qid, id, sim, rank) with rank 1..k per query.
    */
  /** Radius (range) search: every vector with cosine similarity >= tau
    * to each query — the all-qualifying-neighbors complement of top-k
    * (faiss range_search). One broadcast of the query set against one
    * scan of the vectors, similarity in the codegen'd kernel, no
    * shuffle at all — at 100 TB this is a map-only pass whose output
    * size is data-dependent (callers cap with a LIMIT if they must).
    * Self-pairs are kept when ids collide across frames; filter on the
    * caller side if the query set is drawn from the corpus.
    */
  def rangeSearch(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, queryVecCol: String, tau: Double): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    v.crossJoin(broadcast(queries.select(col(qIdCol).as("qid"), col(queryVecCol).as("q"))))
      .select(col("qid"), col("id"), cosine_sim(col("v"), col("q")).as("sim"))
      .filter(col("sim") >= tau)
  }

  def knnBruteBatch(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, queryVecCol: String, k: Int): DataFrame = {
    import graft.functions.TopKAgg.top_k
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    v.crossJoin(broadcast(queries.select(col(qIdCol).as("qid"), col(queryVecCol).as("q"))))
      .select(col("qid"), col("id"), cosine_sim(col("v"), col("q")).as("sim"))
      .groupBy(col("qid"))
      .agg(top_k(col("sim"), col("id"), k).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("qid"), col("__e.id").as("id"), col("__e.score").as("sim"),
        (col("__r") + 1).cast("long").as("rank"))
  }

  /** FILTERED kNN — top-k among only the vectors whose id appears in
    * `allowedIds` (one id column; typically the result of a metadata
    * predicate on another table — the "lang = 'en' AND source = X"
    * side of a RAG retrieval). Strategy is gated by an EXACT count of
    * the allowed set (metadata-sized, cheap — the same
    * exact-statistic-gates-the-plan pattern as the dedup family):
    *
    *  - selective filter (≤ `bruteThreshold` ids): broadcast semi-join
    *    prunes the corpus scan map-side, then exact brute top-k — with
    *    few survivors, ANN pruning saves nothing and costs recall;
    *  - dense filter: the filter rides INTO the IVF path — survivors
    *    keep their cell assignment, the query probes `nprobe` cells,
    *    and only filtered members of probed cells are scored. Recall
    *    semantics match unfiltered IVF because filtering before the
    *    cell scan never changes which cells the true neighbors sit in.
    *
    * The selective path is exact (it is the driver row's oracle); the
    * dense path is approximate with the usual nprobe/recall trade.
    */
  def knnFiltered(vectors: DataFrame, idCol: String, vecCol: String,
      allowedIds: DataFrame, query: DataFrame, queryVecCol: String, k: Int,
      bruteThreshold: Long = 100000, nCentroids: Int = 16, nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    requireSingleQuery(query, "knnFiltered")
    val allowed = allowedIds.select(col(allowedIds.columns.head).as(idCol))
    val nAllowed = allowed.count()
    if (nAllowed <= bruteThreshold) {
      val filtered = vectors.join(broadcast(allowed), Seq(idCol), "left_semi")
      knnBrute(filtered, idCol, vecCol, query, queryVecCol, k)
    } else {
      val filtered = vectors.join(allowed, Seq(idCol), "left_semi")
      knnIvf(filtered, idCol, vecCol, query, queryVecCol, k,
        nCentroids = nCentroids, nprobe = nprobe, seed = seed)
    }
  }

  /** Filtered serve from a persisted [[buildIvfIndex]] index: the
    * allowed-id set broadcast-semi-joins into the probed-cell scan, so
    * the filter costs nothing beyond the cell read it was already
    * doing. For filters too large to broadcast, pre-shuffle
    * `allowedIds` and swap the semi-join to a shuffled one — the cell
    * pruning is unchanged.
    */
  def knnIvfIndexFiltered(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      allowedIds: DataFrame, query: DataFrame, queryVecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val qCells = query.select(col(queryVecCol).as("q"))
      .crossJoin(broadcast(cents))
      .select(col("cell"), cosine_sim(col("q"), col("centroid")).as("sim"))
      .orderBy(col("sim").desc, col("cell"))
      .limit(nprobe)
      .select("cell").collect().map(_.getInt(0)).toSeq
    val allowed = allowedIds.select(col(allowedIds.columns.head).as("id"))
    liveIndexLists(spark, indexDir)
      .filter(col("cell").isin(qCells: _*))
      .join(broadcast(allowed), Seq("id"), "left_semi")
      .crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("vec"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** LSH bucket keys for `tables` independent hash tables: per table t,
    * key = (t << bits) | hyperplane signature salted by t. Native
    * codegen; plain integer packing so the DuckDB oracle can reproduce
    * the exact bucket keys.
    */
  private[graft] def bucketKeys(vec: Column, bits: Int, tables: Int): Column =
    array((0 until tables).map { t =>
      (lit(t.toLong * (1L << bits)) + hyperplane_lsh(vec, bits, t.toLong)).as(s"b$t")
    }: _*)

  /** Approximate top-k: bucket by LSH signature over `tables`
    * independent hash tables (different salts), score only candidates
    * sharing a bucket with the query, exact-rescore, top-k.
    * Recall/cost is tuned by (bits, tables).
    */
  def knnLsh(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      bits: Int = 12, tables: Int = 4): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val keyed = vectors.select(col(idCol).as("id"),
      explode(bucketKeys(col(vecCol), bits, tables)).as("s"))
    val qb = query.select(explode(bucketKeys(col(queryVecCol), bits, tables)).as("s"))
    // Dedup candidates on id alone — the distinct shuffle carries (id)
    // longs, never embeddings; vectors rejoin only for the candidate set.
    val candidates = keyed.join(broadcast(qb), Seq("s")).select("id").distinct()
    candidates.join(v, Seq("id"))
      .crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** L2-normalize a driver-side vector (zero vectors pass through). */
  private def normalize(v: Array[Double]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    if (n2 <= 0) return v.clone()
    val inv = 1.0 / math.sqrt(n2)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { d += a(i) * b(i); i += 1 }
    d
  }

  /** Driver-side weighted k-means on the (small) k-means|| candidate set:
    * deterministic maximin init (each next center = the candidate with
    * max weighted cost — no RNG, so reruns and independent engines agree),
    * then Lloyd to convergence on the candidates. Inputs are normalized;
    * output rows are normalized (spherical k-means).
    */
  private def localKmeans(cands: Array[Array[Double]], weights: Array[Double],
      k: Int, iters: Int): Array[Array[Double]] = {
    val n = cands.length
    val kk = math.min(k, n)
    // maximin init
    val chosen = new Array[Int](kk)
    chosen(0) = weights.indices.maxBy(i => (weights(i), -i))
    val minCost = Array.fill(n)(Double.MaxValue)
    var c = 0
    while (c + 1 < kk) {
      var i = 0
      while (i < n) {
        val d = math.max(0.0, 2.0 - 2.0 * dotD(cands(i), cands(chosen(c))))
        if (d < minCost(i)) minCost(i) = d
        i += 1
      }
      var best = -1; var bestScore = -1.0
      i = 0
      while (i < n) {
        val s = weights(i) * minCost(i)
        if (s > bestScore) { bestScore = s; best = i }
        i += 1
      }
      chosen(c + 1) = best
      c += 1
    }
    var cents = chosen.map(cands(_).clone())
    // weighted Lloyd on the candidates
    val dim = cands.head.length
    var it = 0
    var moved = true
    while (it < iters && moved) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val tot = new Array[Double](kk)
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.NegativeInfinity
        var j = 0
        while (j < kk) {
          val d = dotD(cands(i), cents(j))
          if (d > bd) { bd = d; best = j }
          j += 1
        }
        var p = 0
        while (p < dim) { sums(best)(p) += weights(i) * cands(i)(p); p += 1 }
        tot(best) += weights(i)
        i += 1
      }
      moved = false
      val next = cents.map(_.clone())
      var j = 0
      while (j < kk) {
        if (tot(j) > 0) {
          val m = normalize(sums(j).map(_ / tot(j)))
          if (!java.util.Arrays.equals(m, cents(j))) { next(j) = m; moved = true }
        }
        j += 1
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Distributed spherical k-means over an embedding column — the IVF
    * coarse-quantizer trainer. k-means||-style init (Bahmani '12: a few
    * rounds of cost-proportional oversampling, here with a deterministic
    * hash-uniform in place of an RNG so every rerun and every engine
    * draws the same sample), local weighted reduction of the candidate
    * set to k, then `lloydIters` distributed Lloyd iterations.
    *
    * Per Lloyd iteration: cell assignment is a shuffle-free codegen
    * expression (centroids ride the plan once via `addReferenceObj`);
    * the mean reduction is posexplode → hash-agg on (cell, dim) — the
    * shuffle after map-side partial aggregation is O(partitions × k ×
    * dim) partials, never O(rows). Each pass re-scans only the id and
    * embedding columns (column-pruned parquet); training is an offline
    * build artifact, so ~2·initRounds + lloydIters scans is the expected
    * shape, not a per-query cost.
    *
    * Component means are rounded to 6 dp before normalization so the
    * (order-nondeterministic) float summation cannot surface run-to-run
    * centroid drift.
    */
  def trainKmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, lloydIters: Int = 8, initRounds: Int = 3,
      seed: Long = 42L): Array[Array[Double]] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).cast("long").as("id"),
      toDouble(col(vecCol)).as("v")).filter(col("v").isNotNull)

    // seed candidate: the row with the smallest hash — a deterministic
    // uniform draw
    val first = v.orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .select("v").as[Array[Double]].head()
    val cands = scala.collection.mutable.ArrayBuffer(normalize(first))

    var r = 1
    while (r <= initRounds) {
      val m = CentroidMatrix(cands.toArray.flatten, cands.length)
      val cost = greatest(lit(0.0), lit(2.0) - lit(2.0) * max_centroid_cos(col("v"), m))
      val total = v.select(coalesce(sum(cost), lit(0.0))).as[Double].head()
      if (total > 0) {
        // oversample ~2k points with prob ∝ cost via a hash-uniform in
        // [0,1); the id orderBy cap only binds on pathological skew
        val u = pmod(xxhash64(col("id"), lit(seed), lit(r)), lit(1000000000L))
          .cast("double") / lit(1e9)
        val picked = v.filter(u * lit(total) < lit(2.0 * k) * cost)
          .orderBy("id").limit(8 * k)
          .select("v").as[Array[Double]].collect()
        cands ++= picked.map(normalize)
      }
      r += 1
    }

    // weight each candidate by its basin size, then reduce locally to k
    val wm = CentroidMatrix(cands.toArray.flatten, cands.length)
    val weights = v.select(nearest_centroid(col("v"), wm).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    var cents = localKmeans(cands.toArray,
      cands.indices.map(i => math.max(weights.getOrElse(i, 0L).toDouble, 1e-9)).toArray,
      k, iters = 25)

    // distributed Lloyd
    val dim = cents.head.length
    var it = 0
    while (it < lloydIters) {
      val m = CentroidMatrix(cents.flatten, cents.length)
      val sums = v.select(nearest_centroid(col("v"), m).as("cell"), col("v"))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(sum("x").as("s"), count(lit(1)).as("n"))
        .as[(Int, Int, Double, Long)].collect()
      val next = cents.map(_.clone()) // empty cells keep their centroid
      sums.groupBy(_._1).foreach { case (cell, rows) =>
        val mean = new Array[Double](dim)
        rows.foreach { case (_, pos, s, n) =>
          if (pos < dim) mean(pos) = math.rint(s / n * 1e6) / 1e6
        }
        val nz = normalize(mean)
        if (nz.exists(_ != 0.0)) next(cell) = nz
      }
      cents = next
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) approximate kNN — the classic coarse-quantizer
    * ANN shape: assign every vector to its nearest of `nCentroids`
    * trained coarse centroids (a shuffle-free codegen expression;
    * embeddings stay put), probe the `nprobe` cells nearest the query,
    * exact-rescore only those cells' members. At 100 TB the trained
    * centroids and cell assignment are a one-off build artifact and each
    * query touches ~nprobe/nCentroids of the corpus.
    *
    * Centroids come from [[trainKmeansCentroids]] — deterministic
    * k-means|| init + Lloyd, so reruns agree. Recall vs the brute-force
    * ground truth is gated in VectorsSpec (recall@10 ≥ 0.9 across query
    * panels); the driver row's oracle is the exact brute-force top-k.
    */
  def knnIvf(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4, lloydIters: Int = 8,
      seed: Long = 42L): DataFrame = {
    val cents = trainKmeansCentroids(vectors, idCol, vecCol, nCentroids,
      lloydIters = lloydIters, seed = seed)
    knnIvfTrained(vectors, idCol, vecCol, query, queryVecCol, k, cents, nprobe)
  }

  /** Build and PERSIST an IVF index — the build-once/serve-many artifact
    * a production ANN deployment runs on:
    *
    *   <indexDir>/centroids/   (cell, centroid) — k rows
    *   <indexDir>/lists/       (id, vec) partitioned BY CELL — the
    *                           inverted lists, each cell one directory
    *
    * The lists carry the vectors themselves (classic IVF: the inverted
    * list IS the data), so serving reads ONLY the probed cells' files —
    * Spark's partition pruning turns nprobe/nCentroids into a physical
    * IO fraction, no join back to the corpus. One range-free shuffle at
    * build (the partitioned write); queries touch no shuffle at all
    * until the final top-k.
    */
  def buildIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nCentroids: Int = 16, lloydIters: Int = 8,
      seed: Long = 42L): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = trainKmeansCentroids(vectors, idCol, vecCol, nCentroids,
      lloydIters = lloydIters, seed = seed)
    val m = CentroidMatrix.normalized(cents)
    cents.indices.map(c => (c, m.row(c))).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    // a REBUILD over a vacuumed index keeps its generation pointer: the
    // overwrite lands in the currently-pointed directory. Stale
    // tombstones must go with it — the meta resets nextSeq to 1, so a
    // leftover dseq>=1 tombstone would shadow every fresh seq-0 row.
    val v = currentListsVersion(indexDir)
    vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell", nearest_centroid(col("vec"), m))
      .withColumn("seq", lit(0L))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/${listsDirName(v)}")
    graft.meta.GraftFS.deleteRecursive(s"$indexDir/${deletesDirName(v)}")
    writeIndexMeta(indexDir, IndexMeta(nextSeq = 1L, lastSyncedVersion = 0L,
      tombstoneRows = 0L, listsVersion = v))
  }

  /** Incrementally maintain a persisted [[buildIvfIndex]] index: assign
    * the appended vectors to the EXISTING centroids and append them to
    * the cell lists — no re-train, no touch of the resident lists
    * (parquet append writes only the new files into each cell
    * directory). This is how streaming ingest keeps the index fresh:
    * appends are cheap and recall degrades only as far as the data
    * actually drifts from the trained centroids, which
    * [[ivfIndexStats]] watches — when cell-size skew crosses its bound,
    * rebuild with [[buildIvfIndex]] (the reference pattern: FAISS-style
    * IVF serves from a trained quantizer and re-trains out-of-band).
    * Appends stamp a fresh maintenance seq, so an append AFTER a
    * [[deleteFromIndex]] of the same ids is an UPSERT: the tombstone
    * shadows only the older entries.
    */
  def appendToIvfIndex(newVectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String): Unit = {
    val spark = newVectors.sparkSession
    val cents = spark.read.parquet(s"$indexDir/centroids").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    require(cents.nonEmpty, s"no centroids at $indexDir — build the index first")
    val m = CentroidMatrix.normalized(cents)
    newVectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell", nearest_centroid(col("vec"), m))
      .withColumn("seq", lit(allocSeq(indexDir)))
      .write.mode("append").partitionBy("cell").parquet(listsDir(indexDir))
  }

  // ---- Index mutation: logical deletes, upserts, base-table sync --------
  //
  // A persisted IVF / IVF-PQ index is a build-once artifact, but the
  // table it serves keeps moving: rows get DELETED and UPSERTED, and an
  // index that ignores that serves stale ids. Physical list rewrites per
  // delete would be O(corpus); deletes are instead LOGICAL — an
  // (id, dseq) tombstone sidecar under <indexDir>/deletes — and every
  // serve path reads only LIVE entries through [[liveIndexLists]]: a
  // list row dies when a tombstone for its id carries a HIGHER
  // maintenance seq. Appends stamp a fresh seq, so upsert =
  // delete (shadow everything older) + append (the replacement, higher
  // seq) — the generation-shadowing contract the engine's own row-key
  // tombstones use (StateTransaction.Merge). [[vacuumIndex]] physically
  // rewrites the lists when the tombstone fraction warrants, like the
  // table-level GC; [[syncIndexWithTable]] drives the whole loop from
  // the base table's change feed. Maintenance ops are single-writer
  // (one maintenance job per index — the FAISS operational shape);
  // serving stays concurrent (parquet immutability: a serve sees files
  // from before or after a maintenance commit, both consistent) —
  // INCLUDING across [[vacuumIndex]]: generations are versioned
  // directories behind a meta pointer, the vacuum writes the next
  // generation and flips the pointer, and the pre-flip generation
  // survives as a grace copy until the following vacuum, so an
  // in-flight serve never loses its files mid-read.

  /** Maintenance state of a mutable persisted index: the next
    * maintenance seq to stamp, the base-table state version the
    * index has absorbed (0 = never synced / not table-fed), and the
    * live tombstone row count (-1 = unknown → serve paths fall back to
    * counting delete-file footers). The count is maintained at
    * delete/vacuum time — which are single-writer — so the serve path's
    * broadcast-vs-shuffle decision ([[liveIndexLists]]) reads one meta
    * field instead of opening every delete file's footer per plan
    * build (a per-query driver stall once deletes accumulate between
    * vacuums). A crash between the tombstone append and the meta
    * update leaves the count stale-low until the next delete — that
    * only skews the broadcast-size heuristic, never the served rows.
    */
  final case class IndexMeta(nextSeq: Long, lastSyncedVersion: Long,
      tombstoneRows: Long = -1L, listsVersion: Long = 0L)

  private def metaPath(indexDir: String) = s"$indexDir/_index_meta.json"

  // ---- Versioned list/delete directories ------------------------------
  //
  // Generation v of an index lives in listsDirName(v)/deletesDirName(v);
  // v=0 keeps the legacy plain names so pre-versioning indexes read
  // unchanged. The CURRENT generation is the meta's `listsVersion`
  // pointer; [[vacuumIndex]] writes generation v+1 and FLIPS THE POINTER
  // instead of renaming the live directory — the swap a reader could
  // previously land inside (FileNotFoundException) no longer exists.
  // The PREVIOUS generation is kept as a grace copy for serves that
  // resolved the pointer before the flip (generation v-1 is deleted at
  // the flip to v+1), so only a serve that stalls across TWO vacuums can
  // lose its files.
  private def listsDirName(v: Long): String =
    if (v == 0L) "lists" else s"lists.v$v"
  private def deletesDirName(v: Long): String =
    if (v == 0L) "deletes" else s"deletes.v$v"

  /** The index's current generation: the meta pointer, or — when the
    * meta is missing (partial restore) — the highest versioned lists
    * dir present on disk.
    */
  private[vectors] def currentListsVersion(indexDir: String): Long =
    if (graft.meta.GraftFS.exists(metaPath(indexDir)))
      readIndexMeta(indexDir).listsVersion
    else {
      val vs = graft.meta.GraftFS.list(indexDir).map(_.getPath.getName)
        .collect {
          case n if n.startsWith("lists.v") && n.length > 7 &&
            n.drop(7).forall(_.isDigit) => n.drop(7).toLong
        }
      if (vs.isEmpty) 0L else vs.max
    }

  private[vectors] def listsDir(indexDir: String): String =
    s"$indexDir/${listsDirName(currentListsVersion(indexDir))}"
  private[vectors] def deletesDir(indexDir: String): String =
    s"$indexDir/${deletesDirName(currentListsVersion(indexDir))}"

  def readIndexMeta(indexDir: String): IndexMeta =
    if (!graft.meta.GraftFS.exists(metaPath(indexDir))) {
      // meta missing but lists carrying maintenance seqs exist (deleted
      // sidecar, partial restore): restarting nextSeq at 1 would mint
      // tombstones that shadow NOTHING (dseq <= every existing seq) —
      // deletes would silently stop working. Derive from the lists.
      def maxSeqIn(dir: String, field: String): Long =
        if (!graft.meta.GraftFS.exists(dir)) 0L
        else try {
          val spark = org.apache.spark.sql.SparkSession.active
          val df = spark.read.parquet(dir)
          if (!df.columns.contains(field)) 0L
          else Option(df.agg(max(coalesce(col(field), lit(0L)))).head().get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
        } catch {
          // dir exists but holds no parquet files (partial restore):
          // schema inference throws — treat as "no seqs recorded"
          case _: org.apache.spark.sql.AnalysisException => 0L
        }
      val v = currentListsVersion(indexDir)
      val next = math.max(maxSeqIn(s"$indexDir/${listsDirName(v)}", "seq"),
        maxSeqIn(s"$indexDir/${deletesDirName(v)}", "dseq")) + 1L
      IndexMeta(next, 0L, tombstoneRows = -1L, listsVersion = v)
    } else {
      val s = graft.meta.GraftFS.readString(metaPath(indexDir))
      def f(k: String): Long =
        s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s).getOrElse(
          throw new IllegalStateException(
            s"corrupt ${metaPath(indexDir)}: missing '$k' in: ${s.take(200)}")
        ).group(1).toLong
      // optional fields (metas written before them get the defaults)
      def opt(k: String, dflt: Long): Long =
        s"""\"$k\":(-?\\d+)""".r.findFirstMatchIn(s)
          .map(_.group(1).toLong).getOrElse(dflt)
      IndexMeta(f("nextSeq"), f("lastSyncedVersion"),
        opt("tombstoneRows", -1L), opt("listsVersion", 0L))
    }

  private def writeIndexMeta(indexDir: String, m: IndexMeta): Unit = {
    // tmp-file + rename: GraftFS.writeBytes truncates in place, so a
    // crash mid-write would leave a corrupt meta and brick maintenance
    val tmp = s"${metaPath(indexDir)}.tmp"
    graft.meta.GraftFS.writeString(tmp,
      s"""{"nextSeq":${m.nextSeq},"lastSyncedVersion":${m.lastSyncedVersion},""" +
        s""""tombstoneRows":${m.tombstoneRows},"listsVersion":${m.listsVersion}}""")
    val (fs, dst) = graft.meta.GraftFS.resolve(metaPath(indexDir))
    fs.delete(dst, false)
    graft.meta.GraftFS.rename(new org.apache.hadoop.fs.Path(tmp), dst, fs)
  }

  private def allocSeq(indexDir: String): Long = {
    val m = readIndexMeta(indexDir)
    writeIndexMeta(indexDir, m.copy(nextSeq = m.nextSeq + 1))
    m.nextSeq
  }

  /** Tombstone rows above which [[liveIndexLists]] stops broadcasting
    * the delete set and lets the anti-join shuffle instead: a broadcast
    * costs driver collect + per-executor copies, so an unbounded one is
    * a scale-killer once deletes accumulate (20% dead on a 10B-row index
    * is a 2B-row "broadcast"). Counted from the delete files' parquet
    * FOOTERS — metadata already on disk, no data pass. Overridable via
    * `graft.index.tombstoneBroadcastLimit` (session conf).
    */
  val TombstoneBroadcastLimit: Long = 1000000L

  /** Test hook: serve-plan builds that fell back to footer-counting the
    * delete files because no meta-tracked count was available.
    */
  private[vectors] val serveFooterScans =
    new java.util.concurrent.atomic.AtomicLong()

  private def parquetRowCount(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Long =
    graft.meta.GraftFS.list(dir)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => graft.exec.ParquetOpen.rowCount(f.getPath, conf)).sum

  /** The index's LIVE inverted-list rows: lists minus tombstone-shadowed
    * entries. The anti-join BROADCASTS the delete set only while its
    * footer-counted row total is under [[TombstoneBroadcastLimit]];
    * past that it runs as a plain (shuffled) anti-join, so serve cost
    * degrades to one extra shuffle instead of an unbounded driver
    * collect. The cell-pruned scan shape of the serve paths is unchanged
    * (the filter composes with partition pruning).
    */
  def liveIndexLists(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    // ONE meta read pins the generation AND carries the tombstone count:
    // the (lists, deletes) pair of a single generation is always
    // mutually consistent, even while a vacuum is flipping the pointer
    val meta =
      if (graft.meta.GraftFS.exists(metaPath(indexDir)))
        Some(readIndexMeta(indexDir))
      else None
    val v = meta.map(_.listsVersion).getOrElse(currentListsVersion(indexDir))
    val raw = spark.read.parquet(s"$indexDir/${listsDirName(v)}")
    val lists =
      if (raw.columns.contains("seq"))
        raw.withColumn("seq", coalesce(col("seq"), lit(0L)))
      else raw.withColumn("seq", lit(0L)) // pre-field index: all build-gen
    val delDir = s"$indexDir/${deletesDirName(v)}"
    if (!graft.meta.GraftFS.exists(delDir)) lists
    else {
      val limit = spark.conf.getOption("graft.index.tombstoneBroadcastLimit")
        .map(_.toLong).getOrElse(TombstoneBroadcastLimit)
      // broadcast-vs-shuffle sizing: prefer the meta-tracked count
      // (one small-file read) over opening every delete file's footer
      // per plan build — the footer scan is the fallback for indexes
      // whose meta predates the field (or was never written)
      val tombRows = meta.map(_.tombstoneRows).getOrElse(-1L) match {
        case n if n >= 0L => n
        case _ =>
          serveFooterScans.incrementAndGet()
          parquetRowCount(delDir, spark.sparkContext.hadoopConfiguration)
      }
      val small = tombRows <= limit
      val dels0 = spark.read.parquet(delDir)
        .groupBy(col("id").as("did")).agg(max("dseq").as("dseq"))
      val dels = if (small) broadcast(dels0) else dels0
      lists.join(dels,
        lists("id") === col("did") && lists("seq") < col("dseq"), "left_anti")
    }
  }

  /** LOGICAL delete of ids from a persisted [[buildIvfIndex]] /
    * [[buildIvfPqIndex]] index: O(deleted ids) tombstone append, no list
    * rewrite. Serve paths stop returning them immediately.
    */
  def deleteFromIndex(ids: DataFrame, idCol: String, indexDir: String): Unit = {
    val s = allocSeq(indexDir)
    val delDir = deletesDir(indexDir)
    ids.select(col(idCol).as("id")).distinct()
      .withColumn("dseq", lit(s))
      .coalesce(1)
      .write.mode("append").parquet(delDir)
    // maintain the serve path's tombstone count: one footer pass here
    // (maintenance is single-writer and O(delete files)) replaces one
    // per SERVE-plan build in liveIndexLists
    val total = parquetRowCount(delDir,
      ids.sparkSession.sparkContext.hadoopConfiguration)
    writeIndexMeta(indexDir, readIndexMeta(indexDir).copy(tombstoneRows = total))
  }

  /** Physically rewrite the inverted lists to live-only rows and retire
    * the tombstone sidecar — run when the tombstone fraction makes the
    * serve-time anti-join or the dead-row IO worth reclaiming. Returns
    * the live row count.
    *
    * Generation flip, not a rename swap: the live rows are written to
    * the NEXT generation's directory, then the meta pointer flips —
    * the previously-served directory is never renamed or removed by
    * this call, so a serve that resolved the pointer before the flip
    * keeps reading a complete (lists, deletes) generation. Only the
    * generation BEFORE that one is reclaimed here (the grace
    * discipline documented at [[listsDirName]]). Crash-safe at every
    * step: a crash before the pointer flip leaves an orphan next-gen
    * directory that the next vacuum simply overwrites; the pointer
    * flip itself is the tmp-file+rename meta write.
    */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String): Long = {
    val m = readIndexMeta(indexDir) // derives (and pins) the generation if meta is missing
    val cur = m.listsVersion
    val nextDir = s"$indexDir/${listsDirName(cur + 1)}"
    liveIndexLists(spark, indexDir)
      .write.mode("overwrite").partitionBy("cell").parquet(nextDir)
    writeIndexMeta(indexDir,
      m.copy(listsVersion = cur + 1, tombstoneRows = 0L))
    // reclaim the generation BEHIND the grace copy (gen `cur` stays for
    // in-flight serves pinned to the pre-flip pointer)
    if (cur >= 1) {
      graft.meta.GraftFS.deleteRecursive(s"$indexDir/${listsDirName(cur - 1)}")
      graft.meta.GraftFS.deleteRecursive(s"$indexDir/${deletesDirName(cur - 1)}")
    }
    spark.read.parquet(nextDir).count()
  }

  /** Build a persisted IVF index FROM a graft table and record the
    * table version it reflects, so [[syncIndexWithTable]] can keep it
    * consistent incrementally.
    */
  def buildIvfIndexFromTable(table: graft.table.GraftTable, idCol: String,
      vecCol: String, indexDir: String, nCentroids: Int = 16,
      lloydIters: Int = 8, seed: Long = 42L): Unit = {
    val v = table.store.currentVersion
    buildIvfIndex(table.toDF.select(col(idCol), col(vecCol)), idCol, vecCol,
      indexDir, nCentroids, lloydIters, seed)
    // keep the build's meta (nextSeq/tombstones/generation pointer) and
    // stamp only the synced table version on top
    writeIndexMeta(indexDir,
      readIndexMeta(indexDir).copy(lastSyncedVersion = v))
  }

  /** Reconcile a persisted index with its base table's mutations since
    * the last sync — the DELETE/UPSERT consistency loop: reads the
    * table's batch CDC feeds ([[graft.table.GraftTable.changesBetween]] /
    * `deletedKeysBetween`) over the unsynced version window, shadows
    * every touched id, re-appends the ids whose latest event is an
    * insert (with their CURRENT vector), and records the new synced
    * version. Cost is O(changed rows) — never a base-table or index
    * scan. Insert-vs-delete races inside the window resolve by
    * (commit version, commit seq), put winning ties (the engine's
    * merge-tombstone convention). Crash-safe at every step: a re-run
    * re-shadows and re-appends at higher seqs, leaving one live copy.
    * Returns the synced version.
    */
  def syncIndexWithTable(table: graft.table.GraftTable, idCol: String,
      vecCol: String, indexDir: String, pq: Boolean = false): Long = {
    import org.apache.spark.sql.expressions.Window
    val cur = table.store.currentVersion
    val last = readIndexMeta(indexDir).lastSyncedVersion
    if (cur <= last) return last
    val ins = table.changesBetween(last, cur)
    val dels = table.deletedKeysBetween(last, cur)
    val w = Window.partitionBy(idCol)
      .orderBy(col("_commit_version").desc, col("_commit_seq").desc)
    val latestIns = ins.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val delStamp = dels.groupBy(col(idCol))
      .agg(max(struct(col("_commit_version"), col("_commit_seq"))).as("_d"))
    val winners = latestIns.join(delStamp, Seq(idCol), "left")
      .filter(col("_d").isNull ||
        struct(col("_commit_version"), col("_commit_seq")) >= col("_d"))
      .select(col(idCol), col(vecCol))
    val touched = ins.select(col(idCol)).union(dels.select(col(idCol))).distinct()
    if (!touched.isEmpty) {
      deleteFromIndex(touched, idCol, indexDir)
      if (!winners.isEmpty) {
        if (pq) appendToIvfPqIndex(winners, idCol, vecCol, indexDir)
        else appendToIvfIndex(winners, idCol, vecCol, indexDir)
      }
    }
    writeIndexMeta(indexDir,
      readIndexMeta(indexDir).copy(lastSyncedVersion = cur))
    cur
  }

  /** Index health for the re-train trigger: per-cell occupancy of the
    * inverted lists (parquet footer counts — no vector decode). `skew`
    * is max-cell over mean-cell across the TRAINED cell count (a cell
    * every vector drifted away from still divides the mean), so a
    * value near 1 means balanced lists and probe cost ≈
    * nprobe/nCentroids of the corpus; a skewed value means appended
    * data has outgrown the trained quantizer and queries probing the
    * hot cell pay for it — rebuild when `needsRetrain` fires.
    */
  final case class IvfIndexStats(cells: Int, totalVectors: Long,
      maxCell: Long, minCell: Long, skew: Double,
      /** Physical list rows shadowed by delete/upsert tombstones —
        * dead IO every probe of their cell still pays until
        * [[vacuumIndex]] reclaims them.
        */
      deadRows: Long = 0L) {
    def needsRetrain(maxSkew: Double = 4.0): Boolean = skew > maxSkew
    def deadFraction: Double =
      if (totalVectors + deadRows == 0) 0.0
      else deadRows.toDouble / (totalVectors + deadRows)
    /** Vacuum when dead rows dominate as a FRACTION (dead IO per probe)
      * OR in ABSOLUTE terms (`maxDeadRows`, default = the
      * [[TombstoneBroadcastLimit]]): on a 10B-row index 20% dead is 2B
      * tombstones — far past where the serve anti-join stopped
      * broadcasting — so the absolute arm triggers reclamation long
      * before the fraction does.
      */
    def needsVacuum(maxDeadFraction: Double = 0.2,
        maxDeadRows: Long = TombstoneBroadcastLimit): Boolean =
      deadFraction > maxDeadFraction || deadRows > maxDeadRows
  }

  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): IvfIndexStats = {
    import spark.implicits._
    val k = spark.read.parquet(s"$indexDir/centroids").count().toInt
    val physical = spark.read.parquet(listsDir(indexDir)).count()
    // occupancy over LIVE rows: a cell full of tombstoned entries is an
    // empty list for probe-recall purposes (the dead IO is reported
    // separately as deadRows → needsVacuum)
    val sizes = liveIndexLists(spark, indexDir)
      .groupBy("cell").count().select("count").as[Long].collect()
    val total = sizes.sum
    val maxC = if (sizes.isEmpty) 0L else sizes.max
    // cells with no resident vectors count as empty lists
    val minC = if (sizes.length < k) 0L else sizes.min
    val mean = if (k == 0) 0.0 else total.toDouble / k
    IvfIndexStats(k, total, maxC, minC, if (mean == 0) 0.0 else maxC / mean,
      deadRows = physical - total)
  }

  /** Serve kNN from a persisted [[buildIvfIndex]] index: rank cells
    * against the tiny centroids table, then scan ONLY the `nprobe`
    * probed cell directories (partition-pruned) and exact-rescore.
    */
  def knnIvfIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      query: DataFrame, queryVecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val qCells = query.select(col(queryVecCol).as("q"))
      .crossJoin(broadcast(cents))
      .select(col("cell"), cosine_sim(col("q"), col("centroid")).as("sim"))
      .orderBy(col("sim").desc, col("cell"))
      .limit(nprobe)
      .select("cell").collect().map(_.getInt(0)).toSeq
    liveIndexLists(spark, indexDir)
      .filter(col("cell").isin(qCells: _*))
      .crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("vec"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** IVF query against pre-trained centroids (the serving-path shape: a
    * production deployment trains once, persists the matrix, and serves
    * many queries from it).
    */
  def knnIvfTrained(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val m = CentroidMatrix.normalized(centroids)
    val assigned = v.select(col("id"), nearest_centroid(col("v"), m).as("cell"))
    val centDf = centroids.indices.map(c => (c, m.row(c))).toDF("c", "cv")
    val qCells = query.select(col(queryVecCol).as("q"))
      .crossJoin(broadcast(centDf))
      .select(col("c"), cosine_sim(col("q"), col("cv")).as("sim"))
      .orderBy(col("sim").desc, col("c"))
      .limit(nprobe)
      .select(col("c").as("cell"))
    val candidates = assigned.join(broadcast(qCells), "cell").select("id")
    candidates.join(v, "id")
      .crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** IVF-SQ8 kNN: IVF cell partitioning (trained centroids, codegen
    * shuffle-free assignment) with SQ8-compressed in-cell scoring —
    * the training-free compressed index: each vector stores one double
    * scale + dim int8 codes (4× smaller than floats, no codebook
    * training unlike PQ), serving probes the query's nprobe nearest
    * cells, scores ONLY those cells' code rows with the exact-integer
    * [[graft.functions.Sq8Dot]] byte-loop, keeps the `rerank` best by
    * approximate inner product, and exact-rescans just those. At 100 TB
    * the probed fraction bounds IO like v4 and the codes quarter the
    * bytes like v11 — the faiss IVF-SQ composition.
    */
  def knnIvfSq8(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      centroids: Array[Array[Double]], nprobe: Int, rerank: Int): DataFrame = {
    import graft.functions.Sq8Expressions._
    val spark = vectors.sparkSession
    import spark.implicits._
    requireSingleQuery(query, "knnIvfSq8")
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val m = CentroidMatrix.normalized(centroids)
    // the "index": cell + codes + scale per vector (one map pass)
    val coded = v.select(col("id"), col("v"),
      nearest_centroid(col("v"), m).as("cell"),
      sq8_encode(col("v")).as("cv"), sq8_scale(col("v")).as("s"))
    val centDf = centroids.indices.map(c => (c, m.row(c))).toDF("c", "cv")
    val qCells = query.select(col(queryVecCol).as("q"))
      .crossJoin(broadcast(centDf))
      .select(col("c"), cosine_sim(col("q"), col("cv")).as("sim"))
      .orderBy(col("sim").desc, col("c"))
      .limit(nprobe)
      .select(col("c").as("cell"))
    val qCode = query.select(sq8_encode(col(queryVecCol)).as("cq"),
      sq8_scale(col(queryVecCol)).as("qs"))
    val shortlist = coded.join(broadcast(qCells), "cell")
      .crossJoin(broadcast(qCode))
      .select(col("id"), col("v"),
        when(col("s") > 0 && col("qs") > 0,
          sq8_dot(col("cv"), col("cq")).cast("double") / (col("s") * col("qs")))
          .otherwise(lit(0.0)).as("approx"))
      .orderBy(col("approx").desc, col("id"))
      .limit(rerank)
    shortlist
      .crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Exact all-pairs with cosine >= threshold — brute self-join.
    * O(n²): test-oracle / small-input use ONLY; the verified scale path
    * is [[nearDupPairsLsh]].
    */
  def nearDupPairsBrute(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine_sim(col("a.v"), col("b.v")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding near-dup pairs above a cosine threshold via LSH
    * bucketing: explode each vector into `tables` bucket keys, equality
    * self-join per bucket (shuffle carries (bucket, id) only until the
    * candidate verify), exact-cosine rescore, distinct. No cartesian
    * anywhere — same shape as `Dedup.simhashPairs`.
    *
    * Recall: a pair at cosine s collides in one b-bit table with
    * p = (1 - arccos(s)/π)^b; over T tables recall = 1-(1-p)^T.
    * With the defaults (b=8, T=12) recall at s≥0.8 is ≥0.996 and climbs
    * toward 1 for nearer pairs; planes are deterministic (hash-derived)
    * so results are reproducible run to run.
    */
  def nearDupPairsLsh(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8, tables: Int = 12,
      maxBucket: Int = 10000): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val keyed = v.select(col("id"),
        explode(bucketKeys(col("v"), bits, tables)).as("s"))
    // degenerate-bucket guard: a bucket of k vectors emits k² join rows;
    // a pair is lost only if all `tables` of its shared buckets are
    // oversize (cluster that size => exact/embedding dedup first)
    val smallBuckets = keyed.groupBy("s").agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") <= maxBucket).select("s")
    val capped = keyed.join(smallBuckets, Seq("s"))
    val candidates = capped.as("a").join(capped.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(v.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .select(col("id_a"), col("id_b"), cosine_sim(col("v_a"), col("v_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Plain-L2 driver-side k-means for PQ sub-codebooks: deterministic
    * maximin init (first center = the point with max L2 norm, each next
    * = the point farthest from its nearest chosen center; ties toward
    * the lowest index — no RNG, so reruns agree), then Lloyd. Unlike
    * [[localKmeans]] these points are NOT unit vectors (they are d/m-dim
    * subvectors of unit vectors), so cost is squared euclidean and means
    * are not re-normalized.
    */
  private def localKmeansL2(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val n = points.length
    val kk = math.min(k, n)
    val dim = points.head.length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = new Array[Int](kk)
    chosen(0) = points.indices.maxBy(i => (dotD(points(i), points(i)), -i))
    val minCost = Array.fill(n)(Double.MaxValue)
    var c = 0
    while (c + 1 < kk) {
      var i = 0
      while (i < n) {
        val d = dist2(points(i), points(chosen(c)))
        if (d < minCost(i)) minCost(i) = d
        i += 1
      }
      var best = 0; var bestScore = -1.0
      i = 0
      while (i < n) {
        if (minCost(i) > bestScore) { bestScore = minCost(i); best = i }
        i += 1
      }
      chosen(c + 1) = best
      c += 1
    }
    var cents = chosen.map(points(_).clone())
    var it = 0
    var moved = true
    while (it < iters && moved) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val tot = new Array[Long](kk)
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue
        var j = 0
        while (j < kk) {
          val d = dist2(points(i), cents(j))
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        var p = 0
        while (p < dim) { sums(best)(p) += points(i)(p); p += 1 }
        tot(best) += 1
        i += 1
      }
      moved = false
      val next = cents.map(_.clone())
      var j = 0
      while (j < kk) {
        if (tot(j) > 0) {
          val m = sums(j).map(_ / tot(j))
          if (!java.util.Arrays.equals(m, cents(j))) { next(j) = m; moved = true }
        }
        j += 1
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Train PQ codebooks on a deterministic bounded sample — the
    * FAISS-standard recipe (codebooks train on ~10⁴–10⁶ sampled vectors
    * regardless of corpus size; encoding is the distributed pass). The
    * sample is hash-ordered (`xxhash64(id, seed)`) so every rerun draws
    * the same rows, vectors are L2-normalized to match [[PqOps.encode]],
    * and each of the `m` subspaces gets an independent deterministic
    * L2 k-means ([[localKmeansL2]]). Driver memory is O(sampleSize ×
    * dim) — bounded, documented.
    */
  def trainPqCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, sampleSize: Int = 65536, iters: Int = 20,
      seed: Long = 42L): graft.functions.PqCodebooks = {
    import org.apache.spark.sql.Row
    val sample: Array[Array[Double]] = vectors
      .select(col(idCol).cast("long").as("id"), toDouble(col(vecCol)).as("v"))
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(sampleSize)
      .collect() // bounded by sampleSize — the PQ training sample
      .map { case Row(_, v: scala.collection.Seq[_]) =>
        normalize(v.asInstanceOf[scala.collection.Seq[Double]].toArray)
      }
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val flat = new Array[Double](m * ksub * dsub)
    var j = 0
    while (j < m) {
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      val cents = localKmeansL2(sub, ksub, iters)
      var c = 0
      while (c < ksub) {
        // fewer distinct points than ksub leaves the tail codewords at the
        // last trained row — harmless (never nearest) but keep the layout full
        val row = cents(math.min(c, cents.length - 1))
        System.arraycopy(row, 0, flat, (j * ksub + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    graft.functions.PqCodebooks(flat, m, ksub)
  }

  /** ADC lookup table for one (driver-side) query vector: entry (j, c) =
    * dot(normalized query's subspace j, codeword (j, c)), so summing the
    * entries a vector's codes select approximates cos(query, vector).
    */
  def adcTable(queryVec: Array[Double], cb: graft.functions.PqCodebooks): graft.functions.PqDistTable = {
    val q = normalize(queryVec)
    val dsub = cb.dsub
    val flat = new Array[Double](cb.m * cb.ksub)
    var j = 0
    while (j < cb.m) {
      var c = 0
      while (c < cb.ksub) {
        val off = (j * cb.ksub + c) * dsub
        var s = 0.0
        var d = 0
        while (d < dsub) {
          val x = if (j * dsub + d < q.length) q(j * dsub + d) else 0.0
          s += x * cb.flat(off + d)
          d += 1
        }
        flat(j * cb.ksub + c) = s
        c += 1
      }
      j += 1
    }
    graft.functions.PqDistTable(flat, cb.ksub)
  }

  /** Encode a corpus to (id, codes) — the distributed one-pass build of
    * the compressed representation (64-dim float → `m` bytes, 32×).
    */
  def pqEncodeAll(vectors: DataFrame, idCol: String, vecCol: String,
      cb: graft.functions.PqCodebooks): DataFrame =
    vectors.select(col(idCol).as("id"),
      graft.functions.PqExpressions.pq_encode(col(vecCol), cb).as("codes"))

  /** PQ approximate kNN with exact re-rank: ADC-score every encoded
    * vector (m table lookups per row, whole-stage codegen), take the
    * `rerank` best as candidates (TakeOrderedAndProject — per-partition
    * heap, no global sort), then exact-cosine rescore only those and
    * return the top k. At 100 TB the codes relation is the scan: 8
    * bytes/vector instead of 256, so the full-corpus ADC pass reads
    * ~3% of the raw bytes, and only `rerank` full vectors are touched.
    *
    * Recall comes from rerank ≫ k absorbing quantization error;
    * VectorsSpec gates recall@10 ≥ 0.9 on a query panel, and the driver
    * row's oracle is the exact brute-force top-k (the v4 playbook).
    */
  def knnPq(vectors: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      cb: graft.functions.PqCodebooks, rerank: Int = 64): DataFrame = {
    requireSingleQuery(query, "knnPq")
    import org.apache.spark.sql.Row
    val qVec = query.select(toDouble(col(queryVecCol)).as("q")).head() match {
      case Row(v: scala.collection.Seq[_]) =>
        v.asInstanceOf[scala.collection.Seq[Double]].toArray
    }
    val table = adcTable(qVec, cb)
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val codes = pqEncodeAll(vectors, idCol, vecCol, cb)
    val cands = codes
      .select(col("id"), graft.functions.PqExpressions.pq_adc(col("codes"), table).as("approx"))
      .orderBy(col("approx").desc, col("id"))
      .limit(math.max(rerank, k))
      .select("id")
    cands.join(v, Seq("id"))
      .crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("v"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Train RESIDUAL PQ codebooks against a trained coarse quantizer —
    * the IVFADC recipe (Jégou '11 §III): on the deterministic bounded
    * sample, each vector is normalized, assigned to its nearest coarse
    * centroid, and the codebooks learn the RESIDUAL `v̂ − c(v)` per
    * subspace. Residuals are far smaller than the vectors themselves
    * once the coarse quantizer has absorbed the cluster structure, so
    * the same m×ksub code budget buys a much finer quantization than
    * flat PQ — which is exactly why the composed index is the standard
    * 100-TB ANN architecture.
    */
  def trainPqResidualCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
      cents: graft.functions.CentroidMatrix, m: Int = 16, ksub: Int = 16,
      sampleSize: Int = 65536, iters: Int = 20,
      seed: Long = 42L): graft.functions.PqCodebooks = {
    import org.apache.spark.sql.Row
    val sample: Array[Array[Double]] = vectors
      .select(col(idCol).cast("long").as("id"), toDouble(col(vecCol)).as("v"))
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(sampleSize)
      .collect() // bounded by sampleSize — the PQ training sample
      .map { case Row(_, v: scala.collection.Seq[_]) =>
        normalize(v.asInstanceOf[scala.collection.Seq[Double]].toArray)
      }
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val cdim = cents.dim
    // residual per sample point against its own coarse cell
    val residuals = sample.map { v =>
      var best = 0; var bd = Double.NegativeInfinity
      var c = 0
      while (c < cents.k) {
        var d = 0.0; var i = 0
        val lim = math.min(dim, cdim)
        while (i < lim) { d += v(i) * cents.flat(c * cdim + i); i += 1 }
        if (d > bd) { bd = d; best = c }
        c += 1
      }
      val r = new Array[Double](dim)
      var i = 0
      while (i < dim) { r(i) = v(i) - (if (i < cdim) cents.flat(best * cdim + i) else 0.0); i += 1 }
      r
    }
    val flat = new Array[Double](m * ksub * dsub)
    var j = 0
    while (j < m) {
      val sub = residuals.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      val cw = localKmeansL2(sub, ksub, iters)
      var c = 0
      while (c < ksub) {
        val row = cw(math.min(c, cw.length - 1))
        System.arraycopy(row, 0, flat, (j * ksub + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    graft.functions.PqCodebooks(flat, m, ksub)
  }

  /** Build and PERSIST the composed IVF-PQ index — the FAISS-style
    * IVFADC layout, the real 100-TB ANN architecture:
    *
    *   <indexDir>/centroids/   (cell, centroid) — the coarse quantizer
    *   <indexDir>/codebooks/   one row (flat, m, ksub) — residual PQ
    *   <indexDir>/lists/       (id, vec, codes) partitioned BY CELL
    *
    * Each cell list carries both the m-byte residual codes (the ADC scan
    * representation — the only column the approximate phase reads,
    * parquet being columnar) and the raw vector (the exact-rerank
    * representation, read only for the rerank candidates' cells). Build
    * is one distributed pass after training: assignment and residual
    * encoding are shuffle-free codegen expressions; the only shuffle is
    * the partitioned write.
    */
  def buildIvfPqIndex(vectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nCentroids: Int = 16, m: Int = 16, ksub: Int = 16,
      lloydIters: Int = 8, sampleSize: Int = 65536,
      seed: Long = 42L): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = trainKmeansCentroids(vectors, idCol, vecCol, nCentroids,
      lloydIters = lloydIters, seed = seed)
    val cm = graft.functions.CentroidMatrix.normalized(cents)
    val cb = trainPqResidualCodebooks(vectors, idCol, vecCol, cm, m, ksub,
      sampleSize = sampleSize, seed = seed)
    cents.indices.map(c => (c, cm.row(c))).toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    Seq((cb.flat.toSeq, cb.m, cb.ksub)).toDF("flat", "m", "ksub")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
    // rebuild semantics as in buildIvfIndex: keep the generation
    // pointer, clear stale tombstones (nextSeq resets to 1)
    val v = currentListsVersion(indexDir)
    vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell", nearest_centroid(col("vec"), cm))
      .withColumn("codes", graft.functions.PqExpressions.pq_encode_residual(
        col("vec"), col("cell"), cm, cb))
      .withColumn("seq", lit(0L))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/${listsDirName(v)}")
    graft.meta.GraftFS.deleteRecursive(s"$indexDir/${deletesDirName(v)}")
    writeIndexMeta(indexDir, IndexMeta(nextSeq = 1L, lastSyncedVersion = 0L,
      tombstoneRows = 0L, listsVersion = v))
  }

  /** Incrementally maintain a persisted [[buildIvfPqIndex]] index — the
    * IVF-PQ sibling of [[appendToIvfIndex]]: appended vectors assign to
    * the EXISTING coarse centroids and residual-encode against the
    * EXISTING codebooks, so the append is one shuffle-free codegen pass
    * plus a parquet append into the cell directories; resident lists
    * are untouched. Recall degrades only as far as the appended data
    * drifts from the trained quantizer — [[ivfIndexStats]] (layout-
    * compatible) watches the occupancy skew and `needsRetrain` calls
    * the rebuild, exactly the FAISS serve-and-retrain-out-of-band
    * pattern.
    */
  def appendToIvfPqIndex(newVectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String): Unit = {
    val spark = newVectors.sparkSession
    val cbRow = spark.read.parquet(s"$indexDir/codebooks").head()
    val cb = graft.functions.PqCodebooks(
      cbRow.getAs[scala.collection.Seq[Double]]("flat").toArray,
      cbRow.getAs[Int]("m"), cbRow.getAs[Int]("ksub"))
    val cents = spark.read.parquet(s"$indexDir/centroids").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    require(cents.nonEmpty, s"no centroids at $indexDir — build the index first")
    val cm = graft.functions.CentroidMatrix.normalized(cents)
    newVectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell", nearest_centroid(col("vec"), cm))
      .withColumn("codes", graft.functions.PqExpressions.pq_encode_residual(
        col("vec"), col("cell"), cm, cb))
      .withColumn("seq", lit(allocSeq(indexDir)))
      .write.mode("append").partitionBy("cell").parquet(listsDir(indexDir))
  }

  /** Serve kNN from a persisted [[buildIvfPqIndex]] index — the IVFADC
    * query path: rank cells against the tiny centroid table (driver
    * math), scan ONLY the `nprobe` probed cell directories
    * (partition-pruned) reading ONLY (id, codes), score each row with
    * `m` table lookups plus the per-cell constant dot(q̂, c), TakeOrdered
    * the `rerank` best, exact-rescore just those vectors, return top-k.
    * At 100 TB the approximate phase reads nprobe/nCentroids of the
    * corpus at m bytes a vector (a ~3% IO fraction twice over); only
    * `rerank` full vectors are ever touched.
    */
  def knnIvfPqIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      query: DataFrame, queryVecCol: String, k: Int, nprobe: Int = 4,
      rerank: Int = 64): DataFrame =
    ivfPqServe(spark, indexDir, None, query, queryVecCol, k, nprobe, rerank)

  /** Filtered IVF-PQ serve — the [[knnIvfIndexFiltered]] sibling on the
    * compressed index: allowed ids broadcast-semi-join into the
    * probed-cell CODES scan, so the filter rides the ~3% IO fraction
    * the ADC phase was already reading; the rerank phase then touches
    * only surviving candidates' full vectors.
    */
  def knnIvfPqIndexFiltered(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, allowedIds: DataFrame, query: DataFrame,
      queryVecCol: String, k: Int, nprobe: Int = 4, rerank: Int = 64): DataFrame =
    ivfPqServe(spark, indexDir,
      Some(allowedIds.select(col(allowedIds.columns.head).as("id"))),
      query, queryVecCol, k, nprobe, rerank)

  private def ivfPqServe(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      allowed: Option[DataFrame], query: DataFrame, queryVecCol: String,
      k: Int, nprobe: Int, rerank: Int): DataFrame = {
    requireSingleQuery(query, "knnIvfPqIndex")
    import org.apache.spark.sql.Row
    import spark.implicits._
    val cbRow = spark.read.parquet(s"$indexDir/codebooks").head()
    val cb = graft.functions.PqCodebooks(
      cbRow.getAs[scala.collection.Seq[Double]]("flat").toArray,
      cbRow.getAs[Int]("m"), cbRow.getAs[Int]("ksub"))
    val centRows = spark.read.parquet(s"$indexDir/centroids").orderBy("cell").collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
    val qVec = query.select(toDouble(col(queryVecCol)).as("q")).head() match {
      case Row(v: scala.collection.Seq[_]) =>
        v.asInstanceOf[scala.collection.Seq[Double]].toArray
    }
    val qn = normalize(qVec)
    // rank the coarse cells; carry dot(q̂, c) — the ADC recomposition term
    val probed = centRows.map { case (c, cv) => (c, dotD(qn, cv)) }
      .sortBy { case (c, d) => (-d, c) }.take(nprobe).toSeq
    val table = adcTable(qVec, cb)
    val constDf = probed.toDF("cell", "cconst")
    val pruned = liveIndexLists(spark, indexDir)
      .filter(col("cell").isin(probed.map(_._1): _*))
    val lists = allowed match {
      case Some(ids) => pruned.join(broadcast(ids), Seq("id"), "left_semi")
      case None => pruned
    }
    val cands = lists
      .join(broadcast(constDf), "cell")
      .select(col("id"),
        (graft.functions.PqExpressions.pq_adc(col("codes"), table) + col("cconst")).as("approx"))
      .orderBy(col("approx").desc, col("id"))
      .limit(math.max(rerank, k))
      .select("id")
    // exact rerank: the tiny candidate set broadcasts into a second
    // pruned scan that reads only (id, vec)
    cands.join(lists.select("id", "vec"), Seq("id"))
      .crossJoin(broadcast(query.select(col(queryVecCol).as("q"))))
      .select(col("id"), cosine_sim(col("vec"), col("q")).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Footprint of a persisted IVF-PQ index: physical bytes of the list
    * files against the vector count — the bench's bytes/vector number.
    */
  def ivfPqIndexBytes(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): (Long, Long) = {
    val lists = listsDir(indexDir)
    val (fs, p) = graft.meta.GraftFS.resolve(lists)
    def walk(dir: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(dir).map { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) st.getLen else 0L
      }.sum
    val bytes = walk(p)
    val n = spark.read.parquet(lists).count()
    (bytes, n)
  }

  /** Embedding-cluster dedup (the SemDeDup shape): near-dup pairs from
    * [[nearDupPairsLsh]] → connected components → keep ONE row (the
    * smallest id) per cluster. Pairs alone over-remove — with edges
    * a—b and b—c, pairwise dropping loses both b and c even though a
    * and c may not be near — so, exactly as in the text pipeline's
    * `Dedup.neardupDedup`, the cluster closure is the unit of
    * deduplication. Every stage is bucketed/capped hash joins on id
    * longs; embeddings never ride a shuffle past candidate generation.
    */
  def clusterDedup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8, tables: Int = 12): DataFrame = {
    val pairs = nearDupPairsLsh(vectors, idCol, vecCol, threshold, bits, tables)
    val comp = graft.dedup.Dedup.components(pairs, "id_a", "id_b")
    val losers = comp.filter(col("component") =!= col("id")).select(col("id").as(idCol))
    vectors.join(losers, Seq(idCol), "left_anti")
  }

  /** K-MEANS-PARTITIONED semantic dedup (SemDeDup, Abbas et al. 2023):
    * assign every vector to its nearest centroid (one codegen pass, no
    * shuffle), then prune ONLY within clusters — a row is dropped iff a
    * smaller-id row in the SAME cluster has cosine ≥ `threshold`. The
    * clustering is what makes semantic dedup tractable at 100 TB: the
    * quadratic pair scan is confined to each cluster (for k ≈ √N
    * clusters, ~N instead of N² comparisons), at the documented
    * SemDeDup cost of missing cross-cluster near-dups near centroid
    * boundaries. Pass [[trainCentroids]]' output for the production
    * path, or any fixed [[CentroidMatrix]] for a deterministic gate
    * (the driver row seeds centroids from the first k vectors so the
    * oracle can replay the assignment).
    *
    * The drop rule is the pure "has a smaller-id near neighbor"
    * predicate, not sequential-greedy: it is order-independent (exactly
    * reproducible under any partitioning) and drops a superset of
    * greedy — for a chain a—b—c it removes both b and c, the
    * within-cluster analog of [[clusterDedup]]'s closure semantics.
    * Output: surviving (id, cluster) rows.
    */
  /** Cluster-balanced sampling: an equal per-cluster quota drawn
    * deterministically from each semantic cluster — the topic-balancing
    * curation step (a raw corpus is dominated by its head topics; a
    * balanced subset keeps the tail represented). Assignment is the
    * same shuffle-free codegen nearest-centroid pass semanticDedup
    * uses; the draw inside each cluster orders by the repo-standard
    * Knuth hash of the id (reproducible across runs/engines — no RNG)
    * and rides the mergeable [[graft.functions.TopKAgg]] heap, so the
    * only shuffle is O(clusters × quota) heap state, never the corpus.
    */
  def balancedSample(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: CentroidMatrix, perCluster: Int): DataFrame = {
    import graft.functions.TopKAgg.top_k
    vectors.select(col(idCol).as("id"),
        nearest_centroid(col(vecCol), centroids).as("cluster"))
      .withColumn("h", col("id") * lit(2654435761L) % lit(1000000007L))
      .groupBy("cluster")
      // negate: "quota smallest h" on the greatest-keeping heap
      // (h < 2^30, double-exact — the t39 convention)
      .agg(top_k(-col("h").cast("double"), col("id"), perCluster).as("tk"))
      .select(col("cluster").cast("long").as("cluster"), explode(col("tk")).as("e"))
      .select(col("e.id").as("id"), col("cluster"),
        (-col("e.score")).cast("long").as("h"))
  }

  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: CentroidMatrix, threshold: Double): DataFrame = {
    val assigned = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      nearest_centroid(col(vecCol), centroids).as("cluster"))
    val a = assigned.toDF("id_a", "va", "cluster")
    val b = assigned.toDF("id_b", "vb", "cluster")
    val prunedIds = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") &&
        cosine_sim(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.join(prunedIds, Seq("id"), "left_anti")
      .select(col("id"), col("cluster").cast("long").as("cluster"))
  }
}
