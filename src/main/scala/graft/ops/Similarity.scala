package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]) — brute-force cosine top-k as the correctness baseline,
  * and a random-hyperplane LSH-bucketed variant as the 100 TB scale path
  * (bucket-join instead of full cross product).
  *
  * All math uses built-in higher-order functions (zip_with / aggregate),
  * staying inside Catalyst codegen — no UDFs. */
object Similarity {

  /** cosine(a, b) as a Column expression over two array<float> columns —
    * kept as the registration-free HOF reference form (specs assert the
    * native expression matches it). */
  def cosineExpr(a: String, b: String): Column = expr(
    s"""aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)
       | / (sqrt(aggregate($a, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double)))
       |    * sqrt(aggregate($b, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double))))""".stripMargin.replace("\n", " "))

  /** The native codegen CosineSim Expression (one fused loop, no
    * per-element lambdas) — the form every hot path below uses. */
  private def nativeCos(df: DataFrame, a: String, b: String): Column = {
    graft.functions.GraftExtensions.register(df.sparkSession)
    graft.functions.GraftExtensions.cosine(col(a), col(b))
  }

  /** Scalar cosine with identical semantics to CosineSim (dot over the
    * zipped prefix, norms over each full array). */
  def cosineScalar(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var sa = 0.0; var sb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; sa += x * x; sb += y * y; i += 1
    }
    while (i < a.length) { val x = a(i).toDouble; sa += x * x; i += 1 }
    i = n
    while (i < b.length) { val y = b(i).toDouble; sb += y * y; i += 1 }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }

  /** Brute-force cosine top-k, scale-safe shape: queries are broadcast
    * and each corpus partition keeps a BOUNDED k-heap per query, so the
    * shuffle carries only numPartitions·Q·k candidate rows into the
    * final exact re-rank — never the N·Q scored cross product (the
    * window-over-everything form was a scale-killer per the round-1
    * plan audit). Output: (query_id, neighbor_id, cos, rank). */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // ids are cast to long for the bounded-heap tie-break ordering; a
    // non-integral id column would silently become null — fail fast instead
    Seq(embeddings, queries).foreach { df =>
      import org.apache.spark.sql.types._
      val dt = df.schema(idCol).dataType
      val integral = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(integral,
        s"bruteForceTopK requires an integral id column '$idCol'; got $dt")
    }
    // queries are small by contract (the broadcast side); driver-side
    // collect is the same bound as the broadcast itself
    val qRows = queries.select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, v.toArray) }
    val bQ = spark.sparkContext.broadcast(qRows)
    val partial = embeddings.select(col(idCol).cast("long"), col(embCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { rows =>
        val qs = bQ.value
        // eviction order: smallest cos first, ties evict the larger id
        // (matches the rank order cos DESC, neighbor_id ASC)
        val heaps = Array.fill(qs.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
            Ordering.by { case (c, id) => (-c, id) }))
        rows.foreach { case (nid, emb) =>
          val v = emb.toArray
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (qid != nid) {
              val c = cosineScalar(qv, v)
              val h = heaps(qi)
              if (h.size < k) h.enqueue((c, nid))
              else {
                val worst = h.head
                if (c > worst._1 || (c == worst._1 && nid < worst._2)) {
                  h.dequeue(); h.enqueue((c, nid))
                }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          val qid = qs(qi)._1
          h.iterator.map { case (c, nid) => (qid, nid, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
    rankTopK(partial, k)
  }

  /** The top `k` of scored (query_id, neighbor_id, cos) rows per query,
    * ranked by cos DESC then neighbor_id ASC: (query_id, neighbor_id,
    * cos, rank). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Exact re-rank behind the bucketed ANN paths: corpus rows
    * (neighbor_id, emb_n, key) meet the broadcast query rows (query_id,
    * emb_q, key) that share a `key` value, are scored by cosine, and the
    * top `k` distinct neighbours per query are kept. Scoring comes before
    * the dedup so the dedup shuffle carries scalars, not embedding
    * vectors (and hash-aggregates instead of sort-aggregating). */
  private def rerankTopK(corpus: DataFrame, queries: DataFrame, key: String,
      k: Int): DataFrame = {
    val cands = corpus.join(broadcast(queries), Seq(key))
      .filter(col("query_id") =!= col("neighbor_id"))
    rankTopK(cands.withColumn("cos", nativeCos(cands, "emb_q", "emb_n"))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** Deterministic random hyperplanes: nPlanes x dim sign matrix. */
  private def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val r = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(if (r.nextBoolean()) 1.0f else -1.0f))
  }

  private val planeSets =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Seq[Array[Array[Float]]]]()

  /** `tables` seeded sets of `nPlanes` random hyperplanes over `dim`
    * coordinates — the embedding's own length — built once per shape in
    * each JVM and shared by every bucket UDF there. */
  private def planeSet(nPlanes: Int, tables: Int, dim: Int): Seq[Array[Array[Float]]] =
    planeSets.computeIfAbsent((nPlanes, tables, dim),
      _ => (0 until tables).map(t => hyperplanes(nPlanes, dim, 42L + t)))

  /** Sign-of-dot-product bucket keys for one embedding across all hash
    * tables. */
  private def signBuckets(planes: Seq[Array[Array[Float]]],
      emb: Seq[Float]): Seq[(Int, Int)] = {
    planes.indices.map { t =>
      var key = 0
      var p = 0
      while (p < planes(t).length) {
        var dot = 0.0; var i = 0
        val plane = planes(t)(p)
        while (i < emb.length && i < plane.length) { dot += emb(i) * plane(i); i += 1 }
        if (dot >= 0) key |= (1 << p)
        p += 1
      }
      (t, key)
    }
  }

  private val DupPlanes = 12
  private val DupTables = 4

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH buckets
    * generate candidates (vectors agreeing on all 12 plane signs in ≥1 of
    * 4 tables), exact cosine verifies. The self-join runs on
    * (table, bucketKey) — never the full N² cross product; near-identical
    * vectors collide with probability ≈ (1 − θ/π)^12 per table. */
  def cosineDupPairs(embeddings: DataFrame, threshold: Double = 0.95,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bucketUdf = udf { (emb: Seq[Float]) =>
      signBuckets(planeSet(DupPlanes, DupTables, emb.length), emb)
    }
    val bucketed = embeddings
      .select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("bucket", explode(bucketUdf(col("emb"))))
    val joined = Dedup.candidatePairs(bucketed, Seq("bucket"), "emb")
    // verify + threshold BEFORE the cross-table dedup: pairs colliding in
    // k tables recompute the O(dim) codegen cosine k times (k ≤ tables),
    // but the dedup shuffle then carries (id, id, cos) rows instead of
    // both embedding vectors, and stays a HashAggregate (array-valued
    // first() forced a SortAggregate over every candidate pair)
    joined
      .withColumn("cos", nativeCos(joined, "emb_a", "emb_b"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  // ------------------------------------------------------------------ IVF

  private val TrainIters = 5

  /** Deterministic k-means coarse quantizer trained on a driver-side
    * sample (seeded init from evenly-spaced sample points, five Lloyd
    * rounds). Sample size stays driver-small; at 100 TB the sample is a
    * `TABLESAMPLE`-style fraction, not the corpus. */
  def trainCentroids(sample: Array[Array[Float]], k: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "empty centroid training sample")
    val dim = sample.head.length
    // evenly-spaced deterministic init (sample order is caller-fixed)
    var centroids = Array.tabulate(math.min(k, sample.length)) { j =>
      sample((j.toLong * sample.length / math.min(k, sample.length)).toInt).clone()
    }
    var it = 0
    while (it < TrainIters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }.toArray
      it += 1
    }
    centroids
  }

  /** Squared distance from `v` to `cent` over their common prefix. */
  private def sqDist(v: Seq[Float], cent: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < cent.length && i < v.length) {
      val diff = v(i) - cent(i); d += diff * diff; i += 1
    }
    d
  }

  /** The closest centroid; ties go to the lowest index. */
  def nearestCentroid(v: Seq[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = sqDist(v, centroids(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `nProbe` closest centroids, nearest first; ties keep index order. */
  private def nearestCentroids(v: Seq[Float], centroids: Array[Array[Float]],
      nProbe: Int): Seq[Int] =
    centroids.indices.map(c => (c, sqDist(v, centroids(c))))
      .sortBy(_._2).take(nProbe).map(_._1)

  private val SampleSize = 2048
  private val SampleMod = 16

  /** IVF-flat ANN: corpus vectors are assigned to their nearest coarse
    * centroid (one narrow projection — at scale this is the partition /
    * clustering key of the stored index); each query probes its `nProbe`
    * closest centroids and re-ranks exactly within those inverted lists.
    * Recall improves with nProbe; nProbe = nCentroids degrades to brute
    * force. Centroids train on up to 2,048 rows ordered by id
    * (deterministic). */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    // Deterministic hash-thinned training sample: the pmod filter keeps
    // ~1/16 of the corpus BEFORE the orderBy+limit (which compiles
    // to TakeOrderedAndProject — per-partition k-heaps, no global sort of
    // the full corpus). Round 1 ordered the whole corpus by id to pick
    // 2048 rows — a full-corpus ordering pass at 100 TB.
    val base = embeddings.select(col(idCol).as("id"), col(embCol).as("emb"))
    val thinned = base
      .filter(pmod(xxhash64(col("id")), lit(SampleMod)) === 0)
      .orderBy(col("id")).limit(SampleSize)
      .collect().map(_.getSeq[Float](1).toArray)
    val sample =
      if (thinned.length >= math.max(nCentroids, 32)) thinned
      else base.orderBy(col("id")).limit(SampleSize) // tiny corpus fallback
        .collect().map(_.getSeq[Float](1).toArray)
    val centroids = trainCentroids(sample, nCentroids)
    val bCent = spark.sparkContext.broadcast(centroids)

    val assignUdf = udf { (emb: Seq[Float]) => nearestCentroid(emb, bCent.value) }
    val probeUdf = udf { (emb: Seq[Float]) =>
      nearestCentroids(emb, bCent.value, nProbe)
    }

    val corpus = embeddings
      .select(col(idCol).as("neighbor_id"), col(embCol).as("emb_n"))
      .withColumn("centroid", assignUdf(col("emb_n")))
    val qs = queries
      .select(col(idCol).as("query_id"), col(embCol).as("emb_q"))
      .withColumn("centroid", explode(probeUdf(col("emb_q"))))

    rerankTopK(corpus, qs, "centroid", k)
  }

  private val AnnPlanes = 8
  private val AnnTables = 8

  /** Query-side multi-probe keys: the query's own bucket per table plus
    * (at multiProbe ≥ 1) every bucket one flipped hyperplane sign away —
    * the standard multi-probe LSH construction (Lv et al., VLDB 2007):
    * a near neighbor that disagrees with the query on exactly one plane
    * still collides, multiplying per-table recall by ~(1 + nPlanes·(1−p))
    * at the cost of nPlanes extra probed buckets per table, WITHOUT
    * growing the stored index (more tables would). Corpus rows keep one
    * bucket per table. */
  private def probeBuckets(planes: Seq[Array[Array[Float]]],
      emb: Seq[Float], multiProbe: Int): Seq[(Int, Int)] = {
    val base = signBuckets(planes, emb)
    if (multiProbe <= 0) base
    else base.flatMap { case (t, key) =>
      (t, key) +: planes(t).indices.map(p => (t, key ^ (1 << p)))
    }
  }

  /** LSH-bucketed ANN: sign-of-dot-product per hyperplane → bucket key;
    * candidates share a bucket in at least one of 8 independent
    * tables (queries also probe hamming-1 buckets when multiProbe ≥ 1);
    * exact cosine re-rank inside buckets. At scale this replaces the
    * O(N·Q) cross product with a bucket-join whose fan-in is bounded by
    * bucket occupancy.
    *
    * Parameter note (measured on the synthetic embeddings): true top-k
    * neighbors here sit at cos 0.33–0.45 (θ ≈ 65–70°, per-plane
    * agreement p ≈ 0.62) — the hard regime for sign-LSH, where the
    * round-3 defaults (12 planes, 4 tables, no probes) collide with
    * probability ~0.003/table and recall was ≈ 0. The shape used here
    * (8 planes, 8 tables, 1-probe by default) gives per-table hit rate
    * ≈ 0.13 and measured recall ≈ 0.6–0.8 while probing a bounded slice
    * of the corpus; `ann_recall` reports the number per run. The plane
    * count should grow with log(N/targetBucketSize) at cluster scale. */
  def lshTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
      multiProbe: Int = 1,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bucketUdf = udf { (emb: Seq[Float]) =>
      signBuckets(planeSet(AnnPlanes, AnnTables, emb.length), emb)
    }
    val probeUdf = udf { (emb: Seq[Float]) =>
      probeBuckets(planeSet(AnnPlanes, AnnTables, emb.length), emb, multiProbe)
    }
    val corpus = embeddings
      .select(col(idCol).as("neighbor_id"), col(embCol).as("emb_n"))
      .withColumn("bucket", explode(bucketUdf(col("emb_n"))))
    val qs = queries
      .select(col(idCol).as("query_id"), col(embCol).as("emb_q"))
      .withColumn("bucket", explode(probeUdf(col("emb_q"))))
    rerankTopK(corpus, qs, "bucket", k)
  }
}
