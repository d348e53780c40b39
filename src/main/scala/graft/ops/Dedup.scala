package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for web-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
  * bucket-join), SimHash, and n-gram Jaccard verification.
  *
  * Scale notes (100 TB): exact dedup is one shuffle on the 64-hex-char
  * digest (not the document text); MinHash-LSH shuffles only
  * (docId, bandId, bandHash) tuples — signatures are computed in a
  * narrow projection and candidate pairs verified WITHOUT re-reading
  * full text (signature Jaccard), so the wide `text` column never
  * shuffles. Skewed buckets (boilerplate-heavy shingles) are bounded by
  * dropping buckets above `maxBucketSize`, the standard LSH guard. */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // -------------------------------------------------------------- exact

  /** Exact dedup: keep the smallest `idCol` per identical `textCol`.
    * One hash-aggregate shuffle on the digest. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__digest")).orderBy(col(idCol))
    df.withColumn("__digest", sha2(col(textCol), 256))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__digest", "__rn")
  }

  // ------------------------------------------------------------- minhash

  /** Deterministic universal-hash parameters (a, b) for numHashes
    * functions h_i(x) = (a_i * x + b_i) mod p. Seed-fixed (42). a, b < 2^31
    * and x < 2^32 so a*x + b fits in a signed Long without overflow. */
  private val Prime = 4294967311L // smallest prime > 2^32
  private val HashSeed = 42L

  def hashParams(numHashes: Int): Array[(Long, Long)] = {
    val r = new java.util.Random(HashSeed)
    Array.fill(numHashes) {
      val a = 1L + r.nextInt(Int.MaxValue - 1)
      val b = r.nextInt(Int.MaxValue).toLong
      (a, b)
    }
  }

  /** Word k-shingles of a text, hashed to a 32-bit value widened to Long
    * (MurmurHash3 of the joined shingle). Lowercased, whitespace-
    * tokenized. This 32-bit form exists for the MINHASH path only: the
    * universal hash h(x) = (a·x + b) mod p requires x < 2^32 so a·x + b
    * stays inside a signed Long (a < 2^31), and minhash quality does not
    * need a wider domain — per-shingle collisions perturb the signature
    * estimate far less than the 1/numHashes sampling error. Operators
    * where hash equality STANDS IN for shingle equality (duplicate
    * reports, decontamination) must use [[shingleHashes64]] instead. */
  def shingleHashes(text: String, k: Int): Array[Long] = {
    val strings = shingleStrings(text, k)
    val out = new Array[Long](strings.length)
    var i = 0
    while (i < strings.length) {
      out(i) = scala.util.hashing.MurmurHash3.stringHash(strings(i)).toLong & 0xFFFFFFFFL
      i += 1
    }
    out
  }

  /** Word k-shingles hashed to a genuine 64-bit fingerprint: two
    * independent-seed murmur passes packed into one Long (the same
    * construction [[simhash64]] uses). At the 100 TB scale path —
    * billions of distinct shingles — a 32-bit keyspace saturates and
    * collision-inflates duplicate counts and contamination fractions;
    * 64 bits keeps the expected collision count ~(n²/2)/2^64 ≪ 1 at
    * n = 10^9. Used by [[duplicateShingles]] and [[contaminationReport]]
    * where fingerprint equality stands in for shingle equality. */
  def shingleHashes64(text: String, k: Int): Array[Long] = {
    val strings = shingleStrings(text, k)
    val out = new Array[Long](strings.length)
    var i = 0
    while (i < strings.length) {
      val s = strings(i)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
      out(i) = (h1.toLong << 32) | (h2.toLong & 0xFFFFFFFFL)
      i += 1
    }
    out
  }

  /** The k-token shingle strings `shingleHashes` fingerprints (same
    * tokenization — python-split lowercase — and windowing): texts with
    * fewer than k tokens collapse to one whole-string shingle. The
    * hash-free form exists so the exact oracle twin can compare string
    * SETS with DuckDB, where a murmur collision could flip a rounded
    * jaccard's last digit. */
  def shingleStrings(text: String, k: Int): Array[String] = {
    val tokens = graft.analyzers.PyText.splitWs(text.toLowerCase(java.util.Locale.ROOT))
    if (tokens.length < k) {
      if (tokens.isEmpty) Array.empty else Array(tokens.mkString(" "))
    } else {
      val out = new Array[String](tokens.length - k + 1)
      var i = 0
      while (i + k <= tokens.length) {
        out(i) = tokens.slice(i, i + k).mkString(" ")
        i += 1
      }
      out
    }
  }

  /** Exact shingle-set Jaccard over shingle STRINGS (no fingerprint):
    * byte-stable ground truth for `shingle_jaccard_sql`; `ngramJaccard`
    * is the same metric over murmur fingerprints. */
  def shingleJaccardExact(a: String, b: String, k: Int): Double = {
    val sa = shingleStrings(a, k).toSet
    val sb = shingleStrings(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else if (sa.isEmpty || sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  /** MinHash signature of a shingle-hash set. */
  def minhashSignature(shingles: Array[Long], params: Array[(Long, Long)]): Array[Long] = {
    val sig = Array.fill(params.length)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val x = shingles(i)
      var j = 0
      while (j < params.length) {
        val (a, b) = params(j)
        val v = (a * x + b) % Prime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Signature-estimated Jaccard similarity. */
  def signatureJaccard(a: Array[Long], b: Array[Long]): Double = {
    var same = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) same += 1; i += 1 }
    same.toDouble / a.length
  }

  /** Exact n-gram Jaccard between two texts (verification / small-scale):
    * set Jaccard over 64-bit shingle fingerprints — equal to the string-
    * set Jaccard whenever the fingerprints are collision-free on the two
    * documents' shingles (expected at any realistic per-document shingle
    * count with a 64-bit keyspace). */
  def ngramJaccard(a: String, b: String, k: Int): Double = {
    val sa = shingleHashes64(a, k).toSet
    val sb = shingleHashes64(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else if (sa.isEmpty || sb.isEmpty) 0.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  /** Word-shingle length of the MinHash and n-gram Jaccard pipelines. */
  private val ShingleK = 3

  /** MinHash-LSH near-duplicate pairs: returns (id_a, id_b, est_jaccard)
    * for candidate pairs sharing an LSH band bucket, filtered by
    * signature Jaccard >= threshold. The shuffled payload is
    * (id, band, bandHash) + compact signatures — never the text. */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Int = 1000,
      auditGuard: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val params = hashParams(numHashes)
    val bParams = spark.sparkContext.broadcast(params)

    val sigs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, minhashSignature(shingleHashes(if (text == null) "" else text, ShingleK), bParams.value))
      }
      .toDF("id", "sig")

    // band → bucket-join: explode each signature into (band, bandHash)
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandHash")

    // LSH guard: drop degenerate mega-buckets (boilerplate shingles).
    // groupBy-count keeps only the OVERSIZED keys (tiny after the
    // map-side combine) and broadcast-anti-joins them back — the banded
    // rows reach the self-join without the Window form's full
    // shuffle-and-SORT by (band, bandHash).
    val bucketed = dropOversizedBuckets(banded,
      Seq("band", "bandHash"), maxBucketSize, auditGuard)

    val pairs = candidatePairs(bucketed, Seq("band", "bandHash"), "sig")

    // score BEFORE deduplicating across bands: a pair sharing k bands
    // recomputes the O(numHashes) jaccard k times (bounded by `bands`),
    // but the dedup shuffle then carries (id, id, double) rows instead of
    // both 64-long signatures (~40x smaller), and grouping array-free
    // rows is a partial+final HashAggregate — the signature-carrying form
    // forced a SortAggregate over every candidate pair. Sub-threshold
    // pairs are dropped before the shuffle too.
    pairs.as[(Long, Long, Seq[Long], Seq[Long])]
      .map { case (ia, ib, sa, sb) => (ia, ib, signatureJaccard(sa.toArray, sb.toArray)) }
      .toDF("id_a", "id_b", "est_jaccard")
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** MinHash-LSH candidates verified by EXACT n-gram Jaccard (not the
    * signature estimate): candidate (id_a, id_b) pairs join back to the
    * text table by id — the wide text column moves only for the
    * candidate set (tiny vs the corpus), never for the full cross
    * product. The standard two-stage exact-near-dup pipeline. */
  def ngramJaccardDupPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Int = 1000,
      auditGuard: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // candidate generation at a permissive signature threshold
    val cands = minhashDupPairs(df, idCol, textCol, numHashes, bands,
      threshold = math.max(0.0, threshold - 0.2), maxBucketSize, auditGuard)
      .select(col("id_a"), col("id_b"))
    val texts = df.select(col(idCol).cast("long").as("tid"), col(textCol).as("ttext"))
    cands
      .join(texts.withColumnRenamed("tid", "id_a").withColumnRenamed("ttext", "text_a"), "id_a")
      .join(texts.withColumnRenamed("tid", "id_b").withColumnRenamed("ttext", "text_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .map { case (ia, ib, ta, tb) => (ia, ib, ngramJaccard(ta, tb, ShingleK)) }
      .toDF("id_a", "id_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.functions.round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-document exact n-gram duplication report — the discovery
    * stage of substring-level dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": duplicated spans are
    * removed at substring, not document, grain): k-token shingles
    * occurring in at least `minDocs` distinct documents, with document
    * and occurrence counts. Returns (shingle_hash | shingle, n_docs,
    * n_occurrences).
    *
    * Scale shape: one explode + one partial+final hash aggregate; with
    * `hashed = true` (the 100 TB path) the shuffle carries (long, long)
    * rows — never shingle text. The string form exists for inspection
    * and for the exact DuckDB twin (`dup_ngrams_sql`). */
  def duplicateShingles(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2, hashed: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
    val exploded =
      if (hashed)
        src.flatMap { case (id, t) =>
          shingleHashes64(if (t == null) "" else t, k).iterator.map(h => (id, h))
        }.toDF("id", "shingle_hash")
      else
        src.flatMap { case (id, t) =>
          shingleStrings(if (t == null) "" else t, k).iterator.map(s => (id, s))
        }.toDF("id", "shingle")
    val keyCol = if (hashed) "shingle_hash" else "shingle"
    exploded.groupBy(col(keyCol))
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Benchmark-decontamination report (the n-gram overlap check run
    * before training — GPT-3 appendix C style, k-gram containment): for
    * every document in `candidates`, the fraction of its DISTINCT
    * k-token shingles that occur anywhere in `corpus`. Returns
    * (id, n_shingles, n_hit, contamination).
    *
    * Scale shape: the corpus collapses to a distinct shingle-fingerprint
    * set (one narrow aggregate — at 100 TB this is the precomputed
    * "training n-gram index"); candidates explode to distinct
    * (id, fingerprint) rows and a single equi-join + count marks hits.
    * Nothing is all-pairs and no text shuffles with `hashed = true`;
    * the string form feeds the exact DuckDB twin. */
  def contaminationReport(candidates: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int = 8,
      hashed: Boolean = true): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // the two branches keep their NATIVE key type end-to-end: the hashed
    // (100 TB) path distincts/joins on a long fingerprint column — an
    // earlier form stringified it so both branches shared a schema, which
    // carried decimal strings through the operator's hottest shuffle at
    // ~2-3x the bytes of a long
    def explodeShingles(df: DataFrame): DataFrame = {
      val src = df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
        .as[(Long, String)]
      val out =
        if (hashed)
          src.flatMap { case (id, t) =>
            shingleHashes64(if (t == null) "" else t, k).iterator.map(h => (id, h))
          }.toDF("id", "sh")
        else
          src.flatMap { case (id, t) =>
            shingleStrings(if (t == null) "" else t, k).iterator.map(s => (id, s))
          }.toDF("id", "sh")
      out.distinct()
    }
    val corpusSet = explodeShingles(corpus)
      .select(col("sh")).distinct().withColumn("__hit", lit(1))
    explodeShingles(candidates)
      .join(corpusSet, Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("contamination",
        round(col("n_hit").cast("double") / col("n_shingles"), 4))
  }

  // --------------------------------------------- clusters & canonicals

  /** Connected components over near-duplicate pairs by min-label
    * propagation with root hooking and shortcutting, run until no node
    * sees a neighbour label below its own. Each round every node finds
    * the smallest label m among itself and its neighbours; the node and
    * the owner of its label (the node whose id the label is) both take m,
    * then every label jumps to its owner's label. Labels only decrease and
    * always name a node of the same component, so the fixpoint is the
    * component minimum. No bound on the round count is claimed; measured
    * on paths with shuffled ids it is 9 rounds for 1,000 nodes and 16 for
    * 100,000, where min-label propagation alone needs one round per hop.
    * The fixpoint test is a metric observed on the neighbour aggregate,
    * so the last round ends after that aggregate and no round runs a
    * separate convergence job. Returns (id, component). */
  def components(pairs: DataFrame): DataFrame = {
    // localCheckpoint (not just persist): iterative self-joins otherwise
    // grow the logical plan superlinearly and analysis time explodes
    // after a few rounds. On a cluster with an HDFS checkpoint dir,
    // checkpoint() gives the same truncation with fault tolerance.
    val edges = pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint()
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    // a self-edge per node lets the neighbour aggregate read the node's
    // own label too
    val withSelf = edges.union(labels.select(col("id").as("id_a"), col("id").as("id_b")))
    var converged = false
    while (!converged) {
      val below = Observation()
      val hook = withSelf
        .join(labels.select(col("id").as("id_b"), col("component").as("nbr")), "id_b")
        .groupBy(col("id_a"))
        .agg(min(col("nbr")).as("m"),
          min(when(col("id_a") === col("id_b"), col("nbr"))).as("component"))
        .observe(below, count_if(col("m") < col("component")).as("n"))
        .localCheckpoint()
      converged = below.get("n") == 0L
      if (!converged) {
        val hooked = hook
          .select(explode(array(col("id_a"), col("component"))).as("id"), col("m"))
          .groupBy(col("id"))
          .agg(min(col("m")).as("component"))
        labels = hooked
          .join(hooked.select(col("id").as("component"), col("component").as("root")),
            "component")
          .select(col("id"), col("root").as("component"))
          .localCheckpoint()
      }
    }
    labels
  }

  /** End-to-end near-duplicate removal: MinHash-LSH pairs → connected
    * components → keep ONE row per cluster (the smallest id — the
    * deterministic canonical) plus every row that paired with nothing.
    * The anti-join keeps the wide text column out of every shuffle
    * except the final semi/anti joins on ids. */
  def dedupByMinhash(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, auditGuard: Boolean = false): DataFrame = {
    val pairs = minhashDupPairs(df, idCol, textCol, numHashes, bands,
      threshold, auditGuard = auditGuard)
    val comps = components(pairs)
    val losers = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** The LSH candidate self-join, shared by the MinHash, SimHash and
    * embedding-cosine pipelines: every pair of `rows` (columns `id`,
    * `payload` and the bucket `keys`) that agrees on all `keys`, once per
    * shared bucket with id_a < id_b. Returns (id_a, id_b, <payload>_a,
    * <payload>_b); each caller scores, thresholds and deduplicates. */
  private[ops] def candidatePairs(rows: DataFrame, keys: Seq[String],
      payload: String): DataFrame = {
    def side(s: String) = rows.select(keys.map(col) :+ col("id").as(s"id_$s") :+
      col(payload).as(s"${payload}_$s"): _*)
    side("a").join(side("b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col(s"${payload}_a"), col(s"${payload}_b"))
  }

  /** The LSH mega-bucket guard, shared by the MinHash and SimHash
    * pipelines: rows whose bucket key holds more than `maxBucketSize`
    * members are dropped before the candidate self-join (a bucket of m
    * rows contributes m² pairs — one degenerate key, e.g. an all-same
    * boilerplate chunk, otherwise dominates the whole job at corpus
    * scale). The oversized-key list is produced by a partial-aggregated
    * groupBy count (tiny: one row per oversized key) and removed with a
    * broadcast anti-join — no sort, no window. */
  private def dropOversizedBuckets(rows: DataFrame, keys: Seq[String],
      maxBucketSize: Int, auditGuard: Boolean): DataFrame = {
    val oversized = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsize"))
      .filter(col("__bsize") > maxBucketSize)
    // Audit what the guard removes (OPT-IN): a heavy-template corpus
    // (clusters of >maxBucketSize near-identical docs) otherwise passes
    // silently with ZERO pairs for those clusters — a recall hole the
    // caller should see. Opt-in because the stats `.head` is an EAGER
    // Spark action: it runs the full upstream shingle/minhash/banding
    // pass at plan-CONSTRUCTION time, which a pure plan-builder must not
    // do by default. When enabled, `oversized` is persisted first so the
    // expensive upstream pass materializes ONCE — the anti-join below
    // then reads the (tiny: one row per oversized key) cache instead of
    // recomputing the whole pass a second time.
    val guardKeys =
      if (!auditGuard) oversized
      else {
        val cached = oversized
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val stats = cached
          .agg(count(lit(1)).cast("long").as("k"),
            coalesce(sum(col("__bsize")), lit(0L)).cast("long").as("r"))
          .head
        if (stats.getLong(0) > 0)
          log.warn(s"LSH guard dropped ${stats.getLong(0)} oversized bucket(s) " +
            s"covering ${stats.getLong(1)} rows (maxBucketSize=$maxBucketSize); " +
            "near-dup pairs inside those buckets are NOT reported — exact dedup " +
            "still covers byte-identical clones, but near-identical template " +
            "clusters above the bound go undetected")
        cached
      }
    rows.join(broadcast(guardKeys.select(keys.map(col): _*)), keys, "left_anti")
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (weight 1 each). */
  def simhash64(text: String): Long = {
    val tokens = graft.analyzers.PyText.splitWs(if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
    if (tokens.isEmpty) return 0L
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h1 = scala.util.hashing.MurmurHash3.stringHash(t)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c)
      val h = (h1.toLong << 32) | (h2.toLong & 0xFFFFFFFFL)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** SimHash near-dup pairs: bucket by 4 x 16-bit chunks (any identical
    * chunk => candidate, guaranteed for hamming distance <= 3), verify
    * by full hamming distance. Chunk buckets get the same
    * `maxBucketSize` guard as the MinHash bands: only 65,536 values
    * exist per chunk, so at 10⁹ docs an unguarded bucket holds ~15k
    * docs → ~10⁸ candidate pairs per bucket per chunk. Dropping
    * oversized buckets trades recall on pathological chunks (all-zero
    * simhashes of empty docs, template chunks) for a bounded join —
    * the standard LSH guard. */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      auditGuard: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sims = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash64(t)) }
      .toDF("id", "simhash")
    val chunked = sims.select(col("id"), col("simhash"),
      posexplode(expr("transform(sequence(0,3), c -> (simhash >> (c*16)) & 65535)")))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunkVal")
    val guarded = dropOversizedBuckets(chunked, Seq("chunk", "chunkVal"),
      maxBucketSize, auditGuard)
    // verify (codegen'd bit_count) and threshold BEFORE the cross-chunk
    // dedup: the vast majority of candidate pairs fail hamming <= 3, so
    // the dedup shuffle sees only true near-dups
    candidatePairs(guarded, Seq("chunk", "chunkVal"), "simhash")
      .withColumn("hamming", expr("bit_count(simhash_a ^ simhash_b)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
