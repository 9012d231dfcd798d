package graft.ops

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines.
  *
  * Strategy ladder (cheapest first), all shuffle-bounded:
  *   1. exact: hash-groupBy on a normalized fingerprint — one shuffle.
  *   2. SimHash: fingerprint + band join — near-dup with tiny state.
  *   3. MinHash+LSH: shingle → signature → band buckets → candidate join →
  *      verified Jaccard. The canonical web-scale near-dedup (the candidate
  *      join is band-bucket-local, never all-pairs).
  *
  * Determinism: every "keep one representative" step keeps the minimum id,
  * so results are stable across partitionings.
  */
object Dedup {

  /** Exact dedup on normalized text: keep the lowest-id row per fingerprint.
    * One shuffle on a 64-bit key; at 100 TB this is a plain hash exchange,
    * no skew risk beyond genuinely-hot duplicates (AQE splits those).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = Text.documentFingerprint(col(textCol))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    docs
      .withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** MinHash-LSH near-duplicate candidate pairs.
    *
    * numHashes signature values split into `bands` bands of `rowsPerBand`;
    * documents sharing any band bucket become candidates; candidates are
    * verified with exact shingle-set Jaccard >= threshold.
    *
    * Scale: the only joins are self-joins on (band, bucketHash) — bucket
    * sizes are bounded by collision probability, so the pair fan-out stays
    * near-linear. Shingle arrays are carried only into the verify join.
    */
  def minhashDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // signature computation is CPU-dense interpreted HOF work — spread a
    // small (single-partition) input across cores before computing.
    // localCheckpoint is a REQUIRED barrier: without it CollapseProject
    // inlines the 64-hash signature into the per-band explode lambda and
    // recomputes it once per band (a silent `bands`× slowdown). Persisting
    // the signature matrix is also the standard LSH practice at scale.
    // eager=false: the barrier comes from capturing one shared physical
    // RDD at build time; the first consuming stage computes and persists
    // it, instead of paying a standalone materialization job up front.
    val withSig = Ops.spreadForCompute(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .withColumn("shingles", array_distinct(Text.wordShingles(col("text"), shingleSize)))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", Text.minHashSignature(col("shingles"), numHashes))
      .localCheckpoint(eager = false)

    // band → bucket key = hash of that band's signature slice. The banded
    // rows carry ONLY (id, band, bucket): shingle arrays in the candidate
    // join would force sort-based dedup and fat shuffles — ids dedup as a
    // hash aggregate, then the (checkpointed) shingles join back for verify.
    val banded = withSig
      .select(
        col("id"),
        explode(
          expr(
            s"transform(sequence(0, ${bands - 1}), " +
              s"b -> named_struct('band', b, 'bucket', xxhash64(cast(b as string), " +
              s"cast(slice(sig, b * $rowsPerBand + 1, $rowsPerBand) as string))))")
        ).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

    val l = banded.alias("l")
    val r = banded.alias("r")
    val candidates = l
      .join(
        r,
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    val sh = withSig.select(col("id"), col("shingles"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard", Text.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-dedup: drop every doc that is a near-duplicate of a lower-id doc
    * (connected via verified MinHash pairs — single-hop, which matches the
    * usual "keep cluster representative" greedy at high thresholds).
    */
  def minhashDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashDupPairs(docs, idCol, textCol, shingleSize, numHashes, bands, threshold)
    val toDrop = pairs.select(col("id_b").as("__drop_id")).distinct()
    docs.join(toDrop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, banded into 4×16-bit
    * chunks (two fingerprints within Hamming distance 3 share at least one
    * chunk); verified by Hamming distance <= maxHamming.
    */
  def simhashDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 2,
      maxHamming: Int = 3): DataFrame = {
    // localCheckpoint: same CollapseProject barrier as minhash — the 64
    // bit-sum aggregates would otherwise be recomputed per 16-bit chunk
    // (lazy for the same reason as minhash: barrier without an extra job)
    val withFp = Ops.spreadForCompute(
        docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .withColumn("sh", Text.wordShingles(col("text"), shingleSize))
      .filter(size(col("sh")) > 0)
      .withColumn("fp", Text.simHash(col("sh")))
      .select("id", "fp")
      .localCheckpoint(eager = false)

    val chunked = withFp.select(
      col("id"),
      col("fp"),
      explode(
        expr("transform(sequence(0, 3), c -> named_struct('chunk', c, " +
          "'ckey', (fp >> (c * 16)) & 65535))")).as("cc"))
      .select(col("id"), col("fp"), col("cc.chunk"), col("cc.ckey"))

    val l = chunked.alias("l")
    val r = chunked.alias("r")
    l.join(
        r,
        col("l.chunk") === col("r.chunk") && col("l.ckey") === col("r.ckey") &&
          col("l.id") < col("r.id"))
      .select(
        col("l.id").as("id_a"),
        col("r.id").as("id_b"),
        Text.hammingDistance64(col("l.fp"), col("r.fp")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs: documents whose embedding
    * vectors have cosine similarity >= threshold. Exact all-pairs form —
    * the oracle baseline; bound the input or use
    * [[embeddingDupPairsLsh]] at scale.
    */
  def embeddingDupPairs(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val v = Ops.spreadForCompute(
      docs.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")))
    val l = v.alias("l")
    val r = v.alias("r")
    l.join(r, col("l.id") < col("r.id"))
      .withColumn("cosine",
        graft.functions.Vectors.cosineSimilarity(col("l.v"), col("r.v")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** LSH-bucketed variant: only vectors sharing a random-hyperplane
    * signature bucket become candidate pairs — near-linear at scale, with
    * recall traded via `numBits` (fewer bits → bigger buckets → higher
    * recall and cost).
    */
  def embeddingDupPairsLsh(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBits: Int,
      dim: Int): DataFrame = {
    // localCheckpoint: same REQUIRED barrier as the minhash path — the
    // signature frame feeds BOTH aliases of the self-join; without the
    // barrier the per-row signature is computed twice (and the plan
    // re-derives it under each join child). Lazy: barrier without a job.
    val v = Ops.spreadForCompute(
        docs.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")))
      .withColumn("sig", graft.functions.Vectors.hyperplaneLshSignature(col("v"), numBits, dim))
      .localCheckpoint(eager = false)
    val l = v.alias("l")
    val r = v.alias("r")
    l.join(r, col("l.sig") === col("r.sig") && col("l.id") < col("r.id"))
      .withColumn("cosine",
        graft.functions.Vectors.cosineSimilarity(col("l.v"), col("r.v")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Drop every vector that is an embedding-near-duplicate of a lower-id
    * vector (keep-min-representative, matching the other dedup ops).
    */
  def embeddingDedup(
      docs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val toDrop = embeddingDupPairs(docs, idCol, vecCol, threshold)
      .select(col("id_b").as("__drop_id")).distinct()
    docs.join(toDrop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Brute n-gram Jaccard similarity over all pairs above a threshold —
    * the exact oracle-checkable baseline the LSH variants approximate.
    * All-pairs: only for bounded inputs (ships with a guard).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // the id<id theta-join runs as a nested loop whose parallelism is the
    // stream side's partition count — a single parquet partition would
    // serialize the whole O(n²) pass onto one core. Spreading the SCAN
    // (only when under-parallel) also moves raw text, not the fatter
    // shingle arrays the old post-shingle repartition shuffled.
    val withSh = Ops.spreadForCompute(
        docs.select(col(idCol).as("id"), col(textCol).as(textCol)))
      .select(
        col("id"),
        array_distinct(Text.wordShingles(col(textCol), shingleSize)).as("sh"))
      .filter(size(col("sh")) > 0)
    val l = withSh.alias("l")
    val r = withSh.alias("r")
    // size-band prefilter: jaccard >= t implies t·|B| <= |A| and t·|A| <= |B|
    // — prunes pairs before the expensive intersect
    val sizeBand =
      size(col("l.sh")) >= size(col("r.sh")) * threshold &&
        size(col("r.sh")) >= size(col("l.sh")) * threshold
    l.join(r, col("l.id") < col("r.id") && sizeBand)
      .select(
        col("l.id").as("id_a"),
        col("r.id").as("id_b"),
        Text.jaccard(col("l.sh"), col("r.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }
}
