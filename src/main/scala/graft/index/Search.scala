package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search (SURVEY.md §2.9 V2; prompt: similarity-search
  * family).
  *
  * Brute-force top-k is the exact baseline: one scan, a dot-product
  * expression, and `TakeOrderedAndProject` (no full sort — Spark keeps a
  * per-partition heap of k then merges on the driver). At 100 TB the scan
  * dominates; the scale path is `lshTopK`: bucket vectors by random
  * hyperplane signs (SimHash for cosine), join the query's bucket only,
  * then exact-rank the candidates — turning O(N) per query into
  * O(N / 2^bits) with a partition-pruned parquet read when the table is
  * written `partitionBy(bucket)`.
  */
object Search {

  /** Exact brute-force top-k by dot product against a single query vector
    * (supplied as a literal array column). Deterministic: ties broken by id. */
  def bruteForceTopK(index: DataFrame, vecCol: String, idCol: String, query: Column, k: Int): DataFrame =
    index
      .withColumn("score", Embed.dot(col(vecCol), query))
      .orderBy(desc("score"), col(idCol))
      .limit(k)

  /** Sign-random-projection (SimHash) bucket id for cosine LSH: bit i = sign
    * of dot(vec, plane_i). Planes are deterministic pseudo-random from a
    * seed so the query side can compute the same bucket. */
  def srpBucket(vec: Column, dim: Int, bits: Int, seed: Int = 42): Column = {
    val planes: Seq[Seq[Double]] = {
      val rng = new scala.util.Random(seed)
      Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
    }
    val bitCols = planes.map { p =>
      val plane = array(p.map(lit): _*)
      when(Embed.dot(vec, plane) >= 0, 1).otherwise(0)
    }
    bitCols.zipWithIndex.foldLeft(lit(0)) { case (acc, (b, i)) => acc + b * (1 << i) }
  }

  /** LSH-accelerated top-k: restrict the exact ranking to the query's
    * bucket (plus optional multi-probe neighbors). */
  def lshTopK(index: DataFrame, vecCol: String, idCol: String, query: Column,
              dim: Int, bits: Int, k: Int, maxHamming: Int = 0): DataFrame = {
    val bucketed = index.withColumn("bucket", srpBucket(col(vecCol), dim, bits))
    val qb = srpBucket(query, dim, bits)
    // multi-probe: accept buckets within `maxHamming` bit flips of the query's
    val candidates = bucketed.filter(bit_count(col("bucket").bitwiseXOR(qb)) <= maxHamming)
    bruteForceTopK(candidates.drop("bucket"), vecCol, idCol, query, k)
  }

  /** IVF-style partitioned ANN: assign every vector to its nearest
    * centroid (argmin over `centroids`, a small broadcastable list), then
    * restrict the exact search to the query's cell. At scale the index is
    * written `partitionBy(cell)` so a query reads one partition; `nprobe`
    * generalizes to scanning the n nearest cells. */
  def ivfCell(vec: Column, centroids: Seq[Seq[Double]]): Column =
    element_at(ivfProbeCells(vec, centroids, 1), 1)

  /** The `nprobe` nearest centroid cells for a vector, ordered
    * nearest-first (distance ties → lower cell id — [[ivfCell]]'s argmin
    * rule extended to a prefix). This is the multi-probe IVF read list:
    * probing p > 1 cells buys back the recall a single-cell read loses
    * when the true neighbors straddle a Voronoi boundary, at a scanned
    * fraction of ~p/K instead of 1/K (v10b gates the recall-vs-nprobe
    * curve; faiss `nprobe` is the public precedent). */
  def ivfProbeCells(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cv = array(c.map(lit): _*)
      val d2 = aggregate(zip_with(vec, cv, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, x) => acc + x)
      struct(d2.as("d2"), lit(i).as("cell"))
    }
    transform(slice(sort_array(array(scored: _*)), 1, nprobe), s => s.getField("cell"))
  }

  def ivfTopK(index: DataFrame, vecCol: String, idCol: String, query: Column,
              centroids: Seq[Seq[Double]], k: Int): DataFrame =
    ivfTopK(index, vecCol, idCol, query, centroids, k, nprobe = 1)

  /** Multi-probe IVF top-k: exact ranking restricted to the union of the
    * query's `nprobe` nearest cells. nprobe = 1 is the classic single-cell
    * read; nprobe = #centroids degrades gracefully to brute force. */
  def ivfTopK(index: DataFrame, vecCol: String, idCol: String, query: Column,
              centroids: Seq[Seq[Double]], k: Int, nprobe: Int): DataFrame = {
    val celled = index.withColumn("cell", ivfCell(col(vecCol), centroids))
    val probes = ivfProbeCells(query, centroids, nprobe)
    bruteForceTopK(celled.filter(array_contains(probes, col("cell"))).drop("cell"),
      vecCol, idCol, query, k)
  }

  /** Persist an ANN index partitioned by its bucket/cell assignment so
    * query-time reads touch only the probed partitions. This is the 100 TB
    * path for [[lshTopK]]/[[ivfTopK]]: computing the bucket per row at query
    * time still scans the whole index; a `partitionBy(bucket)` layout turns
    * the bucket predicate into partition pruning at the file listing. */
  def writePartitionedIndex(index: DataFrame, bucket: Column, out: String,
                            bucketCol: String = "bucket"): Unit =
    index.withColumn(bucketCol, bucket).write.mode("overwrite").partitionBy(bucketCol).parquet(out)

  /** Read a partitioned index pruned to the query's bucket: broadcast the
    * single-row query (bucket precomputed on the query side) and join on
    * the partition column — dynamic partition pruning restricts the scan to
    * the matching partition directories, no full-index scan. */
  def readPruned(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                 queryRow: DataFrame, bucketCol: String = "bucket"): DataFrame =
    spark.read.parquet(indexPath).join(broadcast(queryRow), Seq(bucketCol))

  /** Multi-probe pruned read: fan the query row out to every bucket within
    * `maxHamming` bit flips of its own (the XOR masks are enumerated on
    * the driver — at most 2^bits, and bits is small by construction), THEN
    * join on the partition column. The scan still prunes — it lists the
    * probed partition directories instead of one — which is how recall is
    * bought back without giving up the pruned read. */
  def readPrunedMultiProbe(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                           queryRow: DataFrame, bits: Int, maxHamming: Int,
                           bucketCol: String = "bucket"): DataFrame = {
    val masks = (0 until (1 << bits)).filter(m => Integer.bitCount(m) <= maxHamming)
    val probes = queryRow.withColumn(bucketCol,
      explode(array(masks.map(m => col(bucketCol).bitwiseXOR(lit(m))): _*)))
    spark.read.parquet(indexPath).join(broadcast(probes), Seq(bucketCol))
  }

  /** Multi-probe pruned read for LIST-valued probes — the IVF twin of
    * [[readPrunedMultiProbe]]: the query row carries an array of cells to
    * probe (e.g. [[ivfProbeCells]] with nprobe > 1); the broadcast side is
    * exploded into one row per probed cell, then joined on the partition
    * column, so the scan's dynamic partition filter lists exactly the
    * probed partition directories (AnnPruneSpec pins the file counts). */
  def readPrunedProbes(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       queryRow: DataFrame, probesCol: String = "probes",
                       bucketCol: String = "bucket"): DataFrame =
    readPruned(spark, indexPath,
      queryRow.withColumn(bucketCol, explode(col(probesCol))).drop(probesCol), bucketCol)

  /** Guarded cosine over pre-joined pair sides named (va, na) × (vb, nb) —
    * the ONE copy of the zero-norm rule shared by every blocked pair join
    * ([[lshNearDuplicatePairs]], [[nearDuplicatePairs]],
    * [[hardNegatives]]): a zero-norm side scores 0.0, never NaN. */
  private def guardedCos: Column =
    when(col("na") > 0 && col("nb") > 0,
      Embed.dot(col("va"), col("vb")) / (col("na") * col("nb"))).otherwise(lit(0.0))

  /** Scale-safe near-duplicate pair generation: candidates must share at
    * least one SRP band (`bitsPerBand` bits of a `numBands*bitsPerBand`-bit
    * signature), then exact cosine ≥ threshold verifies every candidate.
    * Band buckets track true duplicate density — unlike a fixed-cardinality
    * label block, where 100× the data means 100× the block size and
    * 10,000× the pair volume. Two-pass like the MinHash-LSH join: only
    * (id, band) rides the band shuffle; vectors and norms are re-fetched
    * for the surviving candidate pairs. */
  def lshNearDuplicatePairs(index: DataFrame, vecCol: String, idCol: String,
                            dim: Int, bitsPerBand: Int, numBands: Int,
                            threshold: Double, seed: Int = 43): DataFrame = {
    val sigd = index.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", srpBucket(col("v"), dim, bitsPerBand * numBands, seed))
    val mask = (1 << bitsPerBand) - 1
    val bandKeys = array((0 until numBands).map(b =>
      concat_ws(":", lit(b), shiftright(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask)))): _*)
    val banded = sigd.select(col("id"), explode(bandKeys).as("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val withNorm = sigd.select(col("id"), col("v"))
      .withColumn("nrm", sqrt(Embed.norm2(col("v"))))
    cand
      .join(withNorm.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(withNorm.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos", guardedCos)
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** All-pairs near-duplicate by cosine ≥ threshold within a blocking key —
    * self-join inside blocks only, never a full cross join. Only safe when
    * the blocking key's per-block size is KNOWN bounded (e.g. a tenant or
    * shard key); for open-ended corpora use [[lshNearDuplicatePairs]],
    * whose block sizes track duplicate density instead of growing with the
    * data. */
  def nearDuplicatePairs(index: DataFrame, vecCol: String, idCol: String, blockCol: String,
                         threshold: Double): DataFrame = {
    // norms once per row (O(N·d)), not once per pair (O(N²·d)): cosine over
    // the pair join then only costs the dot product
    val withNorm = index.select(col(blockCol).as("b"), col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", sqrt(Embed.norm2(col("v"))))
    val a = withNorm.select(col("b"), col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val bb = withNorm.select(col("b"), col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(bb, Seq("b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", guardedCos)
      .filter(col("cos") >= threshold)
      .select(col("b"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the `k` most cosine-similar vectors carrying a DIFFERENT
    * label — the "semi-hard" negatives a triplet/InfoNCE batch builder
    * wants (a random negative is too easy to teach anything; the nearest
    * wrong-label neighbors carry the gradient). Blocking: IVF cell over a
    * shared seeded centroid set, so pair scoring is quadratic only inside
    * a cell (the SemDeDup argument) — and negatives outside the anchor's
    * cell are by construction farther away, i.e. not hard. Norms are
    * computed once per row; ranking is on the 4-dp-rounded cosine with an
    * id tiebreak, so cross-engine FP drift cannot reorder the cutoff.
    *
    * Production sizing: per-cell pair volume is quadratic in cell size,
    * so the centroid count must be chosen proportional to
    * N/target-cell-size (SemDeDup's k rule). A skewed corpus can still
    * produce one fat cell; the mitigation is MORE centroids (finer
    * cells), not salting — splitting a cell arbitrarily would hide true
    * hard negatives from the anchors in the other half. */
  def hardNegatives(emb: DataFrame, vecCol: String, idCol: String, labelCol: String,
                    centroids: Seq[Seq[Double]], k: Int): DataFrame = {
    val celled = emb.select(col(idCol).as("id"), col(labelCol).as("lbl"), col(vecCol).as("v"),
        ivfCell(col(vecCol), centroids).as("cell"))
      .withColumn("nrm", sqrt(Embed.norm2(col("v"))))
    val a = celled.select(col("cell"), col("id").as("id_a"), col("lbl").as("la"),
      col("v").as("va"), col("nrm").as("na"))
    val b = celled.select(col("cell"), col("id").as("id_b"), col("lbl").as("lb"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("la") =!= col("lb"))
      .withColumn("cos", round(guardedCos, 4))
      .withColumn("rank",
        row_number().over(Window.partitionBy("id_a").orderBy(col("cos").desc, col("id_b"))))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("rank").cast("long").as("rank"), col("cos"))
  }

  /** Scalar quantization (SQ8, the faiss IndexScalarQuantizer shape): each
    * dimension maps to one byte via the corpus-wide per-dimension [lo, hi]
    * range — a 64-float embedding (256 B) becomes 64 bytes with NO
    * codebook training (PQ's cheaper, lower-ratio sibling). Stats are ONE
    * aggregate over the corpus (2·dim doubles, broadcastable at any
    * scale); encoding is map-only; scoring dequantizes against the raw
    * query (asymmetric, like PQ's ADC). Constant dimensions (hi = lo)
    * code as 0 and dequantize to lo exactly. */
  def sqStats(emb: DataFrame, vecCol: String, dim: Int): DataFrame =
    emb.agg(
      array((1 to dim).map(i => min(element_at(col(vecCol), i).cast("double"))): _*).as("lo"),
      array((1 to dim).map(i => max(element_at(col(vecCol), i).cast("double"))): _*).as("hi"))

  /** Quantize-and-dequantize in ONE transform: the value the byte code
    * reconstructs, straight from the raw vector. The fused form exists
    * because nesting two HOFs (codes transform inside a scoring fold)
    * lets CollapseProject inline the codes expression into the fold's
    * lambda, re-evaluating the full 64-step encode on EVERY fold step —
    * the m2 lesson (O(dim²) interpreted work, measured 8 s for what
    * should cost 0.3 s). One transform, then the native `array_dot`. */
  def sqDequantize(vec: Column, lo: Column, hi: Column, dim: Int): Column =
    transform(sequence(lit(1), lit(dim)), i => {
      val l = element_at(lo, i); val h = element_at(hi, i)
      val c = when(h > l,
        round((element_at(vec, i).cast("double") - l) / (h - l) * 255)).otherwise(lit(0))
      l + c * (h - l) / 255
    })

  /** Asymmetric dequantized dot product against the raw query — folded
    * left-to-right in element order (native array_dot) so the IEEE result
    * is engine-independent. Pass `dq` as an ATTRIBUTE (a materialized
    * column), never a synthesized transform tree. */
  def sqDot(dq: Column, query: Column): Column =
    Embed.dot(dq, transform(query, x => x.cast("double")))

  /** Product quantization: the compressed-index ANN scale path. A d-dim
    * vector becomes M small codes (one per subspace, argmin-distance
    * centroid, ties → lower code — the ivfCell construction per subspace).
    * At 100 TB the win is storage/bandwidth: a 64-float embedding column
    * (256 B) becomes M=4 byte-sized codes; the scoring scan reads ONLY the
    * codes column (parquet column pruning) against a per-query lookup
    * table, never the raw vectors. */
  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Double]]], subDim: Int): Column =
    array(codebooks.zipWithIndex.map { case (cents, m) =>
      val sub = slice(vec, m * subDim + 1, subDim)
      val scored = cents.zipWithIndex.map { case (c, k) =>
        val cv = array(c.map(lit): _*)
        val d2 = aggregate(zip_with(sub, cv, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, x) => acc + x)
        // tinyint code: the stored table is genuinely M bytes per vector
        struct(d2.as("d2"), lit(k.toByte).as("code"))
      }
      element_at(sort_array(array(scored: _*)), 1).getField("code")
    }: _*)

  /** Asymmetric-distance (ADC) dot-product score: sum over subspaces of
    * dot(query subvector, the centroid the code names) — the query side
    * stays exact, only the index side is quantized. */
  def pqAdcScore(codes: Column, query: Column, codebooks: Seq[Seq[Seq[Double]]],
                 subDim: Int): Column =
    codebooks.zipWithIndex.map { case (cents, m) =>
      val qSub = slice(query, m * subDim + 1, subDim)
      val dots = cents.map { c =>
        aggregate(zip_with(qSub, array(c.map(lit): _*), (x, y) => x.cast("double") * y),
          lit(0.0), (acc, x) => acc + x)
      }
      element_at(array(dots: _*), element_at(codes, m + 1) + 1)
    }.reduce(_ + _)
}
