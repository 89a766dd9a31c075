package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Chunk-boundary scan and rollups (SURVEY.md §2.5 W4, §2.4 A6/A7,
  * §2.8 F13/F19).
  *
  *  - W4 boundary scan: ref `backend/services/chunking.py:216-298` — break on
  *    section change / overflow / marker, then running group id.
  *  - F13 chunk fingerprint: ref `backend/services/chunking.py:401-415`.
  *
  * Two W4 variants are provided: the window-function approximation (pure
  * Catalyst, one shuffle) and the exact stateful scan (`groupByKey` +
  * `flatMapGroups`, one doc per group — still fully distributed because
  * state never spans a document).
  */
object Chunking {

  /** W4 (windowed approximation): chunk id = floor(cumulative-length /
    * maxChars) plus explicit break flags folded in via gaps-and-islands. */
  def chunkIdApprox(df: DataFrame, partCols: Seq[Column], orderCol: Column, contentLen: Column,
                    explicitBreak: Column, maxChars: Long, out: String = "chunk_id"): DataFrame = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sum(contentLen).over(w)
    val overflowBucket = floor((cum - lit(1)) / lit(maxChars))
    val explicitGroup = sum(explicitBreak.cast("long")).over(w)
    df.withColumn(out, concat_ws("_", overflowBucket, explicitGroup))
  }

  /** W4 (exact): stateful scan per key — the running total resets at each
    * break, matching the reference's loop semantics exactly. Input rows must
    * carry (key, ord, len, explicitBreak); emits (key, ord, chunkId). */
  def chunkIdExact(df: DataFrame, keyCol: String, ordCol: String, lenCol: String,
                   breakCol: String, maxChars: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("string"), col(ordCol).cast("long"),
      col(lenCol).cast("long"), col(breakCol).cast("boolean")).as[(String, Long, Long, Boolean)]
    rows.groupByKey(_._1).flatMapGroups { (key, it) =>
      val sorted = it.toVector.sortBy(_._2)
      var chunk = 0L
      var run = 0L
      sorted.map { case (_, ord, len, brk) =>
        if (brk || run + len > maxChars) { chunk += 1; run = 0L }
        run += len
        (key, ord, chunk)
      }
    }.toDF(keyCol, ordCol, "chunk_id")
  }

  /** F13: content fingerprint — md5 over normalized content + salt columns. */
  def fingerprint(cols: Column*): Column = md5(concat_ws("", cols: _*))

  /** F19: semantic row serialization `col=val | col=val` over zipped
    * name/value arrays, capped at `maxCols`, skipping long cells. */
  def serializeRow(names: Column, values: Column, maxCols: Int = 5, maxCell: Int = 100): Column = {
    val zipped = slice(zip_with(names, values, (n, v) => struct(n.as("n"), v.as("v"))), 1, maxCols)
    val kept = filter(zipped, s => length(s.getField("v")) <= maxCell)
    concat_ws(" | ", transform(kept, s => concat(s.getField("n"), lit("="), s.getField("v"))))
  }

  /** A6: chunk metadata rollup — representative page, capped page set,
    * block-type set, char count. */
  def chunkRollup(df: DataFrame, keyCols: Seq[Column], page: Column, blockType: Column,
                  content: Column): DataFrame =
    df.groupBy(keyCols: _*).agg(
      min(page).as("page"),
      slice(sort_array(collect_set(page)), 1, 10).as("pages"),
      sort_array(collect_set(blockType)).as("block_types"),
      sum(length(content)).as("n_chars"),
      count(lit(1)).as("n_blocks"))

  /** Content-defined chunking (CDC): cut each document where the
    * Rabin-Karp rolling hash of the trailing `w` code points divides
    * `divisor` — the restic/Borg/LBFS rule. Unlike fixed-size or
    * token-budget chunking, boundaries depend only on LOCAL content, so
    * an insertion re-cuts one neighborhood instead of shifting every
    * subsequent chunk — which is what makes chunk-digest dedup stable
    * under edits. Map-only: one O(L) compiled pass per document
    * (`functions.CdcBoundariesExpr`) then array slicing; no shuffle
    * until the caller aggregates. The tail always closes at end-of-text;
    * empty/NULL text yields no chunks. */
  def cdcChunks(df: DataFrame, idCol: Column, text: Column, w: Int, divisor: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val t = coalesce(text, lit(""))
    df.select(idCol.as("doc_id"), t.as("t"))
      .withColumn("bounds", call_function("cdc_boundaries", col("t"), lit(w), lit(divisor)))
      .withColumn("ends",
        when(size(col("bounds")) > 0 && element_at(col("bounds"), -1) === length(col("t")),
          col("bounds"))
          .otherwise(concat(col("bounds"), array(length(col("t"))))))
      .select(col("doc_id"), col("t"), col("ends"), posexplode(col("ends")).as(Seq("i0", "end")))
      .withColumn("start", when(col("i0") === 0, lit(0)).otherwise(get(col("ends"), col("i0") - 1)))
      .filter(col("end") > col("start"))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("chunk_idx"),
        (col("end") - col("start")).cast("long").as("chunk_len"),
        md5(col("t").substr(col("start") + 1, col("end") - col("start")).cast("binary")).as("digest"))
  }

  /** Cross-document chunk-level dedup accounting over [[cdcChunks]] — the
    * storage-dedup statistic (how many bytes a content-addressed store
    * would NOT write again): an occurrence is duplicate unless it is the
    * corpus-wide FIRST holder of its digest, first = min (doc_id,
    * chunk_idx) via one map-side-combined `min(struct)` per digest (the
    * d10 winner pattern — hot digests shrink before the shuffle). Exact
    * integer byte counts; ratio left as their exact division. */
  def cdcDedupStats(df: DataFrame, idCol: Column, text: Column,
                    w: Int, divisor: Int): DataFrame = {
    val chunks = cdcChunks(df, idCol, text, w, divisor)
    val first = chunks.groupBy("digest")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
    chunks.join(first, "digest")
      .withColumn("is_dup",
        !(col("doc_id") === col("f.doc_id") && col("chunk_idx") === col("f.chunk_idx")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("total_bytes"),
        sum(when(col("is_dup"), col("chunk_len")).otherwise(0L)).as("dup_bytes"))
      .withColumn("dup_ratio",
        col("dup_bytes").cast("double") / col("total_bytes").cast("double"))
  }
}
