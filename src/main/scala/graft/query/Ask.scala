package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.index.{Embed, Rerank}

/** The retrieval/ask pipeline (SURVEY.md §3.2 steps 3–6 + 9–10 as one
  * lazy DataFrame; ref `backend/services/rag.py:492-792`).
  *
  * search (similarity top-k with metadata filters) → keyword rerank →
  * sigmoid-normalized score → relevance threshold filter → Q&A direct-match
  * fallback → SHOW_TABLE tag resolution → sources projection. One
  * QueryExecution that runs the corpus top-k once (TakeOrderedAndProject,
  * no full sort); tag resolution adds one scalar subquery over the table
  * dim and no join.
  *
  * The similarity stage scores with the keyword expression by default; pass
  * `scoreFn` to score differently — e.g. `Embed.dot(col("embedding"),
  * queryVec)` against a model embedding column (V2, via
  * `graft.udf.ModelStage`), see AskSkewSpec's embedding-scored test.
  */
object Ask {

  final case class AskConfig(
    topK: Int = 5,
    overFetch: Int = 3,              // ref fetches k*3 then cuts post-rerank
    minScore: Double = 0.25,
    semanticOnly: Double = 0.75,
    qnaAccept: Double = 0.75,
    stopwords: Seq[String] = Seq("the", "a", "of", "and", "or", "to"))

  /** Full pipeline over a (id, content, meta…) corpus for one query string.
    * `scoreFn` overrides the retrieval score (default: sigmoid-normalized
    * keyword score) — supply an embedding similarity to compose V2
    * retrieval into the pipeline; the keyword overlap still feeds the
    * relevance filter's hybrid gate. */
  def ask(corpus: DataFrame, idCol: String, contentCol: String, query: String,
          cfg: AskConfig = AskConfig(),
          metadataFilter: Column = lit(true),
          scoreFn: Option[Column] = None): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filterNot(cfg.stopwords.contains).toSeq
    val kw = Rerank.keywordScore(col(contentCol), terms, query)
    val score = scoreFn.getOrElse(Rerank.sigmoid(kw))
    val overlap = Rerank.keywordOverlap(col(contentCol), lit(query), cfg.stopwords)
    val fetched = corpus
      .filter(metadataFilter)                       // P8: pushed-down metadata filters
      .withColumn("score", score)
      .withColumn("overlap", overlap)
      .orderBy(col("score").desc, col(idCol))       // T1: TakeOrderedAndProject
      .limit(cfg.topK * cfg.overFetch)
    fetched
      .filter(Rerank.relevanceFilter(col("score"), col("overlap"), cfg.minScore, cfg.semanticOnly))
      .orderBy(col("score").desc, col(idCol))
      .limit(cfg.topK)
  }

  /** J4/A9: Q&A direct-match fallback — when retrieval returns nothing,
    * score the query against extracted Q&A pairs and accept the best match
    * above the threshold. Scoring is the CPython-exact
    * `difflib.SequenceMatcher.ratio` (native codegen'd expression,
    * `graft.functions.DifflibRatio`) with the reference's argument order
    * `ratio(query, question)` (ref `rag.py:432-433,475`); inputs are
    * lowercased for case-robust matching. */
  def qnaFallback(qnaPairs: DataFrame, questionCol: String, query: String,
                  accept: Double): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = qnaPairs.sparkSession
    val sim = GraftFunctions.difflib_ratio(lit(query.toLowerCase), lower(col(questionCol)))
    qnaPairs.withColumn("match_score", sim)
      .filter(col("match_score") >= accept)
      .orderBy(col("match_score").desc)
      .limit(1)
  }

  /** §3.2 step 9 — resolve `[SHOW_TABLE:CAT=x]` tags in answer strings
    * against a table-source dimension (ref `backend/main.py:128-163`,
    * `rag.py:745-779`). The dim is reduced to one sorted array and bound
    * to every answer row as a scalar subquery, so it must be small enough
    * to collect (table sources per corpus, not corpus rows). Per category
    * the lowest html wins (nulls first); categories and tags match after
    * `trim`. Each answer folds its distinct tags, in sorted order, over
    * the matching replacements in sorted order, substituting the wrapped
    * HTML. Unresolved tags and null html are removed (main.py semantics).
    * Answers without tags, null answers and rows with a null id pass
    * through untouched; columns keep their order. One pass over
    * `answers`: no join, window or grouping. */
  def resolveShowTableTags(answers: DataFrame, idCol: String, answerCol: String,
                           tables: DataFrame, catCol: String, htmlCol: String): DataFrame = {
    val tagPat = "\\[SHOW_TABLE:CAT=([^\\]]*)\\]"
    // sorted, so a category's entries are adjacent and its winner leads;
    // a null category never matches a tag
    val entries = col("_s")
    val firsts = filter(entries, (e, i) => !get(entries, i - 1)("cat").eqNullSafe(e("cat")))
    val dim = tables
      .select(sort_array(collect_set(struct(col(catCol).as("cat"), col(htmlCol).as("html")))).as("_s"))
      .select(sort_array(transform(firsts, e => struct(trim(e("cat")).as("cat"),
        coalesce(concat(lit("<br><div class='table-responsive'>"), e("html"), lit("</div><br>")),
          lit("")).as("repl")))))
      .scalar()
    // sorted tags over sorted replacements: if a replacement ever held a
    // tag literal itself, fold order would change the output
    val tags = array_sort(array_distinct(regexp_extract_all(col(answerCol), lit(tagPat), lit(1))))
    val resolved = aggregate(tags, col(answerCol), (acc, t) => {
      val hits = filter(col("_dim"), e => e("cat") === trim(t))
      val repls = when(size(hits) > 0, hits("repl")).otherwise(array(lit("")))
      aggregate(repls, acc, (a, r) => replace(a, concat(lit("[SHOW_TABLE:CAT="), t, lit("]")), r))
    })
    // a subquery may not sit inside a lambda: bind it to a column first
    answers.withColumn("_dim", dim)
      .withColumn(answerCol, when(col(idCol).isNull, col(answerCol)).otherwise(resolved))
      .drop("_dim")
  }

  /** Sources projection (ref `rag.py:781-790`): ranked hits → presentation
    * columns with per-chunk content caps (P11). */
  def sources(hits: DataFrame, idCol: String, contentCol: String, maxChars: Int = 3000): DataFrame =
    hits.select(col(idCol), substring(col(contentCol), 1, maxChars).as("snippet"),
      round(col("score"), 6).as("score"))
}
