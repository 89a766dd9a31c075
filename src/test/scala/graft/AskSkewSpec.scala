package graft

import org.apache.spark.sql.functions._
import graft.query.Ask
import graft.ops.Skew

class AskSkewSpec extends SparkSpec {
  import spark.implicits._

  test("Ask pipeline retrieves, reranks, filters, and caps to top-k") {
    val corpus = graft.tables.TestTables.documents(spark, sf)
    val hits = Ask.ask(corpus, "doc_id", "text", "spark join stream",
      Ask.AskConfig(topK = 5))
    val rows = hits.collect()
    assert(rows.length == 5)
    val scores = rows.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse, "hits must be score-descending")
    assert(scores.forall(_ >= 0.25))
    val sources = Ask.sources(hits, "doc_id", "text", maxChars = 50).collect()
    assert(sources.forall(_.getAs[String]("snippet").length <= 50))
  }

  test("Ask metadata filter restricts the corpus before scoring") {
    val corpus = graft.tables.TestTables.documents(spark, sf)
    val hits = Ask.ask(corpus, "doc_id", "text", "spark join",
      metadataFilter = col("lang") === "en")
    val langs = hits.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en"))
  }

  test("ask with scoreFn composes embedding similarity into the pipeline") {
    val emb = graft.tables.TestTables.embeddings(spark, sf)
      .select(col("vec_id").as("doc_id"), col("embedding"),
        concat(lit("doc "), col("vec_id")).as("text"))
    val qv = emb.filter(col("doc_id") === 0).select(col("embedding").as("qv"))
    val corpus = emb.crossJoin(broadcast(qv))
    val hits = Ask.ask(corpus, "doc_id", "text", "irrelevant keywords",
      Ask.AskConfig(topK = 3, minScore = 0.0, semanticOnly = 0.0),
      scoreFn = Some(graft.index.Embed.cosine(col("embedding"), col("qv"))))
      .collect()
    assert(hits.length == 3)
    // the query vector itself must rank first under cosine scoring
    assert(hits.head.getAs[Long]("doc_id") == 0L)
    assert(math.abs(hits.head.getAs[Double]("score") - 1.0) < 1e-9)
  }

  test("resolveShowTableTags substitutes, repeats, and strips unresolved") {
    val answers = Seq(
      (1L, "a [SHOW_TABLE:CAT=x] b [SHOW_TABLE:CAT=x] c"), // same tag twice
      (2L, "see [SHOW_TABLE:CAT=y] and [SHOW_TABLE:CAT=missing]"),
      (3L, "no tags here")).toDF("id", "answer")
    val tables = Seq(("x", "<table>X</table>"), ("y", "<table>Y</table>"),
      ("y", "<table>ZZZ-later</table>")).toDF("cat", "html")
    val out = Ask.resolveShowTableTags(answers, "id", "answer", tables, "cat", "html")
      .orderBy("id").collect().map(_.getAs[String]("answer"))
    val wrapX = "<br><div class='table-responsive'><table>X</table></div><br>"
    val wrapY = "<br><div class='table-responsive'><table>Y</table></div><br>"
    assert(out(0) == s"a $wrapX b $wrapX c")
    assert(out(1) == s"see $wrapY and ") // first-match on y; unresolved removed
    assert(out(2) == "no tags here")
  }

  private def wrap(html: String) = s"<br><div class='table-responsive'>$html</div><br>"

  test("resolveShowTableTags edge cases: whitespace, nulls, repeats, unresolved") {
    val answers = Seq[(java.lang.Long, String)](
      (1L, "[SHOW_TABLE:CAT=x] and [SHOW_TABLE:CAT= x]"),  // " x" trims onto both x rows
      (2L, "[SHOW_TABLE:CAT=n] [SHOW_TABLE:CAT=n]"),       // null html wins, repeated tag
      (3L, "[SHOW_TABLE:CAT=nope]!"),                       // unresolved → removed
      (4L, null),                                           // null answer
      (null, "[SHOW_TABLE:CAT=x] untouched"),               // null id passes through
      (5L, "[SHOW_TABLE:CAT=]"),                            // matches neither null nor " x"
      (6L, "[SHOW_TABLE:CAT=r]")).toDF("id", "answer")      // winner's html holds a tag
    val tables = Seq[(String, String)](
      ("x", "<t>B</t>"), ("x", "<t>C</t>"), (" x", "<t>A</t>"),
      ("n", null), ("n", "<t>N</t>"), (null, "<t>nullcat</t>"),
      ("r", "[SHOW_TABLE:CAT=r]"), ("r", "{later}")).toDF("cat", "html")
    val out = Ask.resolveShowTableTags(answers, "id", "answer", tables, "cat", "html")
      .collect().map(r => (Option(r.get(0)).map(_.toString).orNull, r.getString(1))).toMap
    // tags sorted (" x" < "x"), each over its replacements sorted: A then B
    assert(out("1") == s"${wrap("<t>A</t>")} and ${wrap("<t>A</t>")}")
    assert(out("2") == " ")
    assert(out("3") == "!")
    assert(out("4") == null)
    assert(out(null) == "[SHOW_TABLE:CAT=x] untouched")
    assert(out("5") == "")
    // only the first match substitutes: the tag it brings in stays
    assert(out("6") == wrap("[SHOW_TABLE:CAT=r]"))
    assert(out.size == 7)
  }

  test("resolveShowTableTags equals a plain fold over sorted (tag, repl) substitutions") {
    // Spark's trim strips spaces only
    def trim(s: String) = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val tagRe = "\\[SHOW_TABLE:CAT=([^\\]]*)\\]".r
    val cats = Seq("a", " a", "a ", "b", "c", "", " ", null)
    val htmls = Seq("<t>1</t>", "<t>2</t>", "<t>3</t>", null, "[SHOW_TABLE:CAT=b]", "{t}")
    val tagNames = Seq("a", " a", "b", "c", "d", "", " ")
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
      val tables = Seq.fill(4 + rng.nextInt(10))((pick(cats), pick(htmls)))
      val answers = (1 to 40).map { i =>
        val text = Seq.fill(rng.nextInt(5))(
          if (rng.nextBoolean()) s"[SHOW_TABLE:CAT=${pick(tagNames)}]" else pick(Seq("w", " ", "z"))).mkString
        val id: java.lang.Long = if (i % 13 == 0) null else i.toLong
        (id, if (i % 11 == 0) null else text)
      }
      val entries = tables.filter(_._1 != null).groupBy(_._1).toSeq.map { case (cat, rows) =>
        val html = rows.map(_._2).minBy(h => (h != null, Option(h).getOrElse("")))
        (trim(cat), if (html == null) "" else wrap(html))
      }
      val expected = answers.map { case (id, text) =>
        val resolved = if (id == null || text == null) text else {
          val subs = tagRe.findAllMatchIn(text).map(_.group(1)).toSeq.distinct.flatMap { tag =>
            val hits = entries.filter(_._1 == trim(tag)).map(_._2)
            (if (hits.isEmpty) Seq("") else hits).map(tag -> _)
          }.sorted
          subs.foldLeft(text) { case (acc, (tag, repl)) => acc.replace(s"[SHOW_TABLE:CAT=$tag]", repl) }
        }
        (id, resolved)
      }
      val got = Ask.resolveShowTableTags(answers.toDF("id", "answer"), "id", "answer",
          tables.toDF("cat", "html"), "cat", "html")
        .collect().map(r => (r.get(0).asInstanceOf[java.lang.Long], r.getString(1)))
      val key = (p: (java.lang.Long, String)) => (String.valueOf(p._1), String.valueOf(p._2))
      assert(got.toSeq.sortBy(key) == expected.sortBy(key), s"seed $seed")
    }
  }

  test("one ask with tag resolution runs one corpus top-k and no join, window or nested loop") {
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // shaped like one harness question: retrieve, tag each hit with its
    // section, resolve against a corpus-derived dim, project sources
    val corpus = graft.tables.TestTables.documents(spark, sf)
      .select(col("doc_id").cast("string").as("uid"), col("text").as("content"), col("lang").as("section"))
    val hits = Ask.ask(corpus, "uid", "content", "spark join stream", Ask.AskConfig(topK = 5))
    val answers = hits.select(col("uid"), col("score"),
      concat(substring(col("content"), 1, 120), lit(" [SHOW_TABLE:CAT="), col("section"), lit("]")).as("answer"))
    val dim = corpus.select(col("section").as("cat"),
      concat(lit("<table><tr><td>"), col("section"), lit("</td></tr></table>")).as("html")).distinct()
    val out = Ask.sources(Ask.resolveShowTableTags(answers, "uid", "answer", dim, "cat", "html"), "uid", "answer")
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(r => !r.getString(1).contains("[SHOW_TABLE:")))
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      p +: (kids ++ p.subqueries).flatMap(nodes)
    }
    val all = nodes(out.queryExecution.executedPlan)
    val topK = all.collect { case t: TakeOrderedAndProjectExec if t.limit == 15 => t }
    assert(topK.size == 1, s"the corpus top-k must run once:\n${out.queryExecution.executedPlan}")
    val banned = Set("SortMergeJoinExec", "WindowExec", "BroadcastNestedLoopJoinExec", "CartesianProductExec")
    val found = all.map(_.getClass.getSimpleName).filter(banned)
    assert(found.isEmpty, s"unexpected operators $found:\n${out.queryExecution.executedPlan}")
  }

  test("qnaFallback accepts only close question matches") {
    val pairs = Seq(
      ("how do i reset the password", "use the reset link"),
      ("what is the capital of france", "paris")).toDF("question", "answer")
    val hit = Ask.qnaFallback(pairs, "question", "how do i reset the password", 0.75)
    assert(hit.count() == 1 && hit.collect()(0).getAs[String]("answer") == "use the reset link")
    val miss = Ask.qnaFallback(pairs, "question", "completely unrelated query text", 0.75)
    assert(miss.count() == 0)
  }

  test("saltedAgg equals plain aggregation on skewed data") {
    val skewed = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i.toLong)).toDF("k", "v")
    val salted = Skew.saltedAgg(skewed, Seq("k"), 8, Map("v" -> "sum"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    val plain = skewed.groupBy("k").agg(sum("v").as("s"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("skewJoin equals plain join on skewed fact") {
    val fact = (1 to 2000).map(i => (if (i % 4 == 0) 1L else (i % 50).toLong, i)).toDF("k", "v")
    val dim = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "name")
    val a = Skew.skewJoin(fact, dim, "k", Seq(1L), 8)
      .groupBy("name").count().orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    val b = fact.join(dim, "k")
      .groupBy("name").count().orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }
}
