package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.Upsert
import graft.ops.Pdf
import graft.pipeline.IngestPipeline
import graft.query.Ask

/** What one operation of a workload did. `samplesMs` are the latencies of the
  * workload's request (an ingest pass, a question, a catalog query);
  * `timedNs` is the operation's wall time without its output checks. */
final case class OpResult(samplesMs: Seq[Double], units: Long, attempted: Int, failed: Int,
                          timedNs: Long)

/** A workload: seeded inputs, a set-up that writes them and warms up, and a
  * repeatable operation. `layers` turns the traced operations into the
  * per-layer metrics this workload moves; the rest read as 0. */
trait Workload {
  def inputDigest: String
  def setup(spark: SparkSession, t: Tracer): Unit
  def op(spark: SparkSession, t: Tracer): OpResult
  def outputDigest: String
  def layers(t: Tracer, ops: Set[Int]): Map[String, Double]
}

object Workload {
  def apply(name: String, seed: Long, dir: String): Workload = name match {
    case "ingest" => new IngestWorkload(seed, dir)
    case "ask" => new AskWorkload(seed, dir)
    case "catalog" => new CatalogWorkload(seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = body
    (v, System.nanoTime() - t0)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The corpus as one parquet file of (doc_id, pdf). */
  def writePdfs(spark: SparkSession, docs: Seq[Corpus.Doc], out: String): Unit = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("pdf", BinaryType)))
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d => Row(d.id, d.pdf)): _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(out)
  }

  /** PDF payloads → the pipeline's block rows, one row per decoded block. */
  def blocksFromPdfs(pdfs: DataFrame): DataFrame =
    Pdf.blocksStage(pdfs, "pdf", "blocks")
      .select(col("doc_id"), posexplode(col("blocks")).as(Seq("ord0", "b")))
      .select(col("doc_id"), lit(0).as("page"), col("ord0"), col("b.text").as("content"),
        col("b.size").as("font_size"), col("b.y").as("y0"), col("b.x").as("x0"))

  /** Chunk rows → index rows: a globally unique id and a cell to partition by. */
  def indexRows(chunks: DataFrame): DataFrame =
    chunks.withColumn("uid", concat_ws("#", col("doc_id"), col("chunk_id")))
      .withColumn("cell", pmod(col("doc_id"), lit(8L)))

  /** One question, as the flagship entry asks it: retrieve, tag each hit
    * with its section's table, resolve the tags, project sources. */
  def ask(t: Tracer, corpus: DataFrame, q: Corpus.Question): Array[Row] = {
    val src = t.span("ask.construct") {
      val hits = Ask.ask(corpus, "uid", "content", q.text, Ask.AskConfig(topK = 5))
      val answers = hits.select(col("uid"), col("score"),
        concat(substring(col("content"), 1, 120), lit(" [SHOW_TABLE:CAT="), col("section"),
          lit("]")).as("answer"))
      val dim = corpus.select(col("section").as("cat"),
        concat(lit("<table><tr><td>"), col("section"), lit("</td></tr></table>")).as("html")).distinct()
      Ask.sources(Ask.resolveShowTableTags(answers, "uid", "answer", dim, "cat", "html"), "uid", "answer")
    }
    t.span("ask.exec")(src.collect())
  }

  /** The planted chunk is the top hit: its uid names the question's doc. */
  def found(rows: Array[Row], q: Corpus.Question): Boolean =
    rows.nonEmpty && rows.maxBy(_.getDouble(2)).getString(0).startsWith(s"${q.docId}#")

  def sumSpans(t: Tracer, ops: Set[Int], p: String => Boolean): Double =
    t.spans.iterator.filter(s => ops(s.op) && p(s.layer)).map(_.ms).sum

  def parquetFiles(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(new java.io.File(dir))
  }
}

import Workload._

/** One batch job over the seeded corpus: decode → pipeline → a fresh base
  * index. In a traced pass each layer boundary is also materialized once, so
  * a layer's self time is its span minus its input layer's span. */
final class IngestWorkload(seed: Long, dir: String) extends Workload {
  private val batch = Corpus.batch(new java.util.Random(seed), IngestWorkload.Docs,
    IngestWorkload.DupShare, 0)
  private val stats = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var pass = 0
  private var lastDigest = ""

  def inputDigest: String = Corpus.digest(batch.docs.iterator.map(d => d.pdf.map("%02x".format(_)).mkString))

  def setup(spark: SparkSession, t: Tracer): Unit = {
    Corpus.selfCheck(batch.docs)
    writePdfs(spark, batch.docs, s"$dir/corpus")
    op(spark, t)
  }

  /** The pass; when traced, the two boundary materializations follow it, so
    * the pass itself sees the same warm state as an untraced one. */
  private def ingest(t: Tracer, spark: SparkSession, out: String): Unit = {
    val blocks = t.span("ingest.construct")(blocksFromPdfs(spark.read.parquet(s"$dir/corpus")))
    val chunks = t.span("ingest.construct")(indexRows(IngestPipeline.run(blocks)))
    t.span("index")(Upsert.writeBase(chunks, "cell", out))
    if (t.enabled) {
      t.span("pdf")(noop(blocks))
      t.span("pipeline")(noop(chunks))
    }
  }

  def op(spark: SparkSession, t: Tracer): OpResult = {
    pass += 1
    val out = s"$dir/index/pass$pass"
    t.nextOp()
    val (_, ns) = timed(t.span("op")(ingest(t, spark, out)))
    // the traced sample leaves out the boundary materializations
    val sampleMs = if (!t.enabled) ns / 1e6
      else sumSpans(t, Set(t.op), l => l == "index" || l == "ingest.construct")
    val rows = spark.read.parquet(out).select("uid", "doc_id", "content", "fingerprint").collect()
    if (t.enabled) {
      // a planted copy chunks exactly like its original, so the chunks the
      // dedup saw are the survivors plus one set per copy
      val perDoc = rows.groupBy(_.getLong(1)).map { case (k, v) => k -> v.length }
      stats("chunks_in") += rows.length + batch.docs.flatMap(_.dupOf).map(perDoc.getOrElse(_, 0)).sum
      stats("chunks_out") += rows.length
      stats("files_written") += parquetFiles(out)
    }
    val ok = IngestWorkload.check(rows, batch.docs)
    lastDigest = Corpus.digest(rows.iterator.map(r => r.getString(0) + "|" + r.getString(3)))
    Files.deleteTree(new java.io.File(out))
    OpResult(Seq(sampleMs), batch.docs.length, 1, if (ok) 0 else 1, ns)
  }

  def outputDigest: String = lastDigest

  def layers(t: Tracer, ops: Set[Int]): Map[String, Double] = {
    val n = ops.size.toDouble
    val pdf = sumSpans(t, ops, _ == "pdf")
    val pipe = sumSpans(t, ops, _ == "pipeline")
    val index = sumSpans(t, ops, _ == "index")
    Map("pdf.decode_s" -> pdf / n / 1e3,
      "pdf.docs" -> batch.docs.length.toDouble,
      "pdf.mb" -> batch.docs.map(_.pdf.length).sum / 1e6,
      "pipeline.s" -> (pipe - pdf) / n / 1e3,
      "pipeline.blocks_in" -> batch.docs.map(_.blocks.length).sum.toDouble,
      "pipeline.chunks_out" -> stats("chunks_out") / n,
      "pipeline.dedup_kept_ratio" -> stats("chunks_out") / math.max(1.0, stats("chunks_in")),
      "index.write_s" -> (index - pipe) / n / 1e3,
      "index.files_written" -> stats("files_written") / n)
  }
}

object IngestWorkload {
  val Docs = 600
  val DupShare = 0.05

  /** No planted copy survives dedup; every other doc keeps ≥1 chunk and
    * exactly its words. */
  def check(rows: Array[Row], docs: Seq[Corpus.Doc]): Boolean = {
    val got = rows.groupBy(_.getLong(1))
    docs.forall { d =>
      val chunks = got.getOrElse(d.id, Array.empty[Row])
      if (d.dupOf.isDefined) chunks.isEmpty
      else chunks.nonEmpty && {
        val words = chunks.flatMap(_.getString(2).split("\\s+")).filter(_.nonEmpty)
        words.groupBy(identity).view.mapValues(_.length).toMap ==
          d.words.groupBy(identity).view.mapValues(_.length).toMap
      }
    }
  }
}

/** Questions over the chunk table that set-up ingested once; decode and the
  * pipeline stay out of the measured window. */
final class AskWorkload(seed: Long, dir: String) extends Workload {
  private val batch = Corpus.batch(new java.util.Random(seed), AskWorkload.Docs,
    IngestWorkload.DupShare, AskWorkload.Questions)
  private var corpus: DataFrame = _
  private var next = 0
  private var tracedHits = 0L
  private val answered = mutable.ArrayBuffer.empty[String]

  def inputDigest: String = Corpus.digest(batch.docs.iterator.map(d => d.pdf.map("%02x".format(_)).mkString) ++
    batch.questions.iterator.map(_.text))

  def setup(spark: SparkSession, t: Tracer): Unit = {
    Corpus.selfCheck(batch.docs)
    writePdfs(spark, batch.docs, s"$dir/corpus")
    val blocks = blocksFromPdfs(spark.read.parquet(s"$dir/corpus"))
    Upsert.writeBase(indexRows(IngestPipeline.run(blocks)), "cell", s"$dir/index")
    corpus = spark.read.parquet(s"$dir/index")
    batch.questions.take(AskWorkload.WarmUp).foreach(q => ask(t, corpus, q))
  }

  def op(spark: SparkSession, t: Tracer): OpResult = {
    val q = batch.questions(next % batch.questions.length)
    next += 1
    t.nextOp()
    val (rows, ns) = timed(t.span("op")(ask(t, corpus, q)))
    if (t.enabled) tracedHits += rows.length
    // the digest covers the first questions only, which every run asks
    if (answered.length < AskWorkload.DigestQuestions)
      answered += q.text + "|" + rows.map(_.getString(0)).sorted.mkString(",")
    OpResult(Seq(ns / 1e6), 1, 1, if (found(rows, q)) 0 else 1, ns)
  }

  def outputDigest: String = Corpus.digest(answered.iterator)

  /** Per traced question. */
  def layers(t: Tracer, ops: Set[Int]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val c = t.counters(_.startsWith("ask."))
    Map("ask.construct_ms" -> sumSpans(t, ops, _ == "ask.construct") / n,
      "ask.plan_ms" -> c.planMs / n,
      "ask.exec_ms" -> (sumSpans(t, ops, _ == "ask.exec") - t.counters(_ == "ask.exec").planMs) / n,
      "ask.jobs" -> c.jobs / n,
      "ask.rows_scanned_per_hit" -> c.inputRecords / math.max(1.0, tracedHits))
  }
}

object AskWorkload {
  val Docs = 400
  val Questions = 120
  val WarmUp = 2
  val DigestQuestions = 3
}

/** A fixed slice of the query catalog over seeded star-schema tables. */
final class CatalogWorkload(seed: Long, dir: String) extends Workload {
  private val tables = Corpus.tables(seed)
  private lazy val fns = graft.SparkEntry.queries

  def inputDigest: String =
    Corpus.digest(tables.iterator.flatMap { case (n, _, rows) => rows.iterator.map(n + "|" + _.toString) })

  /** Writes the tables, then the warm-up pass writes every query's output
    * and its oracle SQL for the DuckDB check that runs after the process. */
  def setup(spark: SparkSession, t: Tracer): Unit = {
    val tdir = s"$dir/tables"
    Files.deleteTree(new java.io.File(tdir))
    new java.io.File(tdir).mkdirs()
    Corpus.writeTables(spark, tables, tdir)
    CatalogWorkload.Slice.foreach { n =>
      fns(n)(spark, tdir).coalesce(1).write.mode("overwrite").parquet(s"$dir/out/$n")
      spark.catalog.clearCache()
    }
    val oracle = graft.SparkEntry.oracleSql
    val json = CatalogWorkload.Slice.flatMap(n => oracle.get(n).map(sql => s"${Json.str(n)}: ${Json.str(sql)}"))
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/out/oracle_sql.json"), json)
  }

  def op(spark: SparkSession, t: Tracer): OpResult = {
    t.nextOp()
    var failed = 0
    val tdir = s"$dir/tables"
    val (samples, ns) = timed(t.span("op") {
      CatalogWorkload.Slice.map { n =>
        val fam = CatalogWorkload.family(n)
        val (_, qns) = timed {
          try {
            val df = t.span(s"catalog.$fam.construct")(fns(n)(spark, tdir))
            t.span(s"catalog.$fam.exec")(noop(df))
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
            failed += 1
          }
          spark.catalog.clearCache()
        }
        qns / 1e6
      }
    })
    OpResult(samples, samples.length, samples.length, failed, ns)
  }

  /** Taken by `run.py` from the outputs it checks against the oracle. */
  def outputDigest: String = ""

  def layers(t: Tracer, ops: Set[Int]): Map[String, Double] = {
    val n = ops.size.toDouble
    CatalogWorkload.Families.flatMap { f =>
      Seq(s"catalog.$f.construct_s" -> sumSpans(t, ops, _ == s"catalog.$f.construct") / n / 1e3,
        s"catalog.$f.exec_s" -> sumSpans(t, ops, _ == s"catalog.$f.exec") / n / 1e3,
        s"catalog.$f.jobs" -> t.counters(_.startsWith(s"catalog.$f.")).jobs / n)
    }.toMap
  }
}

object CatalogWorkload {
  /** One cheap query from each of six catalog families (relational, window,
    * dedup, vector, tables, lakehouse), so a pass fits a run. */
  val Slice: Seq[String] = Seq("q1_pricing_summary", "w2_sessionize", "d2_minhash_lsh_pairs",
    "v4b_ivf_pruned_topk", "p12_html_table_parse", "dl6_zorder_skipping")

  /** The name prefix before the first digit: q, a, dl, st, … */
  def family(name: String): String = name.takeWhile(!_.isDigit)

  val Families: Seq[String] = Slice.map(family).distinct
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
