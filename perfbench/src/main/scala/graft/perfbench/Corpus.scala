package graft.perfbench

import java.security.MessageDigest
import java.time.LocalDateTime
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.ops.Pdf

/** Seeded inputs for every workload. Everything here is a pure function of
  * the seed, so the same seed rebuilds byte-identical PDFs and tables and
  * [[digest]] can prove it. */
object Corpus {

  /** The 31 distinct words of the testdata `documents` table. */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch", "dup")

  /** (text, x, y, font size): the block shape of `Pdf.buildBlocksPdf`. */
  type Block = (String, Double, Double, Double)

  val HeadingSize = 18.0
  val BodySize = 10.0

  /** One PDF document. `dupOf` marks a planted exact copy of an earlier
    * document; fingerprint dedup must drop every chunk of it. */
  final case class Doc(id: Long, blocks: IndexedSeq[Block], compress: Boolean, dupOf: Option[Long]) {
    lazy val pdf: Array[Byte] = Pdf.buildBlocksPdf(blocks, compress)
    def words: Seq[String] = blocks.flatMap(_._1.split(" "))
  }

  /** A question whose two rare terms occur in exactly one chunk, of `docId`. */
  final case class Question(text: String, docId: Long)

  final case class Batch(docs: IndexedSeq[Doc], questions: IndexedSeq[Question])

  private def words(rng: java.util.Random, lo: Int, hi: Int): String =
    Seq.fill(lo + rng.nextInt(hi - lo + 1))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")

  /** Rare term: "zx" never occurs inside a vocabulary word, so a keyword
    * match on it can only hit the planted block. */
  private def rareTerm(rng: java.util.Random): String =
    "zx" + Seq.fill(6)(('a' + rng.nextInt(24)).toChar).mkString

  /** Blocks of one page: 2–4 sections, each an 18 pt heading followed by
    * 2–5 body paragraphs at 10 pt, laid out top to bottom. */
  private def page(rng: java.util.Random): IndexedSeq[Block] = {
    val texts = (0 until 2 + rng.nextInt(3)).flatMap { _ =>
      (words(rng, 2, 3), HeadingSize) +: Seq.fill(2 + rng.nextInt(4))((words(rng, 6, 16), BodySize))
    }
    texts.zipWithIndex.map { case ((t, size), i) => (t, 72.0, 60.0 + 14.0 * i, size) }
  }

  /** `n` documents with ids 0 until n, `dupShare` of them exact copies of an
    * earlier non-planted document, and `nQuestions` of the others each
    * carrying one planted question. Odd ids are FlateDecode'd. */
  def batch(rng: java.util.Random, n: Int, dupShare: Double, nQuestions: Int): Batch = {
    val nDups = math.round(n * dupShare).toInt
    require(nQuestions + 2 * nDups <= n, "batch too small for its planted documents")
    // the first nQuestions docs carry questions; duplicates copy docs after
    // them and sit at the end, so an original always precedes its copy
    val originals = (0 until n - nDups).map(_ => page(rng))
    val used = mutable.Set.empty[String]
    val questions = (0 until nQuestions).map { i =>
      var (t1, t2) = (rareTerm(rng), rareTerm(rng))
      while (used(t1) || used(t2) || t1 == t2) { t1 = rareTerm(rng); t2 = rareTerm(rng) }
      used ++= Seq(t1, t2)
      Question(s"$t1 $t2 ${Vocab(rng.nextInt(Vocab.length - 1))}", i)
    }
    val planted = originals.zipWithIndex.map { case (blocks, i) =>
      if (i >= nQuestions) blocks else {
        val body = blocks.indices.filter(j => blocks(j)._4 == BodySize)
        val j = body(rng.nextInt(body.length))
        val terms = questions(i).text.split(" ").take(2).mkString(" ")
        blocks.updated(j, blocks(j).copy(_1 = blocks(j)._1 + " " + terms))
      }
    }
    val docs = planted.zipWithIndex.map { case (b, i) => Doc(i, b, i % 2 == 1, None) }
    val copies = (0 until nDups).map { k =>
      val src = docs(nQuestions + rng.nextInt(docs.length - nQuestions))
      val id = (docs.length + k).toLong
      Doc(id, src.blocks, id % 2 == 1, Some(src.id))
    }
    Batch(docs ++ copies, questions)
  }

  /** Every generated PDF must decode back to exactly its blocks; a failure
    * here is a generator or decoder defect, so set-up stops. */
  def selfCheck(docs: Seq[Doc]): Unit = docs.foreach { d =>
    val got = Pdf.extractBlocks(d.pdf).map(b => (b.text, b.x, b.y, b.size))
    require(got == d.blocks, s"generated PDF ${d.id} does not decode back to its blocks")
  }

  // ---------------------------------------------------------------------
  // Catalog tables: the testdata tables the catalog slice reads (same names,
  // columns, types and value domains), generated from the seed at about
  // scale factor 0.001.

  private def money(rng: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + rng.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(rng: java.util.Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(rng.nextInt(days).toLong)

  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
  private val Langs = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")

  private def f(name: String, t: DataType) = StructField(name, t)

  /** name → (schema, rows), deterministic in the seed. */
  def tables(seed: Long): Seq[(String, StructType, IndexedSeq[Row])] = {
    val rng = new java.util.Random(seed * 31 + 7)
    val (nCust, nSupp, nPart, nOrders, nLines, nDocs, nVecs, nEvents, nUsers) =
      (150, 10, 200, 1500, 6000, 500, 500, 1000, 15)
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val t0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orders = (0 until nOrders).map(i => Row(i.toLong, rng.nextInt(nCust).toLong,
      IndexedSeq("F", "O", "P")(rng.nextInt(3)), money(rng, 1000, 500000), day(rng, t0, 2404),
      Priorities(rng.nextInt(5))))
    val lineitem = (0 until nLines).map(_ => Row(rng.nextInt(nOrders).toLong,
      rng.nextInt(nPart).toLong, rng.nextInt(nSupp).toLong, 1 + rng.nextInt(7),
      (1 + rng.nextInt(50)).toDouble, money(rng, 900, 105000), rng.nextInt(11) / 100.0,
      rng.nextInt(9) / 100.0, IndexedSeq("A", "N", "R")(rng.nextInt(3)),
      IndexedSeq("F", "O")(rng.nextInt(2)), day(rng, t0.plusDays(1), 2498)))
    // one in twenty documents is a near-duplicate: an earlier text plus "dup"
    val docTexts = mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      docTexts += (if (i > 20 && rng.nextInt(20) == 0) docTexts(rng.nextInt(i)) + " dup"
                   else words(rng, 8, 90))
    }
    val documents = docTexts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(rng.nextInt(Langs.length)), s"src${rng.nextInt(20)}", t.length.toLong)
    }.toIndexedSeq
    val embeddings = (0 until nVecs).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = (0 until nEvents).map(i => Row(i.toLong,
      e0.plusNanos((rng.nextDouble() * 30 * 86400e6).toLong * 1000L), rng.nextInt(nUsers).toLong,
      EventTypes(rng.nextInt(5)), money(rng, 0.01, 490.0), s"""{"k": ${rng.nextInt(100)}}"""))
    val ts = TimestampNTZType
    Seq(
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", ts),
        f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", ts))), lineitem),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
        embeddings),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", ts), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))), events))
  }

  /** Write each table as one `<name>.parquet` file under `dir` — a single
    * file, not a Spark output directory, so DuckDB's oracle reads it too. */
  def writeTables(spark: SparkSession, tabs: Seq[(String, StructType, IndexedSeq[Row])],
                  dir: String): Unit = tabs.foreach { case (name, schema, rows) =>
    val tmp = s"$dir/_$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
    Files.deleteTree(new java.io.File(tmp))
  }

  /** Order-independent digest of a multiset of records. */
  def digest(records: Iterator[String]): String = {
    val hashes = records.map { r =>
      MessageDigest.getInstance("SHA-256").digest(r.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    hashes.foreach(h => md.update(h.getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
