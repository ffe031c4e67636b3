package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the seed
  * (driver-side `SplittableRandom` streams, or `xxhash64(seed, salt, id)`
  * in Spark expressions), so the same seed gives the same rows in the
  * same order, and `digest` pins that byte for byte.
  */
object Gen {

  // ------------------------------------------------------------------
  // Warehouse: the fixture schema of the reference queries (region,
  // nation, customer, supplier, part, orders, lineitem, events), sized
  // by `k` thousandths of a TPC-H scale factor (k = 10 is sf0.01).
  // ------------------------------------------------------------------

  private def u(seed: Long, salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)

  private def between(seed: Long, salt: Int, id: Column,
                      lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(seed, salt, id) * lit((hi - lo + 1).toDouble)))
      .cast("long")

  private def pick(seed: Long, salt: Int, id: Column,
                   values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (between(seed, salt, id, 1, values.size)).cast("int"))

  private def money(seed: Long, salt: Int, id: Column,
                    lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, salt, id) * lit(hi - lo), 2)

  private def ntzDays(base: String, days: Column): Column =
    date_add(to_date(lit(base)), days.cast("int")).cast("timestamp_ntz")

  def warehouse(spark: SparkSession, seed: Long, k: Int): Map[String, DataFrame] = {
    val id = col("id")
    val nCust = 150L * k
    val nOrders = 1500L * k
    val nPart = 200L * k
    val nSupp = 10L * k
    val nEvents = 1000L * k
    def range(n: Long) = spark.range(0, n, 1, 2)
    import spark.implicits._
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      between(seed, 1, id, 0, 24).cast("int").as("c_nationkey"),
      money(seed, 2, id, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      between(seed, 4, id, 0, 24).cast("int").as("s_nationkey"),
      money(seed, 5, id, -999.99, 9999.99).as("s_acctbal"))
    val part = range(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, id, Seq("blue", "cold", "hot", "new", "old", "red", "small")),
        pick(seed, 7, id, Seq("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")))
        .as("p_name"),
      concat(lit("Brand#"), between(seed, 8, id, 1, 25).cast("string")).as("p_brand"),
      pick(seed, 9, id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      between(seed, 10, id, 1, 50).cast("int").as("p_size"),
      money(seed, 11, id, 900.0, 999.9).as("p_retailprice"))
    // a third of the customers never order, so the "not yet sent"
    // anti-joins of the reference queries have rows to find
    val ordCust = between(seed, 12, id, 0, nCust / 3 * 2 - 1)
    val orders = range(nOrders).select(
      id.as("o_orderkey"),
      (ordCust + floor(ordCust / 2) + 1).as("o_custkey"),
      pick(seed, 13, id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 14, id, 1000.0, 500000.0).as("o_totalprice"),
      ntzDays("1995-01-01", between(seed, 15, id, 0, 2404)).as("o_orderdate"),
      pick(seed, 16, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val li = col("li")
    val lineitem = range(nOrders)
      .select(id, explode(sequence(lit(1), between(seed, 17, id, 1, 7).cast("int")))
        .as("li"))
      .select(
        id.as("l_orderkey"),
        between(seed, 18, id * 8 + li, 0, nPart - 1).as("l_partkey"),
        between(seed, 19, id * 8 + li, 0, nSupp - 1).as("l_suppkey"),
        li.as("l_linenumber"),
        between(seed, 20, id * 8 + li, 1, 50).cast("double").as("l_quantity"),
        money(seed, 21, id * 8 + li, 900.0, 105000.0).as("l_extendedprice"),
        (between(seed, 22, id * 8 + li, 0, 10) / 100.0).as("l_discount"),
        (between(seed, 23, id * 8 + li, 0, 8) / 100.0).as("l_tax"),
        pick(seed, 24, id * 8 + li, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, 25, id * 8 + li, Seq("F", "O")).as("l_linestatus"),
        ntzDays("1995-01-02", between(seed, 26, id * 8 + li, 0, 2497))
          .as("l_shipdate"))
    val micros = between(seed, 27, id, 0, 30L * 86400L * 1000000L - 1)
    val events = range(nEvents).select(
      id.as("event_id"),
      (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L) + micros)
        .as("us"),
      between(seed, 28, id, 0, math.max(nCust / 10 - 1, 1)).as("user_id"),
      pick(seed, 29, id, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      money(seed, 30, id, 0.01, 490.02).as("value"),
      format_string("{\"k\": %d}", between(seed, 31, id, 0, 99)).as("props"))
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events)
  }

  /** Write warehouse tables as `<dir>/<name>.parquet`, the layout
    * `graft.model.Tables` reads.
    */
  def writeWarehouse(spark: SparkSession, seed: Long, k: Int, dir: String,
                     tables: Seq[String]): Unit = {
    val all = warehouse(spark, seed, k)
    tables.foreach(t => all(t).write.mode("error").parquet(s"$dir/$t.parquet"))
  }

  // ------------------------------------------------------------------
  // Text corpora (driver-side): a Zipf vocabulary mixed with English
  // stopwords, plus planted junk, exact duplicates, near duplicates and
  // rows contaminated with passages of a held-out evaluation set.
  // ------------------------------------------------------------------

  private val stopwords =
    Array("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
  private val syllables =
    Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do",
      "gi", "ha", "ju", "ke", "ma", "no", "pe", "ri", "su", "ta", "ve", "wo")

  final class Vocab(seed: Long, size: Int) {
    val words: Array[String] = {
      val r = new SplittableRandom(seed ^ 0x5bd1e995L)
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val n = 2 + r.nextInt(3)
        seen += (0 until n).map(_ => syllables(r.nextInt(syllables.length))).mkString
      }
      seen.toArray
    }
    // Zipf(1) cumulative weights, sampled by binary search
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def rank(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, size - 1)
    }
    def word(r: SplittableRandom): String =
      if (r.nextInt(10) < 3) stopwords(r.nextInt(stopwords.length))
      else words(rank(r))
    def text(r: SplittableRandom, nTok: Int): Array[String] =
      Array.fill(nTok)(word(r))
  }

  final case class Doc(docId: Long, text: String, source: String, kind: String)

  final case class Corpus(docs: Seq[Doc], evalPassages: Seq[String]) {
    def count(kind: String): Int = docs.count(_.kind == kind)
  }

  /** An LLM-pipeline corpus of `n` rows. Shares: 8 % junk (fails the
    * quality filter), 10 % exact copies and 10 % near copies (two
    * tokens changed) of earlier clean rows, 3 % clean rows carrying a
    * 13-token passage of the evaluation set; the rest are clean.
    */
  def llmCorpus(seed: Long, n: Int, vocab: Vocab): Corpus = {
    val r = new SplittableRandom(seed)
    val evalPassages = Seq.fill(200)(vocab.text(r, 20).mkString(" "))
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](n)
    val clean = new scala.collection.mutable.ArrayBuffer[Array[String]]()
    for (i <- 0 until n) {
      val source = s"src${r.nextInt(8)}"
      val roll = r.nextInt(100)
      val (kind, toks) =
        if (roll < 8 || clean.isEmpty && roll < 31)
          "junk" -> Array.fill(6 + r.nextInt(6))("#" + ('a' + r.nextInt(26)).toChar)
        else if (roll < 18 && clean.nonEmpty)
          "exact" -> clean(r.nextInt(clean.size))
        else if (roll < 28 && clean.nonEmpty) {
          val t = clean(r.nextInt(clean.size)).clone()
          for (_ <- 0 until 2) t(r.nextInt(t.length)) = vocab.words(r.nextInt(50))
          "near" -> t
        } else if (roll < 31) {
          val t = vocab.text(r, 40 + r.nextInt(30))
          val p = evalPassages(r.nextInt(evalPassages.size)).split(' ')
          val at = r.nextInt(p.length - 13)
          "contam" -> (t.take(t.length / 2) ++ p.slice(at, at + 13) ++ t.drop(t.length / 2))
        } else {
          val t = vocab.text(r, 40 + r.nextInt(30))
          clean += t
          "clean" -> t
        }
      docs += Doc(i.toLong, toks.mkString(" "), source, kind)
    }
    Corpus(docs.toSeq, evalPassages)
  }

  val corpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("kind", StringType)))

  def corpusFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => Row(d.docId, d.text, d.source, d.kind)), 4),
      corpusSchema)

  // ------------------------------------------------------------------
  // index_rw: searchable documents with clustered vectors, a keyed
  // record table, and append batches that each carry a marker term
  // found in no other batch.
  // ------------------------------------------------------------------

  val Dim = 32

  final case class VecDoc(docId: Long, text: String, source: String,
                          vec: Array[Float])

  final class Space(seed: Long) {
    private val r = new SplittableRandom(seed ^ 0x27d4eb2fL)
    val centers: Array[Array[Double]] =
      Array.fill(64)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    def vector(rr: SplittableRandom): Array[Float] = {
      val c = centers(rr.nextInt(centers.length))
      Array.tabulate(Dim)(j => (c(j) + (rr.nextDouble() - 0.5) * 1.2).toFloat)
    }
    /** A query near an existing vector (a perturbed copy of it). */
    def perturb(v: Array[Float], rr: SplittableRandom): Array[Float] =
      v.map(x => (x + (rr.nextDouble() - 0.5) * 0.1).toFloat)
  }

  def vecDocs(r: SplittableRandom, vocab: Vocab, space: Space, from: Long,
              n: Int, marker: Option[String]): Seq[VecDoc] =
    (0 until n).map { i =>
      val toks = vocab.text(r, 30 + r.nextInt(20))
      marker.foreach(m => toks(r.nextInt(toks.length)) = m)
      VecDoc(from + i, toks.mkString(" "), s"src${r.nextInt(8)}",
        space.vector(r))
    }

  val vecDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  def vecDocFrame(spark: SparkSession, docs: Seq[VecDoc]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => Row(d.docId, d.text, d.source, d.vec.toSeq)), 4),
      vecDocSchema)

  val recordSchema: StructType = StructType(Seq(
    StructField("rec_id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("version", IntegerType)))

  def records(r: SplittableRandom, vocab: Vocab, ids: Seq[Long],
              version: Int): Seq[Row] =
    ids.map(i => Row(i, vocab.words(r.nextInt(vocab.words.length)),
      math.rint(r.nextDouble() * 1e6) / 1e3, version))

  // ------------------------------------------------------------------
  // Digest: SHA-256 over a canonical rendering of rows, in order.
  // ------------------------------------------------------------------

  def digest(rows: Iterator[Seq[Any]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { row =>
      row.foreach {
        case a: Array[Float] => md.update(a.mkString("[", ",", "]").getBytes("UTF-8"))
        case v => md.update(String.valueOf(v).getBytes("UTF-8"))
      }
      md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
