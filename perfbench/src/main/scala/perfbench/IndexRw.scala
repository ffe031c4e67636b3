package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Bm25Index, PqIndex, TextAnalysis}
import graft.sinks.ManifestTable
import graft.sources.{ManifestIndexSource, SearchRelations}

/** Mixed structured, text and vector traffic against persisted tables
  * and indexes: 75 % reads (reference-warehouse queries, BM25, IVF-PQ
  * and hybrid searches, one through `GRAFT SEARCH` SQL, and key
  * lookups) and 25 % writes (corpus appends that end when the new rows
  * are searchable, record upserts, merge-on-read deletes, and the
  * compaction that folds their tombstones).
  */
final class IndexRw(ctx: Ctx, expected: Option[Map[String, Seq[Long]]])
    extends Workload {
  import ctx.spark
  import spark.implicits._

  val InitialDocs = 1000
  val InitialRecords = 500
  val BatchDocs = 30
  val TopK = 10
  /** Buckets of every manifest table and index. */
  val Buckets = 4
  /** Recall floor against brute force (PQ probes 2 of 8 coded lists),
    * recorded from seeds 1 and 11-35 with headroom.
    */
  val PqRecallFloor = 0.5

  val warehouse = new Warehouse(ctx, expected)

  private var root: String = _
  private def corpus = s"$root/corpus"
  private def records = s"$root/records"
  private def bm25 = s"$root/bm25"
  private def pq = s"$root/pq"

  private var vocab: Gen.Vocab = _
  private var space: Gen.Space = _
  /** Live state the checks compare against. */
  private val docs = mutable.LinkedHashMap.empty[Long, Gen.VecDoc]
  private val recs = mutable.LinkedHashMap.empty[Long, Row]
  private var nextDoc = 0L
  private var nextRec = 0L
  private var userBytesWritten = 0L
  private var diskBytesWritten = 0L
  private var indexDirty = false

  def setup(d: String): Unit = {
    root = d
    vocab = new Gen.Vocab(ctx.seed, 3000)
    space = new Gen.Space(ctx.seed)
    val r = new SplittableRandom(ctx.seed)
    docs.clear(); recs.clear()
    val initial = Gen.vecDocs(r, vocab, space, 0L, InitialDocs, None)
    initial.foreach(x => docs(x.docId) = x)
    nextDoc = InitialDocs
    ManifestTable.write(Gen.vecDocFrame(spark, initial), corpus, "doc_id", Buckets)
    Bm25Index.sync(spark, bm25, corpus, "doc_id", "text", nBuckets = Buckets)
    PqIndex.sync(spark, pq, corpus, "doc_id", "vec", kLists = 8, m = 16, k = 16,
      nBuckets = Buckets)
    val rows = Gen.records(r, vocab, 0L until InitialRecords.toLong, 0)
    rows.foreach(x => recs(x.getLong(0)) = x)
    nextRec = InitialRecords
    ManifestTable.write(spark.createDataFrame(rows.asJava, Gen.recordSchema),
      records, "rec_id", Buckets)
    warehouse.setup(s"$d/warehouse")
  }

  // -- reads ---------------------------------------------------------

  private def terms(r: SplittableRandom): Seq[String] =
    Seq.fill(2)(vocab.words(vocab.rank(r))).distinct

  private def bm25Search(ts: Seq[String]): Array[Row] = {
    val name = if (indexDirty) "search.cold_after_write" else "search.warm"
    indexDirty = false
    ctx.span(name)(ctx.span("bm25.search") {
      ctx.collect(Bm25Index.search(spark, bm25, ts.toDF("term"), k = TopK))
    })
  }

  private def queryFrame(vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(vs.zipWithIndex.map { case (v, j) =>
      Row(-1L - j, v.toSeq) }.asJava,
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qv", ArrayType(FloatType, containsNull = false)))))

  private def nearVector(r: SplittableRandom): Array[Float] = {
    val ids = docs.keysIterator.toIndexedSeq
    space.perturb(docs(ids(r.nextInt(ids.size))).vec, r)
  }

  private def pqSearch(vs: Seq[Array[Float]]): Array[Row] =
    ctx.span("pq.search")(ctx.collect(PqIndex.search(spark, pq,
      queryFrame(vs), "qid", "qv", topK = TopK, nProbe = 2,
      queryBound = vs.size.toLong)))

  private def hybrid(ts: Seq[String], v: Array[Float]): Array[Row] =
    ctx.span("hybrid.search") {
      val tRank = Bm25Index.search(spark, bm25, ts.toDF("term"), k = 20)
        .select(col("doc_id"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("score"), col("doc_id"))).cast("long").as("rank_text"))
      val vRank = PqIndex.search(spark, pq, queryFrame(Seq(v)), "qid", "qv",
          topK = 20, nProbe = 2, queryBound = 1L)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("rank_vec"))
      ctx.collect(SearchRelations.fuseRrf(tRank, vRank, k = TopK))
    }

  private def lookup(keys: Seq[Long]): Array[Row] =
    ctx.span("scan.lookup")(ctx.collect(ManifestIndexSource.read(spark, records)
      .filter(col("rec_id").isin(keys: _*))
      .select("rec_id", "name", "score", "version")))

  /** `spark.sql` runs the search command eagerly; its parse shows as
    * the `sql.parse` span of the session's [[Main.TimedParser]].
    */
  private def sqlSearch(ts: Seq[String]): Array[Row] = {
    val text = s"GRAFT SEARCH TEXT '$bm25' TERMS (${ts.map(t => s"'$t'").mkString(", ")}) TOP $TopK"
    ctx.collect(ctx.span("sql.search")(spark.sql(text)))
  }

  /** BM25 top-k over the live corpus, computed on the driver from the
    * generated texts with the index's formula: (doc_id, score rounded
    * to six places), by score then doc_id.
    */
  private def bm25Oracle(ts: Seq[String]): Seq[(Long, Double)] = {
    val toks = docs.valuesIterator.map(d => d.docId -> d.text.trim.split("\\s+")).toSeq
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.length).sum / n
    val q = ts.distinct
    val df = q.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    toks.flatMap { case (id, ws) =>
      val cs = q.map(t => t -> ws.count(_ == t).toDouble).collect { case (t, tf) if tf > 0 =>
        math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * (tf * 2.2) /
          (tf + 1.2 * (0.25 + 0.75 * ws.length / avgdl))
      }
      if (cs.isEmpty) None
      else Some(id -> BigDecimal(cs.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, score) => (-score, id) }.take(TopK)
  }

  /** A text search result (doc_id, matched_terms, score) must equal
    * [[bm25Oracle]] on the same terms.
    */
  private def searchCheck(what: String, ts: Seq[String], got: Array[Row]): Option[String] = {
    val want = bm25Oracle(ts)
    val have = got.map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val same = have.size == want.size && have.zip(want).forall { case ((a, x), (b, y)) =>
      a == b && math.abs(x - y) <= 1e-6 }
    if (same) None
    else Some(s"$what for ${ts.mkString(" ")} gave ${have.take(3)}..., " +
      s"BM25 over the live corpus gives ${want.take(3)}...")
  }

  /** A vector or hybrid search returns `TopK` distinct live docs. */
  private def neighbourCheck(what: String, ids: Seq[Long]): Option[String] =
    if (ids.size == TopK && ids.distinct.size == TopK && ids.forall(docs.contains)) None
    else Some(s"$what returned ${ids.size} ids (${ids.distinct.size} distinct, " +
      s"${ids.count(docs.contains)} live), want $TopK")

  private def lookupCheck(keys: Seq[Long], got: Array[Row]): Option[String] = {
    val want = keys.distinct.flatMap(recs.get).map(_.toSeq).toSet
    val have = got.map(_.toSeq).toSet
    if (want != have) Some(s"lookup of ${keys.mkString(",")} returned " +
      s"${have.size} rows, live state has ${want.size}")
    else None
  }

  // -- writes --------------------------------------------------------

  private def userBytes(d: Gen.VecDoc): Long =
    8L + d.text.getBytes("UTF-8").length + d.source.length + 4L * d.vec.length

  private def userBytes(r: Row): Long = 8L + r.getString(1).length + 8L + 4L

  /** A write op whose check also counts the bytes it added on disk
    * under `paths` (both walks happen outside the timed region).
    */
  private def writeOp(name: String, paths: Seq[String])(run: () => Unit)(
                      check: () => Option[String]): Op = {
    val before = paths.map(Disk.bytes).sum
    Op(name, "write", run, () => {
      diskBytesWritten += math.max(0L, paths.map(Disk.bytes).sum - before)
      check()
    })
  }

  private def appendBatch(i: Int, r: SplittableRandom): Seq[Long] = {
    val batch = Gen.vecDocs(r, vocab, space, nextDoc, BatchDocs, Some(marker(i)))
    nextDoc += BatchDocs
    ctx.span("manifest.append")(
      ManifestTable.append(spark, corpus, Gen.vecDocFrame(spark, batch), "doc_id"))
    ctx.span("bm25.sync")(Bm25Index.sync(spark, bm25, corpus, "doc_id", "text",
      nBuckets = Buckets))
    ctx.span("pq.sync")(PqIndex.sync(spark, pq, corpus, "doc_id", "vec",
      kLists = 8, m = 16, k = 16, nBuckets = Buckets))
    batch.foreach(d => docs(d.docId) = d)
    userBytesWritten += batch.map(userBytes).sum
    indexDirty = true
    batch.map(_.docId)
  }

  private def marker(i: Int): String = s"zqmark$i"

  private def upsert(r: SplittableRandom, i: Int): Seq[Long] = {
    val live = recs.keysIterator.toIndexedSeq
    val ids = (Seq.fill(15)(live(r.nextInt(live.size))) ++
      (nextRec until nextRec + 5)).distinct
    nextRec += 5
    val rows = Gen.records(r, vocab, ids, i + 1)
    ctx.span("manifest.upsert")(ManifestTable.upsert(spark, records,
      spark.createDataFrame(rows.asJava, Gen.recordSchema), "rec_id"))
    rows.foreach(x => recs(x.getLong(0)) = x)
    userBytesWritten += rows.map(userBytes).sum
    ids
  }

  /** Merge-on-read delete of three live keys: tombstones that reads pay
    * for until compaction folds them.
    */
  private def delete(r: SplittableRandom): Seq[Long] = {
    val live = recs.keysIterator.toIndexedSeq
    val ids = Seq.fill(3)(live(r.nextInt(live.size))).distinct
    ctx.span("manifest.delete")(
      ManifestTable.deleteKeys(spark, records, ids.toDF("rec_id"), "rec_id"))
    ids.foreach(recs.remove)
    ids
  }

  private def compact(): Unit =
    ctx.span("manifest.compact")(ManifestTable.compact(spark, records))

  // -- the loop ------------------------------------------------------

  /** The request schedule: a fixed cycle of twelve reads and four
    * writes; the BM25 search right after the corpus append meets the
    * index memos cold. The warehouse slots take the queries in list
    * order.
    */
  private val Cycle = Seq("bm25_search", "upsert", "wh", "pq_search",
    "delete", "key_lookup", "append_sync", "bm25_search", "wh", "hybrid_search",
    "sql_search", "key_lookup", "compact", "pq_search", "wh", "key_lookup")

  override def period: Int = Cycle.size

  def opName(i: Int): String = Cycle(i % Cycle.size) match {
    case "wh" => warehouse.queries(Cycle.take(i % Cycle.size).count(_ == "wh"))
    case name => name
  }

  /** A read op whose check sees the rows it returned. */
  private def readOp(name: String)(run: => Array[Row])(
                     check: Array[Row] => Option[String]): Op = {
    var got: Array[Row] = Array.empty
    Op(name, "read", () => got = run, () => check(got))
  }

  /** The i-th request. Its inputs are drawn here, before the loop
    * starts the op's clock.
    */
  def op(i: Int): Op = {
    val r = new SplittableRandom(ctx.seed * 1000003L + i)
    opName(i) match {
      case n @ "bm25_search" =>
        val ts = terms(r)
        readOp(n)(bm25Search(ts))(searchCheck(n, ts, _))
      case n @ "pq_search" =>
        val v = nearVector(r)
        readOp(n)(pqSearch(Seq(v)))(got =>
          neighbourCheck(n, got.map(_.getAs[Long]("neighbor_id")).toSeq))
      case n @ "hybrid_search" =>
        val ts = terms(r)
        val v = nearVector(r)
        readOp(n)(hybrid(ts, v))(got =>
          neighbourCheck(n, got.map(_.getAs[Long]("doc_id")).toSeq))
      case n @ "sql_search" =>
        val ts = terms(r)
        readOp(n)(sqlSearch(ts))(searchCheck(n, ts, _))
      case n @ "key_lookup" =>
        val keys = Seq.fill(4)(r.nextInt((nextRec + 2).toInt).toLong)
        readOp(n)(lookup(keys))(lookupCheck(keys, _))
      case n @ "append_sync" =>
        var ids: Seq[Long] = Nil
        writeOp(n, Seq(corpus, bm25, pq))(() => ids = appendBatch(i, r)) { () =>
          val hits = Bm25Index.search(spark, bm25, Seq(marker(i)).toDF("term"),
            k = BatchDocs * 2).collect().map(_.getLong(0)).toSet
          if (hits != ids.toSet) Some(s"appended batch $i: ${hits.size} of " +
            s"${ids.size} new rows searchable")
          else None
        }
      case n @ "upsert" =>
        var ids: Seq[Long] = Nil
        writeOp(n, Seq(records))(() => ids = upsert(r, i))(() => lookupCheck(ids, lookup(ids)))
      case n @ "delete" =>
        var ids: Seq[Long] = Nil
        writeOp(n, Seq(records))(() => ids = delete(r))(() => lookupCheck(ids, lookup(ids)))
      case q if warehouse.queries.contains(q) =>
        Op(q, "read", () => warehouse.run(q), () => warehouse.check(q))
      case n @ "compact" =>
        val keys = Seq.fill(4)(r.nextInt(nextRec.toInt).toLong)
        writeOp(n, Seq(records))(() => compact())(() => lookupCheck(keys, lookup(keys)))
    }
  }

  // -- checks --------------------------------------------------------

  /** The index search equals BM25 recomputed from the live corpus by
    * re-exploding it, for one sampled query.
    */
  private def bm25Check(ts: Seq[String]): Option[String] = {
    val got = Bm25Index.search(spark, bm25, ts.toDF("term"), k = TopK).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val live = ManifestTable.read(spark, corpus)
    val tf = live.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
    val n = live.count().toDouble
    val avgdl = tf.agg(sum("tf")).head().getLong(0) / n
    val q = tf.filter(col("term").isin(ts: _*))
    val df = q.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val want = q.join(df, "term").join(dl, "doc_id")
      .withColumn("c", log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (col("tf") * 2.2) / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .groupBy("doc_id").agg(round(sum("c"), 6).as("score"))
      .orderBy(desc("score"), col("doc_id")).limit(TopK)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val same = got.size == want.size && got.zip(want).forall { case ((a, x), (b, y)) =>
      a == b && math.abs(x - y) <= 1e-6 }
    if (same) None
    else Some(s"BM25 index search for ${ts.mkString(" ")} gave ${got.take(3)}..., " +
      s"re-explode gave ${want.take(3)}...")
  }

  private def l2(a: Array[Float], b: Array[Float]): Double =
    a.indices.map(j => (a(j) - b(j)).toDouble).map(x => x * x).sum

  /** Mean recall@k of PQ search against brute-force L2 over the live
    * corpus, on 10 perturbed-corpus queries.
    */
  private lazy val recall: Double = {
    val r = new SplittableRandom(ctx.seed ^ 0x165667b1L)
    val qs = Seq.fill(10)(nearVector(r))
    val all = docs.values.toSeq
    val want = qs.map(q => all.sortBy(d => l2(q, d.vec)).take(TopK).map(_.docId).toSet)
    val got = PqIndex.search(spark, pq, queryFrame(qs), "qid", "qv", topK = TopK,
        nProbe = 2).collect()
      .groupBy(_.getLong(0)).map { case (qid, rs) => (-1L - qid).toInt -> rs.map(_.getLong(1)).toSet }
    want.indices.map(j => (got.getOrElse(j, Set.empty[Long]) & want(j)).size.toDouble / TopK)
      .sum / want.size
  }

  def finish(): Seq[String] = {
    val r = new SplittableRandom(ctx.seed ^ 0x9e3779b9L)
    bm25Check(terms(r)).toSeq ++
      (if (recall < PqRecallFloor) Seq(f"PQ recall@$TopK $recall%.3f below $PqRecallFloor")
       else Nil)
  }

  private def liveUserBytes: Long =
    docs.values.map(userBytes).sum + recs.values.map(userBytes).sum

  def detail(ops: Seq[OpRecord]): Seq[(String, Double)] =
    Seq("read", "write").flatMap(kind => Main.latencies(ops.filter(_.kind == kind), kind)) ++
      Seq(
        "space_amp" -> Seq(corpus, records, bm25, pq).map(Disk.bytes).sum
          .toDouble / liveUserBytes,
        "recall_at_k" -> recall)

  def layers(l: Layers): Seq[(String, Double)] = {
    val lookups = l.calls("scan.lookup")
    val lookupRows = lookups.size * 4.0
    Seq(
      "bm25.search_s" -> l.meanS("bm25.search"),
      "pq.search_s" -> l.meanS("pq.search"),
      "hybrid.search_s" -> l.meanS("hybrid.search"),
      "search.cold_after_write_s" -> l.meanS("search.cold_after_write"),
      "search.warm_s" -> l.meanS("search.warm"),
      "bm25.sync_s" -> l.meanS("bm25.sync"),
      "pq.sync_s" -> l.meanS("pq.sync"),
      "ann.recall_at_k" -> recall,
      "manifest.append_s" -> l.meanS("manifest.append"),
      "manifest.upsert_s" -> l.meanS("manifest.upsert"),
      "manifest.delete_s" -> l.meanS("manifest.delete"),
      "manifest.compact_s" -> l.meanS("manifest.compact"),
      "manifest.compactions" -> l.calls("manifest.compact").size.toDouble,
      "manifest.bytes_written_per_user_byte" ->
        (if (userBytesWritten == 0) 0.0 else diskBytesWritten.toDouble / userBytesWritten),
      "manifest.dirs_per_bucket" ->
        Seq(corpus, records).map(Disk.dirsPerBucket).sum / 2,
      "scan.lookup_s" -> l.meanS("scan.lookup"),
      "sql.parse_s" -> l.meanS("sql.parse"),
      "scan.input_bytes" -> (if (lookups.isEmpty) 0.0
        else l.counter("scan.lookup")(_.inputBytes.get).toDouble / lookups.size),
      "scan.rows_read_per_row_returned" -> (if (lookups.isEmpty) 0.0
        else l.counter("scan.lookup")(_.inputRecords.get) / lookupRows))
  }
}

/** What a table or index occupies on disk, read from the outside. */
object Disk {
  def remove(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(remove))
    f.delete()
  }

  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Mean data dirs per bucket in a manifest table's newest manifest. */
  def dirsPerBucket(path: String): Double = {
    val ms = Option(new File(path, "_manifests").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("v\\d+\\.json"))
    if (ms.isEmpty) 0.0
    else {
      val buckets = mapper.readTree(ms.maxBy(_.getName)).get("buckets")
      val sizes = buckets.iterator().asScala.map(_.size()).toSeq
      if (sizes.isEmpty) 0.0 else sizes.sum.toDouble / sizes.size
    }
  }
}
