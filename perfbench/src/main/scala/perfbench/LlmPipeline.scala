package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Sketches
import graft.ops.{Bpe, Dedup, TextAnalysis}

/** One op is one pass of an LLM data pipeline over a seeded corpus:
  * quality filter -> exact dedup -> MinHash near-dup pairs + connected
  * components -> decontamination -> BPE train + encode -> token-budget
  * pack. Each stage's output is materialized, so stages time apart.
  */
final class LlmPipeline(ctx: Ctx, expected: Option[Map[String, Seq[Long]]])
    extends Workload {
  import ctx.spark

  val Docs = 2000
  val BpeRounds = 3
  val QualityFloor = 0.5
  val TokenBudget = 6000L
  val Stages: Seq[String] =
    Seq("quality", "exact_dedup", "near_dup", "decontam", "bpe", "pack")
  /** Names of a pass's counts: rows after each stage (sources for
    * `pack`), then the packed docs and tokens.
    */
  val CountNames: Seq[String] = Stages :+ "n_kept" :+ "tok_kept"
  /** MinHash banding may miss a near copy now and then; a near-dup stage
    * that let more than this share of them through is broken.
    */
  val NearMissShare = 0.05

  private var corpusPath: String = _
  private var evalPath: String = _
  private var corpus: Gen.Corpus = _
  private var byId: Map[Long, Gen.Doc] = Map.empty

  /** The counts of every checked pass. */
  private val passCounts = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]

  def setup(d: String): Unit = {
    corpus = Gen.llmCorpus(ctx.seed, Docs, new Gen.Vocab(ctx.seed, 3000))
    byId = corpus.docs.map(d => d.docId -> d).toMap
    corpusPath = s"$d/corpus.parquet"
    evalPath = s"$d/eval.parquet"
    Gen.corpusFrame(spark, corpus.docs).write.parquet(corpusPath)
    import spark.implicits._
    corpus.evalPassages.zipWithIndex.map(_.swap).toDF("eval_id", "text")
      .coalesce(1).write.parquet(evalPath)
  }

  private def stage(name: String)(build: => DataFrame): (DataFrame, Long) =
    ctx.span(s"pipeline.$name") {
      val df = build.persist()
      (df, ctx.action(df.count()))
    }

  /** One pass's persisted stage outputs, their row counts and the
    * merges BPE trained. The op's check reads them, then releases them.
    */
  private final case class Pass(frames: Seq[DataFrame], counts: Seq[Long],
                                merges: Seq[(String, String)])

  private def pass(): Pass = {
    val docs = spark.read.parquet(corpusPath).select("doc_id", "text", "source")
    val (q, nq) = stage("quality") {
      docs.filter(TextAnalysis.qualityScore(col("text")) >= QualityFloor)
    }
    val (ex, nex) = stage("exact_dedup") {
      q.join(Dedup.exactCanonical(q, "text", "doc_id")
        .select(col("canonical_id").as("doc_id")), Seq("doc_id"), "left_semi")
    }
    val (nd, nnd) = stage("near_dup") {
      val prepared = Dedup.prepareMinhash(ex, "doc_id", "text",
        shingleN = 2, numHashes = 64, bands = 16)
      val pairs = Dedup.estVerifiedPairs(prepared, 64, 0.5).select("id_l", "id_r")
      val cc = ctx.span("dedup.cc")(
        Dedup.connectedComponents(ex.select("doc_id"), "doc_id", pairs))
      ex.join(cc.filter(col("id") === col("cluster")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_semi")
    }
    val (dc, ndc) = stage("decontam") {
      val evalGrams = spark.read.parquet(evalPath)
        .select(explode(Sketches.word_ngrams(col("text"), 5)).as("gram"))
        .distinct()
      val hits = nd.select(col("doc_id"),
          explode(array_distinct(Sketches.word_ngrams(col("text"), 5))).as("gram"))
        .join(broadcast(evalGrams), "gram")
        .select("doc_id")
      nd.join(hits, Seq("doc_id"), "left_anti")
    }
    var merges: Seq[(String, String)] = Nil
    val (enc, nenc) = stage("bpe") {
      merges = ctx.span("bpe.train")(
        Bpe.train(dc, "text", BpeRounds).orderBy("round").collect())
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encode(dc, "text", merges, keep = Seq("doc_id", "source"))
        .select(col("doc_id"), col("source"), size(col("syms")).cast("long").as("n_tok"))
    }
    val (packed, nsrc) = stage("pack") {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      enc.withColumn("cum", sum(col("n_tok")).over(w))
        .groupBy("source")
        .agg(count(when(col("cum") <= TokenBudget, 1)).as("n_kept"),
          coalesce(sum(when(col("cum") <= TokenBudget, col("n_tok"))), lit(0L))
            .as("tok_kept"))
    }
    Pass(Seq(q, ex, nd, dc, enc, packed), Seq(nq, nex, nnd, ndc, nenc, nsrc), merges)
  }

  def opName(i: Int): String = "pass"

  /** Two passes make one period: a pass outlasts a run's `--seconds`,
    * and a run measures whole periods, so each run times two passes.
    */
  override def period: Int = 2

  def op(i: Int): Op = {
    var p: Pass = null
    Op("pass", "pass", () => p = pass(),
      () => try verify(p) finally p.frames.foreach(_.unpersist()))
  }

  // -- checks: every stage against a driver-side oracle ------------------

  private def tokens(text: String): Array[String] = text.split(' ')

  private def grams5(text: String): Iterator[String] =
    tokens(text).sliding(5).filter(_.length == 5).map(_.mkString(" "))

  /** `Bpe.train` in word mode: each round merges the most frequent
    * adjacent symbol pair (ties by first, then second symbol).
    */
  private def bpeTrain(texts: Seq[Array[String]], rounds: Int): Seq[(String, String)] = {
    var state = texts.filter(_.length >= 2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < rounds && state.nonEmpty) {
      val pairs = state.flatMap(s => s.indices.dropRight(1).map(j => (s(j), s(j + 1))))
        .groupBy(identity).map { case (pr, v) => pr -> v.size }
      val top = pairs.maxBy(_._2)._2
      val m = pairs.collect { case (pr, n) if n == top => pr }.min
      merges += m
      state = state.map(bpeMerge(_, m)).filter(_.length >= 2)
    }
    merges.toSeq
  }

  /** One left-to-right, non-overlapping merge pass (`bpe_merge`). */
  private def bpeMerge(syms: Array[String], m: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == m._1 && syms(j + 1) == m._2) {
        out += s"${m._1} ${m._2}"
        j += 2
      } else {
        out += syms(j)
        j += 1
      }
    }
    out.toArray
  }

  /** Compares each stage's output with what the generator planted or a
    * driver-side recomputation gives: the quality filter drops exactly
    * the junk rows; exact dedup keeps the smallest id of each distinct
    * text; near dedup removes only planted near copies, and nearly all
    * of them (MinHash is approximate); decontamination drops exactly the
    * rows sharing a 5-gram with an evaluation passage; BPE trains the
    * same merges and encodes every row to the same token count; packing
    * keeps, per source and in id order, the rows within the budget.
    */
  private def verify(p: Pass): Option[String] = {
    val Seq(q, ex, nd, dc, enc, packed) = p.frames
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val (qIds, exIds, ndIds, dcIds) = (ids(q), ids(ex), ids(nd), ids(dc))
    val nTok = enc.select("doc_id", "n_tok").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packs = packed.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val counts = p.counts :+ packs.values.map(_._1).sum :+ packs.values.map(_._2).sum
    passCounts += counts

    def kind(id: Long) = byId(id).kind
    val wantQ = corpus.docs.filter(_.kind != "junk").map(_.docId).toSet
    val wantEx = qIds.toSeq.map(byId).groupBy(_.text).values.map(_.map(_.docId).min).toSet
    val removed = exIds -- ndIds
    val nearIn = exIds.count(kind(_) == "near")
    val nearLeft = ndIds.count(kind(_) == "near")
    val evalGrams = corpus.evalPassages.flatMap(grams5).toSet
    val wantDc = ndIds.filterNot(id => grams5(byId(id).text).exists(evalGrams))
    val kept = dcIds.toSeq.sorted.map(byId)
    val wantMerges = bpeTrain(kept.map(d => tokens(d.text)), BpeRounds)
    val wantTok = kept.map(d =>
      d.docId -> wantMerges.foldLeft(tokens(d.text))(bpeMerge).length.toLong).toMap
    val wantPacks = kept.groupBy(_.source).map { case (src, ds) =>
      val cum = ds.map(d => wantTok(d.docId)).scanLeft(0L)(_ + _).tail
      val in = cum.count(_ <= TokenBudget)
      src -> (in.toLong, cum.take(in).lastOption.getOrElse(0L))
    }
    Seq(
      (qIds != wantQ) -> s"quality kept ${qIds.size} rows, ${wantQ.size} are not junk",
      (exIds != wantEx) -> s"exact dedup kept ${exIds.size} rows for ${wantEx.size} distinct texts",
      removed.exists(kind(_) != "near") ->
        s"near dedup removed ${removed.count(kind(_) != "near")} rows that are not near copies",
      (nearLeft > nearIn * NearMissShare) ->
        s"near dedup let $nearLeft of $nearIn near copies through",
      (dcIds != wantDc.toSet) ->
        s"decontamination kept ${dcIds.size} rows, ${wantDc.size} share no 5-gram with the eval set",
      (p.merges != wantMerges) -> s"BPE trained ${p.merges}, want $wantMerges",
      (nTok != wantTok) -> s"BPE encoded ${nTok.values.sum} tokens, want ${wantTok.values.sum}",
      (packs != wantPacks) -> s"pack kept $packs, want $wantPacks",
      (counts != passCounts.head) -> (s"counts ${counts.mkString(",")} differ from the " +
        s"first pass ${passCounts.head.mkString(",")}")
    ).collectFirst { case (true, msg) => msg }
  }

  /** For the default seed, the first pass's counts equal the recorded ones. */
  def finish(): Seq[String] =
    expected.toSeq.flatMap { e =>
      val want = CountNames.map(n => e.get(n).flatMap(_.headOption).getOrElse(-1L))
      passCounts.headOption.filter(_ != want).map(c =>
        s"pass counts ${CountNames.zip(c).mkString(",")} differ from the recorded " +
          want.mkString(","))
    }

  def detail(ops: Seq[OpRecord]): Seq[(String, Double)] = {
    val passes = ops.filter(_.ok).map(o => Docs / (o.wallNs / 1e9))
    Seq("docs_per_s" -> (if (passes.isEmpty) 0.0 else Stats.median(passes))) ++
      passCounts.headOption.toSeq.flatMap(c => CountNames.map(n => s"count.$n").zip(c.map(_.toDouble)))
  }

  /** Funnel counts of the near-dup stage, from one untimed recount. */
  private def funnel(): (Long, Long) = {
    val docs = spark.read.parquet(corpusPath).select("doc_id", "text")
      .filter(TextAnalysis.qualityScore(col("text")) >= QualityFloor)
    val ex = docs.join(Dedup.exactCanonical(docs, "text", "doc_id")
      .select(col("canonical_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val prepared = Dedup.prepareMinhash(ex, "doc_id", "text", 2, 64, 16).cache()
    try (Dedup.candidatePairs(prepared, "id", "bands").count(),
      Dedup.estVerifiedPairs(prepared, 64, 0.5).count())
    finally prepared.unpersist()
  }

  def layers(l: Layers): Seq[(String, Double)] = {
    val (cand, verified) = funnel()
    val merges = l.calls("bpe.train").size * BpeRounds
    Stages.map(s => s"pipeline.${s}_s" -> l.meanS(s"pipeline.$s")) ++ Seq(
      "bpe.jobs_per_merge" ->
        (if (merges == 0) 0.0 else l.counter("bpe.train")(_.jobs.get).toDouble / merges),
      "dedup.candidate_pairs" -> cand.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.verified_per_candidate" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "dedup.cc_jobs" -> (if (l.calls("dedup.cc").isEmpty) 0.0
        else l.counter("dedup.cc")(_.jobs.get).toDouble / l.calls("dedup.cc").size))
  }
}
