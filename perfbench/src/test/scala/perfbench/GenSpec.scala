package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpusDigest(seed: Long): String = {
    val c = Gen.llmCorpus(seed, 500, new Gen.Vocab(seed, 300))
    Gen.digest(c.docs.iterator.map(d => Seq(d.docId, d.text, d.source, d.kind)) ++
      c.evalPassages.iterator.map(Seq(_)))
  }

  private def vecDigest(seed: Long): String = {
    val r = new SplittableRandom(seed)
    val docs = Gen.vecDocs(r, new Gen.Vocab(seed, 300), new Gen.Space(seed), 0L, 200,
      Some("marker"))
    Gen.digest(docs.iterator.map(d => Seq(d.docId, d.text, d.source, d.vec)))
  }

  private def warehouseDigest(seed: Long): String =
    Gen.digest(Gen.warehouse(spark, seed, 1).toSeq.sortBy(_._1).iterator.flatMap {
      case (name, df) => Iterator(Seq(name)) ++ df.collect().iterator.map(_.toSeq)
    })

  test("the same seed gives byte-identical inputs") {
    assert(corpusDigest(7) == corpusDigest(7))
    assert(vecDigest(7) == vecDigest(7))
    assert(warehouseDigest(7) == warehouseDigest(7))
  }

  test("another seed gives other inputs") {
    assert(corpusDigest(7) != corpusDigest(8))
    assert(vecDigest(7) != vecDigest(8))
    assert(warehouseDigest(7) != warehouseDigest(8))
  }

  test("the corpus plants every kind of row the pipeline must remove") {
    val c = Gen.llmCorpus(3, 2000, new Gen.Vocab(3, 300))
    for (kind <- Seq("clean", "junk", "exact", "near", "contam"))
      assert(c.count(kind) > 0, kind)
    assert(c.count("clean") > c.docs.size / 2)
  }

  test("the warehouse tables carry the fixture schema") {
    val t = Gen.warehouse(spark, 1, 1)
    assert(t("orders").schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "o_orderkey" -> "bigint", "o_custkey" -> "bigint", "o_orderstatus" -> "string",
      "o_totalprice" -> "double", "o_orderdate" -> "timestamp_ntz",
      "o_orderpriority" -> "string"))
    assert(t("customer").count() == 150)
    // a third of the customers never order
    val ordering = t("orders").select("o_custkey").distinct().count()
    assert(ordering < 150 && ordering > 50)
  }
}
