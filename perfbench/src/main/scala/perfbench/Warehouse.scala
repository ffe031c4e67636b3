package perfbench

import graft.queries.ReferenceQueries

/** Reference-warehouse query builders over seeded fixture tables, each
  * executed through a `noop` write: short plans whose time goes to the
  * driver-side build, Catalyst and per-stage fixed costs.
  */
final class Warehouse(ctx: Ctx, expected: Option[Map[String, Seq[Long]]]) {
  import ctx.spark

  /** Thousandths of a TPC-H scale factor (10 = sf0.01). */
  val Scale = 10
  /** A fixed list, so runs with different seeds run the same plans: the
    * anti-join and window-bucketing shapes of the reference warehouse,
    * and a TPC-H aggregate.
    */
  val queries: Seq[String] =
    Seq("available_by_range", "distribution_assign", "pricing_summary")
  /** The fixture tables those queries read. */
  val tables: Seq[String] = Seq("customer", "orders", "supplier", "lineitem")

  private var dir: String = _
  private val sums = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def setup(d: String): Unit = {
    Gen.writeWarehouse(spark, ctx.seed, Scale, d, tables)
    dir = d
  }

  def run(q: String): Unit = {
    val df = ctx.span("queries.build")(ReferenceQueries.all(q)(spark, dir))
    ctx.noop(df)
  }

  /** Checks one execution's result: the order-insensitive checksum of a
    * collect must equal that of every earlier execution of the query,
    * and for the default seed the recorded one.
    */
  def check(q: String): Option[String] = {
    val c = Checksum.of(ReferenceQueries.all(q)(spark, dir).collect())
    val first = sums.getOrElseUpdate(q, c)
    if (c != first) Some(s"$q: checksum $c differs from the first run's $first")
    else expected.flatMap(_.get(q)).filter(_ != Seq(c._1, c._2))
      .map(e => s"$q: checksum $c differs from recorded ${e.mkString("(", ",", ")")}")
  }
}
