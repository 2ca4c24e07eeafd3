package perfbench

import scala.util.Random

/** One Streamlit interaction (see graft.service.QueryService) over a base
  * frame: `dw` (the revenue view), `documents` or `events`. */
sealed trait Interaction { def base: String; def kind: String }
final case class Search(base: String, term: String) extends Interaction { def kind = "search" }
final case class RangeFilter(base: String, column: String, lo: Double, hi: Double)
    extends Interaction { def kind = "range" }
final case class Preview(base: String) extends Interaction { def kind = "preview" }
final case class Metrics(base: String) extends Interaction { def kind = "count" }
final case class Chart(base: String, x: String, y: String, agg: String)
    extends Interaction { def kind = "topn_chart" }
final case class Export(base: String, term: String) extends Interaction { def kind = "export" }

/** One refresh batch: inserted orders with their lines, updated orders
  * (old and new image, lines replaced by line number) and deleted orders. */
final case class Batch(
    inserts: Seq[(Order, Seq[Line])],
    updates: Seq[(Order, Order, Seq[Line])],
    deletes: Seq[Order])

/** Everything the workload seed decides. Each stream is a pure function of
  * (seed, position), so a run can be replayed, and the engine only ever
  * sees the generated values.
  */
object Streams {

  def rng(seed: Long, stream: String, index: Int): Random =
    new Random(scala.util.hashing.MurmurHash3.stringHash(s"$stream/$index") * 1000003L ^ seed)

  /** Order in which one sweep runs its queries or kernels. */
  def order[T](items: Seq[T], seed: Long, sweep: Int): Seq[T] =
    rng(seed, "order", sweep).shuffle(items)

  /** Search terms; each matches rows in at least one base frame. */
  val Terms: Seq[String] = Seq("customer#0000001", "nation_1", "asia", "building", "promo",
    "join", "hash", "window", "src1", "error", "click", "purchase")

  /** Numeric columns (with their value domain), chart dimensions and
    * chart measures of each base frame. */
  final case class Frame(numeric: Seq[(String, Double, Double)], dims: Seq[String],
      measures: Seq[String])

  val Frames: Map[String, Frame] = Map(
    "dw" -> Frame(
      Seq(("total_revenue", 0, 2.0e6), ("total_orders", 1, 25), ("avg_order_value", 0, 3.0e5)),
      Seq("segment", "nation", "region", "top_category"),
      Seq("total_revenue", "total_orders", "total_late_fees")),
    "documents" -> Frame(Seq(("n_chars", 40, 500)), Seq("lang", "source"), Seq("n_chars")),
    "events" -> Frame(Seq(("value", 0, 490), ("user_id", 0, 149)),
      Seq("event_type", "user_id"), Seq("value")))

  val Bases: Seq[String] = Seq("dw", "documents", "events")

  val Aggs: Seq[String] = Seq("sum", "avg", "count")

  /** One round of the interactive stream: every interaction kind once, in
    * a seeded order, each with seeded arguments. */
  def interactions(seed: Long, round: Int): Seq[Interaction] = {
    val r = rng(seed, "interactive", round)
    def base() = Bases(r.nextInt(Bases.size))
    def pick[T](xs: Seq[T]) = xs(r.nextInt(xs.size))
    val range = {
      val b = base()
      val (c, lo, hi) = pick(Frames(b).numeric)
      val from = lo + (hi - lo) * 0.7 * r.nextDouble()
      RangeFilter(b, c, from, from + (hi - lo) * (0.05 + 0.25 * r.nextDouble()))
    }
    val chart = {
      val b = base()
      Chart(b, pick(Frames(b).dims), pick(Frames(b).measures), pick(Aggs))
    }
    r.shuffle(Seq(Search(base(), pick(Terms)), range, Preview(base()), Metrics(base()),
      chart, Export(base(), pick(Terms))))
  }

  val InsertsPerBatch = 40
  val UpdatesPerBatch = 40
  val DeletesPerBatch = 20

  /** The changelog of refresh batch `index` against the current orders.
    * `live` holds the current orders by key and `nextKey` the first unused
    * order key; neither is modified. */
  def batch(seed: Long, index: Int, live: scala.collection.Map[Long, (Order, Seq[Line])],
      nextKey: Long): Batch = {
    val r = rng(seed, "refresh", index)
    val keys = live.keys.toVector.sorted
    val touched = r.shuffle(keys).take(UpdatesPerBatch + DeletesPerBatch)
    val updates = touched.take(UpdatesPerBatch).map { k =>
      val (o, ls) = live(k)
      val nls = ls.map(l => l.copy(qty = (1 + r.nextInt(50)).toDouble,
        ext = Data.cents(l.ext * (0.5 + r.nextDouble()))))
      (o, o.copy(total = Data.cents(nls.map(l => l.ext * (1 + l.tax)).sum),
        status = Seq("F", "O", "P")(r.nextInt(3))), nls)
    }
    val deletes = touched.drop(UpdatesPerBatch).map(k => live(k)._1)
    val inserts = (0 until InsertsPerBatch).map(i => Data.randomOrder(r, nextKey + i))
    Batch(inserts, updates, deletes)
  }
}
