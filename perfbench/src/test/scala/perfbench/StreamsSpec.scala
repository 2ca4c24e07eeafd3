package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite {
  private val names = (1 to 34).map(i => f"q$i%02d")
  private lazy val live = {
    val (os, ls) = Data.base
    val byOrder = ls.groupBy(_.order)
    scala.collection.mutable.LinkedHashMap(os.map(o => o.key -> (o, byOrder(o.key))): _*)
  }

  test("the same seed gives the same streams") {
    assert(Streams.order(names, 7, 3) == Streams.order(names, 7, 3))
    assert(Streams.interactions(7, 5) == Streams.interactions(7, 5))
    assert(Streams.batch(7, 2, live, Data.Orders) == Streams.batch(7, 2, live, Data.Orders))
  }

  test("a different seed gives different streams") {
    assert(Streams.order(names, 7, 0) != Streams.order(names, 8, 0))
    assert((0 until 4).map(Streams.interactions(7, _)) != (0 until 4).map(Streams.interactions(8, _)))
    assert(Streams.batch(7, 0, live, Data.Orders) != Streams.batch(8, 0, live, Data.Orders))
  }

  test("sweeps of one seed differ, and each runs every item once") {
    val a = Streams.order(names, 7, 0)
    assert(a != Streams.order(names, 7, 1))
    assert(a.sorted == names)
  }

  test("an interaction round holds each kind once, with arguments in range") {
    (0 until 50).foreach { r =>
      val round = Streams.interactions(11, r)
      assert(round.map(_.kind).sorted ==
        Seq("count", "export", "preview", "range", "search", "topn_chart"))
      round.foreach {
        case RangeFilter(b, c, lo, hi) =>
          val (_, min, max) = Streams.Frames(b).numeric.find(_._1 == c).get
          assert(lo >= min && lo < hi && hi <= max)
        case Chart(b, x, y, agg) =>
          assert(Streams.Frames(b).dims.contains(x) && Streams.Frames(b).measures.contains(y))
          assert(Streams.Aggs.contains(agg))
        case _ =>
      }
    }
  }

  test("a refresh batch touches live orders only and inserts fresh keys") {
    val b = Streams.batch(3, 0, live, Data.Orders)
    assert(b.updates.size == Streams.UpdatesPerBatch && b.deletes.size == Streams.DeletesPerBatch)
    val touched = b.updates.map(_._1.key) ++ b.deletes.map(_.key)
    assert(touched.distinct.size == touched.size && touched.forall(live.contains))
    assert(b.inserts.map(_._1.key) == (Data.Orders until Data.Orders + Streams.InsertsPerBatch))
    assert(b.updates.forall { case (o, n, ls) => o.cust == n.cust && ls.map(_.num) == live(o.key)._2.map(_.num) })
  }

  test("base data is the same on every call") {
    val (os, ls) = Data.orders(new scala.util.Random(Data.BaseSeed), 0 until 100)
    assert(os == Data.base._1.take(100) && ls == Data.base._2.take(ls.size))
  }

  test("the tail percentile has at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000) == 99)
    assert(Stats.tailPercentile(999) == 90)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(99) == 75)
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(39) == 50)
    assert(Stats.tailPercentile(5) == 50)
    (1 to 2000).foreach { n =>
      val p = Stats.tailPercentile(n)
      if (n >= 20) assert(n * (100 - p) / 100 >= 10 - 1e-9, s"n=$n p=$p")
    }
  }

  test("percentiles are nearest-rank and the median interpolates") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs.reverse, 50) == 50.0)
    assert(Stats.median(xs) == 50.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("result digests ignore row order and see every value") {
    val rows = Seq(Row(1L, "a", 2.5), Row(2L, "b", null))
    assert(Workload.digest(rows) == Workload.digest(rows.reverse))
    assert(Workload.digest(rows) != Workload.digest(Seq(Row(1L, "a", 2.5), Row(2L, "b", 0.0))))
  }
}
