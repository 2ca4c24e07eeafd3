package perfbench

import java.io.File

import scala.collection.mutable

import graft.ext.{Curation, Dedup, Similarity}
import graft.io.{Csv, Tables}
import graft.ops.{Graph, Incremental, PageRank, Upsert}
import graft.queries.Registry
import graft.service.QueryService
import graft.warehouse.View
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A benchmark workload: an unmeasured warm pass, and one round of timed
  * operations (a sweep, an interaction round or a refresh batch). */
trait Workload {
  /** Runs one unmeasured pass over `dir`, whose revenue view is built. */
  def warm(run: Run, dir: String): Unit
  def round(run: Run, dir: String, index: Int): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "reports"     => new Reports
    case "interactive" => new Interactive
    case "pipeline"    => new Pipeline
    case "refresh"     => new Refresh
    case other         => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Order-free digest of a result: its rows as text, sorted. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Builds and materializes the revenue view over `dir`. */
  def buildView(run: Run, dir: String): DataFrame =
    run.rec.span("warehouse", "View.dw build") {
      val dw = View.dw(run.spark, dir)
      dw.count()
      dw
    }

  def viewHit(run: Run, dir: String): DataFrame =
    run.rec.span("warehouse", "View.dw hit")(View.dw(run.spark, dir))

  def open(run: Run, dir: String, table: String): DataFrame =
    run.rec.span("io", s"open $table") {
      val t = Tables(run.spark, dir)
      table match {
        case "customer"   => t.customer
        case "orders"     => t.orders
        case "lineitem"   => t.lineitem
        case "part"       => t.part
        case "events"     => t.events
        case "documents"  => t.documents
        case "embeddings" => t.embeddings
      }
    }

  /** Runs `name` from the query registry over `dir` and collects it. The
    * s-family entries are the interactive service's calls with pinned
    * arguments, so their spans belong to the service layer. */
  def query(run: Run, dir: String, name: String): Seq[Row] = {
    val layer = if (name.startsWith("s0")) "service" else "queries"
    val df = run.rec.span(layer, s"plan $name")(Registry.queryMap(name)(run.spark, dir))
    run.rec.span(layer, s"exec $name")(df.collect().toSeq)
  }

  /** Checks that every query keeps its digest across passes. */
  final class Digests(run: Run) {
    private val seen = mutable.Map.empty[String, String]
    def check(name: String, rows: Seq[Row]): Unit = {
      val d = digest(rows)
      val first = seen.synchronized(seen.getOrElseUpdate(name, d))
      run.check(first == d, s"$name: result changed between passes")
    }
  }
}

/** The 34 reference-surface queries (q01-q11, r01-r09, p01-p08, s01-s06)
  * in a seeded order per sweep, over a warm revenue view. */
final class Reports extends Workload {
  import Workload._
  val names: Seq[String] = Registry.all.map(_.name)
    .filter(_.matches("(q(0[1-9]|1[01])|r0[1-9]|p0[1-8]|s0[1-6])_.*"))
  require(names.size == 34, s"expected 34 reference-surface queries, found ${names.size}")
  private var digests: Digests = _

  /** Exact revenue of the base data, computed here without Spark: the
    * per-line discounted price rounded to the engine's money scale. */
  lazy val exactRevenue: BigDecimal = Data.base._2
    .map(l => BigDecimal(l.ext * (1 - l.disc)).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum

  def warm(run: Run, dir: String): Unit = {
    digests = new Digests(run)
    val viewRevenue = viewHit(run, dir).select("total_revenue").collect().toSeq
      .map(r => BigDecimal(r.getDouble(0)).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
    run.check(viewRevenue == exactRevenue,
      s"view revenue $viewRevenue != exact lineitem revenue $exactRevenue")
    run.parallel(names.map(n => () => sweep(run, dir, Seq(n))))
  }

  def round(run: Run, dir: String, index: Int): Unit = {
    run.clearMemoCaches()
    if (run.rec.tracing) {
      // The query bodies open tables themselves; these probe calls make
      // the cost of one open visible in the trace.
      Seq("customer", "orders", "lineitem", "part").foreach(open(run, dir, _))
      viewHit(run, dir)
    }
    sweep(run, dir, Streams.order(names, run.seed, index))
  }

  private def sweep(run: Run, dir: String, order: Seq[String]): Unit =
    order.foreach { n =>
      run.op(n)(query(run, dir, n)).foreach(digests.check(n, _))
    }
}

/** The Streamlit flow: a closed loop with one client and no think time. */
final class Interactive extends Workload {
  import Workload._
  private var exportDir: String = _

  def warm(run: Run, dir: String): Unit = {
    exportDir = new File(run.scratch, "export").getPath
    Streams.Bases.indices.foreach(i => interactions(run, dir, Streams.interactions(run.seed, -1 - i)))
  }

  def round(run: Run, dir: String, index: Int): Unit = {
    run.clearMemoCaches()
    interactions(run, dir, Streams.interactions(run.seed, index))
  }

  private def frame(run: Run, dir: String, base: String): DataFrame =
    if (base == "dw") viewHit(run, dir) else open(run, dir, base)

  /** Rows each base frame has, from the generator. */
  private def expectedRows(base: String): Long = base match {
    case "dw"        => Data.base._1.map(_.cust).distinct.size.toLong
    case "documents" => Data.Documents.toLong
    case "events"    => Data.Events.toLong
  }

  /** One interaction: the base frame is opened (or the view hit) inside the
    * timed operation, then the service call runs on it. */
  private def service[T](run: Run, dir: String, i: Interaction)(f: DataFrame => T): Option[T] =
    run.op(i.kind) {
      val df = frame(run, dir, i.base)
      run.rec.span("service", i.kind)(f(df))
    }

  private def interactions(run: Run, dir: String, stream: Seq[Interaction]): Unit =
    stream.foreach {
      case i @ Search(_, term) =>
        service(run, dir, i)(df => QueryService.preview(QueryService.search(df, term)).collect())
          .foreach(rows => run.check(rows.length <= 100, s"search '$term' previewed over 100 rows"))
      case i @ RangeFilter(_, c, lo, hi) =>
        service(run, dir, i)(df => QueryService.preview(QueryService.rangeFilter(df, c, lo, hi))
          .select(col(c).cast("double")).collect().map(_.getDouble(0))).foreach { vs =>
          run.check(vs.length <= 100 && vs.forall(v => v >= lo && v <= hi),
            s"range $c in [$lo, $hi] returned a row outside it")
        }
      case i @ Preview(_) =>
        service(run, dir, i)(df => QueryService.preview(df).collect())
          .foreach(rows => run.check(rows.length <= 100, "preview over 100 rows"))
      case i @ Metrics(b) =>
        service(run, dir, i)(QueryService.metrics).foreach { case (n, _) =>
          run.check(n == expectedRows(b), s"$b counted $n rows, expected ${expectedRows(b)}")
        }
      case i @ Chart(_, x, y, agg) =>
        service(run, dir, i)(df => QueryService.chartData(
          QueryService.topNCategories(df, x, 50), x, y, agg).collect())
          .foreach(rows => run.check(rows.length <= 50, s"chart of $x has over 50 x values"))
      case i @ Export(b, term) =>
        val path = new File(exportDir, b).getPath
        service(run, dir, i) { df =>
          val view = QueryService.preview(QueryService.search(df, term))
          val shown = view.collect().length
          run.rec.span("io", "Csv.writeGolden")(Csv.writeGolden(view, path))
          shown
        }.foreach { shown =>
          val written = new File(path).listFiles().filter(_.getName.endsWith(".csv"))
            .map { f =>
              val src = scala.io.Source.fromFile(f, "UTF-8")
              try src.getLines().size - 1 finally src.close()
            }.sum
          run.check(written == shown, s"export of $b wrote $written rows, previewed $shown")
        }
    }
}

/** The library kernels the x-queries wrap, called directly. Memo caches are
  * cleared at sweep start only, so the kernels of a sweep share the pair
  * index. */
final class Pipeline extends Workload {
  import Workload._
  private var digests: Digests = _

  private def edges(run: Run, dir: String): (DataFrame, DataFrame) = {
    val emb = open(run, dir, "embeddings")
    val dup = run.rec.span("ext", "Similarity.annPairs")(Similarity.annPairs(emb, 0.4,
      Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap))
    (dup.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(dup.select(col("vec_b").as("src"), col("vec_a").as("dst"))),
      emb.select(col("vec_id").as("id")))
  }

  /** Kernel name and call; each call opens its own inputs. */
  val kernels: Seq[(String, (Run, String) => Seq[Row])] = Seq(
    "Similarity.annPairs" -> { (run, dir) =>
      val emb = open(run, dir, "embeddings")
      run.rec.span("ext", "Similarity.annPairs")(Similarity.annPairs(emb, 0.4,
        Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap).collect().toSeq)
    },
    "Similarity.annTopK" -> { (run, dir) =>
      val emb = open(run, dir, "embeddings")
      run.rec.span("ext", "Similarity.annTopK")(Similarity.annTopK(emb, 3).collect().toSeq)
    },
    "Dedup.exactSubstringRemoval" -> { (run, dir) =>
      val docs = open(run, dir, "documents")
      run.rec.span("ext", "Dedup.exactSubstringRemoval")(
        Dedup.exactSubstringRemoval(docs).collect().toSeq)
    },
    "Dedup.incrementalLshDedup" -> { (run, dir) =>
      val docs = open(run, dir, "documents")
      val u = graft.ext.Pipeline.saltedUniform(col("doc_id"), "incr|")
      run.rec.span("ext", "Dedup.incrementalLshDedup")(Dedup.incrementalLshDedup(
        docs.filter(u >= 0.25), docs.filter(u < 0.25), threshold = 0.3,
        bucketCap = graft.queries.Extensions.LshBucketCap).collect().toSeq)
    },
    "Curation.minhashMergeAudit" -> { (run, dir) =>
      val docs = open(run, dir, "documents")
      run.rec.span("ext", "Curation.minhashMergeAudit")(
        Curation.minhashMergeAudit(docs).collect().toSeq)
    },
    "PageRank.pagerank" -> { (run, dir) =>
      val (e, v) = edges(run, dir)
      run.rec.span("ops", "PageRank.pagerank")(PageRank.pagerank(e, v, 3).collect().toSeq)
    },
    "Graph.hits" -> { (run, dir) =>
      val (e, v) = edges(run, dir)
      run.rec.span("ops", "Graph.hits")(Graph.hits(e, v, 2).collect().toSeq)
    })

  def warm(run: Run, dir: String): Unit = {
    digests = new Digests(run)
    run.parallel(kernels.map(k => () => sweep(run, dir, Seq(k))))
  }

  /** Two sweeps, each in its own seeded order: one sweep holds only seven
    * kernel calls, too few for a steady median. */
  def round(run: Run, dir: String, index: Int): Unit =
    Seq(2 * index, 2 * index + 1).foreach { i =>
      run.clearMemoCaches()
      sweep(run, dir, Streams.order(kernels, run.seed, i))
    }

  private def sweep(run: Run, dir: String, ks: Seq[(String, (Run, String) => Seq[Row])]): Unit =
    ks.foreach { case (name, call) =>
      run.op(name)(call(run, dir)).foreach(digests.check(name, _))
    }
}

/** Seeded changelogs of inserts, updates and deletes on orders and
  * lineitem. A batch upserts them, writes a new scale-factor directory,
  * applies the delta to a per-customer aggregate, builds the revenue view
  * on the new directory and reads q01-q11 from it. */
final class Refresh extends Workload {
  import Workload._
  private val live = mutable.LinkedHashMap.empty[Long, (Order, Seq[Line])]
  private var nextKey = 0L
  private var current: String = _
  private var agg: Map[Long, (Long, java.math.BigDecimal)] = Map.empty
  private var batches = 0
  val queries: Seq[String] = Registry.all.map(_.name).filter(_.matches("q(0[1-9]|1[01])_.*"))

  private val aggSchema = StructType(Seq(StructField("o_custkey", LongType),
    StructField("n", LongType), StructField("total", DecimalType(38, 2))))
  private val changeSchema = StructType(Seq(StructField("o_custkey", LongType),
    StructField("action", StringType), StructField("old_total", DecimalType(18, 2)),
    StructField("new_total", DecimalType(18, 2))))

  private def recompute(run: Run, dir: String): Map[Long, (Long, java.math.BigDecimal)] =
    open(run, dir, "orders").groupBy("o_custkey")
      .agg(count(lit(1)), sum(col("o_totalprice").cast(DecimalType(18, 2))))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap

  def warm(run: Run, dir: String): Unit = {
    val (os, ls) = Data.base
    val byOrder = ls.groupBy(_.order)
    os.foreach(o => live(o.key) = (o, byOrder.getOrElse(o.key, Nil)))
    nextKey = os.map(_.key).max + 1
    current = dir
    agg = recompute(run, dir)
    batch(run, -1)
  }

  def round(run: Run, dir: String, index: Int): Unit = {
    run.clearMemoCaches()
    batch(run, index)
  }

  private def dec(x: Double) = new java.math.BigDecimal(java.lang.Double.toString(x)).setScale(2)

  private def batch(run: Run, index: Int): Unit = {
    val b = Streams.batch(run.seed, index, live, nextKey)
    batches += 1
    val next = new File(run.scratch, s"refresh/b$batches").getPath
    val spark = run.spark
    val rows = (xs: Seq[Row], schema: StructType) =>
      spark.createDataFrame(java.util.Arrays.asList(xs: _*), schema)
    val newOrders = b.inserts.map(_._1) ++ b.updates.map(_._2)
    val newLines = b.inserts.flatMap(_._2) ++ b.updates.flatMap(_._3)
    val deleted = rows(b.deletes.map(o => Row(o.key)),
      StructType(Seq(StructField("k", LongType))))
    val changelog = rows(
      b.inserts.map { case (o, _) => Row(o.cust, "insert", null, dec(o.total)) } ++
        b.updates.map { case (o, n, _) => Row(o.cust, "update", dec(o.total), dec(n.total)) } ++
        b.deletes.map(o => Row(o.cust, "delete", dec(o.total), null)), changeSchema)
    val prevAgg = rows(agg.toSeq.map { case (k, (n, t)) => Row(k, n, t) }, aggSchema)

    run.op("refresh batch") {
      val orders = open(run, current, "orders")
      val lineitem = open(run, current, "lineitem")
      val (o2, l2) = run.rec.span("ops", "Upsert.upsert") {
        (Upsert.upsert(orders.join(deleted, col("o_orderkey") === col("k"), "left_anti"),
          rows(newOrders.map(Data.orderRow), Data.ordersSchema), Seq("o_orderkey")),
          Upsert.upsert(lineitem.join(deleted, col("l_orderkey") === col("k"), "left_anti"),
            rows(newLines.map(Data.lineRow), Data.lineitemSchema), Seq("l_orderkey", "l_linenumber")))
      }
      run.rec.span("io", "write tables") {
        o2.write.parquet(s"$next/orders.parquet")
        l2.write.parquet(s"$next/lineitem.parquet")
        new File(current).listFiles().filter(f => f.getName.endsWith(".parquet") &&
          !Data.Rewritten(f.getName.stripSuffix(".parquet")))
          .foreach(f => Files.copy(f, new File(next, f.getName)))
      }
      val delta = run.rec.span("ops", "Incremental.applyCountSumDelta") {
        Incremental.applyCountSumDelta(prevAgg, changelog, "o_custkey", "old_total", "new_total")
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
      }
      buildView(run, next)
      queries.foreach(q => query(run, next, q))
      delta
    }.foreach { delta =>
      val full = recompute(run, next)
      run.check(delta.keySet == full.keySet && delta.forall { case (k, (n, t)) =>
        full(k)._1 == n && full(k)._2.compareTo(t) == 0
      }, s"refresh batch $index: incremental aggregate differs from a full recompute")
      agg = delta
      b.deletes.foreach(o => live.remove(o.key))
      b.updates.foreach { case (_, n, ls) => live(n.key) = (n, ls) }
      b.inserts.foreach { case (o, ls) => live(o.key) = (o, ls) }
      nextKey += b.inserts.size
      current = next
    }
  }
}
