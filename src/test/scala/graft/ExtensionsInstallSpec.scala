package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions installs dot_product on a session built WITHOUT any
  * imperative registration — the spark.sql.extensions deployment path.
  *
  * Extensions bind only at session CREATION: getOrCreate would silently
  * hand back the suite-shared session and ignore withExtensions, so this
  * spec clears the default/active session, builds a genuinely new one,
  * and restores the shared one afterwards (the SparkContext is reused —
  * only the session layer is new, which is exactly what extensions bind
  * to).
  */
class ExtensionsInstallSpec extends AnyFunSuite {

  /** Runs `body` in the session `make` builds after the shared one is
    * cleared, then restores the shared one. */
  private def inFreshSession[T](make: => SparkSession)(body: SparkSession => T): T = {
    val previous = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try body(make)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      previous.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("spark.sql.extensions-style install exposes dot_product to pure SQL") {
    inFreshSession(SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()) { spark =>
      val r = spark.sql(
        "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
        .collect().head.getDouble(0)
      assert(r === 32.0)
      // Resolvable catalog function, not a temp registration.
      assert(spark.catalog.functionExists("dot_product"))
    }
  }

  test("dotProduct columns on a graft.Session leave the injected dot_product in place") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.functions.col
    inFreshSession(Session()) { spark =>
      val registry = spark.sessionState.functionRegistry
      val id = FunctionIdentifier("dot_product")
      val injected = registry.lookupFunctionBuilder(id)
      assert(injected.isDefined)
      functions.VectorFunctions.dotProduct(col("a"), col("b"))
      functions.VectorFunctions.dotProduct(col("b"), col("a"))
      assert(registry.lookupFunctionBuilder(id).exists(_ eq injected.get),
        "building a dotProduct column replaced the registered dot_product builder")
    }
  }
}
