package graft

import graft.queries.Registry

/** Contract guards on the query registry itself — the driver keys its
  * correctness report by NAME, so a duplicate name would silently shadow
  * one query's gate rather than fail anywhere visible.
  */
class RegistrySpec extends SparkSuite {

  test("query names are globally unique (a duplicate would silently drop " +
    "a query from the driver contract)") {
    val names = Registry.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(Registry.queryMap.size == names.size)
  }

  test("every oracle is non-blank and every name is a stable identifier") {
    Registry.all.foreach { q =>
      assert(q.name.matches("[a-z][a-z0-9_]+"), s"unstable name: ${q.name}")
      q.oracle.foreach(sql => assert(sql.trim.nonEmpty, s"${q.name}: blank oracle"))
    }
  }

  test("the registry is built once: repeated lookups return the same instances") {
    assert(Registry.all eq Registry.all)
    assert(Registry.queryMap eq Registry.queryMap)
    assert(Registry.oracleMap eq Registry.oracleMap)
    assert(Registry.benchSet eq Registry.benchSet)
  }

  test("the scale probe's query list resolves against the registry") {
    // References ScaleProbe's OWN constants (round-9 advice): a probe
    // list edit is guarded automatically instead of via a stale copy.
    val probes = ScaleProbe.probeNames ++ ScaleProbe.embProbeNames ++
      ScaleProbe.eventProbeNames ++ ScaleProbe.graphProbeNames ++
      ScaleProbe.factProbeNames
    assert(probes.size >= 23, "probe list shrank unexpectedly")
    val missing = probes.filterNot(Registry.queryMap.contains)
    assert(missing.isEmpty, s"probe names drifted from the registry: $missing")
  }

  test("the bench set is a subset of the registry and excludes nothing " +
    "silently (every exclusion is an explicit bench=false)") {
    val benchNames = Registry.benchSet.map(_.name).toSet
    assert(benchNames.subsetOf(Registry.all.map(_.name).toSet))
    val excluded = Registry.all.filterNot(_.bench).map(_.name)
    // Diagnostics deliberately out of the headline: the O(n^2)-shaped
    // evaluators, timed separately into bench_diag.json.
    assert(excluded.nonEmpty, "expected the known bench=false diagnostics")
    assert(benchNames.size + excluded.size == Registry.all.size)
  }
}
