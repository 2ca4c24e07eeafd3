package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single flat registry of every implemented query. SparkEntry (the driver
  * contract) and Bench both read from here. Names are stable identifiers —
  * the driver's CORRECTNESS report is keyed by them.
  *
  * `queryMap` runs each query's frame through [[Regime]], so every caller
  * (Bench, Verify, Probe, SparkEntry) gets the same regime choice; `fn`
  * itself returns the frame as planned on the caller's session.
  */
object Registry {
  lazy val all: Seq[QueryDef] =
    Warehouse.defs ++ Report.defs ++ Service.defs ++ Procs.defs ++ Extensions.defs ++ Advanced.defs ++ Frontier.defs ++ Batch13.defs ++ Batch14.defs ++ Batch15.defs ++ Batch16.defs ++ Batch17.defs

  lazy val queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> ((s: SparkSession, d: String) => Regime(q.fn(s, d)))).toMap

  lazy val oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  lazy val benchSet: Seq[QueryDef] = all.filter(_.bench)
}
