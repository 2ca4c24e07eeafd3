package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Executable example: the streaming surface driven end-to-end from a
  * parquet file-source stream (the production shape — a directory that
  * keeps receiving event files), through windowedRollup and runningClv,
  * into the memory sink for inspection.
  *
  *   sbt "runMain graft.streaming.StreamDemo /root/testdata/sf0.001"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()
    import spark.implicits._

    // File-source streams consume a DIRECTORY that receives files over
    // time; stage the events file into one (the arrival model a real
    // ingest directory has).
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-demo")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events-000.parquet"))

    // File-source streams need a declared schema; take it from the staged
    // file itself so the demo works across upstream re-encodings of `ts`
    // (nanos-as-long, plain micros NTZ, UTC micros), then normalize to
    // TimestampType exactly as the batch path (graft.io.Tables.events) does.
    val schema = spark.read.parquet(stage.toString).schema
    val raw = spark.readStream.schema(schema).parquet(stage.toString)
    val stream = schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }

    val rollup = Streams.runToMemory(spark,
      Streams.windowedRollup(stream), "demo_rollup")
    println(s"[demo] windowed rollup rows: ${rollup.count()}")
    rollup.orderBy(desc("n_events")).show(5, truncate = false)

    val clv = Streams.runningClv(spark,
      stream.select("event_id", "ts", "user_id", "event_type", "value").as[Streams.Event])
    val clvOut = Streams.runToMemory(spark, clv.toDF(), "demo_clv", "append")
    println(s"[demo] clv states: ${clvOut.count()}")
    clvOut.orderBy(desc("total_value")).show(5, truncate = false)

    val attributed = Streams.runToMemory(spark,
      Streams.clickAttribution(stream, 30), "demo_attr", "append")
    println(s"[demo] purchases attributed to a click within 30 min: ${attributed.count()}")
    spark.stop()
  }
}
