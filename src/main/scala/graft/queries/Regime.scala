package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SessionShim, SparkSession}

/** The execution regime of a registered query's frame (see [[graft.Session]]).
  *
  * A frame is small when the summed size of the leaves of its plan — file
  * scans by their listed bytes, cached relations by their materialized
  * size or, before they are filled, their plan's estimate — is at most its session's `spark.sql.autoBroadcastJoinThreshold`;
  * sizing the leaves runs no job. A small frame is re-planned in a clone of
  * its session with AQE off and one shuffle partition: each AQE query stage
  * is a job of its own, and on inputs this small scheduling those jobs is
  * the cost. Any other frame is returned as it is.
  *
  * Only the final plan moves: the body that built the frame (memo fills,
  * `View.dw`, checkpoints) already ran on the caller's session. The clone
  * is made once per caller and made again only when the caller's settings
  * change, so it follows every setting but the two it overrides.
  */
object Regime {
  private val SmallConfs = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "1")

  /** A frame's regime, the summed leaf bytes that chose it and the
    * threshold they were held against. */
  final case class Choice(leafBytes: BigInt, threshold: Long) {
    def small: Boolean = threshold >= 0 && leafBytes <= threshold
    def name: String = if (small) "small" else "large"
    override def toString: String = s"$name (leaf bytes $leafBytes, threshold $threshold)"
  }

  // Caller -> (the caller's settings when cloned, its clone).
  private val clones = mutable.Map.empty[SparkSession, (Map[String, String], SparkSession)]
  // Each frame `apply` returned -> the choice that made it.
  private val made = java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, Choice])

  /** `df` re-planned in the small regime when its inputs are small. */
  def apply(df: DataFrame): DataFrame = {
    val choice = choose(df)
    val out = if (choice.small) small(df) else df
    made.put(out, choice)
    out
  }

  /** The choice `apply` made for a frame it returned. Sizing the same
    * frame again can differ: a cache that was not yet filled when the
    * choice was made reports its plan's estimate, and its filled size
    * after. */
  def of(df: DataFrame): Option[Choice] = Option(made.get(df))

  private def choose(df: DataFrame): Choice = {
    val bytes = df.queryExecution.withCachedData.collectLeaves().map(_.stats.sizeInBytes).sum
    Choice(bytes, SessionShim.broadcastThreshold(df.sparkSession))
  }

  /** `df` re-planned in the small regime, whatever its size. */
  def small(df: DataFrame): DataFrame =
    SessionShim.ofRows(smallSession(df.sparkSession), df.queryExecution.analyzed)

  private def smallSession(caller: SparkSession): SparkSession = {
    val settings = caller.conf.getAll
    clones.synchronized {
      clones.get(caller) match {
        case Some((seen, clone)) if seen == settings => clone
        case _ =>
          val clone = SessionShim.cloneWith(caller, SmallConfs)
          clones(caller) = (settings, clone)
          clone
      }
    }
  }
}
