package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: every main and the test suite run
  * the engine configuration Bench measures and Verify gates.
  *
  * Two environment variables shape it:
  *   - `SPARK_GRAFT_CPUS`: `local[N]` and N shuffle partitions (default: the
  *     machine's processor count); callers whose output must not depend on
  *     the machine (plan dumps, the test suite) pass N explicitly;
  *   - `SPARK_GRAFT_CONF="k=v;k=v"`: session confs applied last, so they
  *     override anything below — e.g. `spark.sql.adaptive.enabled=false`,
  *     `spark.sql.extensions=graft.GraftExtensions` or
  *     `spark.scheduler.mode=FAIR`.
  *
  * Callers chain their own extras (warehouse dir) onto the returned builder.
  */
object Session {

  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(cpus: Int = Session.cpus): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE sizes post-shuffle partitions by advisory byte size instead of
      // refusing to coalesce below the core count (parallelismFirst=true,
      // the Spark default, keeps >=`cpus` post-shuffle partitions no matter
      // how tiny the shuffle — at bench scale that charges every small
      // shuffle a fixed 32-task scheduling cost; at cluster scale sizing is
      // byte-driven either way). "false" follows the Spark docs' own
      // recommendation and is scale-adaptive by construction.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // Let AQE right-size partitions INSIDE cached plans too: the default
      // (false) freezes every .cache()/ScopedCache frame at the static
      // shuffle.partitions count, so iterative operators (CC rounds,
      // PageRank, k-means) re-scan `cpus` cache partitions of dust per
      // round and every downstream stage pays `cpus` tasks of fixed
      // overhead — q330 profiled at ~0.3 CPU-sec/task of pure per-task
      // cost, 2 such 32-task stages per round. Scale-adaptive by
      // construction (the cached layout tracks bytes, not core count).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    overlay(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Parse a `SPARK_GRAFT_CONF` value: `;`-separated `key=value` entries,
    * trimmed; the value may itself contain `=`. Empty segments (a trailing
    * `;`) are ignored; any other entry without `=` or with an empty key is
    * rejected, so a typo never silently runs the default configuration.
    */
  def overlay(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$entry' is not key=value")
      }
    }
}
