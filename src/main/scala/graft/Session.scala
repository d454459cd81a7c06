package graft

import org.apache.spark.sql.SparkSession

/** The one session builder shared by `Verify`, `Bench`, `PlanDump` and the
  * test suites, so every entry point runs the same session shape:
  * `local[cores]` with as many shuffle partitions, UTC, nanosecond parquet
  * timestamps read as longs (`events.parquet` stores TIMESTAMP(NANOS);
  * `Tables.events` converts them), no UI, and [[GraftExtensions]]. */
object Session {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** The program session: `SPARK_GRAFT_CPUS` cores (default 4), WARN logging,
    * plus any confs in `SPARK_GRAFT_CONF="k1=v1;k2=v2"`. Non-default confs
    * generally trade oracle hash-equality for the production shape, so
    * they are for local measurement runs only. */
  def fromEnv(): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val extra = sys.env.get("SPARK_GRAFT_CONF").map(parseConf).getOrElse(Nil)
    val spark = extra.foldLeft(builder(cores)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(
          s"SPARK_GRAFT_CONF entry '$kv' is not k=v (expected 'k1=v1;k2=v2')")
      }
    }
}
