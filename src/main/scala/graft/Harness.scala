package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session and the query selection every graft main starts from. */
object Harness {
  /** `local[cores]` with one shuffle partition per core, UTC session time,
    * no UI, WARN logs (Verify's run log relies on Spark's warnings) and
    * [[LocalAggregate]] installed. `cores` defaults to SPARK_GRAFT_CPUS,
    * else to every core of the host. */
  def session(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]").appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LocalAggregate.install(spark)
    spark
  }

  /** The registered queries named in `names`, in that order; all of them,
    * sorted by name, when `names` is empty. An unknown name fails the run. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.distinct.map(n => n -> all(n))
  }

  /** SPARK_GRAFT_ONLY's comma-separated query names; empty when unset. */
  def only: Seq[String] = sys.env.get("SPARK_GRAFT_ONLY").toSeq
    .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
}
