package graft.tools

import org.apache.spark.sql.SparkSession

/** The one place the tool mains build their SparkSession. */
object Sessions {

  /** A `local[cores]` session for probes and drives: `partitions` shuffle
    * partitions, UTC session time (the time layer depends on it), no UI,
    * ERROR logs. `conf` pairs are applied last, so they can override any
    * of these.
    */
  def local(cores: Int, partitions: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The session of a spark-submit job: the master comes from spark-submit
    * on a cluster; without one it runs `local[*]` with one shuffle partition
    * per processor and no UI, for development. UTC session time, WARN logs.
    */
  def job(app: String): SparkSession = {
    val builder = SparkSession.builder()
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")
                   .config("spark.sql.shuffle.partitions",
                     Runtime.getRuntime.availableProcessors.toString)
                   .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
