package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's SparkSession: the same master, app name and confs as
  * `graft.Bench`'s private session factory (SessionParitySpec compares the
  * two), so numbers from either tool describe the same engine setup. */
object Session {

  /** Bench's shuffle width: two partitions per core. */
  def defaultPartitions(cores: Int): Int = cores * 2

  def confs(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (4 << 20).toString,
    "spark.sql.files.openCostInBytes" -> (1 << 20).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (16 << 20).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def create(cores: Int, shufflePartitions: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-bench")
    confs(shufflePartitions).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench's fixed calibration spin (2^27 xorshift steps): its wall time
    * moves only with host contention. Called through reflection so the
    * label is Bench's own spin, not a copy that could drift from it. */
  def calibMs(): Double = {
    val module: AnyRef = graft.Bench
    val m = module.getClass.getDeclaredMethods
      .find(m => m.getName == "calibMs" || m.getName.endsWith("$$calibMs"))
      .getOrElse(sys.error("graft.Bench has no calibMs"))
    m.setAccessible(true)
    m.invoke(module).asInstanceOf[Double]
  }
}
