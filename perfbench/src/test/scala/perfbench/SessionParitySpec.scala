package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's session must be configured exactly like Bench's. */
class SessionParitySpec extends AnyFunSuite {
  /** Keys that differ between any two sessions (ids, ports, start times). */
  private val perSession = Set("spark.app.id", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.port", "spark.driver.host")

  private def confOf(s: SparkSession): Map[String, String] =
    try s.conf.getAll.filter { case (k, _) => !perSession(k) }
    finally s.stop()

  private def benchSession(cores: Int): SparkSession = {
    val module: AnyRef = graft.Bench
    val m = module.getClass.getDeclaredMethods
      .find(m => (m.getName == "session" || m.getName.endsWith("$$session")) &&
        m.getParameterCount == 2)
      .getOrElse(fail("graft.Bench has no session(cores, partitions)"))
    m.setAccessible(true)
    m.invoke(module, Int.box(cores), Int.box(0)).asInstanceOf[SparkSession]
  }

  test("Session.create matches Bench.session conf for conf") {
    val bench = confOf(benchSession(4))
    val ours = confOf(Session.create(4, Session.defaultPartitions(4)))
    assert(ours == bench)
    assert(ours("spark.master") == "local[4]")
    Session.confs(8).foreach { case (k, v) => if (k != "spark.sql.shuffle.partitions") assert(ours(k) == v, k) }
  }

  test("Bench's calibration spin is reachable") {
    assert(Session.calibMs() > 0.0)
  }
}
