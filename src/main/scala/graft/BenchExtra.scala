package graft

import org.apache.spark.sql.SparkSession

/** Round-6 optimization instrumentation (guide §1): query-phase-only timing
  * with the EXACT same session config, ensure steps, warm-up and
  * `.count()` action as [[Bench]] phase 2, plus:
  *   - `SPARK_GRAFT_REPS` repeats per query (default 2) — the min over the
  *     reps that succeeded is reported (null if none did), with a per-query
  *     count of failed reps;
  *   - optional `.explain("formatted")` dumps per query
  *     (`SPARK_GRAFT_PLAN_DIR`) so plan claims are reviewable offline;
  *   - optional query-name filter (`SPARK_GRAFT_ONLY`, comma-separated).
  *
  * [[Bench]] itself is frozen for measurement; this main exists so the
  * optimize-measure loop does not pay the build/scaling phases each
  * iteration. Numbers cited from here are labeled as such in
  * OPTIMIZATION_r06.md; the headline before/after evidence is full
  * [[Bench]] runs.
  */
object BenchExtra {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (16 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def timeIt[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors()).toString).toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

    val spark = session(cpus)
    try {
      graft.harness.TextQueries.ensureIndex(spark, sfDir)
      val fIdx = graft.harness.FieldedQueries.ensureFieldedIndex(spark)
      graft.harness.PipelineQueries.ensureIvfCache(spark, sfDir)
      def fs(f: String) = graft.index.FieldedIndex.CrossrefMapping
        .find(_.field == f).get
      graft.index.FieldedIndex.multiMatch(spark, fIdx,
        graft.harness.FieldedQueries.MultiLegs.map { case (f, t) => (fs(f), t) },
        1).count()
      graft.index.FieldedIndex.filteredMatch(spark, fIdx,
        fs("title"), "title", fs("year"), Seq("1997"), 1).count()
      graft.index.FieldedIndex.boolQuery(spark, fIdx,
        Seq((fs("bibliographic"), "journal")),
        Seq((fs("title"), "second title")), 1).count()
    } catch { case _: Throwable => () }

    planDir.foreach(d => new java.io.File(d).mkdirs())
    val selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)
    val results = selected.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      planDir.foreach { d =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val pw = new java.io.PrintWriter(s"$d/$name.txt")
          try pw.write(plan) finally pw.close()
        } catch { case _: Throwable => () }
      }
      // a failed rep is counted, never timed: its (often short) elapsed
      // time must not read as a speedup in queries_min
      val secs = (0 until reps).flatMap { _ =>
        try Some(timeIt(fn(spark, sfDir).count())._2)
        catch { case e: Throwable =>
          System.err.println(s"[bench-extra] $name FAILED: ${e.getMessage}")
          None
        }
      }
      spark.sparkContext.setJobDescription(null)
      name -> secs
    }
    val mins = results.map { case (k, v) => k -> v.minOption }
    val qs = mins.map { case (k, m) =>
      "\"" + k + "\":" + m.map(x => f"$x%.3f").getOrElse("null")
    }.mkString("{", ",", "}")
    val failed = results.map { case (k, v) =>
      "\"" + k + "\":" + (reps - v.length)
    }.mkString("{", ",", "}")
    val total = mins.flatMap(_._2).sum
    println(s"""{"bench_extra":true,"sf":"$sfDir","reps":$reps,""" +
      s""""queries_min":$qs,"queries_failed":$failed,""" +
      s""""queries_total_sec":${f"$total%.1f"}}""")
    spark.stop()
  }
}
