package graft

import graft.exec.MainSession

/** Supplementary benchmark main for optimization work (guide §1) — Bench.scala
  * itself is frozen for measurement, so per-query isolation lives here.
  *
  * Methodology mirrors Bench exactly where it matters: Bench's session
  * config (`MainSession`: local[$SPARK_GRAFT_CPUS], shuffle.partitions =
  * cpus, AQE + skew join on, UTC), one warmup construction+count per
  * query, then min of N repeats where EVERY repeat reconstructs the query
  * from SparkEntry.queries — so localCheckpoints inside operator
  * construction are re-run per repeat, matching what the driver's Bench
  * measures.
  *
  * Modes:
  *   runMain graft.BenchExtra [sfDir] [repeats] [q...]    — count-timed (Bench parity)
  *   SPARK_GRAFT_NOOP=1                                    — time a noop sink instead
  *                                                           (guide §1.4: computes every
  *                                                           column, isolates compute)
  *   SPARK_GRAFT_EXPLAIN_DIR=/path                         — also write
  *                                                           <dir>/<query>.txt with
  *                                                           explain("formatted")
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val names: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")

    val spark = MainSession(cpus, s"graft-bench-extra-$cpus")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
      (System.nanoTime() - t0) / 1e9
    }

    val results = names.map { name =>
      spark.sparkContext.setJobDescription(name)
      explainDir.foreach { d =>
        val df = SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$name.txt"), plan)
      }
      val times =
        try { runOnce(name); (1 to repeats).map(_ => runOnce(name)) }
        catch { case e: Throwable =>
          println(s"$name FAILED: ${e.getMessage.linesIterator.take(1).mkString}")
          Seq.empty[Double]
        }
      spark.sparkContext.setJobDescription(null)
      val mn = if (times.nonEmpty) times.min else -1.0
      println(f"$name%-28s min=$mn%7.3f  all=${times.map(t => f"$t%.3f").mkString(",")}")
      name -> mn
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    println(f"TOTAL ${total}%.3f sec over ${results.count(_._2 >= 0)} queries (sink=${if (noop) "noop" else "count"})")
    spark.stop()
  }
}
