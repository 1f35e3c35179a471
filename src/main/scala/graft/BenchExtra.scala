package graft

/** Side benchmark, NOT part of the frozen driver contract (`Bench` is the
  * official harness and is untouched). One mode:
  *
  *   - `BenchExtra tol` — Bench's iterations-to-1e-6 phase isolated, with
  *     the Spark job count of each run (`tol_runs`/`tol_jobs`).
  *
  * Env: SPARK_GRAFT_CPUS (same as Bench).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.Sessions.local(cpus, 2 * cpus, "graft-bench-extra")
    def time[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    args.toList match {
      case "tol" :: _ =>
        // Bench's iterations-to-1e-6 phase isolated (same workload, same
        // checkpoint config), 3 runs on one cached graph — for A/B-ing the
        // superstep loop's fixed costs without the 30-query suite around it
        val edges = graft.graph.GraphGen.logNormalEdges(spark, 10000,
          mu = 1.5, sigma = 1.0, numPartitions = cpus).cache()
        edges.count()
        val jobCount = new java.util.concurrent.atomic.AtomicLong
        val jobs = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobCount.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(jobs)
        val runs = (1 to 3).map { i =>
          val ckdir = java.nio.file.Files
            .createTempDirectory(s"benchcktol$i").toString
          val ck = graft.runtime.CheckpointConfig(ckdir, "bench", every = 1000)
          val j0 = jobCount.get()
          val t = time {
            val r = graft.algos.PageRank.run(edges,
              graft.algos.PageRank.Config(tol = Some(1e-6), checkpoint = Some(ck)))
            r.unpersist(false)
          }
          val n = jobCount.get() - j0
          // deleted after the job count is read: untimed and uncounted
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckdir))
          (t, n)
        }
        spark.sparkContext.removeSparkListener(jobs)
        edges.unpersist(false)
        println(f"""{"tol_runs":[${runs.map(r => f"${r._1}%.3f").mkString(",")}],"tol_jobs":[${runs.map(_._2).mkString(",")}]}""")
      case other =>
        sys.error(s"usage: BenchExtra tol (got $other)")
    }
    spark.stop()
  }
}
