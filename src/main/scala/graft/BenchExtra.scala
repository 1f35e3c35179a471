package graft

/** Optimization-round side benchmarks (guide §1.4): NOT part of the
  * frozen driver contract (`Bench` is the official harness and is
  * untouched). Two modes:
  *
  *   - `BenchExtra noop <query> [query...]` — time each named
  *     SparkEntry query against the built-in no-op sink (computes every
  *     column of every row, discards the result), 3 runs each, so the
  *     computation is isolated from the harness's `toRdd.count()`
  *     materialization path.
  *   - `BenchExtra headline` — the BASELINE.md headline workload
  *     (logNormal 100k-vertex graph, 5 supersteps) with graph prep and
  *     each run timed separately, GRAFT_TRACE-compatible.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.Sessions.local(cpus, 2 * cpus, "graft-bench-extra")
    if (graft.runtime.Trace.enabled) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val ms = for { a <- i.completionTime; b <- i.submissionTime } yield a - b
          if (ms.exists(_ > 100))
            System.err.println(f"[stage] id=${i.stageId} tasks=${i.numTasks} " +
              f"ms=${ms.get} runMs=${i.taskMetrics.executorRunTime} " +
              f"cpuMs=${i.taskMetrics.executorCpuTime / 1000000} " +
              f"serMs=${i.taskMetrics.resultSerializationTime} " +
              f"shW=${i.taskMetrics.shuffleWriteMetrics.bytesWritten} " +
              f"shR=${i.taskMetrics.shuffleReadMetrics.totalBytesRead} " +
              i.name.takeWhile(_ != '\n').take(60))
        }
      })
    }
    def time[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    args.toList match {
      case "headline" :: _ =>
        val verts = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERTS", "100000").toLong
        var g: graft.graph.PreparedGraph = null
        val prep = time {
          g = graft.graph.PreparedGraph(
            graft.graph.GraphGen.logNormalEdges(spark, verts,
              numPartitions = 2 * cpus), numPartitions = 2 * cpus)
        }
        val runs = (1 to 3).map { _ =>
          time {
            graft.algos.PageRank.runPrepared(g,
              graft.algos.PageRank.Config(numIter = 5,
                numPartitions = 2 * cpus)).unpersist(false)
          }
        }
        println(f"""{"headline_prep_sec":$prep%.3f,"runs":[${runs.map(r => f"$r%.3f").mkString(",")}],"edges":${g.numEdges}}""")
        g.unpersist()
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
      case "noop" :: names =>
        val results = names.map { name =>
          spark.sparkContext.setJobDescription(s"noop:$name")
          val runs = (1 to 3).map { _ =>
            time {
              SparkEntry.queries(name)(spark, sfDir)
                .write.format("noop").mode("overwrite").save()
            }
          }
          name -> runs
        }
        results.foreach { case (n, rs) =>
          println(f""""$n": [${rs.map(r => f"$r%.3f").mkString(",")}]""")
        }
      case other =>
        sys.error(s"usage: BenchExtra headline | noop <query...> (got $other)")
    }
    spark.stop()
  }
}
