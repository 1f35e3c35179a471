package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The benchmark's JVM side: one workload in one local[4] process, one
  * caller and one operation at a time.
  *
  * Usage: graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *
  * Untraced, it sets the inputs up [[SetupReps]] times, runs the operation
  * once cold (the first run in a fresh JVM), `warmupOps` times untimed
  * and then timed until `seconds` have passed (at least `timedOps`
  * times), reads the heap retained after each operation and the peak RSS,
  * and checks every output
  * against the workload's local reference. Traced, it sets up once inside
  * spans, runs the operation traced (cold), untraced and traced, reports
  * the spans of the last traced run, the tracing overhead (last traced
  * minus untraced) and whether the exact counters repeated, and checks the
  * outputs against GraphX. A traced run fails when the counters do not
  * repeat or a job escapes its span's group.
  *
  * Prints human-readable lines, then one line `RESULT <json>` with every
  * metric it measured. */
object Main {

  /** No new operation starts once the process is this old (the run must
    * end, check included, well inside three minutes). */
  private val OpDeadlineS = 110.0

  /** Input set-ups per untraced run; setup_s reports their median. */
  private val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, workS) = argv
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val boot = Probe.mark()
    val preMainS = (System.currentTimeMillis() - jvmStart) / 1e3
    def age = (System.currentTimeMillis() - jvmStart) / 1e3
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
    val cpus = 4
    val spark = graft.runtime.Sessions.local(cpus, 2 * cpus, "graft-perfbench")
    val session = Probe.since(boot, preMainS)
    val sc = spark.sparkContext
    val w = Workload(wname, spark, seedS.toLong, cpus, work)
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
    var attempted = 0
    val failedOps = mutable.SortedSet.empty[Int]
    def fail(op: Int, msg: String): Unit = {
      failedOps += op
      System.err.println(s"operation $op failed: $msg")
    }
    // (operation number, output) of every operation that returned
    val outs = mutable.ArrayBuffer.empty[(Int, Output)]
    // heap held after each operation, sampled before the next one starts
    val retained = mutable.ArrayBuffer.empty[Double]
    def attempt(f: => (Cost, Output)): Option[Cost] = {
      val heap = Probe.retainedHeapMb()
      if (attempted > 0) retained += heap
      attempted += 1
      try { val (c, o) = f; outs += attempted -> o; Some(c) }
      catch { case e: Exception => fail(attempted, e.toString); None }
    }
    def rdds = sc.getPersistentRDDs.size
    def cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    try {
      if (traceS == "0") {
        val reps = (1 to SetupReps).map(_ => Probe.measure(w.setup(None))._1)
        val base = rdds
        // the cold operation, then untimed warm-up operations, then the
        // timed ones: `seconds` of them and at least `timedOps`, as long
        // as the next one can start before the deadline
        val first = attempt(w.op(None))
        var last = first.fold(0.0)(_.wallS)
        def room = age + last < OpDeadlineS
        def next(): Option[Cost] = {
          val c = attempt(w.op(None))
          c.foreach(x => last = x.wallS)
          c
        }
        val warmUp = (1 to w.warmupOps).flatMap(_ => if (room) next() else None)
        val timed = mutable.ArrayBuffer.empty[Cost]
        val timedFrom = attempted
        val t0 = System.nanoTime()
        while (room && (attempted - timedFrom < w.timedOps ||
            (System.nanoTime() - t0) / 1e9 < secondsS.toDouble))
          next().foreach(timed += _)
        retained += Probe.retainedHeapMb()
        val rss = Probe.peakRssMb()
        val opsDone = age
        if (first.isEmpty || timed.isEmpty)
          throw new IllegalStateException("no cold or no timed operation succeeded")
        val cold = first.get
        val warm = timed.toSeq
        val o = outs.last._2
        // times are wall time net of the host's cpu steal (see Cost.netS);
        // the raw wall times are printed beside them
        val runS = median(warm.map(_.netS))
        put("run_s", runS, "s")
        put("first_run_s", cold.netS, "s")
        put("run_cpu_s", median(warm.map(_.cpuS)), "s")
        put("first_run_cpu_s", cold.cpuS, "s")
        put("setup_s", session.netS + median(reps.map(_.netS)), "s")
        put("retained_heap_mb", retained.max, "MB")
        put("run_raw_s", median(warm.map(_.wallS)), "s")
        put("first_run_raw_s", cold.wallS, "s")
        put("setup_raw_s", session.wallS + median(reps.map(_.wallS)), "s")
        put("edges_per_s", o.edges.toDouble * o.supersteps / runS, "1/s")
        put("peak_rss_mb", rss, "MB")
        def list(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString("[", ", ", "]")
        println(f"# edges=${o.edges} vertices=${o.vertices} supersteps=${o.supersteps}")
        println(s"# run_s: median of ${warm.size} timed operations after ${warmUp.size} " +
          s"untimed warm-up, net of steal " +
          s"${list(warm.map(_.netS))}, raw ${list(warm.map(_.wallS))}, " +
          s"cpu ${list(warm.map(_.cpuS))}")
        println(f"# setup_s: session ${session.netS}%.3f s + median of ${reps.size} input " +
          f"set-ups ${list(reps.map(_.netS))}, net of steal; raw ${session.wallS}%.3f s + " +
          f"${list(reps.map(_.wallS))}; cpu ${session.cpuS}%.3f s + ${list(reps.map(_.cpuS))}")
        println(s"# retained heap after each operation ${list(retained.toSeq)} MB")
        println(f"# runtime.leaked_rdds=${rdds - base} runtime.cached_mb=$cachedMb%.1f")
        println(f"# timeline: session ${session.wallS}%.1f s, operations done at $opsDone%.1f s")
        println(s"# box: cpu steal, as a share of wanted cpu time: session " +
          f"${100 * session.stealShare}%.1f%%, operations " +
          (cold +: (warmUp ++ warm)).map(c => f"${100 * c.stealShare}%.1f%%")
            .mkString("[", ", ", "]"))
      } else {
        val spans = new Spans(sc)
        sc.addSparkListener(spans)
        try {
          val (setupC, _) = Probe.measure(w.setup(Some(spans)))
          val setupSpans = spans.report()
          spans.reset()
          val base = rdds
          // the first traced run is also the cold one: its counters must
          // equal the warm traced run's, and its wall time is not used
          def tracedOp() = {
            spans.reset()
            val c = attempt(w.op(Some(spans)))
            (attempted, c, spans.report(), spans.strayJobs, rdds - base, cachedMb)
          }
          val first = tracedOp()
          val untraced = attempt(w.op(None)).fold(Double.NaN)(_.wallS)
          val traced = Seq(first, tracedOp())
          val (_, _, opSpans, stray, leaked, cached) = traced.last
          val tracedS = traced.last._2.fold(Double.NaN)(_.wallS)
          val o = outs.last._2
          println(f"# edges=${o.edges} vertices=${o.vertices} supersteps=${o.supersteps}")
          println(f"# set-up ${setupC.wallS}%.3f s; warm traced operation $tracedS%.3f s" +
            f" vs untraced $untraced%.3f s (span total " +
            f"${opSpans.map(_._2.wallS).sum}%.3f s, $stray jobs outside any span group)")
          for ((name, s) <- setupSpans ++ opSpans) putSpan(put, name, s)
          put("trace.overhead_s", tracedS - untraced, "s")
          put("trace.stray_jobs", traced.map(_._4).sum.toDouble, "count")
          put("runtime.supersteps", o.supersteps, "count")
          if (o.stepMs.nonEmpty) {
            val ms = o.stepMs.map(_.toDouble)
            put("runtime.superstep_ms", median(ms), "ms")
            tail(ms).foreach { case (p, v) => put(s"runtime.superstep_ms_p$p", v, "ms") }
          }
          put("runtime.leaked_rdds", leaked, "count")
          put("runtime.cached_mb", cached, "MB")
          for ((op, _, _, n, _, _) <- traced if n > 0)
            fail(op, s"$n jobs started inside a span without its job group")
          // the exact counters must repeat between the two traced runs
          val seen = traced.map { case (op, _, r, _, _, _) =>
            val steps = outs.find(_._1 == op).fold(-1)(_._2.supersteps)
            r.find(_._1 == "algos.pagerank").map(_._2).map(s =>
              s"${s.jobs} jobs, ${s.tasks} tasks, ${s.shuffleBytes} shuffle bytes, " +
                s"$steps supersteps")
          }
          val repeat = seen.distinct.size == 1 && seen.head.isDefined
          println("# exact pagerank counters: " +
            seen.map(_.getOrElse("none")).mkString("[", "] then [", "]") +
            (if (repeat) " repeat" else " DIFFER"))
          put("trace.counters_repeat", if (repeat) 1 else 0, "count")
          if (!repeat) fail(traced.last._1, "exact counters differ from the first traced run's")
        } finally sc.removeSparkListener(spans)
      }
      val ref = w.reference(graphx = traceS == "1")
      if (traceS == "1") put("control.graphx_pagerank_s", ref.seconds, "s")
      for ((op, o) <- outs) w.check(o, ref).foreach(msg => fail(op, s"output check: $msg"))
      println(s"# output check against ${if (traceS == "1") "GraphX" else "the local reference"}" +
        (if (ref.components >= 0) s", components=${ref.components}" else ""))
      println(f"# timeline: check done at $age%.1f s")
    } finally {
      w.close()
      spark.stop()
    }
    println("RESULT " + json(failedOps.isEmpty, attempted, failedOps.size, m))
  }

  private def putSpan(put: (String, Double, String) => Unit, name: String, s: Spans.Stats): Unit = {
    put(s"$name.wall_s", s.wallS, "s")
    put(s"$name.driver_s", s.driverS, "s")
    put(s"$name.jobs", s.jobs, "count")
    put(s"$name.tasks", s.tasks.toDouble, "count")
    put(s"$name.shuffle_write_mb", s.shuffleBytes / 1e6, "MB")
    put(s"$name.spill_mb", s.spillBytes / 1e6, "MB")
    put(s"$name.exec_cpu_s", s.cpuS, "s")
    put(s"$name.gc_s", s.gcS, "s")
    put(s"$name.task_skew", s.taskSkew, "ratio")
    if (s.inputBytes > 0 || s.outputBytes > 0) {
      put(s"$name.input_mb", s.inputBytes / 1e6, "MB")
      put(s"$name.output_mb", s.outputBytes / 1e6, "MB")
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of the usual percentiles that has at least ten samples
    * beyond it, if any does. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75).find(p => s.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
  }

  private def json(correct: Boolean, attempted: Int, failed: Int,
      m: collection.Map[String, (Double, String)]): String = {
    val ms = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
