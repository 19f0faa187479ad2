package graftbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM process: runs one workload of a plan and writes
  * the raw observations as JSON. `run.py` makes the plan, starts this, and
  * turns the observations into checked metrics.
  *
  * {{{
  *   graftbench.Main --plan plan.json --work DIR --out raw.json --trace 0|1
  * }}}
  *
  * With `--trace 1` the workload runs twice in the same process: once
  * untraced, then once with spans and Spark listeners, so the tracing
  * overhead is the difference between the two passes. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = Plan.load(Paths.get(a("plan")))
    val work = Paths.get(a("work"))
    val t0 = System.nanoTime()
    def log(what: String): Unit =
      System.err.println(f"graftbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = graft.core.Sessions.local("graftbench")
    log("session up")
    val passes = try {
      val modes = if (a.get("trace").contains("1")) Seq(false, true) else Seq(false)
      modes.zipWithIndex.map { case (traced, i) =>
        val r = pass(spark, plan, traced, work.resolve(s"pass$i"))
        log(s"pass $i done")
        r
      }
    } finally spark.stop()
    log("session stopped")
    Files.writeString(Paths.get(a("out")),
      Json.render(Map("passes" -> passes, "rss_peak_mb" -> Host.rssPeakMb())))
  }

  private def pass(spark: org.apache.spark.sql.SparkSession, plan: Plan, traced: Boolean,
      dir: Path): Map[String, Any] = {
    val clock = new RunClock
    val tr = new Tracer(traced, clock, spark.sparkContext)
    // set-up runs `setupReps` times on fresh directories, each timed
    // after its inputs are written; the last one is measured
    var w: Workload = null
    val setupS = (1 to plan.setupReps).map { k =>
      w = Workload(spark, plan, new Probe(tr))
      w.prepare(Files.createDirectories(dir.resolve(s"setup$k")))
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val probes = if (traced) Some(new SparkProbes(tr)) else None
    probes.foreach { s =>
      spark.sparkContext.addSparkListener(s)
      spark.listenerManager.register(s)
      spark.streams.addListener(s.streaming)
    }
    w.run()
    Thread.sleep(500) // listener events are delivered asynchronously
    probes.foreach { s =>
      spark.sparkContext.removeSparkListener(s)
      spark.listenerManager.unregister(s)
      spark.streams.removeListener(s.streaming)
    }
    val p = w.p
    w.window.toMap ++ Map("traced" -> traced, "setup_s" -> setupS,
      "files" -> p.files.values.map(_.toMap).toSeq,
      "keys" -> p.keys.map { case (k, o) => k -> o.toMap }.toMap,
      "sweeps" -> p.sweeps.toArray.toSeq,
      "polls" -> p.polls.get, "poll_ms" -> p.pollMs.sum,
      "kv_calls" -> p.kvCalls.get, "kv_ms" -> p.kvMs.sum,
      "outcome" -> w.outcome(),
      "spans" -> tr.all.map(s => Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "run" -> s.run, "attrs" -> s.attrs)),
      "catalyst" -> probes.map(_.catalyst.toMap).getOrElse(Map.empty),
      "counts" -> probes.map(_.counts.toMap).getOrElse(Map.empty),
      "progress" -> probes.map(_.progress.toArray.toSeq).getOrElse(Seq.empty))
  }
}
