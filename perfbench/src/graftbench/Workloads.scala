package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.apps.LpiAnalysis
import graft.core.GraftConfig
import graft.sinks.InMemoryKvSink
import graft.streaming.{FilePipeline, KvStatsSink, StabilityGate, WindowedStats}

/** One workload: `prepare` writes the seeded inputs, `setup` constructs
  * the program objects and warms them (timed, repeated by the caller),
  * `run` is the measured region, `outcome` reads back what the program
  * left behind. */
abstract class Workload(val spark: SparkSession, val plan: Plan, val p: Probe) {
  val tickMs: Long = math.round(GraftConfig.tickerIntervalSec * 1000)
  val window = new Window
  protected var root: Path = _
  protected var warmFiles: Seq[Path] = Nil
  protected def dir(name: String): Path = Files.createDirectories(root.resolve(name))
  protected val store = new InMemoryKvSink()
  protected val kv = new TimingKv(store, p)
  protected lazy val sweeper = new Sweeper(store, plan.registers, p, tickMs)

  /** Write the plan's files into `prep` and its warm-up files into
    * `warmDir`; input generation stays out of the set-up time. */
  def prepare(root: Path): Unit = {
    this.root = root
    plan.files.foreach(f => p.obs(f.name).bytes = Files.size(f.writeTo(dir("prep"))))
    warmFiles = plan.warmup.map(_.writeTo(warmDir))
  }
  protected def warmDir: Path = dir("warm")
  def setup(): Unit
  def run(): Unit
  def outcome(): Map[String, Any]

  protected def sleepUntilEpoch(t: Long): Unit = {
    val d = t - System.currentTimeMillis
    if (d > 0) Thread.sleep(d)
  }

  protected def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(20)
    cond
  }

  /** Land each file of the open-loop schedule at its due time, relative
    * to `origin` (run ms at `originEpoch`), by moving it from `prep`
    * into `inputOf(file)`. Runs on its own thread. */
  protected def generator(originEpoch: Long, inputOf: FileSpec => Path): Thread = {
    val prep = dir("prep")
    val origin = p.tr.clock.fromEpoch(originEpoch)
    val t = new Thread(() => plan.files.sortBy(_.landMs).foreach { f =>
      val o = p.obs(f.name)
      o.due = origin + f.landMs
      sleepUntilEpoch(originEpoch + math.round(f.landMs))
      Files.move(prep.resolve(f.name), inputOf(f).resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
      o.landed = p.now()
    }, "bench-generator")
    t.setDaemon(true)
    t.start()
    t
  }

  /** The first trigger-grid instant at least one tick ahead: Spark's
    * ProcessingTime trigger fires on multiples of its interval since
    * the epoch, so schedules and janitor ticks anchor to that grid. */
  protected def nextGrid(): Long = (System.currentTimeMillis / tickMs + 2) * tickMs

  protected def listing(d: Path): Set[String] =
    if (Files.isDirectory(d)) Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
    else Set.empty

  protected def csvOf(stats: Path, f: FileSpec): Option[String] = {
    val c = stats.resolve(s"${f.stem}_stats.csv")
    if (Files.exists(c)) Some(Files.readString(c)) else None
  }
}

/** Open loop on both LPI loggers (the reference runs one pipeline per
  * logger directory): files land on the seeded schedule, a janitor
  * ticks the gates on the trigger grid, and each logger's
  * FilePipeline.start() runs with its production trigger. */
final class LpiLive(spark: SparkSession, plan: Plan, p: Probe)
    extends Workload(spark, plan, p) {
  private val groups = plan.files.map(_.group).distinct.sorted
  private var gates: Seq[StabilityGate] = Nil
  private var pipelines: Seq[FilePipeline] = Nil
  private var stats: Path = _

  def setup(): Unit = {
    stats = dir("stats")
    val analysis = new LpiAnalysis(spark, stats.toString, kv)
    val process = p.timedProcess(analysis.processFile)
    gates = groups.map(g => new StabilityGate(dir(s"in_$g"), dir(s"staging_$g")))
    pipelines = groups.map(g => new FilePipeline(spark, s"lpi_$g",
      root.resolve(s"staging_$g").toString, dir(s"finished_$g").toString,
      dir(s"failed_$g").toString, dir(s"ckpt_$g").toString, kv, process,
      pathGlobFilter = "*.dat"))
    // the warm-up files go through a throwaway LpiAnalysis, so JIT and
    // codegen caches are warm
    val warm = new LpiAnalysis(spark, dir("warm_stats").toString, new InMemoryKvSink())
    warmFiles.foreach(f => warm.processFile(f.toString))
  }

  def run(): Unit = {
    val queries = pipelines.map(_.start())
    try {
      // start-up (first, empty micro-batch) stays out of the timed region
      waitFor(60000)(queries.forall(_.lastProgress != null))
      sweeper.start()
      val originEpoch = nextGrid()
      @volatile var ticking = true
      // janitor ticks sit half a trigger after each grid instant, so the
      // staging move always lands at the same phase of the trigger
      val janitor = new Thread(() => {
        var k = 0L
        while (ticking) {
          sleepUntilEpoch(originEpoch - tickMs / 2 + k * tickMs)
          if (ticking) gates.foreach(p.poll)
          k += 1
        }
      }, "bench-janitor")
      janitor.setDaemon(true)
      janitor.start()
      val gen = generator(originEpoch, f => root.resolve(s"in_${f.group}"))
      window.begin(p.tr.clock.fromEpoch(originEpoch))
      gen.join()
      waitFor(60000)(plan.files.forall(f => !p.obs(f.name).doneAt.isNaN))
      window.end(p.now())
      ticking = false
      janitor.join()
    } finally queries.foreach(_.stop())
    sweeper.stop()
  }

  def outcome(): Map[String, Any] = {
    val fin = groups.flatMap(g => listing(root.resolve(s"finished_$g"))).toSet
    val fail = groups.flatMap(g => listing(root.resolve(s"failed_$g"))).toSet
    plan.files.map { f =>
      f.name -> Map("finished" -> fin(f.name), "failed" -> fail(f.name), "csv" -> csvOf(stats, f))
    }.toMap
  }
}

/** Open loop on the DSv2 path: 100 Hz files land on the seeded schedule
  * in the directory `readStream.format("udbf")` watches (admission is
  * the source's own), then WindowedStats.tumbling and KvStatsSink. */
final class UdbfWindowLive(spark: SparkSession, plan: Plan, p: Probe)
    extends Workload(spark, plan, p) {
  private def in: Path = dir("in")
  private def keyOf(f: FileSpec): String =
    "stats:" + java.time.Instant.ofEpochSecond(0, f.startMicros * 1000L)

  // the warm-up windows land before the stream starts: they fix the
  // schema, and their batch warms the streaming path
  override protected def warmDir: Path = in

  def setup(): Unit =
    WindowedStats.tumbling(spark.read.format("udbf").load(in.toString), "ts",
      plan.warmup.head.chans.map(_.name)).collect()

  def run(): Unit = {
    val windowed = WindowedStats.tumbling(spark.readStream.format("udbf").load(in.toString),
      "ts", plan.warmup.head.chans.map(_.name))
    val q: StreamingQuery = KvStatsSink.start(windowed, kv, dir("ckpt").toString)
    try {
      waitFor(60000)(plan.warmup.forall(f => p.keys.contains(keyOf(f))))
      sweeper.start()
      val originEpoch = nextGrid()
      val gen = generator(originEpoch, _ => in)
      window.begin(p.tr.clock.fromEpoch(originEpoch))
      gen.join()
      waitFor(60000)(plan.files.forall(f => p.keys.contains(keyOf(f))))
      window.end(p.now())
      plan.files.foreach(f => p.obs(f.name).doneAt = p.keys.get(keyOf(f)).map(_.visibleAt)
        .getOrElse(Double.NaN))
    } finally q.stop()
    sweeper.stop()
  }

  def outcome(): Map[String, Any] = Map.empty
}

/** The measured region of a pass and the host counters around it. */
final class Window {
  var start, end, liveHeapMb = 0.0
  private var c0, g0, j0, b0, s0, c1, g1, j1, b1, s1 = 0L
  def begin(t: Double): Unit = {
    start = t; c0 = Host.processCpuNs(); g0 = Host.gcMs(); j0 = Host.jitJiffies()
    val (b, s) = Host.jiffies(); b0 = b; s0 = s
  }
  /** Ends the window; the pipeline still runs, so the live heap read
    * after the counters (its full collection stays out of them) is what
    * the running program holds. */
  def end(t: Double): Unit = {
    end = t; c1 = Host.processCpuNs(); g1 = Host.gcMs(); j1 = Host.jitJiffies()
    val (b, s) = Host.jiffies(); b1 = b; s1 = s
    liveHeapMb = Host.liveHeapMb()
  }
  private val hz = 100.0 // USER_HZ: /proc/stat counts in 1/100 s
  def toMap: Map[String, Any] = {
    val cpuS = (c1 - c0) / 1e9
    val jitS = (j1 - j0) / hz
    Map("start" -> start, "end" -> end, "cpu_s" -> (cpuS - jitS), "jit_cpu_s" -> jitS,
      "gc_s" -> (g1 - g0) / 1e3, "live_heap_mb" -> liveHeapMb, "steal_s" -> (s1 - s0) / hz,
      "ext_cpu_s" -> ((b1 - b0) / hz - cpuS).max(0.0))
  }
}

object Workload {
  def apply(spark: SparkSession, plan: Plan, p: Probe): Workload = plan.workload match {
    case "lpi_live" => new LpiLive(spark, plan, p)
    case "udbf_window_live" => new UdbfWindowLive(spark, plan, p)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
