package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sinks.{KvSink, RegisterSink, RegisterWriter}
import graft.streaming.StabilityGate

/** What the benchmark saw happen to one input file, in run milliseconds. */
final class FileObs(val name: String) {
  @volatile var due = Double.NaN        // open loop: when it was due to land
  @volatile var landed = Double.NaN     // when it actually landed
  @volatile var admitted = Double.NaN   // janitor gate moved it to staging
  @volatile var processStart = Double.NaN
  @volatile var processEnd = Double.NaN
  @volatile var doneAt = Double.NaN     // archive or dead-letter finished
  @volatile var processCalls = 0
  @volatile var bytes = 0L             // size of the file as written
  @volatile var health: List[String] = Nil

  def toMap: Map[String, Any] = Map("name" -> name, "due" -> due, "landed" -> landed,
    "admitted" -> admitted,
    "process_start" -> processStart, "process_end" -> processEnd,
    "done_at" -> doneAt, "process_calls" -> processCalls, "bytes" -> bytes,
    "health" -> health.reverse)
}

/** One `stats:*` key: when it first became visible (the end of a
  * file's latency), how often it was written, and the fields written. */
final class KeyObs {
  var visibleAt = Double.NaN
  var writes = 0
  var fields: Map[String, String] = Map.empty
  def toMap: Map[String, Any] =
    Map("visible_at" -> visibleAt, "writes" -> writes, "fields" -> fields)
}

/** Everything one measured pass records from outside the program: the
  * per-file observations, the layer counters that need no listener,
  * and (traced) the spans. */
final class Probe(val tr: Tracer) {
  val files: TrieMap[String, FileObs] = TrieMap.empty
  def obs(name: String): FileObs = files.getOrElseUpdate(name, new FileObs(name))
  val keys: TrieMap[String, KeyObs] = TrieMap.empty
  val kvCalls = new AtomicLong(); val kvMs = new DoubleAdder()
  val polls = new AtomicLong(); val pollMs = new DoubleAdder()
  val sweeps = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val lastFile = new ThreadLocal[String]
  def now(): Double = tr.clock.now()

  /** `process` as the program calls it, timed; the file it served is
    * remembered per thread so the pipeline's health flag that follows
    * can be attributed to it. */
  def timedProcess(f: String => Unit): String => Unit = path => {
    val name = java.nio.file.Paths.get(path).getFileName.toString
    val o = obs(name)
    o.processCalls += 1
    lastFile.set(name)
    o.processStart = now()
    try tr.span("apps.lpi.process", name)(f(path)) finally o.processEnd = now()
  }

  /** One janitor poll; the admitted file, if any, is stamped. */
  def poll(gate: StabilityGate): Option[java.nio.file.Path] = {
    val t0 = now()
    val r = tr.span("streaming.gate.poll")(gate.poll())
    val t1 = now()
    polls.incrementAndGet(); pollMs.add(t1 - t0)
    r.foreach(p => obs(p.getFileName.toString).admitted = t1)
    r
  }

  def onStats(key: String, mapping: Map[String, String]): Unit = synchronized {
    val k = keys.getOrElseUpdate(key, new KeyObs)
    if (k.visibleAt.isNaN) k.visibleAt = now()
    k.writes += 1
    k.fields = k.fields ++ mapping
  }

  def onHealth(key: String, value: String): Unit =
    Option(lastFile.get).foreach { f =>
      val o = obs(f)
      o.health = s"$key=$value" :: o.health
      if (key.endsWith("_file_processing")) o.doneAt = now()
    }
}

/** The program's KV sink seen through a timing wrapper: counts and
  * times every call, and stamps when each `stats:*` key first becomes
  * visible — the end of a file's latency. */
final class TimingKv(inner: KvSink, p: Probe) extends KvSink {
  private def timed[T](f: => T): T = {
    val t0 = p.now()
    try p.tr.span("sinks.kv")(f)
    finally { p.kvCalls.incrementAndGet(); p.kvMs.add(p.now() - t0) }
  }
  override def hset(key: String, mapping: Map[String, String], ttl: Option[Long]): Unit = {
    timed(inner.hset(key, mapping, ttl))
    if (key.startsWith("stats:")) p.onStats(key, mapping)
  }
  override def set(key: String, value: String, ttl: Option[Long]): Unit = {
    timed(inner.set(key, value, ttl))
    if (key.startsWith("health:")) p.onHealth(key, value)
  }
  override def get(key: String): Option[String] = timed(inner.get(key))
  override def hget(key: String, field: String): Option[String] = timed(inner.hget(key, field))
  override def hgetAll(key: String): Map[String, String] = timed(inner.hgetAll(key))
  override def scan(pattern: String): Seq[String] = timed(inner.scan(pattern))
}

/** The register consumer on the TICKER_INTERVAL_SEC cadence: each
  * sweep logs which keys `RegisterWriter` consumed (the keys it read
  * fields of), the field values it read, and the registers after. */
final class Sweeper(inner: KvSink, mapping: Seq[(String, Int)], p: Probe, tickMs: Long) {
  private val reads = mutable.ArrayBuffer.empty[(String, String, String)]
  private val recording = new KvSink {
    def hset(k: String, m: Map[String, String], t: Option[Long]): Unit = inner.hset(k, m, t)
    def set(k: String, v: String, t: Option[Long]): Unit = inner.set(k, v, t)
    def get(k: String): Option[String] = inner.get(k)
    def hget(k: String, f: String): Option[String] = {
      val v = inner.hget(k, f); v.foreach(x => reads += ((k, f, x))); v
    }
    def hgetAll(k: String): Map[String, String] = inner.hgetAll(k)
    def scan(pattern: String): Seq[String] = inner.scan(pattern)
  }
  private val registers = new RegisterSink(if (mapping.isEmpty) 0 else mapping.map(_._2).max)
  private val writer = new RegisterWriter(recording, registers, mapping)
  private var exec: ScheduledExecutorService = _

  def sweep(): Unit = synchronized {
    reads.clear()
    val t0 = p.now()
    val n = p.tr.span("sinks.register.sweep")(writer.sweep())
    val t1 = p.now()
    p.sweeps.add(Map("start" -> t0, "end" -> t1, "consumed" -> n,
      "reads" -> reads.map { case (k, f, v) => Seq(k, f, v) }.toSeq,
      "registers" -> mapping.map { case (f, r) => f -> registers.readFloat(r).toDouble }.toMap))
  }

  def start(): Unit = {
    exec = Executors.newSingleThreadScheduledExecutor()
    exec.scheduleAtFixedRate(() => sweep(), tickMs, tickMs, TimeUnit.MILLISECONDS)
  }

  /** Stop the cadence, then one last sweep for keys written since. */
  def stop(): Unit = {
    if (exec != null) { exec.shutdown(); exec.awaitTermination(30, TimeUnit.SECONDS) }
    sweep()
  }
}

/** Host-level stamps from /proc: machine busy and steal jiffies. */
object Host {
  private def cpuLine: Array[Long] = try {
    Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
  } catch { case _: Exception => Array.empty }

  /** (busy jiffies, steal jiffies). Busy is user + nice + system + irq
    * + softirq: CPU some process on this machine used. Steal is CPU the
    * hypervisor withheld. */
  def jiffies(): (Long, Long) = {
    val f = cpuLine
    if (f.length < 8) (0L, 0L)
    else (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU of the JIT compiler threads, in jiffies, from /proc/self/task:
    * a start-up cost of a fresh JVM that a long-running pipeline does not
    * keep paying, so it is taken out of the per-file CPU. */
  def jitJiffies(): Long = try {
    Files.list(Paths.get("/proc/self/task")).iterator().asScala.map { t =>
      try {
        val st = Files.readString(t.resolve("stat"))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (comm.contains("CompilerThre")) {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime + stime
        } else 0L
      } catch { case _: Exception => 0L } // the thread ended while listed
    }.sum
  } catch { case _: Exception => 0L }

  private val mb = 1024.0 * 1024.0

  /** Heap the program holds: in use right after a full collection. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
  }

  def rssPeakMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }
}
