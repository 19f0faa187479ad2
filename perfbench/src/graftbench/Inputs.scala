package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

import graft.sources.udbf.UdbfWriter

/** One channel of a generated logger file. Frame `i` past the warm-up
  * reads `base + (i % period) * step`, so its stats are closed-form. */
final case class Chan(name: String, unit: String, dataType: Int, base: Double,
    step: Double, period: Int)

/** One input file of the plan, as the seeded generator described it.
  * `landMs` is the open-loop due time, relative to the schedule origin. */
final case class FileSpec(name: String, group: String, kind: String, startMicros: Long,
    rate: Double, frames: Int, timeField: Boolean, chans: Seq[Chan],
    warmupFrames: Int, warmupValue: Double, landMs: Double) {
  def stem: String = name.stripSuffix(".dat")

  /** Write the file under `dir`, with an mtime old enough for the
    * MIN_FILE_AGE_SEC gate: the files land already aged, so the
    * deliberate age hold stays out of every latency. */
  def writeTo(dir: Path): Path = {
    val p = dir.resolve(name)
    if (kind == "corrupt")
      Files.write(p, s"not a udbf file: $name".getBytes(StandardCharsets.UTF_8))
    else
      UdbfWriter.write(p,
        chans.map(c => UdbfWriter.ChannelSpec(c.name, c.unit, c.dataType)), frames,
        (i, j) => if (i < warmupFrames) warmupValue
          else chans(j).base + (i % chans(j).period) * chans(j).step,
        startMicros, rate, timeField = timeField)
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis - 3600 * 1000L))
    p
  }
}

final case class Plan(workload: String, seconds: Double, setupReps: Int,
    files: Seq[FileSpec], warmup: Seq[FileSpec], registers: Seq[(String, Int)])

object Plan {
  private def file(n: JsonNode): FileSpec = FileSpec(
    n.get("name").asText, n.get("group").asText, n.get("kind").asText,
    n.get("start_us").asLong, n.get("rate").asDouble, n.get("frames").asInt,
    n.get("time_field").asBoolean,
    n.get("channels").elements().asScala.map(c => Chan(c.get("name").asText,
      c.get("unit").asText, c.get("type").asInt, c.get("base").asDouble,
      c.get("step").asDouble, c.get("period").asInt)).toSeq,
    n.get("warmup_frames").asInt, n.get("warmup_value").asDouble,
    n.get("land_ms").asDouble)

  def load(path: Path): Plan = {
    val n = Json.read(path)
    Plan(n.get("workload").asText, n.get("seconds").asDouble, n.get("setup_reps").asInt,
      n.get("files").elements().asScala.map(file).toSeq,
      n.get("warmup").elements().asScala.map(file).toSeq,
      n.get("registers").elements().asScala.map(r => r.get(0).asText -> r.get(1).asInt).toSeq)
  }
}
