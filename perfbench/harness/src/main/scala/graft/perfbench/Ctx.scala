package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed and timed length, the
  * recorder, the probe and tracer, a scratch directory (`work`), the result
  * directory (`out`) and the generated input tables (`data`).
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, rec: Recorder,
                     probe: Probe, tracer: Tracer, work: String, out: String, data: String) {
  /** Records the `spark.*` counters accumulated since `before`. */
  def layerDiff(before: Map[String, Double]): Unit =
    rec.setAll("spark.", Probe.diff(probe.snapshot(), before))
}

object Ctx {
  /** Set-ups per run; setup_s reports their median. */
  val setups = 3

  private def files(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  def bytesUnder(root: String): Long = files(root).map(Files.size).sum

  /** Descriptors this process holds open (0 where /proc is absent). */
  def openFds: Int =
    Option(new java.io.File("/proc/self/fd").list()).fold(0)(_.length)

  /** Copies a directory tree to `to` and returns `to`. */
  def copyDir(from: String, to: String): String = {
    val src = Paths.get(from)
    files(from).foreach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      Files.createDirectories(t.getParent)
      Files.copy(f, t)
    }
    to
  }
}
