package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation: a public call the workload makes in a round. */
final case class Sample(kind: String, round: Long, ms: Double, spanId: Long)

/** State shared by a workload and the main loop: the session, the tracer,
  * the operation samples, the failure count and the output checks. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long) {
  val tracer = new Tracer(spark)
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val checkNotes = mutable.ArrayBuffer.empty[String]
  var round = 0L
  var measuring = false
  /** Per-layer observations taken in traced rounds (name → values). */
  val obs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def note(name: String, v: Double): Unit =
    if (tracer.on) obs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Runs one operation of `kind` as a public call; failures are counted
    * and rethrown, which abandons the rest of the round. */
  def op[T](kind: String, call: String, layer: String)(body: => T): T = {
    if (measuring) attempted += 1
    try {
      val (r, ms) = tracer.call(call, layer)(body)
      // the call's own span closes after any nested ones, so it is last
      if (measuring)
        samples += Sample(kind, round, ms, if (tracer.on) tracer.spans.last.id else -1L)
      r
    } catch {
      case e: Throwable =>
        if (measuring) failed += 1
        errors += s"$kind: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        throw e
    }
  }

  /** Records an output check; a failed check makes the run incorrect. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok && checkNotes.size < 20) checkNotes += s"$name: $detail"
  }
}

/** File-system helpers: the benchmark measures table and output sizes from
  * the directories, because the engine's direct writes report no Spark
  * output bytes. */
object Fs {
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  /** Data files only: hidden checksum and marker files are not data. */
  def dataFiles(p: Path): Seq[Path] = files(p).filterNot { f =>
    val n = f.getFileName.toString
    n.startsWith(".") || n.startsWith("_")
  }

  def bytes(fs: Seq[Path]): Long = fs.map(Files.size).sum

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
    finally s.close()
  }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toVector.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
}
