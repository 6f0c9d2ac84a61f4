package pipebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** What one iteration did and what its output looked like.
  *
  * @param rows        input rows the main pass consumed
  * @param mainS       wall of the main pass (rows / mainS is the throughput)
  * @param iterS       wall of the whole timed iteration
  * @param fingerprint output summary that must repeat exactly on every iteration
  * @param checks      named output checks; any false one fails the iteration
  * @param extras      workload counters reported by the traced run
  * @param spans       span counters, when traced
  */
final case class Outcome(rows: Long, mainS: Double, iterS: Double, fingerprint: String,
                         checks: Seq[(String, Boolean)], extras: Map[String, Double] = Map.empty,
                         spans: Map[String, SpanStats] = Map.empty)

/** A closed-loop batch workload: one job at a time from one client. */
trait Workload {
  /** Generates this workload's input from the seed under `dir` and loads it,
    * replacing the state of any earlier set-up.
    */
  def setup(dir: Path): Unit

  /** Runs one iteration with `dir` as its own fresh work directory. With a
    * tracer, every call into a library module runs in a span and its output
    * is forced at the span boundary.
    */
  def run(dir: Path, tracer: Option[Tracer]): Outcome
}

object Workload {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` in the span `name` when tracing, or plainly otherwise. */
  def within[T](tracer: Option[Tracer], name: String)(f: => T): T =
    tracer.fold(f)(_.span(name)(f))

  /** When tracing, materialises `df` so the span computing it owns its jobs.
    * The cache is cleared after every iteration.
    */
  def force(tracer: Option[Tracer], df: DataFrame): DataFrame = {
    if (tracer.isDefined) { df.persist(StorageLevel.MEMORY_AND_DISK); df.count() }
    df
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
