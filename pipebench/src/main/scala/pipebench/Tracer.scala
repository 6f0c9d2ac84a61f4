package pipebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters of one span: a call into one library module, identified by the
  * job group the tracer set around it.
  *
  * `taskMaxS`/`taskMedianS` describe the span's dominant stage (the one
  * with the most task time): the stage whose slowest task bounds the span.
  */
final case class SpanStats(wallS: Double, jobs: Long, taskS: Double, shuffleWriteBytes: Long,
                           spillBytes: Long, taskMaxS: Double, taskMedianS: Double,
                           failedTasks: Long) {
  /** Straggler factor of the dominant stage; a median below 1 ms counts as 1 ms. */
  def taskSkew: Double = if (jobs == 0) 0.0 else taskMaxS / math.max(taskMedianS, 1e-3)
}

object SpanStats {
  val zero: SpanStats = SpanStats(0, 0, 0, 0, 0, 0, 0, 0)
  /** Counter names as reported, in order, with units. */
  val counters: Seq[(String, String, SpanStats => Double)] = Seq(
    ("wall_s", "s", _.wallS),
    ("jobs", "count", _.jobs.toDouble),
    ("task_s", "s", _.taskS),
    ("shuffle_write_bytes", "bytes", _.shuffleWriteBytes.toDouble),
    ("spill_bytes", "bytes", _.spillBytes.toDouble),
    ("task_skew", "ratio", _.taskSkew),
    ("task_max_s", "s", _.taskMaxS),
    ("task_median_s", "s", _.taskMedianS),
    ("failed_tasks", "count", _.failedTasks.toDouble))
}

/** Outside-in tracer. The benchmark wraps each call into a library module
  * in [[span]], which sets a Spark job group for the call; a listener
  * attributes every job, stage and task of that group to the span. Nothing
  * inside the library is instrumented.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val prefix = "pipebench:"

  private final class Acc {
    var jobs = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  // listener state, written on the bus thread and read after a drain
  private val accs = mutable.Map[String, Acc]()
  private val stageGroup = mutable.Map[Int, String]()

  // spans of the current iteration: (name, group, wall seconds)
  private val spans = mutable.ArrayBuffer[(String, String, Double)]()
  private var seq = 0

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(prefix)).foreach { g =>
        accs.getOrElseUpdate(g, new Acc).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = accs(g)
      if (e.reason != Success) a.failedTasks += 1
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Runs `f` as the span `name`. The caller forces the span's output
    * inside `f`, so that the jobs computing it belong to the span.
    */
  def span[T](name: String)(f: => T): T = {
    seq += 1
    val group = s"$prefix$name#$seq"
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += ((name, group, (System.nanoTime() - t0) / 1e9))
      sc.clearJobGroup()
    }
  }

  /** Counters of every span since the last call, by span name. */
  def collect(): Map[String, SpanStats] = {
    org.apache.spark.pipebench.Bus.drain(sc)
    synchronized {
      val out = spans.map { case (name, group, wall) =>
        name -> accs.remove(group).map(a => stats(wall, a)).getOrElse(SpanStats.zero.copy(wallS = wall))
      }.toMap
      spans.clear()
      stageGroup.filterInPlace((_, g) => accs.contains(g))
      out
    }
  }

  private def stats(wall: Double, a: Acc): SpanStats = {
    val dominant = a.stageTaskMs.values.maxByOption(_.sum).map(_.sorted).getOrElse(mutable.ArrayBuffer(0L))
    SpanStats(wall, a.jobs, a.taskMs / 1e3, a.shuffleWrite, a.spill,
      dominant.last / 1e3, dominant(dominant.size / 2) / 1e3, a.failedTasks)
  }
}

/** Garbage collection and heap readings of this JVM, which in local mode
  * hosts the driver and every executor thread.
  */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Seconds the JIT compilers have spent so far. */
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes this JVM has loaded so far; generated code adds to it. */
  def classesLoaded: Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
