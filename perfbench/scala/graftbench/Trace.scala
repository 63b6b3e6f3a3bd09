package graftbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import Keys._

/** Spark's local-property keys for a job's group and description. */
object Keys {
  val JobGroup = "spark.jobGroup.id"
  val JobDescription = "spark.job.description"
}

/** Executor-side counters for one job group. */
final class Counters {
  var jobs, tasks, taskMs, gcMs, shuffleWriteB, spillB, inputB, outputB = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    inputB += o.inputB; outputB += o.outputB
  }
}

/** The block manager's cached-block footprint: the sum of live RDD
  * block sizes, in memory and on disk, and their peaks over the run,
  * without the blocks of frames the benchmark persists itself. It is a
  * measurement, not tracing, so it listens in untraced runs too.
  */
final class BlockWatch extends SparkListener {
  private val blocks = scala.collection.mutable.HashMap[String, (Long, Long)]()
  private val ignored = scala.collection.mutable.HashSet[Int]()
  private var memNow, diskNow = 0L
  @volatile var memPeak, diskPeak = 0L

  /** Leaves the blocks of RDD `id` out of the footprint. */
  def ignore(id: Int): Unit = synchronized(ignored += id)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.asRDDId.exists(b => !ignored(b.rddId))) {
      val key = info.blockId.name
      val (m0, d0) = blocks.getOrElse(key, (0L, 0L))
      val (m1, d1) =
        if (info.storageLevel.isValid) (info.memSize, info.diskSize) else (0L, 0L)
      if (m1 == 0 && d1 == 0) blocks.remove(key) else blocks(key) = (m1, d1)
      memNow += m1 - m0
      diskNow += d1 - d0
      memPeak = math.max(memPeak, memNow)
      diskPeak = math.max(diskPeak, diskNow)
    }
  }
}

/** Attributes Spark work to the wrapped call that issued it. The
  * stage → job-group mapping is taken at stage submission (the
  * submitting thread's job group rides in the stage properties), so
  * listener-bus lag cannot smear one call's tasks onto the next.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = TrieMap[Int, String]()
  val byGroup = TrieMap[String, Counters]()
  /** Time spent in this listener's callbacks, on the listener bus. */
  @volatile var busyNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(JobGroup)))

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    group(e.properties).foreach { g =>
      val c = counters(g)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    group(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
        c.outputB += m.outputMetrics.bytesWritten
      }
    }
  }
}

final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startNs: Long, endNs: Long, run: String)

/** Spans around the benchmark's calls into each library layer, plus
  * the job groups that key the listener. A call's span covers the
  * public call and, where the call returns a lazy frame, the action
  * the benchmark uses to force it, so its Spark jobs land in its
  * group.
  *
  * Only units the loop marks as traced record anything; an untraced
  * unit runs the bare calls, with no listener attached. The tracer
  * times its own work, so a traced run states what tracing cost.
  */
final class Tracer(sc: SparkContext, runId: String) {
  val spans = ArrayBuffer[Span]()
  val listener = new LayerListener
  val blocks = new BlockWatch
  sc.addSparkListener(blocks)
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var active = false
  private val extra = TrieMap[String, Double]()
  /** Time the calling thread spent opening and closing spans. */
  private var spanNs = 0L

  def tracing: Boolean = active

  /** Seconds spent tracing: span bookkeeping plus listener callbacks. */
  def overheadS: Double = (spanNs + listener.busyNs) / 1e9

  /** Runs `body` as one unit: a root span with every call as child. */
  def unit[T](name: String, traced: Boolean)(body: => T): T = {
    active = traced
    if (!traced) return body
    sc.addSparkListener(listener)
    try span(name, "unit")(body)
    finally {
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(listener)
      active = false
    }
  }

  /** Wraps one public call into `layer`. */
  def call[T](layer: String, name: String)(body: => T): T =
    if (!active) body else span(name, layer)(body)

  /** Adds to a named counter, only while tracing. */
  def count(key: String, v: Double): Unit =
    if (active) extra.synchronized(extra(key) = extra.getOrElse(key, 0.0) + v)

  def counter(key: String): Double = extra.getOrElse(key, 0.0)

  private def span[T](name: String, layer: String)(body: => T): T = {
    val e0 = System.nanoTime()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevGroup = sc.getLocalProperty(JobGroup)
    val prevDesc = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobGroup, s"$layer#$id")
    sc.setLocalProperty(JobDescription, s"perfbench $layer $name")
    stack = id :: stack
    val t0 = System.nanoTime()
    spanNs += t0 - e0
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(JobGroup, prevGroup)
      sc.setLocalProperty(JobDescription, prevDesc)
      spans += Span(id, parent, name, layer, t0, t1, runId)
      spanNs += System.nanoTime() - t1
    }
  }

  /** Per layer: call count, self seconds (span time minus the time its
    * child spans cover) and the executor counters of its job groups.
    */
  def layers: Map[String, (Int, Double, Counters)] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    val groupLayer = spans.map(s => s"${s.layer}#${s.id}" -> s.layer).toMap
    val perLayer = spans.groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
      layer -> (ss.size, self, new Counters)
    }
    for ((g, c) <- listener.byGroup; layer <- groupLayer.get(g))
      perLayer(layer)._3.add(c)
    perLayer
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
