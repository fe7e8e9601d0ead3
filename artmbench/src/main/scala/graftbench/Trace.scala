package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task totals of one layer. */
final class LayerTotals {
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var jobs = 0L
}

/** Keys the task metrics of every job by the layer named in the
  * submitting thread's local property [[Layers.Key]]. Spark copies local
  * properties into the threads that run a query's exchanges and
  * broadcasts, so their jobs land in the caller's layer too. */
final class LayerListener extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, LayerTotals]()

  private def of(layer: String): LayerTotals =
    totals.computeIfAbsent(layer, _ => new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).map(_.getProperty(Layers.Key)).orNull
    if (layer != null) {
      of(layer).synchronized(of(layer).jobs += 1)
      e.stageInfos.foreach(s => stageLayer.putIfAbsent(s.stageId, layer))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    val m = e.taskMetrics
    if (layer != null && m != null) {
      val t = of(layer)
      t.synchronized {
        t.taskMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): Map[String, LayerTotals] = totals.asScala.toMap
  def reset(): Unit = { totals.clear(); stageLayer.clear() }
}

/** Layer names and the per-layer metric set. */
object Layers {
  val Key = "graftbench.layer"

  val artm: Seq[String] = Seq(
    "sources.corpus", "operators.dictionary", "operators.phi_broadcast",
    "operators.estep", "operators.nwt", "scores.pass", "regularizers.phi",
    "operators.normalize", "operators.transform")
  val pipeline: Seq[String] = Seq(
    "pipeline.gates", "pipeline.exact_dedup", "pipeline.shingle",
    "pipeline.minhash", "pipeline.clusters", "pipeline.mix_pack")
  val all: Seq[String] = artm ++ pipeline

  /** (suffix, unit) of the metrics every layer reports. */
  val perLayer: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "task_ms" -> "ms", "idle_slot_ms" -> "ms", "gc_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "jobs" -> "count")

  /** Layer counters beyond the common set: (name, unit). */
  val counters: Seq[(String, String)] = Seq(
    "operators.phi_broadcast.bytes" -> "bytes",
    "operators.estep.tokens" -> "count",
    "pipeline.minhash.pairs" -> "count")
}

/** Times calls into layers from the benchmark's side. Each call runs
  * with the layer's local property set, so [[LayerListener]] can key its
  * jobs' task metrics by it. */
final class Tracer(spark: SparkSession, listener: LayerListener, cores: Int) {
  private val wallNs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def apply[A](layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Layers.Key, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      wallNs(layer) += System.nanoTime() - t0
      sc.setLocalProperty(Layers.Key, null)
    }
  }

  def count(name: String, v: Double): Unit = counts(name) += v

  def layerWallMs: Double = wallNs.values.sum / 1e6

  /** Every layer metric by name; layers this workload never called
    * report 0. */
  def metrics(): Map[String, Double] = {
    ListenerBusDrain(spark.sparkContext)
    val tasks = listener.snapshot()
    Layers.all.flatMap { l =>
      val wall = wallNs(l) / 1e6
      val t = tasks.getOrElse(l, new LayerTotals)
      Seq(
        s"$l.wall_ms" -> wall,
        s"$l.task_ms" -> t.taskMs.toDouble,
        s"$l.idle_slot_ms" -> (wall * cores - t.taskMs),
        s"$l.gc_ms" -> t.gcMs.toDouble,
        s"$l.shuffle_bytes" -> t.shuffleBytes.toDouble,
        s"$l.spill_bytes" -> t.spillBytes.toDouble,
        s"$l.jobs" -> t.jobs.toDouble)
    }.toMap ++ Layers.counters.map { case (n, _) => n -> counts(n) }
  }
}

/** Largest old-generation occupancy right after a GC, read from the
  * JMX GC notifications while [[active]] is set. */
object HeapWatch {
  @volatile var active = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
        }.sum
        if (active && old > peak) peak = old
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Spark's generated-code compile time so far, in ms: the cumulative
  * nanosecond total that `CodeGenerator` adds every compile to. */
object Codegen {
  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}
