package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed over every task of every stage first submitted by a
  * job whose description is one layer's name.
  */
final class LayerTotals {
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val jobs = new AtomicLong
}

/** Attributes Spark task metrics to the job description the benchmark sets
  * around each layer call (`sc.setJobDescription(layer)`). A stage belongs to
  * the first job that submits it; tasks of stages whose job carried no
  * description land under [[LayerListener.Unattributed]].
  */
final class LayerListener extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  val totals = new ConcurrentHashMap[String, LayerTotals]()

  def layer(name: String): LayerTotals = totals.computeIfAbsent(name, _ => new LayerTotals)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val desc = Option(js.properties)
      .flatMap(p => Option(p.getProperty(LayerListener.JobDescription)))
      .getOrElse(LayerListener.Unattributed)
    layer(desc).jobs.incrementAndGet()
    js.stageIds.foreach(stageLayer.putIfAbsent(_, desc))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      val t = layer(stageLayer.getOrDefault(te.stageId, LayerListener.Unattributed))
      t.runMs.addAndGet(m.executorRunTime)
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      t.spill.addAndGet(m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, LayerTotals] = totals.asScala.toMap
}

object LayerListener {
  val Unattributed = "unattributed"
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
}

/** One timed call into a layer: spans of one run share `run`. */
final case class Span(name: String, parent: String, run: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer(val run: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil

  /** Time `body` as layer `name`, with every Spark job it submits described
    * as `name` so the listener attributes their tasks to it.
    */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val prevDesc = sc.getLocalProperty(LayerListener.JobDescription)
    stack = name :: stack
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, run, t0, System.nanoTime())
      stack = stack.tail
      sc.setJobDescription(prevDesc)
    }
  }

  /** Summed wall seconds of the spans called `name`. */
  def wall(name: String): Double = spans.iterator.filter(_.name == name).map(_.seconds).sum

  def json(t0: Long): String = spans.map { s =>
    s"""{"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},"run":${Json.str(s.run)},""" +
      f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
  }.mkString("[", ",", "]")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
