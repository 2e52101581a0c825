package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-layer accounting for the traced run. The benchmark wraps each call
  * into a layer's public function in a Spark job group named after the
  * layer; this listener attributes every job, stage and task of that group
  * to it. Nothing is added to the program itself. (Attributing by the
  * stage's call site instead does not work: adaptive query stages are
  * submitted from a thread pool, so their call site reads
  * `CompletableFuture`, not the program's module.)
  */
final class Trace(spark: SparkSession) extends SparkListener {

  final class Acc {
    var calls = 0L
    var jobs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleBytes = 0L
    /** worst stage max/median task time seen in one call, per call */
    val skews = mutable.ArrayBuffer.empty[Double]
    val wallsNs = mutable.ArrayBuffer.empty[Long]
  }

  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var callWorstSkew = 0.0

  def acc(name: String): Acc = synchronized(accs.getOrElseUpdate(name, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { name =>
      accs.getOrElseUpdate(name, new Acc).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = name)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    stageGroup.get(e.stageId).foreach { g =>
      val a = accs.getOrElseUpdate(g, new Acc)
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val ts = stageTasks.remove(e.stageInfo.stageId).getOrElse(mutable.ArrayBuffer.empty)
    // a one-task stage has no skew to measure
    if (ts.size >= 2) {
      val sorted = ts.sorted
      val med = math.max(sorted(sorted.size / 2), 1L).toDouble
      callWorstSkew = math.max(callWorstSkew, sorted.last / med)
    }
  }

  /** Run `body` as one call of `layer`: a job group, a wall-clock span, and
    * the worst stage skew of the call.
    */
  def span[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    Trace.drain(sc)
    synchronized { callWorstSkew = 0.0 }
    sc.setJobGroup(layer, layer)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      sc.clearJobGroup()
      Trace.drain(sc)
      synchronized {
        val a = accs.getOrElseUpdate(layer, new Acc)
        a.calls += 1
        a.wallsNs += dt
        a.skews += callWorstSkew
      }
    }
  }
}

object Trace {
  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(sc: org.apache.spark.SparkContext): Unit = org.apache.spark.BusAccess.drain(sc)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
