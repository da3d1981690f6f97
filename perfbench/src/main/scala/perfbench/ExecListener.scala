package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/**
 * Spark execution counters per benchmark op. The client thread tags every
 * op with the `perfbench.op` local property; jobs inherit it (streaming
 * micro-batches too, through the query thread), and their stages and tasks
 * are charged to that op. Events arrive on Spark's listener bus, so a
 * reader calls [[drain]] before looking at an op's counters.
 */
final class ExecListener extends SparkListener {
  import ExecListener._

  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val byOp = new ConcurrentHashMap[String, OpExec]()
  @volatile private var drains = 0L

  def op(id: String): OpExec = byOp.computeIfAbsent(id, _ => new OpExec)
  def get(id: String): Option[OpExec] = Option(byOp.get(id))
  def forget(id: String): Unit = byOp.remove(id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).orNull
    if (id != null) {
      e.stageIds.foreach(stageOp.put(_, id))
      val o = op(id)
      // a job's result stage has its highest stage id; the op's last job
      // is the one that hands rows to the sink
      o.synchronized { o.jobs += 1; o.lastResultStage = e.stageIds.max }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    Option(stageOp.get(info.stageId)).foreach { id =>
      val o = op(id)
      o.synchronized { o.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (id != null && m != null) {
      val o = op(id)
      val info = e.taskInfo
      // Spark's scheduler delay: task time not spent running, deserializing
      // or shipping the result
      val delayMs = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      o.synchronized {
        o.tasks += 1
        val runS = m.executorRunTime / 1e3
        o.runS += runS
        o.cpuS += m.executorCpuTime / 1e9
        o.schedDelayS += delayMs / 1e3
        o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        o.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        o.shuffleRecords += m.shuffleReadMetrics.recordsRead
        o.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
        o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        o.stageRecordsIn(e.stageId) = o.stageRecordsIn.getOrElse(e.stageId, 0L) +
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        o.stageTaskRunS.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Double]()) += runS
        if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0) {
          o.scanRunS += runS
          o.scanCpuS += m.executorCpuTime / 1e9
          o.scanMaxTaskS = math.max(o.scanMaxTaskS, runS)
          o.scanRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
   * run a tiny tagged job and wait for its task to arrive here. Listener
   * events are delivered in order, so the earlier ones are in too. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    val tag = s"$SentinelPrefix${drains + 1}"
    drains += 1
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpKey, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (get(tag).forall(o => o.synchronized(o.tasks) == 0) && System.nanoTime() < deadline)
      Thread.sleep(2)
    forget(tag)
  }
}

object ExecListener {
  val OpKey = "perfbench.op"
  private val SentinelPrefix = "__drain_"

  /** Counters of one op, summed over its jobs, stages and tasks. */
  final class OpExec {
    var jobs = 0; var stages = 0; var tasks = 0
    var runS = 0.0; var cpuS = 0.0; var schedDelayS = 0.0
    var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var shuffleRecords = 0L
    var fetchWaitS = 0.0; var spillBytes = 0L
    var lastResultStage = -1
    /** Rows each stage's tasks took in, from a scan or a shuffle. */
    val stageRecordsIn = mutable.Map[Int, Long]()
    /** Tasks that read a scan (any input records): their time, and the
     * rows the scan handed on. */
    var scanRunS = 0.0; var scanCpuS = 0.0; var scanMaxTaskS = 0.0
    var scanRecords = 0L
    val stageTaskRunS = mutable.Map[Int, mutable.ArrayBuffer[Double]]()

    /** Rows the op's last result stage consumed: what reached the sink. */
    def delivered: Long = stageRecordsIn.getOrElse(lastResultStage, 0L)

    /** Max over median task run time, averaged over stages of 2+ tasks. */
    def taskSkew: Double = {
      val per = stageTaskRunS.values.filter(_.size >= 2).map(xs => Stats.skew(xs.toSeq))
      if (per.isEmpty) 1.0 else per.sum / per.size
    }
  }
}
