package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.rdd.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reported while one operation ran. Filled from public
  * listener callbacks: SparkListener (jobs, tasks, streaming progress
  * re-posted on the shared bus), QueryExecutionListener (Catalyst phase
  * times, observed metrics).
  */
final class Counters {
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val jobs = mutable.Map.empty[Int, (Long, Long)] // id -> (start ms, end ms)
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val observed = mutable.Map.empty[String, Double]
  var triggers = 0L
  var triggerMs = 0L
  var addBatchMs = 0L
  var queryPlanningMs = 0L
  var walCommitMs = 0L
  var stateShards = 0L
  var stateRows = 0L
  var stateMemoryBytes = 0L
  var stateCommitMs = 0L

  /** Wall time inside [from, to] (ms) covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    val iv = jobs.values.map { case (s, e) =>
      (math.max(s, from), math.min(if (e < 0) to else e, to))
    }.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** One timed call from the benchmark into a module of the program. */
final case class Span(
    id: Long, name: String, layer: String, startNs: Long, endNs: Long,
    parent: Long, op: Long)

/** Residue an operation leaves in the session after it returns. */
final case class Residue(persistedRdds: Int, storageMb: Double, localCheckpoints: Int)

/** A finished operation: its wall time, whether it ran traced, and (if
  * so) the counters and residue recorded for it.
  */
final case class OpRecord(
    id: Long, kind: String, startMs: Long, wallS: Double, units: Double,
    ok: Boolean, traced: Boolean, counters: Counters, residue: Residue)

/** Spans and counters for the traced run, held in memory and written as
  * a sidecar at exit. Untraced runs create one with `enabled = false`,
  * which registers no listener and records no span.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  private var curOp = 0L
  @volatile private var pending = new Counters
  private var active = false
  val ops = mutable.ArrayBuffer.empty[OpRecord]

  private def acc: Counters = pending

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = acc.synchronized {
      acc.jobs(e.jobId) = (e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = acc.synchronized {
      acc.jobs.get(e.jobId).foreach { case (s, _) => acc.jobs(e.jobId) = (s, e.time) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = acc.synchronized {
      val c = acc
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => acc.synchronized {
        val c = acc
        val pr = p.progress
        c.triggers += 1
        val d = pr.durationMs
        def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        c.triggerMs += dur("triggerExecution")
        c.addBatchMs += dur("addBatch")
        c.queryPlanningMs += dur("queryPlanning")
        c.walCommitMs += dur("walCommit")
        pr.stateOperators.foreach { s =>
          c.stateShards = math.max(c.stateShards, s.numShufflePartitions)
          c.stateRows = math.max(c.stateRows, s.numRowsTotal)
          c.stateMemoryBytes = math.max(c.stateMemoryBytes, s.memoryUsedBytes)
          c.stateCommitMs += s.commitTimeMs
        }
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      acc.synchronized {
        val c = acc
        val ph = qe.tracker.phases
        c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        qe.observedMetrics.foreach { case (_, row) =>
          row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
            if (!row.isNullAt(i)) row.get(i) match {
              case n: java.lang.Number => c.observed(f) = c.observed.getOrElse(f, 0d) + n.doubleValue
              case _ => ()
            }
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def attach(): Unit = if (!active) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    active = true
  }

  private def detach(): Unit = if (active) {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    active = false
  }

  /** Time a call into one layer. Spans are only kept inside traced ops. */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled || curOp == 0L) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spanBuf += Span(id, name, layer, t0, t1, parent, curOp)
    }
  }

  /** Run one operation. With tracing on, `traced` ops run with the
    * listeners attached and get counters, residue and spans; the others
    * run bare so the traced run can measure its own overhead.
    * Returns the body's result and the op's wall seconds.
    */
  def op[T](kind: String, units: Double, traced: Boolean = true)(body: => T)(
      ok: T => Boolean): (T, Double) = {
    val on = enabled && traced
    if (enabled) {
      BenchBridge.drainListenerBus(sc)
      pending = new Counters
      if (on) attach() else detach()
    }
    val id = nextId; nextId += 1
    if (on) { curOp = id; stack.push(id) }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    if (on) {
      stack.pop(); curOp = 0L
      spanBuf += Span(id, kind, "op", t0, t0 + (wall * 1e9).toLong, 0L, id)
    }
    val good = ok(r)
    var c = new Counters
    var res = Residue(0, 0, 0)
    if (on) {
      BenchBridge.drainListenerBus(sc)
      c = pending
      pending = new Counters
      res = residue()
    }
    ops += OpRecord(id, kind, startMs, wall, units, good, on, c, res)
    (r, wall)
  }

  def residue(): Residue = {
    val persisted = sc.getPersistentRDDs.values.toSeq
    val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    Residue(persisted.size, storage, persisted.count(BenchBridge.isLocalCheckpoint))
  }

  def stop(): Unit = if (enabled) detach()

  def spans: Seq[Span] = spanBuf.toSeq
}
