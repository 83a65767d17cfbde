package graft.perfbench

import java.io.PrintWriter
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around benchmark calls plus the Spark records that fall in them.
  *
  * A span sets the local property [[Tracer.SpanKey]] on the calling thread,
  * so every job it starts names its span. Jobs started from threads the
  * engine owns carry no such property (or a stale one inherited when the
  * thread was created); they are attributed to the innermost span open at
  * job start. Closing a span drains the listener bus first, so
  * query-execution callbacks land while their span is still current.
  *
  * Everything stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext

  final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
    @volatile var end: Long = Long.MaxValue
  }
  final class Job(val id: Int, val span: Int, val exec: Long, val desc: String, val start: Long) {
    var end = 0L
  }
  final class Stage(val id: Int, val job: Int, val name: String) {
    var tasks = 0
    var runMs = 0L
    var maxTaskMs = 0L
    var inputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  final class Exec(val id: Long, val start: Long, val write: Boolean, val desc: String) {
    var end = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val planning = mutable.ArrayBuffer[(Int, Long)]() // (span, ms)
  private val blocks = mutable.Map[String, Long]()
  private var pinnedBytes = 0L
  private var pinnedPeak = 0L
  private val pinnedRdds = mutable.Set[Int]()

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, open.headOption.fold(-1)(_.id), name, System.currentTimeMillis())
      spans += s
      open = s :: open
      s
    }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      Bus.drain(sc)
      synchronized {
        s.end = System.currentTimeMillis()
        open = open.tail
      }
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** The innermost open span. */
  def current: Int = synchronized(open.headOption.fold(-1)(_.id))

  /** Starts the storage high-water mark afresh. */
  def resetStorage(): Unit = synchronized {
    pinnedPeak = pinnedBytes
    pinnedRdds.clear()
  }

  private def spanAt(t: Long): Int =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption.fold(-1)(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val tagged = prop(SpanKey).map(_.toInt).filter(id => id < spans.size && spans(id).end >= e.time)
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, tagged.getOrElse(spanAt(e.time)), exec,
      prop("spark.job.description").getOrElse(""), e.time)
    e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate(i.stageId, new Stage(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, stageJob.getOrElse(e.stageId, -1), ""))
    st.tasks += 1
    st.maxTaskMs = math.max(st.maxTaskMs, e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      st.runMs += m.executorRunTime
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val key = info.blockId.name
      pinnedBytes -= blocks.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        blocks(key) = size
        pinnedBytes += size
        pinnedRdds += rdd.rddId
      }
      pinnedPeak = math.max(pinnedPeak, pinnedBytes)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execs(e.executionId) = new Exec(e.executionId, e.time,
          e.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"), e.description)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.end = e.time)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  private def recordPlanning(qe: QueryExecution): Unit = synchronized {
    val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    planning += ((open.headOption.fold(-1)(_.id), ms))
  }

  /** Records of the spans named by `ops` and their descendants, one
    * [[OpRecord]] per op span.
    */
  def ops(opSpans: Seq[Int]): Seq[OpRecord] = synchronized {
    val opOf = mutable.Map[Int, Int]()
    def root(id: Int): Int =
      if (id < 0) -1
      else opOf.getOrElseUpdate(id, if (opSpans.contains(id)) id else root(spans(id).parent))
    opSpans.map { op =>
      val js = jobs.values.filter(j => root(j.span) == op).toSeq
      val jobIds = js.map(_.id).toSet
      val sts = stages.values.filter(s => jobIds.contains(s.job)).toSeq
      val ex = execs.values.filter { x =>
        val owners = js.filter(_.exec == x.id)
        if (owners.nonEmpty) true else root(spanAt(x.start)) == op
      }.toSeq
      val s = spans(op)
      OpRecord(s.name, (s.end - s.start) / 1e3, js.map(j => (j.start, j.end)), sts,
        js.filter(_.desc.startsWith("Listing leaf files")).map { j =>
          (j.end - j.start, sts.filter(_.job == j.id).map(_.tasks).sum, sts.filter(_.job == j.id).map(_.runMs).sum)
        },
        ex.filter(_.write).map { x =>
          val owned = js.filter(_.exec == x.id)
          val last = if (owned.isEmpty) None else Some(owned.maxBy(_.end))
          val commitMs = last.fold(0L)(j => x.end - j.end)
          val maxTask = last.fold(0L)(j => sts.filter(_.job == j.id).map(_.maxTaskMs).maxOption.getOrElse(0L))
          (commitMs, maxTask)
        },
        ex.size,
        planning.filter(p => root(p._1) == op).map(_._2).sum)
    }
  }

  def storage: (Long, Int) = synchronized((pinnedPeak, pinnedRdds.size))

  /** Spans, jobs and per-stage records as JSON lines. */
  def write(path: String): Unit = synchronized {
    val out = new PrintWriter(path)
    try {
      spans.foreach { s =>
        out.println(Json.obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end))
      }
      jobs.values.foreach { j =>
        out.println(Json.obj("kind" -> "job", "id" -> j.id, "span" -> j.span, "execution" -> j.exec,
          "description" -> j.desc, "start_ms" -> j.start, "end_ms" -> j.end))
      }
      stages.values.foreach { s =>
        out.println(Json.obj("kind" -> "stage", "id" -> s.id, "job" -> s.job, "name" -> s.name,
          "tasks" -> s.tasks, "run_ms" -> s.runMs, "max_task_ms" -> s.maxTaskMs, "input_bytes" -> s.inputBytes,
          "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
          "spill_bytes" -> s.spill))
      }
      execs.values.foreach { x =>
        out.println(Json.obj("kind" -> "execution", "id" -> x.id, "write" -> x.write,
          "description" -> x.desc, "start_ms" -> x.start, "end_ms" -> x.end))
      }
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** What one op did, from the records attributed to it. */
  final case class OpRecord(
      name: String,
      wallS: Double,
      jobIntervals: Seq[(Long, Long)],
      stages: Seq[Tracer#Stage],
      listings: Seq[(Long, Int, Long)], // (wall ms, tasks, task run ms)
      writes: Seq[(Long, Long)],        // (commit ms, longest task ms of the writing job)
      executions: Int,
      planningMs: Long
  ) {
    def busyMs: Long = unionMs(jobIntervals)
  }

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}
