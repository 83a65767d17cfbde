package graft.perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Runs one workload and writes its measurements as one JSON object.
  *
  * Flags: `--workload etl_full|etl_incremental|query_suite`, `--work DIR`
  * (scratch and outputs), `--result FILE`, `--trace 0|1`, `--trace-out FILE`,
  * the workload's inputs (see [[workload]]) and, for a traced run,
  * `--query-probes q1,q2 --query-sf DIR` to time query rows as well.
  *
  * Set-up is repeated [[SetupReps]] times: each repetition stops the
  * session, starts a new one through [[GraftSession.builder]] and runs the
  * workload's warm-up. The timed pass then runs with no listener
  * registered. With `--trace 1` a second pass runs under a [[Tracer]],
  * followed by the workload's layer probes.
  */
object Main {
  /** Three set-ups, so their median is a warm one. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val work = o("work")
    val w = workload(o)

    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val (start, s) = Workload.timed {
        val s = GraftSession.builder("perfbench", s"local[$cpus]")
          .config("spark.local.dir", Workload.dir(s"$work/spark-local"))
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        s
      }
      spark = s
      val (warm, _) = Workload.timed(w.warmup(spark, rep))
      (start, warm)
    }

    Heap.reset()
    val plain = w.run(spark, None, "plain")
    val peakHeap = Heap.peakMb
    val plainRunS = plain.ops.map(_.seconds).sum

    val traced = if (o.get("trace").contains("1")) Some(trace(spark, w, cpus.toInt, plainRunS, o)) else None
    val extra = w.finish(spark)
    spark.stop()

    val result = Json.obj(Seq(
      "workload" -> o("workload"),
      "cores" -> cpus.toInt,
      "setup" -> setups.map { case (s, wu) => Seq(s, wu) },
      "ops" -> plain.ops.map(opJson),
      "run_s" -> plainRunS,
      "peak_heap_mb" -> peakHeap,
      "outputs" -> (plain.outputs ++ traced.fold(Seq.empty[String])(_._1.outputs)),
      "traced_ops" -> traced.fold(Seq.empty[Json.Raw])(_._1.ops.map(opJson))
    ) ++ traced.map(t => "layers" -> t._2) ++ extra: _*)
    Files.writeString(Paths.get(o("result")), result)
  }

  private def opJson(op: Op) =
    Json.Raw(Json.obj("name" -> op.name, "s" -> op.seconds, "returned" -> op.returned, "error" -> op.error))

  private def workload(o: Map[String, String]): Workload = o("workload") match {
    case "etl_full" => new EtlFull(o("input"), o("warm-input"), o("ops").toInt, o("work"))
    case "etl_incremental" => new EtlIncremental(o("input"), o("warm-input"), o("work"))
    case "query_suite" =>
      def names(k: String) = o(k).split(",").toSeq.filter(_.nonEmpty)
      new QuerySuite(o("input"), names("queries"), names("probe-queries"), o("work"))
    case other => sys.error(s"unknown workload $other")
  }

  /** Second pass under a tracer, then the layer probes. */
  private def trace(spark: SparkSession, w: Workload, cores: Int, plainRunS: Double,
      o: Map[String, String]): (Pass, Map[String, Double]) = {
    val tracer = new Tracer(spark)
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    tracer.resetStorage()
    val gc0 = Heap.gcSeconds()
    val pass = w.run(spark, Some(tracer), "traced")
    val gcS = Heap.gcSeconds() - gc0
    val (pinnedPeak, pins) = tracer.storage
    val recs = tracer.ops(pass.spans)
    // The query rows, timed once each beside an ETL workload's own probes.
    val queryProbes = o.get("query-probes").fold(Seq.empty[(String, Double)]) { names =>
      new QuerySuite(o("query-sf"), Nil, names.split(",").toSeq, s"${o("work")}/queries")
        .probes(spark, tracer, Pass(Nil, Nil, Nil))
    }
    val probes = w.probes(spark, tracer, pass) ++ queryProbes
    spark.listenerManager.unregister(tracer)
    spark.sparkContext.removeSparkListener(tracer)
    o.get("trace-out").foreach(tracer.write)

    import Workload.median
    val mb = 1024.0 * 1024.0
    val stages = recs.flatMap(_.stages)
    val runS = pass.ops.map(_.seconds).sum
    val busyS = Tracer.unionMs(recs.flatMap(_.jobIntervals)) / 1e3
    val taskRunS = stages.map(_.runMs).sum / 1e3
    val jobs = recs.map(_.jobIntervals.size).sum
    val writes = recs.flatMap(_.writes)
    val m = Seq(
      "trace.run_s" -> runS,
      "trace.overhead_s" -> (runS - plainRunS),
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.busy_s" -> busyS,
      "spark.driver_gap_s" -> (runS - busyS),
      "spark.task_run_s" -> taskRunS,
      "spark.slot_util" -> (if (busyS > 0) taskRunS / (busyS * cores) else 0.0),
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> stages.map(_.spill).sum / mb,
      "spark.gc_s" -> gcS,
      "sql.executions" -> recs.map(_.executions).sum.toDouble,
      "sql.planning_s" -> recs.map(_.planningMs).sum / 1e3,
      "sql.planning_per_op_s" -> median(recs.map(_.planningMs / 1e3)),
      "storage.pinned_peak_mb" -> pinnedPeak / mb,
      "storage.pins" -> pins.toDouble,
      "pipeline.jobs_per_op" -> jobs.toDouble / recs.size,
      "pipeline.commit_s" -> median(writes.map(_._1 / 1e3)),
      "pipeline.max_write_task_s" -> writes.map(_._2 / 1e3).maxOption.getOrElse(0.0),
      "scan.song_list_s" -> median(recs.map(_.listings.map(_._1).sum / 1e3)),
      "scan.song_list_tasks" -> median(recs.map(_.listings.map(_._2).sum.toDouble)),
      "scan.song_list_task_run_s" -> median(recs.map(_.listings.map(_._3).sum / 1e3)),
      "scan.input_ratio" -> median(recs.zipWithIndex.map { case (r, i) =>
        r.stages.map(_.inputBytes).sum.toDouble / math.max(1L, w.inputBytes(i))
      })
    )
    (pass, (m ++ probes).toMap)
  }
}

/** Heap in use right after a full collection, sampled between ops (the
  * collection is outside the op's timing). Sampling only after explicit
  * collections keeps the figure independent of when the JVM chose to
  * collect.
  */
object Heap {
  @volatile private var peak = 0L

  def reset(): Unit = peak = 0L

  def sample(): Unit = {
    // The second collection reclaims what the context cleaner released
    // after the first (broadcast and shuffle blocks of finished queries).
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}
