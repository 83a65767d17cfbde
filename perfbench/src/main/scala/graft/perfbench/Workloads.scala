package graft.perfbench

import graft.SparkEntry
import graft.pipeline.Pipeline
import graft.schemas.Schemas
import graft.transforms.Transforms
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** One timed call into the engine. `returned` is the call's own verdict
  * where it has one (the quarantining pipeline returns false for a
  * quarantined file).
  */
final case class Op(name: String, seconds: Double, returned: Boolean, error: String)

/** The fixed work of one pass, its ops, and the span of each op when traced. */
final case class Pass(ops: Seq[Op], spans: Seq[Int], outputs: Seq[String])

trait Workload {
  /** Warm-up on the smallest input; `rep` numbers the set-up repetition.
    * A failure here is left for the timed ops and the oracle to report.
    */
  def warmup(spark: SparkSession, rep: Int): Unit
  def run(spark: SparkSession, tracer: Option[Tracer], pass: String): Pass
  /** Input file bytes behind op `i`. */
  def inputBytes(i: Int): Long
  /** Layer calls timed on their own, traced run only. */
  def probes(spark: SparkSession, tracer: Tracer, traced: Pass): Seq[(String, Double)] = Nil
  /** Untimed work after the measured passes (results for the oracle). */
  def finish(spark: SparkSession): Seq[(String, Any)] = Nil
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Calls `f` inside an op span when traced; a throw is a failed op. The
    * heap is sampled after the op when `sampleHeap`.
    */
  def op(tracer: Option[Tracer], name: String, sampleHeap: Boolean = true)(f: => Boolean): (Op, Int) = {
    var span = -1
    val t0 = System.nanoTime()
    val (ok, err) =
      try {
        val r = tracer match {
          case Some(t) => t.span(name) { span = t.current; f }
          case None => f
        }
        (r, "")
      } catch { case scala.util.control.NonFatal(e) => (false, String.valueOf(e.getMessage).take(300)) }
    val res = (Op(name, (System.nanoTime() - t0) / 1e9, ok, err), span)
    if (sampleHeap) Heap.sample()
    res
  }

  def attempt(f: => Unit): Unit =
    try f
    catch { case scala.util.control.NonFatal(e) => System.err.println(s"[perfbench] warm-up: ${e.getMessage}") }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median of `reps` timed calls of `f`, each in its own span. */
  def probe(tracer: Tracer, name: String, reps: Int)(f: => Unit): Double =
    median((1 to reps).map(_ => tracer.span(name)(timed(f)._1)))

  def treeBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    Files.walk(s).iterator().asScala.foreach { p =>
      val t = Paths.get(dst).resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def dir(path: String): String = { new File(path).mkdirs(); new File(path).getAbsolutePath + "/" }
}

import Workload._

/** Batch mode: each op is one full reload into a fresh output dir. */
final class EtlFull(input: String, warmInput: String, nOps: Int, work: String) extends Workload {
  private val bytes = treeBytes(input)
  private def songGlob(in: String) = s"${in}song_data/*/*/*/*.json"
  private def logGlob(in: String) = s"${in}log_data/*/*/*.json"

  def warmup(spark: SparkSession, rep: Int): Unit =
    attempt(Pipeline.runFullBatch(spark, warmInput, dir(s"$work/warm$rep")))

  def run(spark: SparkSession, tracer: Option[Tracer], pass: String): Pass = {
    val outs = (1 to nOps).map(i => dir(s"$work/$pass/op$i"))
    val res = outs.zipWithIndex.map { case (out, i) =>
      op(tracer, s"reload${i + 1}") { Pipeline.runFullBatch(spark, input, out); true }
    }
    Pass(res.map(_._1), res.map(_._2), outs)
  }

  def inputBytes(i: Int): Long = bytes

  override def probes(spark: SparkSession, tracer: Tracer, traced: Pass): Seq[(String, Double)] = {
    import Transforms._
    val logParse = probe(tracer, "scan.log_parse", 3) {
      noop(spark.read.schema(Schemas.logData).json(logGlob(input)))
    }
    val songData = spark.read.schema(Schemas.songData).json(songGlob(input)).cache()
    val logData = spark.read.schema(Schemas.logData).json(logGlob(input)).cache()
    val out = traced.outputs.last
    val songs = spark.read.parquet(s"${out}songs_table.parquet").cache()
    val artists = spark.read.parquet(s"${out}artists_table.parquet").cache()
    val events = withStartTime(nextSongEvents(logData)).cache()
    val time = timeTable(events).cache()
    Seq(songData, logData, songs, artists, events, time).foreach(_.count())
    val res = Seq(
      "scan.log_parse_s" -> logParse,
      "transforms.songs_s" -> probe(tracer, "transforms.songs", 3)(noop(songsTable(songData))),
      "transforms.artists_s" -> probe(tracer, "transforms.artists", 3)(noop(artistsTable(songData))),
      "transforms.users_s" -> probe(tracer, "transforms.users", 3)(noop(usersTable(nextSongEvents(logData)))),
      "transforms.time_s" -> probe(tracer, "transforms.time", 3)(noop(timeTable(withStartTime(nextSongEvents(logData))))),
      "transforms.songplays_s" -> probe(tracer, "transforms.songplays", 3)(noop(songplaysTable(events, songs, artists, time)))
    )
    Seq(songData, logData, songs, artists, events, time).foreach(_.unpersist(blocking = true))
    res
  }
}

/** Per-upload mode: one closed-loop client feeds each raw file, in name
  * order, through the quarantining incremental pipeline.
  */
final class EtlIncremental(src: String, warmSrc: String, work: String) extends Workload {
  private val files = new File(src).list().sorted.toSeq
  private val sizes = files.map(f => new File(src, f).length())

  private def feed(spark: SparkSession, from: String, bucket: String, tracer: Option[Tracer]): Seq[(Op, Int)] = {
    copyDir(from, s"${bucket}raw")
    // A full collection after every small op would cost more than the ops.
    new File(from).list().sorted.toSeq.zipWithIndex.map { case (f, i) =>
      op(tracer, f, sampleHeap = i % 5 == 4) {
        Pipeline.runIncrementalQuarantined(spark, bucket, f,
          partitionTimeByMonth = true, dynamicPartitionOverwrite = true, failFast = true)
      }
    }
  }

  def warmup(spark: SparkSession, rep: Int): Unit = feed(spark, warmSrc, dir(s"$work/warm$rep"), None)

  def run(spark: SparkSession, tracer: Option[Tracer], pass: String): Pass = {
    val bucket = dir(s"$work/$pass")
    val res = feed(spark, src, bucket, tracer)
    Pass(res.map(_._1), res.map(_._2), Seq(bucket))
  }

  def inputBytes(i: Int): Long = sizes(i)

  override def probes(spark: SparkSession, tracer: Tracer, traced: Pass): Seq[(String, Double)] = {
    import Transforms._
    // A clean file of median size stands for the typical upload.
    val clean = files.indices.filter(i => traced.ops(i).returned)
    val file = new File(src, files(clean.sortBy(sizes).apply(clean.size / 2))).getAbsolutePath
    val logParse = probe(tracer, "scan.log_parse", 5)(noop(spark.read.schema(Schemas.logData).json(file)))
    val logData = spark.read.schema(Schemas.logData).json(file).cache()
    logData.count()
    val res = Seq(
      "scan.log_parse_s" -> logParse,
      "transforms.users_s" -> probe(tracer, "transforms.users", 5)(noop(usersTable(nextSongEvents(logData)))),
      "transforms.time_s" -> probe(tracer, "transforms.time", 5)(noop(timeTable(withStartTime(nextSongEvents(logData))))),
      "pipeline.quarantine_s" -> median(traced.ops.filterNot(_.returned).map(_.seconds))
    )
    logData.unpersist(blocking = true)
    res
  }
}

/** The query surface: each op is one SparkEntry query into the noop sink,
  * with the feature memo and every pin evicted before it, untimed.
  * `names` are the timed ops; `probeNames` are timed once each in the
  * traced run only. Every row reports `queries.<qN>_s`.
  */
final class QuerySuite(sf: String, names: Seq[String], probeNames: Seq[String], work: String)
    extends Workload {
  private val all = names ++ probeNames
  require(all.forall(SparkEntry.queries.contains), s"unknown queries: ${all.filterNot(SparkEntry.queries.contains)}")
  private val bytes = treeBytes(sf)
  private var traced = false

  /** Drops the feature memo and every pin. Before a timed op it also
    * collects, so dead shuffles and broadcasts are cleaned up outside it.
    */
  private def evict(spark: SparkSession, drain: Boolean = false): Unit = {
    graft.queries.TextQueries.clearFeatureMemo()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (drain) {
      System.gc()
      Thread.sleep(100)
    }
  }

  /** One untimed pass over the timed queries: the first executions of a
    * query's plan shapes pay codegen and JIT several times over.
    */
  def warmup(spark: SparkSession, rep: Int): Unit = names.foreach { n =>
    evict(spark)
    attempt(noop(SparkEntry.queries(n)(spark, sf)))
  }

  private val results = s"$work/results/"
  private val failures = scala.collection.mutable.LinkedHashMap[String, String]()

  private def write(spark: SparkSession, queries: Seq[String]): Unit = queries.foreach { n =>
    evict(spark)
    try {
      SparkEntry.queries(n)(spark, sf).write.mode("overwrite").parquet(results + n)
      failures -= n
    } catch { case scala.util.control.NonFatal(e) => failures(n) = String.valueOf(e.getMessage).take(300) }
  }

  def run(spark: SparkSession, tracer: Option[Tracer], pass: String): Pass = {
    val res = names.map { n =>
      evict(spark, drain = true)
      op(tracer, n) { noop(SparkEntry.queries(n)(spark, sf)); true }
    }
    Pass(res.map(_._1), res.map(_._2), Nil)
  }

  def inputBytes(i: Int): Long = bytes

  override def probes(spark: SparkSession, tracer: Tracer, pass: Pass): Seq[(String, Double)] = {
    traced = true
    val probed = probeNames.map { n =>
      evict(spark, drain = true)
      n -> tracer.span(n)(timed(noop(SparkEntry.queries(n)(spark, sf)))._1)
    }
    val rows = pass.ops.map(o => o.name -> o.seconds) ++ probed
    val (comp, plain) = rows.partition(r => SparkEntry.compositionQueries.contains(r._1))
    Seq("queries.plain_s" -> plain.map(_._2).sum, "queries.composition_s" -> comp.map(_._2).sum) ++
      rows.map { case (n, s) => s"queries.${n.takeWhile(_ != '_')}_s" -> s }
  }

  /** Writes the timed queries' results for the oracle (after a traced run
    * the probed queries' too), outside the measured passes.
    */
  override def finish(spark: SparkSession): Seq[(String, Any)] = {
    val checked = if (traced) names ++ probeNames else names
    write(spark, checked)
    Files.writeString(Paths.get(s"${results}oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter { case (k, _) => checked.contains(k) }))
    Seq("results" -> results, "checked" -> checked, "result_failures" -> failures.toMap)
  }
}
