// The harness lives under org.apache.spark only to reach
// `SparkContext.listenerBus.waitUntilEmpty()`, so every listener event of
// a pass is counted before the pass's numbers are read.
package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.chaining._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.core.{Memos, Tables}

/** Drives one benchmark workload against graft's public entry points and
  * records raw timings; the Python side turns them into metrics.
  *
  * One invocation:
  *  1. set-up, `setups` times: Spark session start, input registration
  *     and one warm-up query (the first set-up also pays JVM start);
  *  2. a cold pass over the workload's queries in their fixed order, each
  *     query's result written to parquet right after its timed part, for
  *     the oracle check;
  *  3. warm passes until `seconds` have passed, at least three. Memos,
  *     the catalog cache and every RDD block are released before each, so
  *     fits are paid again and no pass inherits an earlier pass's blocks.
  *
  * Per query it times `SparkEntry.queries(name)(spark, dir)` (plan
  * construction plus any eager fits, collects, checkpoints and memo
  * builds) apart from the noop-sink materialization of the returned frame.
  *
  * A block listener runs in every mode, for the storage metrics. With
  * `trace=1` at least four warm passes run, untraced and traced in turn;
  * traced passes add a job/stage/task/SQL listener and a QueryExecutionListener,
  * and tag every job with the span that started it through the local
  * property `perfbench.span`.
  */
object Harness {
  val SpanProp = "perfbench.span"

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1e3
  /** Epoch seconds at nanosecond resolution, on the clock Spark's
    * listener events use. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  final case class QueryRun(name: String, t0: Double, tBuilt: Double,
      t1: Double, ok: Boolean, error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val data = a("data")
    val queries = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val nSetups = a("setups").toInt
    val verifyDir = a("verify")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val conf = a.collect { case (k, v) if k.startsWith("conf.") => k.drop(5) -> v }

    // ---- set-up, repeated; the median is the set-up time ----
    var spark: SparkSession = null
    val setups = (1 to nSetups).map { k =>
      val t0 = if (k == 1) jvmStart else now()
      if (spark != null) {
        Memos.clearAll()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(cores, a("local"), conf)
      Tables.registerAll(spark, data)
      SparkEntry.queries(a("warmup"))(spark, data)
        .write.format("noop").mode("overwrite").save()
      now() - t0
    }
    val sc = spark.sparkContext
    val storage = new StorageTracker
    sc.addSparkListener(storage)
    val tracer = new LayerTracer
    val planTracer = new PlanTracer

    def drain(): Unit = sc.listenerBus.waitUntilEmpty()

    var oracleSql = Map.empty[String, String]

    // Memos and the catalog cache let go of their blocks; what is still
    // held after this is owned by nothing
    def releaseOwned(): Unit = {
      Memos.clearAll()
      spark.catalog.clearCache()
      drain()
    }

    def runPass(label: String, verify: Boolean): Map[String, Any] = {
      // Every pass starts from the same state: no memo, no cached table and
      // no block left by an earlier pass. Blocks are dropped by RDD id,
      // since the RDD of a checkpoint block may be gone from the driver.
      releaseOwned()
      storage.rddIds.foreach(sc.unpersistRDD(_, blocking = true))
      drain()
      storage.startPass()
      val p0 = now()
      val runs = queries.map { q =>
        val t0 = now()
        var tBuilt = t0
        try {
          sc.setLocalProperty(SpanProp, s"$label/$q/build")
          val df = SparkEntry.queries(q)(spark, data)
          tBuilt = now()
          sc.setLocalProperty(SpanProp, s"$label/$q/exec")
          df.write.format("noop").mode("overwrite").save()
          val t1 = now()
          if (verify) { // one file per query, for the oracle check
            sc.setLocalProperty(SpanProp, s"$label/$q/verify")
            df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$q")
          }
          QueryRun(q, t0, tBuilt, t1, ok = true, "")
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: $e")
          QueryRun(q, t0, tBuilt, now(), ok = false, String.valueOf(e))
        } finally sc.setLocalProperty(SpanProp, null)
      }
      val p1 = now()
      // oracle SQL may embed fitted state (the trained quality classifier),
      // so it is read while this pass's memos are still alive
      if (verify) oracleSql = SparkEntry.oracleSql
      drain()
      val peak = storage.peakBytes
      releaseOwned()
      Map("label" -> label, "t0" -> p0, "t1" -> p1,
        "queries" -> runs.map { r =>
          Map("name" -> r.name, "t0" -> r.t0, "t_built" -> r.tBuilt,
            "t1" -> r.t1, "ok" -> r.ok, "error" -> r.error)
        },
        "storage" -> Map("peak_bytes" -> peak,
          "held_bytes" -> storage.currentBytes,
          "held_blocks" -> storage.currentBlocks,
          "checkpoint_blocks" -> storage.checkpointBlocks))
    }

    def tracedPass(label: String, verify: Boolean,
        on: Boolean): Map[String, Any] = {
      if (!on) return runPass(label, verify) + ("traced" -> false)
      tracer.reset(); planTracer.reset()
      sc.addSparkListener(tracer)
      spark.listenerManager.register(planTracer)
      try {
        val p = runPass(label, verify)
        drain()
        p ++ Map("traced" -> true, "jobs" -> tracer.jobsJson,
          "sql" -> tracer.sqlJson, "plans" -> planTracer.json)
      } finally {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(planTracer)
      }
    }

    val passes = mutable.ArrayBuffer(tracedPass("cold", verify = true, trace))
    val warm0 = now()
    var i = 0
    // At least three warm passes, so the median's pass count does not flip
    // between two and three with the speed of the run (the first warm pass
    // is still slower than the later ones). When tracing, warm passes run
    // untraced, traced, traced, untraced, ... so the tracing overhead
    // (traced minus untraced) is not confounded with that speed-up.
    while (now() - warm0 < seconds || i < (if (trace) 4 else 3)) {
      val on = trace && (i % 4 == 1 || i % 4 == 2)
      passes += tracedPass(s"warm${i + 1}", verify = false, on)
      i += 1
    }

    val out = Map(
      "cores" -> cores,
      "setup_s" -> setups,
      "passes" -> passes.toSeq,
      "oracle_sql" -> queries.flatMap(q => oracleSql.get(q).map(q -> _)).toMap)
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }

  /** A session like graft.Bench's: `local[cores]` with `cores` shuffle
    * partitions, plus the workload file's Spark settings. */
  def session(cores: Int, localDir: String,
      conf: Map[String, String]): SparkSession =
    conf.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
      .tap(_.sparkContext.setLogLevel("ERROR"))
}

/** Executor storage held by RDD blocks (persisted frames, memos and
  * checkpoints), from block-update and unpersist events. */
class StorageTracker extends SparkListener {
  private val blocks = new ConcurrentHashMap[String, Long]()
  private val checkpointRdds = ConcurrentHashMap.newKeySet[Int]()
  private val passCheckpointBlocks = ConcurrentHashMap.newKeySet[String]()
  @volatile private var total = 0L
  @volatile private var peak = 0L

  def startPass(): Unit = synchronized {
    peak = total
    passCheckpointBlocks.clear()
  }
  def peakBytes: Long = peak
  def currentBytes: Long = total
  def currentBlocks: Int = blocks.size
  def checkpointBlocks: Int = passCheckpointBlocks.size
  def rddIds: Set[Int] =
    blocks.keySet.asScala.map(_.split('_')(1).toInt).toSet

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.rddInfos.foreach { r =>
      if (r.callSite.toLowerCase.contains("checkpoint")) checkpointRdds.add(r.id)
    }

  // Unpersisting removes an RDD's blocks without a block update per
  // block, so its blocks leave the account here.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      val prefix = s"rdd_${e.rddId}_"
      blocks.keySet.asScala.filter(_.startsWith(prefix)).foreach { k =>
        total -= blocks.remove(k)
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { id =>
        val key = id.name
        val size = info.memSize + info.diskSize
        val live = size > 0 && info.storageLevel.isValid
        val old = blocks.getOrDefault(key, 0L)
        if (live) blocks.put(key, size) else blocks.remove(key)
        total += (if (live) size else 0L) - old
        peak = math.max(peak, total)
        if (live && checkpointRdds.contains(id.rddId))
          passCheckpointBlocks.add(key)
      }
    }
}

/** Job, stage, task and SQL-execution records of one traced pass. */
class LayerTracer extends SparkListener {
  private final class Job(val id: Int, val start: Double, val span: String,
      val execId: String) {
    var end = 0.0
    var tasks = 0L
    var stages = 0
    val m = new Array[Double](LayerTracer.Fields.size)
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sqlStarts = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  def reset(): Unit = { jobs.clear(); stageJob.clear(); sqlStarts.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val j = new Job(e.jobId, e.time / 1e3,
      props.map(_.getProperty(Harness.SpanProp)).orNull,
      props.map(_.getProperty("spark.sql.execution.id")).orNull)
    j.stages = e.stageIds.size
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time / 1e3)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val jobId = stageJob.get(e.stageId)
    val j = jobs.get(jobId)
    if (j == null || e.taskMetrics == null) return
    val t = e.taskMetrics
    val v = Array[Double](
      t.executorRunTime / 1e3,
      t.executorCpuTime / 1e9,
      t.jvmGCTime / 1e3,
      t.inputMetrics.bytesRead.toDouble,
      t.shuffleWriteMetrics.bytesWritten.toDouble,
      t.shuffleReadMetrics.totalBytesRead.toDouble,
      t.shuffleReadMetrics.fetchWaitTime / 1e3,
      (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
    j.synchronized {
      j.tasks += 1
      var i = 0
      while (i < v.length) { j.m(i) += v(i); i += 1 }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStarts.add(s.time / 1e3)
    case _ =>
  }

  def jobsJson: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
        "span" -> j.span, "sql_id" -> j.execId, "tasks" -> j.tasks,
        "stages" -> j.stages) ++
        LayerTracer.Fields.zip(j.m).toMap
    }

  def sqlJson: Seq[Double] = sqlStarts.asScala.toSeq.sorted
}

object LayerTracer {
  val Fields = Seq("task_s", "cpu_s", "gc_s", "scan_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "spill_bytes")
}

/** Planning time of every query execution (the sum of the
  * QueryPlanningTracker phases: analysis, optimization, planning) and the
  * input tables it scanned. */
class PlanTracer extends QueryExecutionListener {
  private val recs =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  def reset(): Unit = recs.clear()
  private def record(fn: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val tables = scala.util.Try(qe.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation =>
      h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    }.flatten.distinct).getOrElse(Nil)
    recs.add(Map("func" -> fn, "tables" -> tables,
      "planning_s" -> phases.values.map(_.durationMs).sum / 1e3,
      "start" -> (if (phases.isEmpty) 0.0
        else phases.values.map(_.startTimeMs).min / 1e3)))
  }
  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
    record(fn, qe)
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
    record(fn, qe)
  def json: Seq[Map[String, Any]] = recs.asScala.toSeq
}

/** Minimal JSON writer for the nested maps and sequences above. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
