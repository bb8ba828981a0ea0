package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{QueriesCore, SparkEntry}
import graft.ts.AsOfJoin

/** One closed-loop step: a call through a public entry point, and the
  * layer (module) that call lands in. */
final case class Step(name: String, layer: String,
                      run: (SparkSession, String) => DataFrame)

object Workloads {
  private def row(name: String, layer: String): Step =
    Step(name, layer, SparkEntry.queries(name))

  /** Keyless backward as-of merge join of clicks to the latest purchase
    * within 1h. Without a key every row shares one (empty) key, so this is
    * the one-hot-key extreme of the merge-join operator. */
  val keylessAsOfMerge: Step = Step("keyless_asof_merge", "sql.AsOfMergeJoin",
    (s, dir) => {
      val ev = QueriesCore.events(s, dir)
      val l = ev.filter(F.col("event_type") === "click").select("time", "event_id")
      val r = QueriesCore.withValue100(ev.filter(F.col("event_type") === "purchase"))
        .select(F.col("time"), F.col("event_id").as("p_event_id"),
          F.col("value100").as("p_value100"))
      AsOfJoin.leftJoinMerge(l, r, tolerance = "1h")
    })

  val steps: Map[String, Seq[Step]] = Map(
    "ts_batch" -> Seq(
      row("left_join_asof", "ts.AsOfJoin"),
      row("left_join_asof_merge", "sql.AsOfMergeJoin"),
      row("summarize_windows_past", "ts.WindowOps"),
      row("summarize_corr_pairs", "ts.Summarize"),
      row("summarize_cycles", "ts.Summarize"),
      row("ema_rows_es_current_core", "ts.EmaOps"),
      row("merge", "ts.TimeSeriesOps"),
      row("time_partitioned_roundtrip", "ts.Sources"),
      keylessAsOfMerge),
    "llm_curation" -> Seq(
      row("pipeline_e2e", "llm.Pipeline"),
      row("dedup_against_index", "llm.Dedup"),
      row("bm25_topk", "llm.Retrieval")))

  /** Registry rows the output gate checks beside a workload's steps: the
    * pipeline_e2e invariant check reads the verified near-duplicate pairs. */
  val gateOnly: Map[String, Seq[String]] =
    Map("llm_curation" -> Seq("dedup_minhash_lsh"))
}

/** Counts for one layer within one pass. */
final class Counters {
  var constructS, planS, execS = 0.0
  var jobs, exchanges, singlePartitionExchanges, rowsOut = 0L
  var shuffleBytes, spillBytes, busyMs, spanBusyMs = 0L
}

/** Attributes Spark work to the span in progress. Stage-level counts (jobs,
  * task time, shuffle, spill) go to the layer of the graft source file in
  * the call site of the job, when that file is one of [[FileLayers]], and
  * otherwise to the current span's layer. Listener callbacks arrive on
  * Spark's listener thread, so the driver calls [[drain]] before it moves
  * `span` or reads the counters. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val FileLayers: Map[String, String] = Map(
    "Pipeline.scala" -> "llm.Pipeline", "Dedup.scala" -> "llm.Dedup",
    "Sampling.scala" -> "llm.Sampling", "TextStats.scala" -> "llm.TextStats",
    "Retrieval.scala" -> "llm.Retrieval")

  @volatile var span: String = "setup"
  @volatile var planWalk: Boolean = false
  val layers: mutable.Map[String, Counters] = mutable.Map.empty
  var peakTaskMem = 0L
  private val execFile = mutable.Map.empty[Long, String]
  private val stageLayer = mutable.Map.empty[Int, String]

  def counters(layer: String): Counters = layers.getOrElseUpdate(layer, new Counters)

  def drain(): Unit = ListenerDrain(spark.sparkContext)

  /** Drains, then returns and clears the counters gathered so far. */
  def take(): (Map[String, Counters], Long) = {
    drain()
    val out = (layers.toMap, peakTaskMem)
    layers.clear(); peakTaskMem = 0L
    out
  }

  /** The innermost graft source file in a call-site stack, or "". */
  private def graftFile(details: String): String =
    Option(details).iterator.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .map(l => l.substring(l.lastIndexOf('(') + 1).takeWhile(_ != ':'))
      .getOrElse("")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execFile(s.executionId) = graftFile(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sqlFile = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execFile.get(id.toLong))
    val file = sqlFile.getOrElse(
      e.stageInfos.headOption.map(si => graftFile(si.details)).getOrElse(""))
    val layer = FileLayers.getOrElse(file, span)
    counters(layer).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageLayer.getOrElse(e.stageId, span))
      c.busyMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      counters(span).spanBusyMs += m.executorRunTime
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (planWalk) {
      val c = counters(span)
      nodes(qe.executedPlan).foreach {
        case s: ShuffleExchangeLike =>
          c.exchanges += 1
          if (s.outputPartitioning == SinglePartition) c.singlePartitionExchanges += 1
        case _: BroadcastExchangeLike => c.exchanges += 1
        case _ =>
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Runs one workload in a closed loop (one client; the next step starts
  * when the previous one has finished) and writes what it measured as JSON.
  *
  * Usage: Main <workload> <dataDir> <seconds> <trace 0|1> <cores>
  *             <dumpDir> <resultJson>
  *
  * Set-up (session start and one untimed warm-up pass) is timed on its own.
  * Then passes over the workload's steps start until `seconds` have
  * passed and [[MinPasses]] passes are done; a started pass always
  * finishes. Each step is forced through a noop-sink write. With tracing
  * on, passes alternate untraced and traced;
  * a traced step is split into construct (the public call, which runs any
  * eager jobs), plan (`queryExecution.executedPlan`) and exec (the noop
  * write). The warm-up pass writes every step's output to `dumpDir` as
  * parquet for the output gate. */
object Main {
  /** Every run measures at least this many passes: in a fresh JVM the
    * first passes are still slowed by JIT warm-up. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, secondsArg, traceArg, coresArg, dumpDir, resultPath) = args
    val steps = Workloads.steps.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark)
    spark.sparkContext.addSparkListener(tracer)
    if (traced) spark.listenerManager.register(tracer)

    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    var observations = 0
    def observed(df: DataFrame): (DataFrame, Observation) = {
      observations += 1
      val obs = Observation(s"perfbench_rows_$observations")
      (df.observe(obs, F.count(F.lit(1)).as("rows")), obs)
    }
    def rowsOf(obs: Observation): Long = obs.get("rows").asInstanceOf[Long]

    /** Runs one step; returns (wall seconds, rows out or -1, error or "").
      * With `dump`, the output goes to parquet there instead of the noop
      * sink. */
    def runStep(step: Step, trace: Boolean, dump: Boolean): (Double, Long, String) = {
      val t0 = System.nanoTime()
      try {
        if (!trace) {
          val (df, obs) = observed(step.run(spark, dir))
          if (dump) df.write.mode("overwrite").parquet(s"$dumpDir/${step.name}")
          else noop(df)
          (secs(t0), rowsOf(obs), "")
        } else {
          tracer.drain(); tracer.span = step.layer
          val c = tracer.counters(step.layer)
          var t = System.nanoTime()
          val (df, obs) = observed(step.run(spark, dir))
          c.constructS += secs(t); tracer.drain()
          t = System.nanoTime()
          df.queryExecution.executedPlan
          c.planS += secs(t); tracer.drain()
          t = System.nanoTime()
          noop(df)
          c.execS += secs(t)
          val rows = rowsOf(obs)
          c.rowsOut += rows
          tracer.drain(); tracer.span = "idle"
          (secs(t0), rows, "")
        }
      } catch {
        case e: Throwable =>
          tracer.span = "idle"
          (secs(t0), -1L, s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    }

    def pass(trace: Boolean, dump: Boolean = false): Map[String, Any] = {
      tracer.take()
      tracer.planWalk = trace
      val t0 = System.nanoTime()
      val results = steps.map(s => s -> runStep(s, trace, dump))
      val wall = secs(t0)
      val (layers, peak) = tracer.take()
      Map(
        "traced" -> trace, "wall_s" -> wall, "peak_task_mem_bytes" -> peak,
        "shuffle_bytes" -> layers.values.map(_.shuffleBytes).sum,
        "steps" -> results.map { case (s, (w, rows, err)) =>
          Map("name" -> s.name, "wall_s" -> w, "rows" -> rows, "error" -> err)
        },
        "layers" -> (if (!trace) Map.empty else layers.map {
          case (name, c) => name -> Map(
            "construct_s" -> c.constructS, "plan_s" -> c.planS, "exec_s" -> c.execS,
            "jobs" -> c.jobs, "exchanges" -> c.exchanges,
            "single_partition_exchanges" -> c.singlePartitionExchanges,
            "shuffle_write_mb" -> c.shuffleBytes / 1e6, "spill_mb" -> c.spillBytes / 1e6,
            "task_busy_s" -> c.busyMs / 1e3, "rows_out" -> c.rowsOut,
            "core_util" -> {
              val wallS = c.constructS + c.planS + c.execS
              if (wallS > 0) c.spanBusyMs / 1e3 / (wallS * cores) else 0.0
            })
        }))
    }

    // The warm-up pass also writes each step's output for the gate.
    val tWarm = System.nanoTime()
    val warmup = pass(trace = false, dump = true)
    val warmupS = secs(tWarm)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tRun = System.nanoTime()
    while (passes.size < MinPasses || secs(tRun) < seconds)
      passes += pass(trace = traced && passes.size % 2 == 1)
    val measuredS = secs(tRun)

    val gateOnly = Workloads.gateOnly.getOrElse(workload, Nil)
      .map(n => Step(n, "", SparkEntry.queries(n)))
    val gateOnlyRuns = gateOnly.map(s => s.name -> runStep(s, trace = false, dump = true))
    val dumpErrors = gateOnlyRuns.collect {
      case (name, (_, _, err)) if err.nonEmpty => name -> err
    }
    val gateSteps = steps ++ gateOnly
    val oracle = SparkEntry.oracleSql
    val result = Map(
      "workload" -> workload, "cores" -> cores,
      "session_s" -> sessionS, "warmup_s" -> warmupS, "measured_s" -> measuredS,
      "warmup" -> warmup, "passes" -> passes.toSeq,
      "gate_steps" -> gateSteps.map(_.name),
      "dump_errors" -> dumpErrors.toMap,
      "oracle_sql" -> gateSteps.flatMap(s => oracle.get(s.name).map(s.name -> _)).toMap)
    Files.write(Paths.get(resultPath),
      Serialization.write(result)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
