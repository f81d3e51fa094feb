package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: Spark's public listeners, registered only in
  * this run. Jobs are attributed to `pass|call|phase` through the local
  * property the harness sets before each builder call, action and check;
  * a job submitted from a thread that did not inherit the property falls
  * back to the harness span whose wall-clock window holds its submission.
  * Query executions carry no properties, so they are attributed by the
  * start of their first planning phase. Everything stays in memory until
  * the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class JobRec(val id: Int, val span: Option[String], val submitMs: Long,
      val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
    var owner: Option[(Int, String, String)] = None
  }
  private final class StageRec(val id: Int, val attempt: Int, val startMs: Long, var endMs: Long)
  private final class TaskAgg {
    var tasks, runMs, cpuNs, gcMs, deserMs, fetchWaitMs = 0L
    var shufRead, shufWrite, spill, inBytes, inRecords = 0L
  }
  private final case class QeRec(startMs: Long, phases: Map[String, Long])

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val stageTasks = mutable.HashMap[Int, TaskAgg]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, e.stageIds)
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time); touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach(_.endMs =
      i.completionTime.getOrElse(System.currentTimeMillis()))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageTasks.getOrElseUpdate(e.stageId, new TaskAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
    }
    touch()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      qes += QeRec(ph.values.map(_.startTimeMs).min, ph.map { case (k, v) => k -> v.durationMs })
    touch()
  }

  /** Waits until every started job has ended and the listener queue has
    * been quiet for half a second (at most 30 s). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def busy = synchronized(jobs.values.exists(_.endMs < 0))
    while (System.currentTimeMillis() < deadline &&
        (busy || System.currentTimeMillis() - lastEventMs < 500)) Thread.sleep(50)
  }

  /** Stages first listed by one of `js`: a later job that skips a stage
    * (shuffle reuse) lists it again, but its tasks ran only once. */
  private def stagesOf(js: Seq[JobRec]): Seq[Int] = {
    val ids = js.map(_.id).toSet
    stageJob.collect { case (st, j) if ids(j) => st }.toSeq
  }

  private type Owner = (Int, String, String)
  private def parse(span: String): Option[Owner] = span.split("\\|", 3) match {
    case Array(p, id, ph) => Some((p.toInt, id, ph))
    case _ => None
  }
  /** Phase windows of every call, for attribution by time. */
  private def windows(samples: Seq[Sample]): Seq[(Long, Long, Owner)] = samples.flatMap { s =>
    Seq((s.startMs, s.buildEndMs, (s.pass, s.id, "ops.build")),
      (s.buildEndMs, s.endMs, (s.pass, s.id, "action")),
      (s.endMs, s.checkEndMs, (s.pass, s.id, "check")))
  }
  private def byTime(w: Seq[(Long, Long, Owner)], t: Long): Option[Owner] =
    w.find { case (a, b, _) => t >= a && t <= b }.map(_._3)

  private var qeOwners: Seq[(QeRec, Option[Owner])] = Seq.empty
  private def attribute(samples: Seq[Sample]): Unit = synchronized {
    val w = windows(samples)
    jobs.values.foreach(j => j.owner = j.span.flatMap(parse).orElse(byTime(w, j.submitMs)))
    qeOwners = qes.toSeq.map(q => q -> byTime(w, q.startMs))
  }

  /** Per-layer metrics: each is summed over one steady pass, then the median
    * over steady passes is reported (the stored-bytes peak is a maximum). */
  def metrics(passes: Seq[(Int, Seq[Sample], Double)], modules: Seq[String]): Seq[(String, Double)] =
    synchronized {
      attribute(passes.flatMap(_._2))
      val callTimes = passes.flatMap(_._2).map(_.totalS).sorted.toIndexedSeq
      val p50 = Stats.percentile(callTimes, 50)
      val perPass = passes.map { case (pass, samples, gcS) =>
        val js = jobs.values.filter(j => j.owner.exists(o => o._1 == pass && o._3 != "check")).toSeq
        val stageIds = stagesOf(js).toSet
        val ts = stageIds.toSeq.flatMap(stageTasks.get)
        def sumT(f: TaskAgg => Long): Double = ts.map(f).sum.toDouble
        val ran = stages.values.count(s => stageIds(s.id))
        val wall = samples.map(_.totalS).sum
        val buildS = samples.map(_.buildS).sum
        val actionS = samples.map(_.actionS).sum
        val qs = qeOwners.collect { case (q, Some(o)) if o._1 == pass && o._3 != "check" => q }
        def phase(k: String): Double = qs.map(_.phases.getOrElse(k, 0L)).sum / 1e3
        val runS = sumT(_.runMs) / 1e3
        val forecastJobs = js.filter(_.owner.exists(_._2.startsWith("forecast")))
        val forecastRunS = stagesOf(forecastJobs).flatMap(stageTasks.get).map(_.runMs).sum / 1e3
        val forecastSeries = samples.filter(_.id.startsWith("forecast")).length *
          Forecasts.keysPerCall
        val buildJobs = js.filter(_.owner.exists(_._3 == "ops.build"))
        val selfS = samples.map { s =>
          val own = buildJobs.filter(_.owner.exists(_._2 == s.id))
            .map(j => (j.submitMs.max(s.startMs), (if (j.endMs < 0) s.buildEndMs else j.endMs).min(s.buildEndMs)))
          (s.buildEndMs - s.startMs - Tracer.covered(own)) / 1e3
        }.sum
        val base = Seq(
          "trace.pass_s" -> wall,
          "ops.build_s" -> buildS,
          "ops.build_self_s" -> selfS,
          "ops.action_s" -> actionS,
          "ops.build_jobs" -> buildJobs.length.toDouble,
          "ops.build_share" -> (if (wall > 0) buildS / wall else 0.0),
          "plan.actions" -> qs.length.toDouble,
          "plan.analysis_s" -> phase("analysis"),
          "plan.optimization_s" -> phase("optimization"),
          "plan.planning_s" -> phase("planning"),
          "plan.share_p50" -> (if (samples.nonEmpty && p50 > 0)
            (phase("analysis") + phase("optimization") + phase("planning")) / samples.length / p50
            else 0.0),
          "sched.jobs" -> js.length.toDouble,
          "sched.stages" -> ran.toDouble,
          "sched.tasks" -> sumT(_.tasks),
          "sched.tasks_per_job" -> (if (js.nonEmpty) sumT(_.tasks) / js.length else 0.0),
          "sched.core_busy" -> (if (wall > 0) runS / (wall * Cores) else 0.0),
          "exec.task_run_s" -> runS,
          "exec.task_cpu_s" -> sumT(_.cpuNs) / 1e9,
          "exec.gc_s" -> sumT(_.gcMs) / 1e3,
          "exec.deser_s" -> sumT(_.deserMs) / 1e3,
          "forecast.series_per_task_s" -> (if (forecastRunS > 0) forecastSeries / forecastRunS else 0.0),
          "shuffle.write_mb" -> sumT(_.shufWrite) / MB,
          "shuffle.read_mb" -> sumT(_.shufRead) / MB,
          "shuffle.fetch_wait_s" -> sumT(_.fetchWaitMs) / 1e3,
          "shuffle.spill_mb" -> sumT(_.spill) / MB,
          "io.read_mb" -> sumT(_.inBytes) / MB,
          "io.read_rows" -> sumT(_.inRecords),
          "driver.gc_s" -> gcS)
        val mods = modules.flatMap { m =>
          val ss = samples.filter(_.module == m)
          Seq(s"$m.build_s" -> ss.map(_.buildS).sum,
            s"$m.jobs" -> js.count(_.owner.exists(o => ss.exists(_.id == o._2))).toDouble)
        }
        (base ++ mods).toMap
      }
      val keys = perPass.headOption.map(_.keys.toSeq.sorted).getOrElse(Seq.empty)
      keys.map(k => k -> Stats.median(perPass.map(_(k)))) :+
        ("materialize.stored_mb.after_call" -> passes.flatMap(_._2).map(_.storedAfter).maxOption
          .getOrElse(0L) / MB) :+
        ("counters.varying_ids" -> varying(passes.map(_._1)).length.toDouble)
    }

  private def counters(pass: Int): Map[String, (Int, Long, Int)] = synchronized {
    val js = jobs.values.filter(j => j.owner.exists(o => o._1 == pass && o._3 != "check")).toSeq
    val acts = qeOwners.collect { case (_, Some(o)) if o._1 == pass && o._3 != "check" => o._2 }
      .groupBy(identity).map { case (id, xs) => id -> xs.length }
    (js.map(_.owner.get._2) ++ acts.keys).distinct.map { id =>
      val jj = js.filter(_.owner.get._2 == id)
      id -> (jj.length, stagesOf(jj).flatMap(stageTasks.get).map(_.tasks).sum,
        acts.getOrElse(id, 0))
    }.toMap
  }

  /** ids whose job, task or action count is not the same in every steady
    * pass. */
  private def varying(passes: Seq[Int]): Seq[String] = {
    val per = passes.map(counters)
    val ids = per.flatMap(_.keys).distinct.sorted
    ids.filter(id => per.map(_.get(id)).distinct.length > 1)
  }

  /** Per-id job, task and action counts in each steady pass, and the ids
    * whose counts vary between them. */
  def stability(passes: Seq[Int]): String = synchronized {
    val per = passes.map(counters)
    val ids = per.flatMap(_.keys).distinct.sorted
    Json.obj(Seq(
      "varying" -> Json.arr(varying(passes).map(Json.str)),
      "per_id" -> Json.obj(ids.map { id =>
        id -> Json.obj(Seq(
          "jobs" -> Json.arr(per.map(p => Json.num(p.get(id).map(_._1).getOrElse(0).toDouble))),
          "tasks" -> Json.arr(per.map(p => Json.num(p.get(id).map(_._2).getOrElse(0L).toDouble))),
          "actions" -> Json.arr(per.map(p => Json.num(p.get(id).map(_._3).getOrElse(0).toDouble)))))
      })))
  }

  /** Writes the span tree pass -> call -> ops.build | action | check -> job ->
    * stage as JSON lines: name, id, parent, start and end in epoch ms. */
  def writeSpans(path: String, passes: Seq[(Int, Long, Long, Seq[Sample])]): Unit = synchronized {
    attribute(passes.flatMap(_._4))
    val out = new StringBuilder
    def span(id: String, parent: String, name: String, a: Long, b: Long, extra: Seq[(String, String)] = Nil): Unit =
      out.append(Json.obj(Seq("id" -> Json.str(id), "parent" -> Json.str(parent),
        "name" -> Json.str(name), "start_ms" -> Json.num(a.toDouble),
        "end_ms" -> Json.num(b.toDouble)) ++ extra)).append('\n')
    passes.foreach { case (p, a, b, samples) =>
      span(s"p$p", "", "pass", a, b)
      samples.foreach { s =>
        val c = s"p$p/${s.id}"
        span(c, s"p$p", s"call:${s.id}", s.startMs, s.checkEndMs,
          Seq("ok" -> (if (s.error.isEmpty) "true" else "false")))
        span(s"$c/ops.build", c, "ops.build", s.startMs, s.buildEndMs)
        span(s"$c/action", c, "action", s.buildEndMs, s.endMs)
        span(s"$c/check", c, "check", s.endMs, s.checkEndMs)
      }
    }
    jobs.values.foreach { j =>
      val parent = j.owner.map(o => s"p${o._1}/${o._2}/${o._3}").getOrElse("")
      span(s"job${j.id}", parent, "job", j.submitMs, j.endMs,
        Seq("by_property" -> (if (j.span.nonEmpty) "true" else "false")))
      j.stageIds.foreach { sid =>
        stages.values.filter(_.id == sid).foreach { st =>
          span(s"job${j.id}/stage${sid}.${st.attempt}", s"job${j.id}", "stage", st.startMs, st.endMs,
            Seq("tasks" -> Json.num(stageTasks.get(sid).map(_.tasks).getOrElse(0L).toDouble)))
        }
      }
    }
    Files.write(Paths.get(path), out.toString.getBytes(UTF_8))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Cores = 4.0
  val MB: Double = 1024.0 * 1024.0

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
