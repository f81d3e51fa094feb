package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, VariantType}

import graft.api.Graft

/** One client call: a public builder returning a DataFrame, followed by the
  * timed `count()`. `check` runs outside the timed region on the untimed
  * cold and warm calls and returns the reason the output is wrong, if it
  * is. */
final case class Call(id: String, module: String, build: SparkSession => DataFrame,
    check: (DataFrame, Long) => Option[String])

/** A timed call: build and action seconds, wall-clock bounds for attributing
  * Spark events, and the output check's verdict. */
final case class Sample(pass: Int, id: String, module: String,
    buildS: Double, actionS: Double, startMs: Long, buildEndMs: Long, endMs: Long,
    checkEndMs: Long, storedAfter: Long, error: Option[String]) {
  def totalS: Double = buildS + actionS
}

/** Runs one workload as a closed-loop client: one cold pass, WarmPasses
  * untimed warm passes, then steady passes until `seconds` have elapsed and
  * MinSamples calls are timed, each pass calling every id once: the cold
  * pass in the listed order, every later pass in a seed-permuted one. Settings
  * match graft.Bench: local[4], 4 shuffle partitions, UTC. Reads its
  * settings from a properties file and writes one JSON result file; the
  * Python runner turns that into the reported line.
  *
  *   perfbench.Harness CONFIG.properties
  */
object Harness {
  /** Steady call samples a run collects at least: query_s.tail is then at
    * the 60th percentile or above. */
  val MinSamples = 25
  /** Untimed passes between the cold pass and the steady ones. The JIT is
    * still compiling the engine's hot paths after the cold pass: with one
    * warm pass, the first steady pipeline pass ran 10-30% slower than the
    * last in 8 of 10 runs, so the steady figures depended on how fast the
    * compiler got through its queue on the run's host. */
  val WarmPasses = 2
  private val mx = ManagementFactory.getMemoryMXBean
  private val threads = ManagementFactory.getThreadMXBean
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  def main(args: Array[String]): Unit = {
    val cfg = new java.util.Properties
    val in = Files.newBufferedReader(Paths.get(args(0)), UTF_8)
    try cfg.load(in) finally in.close()
    def get(k: String): String = Option(cfg.getProperty(k)).getOrElse(sys.error(s"missing $k"))
    val workload = get("workload")
    val seed = get("seed").toLong
    val seconds = get("seconds").toDouble
    val traced = get("trace") == "1"
    val scratch = get("scratch")

    val wallStart = System.nanoTime()
    val cpuStart = processCpuNs
    val loadStart = Ambient.loadavg()

    // set-up counts from JVM start, so class loading, static init and the
    // first Graft.init are in it
    val spark = Session.open(scratch, get("sf_dir"))
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val threadsAfterSetup = threads.getThreadCount
    val calibStart = Ambient.calibration()

    val calls: Seq[Call] = Workloads.calls(spark, cfg)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val sc = spark.sparkContext

    def storedBytes(): Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    // every call is checked outside the timed region: the cold pass and the
    // first warm pass in full (digest, forecast truth), so the second call of
    // each id, the first to hit the engine's caches and reused state, is
    // checked too; later calls by the row count their timed count()
    // returned, which must equal the checked calls'. A full check costs as
    // much as the call, and checking every pass in full halved the steady
    // passes a run could time
    val coldRows = scala.collection.mutable.Map[String, Long]()
    def runCall(pass: Int, c: Call): Sample = {
      def phase(p: String): Unit =
        if (traced) sc.setLocalProperty(Tracer.SpanKey, s"$pass|${c.id}|$p")
      phase("ops.build")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var buildEndMs = startMs
      var df: DataFrame = null
      var n = -1L
      var err: Option[String] = None
      try {
        df = c.build(spark)
        t1 = System.nanoTime(); buildEndMs = System.currentTimeMillis()
        phase("action")
        n = df.count()
      } catch { case e: Throwable => err = Some(s"threw ${e.getClass.getSimpleName}") }
      if (t1 == t0) { t1 = System.nanoTime(); buildEndMs = System.currentTimeMillis() }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      phase("check")
      val stored = if (traced) storedBytes() else 0L
      if (err.isEmpty) err =
        if (pass <= 1) {
          coldRows(c.id) = n
          try c.check(df, n)
          catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}") }
        } else if (n != coldRows(c.id)) Some(s"count() gave $n rows, the checked cold call ${coldRows(c.id)}")
        else None
      if (traced) sc.setLocalProperty(Tracer.SpanKey, null)
      Sample(pass, c.id, c.module, (t1 - t0) / 1e9, (t2 - t1) / 1e9, startMs, buildEndMs,
        endMs, System.currentTimeMillis(), stored, err)
    }

    final case class PassRec(pass: Int, samples: Seq[Sample], gcS: Double, startMs: Long, endMs: Long) {
      def wallS: Double = samples.map(_.totalS).sum
    }
    // the cold pass keeps the listed order: its first call pays about 2 s of
    // one-time cost, and how much that adds to the pass depends on which id
    // it lands on, so a permuted cold pass varied with the seed
    def runPass(pass: Int): PassRec = {
      val order = if (pass == 0) calls else new scala.util.Random(seed * 1000003L + pass).shuffle(calls)
      val gc0 = gcMs
      val s0 = System.currentTimeMillis()
      val samples = order.map(runCall(pass, _))
      PassRec(pass, samples, (gcMs - gc0) / 1e3, s0, System.currentTimeMillis())
    }

    val cold = runPass(0)
    val warm = (1 to WarmPasses).map(runPass)
    // steady passes run for `seconds`, and on until they hold MinSamples
    // calls, so the tail percentile always has 10 samples beyond it and
    // sits well above the median
    val steady = ArrayBuffer[PassRec]()
    val steadyStart = System.nanoTime()
    while ((System.nanoTime() - steadyStart) / 1e9 < seconds || steady.map(_.samples.length).sum < MinSamples)
      steady += runPass(steady.length + 1 + WarmPasses)
    val threadsAfter = threads.getThreadCount

    // full GCs until the ContextCleaner has dropped every block whose
    // reference died, so what remains is what the run still pins
    var storedEnd = storedBytes()
    var settled = false
    for (_ <- 1 to 10 if !settled) {
      System.gc()
      Thread.sleep(200)
      val now = storedBytes()
      settled = now == storedEnd
      storedEnd = now
    }
    System.gc()
    val heapAfterGc = mx.getHeapMemoryUsage.getUsed

    val all = ((cold +: warm) ++ steady).flatMap(_.samples)
    val failures = all.filter(_.error.nonEmpty)
    val times = steady.flatMap(_.samples).map(_.totalS).sorted.toIndexedSeq
    val tailPct = Stats.tailPercentile(times.length)
    val mb = 1024.0 * 1024.0
    val e2e = Seq(
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.wallS,
      "pass_s" -> Stats.median(steady.map(_.wallS).toSeq),
      "query_s.p50" -> Stats.percentile(times, 50),
      "query_s.tail" -> Stats.percentile(times, tailPct),
      "retained_mb" -> (heapAfterGc + storedEnd) / mb)

    val layer: Seq[(String, Double)] = tracer.map { t =>
      t.drain()
      t.metrics(steady.toSeq.map(p => (p.pass, p.samples, p.gcS)), Workloads.moduleNames) ++ Seq(
        "materialize.stored_mb.end" -> storedEnd / mb,
        "driver.heap_after_gc_mb" -> heapAfterGc / mb,
        "driver.threads" -> (threadsAfter - threadsAfterSetup).toDouble)
    }.getOrElse(Seq.empty)
    tracer.foreach(_.writeSpans(get("spans"),
      ((cold +: warm) ++ steady).map(p => (p.pass, p.startMs, p.endMs, p.samples))))

    val ambient = Seq(
      "loadavg_start" -> Json.arr(loadStart.map(Json.num)),
      "loadavg_end" -> Json.arr(Ambient.loadavg().map(Json.num)),
      "calibration_s_start" -> Json.num(calibStart),
      "calibration_s_end" -> Json.num(Ambient.calibration()),
      "wall_s" -> Json.num((System.nanoTime() - wallStart) / 1e9),
      "process_cpu_s" -> Json.num(processCpuNs.toDouble / 1e9 - cpuStart.toDouble / 1e9),
      "cores" -> Json.num(Runtime.getRuntime.availableProcessors().toDouble))
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed.toDouble),
      "attempted" -> Json.num(all.length.toDouble),
      "failed" -> Json.num(failures.length.toDouble),
      "failures" -> Json.arr(failures.map(s => Json.str(s"pass ${s.pass} ${s.id}: ${s.error.get}"))),
      "steady_passes" -> Json.num(steady.length.toDouble),
      "samples" -> Json.num(times.length.toDouble),
      "tail_pct" -> Json.num(tailPct),
      "pass_walls_s" -> Json.arr(steady.toSeq.map(p => Json.num(p.wallS))),
      "call_s" -> Json.obj(calls.map(_.id).sorted.map { id =>
        id -> Json.arr(((cold +: warm) ++ steady).flatMap(_.samples.filter(_.id == id)).map(s => Json.num(s.totalS)))
      }),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "counter_stability" -> tracer.map(_.stability(steady.toSeq.map(_.pass))).getOrElse(Json.obj(Nil)),
      "digests" -> Json.obj(Workloads.digests.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
      "ambient" -> Json.obj(ambient)))
    Files.write(Paths.get(get("out")), (out + "\n").getBytes(UTF_8))
    Session.close(spark)
    // a pool thread the engine left running must not keep the JVM alive
    sys.exit(0)
  }
}

object Session {
  /** A session with graft.Bench's settings, graft functions registered and
    * the same untimed warm-up graft.Bench runs before its first query. */
  def open(scratch: String, sfDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Graft.init(s)
    s.range(100000).selectExpr("sum(id % 7)").collect()
    Seq("region", "nation", "documents").foreach(t => s.read.parquet(s"$sfDir/$t.parquet").count())
    s
  }

  def close(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Workloads {
  /** id -> digest of its checked cold call, written to the result so the
    * expected files can be recorded from an unchanged commit. */
  val digests = scala.collection.concurrent.TrieMap[String, String]()

  private val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.ops.Relational.queries.keySet,
    "Joins" -> graft.ops.Joins.queries.keySet,
    "Windows" -> graft.ops.Windows.queries.keySet,
    "Functions" -> graft.ops.Functions.queries.keySet,
    "TimeSeries" -> graft.ops.TimeSeries.queries.keySet,
    "TextDedup" -> graft.ops.TextDedup.queries.keySet,
    "Extensions" -> graft.ops.Extensions.queries.keySet,
    "Scale" -> graft.ops.Scale.queries.keySet,
    "Pipeline" -> graft.ops.Pipeline.queries.keySet,
    "Bpe" -> graft.ops.Bpe.queries.keySet,
    "Graph" -> graft.ops.Graph.queries.keySet,
    "Curation" -> graft.ops.Curation.queries.keySet,
    "Lifecycle" -> graft.ops.Lifecycle.queries.keySet)
  def moduleOf(id: String): String = modules.find(_._2(id)).map(_._1).getOrElse("Other")
  /** Every ops module plus the graft.api facade the forecast calls go through. */
  val moduleNames: Seq[String] = modules.map(_._1) :+ "Graft"

  def calls(spark: SparkSession, cfg: java.util.Properties): Seq[Call] =
    cfg.getProperty("kind") match {
      case "queries" => queryCalls(cfg)
      case "forecast" => Forecasts.calls(spark, cfg)
    }

  /** SparkEntry ids, each checked against the digest recorded for it. A
    * missing expected file is the recording run: every call must then
    * agree with the first digest seen for its id. */
  private def queryCalls(cfg: java.util.Properties): Seq[Call] = {
    val sf = cfg.getProperty("sf_dir")
    val expected = Option(cfg.getProperty("expected")).filter(p => p.nonEmpty && Files.isRegularFile(Paths.get(p)))
      .map(p => Files.readAllLines(Paths.get(p), UTF_8).asScala.filter(_.nonEmpty)
        .map { l => val Array(id, d) = l.split("\t"); id -> d }.toMap)
    val q = graft.SparkEntry.queries
    cfg.getProperty("ids").split(",").toSeq.map { id =>
      val fn = q.getOrElse(id, sys.error(s"unknown query id $id"))
      Call(id, moduleOf(id), s => fn(s, sf), (df, n) => {
        val d = digest(df)
        val want = expected.map(_.getOrElse(id, "<none recorded>"))
          .getOrElse(digests.getOrElseUpdate(id, d))
        digests(id) = d
        if (!d.startsWith(s"$n:")) Some(s"count() gave $n, digest $d")
        else if (d != want) Some(s"digest $d, expected $want")
        else None
      })
    }
  }

  private def canonical(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => false
    case a: ArrayType => canonical(a.elementType)
    case s: StructType => s.fields.forall(f => canonical(f.dataType))
    case _ => true
  }

  /** Row count plus an order-independent hash over every column: the two
    * 32-bit halves of each row's xxhash64, summed separately so the sums
    * cannot overflow. Map and variant values hash through their JSON text. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (canonical(f.dataType)) c else to_json(c)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  /** The same digest shape over rows already on the driver. */
  def digestRows(rows: Array[Row]): String = {
    var lo = 0L; var hi = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.map(String.valueOf))
      lo += h & 0xFFFFL; hi += (h >>> 16) & 0xFFFFL
    }
    s"${rows.length}:$lo:$hi"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs.sorted.toIndexedSeq, 50)

  /** The highest whole percentile of n samples with at least 10 samples
    * beyond it. */
  def tailPercentile(n: Int): Double = if (n <= 10) 0.0 else math.floor(100.0 * (n - 10) / n)

  /** Linear-interpolated percentile of sorted values. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = p / 100.0 * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

object Ambient {
  /** Seconds one thread takes for a fixed integer loop: the speed this
    * machine gave the run, comparable between runs on the same box. */
  def calibration(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 200000000L) { x += i * i ^ (x >>> 7); i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println(x)
    s
  }

  def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Exception => Seq.empty }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
