package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, plant: Boolean)

/** One timed public-API call whose result the client consumed: `getMs`
  * covers the call and the consuming action, `putMs` the action alone.
  * Traced, the plan is forced first (`planMs`) and the executed plans are
  * kept (`qes`). */
final case class Call(name: String, getMs: Double, putMs: Double,
    rows: Long, digest: Long, planMs: Double, qes: Seq[QueryExecution],
    out: Option[Seq[Row]], schema: StructType)

/** What a run measured and checked. `oracle` lists outputs the DuckDB
  * oracle must confirm, each with the number of timed calls that depend
  * on it. */
final class Result {
  val passes = mutable.ArrayBuffer.empty[(Double, Boolean)] // (seconds, traced)
  val gets = mutable.ArrayBuffer.empty[(Double, Boolean)]   // (ms, traced)
  val puts = mutable.ArrayBuffer.empty[(Double, Boolean)]
  val planMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val oracle = mutable.ArrayBuffer.empty[(String, String, String, Long)] // name, output dir, sql, dependents
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  def fail(why: String, n: Long = 1): Unit = { failed += n; notes += s"FAIL $why" }
  def note(s: String): Unit = { notes += s; Console.err.println(s"[perfbench] $s") }
}

/** Shared run state: the session, the tracer and the counters. */
final class Ctx(val spark: SparkSession, val o: Opts) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer
  val counters = new StageCounters
  val plans = new PlanCapture
  val res = new Result
  private var nextReq = 0L
  val tracedReqs = mutable.ArrayBuffer.empty[Long]
  var storagePeakB = 0L
  /** The serving whose log gives `pipeline.*`: the measured loop on
    * `pipeline_serve`, the layer probe's short session elsewhere. */
  var serving: Option[ServeWorkload] = None

  /** Runs one pass or request under a fresh request id; when `traced`,
    * with spans, the listener counters and plan capture switched on. */
  def request[T](name: String, traced: Boolean, loop: Boolean = true)(body: => T): T = {
    nextReq += 1
    tracer.req = nextReq
    spark.sparkContext.setLocalProperty(StageCounters.ReqKey, nextReq.toString)
    if (traced) {
      if (loop) tracedReqs += nextReq
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(plans)
      tracer.enabled = true
    }
    try tracer("bench", name)(body)
    finally if (traced) {
      tracer.enabled = false
      counters.drain(spark)
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(plans)
      storagePeakB = math.max(storagePeakB,
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
  }

  /** When tracing, forces the physical plan of `df` in its own span and
    * returns the milliseconds it took (0 untraced: the action plans). */
  def plan(df: DataFrame): Double =
    if (!tracer.enabled) 0.0
    else {
      val t0 = System.nanoTime()
      tracer("plans", "executedPlan")(df.queryExecution.executedPlan)
      (System.nanoTime() - t0) / 1e6
    }

  /** Calls `f` and consumes its result with a noop write, so no column
    * is pruned away. The same job digests the output through `observe`
    * and, with `keepRows`, collects its rows for checking afterwards. */
  def call(name: String, layer: String, f: => DataFrame, keepRows: Boolean = false): Call = {
    val t0 = System.nanoTime()
    val df = tracer(layer, name)(f)
    val obs = new Observation()
    val digested = Main.digested(df, obs, keepRows)
    val planMs = plan(digested)
    val t1 = System.nanoTime()
    tracer("stage", "write.noop")(digested.write.format("noop").mode("overwrite").save())
    val t2 = System.nanoTime()
    val m = obs.get
    val qes = if (tracer.enabled) { counters.drain(spark); plans.take() } else Nil
    val rows = if (keepRows) Some(m("rows").asInstanceOf[Seq[Row]]) else None
    Call(name, (t2 - t0) / 1e6, (t2 - t1) / 1e6, m("n").asInstanceOf[Long],
      m("h").asInstanceOf[Long], planMs, qes, rows, df.schema)
  }

  /** Drops every pinned or cached block between passes. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Main {
  /** Row count and an order-independent hash sum of every column, and
    * optionally the rows themselves, observed on the consuming job. */
  def digested(df: DataFrame, obs: Observation, keepRows: Boolean): DataFrame = {
    val cols = df.columns.map(c => col(s"`$c`")).toSeq
    val h = coalesce(sum(pmod(xxhash64(cols: _*), lit(1L << 40))), lit(0L)).as("h")
    val rest = if (keepRows) Seq(h, collect_list(struct(cols: _*)).as("rows")) else Seq(h)
    df.observe(obs, count(lit(1)).as("n"), rest: _*)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile up to p95 with at least ten samples beyond
    * it (nearest rank). Below 20 samples no tail percentile has ten
    * beyond it, and the maximum is reported instead. */
  def tail95(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) return (Double.NaN, 0.0)
    val r = if (s.size < 20) s.size else math.min(math.ceil(0.95 * s.size).toInt, s.size - 10)
    (s(r - 1), r.toDouble / s.size)
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv.getOrElse("plant", "0") == "1")
  }

  /** Bench's session shape: graft's extensions, all cores, shuffle
    * partitions = cores, AQE on, UTC. Scratch space stays in `work`. */
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.checkpoint.dir", s"$work/checkpoint")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's calibration probe; its wall time is load context only. */
  def loadProbe(spark: SparkSession): Double =
    seconds(spark.range(1L << 31).selectExpr("sum(id % 1000003)").collect())._2

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(o.work, cores)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val loadStart = loadProbe(spark)
    val ctx = new Ctx(spark, o)
    val w: Workload = o.workload match {
      case "curate" => new CurateWorkload(ctx)
      case "vector_pairs" => new VectorWorkload(ctx)
      case "pipeline_serve" => val s = new ServeWorkload(ctx); ctx.serving = Some(s); s
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val dir = s"${o.work}/in"
    val genS = seconds(w.generate(dir))._2
    val warmS = seconds(w.warm(dir))._2
    val setupS = sessionS + genS + warmS
    ctx.res.note(f"setup: session $sessionS%.3f s, generate $genS%.3f s, warm-up $warmS%.3f s")

    w.measure(dir)
    w.check(dir)
    if (o.trace) {
      w.generateProbeInputs(dir)
      new LayerProbe(ctx, w, dir).run()
    }
    val loadEnd = loadProbe(spark)
    val e2e = Metrics.endToEnd(ctx, setupS)
    val metrics =
      if (o.trace) Metrics.perLayer(ctx, e2e, loadStart, loadEnd)
      else e2e
    if (o.trace) ctx.tracer.write(s"${o.work}/spans.tsv")
    Metrics.writeResult(s"${o.work}/result.json", o, dir, ctx.res, metrics, loadStart, loadEnd)
    spark.stop()
  }
}
