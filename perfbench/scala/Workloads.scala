package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline._

/** Input sizes. They are fixed: the seed changes content, never shape. */
object Sizes {
  val corpus = Gen.CorpusShape(n = 1000, exact = 0.05, near = 0.05, edit = 0.05, hot = 0.05)
  val vectors = Gen.VectorShape(n = 600, near = 0.10, dense = 0.05)
  val tablesSf = 0.1
  // warm-up inputs: same shapes, small enough to compile every plan cheaply
  val warmCorpus = corpus.copy(n = 150)
  val warmVectors = vectors.copy(n = 100)
}

trait Workload {
  def generate(dir: String): Unit
  /** Inputs the layer probe needs beyond the workload's own. */
  def generateProbeInputs(dir: String): Unit
  def warm(dir: String): Unit
  def measure(dir: String): Unit
  def check(dir: String): Unit
}

object Workload {
  /** Runs passes until `seconds` of wall time have gone by; in a traced
    * run every second pass is traced, so tracing overhead is measured
    * against untraced passes of the same run. */
  def loop(ctx: Ctx)(pass: (Int, Boolean) => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < ctx.o.seconds) {
      pass(i, ctx.o.trace && i % 2 == 1)
      i += 1
    }
  }

  /** Order-independent digest of collected rows (count, Σ row hashes). */
  def rowDigest(rows: Seq[Row]): (Long, Long) =
    (rows.size.toLong, rows.map(r => MurmurHash3.stringHash(r.toString).toLong & 0xffffffffL).sum)
}

/** The flagship `Curation.curate` in the shipped configuration. */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val s = Sizes.corpus
  private val calls = mutable.ArrayBuffer.empty[Call]
  Seq("estimateDedup", "editDedup", "substringDedup")
    .foreach(k => spark.conf.set(s"spark.graft.curation.$k", "true"))

  def generate(dir: String): Unit = Gen.documents(spark, dir, ctx.o.seed, s)
  def generateProbeInputs(dir: String): Unit = Gen.embeddings(spark, dir, ctx.o.seed, Sizes.vectors)

  private def pass(dir: String, keepRows: Boolean = false): Call =
    ctx.call("Curation.curate", "ops", graft.ops.Curation.curate(spark, dir), keepRows)

  /** Passes over a small corpus of the same shape compile and warm every
    * plan the timed passes run; one leaves the JIT still warming. */
  private val WarmPasses = 2
  def warm(dir: String): Unit = {
    Gen.documents(spark, s"$dir-warm", ctx.o.seed, Sizes.warmCorpus)
    (1 to WarmPasses).foreach { _ => pass(s"$dir-warm"); ctx.release() }
  }

  def measure(dir: String): Unit = Workload.loop(ctx) { (_, traced) =>
    val c = ctx.request("curate.pass", traced)(pass(dir))
    calls += c
    ctx.res.passes += ((c.getMs / 1e3, traced))
    ctx.res.gets += ((c.getMs, traced))
    ctx.res.puts += ((c.putMs, traced))
    if (traced) ctx.res.planMs += c.planMs
    ctx.res.attempted += 1
    ctx.release()
  }

  /** An untimed pass collects its rows, which must satisfy the
    * invariants the planted rows imply; every timed pass must reproduce
    * its digest. */
  def check(dir: String): Unit = {
    val ref = pass(dir, keepRows = true)
    ctx.release()
    val docs = graft.Tables(spark, dir, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val (same, differ) = calls.zipWithIndex.partition { case (c, _) => c.rows == ref.rows && c.digest == ref.digest }
    differ.foreach { case (c, i) =>
      ctx.res.fail(s"curate pass $i digest (${c.rows}, ${c.digest}) != checked pass (${ref.rows}, ${ref.digest})") }
    val out = ref.out.get
    val broken = invariants(if (ctx.o.plant) out.drop(1) else out, ref.rows, docs)
    // a broken checked output condemns every timed pass that reproduced it
    if (broken.nonEmpty) ctx.res.fail(s"curate: ${broken.mkString("; ")}", math.max(1, same.size))
    ctx.res.note(s"curate: ${calls.size} passes, ${ref.rows} survivors of ${s.n} docs")
  }

  private def invariants(out: Seq[Row], observed: Long, docs: Map[Long, Row]): Seq[String] = {
    val b2 = s.nBase + s.nExact
    val b3 = b2 + s.nNear
    val b4 = b3 + s.nEdit
    val ids = out.map(_.getAs[Long]("doc_id"))
    def doc(r: Row) = docs(r.getAs[Long]("doc_id"))
    Seq(
      "checked rows differ from the observed row count" -> (out.size != observed),
      "output is empty" -> out.isEmpty,
      "doc_id repeats" -> (ids.distinct.size != ids.size),
      "doc_id not in the input" -> ids.exists(i => !docs.contains(i)),
      "quality below the 0.3 gate" -> out.exists(_.getAs[Double]("quality") < 0.3),
      "split outside train/val/test" -> out.exists(r => !Set("train", "val", "test")(r.getAs[String]("split"))),
      "lang or source differs from the input row" -> out.exists(r => docs.contains(r.getAs[Long]("doc_id")) &&
        (doc(r).getAs[String]("lang") != r.getAs[String]("lang") ||
          doc(r).getAs[String]("source") != r.getAs[String]("source"))),
      "n_tokens differs from the input's token count" -> out.exists(r => docs.contains(r.getAs[Long]("doc_id")) &&
        doc(r).getAs[String]("text").split(" ").length != r.getAs[Int]("n_tokens")),
      "two survivors share a text" -> (ids.flatMap(docs.get).map(_.getAs[String]("text")).distinct.size != ids.size),
      "a planted exact copy survived" -> ids.exists(i => i >= s.nBase && i < b2),
      "a planted edit variant survived" -> ids.exists(i => i >= b3 && i < b4),
      "more than one hot-cluster document survived" -> (ids.count(_ >= b4) > 1)
    ).collect { case (why, true) => why }
  }
}

/** The vector and hash pair family on the embeddings and the corpus. */
final class VectorWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val calls = mutable.ArrayBuffer.empty[Call]
  val ops: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("d20_semantic_dedup", "dedup", graft.dedup.Dedup.d20SemanticDedup _),
    ("d5_embedding_dedup", "dedup", graft.dedup.Dedup.d5EmbeddingDedup _),
    ("d14_embedding_simhash", "dedup", graft.dedup.Dedup.d14EmbeddingSimhash _),
    ("m6_phash_neardup", "multimodal",
      (s: SparkSession, d: String) => graft.multimodal.Multimodal.m6PhashNearDup(s, d)))

  private def inputs(dir: String, vectors: Gen.VectorShape, corpus: Gen.CorpusShape): Unit = {
    Gen.embeddings(spark, dir, ctx.o.seed, vectors)
    Gen.documents(spark, dir, ctx.o.seed, corpus)
  }
  def generate(dir: String): Unit = inputs(dir, Sizes.vectors, Sizes.corpus)
  def generateProbeInputs(dir: String): Unit = ()

  private def pass(dir: String, keepRows: Boolean): Seq[Call] =
    ops.map { case (name, layer, f) => ctx.call(name, layer, f(spark, dir), keepRows) }

  def warm(dir: String): Unit = {
    inputs(s"$dir-warm", Sizes.warmVectors, Sizes.warmCorpus)
    pass(s"$dir-warm", keepRows = false)
    ctx.release()
  }

  def measure(dir: String): Unit = Workload.loop(ctx) { (_, traced) =>
    val cs = ctx.request("vector.pass", traced)(pass(dir, keepRows = false))
    calls ++= cs
    ctx.res.passes += ((cs.map(_.getMs).sum / 1e3, traced))
    cs.foreach { c =>
      ctx.res.gets += ((c.getMs, traced))
      ctx.res.puts += ((c.putMs, traced))
      if (traced) ctx.res.planMs += c.planMs
    }
    ctx.res.attempted += cs.size
    ctx.release()
  }

  /** An untimed pass collects each operator's output for the DuckDB
    * oracle; every timed call must reproduce its digest. */
  def check(dir: String): Unit = {
    val oracleSql = graft.SparkEntry.oracleSql
    val refs = pass(dir, keepRows = true)
    ctx.release()
    ops.zip(refs).foreach { case ((name, _, _), ref) =>
      val (same, differ) = calls.filter(_.name == name).partition(c => c.rows == ref.rows && c.digest == ref.digest)
      differ.foreach(c => ctx.res.fail(s"$name digest (${c.rows}, ${c.digest}) != checked call (${ref.rows}, ${ref.digest})"))
      val rows = ref.out.get
      val path = s"${ctx.o.work}/check/$name"
      spark.createDataFrame((if (ctx.o.plant && name == "d5_embedding_dedup") rows.drop(1) else rows).asJava,
        ref.schema).coalesce(1).write.mode("overwrite").parquet(path)
      ctx.res.oracle += ((name, path, oracleSql(name), same.size.toLong))
      ctx.res.note(s"$name: ${ref.rows} rows, ${same.size + differ.size} timed calls")
    }
  }
}

/** A `DataSink` decorator that times each call, records which tier
  * answered a lookup, and can expire a type's entry: lookups of an
  * expired type miss until the next put of it. */
final class TierSink(inner: DataSink, tier: String, w: ServeWorkload) extends DataSink {
  private val expired = mutable.Set.empty[String]
  def expire(dataType: String): Unit = expired += dataType
  override def accepts: Set[String] = inner.accepts
  override def put(dataType: String, df: DataFrame): Unit = put(dataType, df, Query.empty)
  override def put(dataType: String, df: DataFrame, query: Query): Unit = {
    expired -= dataType
    w.ctx.tracer("pipeline", s"$tier.put")(inner.put(dataType, df, query))
  }
  override def lookup(dataType: String, query: Query, spark: SparkSession): Option[DataFrame] = {
    val r = w.ctx.tracer("pipeline", s"$tier.lookup")(
      if (expired(dataType)) None else inner.lookup(dataType, query, spark))
    if (r.isDefined && w.servedBy == null) w.servedBy = tier
    r
  }
}

/** The providing source: each type is an oracle-covered SparkEntry query. */
final class QuerySource(types: Seq[String], dir: String, w: ServeWorkload) extends DataSource {
  private val fns = graft.SparkEntry.queries
  override def provides: Set[String] = types.toSet
  override def get(dataType: String, query: Query, spark: SparkSession): DataFrame =
    w.ctx.tracer("pipeline", "source.get") {
      if (w.servedBy == null) w.servedBy = "source"
      w.ctx.tracer(if (dataType.startsWith("p")) "pipeline" else "ops", dataType)(fns(dataType)(spark, dir))
    }
}

/** Closed-loop serving through a three-tier `DataPipeline`: one client,
  * Zipf-skewed gets, about 10% puts, and the memory tier replaced every
  * session as if the client restarted. Every `ExpireEvery`-th session
  * also expires the parquet entry of the type its first request gets, so
  * the source answers a steady share of the gets, not only the cold
  * start's misses. */
final class ServeWorkload(val ctx: Ctx, types: Seq[String] = ServeWorkload.Types,
    maxSessions: Int = Int.MaxValue, recordE2e: Boolean = true) extends Workload {
  import ctx.spark
  val SessionLen = 40
  val PutsPerSession = 4
  // odd, so expiring sessions fall on traced and untraced ones alike
  val ExpireEvery = 3
  @volatile var servedBy: String = null
  private val rng = new scala.util.Random(ctx.o.seed)
  private val zipf = {
    val w = types.indices.map(k => 1.0 / math.pow(k + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private def pickType(): String = types(zipf.indexWhere(_ >= rng.nextDouble()).max(0))

  // warm-up results: the source answers, the reference each put derives from
  private val warmRows = mutable.Map.empty[String, (StructType, Seq[Row])]
  private val versions = mutable.Map.empty[String, Int] // the version the tiers hold
  private val putCount = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** (type, served by, get ms, DataPipeline.get ms, digest, expected) */
  val getLog = mutable.ArrayBuffer.empty[(String, String, Double, Double, (Long, Long), (Long, Long))]
  val putLog = mutable.ArrayBuffer.empty[(String, Double)]

  def generate(dir: String): Unit = Gen.tables(spark, dir, ctx.o.seed, Sizes.tablesSf)
  def generateProbeInputs(dir: String): Unit = {
    Gen.documents(spark, dir, ctx.o.seed, Sizes.corpus)
    Gen.embeddings(spark, dir, ctx.o.seed, Sizes.vectors)
  }

  def warm(dir: String): Unit = {
    val fns = graft.SparkEntry.queries
    types.foreach { t =>
      val df = fns(t)(spark, dir)
      warmRows(t) = (df.schema, df.collect().toSeq)
    }
    ctx.release()
  }

  private def version(t: String, v: Int): Seq[Row] =
    warmRows(t)._2.filter(r => (MurmurHash3.stringHash(r.toString, v * 7919 + ctx.o.seed.toInt) & 7) != 0)

  private def expected(t: String): (Long, Long) = versions.get(t) match {
    case Some(v) => Workload.rowDigest(version(t, v))
    case None => Workload.rowDigest(warmRows(t)._2)
  }

  def measure(dir: String): Unit = {
    val base = s"${ctx.o.work}/tiers-${types.head}"
    val parquet = new TierSink(new ParquetDirSink(s"$base/parquet", types.toSet), "parquet", this)
    val source = new QuerySource(types, dir, this)
    val t0 = System.nanoTime()
    var session = 0
    while (session < maxSessions && (session == 0 || (System.nanoTime() - t0) / 1e9 < ctx.o.seconds)) {
      val traced = if (recordE2e) ctx.o.trace && session % 2 == 1 else true
      locally {
        val memory = new TierSink(new MemoryCacheSink(types.toSet), "memory", this)
        val pipe = new DataPipeline(Seq(Right(memory), Right(parquet), Left(source)))
        // request 0 is always a get
        val putAt = rng.shuffle((1 until SessionLen).toList).take(PutsPerSession).toSet
        val plan = Seq.fill(SessionLen)(pickType())
        if (session > 0 && session % ExpireEvery == 0) {
          parquet.expire(plan.head)
          versions -= plan.head // only the source can answer it now
        }
        var total = 0.0
        plan.zipWithIndex.foreach { case (t, i) =>
          if (putAt(i)) {
            putCount(t) += 1
            val v = putCount(t) // a new version even after an expiry
            val df = spark.createDataFrame(version(t, v).asJava, warmRows(t)._1)
            val ms = ctx.request("serve.put", traced, recordE2e) {
              val t0 = System.nanoTime()
              ctx.tracer("pipeline", "DataPipeline.put")(pipe.put(t, df))
              (System.nanoTime() - t0) / 1e6
            }
            versions(t) = v
            putLog += ((t, ms))
            if (recordE2e) ctx.res.puts += ((ms, traced))
            total += ms
          } else {
            servedBy = null
            val (rows, ms, callMs) = ctx.request("serve.get", traced, recordE2e) {
              val t0 = System.nanoTime()
              val df = ctx.tracer("pipeline", "DataPipeline.get")(pipe.get(t)(spark))
              val t1 = System.nanoTime()
              val planMs = ctx.plan(df)
              if (traced && recordE2e) ctx.res.planMs += planMs
              val rows = ctx.tracer("stage", "collect")(df.collect())
              (rows, (System.nanoTime() - t0) / 1e6, (t1 - t0) / 1e6)
            }
            val got = Workload.rowDigest(if (ctx.o.plant && getLog.isEmpty) rows.toSeq.drop(1) else rows.toSeq)
            getLog += ((t, servedBy, ms, callMs, got, expected(t)))
            if (recordE2e) ctx.res.gets += ((ms, traced))
            total += ms
          }
          ctx.res.attempted += 1
        }
        if (recordE2e) ctx.res.passes += ((total / 1e3, traced))
        ctx.release()
        session += 1
      }
    }
  }

  /** Coherence: each get returned the last version put for its type, or
    * the source's answer from the warm-up; those answers go to the DuckDB
    * oracle. */
  def check(dir: String): Unit = {
    getLog.filter { case (_, _, _, _, got, exp) => got != exp }
      .foreach { case (t, by, _, _, got, exp) =>
        ctx.res.fail(s"get $t (served by $by) returned $got, expected $exp") }
    val oracleSql = graft.SparkEntry.oracleSql
    types.foreach { t =>
      val path = s"${ctx.o.work}/check/$t"
      val (schema, rows) = warmRows(t)
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)
      ctx.res.oracle += ((t, path, oracleSql(t), getLog.count(_._1 == t).toLong))
    }
    val byTier = getLog.groupBy(_._2).map { case (k, v) => s"$k=${v.size}" }.mkString(", ")
    ctx.res.note(s"serve: ${getLog.size} gets ($byTier), ${putLog.size} puts over ${types.size} types")
    val (p95, _) = Main.tail95(getLog.map(_._3).toSeq)
    val tail = getLog.filter(_._3 >= p95).groupBy(_._2).map { case (k, v) => s"$k=${v.size}" }.mkString(", ")
    ctx.res.note(s"serve: the gets at or above p95 came from $tail")
    ctx.release()
  }
}

object ServeWorkload {
  /** Oracle-covered query types, most requested first: relational,
    * layout and table-format, Catalyst-rule and pipeline layers. */
  val Types: Seq[String] = Seq(
    "q3_join_agg", "q7_window_rank", "p1_pipeline_get", "q19_range_join",
    "q94_partition_prune", "q16_date_agg", "q85_snapshot_cdf", "q97_catalyst_table",
    "q9_semi_join", "p3_validated_get", "q99_time_slice", "q21_topk_per_group")

  /** Types over the corpus and vectors, for the layer probe of the batch
    * workloads. */
  val ProbeTypes: Seq[String] = Seq(
    "t1_token_count", "d1_exact_dedup", "s4_embed_dimstats", "t2_quality_score")
}
