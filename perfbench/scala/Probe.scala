package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.functions._

/** The traced run's layer probe: each public kernel alone on the
  * generated columns (ns per row) and each pair operator alone on the
  * generated inputs (seconds), plus, for the batch workloads, a short
  * serving session so the pipeline layer is measured on every workload. */
final class LayerProbe(ctx: Ctx, w: Workload, dir: String) extends AdaptiveSparkPlanHelper {
  import ctx.spark
  private def put(name: String, v: Double, unit: String): Unit = ctx.res.layer(name) = (v, unit)
  /** Sum of the kernels' output sizes, kept so the JIT cannot drop them. */
  var outBytes = 0L

  def run(): Unit = {
    kernels()
    operators()
    if (!w.isInstanceOf[ServeWorkload]) {
      val s = new ServeWorkload(ctx, ServeWorkload.ProbeTypes, maxSessions = 2, recordE2e = false)
      s.warm(dir)
      s.measure(dir)
      s.check(dir)
      ctx.serving = Some(s)
    }
  }

  /** ns per row of one public kernel, run alone: the kernel's bound,
    * code-generated projection applied on one thread to the generated
    * input rows until 100 ms have passed; median of three such rounds
    * after a warm-up round. */
  private def perRow(name: String, input: DataFrame, kernel: Column): Unit =
    ctx.request(s"probe.$name", traced = true, loop = false) {
      ctx.tracer(name.takeWhile(_ != '.'), name) {
        val plan = input.select(kernel.as("k")).queryExecution.analyzed.asInstanceOf[Project]
        val proj = UnsafeProjection.create(
          Seq(BindReferences.bindReference(plan.projectList.head, plan.child.output)))
        val rows = input.queryExecution.toRdd.map(_.copy()).collect()
        def round(): Double = {
          val t0 = System.nanoTime()
          var n = 0L
          while (System.nanoTime() - t0 < 100000000L) {
            rows.foreach(r => outBytes += proj(r).getSizeInBytes)
            n += rows.length
          }
          (System.nanoTime() - t0).toDouble / n
        }
        round()
        put(s"${name}_ns", Main.median(Seq(round(), round(), round())), "ns")
      }
    }

  private def kernels(): Unit = {
    val docs = graft.Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val text = docs.select(col("text"))
    // 60-char tail keys of neighbouring documents: the edit verify's input
    val key = rpad(substring(col("text"), -60, 60), 60, "\u0001")
    val keys = docs.select(col("doc_id"), key.as("a"))
    val pairs = keys.join(keys.select((col("doc_id") - 1).as("doc_id"), col("a").as("b")), "doc_id")
      .select(col("a"), col("b"))
    perRow("functions.levenshtein", pairs, levenshtein(col("a"), col("b"), graft.dedup.Dedup.D15K))
    perRow("functions.shingle", text, shingleHashes(col("text")))
    perRow("functions.minhash", text.select(shingleHashes(col("text")).as("sh")),
      minHashSignature(col("sh"), graft.dedup.Dedup.MinHashPerms))
    perRow("functions.char_fold", text, charFoldHash(col("text")))
    perRow("functions.simhash", text, simHashBits(col("text"), 64))
    perRow("text.quality", text, graft.text.TextOps.qualityScore(col("text")))

    val vecs = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sig = (c: Column) => array((0 until 4).map(k => xxhash64(c, lit(k))): _*)
    val vpairs = vecs.join(vecs.select((col("vec_id") - 1).as("vec_id"), col("v").as("u")), "vec_id")
      .select(col("v"), col("u"), sig(col("v")).as("sv"), sig(col("u")).as("su"))
    perRow("functions.dot", vpairs, dot(col("v"), col("u")))
    perRow("functions.cosine", vpairs, cosine(col("v"), col("u")))
    perRow("functions.bit_hamming", vpairs, bitHamming(col("sv"), col("su")))

    ctx.request("probe.text.rowgates", traced = true, loop = false) {
      val c = ctx.call("text.rowgates", "text",
        graft.ops.Curation.rowGates(graft.Tables(spark, dir, "documents")))
      put("text.rowgates_s", c.getMs / 1e3, "s")
    }
    ctx.release()
  }

  private def operators(): Unit = {
    import graft.dedup.Dedup
    val ops: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
      ("dedup.d19_edit_s", "dedup", Dedup.d19EditDedupAuto _),
      ("dedup.d21_substring_s", "dedup", Dedup.d21SubstringDedup _),
      ("dedup.d12_estimate_s", "dedup", Dedup.d12EstimateDedup _),
      ("dedup.d9_segment_s", "dedup", Dedup.d9SegmentDedup _),
      ("dedup.d10_contain_s", "dedup", Dedup.d10Containment _),
      ("dedup.d20_semantic_s", "dedup", Dedup.d20SemanticDedup _),
      ("dedup.d5_embed_s", "dedup", Dedup.d5EmbeddingDedup _),
      ("dedup.d14_simhash_s", "dedup", Dedup.d14EmbeddingSimhash _),
      ("similarity.s15_knn_s", "similarity", graft.similarity.Similarity.s15KnnGraph _),
      ("multimodal.m6_phash_s", "multimodal",
        (s: SparkSession, d: String) => graft.multimodal.Multimodal.m6PhashNearDup(s, d)))
    ops.foreach { case (name, layer, f) =>
      ctx.request(s"probe.$name", traced = true, loop = false) {
        val c = ctx.call(name, layer, f(spark, dir))
        put(name, c.getMs / 1e3, "s")
        if (name == "dedup.d5_embed_s") put("dedup.pair_yield", pairYield(c), "ratio")
      }
      ctx.release()
    }
  }

  /** Verified pairs ÷ candidate pairs: the output rows over the largest
    * join output in the executed plan (0 when no join metric is exposed). */
  private def pairYield(c: Call): Double = {
    val joinRows = c.qes.flatMap(qe => collectWithSubqueries(qe.executedPlan) {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    })
    val cand = if (joinRows.isEmpty) 0L else joinRows.max
    if (cand == 0) 0.0 else c.rows.toDouble / cand
  }
}
