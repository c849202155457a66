package perfbench

import scala.collection.mutable

import Main.{median, tail95}

/** Turns a run's records into the named metrics and writes result.json. */
object Metrics {
  type M = mutable.LinkedHashMap[String, (Double, String)]

  private def loopE2e(ctx: Ctx, traced: Boolean, serve: Boolean): M = {
    val r = ctx.res
    val gets = r.gets.collect { case (v, t) if t == traced => v }.toSeq
    val puts = r.puts.collect { case (v, t) if t == traced => v }.toSeq
    val passes = r.passes.collect { case (v, t) if t == traced => v }.toSeq
    // batch puts are the tail of their get; serving puts are requests
    val requestMs = gets.sum + (if (serve) puts.sum else 0.0)
    val requests = gets.size + (if (serve) puts.size else 0)
    // serving sessions differ by design (the cold start, expiring
    // sessions), so their mean is the time per session; batch passes
    // repeat the same work, so their median is
    val passS = if (serve) passes.sum / passes.size else median(passes)
    mutable.LinkedHashMap(
      "pass_s" -> (passS, "s"),
      "get_p50_ms" -> (median(gets), "ms"),
      "get_p95_ms" -> (tail95(gets)._1, "ms"),
      "put_p50_ms" -> (median(puts), "ms"),
      "ops_per_s" -> (requests / (requestMs / 1e3), "1/s"))
  }

  def endToEnd(ctx: Ctx, setupS: Double): M = {
    val serve = ctx.o.workload == "pipeline_serve"
    val m = mutable.LinkedHashMap[String, (Double, String)]("setup_s" -> (setupS, "s"))
    m ++= loopE2e(ctx, traced = false, serve)
    m("peak_rss_mb") = (Proc.peakRssMb(), "MB")
    val gets = ctx.res.gets.count(!_._2)
    ctx.res.note(f"get_p95_ms is the p${100 * tail95(ctx.res.gets.filter(!_._2).map(_._1).toSeq)._2}%.1f of $gets gets")
    def list(xs: Seq[(Double, Boolean)]) = xs.filter(!_._2).map(x => f"${x._1}%.3f").mkString(" ")
    ctx.res.note(s"untraced passes (s): ${list(ctx.res.passes.toSeq)}")
    if (!serve) ctx.res.note(s"untraced puts (ms): ${list(ctx.res.puts.toSeq)}")
    m
  }

  def perLayer(ctx: Ctx, e2e: M, loadStart: Double, loadEnd: Double): M = {
    val serve = ctx.o.workload == "pipeline_serve"
    val m: M = mutable.LinkedHashMap.empty
    val reqs = ctx.tracedReqs.toSet
    val nPass = math.max(1, ctx.res.passes.count(_._2))
    val nGet = math.max(1, ctx.res.gets.count(_._2))
    val wallS = ctx.res.passes.filter(_._2).map(_._1).sum
    val c = ctx.counters.totals(reqs)
    Seq("jobs", "stages", "tasks").foreach(k => m(s"stage.$k") = (c(k) / nPass, "count"))
    m("stage.jobs_per_get") = (c("jobs") / nGet, "count")
    m("stage.stages_per_get") = (c("stages") / nGet, "count")
    m("stage.task_cpu_s") = (c("task_cpu_s") / nPass, "s")
    m("stage.task_run_s") = (c("task_run_s") / nPass, "s")
    Seq("shuffle_read_mb", "shuffle_write_mb", "spill_mb").foreach(k => m(s"stage.$k") = (c(k) / nPass, "MB"))
    m("stage.task_skew") = (c("task_skew"), "ratio")
    m("stage.core_busy") = (c("task_run_s") / math.max(1e-9, wallS * ctx.cores), "ratio")
    m("stage.storage_peak_mb") = (ctx.storagePeakB / 1e6, "MB")
    m("plans.plan_ms") = (median(ctx.res.planMs.toSeq), "ms")

    ctx.serving.foreach { s =>
      val gets = s.getLog.toSeq
      def frac(t: String) = gets.count(_._2 == t).toDouble / math.max(1, gets.size)
      def tierMs(t: String) = median(gets.filter(_._2 == t).map(_._3)) match { case v if v.isNaN => 0.0; case v => v }
      m("pipeline.get_call_ms") = (median(gets.map(_._4)), "ms")
      Seq("memory", "parquet", "source").foreach { t =>
        m(s"pipeline.${t}_frac") = (frac(t), "ratio")
        m(s"pipeline.${t}_get_ms") = (tierMs(t), "ms")
      }
      m("pipeline.put_call_ms") = (median(s.putLog.map(_._2).toSeq), "ms")
    }
    m ++= ctx.res.layer

    // self time per layer over the traced loop, as a share of it
    val self = ctx.tracer.selfSeconds(s => reqs(s.req))
    val total = math.max(1e-9, self.values.sum)
    def share(layers: String*) = layers.map(self.getOrElse(_, 0.0)).sum / total
    m("self.bench_share") = (share("bench"), "ratio")
    m("self.pipeline_share") = (share("pipeline"), "ratio")
    m("self.call_share") = (share("ops", "dedup", "similarity", "multimodal"), "ratio")
    m("self.plans_share") = (share("plans"), "ratio")
    m("self.stage_share") = (share("stage"), "ratio")
    ctx.res.note("self time per layer over the traced loop (s): " +
      self.toSeq.sortBy(-_._2).map { case (l, v) => f"$l=$v%.3f" }.mkString(", "))

    // the batch passes call into dedup/text/similarity/multimodal inside
    // graft; the same operators called alone say how much of a pass they
    // can account for
    val family = ctx.o.workload match {
      case "curate" => Seq("dedup.d19_edit_s", "dedup.d21_substring_s", "dedup.d12_estimate_s",
        "dedup.d9_segment_s", "dedup.d10_contain_s", "text.rowgates_s")
      case "vector_pairs" => Seq("dedup.d20_semantic_s", "dedup.d5_embed_s", "dedup.d14_simhash_s",
        "multimodal.m6_phash_s")
      case _ => Nil
    }
    if (family.nonEmpty) {
      val pass = median(ctx.res.passes.filter(_._2).map(_._1).toSeq)
      ctx.res.note(f"operators called alone sum to ${family.map(m(_)._1).sum / pass}%.2f of a traced pass (${family.mkString(" + ")})")
    }

    val traced = loopE2e(ctx, traced = true, serve)
    traced.foreach { case (k, (v, u)) => m(s"overhead.$k") = (v - e2e(k)._1, u) }
    m("load.start_s") = (loadStart, "s")
    m("load.end_s") = (loadEnd, "s")
    val (exact, vary) = ctx.counters.exactness(
      if (serve) Nil else ctx.tracedReqs.toSeq)
    if (!serve) ctx.res.note(s"stage counters exact across traced passes: ${exact.mkString(", ")}; varying: ${vary.mkString(", ")}")
    m
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def writeResult(path: String, o: Opts, inputs: String, r: Result, metrics: M,
      loadStart: Double, loadEnd: Double): Unit = {
    val ms = metrics.map { case (k, (v, u)) => s""""${esc(k)}": {"value": ${num(v)}, "unit": "${esc(u)}"}""" }
    val oracle = r.oracle.map { case (n, p, sql, dep) =>
      s"""{"name": "${esc(n)}", "path": "${esc(p)}", "sql": "${esc(sql)}", "dependents": $dep}""" }
    val notes = r.notes.map(n => "\"" + esc(n) + "\"")
    val json =
      s"""{"workload": "${esc(o.workload)}", "seed": ${o.seed}, "trace": ${o.trace}, "inputs": "${esc(inputs)}",
         |"attempted": ${r.attempted}, "failed": ${r.failed},
         |"load": {"start_s": ${num(loadStart)}, "end_s": ${num(loadEnd)}},
         |"metrics": {${ms.mkString(", ")}},
         |"oracle": [${oracle.mkString(", ")}],
         |"notes": [${notes.mkString(", ")}]}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}
