package perfbench

import scala.collection.mutable

/** Per-layer metrics of the measured phase, from the spans, the meter's
  * job and scan counters, the streaming progress reports and the
  * workload's own counters. Every name is always present (0 where a
  * workload bypasses the layer), and the bypass predictions are checked. */
object Layers {

  def collect(ctx: Ctx): Map[String, Double] = {
    ctx.meter.foreach(_ => Meter.drainEvents(ctx.spark))
    val cells = ctx.meter.map(_.cellsOf("measure")).getOrElse(Map.empty)
    val none = new Cell
    def c(layer: String) = cells.getOrElse(layer, none)
    val spans = ctx.tracer.all.filter(s => s.startNs >= ctx.measureStartNs && s.endNs <= ctx.measureEndNs)
    def spanS(layer: String) = spans.filter(_.layer == layer).map(_.seconds).sum
    def spanN(layer: String, name: String) = spans.count(s => s.layer == layer && s.name == name).toDouble
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val k = ctx.ctr
    val m = mutable.LinkedHashMap.empty[String, Double]

    m("parse.posts") = k("parse.posts")
    m("parse.lines") = k("parse.lines")
    m("parse.refused_posts") = k("parse.refused_posts")
    m("parse.busy_s") = spanS("parse")

    val silverS = c("silver").jobWallNs / 1e9
    val goldS = c("gold").jobWallNs / 1e9
    val (durB, batchesB, rowsB) = ctx.streamBefore
    val (durA, batchesA, rowsA) = ctx.streamAfter
    def dur(keys: String*) = keys.map(x => durA.getOrElse(x, 0L) - durB.getOrElse(x, 0L)).sum / 1000.0
    val rowsIn = (rowsA - rowsB).toDouble
    m("streaming.drains") = spanN("streaming", "drain")
    m("streaming.batches") = (batchesA - batchesB).toDouble
    m("streaming.input_rows") = rowsIn
    m("streaming.bronze_files") = k("streaming.bronze_files")
    m("streaming.busy_s") = spanS("streaming")
    m("streaming.self_s") = math.max(0.0, spanS("streaming") - silverS - goldS)
    m("streaming.list_s") = dur("latestOffset", "getBatch")
    m("streaming.plan_s") = dur("queryPlanning")
    m("streaming.add_batch_s") = dur("addBatch")
    m("streaming.log_s") = dur("walCommit", "commitOffsets")

    val sv = c("silver")
    m("silver.jobs") = sv.jobs.toDouble
    m("silver.busy_s") = silverS
    m("silver.rows_in") = rowsIn
    m("silver.rows_rejected") = math.max(0.0, rowsIn - k("silver.accepted"))
    m("silver.rows_written") = sv.recordsWritten.toDouble
    m("silver.bytes_read") = sv.scanBytes("silver").toDouble
    m("silver.bytes_written") = sv.bytesWritten.toDouble
    m("silver.rewrite_ratio") = ratio(sv.recordsWritten, k("silver.accepted"))
    m("silver.executor_cpu_s") = sv.cpuNs / 1e9
    m("silver.shuffle_write_bytes") = sv.shuffleWrite.toDouble

    val gd = c("gold")
    m("gold.jobs") = gd.jobs.toDouble
    m("gold.busy_s") = goldS
    m("gold.days_recomputed") = gd.recordsWritten.toDouble
    m("gold.silver_rows_scanned") = gd.scanRows("silver").toDouble
    m("gold.scan_ratio") = ratio(gd.scanRows("silver"), k("gold.silver_rows_in_days"))

    Seq("versions", "data_files", "bytes", "latest_ms").foreach(x => m(s"txtable.$x") = k(s"txtable.$x"))

    val ql = c("quality")
    m("quality.runs") = k("quality.runs")
    m("quality.jobs") = ql.jobs.toDouble
    m("quality.busy_s") = spanS("quality")
    m("quality.rows_scanned") = ql.scanRows.values.sum.toDouble
    m("quality.error_violations") = k("quality.error_violations")
    m("quality.warn_violations") = k("quality.warn_violations")

    val sr = c("serve")
    val calls = spanN("serve", "range") + spanN("serve", "serve")
    val rowsScanned = sr.scanRows.values.sum.toDouble
    m("serve.calls") = calls
    m("serve.refused") = k("serve.refused")
    m("serve.busy_s") = spanS("serve")
    m("serve.plan_ms") = ratio(sr.planMs, calls)
    m("serve.jobs_per_call") = ratio(sr.jobs, calls)
    m("serve.files_read") = sr.scanFiles.values.sum.toDouble
    m("serve.rows_returned") = k("serve.rows_returned")
    m("serve.rows_scanned") = rowsScanned
    m("serve.scan_ratio") = ratio(rowsScanned, k("serve.rows_returned"))

    Seq("build_s", "snapshot_rows", "calls", "p50_ms").foreach(x => m(s"serve_cache.$x") = k(s"serve_cache.$x"))
    m("serve_cache.busy_s") = spanS("serve_cache")

    val op = c("ops")
    m("ops.queries") = k("ops.queries")
    m("ops.failed") = k("ops.failed")
    m("ops.plan_s") = op.planMs / 1000.0
    m("ops.jobs") = op.jobs.toDouble
    m("ops.stages") = op.stages.toDouble
    m("ops.executor_run_s") = op.runMs / 1000.0
    m("ops.shuffle_bytes") = (op.shuffleRead + op.shuffleWrite).toDouble
    m("ops.spill_bytes") = op.spill.toDouble
    m("ops.tail_s") = k("ops.tail_s")
    m("ops.total_s") = k("ops.total_s")
    Workloads.CostliestQueries.foreach(q => m(s"ops.${q}_s") = k(s"ops.${q}_s"))

    val all = cells.values.toSeq
    def sum(f: Cell => Long) = all.map(f).sum.toDouble
    val jobWall = sum(_.jobWallNs)
    m("spark.jobs") = sum(_.jobs)
    m("spark.stages") = sum(_.stages)
    m("spark.tasks") = sum(_.tasks)
    m("spark.executor_run_s") = sum(_.runMs) / 1000
    m("spark.executor_cpu_s") = sum(_.cpuNs) / 1e9
    m("spark.sched_delay_s") = sum(_.schedMs) / 1000
    m("spark.gc_s") = sum(_.gcMs) / 1000
    m("spark.shuffle_read_bytes") = sum(_.shuffleRead)
    m("spark.shuffle_write_bytes") = sum(_.shuffleWrite)
    m("spark.spill_bytes") = sum(_.spill)
    m("spark.unattributed_job_share") = ratio(c(Meter.Unattributed).jobWallNs, jobWall)

    m("gen.posts_sent") = k("gen.posts_sent")
    m("gen.late_p99_s") = k("gen.late_p99_s")
    m("gen.late_max_s") = k("gen.late_max_s")

    // self time of the main thread's layers; the generator thread runs
    // beside them, so parse time is not part of this sum
    m("bench.busy_s") = spanS("bench") - spans.filter(s => s.layer == "bench" && s.name == "land-post").map(_.seconds).sum
    val selfSum = m("streaming.self_s") + silverS + goldS + m("quality.busy_s") + m("serve.busy_s") +
      m("serve_cache.busy_s") + spanS("ops") + m("bench.busy_s")
    m("trace.phase_wall_s") = ctx.measureWallS
    m("trace.self_sum_s") = selfSum
    m("trace.unattributed_share") = math.max(0.0, 1.0 - ratio(selfSum, ctx.measureWallS))

    bypassChecks(ctx, m)
    m.toMap
  }

  /** The "predicted flat" cells of the interaction table, checked at run
    * time: a workload that should bypass a layer must show no work there. */
  private def bypassChecks(ctx: Ctx, m: collection.Map[String, Double]): Unit = {
    def zero(names: String*): Unit = names.foreach { n =>
      ctx.check(m(n) == 0.0, s"sanity: ${ctx.o.workload} should bypass $n, measured ${m(n)}")
    }
    ctx.o.workload match {
      case "serve" =>
        // serve's set-up is exactly one drain, into empty targets: no
        // existing silver for the merge to read (trickle's set-up adds a
        // warm-up cycle that does merge)
        val read = ctx.meter.flatMap(_.cellsOf("setup").get("silver")).map(_.scanBytes("silver")).getOrElse(0L)
        ctx.check(read == 0, s"sanity: the set-up drain into an empty silver read $read B of an existing target")
        zero("parse.posts", "parse.busy_s", "silver.jobs", "silver.busy_s", "gold.jobs",
        "gold.busy_s", "streaming.drains", "ops.queries")
      case "trickle" =>
        zero("ops.queries")
        ctx.check(m("gen.late_max_s") <= Workloads.GenLateBoundS,
          f"sanity: the trickle generator ran ${m("gen.late_max_s")}%.3f s late, above the ${Workloads.GenLateBoundS}%.1f s bound")
      case "operators" => zero("parse.posts", "silver.jobs", "gold.jobs", "streaming.drains", "serve.calls")
      case _ => ()
    }
  }
}
