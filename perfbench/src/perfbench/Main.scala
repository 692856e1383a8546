package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <trickle|serve|operators> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file> --root <checkout>
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per named end-to-end
  * metric, then, as the last line, the result object. Untraced runs
  * report the end-to-end metrics, traced runs every per-layer metric.
  * Writes the full report (stamp, spans, every counter) to `--out`.
  * Exits 1 when a correctness check fails. */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, root: Path, extra: Map[String, String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      Paths.get(need("root")).toAbsolutePath, kv)
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    deleteTree(o.work); Files.createDirectories(o.work)
    val t0 = System.nanoTime()
    val spark = session(cpus, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tables = Map("silver" -> "/silver", "gold" -> "/gold", "bronze" -> "/bronze",
      "testdata" -> "/testdata/")
    val meter = if (o.trace) Some(Meter.install(spark, tables)) else None
    val ctx = new Ctx(spark, o, new Tracer(o.trace, spark.sparkContext), meter)
    val res =
      try {
        if (o.extra.contains("record-ops")) {
          val names = o.extra.get("queries").map(_.split(",").toSeq).getOrElse(Nil)
          Workloads.recordOps(ctx, names, Paths.get(o.extra("record-ops")))
          spark.stop()
          sys.exit(0)
        }
        o.workload match {
          case "trickle" => Workloads.trickle(ctx)
          case "serve" => Workloads.serve(ctx)
          case "operators" => Workloads.operators(ctx)
          case w => sys.error(s"unknown workload '$w'")
        }
      } catch {
        case e: Throwable =>
          ctx.fail(s"workload aborted: $e")
          e.printStackTrace()
          null
      }
    val exit = report(ctx, res, sessionS, cpus)
    spark.stop()
    deleteTree(o.work)
    sys.exit(exit)
  }

  /** What a workload hands back: its unit-of-work samples, the live heap
    * after the measured phase, and the named metrics it reports. */
  final case class Result(
      unit: String, samplesMs: Seq[Double], heapMb: Double,
      named: Seq[(String, Double, String)], params: Map[String, Any])

  private def report(ctx: Ctx, res: Result, sessionS: Double, cpus: Int): Int = {
    val spark = ctx.spark
    val o = ctx.o
    val layers: Map[String, Double] =
      if (o.trace && res != null) Layers.collect(ctx) else Map.empty
    val ok = res != null && ctx.failures.isEmpty && res.samplesMs.nonEmpty
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (res != null && res.samplesMs.nonEmpty) {
      val xs = res.samplesMs.sorted
      e2e("setup_s") = (sessionS + ctx.setupS, "s")
      e2e("p50_ms") = (Stats.median(xs), "ms")
      e2e("mean_ms") = (xs.sum / xs.size, "ms")
      e2e("heap_live_mb") = (res.heapMb, "MB")
    }
    val metrics = if (o.trace) layers.map { case (k, v) => k -> (v, "") } else e2e.toMap
    // stdout: named metrics, then the one result line
    if (res != null) {
      res.named.foreach { case (n, v, u) => println(f"metric $n%s $v%.6f $u%s") }
      e2e.foreach { case (n, (v, u)) => println(f"metric $n%s $v%.6f $u%s") }
    }
    ctx.failures.asScala.foreach(f => println(s"check FAILED: $f"))
    val stamp = Map[String, Any](
      "nproc" -> cpus,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "commit" -> o.extra.getOrElse("commit", "unknown"),
      "source_digest" -> o.extra.getOrElse("source-digest", "unknown"),
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace)
    val full = Map[String, Any](
      "stamp" -> stamp,
      "params" -> Option(res).map(_.params).getOrElse(Map.empty),
      "unit" -> Option(res).map(_.unit).getOrElse(""),
      "samples" -> Option(res).map(r => r.samplesMs.size).getOrElse(0),
      "samples_ms" -> Option(res).map(_.samplesMs).getOrElse(Nil),
      "tail_percentile" -> Option(res).filter(_.samplesMs.nonEmpty)
        .map(r => Stats.tail(r.samplesMs.sorted)._2).getOrElse(0.0),
      "session_s" -> sessionS,
      "measure_s" -> ctx.measureWallS,
      "workload_setup_s" -> ctx.setupS,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "named" -> Option(res).map(_.named.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
        .getOrElse(Map.empty),
      "per_layer" -> layers,
      "checks_failed" -> ctx.failures.asScala.toList,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "spans" -> ctx.tracer.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.createDirectories(o.out.getParent)
    Files.write(o.out, Json.write(full).getBytes("UTF-8"))
    val result = Map[String, Any](
      "correct" -> ok,
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    println(Json.write(result))
    if (ok) 0 else 1
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def dirFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count()
      finally s.close()
    }

  /** Lands a file in a directory a file stream watches: written beside
    * it, then renamed in, so the source never lists a partial file. */
  def landFile(dir: Path, staging: Path, name: String, content: String): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Per-run state shared by a workload and the report. */
final class Ctx(
    val spark: SparkSession, val o: Main.Opts, val tracer: Tracer, val meter: Option[Meter]) {
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Workload-side per-layer counters (the parts no Spark listener sees). */
  val ctr = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var attempted = 0L
  var failed = 0L
  /** Wall time of the workload's set-up, after the session started. */
  var setupS = 0.0
  /** Wall time of the measured phase on the main thread. */
  var measureWallS = 0.0
  var measureStartNs = 0L
  var measureEndNs = 0L
  /** Streaming progress totals at the start and end of the measured phase. */
  var streamBefore: (Map[String, Long], Long, Long) = (Map.empty, 0L, 0L)
  var streamAfter: (Map[String, Long], Long, Long) = (Map.empty, 0L, 0L)

  def fail(msg: String): Unit = failures.add(msg)
  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)
  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def measure[T](body: => T): T = {
    meter.foreach { m => Meter.drainEvents(spark); streamBefore = m.streamTotals }
    tracer.phase("measure")
    measureStartNs = System.nanoTime()
    val r = tracer.span("measure", "phase")(body)
    measureEndNs = System.nanoTime()
    measureWallS = (measureEndNs - measureStartNs) / 1e9
    tracer.phase("check")
    meter.foreach { m => Meter.drainEvents(spark); streamAfter = m.streamTotals }
    r
  }

  /** Driver heap in use after full GCs: the least of three readings, each
    * after a GC and a short pause, because Spark frees broadcast and
    * shuffle blocks from a cleaner thread only once their owners are
    * collected. */
  def heapLiveMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile; with fewer than 20 samples, the maximum (percentile 100). */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n < 20) (sorted.last, 100.0)
    else { val i = n - 11; (sorted(i), 100.0 * (i + 1) / n) }
  }

  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.size - 1, (q * sorted.size).toInt))
}

/** Minimal JSON writer for the report (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ": " + write(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\r' => b.append("\\r"); case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
