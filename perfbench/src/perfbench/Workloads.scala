package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.parse.LineParser
import graft.pipeline.{Quality, Serve, ServeCache, SensorPipeline, TxTable}
import graft.streaming.StreamingPipeline

/** The workloads. Each builds its inputs from the seed, sets up, measures
  * for `--seconds`, then checks the program's outputs against the
  * generator. */
object Workloads {
  import Main.{Result, deleteTree, dirBytes, dirFiles, landFile}

  val BadLineShare = 0.02
  // trickle and serve: the store built in set-up by one cold drain of a
  // seeded backlog into empty targets
  val StoreLines = 600000
  val StoreFiles = 8
  // trickle: open-loop POST generator
  val PostRate = 10.0
  val LinesPerPost = 4
  val LateShare = 0.10
  val MaxLateDays = Gen.Days - 2
  val BadPostShare = 0.05
  val GenLateBoundS = 1.0
  // serve: window length in days -> requests per block (0 = invalid)
  val BlockMix: Map[Int, Int] = Map(1 -> 7, 7 -> 1, 28 -> 1, 0 -> 1)
  val BlockSize: Int = BlockMix.values.sum
  val MinBlocks = 2
  val ServeSpanShare = 0.8
  // operators: shipped testdata scale and expected results
  val OpsScale = "sf0.001"
  val OpsExpected = "perfbench/ops_expected.tsv"
  val MinPasses = 3

  final class Store(val dir: Path) {
    val bronze: Path = dir.resolve("bronze")
    val staging: Path = dir.resolve("staging")
    val silver: String = dir.resolve("silver").toString
    val gold: String = dir.resolve("gold").toString
    val ckpt: String = dir.resolve("ckpt").toString
    Files.createDirectories(bronze); Files.createDirectories(staging)

    def drain(ctx: Ctx): Unit = ctx.span("drain", "streaming") {
      StreamingPipeline.runBronzeToSilverAvailableNow(
        ctx.spark, bronze.toString, silver, ckpt, Some(gold))
    }
    def silverDf(ctx: Ctx): DataFrame = ctx.spark.read.parquet(silver)
    def goldDf(ctx: Ctx): DataFrame = TxTable.read(ctx.spark, gold)
  }

  def landBacklog(s: Store, files: Array[String]): Unit =
    files.zipWithIndex.foreach { case (c, i) => landFile(s.bronze, s.staging, f"backlog-$i%03d.txt", c) }

  /** Runs the set-up once, timed, as the `setup` phase. */
  private def setup[T](ctx: Ctx)(body: => T): T = {
    ctx.tracer.phase("setup")
    val (r, sec) = ctx.timeS(ctx.span("setup", "setup")(body))
    ctx.setupS = sec
    ctx.ctr.clear()
    r
  }

  private def deadline(ctx: Ctx, share: Double = 1.0): Long =
    System.nanoTime() + (ctx.o.seconds * share * 1e9).toLong

  // ---------------------------------------------------------------- checks

  /** The daily Power mart computed directly from the accepted lines: per
    * day with both metrics, avg(Voltage) * avg(Current). */
  def referenceGold(acc: Gen.Readings): Map[String, Double] = {
    val (sum, n) = (acc.sum, acc.count)
    (0 until Gen.Days).filter(d => n(0)(d) > 0 && n(1)(d) > 0)
      .map(d => Gen.dayString(d) -> (sum(0)(d) / n(0)(d)) * (sum(1)(d) / n(1)(d))).toMap
  }

  private def byDay(df: DataFrame): Seq[(String, Double)] =
    df.select(col("reading_date").cast("string"), col("metric_value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq

  /** Silver holds exactly the accepted lines (same count, and
    * `SensorPipeline.silverToGold` over it equals the mart computed from
    * the generator's lines), and gold equals that recompute: exactly-once
    * through both layers. Doubles agree to 1e-9 relative, since sums run
    * in a different order. */
  def checkStore(ctx: Ctx, s: Store, acc: Gen.Readings): Unit = ctx.span("check-store", "bench") {
    val silver = s.silverDf(ctx)
    val silverN = silver.count()
    ctx.check(silverN == acc.n, s"silver has $silverN rows, the generator accepted ${acc.n} lines")
    val ref = referenceGold(acc)
    def same(what: String, rows: Seq[(String, Double)]): Unit = {
      val got = rows.toMap
      ctx.check(got.size == rows.size, s"$what repeats a day")
      ctx.check(got.keySet == ref.keySet,
        s"$what days differ from the accepted lines: ${(got.keySet diff ref.keySet).take(3)} / ${(ref.keySet diff got.keySet).take(3)}")
      ref.foreach { case (d, e) =>
        got.get(d).foreach(a =>
          ctx.check(math.abs(a - e) <= 1e-9 * math.max(1.0, math.abs(e)), s"$what $d is $a, the accepted lines give $e"))
      }
    }
    same("silverToGold(silver)", byDay(SensorPipeline.silverToGold(silver)))
    same("gold", byDay(s.goldDf(ctx)))
  }

  def quality(ctx: Ctx, s: Store): Unit = ctx.span("quality", "quality") {
    Seq(s.silverDf(ctx) -> Quality.silverChecks, s.goldDf(ctx) -> Quality.goldChecks).foreach {
      case (df, checks) =>
        ctx.ctr("quality.runs") += 1
        try ctx.ctr("quality.warn_violations") += Quality.assertAll(df, checks).map(_._2).sum
        catch {
          case q: Quality.QualityFailure =>
            ctx.ctr("quality.error_violations") += q.failing.map(_._2).sum
            ctx.fail(q.getMessage)
        }
    }
  }

  /** TxTable state of the gold root, and `TxTable.latest` timed directly. */
  def txtableCounters(ctx: Ctx, s: Store): Unit = {
    val times = (1 to 7).map(_ => ctx.timeS(TxTable.latest(ctx.spark, s.gold))._2 * 1000)
    ctx.ctr("txtable.latest_ms") = Stats.median(times)
    ctx.ctr("txtable.versions") = TxTable.latest(ctx.spark, s.gold)._1.toDouble
    ctx.ctr("txtable.data_files") = dirFiles(java.nio.file.Paths.get(s.gold), ".parquet").toDouble
    ctx.ctr("txtable.bytes") = dirBytes(java.nio.file.Paths.get(s.gold)).toDouble
  }

  // --------------------------------------------------------------- trickle

  /** Open-loop POST generator: bodies are due on a fixed schedule whether
    * or not the pipeline keeps up; each goes through `Serve.postData` and,
    * if accepted, lands as one bronze file. Per-post arrays are sized up
    * front and published through the volatile `landed` count. */
  final class PostGen(ctx: Ctx, store: Store, seed: Long, startNs: Long, stopNs: Long)
      extends Thread("perfbench-post-generator") {
    val periodNs: Long = (1e9 / PostRate).toLong
    val maxPosts: Int = ((stopNs - startNs) / periodNs + 1).toInt
    val dueNs = new Array[Long](maxPosts)
    val lateNs = new Array[Long](maxPosts)
    val bad = new Array[Boolean](maxPosts)
    val refused = new Array[Boolean](maxPosts)
    val newestLines = new Array[Int](maxPosts)
    val dayLines: Array[Array[Int]] = Array.fill(maxPosts)(Array.emptyIntArray)
    val acc = new Gen.Readings
    @volatile var landed = 0
    @volatile var error: Throwable = null

    override def run(): Unit =
      try {
        val r = new SplittableRandom(seed)
        var k = 0
        while (k < maxPosts && startNs + k * periodNs < stopNs) {
          val due = startNs + k * periodNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          dueNs(k) = due
          lateNs(k) = now - due
          post(r, k)
          k += 1
          landed = k
        }
      } catch { case t: Throwable => error = t }

    private def post(r: SplittableRandom, k: Int): Unit = {
      bad(k) = r.nextDouble() < BadPostShare
      val badAt = if (bad(k)) r.nextInt(LinesPerPost) else -1
      val days = new Array[Int](LinesPerPost)
      val readings = (0 until LinesPerPost).map { i =>
        val day = if (r.nextDouble() < LateShare) Gen.Days - 2 - r.nextInt(MaxLateDays) else Gen.Days - 1
        days(i) = day
        if (i == badAt) Left(Gen.badPostLine(r, day)) else Right(Gen.reading(r, day))
      }
      val body = readings.map(_.fold(identity, { case (t, m, v) => Gen.line(t, m, v) })).mkString("\n")
      ctx.span("post", "parse")(Serve.postData(Some("text/plain; charset=utf-8"), Some(body))) match {
        case Right(kept) =>
          ctx.span("land-post", "bench")(
            landFile(store.bronze, store.staging, f"post-$k%06d.txt", kept.mkString("", "\n", "\n")))
          readings.foreach(_.foreach { case (t, m, v) => acc.add(t, m, v) })
          newestLines(k) = days.count(_ == Gen.Days - 1)
          dayLines(k) = days
        case Left(_) => refused(k) = true
      }
    }
  }

  def trickle(ctx: Ctx): Result = {
    val o = ctx.o
    val (store, acc, backfillRate) = buildServingStore(ctx, warmCycle = true)
    val baseDays = acc.perDay
    val fresh = mutable.ArrayBuffer.empty[Double]
    val cycleS = mutable.ArrayBuffer.empty[Double]
    var gen: PostGen = null
    ctx.measure {
      val t0 = System.nanoTime()
      gen = new PostGen(ctx, store, o.seed * 31 + 7, t0, t0 + o.seconds * 1000000000L)
      gen.setDaemon(true)
      gen.start()
      var attributed = 0
      val days = baseDays.clone()
      def cycle(): Unit = {
        val c0 = System.nanoTime()
        val upTo = gen.landed
        (attributed until upTo).foreach(k => gen.dayLines(k).foreach(d => days(d) += 1))
        val affected = (attributed until upTo).flatMap(k => gen.dayLines(k)).distinct
        ctx.ctr("gold.silver_rows_in_days") += affected.map(days(_)).sum.toDouble
        ctx.ctr("streaming.bronze_files") = upTo.toDouble
        store.drain(ctx)
        quality(ctx, store)
        val rows = probe(ctx, store)
        val end = System.nanoTime()
        (attributed until upTo).foreach(k => if (!gen.refused(k)) fresh += (end - gen.dueNs(k)) / 1e6)
        // the probe sees every reading landed before the drain started,
        // and perhaps some landed while it listed
        val lo = baseDays(Gen.Days - 1) + (0 until upTo).map(gen.newestLines(_)).sum + 1
        val hi = baseDays(Gen.Days - 1) + (0 until gen.landed).map(gen.newestLines(_)).sum + 1
        ctx.check(rows.length >= lo && rows.length <= hi,
          s"newest-day probe returned ${rows.length} rows, expected $lo..$hi")
        attributed = upTo
        ctx.attempted += 1
        cycleS += (end - c0) / 1e9
      }
      while (System.nanoTime() - t0 < o.seconds * 1000000000L) cycle()
      gen.join()
      cycle() // drains what landed during the last cycle
    }
    val heap = ctx.heapLiveMb()
    if (gen.error != null) ctx.fail(s"post generator failed: ${gen.error}")
    val posts = gen.landed
    val accepted = (0 until posts).filterNot(gen.refused(_))
    val postLines = accepted.size * LinesPerPost
    ctx.attempted += posts
    ctx.check((0 until posts).forall(k => gen.refused(k) == gen.bad(k)),
      s"refused posts ${(0 until posts).filter(gen.refused(_)).take(5)} != malformed posts ${(0 until posts).filter(gen.bad(_)).take(5)}")
    val all = new Gen.Readings
    all.addAll(acc); all.addAll(gen.acc)
    checkStore(ctx, store, all)
    txtableCounters(ctx, store)
    val storedPerLine =
      (dirBytes(java.nio.file.Paths.get(store.silver)) + dirBytes(java.nio.file.Paths.get(store.gold))).toDouble / all.n
    val lates = (0 until posts).map(gen.lateNs(_) / 1e9).sorted
    ctx.ctr("parse.posts") = posts.toDouble
    ctx.ctr("parse.lines") = (posts * LinesPerPost).toDouble
    ctx.ctr("parse.refused_posts") = (posts - accepted.size).toDouble
    ctx.ctr("silver.accepted") = postLines.toDouble
    ctx.ctr("gen.posts_sent") = posts.toDouble
    ctx.ctr("gen.late_p99_s") = Stats.quantile(lates, 0.99)
    ctx.ctr("gen.late_max_s") = if (lates.isEmpty) 0.0 else lates.last
    val xs = fresh.sorted.toSeq
    Result("freshness of one accepted POST: due time to the end of the first drain, quality run and serve probe that include it",
      xs, heap,
      Seq(
        ("freshness_p50_s", Stats.median(xs) / 1000, "s"),
        ("freshness_tail_s", Stats.tail(xs)._1 / 1000, "s"),
        ("stored_bytes_per_line", storedPerLine, "B/line"),
        ("cycle_p50_s", Stats.median(cycleS.toSeq), "s"),
        ("setup_backfill_lines_per_s", backfillRate, "lines/s")),
      Map("store_lines" -> StoreLines, "post_rate_per_s" -> PostRate, "lines_per_post" -> LinesPerPost,
        "late_share" -> LateShare, "max_late_days" -> MaxLateDays, "bad_post_share" -> BadPostShare,
        "posts" -> posts, "accepted_posts" -> accepted.size, "cycles" -> cycleS.size,
        "freshness_tail_percentile" -> Stats.tail(xs)._2))
  }

  /** Set-up shared by trickle and serve: a seeded backlog drained into
    * empty targets, so the store is what the pipeline itself wrote. Done
    * once: this cold drain is most of a run's set-up time, and it is also
    * the JVM's warm-up for the pipeline code. `warmCycle` adds one trickle
    * cycle over a single seeded POST body, so the merge path is warm too. */
  def buildServingStore(ctx: Ctx, warmCycle: Boolean): (Store, Gen.Readings, Double) = {
    val o = ctx.o
    setup(ctx) {
      val (files, acc) = Gen.backlog(o.seed, StoreLines, StoreFiles, BadLineShare)
      val s = new Store(o.work.resolve("store"))
      landBacklog(s, files)
      val (_, drainS) = ctx.timeS(s.drain(ctx))
      if (warmCycle) {
        val r = new SplittableRandom(o.seed + 1)
        val body = (0 until LinesPerPost).map { _ =>
          val (t, m, v) = Gen.reading(r, Gen.Days - 1 - r.nextInt(MaxLateDays + 1))
          acc.add(t, m, v); Gen.line(t, m, v)
        }
        landFile(s.bronze, s.staging, "warm-up.txt", body.mkString("", "\n", "\n"))
        s.drain(ctx)
        quality(ctx, s)
        probe(ctx, s)
      }
      (s, acc, StoreLines / drainS)
    }
  }

  /** The serve step of a trickle cycle: the newest day, through the API. */
  def probe(ctx: Ctx, s: Store): Array[Row] = ctx.span("serve", "serve") {
    val day = Gen.dayString(Gen.Days - 1)
    val rows = Serve.range(s.silverDf(ctx), s.goldDf(ctx), Some(day), Some(day))
      .fold(e => sys.error(s"newest-day probe refused: $e"), _.collect())
    ctx.ctr("serve.rows_returned") += rows.length
    rows
  }

  // ----------------------------------------------------------------- serve

  /** One block of GET /data requests: a fixed mix (`BlockMix` of 1-day,
    * 7-day and 28-day windows and invalid requests) in seeded order, over
    * seeded days and in seeded parameter formats. Fixing the mix per block
    * keeps the cost of a block the same from seed to seed. `None` bounds
    * and impossible dates are the expected refusals. */
  final case class Req(from: Option[String], to: Option[String], valid: Boolean)

  def block(r: SplittableRandom): Seq[Req] = {
    val kinds = BlockMix.toSeq.flatMap { case (len, n) => Seq.fill(n)(len) }.toArray
    var i = kinds.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t; i -= 1 }
    kinds.toSeq.map {
      case 0 =>
        r.nextInt(3) match {
          case 0 => Req(None, Some(Gen.dayString(r.nextInt(Gen.Days))), valid = false)
          case 1 => Req(Some(Gen.dayString(r.nextInt(Gen.Days))), None, valid = false)
          case _ => Req(Some("2024-02-30"), Some(Gen.dayString(r.nextInt(Gen.Days))), valid = false)
        }
      case len =>
        val d = r.nextInt(Gen.Days - len + 1)
        // date-only `to` is inclusive; a timestamp `to` is the exclusive bound
        if (r.nextBoolean()) Req(Some(Gen.dayString(d)), Some(Gen.dayString(d + len - 1)), valid = true)
        else Req(Some(Gen.dayString(d) + "T00:00:00Z"), Some(Gen.dayString(d + len) + "T00:00:00"), valid = true)
    }
  }

  def serve(ctx: Ctx): Result = {
    val o = ctx.o
    val (store, acc, backfillRate) = buildServingStore(ctx, warmCycle = false)
    val silver = store.silverDf(ctx)
    val gold = store.goldDf(ctx)
    val (cache, buildS) = ctx.timeS(ctx.span("cache-build", "serve_cache")(ServeCache.fromFrames(silver, gold)))
    val requestSeed = o.seed * 17 + 3
    val r = new SplittableRandom(requestSeed)
    // warm-up: the first MinBlocks blocks of the measured sequence, sent
    // once down both paths, as a long-running server has seen these
    // ranges (each distinct range compiles its own generated code). The
    // Serve.range calls run on one thread per core, because much of a
    // call is driver-side planning, compiling and scheduling, which
    // overlaps.
    val (_, warmS) = ctx.timeS(ctx.span("warm-up", "setup") {
      val next = new SplittableRandom(requestSeed)
      val warm = (1 to MinBlocks).flatMap(_ => block(next))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
      try warm.map { q =>
        val call: Runnable = () => Serve.range(silver, gold, q.from, q.to).foreach(_.collect())
        pool.submit(call)
      }.foreach(_.get())
      finally { pool.shutdown(); pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES) }
      warm.foreach(q => cache.range(q.from, q.to))
    })
    ctx.setupS += buildS + warmS
    val counts = acc.perDay
    val reqs = mutable.ArrayBuffer.empty[Req]
    val sparkMs = mutable.ArrayBuffer.empty[Double]
    val cacheMs = mutable.ArrayBuffer.empty[Double]
    // every fourth answer, as (rows, order-sensitive hash), for the check
    val kept = mutable.Map.empty[Int, (Int, Int)]
    var sparkRefusedOk = true
    var cacheRefusedOk = true
    ctx.measure {
      val end = deadline(ctx, ServeSpanShare)
      // whole blocks, at least MinBlocks, so every run has the same mix
      while (reqs.size < MinBlocks * BlockSize || System.nanoTime() < end) block(r).foreach { q =>
        val i = reqs.size
        reqs += q
        val t0 = System.nanoTime()
        val out = ctx.span("range", "serve")(Serve.range(silver, gold, q.from, q.to).map { df =>
          val rows = df.collect()
          if (ctx.o.trace) planCounters(ctx, df)
          rows
        })
        val ms = (System.nanoTime() - t0) / 1e6
        ctx.attempted += 1
        out match {
          case Left(_) => ctx.ctr("serve.refused") += 1; sparkRefusedOk &&= !q.valid
          case Right(rows) =>
            sparkRefusedOk &&= q.valid
            sparkMs += ms
            ctx.ctr("serve.rows_returned") += rows.length
            if (i % 4 == 0) kept(i) = (rows.length, answerHash(rows.iterator.map(x => (x.getString(0), x.getString(1), x.getDouble(2)))))
        }
      }
      ctx.ctr("serve.calls") = reqs.size.toDouble
      val cacheEnd = deadline(ctx, 1.0 - ServeSpanShare)
      ctx.span("cache-loop", "serve_cache") {
        var pass = 0
        while (pass == 0 || System.nanoTime() < cacheEnd) {
          reqs.foreach { q =>
            val t0 = System.nanoTime()
            val out = cache.range(q.from, q.to)
            val ms = (System.nanoTime() - t0) / 1e6
            if (out.isLeft) cacheRefusedOk &&= !q.valid
            else { cacheRefusedOk &&= q.valid; cacheMs += ms }
          }
          pass += 1
        }
        ctx.ctr("serve_cache.calls") = (pass * reqs.size).toDouble
      }
    }
    val heap = ctx.heapLiveMb()
    ctx.check(sparkRefusedOk, "Serve.range refused a valid range or served an invalid one")
    ctx.check(cacheRefusedOk, "ServeCache.range refused a valid range or served an invalid one")
    ctx.span("check-serve", "bench") {
      kept.foreach { case (i, (n, hash)) =>
        val q = reqs(i)
        val viaCache = cache.range(q.from, q.to).getOrElse(Nil)
        ctx.check(n == viaCache.size && hash == answerHash(viaCache.iterator),
          s"ServeCache.range differs from Serve.range for $q: $n vs ${viaCache.size} rows")
        val (fromDay, toBound) = LineParser.normalizeRange(q.from.get, q.to.get).get
        val first = Gen.firstDay.toEpochDay
        val days = (fromDay.toEpochDay until toBound.toEpochDay).map(d => (d - first).toInt)
          .filter(d => d >= 0 && d < Gen.Days)
        val expected = days.map(d => counts(d) + 1).sum // one gold row per day
        ctx.check(n == expected, s"Serve.range for $q returned $n rows, expected $expected")
      }
    }
    checkStore(ctx, store, acc)
    txtableCounters(ctx, store)
    ctx.ctr("serve_cache.build_s") = buildS
    ctx.ctr("serve_cache.snapshot_rows") = (acc.n + Gen.Days).toDouble
    ctx.ctr("serve_cache.p50_ms") = Stats.median(cacheMs.toSeq)
    val xs = sparkMs.sorted.toSeq
    val cs = cacheMs.sorted.toSeq
    Result("one Serve.range(...).collect() call on a valid range, closed loop, one client", xs,
      heap,
      Seq(
        ("serve_p50_ms", Stats.median(xs), "ms"),
        ("serve_tail_ms", Stats.tail(xs)._1, "ms"),
        ("cache_p50_ms", Stats.median(cs), "ms"),
        ("cache_tail_ms", Stats.tail(cs)._1, "ms"),
        ("setup_backfill_lines_per_s", backfillRate, "lines/s")),
      Map("store_lines" -> StoreLines, "days" -> Gen.Days, "block_mix" -> BlockMix.map { case (k, v) => k.toString -> v },
        "calls" -> reqs.size, "cache_calls" -> cacheMs.size,
        "serve_tail_percentile" -> Stats.tail(xs)._2, "cache_bound_rows" -> 2000000))
  }

  /** Order-sensitive hash of an answer's (time, name, value) rows: two
    * answers are equal row for row when their sizes and hashes agree. */
  def answerHash(rows: Iterator[(String, String, Double)]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows)

  /** Scan counters of one served DataFrame, from its executed plan. */
  private def planCounters(ctx: Ctx, df: DataFrame): Unit =
    Meter.scanNodes(df.queryExecution.executedPlan).foreach { f =>
      def metric(k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
      ctx.ctr("serve.files_read") += metric("numFiles")
      ctx.ctr("serve.rows_scanned") += metric("numOutputRows")
    }

  // ------------------------------------------------------------- operators

  val CostliestQueries: Seq[String] = Seq("q_percentile_approx")

  /** Row count and an order-insensitive content digest. Doubles are
    * rounded to 6 places (the oracle's rule) and maps go through JSON,
    * so the digest is a function of the result set, not of its order. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))), sum(hash(col("h")).cast(LongType)))
      .head()
    (r.getLong(0), s"${r.get(1)}:${r.get(2)}")
  }

  /** The recorded (query, rows, digest, seconds of one recorded noop run). */
  def readExpected(root: Path): Seq[(String, Long, String, Double)] = {
    val p = root.resolve(OpsExpected)
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(a => (a(0), a(1).toLong, a(2), a(3).toDouble)).toSeq
  }

  /** Set-up runs the untimed correctness pass: every query once, cold,
    * checked against its recorded row count and digest. That pass also
    * makes the shared builds (`TrainedCache`, rank pins), so the timed
    * passes measure each query's steady cost; moving work into a shared
    * build shows in `setup_s`. Two untimed noop passes follow. The timed
    * passes repeat the list, each in a new seeded order, until the window
    * closes and at least MinPasses have run. */
  def operators(ctx: Ctx): Result = {
    val o = ctx.o
    val data = o.root.resolve("perfbench/testdata").resolve(OpsScale).toString
    val expected = readExpected(o.root)
    val queries = SparkEntry.queries
    val missing = expected.map(_._1).filterNot(queries.contains)
    require(missing.isEmpty, s"queries not registered in SparkEntry: $missing")
    def run(name: String): Unit =
      queries(name)(ctx.spark, data).write.format("noop").mode("overwrite").save()
    setup(ctx) {
      ctx.span("check-ops", "bench") {
        expected.foreach { case (name, rows, dig, _) =>
          val got = try digest(queries(name)(ctx.spark, data)) catch { case e: Throwable => (-1L, e.toString) }
          ctx.check(got == (rows, dig), s"$name: rows/digest $got, recorded ($rows,$dig)")
        }
      }
      // two untimed noop passes: a query's first runs are slower while
      // the JVM compiles its generated code
      ctx.span("warm-up", "setup")((1 to 2).foreach(_ =>
        expected.foreach { case (name, _, _, _) => try run(name) catch { case _: Exception => () } }))
    }
    val r = new scala.util.Random(o.seed)
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passMs = mutable.ArrayBuffer.empty[Double]
    ctx.measure {
      val end = deadline(ctx)
      // at least MinPasses, so the median never rests on one or two passes
      while (passMs.size < MinPasses || System.nanoTime() < end) {
        val p0 = System.nanoTime()
        r.shuffle(expected.map(_._1)).foreach { name =>
          val t0 = System.nanoTime()
          try {
            ctx.span(name, "ops")(run(name))
            times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
          } catch {
            case e: Throwable =>
              ctx.failed += 1
              ctx.ctr("ops.failed") += 1
              ctx.fail(s"$name failed: $e")
          }
          ctx.attempted += 1
        }
        passMs += (System.nanoTime() - p0) / 1e6
      }
    }
    val heap = ctx.heapLiveMb()
    // per query: its mean time over the passes, in seconds
    val perQuery = times.map { case (q, xs) => q -> xs.sum / xs.size / 1000 }
    ctx.ctr("ops.queries") = times.values.map(_.size).sum.toDouble
    ctx.ctr("ops.total_s") = perQuery.values.sum
    // the tail is the queries recorded under 1 s, fixed with the
    // expected values, so a query that slows past 1 s stays in the sum
    val tail = expected.collect { case (q, _, _, s) if s < 1.0 => q }.toSet
    ctx.ctr("ops.tail_s") = perQuery.filter { case (q, _) => tail(q) }.values.sum
    CostliestQueries.foreach(q => ctx.ctr(s"ops.${q}_s") = perQuery.getOrElse(q, 0.0))
    Result("one warm pass over the query list, noop sink, in seeded order", passMs.toSeq,
      heap,
      Seq(("operators_total_s", perQuery.values.sum, "s")),
      Map("scale" -> OpsScale, "queries" -> expected.size, "passes" -> passMs.size,
        "query_ms" -> perQuery.map { case (q, s) => q -> s * 1000 }.toMap))
  }

  /** Records the expected row count and digest of the given queries (all
    * registered ones when empty), with one timed noop run each. */
  def recordOps(ctx: Ctx, names: Seq[String], out: Path): Unit = {
    val data = ctx.o.root.resolve("perfbench/testdata").resolve(OpsScale).toString
    val queries = SparkEntry.queries
    val list = if (names.isEmpty) queries.keys.toSeq.sorted else names
    val lines = list.map { name =>
      val (_, s) = ctx.timeS(queries(name)(ctx.spark, data).write.format("noop").mode("overwrite").save())
      val (rows, dig) = digest(queries(name)(ctx.spark, data))
      System.err.println(f"[record] $name%-32s $s%.3f s")
      f"$name\t$rows\t$dig\t$s%.3f"
    }
    Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
