package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/** Runs one workload and prints one JSON line of metrics.
  *
  * {{{
  * perfbench.Main --workload ingest|archive_reads|cdc_views --seed N
  *   --seconds S --trace 0|1 --state DIR --work DIR
  * }}}
  *
  * The store is set up [[SetupReps]] times (the first set-up also starts
  * the session and runs an untimed warm-up on its store); `setup_s` is the
  * median. The timed passes then run against the last store: one pass per
  * started [[PassSeconds]] of `--seconds`, a count that depends on the
  * arguments only, so every build times the same work. A box sentinel, a fixed
  * aggregate over Spark built-ins, runs just before and just after the
  * timed passes. Outputs are checked after timing; a failed check prints
  * the failures to stderr, no metrics, and exits 1.
  */
object Main {
  val SetupReps = 3
  /** Nominal length of one pass (one pass takes 5-10 s on a 4-core box). */
  val PassSeconds = 10

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      state: Path, work: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("state")), Paths.get(need("work")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile). With ten samples or fewer no percentile has ten
    * beyond it; the median is reported and the percentile says so. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (median(s), 50.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 6000000L, 1L, 4).selectExpr("id % 1009 as k", "id * 3 as v")
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val entryMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    Files.createDirectories(args.state)
    val spark = graft.Sessions.local()
    if (args.trace) Trace.install(spark)
    val w: Workload = args.workload match {
      case "ingest" => new Ingest(spark, args.seed)
      case "archive_reads" => new Reads(spark, args.seed)
      case "cdc_views" => new CdcViews(spark, args.seed)
      case other => sys.error(s"unknown workload '$other'")
    }
    val code = try run(spark, w, args, entryMs) finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def run(spark: SparkSession, w: Workload, args: Args, entryMs: Long): Int = {
    val sessionS = (System.currentTimeMillis() - entryMs) / 1e3
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(args.work.resolve(s"store-$rep"))
      if (rep == 0) {
        val t1 = System.nanoTime()
        w.warmup(new Ctx)
        val t2 = System.nanoTime()
        sentinel(spark)
        System.err.println(f"[perfbench] first set-up: session $sessionS%.2f s, " +
          f"store ${(t1 - t0) / 1e9}%.2f s, warm-up ${(t2 - t1) / 1e9}%.2f s, sentinel ${(System.nanoTime() - t2) / 1e9}%.2f s")
        (System.currentTimeMillis() - entryMs) / 1e3
      } else (System.nanoTime() - t0) / 1e9
    }

    val ctx = new Ctx
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val sentinelFirst = sentinel(spark)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    Trace.setTimed(true)
    val passes = (args.seconds + PassSeconds - 1) / PassSeconds
    var passNs = 0L
    var storeBytes = 0.0
    (0 until passes).foreach { i =>
      val t0 = System.nanoTime()
      val u0 = Trace.untimedNs
      w.pass(i, ctx)
      passNs += System.nanoTime() - t0 - (Trace.untimedNs - u0)
      if (i == 0) storeBytes = w.storeBytesPerRow()
    }
    Trace.setTimed(false)
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val sentinelLast = sentinel(spark)

    val c0 = System.nanoTime()
    w.check(ctx)
    val replay = w.replayDigest()
    ctx.expect("input digest of a second generation from the same seed", replay, w.inputDigest)
    System.err.println(f"[perfbench] set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"passes ${passNs / 1e9}%.2f s, checks ${(System.nanoTime() - c0) / 1e9}%.2f s")

    ctx.traffic ++= Seq("seed" -> args.seed, "passes" -> passes,
      "pass_seconds" -> passNs / 1e9, "input_digest" -> f"${w.inputDigest}%016x",
      "light_ops" -> ctx.light.size, "heavy_ops" -> ctx.heavy.size)
    System.err.println(s"[perfbench] ${args.workload} traffic: " +
      ctx.traffic.map { case (k, v) => s"$k=$v" }.mkString(" "))
    if (ctx.errors.nonEmpty || ctx.failed > 0 || ctx.light.isEmpty || ctx.heavy.isEmpty) {
      if (ctx.failed > 0) ctx.errors += s"${ctx.failed} of ${ctx.attempted} operations failed"
      if (ctx.light.isEmpty || ctx.heavy.isEmpty) ctx.errors += "no latency samples"
      ctx.errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
      return 1
    }

    val throughput = ctx.work / ctx.workSeconds
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      metrics ++= Seq(
        "setup_s" -> (median(setups), "s"),
        "light_op_p50_ms" -> (median(ctx.light.toSeq), "ms"),
        "heavy_op_p50_ms" -> (median(ctx.heavy.toSeq), "ms"),
        "throughput_per_s" -> (throughput, "1/s"),
        "store_bytes_per_row" -> (storeBytes, "B/row"))
      val f = args.state.resolve("results").resolve(s"${args.workload}-seed${args.seed}.tsv")
      Files.createDirectories(f.getParent)
      Files.write(f, s"$throughput\n".getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } else {
      Trace.drain()
      metrics ++= Layers.metrics(ctx, args, passNs, throughput, gcS, heapPeakMb,
        sentinelFirst, sentinelLast)
    }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "0" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": true, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
    0
  }
}
