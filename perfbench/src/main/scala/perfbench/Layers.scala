package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans of the timed passes.
  *
  * Every workload prints every metric. A layer a workload never calls
  * reads 0 calls and 0 work there. Layer time is given as a share of the
  * timed pass time (`*_pct`) so that it stays comparable across run
  * lengths; a layer's `self_pct` excludes the time of the spans it
  * encloses. */
object Layers {
  val Families: Seq[String] = Seq("ndjson", "normalize", "merge", "stream", "read", "lookup",
    "render", "analytics.breakdown", "analytics.index", "analytics.bound", "edits", "changes",
    "scd.agg", "scd.topk", "scd.join")
  /** Families called for a lazy frame: plan and execution are split. */
  val Lazy: Seq[String] = Seq("lookup", "analytics.breakdown", "analytics.index",
    "analytics.bound", "edits", "changes")

  def metrics(ctx: Ctx, args: Main.Args, passNs: Long, throughput: Double, gcS: Double,
      heapPeakMb: Double, sentinelFirst: Double, sentinelLast: Double)
      : Seq[(String, (Double, String))] = {
    val all = Trace.spanList
    val timed = all.filter(s => s.timed && s.endNs > 0)
    val children = all.groupBy(_.parent)
    def fam(f: String) = timed.filter(_.family == f)
    def pct(ns: Long) = 100.0 * ns / passNs
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = out += (k -> (v, unit))
    def putL(k: String, v: Long, unit: String): Unit = put(k, v.toDouble, unit)

    Families.foreach { f =>
      val ss = fam(f)
      put(s"$f.calls", ss.size.toDouble, "count")
      put(s"$f.self_pct", pct(ss.map(s => Trace.selfNs(s, children.getOrElse(s.id, Nil))).sum), "%")
      putL(s"$f.jobs", ss.map(_.jobs).sum, "count")
      putL(s"$f.tasks", ss.map(_.tasks).sum, "count")
    }
    Seq("ndjson", "normalize").foreach(f => put(s"$f.plan_pct", pct(fam(f).map(_.planNs).sum), "%"))
    Lazy.foreach { f =>
      put(s"$f.plan_pct", pct(fam(f).map(_.planNs).sum), "%")
      put(s"$f.exec_pct", pct(fam(f).map(_.execNs).sum), "%")
    }

    val merge = fam("merge")
    putL("merge.stages", merge.map(_.stages).sum, "count")
    putL("merge.shuffle_write_bytes", merge.map(_.shuffleWrite).sum, "B")
    putL("merge.spill_bytes", merge.map(_.spill).sum, "B")
    putL("merge.bytes_written", merge.map(_.bytesWritten).sum, "B")
    put("merge.buckets_rewritten", ctx.layer("merge.buckets_rewritten"), "count")
    put("merge.rows_written_per_row_in",
      ratio(merge.map(_.rowsWritten).sum.toDouble, ctx.layer("merge.rows_in")), "ratio")

    val triggers = merge.filter(s => s.name == "trigger" && s.extra.contains("trigger_ms"))
    val trig = triggers.map(_.extra("trigger_ms")).sum
    put("stream.overhead_pct",
      100 * ratio(trig - triggers.map(_.extra("add_batch_ms")).sum, trig), "%")
    put("stream.jobs_per_trigger", ratio(triggers.map(_.jobs).sum.toDouble, triggers.size), "count")
    put("stream.batches_retried", triggers.map(_.extra.getOrElse("retries", 0.0)).sum, "count")

    put("lookup.files_read", ctx.layer("lookup.files_read"), "count")
    put("lookup.rows_read_per_row_returned",
      ratio(fam("lookup").map(_.rowsRead).sum.toDouble, ctx.layer("lookup.rows_returned")), "ratio")
    put("changes.buckets_scanned", ctx.layer("changes.buckets_scanned"), "count")
    put("changes.rows_read_per_change",
      ratio(fam("changes").map(_.rowsRead).sum.toDouble, ctx.layer("changes.rows_out")), "ratio")
    Seq("agg", "topk", "join").foreach { v =>
      val ss = fam(s"scd.$v")
      putL(s"scd.$v.stages", ss.map(_.stages).sum, "count")
      putL(s"scd.$v.shuffle_bytes", ss.map(_.shuffleWrite).sum, "B")
      put(s"scd.$v.rows_read_per_change",
        ratio(ss.map(_.rowsRead).sum.toDouble, ctx.layer("changes.rows_out")), "ratio")
    }
    put("ndjson.lines_read", ctx.layer("ndjson.lines_read"), "count")
    put("ndjson.quarantined", ctx.layer("ndjson.quarantined"), "count")
    put("ndjson.input_bytes", ctx.layer("ndjson.input_bytes"), "B")

    val t = Trace.totals
    putL("spark.jobs", t.jobs, "count")
    putL("spark.stages", t.stages, "count")
    putL("spark.tasks", t.tasks, "count")
    putL("spark.tasks_failed", t.failedTasks, "count")
    put("spark.task_cpu_s", t.cpuNs / 1e9, "s")
    put("spark.sched_wait_s", t.schedWaitMs / 1e3, "s")
    putL("spark.shuffle_write_bytes", t.shuffleWrite, "B")
    putL("spark.spill_bytes", t.spill, "B")
    putL("spark.bytes_written", t.bytesWritten, "B")
    putL("spark.bytes_read", t.bytesRead, "B")
    put("jvm.gc_s", gcS, "s")
    put("jvm.heap_peak_mb", heapPeakMb, "MB")
    put("box.sentinel_first_s", sentinelFirst, "s")
    put("box.sentinel_last_s", sentinelLast, "s")

    Seq("light" -> ctx.light, "heavy" -> ctx.heavy).foreach { case (k, xs) =>
      val (v, p) = Main.tail(xs.toSeq)
      put(s"$k.tail_ms", v, "ms")
      put(s"$k.tail_pctile", p, "%")
      put(s"$k.samples", xs.size.toDouble, "count")
    }

    // tracing overhead: median throughput of the untraced runs of this
    // workload and seed recorded in the state directory (which is the
    // build's own) over this run's; without any, the share of pass time
    // spent on trace-only probes
    val results = args.state.resolve("results").resolve(s"${args.workload}-seed${args.seed}.tsv")
    val untraced =
      if (!Files.exists(results)) Nil
      else Files.readAllLines(results).asScala.filter(_.nonEmpty).map(_.toDouble).toSeq
    put("trace.overhead_ratio",
      if (untraced.nonEmpty) Main.median(untraced) / throughput
      else passNs.toDouble / math.max(1L, passNs - Trace.probeNs), "ratio")
    writeSpans(args, all, children)
    val (compared, mismatches) = repeatability(args, timed)
    put("trace.counter_spans_compared", compared.toDouble, "count")
    put("trace.counter_mismatches", mismatches.toDouble, "count")
    put("trace.spans", timed.size.toDouble, "count")
    out.toSeq
  }

  /** Writes every span of the run (set-up, warm-up and timed) to
    * `state/traces/<workload>-seed<seed>-<run id>.tsv`; times are ns from
    * the first span's start. */
  private def writeSpans(args: Main.Args, all: Seq[Trace.Span],
      children: Map[Int, Seq[Trace.Span]]): Unit = {
    val runId = s"${args.workload}-seed${args.seed}-${System.currentTimeMillis()}"
    val f = args.state.resolve("traces").resolve(s"$runId.tsv")
    Files.createDirectories(f.getParent)
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).filter(_ > 0).min
    val head = "run_id\tspan\tparent\tfamily\tname\ttimed\tstart_ns\tend_ns\tself_ns\tplan_ns\t" +
      "exec_ns\tjobs\tstages\ttasks\tcpu_ns\tshuffle_write\tbytes_written\trows_written\trows_read"
    val lines = all.map { s =>
      Seq(runId, s.id, s.parent, s.family, s.name, s.timed, s.startNs - t0, s.endNs - t0,
        Trace.selfNs(s, children.getOrElse(s.id, Nil)), s.planNs, s.execNs, s.jobs, s.stages,
        s.tasks, s.cpuNs, s.shuffleWrite, s.bytesWritten, s.rowsWritten, s.rowsRead).mkString("\t")
    }
    Files.write(f, (head +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[perfbench] ${all.size} spans written to $f")
  }

  /** Compares this run's per-span counters with the first traced run of
    * the same workload and seed recorded in the state directory (spans
    * both runs reached); the first such run records itself. The state
    * directory belongs to one build, so both runs ran the same code. */
  private def repeatability(args: Main.Args, timed: Seq[Trace.Span]): (Int, Int) = {
    val sig = Trace.counterSignature(timed)
    val f = args.state.resolve("counters").resolve(s"${args.workload}-seed${args.seed}.tsv")
    if (!Files.exists(f)) {
      Files.createDirectories(f.getParent)
      Files.write(f, sig.map { case (k, v) => s"$k\t${v.mkString(",")}" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[perfbench] counters recorded for later traced runs of seed ${args.seed}")
      (0, 0)
    } else {
      val first = Files.readAllLines(f).asScala.filter(_.contains("\t")).map { l =>
        val Array(k, v) = l.split("\t"); k -> v.split(",").map(_.toLong).toSeq
      }.toMap
      val common = sig.filter { case (k, _) => first.contains(k) }
      var bad = 0
      common.foreach { case (k, v) =>
        Trace.counterNames.indices.foreach { i =>
          if (v(i) != first(k)(i)) {
            bad += 1
            System.err.println(s"[perfbench] COUNTER MISMATCH $k ${Trace.counterNames(i)}: " +
              s"${v(i)} now, ${first(k)(i)} in the first traced run")
          }
        }
      }
      System.err.println(s"[perfbench] counters of ${common.size} spans compared with the " +
        s"first traced run of seed ${args.seed}: $bad mismatches")
      (common.size, bad)
    }
  }
}
