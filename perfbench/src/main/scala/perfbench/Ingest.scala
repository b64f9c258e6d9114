package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Timesearch
import graft.model.Schemas
import graft.operators.Normalize
import graft.sources.Ndjson

/** `ingest`: the write path. The archive (key-bucket layout, edit-CDC on)
  * is seeded in setup. One pass ingests one re-crawl NDJSON dump with
  * `Timesearch.ingestJsonFile` (heavy op), then runs `Timesearch.livestream`
  * with `AvailableNow` over a few small comment batches, one file per
  * trigger (each trigger is a light op). */
final class Ingest(spark: SparkSession, seed: Long) extends Workload {
  val NSubs = 1000
  val NComs = 15000
  val DumpLines = 6000
  val Triggers = 4
  val BatchRows = Gen.Traffic.StreamBatchRows
  val Buckets = 16

  private var gen: Gen.Archive = _
  private var archive: Timesearch.Archive = _
  private var root: Path = _
  private var round = 0
  private var mtime = 0L
  private val dumps = scala.collection.mutable.ArrayBuffer.empty[(String, Gen.Dump)]
  private val calls = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

  val streamSchema: StructType =
    StructType(Schemas.comments.fields :+ StructField("_edited", LongType))

  def setup(dir: Path): Unit = {
    root = dir
    gen = new Gen.Archive(seed)
    round = 0
    dumps.clear(); calls.clear()
    mtime = System.currentTimeMillis() / 1000 * 1000
    val (subs, coms) = gen.base(NSubs, NComs)
    archive = Timesearch.openArchive(spark, dir.resolve("archive").toString,
      keyBuckets = Some(Buckets))
    archive.submissions.seed(Workload.frame(spark, subs.map(Rows.sub), Schemas.submissions))
    archive.comments.seed(Workload.frame(spark, coms.map(Rows.com), Schemas.comments))
  }

  def warmup(ctx: Ctx): Unit = runRound(ctx, DumpLines / 10, 1, timed = false)

  def pass(i: Int, ctx: Ctx): Unit = runRound(ctx, DumpLines, Triggers, timed = true)

  private def runRound(ctx: Ctx, lines: Int, triggers: Int, timed: Boolean): Unit = {
    val r = round
    round += 1
    calls += ((lines, triggers))
    val path = root.resolve("dumps").resolve(f"r=$r%04d.ndjson")
    val (d, bytes) = Trace.untimed {
      val d = gen.dump(r, lines)
      (d, Gen.writeFile(path, d.text))
    }
    dumps += ((path.toString, d))
    // traced only: planning of the frames ingestJsonFile builds inside
    Trace.planProbe("ndjson") {
      val raw = Ndjson.readOrdered(spark, path.toString)
      Ndjson.fileOrderSeq(Ndjson.commentsRaw(raw))
    }
    Trace.planProbe("normalize") {
      Normalize.comments(Ndjson.fileOrderSeq(
        Ndjson.commentsRaw(Ndjson.readOrdered(spark, path.toString))))
    }
    val v0 = versions()
    val ms = ctx.op(if (timed) ctx.heavy else scala.collection.mutable.ArrayBuffer.empty) {
      Trace.span("merge", "ingestJsonFile") {
        Timesearch.ingestJsonFile(spark, archive, path.toString)
      }
    }
    if (timed) {
      ms.foreach { m => ctx.work += d.lines; ctx.workSeconds += m / 1000 }
      ctx.layer("ndjson.input_bytes") += bytes
      ctx.layer("merge.rows_in") += d.lines - d.blank - d.corrupt
      bucketsRewritten(ctx, v0)
    }

    // livestream: move this round's batches into the source directory
    val in = root.resolve("stream-in")
    Files.createDirectories(in)
    (0 until triggers).foreach { k => Trace.untimed {
      val rows = gen.streamBatch(r, k, BatchRows)
      val stage = root.resolve("stream-stage").resolve(f"r=$r%04d-$k")
      Workload.frame(spark, rows.map(Rows.streamCom), streamSchema)
        .coalesce(1).write.parquet(stage.toString)
      val part = {
        val s = Files.list(stage)
        try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally s.close()
      }
      val dest = in.resolve(f"b-$r%04d-$k.parquet")
      Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
      // the file source orders new files by modification time
      mtime += 1000
      Files.setLastModifiedTime(dest, FileTime.fromMillis(mtime))
      if (timed) ctx.layer("merge.rows_in") += rows.size
    }}
    val v1 = versions()
    val stream = spark.readStream.schema(streamSchema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val progress = try {
      Trace.span("stream", "livestream") {
        val q = Timesearch.livestream(stream, archive,
          root.resolve("checkpoint").toString, Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      }
    } catch {
      case e: Exception =>
        ctx.errors += s"livestream failed: $e"
        Seq.empty
    }
    if (timed) {
      // one trigger per batch file: fewer means batches were folded
      // together, and the latency samples would not be one batch each
      ctx.attempted += triggers
      ctx.failed += math.max(0, triggers - progress.size)
      ctx.expect("livestream triggers with input", progress.size, triggers)
      progress.foreach(p => ctx.light += p.durationMs.get("triggerExecution").doubleValue)
      bucketsRewritten(ctx, v1)
    }
  }

  private def versions() = (archive.submissions.currentVersion, archive.comments.currentVersion)

  private def bucketsRewritten(ctx: Ctx, from: (Long, Long)): Unit = if (Trace.on) Trace.probe {
    val to = versions()
    for ((t, a, b) <- Seq((archive.submissions, from._1, to._1), (archive.comments, from._2, to._2));
         v <- (a + 1) to b)
      ctx.layer("merge.buckets_rewritten") += Workload.bucketsChanged(t.manifest(v - 1), t.manifest(v))
  }

  def storeBytesPerRow(): Double =
    Workload.archiveBytesPerRow(archive, gen.model.subs.size + gen.model.coms.size)

  def check(ctx: Ctx): Unit = {
    val m = gen.model
    val coms = archive.comments.current
      .select("idstr", "author", "body", "score", "created", "submission", "parent").collect()
    ctx.expect("comment rows", coms.length, m.coms.size)
    val comBad = coms.count { r =>
      m.coms.get(r.getString(0)).forall(c => c.author != r.getString(1) ||
        c.body != r.getString(2) || c.score != r.getLong(3) || c.created != r.getLong(4) ||
        c.submission != r.getString(5) || c.parent != r.getString(6))
    }
    ctx.expect("comment rows differing from the last-write-wins state", comBad, 0)
    val subs = archive.submissions.current
      .select("idstr", "author", "title", "selftext", "score", "num_comments").collect()
    ctx.expect("submission rows", subs.length, m.subs.size)
    val subBad = subs.count { r =>
      m.subs.get(r.getString(0)).forall(s => s.author != r.getString(1) ||
        s.title != r.getString(2) || s.selftext != r.getString(3) ||
        s.score != r.getLong(4) || s.numComments != r.getLong(5))
    }
    ctx.expect("submission rows differing from the last-write-wins state", subBad, 0)
    ctx.expect("comment edit rows", archive.comments.edits.count(), m.comEdits)
    ctx.expect("submission edit rows", archive.submissions.edits.count(), m.subEdits)
    val all = Ndjson.read(spark, root.resolve("dumps").toString)
    val quarantined = Ndjson.corrupt(all).select(col("_corrupt_record"), col("id")).collect().length
    ctx.expect("quarantined lines", quarantined.toLong, dumps.map(_._2.corrupt.toLong).sum)
    val parsed = all.select(col("id"), col("_corrupt_record")).collect().length
    ctx.expect("parsed lines", parsed.toLong, dumps.map(d => (d._2.lines - d._2.blank).toLong).sum)
    ctx.layer("ndjson.lines_read") = parsed
    ctx.layer("ndjson.quarantined") = quarantined
    val timedDumps = dumps.map(_._2)
    ctx.traffic ++= gen.dims ++ Seq(
      "dumps" -> timedDumps.size, "dump_lines" -> DumpLines,
      "dump_corrupt_lines" -> timedDumps.map(_.corrupt).sum,
      "dump_blank_lines" -> timedDumps.map(_.blank).sum,
      "dump_in_dump_duplicates" -> timedDumps.map(_.dups).sum,
      "dump_recrawl_share" -> f"${timedDumps.map(_.reseen).sum.toDouble / timedDumps.map(_.lines).sum}%.3f",
      "triggers_per_pass" -> Triggers, "trigger_batch_rows" -> BatchRows, "buckets" -> Buckets)
  }

  def inputDigest: Long = gen.digest.value

  def replayDigest(): Long = {
    val g = new Gen.Archive(seed)
    g.base(NSubs, NComs)
    calls.zipWithIndex.foreach { case ((lines, triggers), r) =>
      g.dump(r, lines)
      (0 until triggers).foreach(k => g.streamBatch(r, k, BatchRows))
    }
    g.digest.value
  }
}

/** Generated rows in the store's canonical column order. */
object Rows {
  def com(c: Gen.ComIn): Row = Row(
    java.lang.Long.parseLong(c.idstr.drop(3), 36), c.idstr, c.created,
    if (c.author == null) "[DELETED]" else c.author, c.parent, c.submission,
    c.body, c.score, "bench", null, c.body.length.toLong)

  def streamCom(c: Gen.ComIn): Row = Row.fromSeq(com(c).toSeq :+ c.edited.map(java.lang.Long.valueOf).orNull)

  def sub(s: Gen.SubIn): Row = Row(
    java.lang.Long.parseLong(s.idstr.drop(3), 36), s.idstr, s.created, true, false,
    s.author, s.title, null, s.selftext, s.score, "bench", null,
    s.selftext.length.toLong, s.numComments, null, null, null, null)
}
