package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Timesearch
import graft.model.Schemas
import graft.render.OfflineReading

/** `archive_reads`: one closed-loop client against a pre-built archive
  * with three published comment versions (seed, a change batch, a
  * deletion-vector purge of a few comments, so every read of the current
  * version applies a live deletion vector) and a non-empty edits table. A pass
  * is 20 operations alternating 10 thread opens (`openSubmissionArchive`,
  * collect, `OfflineReading.renderThread`; threads drawn by Zipf
  * popularity) with the ten archive-wide verbs in a fixed order. Every
  * pass has the same mix. */
final class Reads(spark: SparkSession, seed: Long) extends Workload {
  val NSubs = 1000
  val NComs = 15000
  val ChangeRows = Gen.Traffic.StreamBatchRows
  val PurgeKeys = 40
  val Buckets = 16
  val IndexThreshold = 100L
  val OpsPerPass = 20

  private var gen: Gen.Archive = _
  private var archive: Timesearch.Archive = _
  /** `changes` covers the change batch and the purge. */
  private var changesFrom = 0L
  private var lastChanges = 0
  private var purged = 0L
  /** (thread, comments collected, rendered page names the thread's title) */
  private val opened = mutable.ArrayBuffer.empty[(String, Int, Boolean)]

  val verbs: Seq[String] = Seq("breakdown:total", "index:score", "changes", "index:date",
    "breakdown:name", "index:title", "bound", "index:author", "edits", "index:flair")

  private val batchSchema = StructType(Schemas.comments.fields ++
    Seq(StructField("_edited", LongType), StructField("_seq", LongType)))

  def setup(dir: Path): Unit = {
    gen = new Gen.Archive(seed)
    opened.clear()
    val (subs, coms) = gen.base(NSubs, NComs)
    archive = Timesearch.openArchive(spark, dir.resolve("archive").toString,
      keyBuckets = Some(Buckets))
    archive.submissions.seed(Workload.frame(spark, subs.map(Rows.sub), Schemas.submissions))
    archive.comments.seed(Workload.frame(spark, coms.map(Rows.com), Schemas.comments))
    gen.model.track()
    changesFrom = archive.comments.currentVersion
    val comRows = gen.streamBatch(1000, 0, ChangeRows).zipWithIndex.map {
      case (c, i) => Row.fromSeq(Rows.streamCom(c).toSeq :+ i.toLong)
    }
    archive.comments.merge(Workload.frame(spark, comRows, batchSchema), "_seq")
    val ids = gen.purgeSet(0, PurgeKeys)
    gen.model.purge(ids)
    purged = archive.comments.purgeKeys(
      Workload.frame(spark, ids.map(Row(_)), StructType(Seq(StructField("idstr", StringType)))),
      dv = true)
    lastChanges = gen.model.trackedChanges
  }

  def warmup(ctx: Ctx): Unit = {
    val r = new Gen.Rng(-1)
    (0 until 3).foreach(_ => openThread(ctx, gen.popularThread(r), mutable.ArrayBuffer.empty))
    verbs.foreach(v => runVerb(ctx, v, mutable.ArrayBuffer.empty))
    opened.clear()
  }

  def pass(i: Int, ctx: Ctx): Unit = {
    // The popularity ranks read are the same for every seed (the seed
    // changes the archive, not the mix), so runs of different seeds read
    // threads of the same size distribution.
    val r = new Gen.Rng(17L + i)
    val t0 = System.nanoTime()
    (0 until OpsPerPass).foreach { k =>
      if (k % 2 == 1) runVerb(ctx, verbs(k / 2), ctx.heavy)
      else openThread(ctx, gen.popularThread(r), ctx.light)
    }
    ctx.work += OpsPerPass
    ctx.workSeconds += (System.nanoTime() - t0) / 1e9
  }

  private def openThread(ctx: Ctx, tid: String, samples: mutable.ArrayBuffer[Double]): Unit =
    ctx.op(samples) {
      val sa = Trace.span("read", "openSubmissionArchive") {
        Timesearch.openSubmissionArchive(spark, archive, tid)
      }
      var sub: Array[Row] = null
      var coms: Array[Row] = null
      Trace.lazyCall("lookup", "submission")(sa.submission.select("idstr", "title",
        "author", "created", "score", "subreddit", "url", "selftext"))(df => sub = df.collect())
      Trace.lazyCall("lookup", "comments")(sa.comments.select("idstr", "submission",
        "parent", "author", "created", "score", "body"))(df => coms = df.collect())
      val s = sub.head
      val html = Trace.span("render", "renderThread") {
        OfflineReading.renderThread(
          OfflineReading.SubRow(s.getString(0), s.getString(1), s.getString(2), s.getLong(3),
            s.getLong(4), s.getString(5), Option(s.getString(6)), Option(s.getString(7))),
          coms.map(c => OfflineReading.ComRow(c.getString(0), c.getString(1), c.getString(2),
            c.getString(3), c.getLong(4), c.getLong(5), c.getString(6))))
      }
      opened += ((tid, coms.length, html.contains(s.getString(1))))
      if (Trace.on) Trace.probe {
        ctx.layer("lookup.files_read") += sa.submission.inputFiles.length + sa.comments.inputFiles.length
        ctx.layer("lookup.rows_returned") += sub.length + coms.length
      }
    }

  private def runVerb(ctx: Ctx, verb: String, samples: mutable.ArrayBuffer[Double]): Unit =
    ctx.op(samples) {
      verb.split(":") match {
        case Array("breakdown", sort) =>
          Trace.lazyCall("analytics.breakdown", sort)(Timesearch.breakdown(archive, sort))(Workload.noop)
        case Array("index", sort) =>
          Trace.lazyCall("analytics.index", sort)(
            Timesearch.index(archive, IndexThreshold, sort))(Workload.noop)
        case Array("bound") =>
          Trace.lazyCall("analytics.bound")(Timesearch.incrementalLowerBound(archive))(_.collect())
        case Array("edits") =>
          Trace.lazyCall("edits")(archive.comments.edits)(Workload.noop)
        case Array("changes") =>
          val v = archive.comments.currentVersion
          Trace.lazyCall("changes")(archive.comments.changes(changesFrom, v))(Workload.noop)
          if (Trace.on) Trace.probe {
            ctx.layer("changes.buckets_scanned") += Workload.bucketsChanged(
              archive.comments.manifest(changesFrom), archive.comments.manifest(v))
            ctx.layer("changes.rows_out") += lastChanges
          }
      }
    }

  def storeBytesPerRow(): Double =
    Workload.archiveBytesPerRow(archive, gen.model.subs.size + gen.model.coms.size)

  def check(ctx: Ctx): Unit = {
    val m = gen.model
    val badThreads = opened.count { case (tid, n, titled) =>
      n != m.threadComs.get(tid).map(_.size).getOrElse(0) || !titled }
    ctx.expect("thread opens with a wrong comment count or page", badThreads, 0)
    val want = mutable.HashMap.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    m.subs.values.foreach(s => want(s.author) = (want(s.author)._1 + 1, want(s.author)._2))
    m.coms.values.foreach(c => want(c.author) = (want(c.author)._1, want(c.author)._2 + 1))
    val got = Timesearch.breakdown(archive, "name").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    ctx.expect("breakdown authors", got.size, want.size)
    ctx.expect("breakdown rows differing from the generator's counts",
      got.count { case (a, c) => want(a) != c }, 0)
    val indexed = m.subs.values.count(_.score >= IndexThreshold).toLong
    Seq("score", "date", "title", "author", "flair").foreach(sort =>
      ctx.expect(s"index --$sort rows", Timesearch.index(archive, IndexThreshold, sort).count(), indexed))
    val v = archive.comments.currentVersion
    ctx.expect("rows purged by deletion vector", purged, PurgeKeys.toLong)
    ctx.expect("live deletion-vector entries", archive.comments.dvAt(v).size, PurgeKeys)
    ctx.expect(s"changes($changesFrom, $v) rows",
      archive.comments.changes(changesFrom, v).count(), lastChanges.toLong)
    ctx.expect("edit rows", archive.comments.edits.count(), m.comEdits)
    val maxCreated = (m.subs.values.map(_.created) ++ m.coms.values.map(_.created)).max
    ctx.expect("incremental lower bound",
      Timesearch.incrementalLowerBound(archive).head().getLong(0), maxCreated - 1)
    ctx.traffic ++= gen.dims ++ Seq(
      "published_versions" -> (v + 1), "edit_rows" -> m.comEdits,
      "change_batch_rows" -> ChangeRows, "purged_by_deletion_vector" -> PurgeKeys,
      "changes_rows" -> lastChanges, "ops_per_pass" -> OpsPerPass,
      "thread_opens" -> opened.size,
      "largest_thread_comments" -> m.threadComs.values.map(_.size).max,
      "buckets" -> Buckets)
  }

  def inputDigest: Long = gen.digest.value

  def replayDigest(): Long = {
    val g = new Gen.Archive(seed)
    g.base(NSubs, NComs)
    g.streamBatch(1000, 0, ChangeRows)
    g.purgeSet(0, PurgeKeys)
    g.digest.value
  }
}
