package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.model.Schemas
import graft.operators.{Merge, Scd}
import graft.streaming.Livestream

/** `cdc_views`: writes beside version-range reads on one store. Setup
  * seeds a fact table (comment rows keyed by `idstr`, author and score
  * updatable), an author-dimension table, and three views at v0:
  * `cdcBaseAgg` by author, `cdcBaseTopK` (top 3 per author) and
  * `cdcBaseJoin` of facts with the dimension. A pass is one step: merge a
  * change batch into the facts (light op; a dimension batch is merged too
  * on the first and every third step), then refresh all three views from
  * `changes(v-1, v)` (heavy op), executing each view before the next. */
final class CdcViews(spark: SparkSession, seed: Long) extends Workload {
  val NFacts = 15000
  val NAuthors = Gen.Traffic.Authors
  val DimAuthors = 1800
  val ChangeRows = 1000
  val DimRows = 120
  val Buckets = 16
  val K = 3
  /** Of the updates in a change batch: the share that are deletion
    * tombstones (the re-crawl tombstone share) and the share that move a
    * row to another author, shifting it between view groups. */
  val TombstoneShare = Gen.Traffic.TombstoneShare
  val MoveShare = 0.1

  val factEntity = Merge.Entity(textCol = "body", editTextCol = "previous_body",
    updatable = Seq("author", "score"),
    frozen = Seq("idint", "created", "parent", "submission", "subreddit", "distinguish", "textlen"))
  val dimEntity = Merge.Entity(textCol = "body", editTextCol = "previous_body",
    updatable = Seq("tier", "region_c"), frozen = Seq("author"))
  val dimSchema = StructType(Seq(StructField("idstr", StringType),
    StructField("author", StringType), StructField("body", StringType),
    StructField("tier", StringType), StructField("region_c", LongType)))
  private val factBatchSchema =
    StructType(Schemas.comments.fields :+ StructField("_seq", LongType))
  private val dimBatchSchema = StructType(dimSchema.fields :+ StructField("_seq", LongType))

  // generator state: the expected store, applied row by row
  import CdcViews.Fact
  private var rng: Gen.Rng = _
  private var digest: Gen.Digest = _
  private val facts = mutable.LinkedHashMap.empty[String, Fact]
  private val factIds = mutable.ArrayBuffer.empty[String]
  private val dims = mutable.LinkedHashMap.empty[String, (String, Long)]
  private var nextId = 0L
  private var authorZ: Gen.Zipf = _

  private var factT: Livestream.UpsertTable = _
  private var dimT: Livestream.UpsertTable = _
  private var agg: DataFrame = _
  private var topk: DataFrame = _
  private var join: DataFrame = _
  private var steps = 0

  private def factRow(id: String, author: String, score: Long, body: String): Row =
    Row(java.lang.Long.parseLong(id.drop(3), 36), id, 1600000000L + nextId, author, "t3_0",
      "t3_0", body, score, "bench", null, body.length.toLong)

  private def newFact(): Row = {
    nextId += 1
    val id = s"t1_${Gen.b36(1000000L + nextId)}"
    val a = s"u${authorZ.sample(rng)}"
    val s = rng.int(1000).toLong
    val f = Fact(a, s, Gen.text(rng, 2, 8))
    facts(id) = f; factIds += id
    factRow(id, a, s, f.body)
  }
  private def dimRow(a: String): Row = {
    val d = (s"t${rng.int(4)}", rng.int(10).toLong)
    dims(a) = d
    Row(a, null, null, d._1, d._2)
  }
  private def addDigest(rows: Seq[Row]): Unit = rows.foreach(r => digest.add(r.mkString("\u0001")))

  def setup(dir: Path): Unit = {
    rng = new Gen.Rng(seed * 7 + 3)
    digest = new Gen.Digest
    facts.clear(); factIds.clear(); dims.clear(); nextId = 0L; steps = 0
    authorZ = new Gen.Zipf(NAuthors, Gen.Traffic.ZipfS)
    val f0 = (0 until NFacts).map(_ => newFact())
    val d0 = (0 until DimAuthors).map(i => dimRow(s"u$i"))
    addDigest(f0); addDigest(d0)
    factT = new Livestream.UpsertTable(spark, dir.resolve("facts").toString, factEntity,
      Workload.frame(spark, Nil, Schemas.comments), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = Buckets)))
    dimT = new Livestream.UpsertTable(spark, dir.resolve("dim").toString, dimEntity,
      Workload.frame(spark, Nil, dimSchema), outputPartitions = Some(1),
      partitioning = Some(Livestream.keyBucket(nBuckets = Buckets)))
    factT.seed(Workload.frame(spark, f0, Schemas.comments))
    dimT.seed(Workload.frame(spark, d0, dimSchema))
    agg = Scd.cdcBaseAgg(factT.at(0), "author", "score").localCheckpoint(true)
    topk = Scd.cdcBaseTopK(factT.at(0), "author", "idstr", "score", K).localCheckpoint(true)
    join = Scd.cdcBaseJoin(factsAt(0), dimAt(0), "idstr", "author", Seq("score"),
      Seq("tier", "region_c")).localCheckpoint(true)
  }

  private def factsAt(v: Long) = factT.at(v).select("idstr", "author", "score")
  private def dimAt(v: Long) =
    dimT.at(v).select(col("idstr").as("author"), col("tier"), col("region_c"))

  /** One seeded change batch with unique keys: half inserts, half
    * updates of stored rows (the re-crawl share). An update is a deletion
    * tombstone (author `[DELETED]`, body `[deleted]`: the merge keeps the
    * stored body and takes the author), an author move or a new score. */
  private def changeBatch(): Seq[Row] = {
    val used = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[Row]
    while (out.size < ChangeRows) {
      if (!rng.chance(Gen.Traffic.RecrawlShare)) out += newFact()
      else {
        val id = factIds(rng.int(factIds.size))
        val y = rng.double()
        if (used.add(id)) {
          val f = facts(id)
          val (g, body) =
            if (y < TombstoneShare) (f.copy(author = "[DELETED]"), "[deleted]")
            else if (y < TombstoneShare + MoveShare) {
              val g = Fact(s"u${authorZ.sample(rng)}", f.score, "moved"); (g, g.body)
            } else {
              val g = f.copy(score = f.score + rng.int(200) - 60, body = "rescored"); (g, g.body)
            }
          facts(id) = g
          out += factRow(id, g.author, g.score, body)
        }
      }
    }
    out.toSeq
  }
  private def dimBatch(): Seq[Row] = {
    val used = mutable.HashSet.empty[String]
    (0 until DimRows).flatMap { _ =>
      val a = s"u${rng.int(NAuthors)}"
      if (used.add(a)) Some(dimRow(a)) else None
    }
  }
  private def withSeq(rows: Seq[Row]): Seq[Row] =
    rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong) }

  def warmup(ctx: Ctx): Unit = step(ctx, timed = false)

  def pass(i: Int, ctx: Ctx): Unit = step(ctx, timed = true)

  private def step(ctx: Ctx, timed: Boolean): Unit = {
    val (batch, dimB) = Trace.untimed {
      val b = changeBatch()
      val d = if (steps % 3 == 0) dimBatch() else Nil
      addDigest(b); addDigest(d)
      (b, d)
    }
    steps += 1
    val fIn = Workload.frame(spark, withSeq(batch), factBatchSchema)
    val dIn = Workload.frame(spark, withSeq(dimB), dimBatchSchema)
    val fv0 = factT.currentVersion
    val dv0 = dimT.currentVersion
    val t0 = System.nanoTime()
    ctx.op(if (timed) ctx.light else mutable.ArrayBuffer.empty) {
      Trace.span("merge", "facts") { factT.merge(fIn, "_seq", storeEdits = Some(false)) }
    }
    if (dimB.nonEmpty)
      Trace.span("merge", "dim") { dimT.merge(dIn, "_seq", storeEdits = Some(false)) }
    val fv = factT.currentVersion
    val dv = dimT.currentVersion
    if (timed && Trace.on) Trace.probe {
      ctx.layer("merge.rows_in") += batch.size + dimB.size
      ctx.layer("merge.buckets_rewritten") += Workload.bucketsChanged(factT.manifest(fv0), factT.manifest(fv)) +
        (if (dv > dv0) Workload.bucketsChanged(dimT.manifest(dv0), dimT.manifest(dv)) else 0)
      ctx.layer("changes.buckets_scanned") += Workload.bucketsChanged(factT.manifest(fv0), factT.manifest(fv))
    }
    Trace.planProbe("changes")(factT.changes(fv0, fv))
    ctx.op(if (timed) ctx.heavy else mutable.ArrayBuffer.empty) {
      val ch = factT.changes(fv0, fv)
      val dimCh = dimT.changes(dv0, dv).select(col("idstr").as("author"), col("kind"))
      agg = Trace.span("scd.agg") {
        Scd.cdcApply(agg, ch, "author", "score").localCheckpoint(true)
      }
      topk = Trace.span("scd.topk") {
        Scd.cdcApplyTopK(topk, ch, factT.at(fv), "author", "idstr", "score", K).localCheckpoint(true)
      }
      join = Trace.span("scd.join") {
        Scd.cdcApplyJoin(join, ch, dimCh, factsAt(fv), dimAt(dv), "idstr", "author",
          Seq("score"), Seq("tier", "region_c")).localCheckpoint(true)
      }
    }
    if (timed) {
      ctx.work += batch.size
      ctx.workSeconds += (System.nanoTime() - t0) / 1e9
      ctx.layer("changes.rows_out") += batch.size
    }
  }

  def storeBytesPerRow(): Double = {
    val files = factT.current.inputFiles ++ dimT.current.inputFiles
    Workload.fileBytes(files.toSeq).toDouble / (facts.size + dims.size)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).sorted.toSeq

  def check(ctx: Ctx): Unit = {
    val cur = factT.current.select("idstr", "author", "score", "body").collect()
    ctx.expect("fact rows", cur.length, facts.size)
    ctx.expect("fact rows differing from the generator's state",
      cur.count(r => !facts.get(r.getString(0))
        .contains(Fact(r.getString(1), r.getLong(2), r.getString(3)))), 0)
    val snap = factT.current
    val checks = Seq(
      "agg view" -> (agg, Scd.cdcBaseAgg(snap, "author", "score")),
      "top-k view" -> (topk, Scd.cdcBaseTopK(snap, "author", "idstr", "score", K)),
      "join view" -> (join, Scd.cdcBaseJoin(snap.select("idstr", "author", "score"),
        dimAt(dimT.currentVersion), "idstr", "author", Seq("score"), Seq("tier", "region_c"))))
    checks.foreach { case (name, (view, base)) =>
      val (a, b) = (rows(view), rows(base))
      ctx.expect(s"$name rows", a.size, b.size)
      ctx.expect(s"$name rows differing from the rebuild over the final snapshot",
        a.diff(b).size + b.diff(a).size, 0)
    }
    // the aggregate once more, from the generator's own state
    val want = facts.values.groupBy(_.author).map { case (a, v) => s"$a|${v.size}|${v.map(_.score).sum}" }
    ctx.expect("agg view rows differing from the generator's aggregate",
      rows(agg).diff(want.toSeq.sorted).size, 0)
    ctx.traffic ++= Seq("facts" -> facts.size, "authors" -> NAuthors,
      "dimension_rows" -> dims.size, "author_zipf_s" -> Gen.Traffic.ZipfS, "change_rows_per_step" -> ChangeRows,
      "dimension_rows_per_batch" -> DimRows, "dimension_batch_every_steps" -> 3,
      "steps" -> steps, "insert_share" -> (1 - Gen.Traffic.RecrawlShare),
      "update_tombstone_share" -> TombstoneShare, "update_author_move_share" -> MoveShare,
      "top_k" -> K, "buckets" -> Buckets)
  }

  def inputDigest: Long = digest.value

  def replayDigest(): Long = {
    val again = new CdcViews(spark, seed)
    again.replayInputs(steps)
  }

  /** Regenerates the setup inputs and `n` steps of batches, without Spark. */
  private def replayInputs(n: Int): Long = {
    rng = new Gen.Rng(seed * 7 + 3)
    digest = new Gen.Digest
    authorZ = new Gen.Zipf(NAuthors, Gen.Traffic.ZipfS)
    addDigest((0 until NFacts).map(_ => newFact()))
    addDigest((0 until DimAuthors).map(i => dimRow(s"u$i")))
    (0 until n).foreach { s =>
      addDigest(changeBatch())
      addDigest(if (s % 3 == 0) dimBatch() else Nil)
    }
    digest.value
  }
}

object CdcViews {
  /** A fact row as the generator expects the store to hold it. */
  final case class Fact(author: String, score: Long, body: String)
}
