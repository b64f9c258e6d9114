package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded Reddit-shaped input generator plus the independent expectation
  * the benchmark checks the engine against.
  *
  * Everything the program receives is made here from `--seed`: NDJSON
  * dumps, livestream batches, change batches and dimension batches. The
  * generator keeps its own row-by-row model of the archive, applying each
  * generated row in order with the reference's sequential upsert rules
  * (insert if absent; score last-write-wins; text replaced unless the row
  * is a tombstone; one edit record per replaced text). The engine's
  * window-fold merge must reach the same final state.
  */
object Gen {
  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def long(n: Long): Long = r.nextLong(n)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def double(): Double = r.nextDouble()
  }

  /** Zipf(n, s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.double())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val words: Array[String] = {
    val r = new Rng(7L)
    Array.fill(600) {
      val n = 2 + r.int(8)
      new String(Array.fill(n)(('a' + r.int(26)).toChar))
    }
  }
  def text(r: Rng, minWords: Int, maxWords: Int): String =
    Array.fill(minWords + r.int(maxWords - minWords + 1))(words(r.int(words.length)))
      .mkString(" ")

  def b36(n: Long): String = java.lang.Long.toString(n, 36)

  /** Tombstone rule of the reference (deleted rows never clobber text). */
  def tombstone(author: String, body: String): Boolean =
    (author == null || author == "[DELETED]") && (body == "[removed]" || body == "[deleted]")

  // ---- archive rows ----------------------------------------------------

  final class Com(val idstr: String, val idint: Long, val created: Long,
      val author: String, val parent: String, val submission: String,
      var body: String, var score: Long)

  final class Sub(val idstr: String, val idint: Long, val created: Long,
      val author: String, val title: String, var selftext: String,
      var score: Long, var numComments: Long)

  /** One incoming comment row, as a dump line or a stream row carries it.
    * `author == null` is an absent author field. */
  final case class ComIn(idstr: String, created: Long, author: String,
      parent: String, submission: String, body: String, score: Long,
      edited: Option[Long])

  final case class SubIn(idstr: String, created: Long, author: String,
      title: String, selftext: String, score: Long, numComments: Long,
      edited: Option[Long])

  /** The archive as the reference's sequential replay leaves it. */
  final class Model {
    val subs = mutable.LinkedHashMap.empty[String, Sub]
    val coms = mutable.LinkedHashMap.empty[String, Com]
    val threadComs = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    var comEdits = 0L
    var subEdits = 0L
    /** While tracking: each touched comment's (score, body) before the
      * first touch, None if it was absent. */
    private var before: mutable.LinkedHashMap[String, Option[(Long, String)]] = null
    def track(): Unit = before = mutable.LinkedHashMap.empty
    /** Tracked comments whose stored row changed, appeared or went away:
      * what a version-range diff over the tracked span must report. */
    def trackedChanges: Int =
      before.count { case (id, b) => coms.get(id).map(x => (x.score, x.body)) != b }

    private def touch(id: String): Unit =
      if (before != null && !before.contains(id)) before(id) = coms.get(id).map(x => (x.score, x.body))

    /** Removes stored comments, as a key purge does. The edit history is
      * kept (a purge without history erasure leaves the edits log). */
    def purge(ids: Seq[String]): Unit = ids.foreach { id =>
      touch(id)
      coms.remove(id).foreach(c => threadComs(c.submission) -= id)
    }

    def applyCom(c: ComIn): Unit = {
      touch(c.idstr)
      applyComRow(c)
    }

    private def applyComRow(c: ComIn): Unit = coms.get(c.idstr) match {
      case None =>
        val a = if (c.author == null) "[DELETED]" else c.author
        coms(c.idstr) = new Com(c.idstr, java.lang.Long.parseLong(c.idstr.drop(3), 36),
          c.created, a, c.parent, c.submission, c.body, c.score)
        threadComs.getOrElseUpdate(c.submission, mutable.ArrayBuffer.empty) += c.idstr
      case Some(s) =>
        s.score = c.score
        val a = if (c.author == null) "[DELETED]" else c.author
        if (!tombstone(a, c.body) && c.body != s.body) { comEdits += 1; s.body = c.body }
    }

    def applySub(x: SubIn): Unit = subs.get(x.idstr) match {
      case None =>
        subs(x.idstr) = new Sub(x.idstr, java.lang.Long.parseLong(x.idstr.drop(3), 36),
          x.created, if (x.author == null) "[DELETED]" else x.author, x.title,
          x.selftext, x.score, x.numComments)
      case Some(s) =>
        s.score = x.score
        s.numComments = x.numComments
        val a = if (x.author == null) "[DELETED]" else x.author
        if (!tombstone(a, x.selftext) && x.selftext != s.selftext) {
          subEdits += 1; s.selftext = x.selftext
        }
    }
  }

  // ---- traffic shape ---------------------------------------------------

  /** The traffic parameters, fixed for every seed and recorded with every
    * run. Two come from the workload definition: a re-crawl dump re-sees
    * stored ids on about half its lines, and a livestream batch holds
    * about 2k rows. The rest are modelling choices, not measurements:
    * author and thread popularity follow Zipf's law in its classic form
    * (rank-frequency exponent 1), and the edit, tombstone and corrupt-line
    * shares are small enough for updates to dominate re-crawls while every
    * dump still carries edits, tombstones and quarantined lines. */
  object Traffic {
    val Authors = 2000
    val ZipfS = 1.0
    val RecrawlShare = 0.5
    /** Share of new comments that reply to the thread, not to a comment. */
    val TopLevelShare = 0.35
    val EditShare = 0.2
    val TombstoneShare = 0.05
    val CorruptShare = 0.005
    val BlankShare = 0.005
    /** Livestream rows go to the newest 5 % of threads and re-crawl one of
      * a thread's 50 newest comments. */
    val RecentThreads = 0.05
    val RecentComments = 50
    val StreamBatchRows = 2000
  }
  import Traffic._

  /** Reddit-shaped generator over a growing archive. Authors and thread
    * popularity are Zipf-skewed; ids and timestamps grow monotonically. */
  final class Archive(seed: Long) {
    val model = new Model
    val digest = new Digest
    private val authorZ = new Zipf(Authors, ZipfS)
    private var nextSub = 100000L
    private var nextCom = 50000000L
    var clock = 1600000000L
    val threads = mutable.ArrayBuffer.empty[String]
    private var threadZ: Zipf = null
    private var threadZn = 0

    def author(r: Rng): String = s"u${authorZ.sample(r)}"

    /** A thread picked by popularity (rank 0 most popular). Popular
      * threads are scattered over creation order by a fixed permutation
      * so that popularity is not recency. */
    def popularThread(r: Rng): String = {
      if (threadZn != threads.size) { threadZ = new Zipf(threads.size, ZipfS); threadZn = threads.size }
      val rank = threadZ.sample(r)
      threads(((rank.toLong * 2654435761L) % threads.size).toInt)
    }
    /** A thread among the newest [[Traffic.RecentThreads]] (livestream bias). */
    def recentThread(r: Rng): String = {
      val k = math.max(1, (threads.size * RecentThreads).toInt)
      threads(threads.size - 1 - r.int(k))
    }

    def newSub(r: Rng): SubIn = {
      nextSub += 1 + r.int(3); clock += 1 + r.int(20)
      val id = s"t3_${b36(nextSub)}"
      threads += id
      SubIn(id, clock, author(r), text(r, 3, 9), text(r, 5, 40),
        r.int(500).toLong, 0L, None)
    }
    def newCom(r: Rng, thread: String): ComIn = {
      nextCom += 1 + r.int(3); clock += 1
      val id = s"t1_${b36(nextCom)}"
      val siblings = model.threadComs.get(thread)
      val parent =
        if (siblings.isEmpty || r.chance(TopLevelShare)) thread
        else siblings.get(r.int(siblings.get.size))
      ComIn(id, clock, author(r), parent, thread, text(r, 3, 30),
        r.int(200).toLong - 20, None)
    }
    /** A re-crawl of a stored comment: new score; sometimes an edited
      * body (with its `edited` epoch) or a deletion marker. */
    def recrawl(r: Rng, id: String): ComIn = {
      val c = model.coms(id)
      clock += 1
      val score = c.score + r.int(40) - 10
      val x = r.double()
      if (x < TombstoneShare)
        ComIn(id, c.created, null, c.parent, c.submission,
          if (r.chance(0.5)) "[deleted]" else "[removed]", score, None)
      else if (x < TombstoneShare + EditShare)
        ComIn(id, c.created, c.author, c.parent, c.submission,
          text(r, 3, 30), score, Some(clock))
      else ComIn(id, c.created, c.author, c.parent, c.submission, c.body, score, None)
    }
    def recrawlSub(r: Rng, id: String): SubIn = {
      val s = model.subs(id)
      clock += 1
      val n = model.threadComs.get(id).map(_.size.toLong).getOrElse(0L)
      if (r.chance(EditShare))
        SubIn(id, s.created, s.author, s.title, text(r, 5, 40),
          s.score + r.int(50), n, Some(clock))
      else SubIn(id, s.created, s.author, s.title, s.selftext, s.score + r.int(50), n, None)
    }
    def anyCom(r: Rng): String = {
      val t = popularThread(r)
      model.threadComs.get(t) match {
        case Some(b) if b.nonEmpty => b(r.int(b.size))
        case _ => null
      }
    }

    /** The base archive: `nSubs` threads and `nComs` comments, applied to
      * the model. Returns the rows for a bulk seed. */
    def base(nSubs: Int, nComs: Int): (Seq[SubIn], Seq[ComIn]) = {
      val r = new Rng(seed * 31 + 1)
      val subs = (0 until nSubs).map { _ =>
        val s = newSub(r); model.applySub(s); digest.add(subJson(s)); s }
      val coms = (0 until nComs).map { _ =>
        val c = newCom(r, popularThread(r)); model.applyCom(c); digest.add(comJson(c)); c }
      (subs, coms)
    }

    /** One re-crawl NDJSON dump, applied to the model in file order.
      * [[Traffic.RecrawlShare]] of the lines re-see stored ids (some of
      * them ids seen earlier in the same dump); the rest are new comments
      * and threads, plus planted corrupt and blank lines. */
    def dump(round: Int, nLines: Int): Dump = {
      val r = new Rng(seed * 1009 + round)
      val lines = mutable.ArrayBuffer.empty[String]
      var corrupt = 0; var blank = 0; var dups = 0; var reseen = 0
      val seenHere = mutable.ArrayBuffer.empty[String]
      val junk = CorruptShare + BlankShare
      while (lines.size < nLines) {
        val x = r.double()
        if (x < CorruptShare) { lines += s"""{"id": "${b36(r.long(1L << 30))}", "body": "trunc"""; corrupt += 1 }
        else if (x < junk) { lines += ""; blank += 1 }
        else if (x < junk + RecrawlShare) {
          // re-seen ids: a thread (1 in 50), an id seen earlier in this
          // dump (1 in 16), otherwise a stored comment by thread popularity
          val y = r.double()
          if (y < 0.02) {
            val s = recrawlSub(r, threads(r.int(threads.size))); model.applySub(s); lines += subJson(s)
            reseen += 1
          } else {
            val dup = y < 0.02 + 1.0 / 16 && seenHere.nonEmpty
            val id = if (dup) seenHere(r.int(seenHere.size)) else anyCom(r)
            if (id != null) {
              val c = recrawl(r, id); model.applyCom(c); lines += comJson(c)
              seenHere += id; reseen += 1
              if (dup) dups += 1
            }
          }
        } else if (x < junk + RecrawlShare + 0.02) {
          val s = newSub(r); model.applySub(s); lines += subJson(s)
        } else {
          val c = newCom(r, popularThread(r)); model.applyCom(c); lines += comJson(c)
          seenHere += c.idstr
        }
      }
      val text = lines.mkString("", "\n", "\n")
      digest.add(text)
      Dump(text, lines.size, corrupt, blank, dups, reseen)
    }

    /** One livestream batch of unique comment keys, applied to the model:
      * replies to and re-crawls of the newest threads, in the dump's
      * re-crawl share. */
    def streamBatch(round: Int, k: Int, nRows: Int): Seq[ComIn] = {
      val r = new Rng(seed * 7919 + round * 97 + k)
      val used = mutable.HashSet.empty[String]
      val out = mutable.ArrayBuffer.empty[ComIn]
      while (out.size < nRows) {
        val t = recentThread(r)
        val c =
          if (!r.chance(RecrawlShare)) newCom(r, t)
          else model.threadComs.get(t).filter(_.nonEmpty) match {
            case Some(b) =>
              val id = b(b.size - 1 - r.int(math.min(b.size, RecentComments)))
              if (used(id)) null else recrawl(r, id)
            case None => newCom(r, t)
          }
        if (c != null && used.add(c.idstr)) {
          model.applyCom(c); digest.add(comJson(c)); out += c
        }
      }
      out.toSeq
    }

    /** Ids of `n` distinct stored comments drawn by thread popularity: a
      * takedown-sized purge set. */
    def purgeSet(round: Int, n: Int): Seq[String] = {
      val r = new Rng(seed * 4099 + round)
      val out = mutable.LinkedHashSet.empty[String]
      while (out.size < n) Option(anyCom(r)).foreach(out += _)
      digest.add(out.mkString("\n"))
      out.toSeq
    }

    /** The traffic dimensions every run records. */
    def dims: Seq[(String, Any)] = Seq(
      "archive_submissions" -> model.subs.size, "archive_comments" -> model.coms.size,
      "authors" -> Authors, "author_zipf_s" -> ZipfS, "thread_zipf_s" -> ZipfS,
      "edit_share" -> EditShare, "tombstone_share" -> TombstoneShare)
  }

  final case class Dump(text: String, lines: Int, corrupt: Int, blank: Int, dups: Int, reseen: Int)

  private def q(s: String) = "\"" + s + "\""
  def comJson(c: ComIn): String = {
    val b = new StringBuilder("{")
    b ++= s""""id":${q(c.idstr.drop(3))},"name":${q(c.idstr)},"created_utc":${c.created},"""
    if (c.author != null) b ++= s""""author":${q(c.author)},"""
    b ++= s""""subreddit":"bench","score":${c.score},"edited":${c.edited.map(_.toString).getOrElse("false")},"""
    b ++= s""""body":${q(c.body)},"parent_id":${q(c.parent)},"link_id":${q(c.submission)}}"""
    b.toString
  }
  def subJson(s: SubIn): String = {
    val b = new StringBuilder("{")
    b ++= s""""id":${q(s.idstr.drop(3))},"name":${q(s.idstr)},"created_utc":${s.created},"""
    if (s.author != null) b ++= s""""author":${q(s.author)},"""
    b ++= s""""subreddit":"bench","score":${s.score},"edited":${s.edited.map(_.toString).getOrElse("false")},"""
    b ++= s""""is_self":true,"over_18":false,"title":${q(s.title)},"selftext":${q(s.selftext)},"num_comments":${s.numComments}}"""
    b.toString
  }

  def writeFile(p: Path, s: String): Long = {
    Files.createDirectories(p.getParent)
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  /** FNV-1a over the bytes of every generated input: the benchmark
    * regenerates the inputs and compares, so one seed must give
    * byte-identical inputs. */
  final class Digest {
    private var h = 0xcbf29ce484222325L
    def add(s: String): Unit = {
      val bs = s.getBytes(StandardCharsets.UTF_8)
      var i = 0
      while (i < bs.length) { h = (h ^ (bs(i) & 0xff)) * 0x100000001b3L; i += 1 }
    }
    def value: Long = h
  }
}
