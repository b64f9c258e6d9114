package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What one run of a workload records. */
final class Ctx {
  /** Latencies (ms) of the workload's light and heavy operations. */
  val light = mutable.ArrayBuffer.empty[Double]
  val heavy = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  /** Units of work and the seconds they took, for `throughput_per_s`. */
  var work = 0.0
  var workSeconds = 0.0
  /** Counts a traced run adds per layer (rows in, buckets rewritten...). */
  val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** Traffic dimensions of the generated inputs. */
  val traffic = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]

  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) errors += s"$what: got $got, expected $want"

  /** Runs one timed operation: a failure counts against `attempted` and
    * gives no latency sample. Returns the latency in ms. */
  def op(samples: mutable.ArrayBuffer[Double])(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      val ms = (System.nanoTime() - t0) / 1e6
      samples += ms
      Some(ms)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"operation failed: $e"
        None
    }
  }
}

/** One benchmark workload. `setup` builds a fresh store from the seed;
  * the last store built is the one the timed passes run against. */
trait Workload {
  def setup(dir: Path): Unit
  /** Untimed operations on the freshly built store, to warm the JVM. */
  def warmup(ctx: Ctx): Unit
  /** One complete pass of timed operations. Every pass has the same mix. */
  def pass(i: Int, ctx: Ctx): Unit
  /** Bytes of the files the current store version references (plus edit
    * history), per live row. */
  def storeBytesPerRow(): Double
  /** Output checks against the generator's expectation; failures go to
    * `ctx.errors`. */
  def check(ctx: Ctx): Unit
  /** Digest of every input generated so far, and the same digest from a
    * fresh generator replaying the same calls. */
  def inputDigest: Long
  def replayDigest(): Long
}

object Workload {
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Total size of the regular files below `dir` (0 if absent). */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  def fileBytes(paths: Seq[String]): Long =
    paths.map(p => Files.size(java.nio.file.Paths.get(new java.net.URI(p)))).sum

  /** Bytes of the files an archive's current versions reference, plus its
    * edit history, per live row. */
  def archiveBytesPerRow(a: graft.Timesearch.Archive, liveRows: Int): Double = {
    val files = a.submissions.current.inputFiles ++ a.comments.current.inputFiles
    val edits = Seq(a.submissions, a.comments)
      .map(t => dirBytes(java.nio.file.Paths.get(t.tablePath, "edits"))).sum
    (fileBytes(files.toSeq) + edits).toDouble / liveRows
  }

  /** Buckets whose manifest entry changed between two versions. */
  def bucketsChanged(m1: Map[String, Long], m2: Map[String, Long]): Int =
    (m1.keySet ++ m2.keySet).count(k => m1.get(k) != m2.get(k))
}
