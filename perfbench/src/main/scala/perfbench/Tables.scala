package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}

/** The document and event tables the `stream` leaves read, in the schema
  * and value shapes of the repository's sf test tables, written
  * as one parquet file per table (`<dir>/<name>.parquet`, the layout the
  * leaves and `tools/oracle_check.py` expect).
  *
  * Every value is a pure function of (table, row id), so the tables are the
  * same on every run, partition count and host. The sizes are fixed, which
  * is what lets each leaf's result be pinned in [[Pins]]. They are the sf0.1
  * tables' sizes, so x31's probe meets a hot LSH band key of the same
  * weight (3,217 of 5,000 documents here, 3,137 in sf0.1) and x22 as many
  * users and events per user. */
object Tables {

  val Documents = 5000L
  val Events = 100000L
  val Users = 1500L

  final case class Document(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double, props: String)

  /** splitmix64 of (table, row, draw): independent uniform draws per cell. */
  private def mix(table: Long, row: Long, draw: Int): Long = {
    var z = table * 0x9E3779B97F4A7C15L + row * 0xBF58476D1CE4E5B9L + draw * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def below(table: Long, row: Long, draw: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(table, row, draw), n)
  private def unit(table: Long, row: Long, draw: Int): Double =
    (mix(table, row, draw) >>> 11) * (1.0 / (1L << 53))
  private def cents(v: Double): Double = math.round(v * 100) / 100.0

  private val dayMs = 86400000L
  private def utc(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * dayMs

  private val vocab = ("spark window merge table column vector stream value data small join filter " +
    "big group hash customer sort order slow line part fast row the agg key query a scan batch").split(" ")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
    "de", "de", "de", "fr", "fr", "fr", "es", "es", "es")

  private def docWords(i: Long): String = {
    val n = 10 + below(3, i, 0, 91).toInt
    (0 until n).map(k => vocab(below(3, i, 100 + k, vocab.length).toInt)).mkString(" ")
  }

  /** One document in twenty repeats an earlier one with " dup" appended,
    * the planted near-duplicates x31's verify must find. */
  def document(i: Long): Document = {
    val text =
      if (i > 0 && below(3, i, 1, 20) == 0) docWords(below(3, i, 2, i)) + " dup"
      else docWords(i)
    Document(i, text, langs(below(3, i, 3, langs.length).toInt), s"src${i % 20}", text.length)
  }

  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val eventUs0 = utc(2024, 1, 1) * 1000
  private val eventSpanUs = 30 * dayMs * 1000

  /** Timestamps rise with event_id across 30 days; values are roughly
    * exponential with mean 50, as in the sf tables. */
  def event(i: Long): Event = {
    val us = eventUs0 + ((i + unit(5, i, 0)) * eventSpanUs / Events).toLong
    val ts = new Timestamp(us / 1000)
    ts.setNanos(((us % 1000000) * 1000).toInt)
    Event(i, ts, below(5, i, 1, Users), eventTypes(below(5, i, 2, 5).toInt),
      cents(-50 * math.log(1 - unit(5, i, 3))), s"""{"k": ${below(5, i, 4, 100)}}""")
  }

  def write(spark: SparkSession, dir: Path, partitions: Int): Unit = {
    import spark.implicits._
    def table[T: Encoder](name: String, rows: Long, f: Long => T): Unit =
      writeSingleFile(spark.range(0, rows, 1, partitions).as[Long].map(f).toDF(), dir, name)
    table("documents", Documents, document)
    table("events", Events, event)
  }

  private def writeSingleFile(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
  }
}
