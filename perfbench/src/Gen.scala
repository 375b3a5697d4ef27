package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators, one per workload. The same seed gives the same
  * rows; the engine only ever sees the parquet files and batch rows made
  * here. Sizes are fixed; each generator's scaladoc names what the seed
  * varies. */
object Gen {

  /** Word list shared by every text generator: fixed, not seeded, so the
    * seed moves the mix of documents and never the language itself. */
  val vocab: IndexedSeq[String] = {
    val r = new Random(7L)
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da",
      "go", "fu", "ri", "mo", "te", "la", "ze", "bi", "no", "ha")
    (0 until 3000).map(_ => Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.size))).mkString)
      .distinct
  }
  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
  private val deStop = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "im")

  /** A clean English document of `n` tokens: content words plus stopwords. */
  def cleanTokens(r: Random, n: Int): Array[String] =
    Array.fill(n)(if (r.nextInt(4) == 0) enStop(r.nextInt(enStop.size))
      else vocab(r.nextInt(vocab.size)))

  /** A near-duplicate: `src` with a share `edit` of its tokens replaced. */
  def nearDup(r: Random, src: Array[String], edit: Double): Array[String] =
    src.map(t => if (r.nextDouble() < edit) vocab(r.nextInt(vocab.size)) else t)

  def docsFrame(s: SparkSession, rows: Seq[(Long, String, String)]): DataFrame =
    s.createDataFrame(rows).toDF("doc_id", "text", "lang")

  // ------------------------------------------------------------- nvs_job

  val nvsRows = 2000

  /** `customer` and `nation` parquet for [[graft.jobs.NvsStaging.register]].
    * The seed varies the customer-key multiset: keys are drawn with
    * replacement from 1..K, K seeded in [nvsRows/2, 2*nvsRows], so both the
    * key set and its duplicate counts change. */
  def nvs(s: SparkSession, dir: String, seed: Long): Unit = {
    import s.implicits._
    val r = new Random(seed)
    val k = nvsRows / 2 + r.nextInt(nvsRows * 3 / 2)
    val keys = Seq.fill(nvsRows)(1L + r.nextInt(k))
    keys.zipWithIndex.map { case (c, i) => (c, s"Customer#$i", (c % 25).toInt) }
      .toDF("c_custkey", "c_name", "c_nationkey")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val names = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
      "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
      "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
      "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
    names.zipWithIndex.map { case (n, i) => (i, n, i / 5) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
  }

  // ------------------------------------------------ llm_ops: dedup index

  val dedupBase = 1000
  val dedupBatch = 100

  /** The dedup corpus in arrival order: `dedupBase` base documents, then an
    * unbounded stream of `dedupBatch`-document ingest batches. The seed
    * varies the near-duplicate share (0.15 to 0.35 of every batch), which
    * earlier document each near-duplicate copies, its edit rate, and the
    * order in which fresh and near-duplicate documents arrive. */
  final class DocStream(seed: Long) {
    private val r = new Random(seed)
    val nearDupShare: Double = 0.15 + 0.2 * r.nextDouble()
    private val docs = ArrayBuffer.empty[Array[String]]
    private def next(dupShare: Double): (Long, String, String) = {
      val toks =
        if (docs.nonEmpty && r.nextDouble() < dupShare)
          nearDup(r, docs(r.nextInt(docs.size)), 0.02 + 0.1 * r.nextDouble())
        else cleanTokens(r, 40 + r.nextInt(40))
      docs += toks
      ((docs.size - 1).toLong, toks.mkString(" "), "en")
    }
    val base: Seq[(Long, String, String)] = Seq.fill(dedupBase)(next(0.05))
    private val batches = ArrayBuffer.empty[Seq[(Long, String, String)]]
    /** Batch `i` (0-based); batches are made in order, so any `i` is stable. */
    def batch(i: Int): Seq[(Long, String, String)] = {
      while (batches.size <= i) batches += Seq.fill(dedupBatch)(next(nearDupShare))
      batches(i)
    }
  }

  // ------------------------------------------------- llm_ops: streaming

  val eventRows = 4000
  val eventTypes = Seq("click", "signup", "error", "view", "purchase")

  /** `events` parquet in the schema of the repo's test data (ts as TIMESTAMP, no
    * zone). The seed varies the user count (100 to 300) and the
    * event-type mix (each type's weight drawn from 1 to 4). */
  def events(s: SparkSession, dir: String, seed: Long): Unit = {
    import s.implicits._
    val r = new Random(seed)
    val users = 100 + r.nextInt(201)
    val w = eventTypes.map(_ => 1.0 + 3.0 * r.nextDouble())
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val rows = (0 until eventRows).map { i =>
      val u = r.nextDouble()
      val ty = eventTypes(cum.indexWhere(u <= _) max 0)
      val ts = t0.plusNanos((r.nextDouble() * 30 * 86400e6).toLong * 1000L)
      (i.toLong, ts, r.nextInt(users).toLong, ty, (r.nextInt(100000) / 100.0), "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
  }

  // -------------------------------------------------- llm_ops: curation

  val curationDocs = 2000

  /** The curation corpus. The seed varies the low-quality share (digit and
    * punctuation soup, 0.05 to 0.20), the near-duplicate share (0.10 to
    * 0.30), the exact-duplicate share (0.02 to 0.08), and which documents
    * they copy; one in ten clean documents is German. */
  def curation(s: SparkSession, dir: String, seed: Long): Unit = {
    val r = new Random(seed)
    val lowQ = 0.05 + 0.15 * r.nextDouble()
    val nd = 0.10 + 0.2 * r.nextDouble()
    val ex = 0.02 + 0.06 * r.nextDouble()
    val made = ArrayBuffer.empty[Array[String]]
    val rows = (0 until curationDocs).map { i =>
      val u = r.nextDouble()
      val (toks, lang) =
        if (made.nonEmpty && u < ex) (made(r.nextInt(made.size)), "en")
        else if (made.nonEmpty && u < ex + nd)
          (nearDup(r, made(r.nextInt(made.size)), 0.02 + 0.06 * r.nextDouble()), "en")
        else if (u < ex + nd + lowQ)
          (Array.fill(10 + r.nextInt(20))(
            (r.nextInt(1000).toString + "#%$".charAt(r.nextInt(3)))), "en")
        else if (r.nextInt(10) == 0)
          (Array.fill(60 + r.nextInt(60))(
            if (r.nextInt(4) == 0) deStop(r.nextInt(deStop.size))
            else vocab(r.nextInt(vocab.size))), "de")
        else (cleanTokens(r, 60 + r.nextInt(60)), "en")
      made += toks
      (i.toLong, toks.mkString(" "), lang)
    }
    docsFrame(s, rows).coalesce(1).write.parquet(s"$dir/documents.parquet")
  }
}
