package flowbench

import java.sql.Timestamp
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.operators.Multimodal

/** Seeded input generators. The program sees only what these produce,
  * and one seed fixes every byte of it. Each workload draws from its
  * own stream (`seed` mixed with a per-use salt), so one generator's
  * draws never shift another's.
  */
object Gen {

  /** Zipf(`s`) sampler over ranks 0 until `n`, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val acc = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
        .scanLeft(0.0)(_ + _).tail
      acc.map(_ / acc.last)
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def rng(seed: Long, salt: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ---- the fraud domain (FIXTURES.md A1-A3) ----------------------------

  /** Traffic dimensions of the fraud inputs.
    *
    * Shares marked "reference" are taken from the published profiles of
    * the reference's datasets. Fraud_Data.csv has 151,112 rows, 14,151
    * of them fraud, 137,956 distinct device ids and 143,512 distinct IP
    * addresses. It has no duplicate rows, no null values and only
    * numeric-float IP strings, and 21,966 of its rows map to no country.
    * creditcard.csv has 284,807 rows, 492 positives and 1,081 duplicate
    * rows. The repository ships none of these files, so the figures are
    * not re-derived here. Values marked "no source" are this
    * benchmark's choice.
    */
  object FraudTraffic {
    val FraudShare = 14151.0 / 151112 // reference
    val CardPositiveShare = 492.0 / 284807 // reference
    // no source: a floor on each table's positives, since the split and
    // SMOTE need both classes on both sides however small the table
    val MinPositives = 10
    val DeviceDistinctShare = 137956.0 / 151112 // reference
    val IpDistinctShare = 143512.0 / 151112 // reference
    val CardDuplicateShare = 1081.0 / 284807 // reference
    val UnmappedIpShare = 21966.0 / 151112 // reference
    // no source: the reference has no null or unparseable IPs, dotted
    // quads, duplicate fraud rows or bad timestamps, but FIXTURES.md A1
    // asks for each; this many rows of each are planted
    val PlantedRows = 3
  }
  import FraudTraffic._

  val Sources: Vector[String] = Vector("Ads", "Direct", "SEO")
  val Browsers: Vector[String] =
    Vector("Chrome", "FireFox", "IE", "Opera", "Safari")
  val Countries: Vector[String] = Vector("United States", "China", "Japan",
    "United Kingdom", "Korea Republic of", "Germany", "France", "Canada",
    "Brazil", "Italy", "Australia", "Netherlands", "Russian Federation",
    "India", "Taiwan", "Mexico", "Sweden", "Spain", "South Africa",
    "Switzerland", "Poland", "Argentina", "Norway", "Colombia", "Chile")

  private val MinIp = 16777216L // 1.0.0.0: lower IPs fall before range 0
  private val MaxIp = 4294967295L
  private val Epoch2015 = 1420070400L

  /** Disjoint sorted IP ranges as (lower, upper, country). Each range is
    * followed by a gap, sized so that the IPs below the first range and
    * in the gaps make up `UnmappedIpShare` of the address space.
    */
  def ipRanges(r: Random, n: Int): Vector[(Long, Long, String)] = {
    val cuts = Vector.fill(n - 1)(MinIp + (r.nextDouble() * (MaxIp - MinIp)).toLong)
    val bounds = (MinIp +: cuts.sorted :+ (MaxIp + 1)).distinct
    val kept = 1 - (UnmappedIpShare - MinIp.toDouble / MaxIp) /
      (1 - MinIp.toDouble / MaxIp)
    val countryZipf = new Zipf(Countries.size, 1.0)
    bounds.zip(bounds.tail).map { case (lo, next) =>
      val hi = lo + math.max(0L, (kept * (next - lo)).toLong - 1)
      (lo, hi, Countries(countryZipf.sample(r)))
    }.toVector
  }

  /** A key sequence of `n` draws in which a new key appears with
    * probability `distinctShare` and otherwise the key of a uniformly
    * chosen earlier draw repeats. That is preferential attachment, so
    * key counts follow a Yule-Simon power law, a Zipf-type skew whose one
    * parameter is the distinct share.
    */
  def skewedKeys(r: Random, n: Int, distinctShare: Double)(
      fresh: () => Long): Vector[Long] = {
    val keys = new Array[Long](n)
    (0 until n).foreach { i =>
      keys(i) =
        if (i == 0 || r.nextDouble() < distinctShare) fresh()
        else keys(r.nextInt(i))
    }
    keys.toVector
  }

  private def ts(epochS: Long): String = {
    val d = java.time.LocalDateTime.ofEpochSecond(epochS, 0,
      java.time.ZoneOffset.UTC)
    d.toString.replace('T', ' ') match {
      case s if s.length == 16 => s + ":00" // toString drops :00 seconds
      case s => s
    }
  }

  /** Seeded row indices of a table's positive class. */
  def positives(r: Random, n: Int, share: Double): Set[Int] =
    r.shuffle((0 until n).toVector)
      .take(math.min(n, math.max(MinPositives, math.round(share * n).toInt))).toSet

  private def deviceName(i: Long): String = {
    val b = new StringBuilder
    var v = i * 2654435761L + 12345L
    (0 until 13).foreach { _ =>
      b.append(('A' + (v % 26).toInt).toChar)
      v = v / 26 + 7919L * (i + 1)
    }
    b.toString
  }

  private def dottedQuad(ip: Long): String =
    s"${ip >>> 24}.${(ip >>> 16) & 255}.${(ip >>> 8) & 255}.${ip & 255}"

  final case class FraudSizes(fraudRows: Int, rangeRows: Int, cardRows: Int) {
    def inputRows: Long = fraudRows.toLong + rangeRows + cardRows
  }

  /** The three reference-shaped CSV files, as text. */
  final case class FraudCsvs(fraud: String, ranges: String, card: String)

  def fraudCsvs(seed: Long, sz: FraudSizes): FraudCsvs = {
    val r = rng(seed, 1L)
    val ranges = ipRanges(r, sz.rangeRows)
    val rangeCsv = new StringBuilder(
      "lower_bound_ip_address,upper_bound_ip_address,country\n")
    ranges.foreach { case (lo, hi, c) =>
      rangeCsv.append(s"$lo.0,$hi,$c\n") }

    val n = sz.fraudRows
    val devices = skewedKeys(r, n, DeviceDistinctShare) {
      var next = 0L
      () => { next += 1; next }
    }
    val ips = skewedKeys(r, n, IpDistinctShare)(
      () => (r.nextDouble() * MaxIp).toLong)
    // rows planted with each edge case, disjoint and never row 0
    val Seq(dupRows, nullIpRows, badIpRows, badTimeRows, dottedRows) =
      r.shuffle((1 until n).toVector).take(5 * PlantedRows)
        .grouped(PlantedRows).map(_.toSet).toSeq
    val fraud = new StringBuilder("user_id,signup_time,purchase_time," +
      "purchase_value,device_id,source,browser,sex,age,ip_address,class\n")
    var last = ""
    var user = 100000L
    val fraudPos = positives(r, n, FraudShare)
    (0 until n).foreach { i =>
      val line =
        if (dupRows(i)) last
        else {
          user += 1 + r.nextInt(40)
          val isFraud = fraudPos(i)
          val signup = Epoch2015 + r.nextInt(120 * 86400)
          val wait =
            if (isFraud && r.nextBoolean()) 1 + r.nextInt(60)
            else r.nextInt(100 * 86400)
          val purchase =
            if (badTimeRows(i)) "not-a-time" else ts(signup + wait)
          val value = 9 + (math.pow(r.nextDouble(), 2) * 140).toInt
          val ip =
            if (nullIpRows(i)) ""
            else if (badIpRows(i)) "not.an.ip"
            else if (dottedRows(i)) dottedQuad(ips(i))
            else f"${ips(i)}%d.${r.nextInt(100000)}%05d"
          s"$user,${ts(signup)},$purchase,$value," +
            s"${deviceName(devices(i))}," +
            s"${Sources(r.nextInt(Sources.size))}," +
            s"${Browsers(r.nextInt(Browsers.size))}," +
            s"${if (r.nextBoolean()) "M" else "F"},${18 + r.nextInt(59)}," +
            s"$ip,${if (isFraud) 1 else 0}\n"
        }
      fraud.append(line)
      last = line
    }

    val card = new StringBuilder("Time," +
      (1 to 28).map(i => s"V$i").mkString(",") + ",Amount,Class\n")
    last = ""
    var time = 0.0
    val cardPos = positives(r, sz.cardRows, CardPositiveShare)
    (0 until sz.cardRows).foreach { i =>
      val line =
        if (last.nonEmpty && r.nextDouble() < CardDuplicateShare) last
        else {
          time += r.nextInt(60)
          val pos = cardPos(i)
          val vs = (1 to 28).map { i =>
            val shift = if (pos && i % 3 == 0) 2.5 else 0.0
            String.format(Locale.ROOT, "%.6f",
              Double.box(r.nextGaussian() + shift))
          }
          val amount = String.format(Locale.ROOT, "%.2f",
            Double.box(math.exp(3 + 1.2 * r.nextGaussian())))
          s"$time,${vs.mkString(",")},$amount,${if (pos) 1 else 0}\n"
        }
      card.append(line)
      last = line
    }
    FraudCsvs(fraud.toString, rangeCsv.toString, card.toString)
  }

  // ---- the transaction stream ------------------------------------------

  /** One streamed transaction, already carrying the uint32 IP (the
    * stream's upstream has parsed it).
    */
  final case class Tx(
      event_id: Long,
      user_id: Long,
      signup_time: Timestamp,
      purchase_time: Timestamp,
      purchase_value: Double,
      source: String,
      browser: String,
      sex: String,
      age: Double,
      ip_address_int: Long)

  /** An endless, seeded transaction sequence: the i-th call to `next`
    * returns the same event for the same seed, however the calls are
    * timed. IPs are uniform over the address space, so nearly every one
    * is distinct, as in the reference; the stream's features key nothing
    * on the IP beyond the range join.
    */
  final class TxStream(seed: Long, salt: Long) {
    private val r = rng(seed, salt)
    private var id = 0L

    def next(): Tx = {
      id += 1
      val signup = Epoch2015 + r.nextInt(120 * 86400)
      val purchase = signup + r.nextInt(100 * 86400)
      Tx(id, 100000L + id, new Timestamp(signup * 1000),
        new Timestamp(purchase * 1000),
        9 + (math.pow(r.nextDouble(), 2) * 140).toInt,
        Sources(r.nextInt(Sources.size)), Browsers(r.nextInt(Browsers.size)),
        if (r.nextBoolean()) "M" else "F", 18 + r.nextInt(59).toDouble,
        (r.nextDouble() * MaxIp).toLong)
    }
  }

  // ---- the crawl ---------------------------------------------------------

  /** Traffic dimensions of the crawl. The reference has no crawl, so
    * only the doc length has a source: the 100-word docs of the probe
    * that motivated this workload. Word frequencies follow Zipf's law
    * (exponent 1) over a lexicon whose top ranks are English stopwords,
    * which makes about a third of the words stopwords. The lexicon size
    * and the clone and near-duplicate shares have no source; the
    * workload needs only that both kinds be planted.
    */
  object CrawlTraffic {
    val Words = 100
    val CloneShare = 0.10 // exact copies of an earlier fresh doc
    val NearDupShare = 0.10 // one word changed
    val Lexicon = 4000
    val WordSkew = 1.0
  }
  import CrawlTraffic._

  /** How a generated doc was planted. */
  sealed trait Kind
  case object Fresh extends Kind
  final case class Clone(source: Long) extends Kind
  final case class NearDup(source: Long) extends Kind

  final case class CrawlBatch(media: Vector[Multimodal.MediaRow],
      kinds: Vector[(Long, Kind)])

  private val EnStop = Vector("the", "and", "of", "to", "a", "in", "is",
    "it", "that", "for")
  private val Syllables = Vector("ka", "lo", "mer", "tin", "sa", "ver",
    "pa", "dru", "ne", "li", "o", "ran", "ble", "ton", "shi", "gra", "mu",
    "es", "qui", "do", "fal", "re", "bon", "tu")

  /** A crawl: the seed corpus and then an endless, seeded sequence of
    * WARC.gz batches whose docs are fresh, or planted clones and near
    * duplicates of earlier fresh docs.
    */
  final class Crawl(seed: Long) {
    private val r = rng(seed, 3L)
    private val lexicon: Vector[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.from(EnStop)
      while (seen.size < Lexicon)
        seen += (0 until 2 + r.nextInt(3))
          .map(_ => Syllables(r.nextInt(Syllables.size))).mkString
      seen.toVector
    }
    private val wordZipf = new Zipf(lexicon.size, WordSkew)
    private val fresh = ArrayBuffer.empty[(Long, String)]

    private def text(): String =
      Vector.fill(Words)(lexicon(wordZipf.sample(r))).mkString(" ")

    /** The index's seed corpus, ids 1..n. Call once, before batches. */
    def corpus(n: Int): Vector[(Long, String)] = {
      val docs = (1 to n).map(i => (i.toLong, text())).toVector
      fresh ++= docs
      docs
    }

    /** Batch `b` (call in order 0, 1, 2, ...): `n` media rows with ids
      * `firstId + b * n + j`, increasing across batches.
      */
    def batch(b: Int, n: Int, firstId: Long): CrawlBatch = {
      val earlier = fresh.toVector // strictly earlier batches only
      val docs = (0 until n).map { j =>
        val id = firstId + b.toLong * n + j
        val u = r.nextDouble()
        if (u < CloneShare && earlier.nonEmpty) {
          val (src, txt) = earlier(r.nextInt(earlier.size))
          (id, Clone(src), txt)
        } else if (u < CloneShare + NearDupShare && earlier.nonEmpty) {
          val (src, txt) = earlier(r.nextInt(earlier.size))
          val words = txt.split(" ")
          words(r.nextInt(words.length)) = lexicon(r.nextInt(lexicon.size))
          (id, NearDup(src), words.mkString(" "))
        } else {
          val txt = text()
          fresh += ((id, txt))
          (id, Fresh, txt)
        }
      }.toVector
      CrawlBatch(docs.map { case (id, _, txt) => mediaRow(id, txt) },
        docs.map { case (id, k, _) => (id, k) })
    }
  }

  /** One fetched archive: a gzip member with the HTTP response record
    * and one with the request record.
    */
  def mediaRow(id: Long, text: String): Multimodal.MediaRow = {
    val response = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n\r\n<p>" + text + "</p>"
    val uri = s"https://site${id % 97}.example/doc/$id"
    Multimodal.MediaRow(id,
      Multimodal.gzipMembersBytes(Seq(
        Multimodal.warcBytesRaw(Seq(("response", uri, response))),
        Multimodal.warcBytesRaw(Seq(("request", uri, ""))))),
      "application/warc", -1, -1)
  }
}
