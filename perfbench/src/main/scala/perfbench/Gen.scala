package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate

import scala.util.Random

/** Seeded input generators: the same seed always yields byte-identical
  * inputs, and the program under test only ever sees what these return.
  */
object Gen {
  val Year = 2024
  val FirstDay: LocalDate = LocalDate.of(Year, 3, 1)
  val Days = 30

  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  // weights sum to 100
  private val StatusWeights = Seq(200 -> 84, 304 -> 5, 404 -> 6,
    301 -> 2, 500 -> 3)
  private val Agents = Array(
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/128.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) Safari/605.1.15",
    "curl/8.5.0", "Grafana/11.1.0")
  val Paths = 200
  val Clients = 2000

  /** Share of frames whose access-log payload does not parse. */
  val CorruptPayloadRate = 0.01
  /** Frames per batch that match neither syslog RFC. */
  val CorruptFrames = 3

  /** One batch of RFC3164-framed nginx access lines over [[Days]] days,
    * in time order, with what a correct ingest must make of it.
    *
    * @param good          lines that must land in the store
    * @param deadLetters   frames with a good envelope and a corrupt payload
    * @param droppedFrames frames the envelope parse must drop
    * @param inputBytes    bytes on the wire, newline framing included
    */
  final case class LogBatch(frames: IndexedSeq[String], good: Long,
                            deadLetters: Long, droppedFrames: Long,
                            bytesSum: Long, byResponse: Map[Int, Long],
                            inputBytes: Long)

  def clientIp(i: Int): String = s"10.${i / 250}.${i % 250}.${1 + i % 7}"
  def path(i: Int): String = s"/api/v1/item/$i"

  private def pad2(i: Int) = if (i < 10) s"0$i" else i.toString

  def logBatch(seed: Long, lines: Int): LogBatch = {
    val r = new Random(seed)
    val start = FirstDay.toEpochDay * 86400L
    val secs = Array.fill(lines)(start + r.nextInt(Days * 86400)).sorted
    val frames = new scala.collection.mutable.ArrayBuffer[String](lines + 8)
    var good, dead, bytesSum = 0L
    val byResponse = scala.collection.mutable.Map.empty[Int, Long]
    secs.foreach { s =>
      val t = java.time.LocalDateTime.ofEpochSecond(s, 0,
        java.time.ZoneOffset.UTC)
      val mon = Months(t.getMonthValue - 1)
      val hms = s"${pad2(t.getHour)}:${pad2(t.getMinute)}:${pad2(t.getSecond)}"
      val day = t.getDayOfMonth
      val envelope = f"<190>$mon $day%2d $hms web0${1 + r.nextInt(3)} nginx: "
      if (r.nextDouble() < CorruptPayloadRate) {
        frames += envelope + s"upstream sent garbage ${r.nextInt(1000000)}"
        dead += 1
      } else {
        // skewed path popularity so top-path panels have a head
        val p = (Paths * math.pow(r.nextDouble(), 3)).toInt
        val w = r.nextInt(100)
        val status = StatusWeights.iterator.scanLeft((0, 0)) {
          case ((_, acc), (st, wt)) => (st, acc + wt)
        }.drop(1).find(_._2 > w).get._1
        val bytes = if (status == 304) 0 else 200 + r.nextInt(50000)
        val verb = if (r.nextInt(10) == 0) "POST" else "GET"
        val ref = if (r.nextBoolean()) "-" else "https://grafana.example/d/nginx"
        val ip = clientIp(r.nextInt(Clients))
        frames += envelope + s"$ip - - " +
          s"[${pad2(day)}/$mon/${t.getYear}:$hms +0000] " +
          s"\"$verb ${path(p)} HTTP/1.1\" $status $bytes " +
          s"\"$ref\" \"${Agents(r.nextInt(Agents.length))}\" \"-\""
        good += 1
        bytesSum += bytes
        byResponse(status) = byResponse.getOrElse(status, 0L) + 1
      }
    }
    (0 until CorruptFrames).foreach { j =>
      frames.insert(r.nextInt(frames.size + 1),
        s"this is not a syslog frame $j ${r.nextInt(1000000)}")
    }
    val inputBytes = frames.iterator.map(_.getBytes(UTF_8).length + 1L).sum
    LogBatch(frames.toIndexedSeq, good, dead, CorruptFrames, bytesSum,
      byResponse.toMap, inputBytes)
  }

  /** A document corpus with planted near-duplicate pairs.
    *
    * @param docs    (doc_id, text) in doc_id order; text is tokens joined by
    *                single spaces
    * @param planted (a, b) with a < b: b is a copy of a with one token
    *                replaced, so their 3-token shingle Jaccard is about 0.9
    */
  final case class Corpus(docs: IndexedSeq[(Long, String)],
                          planted: Set[(Long, Long)])

  def corpus(seed: Long, docs: Int, pairs: Int, tokens: Int): Corpus = {
    require(2 * pairs <= docs, "more planted pairs than documents allow")
    val r = new Random(seed)
    def token() = java.lang.Long.toString(r.nextInt(1 << 30).toLong, 36)
    val originals = docs - pairs
    val texts = Array.fill(originals)(Array.fill(tokens)(token()))
    val twins = (0 until pairs).map { j =>
      val t = texts(j).clone()
      t(r.nextInt(tokens)) = token()
      t
    }
    // doc ids are a seeded permutation, so twins are not adjacent
    val ids = r.shuffle((0L until docs.toLong).toVector)
    val all = (texts.toIndexedSeq ++ twins).zip(ids)
    val planted = (0 until pairs).map { j =>
      val (a, b) = (ids(j), ids(originals + j))
      (math.min(a, b), math.max(a, b))
    }.toSet
    Corpus(all.map { case (t, id) => id -> t.mkString(" ") }.sortBy(_._1),
      planted)
  }
}
