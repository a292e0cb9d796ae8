package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** What a generated log set must produce under [[LogGen.Cfg]]'s
  * filter/redact settings: the report counters the ETL pipeline is
  * checked against on every pass. */
final case class LogTruth(
    lines: Long, corrupt: Long, badTs: Long, missingLevel: Long,
    byLevel: Map[String, Long], byService: Map[String, Long],
    filteredLevel: Long, filteredService: Long, kept: Long,
    piiLines: Long, keptPiiLines: Long)

/** Seeded JSONL log lines shaped like the k8s logs the pipeline is
  * written for: key aliases (ts/time, level/severity, msg/message,
  * service/app/component, trace_id/trace), a nested `kubernetes`
  * object, mixed-case levels, and planted faults: ~1% corrupt JSON,
  * ~1% unparseable `ts`, ~1% missing level, ~9% lines carrying a PII
  * key. The generator tallies its own ground truth while writing. */
final class LogGen(seed: Long) {
  import LogGen._

  private val r = new SplittableRandom(seed)
  private var id = 0L
  private var corrupt, badTs, missingLevel, fLevel, fService, kept,
      pii, keptPii = 0L
  private val byLevel = mutable.Map[String, Long]().withDefaultValue(0L)
  private val byService = mutable.Map[String, Long]().withDefaultValue(0L)

  def truth: LogTruth = LogTruth(id, corrupt, badTs, missingLevel,
    byLevel.toMap, byService.toMap, fLevel, fService, kept, pii, keptPii)

  /** Write `n` lines to `file`. */
  def writeFile(file: File, n: Int): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 20)
    try {
      val sb = new java.lang.StringBuilder(512)
      var i = 0
      while (i < n) { sb.setLength(0); line(sb); sb.append('\n'); w.append(sb); i += 1 }
    } finally w.close()
  }

  private def pick[T](a: Array[T]): T = a(r.nextInt(a.length))

  private def kv(sb: java.lang.StringBuilder, k: String, v: String): Unit = {
    if (sb.length > 1) sb.append(',')
    sb.append('"').append(k).append("\":\"").append(v).append('"')
  }

  private def line(sb: java.lang.StringBuilder): Unit = {
    id += 1
    val u = r.nextInt(1000)
    if (u < 10) {
      corrupt += 1
      if (r.nextBoolean()) sb.append("{not-json ").append(id)
      else sb.append("{\"ts\":\"2024-05-01T00:00:00Z\",\"msg\":\"cut off ").append(id)
      return
    }
    val isBadTs = u < 20
    val isNoLevel = u >= 20 && u < 30
    sb.append('{')
    val secs = Epoch0 + id / 7
    kv(sb, if (r.nextBoolean()) "ts" else "time",
      if (isBadTs) pick(BadTs) else rfc3339(secs, r.nextInt(4)))
    val level = pickLevel()
    if (!isNoLevel) kv(sb, if (r.nextInt(3) == 0) "severity" else "level", level)
    kv(sb, if (r.nextBoolean()) "msg" else "message",
      s"${pick(Verbs)} ${pick(Objects)} in ${r.nextInt(900) + 1}ms")
    val service = if (r.nextInt(100) < 3) "" else pick(Services)
    if (service.nonEmpty) kv(sb, pick(ServiceKeys), service)
    if (r.nextInt(100) < 40)
      sb.append(",\"kubernetes\":{\"namespace_name\":\"ns-").append(r.nextInt(6))
        .append("\",\"pod_name\":\"pod-").append(r.nextInt(300))
        .append("\",\"node_name\":\"node-").append(r.nextInt(12)).append("\"}")
    if (r.nextInt(10) == 0) kv(sb, "namespace", s"team-${r.nextInt(4)}")
    if (r.nextInt(5) == 0) kv(sb, "hostname", s"host-${r.nextInt(40)}")
    if (r.nextInt(4) != 0)
      kv(sb, if (r.nextBoolean()) "trace_id" else "trace", java.lang.Long.toHexString(r.nextLong()))
    sb.append(",\"user_id\":").append(r.nextInt(100000))
    sb.append(",\"status\":").append(pick(Statuses))
    kv(sb, "path", s"/api/v${r.nextInt(3) + 1}/${pick(Objects)}")
    val p = r.nextInt(100)
    val hasPii = p < 9
    if (p < 6) kv(sb, "user_email", s"u${r.nextInt(100000)}@example.com")
    else if (p < 9) kv(sb, "token", java.lang.Long.toHexString(r.nextLong()))
    sb.append('}')

    if (hasPii) pii += 1
    if (isBadTs) badTs += 1
    else if (isNoLevel) missingLevel += 1
    else {
      val lvl = level.toUpperCase
      byLevel(lvl) += 1
      if (service.nonEmpty) byService(service) += 1
      if (!Cfg.filterLevels.contains(lvl)) fLevel += 1
      else if (!Cfg.filterServices.contains(service.toLowerCase)) fService += 1
      else { kept += 1; if (hasPii) keptPii += 1 }
    }
  }

  private def pickLevel(): String = {
    val base = r.nextInt(20) match {
      case x if x < 9 => "info"
      case x if x < 13 => "warn"
      case x if x < 15 => "error"
      case _ => "debug"
    }
    r.nextInt(3) match {
      case 0 => base
      case 1 => base.toUpperCase
      case _ => base.capitalize
    }
  }

  private def rfc3339(secs: Long, variant: Int): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    variant match {
      case 0 => base + "Z"
      case 1 => base + f".${r.nextInt(1000)}%03dZ"
      case 2 => base + f".${r.nextInt(1000000)}%06d+02:00"
      case _ => base + "-05:30"
    }
  }
}

object LogGen {
  /** The filter/redact settings every ETL workload runs under (the
    * levels and services of `EventsAsLogs.QueryConfig`, plus a second
    * redacted key). */
  object Cfg {
    val filterLevels = Seq("WARN", "ERROR")
    val filterServices = Seq("click", "error", "view", "purchase")
    val redactKeys = Seq("user_email", "token")
  }

  private val Epoch0 = 1714521600L // 2024-05-01T00:00:00Z
  private val BadTs = Array("not-a-date", "2024-13-45T25:61:00Z",
    "2024/05/01 10:11:12", "1714521600")
  private val Services = Array("click", "view", "purchase", "error", "signup",
    "Click", "checkout", "View")
  private val ServiceKeys = Array("service", "service", "app", "component")
  private val Statuses = Array(200, 200, 200, 201, 204, 301, 404, 500, 503)
  private val Verbs = Array("served", "rejected", "retried", "cached",
    "queued", "dropped", "accepted", "forwarded")
  private val Objects = Array("cart", "order", "session", "profile",
    "invoice", "search", "image", "token-refresh", "checkout")
}

/** Ground truth of a generated corpus: document count, the planted
  * exact-duplicate groups (each group's ids share one text), and how
  * many documents were planted to fail each gate. */
final case class CorpusTruth(docs: Long, dupGroups: Seq[Seq[Long]],
    planted: Map[String, Long])

/** Seeded document corpus for curation: paragraphs of pseudo-words
  * from a seeded vocabulary, repeated boilerplate lines and
  * paragraphs, HTML pages, inline PII, short, low-quality and
  * badly-encoded documents, and planted exact duplicates (2-3 copies
  * of one text under different ids). Written as JSONL
  * (`doc_id`, `text`). */
object CorpusGen {

  private val Stopwords = Array("the", "a", "of", "to", "and", "in", "is", "it")
  private val Syllables = Array("ka", "lo", "mi", "ren", "tu", "sa", "vel",
    "do", "ri", "on", "pa", "qui", "ex", "mor", "len", "ta", "bi", "zu")
  private val BoilerLines = Array(
    "Subscribe to our newsletter for weekly updates",
    "All rights reserved. Copyright 2024 Example Media Group",
    "Click here to accept cookies and continue browsing",
    "Share this article on social media",
    "Related posts you might also like",
    "Sign in to leave a comment",
    "Advertisement",
    "Back to top")
  private val BoilerParas = Array(
    "We use cookies to improve your experience.\nBy continuing you agree to our policy.",
    "About the author\nThe author writes about technology and culture.",
    "Terms of service\nPrivacy policy\nContact us",
    "Follow us\nTwitter Facebook Instagram")

  def write(file: File, docs: Int, seed: Long): CorpusTruth = {
    val r = new SplittableRandom(seed)
    val vocab = Array.fill(4000) {
      val n = 2 + r.nextInt(3)
      (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    def word(): String =
      if (r.nextInt(4) == 0) Stopwords(r.nextInt(Stopwords.length))
      else vocab(r.nextInt(vocab.length))
    def sentence(n: Int): String = Iterator.fill(n)(word()).mkString(" ")
    def body(): String = {
      val paras = Array.fill(2 + r.nextInt(3)) {
        val ls = mutable.ArrayBuffer.fill(2 + r.nextInt(3))(sentence(8 + r.nextInt(7)))
        if (r.nextInt(100) < 30) ls.insert(r.nextInt(ls.size + 1),
          BoilerLines(r.nextInt(BoilerLines.length)))
        if (r.nextInt(100) < 10) ls += (s"contact ${word()}.${r.nextInt(999)}@example.org " +
          s"or call 555-${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)} from " +
          s"10.${r.nextInt(255)}.${r.nextInt(255)}.${r.nextInt(255)}")
        ls.mkString("\n")
      }.toBuffer
      if (r.nextInt(100) < 15) paras += BoilerParas(r.nextInt(BoilerParas.length))
      paras.mkString("\n\n")
    }

    val planted = mutable.Map[String, Long]().withDefaultValue(0L)
    val texts = mutable.ArrayBuffer[String]()
    val normal = mutable.ArrayBuffer[Int]()
    for (_ <- 0 until docs) {
      val u = r.nextInt(100)
      val text =
        if (u < 3) { planted("short") += 1; sentence(3 + r.nextInt(4)) }
        else if (u < 7) {
          planted("low_quality") += 1
          val w = word(); Iterator.fill(40 + r.nextInt(40))(w).mkString(" ")
        } else if (u < 9) {
          planted("bad_encoding") += 1; body().replaceFirst(" ", " \uFFFD ")
        } else if (u < 19) {
          planted("html") += 1
          "<html><head><style>p { margin: 0 }</style><script>var x = 1;</script></head><body>\n" +
            body().split("\n", -1).map(l => if (l.isEmpty) l else s"<p>$l</p>").mkString("\n") +
            "\n</body></html>"
        } else { normal += texts.size; body() }
      texts += text
    }
    // exact duplicates: 2-3 copies of 4% of the normal documents
    val groups = mutable.ArrayBuffer[Seq[Long]]()
    val sources = mutable.LinkedHashSet[Int]()
    while (sources.size < docs / 25) sources += normal(r.nextInt(normal.size))
    for (src <- sources) {
      val copies = (0 until 1 + r.nextInt(2)).map { _ =>
        texts += texts(src); (texts.size - 1).toLong
      }
      groups += (src.toLong +: copies)
    }
    planted("duplicate_copies") = groups.map(_.size - 1).sum.toLong

    file.getParentFile.mkdirs()
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 20)
    try texts.zipWithIndex.foreach { case (t, i) =>
      w.write("{\"doc_id\":"); w.write(i.toString)
      w.write(",\"text\":\""); w.write(jsonEscape(t)); w.write("\"}\n")
    } finally w.close()
    CorpusTruth(texts.size.toLong, groups.toSeq, planted.toMap)
  }

  private def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c => sb.append(c)
    }
    sb.toString
  }
}
