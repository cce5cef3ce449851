package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every byte written depends only on the seed
  * and the size parameters: all randomness comes from SplittableRandom
  * streams split off the seed, generation runs on the driver in one
  * thread, and ZIP entries carry a fixed timestamp. */
object Gen {
  private val vocab = Array("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")

  private def rng(seed: Long, stream: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def words(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 until n) { if (i > 0) sb += ' '; sb ++= vocab(r.nextInt(vocab.length)) }
    sb.toString
  }

  /** Pareto(alpha) sizes in [lo, hi] — the heavy tail of real notices. */
  private def pareto(r: SplittableRandom, lo: Int, hi: Int, alpha: Double): Int =
    math.min(hi.toDouble, lo * math.pow(1.0 - r.nextDouble(), -1.0 / alpha)).toInt

  // ---------------------------------------------------------------- FaT

  final case class FatParams(days: Int, notices: Int, batchDays: Int)

  /** One generated notice: where it lives and what the extract must say. */
  final case class Notice(day: Int, entry: String, family: String, truncated: Boolean)

  final case class FatFixture(dir: Path, batches: Seq[Path], dates: Seq[String],
      notices: Seq[Notice], inputBytes: Long) {
    def nonTruncated: Seq[Notice] = notices.filterNot(_.truncated)
  }

  val ukTags: Seq[String] = (16 to 1 by -1).map(n => s"UK${n}_2023") :+ "UK1_2022"
  private val day0 = java.time.LocalDate.parse("2024-01-01")
  private val zipTime = 1704067200000L // 2024-01-01T00:00:00Z

  /** Day sizes follow a lognormal weight (a few heavy days, many light
    * ones); payload pads follow Pareto(1.5) over 1..64 KiB; 2% of the
    * entries are truncated mid-document, 1% are Latin-1 encoded, and
    * some ZIPs carry a non-XML manifest entry the scan must skip. */
  def fat(seed: Long, p: FatParams, dir: Path): FatFixture = {
    val r = rng(seed, 1)
    val w = Array.fill(p.days)(math.exp(r.nextGaussian() * 0.9))
    val scale = (p.notices - p.days) / w.sum
    val perDay = w.map(x => 1 + (x * scale).toInt)
    perDay(perDay.indices.maxBy(w)) += p.notices - perDay.sum
    val pad = words(r, 14000) // ~80 KiB of text, sliced per notice
    val notices = Vector.newBuilder[Notice]
    val batches = Vector.newBuilder[Path]
    val dates = (0 until p.days).map(d => day0.plusDays(d).toString)
    var id = 0
    var bytes = 0L
    for (d <- 0 until p.days) {
      val bdir = dir.resolve(f"w${d / p.batchDays}%03d")
      if (d % p.batchDays == 0) { Files.createDirectories(bdir); batches += bdir }
      val zip = bdir.resolve(s"notices-${dates(d)}.zip")
      val out = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(zip.toFile), 1 << 16))
      def put(name: String, b: Array[Byte]): Unit = {
        val e = new ZipEntry(name); e.setTime(zipTime)
        out.putNextEntry(e); out.write(b); out.closeEntry()
      }
      if (r.nextInt(10) < 3) put("manifest.txt", s"day ${dates(d)}\n".getBytes(UTF_8))
      for (_ <- 0 until perDay(d)) {
        id += 1
        val family = if (r.nextInt(100) < 35) "TED" else ukTags(r.nextInt(ukTags.size))
        val size = pareto(r, 1024, 65536, 1.5)
        val off = r.nextInt(pad.length - 65536)
        val body = pad.substring(off, off + size)
        val latin1 = r.nextInt(100) == 0
        val buyer = if (latin1) s"Café Société $id" else s"Buyer ${r.nextInt(500)}"
        val xml = if (family == "TED") tedXml(id, r, buyer, body) else ukXml(family, id, r, buyer, body)
        val truncated = r.nextInt(50) == 0
        val text =
          if (!truncated) xml
          else xml.substring(0, 1 + r.nextInt(xml.indexOf(if (family == "TED") "</NO_DOC_OJS>" else "</NOTICE_ID>")))
        val name = f"n$id%07d.xml"
        put(name, text.getBytes(if (latin1) ISO_8859_1 else UTF_8))
        notices += Notice(d, name, family, truncated)
      }
      out.close()
      bytes += Files.size(zip)
    }
    FatFixture(dir, batches.result(), dates, notices.result(), bytes)
  }

  private def tedXml(i: Int, r: SplittableRandom, buyer: String, body: String): String = {
    val cpv = (0 to r.nextInt(3)).map(_ => f"""<ORIGINAL_CPV CODE="${45000000 + r.nextInt(5000000)}%d">works</ORIGINAL_CPV>""").mkString
    s"""<TED_EXPORT><TD_DOCUMENT_TYPE CODE="${r.nextInt(9)}"/><NOTICE_DATA><NO_DOC_OJS>S-$i</NO_DOC_OJS>$cpv""" +
      s"""<NUTS2021 CODE="UK${'C' + r.nextInt(10)}"/></NOTICE_DATA><TRANSLATION_SECTION><ML_TITLES>""" +
      s"""<ML_TI_DOC LG="FR"><TI_TEXT>avis $i</TI_TEXT></ML_TI_DOC><ML_TI_DOC LG="EN"><TI_TEXT>notice $i</TI_TEXT></ML_TI_DOC>""" +
      s"""</ML_TITLES></TRANSLATION_SECTION><CONTRACTING_BODY><OFFICIALNAME>$buyer</OFFICIALNAME></CONTRACTING_BODY>""" +
      s"""<OBJECT_CONTRACT><VAL_TOTAL CURRENCY="GBP">${r.nextInt(900000)}.50</VAL_TOTAL><DESCRIPTION>$body</DESCRIPTION>""" +
      "</OBJECT_CONTRACT></TED_EXPORT>"
  }

  private val categories = Array("works", "goods", "services")
  private val tags = Array("tender", "award", "contract", "planning")

  private def ukXml(tag: String, i: Int, r: SplittableRandom, buyer: String, body: String): String =
    s"<$tag><NOTICE_ID>U-$i</NOTICE_ID><TENDER><TITLE>tender $i</TITLE><VALUE>${r.nextInt(90000)}.25</VALUE>" +
      s"<CATEGORY>${categories(r.nextInt(3))}</CATEGORY></TENDER><BUYER><NAME>$buyer</NAME></BUYER>" +
      s"<TAGS><TAG>${tags(r.nextInt(4))}</TAG></TAGS><NOTES>$body</NOTES></$tag>"

  // ----------------------------------------------------------------- CF

  final case class CfParams(days: Int, urisPerDay: Int)

  /** One CSV row as the generator wrote it (None = blank row). */
  final case class CfDay(date: String, csvDir: Path, rows: Seq[Option[String]])

  final case class CfFixture(days: Seq[CfDay], server: OcdsServer, inputBytes: Long)

  /** Daily URI CSVs: ~2% blank rows, ~3% in-day duplicates and ~10% of
    * each day's notices republished from earlier days. */
  def cf(seed: Long, p: CfParams, dir: Path): CfFixture = {
    val r = rng(seed, 2)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var next = 0
    var bytes = 0L
    val days = for (d <- 0 until p.days) yield {
      val date = day0.plusDays(d).toString
      val rows = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
      val today = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rows.size < p.urisPerDay) {
        val k = r.nextInt(100)
        if (k < 2) rows += None
        else if (k < 5 && today.nonEmpty) rows += Some(today(r.nextInt(today.size)))
        else {
          val uri =
            if (k < 15 && seen.nonEmpty) seen(r.nextInt(seen.size))
            else { next += 1; f"https://www.contractsfinder.service.gov.uk/Published/Notice/releases/${seed & 0xffff}%04x-$next%06d.json" }
          rows += Some(uri); today += uri
        }
      }
      seen ++= today.distinct
      val ddir = dir.resolve(date)
      Files.createDirectories(ddir)
      val csv = ddir.resolve(s"Contracts Finder OCDS $date.csv")
      val body = rows.map {
        case Some(u) => s"$u,x"
        case None    => ",blank"
      }.mkString("uri,extra\n", "\n", "\n")
      Files.write(csv, body.getBytes(UTF_8))
      bytes += Files.size(csv)
      CfDay(date, ddir, rows.toSeq)
    }
    CfFixture(days, OcdsServer(seed), bytes)
  }

  // -------------------------------------------------------- query tables

  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjs = Array("red", "small", "hot", "old", "large", "blue", "cold", "new")
  private val nouns = Array("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
  private val ptypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "signup", "error", "view", "purchase")
  private val langs = Array("en", "en", "en", "en", "de", "fr", "es", "zh")

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def dayTs(r: SplittableRandom, from: String, days: Int): java.time.LocalDateTime =
    java.time.LocalDate.parse(from).plusDays(r.nextInt(days)).atStartOfDay()

  /** The ten registry tables (same names, columns and physical types as
    * the synthetic star schema the query registry is written against),
    * at the 0.01 sizes. Fixed content for a given seed; the query mix
    * uses one fixed seed so its result digests can be stored. */
  def tables(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val r = rng(seed, 3)
    val (nCust, nSupp, nPart, nOrd, nLine, nEv, nDoc, nUser) = (1500, 100, 2000, 15000, 60000, 10000, 500, 150)
    def write(name: String, s: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, s).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    write("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("customer", schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99),
        segments(r.nextInt(5)))))
    write("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99))))
    write("part", schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${adjs(r.nextInt(8))} ${nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", ptypes(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    write("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong, "FOP".substring(r.nextInt(3)).take(1),
        cents(r, 1000, 500000), dayTs(r, "1995-01-01", 2404), priorities(r.nextInt(5)))))
    write("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
      (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, cents(r, 900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, "ANR".substring(r.nextInt(3)).take(1), "FO".substring(r.nextInt(2)).take(1),
        dayTs(r, "1995-01-02", 2498))))
    val ev0 = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
    val gap = 30L * 86400L * 1000000L / nEv
    var tsMicros = 0L
    write("events", schema("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEv).map { i =>
        tsMicros += 1 + (-math.log(1.0 - r.nextDouble()) * gap).toLong
        Row(i.toLong, ev0.plusNanos(tsMicros * 1000L), r.nextInt(nUser).toLong, eventTypes(r.nextInt(5)),
          math.max(0.01, math.round(-math.log(1.0 - r.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${r.nextInt(100)}}""")
      })
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    write("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until nDoc).map { i =>
        val t =
          if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(texts.size)) + " dup"
          else words(r, 10 + r.nextInt(90))
        texts += t
        Row(i.toLong, t, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}", t.length.toLong)
      })
    val centroids = Array.fill(10)(Array.fill(64)(r.nextGaussian()))
    write("embeddings", schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until nDoc).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(j => 0.15 * centroids(label)(j) + r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

/** The benchmark's stand-in for the Contracts Finder API: a pure
  * function from URI to response, seeded, serializable so `enrich` can
  * ship it to executors. 1% of URIs answer invalid JSON, 0.5% a
  * permanent 4xx; the rest answer an OCDS release package with
  * heavy-tailed parties, awards and items. No transient failures: the
  * retry loop's fixed back-off would turn the measurement into sleep. */
final case class OcdsServer(seed: Long) {
  import OcdsServer._

  private def r(uri: String) = new SplittableRandom(seed * 31 + uri.hashCode.toLong * 0x9E3779B97F4A7C15L)

  /** What the server does for `uri`. */
  def outcome(uri: String): Outcome = {
    val x = r(uri).nextInt(1000)
    if (x < 10) InvalidJson else if (x < 15) NotFound else Ok
  }

  def ocid(uri: String): String =
    "ocds-b5fd17-" + uri.substring(uri.lastIndexOf('/') + 1).stripSuffix(".json")

  /** (buyer name, tender value) the package for `uri` carries. */
  def buyerAndValue(uri: String): (String, BigDecimal) = {
    val g = r(uri); g.nextInt(1000)
    buyerAndValue(g)
  }

  // a Zipf-ish buyer pool of 40, so the per-buyer report has heavy groups
  private def buyerAndValue(g: SplittableRandom): (String, BigDecimal) = {
    val b = math.min(39, (-math.log(1.0 - g.nextDouble()) * 8).toInt)
    (s"Buyer Org $b", BigDecimal(g.nextInt(5000000)) / 100)
  }

  def fetch(uri: String): String = {
    calls.incrementAndGet()
    outcome(uri) match {
      case InvalidJson => """{"uri": "truncated", "releases": [{"ocid": """
      case NotFound =>
        notFound.incrementAndGet()
        throw new graft.sources.ContractsFinder.PermanentHttpError(s"HTTP 404 for $uri")
      case Ok => packageJson(uri)
    }
  }

  private def heavy(g: SplittableRandom, max: Int): Int =
    math.min(max.toDouble, math.pow(1.0 - g.nextDouble(), -1.0 / 1.3)).toInt

  private def packageJson(uri: String): String = {
    val g = r(uri); g.nextInt(1000)
    val (buyer, value) = buyerAndValue(g)
    val id = ocid(uri)
    val nSup = heavy(g, 40)
    val sups = (1 to nSup).map(k =>
      s"""{"id":"S$k","name":"Supplier ${g.nextInt(2000)}","roles":["supplier"],"address":{"postalCode":"SW1A ${k}AA","countryName":"England"},"details":{"scale":"sme","vcse":false}}""")
    val parties = (s"""{"id":"B1","name":"$buyer","roles":["buyer"],"identifier":{"scheme":"GB-COH","id":"${g.nextInt(99999999)}"}}""" +: sups).mkString(",")
    val items = (1 to heavy(g, 60)).map(k =>
      s"""{"id":"$k","deliveryAddresses":[{"postalCode":"AB$k","region":"UKI","countryName":"England"}]}""").mkString(",")
    val awards = (1 to heavy(g, 20)).map(k =>
      s"""{"id":"$id-award-$k","status":"active","value":{"amount":${g.nextInt(900000)}.00,"currency":"GBP"},"suppliers":[{"id":"S1","name":"s"}]}""").mkString(",")
    s"""{"uri":"$uri","publishedDate":"2024-01-01T00:00:00Z","version":"1.1","publisher":{"name":"CF"},""" +
      s""""releases":[{"ocid":"$id","id":"$id-1","date":"2024-01-01T09:00:00Z","language":"en","tag":["tender"],""" +
      s""""buyer":{"id":"B1","name":"$buyer"},"parties":[$parties],""" +
      s""""tender":{"id":"$id","title":"Tender for $id","status":"active","value":{"amount":$value,"currency":"GBP"},"items":[$items]},""" +
      s""""awards":[$awards]}]}"""
  }
}

object OcdsServer {
  /** Requests served and 404s answered, JVM-wide: the session is local,
    * so `enrich`'s tasks call `fetch` in this JVM. */
  val calls = new java.util.concurrent.atomic.AtomicLong
  val notFound = new java.util.concurrent.atomic.AtomicLong

  sealed trait Outcome
  case object Ok extends Outcome
  case object InvalidJson extends Outcome
  case object NotFound extends Outcome
}
