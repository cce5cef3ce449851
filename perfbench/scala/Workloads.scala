package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import graft.sources.{ContractsFinder, FatXml, Versioned, Xlsx, ZipXml}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Times operations, counts attempts and failures, and opens spans when
  * the pass is traced. An op fails on an exception or a failed output
  * check; expected parse_error and invalid-JSON rows are data. */
final class Rec(val tracer: Option[Tracer], val prefixes: Boolean) {
  val times: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def span[A](name: String, prefix: Boolean = false)(body: => A): A =
    tracer.fold(body)(_.span(name, prefix)(body))

  /** Materialize a prefix of a lazily composed chain to `noop` — traced
    * passes only; returns its wall seconds. */
  def prefix(layer: String)(df: => DataFrame): Double =
    if (!prefixes) 0.0
    else {
      val t0 = System.nanoTime()
      span(s"prefix:$layer", prefix = true)(df.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }

  def op[A](kind: String, layer: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try Some(span(layer)(body))
    catch {
      case e: Exception =>
        failed += 1
        problems += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    } finally times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; problems += what.take(300) }

  /** Like [[prefix]], and also returns what `metrics` (named aggregates)
    * observed over the rows the layer emitted; empty when untraced. */
  def observedPrefix(layer: String, metrics: Column*)(df: => DataFrame): (Double, Map[String, Long]) =
    if (!prefixes) (0.0, Map.empty)
    else {
      val obs = Observation(layer)
      val s = prefix(layer)(df.observe(obs, metrics.head, metrics.tail: _*))
      val row = Await.result(obs.future, 60.seconds)
      (s, row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap)
    }

  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
}

/** One workload: seeded set-up, then passes that can be repeated on the
  * same inputs. `deep` passes also run the checks that need extra Spark
  * work; every pass checks what its own outputs already show. */
trait Workload {
  def name: String
  /** The ops whose latency is `op_s_p50`. */
  def opKind: String
  def setup(spark: SparkSession, seed: Long, dir: Path): Unit
  def pass(spark: SparkSession, rec: Rec, dir: Path, passNo: Int, deep: Boolean): Unit
  /** Generated input bytes (0 when the workload stores nothing). */
  def inputBytes: Long
  def items: Long
}

object Workloads {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def fileCount(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(_.getFileName.toString.endsWith(suffix)).count() finally s.close()
    }

  def partFile(dir: Path, ext: String): Path = {
    val s = Files.list(dir)
    try s.filter(_.getFileName.toString.endsWith(ext)).findFirst().get() finally s.close()
  }

  def dataLines(csvDir: Path): Long = {
    val s = Files.lines(partFile(csvDir, ".csv"))
    try s.count() - 1 finally s.close()
  }
}

/** Find-a-Tender backfill: weekly batches of day ZIPs → zip scan → XML
  * dispatch/parse → parquet partitioned by ingest_date; then the
  * per-day/form/status rollup and the merged CSV export. */
final class FatBackfill(params: Gen.FatParams) extends Workload {
  import Workloads._
  val name = "fat_backfill"
  val opKind = "batch"
  private var fx: Gen.FatFixture = _
  def inputBytes: Long = fx.inputBytes
  def items: Long = fx.notices.size

  def setup(spark: SparkSession, seed: Long, dir: Path): Unit = fx = Gen.fat(seed, params, dir)

  private val lineage = Seq("source_zip", "source_xml_file")

  def pass(spark: SparkSession, rec: Rec, dir: Path, passNo: Int, deep: Boolean): Unit = {
    val sink = dir.resolve("extracted").toString
    for (b <- fx.batches) rec.op("batch", "fat.batch") {
      def entries = ZipXml.zipEntriesV2(spark, b.toString)
      def extracted = FatXml.extract(entries, lineage)
      val (p1, scanned) = rec.observedPrefix("zip.scan", count(lit(1)).as("entries"),
        sum(octet_length(col("xml"))).cast("long").as("xml_bytes"))(entries)
      val p2 = rec.prefix("fatxml.extract")(extracted)
      scanned.foreach { case (k, v) => rec.add(s"zip.$k", v) }
      val t0 = System.nanoTime()
      rec.span("sink.write") {
        extracted.withColumn("ingest_date", regexp_extract(col("source_zip"), """(\d{4}-\d{2}-\d{2})""", 1))
          .write.mode("append").partitionBy("ingest_date").parquet(sink)
      }
      if (rec.prefixes) { // the sink write recomputes the whole chain: it is the last prefix
        val Seq(zip, xml, write) = Tracer.selfTimes(Seq(p1, p2, (System.nanoTime() - t0) / 1e9))
        rec.add("zip.scan_s", zip); rec.add("fatxml.extract_s", xml); rec.add("sink.write_s", write)
      }
    }
    val rollup = rec.op("rollup", "merge.rollup") {
      spark.read.parquet(sink)
        .groupBy(col("ingest_date"), col("source_form"),
          when(col("parse_error").isNull, "ok").otherwise("parse_error").as("status"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.get(0).toString, r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    }
    val csvDir = dir.resolve("merged")
    rec.op("csv", "csv.export") {
      ContractsFinder.exportCsv(
        spark.read.parquet(sink).select("doc_id", "source_form", "buyer_name", "ingest_date"),
        csvDir.toString)
    }

    // ---- output checks ----
    val n = fx.notices.size.toLong
    rollup.foreach { m =>
      def total(status: String) = m.collect { case ((_, _, s), c) if s == status => c }.sum
      val truncated = fx.notices.count(_.truncated).toLong
      rec.check(total("ok") + total("parse_error") == n, s"fat: ok+parse_error ${total("ok") + total("parse_error")} != notices $n")
      rec.check(total("parse_error") == truncated, s"fat: parse_error ${total("parse_error")} != truncated $truncated")
      val okByForm = m.toSeq.collect { case ((_, f, "ok"), c) => f -> c }.groupMapReduce(_._1)(_._2)(_ + _)
      val want = fx.nonTruncated.groupMapReduce(_.family)(_ => 1L)(_ + _)
      rec.check(okByForm == want, "fat: ok rows per form differ from the generator's")
      val byDay = m.toSeq.map { case ((d, _, _), c) => d -> c }.groupMapReduce(_._1)(_._2)(_ + _)
      val wantDay = fx.notices.groupMapReduce(x => fx.dates(x.day))(_ => 1L)(_ + _)
      rec.check(byDay == wantDay, "fat: notices per ingest_date differ from the generator's")
    }
    if (Files.exists(csvDir)) rec.check(dataLines(csvDir) == n, s"fat: CSV rows ${dataLines(csvDir)} != $n")
    if (deep) {
      val errs = spark.read.parquet(sink).filter(col("parse_error").isNotNull)
        .select("source_xml_file").collect().map(_.getString(0)).toSet
      rec.check(errs == fx.notices.filter(_.truncated).map(_.entry).toSet,
        "fat: parse_error rows are not exactly the truncated entries")
    }
    rec.add("fatxml.rows_ok", rollup.map(_.collect { case ((_, _, "ok"), c) => c }.sum).getOrElse(0L).toDouble)
    rec.add("fatxml.rows_parse_error", rollup.map(_.collect { case ((_, _, "parse_error"), c) => c }.sum).getOrElse(0L).toDouble)
    val sinkDir = dir.resolve("extracted")
    val sinkBytes = dirBytes(sinkDir)
    rec.add("sink.files", fileCount(sinkDir, ".parquet"))
    rec.add("sink.bytes", sinkBytes)
    rec.add("csv.bytes", dirBytes(csvDir))
    rec.add("stored_bytes", sinkBytes)
  }
}

/** Contracts Finder daily incremental load into a versioned table: per
  * day CSV → uriTable → dedupWithAudit → enrich → flatten → commit of
  * the ok rows keyed on ocid, then a snapshot report (and every 7th day
  * a time-travel report); after the last day the per-day Excel output
  * and its merge to CSV. */
final class CfDaily(params: Gen.CfParams) extends Workload {
  import Workloads._
  val name = "cf_daily"
  val opKind = "day"
  private var fx: Gen.CfFixture = _
  def inputBytes: Long = fx.inputBytes
  def items: Long = fx.days.map(_.rows.count(_.isDefined)).sum.toLong

  /** What the generator says each day must produce. */
  private final case class Expect(ok: Long, failed: Long, dup: Long, admitted: Set[String],
      report: Map[String, (Long, BigDecimal)])
  private var expect: IndexedSeq[Expect] = _

  def setup(spark: SparkSession, seed: Long, dir: Path): Unit = {
    fx = Gen.cf(seed, params, dir)
    val server = fx.server
    var table = Map.empty[String, (String, BigDecimal)] // ocid -> (buyer, value)
    expect = fx.days.map { day =>
      val firsts = day.rows.flatten.distinct
      val dup = day.rows.flatten.size - firsts.size
      val ok = firsts.filter(u => server.outcome(u) == OcdsServer.Ok)
      val fresh = ok.map(server.ocid).filterNot(table.contains).toSet
      table ++= ok.filter(u => fresh(server.ocid(u))).map(u => server.ocid(u) -> server.buyerAndValue(u))
      val report = table.values.groupMapReduce(_._1)(v => (1L, v._2)) { case ((a, x), (b, y)) => (a + b, x + y) }
      Expect(ok.size, firsts.size - ok.size, dup, fresh, report)
    }.toIndexedSeq
  }

  private def report(df: DataFrame): Map[String, (Long, BigDecimal)] =
    df.groupBy("buyer_name").agg(count(lit(1)), sum("tender_value")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  def pass(spark: SparkSession, rec: Rec, dir: Path, passNo: Int, deep: Boolean): Unit = {
    val table = dir.resolve("table").toString
    val server = fx.server
    val mkFetcher: () => ContractsFinder.Fetcher = () => server.fetch
    val versionOf = mutable.Map.empty[Int, Int]
    val flats = mutable.ArrayBuffer.empty[DataFrame]
    for ((day, d) <- fx.days.zipWithIndex) {
      val csv = day.csvDir.toString
      val e = expect(d)
      rec.op("day", "cf.day") {
        def uris = ContractsFinder.uriTable(spark, csv)
        def deduped = ContractsFinder.dedupWithAudit(uris)
        def enriched = ContractsFinder.enrich(spark, deduped, mkFetcher)
        def flat = ContractsFinder.flatten(enriched)
        def rows(status: String) = sum(when(col("status") === status, 1L).otherwise(0L)).as(status)
        val (pFlat, st) = rec.observedPrefix("cf.flatten", count(lit(1)).as("rows"), rows("ok"),
          rows("duplicate_uri_skipped_fetch"), rows("fetch_failed_or_invalid_json"))(flat)
        val prefixS = Seq(rec.prefix("cf.uri_table")(uris), rec.prefix("cf.dedup")(deduped),
          rec.prefix("cf.enrich")(enriched), pFlat)
        if (rec.prefixes) {
          rec.add("cf.uris_in", st("rows"))
          rec.add("cf.uris_duplicate", st("duplicate_uri_skipped_fetch"))
          rec.add("cf.rows_failed", st("fetch_failed_or_invalid_json"))
          rec.add("versioned.rows_offered", st("ok"))
        }
        // the fetches the commit's own recomputation of the chain makes
        val (calls0, notFound0) = (OcdsServer.calls.get, OcdsServer.notFound.get)
        val t0 = System.nanoTime()
        val (v, n) = rec.span("versioned.commit") {
          Versioned.commitDedupAppend(spark, table, flat.filter(col("status") === "ok"), "ocid", "row_index")
        }
        rec.add("cf.fetch_calls", OcdsServer.calls.get - calls0)
        rec.add("cf.fetch_failed", OcdsServer.notFound.get - notFound0)
        if (rec.prefixes) { // the commit recomputes the whole chain: it is the last prefix
          val self = Tracer.selfTimes(prefixS :+ (System.nanoTime() - t0) / 1e9)
          Seq("cf.uri_table_s", "cf.dedup_s", "cf.enrich_s", "cf.flatten_s", "versioned.commit_s")
            .zip(self).foreach { case (k, s) => rec.add(k, s) }
        }
        versionOf(d) = v
        rec.check(n == e.admitted.size, s"cf: day $d admitted $n rows, generator expects ${e.admitted.size}")
        rec.add("versioned.rows_admitted", n)
        if (deep) flats += flat
      }
      rec.op("read", "versioned.read") {
        rec.check(report(Versioned.read(spark, table)) == e.report, s"cf: day $d snapshot report differs")
      }
      if (d >= 7 && d % 7 == 0) rec.op("read", "versioned.read") {
        val old = report(Versioned.read(spark, table, Some(versionOf(d - 7))))
        rec.check(old == expect(d - 7).report, s"cf: day $d time-travel report (day ${d - 7}) differs")
      }
    }
    val xlsxDir = dir.resolve("xlsx")
    val merged = dir.resolve("merged")
    rec.op("xlsx", "xlsx") {
      rec.span("xlsx.write_daily") {
        Xlsx.writeDaily(Versioned.read(spark, table)
          .select("file_date", "ocid", "buyer_name", "supplier_names", "tender_title", "tender_value",
            "first_award_value"), "file_date", xlsxDir.toString)
      }
      rec.span("xlsx.merge_csv")(ContractsFinder.mergeXlsxToCsv(spark, xlsxDir.toString, merged.toString))
    }
    val admitted = expect.map(_.admitted.size.toLong).sum
    if (deep) {
      val st = flats.reduce(_ unionByName _).groupBy("file_date", "status").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = fx.days.zip(expect).flatMap { case (day, e) =>
        Seq((day.date, "ok") -> e.ok, (day.date, "fetch_failed_or_invalid_json") -> e.failed,
          (day.date, "duplicate_uri_skipped_fetch") -> e.dup).filter(_._2 > 0)
      }.toMap
      rec.check(st == want, s"cf: status counts per day differ from the generator's")
      val got = Versioned.read(spark, table).select("file_date", "ocid").collect()
        .groupMap(_.getString(0))(_.getString(1)).map { case (k, v) => k -> v.toSet }
      val wantOcids = fx.days.zip(expect).collect { case (day, e) if e.admitted.nonEmpty => day.date -> e.admitted }.toMap
      rec.check(got == wantOcids, "cf: admitted ocids per day differ from the generator's")
    }
    if (Files.exists(merged)) rec.check(dataLines(merged) == admitted, s"cf: merged CSV rows ${dataLines(merged)} != $admitted")

    val tdir = dir.resolve("table")
    val manifests = tdir.resolve("_manifests")
    rec.add("versioned.files_live", Versioned.latestVersion(table).map { v =>
      ".parquet".r.findAllMatchIn(Files.readString(manifests.resolve(s"v$v.json"))).size.toDouble
    }.getOrElse(0.0))
    rec.add("versioned.files_added", fileCount(tdir.resolve("data"), ".parquet"))
    rec.add("versioned.manifest_bytes", dirBytes(manifests))
    rec.add("versioned.table_bytes", dirBytes(tdir))
    rec.add("xlsx.files", fileCount(xlsxDir, ".xlsx"))
    rec.add("xlsx.bytes", dirBytes(xlsxDir))
    rec.add("stored_bytes", dirBytes(tdir.resolve("data")))
  }
}

/** Registered queries over the benchmark's own copy of the ten tables,
  * each written to the noop sink, in a seeded order per pass. */
final class QueryMix(seed: Long, digests: Map[String, String]) extends Workload {
  import QueryMix.queries
  val name = "query_mix"
  val opKind = "query"
  private var tables: String = _
  def inputBytes: Long = 0L
  def items: Long = queries.size.toLong

  def setup(spark: SparkSession, seed: Long, dir: Path): Unit = {
    Gen.tables(spark, QueryMix.dataSeed, dir)
    tables = dir.toString
  }

  def order(passNo: Int): Seq[graft.Q] =
    new scala.util.Random(seed * 1000003L + passNo).shuffle(queries)

  def pass(spark: SparkSession, rec: Rec, dir: Path, passNo: Int, deep: Boolean): Unit =
    for (q <- order(passNo)) {
      val short = q.name.takeWhile(_ != '_')
      val t0 = System.nanoTime()
      rec.op("query", s"query.$short") {
        if (deep) {
          val got = QueryMix.digest(q.fn(spark, tables))
          rec.check(digests.get(q.name).contains(got),
            s"query_mix: ${q.name} digest $got != stored ${digests.getOrElse(q.name, "(none)")}")
          QueryMix.dropCheckpoints(spark)
        }
        // the warm-up also runs the timed shape, so its code is generated before timing starts
        q.fn(spark, tables).write.format("noop").mode("overwrite").save()
      }
      rec.add(s"query.$short.s", (System.nanoTime() - t0) / 1e9)
      QueryMix.dropCheckpoints(spark)
    }
}

object QueryMix {
  /** The query tables are fixed (their digests are stored); the run's
    * seed only permutes the query order of each pass. */
  val dataSeed = 42L

  /** Unpersist what a query checkpointed, so the next one starts clean
    * (as graft.Bench does between queries). */
  def dropCheckpoints(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Order-independent result digest: row count plus two 32-bit halves
    * of the summed per-row xxhash64 over the columns in name order. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .collect()(0)
    val (n, lo, hi) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    s"$n:$lo:$hi"
  }

  /** Short names (`q61`) of the measured queries. */
  val names: Seq[String] = Seq("q61", "q189", "q54", "q28", "q01")
  lazy val queries: Seq[graft.Q] = {
    val reg = graft.SparkEntry.registry
    names.map(n => reg.find(_.name.startsWith(n + "_")).getOrElse(sys.error(s"no registered query $n")))
  }
}
