package perfbench

import java.nio.file.{Files, Path}

/** Turns one run's records into the report line and the result line. */
final class Report(w: Workload, seed: Long, trace: Boolean, setupTimes: Seq[Double], jvmStartMs: Long,
    firstTimedMs: Long, warmS: Double, warm: Rec, passes: Seq[Main.PassRecord], tracer: Option[Tracer]) {
  import Report._

  private val untraced = passes.filterNot(_.traced)
  private val traced = passes.filter(_.traced)
  private val allRecs = warm +: passes.map(_.rec)
  val attempted: Int = allRecs.map(_.attempted).sum
  val failed: Int = allRecs.map(_.failed).sum
  private def times(kind: String, ps: Seq[Main.PassRecord] = untraced) = ps.flatMap(_.rec.times.getOrElse(kind, Nil))

  /** Metric name -> (value, unit, samples); None when too few samples. */
  type M = (String, Option[Double], String, Int)

  private def med(name: String, xs: Seq[Double], unit: String): M =
    (name, if (xs.isEmpty) None else Some(Stats.median(xs)), unit, xs.size)
  private def pct(name: String, xs: Seq[Double], q: Double, unit: String): M =
    (name, Stats.percentile(xs, q), unit, xs.size)

  private val passS = untraced.map(_.seconds)

  /** Every end-to-end metric the workload defines, with its sample count. */
  def endToEnd: Seq[M] = {
    val stored = untraced.lastOption.flatMap(_.rec.counters.get("stored_bytes"))
    Seq(
      med("setup_s", setupTimes, "s"),
      med("pass_s", passS, "s"),
      med("op_s_p50", times(w.opKind), "s"),
      ("peak_rss_mib", Some(Host.peakRssMib()), "MiB", 1),
      ("failed_ratio", Some(failed.toDouble / math.max(1, attempted)), "ratio", attempted)) ++
      (w.name match {
        case "fat_backfill" => Seq(med("notices_per_s", passS.map(w.items / _), "1/s"))
        case "cf_daily" => Seq(med("day_s_p50", times("day"), "s"), pct("day_s_p90", times("day"), 0.9, "s"),
          med("read_s_p50", times("read"), "s"), pct("read_s_p90", times("read"), 0.9, "s"))
        case _ => Seq(med("query_s_p50", times("query"), "s"), pct("query_s_p90", times("query"), 0.9, "s"))
      }) ++
      (if (w.inputBytes > 0) Seq(("stored_bytes_per_input_byte", stored.map(_ / w.inputBytes), "ratio", 1)) else Nil)
  }

  /** Per-layer metrics: medians over the traced passes. */
  def perLayer: Seq[(String, Double, String)] = {
    val t = tracer.get
    val perPass = traced.map(layerValues(_, t))
    val names = perPass.flatMap(_.keys).distinct
    val overhead = Stats.median(traced.map(p => p.seconds - p.prefixSeconds)) - Stats.median(passS)
    names.map(n => (n, Stats.median(perPass.map(_.getOrElse(n, 0.0))), unitOf(n))) :+
      (("trace.overhead_s", overhead, "s"))
  }

  private def layerValues(p: Main.PassRecord, t: Tracer): Map[String, Double] = {
    val spans = t.all.filter(_.runId == p.runId)
    val work = spans.filterNot(_.prefix).map(s => s -> t.workOf(s.id))
    val leaves = work.filter { case (s, _) => !spans.exists(_.parent == s.id) }
    def sum(f: SpanWork => Double) = work.map(x => f(x._2)).sum
    val wall = leaves.map(_._1.seconds).sum
    val busyS = leaves.map { case (s, k) => Tracer.unionMs(k.taskIntervals.toSeq, s.startMs, s.endMs) / 1e3 }.sum
    val c = p.rec.counters
    def cnt(k: String) = c.getOrElse(k, 0.0)
    def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val q = QueryMix.names.flatMap { n =>
      val ss = spans.filter(_.name == s"query.$n")
      Seq(s"query.$n.s" -> ss.map(_.seconds).sum, s"query.$n.jobs" -> ss.map(s => t.workOf(s.id).jobs.toDouble).sum)
    }
    Map(
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages), "spark.tasks" -> sum(_.tasks),
      "spark.driver_gap_s" -> (wall - busyS),
      "spark.slot_busy_ratio" -> (if (wall > 0) sum(_.taskRunS) / (wall * Host.cores) else 0.0),
      "spark.task_run_s" -> sum(_.taskRunS), "spark.task_cpu_s" -> sum(_.taskCpuS),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite), "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.spill_bytes" -> sum(_.spill), "spark.peak_exec_mem_bytes" -> work.map(_._2.peakExecMem.toDouble).maxOption.getOrElse(0.0),
      "spark.input_bytes" -> sum(_.inputBytes), "spark.output_bytes" -> sum(_.outputBytes),
      "jvm.gc_s" -> p.load.gcS, "jvm.jit_s" -> p.load.jitS, "host.ext_busy_cores" -> p.load.extBusyCores,
      "zip.scan_s" -> cnt("zip.scan_s"), "zip.entries" -> cnt("zip.entries"), "zip.xml_bytes" -> cnt("zip.xml_bytes"),
      "fatxml.extract_s" -> cnt("fatxml.extract_s"), "fatxml.rows_ok" -> cnt("fatxml.rows_ok"),
      "fatxml.rows_parse_error" -> cnt("fatxml.rows_parse_error"),
      "sink.write_s" -> cnt("sink.write_s"), "sink.files" -> cnt("sink.files"), "sink.bytes" -> cnt("sink.bytes"),
      "merge.rollup_s" -> p.rec.times.get("rollup").map(_.sum).getOrElse(0.0),
      "csv.export_s" -> p.rec.times.get("csv").map(_.sum).getOrElse(0.0), "csv.bytes" -> cnt("csv.bytes"),
      "cf.uri_table_s" -> cnt("cf.uri_table_s"), "cf.dedup_s" -> cnt("cf.dedup_s"),
      "cf.enrich_s" -> cnt("cf.enrich_s"), "cf.flatten_s" -> cnt("cf.flatten_s"),
      "cf.uris_in" -> cnt("cf.uris_in"), "cf.uris_duplicate" -> cnt("cf.uris_duplicate"),
      "cf.fetch_calls" -> cnt("cf.fetch_calls"), "cf.fetch_failed" -> cnt("cf.fetch_failed"),
      "cf.rows_failed" -> cnt("cf.rows_failed"),
      "cf.fetch_useful_ratio" -> ratio(cnt("versioned.rows_offered"), cnt("cf.fetch_calls")),
      "versioned.commit_s" -> cnt("versioned.commit_s"),
      "versioned.read_s" -> p.rec.times.get("read").map(_.sum).getOrElse(0.0),
      "versioned.rows_offered" -> cnt("versioned.rows_offered"), "versioned.rows_admitted" -> cnt("versioned.rows_admitted"),
      "versioned.admit_ratio" -> ratio(cnt("versioned.rows_admitted"), cnt("versioned.rows_offered")),
      "versioned.files_added" -> cnt("versioned.files_added"), "versioned.files_live" -> cnt("versioned.files_live"),
      "versioned.manifest_bytes" -> cnt("versioned.manifest_bytes"), "versioned.table_bytes" -> cnt("versioned.table_bytes"),
      "xlsx.write_daily_s" -> spanS("xlsx.write_daily"), "xlsx.files" -> cnt("xlsx.files"),
      "xlsx.bytes" -> cnt("xlsx.bytes"), "xlsx.merge_csv_s" -> spanS("xlsx.merge_csv")) ++ q
  }

  def detailJson: String = {
    val e2e = endToEnd.map { case (n, v, u, k) =>
      s""""$n":{"value":${v.map(num).getOrElse("null")},"unit":"$u","samples":$k}"""
    }.mkString(",")
    val ps = passes.map { p =>
      f"""{"traced":${p.traced},"pass_s":${num(p.seconds)},"ext_busy_cores":${num(p.load.extBusyCores)},""" +
        f""""loadavg1":${num(p.load.loadavg1)},"self_cores":${num(p.load.selfCores)},"gc_s":${num(p.load.gcS)},""" +
        f""""jit_s":${num(p.load.jitS)},"codegen_compiles":${p.load.codegenCompiles},"ops":${p.rec.attempted},"failed":${p.rec.failed}}"""
    }.mkString(",")
    val problems = allRecs.flatMap(_.problems).take(20).map(x => "\"" + esc(x) + "\"").mkString(",")
    s"""{"report":"perfbench","workload":"${w.name}","seed":$seed,"trace":$trace,"cores":${Host.cores},""" +
      s""""process_to_first_pass_s":${num((firstTimedMs - jvmStartMs) / 1e3)},"warmup_s":${num(warmS)},""" +
      s""""setups_s":[${setupTimes.map(num).mkString(",")}],""" +
      tracer.fold("")(t => s""""untagged_jobs":${t.untaggedJobs},""") +
      s""""end_to_end":{$e2e},"passes":[$ps],"problems":[$problems]}"""
  }

  def resultJson: String = {
    val metrics =
      if (trace) perLayer.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      else endToEnd.filter(m => contract(m._1)).map { case (n, v, u, _) =>
        s""""$n":{"value":${num(v.getOrElse(Double.NaN))},"unit":"$u"}"""
      }
    val ok = failed == 0 && !(trace && tracer.exists(_.untaggedJobs > 0))
    s"""{"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{${metrics.mkString(",")}}}"""
  }

  def writeSpans(t: Tracer, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"trace-${w.name}-seed$seed.jsonl"), t.spansJson.mkString("", "\n", "\n"))
  }
}

object Report {
  /** The end-to-end metrics of the result line (BENCHMARK.json). */
  val contract: Set[String] = Set("setup_s", "pass_s", "op_s_p50")

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  def unitOf(n: String): String =
    if (n.endsWith("_s") || n.endsWith(".s")) "s"
    else if (n.endsWith("_bytes") || n.endsWith(".bytes")) "B"
    else if (n.endsWith("ratio")) "ratio"
    else if (n.endsWith("cores")) "cores"
    else "count"
}
