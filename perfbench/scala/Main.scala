package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it and passes
  * through its flags:
  *
  * {{{
  *   --workload fat_backfill|cf_daily|query_mix --seed N --seconds S --trace 0|1
  *   --record-digests FILE                  write query_mix result digests
  *   --dump-tables DIR                      write the query_mix tables
  *   --selftest                             the benchmark's own tests
  * }}}
  *
  * A run sets up three times (fresh session + seeded fixture) and
  * reports the median as `setup_s`, runs one untimed warm-up pass that
  * also runs the deep output checks, then times passes until `--seconds`
  * have elapsed and the untraced passes hold [[minOps]] ops (a traced run
  * alternates untraced and traced passes, at least one of each). The last
  * stdout line is the result object; the line before it is the full report.
  */
object Main {
  val setups = 3
  /** Timed passes continue past `--seconds` until `op_s_p50` has this
    * many samples. */
  val minOps = 8

  def session(work: Path): SparkSession = {
    val cores = Host.cores.toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", graft.Tuning.codegenCacheMaxEntries.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "fat_backfill" => new FatBackfill(Gen.FatParams(days = 28, notices = 6000, batchDays = 7))
    case "cf_daily" => new CfDaily(Gen.CfParams(days = 8, urisPerDay = 150))
    case "query_mix" => new QueryMix(seed, readDigests(digestFile))
    case other => sys.error(s"unknown workload $other")
  }

  val digestFile: Path = Paths.get("perfbench", "digests.json")

  def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (args.contains("--selftest")) { SelfTest.main(Array.empty); return }
    val work = Paths.get(opts.getOrElse("work", ".bench_work")).toAbsolutePath
    Files.createDirectories(work)
    val code =
      try {
        if (opts.contains("dump-tables")) { dumpTables(work, Paths.get(opts("dump-tables"))); 0 }
        else if (opts.contains("record-digests")) { recordDigests(work, opts); 0 }
        else run(work, opts)
      } finally {
        SparkSession.getActiveSession.foreach(_.stop())
        deleteTree(work)
      }
    sys.exit(code)
  }

  private def dumpTables(work: Path, out: Path): Unit = {
    val spark = session(work)
    Gen.tables(spark, QueryMix.dataSeed, out.toAbsolutePath)
  }

  private def recordDigests(work: Path, opts: Map[String, String]): Unit = {
    val spark = session(work)
    val tables = work.resolve("tables")
    Gen.tables(spark, QueryMix.dataSeed, tables)
    val lines = QueryMix.queries.map { q =>
      val d = QueryMix.digest(q.fn(spark, tables.toString))
      QueryMix.dropCheckpoints(spark)
      s"""  "${q.name}": "$d""""
    }
    Files.writeString(Paths.get(opts("record-digests")), lines.mkString("{\n", ",\n", "\n}\n"))
  }

  /** One pass's record: wall, host load, and what the recorder saw. */
  final case class PassRecord(runId: String, traced: Boolean, seconds: Double, load: Host.Load,
      rec: Rec, prefixSeconds: Double)

  private def run(work: Path, opts: Map[String, String]): Int = {
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val w = workload(name, seed)

    // ---- set-up, several times; the median is setup_s --------------
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var fixture: Path = null
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      if (fixture != null) deleteTree(fixture)
      fixture = work.resolve(s"fixture-$i")
      val t0 = System.nanoTime()
      spark = session(work)
      w.setup(spark, seed, fixture)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- warm-up pass: untimed, runs the deep output checks ---------
    val warm = new Rec(None, prefixes = false)
    val warmDir = work.resolve("pass-warm")
    val tw = System.nanoTime()
    w.pass(spark, warm, warmDir, 0, deep = true)
    val warmS = (System.nanoTime() - tw) / 1e9
    deleteTree(warmDir)
    val firstTimedMs = System.currentTimeMillis()

    // ---- timed passes (traced runs alternate untraced/traced) -------
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val tStart = System.nanoTime()
    var p = 0
    def enough = passes.filterNot(_.traced).map(_.rec.times.getOrElse(w.opKind, Nil).size).sum >= minOps &&
      (!trace || passes.exists(_.traced))
    while (!enough || (System.nanoTime() - tStart) / 1e9 < seconds) {
      p += 1
      val traced = trace && p % 2 == 0
      val rec = new Rec(if (traced) tracer else None, prefixes = traced)
      val dir = work.resolve(s"pass-$p")
      val runId = s"$name-seed$seed-pass$p"
      if (traced) tracer.foreach(_.attach(runId))
      val win = new Host.Window
      val t0 = System.nanoTime()
      rec.span("pass")(w.pass(spark, rec, dir, p, deep = false))
      val s = (System.nanoTime() - t0) / 1e9
      val load = win.close()
      if (traced) tracer.foreach(_.detach())
      val prefixS = tracer.filter(_ => traced).map(_.all.filter(x => x.runId == runId && x.prefix)
        .map(_.seconds).sum).getOrElse(0.0)
      passes += PassRecord(runId, traced, s, load, rec, prefixS)
      deleteTree(dir)
    }

    val report = new Report(w, seed, trace, setupTimes.toSeq, jvmStart, firstTimedMs, warmS, warm,
      passes.toSeq, tracer)
    println(report.detailJson)
    tracer.foreach(t => report.writeSpans(t, Paths.get(".bench_out")))
    println(report.resultJson)
    0
  }
}
