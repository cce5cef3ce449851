package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.functions._

/** The benchmark's own tests, run by `python3 perfbench/run.py --selftest`:
  * seeded inputs, the percentile rule, span self-time arithmetic, and
  * job-tag attribution. Prints one line per test; exits non-zero on any
  * failure. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[A](got: A, want: A, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def treeHash(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).sorted().forEach { f =>
      md.update(root.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    } finally s.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val work = Files.createTempDirectory(Files.createDirectories(java.nio.file.Paths.get(".bench_work")), "selftest")
    val fp = Gen.FatParams(days = 14, notices = 1500, batchDays = 7)
    val cp = Gen.CfParams(days = 8, urisPerDay = 200)

    test("same seed gives byte-identical FaT and CF inputs") {
      val a = Gen.fat(7, fp, work.resolve("fa")); val b = Gen.fat(7, fp, work.resolve("fb"))
      assertEq(treeHash(a.dir), treeHash(b.dir), "FaT tree hash")
      assertEq(a.notices, b.notices, "FaT notices")
      Gen.cf(7, cp, work.resolve("ca")); Gen.cf(7, cp, work.resolve("cb"))
      assertEq(treeHash(work.resolve("ca")), treeHash(work.resolve("cb")), "CF tree hash")
    }

    test("another seed gives different inputs with the same stated properties") {
      for (seed <- Seq(7L, 8L)) {
        val f = Gen.fat(seed, fp, work.resolve(s"fp$seed"))
        assertEq(f.notices.size, fp.notices, "notice count")
        assertEq(f.batches.size, 2, "weekly batches")
        assertEq(f.notices.map(_.family).toSet, (Gen.ukTags :+ "TED").toSet, "all 17 UK forms plus TED")
        val trunc = f.notices.count(_.truncated).toDouble / f.notices.size
        if (trunc < 0.01 || trunc > 0.03) throw new AssertionError(s"truncated share $trunc not ~2%")
        val perDay = f.notices.groupBy(_.day).values.map(_.size)
        if (perDay.max < 2 * perDay.sum / perDay.size) throw new AssertionError("day sizes not skewed")
        val c = Gen.cf(seed, cp, work.resolve(s"cp$seed"))
        val rows = c.days.flatMap(_.rows)
        val blank = rows.count(_.isEmpty).toDouble / rows.size
        val dup = c.days.map(d => d.rows.flatten.size - d.rows.flatten.distinct.size).sum.toDouble / rows.size
        if (blank < 0.005 || blank > 0.04) throw new AssertionError(s"blank share $blank not ~2%")
        if (dup < 0.01 || dup > 0.06) throw new AssertionError(s"in-day duplicate share $dup not ~3%")
        val firstDay = c.days.head.rows.flatten.toSet
        val repub = c.days.tail.flatMap(_.rows.flatten.distinct).count(firstDay)
        if (repub == 0) throw new AssertionError("no notice republished from day 1")
        val outcomes = rows.flatten.distinct.map(c.server.outcome)
        if (!outcomes.contains(OcdsServer.InvalidJson) || !outcomes.contains(OcdsServer.NotFound))
          throw new AssertionError("no invalid-JSON or 4xx URI generated")
      }
      if (treeHash(work.resolve("fp7")) == treeHash(work.resolve("fp8"))) throw new AssertionError("seeds 7 and 8 gave the same FaT inputs")
      if (treeHash(work.resolve("cp7")) == treeHash(work.resolve("cp8"))) throw new AssertionError("seeds 7 and 8 gave the same CF inputs")
    }

    test("percentile rule: a p90 needs at least 10 samples beyond it") {
      assertEq(Stats.samplesNeeded(0.9), 100, "samples for p90")
      assertEq(Stats.samplesNeeded(0.5), 20, "samples for p50")
      assertEq(Stats.percentile((1 to 99).map(_.toDouble), 0.9), None, "p90 of 99 samples")
      assertEq(Stats.percentile((1 to 100).map(_.toDouble), 0.9), Some(90.0), "p90 of 1..100")
      assertEq(Stats.percentile((1 to 20).map(_.toDouble), 0.5), Some(10.0), "p50 of 1..20")
      assertEq(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5, "median")
    }

    test("span self-time arithmetic") {
      val self = Tracer.selfTimes(Seq(0.5, 1.25, 3.0, 3.5))
      assertEq(self.map(x => math.round(x * 1000)), Seq(500L, 750L, 1750L, 500L), "self times")
      assertEq(math.round(self.sum * 1000), 3500L, "self times sum to the full chain")
      assertEq(Tracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (40L, 60L)), 0L, 50L), 35L, "union")
    }

    test("job-tag attribution: per-span jobs sum to spark.jobs") {
      val spark = Main.session(work)
      val t = new Tracer(spark.sparkContext)
      t.attach("selftest")
      t.span("outer") {
        spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count().collect()
        t.span("inner") {
          spark.range(100).repartition(3).write.format("noop").mode("overwrite").save()
          t.span("leaf", prefix = true)(spark.range(10).join(spark.range(10), "id").collect())
        }
        spark.range(50).collect()
      }
      t.detach()
      val perSpan = t.all.map(s => t.workOf(s.id).jobs)
      if (perSpan.exists(_ == 0)) throw new AssertionError(s"a span saw no job: $perSpan")
      assertEq(t.untaggedJobs, 0, "untagged jobs")
      assertEq(perSpan.sum, t.totalJobs, "per-span jobs vs all jobs")
      spark.stop()
    }

    test("query digests are order-independent") {
      val spark = Main.session(work)
      val df = spark.range(200).select(col("id"), (col("id") % 3).as("k"), lit("x").as("s"))
      assertEq(QueryMix.digest(df.orderBy(col("id").desc).repartition(5)), QueryMix.digest(df), "digest")
      if (QueryMix.digest(df.filter(col("id") > 0)) == QueryMix.digest(df)) throw new AssertionError("digest ignores a row")
      spark.stop()
    }

    Main.deleteTree(work)
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
