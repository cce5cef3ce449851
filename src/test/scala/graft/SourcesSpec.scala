package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Multi-format source/sink round-trips on the offline classpath:
  * Parquet is canonical, ORC and JSON-lines (and CSV, covered by the
  * CF pipeline) must read back value-identical. Delta/Avro datasources
  * are not on the offline classpath, so Parquet remains the table
  * format of record. */
class SourcesSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  /** `body`'s result and the ids of the Spark jobs it submits on this
    * thread. A fence job run after it orders the listener bus: once the
    * status store shows the fence, every job submitted before it is in
    * the store too. */
  private def jobsDuring[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "counted", interruptOnCancel = false)
    val result = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-fence", "fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    var spins = 0
    while (sc.statusTracker.getJobIdsForGroup(s"$group-fence").isEmpty && spins < 100) {
      Thread.sleep(50); spins += 1
    }
    (result, sc.statusTracker.getJobIdsForGroup(group).toSeq)
  }

  /** Every version of the table at `dir` records its schema, plans a
    * read without a Spark job, and reads with exactly the schema that
    * `mergeSchema` inference over the same files returns. */
  private def assertStoredSchemaParity(dir: String): Unit = {
    import graft.sources.Versioned
    Versioned.versions(dir).foreach { v =>
      val manifest = Files.readString(java.nio.file.Paths.get(dir, "_manifests", s"v$v.json"))
      assert(manifest.contains("\"schema\""), s"v$v records no schema: $manifest")
      val (stored, jobs) = jobsDuring(Versioned.read(spark, dir, Some(v)))
      assert(jobs.isEmpty, s"v$v: planning the read ran Spark jobs $jobs")
      val inferred = spark.read.option("mergeSchema", "true").parquet(stored.inputFiles: _*)
      assert(stored.schema == inferred.schema,
        s"v$v: stored ${stored.schema.treeString} != inferred ${inferred.schema.treeString}")
    }
  }

  test("ORC round-trip is value-identical to the parquet source") {
    val dir = Files.createTempDirectory("graft-orc").toString
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == docs.schema)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("JSON-lines round-trip preserves values (schema re-asserted on read)") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    docs.write.mode("overwrite").json(dir)
    // JSON has no int width/nullability metadata — read with the
    // asserted schema, the production pattern for semi-structured input
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("compaction collapses a fragmented table without changing its rows") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    docs.repartition(64).write.parquet(dir)
    val before = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(before >= 32, s"expected a fragmented table, got $before files")
    val after = sources.Maintenance.compact(spark, dir, targetBytes = 512L * 1024)
    assert(after < before / 4, s"compaction left $after of $before files")
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("compaction carries hive partition layout through and recovers a crashed swap") {
    val dir = Files.createTempDirectory("graft-compact-p").toString + "/t"
    docs.repartition(16).write.partitionBy("lang").parquet(dir)
    // materialize pre-compaction rows: the swap deletes the files the
    // lazy plan's snapshot points at
    val before = spark.read.parquet(dir).localCheckpoint()
    val beforeRows = before.count()
    sources.Maintenance.compact(spark, dir, targetBytes = 512L * 1024)
    // partition dirs survive the rewrite (pruning layout preserved)
    val top = new java.io.File(dir).listFiles
    assert(top.exists(f => f.isDirectory && f.getName.startsWith("lang=")),
      s"partition dirs lost: ${top.map(_.getName).mkString(",")}")
    val back = spark.read.parquet(dir)
    assert(back.columns.sorted.toSeq == before.columns.sorted.toSeq)
    assert(back.exceptAll(before).isEmpty && before.exceptAll(back).isEmpty)

    // simulated crash between the two swap renames: table dir gone,
    // data only in _precompact → recover restores it
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir + "_precompact"))
    assert(sources.Maintenance.recover(dir))
    assert(spark.read.parquet(dir).count() == beforeRows)
    assert(!sources.Maintenance.recover(dir)) // idempotent: no-op when dir exists
  }

  test("bucketed tables sort-merge join with no exchange on either side") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    sources.Bucketing.writeBucketed(o, "orders_bkt", Seq("o_orderkey"), 8)
    sources.Bucketing.writeBucketed(l, "lineitem_bkt", Seq("l_orderkey"), 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_bkt")
        .join(spark.table("lineitem_bkt"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and the result is the same as the shuffled spelling
      assert(j.count() == o.join(l, col("o_orderkey") === col("l_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("upsert replaces matched keys, keeps the rest, appends new keys") {
    val dir = Files.createTempDirectory("graft-upsert").toString + "/t"
    docs.write.parquet(dir)
    val total = docs.count()
    // update 2 existing docs (new lang), insert 1 brand-new doc
    val someIds = docs.orderBy("doc_id").limit(2)
      .select("doc_id").collect().map(_.getLong(0))
    val updates = docs.filter(col("doc_id").isin(someIds: _*))
      .withColumn("lang", lit("xx"))
      .unionByName(docs.limit(1).select(
        (docs.columns.map {
          case "doc_id" => (lit(999999999L)).as("doc_id")
          case "lang" => lit("yy").as("lang")
          case c => col(c)
        }).toSeq: _*))
    val n = sources.Maintenance.upsert(spark, dir, updates, Seq("doc_id"))
    assert(n == total + 1)
    val back = spark.read.parquet(dir)
    assert(back.filter(col("doc_id").isin(someIds: _*) && col("lang") === "xx")
      .count() == 2, "matched keys must take the update row")
    assert(back.filter(col("doc_id") === 999999999L).count() == 1)
    assert(back.filter(col("lang") === "xx" || col("doc_id") === 999999999L)
      .count() == 3, "no other row may change")
    assert(back.select("doc_id").distinct().count() == n)
  }

  test("upsert carries a hive partition layout through the rewrite") {
    val dir = Files.createTempDirectory("graft-upsert-p").toString + "/t"
    docs.write.partitionBy("lang").parquet(dir)
    val total = docs.count()
    val updates = docs.orderBy("doc_id").limit(1).withColumn("source", lit("edited"))
    val n = sources.Maintenance.upsert(spark, dir, updates, Seq("doc_id"))
    assert(n == total)
    // partition dirs survive → pruning on lang still works
    val langDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    var found = false
    while (langDirs.hasNext) {
      if (langDirs.next().getFileName.toString.startsWith("lang=")) found = true
    }
    assert(found, "lang= partition directories must survive the upsert")
    val q = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(q.count() == docs.filter(col("lang") === "en").count())
  }

  test("partitioned compact splits a skewed partition value across files") {
    val dir = Files.createTempDirectory("graft-compact-skew").toString + "/t"
    // skew: one lang dominates; many small input files
    docs.repartition(8).write.partitionBy("lang").parquet(dir)
    val total = docs.count()
    sources.Maintenance.compact(spark, dir, targetBytes = 8L * 1024)
    val after = spark.read.parquet(dir)
    assert(after.count() == total)
    // the dominant partition value must not collapse into one file
    val enFiles = after.filter(col("lang") === "en")
      .select(input_file_name()).distinct().count()
    assert(enFiles >= 2,
      s"skewed partition value compacted into $enFiles file(s); salt must split it")
  }

  test("range clustering makes row-group stats selective (scan skips most rows)") {
    val dir = Files.createTempDirectory("graft-cluster").toString + "/t"
    // shuffled layout first: every file spans the whole doc_id range
    docs.repartition(8).write.parquet(dir)
    val total = docs.count()
    val lo = docs.agg(min("doc_id")).head.getLong(0)
    def scannedRows(): Long = {
      val q = spark.read.parquet(dir).filter(col("doc_id") <= lo + total / 20)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val before = scannedRows()
    sources.Maintenance.cluster(spark, dir, Seq("doc_id"), targetBytes = 64L * 1024)
    val after = scannedRows()
    assert(before >= total,
      s"pre-clustering the scan should read everything, read $before of $total")
    assert(after <= total / 2,
      s"post-clustering the scan must skip row groups: read $after of $total")
    // rewrite is value-preserving
    assert(spark.read.parquet(dir).count() == total)
  }

  test("z-order clustering makes file envelopes selective on BOTH dimensions") {
    val dir = Files.createTempDirectory("graft-zorder").toString + "/t"
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    orders.repartition(8).write.parquet(dir)
    val total = orders.count()

    val nFiles = sources.Maintenance.zorder(
      spark, dir, Seq("o_custkey", "o_totalprice"), targetBytes = 1536L)
    assert(nFiles >= 12, s"want many output files, got $nFiles")
    // rewrite is value-preserving
    val after = spark.read.parquet(dir)
    assert(after.count() == total)
    assert(after.exceptAll(orders).isEmpty && orders.exceptAll(after).isEmpty)

    // row-group skipping on BOTH dimensions: a narrow predicate on
    // either clustered column must scan well under half the table
    // (range-clustering on one column passes only for that column)
    def scanned(pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(dir).filter(pred)
      q.collect()
      q.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
    }
    val custScan = scanned(col("o_custkey") <= 15)
    val priceScan = scanned(col("o_totalprice") <= 50000.0)
    assert(custScan <= total / 2,
      s"custkey predicate must skip row groups: read $custScan of $total")
    assert(priceScan <= total / 2,
      s"price predicate must skip row groups: read $priceScan of $total")
  }

  test("analyze computes one-pass column stats: exact ndv below k, bounded error above, complex guarded") {
    val dir = Files.createTempDirectory("graft-analyze").toString + "/t"
    docs.write.parquet(dir)
    val stats = sources.Maintenance.analyze(spark, dir)
    val n = docs.count()
    // lang: few distinct values -> sketch not full -> EXACT ndv
    val lang = stats("lang")
    assert(lang.nonNull == n && lang.nulls == 0)
    assert(lang.ndvEst.contains(docs.select("lang").distinct().count()))
    assert(lang.min.isDefined && lang.max.isDefined)
    // doc_id: all-distinct, far above k -> estimate within 15%
    val ndv = stats("doc_id").ndvEst.get.toDouble
    assert(math.abs(ndv - n) / n < 0.15, s"doc_id ndv $ndv vs exact $n")
    assert(stats("doc_id").min.contains(
      docs.agg(min("doc_id")).head.getLong(0).toString))
    // sidecar written, and the table still scans (underscore files hidden)
    assert(Files.exists(java.nio.file.Paths.get(dir, "_stats.json")))
    assert(spark.read.parquet(dir).count() == n)
    // complex column: counts only, no min/max/ndv
    val edir = Files.createTempDirectory("graft-analyze-e").toString + "/t"
    spark.read.parquet(sf + "/embeddings.parquet").write.parquet(edir)
    val estats = sources.Maintenance.analyze(spark, edir)
    val emb = estats("embedding")
    assert(emb.nonNull > 0 && emb.min.isEmpty && emb.max.isEmpty && emb.ndvEst.isEmpty)
  }

  test("schema evolution: widened batches merge, old rows null-fill, pruning still works") {
    val dir = Files.createTempDirectory("graft-evolve").toString + "/t"
    // generation 1: three columns
    docs.select("doc_id", "text", "lang").write.parquet(dir)
    // generation 2: a later ingest adds a quality score
    docs.limit(100).select(col("doc_id") + 1000000L as "doc_id", col("text"),
        col("lang"), lit(42L).as("quality"))
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "text", "lang", "quality"))
    val n1 = docs.count()
    assert(merged.count() == n1 + 100)
    // old-generation rows surface the new column as null
    assert(merged.filter(col("doc_id") < 1000000L && col("quality").isNull).count() == n1)
    assert(merged.filter(col("quality") === 42L).count() == 100)
    // column pruning on the merged schema still reaches the scan
    val q = merged.select("doc_id", "quality")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("text"), s"pruned column still read:\n$scan")
  }

  test("ORC predicate pushdown reaches the scan like parquet") {
    val dir = Files.createTempDirectory("graft-orc-pd").toString
    docs.write.mode("overwrite").orc(dir)
    val q = spark.read.orc(dir).filter(col("lang") === "en").select("doc_id", "lang")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("lang"),
      s"no pushed filter in: $scan")
  }

  test("versioned table: atomic commits, time travel, and reference-aware vacuum") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-versioned").toString
    val a = docs.filter(col("doc_id") < 20)
    val b = docs.filter(col("doc_id") >= 20 && col("doc_id") < 30)
    val c = docs.filter(col("doc_id") >= 30 && col("doc_id") < 35)
    val (na, nb, nc) = (a.count(), b.count(), c.count())

    assert(Versioned.commitAppend(spark, dir, a) == 1)
    assert(Versioned.commitAppend(spark, dir, b) == 2)   // v2 = a ∪ b
    assert(Versioned.commitOverwrite(spark, dir, c) == 3) // v3 = c only
    assert(Versioned.versions(dir) == Seq(1, 2, 3))

    // latest is the overwrite; history stays readable (time travel)
    assert(Versioned.read(spark, dir).count() == nc)
    assert(Versioned.read(spark, dir, Some(2)).count() == na + nb)
    assert(Versioned.read(spark, dir, Some(1)).count() == na)
    val v1Ids = Versioned.read(spark, dir, Some(1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(v1Ids == (0L until 20L).toSet)

    // vacuum keeps files any retained manifest references: dropping v1
    // deletes nothing (v2 still references v1's files)
    assert(Versioned.vacuum(dir, keepLast = 2) == 0)
    assert(Versioned.read(spark, dir, Some(2)).count() == na + nb)
    // keeping only v3 deletes the a/b files; the latest still reads
    assert(Versioned.vacuum(dir, keepLast = 1) > 0)
    assert(Versioned.read(spark, dir).count() == nc)
    intercept[IllegalArgumentException] {
      Versioned.read(spark, dir, Some(2))
    }
  }

  test("parquet bloom filters: point lookups on an unclustered column skip row groups") {
    // min/max stats can't prune a high-cardinality column whose values
    // interleave across files (every file's [min,max] spans the range);
    // parquet's NATIVE bloom filters can — write-time opt-in per column,
    // and the reader consults them during predicate pushdown with no
    // engine code at all. The complement to range/z-order clustering:
    // clustering earns stats-pruning for range queries, blooms earn
    // point-lookup pruning on whatever the layout scatters.
    val dir = Files.createTempDirectory("graft-bloom").toString + "/t"
    docs.select(col("doc_id"), col("text"),
        concat(lit("user"), col("doc_id") % 97).as("author"))
      .repartition(8) // every file spans the full author range
      .write
      .option("parquet.bloom.filter.enabled#author", "true")
      .option("parquet.bloom.filter.expected.ndv#author", "200")
      .parquet(dir)
    def scannedRows(value: String): Long = {
      val q = spark.read.parquet(dir).filter(col("author") === value)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    // an absent value: every row group's bloom answers "definitely not"
    val absent = scannedRows("user-nope")
    assert(absent == 0, s"bloom must skip every row group, scanned $absent rows")
    // a present value still reads (no false negatives, values intact)
    val present = spark.read.parquet(dir)
      .filter(col("author") === "user0").count()
    assert(present == docs.filter(col("doc_id") % 97 === 0).count())
  }

  test("manifest stats: file skipping prunes files, matches the full scan, degrades safely") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-skipping").toString
    // range-clustered commit: files cover disjoint doc_id bands, so
    // footer min/max lifted into the manifest are actually selective
    assert(Versioned.commitAppendStats(spark, dir,
      docs.repartitionByRange(8, col("doc_id")), Seq("doc_id")) == 1)
    val (pruned, total, kept) = Versioned.readSkipping(spark, dir, "doc_id", 10L, 19L)
    assert(total >= 4, s"expected a multi-file commit, got $total")
    assert(kept < total, s"skipping pruned nothing: read $kept of $total files")
    val expect = docs.filter(col("doc_id").between(10, 19))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == expect)
    // a range beyond every file's [min,max]: zero rows, schema intact
    val (none, _, kept0) = Versioned.readSkipping(spark, dir, "doc_id", 1000000L, 2000000L)
    assert(kept0 == 0 && none.count() == 0 && none.columns.contains("text"))
    // stats survive an append REBASE: the old entries keep pruning, the
    // new out-of-range file is pruned too
    assert(Versioned.commitAppendStats(spark, dir,
      docs.filter(col("doc_id") < 5).repartitionByRange(1, col("doc_id")),
      Seq("doc_id")) == 2)
    val (pruned2, total2, kept2) = Versioned.readSkipping(spark, dir, "doc_id", 10L, 19L)
    assert(total2 == total + 1 && kept2 == kept)
    assert(pruned2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == expect)
    // a stats-less v1 manifest degrades to read-everything, never wrong
    val legacy = Files.createTempDirectory("graft-skipping-legacy").toString
    Versioned.commitAppend(spark, legacy, docs.repartitionByRange(4, col("doc_id")))
    val (all, t2, k2) = Versioned.readSkipping(spark, legacy, "doc_id", 10L, 19L)
    assert(t2 == k2, "legacy manifest must be read in full")
    assert(all.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == expect)
  }

  test("schema evolution: merged read null-fills pre-evolution files; time travel keeps the old schema") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-evolve").toString
    val base = docs.select(col("doc_id"), col("lang"))
    Versioned.commitAppend(spark, dir, base)
    Versioned.commitAppend(spark, dir,
      base.limit(5).select(col("doc_id") + 1000000L as "doc_id", col("lang"),
        lit(7L).as("quality")))
    val merged = Versioned.read(spark, dir)
    assert(merged.columns.contains("quality"))
    // pre-evolution rows null-fill; evolved rows carry their values
    assert(merged.filter(col("doc_id") < 1000000L && col("quality").isNotNull).count() == 0)
    assert(merged.filter(col("quality") === 7L).count() == 5)
    // time travel to v1 sees the schema of its era — no phantom column
    assert(!Versioned.read(spark, dir, Some(1)).columns.contains("quality"))
    assertStoredSchemaParity(dir)
  }

  test("versioned OPTIMIZE: fragmented appends compact, skipping returns, history intact") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-optimize").toString
    // many tiny unclustered appends: every file spans the id range, so
    // manifest stats exist but prune nothing
    (0 until 4).foreach { m =>
      Versioned.commitAppendStats(spark, dir,
        docs.filter(col("doc_id") % 4 === m).repartition(6), Seq("doc_id"))
    }
    val total = docs.count()
    val (_, t0, k0) = Versioned.readSkipping(spark, dir, "doc_id", 10L, 19L)
    assert(t0 >= 20, s"expected a fragmented table, got $t0 files")
    assert(k0 * 2 > t0, s"hash-scattered files should mostly survive pruning: $k0 of $t0")
    val (nv, before, after) = Versioned.optimize(spark, dir, "doc_id", 4)
    assert(before == t0 && after <= 4, s"optimize left $after of $before files")
    // values intact, skipping strictly MORE selective, history readable
    assert(Versioned.read(spark, dir).count() == total)
    val (pruned, t1, k1) = Versioned.readSkipping(spark, dir, "doc_id", 10L, 19L)
    assert(k1 < t1, s"post-optimize skipping must prune: $k1 of $t1")
    assert(k1.toLong * t0 < k0.toLong * t1,
      s"optimize must improve selectivity: $k1/$t1 vs $k0/$t0")
    assert(pruned.count() == docs.filter(col("doc_id").between(10, 19)).count())
    assert(Versioned.read(spark, dir, Some(nv - 1)).count() <= total)
    assertStoredSchemaParity(dir)
  }

  test("targeted delete rewrites only overlapping files; history survives until vacuum") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-delete").toString
    val total = docs.count()
    Versioned.commitAppendStats(spark, dir,
      docs.repartitionByRange(8, col("doc_id")), Seq("doc_id"))
    val before = Versioned.read(spark, dir, Some(1))
      .inputFiles.map(_.split('/').last).toSet
    val (nv, rewritten, shared) = Versioned.deleteWhere(spark, dir, "doc_id", 10L, 19L)
    assert(nv == 2 && rewritten >= 1 && shared >= 1,
      s"expected a partial rewrite, got rewritten=$rewritten shared=$shared")
    // exactness: the range is gone, nothing else is
    val now = Versioned.read(spark, dir)
    assert(now.filter(col("doc_id").between(10, 19)).count() == 0)
    assert(now.count() == total - 10)
    // untouched files carry over BY NAME (zero I/O for the shared set)
    val after = now.inputFiles.map(_.split('/').last).toSet
    assert((after & before).size == shared,
      s"shared files must keep their names: before=${before.size} after=${after.size} shared=$shared")
    // time travel: v1 still has the deleted rows until vacuum reclaims it
    assert(Versioned.read(spark, dir, Some(1)).count() == total)
    assert(Versioned.vacuum(dir, keepLast = 1) == rewritten)
    assert(Versioned.read(spark, dir).count() == total - 10)
    // a no-op delete (range outside every file) shares everything
    val (nv2, r2, s2) = Versioned.deleteWhere(spark, dir, "doc_id", 5000000L, 6000000L)
    assert(nv2 == nv && r2 == 0 && s2 > 0, "out-of-range delete must not commit")
    assertStoredSchemaParity(dir)
  }

  test("incremental dedup ingest: new fingerprints append, replays are no-ops") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-dedup-ingest").toString
    val fp = md5(col("text"))
    val base = docs.filter(col("doc_id") < 20).withColumn("fp", fp)
    assert(Versioned.commitDedupAppend(spark, dir, base, "fp", "doc_id") == ((1, 20L)))

    // overlapping batch: 10 already-ingested docs + 10 new + an internal dup
    val batch = docs.filter(col("doc_id") >= 10 && col("doc_id") < 30)
      .unionByName(docs.filter(col("doc_id") === 25)) // same text twice in-batch
      .withColumn("fp", fp)
    val (v2, added) = Versioned.commitDedupAppend(spark, dir, batch, "fp", "doc_id")
    assert(v2 == 2 && added == 10L, s"got v$v2 +$added")
    assert(Versioned.read(spark, dir).count() == 30)
    assert(Versioned.read(spark, dir).select("doc_id").distinct().count() == 30)

    // at-least-once upstream: a full replay commits nothing
    val (v3, replayed) = Versioned.commitDedupAppend(spark, dir, batch, "fp", "doc_id")
    assert(v3 == 2 && replayed == 0L)
    assert(Versioned.versions(dir) == Seq(1, 2))
  }

  test("dedup appends leave no persisted RDD behind") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-dedup-leak").toString
    val batch = docs.filter(col("doc_id") < 20).withColumn("fp", md5(col("text")))
    val before = spark.sparkContext.getPersistentRDDs.size
    Versioned.commitDedupAppend(spark, dir, batch, "fp", "doc_id")
    Versioned.commitDedupAppend(spark, dir, batch, "fp", "doc_id") // replay: admits nothing
    Versioned.commitDedupAppend(spark, dir,
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 30).withColumn("fp", md5(col("text"))),
      "fp", "doc_id")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "commitDedupAppend must not leave RDDs persisted for the session")
    assert(Versioned.versions(dir) == Seq(1, 2))
  }

  test("an append whose column types conflict with the table fails before publishing") {
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-poison").toString
    val base = docs.filter(col("doc_id") < 20).select(col("doc_id"), col("lang"))
    Versioned.commitAppend(spark, dir, base)
    val dataFiles = Files.list(java.nio.file.Paths.get(dir, "data")).count()
    val poisoned = base.select(col("doc_id").cast("string").as("doc_id"), col("lang"))
    intercept[IllegalArgumentException] {
      Versioned.commitAppend(spark, dir, poisoned)
    }
    assert(Versioned.versions(dir) == Seq(1), "a conflicting append must not publish")
    assert(Files.list(java.nio.file.Paths.get(dir, "data")).count() == dataFiles,
      "a failed commit must not leave its data files behind")
    assert(Versioned.read(spark, dir).count() == 20)
    // the table still takes a compatible append afterwards
    assert(Versioned.commitAppend(spark, dir, base) == 2)
    assert(Versioned.read(spark, dir).count() == 40)
  }

  test("manifests written before schemas were recorded read, time-travel and take appends") {
    import graft.sources.Versioned
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-legacy-manifest").toString
    val staging = Files.createTempDirectory("graft-legacy-staging").toString + "/t"
    docs.select("doc_id", "lang").repartitionByRange(2, col("doc_id")).write.parquet(staging)
    val files = Files.list(Paths.get(staging)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString).toSeq
    Files.createDirectories(Paths.get(dir, "data"))
    Files.createDirectories(Paths.get(dir, "_manifests"))
    files.foreach(f => Files.copy(f, Paths.get(dir, "data", f.getFileName.toString)))
    val names = files.map(_.getFileName.toString)
    def rangeOf(f: java.nio.file.Path) = {
      val ids = spark.read.parquet(f.toString).agg(min("doc_id"), max("doc_id")).head()
      (ids.getLong(0), ids.getLong(1))
    }
    // v1: a bare file list holding the first file; v2: stats for both
    Files.writeString(Paths.get(dir, "_manifests", "v1.json"), s"""["${names.head}"]""")
    Files.writeString(Paths.get(dir, "_manifests", "v2.json"), files.map { f =>
      val (mn, mx) = rangeOf(f)
      s"""{"name":"${f.getFileName}","stats":{"doc_id":[$mn,$mx]}}"""
    }.mkString("""{"files":[""", ",", "]}"))
    val total = docs.count()
    val firstFile = spark.read.parquet(files.head.toString).count()
    assert(Versioned.read(spark, dir).count() == total)
    assert(Versioned.read(spark, dir, Some(1)).count() == firstFile)
    val (pruned, t, k) = Versioned.readSkipping(spark, dir, "doc_id", 0L, 0L)
    assert(t == 2 && k == 1 && pruned.count() == 1, s"v2 stats must prune: kept $k of $t")
    // the first append infers the base schema once and records it
    assert(Versioned.commitAppend(spark, dir,
      docs.filter(col("doc_id") < 5).select(col("doc_id"), col("lang"), lit(1L).as("quality"))) == 3)
    assert(Versioned.read(spark, dir).count() == total + 5)
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("doc_id", "lang", "quality"))
    val (_, t3, k3) = Versioned.readSkipping(spark, dir, "doc_id", 0L, 0L)
    assert(t3 == 3 && k3 == 2, "v2's stats must survive the rebase")
    assert(Versioned.read(spark, dir, Some(1)).count() == firstFile)
    val v3 = Files.readString(Paths.get(dir, "_manifests", "v3.json"))
    assert(v3.contains("\"schema\""), s"the append must record the schema: $v3")
    val (read3, jobs) = jobsDuring(Versioned.read(spark, dir))
    assert(jobs.isEmpty, s"planning the read ran Spark jobs $jobs")
    assert(read3.schema == spark.read.option("mergeSchema", "true").parquet(read3.inputFiles: _*).schema)
  }
}
