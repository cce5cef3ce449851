package graft.ops

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication pack: exact hash-dedup, MinHash+LSH banding, SimHash
  * byte-banding, n-gram Jaccard verification, and canonical resolution —
  * the near-dup removal stages of a training-data pipeline.
  *
  * The documents table has no natural duplicates, so every query runs
  * over a `corpus` that unions in synthetic copies (exact copies for
  * doc_id%7=0, near-copies with the first token dropped for doc_id%5=0).
  * Both engines construct the corpus identically, which makes the LSH
  * output non-trivial AND oracle-checkable.
  *
  * Scale design: signatures/bands are per-row narrow projections (no
  * shuffle); the only shuffles are the band-key self-join and the final
  * group-bys — exactly the shape you want at 100 TB, where the band join
  * touches only k rows per band bucket instead of O(n²) pairs. Banding
  * parameters (16 perms, 4 bands × 4 rows) target ~J>0.7 pairs.
  */
object Dedup {

  /** Corpus with synthesized duplicates: (doc_id, toks). The barrier
    * spreads the single-row-group scan across cores so the signature /
    * shingle stages downstream parallelize (see Text.docs). */
  def corpus(s: SparkSession, d: String): DataFrame = {
    val base = graft.Q.stageBarrier(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val near = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        slice(col("toks"), lit(2), size(col("toks"))).as("toks"))
    val exact = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("toks"))
    base.unionByName(near).unionByName(exact)
  }

  // ---- DuckDB mirrors of the corpus and the signature primitives ----

  private[ops] val DCorpus =
    """base AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |), corpus AS (
      |  SELECT doc_id, toks FROM base
      |  UNION ALL SELECT doc_id+1000000, toks[2:] FROM base WHERE doc_id%5=0
      |  UNION ALL SELECT doc_id+2000000, toks FROM base WHERE doc_id%7=0
      |)""".stripMargin

  private[ops] val DHex32 = "CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)"

  /** 5-gram shingles over toks (mirror of TextFunctions.shingles). */
  private[ops] val DSh =
    "list_transform(range(1, greatest(len(toks)-4, 1)+1), i -> array_to_string(toks[i:i+4], ' '))"

  /** 16-perm MinHash signature over shingle list `sh`. */
  private val DSig =
    s"list_transform(range(0,16), p -> list_min(list_transform(sh, s -> ($DHex32*(2*p+1) + (p*p+7)) % 2038074743)))"

  /** q26 — exact dedup: hash-groupBy on the normalized text fingerprint;
    * canonical = min doc_id, members kept for audit (A1 semantics:
    * duplicates are recorded, not silently dropped). */
  val q26ExactDedup: Q = Q(
    "q26_exact_dedup",
    s"""WITH $DCorpus
       |SELECT md5(array_to_string(toks, ' ')) AS fp,
       |  COUNT(*) AS n_copies,
       |  MIN(doc_id) AS canonical,
       |  string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS members
       |FROM corpus
       |GROUP BY 1 ORDER BY canonical""") { (s, d) =>
    corpus(s, d)
      .groupBy(md5(concat_ws(" ", col("toks"))).as("fp"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          _.cast("string")), "|").as("members"))
      .orderBy("canonical")
  }

  /** Signatures via the fused native expression (plans.MinHashSig): one
    * pass per document — md5 once per shingle, no intermediate arrays,
    * no hex round-trip — measured ~11x faster than the column-expression
    * spelling at sf0.1 and bit-identical to it (PlanSpec). The table is
    * localCheckpoint'd because every consumer references it 2-4 times
    * (band self-join sides + signature re-joins) and each reference
    * would otherwise recompute the signature subtree — the cluster
    * equivalent is a checkpoint/cached staging table.
    *
    * Since round 12 only q313's from-scratch audit leg (which must
    * genuinely recompute from tokens) uses this; every query that needs
    * BOTH signatures and shingle sets goes through [[fpTable]], which
    * pays the md5-per-shingle pass once instead of twice. */
  /** Checkpoint at the session's shuffle parallelism, not the union's
    * inherited partition count (round-12, guide §2.2/§6: fewer, larger
    * partitions). The synthetic corpus is a 3-5-leg union of 32-split
    * scans, so a naive checkpoint carries 96-160 partitions and EVERY
    * downstream consumer (4-6 scans per dedup query) pays that many
    * task launches to read a few thousand rows — measured ~0.1 s of
    * executor time per task of pure overhead, the dominant cost of
    * q312/q313. coalesce (no exchange) folds the legs to
    * spark.sql.shuffle.partitions, which already scales with the
    * cluster; a no-op when the frame is narrower. */
  private def tightCheckpoint(df: DataFrame): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    df.coalesce(n).localCheckpoint()
  }

  private def sigTableOf(docs: DataFrame): DataFrame =
    tightCheckpoint(docs.withColumn("sig", expr("graft_minhash(toks)")))

  /** ONE fused fingerprint pass (round-12 optimization, guide §1.2/§2.4:
    * don't compute the same expensive thing twice): (doc_id, n_tok, sh,
    * sig) where `sh` is the distinct 5-shingle hash set (the verify
    * side) and `sig` the 16-perm MinHash signature DERIVED from `sh` by
    * pure integer arithmetic (plans.MinHashFromHashes — min over a set
    * ignores multiplicity, so it is bit-identical to
    * `graft_minhash(toks)`; PlanSpec pins it). Before: sigTable and
    * shingleSets each ran the md5-per-shingle pass (MinHashSig.compute
    * IS ShingleHashes.compute plus 16 multiplies), so q29/q30/q61/q97/
    * q108/q120/q132/q312/q313 tokenized and hashed the corpus twice and
    * checkpointed it twice. One checkpoint now feeds the band index,
    * the verify joins, the node sets, and the representative pick —
    * and it stores 8-byte hash arrays, not token strings. */
  private def fpTableOf(docs: DataFrame): DataFrame =
    tightCheckpoint(docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        array_distinct(tokenShingleHashes(col("toks"))).as("sh"))
      .withColumn("sig", expr("graft_minhash_hashes(sh)")))

  /** [[fpTableOf]] over the synthetic-duplicate corpus. */
  private def fpTable(s: SparkSession, d: String): DataFrame =
    fpTableOf(corpus(s, d))

  /** Band rows (doc_id, band key) — 4 bands × 4 signature rows. */
  private def bandRows(s: SparkSession, d: String): DataFrame =
    bandRowsOf(fpTable(s, d))

  /** Band explode over any (doc_id, sig) frame (no shuffle: a narrow
    * 4-way per-row explode of 16-byte keys). */
  private def bandRowsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b => bandKey(col("sig"), b, 4)): _*)).as("bkey"))

  /** Signature + band-key CTEs without a candidate rule — shared by the
    * pairwise `cand` (DBands) and q132's incremental batch-vs-index
    * probe, which needs a DIFFERENT join predicate over the same bands. */
  private val DSigsBands =
    s"""sigs AS (
       |  SELECT doc_id, sh, list_distinct(list_transform(sh, s -> $DHex32)) AS hs, $DSig AS sig
       |  FROM (SELECT doc_id, $DSh AS sh FROM corpus)
       |), bands AS (
       |  SELECT doc_id, md5(concat_ws('_', b, sig[4*b+1], sig[4*b+2], sig[4*b+3], sig[4*b+4])) AS bkey
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0,4)) AS b)
       |)""".stripMargin

  private val DBands =
    s"""$DSigsBands, cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.bkey = y.bkey AND x.doc_id < y.doc_id
       |)""".stripMargin

  /** LSH candidate pairs: doc_a < doc_b sharing >= 1 of the 4 band keys
    * (the Spark twin of DBands' `cand`) — over a shared [[fpTableOf]]
    * frame so the fingerprint pass is paid once per query. */
  private def candidatePairsOf(fp: DataFrame): DataFrame = {
    val bands = bandRowsOf(fp)
    bands.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Distinct 5-shingle HASH sets per doc (fused native path): the
    * verify joins ship long arrays instead of shingle strings, and
    * intersect compares 8-byte values — same counts, both engines hash
    * identically. localCheckpoint'd: both sides of the pair join (and
    * any resolution pass) read it. */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleSetsOf(corpus(s, d))

  /** [[shingleSets]] over an arbitrary (doc_id, toks) frame. */
  private def shingleSetsOf(docs: DataFrame): DataFrame =
    tightCheckpoint(docs
      .select(col("doc_id"), array_distinct(tokenShingleHashes(col("toks"))).as("sh")))

  /** Exact-Jaccard >= 0.7 verified near-dup pairs over `cand` — the ONE
    * verify rule (q29's), shared by resolution (q30/q61/q97), the
    * quality report (q108), and the split-leakage audit (q120). `sh`
    * may carry extra columns (q97's n_tok); only (doc_id, sh) is read.
    * Mirrors the DVerified SQL fragment — keep the two in sync. */
  private def verifiedDupPairs(cand: DataFrame, sh: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sx"), col("sy"))).cast("long")
    val uni = size(array_distinct(concat(col("sx"), col("sy")))).cast("long")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sx")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sy")), "doc_b")
      .filter(uni > 0 && inter * 1000000L >= uni * 700000L)
      .select("doc_a", "doc_b")
  }

  /** DuckDB mirror of [[verifiedDupPairs]] (requires DCorpus + DBands). */
  private val DVerified =
    """verified AS (
      |  SELECT doc_a, doc_b FROM cand
      |  JOIN sigs sx ON sx.doc_id = doc_a
      |  JOIN sigs sy ON sy.doc_id = doc_b
      |  WHERE len(list_distinct(sx.hs || sy.hs)) > 0
      |    AND len(list_intersect(sx.hs, sy.hs))*1000000 >= 700000*len(list_distinct(sx.hs || sy.hs))
      |)""".stripMargin

  /** q27 — MinHash+LSH candidate pairs with the signature-estimated
    * similarity. Pairs sharing ≥1 of 4 bands; est = matching minhashes/16. */
  val q27MinhashLsh: Q = Q(
    "q27_minhash_lsh",
    s"""WITH $DCorpus, $DBands
       |SELECT doc_a, doc_b,
       |  CAST(FLOOR(list_sum(list_transform(range(1,17),
       |    i -> CASE WHEN sx.sig[i] = sy.sig[i] THEN 1 ELSE 0 END))*1000000/16) AS BIGINT) AS est_ppm
       |FROM cand
       |JOIN sigs sx ON sx.doc_id = doc_a
       |JOIN sigs sy ON sy.doc_id = doc_b
       |ORDER BY doc_a, doc_b""") { (s, d) =>
    val fp = fpTable(s, d)
    val cand = candidatePairsOf(fp)
    val sigs = fp.select(col("doc_id"), col("sig"))
    val matches = aggregate(sequence(lit(1), lit(16)), lit(0L),
      (acc, i) => acc + when(element_at(col("sx"), i) === element_at(col("sy"), i), 1L)
        .otherwise(0L))
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sx")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sy")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        floor(matches * 1000000L / 16).as("est_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  private val DSimhash =
    """CAST(list_sum(list_transform(range(0,32), b ->
      |    CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** q28 — SimHash near-dup: 32-bit code over 5-gram shingle features
    * (token-set features would collapse on a small vocabulary), byte-
    * banded LSH (4 bands of 8 bits), Hamming ≤ 8 verification. */
  val q28SimhashPairs: Q = Q(
    "q28_simhash_pairs",
    s"""WITH $DCorpus, codes AS (
       |  SELECT doc_id, $DSimhash AS code
       |  FROM (SELECT doc_id, list_transform(list_distinct($DSh), s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)) AS hs FROM corpus)
       |), cbands AS (
       |  SELECT doc_id, code, b, (code >> (8*b)) & 255 AS byte
       |  FROM codes CROSS JOIN (SELECT unnest(range(0,4)) AS b)
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.code AS ca, y.code AS cb
       |  FROM cbands x JOIN cbands y ON x.b = y.b AND x.byte = y.byte AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ca, cb)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(ca, cb)) <= 8
       |ORDER BY doc_a, doc_b""") { (s, d) =>
    // graft_simhash: native one-pass codegen expression (PlanSpec pins
    // equality with the 32-aggregate HOF formulation).
    val codes = corpus(s, d)
      .withColumn("hs", transform(array_distinct(shingles(col("toks"), 5)), s => hex32(s)))
      .select(col("doc_id"), expr("graft_simhash(hs)").as("code"))
    val cbands = codes.select(col("doc_id"), col("code"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("code"), 8 * b).bitwiseAND(255).as("byte"))): _*)).as("bb"))
      .select(col("doc_id"), col("code"), col("bb.b").as("b"), col("bb.byte").as("byte"))
    cbands.as("x").join(cbands.as("y"),
        col("x.b") === col("y.b") && col("x.byte") === col("y.byte")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.code").as("ca"), col("y.code").as("cb"))
      .distinct()
      .filter(hamming32(col("ca"), col("cb")) <= 8)
      .select(col("doc_a"), col("doc_b"), hamming32(col("ca"), col("cb")).as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** q29 — n-gram Jaccard verification of the LSH candidates: exact
    * 5-shingle set Jaccard, dup verdict at J ≥ 0.7. The
    * candidate-then-verify split is the scale pattern: exact Jaccard only
    * runs on the tiny candidate set, never on all pairs. */
  val q29JaccardVerify: Q = Q(
    "q29_jaccard_verify",
    s"""WITH $DCorpus, $DBands
       |SELECT doc_a, doc_b,
       |  CASE WHEN len(list_distinct(sx.hs || sy.hs)) = 0 THEN 0
       |       ELSE CAST(FLOOR(CAST(len(list_intersect(sx.hs, sy.hs)) AS BIGINT)*1000000
       |                 / len(list_distinct(sx.hs || sy.hs))) AS BIGINT) END AS jac_ppm,
       |  CASE WHEN len(list_distinct(sx.hs || sy.hs)) > 0
       |        AND len(list_intersect(sx.hs, sy.hs))*1000000 >= 700000*len(list_distinct(sx.hs || sy.hs))
       |       THEN 1 ELSE 0 END AS is_dup
       |FROM cand
       |JOIN sigs sx ON sx.doc_id = doc_a
       |JOIN sigs sy ON sy.doc_id = doc_b
       |ORDER BY doc_a, doc_b""") { (s, d) =>
    val fp = fpTable(s, d)
    val cand = candidatePairsOf(fp)
    val inter = size(array_intersect(col("sx"), col("sy"))).cast("long")
    val uni = size(array_distinct(concat(col("sx"), col("sy")))).cast("long")
    cand
      .join(fp.select(col("doc_id").as("doc_a"), col("sh").as("sx")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("sh").as("sy")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        when(uni === 0, 0L).otherwise(floor(inter * 1000000L / uni)).as("jac_ppm"),
        when(uni > 0 && inter * 1000000L >= uni * 700000L, 1).otherwise(0).as("is_dup"))
      .orderBy("doc_a", "doc_b")
  }

  /** q30 — dedup resolution: every corpus doc mapped to its canonical
    * (min verified-duplicate neighbor, else itself); survivors =
    * canonical rows. One-hop min is exact here because synthetic dup
    * edges always point at the base doc. */
  val q30DedupResolve: Q = Q(
    "q30_dedup_resolve",
    s"""WITH $DCorpus, $DBands, $DVerified
       |SELECT c.doc_id,
       |  least(c.doc_id, COALESCE(MIN(v.doc_a), c.doc_id)) AS canonical,
       |  CASE WHEN COALESCE(MIN(v.doc_a), c.doc_id) < c.doc_id THEN 1 ELSE 0 END AS is_dup
       |FROM corpus c LEFT JOIN verified v ON v.doc_b = c.doc_id
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""") { (s, d) =>
    val fp = fpTable(s, d)
    val verified = verifiedDupPairs(candidatePairsOf(fp), fp)
    fp.select("doc_id").as("c")
      .join(verified.as("v"), col("v.doc_b") === col("c.doc_id"), "left")
      .groupBy(col("c.doc_id").as("doc_id"))
      .agg(least(col("doc_id"), coalesce(min(col("v.doc_a")), col("doc_id"))).as("canonical"),
        when(coalesce(min(col("v.doc_a")), col("doc_id")) < col("doc_id"), 1)
          .otherwise(0).as("is_dup"))
      .orderBy("doc_id")
  }

  /** q61 — connected-components dedup resolution: the transitive closure
    * q30's one-hop min cannot see (a near-copy and an exact copy of the
    * same base doc are connected only THROUGH the base). Implemented the
    * way a 100 TB dedup graph is resolved: iterative min-label
    * propagation — each round every node takes the min of its own label
    * and its neighbors' labels, then pointer-jumps (comp := label(comp))
    * so the round count grows as O(log diameter), not O(diameter); a
    * 50-round cap therefore covers any realistic graph, and hitting it
    * without convergence throws instead of silently emitting wrong
    * labels. The edge set is materialized once
    * (localCheckpoint — the cluster equivalent is a checkpoint to
    * durable storage) so the LSH+verify subtree isn't recomputed per
    * round. The DuckDB oracle computes the same fixpoint with a
    * recursive CTE. */
  val q61ConnectedComponents: Q = Q(
    "q61_connected_components",
    s"""WITH RECURSIVE $DCorpus, $DBands, $DVerified, edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM verified
       |  UNION ALL SELECT doc_b, doc_a FROM verified
       |), reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
       |)
       |SELECT src AS doc_id, MIN(dst) AS component,
       |  CASE WHEN MIN(dst) = src THEN 1 ELSE 0 END AS is_canonical
       |FROM reach GROUP BY src
       |ORDER BY doc_id""") { (s, d) =>
    val fp = fpTable(s, d)
    val verified = verifiedDupPairs(candidatePairsOf(fp), fp)
    val edges = verified.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(verified.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .localCheckpoint()
    val nodes = fp.select(col("doc_id").as("id"))
    connectedComponents(nodes, edges)
      .select(col("id").as("doc_id"), col("comp").as("component"),
        when(col("comp") === col("id"), 1).otherwise(0).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Distributed connected components by min-label propagation WITH
    * pointer jumping: each round takes the min over neighbors' labels,
    * then shortcuts comp := label(comp), so rounds grow as
    * O(log diameter) — a million-node chain converges in ~20 rounds
    * where plain propagation needs a million. `edges` must be
    * SYMMETRIC (both directions present); labels are node ids and the
    * component label is the component's minimum id. Convergence is
    * detected by the label sum (labels only decrease, so an unchanged
    * sum IS the fixpoint — one scalar aggregate per round instead of a
    * join-diff); hitting the round cap without converging throws
    * rather than silently emitting wrong labels. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    var labels = nodes.select(col("id"), col("id").as("comp")).localCheckpoint()
    var converged = false
    var rounds = 0
    // sum(comp) over an EMPTY node set is NULL — an empty graph is a
    // (trivially converged) fixpoint, not a crash (q252's core set can
    // be empty at tiny scale factors)
    def compSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("comp"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = compSum(labels)
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels, col("a") === col("id"))
        .groupBy(col("b")).agg(min(col("comp")).as("nmin"))
      val propagated = labels.join(neighborMin, col("id") === col("b"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      // pointer jumping: every comp value is itself a node id (min over
      // ids seen), so the self-join shortcuts each label to its label's
      // label, halving the remaining hop distance to the component min
      val next = propagated.as("l")
        .join(propagated.select(col("id").as("pid"), col("comp").as("pcomp")).as("p"),
          col("l.comp") === col("p.pid"))
        .select(col("l.id").as("id"), least(col("l.comp"), col("pcomp")).as("comp"))
        .localCheckpoint()
      val nextSum = compSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected-components did not converge after $maxRounds rounds")
    labels
  }

  /** 16-token span fingerprints of the corpus: (doc_id, span_fp), one
    * row per window occurrence. Shared by q84/q85 so the window size /
    * alignment (the documented tuning knob) lives in ONE place — its
    * DuckDB mirror is [[DSpans]]; change both together. */
  private def spanFps(s: SparkSession, d: String): DataFrame = {
    val nSpans = floor((size(col("toks")) + 15) / 16).cast("int")
    corpus(s, d)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), nSpans - 1),
          i => array_join(slice(col("toks"), i * 16 + 1, lit(16)), " "))).as("span"))
      .select(col("doc_id"), hex32(col("span")).as("span_fp"))
  }

  /** DuckDB `sp` CTE mirroring [[spanFps]] (assumes `corpus` in scope). */
  private val DSpans =
    s"""sp AS (
       |  SELECT doc_id, $DHex32 AS span_fp FROM (
       |    SELECT doc_id, array_to_string(toks[i*16+1 : i*16+16], ' ') AS s
       |    FROM (
       |      SELECT doc_id, toks,
       |        unnest(range(0, CAST(floor((len(toks)+15)/16) AS BIGINT))) AS i
       |      FROM corpus WHERE len(toks) > 0
       |    )
       |  )
       |)""".stripMargin

  /** q84 — duplicated-span extraction (exact-substring dedup at span
    * granularity): cut every document into fixed 16-token windows,
    * fingerprint each window, and surface the spans that recur across
    * DOCUMENTS — the boilerplate/licence-header/quoted-passage signal
    * that document-level dedup (q26) cannot see, and the span-removal
    * primitive of suffix-array substring dedup re-expressed as a
    * shuffle-on-fingerprint aggregation. Exact copies (%7) duplicate
    * every span; near copies (%5, first token dropped) shift the
    * window alignment and mostly escape — the documented alignment
    * sensitivity that motivates shingling (q27/q29) for NEAR-dup while
    * spans stay the EXACT-passage tool. Narrow explode → one shuffle
    * keyed by span fingerprint; output is only the recurring tail. */
  val q84SpanDedup: Q = Q(
    "q84_span_dedup",
    s"""WITH $DCorpus,
       |$DSpans
       |SELECT span_fp, COUNT(*) AS n_occ,
       |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS canonical
       |FROM sp GROUP BY span_fp
       |HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY span_fp""") { (s, d) =>
    spanFps(s, d)
      .groupBy("span_fp")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical"))
      .filter(col("n_docs") > 1)
      .orderBy("span_fp")
  }

  /** q85 — duplicated-span document gate (the RefinedWeb/Gopher-style
    * "mostly boilerplate?" removal decision built on q84's spans): for
    * every document, the fraction of its 16-token spans whose
    * fingerprint recurs in ANOTHER document, and the keep/drop verdict
    * at a 50% threshold. This is the consumer of span-level dedup — a
    * span that repeats across documents marks licence headers / quoted
    * passages, and a document that is MOSTLY such spans is a duplicate
    * shell even when no single whole-document hash matches (exact %7
    * copies gate out at 100%, alignment-shifted %5 near copies mostly
    * survive — same sensitivity q84 documents).
    *
    * Scale shape: the span stream is scanned ONCE (tokenize + explode +
    * fingerprint is the heavy narrow stage at corpus scale — a
    * join-back spelling would compute it twice, once per side), reduced
    * to distinct (fingerprint, doc) pairs with per-pair occurrence
    * counts, cross-doc recurrence read off a count() window over the
    * fingerprint partition, then one doc_id-keyed aggregation folds the
    * verdict. Three modest exchanges of the pair table, no join, no
    * driver-side dup-set — the recurring-span table stays distributed. */
  val q85SpanDupGate: Q = Q(
    "q85_span_dup_gate",
    s"""WITH $DCorpus,
       |$DSpans,
       |fp AS (
       |  SELECT span_fp, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM sp GROUP BY span_fp
       |)
       |SELECT sp.doc_id,
       |  COUNT(*) AS n_spans,
       |  COUNT(CASE WHEN fp.n_docs > 1 THEN 1 END) AS n_dup_spans,
       |  ${Clean.dRatio("COUNT(CASE WHEN fp.n_docs > 1 THEN 1 END)", "COUNT(*)", 1000000L)} AS dup_ppm,
       |  CASE WHEN COUNT(CASE WHEN fp.n_docs > 1 THEN 1 END)*2 < COUNT(*) THEN 1 ELSE 0 END AS keep
       |FROM sp JOIN fp ON fp.span_fp = sp.span_fp
       |GROUP BY sp.doc_id ORDER BY sp.doc_id""") { (s, d) =>
    // (fp, doc) pairs with per-pair occurrence counts; the count()
    // window over fp IS the distinct-doc count (rows are distinct pairs)
    val pairs = spanFps(s, d).groupBy("span_fp", "doc_id")
      .agg(count(lit(1)).as("n_occ_doc"))
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("span_fp")))
    pairs.groupBy("doc_id")
      .agg(sum(col("n_occ_doc")).as("n_spans"),
        sum(when(col("n_docs") > 1, col("n_occ_doc")).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        ratioScaled(col("n_dup_spans"), col("n_spans"), 1000000L).as("dup_ppm"),
        when(col("n_dup_spans") * 2 < col("n_spans"), 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  /** q97 — best-representative selection: q30's near-dup clusters keep
    * the HIGHEST-QUALITY member (most tokens, tie-break min doc_id)
    * instead of the min-id one — what a production dedup actually ships
    * (the near-copy that lost tokens should lose to its fuller source,
    * whatever their id order). Same verified-edge pipeline as q30, then
    * one window per cluster: rank members by (n_tok desc, doc_id) and
    * keep rank 1. The window partitions by cluster id, so the selection
    * parallelizes across clusters; only multi-member clusters are
    * emitted (the audit surface a dedup report wants). */
  val q97BestRep: Q = Q(
    "q97_best_rep",
    s"""WITH $DCorpus, $DBands, $DVerified, resolved AS (
       |  SELECT c.doc_id, len(c.toks) AS n_tok,
       |    least(c.doc_id, COALESCE(MIN(v.doc_a), c.doc_id)) AS cluster
       |  FROM corpus c LEFT JOIN verified v ON v.doc_b = c.doc_id
       |  GROUP BY c.doc_id, len(c.toks)
       |), ranked AS (
       |  SELECT cluster, doc_id, n_tok,
       |    COUNT(*) OVER (PARTITION BY cluster) AS n_members,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_tok DESC, doc_id) AS rn
       |  FROM resolved
       |)
       |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
       |  doc_id AS rep_doc, CAST(n_tok AS BIGINT) AS rep_n_tok
       |FROM ranked WHERE rn = 1 AND n_members > 1
       |ORDER BY cluster""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // fp carries n_tok for the representative pick; the verify helper
    // reads only (doc_id, sh)
    val fp = fpTable(s, d)
    val verified = verifiedDupPairs(candidatePairsOf(fp), fp)
    val resolved = fp.select(col("doc_id"), col("n_tok")).as("c")
      .join(verified.as("v"), col("v.doc_b") === col("c.doc_id"), "left")
      .groupBy(col("c.doc_id").as("doc_id"), col("n_tok"))
      .agg(least(col("doc_id"), coalesce(min(col("v.doc_a")), col("doc_id"))).as("cluster"))
    val wc = Window.partitionBy("cluster")
    val wr = Window.partitionBy("cluster").orderBy(col("n_tok").desc, col("doc_id"))
    resolved
      .withColumn("n_members", count(lit(1)).over(wc))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1 && col("n_members") > 1)
      .select(col("cluster"), col("n_members").cast("long").as("n_members"),
        col("doc_id").as("rep_doc"), col("n_tok").as("rep_n_tok"))
      .orderBy("cluster")
  }

  /** q102 — paragraph-level dedup with document reassembly (the
    * RefinedWeb/C4 paragraph pass): documents split into 32-token
    * chunks, each chunk kept only at its FIRST corpus occurrence
    * (min (doc_id, idx) per fingerprint), and every document is
    * rebuilt from its surviving chunks — exact copies collapse to
    * nothing, partial overlaps lose only the shared paragraphs.
    *
    * Scale design: chunk TEXT never shuffles. The dedup decision
    * travels as (fingerprint, doc_id, idx) tuples — one window over
    * fingerprint groups, one ids-only re-aggregation per doc — and the
    * reassembly filters the chunk array IN the original document row
    * (a narrow projection). At 100 TB the shuffled bytes are O(chunks)
    * x ~40 bytes, not the corpus itself. */
  val q102ParagraphDedup: Q = Q(
    "q102_paragraph_dedup",
    s"""WITH $DCorpus, ch AS (
       |  SELECT doc_id, CAST((start-1)//32 AS BIGINT) AS idx,
       |    array_to_string(toks[start:start+31], ' ') AS txt
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1, 32)) AS start
       |        FROM corpus WHERE len(toks) > 0)
       |), k AS (
       |  SELECT doc_id, idx, txt,
       |    ROW_NUMBER() OVER (PARTITION BY md5(txt) ORDER BY doc_id, idx) = 1 AS kept
       |  FROM ch
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       |  md5(COALESCE(array_to_string(list(txt ORDER BY idx) FILTER (WHERE kept), ' '), '')) AS clean_fp
       |FROM k GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = corpus(s, d).filter(size(col("toks")) > 0)
      .withColumn("chunks", transform(
        sequence(lit(1), size(col("toks")), lit(32)),
        st => struct(
          ((st - 1) / 32).cast("long").as("idx"),
          array_join(slice(col("toks"), st, lit(32)), " ").as("txt"))))
      .select(col("doc_id"), col("chunks"))
      .localCheckpoint() // chunking runs once for the id pass and the rebuild
    val flat = t.select(col("doc_id"), explode(col("chunks")).as("c"))
      .select(col("doc_id"), col("c").getField("idx").as("idx"),
        md5(col("c").getField("txt")).as("fp"))
    val w = Window.partitionBy("fp").orderBy("doc_id", "idx")
    val keptIdx = flat.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("doc_id").agg(collect_list(col("idx")).as("kept"))
    val kept = coalesce(col("kept"), array().cast("array<bigint>"))
    t.join(keptIdx, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        size(array_intersect(transform(col("chunks"), _.getField("idx")), kept))
          .cast("long").as("n_kept"),
        md5(array_join(
          transform(
            filter(col("chunks"), c => array_contains(kept, c.getField("idx"))),
            _.getField("txt")), " ")).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** q108 — LSH banding quality report: the evaluation q104 gives ANN,
    * for near-dup detection. One summary row: how many candidate pairs
    * the 4×4 banding produced, how many verify at J≥0.7 (precision of
    * the candidate stage), and — against the corpus's PLANTED truth
    * (the synthesized near/exact copy of every doc_id%5 / %7 doc, whose
    * pair identity is known by construction) — how many planted pairs
    * banding recovered (recall). Ground truth by construction instead
    * of an all-pairs Jaccard scan: recall over O(n²) exact similarity
    * is the one thing you never compute at 100 TB; planted/labeled
    * subsets are how production dedup is actually scored. */
  val q108LshQuality: Q = Q(
    "q108_lsh_quality",
    s"""WITH $DCorpus, $DBands, $DVerified, planted AS (
       |  SELECT doc_id AS doc_a, doc_id+1000000 AS doc_b FROM base WHERE doc_id%5=0
       |  UNION ALL SELECT doc_id, doc_id+2000000 FROM base WHERE doc_id%7=0
       |), found AS (
       |  SELECT p.doc_a FROM planted p JOIN cand c
       |    ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
       |)
       |SELECT
       |  (SELECT COUNT(*) FROM cand) AS n_candidates,
       |  (SELECT COUNT(*) FROM verified) AS n_verified,
       |  CAST(FLOOR((SELECT COUNT(*) FROM verified)*1000000.0
       |    / greatest((SELECT COUNT(*) FROM cand), 1)) AS BIGINT) AS precision_ppm,
       |  (SELECT COUNT(*) FROM planted) AS n_planted,
       |  (SELECT COUNT(*) FROM found) AS n_planted_found,
       |  CAST(FLOOR((SELECT COUNT(*) FROM found)*1000000.0
       |    / greatest((SELECT COUNT(*) FROM planted), 1)) AS BIGINT) AS recall_ppm""") { (s, d) =>
    val fp = fpTable(s, d)
    val cand = candidatePairsOf(fp)
      .localCheckpoint() // counted, verified against, and recall-joined
    val verified = verifiedDupPairs(cand, fp)
    val baseIds = graft.Q.stageBarrier(Tables.documents(s, d)).select(col("doc_id"))
    val planted = baseIds.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"))
      .unionByName(baseIds.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 2000000L).as("doc_b")))
    val found = planted.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    // four scalar counts -> one summary row (the bloom-build pattern of
    // q83: tiny driver-side scalars are fine; the heavy work is above)
    val (nc, nv, np, nf) = (cand.count(), verified.count(), planted.count(), found.count())
    import s.implicits._
    Seq((nc, nv, math.floorDiv(nv * 1000000L, math.max(nc, 1L)),
        np, nf, math.floorDiv(nf * 1000000L, math.max(np, 1L))))
      .toDF("n_candidates", "n_verified", "precision_ppm",
        "n_planted", "n_planted_found", "recall_ppm")
  }

  /** q119 — content-defined chunking (CDC, the gear/Rabin family):
    * chunk boundaries fall where a token's hash satisfies
    * hex32(tok) % 8 == 0 (mean chunk ≈ 8 tokens), NOT at fixed
    * offsets — so the planted near-dups (docs shifted by one token)
    * resynchronize after the first boundary and share every later
    * chunk, which fixed-stride chunking (q93) structurally cannot.
    * The report is the cross-doc recurring-chunk table — the unit of
    * storage/dataset dedup. Plan shape: chunks are built INSIDE each
    * row by one ordered fold over the token array (state = open chunk
    * + closed list; no token-level explode, so document text never
    * shuffles), and only (fingerprint, doc) rows leave the scan for
    * the two key-shaped aggregations. The oracle spells the same
    * chunking relationally: a prefix-sum window over boundary flags. */
  val q119CdcChunks: Q = Q(
    "q119_cdc_chunks",
    s"""WITH $DCorpus, tok AS (
       |  SELECT doc_id, i, toks[i] AS tok,
       |    CASE WHEN ${DHex32.replace("md5(s)", "md5(toks[i])")} % 8 = 0 THEN 1 ELSE 0 END AS b
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i
       |        FROM corpus WHERE len(toks) > 0)
       |), cid AS (
       |  SELECT doc_id, i, tok,
       |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
       |  FROM tok
       |), chunks AS (
       |  SELECT doc_id, chunk_idx, string_agg(tok, ' ' ORDER BY i) AS chunk_text
       |  FROM cid GROUP BY 1, 2
       |)
       |SELECT md5(chunk_text) AS chunk_fp,
       |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS chunk_len,
       |  COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
       |FROM chunks GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY n_occ DESC, chunk_fp LIMIT 50""") { (s, d) =>
    // the boundary token CLOSES its chunk (inclusive), matching the
    // oracle's exclusive prefix-sum; fold shared with TextSpec's
    // shift-robustness pin
    corpus(s, d)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(cdcChunks(col("toks"), 8)).as("chunk_text"))
      .select(col("doc_id"), md5(col("chunk_text")).as("chunk_fp"),
        size(split(col("chunk_text"), " ")).cast("long").as("chunk_len"))
      .groupBy("chunk_fp", "chunk_len")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("n_occ").desc, col("chunk_fp"))
      .limit(50)
  }

  /** q120 — train/val/test split LEAKAGE audit: assign every corpus doc
    * a deterministic md5 split (8/1/1 train/val/test), find the
    * verified near-dup pairs (q27's LSH candidates, q29's exact-Jaccard
    * ≥ 0.7 verify), and count how many straddle a split boundary — a
    * near-dup of a training doc sitting in val/test silently inflates
    * eval, which is why every serious pipeline runs this audit before
    * freezing a split. Pure composition of the dedup stack plus one
    * split projection: the only new work after the (already key-shaped)
    * candidate-verify stages is a 6-key aggregation. */
  val q120SplitLeakage: Q = Q(
    "q120_split_leakage",
    {
      val dSplit = (id: String) =>
        s"""CASE WHEN CAST(concat('0x', substr(md5('spl_' || CAST($id AS VARCHAR)),1,8)) AS BIGINT) % 10 < 8 THEN 'train'
           |       WHEN CAST(concat('0x', substr(md5('spl_' || CAST($id AS VARCHAR)),1,8)) AS BIGINT) % 10 = 8 THEN 'val'
           |       ELSE 'test' END""".stripMargin
      s"""WITH $DCorpus, $DBands, $DVerified, sp AS (
         |  SELECT least(${dSplit("doc_a")}, ${dSplit("doc_b")}) AS split_a,
         |         greatest(${dSplit("doc_a")}, ${dSplit("doc_b")}) AS split_b
         |  FROM verified
         |)
         |SELECT split_a, split_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CASE WHEN split_a = split_b THEN 0 ELSE 1 END AS is_leak
         |FROM sp GROUP BY split_a, split_b
         |ORDER BY split_a, split_b"""
    }) { (s, d) =>
    def split(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val b = pmod(hex32(concat(lit("spl_"), id.cast("string"))), lit(10L))
      when(b < 8, "train").when(b === 8, "val").otherwise("test")
    }
    locally { val fp = fpTable(s, d)
      verifiedDupPairs(candidatePairsOf(fp), fp) }
      .select(least(split(col("doc_a")), split(col("doc_b"))).as("split_a"),
        greatest(split(col("doc_a")), split(col("doc_b"))).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", when(col("split_a") === col("split_b"), 0).otherwise(1))
      .orderBy("split_a", "split_b")
  }

  /** Static band index of the EXISTING corpus (doc_id < 1e6) — the
    * persisted lookup side of the incremental probe (q132 and its
    * streaming twin, Streaming.incrementalDedupStream). On a cluster
    * this is a staging table written once per corpus snapshot. */
  def indexBands(s: SparkSession, d: String): DataFrame =
    bandRows(s, d).filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("idx_id"), col("bkey"))

  /** Distinct shingle-hash sets of the index docs — the verify-side
    * lookup for candidates surfaced by [[indexBands]]. */
  def indexShingles(s: SparkSession, d: String): DataFrame =
    shingleSets(s, d).filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("idx_id"), col("sh").as("sy"))

  /** q132 — INCREMENTAL dedup: probe an incoming batch against the band
    * index of the EXISTING corpus, without re-pairing the corpus against
    * itself. Production pipelines never re-run whole-corpus dedup per crawl
    * drop — they persist the band→doc index (here: the localCheckpoint'd
    * signature table standing in for a staging table) and join only the
    * new batch's band keys against it. The fixture split reuses the
    * corpus convention: base docs (doc_id < 1e6) are the existing index,
    * the synthesized copies (doc_id ≥ 1e6) are the incoming batch.
    *
    * Scale shape: the probe join moves band KEYS only (16 bytes × 4 per
    * doc), never payloads; on a cluster the batch side (a daily drop,
    * ≪ corpus) broadcasts, so the indexed corpus is never shuffled at
    * all. The verify stage then fetches shingle sets for candidate ids
    * only — a semi-join-pruned lookup, not a corpus scan. Intra-batch
    * duplicates are deliberately out of scope here (that's the q27
    * pairwise pass run batch-locally before admission). */
  val q132IncrementalDedup: Q = Q(
    "q132_incremental_dedup",
    s"""WITH $DCorpus, $DSigsBands, cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.bkey = y.bkey
       |  WHERE x.doc_id >= 1000000 AND y.doc_id < 1000000
       |), $DVerified
       |SELECT c.doc_id, v.dup_of,
       |  CASE WHEN v.dup_of IS NULL THEN 'new' ELSE 'dup' END AS decision
       |FROM (SELECT doc_id FROM corpus WHERE doc_id >= 1000000) c
       |LEFT JOIN (SELECT doc_a AS doc_id, min(doc_b) AS dup_of
       |           FROM verified GROUP BY doc_a) v USING (doc_id)
       |ORDER BY doc_id""") { (s, d) =>
    val fp = fpTable(s, d)
    val bands = bandRowsOf(fp)
    val idx = bands.filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("doc_b"), col("bkey"))
    val batch = bands.filter(col("doc_id") >= 1000000L)
      .select(col("doc_id").as("doc_a"), col("bkey"))
    val cand = batch.join(idx, "bkey").select("doc_a", "doc_b").distinct()
    val matched = verifiedDupPairs(cand, fp)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min("doc_b").as("dup_of"))
    fp.filter(col("doc_id") >= 1000000L).select("doc_id")
      .join(matched, Seq("doc_id"), "left")
      .withColumn("decision", when(col("dup_of").isNull, "new").otherwise("dup"))
      .orderBy("doc_id")
  }

  /** q163 — EXACT set-similarity self-join via prefix filtering
    * (AllPairs/PPJoin family): every pair with 5-shingle-set Jaccard
    * ≥ 0.6, with ZERO false negatives — the deterministic complement to
    * the probabilistic MinHash stack (q27 trades recall for speed via
    * banding; audits and legal-hold dedup need the exact answer). Sets
    * are the same distinct shingle HASHES the verify stack uses (8-byte
    * rows in every shuffle, both engines hash identically; a hash
    * collision merges the same two shingles on both sides).
    *
    * The filter that makes "exact" feasible at scale: order each doc's
    * shingles by ascending global document frequency (rarest first,
    * value tie-break) and keep only the first p = |s| − ⌈t·|s|⌉ + 1 as
    * its PREFIX. Two sets with Jaccard ≥ t MUST share a prefix element
    * under the same global order, so the candidate join runs over
    * inverted lists of each doc's RAREST shingles — buckets stay small
    * exactly because the elements are rare, where a naive bucket join
    * explodes on boilerplate shingles. A size filter (5·min ≥ 3·max ⇔
    * min ≥ 0.6·max) prunes before exact verification counts the true
    * intersection. All thresholds in integer arithmetic — ⌈0.6·sz⌉
    * spelled (3·sz+4) div 5 on both engines, so no float-ceiling edge
    * can disagree.
    *
    * Scale shape: the df join + per-doc rank moves O(doc-shingle)
    * fixed-width rows — inherent, the global frequency order IS the
    * operator; candidates and verification are bounded by prefix-bucket
    * sizes, never n². */
  val q163PrefixJoin: Q = Q(
    "q163_prefix_join",
    s"""WITH $DCorpus, hsets AS (
       |  SELECT doc_id, list_distinct(list_transform(sh, s -> $DHex32)) AS hs
       |  FROM (SELECT doc_id, $DSh AS sh FROM corpus)
       |), tok AS (
       |  SELECT doc_id, unnest(hs) AS h FROM hsets
       |), df AS (
       |  SELECT h, COUNT(*) AS df FROM tok GROUP BY h
       |), sz AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
       |), rk AS (
       |  SELECT k.doc_id, k.h,
       |    ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY f.df, k.h) AS pos
       |  FROM tok k JOIN df f USING (h)
       |), pref AS (
       |  SELECT r.doc_id, r.h, z.sz FROM rk r JOIN sz z USING (doc_id)
       |  WHERE r.pos <= z.sz - (3*z.sz + 4)//5 + 1
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM pref x JOIN pref y ON x.h = y.h AND x.doc_id < y.doc_id
       |    AND 5*LEAST(x.sz, y.sz) >= 3*GREATEST(x.sz, y.sz)
       |), inter AS (
       |  SELECT c.da, c.db, COUNT(*) AS ni
       |  FROM cand c
       |  JOIN tok a ON a.doc_id = c.da
       |  JOIN tok b ON b.doc_id = c.db AND b.h = a.h
       |  GROUP BY c.da, c.db
       |)
       |SELECT i.da AS doc_a, i.db AS doc_b, CAST(i.ni AS BIGINT) AS n_common,
       |  CAST(FLOOR(i.ni * 1000000 / (za.sz + zb.sz - i.ni)) AS BIGINT) AS jaccard_ppm
       |FROM inter i
       |JOIN sz za ON za.doc_id = i.da
       |JOIN sz zb ON zb.doc_id = i.db
       |WHERE 5*i.ni >= 3*(za.sz + zb.sz - i.ni)
       |ORDER BY doc_a, doc_b""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tok = shingleSets(s, d)
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .localCheckpoint() // feeds df, the rank join, and both verify legs
    val df = tok.groupBy("h").agg(count(lit(1)).as("df"))
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val rk = tok.join(df, "h") // O(doc-shingle) on h: no dictionary broadcast assumption
      .withColumn("pos",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")))
      .join(sz, "doc_id") // doc-partitioned above: reuses the window's exchange
    val pref = rk
      .filter(col("pos") <= col("sz") - expr("(3*sz + 4) div 5") + 1)
      .select(col("doc_id"), col("h"), col("sz"))
    val cand = pref.as("x").join(pref.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id") &&
          least(col("x.sz"), col("y.sz")) * 5 >= greatest(col("x.sz"), col("y.sz")) * 3)
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    val inter = cand
      .join(tok.select(col("doc_id").as("da"), col("h")), "da")
      .join(tok.select(col("doc_id").as("db"), col("h")), Seq("db", "h"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    inter
      .join(sz.select(col("doc_id").as("da"), col("sz").as("sza")), "da")
      .join(sz.select(col("doc_id").as("db"), col("sz").as("szb")), "db")
      .filter(col("ni") * 5 >= (col("sza") + col("szb") - col("ni")) * 3)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("ni").as("n_common"),
        floor(col("ni") * 1000000L / (col("sza") + col("szb") - col("ni")))
          .cast("long").as("jaccard_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** q168 — exact CONTAINMENT join (asymmetric near-dup / quote
    * detection): ordered pairs where ≥80% of the source doc's distinct
    * 5-shingles appear in the destination doc — C(a→b) = |a∩b|/|a| —
    * the relation Jaccard misses when a short doc is quoted inside a
    * much longer one (sizes differ, J is low, containment is high).
    * Mutual containment rows ≈ symmetric near-dups; one-sided rows are
    * the quotes/excerpts a dedup policy handles differently.
    *
    * Exactness by pigeonhole, as in q163 but one-sided: if b misses ALL
    * of a's first p = sza − ⌈0.8·sza⌉ + 1 rarest-first shingles, then
    * |a∩b| ≤ sza − p < 0.8·sza — so joining a-PREFIXES against the FULL
    * index has zero false negatives, with no constraint needed on b's
    * ordering. Size filter 5·szb ≥ 4·sza prunes impossible pairs before
    * the exact intersection verify. Integer thresholds throughout.
    *
    * Scale: the candidate join is rare-biased on the prefix side (the
    * global-df ordering exists exactly to keep Σ_h df_pref(h)·df(h)
    * small); everything shuffled is 8-byte hashes + ids, never text. */
  val q168ContainmentJoin: Q = Q(
    "q168_containment_join",
    s"""WITH $DCorpus, hsets AS (
       |  SELECT doc_id, list_distinct(list_transform(sh, s -> $DHex32)) AS hs
       |  FROM (SELECT doc_id, $DSh AS sh FROM corpus)
       |), tok AS (
       |  SELECT doc_id, unnest(hs) AS h FROM hsets
       |), df AS (
       |  SELECT h, COUNT(*) AS df FROM tok GROUP BY h
       |), sz AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id
       |), rk AS (
       |  SELECT k.doc_id, k.h,
       |    ROW_NUMBER() OVER (PARTITION BY k.doc_id ORDER BY f.df, k.h) AS pos
       |  FROM tok k JOIN df f USING (h)
       |), pref AS (
       |  SELECT r.doc_id, r.h, z.sz FROM rk r JOIN sz z USING (doc_id)
       |  WHERE r.pos <= z.sz - (4*z.sz + 4)//5 + 1
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM pref x
       |  JOIN (SELECT t.doc_id, t.h, z.sz FROM tok t JOIN sz z USING (doc_id)) y
       |    ON x.h = y.h AND x.doc_id <> y.doc_id AND 5*y.sz >= 4*x.sz
       |), inter AS (
       |  SELECT c.da, c.db, COUNT(*) AS ni
       |  FROM cand c
       |  JOIN tok a ON a.doc_id = c.da
       |  JOIN tok b ON b.doc_id = c.db AND b.h = a.h
       |  GROUP BY c.da, c.db
       |)
       |SELECT i.da AS src_doc, i.db AS dst_doc, CAST(i.ni AS BIGINT) AS n_common,
       |  CAST(za.sz AS BIGINT) AS sz_src,
       |  CAST(FLOOR(i.ni * 1000000 / za.sz) AS BIGINT) AS cont_ppm
       |FROM inter i JOIN sz za ON za.doc_id = i.da
       |WHERE 5*i.ni >= 4*za.sz
       |ORDER BY src_doc, dst_doc""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tok = shingleSets(s, d)
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .localCheckpoint() // feeds df, the rank join, the full index side, verify
    val df = tok.groupBy("h").agg(count(lit(1)).as("df"))
    val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val rk = tok.join(df, "h")
      .withColumn("pos",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")))
      .join(sz, "doc_id")
    val pref = rk
      .filter(col("pos") <= col("sz") - expr("(4*sz + 4) div 5") + 1)
      .select(col("doc_id"), col("h"), col("sz"))
    val full = tok.join(sz, "doc_id")
    val cand = pref.as("x").join(full.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id") &&
          col("y.sz") * 5 >= col("x.sz") * 4)
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    val inter = cand
      .join(tok.select(col("doc_id").as("da"), col("h")), "da")
      .join(tok.select(col("doc_id").as("db"), col("h")), Seq("db", "h"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    inter
      .join(sz.select(col("doc_id").as("da"), col("sz").as("sza")), "da")
      .filter(col("ni") * 5 >= col("sza") * 4)
      .select(col("da").as("src_doc"), col("db").as("dst_doc"),
        col("ni").as("n_common"), col("sza").as("sz_src"),
        floor(col("ni") * 1000000L / col("sza")).cast("long").as("cont_ppm"))
      .orderBy("src_doc", "dst_doc")
  }

  /** q205 — sorted-neighborhood blocking (Hernández–Stolfo
    * merge/purge): the THIRD blocking paradigm in the linkage suite —
    * q53 blocks on a derived key (misses pairs whose key is corrupted),
    * q195's deletion index is complete but ED≤1-specific; sorted
    * neighborhood catches whatever sorts nearby under ANY distance,
    * with recall tuned by the window w. Candidate pairs = rows within
    * w=5 positions in the global (name, custkey) sort order, verified
    * at levenshtein ≤ 2. The definition is inherently sequential
    * ("slide a window down the sorted file"); the distributed spelling
    * is: parallel global rank (range partition + partition offsets —
    * Graph.rankIds, no single-task window), then block adjacency —
    * each row joins its rank-block and the next (rb−ra ≤ w spans at
    * most 2 w-blocks), an EQUI-join, then the exact rank-gap filter.
    *
    * Scale: the exchange carries (rank, key, name) fixed-width rows;
    * candidates are ≤ 2w per row regardless of data size; no n²
    * anywhere. The oracle replays the textbook ROW_NUMBER self-join. */
  val q205SortedNeighborhood: Q = Q(
    "q205_sorted_neighborhood",
    """WITH noisy AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 4 = 0 THEN replace(c_name, '#000', '#')
      |         ELSE c_name END AS nm
      |  FROM customer
      |), ranked AS (
      |  SELECT k, nm, ROW_NUMBER() OVER (ORDER BY nm, k) - 1 AS rk FROM noisy
      |)
      |SELECT a.k AS a_key, b.k AS b_key,
      |  CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
      |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
      |FROM ranked a JOIN ranked b
      |  ON b.rk > a.rk AND b.rk - a.rk <= 5
      |WHERE levenshtein(a.nm, b.nm) <= 2
      |ORDER BY a_key, b_key""") { (s, d) =>
    val w = 5
    val noisy = Tables.customer(s, d).select(col("c_custkey").as("k"),
      when(col("c_custkey") % 4 === 0,
        regexp_replace(col("c_name"), "#000", "#"))
        .otherwise(col("c_name")).as("nm"))
    // composite sort key is unique by construction (name + zero-padded
    // key) and orders exactly like (nm, k): the '!' separator (0x21)
    // sorts below every character that appears in a name, so a name
    // that is a strict prefix of another still ranks first — a
    // separator above '0' would invert those pairs vs the oracle
    val ranked = Graph.rankIds(
      noisy.withColumn("srt", concat(col("nm"), lit("!"),
        lpad(col("k").cast("string"), 12, "0"))), "srt", "rk")
      .select(col("k"), col("nm"), col("rk"))
    val left = ranked.select(col("k").as("a_key"), col("nm").as("a_nm"),
      col("rk").as("ra"), (col("rk") / w).cast("long").as("blk"))
    val right = ranked.select(col("k").as("b_key"), col("nm").as("b_nm"),
        col("rk").as("rb"))
      .withColumn("blk", explode(array((col("rb") / w).cast("long"),
        (col("rb") / w).cast("long") - 1)))
    left.join(right, "blk")
      .filter(col("rb") > col("ra") && col("rb") - col("ra") <= w)
      .filter(levenshtein(col("a_nm"), col("b_nm")) <= 2)
      .select(col("a_key"), col("b_key"), (col("rb") - col("ra")).as("rank_gap"),
        levenshtein(col("a_nm"), col("b_nm")).cast("long").as("dist"))
      .orderBy("a_key", "b_key")
  }

  /** Chunk stride for winnowing's long-doc split: chunks of ~this many
    * windows bound per-task CPU; the 7-token overlap costs < 3% extra
    * hashing at 256. Fixture docs are 10-100 tokens (short path); the
    * zipf tree's x8 tail (up to ~800) and any real heavy-tailed corpus
    * engage the split. */
  private[graft] val WinnowSeg = 256

  /** Distinct (doc_id, f) winnowing fingerprints (k=5-gram hashes, w=4
    * window minima) with bounded per-task work: docs longer than
    * seg+7 tokens explode into seg-stride chunks (overlap (k-1)+(w-1)=7
    * tokens) that repartition across tasks BEFORE the O(len) hash +
    * window pass. Exactness: hash j reads toks[j..j+4], window i reads
    * hashes i..i+3 i.e. toks[i..i+7]; chunk c = toks[c*seg ..
    * c*seg+seg+6] serves exactly windows [c*seg, c*seg+seg-1] — every
    * whole-doc window lives in exactly one chunk, so the per-chunk
    * distinct-union equals the whole-doc fingerprint set (DedupSpec
    * pins the equality). Short docs keep the exchange-free path; only
    * long-doc tokens ride the chunk repartition. */
  /** Memoized exact max token length per dataset dir — the table
    * statistic that gates the long-doc split (round-11 stretch item:
    * the split's second tokenize scan + exchange scaffolding cost ~10%
    * on uniform corpora for insurance only heavy tails need). Computed
    * once per JVM per dir with an exact aggregate (a sampling gate
    * would forfeit the straggler insurance exactly when one giant doc
    * needs it); the fixture trees are immutable for a JVM's lifetime,
    * and on a cluster this is the catalog column statistic an ANALYZE
    * maintains — read, not recomputed, per query. */
  private val maxTokLenCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]
  private[graft] def maxTokLen(s: SparkSession, d: String): Int =
    maxTokLenCache.computeIfAbsent(d, _ =>
      Integer.valueOf(corpus(s, d)
        .agg(coalesce(max(size(col("toks"))), lit(0)).as("m"))
        .head().getInt(0))).intValue()

  private[graft] def winnowFingerprints(docs: DataFrame, seg: Int,
      split: Boolean = true): DataFrame = {
    // `h` MUST be a real aliased projection referenced twice downstream:
    // CollapseProject's non-cheap-used-twice guard then keeps it a
    // separate projection evaluated ONCE per row. Inlining the same tree
    // as a constructed expression puts the whole md5 shingle-hash
    // transform inside the window lambda, and higher-order functions
    // (CodegenFallback, no subexpression elimination) re-evaluate the
    // lambda BODY per element — O(len²) md5 calls per doc (measured ~3x
    // q224's sf1z wall before this shape was restored).
    def fps(chunks: DataFrame, tcol: String): DataFrame =
      chunks
        // self-defending guard (round-11 ADVICE): callers guarantee every
        // chunk carries >= 8 tokens (so >= 4 window hashes: shingles
        // yields len-4 of them for len >= 5), but if the chunk math is
        // ever changed, sequence(0, size(h)-4) on a short chunk would
        // silently DESCEND and slice() would run with non-positive
        // indices — filter rather than trust the invariant. The guard
        // reads the INPUT column, NOT `h`: a filter between the aliased
        // `h` projection and its consumer gets pushdown-rewritten in
        // terms of the child and breaks the CollapseProject
        // evaluate-once shape below — measured 8.5 -> 73+ s at sf1m
        // (the O(len²) HOF re-evaluation this comment block exists to
        // prevent, resurrected by the guard's first spelling)
        .filter(size(col(tcol)) >= 8)
        .withColumn("h", transform(shingles(col(tcol), 5), sh => hex32(sh)))
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(0), size(col("h")) - 4),
            i => array_min(slice(col("h"), i + 1, lit(4)))))).as("f"))
    val base = docs.filter(size(col("toks")) >= 8)
    // split=false (caller's length stat proves no doc exceeds seg+7):
    // single-scan short path — no second tokenize pass to find zero
    // long docs, no empty repartition/distinct scaffolding
    if (!split) return fps(base, "toks")
    val shortDocs = fps(base.filter(size(col("toks")) <= seg + 7), "toks")
    val longDocs = fps(
      base.filter(size(col("toks")) > seg + 7)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0),
            floor((size(col("toks")) - lit(8)) / lit(seg)).cast("int")),
          c => slice(col("toks"), c * seg + 1, lit(seg + 7)))))
        // explicit N: a column-only repartition is AQE-coalescible, and
        // coalescing here would re-serialize the chunks behind few
        // tasks — the exact straggler this split exists to break
        .repartition(
          docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
          col("doc_id"), col("pos")),
      "col")
      .distinct() // a fingerprint can recur across chunks of one doc
    shortDocs.unionAll(longDocs)
  }

  /** q224 — winnowing fingerprints (the MOSS algorithm): per document,
    * keep the MINIMUM shingle hash of every w=4-window over the 5-gram
    * hash sequence, dedup to the fingerprint set — the document-
    * fingerprinting scheme with the POSITIONAL guarantee MinHash lacks:
    * any shared run of ≥ w+k−1 = 8 tokens between two documents is
    * certain to contribute ≥ 1 shared fingerprint (the shared window's
    * minimum is the same hash in both), while storing only ~1/w of the
    * shingles. The cross-doc report joins fingerprints, drops
    * boilerplate hashes (document frequency > 20 — MOSS's "ignore
    * common" pass, which also kills the hot-key join at scale), and
    * keeps pairs sharing ≥ 3 fingerprints with an overlap estimate
    * against the smaller set.
    *
    * Scale: window minima are a NARROW array pass inside the scan
    * (no explode until fingerprints, already ~1/w of shingles); the
    * only exchanges carry (doc_id, fp) ints, df-capped before the
    * self-join. Complements q27 (MinHash estimates global Jaccard;
    * winnowing localizes shared SPANS) and q84 (exact span dedup needs
    * the quadratic-ish span join; winnowing is the sublinear screen).
    *
    * Long-doc straggler bound (round-10 VERDICT item 3): per-doc
    * fingerprinting is O(len) CPU inside one task, so a heavy-tailed
    * length distribution serializes whole tasks behind single documents
    * (measured 1.70x wall on the zipf x16 tree's x8-length tail).
    * Winnowing is position-local — window i reads only toks[i..i+w+k-2]
    * — so docs longer than WinnowSeg split into WinnowSeg-stride chunks
    * with a (w-1)+(k-1)=7-token overlap, chunks repartition across
    * tasks, and the per-chunk fingerprint sets union to EXACTLY the
    * whole-doc set (every w-window of hashes lives in exactly one
    * chunk; DedupSpec pins segment-merge == whole-doc equality). Short
    * docs keep the shuffle-free path; only long-doc tokens pay the
    * chunk exchange. */
  val q224Winnowing: Q = Q(
    "q224_winnowing",
    s"""WITH $DCorpus, hs AS (
       |  SELECT doc_id,
       |    list_transform($DSh, s -> $DHex32) AS h
       |  FROM (SELECT doc_id, toks FROM corpus WHERE len(toks) >= 8)
       |), fp AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(0, len(h) - 3), i -> list_min(h[i+1:i+4])))) AS f
       |  FROM hs WHERE len(h) >= 4
       |), df AS (
       |  SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= 20
       |), rare AS (
       |  SELECT fp.doc_id, fp.f FROM fp JOIN df USING (f)
       |), nfp AS (
       |  SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
       |  FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(*) >= 3
       |)
       |SELECT doc_a, doc_b, CAST(shared_fps AS BIGINT) AS shared_fps,
       |  CAST(shared_fps * 1000000 // LEAST(na.n, nb.n) AS BIGINT) AS overlap_ppm
       |FROM pairs
       |JOIN nfp na ON na.doc_id = doc_a
       |JOIN nfp nb ON nb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""") { (s, d) =>
    q224Pipeline(s, d, WinnowSeg)
  }

  /** q224 body with the chunk stride exposed for Prof A/Bs. */
  private[graft] def q224Pipeline(s: SparkSession, d: String, seg: Int): DataFrame = {
    // Checkpoint the fingerprints: the df-count leg and the semi-join
    // leg otherwise RECOMPUTE the whole hash+window pass (their
    // exchanges differ — partial-agg above one, bare fp under the
    // other — so no shuffle reuse; measured ~2x the query's cost).
    // The repartition is on f with an EXPLICIT partition count, for two
    // reasons: (1) the checkpoint preserves outputPartitioning, so the
    // df count, the semi-join, and the pairs SELF-JOIN below all reuse
    // this one exchange instead of re-shuffling; (2) AQE never
    // coalesces an explicit-N repartition — without it AQE sized the
    // self-join's input stage by rare's (small, df-capped) bytes and
    // ran the 20x-EXPANDING join + pair aggregation in 3 tasks
    // (measured ~140 s/task at sf1z; the classic
    // coalesce-before-expanding-join trap).
    val nShuf = s.conf.get("spark.sql.shuffle.partitions").toInt
    // Auto-size the long-doc split (round-11 stretch item 8): the exact
    // per-dir max-length stat proves the split leg empty on short-doc
    // corpora (every fixture tree and the uniform sf1m are <= 100
    // tokens), so they keep the single-scan exchange-free path; the
    // zipf tree's x8 tail (~800 tokens > seg+7) engages it. Either way
    // the fingerprint set is IDENTICAL (DedupSpec pins segment-merge ==
    // whole-doc), so the oracle never sees the difference.
    val fp = winnowFingerprints(corpus(s, d), seg,
        split = maxTokLen(s, d) > seg + 7)
      .repartition(nShuf, col("f")).localCheckpoint()
    val df = fp.groupBy("f").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= 20).select("f")
    val rare = fp.join(df, Seq("f"), "left_semi").localCheckpoint()
    val nfp = rare.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 3)
    pairs
      .join(nfp.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(nfp.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared_fps"),
        expr("shared_fps * 1000000 div least(na, nb)").as("overlap_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** q277 — dedup threshold sensitivity: sweep the exact-Jaccard cutoff
    * over the LSH candidate pairs (q27's banding, q29's verify) and
    * report, per pinned threshold {0.5..0.9}, the qualifying pair
    * count, the affected-doc count, and the greedy min-id survivor
    * count (q30's one-hop drop rule) — the "what does moving the knob
    * actually delete" readout every dedup rollout decision needs
    * BEFORE committing to a threshold (q108 audits ONE threshold's
    * precision/recall; this shows the operating curve). Thresholds are
    * compared cross-multiplied (inter·10⁶ ≥ t·union — no per-pair ppm
    * float), so the sweep is exactly consistent with q29's gate at
    * t = 0.7.
    *
    * Scale: the pair table is banding-bounded (never corpus²); the
    * 5-row threshold spine broadcast-crosses pair CELLS; all counts
    * collapse map-side per threshold. */
  val q277ThresholdCurve: Q = Q(
    "q277_threshold_curve",
    s"""WITH $DCorpus, $DBands,
       |jac AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sx.hs, sy.hs)) AS BIGINT) AS i,
       |    CAST(len(list_distinct(sx.hs || sy.hs)) AS BIGINT) AS u
       |  FROM cand
       |  JOIN sigs sx ON sx.doc_id = doc_a
       |  JOIN sigs sy ON sy.doc_id = doc_b
       |), ts AS (
       |  SELECT unnest([500000, 600000, 700000, 800000, 900000]) AS t
       |), hit AS (
       |  SELECT ts.t, j.doc_a, j.doc_b
       |  FROM ts JOIN jac j ON j.u > 0 AND j.i * 1000000 >= ts.t * j.u
       |), agg AS (
       |  SELECT t, COUNT(*) AS n_pairs, COUNT(DISTINCT doc_b) AS n_dropped
       |  FROM hit GROUP BY t
       |), aff AS (
       |  SELECT t, COUNT(DISTINCT doc) AS n_affected FROM (
       |    SELECT t, doc_a AS doc FROM hit
       |    UNION ALL SELECT t, doc_b FROM hit
       |  ) GROUP BY t
       |), nn AS (SELECT COUNT(*) AS n FROM corpus)
       |SELECT CAST(ts.t AS BIGINT) AS threshold_ppm,
       |  CAST(COALESCE(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(aff.n_affected, 0) AS BIGINT) AS n_affected,
       |  CAST(COALESCE(agg.n_dropped, 0) AS BIGINT) AS n_dropped,
       |  CAST(nn.n - COALESCE(agg.n_dropped, 0) AS BIGINT) AS n_survivors
       |FROM ts
       |LEFT JOIN agg ON agg.t = ts.t
       |LEFT JOIN aff ON aff.t = ts.t
       |CROSS JOIN nn
       |ORDER BY threshold_ppm""") { (s, d) =>
    val fp = fpTable(s, d)
    val jac = candidatePairsOf(fp)
      .join(fp.select(col("doc_id").as("doc_a"), col("sh").as("sx")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("sh").as("sy")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sx"), col("sy"))).cast("long").as("i"),
        size(array_distinct(concat(col("sx"), col("sy")))).cast("long").as("u"))
      .localCheckpoint() // pair cells: the 5-way sweep reads them once
    val ts = s.createDataFrame(Seq(
      Tuple1(500000L), Tuple1(600000L), Tuple1(700000L), Tuple1(800000L),
      Tuple1(900000L))).toDF("t")
    val hit = jac.join(broadcast(ts), // 5-row threshold spine
        col("u") > 0 && col("i") * 1000000L >= col("t") * col("u"))
      .select(col("t"), col("doc_a"), col("doc_b"))
      .localCheckpoint() // qualifying pairs: both counting legs read them
    val agg = hit.groupBy("t")
      .agg(count(lit(1)).as("n_pairs"), countDistinct("doc_b").as("n_dropped"))
    val aff = hit.select(col("t"), col("doc_a").as("doc"))
      .unionAll(hit.select(col("t"), col("doc_b").as("doc")))
      .groupBy("t").agg(countDistinct("doc").as("n_affected"))
    val nn = fp.agg(count(lit(1)).as("n"))
    ts.join(agg, Seq("t"), "left").join(aff, Seq("t"), "left")
      .crossJoin(broadcast(nn)) // 1-row corpus count
      .select(col("t").as("threshold_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_affected"), lit(0L)).as("n_affected"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n") - coalesce(col("n_dropped"), lit(0L))).as("n_survivors"))
      .orderBy("threshold_ppm")
  }

  // ---- Incremental dedup-store maintenance (q312/q313 + mergeDay) ----
  //
  // The day-at-a-time merge the reference runs per daily extract
  // (2b:502-509 merges the day's rows into the master workbook; 3:41-57
  // unions daily files): merge a NEW day's documents into an EXISTING
  // MinHash/LSH fingerprint store — new docs band against the stored
  // index, intra-batch duplicates resolve to cluster canonicals, only
  // novel docs append, audit counts out. The dedup analog of q154's
  // inverted-index maintenance.

  /** Day-merge corpus: the dedup corpus plus two HALF-DOC variants per
    * doc_id%11==0 base doc (+3e6 = first ⌈len/2⌉ tokens, +4e6 = the
    * same minus its last token). The halves duplicate EACH OTHER
    * (J = (L−8)/(L−4) ≥ 0.7 once L ≥ 18) but never their base doc
    * (shingle containment caps J(half, base) ≈ 0.5) — batch docs whose
    * duplicate lives only INSIDE the batch, so the intra-batch
    * resolution leg is non-trivial (near/exact copies always have an
    * index-side match and exit at the probe). */
  private[graft] def mergeCorpus(s: SparkSession, d: String): DataFrame = {
    val all = corpus(s, d)
    val b0 = all.filter(col("doc_id") < 1000000L && col("doc_id") % 11 === 0)
    val halfLen = expr("(size(toks)+1) div 2")
    val halfA = b0.select((col("doc_id") + 3000000L).as("doc_id"),
      slice(col("toks"), lit(1), halfLen).as("toks"))
    val halfB = b0.select((col("doc_id") + 4000000L).as("doc_id"),
      slice(col("toks"), lit(1), halfLen - 1).as("toks"))
    all.unionByName(halfA).unionByName(halfB)
  }

  /** DuckDB mirror of [[mergeCorpus]] (extends DCorpus — keep in sync). */
  private val DMergeCorpus =
    """base AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |), corpus AS (
      |  SELECT doc_id, toks FROM base
      |  UNION ALL SELECT doc_id+1000000, toks[2:] FROM base WHERE doc_id%5=0
      |  UNION ALL SELECT doc_id+2000000, toks FROM base WHERE doc_id%7=0
      |  UNION ALL SELECT doc_id+3000000, toks[1:(len(toks)+1)//2] FROM base WHERE doc_id%11=0
      |  UNION ALL SELECT doc_id+4000000, toks[1:(len(toks)+1)//2 - 1] FROM base WHERE doc_id%11=0
      |)""".stripMargin

  /** The q29 verify rule as a SELECT over a candidate CTE (requires
    * `sigs` in scope — same predicate as [[DVerified]]). */
  private def dVerify(cand: String): String =
    s"""SELECT doc_a, doc_b FROM $cand
       |  JOIN sigs sx ON sx.doc_id = doc_a
       |  JOIN sigs sy ON sy.doc_id = doc_b
       |  WHERE len(list_distinct(sx.hs || sy.hs)) > 0
       |    AND len(list_intersect(sx.hs, sy.hs))*1000000 >= 700000*len(list_distinct(sx.hs || sy.hs))""".stripMargin

  /** The shared decision CTE chain for q312/q313: probe → surviving
    * batch → intra-batch candidates → CC roots → per-doc decision. */
  private val DMergeDecisions =
    s"""idxb AS (
       |  SELECT doc_id AS ib, bkey FROM bands WHERE doc_id < 1000000
       |), batb AS (
       |  SELECT doc_id, bkey FROM bands WHERE doc_id >= 1000000
       |), candx AS (
       |  SELECT DISTINCT b.doc_id AS doc_a, i.ib AS doc_b
       |  FROM batb b JOIN idxb i USING (bkey)
       |), verx AS (
       |  ${dVerify("candx")}
       |), dupx AS (
       |  SELECT doc_a AS doc_id, MIN(doc_b) AS idx_dup FROM verx GROUP BY doc_a
       |), surv AS (
       |  SELECT doc_id FROM corpus WHERE doc_id >= 1000000
       |    AND doc_id NOT IN (SELECT doc_id FROM dupx)
       |), sb AS (
       |  SELECT b.doc_id, b.bkey FROM batb b JOIN surv USING (doc_id)
       |), candb AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sb x JOIN sb y ON x.bkey = y.bkey AND x.doc_id < y.doc_id
       |), verb AS (
       |  ${dVerify("candb")}
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM verb
       |  UNION ALL SELECT doc_b, doc_a FROM verb
       |), reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM surv
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
       |), comp AS (
       |  SELECT src AS doc_id, MIN(dst) AS root FROM reach GROUP BY src
       |), dec AS (
       |  SELECT c.doc_id,
       |    COALESCE(dx.idx_dup, CASE WHEN cp.root < c.doc_id THEN cp.root END) AS dup_of,
       |    CASE WHEN dx.idx_dup IS NOT NULL THEN 'dup_index'
       |         WHEN cp.root < c.doc_id THEN 'dup_batch' ELSE 'new' END AS decision
       |  FROM (SELECT doc_id FROM corpus WHERE doc_id >= 1000000) c
       |  LEFT JOIN dupx dx USING (doc_id)
       |  LEFT JOIN comp cp USING (doc_id)
       |)""".stripMargin

  /** Decision table for merging a batch into an existing fingerprint
    * store: `idxSig`/`idxSh` are the STORE side ((doc_id, sig) /
    * (doc_id, sh) — read from a snapshot, never recomputed), `batSig`/
    * `batSh` the incoming day. Per batch doc: `dup_index` (verified
    * J ≥ 0.7 match in the store, dup_of = min matching store id),
    * `dup_batch` (no store match, but resolves to a smaller canonical
    * inside the batch — connected components over verified intra-batch
    * pairs, the q61 convention, so transitive chains collapse to one
    * canonical), or `new` (dup_of null — the docs that append).
    *
    * Scale shape: the probe join moves band KEYS only; a daily batch
    * (≪ corpus) broadcasts, so the store is never shuffled; verify
    * fetches shingle sets for candidate ids only; the CC loop runs on
    * the batch-survivor graph (day-cardinality, not corpus). */
  private[graft] def mergeDecisions(idxFp: DataFrame, batFp: DataFrame): DataFrame = {
    val idxB = bandRowsOf(idxFp).select(col("doc_id").as("doc_b"), col("bkey"))
    // NOT checkpointed (round 13): batFp is already a narrow filter of
    // the fpTableOf checkpoint, so each of batB's three readers re-runs
    // only the 4-way band explode (4 md5s/doc) from cached blocks —
    // cheaper than the extra sequential checkpoint job it replaced
    // (measured −0.3 s on q312 AND q313 at sf0.1; the merge wall is
    // driver-sequential job count, not CPU)
    val batB = bandRowsOf(batFp).select(col("doc_id"), col("bkey"))
    val candIdx = batB.select(col("doc_id").as("doc_a"), col("bkey"))
      .join(idxB, "bkey").select("doc_a", "doc_b").distinct()
    // union is safe under id overlap (re-merging an already-admitted
    // batch): duplicate (doc_id, sh) rows fan the verify join out and
    // the min-aggregate absorbs them
    val sh = batFp.select("doc_id", "sh").unionByName(idxFp.select("doc_id", "sh"))
    val dupIdx = verifiedDupPairs(candIdx, sh)
      .groupBy(col("doc_a").as("doc_id")).agg(min("doc_b").as("idx_dup"))
      .localCheckpoint() // read by surv anti-join AND the decision join
    val batIds = batFp.select("doc_id")
    val surv = batIds.join(dupIdx.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint() // read by sb and the CC node set; dropping this
      // was tried and REVERTED (round 13): both readers re-ran the
      // anti-join as a SHUFFLED join (+325 KiB, +0.4 s at sf0.1) — this
      // checkpoint earns its sequential job, unlike batB's
    val sb = batB.join(surv, "doc_id")
    val candBat = sb.as("x").join(sb.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
    val verBat = verifiedDupPairs(candBat, batFp.select("doc_id", "sh"))
    val edges = verBat.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(verBat.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .localCheckpoint() // read once per CC round
    val comp = connectedComponents(surv.select(col("doc_id").as("id")), edges)
    batIds
      .join(dupIdx, Seq("doc_id"), "left")
      .join(comp.select(col("id").as("doc_id"), col("comp").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("idx_dup"),
          when(col("root") < col("doc_id"), col("root"))).as("dup_of"),
        when(col("idx_dup").isNotNull, lit("dup_index"))
          .when(col("root") < col("doc_id"), lit("dup_batch"))
          .otherwise(lit("new")).as("decision"))
  }

  /** Per-doc fingerprint-store record: (doc_id, sig, sh) — everything
    * the probe + verify path needs, so a merge never re-tokenizes the
    * stored corpus. This is the schema [[mergeDay]] persists. */
  def fingerprintStore(docs: DataFrame): DataFrame =
    // one md5-per-shingle pass: sh first, sig derived from it (identical
    // values — see fpTableOf; PlanSpec pins graft_minhash_hashes∘distinct
    // == graft_minhash)
    docs
      .withColumn("sh", array_distinct(tokenShingleHashes(col("toks"))))
      .withColumn("sig", expr("graft_minhash_hashes(sh)"))
      .select("doc_id", "sig", "sh")

  /** Incremental store maintenance: merge a day's `batchDocs`
    * (doc_id, toks) into the Versioned fingerprint store at `dir` —
    * probe against the stored index, resolve intra-batch clusters,
    * append ONLY the novel docs' records as a new snapshot version
    * (no-op when nothing is novel, so at-least-once delivery of a day
    * is safe: a re-merged batch self-matches at J = 1 and admits
    * nothing). Returns (store version after, decision table).
    * DedupSpec proves incremental == from-scratch store equality and
    * re-merge idempotence; q312/q313 oracle-check the same decision
    * algebra registry-side. */
  def mergeDay(spark: SparkSession, dir: String,
      batchDocs: DataFrame): (Int, DataFrame) = {
    val store = graft.sources.Versioned.read(spark, dir).localCheckpoint()
    val bat = fingerprintStore(batchDocs).localCheckpoint()
    val dec = mergeDecisions(store, bat)
      .localCheckpoint() // read for the admit filter AND returned
    val admitted = bat.join(
      dec.filter(col("decision") === "new").select("doc_id"), "doc_id")
    // the write counts the admitted rows: an empty admit publishes nothing
    val (v, _) = graft.sources.Versioned.commitAppendNonEmpty(spark, dir, admitted)
    (v, dec)
  }

  /** q312 — incremental dedup-store MERGE decisions: one row per batch
    * doc (the ≥ 1e6 synthetics = "today's drop") probed against the
    * band index of the base docs (= the persisted store), with
    * intra-batch resolution via connected components among the
    * survivors. The registry twin of [[mergeDay]] — same algebra on
    * the same frames, minus the disk round-trip the SQL harness can't
    * express (DedupSpec covers that half). Extends q132 (probe-only,
    * intra-batch out of scope) with the admission step that closes the
    * maintenance loop. Oracle replays the probe, the verify rule, and
    * the CC fixpoint (recursive CTE, q61's pattern). */
  val q312DedupMerge: Q = Q(
    "q312_dedup_merge",
    s"""WITH RECURSIVE $DMergeCorpus, $DSigsBands, $DMergeDecisions
       |SELECT doc_id, dup_of, decision FROM dec
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // ONE fused fingerprint pass over the whole merge corpus (was four:
    // sig + shingles per side, each its own tokenize + md5 pass)
    val fpAll = fpTableOf(mergeCorpus(s, d))
    mergeDecisions(fpAll.filter(col("doc_id") < 1000000L),
      fpAll.filter(col("doc_id") >= 1000000L))
      .orderBy("doc_id")
  }

  /** q313 — dedup-store maintenance AUDIT: the counts a production
    * merge reports (batch decision mix, store size before/after) plus
    * the invariant that justifies the incremental path at all:
    * the incrementally-APPENDED band store (old rows + admitted docs'
    * rows) checksum-equals a FROM-SCRATCH rebuild over base+admitted
    * (`store_match` = 1). The checksum is an order-insensitive SUM of
    * per-row hashes — a commutative fold, so both stores compare
    * without any global sort or driver-side collect at any scale. */
  val q313StoreAudit: Q = Q(
    "q313_dedup_store_audit",
    s"""WITH RECURSIVE $DMergeCorpus, $DSigsBands, $DMergeDecisions, adm AS (
       |  SELECT doc_id FROM dec WHERE decision = 'new'
       |), before_rows AS (
       |  SELECT doc_id, bkey FROM bands WHERE doc_id < 1000000
       |), appended AS (
       |  SELECT b.doc_id, b.bkey FROM batb b JOIN adm USING (doc_id)
       |), after_rows AS (
       |  SELECT * FROM before_rows UNION ALL SELECT * FROM appended
       |), scratch AS (
       |  SELECT doc_id, bkey FROM bands
       |  WHERE doc_id < 1000000 OR doc_id IN (SELECT doc_id FROM adm)
       |), ck AS (
       |  SELECT
       |    (SELECT CAST(COALESCE(SUM(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '_', bkey)),1,8)) AS BIGINT)), 0) AS BIGINT) FROM after_rows) AS a,
       |    (SELECT CAST(COALESCE(SUM(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '_', bkey)),1,8)) AS BIGINT)), 0) AS BIGINT) FROM scratch) AS s
       |)
       |SELECT metric, value FROM (
       |  SELECT 'batch_admitted' AS metric, CAST((SELECT COUNT(*) FROM adm) AS BIGINT) AS value
       |  UNION ALL SELECT 'batch_docs', (SELECT COUNT(*) FROM dec)
       |  UNION ALL SELECT 'batch_dup_batch', (SELECT COUNT(*) FROM dec WHERE decision = 'dup_batch')
       |  UNION ALL SELECT 'batch_dup_index', (SELECT COUNT(*) FROM dec WHERE decision = 'dup_index')
       |  UNION ALL SELECT 'index_band_rows_after', (SELECT COUNT(*) FROM after_rows)
       |  UNION ALL SELECT 'index_band_rows_before', (SELECT COUNT(*) FROM before_rows)
       |  UNION ALL SELECT 'index_docs_after', (SELECT COUNT(DISTINCT doc_id) FROM after_rows)
       |  UNION ALL SELECT 'index_docs_before', (SELECT COUNT(DISTINCT doc_id) FROM before_rows)
       |  UNION ALL SELECT 'store_checksum_after', (SELECT a FROM ck)
       |  UNION ALL SELECT 'store_match', (SELECT CASE WHEN a = s THEN 1 ELSE 0 END FROM ck)
       |)
       |ORDER BY metric""".stripMargin) { (s, d) =>
    q313Audit(s, d, reuseStoreBands = true)
  }

  /** q313's body, parameterised on the from-scratch leg's store side:
    * `reuseStoreBands = true` (the registered round-13 shape) reuses the
    * shared fingerprint checkpoint's band rows for the unchanged store
    * and recomputes only the admitted batch docs from tokens;
    * `false` is the pre-round-13 shape (full base+admitted recompute),
    * kept as the graft.Prof A/B baseline. `fusedReport = false` keeps
    * the pre-fusion report tail (ten single-aggregate union legs) as the
    * other Prof A/B baseline. */
  private[graft] def q313Audit(s: SparkSession, d: String,
      reuseStoreBands: Boolean, fusedReport: Boolean = true,
      ckptDec: Boolean = true): DataFrame = {
    val mc = mergeCorpus(s, d)
    // ONE fused fingerprint pass for the decision + append legs (was
    // four sig/shingle passes — round-12 optimization, same algebra)
    val fpAll = fpTableOf(mc)
    val idxFp = fpAll.filter(col("doc_id") < 1000000L)
    val batFp = fpAll.filter(col("doc_id") >= 1000000L)
    val decPlain = mergeDecisions(idxFp, batFp)
    val dec = if (ckptDec) decPlain.localCheckpoint() // 3 readers
      else decPlain
    val adm = dec.filter(col("decision") === "new").select("doc_id")
    val before = bandRowsOf(idxFp).select("doc_id", "bkey")
    val appended = bandRowsOf(batFp).select("doc_id", "bkey").join(adm, "doc_id")
    // fused report (round 13): ONE reader, so no checkpoint — the legs
    // spelling below reads it three times and keeps one
    val afterPlain = before.unionByName(appended)
    val after = if (fusedReport) afterPlain
      else afterPlain.localCheckpoint() // 3 readers in the legs spelling
    // the from-scratch leg RECOMPUTES signatures from tokens for the
    // ADMITTED docs (a fresh sigTableOf pipeline — deliberately NOT the
    // shared fpAll checkpoint), so the checksum equality still tests the
    // append algebra on the rows the append actually added. The store
    // side reuses the shared fingerprint checkpoint: its band rows are
    // the SAME `before` relation on both sides of the comparison, and
    // round 12 already pinned graft_minhash_hashes∘distinct ==
    // graft_minhash bit-equality (PlanSpec), so recomputing the
    // unchanged store contributed identical checksum terms at corpus
    // cost — the one full tokenize+md5 pass this query still paid
    // (round 13, guide §1.2: don't recompute what a checkpoint holds).
    val scratch =
      if (reuseStoreBands)
        // no checkpoint on the recompute: the scratch leg has ONE reader
        // (the checksum aggregate), so sigTableOf's checkpoint would be
        // a pure extra sequential job. The aliased `sig` projection
        // keeps graft_minhash evaluated once per row under the four
        // bandKey references (CollapseProject's non-cheap-used-twice
        // guard — the q224 rule).
        before.unionByName(
          bandRowsOf(mc.join(adm, "doc_id")
              .select(col("doc_id"), expr("graft_minhash(toks)").as("sig")))
            .select("doc_id", "bkey"))
      else {
        val keep = idxFp.select("doc_id").unionByName(adm)
        bandRowsOf(sigTableOf(mc.join(keep, "doc_id"))).select("doc_id", "bkey")
      }
    val ckOf: Column =
      coalesce(sum(hex32(concat(col("doc_id").cast("string"), lit("_"), col("bkey")))), lit(0L))
    if (fusedReport) {
      // ONE aggregate pass per relation (round 13, guide §1.2/§2.3): the
      // legs spelling below runs ten single-aggregate union legs — four
      // scans of dec, two of before, three of after (two counts plus the
      // checksum, with a checkpointed 1-row ckA so the checksum is
      // evaluated once for its two output rows) and one of scratch.
      // Fusing each relation's metrics into one multi-aggregate pass
      // makes the whole report four scans, drops the ckA checkpoint job
      // AND the after checkpoint job (single reader each), and stack()
      // emits the ten (metric, value) rows from a single evaluation of
      // every aggregate. Values are identical: count(when(p, 1)) is the
      // null-excluding spelling of filter(p).count, and the 1-row legs
      // combine by broadcast cross join.
      val decAgg = dec.agg(
        count(when(col("decision") === "new", 1)).as("batch_admitted"),
        count(lit(1)).as("batch_docs"),
        count(when(col("decision") === "dup_batch", 1)).as("batch_dup_batch"),
        count(when(col("decision") === "dup_index", 1)).as("batch_dup_index"))
      val beforeAgg = before.agg(
        count(lit(1)).as("index_band_rows_before"),
        countDistinct(col("doc_id")).as("index_docs_before"))
      val afterAgg = after.agg(
        count(lit(1)).as("index_band_rows_after"),
        countDistinct(col("doc_id")).as("index_docs_after"),
        ckOf.as("a"))
      val ckS = scratch.agg(ckOf.as("s"))
      decAgg.crossJoin(beforeAgg).crossJoin(afterAgg).crossJoin(ckS)
        .selectExpr(
          """stack(10,
            |  'batch_admitted', batch_admitted,
            |  'batch_docs', batch_docs,
            |  'batch_dup_batch', batch_dup_batch,
            |  'batch_dup_index', batch_dup_index,
            |  'index_band_rows_after', index_band_rows_after,
            |  'index_band_rows_before', index_band_rows_before,
            |  'index_docs_after', index_docs_after,
            |  'index_docs_before', index_docs_before,
            |  'store_checksum_after', a,
            |  'store_match', CASE WHEN a = s THEN CAST(1 AS BIGINT)
            |                 ELSE CAST(0 AS BIGINT) END
            |) AS (metric, value)""".stripMargin)
        .orderBy("metric")
    } else {
      val ckA = after.agg(ckOf.as("a")).localCheckpoint() // 2 readers
      val ckS = scratch.agg(ckOf.as("s"))
      def cnt(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("value"))
          .select(lit(name).as("metric"), col("value"))
      def cntD(name: String, df: DataFrame): DataFrame =
        df.agg(countDistinct(col("doc_id")).cast("long").as("value"))
          .select(lit(name).as("metric"), col("value"))
      cnt("batch_admitted", adm)
        .unionByName(cnt("batch_docs", dec))
        .unionByName(cnt("batch_dup_batch", dec.filter(col("decision") === "dup_batch")))
        .unionByName(cnt("batch_dup_index", dec.filter(col("decision") === "dup_index")))
        .unionByName(cnt("index_band_rows_after", after))
        .unionByName(cnt("index_band_rows_before", before))
        .unionByName(cntD("index_docs_after", after))
        .unionByName(cntD("index_docs_before", before))
        .unionByName(ckA.select(lit("store_checksum_after").as("metric"), col("a").as("value")))
        .unionByName(ckA.crossJoin(broadcast(ckS)) // two 1-row checksums
          .select(lit("store_match").as("metric"),
            when(col("a") === col("s"), 1L).otherwise(0L).as("value")))
        .orderBy("metric")
    }
  }

  val all: Seq[Q] = Seq(q205SortedNeighborhood, q26ExactDedup, q27MinhashLsh, q28SimhashPairs,
    q29JaccardVerify, q30DedupResolve, q61ConnectedComponents, q84SpanDedup,
    q85SpanDupGate, q97BestRep, q102ParagraphDedup, q108LshQuality,
    q119CdcChunks, q120SplitLeakage, q132IncrementalDedup, q163PrefixJoin,
    q168ContainmentJoin, q224Winnowing, q277ThresholdCurve, q312DedupMerge,
    q313StoreAudit)
}
