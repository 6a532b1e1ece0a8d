package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard (quadratic ground truth), MinHash+LSH (the 100 TB path), and
  * SimHash with banded Hamming blocking.
  *
  * All hashing is derived from md5 so results are deterministic across
  * engines and runs (no JVM `hashCode`, no seeds to drift): a 60-bit
  * integer is taken from the first 15 hex chars of `md5(tag || value)`.
  */
object Dedup {

  /** 60-bit deterministic hash of a string column under a namespace tag. */
  def hash60(tag: String, c: Column): Column =
    conv(substring(md5(concat(lit(tag + ":"), c)), 1, 15), 16, 10).cast("long")

  /** MinHash universal-hash family h_i(x) = (a_i·x + b_i) mod P over a
    * 31-bit base hash: one md5 per shingle instead of `numHashes` — the
    * md5 work drops 64× while the family stays engine-deterministic (the
    * a/b constants derive from md5 of the index and are embedded as
    * literals in both the Spark plan and the DuckDB oracle).
    */
  val P: Long = 2147483647L

  def hashParams(i: Int): (Long, Long) = {
    def h(tag: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$i".getBytes("UTF-8")).take(7).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    ((h("a") % (P - 1)) + 1, h("b") % P)
  }

  /** 31-bit base hash of a shingle (one md5). */
  def baseHash(c: Column): Column = hash60("mh", c) % P

  /** Exact dedup: canonical id = min id among identical texts.
    *
    * Keeper election is a partial-agg-able groupBy on the text digest:
    * map-side combine means the reducer for even a corpus-dominant
    * duplicate text receives one (digest, local-min) row per map task,
    * not the full occurrence stream. (The earlier window-min form had no
    * partial aggregation, so the hottest digest serialized onto ONE task
    * — the same hot-key math [[bandedPairs]] salts against.) The join
    * back is null-safe on the digest (null texts keep deduping as one
    * group) and its residual probe-side skew is a JOIN, which AQE's
    * skew split can divide at runtime — a window partition cannot be
    * split. Costs one extra scan of (id, text); buys removal of the
    * single-task bottleneck at scale.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol), md5(col(textCol)).as("_digest"))
    val keepers = keyed.groupBy("_digest").agg(min(col(idCol)).as("canon_id"))
      .withColumnRenamed("_digest", "_kd")
    keyed.join(keepers, col("_digest") <=> col("_kd"))
      .select(col(idCol), col("canon_id"),
        (col(idCol) =!= col("canon_id")).cast("boolean").as("is_dup"))
  }

  /** Word k-gram shingle stream per document, duplicates included —
    * narrow (no shuffle); min-based signatures are multiset-invariant so
    * they can consume this directly.
    */
  def shinglesRaw(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    // token array materialized first — see TextAnalysis.gramArray's contract
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("_ts"))
      .select(col("id"),
        explode(TextAnalysis.gramArray(col("_ts"), k)).as("s"))

  /** Distinct word k-gram shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shinglesRaw(df, idCol, textCol, k).distinct()

  /** Exact all-pairs n-gram Jaccard >= threshold. Quadratic in corpus size
    * (shingle-join blowup) — this is the oracle/ground-truth variant; use
    * [[minHashLsh]] at scale.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double): DataFrame = {
    // three consumers (sizes, x side, y side): eager localCheckpoint
    // materializes the shingle stream once and — unlike the earlier
    // .cache(), which parked an entry in the session cacheManager until
    // someone called clearCache — holds no session-lifetime registration;
    // the blocks are released by the ContextCleaner once the result frame
    // is unreferenced.
    val sh = shingles(df, idCol, textCol, k).localCheckpoint(true)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("c"))
    jaccardOf(inter, sizes, threshold)
  }

  private def jaccardOf(inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
      .select(col("a"), col("b"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash signature from an exploded (id, shingle-base-hash) stream —
    * the mergeable AGGREGATION form ([[graft.expr.catalyst.MinHashAgg]]:
    * all `numHashes` minima in one buffer, map-side combinable). The
    * engine's own pipelines now build signatures per row instead
    * ([[graft.expr.catalyst.MinHashRow]] in [[minHashLsh]] — zero
    * shuffles); this form remains for inputs that already arrive one
    * gram per row, where partial aggregation is the right shape.
    */
  def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    sh.withColumn("base", baseHash(col("s")))
      .groupBy("id")
      .agg(call_function("minhash_agg", col("base"), lit(numHashes)).as("sig"))

  /** MinHash + banded LSH near-dup pairs, exact-verified.
    *
    * Pipeline: shingle → signature (numHashes) → band keys (md5 of each
    * r-hash slice) → candidate pairs sharing any band → exact Jaccard
    * verification on the candidates only. At 100 TB each stage is a
    * linear scan + one hash shuffle; the quadratic blowup of
    * [[jaccardPairs]] is replaced by per-bucket joins whose size the
    * band/row parameters control.
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, bands: Int, threshold: Double,
      hotBandWidth: Int = defaultHotBandWidth): DataFrame = {
    // signature + banding per document (bandKeys: one native MinHashRow
    // walk in the projection, zero shuffles — bit-identical to the old
    // exploded distinct → minhash_agg form)
    val long = bandKeys(df, idCol, textCol, k, numHashes, bands)
    // the candidate pair set is SMALL (LSH's whole point) but referenced
    // twice below — once to pick the docs verification must re-shingle,
    // once as the join spine — and a lazily-cached frame with two
    // consumers in one job race-computes the entire signature pipeline.
    // An eager localCheckpoint materializes it exactly once and truncates
    // the lineage consumers (e.g. canonicalize's iterations) re-plan over.
    val cand = bandedPairs(long, Seq("band", "bkey"), hotBandWidth)
      .localCheckpoint(true)
    // exact verification PER PAIR: candidates are already identified, so
    // the intersection needs no relational re-shingle — see verifyJaccard
    val grams = gramSets(df, idCol, textCol, k,
      cand.select(explode(array(col("a"), col("b"))).as("id")).distinct())
    verifyJaccard(cand, grams, grams, threshold)
  }

  /** Distinct word k-gram set per doc as ONE array column: (id, gs) —
    * restricted by a broadcast semi-join to `candIds`, so only docs that
    * actually appear in some candidate pair pay gram-set construction
    * (a small fraction of the corpus by LSH design; gram sets for
    * everyone else would be O(corpus text) of wasted CPU at scale).
    */
  private def gramSets(df: DataFrame, idCol: String, textCol: String,
      k: Int, candIds: DataFrame): DataFrame =
    df.join(broadcast(candIds.select(col("id").cast(df.schema(idCol).dataType)
        .as(idCol))), Seq(idCol), "semi")
      .select(col(idCol).as("id"),
        array_distinct(TextAnalysis.gramArray(split(col(textCol), " "), k)).as("gs"))

  /** How many candidate pairs may take the explicit broadcast hint in
    * [[verifyJaccard]]; above it the joins fall back to AQE's own
    * runtime build-side choice. Pairs are two longs plus tags — 1M is
    * tens of MB broadcast, far under executor memory but far above the
    * default auto-broadcast threshold that would otherwise shuffle a
    * clearly-small frame.
    */
  private val broadcastCandLimit = 1000000L

  /** Exact-Jaccard verification of candidate pairs (a, b): join each
    * side's distinct gram set in and compute |∩|/|∪| with codegen'd
    * array kernels in the projection. The candidate frame is small by
    * LSH design — a size probe (cheap: both callers pass an eagerly
    * checkpointed frame) applies an explicit broadcast hint up to
    * [[broadcastCandLimit]] pairs, the same probe-then-strategy shape
    * as [[canonicalize]]; a degenerate larger candidate set keeps the
    * unhinted plan so AQE can pick a shuffle join instead of forcing a
    * driver-OOM broadcast. Either way the exchanges are CANDIDATE-
    * bounded, never corpus-wide, because both gram inputs were
    * semi-joined down to candidate docs in [[gramSets]]. Gram sets are
    * exact strings (no hashing), bit-identical to a relational
    * shingle-join intersection. Extra candidate columns (tags) pass
    * through.
    */
  private[graft] def verifyJaccard(cand: DataFrame, leftGrams: DataFrame,
      rightGrams: DataFrame, threshold: Double,
      knownCount: Option[Long] = None): DataFrame = {
    // the size probe below RUNS an action on the candidate plan before the
    // join spine consumes it again — a lazy input would compute its whole
    // upstream pipeline twice. The in-repo callers pass either an eagerly
    // localCheckpointed frame (a bare LogicalRDD leaf) or a cheap narrow
    // slice of one (incrementalNearDup's per-tag filters over its fused
    // candidate checkpoint — every leaf resident, so the probe rescans
    // blocks, never recomputes a pipeline); anything else is defensively
    // checkpointed here so the contract is enforced rather than
    // documented-only. `knownCount` skips the probe job entirely when the
    // caller already counted the candidates (one grouped aggregate can
    // size several verify calls at once).
    val c = {
      // type match, not a class-name string: a renamed node on a Spark
      // upgrade fails to compile here instead of silently double-
      // materializing every caller's upstream pipeline
      val leaves = cand.queryExecution.analyzed.collectLeaves()
      if (leaves.nonEmpty &&
          leaves.forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
        cand
      else cand.localCheckpoint(true)
    }
    val extra = c.columns.filterNot(Set("a", "b")).toSeq
    val candSide =
      if (knownCount.getOrElse(c.count()) <= broadcastCandLimit) broadcast(c)
      else c
    candSide
      .join(leftGrams.select(col("id").as("a"), col("gs").as("ga")), Seq("a"))
      .join(rightGrams.select(col("id").as("b"), col("gs").as("gb")), Seq("b"))
      .select(col("a") +: col("b") +: extra.map(col) :+
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("c") :+
        size(col("ga")).cast("long").as("na") :+
        size(col("gb")).cast("long").as("nb"): _*)
      // a shingle-join intersection only ever emitted pairs sharing a gram
      .filter(col("c") > 0)
      .select(col("a") +: col("b") +: extra.map(col) :+
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6)
          .as("jaccard"): _*)
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash band-key artifact for a corpus: (id, band, bkey) — the
    * compact thing an incremental pipeline PERSISTS about its accepted
    * corpus (a few dozen bytes per doc, vs re-signaturing petabytes on
    * every ingest). Built per row ([[graft.expr.catalyst.MinHashRow]] +
    * the band digests), zero shuffles; write it bucketed by (band, bkey)
    * ([[graft.catalog.Bucketed]]) and the incremental probe join below
    * is exchange-free on the store side.
    */
  def bandKeys(df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        call_function("minhash_row",
          split(col(textCol), " "), lit(k), lit(numHashes)).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id") +:
        (0 until bands).map { b =>
          md5(concat_ws(",",
            transform(slice(col("sig"), b * r + 1, r), _.cast("string"))))
            .as(s"band$b")
        }: _*)
      .selectExpr("id",
        s"stack(${bands}, ${(0 until bands).map(b => s"$b, band$b").mkString(", ")}) as (band, bkey)")
  }

  /** Incremental NEAR-dup dedup — the rolling-ingestion form of
    * [[minHashLsh]], completing [[incrementalExact]]'s story for
    * near-duplicates: an incoming batch is checked against the accepted
    * corpus through its persisted [[bandKeys]] artifact (the store text
    * is touched only for verification of actual candidates, via a
    * candidate-bounded join — never rescanned or re-signatured), and
    * against itself with the usual banded self-join.
    *
    * @return (a, b, vs, jaccard): `a` an incoming doc; `vs` = "batch"
    *         (b is a later incoming doc, a < b) or "store" (b is an
    *         accepted doc). Exact-verified at `threshold` either way.
    */
  def incrementalNearDup(incoming: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, threshold: Double,
      storeBands: DataFrame, storeDocs: DataFrame,
      hotBandWidth: Int = defaultHotBandWidth): DataFrame = {
    // the batch's band keys feed two probes — materialize once
    // (bandedPairs sees the LogicalRDD leaf and skips its own
    // checkpoint); the two candidate frames are FUSED into one tagged
    // union behind a single checkpoint barrier, so the whole candidate
    // stage costs one materialization job instead of the earlier two —
    // this entry is the sweep's most short-job-heavy (its wall rides
    // host writeback through per-job overhead, docs/SCALING.md round
    // 16), so fixed job count IS its scale lever. Downstream consumers
    // slice the union by tag: narrow filters over the resident blocks,
    // never a recompute (verifyJaccard's leaf check accepts them).
    val incBands = bandKeys(incoming, idCol, textCol, k, numHashes, bands)
      .localCheckpoint(true)
    val inBatch = bandedPairs(incBands, Seq("band", "bkey"), hotBandWidth)
      .withColumn("vs", lit("batch"))
    // store probe: the batch side is small next to the store, so the
    // join shuffles (or broadcasts) the BATCH's keys; a degenerate hot
    // band on the store side is split by AQE skew handling at runtime
    val crossCand = incBands
      .join(storeBands.select(col("band"), col("bkey"), col("id").as("b")),
        Seq("band", "bkey"))
      // an id living in BOTH frames (re-ingesting an already-accepted
      // batch) would otherwise match its own store entry as a self-pair
      .filter(col("id") =!= col("b"))
      .select(col("id").as("a"), col("b")).distinct()
      .withColumn("vs", lit("store"))
    val cand = inBatch.unionByName(crossCand).localCheckpoint(true)
    val batchCand = cand.filter(col("vs") === "batch")
    val storeCand = cand.filter(col("vs") === "store")
    // both verify spines sized by ONE grouped aggregate over the fused
    // candidates (replacing one count-probe job per verify call)
    val sizes = cand.groupBy("vs").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // gram sets ONLY for docs some candidate pair touches — in
    // particular the store corpus is scanned but never gram-ified beyond
    // its (few) candidate docs
    val incGrams = gramSets(incoming, idCol, textCol, k,
      batchCand.select(explode(array(col("a"), col("b"))).as("id"))
        .unionByName(storeCand.select(col("a").as("id"))).distinct())
    val storeGrams = gramSets(storeDocs, idCol, textCol, k,
      storeCand.select(col("b").as("id")).distinct())
    verifyJaccard(batchCand, incGrams, incGrams, threshold,
        knownCount = Some(sizes.getOrElse("batch", 0L)))
      .unionByName(verifyJaccard(storeCand, incGrams, storeGrams, threshold,
        knownCount = Some(sizes.getOrElse("store", 0L))))
      .select(col("a"), col("b"), col("vs"), col("jaccard"))
  }

  /** 60-bit SimHash over the document's distinct words.
    *
    * The whole signature is ONE native aggregate
    * ([[graft.expr.catalyst.SimHashAgg]]: 60 bit counters + count in a
    * single mergeable buffer) — the earlier pure-SQL forms (60 per-bit
    * sums, then 32 SWAR-packed sums plus a 60-term signature select)
    * computed the same bits but their aggregate codegen surface made
    * first-run compile time dominate the driver bench (BENCH_r02:
    * d4 24.9s). Map-side partial aggregation still applies, so the
    * groupBy shuffle carries one 61-long buffer per doc, not the word
    * stream.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // the signature is per-document: one native walk in the projection
    // (graft.expr.catalyst.SimHashRow) replaces explode + distinct
    // shuffle + simhash_agg groupBy — bit-identical output, zero
    // shuffles, and the same expression serves the streaming dedup
    // (where a blocking aggregation could not precede keyed state).
    // Null-text docs emitted no signature in the relational form; the
    // filter keeps that contract.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        call_function("simhash_row", split(col(textCol), " ")).as("simhash"))

  /** Embedding-cosine near-dup pairs: SRP-LSH banded candidate generation
    * (`bands` chunks of `bitsPerBand` hyperplane sign bits; pairs sharing
    * any chunk are candidates), then exact cosine verification against
    * `threshold` on the candidates only.
    *
    * Same scale shape as [[minHashLsh]]: linear scans + hash-shuffle band
    * joins instead of the all-pairs cross join. Band parameters carry the
    * scale contract: random pairs collide on some band at ~bands/2^bits
    * of ALL pairs — a QUADRATIC candidate floor whose constant the key
    * width sets — so `bitsPerBand` must be wide enough that the floor
    * sits below the corpus's true near-dup density (measured both ways
    * in docs/SCALING.md: 4×8 bits ≈ 1.6e-2 of pairs, quadratic at 68s
    * by 30× corpus growth; 3×16 bits ≈ 4.6e-5, linear compute to 100×).
    * Wide bands need high thresholds to keep recall (per-band collision
    * for a true pair at cosine s is (1-arccos(s)/π)^bits), which is the
    * near-dup regime (≥0.9) — low-threshold similarity JOINS are not
    * LSH-friendly at any width and stay quadratic-output on
    * unstructured corpora.
    *
    * ==Sizing `bitsPerBand` to the corpus (the 100 TB rule)==
    * The floor is candidates ≈ N²·bands/2^bits — quadratic in N at any
    * FIXED width, and the r13 probe shows the term directly: at 3×16
    * bits the 100× point's shuffle grows super-linearly (8 → 70 →
    * 545 MB at 10/30/100× ≈ 200k vectors) exactly as the N² floor
    * overtakes the ∝N planted density, while compute stays near-linear
    * because verification is still cheap at that count. To hold the
    * floor CONSTANT under growth, widen bands with the corpus:
    * bits ≥ 2·log₂(N) + log₂(bands) − log₂(budget) — i.e. ~2 more bits
    * per 4× corpus, ~10 more per 30×. At near-dup thresholds the
    * recall price of widening is mild ((1−arccos(0.97)/π)^bits halves
    * per ~9 bits; compensate with one extra band, +N·log N work, not
    * +N²). The 16-bit default is sized for the graded SFs and the
    * probe's 100×; a 10⁸-vector deployment wants ~28–32-bit bands (or
    * the [[graft.operators.Similarity]] IVF route when the workload is
    * top-k search rather than a pair emit). [[suggestedBandBits]] is
    * the rule as code, and widths past 63 packed bits RUN: the
    * implementation switches to per-band keys from the same plane
    * family (see the branch below).
    */
  def embCosinePairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int, bitsPerBand: Int, threshold: Double,
      hotBandWidth: Int = defaultHotBandWidth): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= 62,
      "a band key must fit a non-negative long")
    // materialize only (id, band keys) — a few bytes per vector — for
    // the band self-join; the verification joins re-read full vectors
    // from the source (a persisted copy of every embedding would not
    // fit at corpus scale). Eager localCheckpoint, not a lazy cache:
    // bandedPairs re-reads the band frame three times inside one job,
    // and a lazy cache with same-job consumers race-computes the SRP
    // projection (the repo-wide rule). The checkpoint lives HERE, so
    // bandedPairs is told not to add its own (round 21: the second
    // materialization was one whole extra job + copy pass per call —
    // the d5 family's profiled cost is fixed job-count overhead, guide
    // §1.2 step 1 / §2.4).
    //
    // Narrow widths (bands·bits ≤ 63, the graded configurations) pack
    // every band into ONE srpCode long and slice; the corpus-sizing
    // rule above calls for widths past that (e.g. 3×28 bits at 10⁸
    // vectors), where each band's key is computed independently from
    // the SAME globally-indexed plane family (srpBandCode) — identical
    // bucketing wherever both forms are representable (spec-pinned),
    // one projection pass either way.
    val chunks =
      if (bands * bitsPerBand <= 63) {
        val coded = df.select(col(idCol).as("id"),
            Similarity.srpCode(col(vecCol), dim, bands * bitsPerBand).as("code"))
          .localCheckpoint(true)
        val mask = (1L << bitsPerBand) - 1
        coded.selectExpr("id",
          s"stack($bands, ${(0 until bands).map(b => s"$b, (code >> ${bitsPerBand * b}) & $mask").mkString(", ")}) as (band, ckey)")
      } else {
        val coded = df.select(col(idCol).as("id"),
            array((0 until bands).map(b => Similarity.srpBandCode(
              col(vecCol), dim, b * bitsPerBand, bitsPerBand)): _*).as("codes"))
          .localCheckpoint(true)
        coded.select(col("id"), posexplode(col("codes")).as(Seq("band", "ckey")))
      }
    val cand = bandedPairs(chunks, Seq("band", "ckey"), hotBandWidth,
      preMaterialized = true)
    // zero-norm vectors have undefined cosine (0/0 = NaN, which Spark
    // orders ABOVE any threshold) — they can never be near-dups, so they
    // are excluded before the division. The norm is computed IN the
    // verification scan's projection (one cheap codegen'd dot per row)
    // rather than joined in from the signature checkpoint — the old
    // norm-lookup join cost one broadcast join per pair side for a value
    // the scan can recompute bit-identically from the same vector
    // (round 21, guide §2.4 remove shuffles/joins outright).
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        Similarity.l2Norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0)
    cand
      .join(vecs.select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na")), "a")
      .join(vecs.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The [[embCosinePairs]] corpus-sizing rule as code: the band width
    * that holds the random-collision floor (≈ n(n−1)/2 · bands / 2^bits
    * candidate pairs) at or under `budgetPairs` for an `n`-vector
    * corpus. Clamped to [8, 62] — below 8 bits the floor exceeds any
    * sane budget only for toy corpora, above 62 a band key no longer
    * fits a non-negative long (and at such widths IVF is the better
    * route). Doubling the corpus adds 2 bits; the budget is the
    * verification work you are willing to pay in cheap dot products
    * (e.g. ~10·n keeps verification ∝ corpus).
    */
  def suggestedBandBits(n: Long, bands: Int, budgetPairs: Long): Int = {
    require(n > 1 && bands >= 1 && budgetPairs >= 1,
      "need a corpus of >= 2, >= 1 band, and a positive pair budget")
    val need = math.ceil(
      math.log(n.toDouble * (n - 1) / 2.0 * bands / budgetPairs) /
        math.log(2.0)).toInt
    math.min(62, math.max(8, need))
  }

  /** SimHash near-dup pairs: band the 60 bits into 4 chunks of 15; pairs
    * sharing any chunk are candidates; verify Hamming distance <= maxDist.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int,
      hotBandWidth: Int = defaultHotBandWidth): DataFrame = {
    val sig = simHash(df, idCol, textCol)
    val chunks = sig.selectExpr("id", "simhash",
      s"stack(4, ${(0 until 4).map(c => s"$c, (simhash >> ${15 * c}) & 32767").mkString(", ")}) as (chunk, ckey)")
    bandedPairs(chunks, Seq("chunk", "ckey"), hotBandWidth,
        carry = Seq(("simhash", "ha", "hb")))
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("a", "b", "hamming")
  }

  /** Train/eval n-gram contamination check — the split-hygiene operator a
    * training pipeline runs before publishing an eval set: an eval
    * document whose k-grams appear in the training corpus is leaking.
    *
    * Shape at scale: each side's distinct gram-hash set is built in the
    * row (no explode-then-distinct shuffle); the train side pays the one
    * genuinely corpus-wide shuffle (global distinct of its gram hashes),
    * and the overlap is a hash equi-join on the 60-bit hash (compact
    * fixed-width keys, never the raw n-gram strings) followed by one
    * map-side-combinable count per eval doc. Nothing quadratic, nothing
    * collected.
    *
    * @return one row per eval doc: (idCol, n_grams, n_hits, ratio) with
    *         ratio = round(n_hits / n_grams, 6); docs shorter than k
    *         words have no k-grams and report (0, 0, null).
    */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(Seq("long", "int", "bigint", "integer", "smallint", "short")
      .contains(eval.schema(idCol).dataType.typeName),
      s"contamination needs an integral eval id column; " +
        s"${eval.schema(idCol).dataType.sql} ids would cast to null and " +
        "collapse every eval doc onto one row")
    // per-doc distinct gram-hash sets are built IN THE ROW
    // (gram_hashes + array_distinct — fixed-width longs, no explode, no
    // (id, gram) distinct shuffle on either side); the train side then
    // pays the one shuffle that is genuinely corpus-wide (global distinct
    // of its gram-hash set), the eval side none before the overlap join
    def rowGrams(df: DataFrame): DataFrame =
      df.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(call_function("gram_hashes",
          split(col(textCol), " "), lit(k), lit("ng")))).as("g"))
    val trGrams = rowGrams(train).select("g").distinct()
    val evGrams = rowGrams(eval)
    val ids = eval.select(col(idCol).cast("long").as("id")).distinct()
    val hits = evGrams
      .join(trGrams.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    ids.join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams"), 6).as("ratio"))
  }

  /** Incremental exact dedup — the production shape for rolling corpus
    * ingestion: an incoming batch is checked against the digest store of
    * everything already accepted AND against itself (first occurrence in
    * the batch wins — min id, deterministic). Unlike [[exact]], the
    * accepted corpus is never rescanned: only its digests are, and at
    * 100 TB the store lives as a digest-bucketed table
    * ([[graft.catalog.Bucketed]]) so this join is exchange-free on the
    * store side while the batch — orders of magnitude smaller than the
    * corpus — pays the only shuffle. Digests of rows labeled `kept` are
    * the caller's append back to the store.
    *
    * @param seenDigests one column `digest` (md5 hex of accepted text)
    * @return (id, digest, status): status ∈ kept | dup_of_store |
    *         dup_in_batch — store membership wins over batch order, so a
    *         re-ingested batch is all `dup_of_store` (idempotent)
    */
  def incrementalExact(incoming: DataFrame, idCol: String, textCol: String,
      seenDigests: DataFrame): DataFrame = {
    // first-in-batch election: partial-agg-able groupBy + null-safe join
    // back, same de-skew reasoning as [[exact]] — a batch full of one
    // boilerplate text must not serialize its election onto one task
    val keyed = incoming.select(col(idCol), md5(col(textCol)).as("digest"))
    val firsts = keyed.groupBy("digest").agg(min(col(idCol)).as("first_id"))
      .withColumnRenamed("digest", "_fd")
    keyed.join(firsts, col("digest") <=> col("_fd"))
      .join(seenDigests.select(col("digest")).distinct()
        .withColumn("_seen", lit(true)), Seq("digest"), "left")
      .select(col(idCol), col("digest"),
        when(col("_seen"), lit("dup_of_store"))
          .when(col(idCol) =!= col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Connected-components canonicalization — the keep-one-per-cluster
    * step that turns near-dup PAIRS (from [[minHashLsh]], [[simHashPairs]]
    * or [[embCosinePairs]]) into a dedup decision: every document gets
    * `canon_id` = the minimum id reachable through the pair graph, and
    * `is_dup` marks everything but the cluster representative.
    *
    * Two execution strategies behind one deterministic semantic (the
    * min-label fixpoint is unique — a DuckDB recursive CTE reproduces it
    * exactly):
    *
    *   - **Local union-find** when the edge set fits on the driver
    *     (`localEdgeLimit`, default 500k pairs ≈ 8 MB). Near-dup edge
    *     sets are tiny next to the corpus by LSH design, so this is the
    *     common case at every scale; one job materializes the pairs, the
    *     union-find runs in O(E α(E)) on the driver, and the resulting
    *     label map joins back in as a broadcast — no iteration, no
    *     per-level Spark actions. The same shape as AQE's
    *     broadcast-threshold decision: size probe first, then the cheap
    *     strategy when the data allows it. The default is pinned by
    *     CcProbe's crossover axis (docs/SCALING.md round 15): local wins
    *     below ~400k edges (1.5 s vs 4.0 s at 100k — the propagation
    *     loop pays ~4–5 s of fixed per-iteration job overhead), the
    *     strategies cross at ~0.5M, and above it the distributed loop
    *     wins outright (4.3 s vs 6.9 s at 1M, 5.7 s vs 20.6 s at 3M) —
    *     while at 10M the label-map broadcast-back measured 79.4 s in
    *     one session and KILLED the SparkContext in another (GCLocker
    *     starvation → executor OOM building the 12.5M-row broadcast;
    *     the distributed loop ran the same point in 10.3 s), so the
    *     default keeps a wide margin to both the slowdown and the wall.
    *   - **The measured-budget auto hybrid** above the limit (round 20;
    *     previously pinned min-label propagation): one structural
    *     telemetry aggregate at birth estimates the residual diameter,
    *     schedules `round(log2 D) − 2` star-contraction rounds (zero on
    *     every near-dup shape), and finishes with min-label propagation
    *     — see [[canonicalizeHybrid]], whose default this routes to.
    *     The round-20 strategy matrix (docs/SCALING.md) is why: the
    *     auto path now ties or beats pinned propagation on EVERY
    *     measured cell — min-centered 10M/30M stars 6.4/24.2 s vs
    *     9.8/36.5 (an already-star-forest graph reads its labels off
    *     the telemetry, skipping propagation entirely), off-center 10M
    *     stars (hashed ids, the honest near-dup shape) 11.8 vs 13.0,
    *     the 10M skewed mixture 44.7 vs 91.9, and permuted deep chains
    *     ~8x at diameter 64 — since the fused telemetry
    *     ([[autoLabels]]) costs one in-cache aggregate and buys both
    *     the read-off exit and the diameter-collapse schedule.
    *     `maxIter` still bounds the propagation passes (the auto
    *     hand-off derives a tighter finisher budget,
    *     [[autoHandOffIter]], and a component past EITHER budget takes
    *     the warm-start fallback: a star contraction of the
    *     label-contracted residue, converged components never
    *     re-processed — [[warmStartFallback]]; same fixpoint; loud
    *     stderr note — so budgets tune cost, never correctness).
    *     Callers who want a SPECIFIC strategy pin one explicitly:
    *     [[canonicalizePropagation]] (pure min-label propagation — the
    *     pre-r20 default, leanest per-pass machinery),
    *     [[canonicalizeStar]] (pure alternating star contraction), or
    *     [[canonicalizeHybrid]] with an explicit `starRounds`.
    *
    * Either way the (typically expensive — LSH candidate generation +
    * verification) pair pipeline is evaluated exactly once: an eager
    * localCheckpoint materializes the undirected edge list up front and
    * truncates the lineage every downstream consumer re-plans over.
    *
    * Long-lived sessions calling this repeatedly should release the
    * checkpointed/persisted blocks after materializing the result
    * (`spark.sharedState.cacheManager.clearCache()`), as the bench/verify
    * drivers do between queries.
    */
  def canonicalize(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 25, localEdgeLimit: Long = 500000L): DataFrame =
    canonicalized(df, idCol, pairs, localEdgeLimit, "canonicalize")(
      autoLabels(_, maxIter))

  /** Connected-components canonicalization by PINNED MIN-LABEL
    * PROPAGATION — the strategy [[canonicalize]]'s distributed branch
    * routed to before round 20, kept as an explicit pin (the graded d6b
    * entry and CcProbe's dist mode measure exactly this) and for
    * callers who know their graph is shallow and want the leanest
    * per-pass machinery with no birth telemetry. Each pass joins the
    * current labels across the self-loop-augmented edge frame and keeps
    * the per-node minimum — one join + one aggregate, converging in
    * O(cluster diameter) passes; convergence is detected by the
    * label-sum fixpoint (labels only ever decrease), one tiny aggregate
    * action per pass. Measured to 100M edges and diameter 64 (CcProbe:
    * time ∝ E at fixed diameter, ∝ diameter at fixed E). A component
    * whose diameter exceeds `maxIter` does not fail the job: the
    * warm-start fallback re-solves the label-contracted residue
    * ([[warmStartFallback]]), so `maxIter` bounds the propagation
    * budget, never correctness. Same size-then-strategy gate and same
    * unique min-label fixpoint as every other entry point.
    */
  def canonicalizePropagation(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 25, localEdgeLimit: Long = 500000L): DataFrame =
    canonicalized(df, idCol, pairs, localEdgeLimit, "canonicalizePropagation")(
      propagatedLabels(_, maxIter))

  /** The shared size-then-strategy skeleton of the four canonicalize
    * entry points: validate the id type, checkpoint the edge list once,
    * count it, route edge sets at or under `localEdgeLimit` to the driver
    * union-find, and join the labels back onto the full corpus. The count
    * runs over the checkpointed blocks (no recompute of `pairs`) and is
    * ALWAYS paid, forced-distributed callers (localEdgeLimit = 0)
    * included, because it also sizes the distributed loop's shuffle
    * width ([[ccLoopShufflePartitions]]). Only the distributed `strategy`
    * differs per entry point; it runs under [[ccWidthLock]] with the
    * session's shuffle width set for the loop and restored after.
    */
  private def canonicalized(df: DataFrame, idCol: String, pairs: DataFrame,
      localEdgeLimit: Long, opName: String)(
      strategy: DataFrame => DataFrame): DataFrame = {
    require(Seq("long", "int", "bigint", "integer", "smallint", "short")
      .contains(df.schema(idCol).dataType.typeName),
      s"$opName needs an integral id column; ${df.schema(idCol).dataType.sql} " +
        "ids would cast to null and silently collapse the corpus")
    val nodes = df.select(col(idCol).cast("long").as("id")).distinct()
    val undirected = pairs
      .select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      // serialized store: 2-long rows cache ~3x smaller and unroll into
      // spillable byte buffers — at 100M edges the deserialized default
      // held ~6 GB of row objects for the whole strategy's lifetime
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    // one count over the checkpointed blocks (no recompute of `pairs`):
    // it feeds BOTH the union-find gate and the loop's shuffle-partition
    // derivation, so forced-distributed callers (localEdgeLimit = 0) now
    // pay it too — measured trivial next to the per-pass overhead it
    // removes (see [[ccLoopShufflePartitions]])
    val edgeCount = undirected.count()
    val lbl =
      if (localEdgeLimit > 0 && edgeCount <= localEdgeLimit)
        localLabels(undirected)
      else ccWidthLock.synchronized {
        // Every pass/round of the iterative strategies is a handful of
        // tiny-keyed exchanges and one convergence action; left at the
        // session default their per-pass fixed cost is ∝ the shuffle
        // partition count × iteration count REGARDLESS of data volume —
        // the graded sf0.1 graphs (~10^2-10^3 edges) paid 32-way task
        // scheduling per pass and measured ANTI-scaling (8-core runs 2×
        // faster than 32-core on identical code, r20 driver scaling
        // block). Derive the loop's width from the measured edge count
        // instead (guide §2.2: fewer, larger partitions; the session
        // default stays the ceiling so at-scale CcProbe axes are
        // unchanged), restore the session conf after the strategy's
        // actions complete — under [[ccWidthLock]], so a concurrent CC
        // call can neither read this call's loop width as its "before"
        // nor restore its own over it.
        val conf = undirected.sparkSession.conf
        val key = "spark.sql.shuffle.partitions"
        val before = conf.get(key)
        conf.set(key, ccLoopShufflePartitions(before.toInt, edgeCount).toString)
        try strategy(undirected) finally conf.set(key, before)
      }
    nodes.join(lbl, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("lbl"), col("id")).as("canon_id"),
        (coalesce(col("lbl"), col("id")) =!= col("id")).as("is_dup"))
  }

  /** Makes the distributed branch's set → strategy → restore of the
    * session's shuffle width atomic with respect to other CC calls. Two
    * unserialized calls on one session could interleave as set A, set B
    * (reading A's loop width as its "before"), restore A, restore B —
    * leaving the session at the loop width for good. Distributed CC
    * calls therefore run one at a time per JVM; the union-find branch
    * and the size probe take no lock.
    */
  private val ccWidthLock = new Object

  /** Edges per shuffle partition inside the iterative CC loops: the
    * partition count is `ceil(edges / this)`, capped at the session
    * default (so big graphs keep the session's full parallelism — at
    * 2^17 the cap re-engages from ~4M edges on a 32-partition session,
    * leaving CcProbe's measured 10M/30M/100M axes at their committed
    * shape) and floored at 1 (so a few-hundred-edge graded graph runs
    * its ~tens of per-pass exchanges/actions as single tasks instead of
    * 32 empty ones per pass). 2-long edge rows make this ~2 MB of input
    * per task — deliberately far below the guide's 100 MB+ shuffle
    * sizing, because the loop is latency-bound long before it is
    * bandwidth-bound: the constant only decides how quickly small
    * graphs stop paying per-partition fixed costs.
    */
  private val ccLoopEdgesPerPartition = 131072L

  private[operators] def ccLoopShufflePartitions(sessionParts: Int,
      edges: Long): Int =
    math.max(1, math.min(sessionParts.toLong,
      (edges + ccLoopEdgesPerPartition - 1) / ccLoopEdgesPerPartition).toInt)

  /** Connected-components canonicalization by ALTERNATING STAR
    * CONTRACTION (the large-star/small-star algorithm of Kiveris,
    * Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected Components
    * in MapReduce and Beyond", SoCC 2014) — same output contract and
    * same unique min-label fixpoint as [[canonicalize]], in O(log n)
    * ROUNDS instead of O(diameter) iterations.
    *
    * Use this for pair graphs whose components can be long and thin —
    * transitive entity-resolution chains, citation/link graphs —
    * where min-label propagation pays one full-edge-set pass per HOP
    * (measured ∝ diameter on CcProbe's chain axis). Near-dup document
    * graphs are near-cliques (diameter ≤ ~3), so [[canonicalize]]'s
    * strategies stay the right default there: a star round costs ~2
    * shuffles + a distinct against propagation's 1 join + 1 aggregate,
    * and at diameter ≤ 3 round count cannot be beaten.
    *
    * The same SIZE-THEN-STRATEGY gate as [[canonicalize]] applies first:
    * an edge set at or under `localEdgeLimit` (default 500k, pinned by
    * the same CcProbe crossover axis) routes to the driver union-find —
    * diameter is irrelevant to a union-find, so a caller told "use star
    * for high-diameter graphs" no longer pays ~4 alternating rounds × 2
    * shuffles + the exact fixpoint confirmation (~6 s of fixed overhead
    * at sf0.1) on a few-hundred-edge graph a union-find closes in
    * milliseconds. Pass `localEdgeLimit = 0L` to force the distributed
    * star rounds (the graded d6c entry and CcProbe's star axes do, the
    * way d6b forces propagation).
    *
    * Each round applies two per-node rewirings, both expressed as ONE
    * groupBy-min plus ONE join on the edge list — no per-node neighbor
    * lists are ever materialized (a `collect_list` would concentrate a
    * popular node's whole neighborhood in one task; the min-join form
    * is skew-immune for the same reason the de-skewed dedup elections
    * are):
    *   - '''large-star''': every node u links each STRICTLY LARGER
    *     neighbor v to m(u) = min(N(u) ∪ {u}) — larger nodes hop
    *     toward their component's minimum;
    *   - '''small-star''': every node u links each neighbor v ≤ u (and
    *     itself) to the minimum among them — local stars flatten.
    * Both preserve connectivity and only ever decrease the edge set's
    * (node, neighbor-min) potential; the fixpoint is a star forest
    * whose centers are exactly the component minima (paper, Thm 1-3).
    * Convergence is detected by an (edge-count, xxhash64-sum) signature
    * — one tiny aggregate per round, the same shape as propagation's
    * label-sum — and CONFIRMED at the detected fixpoint by the
    * STRUCTURAL star-forest test ([[isStarForest]]): no node appears as
    * both a center and a leaf, and every leaf carries exactly one edge.
    * That certifies the LABELING rather than invariance under one more
    * op (an edge set can be large-star-invariant without being a
    * min-centered star forest — {(1,3),(2,3)} — and set-equality under
    * the ops only certifies an op fixpoint; the structural test plus the
    * ops' unconditional connectivity preservation proves each star IS a
    * whole component with its minimum at the center), so a 2^-64
    * signature collision can only abort loudly, never mislabel; the
    * check runs once.
    *
    * Rounds run through the same [[fixpoint]] loop as propagation, so
    * they are plan-truncated and promptly released by the same
    * [[residentLevel]] machinery (the probe-measured cure for the
    * exponential-plan OOM class).
    */
  def canonicalizeStar(df: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 50, localEdgeLimit: Long = 500000L): DataFrame =
    canonicalized(df, idCol, pairs, localEdgeLimit, "canonicalizeStar")(
      starLabels(_, maxRounds))

  /** Connected-components canonicalization by the HYBRID strategy —
    * `starRounds` alternating large-star/small-star rounds to COLLAPSE
    * COMPONENT DIAMETER, then min-label propagation to FINISH on the
    * flattened graph. Same output contract and same unique min-label
    * fixpoint as [[canonicalize]] / [[canonicalizeStar]].
    *
    * This targets the one cell of the strategy matrix neither pure form
    * prices well: HIGH-DIAMETER **and** HIGH-VOLUME pair graphs
    * (transitive entity-resolution chains over a full corpus, link
    * graphs). There, propagation pays one full-edge-set pass per HOP
    * (CcProbe's chain axis: ∝ diameter), while the star contraction pays
    * its heavy per-round machinery — ~2 shuffles + a distinct per round,
    * with a rewired edge set whose shuffle volume measured 3.6× the
    * propagation loop's at 100M edges (docs/SCALING.md round 16:
    * 30.8 GB vs 8.6 GB, OOM at the 16 GB heap propagation completed in)
    * — all the way to the fixpoint. The hybrid buys diameter collapse at
    * star prices only while diameter is the binding cost: each
    * alternating round at least halves every component's effective
    * diameter (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    * SoCC 2014 — large-star alone halves the height of any BFS tree
    * path, small-star flattens the local stars it leaves), so `k` rounds
    * turn a diameter-`D` graph into a ≤ ~`D/2^k`-diameter one and the
    * propagation finisher needs that many cheap passes instead of `D`.
    *
    * `starRounds` defaults to [[AutoStarRounds]]: the star budget is
    * SIZED FROM THE GRAPH instead of guessed. The fixed-knob rule
    * (`starRounds ~ log2(expected diameter) - 2`, the round-17
    * deployment rule) requires knowing the diameter in advance — a fact
    * a 100 TB pair-graph owner rarely has, and the price of guessing
    * low is real (the old default of 2 measured 90.5 s on the
    * diameter-64/4M-edge probe chain vs 44.5 s correctly tuned). The
    * auto budget measures instead of asking: a one-pass structural
    * telemetry aggregate over the edge set ([[forestStats]] — per node,
    * its count of smaller and of larger neighbors) yields a
    * residual-diameter ESTIMATE D as the max of two complementary
    * proxies — internal nodes per local-minimum (exact on
    * monotone-id chains, blind on permuted ids) and degree-2 nodes
    * per path-endpoint pair (exact on ANY path forest regardless of
    * id ordering — the signal that matters in production, where ids
    * are hashes — over-reading only when cycles carry the degree-2
    * mass; see [[ForestStats.diameterEstimate]] for why max is the
    * right combiner). Both proxies read component SIZE rather than
    * depth on contracted trees (measured: after 2 rounds a 16-chain
    * reads 13 by the internal-node proxy at true depth ~4), which is
    * why the estimate is taken at BIRTH, where components are raw,
    * not mid-contraction. The loop then schedules `round(log2 D) - 2`
    * star rounds — the deployment rule applied to a measurement; each
    * round at least halves diameter (SoCC'14), so the schedule lands
    * the residue at the ~4-hop collapse target, the measured crossover
    * where a star round stops paying for itself (one round costs ~2-3
    * propagation passes and halving a ≤4-hop residue saves at most 2)
    * — and hands off. An unchanged edge signature inside the schedule
    * exits through the structural forest test early, so an
    * overestimated D (cliques and cycle-heavy mixtures collapse in 1-2
    * rounds) costs at most a couple of idle rounds, and a graph
    * already at or under the target (D ≤ 4, every near-dup shape)
    * hands off with ZERO rounds. Because both proxies are
    * per-component MEANS, a skewed mixture (a million shallow path
    * components hiding one deep chain) or a high-degree deep tree (a
    * caterpillar — its hairs dilute both proxies with no mixture
    * needed) can still hand off early — the propagation finisher's own
    * exhaustion fallback (→ [[warmStartFallback]]: a star contraction
    * of the label-contracted residue only, never a re-run over the
    * converged majority) still bounds that worst case, so the estimate
    * tunes cost, never correctness. The auto hand-off also DERIVES its
    * finisher budget from the collapse target ([[autoHandOffIter]] =
    * 10, capped by the caller's `maxIter`) instead of inheriting the
    * full propagation default: a correct schedule needs ≤ ~5 passes, so
    * a finisher still unconverged at 10 proves the estimate wrong and
    * switches to the fallback without paying the other 15 — measured
    * on CcProbe's 10M-edge mixture axis as the difference between a
    * 3.6× and 2.6× worst-case recovery in round 19, re-priced with the
    * warm-started fallback in docs/SCALING.md round 20. Pass an
    * explicit `starRounds >= 0` to pin the budget by hand (the graded
    * d6d entry pins 1 to force the hand-off path).
    *
    * If the graph reaches the star-forest fixpoint DURING the star
    * rounds (small diameter, or a generous explicit `starRounds`),
    * labels are read off directly — structurally confirmed the same way
    * [[canonicalizeStar]] confirms convergence (the auto path's
    * telemetry IS that structural test, so its forest exit is exact by
    * construction) — and propagation never runs. The same
    * SIZE-THEN-STRATEGY gate as the other entry points applies first:
    * ≤ `localEdgeLimit` edges route to the driver union-find (pass 0 to
    * force the distributed hybrid, as the graded d6d entry and
    * CcProbe's deep axis do).
    */
  def canonicalizeHybrid(df: DataFrame, idCol: String, pairs: DataFrame,
      starRounds: Int = AutoStarRounds, maxIter: Int = 25,
      localEdgeLimit: Long = 500000L): DataFrame = {
    require(starRounds >= 0 || starRounds == AutoStarRounds,
      s"starRounds must be non-negative or AutoStarRounds, got $starRounds")
    canonicalized(df, idCol, pairs, localEdgeLimit, "canonicalizeHybrid")(
      if (starRounds == AutoStarRounds) autoLabels(_, maxIter)
      else pinnedLabels(_, starRounds, maxIter))
  }

  /** Sentinel `starRounds` value selecting [[canonicalizeHybrid]]'s
    * measured adaptive star budget (the default).
    */
  val AutoStarRounds: Int = -1

  /** CC strategy-decision trace sink. Defaults to stderr; tests inject
    * a capturing sink here instead of swapping the process-global
    * `System.err` (executor/listener threads write to the real stderr
    * concurrently, so a global swap could pollute or starve a capture
    * — only the driver-side decision messages flow through this hook).
    */
  @volatile private[graft] var traceSink: String => Unit =
    msg => System.err.println(msg)

  private def trace(msg: String): Unit = traceSink(msg)

  /** Canonical undirected edge form for the star-contraction machinery:
    * (a, b) with a < b, deduped — self-loops (a node already wired to
    * its minimum emits (m, m)-shaped links from small-star) drop out.
    */
  private def starNorm(e: DataFrame): DataFrame =
    e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Large-star: m(u) over the FULL neighborhood (both directions), each
    * strictly larger neighbor re-linked to it. One groupBy-min plus one
    * join — no neighbor lists, skew-immune (see [[canonicalizeStar]]).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val directed = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val mins = directed.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    directed.join(mins, "u").filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
  }

  /** Small-star: neighbors v < u only (direct each edge from its larger
    * endpoint), all of them plus u itself re-linked to their minimum.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val directed = edges.select(col("b").as("u"), col("a").as("v")) // v < u
    val mins = directed.groupBy("u").agg(min("v").as("m"))
    directed.join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .unionByName(mins.select(col("u").as("src"), col("m").as("dst")))
  }

  /** One alternating contraction round in canonical (a, b) form. */
  private def starRound(edges: DataFrame): DataFrame =
    starNorm(smallStar(starNorm(largeStar(edges))))

  /** (count, order-independent hash sum) of a canonical edge set: equal
    * signatures across a round mean an unchanged set with ~2^-64 error —
    * cheap enough to run every round; the structural confirmation runs
    * once. The sum runs in decimal(38,0): full-range xxhash64 values
    * overflow a long sum under ANSI mode (same shape as propagation's
    * labelSum).
    */
  private def edgeSignature(e: DataFrame): (Long, java.math.BigDecimal) = {
    val r = e.agg(count(lit(1)),
      sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).first()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Structural star-forest test on a canonical (a < b) edge set: no
    * node appears as both a center (a) and a leaf (b), and every leaf
    * carries exactly one edge. Combined with the star ops'
    * UNCONDITIONAL connectivity preservation this certifies the final
    * labeling outright: each star is then a whole component, and the
    * a < b canonical form makes its center the component minimum — so
    * `groupBy(b).min(a)` plus the caller's self-coalesce is exact. Two
    * aggregate-shaped actions over a resident edge set, cheaper than
    * re-running a star op for an invariance check and strictly stronger
    * (a set can be large-star-invariant without being min-centered:
    * {(1,3),(2,3)}; and {(1,5),(2,5)} is a "star forest" only if the
    * leaf-degree test runs too — there leaf 5 has two centers and node
    * 2 would mislabel as its own canon).
    */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("a")).intersect(e.select(col("b"))).isEmpty &&
      e.groupBy(col("b")).agg(count(lit(1)).as("_n"))
        .filter(col("_n") > 1).isEmpty

  /** A resident level of an iterative CC strategy after the shared
    * fixpoint loop: the last level, the thunk that releases it, the
    * steps taken, and whether the loop stopped on a (confirmed)
    * fixpoint rather than on its budget.
    */
  private final case class Fixpoint(level: DataFrame, free: () => Unit,
      steps: Int, converged: Boolean)

  /** THE iterative loop behind every distributed CC strategy — min-label
    * propagation passes and large-star/small-star rounds alike, each
    * strategy being a schedule of it ([[propagateOver]],
    * [[starLabels]], [[pinnedLabels]], [[autoLabels]]). From a resident
    * `start` level whose signature the caller already read, each step
    * builds the next level, makes it resident through [[residentLevel]]
    * (plan-truncated every `truncateEvery` steps), reads its
    * `signature` — the action that fully materializes it — and only
    * then frees its predecessor. An unchanged signature is a candidate
    * fixpoint that `confirm` runs over the already-resident level (a
    * structural certificate for the star schedules, nothing for
    * propagation, whose label sum can only decrease); the loop stops
    * there or when `budget` steps are spent, and the caller owns what
    * it returns.
    *
    * Truncation cadence: propagation truncates every [[truncateLevels]]
    * passes, star rounds every 2 — one star round's plan references its
    * input edge set ~12 times (the directed view twice per star op,
    * each joined against a min-aggregate of itself, twice per round),
    * so its per-round tree fan-out is ~12x against propagation's linear
    * growth; untruncated, 7 rounds already built a ~12^7-node plan
    * string and OOM'd the 22-chain spec.
    */
  private def fixpoint[S](start: DataFrame, free: () => Unit, startSig: S,
      step: DataFrame => DataFrame, truncateEvery: Int, signature: DataFrame => S,
      confirm: DataFrame => Boolean, budget: Int): Fixpoint = {
    var (level, freeLevel, prev, steps, converged) =
      (start, free, startSig, 0, false)
    while (!converged && steps < budget) {
      val (next, freeNext) = residentLevel(step(level),
        truncate = (steps + 1) % truncateEvery == 0)
      val cur = signature(next) // fully materializes `next`
      converged = cur == prev && confirm(next)
      freeLevel() // level k-1's blocks are no longer referenced
      level = next
      freeLevel = freeNext
      prev = cur
      steps += 1
    }
    Fixpoint(level, freeLevel, steps, converged)
  }

  /** Up to `budget` alternating star rounds from a canonical (a < b)
    * edge set, made resident and signed first so a round-1 fixpoint is
    * detectable by the same two-consecutive-reads comparison as every
    * later round (`born` runs once that signature has materialized the
    * level — the auto schedule releases its telemetry frame there).
    * `confirm` defaults to the structural test alone: inside a bounded
    * schedule a 2^-64 signature collision reads false and simply keeps
    * contracting, because the propagation finisher completes the job
    * regardless.
    */
  private def starFrom(canonical: DataFrame, budget: Int,
      confirm: DataFrame => Boolean = isStarForest,
      born: () => Unit = () => ()): Fixpoint = {
    val (edges, free) = residentLevel(canonical, truncate = false)
    val birthSig = edgeSignature(edges)
    born()
    fixpoint(edges, free, birthSig, starRound, 2, edgeSignature, confirm, budget)
  }

  /** Labels off a star-forest fixpoint (a = component min, b = member):
    * members label to their center, centers to themselves (via the
    * caller's coalesce); groupBy-min rather than a bare projection so a
    * hypothetical non-star residue could still only tighten labels.
    */
  private def readOff(forest: DataFrame): DataFrame =
    forest.groupBy(col("b").as("id")).agg(min(col("a")).as("lbl"))

  /** Star schedule UNTIL FIXPOINT (see [[canonicalizeStar]]); returns a
    * resident (id, lbl) frame over edge-touched nodes. Here the
    * structural fixpoint confirmation ([[isStarForest]]) runs over the
    * already-resident level, certifies the labeling itself, and turns
    * the 2^-64 signature-collision event into a loud abort instead of a
    * silent mislabel.
    */
  private def starLabels(undirected: DataFrame, maxRounds: Int): DataFrame = {
    val r = starFrom(starNorm(undirected), maxRounds, e => {
      require(isStarForest(e), "edge-set hash signature converged on a " +
        "non-star-forest (hash collision): raise maxRounds or report — this " +
        "is a 2^-64 event")
      true
    })
    require(r.converged,
      s"star contraction did not converge within $maxRounds rounds")
    readOff(r.level)
  }

  /** The PINNED hybrid schedule (see [[canonicalizeHybrid]]): `k`
    * alternating contraction rounds — each at least halving component
    * diameter — then min-label propagation on the flattened edge set.
    * `k = 0` IS pure propagation ([[canonicalizePropagation]]): no
    * canonical star level is built. Converging to the star forest
    * DURING the budget short-circuits propagation entirely (labels read
    * off the forest, structurally confirmed); otherwise the contracted
    * edges go to [[handOff]], whose propagation finisher's own
    * exhaustion fallback (→ [[warmStartFallback]]) still bounds the
    * worst case, so `k` and `maxIter` tune cost, never correctness.
    */
  private def pinnedLabels(undirected: DataFrame, k: Int,
      maxIter: Int): DataFrame =
    if (k == 0) propagatedLabels(undirected, maxIter)
    else handOff(starFrom(starNorm(undirected), k), maxIter)

  /** The end of a bounded star schedule: labels read off a confirmed
    * forest, or the diameter-collapsed edge set handed to the
    * propagation finisher as a FLAT LogicalRDD leaf. After an odd round
    * budget the level is cache-resident but its plan is still the
    * nested star-round tree, and every propagation level's AQE plan
    * description would re-render that whole nest — measured 2.5x the
    * finisher's wall on the lollipop spec before the truncation. The
    * propagation loop runs entirely inside the call (every level action
    * included), so the contracted level is released as soon as it
    * returns.
    */
  private def handOff(r: Fixpoint, maxIter: Int): DataFrame =
    if (r.converged) readOff(r.level)
    else {
      val flat = r.level.queryExecution.analyzed match {
        case _: org.apache.spark.sql.execution.LogicalRDD => r.level
        case _ => r.level.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      }
      val lbl = propagatedLabels(
        flat.select(col("a").as("src"), col("b").as("dst")), maxIter)
      r.free()
      lbl
    }

  /** Structural telemetry of a canonical (a < b) edge set, one
    * groupBy-shaped pass (map-side partial agg, then one shuffle of
    * node-sized rows): per node, how many times it appears as a center
    * (has a strictly larger neighbor) and as a leaf (has a smaller
    * one) — their sum is the node's degree. `violations`/`badLeaves`
    * are the exact negations of [[isStarForest]]'s two clauses, so
    * `isForest` certifies the final labeling with the same strength;
    * `diameterEstimate` is the auto star budget's hand-off signal,
    * the MAX of two one-pass proxies that fail in different ways:
    *
    *   - [[orderedEstimate]] (internal nodes per local-minimum) is
    *     exact on chains whose ids happen to be MONOTONE along the
    *     path, but reads ~2 on a deep path with arbitrary/hashed ids
    *     (every ~3rd node is then a local minimum and only
    *     middle-valued nodes count as internal) — and production pair
    *     graphs carry hashed ids, never monotone ones;
    *   - [[degreeEstimate]] (degree-2 nodes per path-endpoint pair) is
    *     ID-ORDERING-INSENSITIVE — exact on any path forest however
    *     the ids are permuted — but over-reads when cycles carry the
    *     degree-2 mass (a triangle is three degree-2 nodes at
    *     diameter 1, and cycle nodes never show up as endpoints).
    *
    * Taking the max biases the schedule toward MORE star rounds under
    * disagreement, because the two failure directions are priced
    * asymmetrically (docs/SCALING.md rounds 18-19): an over-read
    * converges like pure star plus at most ~2 idle detection rounds
    * (the early forest exit), while an under-read hands off a deep
    * graph to propagation, exhausts `maxIter`, and pays the
    * budget-bounded star fallback on top. The remaining shared blind
    * spots are per-component-MEAN effects: a skewed MIXTURE (a sea of
    * shallow path components dilutes one deep chain below the round
    * threshold) and, equivalently, a single high-degree deep tree — a
    * CATERPILLAR's hairs inflate `deg1` and pull spine nodes out of
    * `deg2`, while hashed ids defeat the ordered proxy, so one deep
    * component under-reads with no mixture needed (PropertySpec pins
    * the caterpillar route). Both cases are fallback-bounded
    * (correctness never depends on the estimate), their recovery cost
    * is priced on CcProbe's mixture axis, and since round 20 the
    * fallback warm-starts from the partial labels
    * ([[warmStartFallback]]) instead of re-contracting the whole graph.
    */
  private[operators] final case class ForestStats(
      violations: Long, roots: Long, badLeaves: Long,
      deg1: Long, deg2: Long) {
    def isForest: Boolean = violations == 0L && badLeaves == 0L
    def orderedEstimate: Double =
      violations.toDouble / math.max(roots, 1L).toDouble + 1.0
    def degreeEstimate: Double =
      if (deg2 == 0L) 1.0
      else deg2.toDouble / math.max(1.0, deg1.toDouble / 2.0) + 1.0
    def diameterEstimate: Double =
      math.max(orderedEstimate, degreeEstimate)
  }

  /** Telemetry over the [[propagationEdges]] frame (each deduped
    * undirected edge once per direction plus one self-loop per node,
    * hash-partitioned by dst — the exact frame the propagation finisher
    * consumes, so the aggregate that computes these stats doubles as
    * the action that populates its cache). Grouping by dst aligns with
    * the frame's partitioning — no exchange — and yields the same
    * per-node counts the canonical a < b form defines: node n's
    * center-degree is its count of larger neighbors (n appears as `a`
    * exactly once per larger neighbor) and its leaf-degree the count of
    * smaller ones; the strict comparisons make self-loop rows invisible
    * to both.
    */
  private[operators] def forestStats(bidir: DataFrame): ForestStats = {
    val ends = bidir.groupBy(col("dst").as("n"))
      .agg(count(when(col("src") > col("dst"), true)).as("cd"),
        count(when(col("src") < col("dst"), true)).as("ld"))
    val r = ends.agg(
      count(when(col("cd") > 0 && col("ld") > 0, true)),
      count(when(col("cd") > 0 && col("ld") === 0, true)),
      count(when(col("cd") === 0 && col("ld") > 1, true)),
      count(when(col("cd") + col("ld") === 1, true)),
      count(when(col("cd") + col("ld") === 2, true))).first()
    ForestStats(r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
  }

  /** The auto star budget's collapse target: schedule the star rounds
    * to land the residual diameter here, then hand off to propagation.
    * Pinned by CcProbe's chain axis (docs/SCALING.md rounds 15-17): one
    * star round costs ~2-3 propagation passes, so halving stops paying
    * at ~this depth; the committed deployment rule ("collapse to ~4,
    * let propagation finish") is this constant.
    */
  private val autoCollapseTarget = 4.0

  /** Pathology bound on the auto budget's scheduled rounds: covers an
    * initial estimate up to 2^22 (star contraction provably converges
    * in O(log n) rounds — SoCC'14 — so nothing realistic approaches
    * this; exhaustion hands off to propagation, whose own fallback
    * keeps correctness).
    */
  private val autoMaxStarRounds = 20

  /** The auto path's propagation-finisher budget, DERIVED from the
    * collapse target rather than inherited from the caller's `maxIter`:
    * a correctly-scheduled hand-off leaves a residue of ≤
    * [[autoCollapseTarget]] hops, which propagation closes in target+1
    * passes — so `2 + 2 × target` gives the correct case over 2×
    * headroom while capping what the ESTIMATOR'S failure mode can
    * waste. Priced on CcProbe's 10M-edge mixture axis (docs/SCALING.md
    * round 19): with the caller-default budget of 25 the under-read
    * recovery (exhaust, then the then-from-scratch star fallback) cost
    * 212.3 s vs the pinned-correct hybrid's 59.2 s (3.6×); the derived
    * budget removed ~10 wasted passes at ~6 s each and measured the
    * recovery at 153.0 s — a 2.6× worst case, 2.3× at 30M edges. Since
    * round 20 the exhaustion fallback itself warm-starts
    * ([[warmStartFallback]]), shrinking the recovery further (fresh
    * numbers in docs/SCALING.md round 20). A caller's explicit smaller
    * `maxIter` still caps from below.
    */
  private val autoHandOffIter = 2 + 2 * autoCollapseTarget.toInt

  /** The MEASURED schedule (see [[canonicalizeHybrid]]): ONE
    * [[forestStats]] telemetry aggregate at birth yields the
    * residual-diameter estimate D (max of the ordered and degree proxies
    * — [[ForestStats.diameterEstimate]]); `round(log2 D) − 2` star
    * rounds are scheduled from it and then propagation finishes
    * unconditionally — re-measuring mid-flight is deliberately absent
    * because both proxies read SIZE, not depth, on contracted trees
    * (measured: 13.0 after 2 rounds on a 16-chain at true depth ~4),
    * while the per-round halving the schedule leans on is the SoCC'14
    * guarantee. Rounds run through the shared [[fixpoint]] loop with the
    * comparison seeded by the birth signature; an unchanged signature is
    * a candidate fixpoint — confirmed structurally, it reads labels off
    * the forest and skips propagation (the path an overestimated D on
    * cliques/bushy graphs exits through). Every decision is traced
    * through [[traceSink]] (stderr by default) — the observable the
    * no-knob spec pins.
    *
    * The birth telemetry is FUSED (round 20; VERDICT r19 item 3): it has
    * no materialization chain of its own. The schedule builds the SAME
    * [[propagationEdges]] frame the propagation finisher consumes
    * (canonical dedup + self-loops, bidirectional, dst-partitioned,
    * persisted), and [[forestStats]]' dst-aligned aggregate is the
    * action that populates it. The r18/r19 shape paid a dedicated
    * canonical persist, a union-shaped two-direction telemetry scan,
    * and an extra eager checkpoint on the hand-off; on a shallow graph
    * (the common near-dup case, where the answer is "zero rounds") that
    * premium measured 1.8x pure propagation (star_perm at 10M: 17.9 vs
    * 10.2 s). Fused, the zero-round hand-off passes the frame to
    * [[propagateOver]] as-is, so the default caller's premium shrinks to
    * one in-cache aggregate; a graph that already IS a min-centered star
    * forest (certified by the same telemetry) reads its labels off the
    * resident frame with zero rounds and zero propagation passes.
    */
  private def autoLabels(undirected: DataFrame, maxIter: Int): DataFrame = {
    val bidir = propagationEdges(undirected)
    val stats = forestStats(bidir) // the action that populates the cache
    trace(
      f"[graft] hybrid auto: residual-diameter estimate " +
        f"${stats.diameterEstimate}%.1f at birth")
    def decided(forest: Boolean, rounds: Int, scheduled: Int): Unit = trace(
      if (forest) s"[graft] hybrid auto: star-forest fixpoint after $rounds star round(s)"
      else s"[graft] hybrid auto: hand-off to propagation after $rounds star " +
        s"round(s) (scheduled $scheduled from the birth estimate)")
    // the canonical a < b form is a shuffle-free filter off the resident
    // bidirectional frame
    val canonical = bidir.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val scheduled = math.min(autoMaxStarRounds, math.max(0,
      math.round(math.log(stats.diameterEstimate) / math.log(2.0)).toInt - 2))
    if (stats.isForest) { decided(forest = true, 0, 0); readOff(canonical) }
    else if (scheduled == 0) {
      // the common near-dup hand-off: the finisher consumes the
      // telemetry frame directly — no canonical level, no re-checkpoint
      decided(forest = false, 0, 0)
      propagateOver(bidir, math.min(maxIter, autoHandOffIter))
    } else {
      // star rounds scheduled (the deep-graph path): the birth signature
      // doubles as the action that materializes the canonical level,
      // after which the bidirectional frame is released
      val r = starFrom(canonical, scheduled, born = () => { bidir.unpersist(); () })
      decided(r.converged, r.steps, scheduled)
      handOff(r, math.min(maxIter, autoHandOffIter))
    }
  }

  /** Driver-side union-find over a collected edge list: (id, lbl) for
    * every edge-touched node, lbl = min id of its component. Union always
    * points the larger root at the smaller, so each root IS its
    * component's minimum and the result is independent of edge order.
    */
  private def localLabels(undirected: DataFrame): DataFrame = {
    val spark = undirected.sparkSession
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression: point the walked chain at the root
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    undirected.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keysIterator.map(x => (x, find(x))).toSeq
    broadcast(spark.createDataFrame(labels).toDF("id", "lbl"))
  }

  /** Distributed min-label propagation (see [[canonicalize]]); returns a
    * persisted (id, lbl) frame over edge-touched nodes.
    */
  private def propagatedLabels(undirected: DataFrame, maxIter: Int): DataFrame =
    propagateOver(propagationEdges(undirected), maxIter)

  /** The propagation loop's edge frame, built in one pipeline over the
    * checkpointed pair list: canonical dedup PLUS one (n, n) self-loop
    * per edge-touched node — folded into the same distinct, so the node
    * set costs no pass of its own — then both directions of every real
    * edge, hash-partitioned by the propagation join key and persisted
    * (every iteration joins on dst; without the resident partitioning
    * the large-at-scale edge set would re-shuffle once per iteration).
    * The self-loops are what let each pass be ONE join + ONE aggregate:
    * they fold a node's own label into the per-node minimum, so no
    * join-back against the previous level is needed (see
    * [[propagateOver]]).
    */
  private def propagationEdges(undirected: DataFrame): DataFrame =
    undirected
      .select(explode(array(
        struct(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")),
        struct(col("src").as("a"), col("src").as("b")),
        struct(col("dst").as("a"), col("dst").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      // duplicate pairs, input self-loops, and the per-endpoint
      // self-loop candidates all collapse in one partial-aggregated
      // distinct (map-side dedup keeps the shuffled volume near the
      // unique-edge count, not the 3x exploded row count)
      .distinct()
      .select(posexplode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as(Seq("p", "e")))
      // a self-loop must enter once, not once per direction
      .filter(col("p") === 0 || col("e.src") =!= col("e.dst"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist()

  /** The PROPAGATION schedule, over a [[propagationEdges]] frame —
    * built by [[propagatedLabels]], or handed over already-materialized
    * by the fused-telemetry auto path ([[autoLabels]]'s zero-round
    * hand-off, which reuses its telemetry frame instead of paying a
    * second materialization chain). Owns the frame: every exit path
    * unpersists it once the labels no longer need it.
    *
    * Each pass of the shared [[fixpoint]] loop attaches the current
    * labels on dst (reusing the frame's resident hash partitioning) and
    * takes the per-src minimum; the self-loop rows fold each node's OWN
    * label into that minimum, so one join + one aggregate per pass
    * replaces the old neighbor-min + left-join-back shape (two shuffle
    * ops per pass, not three) — and, decisive for the driver at high
    * iteration counts, each level's plan references its predecessor
    * ONCE, so plan trees grow LINEARLY in the pass count between
    * [[residentLevel]] truncations instead of doubling per pass (the
    * round-20 heap-pressure fix: the 2^k tree OOM'd an 8 GB driver at 8
    * untruncated levels once the level base carried the fused telemetry
    * frame's deeper subtree). Convergence is the label-sum fixpoint:
    * labels only decrease, so an unchanged sum needs no confirmation.
    */
  private def propagateOver(edges: DataFrame, maxIter: Int): DataFrame = {
    // propagate only over edge-touched nodes: the label frame scales with
    // the DUP population (tiny next to the corpus), and the untouched
    // majority joins back in once at the end as its own canonical id
    def propagate(cur: DataFrame): DataFrame =
      edges.join(cur, col("dst") === col("id"))
        .groupBy(col("src").as("id")).agg(min(col("lbl")).as("lbl"))
    // the initial level reads the node set off the self-loop rows — a
    // shuffle-free filter of the resident frame whose dst-partitioning
    // survives the alias into (id, lbl)
    val (lbl, freeLbl) = residentLevel(
      edges.filter(col("src") === col("dst"))
        .select(col("dst").as("id"), col("dst").as("lbl")), truncate = false)
    val r = fixpoint(lbl, freeLbl, labelSum(lbl), propagate, truncateLevels,
      labelSum, _ => true, maxIter)
    if (r.converged) { edges.unpersist(); r.level }
    else {
      // A diameter past maxIter is a GRAPH-SHAPE surprise, not a reason
      // to kill a 100 TB pipeline: the switch is loud on stderr because
      // hitting it usually means the caller's pair graph is chain-shaped
      // and should use canonicalizeStar/canonicalizeHybrid directly.
      trace(s"[graft] min-label propagation did not converge " +
        s"within $maxIter iterations (component diameter exceeds it); " +
        "falling back to star contraction of the label-contracted residue")
      warmStartFallback(edges, r.level, r.free)
    }
  }

  /** Sum of a level's labels — they only decrease, so an unchanged sum
    * is the propagation fixpoint; decimal(38,0) avoids overflow on wide
    * id spaces, and the Scala BigDecimal compares by value.
    */
  private def labelSum(d: DataFrame): BigDecimal =
    BigDecimal(Option(d.agg(sum(col("lbl").cast("decimal(38,0)")))
      .first().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO))

  /** Edge budget under which the warm-start fallback's residual
    * label-space graph routes to the driver union-find — the same
    * crossover CcProbe pinned for the entry-point gate (500k), and in
    * any realistic exhaustion the residue sits orders of magnitude
    * under it (see [[warmStartFallback]]).
    */
  private val warmStartLocalEdges = 500000L

  /** WARM-START exhaustion fallback (round 20; VERDICT r19 item 1):
    * when the propagation budget exhausts, the passes already paid are
    * not discarded — the graph is CONTRACTED BY THE PARTIAL LABELS and
    * only the residue is re-solved. Until round 19 the fallback
    * restarted [[starLabels]] on the WHOLE edge set: on CcProbe's
    * 10M-edge mixture (one 64-chain hiding in 5M two-edge paths) that
    * re-contracted 5M already-converged components to fix one chain.
    *
    * Why the quotient is exact: labels only flow along edges, so two
    * nodes sharing a partial label are provably connected, and mapping
    * every edge to its endpoints' labels yields a quotient graph whose
    * components are exactly the original components' images. A fully
    * converged component carries one label, so its edges quotient to
    * self-loops and VANISH — the quotient holds only the unconverged
    * residue. And because every component's minimum node labels itself
    * (labels only decrease; nothing in the component is smaller), the
    * quotient's node ids are original node ids whose min-label fixpoint
    * IS the component-min fixpoint: solving CC over the quotient and
    * composing through the partial labels (one broadcast-sized join)
    * reproduces [[canonicalize]]'s exact output contract.
    *
    * Size: each partial label is the min id within `maxIter` hops, so a
    * diameter-D component leaves ~D/maxIter quotient nodes — any
    * realistic exhaustion leaves a residue orders of magnitude under
    * the union-find gate and is solved on the driver in milliseconds;
    * a residue past [[warmStartLocalEdges]] takes the star contraction,
    * so the bound survives adversarial shapes. The quotient itself
    * costs ONE dst-aligned join against the resident label frame plus
    * one shuffle of undirected edge keys (the bidirectional frame
    * carries each edge once per direction, so grouping by the
    * undirected key collects both endpoint labels without a second
    * pass over the edge set).
    */
  private def warmStartFallback(edges: DataFrame, lbl: DataFrame,
      freeLbl: () => Unit): DataFrame = {
    val quotient = edges.join(lbl, col("dst") === col("id"))
      .select(least(col("src"), col("dst")).as("ka"),
        greatest(col("src"), col("dst")).as("kb"), col("lbl"))
      .groupBy("ka", "kb")
      .agg(min("lbl").as("la"), max("lbl").as("lb"))
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("src"), col("lb").as("dst"))
    val (res, freeRes) = residentLevel(quotient, truncate = true)
    edges.unpersist()
    val n = res.count() // cheap: counts the eager checkpoint's blocks
    if (n == 0L) {
      // the final pass converged exactly AT the budget (the label-sum
      // check needs one more pass to observe it): lbl is the fixpoint
      freeRes()
      lbl
    } else {
      trace(s"[graft] warm-start fallback: re-solving $n residual " +
        "label-space edge(s)")
      val resLbl =
        if (n <= warmStartLocalEdges) localLabels(res)
        else starLabels(res, maxRounds = 50)
      val composed = lbl.join(
          resLbl.select(col("id").as("rid"), col("lbl").as("rlbl")),
          col("lbl") === col("rid"), "left")
        .select(col("id"), coalesce(col("rlbl"), col("lbl")).as("lbl"))
      val (out, _) = residentLevel(composed, truncate = true)
      freeLbl()
      freeRes()
      out
    }
  }

  /** Iterations between plan-truncating checkpoints in the iterative
    * component algorithms (see [[residentLevel]]).
    */
  private val truncateLevels = 8

  /** The checkpoint blocks behind a truncated level, for prompt release. */
  private def checkpointBlocks(d: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    d.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }

  /** Level residency for the shared CC [[fixpoint]] loop (every
    * propagation pass and star round), measured on CcProbe's axes
    * (docs/SCALING.md round 15) — each level is made resident one of two
    * ways, and the returned thunk releases it; callers free level k−1 as
    * soon as level k is material (the earlier retain-until-exit shape
    * persisted every level of a deep propagation at once):
    *   - persist(): columnar, compact, partitioning-aware — the common
    *     case. But caching does not truncate the plan TREE: level k's
    *     analyzed plan embeds its (multiple) references to level k−1's,
    *     so tree size (and the plan string AQE renders per job) grows
    *     exponentially in the iteration count — the driver OOM'd at ~17
    *     levels on the probe's chain axis, a shape near-dup graphs
    *     (diameter ≤ ~3) never reach but a correct operator must survive.
    *   - localCheckpoint(true) every [[truncateLevels]]-th level:
    *     flattens the plan to a LogicalRDD, so tree size is bounded by
    *     ~2^truncateLevels copies of a flat segment base, constant in
    *     the iteration count. Checkpointing EVERY level instead was
    *     measured strictly worse on both big-graph axes: the row-object
    *     block store is ~3x fatter than the columnar cache (executor OOM
    *     at 30M edges where persist() ran in 26 s) and the LogicalRDD's
    *     lost hash partitioning re-shuffles the label frame every
    *     iteration (10M-edge star: 24.1 s vs 12.1).
    * Both block stores spill to disk, so "released level while a
    * survivor's partition was evicted" cannot strand a recompute: blocks
    * are never silently dropped. The checkpoint store is
    * MEMORY_AND_DISK_SER, not the default deserialized level — the
    * round-17 deep-cell runs (100M edges × diameter 16) OOM'd a 32 GB
    * heap through the DESERIALIZED store: on a deep graph the star
    * rounds' outputs stay near-full-size (contraction halves diameter
    * long before it shrinks the edge count), and unrolling ~200M-row
    * levels as row OBJECTS both triples the resident bytes and allocates
    * giant doubling arrays that blow the heap before eviction can react;
    * serialized blocks unroll into chunked byte buffers and spill
    * incrementally (same run completes in the same heap, table in
    * docs/SCALING.md round 17). The persist() branch is LAZY — the
    * caller must run an action that scans the level in full (the
    * convergence aggregate, in both algorithms) before releasing its
    * predecessor.
    */
  private def residentLevel(df: DataFrame,
      truncate: Boolean): (DataFrame, () => Unit) =
    if (truncate) {
      // eager: blocks exist on return
      val c = df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      (c, () => checkpointBlocks(c).foreach(_.unpersist(false)))
    } else {
      val p = df.persist()
      (p, () => { p.unpersist(); () })
    }

  /** Default hot-band width: band buckets wider than this get salted.
    * Per-task join work for a salted bucket of width n is bounded by
    * ~`width · n` rows instead of `n²` in one task; the right side is
    * replicated only for hot keys, so well-distributed corpora pay one
    * extra count aggregation and nothing else.
    */
  val defaultHotBandWidth: Int = 1024

  /** Corpus-wide duplicate-segment removal (the C4 recipe re-expressed at
    * word-chunk granularity, since this corpus has no newlines): split
    * each document into non-overlapping `k`-word segments, keep only the
    * FIRST occurrence of each distinct segment corpus-wide — first =
    * lexicographic min of (doc id, segment index) — and rebuild each
    * document from its surviving segments.
    *
    * Scale shape: the segment stream is narrow (one explode, no
    * shuffle); the keeper election is ONE hash shuffle on the segment
    * value — a partial-agg-able groupBy min, so a corpus-dominant
    * boilerplate segment reaches its reducer as one partial row per map
    * task instead of serializing the whole occurrence stream onto one
    * task (the earlier window-min form did exactly that — window
    * functions have no map-side combine and a window partition cannot
    * be split). The rebuild then aggregates the KEEPER rows — one row
    * per distinct segment corpus-wide — by doc id and joins them onto a
    * narrow per-doc spine; the full segment stream is never shuffled
    * again and the hot segment never travels as more than its partial
    * minima. All linear in corpus size — at 100 TB you'd key the
    * election shuffle on a segment hash and keep the string only for
    * the final equality check.
    *
    * @return per-document (id, n_segments, n_kept, kept_text), where
    *         kept_text is the surviving segments joined in order ("" if
    *         every segment was seen earlier in the corpus).
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, "segment width must be positive")
    val ws = df.select(col(idCol).as("id"), split(col(textCol), " ").as("_ws"))
    // ceil(n/k) non-overlapping segments incl. the short tail, built by
    // the native word_chunks walk (see TextAnalysis.gramArray's scaladoc)
    val segs = ws
      .select(col("id"),
        posexplode(call_function("word_chunks", col("_ws"), lit(k))))
      .withColumnRenamed("pos", "ci").withColumnRenamed("col", "seg")
    // keeper election: corpus-wide first occurrence = min (id, ci) per
    // distinct segment, partial-agg-able (cf. [[exact]]'s de-skew note)
    val keepers = segs.groupBy("seg")
      .agg(min(struct(col("id"), col("ci"))).as("_m"))
      .select(col("_m.id").as("id"), col("_m.ci").as("ci"), col("seg"))
    // per-doc rebuild from keeper rows ONLY (collect_list sorts by the
    // doc-unique ci, so segment order is restored deterministically)
    val kept = keepers.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("ci"), col("seg")))),
          s => s.getField("seg")), " ").as("kept_text"))
    // narrow per-doc spine: segment count needs no explode, and the
    // size() filter reproduces the exploded form's row set (null text
    // produced no exploded rows, so it stays absent here too)
    ws.select(col("id"),
        size(call_function("word_chunks", col("_ws"), lit(k)))
          .cast("long").as("n_segments"))
      .filter(col("n_segments") > 0)
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Candidate (a, b) id pairs (a < b) sharing any blocking key — the LSH
    * band self-join with ADAPTIVE skew salting. Bucket widths are counted
    * first (map-side-combined aggregation, tiny output); keys wider than
    * `hotWidth` get `ceil(n / hotWidth)` salts: the left occurrence of a
    * row picks one deterministic salt (hash of id), the right occurrence
    * is replicated across that key's salts, so the emitted pair set is
    * exactly the plain self-join's while one degenerate band key (a
    * near-empty-doc corpus collapsing into one bucket) spreads across
    * its salts instead of serializing a single task. The quadratic SIZE
    * of such a bucket's candidate output is inherent to LSH semantics —
    * salting distributes the work, it cannot shrink it.
    *
    * `carry` renames extra columns onto each side of the pair, e.g.
    * `("simhash", "ha", "hb")` for the Hamming verification.
    *
    * `preMaterialized` tells this join the caller already truncated the
    * expensive part of `keyed`'s lineage (an eager checkpoint of the
    * signature frame immediately upstream), so re-reading it three times
    * only re-evaluates a cheap projection over checkpointed blocks —
    * re-checkpointing would add one whole job plus a copy pass per call
    * (round 21; the d5 family's profiled cost is fixed job-count
    * overhead). Callers whose `keyed` carries a real pipeline (the
    * minhash/simhash walks) keep the default and get the checkpoint.
    */
  private[operators] def bandedPairs(keyed: DataFrame, keyCols: Seq[String],
      hotWidth: Int, carry: Seq[(String, String, String)] = Nil,
      preMaterialized: Boolean = false): DataFrame = {
    require(hotWidth > 0, "hotWidth must be positive")
    val kc = keyCols.map(col)
    // three consumers (width counts, x side, y side) would each recompute
    // the upstream signature pipeline — and all three feed ONE output job,
    // where a lazy cache race-computes instead of filling once. Eager
    // localCheckpoint materializes the band-key frame exactly once: a few
    // small columns per (doc, band), negligible next to the corpus. A
    // caller that already materialized its band keys (incrementalNearDup
    // checkpoints them for its own two probes) passes a LogicalRDD leaf,
    // where re-checkpointing would only add a copy pass and a job
    val k = keyed.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => keyed
      case _ if preMaterialized => keyed
      case _ => keyed.localCheckpoint(true)
    }
    // hot keys only — rare by construction of a good hash family, so the
    // broadcast stays small even at corpus scale
    val hot = k.groupBy(kc: _*).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > hotWidth)
      .select(kc :+ ceil(col("_n") / hotWidth).cast("int").as("_s"): _*)
    val withS = k.join(broadcast(hot), keyCols, "left")
      .withColumn("_s", coalesce(col("_s"), lit(1)))
    def side(idName: String, pick: Int): DataFrame = {
      val salt =
        if (pick == 0) pmod(hash(col("id")), col("_s"))
        else explode(sequence(lit(0), col("_s") - 1))
      withS.withColumn("_salt", salt)
        .select((kc :+ col("_salt") :+ col("id").as(idName)) ++
          carry.map { case (c, a, b) => col(c).as(if (pick == 0) a else b) }: _*)
    }
    side("a", 0).join(side("b", 1), keyCols :+ "_salt")
      .filter(col("a") < col("b"))
      .select(("a" +: "b" +: carry.flatMap(c => Seq(c._2, c._3))).map(col): _*)
      .distinct()
  }
}
