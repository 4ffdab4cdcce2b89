package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora (north-star scope,
  * BASELINE.json): exact, n-gram Jaccard (exact, inverted-index join),
  * MinHash+LSH (approximate, scale path), SimHash. All are expressed as
  * declarative plans (codegen-friendly builtins + higher-order functions) —
  * no UDFs, no driver-side loops — so Catalyst handles pushdown/AQE and the
  * shuffles are the unavoidable ones (group-bys and the candidate join).
  */
object Dedup {

  /** Word n-gram shingle set of a text column (deduplicated). Short texts
    * (< n words) get an empty set rather than an error.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Hashed word n-gram shingles as flat rows (id, h) — the workhorse
    * representation for Jaccard/MinHash at scale. The shingle array is
    * computed per row by the codegen'd [[graft.functions.ShingleHashExpr]]
    * (one byte-scan pass, no string concatenation) and exploded in place —
    * a narrow map-side operation with NO shuffle, unlike the round-1
    * posexplode+window formulation whose per-doc window Exchange carried
    * the entire token stream. May contain duplicate (id, h) rows;
    * MIN-based consumers don't care, set consumers dedup in the array.
    */
  // NOT spread (r17, measured): this feeds map-only broadcast-semi-join
  // pipelines (decontaminate c01/c06) whose gram compute is cheap next to
  // the exchange a spread would add — c01 read +0.3 s, c06 +0.5 s with it.
  def hashedShingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.ShingleFunctions.shingleHashes(col(textCol), n)).as("h"))

  /** Per-doc hashed shingle sets: (id, hs array<long>, sz). Entirely
    * map-side — `array_distinct` over the per-row shingle array replaces the
    * round-1 explode + collect_set groupBy and its full-corpus shuffle.
    * Docs too short to shingle (< n tokens, or null text) yield NO row —
    * every sz is >= 1, so downstream Jaccard denominators never hit 0/0.
    */
  def hashedShingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Spread.spread(df, col(idCol)).select(col(idCol).as("id"),
        array_distinct(graft.functions.ShingleFunctions.shingleHashes(col(textCol), n)).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("id"), col("hs"), size(col("hs")).as("sz"))

  /** Exact dedup: keep one row per duplicate group (lowest `keepBy`), like
    * `GROUP BY hash` with keep-first semantics. One shuffle on the group
    * hash; md5 keeps the shuffle key narrow even for long texts.
    */
  def dedupExact(df: DataFrame, textCol: String, keepBy: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(keepBy).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Case/whitespace-insensitive text normal form — the near-exact dedup
    * key used by [[dedupExactNormalized]]: lowercase, collapse whitespace
    * runs to one space, trim. Exposed so callers (and the oracle) can
    * state the exact same normalization.
    */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** NEAR-exact dedup on the normalized text: byte-identical-after-
    * normalization duplicates (case changes, reflowed whitespace — the
    * most common "same document, different crawl" shape) collapse to one
    * surviving row (lowest `keepBy`), exactly [[dedupExact]]'s plan on the
    * normalized key: one narrow md5-keyed shuffle, no pair join at all —
    * the cheap first pass a pipeline runs BEFORE MinHash/SimHash spend
    * effort on real near-dups.
    */
  def dedupExactNormalized(df: DataFrame, textCol: String, keepBy: String): DataFrame = {
    val w = Window.partitionBy(md5(normalizedText(col(textCol)))).orderBy(col(keepBy).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** EXACT n-gram-Jaccard near-duplicate pairs with similarity >= threshold.
    *
    * Plan: explode shingles → self-equi-join on the shingle (inverted
    * index — only docs sharing at least one shingle ever meet, never the
    * full cross product) → count shared shingles per pair → Jaccard from
    * |A|, |B|, |A∩B|.
    *
    * Scale: the shuffles are explode-groupBy sized by total shingle count
    * (linear in corpus size). The quadratic danger is a "stop shingle"
    * present in a large fraction of docs; `maxShingleDocFreq` drops such
    * shingles from the index (makes the result approximate — lossy only for
    * pairs whose entire overlap is stop-shingles). The lossless refinement
    * at extreme scale is prefix filtering; not needed at test SFs.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Option[Long] = None): DataFrame = {
    // join on the 64-bit hash of the shingle, not the string: the exploded
    // exchange carries (long, int, long) instead of raw text
    val ex0 = hashedShingleSets(df, idCol, textCol, n)
      .select(col("id"), col("sz"), explode(col("hs")).as("s"))
    val ex = maxShingleDocFreq match {
      case Some(cap) =>
        val freq = ex0.groupBy("s").agg(count("*").as("__df")).where(col("__df") <= cap)
        ex0.join(freq.select("s"), Seq("s"))
      case None => ex0
    }
    // shuffle-hash beats sort-merge here: both sides are narrow and the
    // per-shingle groups are small, so building a hash map avoids the sort
    val pairs = ex.as("a").join(ex.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT n-gram-Jaccard pairs via PREFIX FILTERING (Bayardo et al. 2007 /
    * Xiao et al. 2008 PPJoin) — the LOSSLESS extreme-scale refinement of
    * [[ngramJaccardPairs]]'s stop-shingle cap: under any global total order
    * (ascending hash here), two sets with J ≥ t MUST share an element
    * within their first `sz − ⌈t·sz⌉ + 1` elements (J ≥ t forces
    * |A∩B| ≥ ⌈t·sz⌉ on BOTH sides, so a disjoint prefix leaves too little
    * suffix to hold the intersection). Only prefixes are exploded into the
    * inverted index — at t = 0.8 that is ~20% of the shingle volume, and
    * unlike `maxShingleDocFreq` no qualifying pair can ever be lost. The
    * length filter (t·szA ≤ szB ∧ t·szB ≤ szA, another J ≥ t necessity)
    * prunes candidates in the join condition; survivors verify by exact
    * Jaccard on the full sets. Output ≡ [[ngramJaccardPairs]] with no cap.
    */
  def prefixFilterPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold < 1,
      s"prefixFilterPairs: threshold must be in (0,1), got $threshold")
    val sorted = hashedShingleSets(df, idCol, textCol, n)
      .select(col("id"), array_sort(col("hs")).as("hs"), col("sz"))
    val ex = sorted.select(col("id"), col("sz"),
      explode(slice(col("hs"), lit(1),
        (col("sz") - ceil(col("sz") * lit(threshold)) + 1).cast("int"))).as("s"))
    val cand = ex.as("a").join(ex.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.sz") * lit(threshold) <= col("b.sz") &&
          col("b.sz") * lit(threshold) <= col("a.sz"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sorted.select(col("id").as("id_a"), col("hs").as("sh_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sorted.select(col("id").as("id_b"), col("hs").as("sh_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("inter",
        graft.functions.ShingleFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Shingle-containment pairs — the ASYMMETRIC near-dup relation
    * C(A→B) = |A∩B| / |A| (Broder's containment): catches a document
    * quoted or wholly embedded inside a larger one, which symmetric
    * Jaccard misses whenever the host is much bigger (J = |A∩B|/|A∪B|
    * shrinks with the size gap; containment doesn't). The standard
    * crawl-curation companion to [[ngramJaccardPairs]] for page-wrap /
    * boilerplate-host / quotation dedup.
    *
    * Emits one DIRECTED row `(id_src, id_sup, containment)` per direction
    * that clears the threshold: src is the (near-)contained document, sup
    * its host. Same inverted-index equi-join plan as Jaccard — one
    * intersection count per unordered pair, both directions derived from
    * it map-side, never a cross product; `maxShingleDocFreq` is the same
    * stop-shingle skew cap.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentPairs: threshold must be in (0,1], got $threshold")
    val ex0 = hashedShingleSets(df, idCol, textCol, n)
      .select(col("id"), col("sz"), explode(col("hs")).as("s"))
    val ex = maxShingleDocFreq match {
      case Some(cap) =>
        val freq = ex0.groupBy("s").agg(count("*").as("__df")).where(col("__df") <= cap)
        ex0.join(freq.select("s"), Seq("s"))
      case None => ex0
    }
    val pairs = ex.as("a").join(ex.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .select(explode(array(
        struct(col("id_a").as("id_src"), col("id_b").as("id_sup"),
          (col("inter").cast("double") / col("sz_a")).as("containment")),
        struct(col("id_b").as("id_src"), col("id_a").as("id_sup"),
          (col("inter").cast("double") / col("sz_b")).as("containment")))).as("e"))
      .select(col("e.id_src").as("id_src"), col("e.id_sup").as("id_sup"),
        col("e.containment").as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003, the MOSS algorithm): md5 each word `k`-gram, then keep the
    * MINIMUM hash of every sliding window of `w` consecutive k-gram hashes.
    * The winnowing guarantee: any shared substring of at least `k + w - 1`
    * words yields at least one shared fingerprint, while expected
    * fingerprint density is only 2/(w+1) of the shingle count — i.e.
    * SUBSTRING-level duplication detection (a lifted paragraph inside an
    * otherwise-different doc) that whole-doc Jaccard (d04) and MinHash
    * (d02) both dilute away, at a fraction of the index size.
    *
    * Entirely map-side off the scan (split → k-gram md5 → windowed min →
    * distinct → explode); output volume ≈ 2·shingles/(w+2) rows. md5
    * strings (not xxhash64) deliberately: the hash VALUES drive the
    * windowed-min selection, and md5 is bit-identical in every engine, so
    * the whole operator is oracle-checkable; at 100 TB the md5-vs-xxhash
    * cost difference is dwarfed by the (w+1)/2-fold index shrink. Docs
    * shorter than `k + w - 1` words emit no fingerprints.
    * Output: (id, fp) — fp is the raw 16-byte md5 digest of a selected
    * k-gram (BinaryType; hex-equivalent ordering, see the body note).
    */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1: got k=$k w=$w")
    // fp is the RAW 16-byte digest (`unhex(md5(...))`), not the 32-char hex
    // string (r18, guide §2.3 "narrower types"): fingerprints are the join
    // and shuffle key of every consumer, and the binary form halves the key
    // bytes. Selection is unchanged — BinaryType orders by unsigned
    // byte comparison, and for equal-length lowercase-hex the hex string's
    // lexicographic order IS nibble-by-nibble unsigned byte order ('0'<'9'
    // <'a'<'f' monotone in ASCII), so `array_min` picks the same k-gram and
    // equality/distinctness are bijection-preserved. The oracle states hex
    // strings; fingerprints never appear in any declared output, only the
    // pair ids/counts derived from them, which are bit-identical.
    Spread.spread(df, col(idCol)).where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), split(col(textCol), " ").as("__w"))
      .where(size(col("__w")) >= k + w - 1) // guards sequence() against negative bounds too
      .select(col("id"),
        expr(s"transform(sequence(0, size(__w) - $k), i -> unhex(md5(array_join(slice(__w, i + 1, $k), ' '))))")
          .as("__mds"))
      .select(col("id"),
        explode(expr(
          s"array_distinct(transform(sequence(0, size(__mds) - $w), j -> array_min(slice(__mds, j + 1, $w))))"))
          .as("fp"))
  }

  /** Substring-duplication pairs via winnowing: docs sharing at least
    * `minShared` selected fingerprints. Same inverted-index join shape as
    * [[ngramJaccardPairs]] — only docs sharing a fingerprint ever meet —
    * over an index ~w-fold smaller than the full shingle index.
    * `maxFingerprintDocFreq` drops boilerplate fingerprints present in more
    * than that many docs (the d04 stop-shingle hazard, same cap semantics:
    * lossy only for pairs whose entire overlap is boilerplate).
    */
  def winnowingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4,
      minShared: Long = 2L,
      maxFingerprintDocFreq: Option[Long] = None): DataFrame = {
    val fp0 = winnowingFingerprints(df, idCol, textCol, k, w)
    val fp = maxFingerprintDocFreq match {
      case Some(cap) =>
        val ok = fp0.groupBy("fp").agg(count(lit(1)).as("__df")).where(col("__df") <= cap)
        fp0.join(ok.select("fp"), Seq("fp"))
      case None => fp0
    }
    // shuffle-hash like d04: narrow rows, small per-fingerprint groups
    fp.as("a").join(fp.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Cross-corpus near-dedup: drop every `corpus` doc whose n-gram Jaccard
    * against ANY `reference` doc reaches `threshold` — deduping a new crawl
    * against an already-kept corpus (the incremental-ingest counterpart of
    * [[ngramJaccardPairs]]; exact precision/recall, same inverted-index
    * plan shape, bipartite so the candidate join is corpus×reference only
    * — never corpus², never a cross product). `maxShingleDocFreq` caps
    * stop-shingles across BOTH sides, like d04. Returns surviving corpus
    * rows. At extreme scale swap the verify step for the MinHash-banded
    * candidates of [[minhashLshPairs]] — the anti-join tail is identical.
    */
  def crossDedup(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Option[Long] = None): DataFrame = {
    val ca = hashedShingleSets(corpus, idCol, textCol, n)
      .select(col("id"), col("sz"), explode(col("hs")).as("s"))
    val cb0 = hashedShingleSets(reference, idCol, textCol, n)
      .select(col("id").as("rid"), col("sz").as("rsz"), explode(col("hs")).as("s"))
    val cb = maxShingleDocFreq match {
      case Some(cap) =>
        val freq = ca.select(col("s")).union(cb0.select(col("s")))
          .groupBy("s").agg(count(lit(1)).as("__df")).where(col("__df") <= cap)
        cb0.join(freq.select("s"), Seq("s"))
      case None => cb0
    }
    // capping only the reference side suffices: a corpus shingle row whose
    // hash was dropped from `cb` simply finds no join partner
    val losers = ca.join(cb.hint("shuffle_hash"), Seq("s"))
      .groupBy(col("id"), col("rid"), col("sz"), col("rsz"))
      .agg(count(lit(1)).as("inter"))
      .where(col("inter").cast("double") / (col("sz") + col("rsz") - col("inter")) >= threshold)
      .select(col("id").as(idCol)).distinct()
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** The 100 TB path for [[crossDedup]]: MinHash-banded candidates between
    * corpus and reference (equi-join on (band, bucket) — candidate count ≈
    * true near-dups + tunable noise instead of every shingle co-occurrence),
    * then exact-Jaccard verify on the candidate pairs only, then the same
    * anti-join tail. Precision exact; recall is the LSH collision curve at
    * the chosen bands×rows (spec-checked against [[crossDedup]]).
    *
    * `maxBucketSize` (DEFAULT ON at 10 000, the [[minhashLshPairs]]
    * contract adapted to the bipartite shape): a (band, bucket) whose
    * occupancy exceeds the cap on EITHER side would emit |corpus∩bucket| ×
    * |reference∩bucket| candidates — quadratic on verbatim-replicated
    * boilerplate. Hot buckets switch to STAR candidates: every corpus
    * member pairs with the bucket's min-id REFERENCE doc only (linear in
    * corpus occupancy), and the exact-Jaccard verify still decides. For
    * the boilerplate corpora that create hot buckets the members are
    * verbatim copies of the rep, so they still flag; the loss is a corpus
    * doc near-dup to a NON-rep reference member only, in hot buckets
    * across all its bands — pathological at dedup thresholds.
    */
  def crossDedupLsh(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Long = 10000L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val rows = numHashes / bands
    val (a, b) = hashParams(numHashes)
    def banded(df: DataFrame): DataFrame = {
      // not spread — the minhashLshPairs signature-pass rationale (r17:
      // d13 measured +1.1 s with it)
      val sig = df.select(col(idCol).as("id"),
          graft.functions.ShingleFunctions.minhashSignature(
            graft.functions.ShingleFunctions.shingleHashes(col(textCol), shingleSize), a, b)
            .as("sig"))
        .where(col("sig").isNotNull)
      val bandCols = (0 until bands).map(bd => xxhash64(slice(col("sig"), bd * rows + 1, rows)))
      sig.select(col("id"), posexplode(array(bandCols: _*))).toDF("id", "band", "bucket")
    }
    val ca0 = Materialize(banded(corpus))   // referenced twice below
    val cb0 = Materialize(banded(reference).withColumnRenamed("id", "rid"))
    // hot-bucket detection watches BOTH sides' occupancy (the bipartite
    // candidate volume of a (band, bucket) is the PRODUCT): two narrow
    // map-side-combined aggregates, and the hot set is tiny by
    // construction (empty on healthy corpora), so AQE broadcasts the
    // joins below — the common path costs two cheap stats shuffles on top
    // of the candidate equi-join it always needed
    val aStats = ca0.groupBy("band", "bucket").agg(count(lit(1)).as("__an"))
    val bStats = cb0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bn"), min("rid").as("__rep"))
    val hot = aStats.join(bStats, Seq("band", "bucket"))
      .where(col("__an") > maxBucketSize || col("__bn") > maxBucketSize)
      .select("band", "bucket", "__rep")
    val caN = ca0.join(hot.select("band", "bucket"), Seq("band", "bucket"), "left_anti")
    val cbN = cb0.join(hot.select("band", "bucket"), Seq("band", "bucket"), "left_anti")
    val normalCand = caN.join(cbN, Seq("band", "bucket")).select(col("id"), col("rid"))
    // hot buckets: every corpus member pairs with the reference rep only
    val starCand = ca0.join(hot, Seq("band", "bucket"))
      .select(col("id"), col("__rep").as("rid"))
    val cand = normalCand.unionByName(starCand).distinct()
    val setsA = hashedShingleSets(corpus, idCol, textCol, shingleSize)
      .select(col("id"), col("hs").as("sh_a"))
    val setsB = hashedShingleSets(reference, idCol, textCol, shingleSize)
      .select(col("id").as("rid"), col("hs").as("sh_b"))
    val losers = cand.join(setsA, Seq("id")).join(setsB, Seq("rid"))
      .withColumn("inter",
        graft.functions.ShingleFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .where(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= threshold)
      .select(col("id").as(idCol)).distinct()
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  // Affine MinHash parameters from a fixed seed — reproducible across runs.
  // 31-bit modular space: base hash and multipliers < 2^31, so a*h + b
  // stays < 2^63 and never overflows Long under ANSI arithmetic.
  private val MersennePrime = 2147483647L // 2^31 - 1
  private[graft] def hashParams(numHashes: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    val a = Array.fill(numHashes)(math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1)
    val b = Array.fill(numHashes)(math.abs(rnd.nextLong()) % MersennePrime)
    (a, b)
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * Pipeline: signature → split into `bands` bands of `numHashes/bands`
    * rows → hash each band → explode (id, band, bucket) → self-join on
    * (band, bucket) to get candidates (this is the LSH trick: only docs
    * agreeing on a full band collide — expected candidates ≈ true near-dups
    * + controllable noise, not O(n²)) → distinct pairs → exact-Jaccard
    * verify on the shingle sets.
    *
    * Approximate by design (recall < 1 for borderline pairs) — hence no SQL
    * oracle; the spec checks recall against [[ngramJaccardPairs]].
    *
    * `maxBucketSize` (DEFAULT ON at 10 000): a (band, bucket) holding C
    * docs yields C² candidate pairs from the self-join — on a corpus with
    * heavy verbatim replication (identical headers/footers across millions
    * of docs) one hot bucket becomes a quadratic straggler task at 100 TB.
    * Buckets larger than the cap switch from all-pairs to STAR pairing:
    * every member links to the bucket's min-id representative only, so a
    * hot bucket of C docs emits C−1 candidates instead of C²/2, and total
    * candidate volume is ≤ Σ min(n_b², n_b·cap) — linear in the hot mass.
    * Recall contract: within a hot bucket, pairs passing through the
    * representative survive the exact-Jaccard verify whenever both members
    * are near-dups of the rep — for the boilerplate corpora that create
    * hot buckets the members ARE verbatim copies, so the downstream
    * transitive closure ([[neardupClusters]]) recovers the full group from
    * the star. The loss is a pair similar to EACH OTHER but not to the
    * rep whose every agreeing band is hot — pathological at dedup
    * thresholds. The per-bucket occupancy/rep come from one window over
    * the banded rows, the same (band, bucket) shuffle the self-join needs.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Long = 10000L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val rows = numHashes / bands
    // the whole numHashes-wide signature is computed per row, map-side, by
    // the codegen'd MinHashSigExpr — zero shuffle (round 1 exploded shingle
    // rows into a groupBy of numHashes MIN aggregates, whose Exchange —
    // though partially combined — still sorted/hashed the exploded stream).
    // Duplicate shingles in the array are harmless: MIN over a multiset
    // equals MIN over its set.
    val (a, b) = hashParams(numHashes)
    // signature pass NOT spread (r17, measured +0.6 s on d02): the xxhash
    // production kernel is fast enough at this fan-in that the spread's
    // exchange costs more than the parallelism buys; the md5 parity family
    // (md5MinhashFrame) keeps its spread — its per-token md5 chain is an
    // order of magnitude heavier
    val sig = df.select(col(idCol).as("id"),
        graft.functions.ShingleFunctions.minhashSignature(
          graft.functions.ShingleFunctions.shingleHashes(col(textCol), shingleSize), a, b)
          .as("sig"))
      .where(col("sig").isNotNull) // docs too short to shingle carry no signature
    val bandCols = (0 until bands).map { bd =>
      xxhash64(slice(col("sig"), bd * rows + 1, rows))
    }
    val banded0 = Materialize(sig.select(col("id"), posexplode(array(bandCols: _*)))
      .toDF("id", "band", "bucket")) // referenced 3× below (stats, anti-join, star)
    // hot-bucket detection is one NARROW aggregate (count+min with map-side
    // partial combine — no sort, unlike a window) and the hot set is tiny
    // by construction (≤ |banded|/cap buckets, empty on healthy corpora),
    // so AQE broadcasts both joins below: the common path costs ONE cheap
    // stats shuffle on top of the candidate self-join it always needed.
    val hot = banded0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n"), min("id").as("__rep"))
      .where(col("__n") > maxBucketSize)
      .select("band", "bucket", "__rep")
    val normal = banded0.join(hot.select("band", "bucket"), Seq("band", "bucket"), "left_anti")
    val allPairs = normal.as("a").join(normal.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // hot buckets: star pairs to the representative (rep = min id, so the
    // id_a < id_b invariant holds by construction)
    val starPairs = banded0.join(hot, Seq("band", "bucket"))
      .where(col("id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("id").as("id_b"))
    val cand = allPairs.unionByName(starPairs).distinct()
    // exact-Jaccard verification of the candidates, on hashed shingle sets
    // (intersection cardinality is hash-invariant w.h.p.; long arrays join
    // and intersect far cheaper than text arrays)
    val sets = hashedShingleSets(df, idCol, textCol, shingleSize)
      .select(col("id"), col("hs").as("sh"))
    cand
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("inter",
        graft.functions.ShingleFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[minhashLshPairs]]' ORACLE-PARITY variant — the d15 pattern applied
    * to the MinHash family, which closes the last approximate-dedup family
    * without a cross-engine check. Every stage is SQL-statable in both
    * engines: shingle hashes are the first 7 md5 hex digits (28-bit — the
    * [[graft.operators.TrainingPipeline.sampleFraction]] trick, so
    * `a·h + b` stays ≤ 2⁵⁹ and overflows nowhere), signatures are plain
    * `min((a_j·h + b_j) mod p)` folds, band buckets are the band's
    * signature values joined as a STRING (bucket equality ≡ slice
    * equality — no band-hash to diverge on), and candidates verify by
    * exact Jaccard on the distinct hashed shingle sets. Same banded plan
    * shape as the xxhash64 production default; md5 costs more per token,
    * which is why the fast default stays and THIS variant is the one the
    * DuckDB gate hash-checks end to end (d19).
    */
  /** (id, hs, sig) frame for the md5 oracle-parity MinHash family: distinct
    * 28-bit md5 shingle hashes plus `numHashes` plain `(a·h+b) mod p`
    * signature mins — every element SQL-statable, shared by
    * [[minhashLshPairsMd5]] and [[crossDedupLshMd5]].
    */
  private[graft] def md5MinhashFrame(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int,
      keepCols: Seq[String] = Nil): DataFrame = {
    val (a, b) = hashParams(numHashes)
    // codegen'd kernels (r9): the round-8 formulation computed the hash set
    // through interpreted transform/array_distinct chains and the signature
    // through numHashes interpreted array_min(transform(...)) passes — d19
    // ran ~2x DuckDB on identical SQL. Md5ShingleHashesExpr produces the
    // SAME distinct 28-bit md5 hash set in one pass, and the signature
    // reuses the production MinHash kernel (28-bit hashes are < P, so
    // pmod(h, P) = h and (a*h + b) % P matches the SQL element for
    // element). Values — and the driver hashes — are unchanged.
    import graft.functions.ShingleFunctions.{md5ShingleHashes, minhashSignature}
    val w = split(col(textCol), " ")
    val keep = keepCols.map(col)
    Spread.spread(df, col(idCol)).where(size(w) >= shingleSize)
      .select((Seq(col(idCol).as("id"),
        md5ShingleHashes(col(textCol), shingleSize).as("hs")) ++ keep): _*)
      .select((Seq(col("id"), col("hs"),
        minhashSignature(col("hs"), a, b).as("sig")) ++ keep): _*)
  }

  /** Band buckets as STRINGS of the band's signature values: bucket
    * equality ≡ signature-slice equality, so there is no band hash for two
    * engines to diverge on.
    */
  private[graft] def md5BandBuckets(
      sig: DataFrame, bands: Int, rows: Int,
      keepCols: Seq[String] = Nil): DataFrame = {
    val bandCols = (0 until bands).map { bd =>
      array_join(transform(slice(col("sig"), bd * rows + 1, rows), v => v.cast("string")), ",")
    }
    sig.select((Seq(col("id"), posexplode(array(bandCols: _*)).as(Seq("band", "bucket"))) ++
      keepCols.map(col)): _*)
  }

  def minhashLshPairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val frame = md5MinhashFrame(df, idCol, textCol, shingleSize, numHashes)
    bandedJaccardPairs(frame, bands, numHashes / bands, threshold)
  }

  /** The md5 parity family's shared tail: band the `(id, hs, sig)` frame
    * into string buckets, meet candidates in the banded equi-join, verify
    * by exact rounded Jaccard on the hashed shingle sets. Shared by
    * [[minhashLshPairsMd5]] (classic per-slot MinHash) and
    * [[ophLshPairsMd5]] (one-permutation signature) — only the signature
    * kernel differs.
    */
  private def bandedJaccardPairs(
      frame: DataFrame, bands: Int, rows: Int, threshold: Double): DataFrame = {
    val banded = md5BandBuckets(frame, bands, rows)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sets = frame.select(col("id"), col("hs").as("sh"))
    cand
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("inter",
        graft.functions.ShingleFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[minhashLshPairsMd5]] with SIGNATURE-ONLY verification — the
    * bandwidth variant for 100 TB: exact-Jaccard verify ships each doc's
    * full shingle-hash set (100s–1000s of longs) through the candidate
    * join, while the MinHash estimator `|{j : sigA_j = sigB_j}| / k` needs
    * only the k-slot signature the banding already carries — an unbiased
    * estimate with σ = √(J(1−J)/k) (~6% at k=64), the classic
    * precision-for-bandwidth dial. Emits `(id_a, id_b, jaccard_est)` for
    * candidate pairs whose estimate clears `threshold`; every stage is
    * SQL-statable, so the row is full-oracle.
    */
  def minhashSigEstimatePairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // materialize the signature pass once: frame feeds BOTH the banding
    // stage and the two verify-side joins below — without the checkpoint
    // the full shingle+signature computation runs three times (the same
    // materialize-once discipline as incrementalDedupMd5)
    val frame = Materialize(md5MinhashFrame(df, idCol, textCol, shingleSize, numHashes)
      .select(col("id"), col("sig"))) // signatures only — hs never ships
    val banded = md5BandBuckets(frame, bands, numHashes / bands)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sigs = frame
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("jaccard_est", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
          x => x)).cast("double") / numHashes, 6))
      .where(col("jaccard_est") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard_est"))
  }

  /** One-permutation-hashing near-dup pairs (OPH + rotation densification)
    * — [[minhashLshPairsMd5]]'s banded pipeline with the signature stage
    * swapped for [[graft.functions.ShingleHash.ophSig]]: the per-shingle
    * cost drops from `numBins` affine transforms to ONE mod — at corpus
    * scale the signature pass is ~numBins× cheaper for the same LSH
    * banding economics, the reason OPH exists (Li, Owen & Zhang 2012). The
    * md5 28-bit hash base keeps every stage SQL-statable, so the whole
    * pipeline hash-checks against DuckDB end to end (d32), same as d19;
    * candidate verification is exact Jaccard either way, so densification
    * affects only recall, never emitted-pair precision.
    */
  def ophLshPairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBins: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    require(numBins % bands == 0, "numBins must be divisible by bands")
    import graft.functions.ShingleFunctions.{md5ShingleHashes, ophSignature}
    val w = split(col(textCol), " ")
    val frame = df.where(size(w) >= shingleSize)
      .select(col(idCol).as("id"), md5ShingleHashes(col(textCol), shingleSize).as("hs"))
      .select(col("id"), col("hs"),
        ophSignature(col("hs"), numBins, OphDensifyC).as("sig"))
    bandedJaccardPairs(frame, bands, numBins / bands, threshold)
  }

  /** Densification distance penalty for the md5 OPH family: one above the
    * 28-bit hash ceiling, so an occupied bin's own min (distance 0) always
    * wins and borrow values order first by circular distance, then by the
    * lender's min — the SQL-statable rotation rule.
    */
  val OphDensifyC: Long = 1L << 28

  /** [[crossDedupLsh]]'s ORACLE-PARITY variant — [[minhashLshPairsMd5]]'s
    * machinery applied bipartite, completing the md5 verification family
    * (d15 SimHash, d19 MinHash pairs, d20 cross-corpus): corpus and
    * reference each get the SQL-statable (hs, sig) frame, candidates meet
    * in the banded equi-join (string buckets), exact Jaccard on the hashed
    * sets (threshold on the ROUNDED value, matching the oracle) marks
    * corpus losers, and survivors anti-join out. The xxhash64
    * [[crossDedupLsh]] stays the production default.
    */
  def crossDedupLshMd5(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val fa = md5MinhashFrame(corpus, idCol, textCol, shingleSize, numHashes)
    val fb = md5MinhashFrame(reference, idCol, textCol, shingleSize, numHashes)
    val cand = md5BandBuckets(fa, bands, rows)
      .join(md5BandBuckets(fb, bands, rows).withColumnRenamed("id", "rid"),
        Seq("band", "bucket"))
      .select(col("id"), col("rid")).distinct()
    val losers = cand
      .join(fa.select(col("id"), col("hs").as("sh_a")), Seq("id"))
      .join(fb.select(col("id").as("rid"), col("hs").as("sh_b")), Seq("rid"))
      .withColumn("inter",
        graft.functions.ShingleFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("j", round(
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .where(col("j") >= threshold)
      .select(col("id").as(idCol)).distinct()
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Persist the MinHash/LSH dedup INDEX for `corpus` — the operational
    * 100 TB pattern that [[crossDedupLshMd5]] alone cannot serve: every
    * from-scratch run re-shingles and re-signs the ENTIRE corpus, but a
    * production corpus grows by increments, and only the increment should
    * pay signature cost. Two warehouse tables (the [[Bucketing]] layout
    * applied to the banded dedup frames):
    *
    *  - `{table}_docs` `(id, hs, sig)` — distinct md5 shingle-hash set and
    *    signature per doc, bucketed+sorted by `id`: the Jaccard-verify
    *    side of every future increment joins it WITHOUT shuffling the
    *    corpus-sized set table.
    *  - `{table}_bands` `(bkey, id)` — one row per (band, bucket), `bkey`
    *    the band index prefixed onto the band's signature slice (a single
    *    equi-join key; bucket equality ≡ slice equality, the md5 family's
    *    no-band-hash discipline), bucketed+sorted by `bkey`: increments
    *    probe it shuffle-free on the index side.
    *
    * The bands table derives from reading `{table}_docs` BACK, not from
    * the in-flight frame — signatures are computed exactly once per corpus
    * document, ever (write → read → band is column-pruned to `sig`).
    * Returns the two table-backed frames (docs, bands).
    */
  def writeMinhashIndex(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      buckets: Int = 16): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val frame = md5MinhashFrame(corpus, idCol, textCol, shingleSize, numHashes)
    val docs = Bucketing.writeBucketed(spark, frame, s"${table}_docs", "id", buckets)
    val banded = md5BandBuckets(docs, bands, numHashes / bands)
      .select(concat_ws(":", col("band"), col("bucket")).as("bkey"), col("id"))
    val bandsT = Bucketing.writeBucketed(spark, banded, s"${table}_bands", "bkey", buckets)
    (docs, bandsT)
  }

  /** APPEND an increment to a persisted [[writeMinhashIndex]] index — the
    * other half of the operational loop: after an increment is deduped and
    * admitted, its signatures join the index so FUTURE increments dedup
    * against it too, still without any base recompute. The increment's
    * (id, hs, sig) and band rows are inserted into the existing bucketed
    * tables with the SAME bucket spec (append-mode `bucketBy` writes land
    * new per-bucket files; the co-location invariant survives), so
    * append-then-probe is indistinguishable from rebuild-then-probe —
    * which is exactly what the d35 gate row hash-checks: an index built as
    * base + append must yield the same survivors as DuckDB recomputing
    * over the union from scratch.
    */
  def appendMinhashIndex(
      spark: SparkSession,
      increment: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      buckets: Int = 16): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val frame = md5MinhashFrame(increment, idCol, textCol, shingleSize, numHashes)
    // cluster on the bucket hash first: one appended file per bucket per
    // wave regardless of the increment's partitioning (the writeBucketed
    // file-count invariant, r17 — tasks×buckets files otherwise)
    frame.repartition(buckets, pmod(hash(col("id")), lit(buckets)))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").bucketBy(buckets, "id").sortBy("id")
      .saveAsTable(s"${table}_docs")
    // band rows derive from the JUST-WRITTEN docs rows (read back, pruned
    // to id+sig) so the increment's signatures are computed exactly once —
    // the same no-recompute discipline as writeMinhashIndex. The id filter
    // comes from the raw increment (cheap), not the signature frame:
    // too-short docs simply miss the semi join.
    val newIds = increment.select(col(idCol).as("id"))
    val banded = md5BandBuckets(
        spark.table(s"${table}_docs").join(newIds, Seq("id"), "left_semi"),
        bands, numHashes / bands)
      .select(concat_ws(":", col("band"), col("bucket")).as("bkey"), col("id"))
    banded.repartition(buckets, pmod(hash(col("bkey")), lit(buckets)))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").bucketBy(buckets, "bkey").sortBy("bkey")
      .saveAsTable(s"${table}_bands")
  }

  /** Compact a persisted [[writeMinhashIndex]] index after many
    * [[appendMinhashIndex]] waves: each append lands a fresh file per
    * bucket in BOTH index tables, so after N waves every probe lists and
    * opens ≥N files per bucket — cost growing with append COUNT, not index
    * size. One [[Bucketing.compactBucketed]] pass per table rewrites each
    * to exactly one file per bucket while preserving the bucket spec (and
    * with it the probe's no-exchange plan — spec-pinned). Run it on the
    * same cadence as any warehouse small-file compaction (b04): when
    * file-count per bucket, not data volume, starts to dominate probe
    * latency. Content is untouched — the d40 gate row hash-checks a
    * post-compaction probe against DuckDB recomputing from scratch.
    */
  def compactMinhashIndex(spark: SparkSession, table: String, buckets: Int = 16): Unit = {
    Bucketing.compactBucketed(spark, s"${table}_docs", "id", buckets)
    Bucketing.compactBucketed(spark, s"${table}_bands", "bkey", buckets)
  }

  /** Dedup a corpus INCREMENT against a persisted [[writeMinhashIndex]]
    * index: signatures are computed for the DELTA only, candidates meet in
    * the banded equi-join against `{table}_bands` (bucketed on `bkey` — no
    * exchange on the index side), verification joins `{table}_docs`
    * (bucketed on `id` — ditto), and surviving delta rows anti-join out.
    * The base corpus' TEXT is never re-read and no base signature is ever
    * recomputed — the whole point of persisting the index; at 100 TB the
    * increment path scales with |delta| + |matched index rows|, not
    * |corpus|. Semantics are exactly [[crossDedupLshMd5]] (delta vs base,
    * rounded exact-Jaccard ≥ threshold drops the delta doc), so the gate
    * row hash-checks against DuckDB recomputing everything from scratch.
    * Delta-internal near-dups are a separate concern — run
    * [[minhashLshPairsMd5]] on the delta first if the increment itself may
    * contain dups.
    */
  def incrementalDedupMd5(
      spark: SparkSession,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // one signature pass over the delta feeds both the band probe and the
    // verify join (the curate lesson: materialize the shared stage once)
    val frame = Materialize(md5MinhashFrame(delta, idCol, textCol, shingleSize, numHashes))
    val probe = md5BandBuckets(frame, bands, numHashes / bands)
      .select(concat_ws(":", col("band"), col("bucket")).as("bkey"), col("id"))
    // the index may already hold THIS delta's rows (foreachBatch crash
    // re-delivery lands after appendMinhashIndex committed but before the
    // streaming checkpoint did): a survivor would then self-match its own
    // appended row (Jaccard 1.0) and vanish from the re-written batch
    // partition — silent data loss. Excluding index candidates whose id is
    // in the delta makes re-delivery ≡ first delivery (a doc is never a
    // dup of its own admitted copy); the anti-join is delta-sized, never
    // index-sized.
    val cand = probe
      .join(spark.table(s"${table}_bands").withColumnRenamed("id", "rid"), Seq("bkey"))
      .join(frame.select(col("id").as("rid")), Seq("rid"), "left_anti")
      .select(col("id"), col("rid")).distinct()
    val losers = cand
      .join(frame.select(col("id"), col("hs").as("sh_a")), Seq("id"))
      .join(spark.table(s"${table}_docs").select(col("id").as("rid"), col("hs").as("sh_b")),
        Seq("rid"))
      .withColumn("inter",
        graft.functions.ShingleFunctions.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("j", round(
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .where(col("j") >= threshold)
      .select(col("id").as(idCol)).distinct()
    delta.join(losers, Seq(idCol), "left_anti")
  }

  /** Corpus snapshot diff — dataset versioning's primitive: classify every
    * id across two corpus versions as `added` (new only), `removed` (old
    * only) or `changed` (both, different content digest). Content equality
    * is by md5 of the text (comparing digests, not text, keeps the shuffle
    * rows narrow at corpus scale — the same reason d01 keys exact dedup on
    * md5); unchanged ids are NOT emitted, so the result is diff-sized, not
    * corpus-sized. One full-outer equi-join on id is the only shuffle.
    */
  def corpusDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def digested(df: DataFrame, tag: String) = df.select(
      col(idCol).as("id"), md5(coalesce(col(textCol), lit(""))).as(s"h_$tag"))
    digested(oldDf, "old").join(digested(newDf, "new"), Seq("id"), "full_outer")
      .withColumn("change",
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed")))
      .where(col("change").isNotNull)
      .select(col("id").as(idCol), col("change"))
  }

  /** Blocked fuzzy record linkage — the structured-records face of dedup
    * (entity resolution): candidate pairs meet in an equi-join on a
    * caller-chosen BLOCKING key (the classic recall/cost dial: only
    * same-block pairs are ever compared), a map-side length-band filter
    * discards pairs that cannot be within `maxDistance` (|len(a)−len(b)|
    * is a Levenshtein lower bound), and survivors verify by exact edit
    * distance. Both engines implement the same classic Levenshtein
    * definition, so the whole pipeline is full-oracle.
    *
    * Scale shape: one equi-join on the block key (the only shuffle),
    * length filter and edit distance map-side on candidates only. Feed it
    * DISTINCT canonical entities (dedupe-then-link) — linking raw rows
    * with heavy duplication explodes every block quadratically; and keep
    * blocks bounded (a hot block is a quadratic straggler — pre-aggregate
    * or refine the key).
    */
  def recordLinkagePairs(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      blockCol: String,
      maxDistance: Int = 2): DataFrame = {
    require(maxDistance >= 0, s"recordLinkagePairs: maxDistance must be >= 0, got $maxDistance")
    // both self-join sides read this frame: materialize once (callers
    // typically pass an AGGREGATED distinct-entity frame — recomputing it
    // per side doubles the dominant upstream cost)
    val base = Materialize(df.select(col(idCol).as("id"), col(nameCol).as("name"),
      col(blockCol).as("blk")))
    base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          abs(length(col("a.name")) - length(col("b.name"))) <= maxDistance)
      .withColumn("dist", levenshtein(col("a.name"), col("b.name")))
      .where(col("dist") <= maxDistance)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("dist").cast("long").as("dist"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC dedup over an
    * embedding column — k-means-cluster the corpus, call two documents
    * semantic duplicates when their within-cluster cosine reaches `eps`,
    * and keep ONE representative per duplicate group: the member LEAST
    * similar to its cluster centroid (the paper's diversity-preserving
    * choice — the most atypical example survives; ties → lowest id).
    * Returns the surviving rows with their original columns.
    *
    * Plan: centroids train driver-side on the bounded deterministic sample
    * ([[Similarity.trainCentroids]]); assignment is the codebook kernel,
    * and the centroid similarity of the paired documents comes from a
    * BROADCAST join against the nCentroids-row centroid table;
    * the pair graph is cluster-LOCAL (equi-self-join on cid — the clusters
    * ARE the blocking structure, which is the paper's reason to cluster at
    * all), so every duplicate group lies inside one cluster and closes in
    * ONE grouped pass ([[clusterDupGroups]]: a per-cluster union-find over
    * the pairs); survivors anti-join the loser set. The whole operator is
    * one lazy plan — no checkpoint, no driver loop — so its only eager jobs
    * are the scale guard and the centroid sample. Within-cluster pairing is
    * quadratic in CLUSTER size, so size `nCentroids` to the corpus (the
    * paper uses ~11k clusters for LAION); everything after the cosine
    * projection shuffles narrow id rows.
    *
    * Fully deterministic (fixed k-means init/iteration count, 6-dp rounded
    * cosines, id tiebreaks) but k-means is not SQL-expressible → rows-only
    * gate; the spec pins the no-surviving-dup invariant, loser coverage,
    * the paper's representative rule on a hand-built group, and
    * determinism.
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      eps: Double,
      nCentroids: Int = 16,
      maxMeanClusterSize: Long = 65536L): DataFrame = {
    require(eps > 0 && eps <= 1, s"eps must be in (0, 1]: got $eps")
    // scale guard: the within-cluster pair join is quadratic in CLUSTER
    // size, so nCentroids must grow with the corpus (the paper's ~11k
    // clusters for LAION keep mean cluster size ~21k). A toy default of 16
    // silently carried to a 100 TB corpus would make every cluster a
    // billion-row self-join; fail fast at operator-construction time with
    // the fix in the message. The count is BOUNDED: limit(bound+1) on the
    // pruned id column short-circuits the scan — the guard never pays a
    // full corpus pass, only enough rows to prove the bound is exceeded.
    // Raise maxMeanClusterSize deliberately if the quadratic cost is
    // genuinely intended.
    val bound =
      if (maxMeanClusterSize > Long.MaxValue / math.max(1, nCentroids)) Long.MaxValue
      else maxMeanClusterSize * nCentroids
    if (bound < Long.MaxValue) {
      val seen = df.select(col(idCol)).limit((bound + 1).min(Int.MaxValue.toLong).toInt).count()
      require(seen <= bound,
        s"semDedup: > $bound rows across $nCentroids centroids means mean cluster size " +
          s"exceeds maxMeanClusterSize=$maxMeanClusterSize; within-cluster pairing is " +
          s"QUADRATIC in cluster size — raise nCentroids to ~corpusRows/16384 " +
          "(target ≤16k mean cluster size, cf. SemDeDup's ~11k clusters for LAION) " +
          "or raise maxMeanClusterSize deliberately")
    }
    val spark = df.sparkSession
    val cents = Similarity.trainCentroids(df, idCol, vecCol, nCentroids)
    import spark.implicits._
    import graft.functions.VectorFunctions.topCentroids
    val centDf = cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cid", "cent")
    // the assignment joins nothing: a join's size estimate is the product
    // of its sides', so a centroid join here would keep the pair join off
    // a broadcast even for a small corpus, and the pair cosines would run
    // in the few tasks AQE coalesces the cid shuffle into. Both pair-join
    // sides plan identically, so the spread exchange is reused. A NULL
    // vector pairs with nothing, so it is dropped before the join; the
    // coalesce never fires, but it makes cid non-nullable, so the join
    // infers no isnotnull(cid) filter, which Catalyst would push, with the
    // codebook kernel inlined, below the spread into the one scan task
    val v = Spread.spread(df, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
      .withColumn("cid", coalesce(element_at(topCentroids(col("v"), cents, 1), 1), lit(-1)))
    // centroid similarity of both endpoints, from the broadcast centroid
    // table: only nodes that have a pair need it
    def centSim(side: String) = round(Similarity.cosine(col(s"$side.v"), col("c.cent")), 6)
    val pairs = v.as("a").join(v.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .withColumn("sim", round(Similarity.cosine(col("a.v"), col("b.v")), 6))
      .where(col("sim") >= eps)
      .join(broadcast(centDf.as("c")), col("a.cid") === col("c.cid"))
      .select(col("a.cid").as("cid"), col("a.id").as("id_a"), centSim("a").as("cs_a"),
        col("b.id").as("id_b"), centSim("b").as("cs_b"))
    val losers = clusterDupGroups(pairs).where(!col("keep")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicate groups of a CLUSTER-LOCAL pair graph, closed in one grouped
    * pass: `pairs` (cid, id_a, cs_a, id_b, cs_b) carries both endpoints'
    * centroid similarity, and both endpoints of a pair share the cluster
    * `cid`, so every connected component lies inside one cluster. The
    * pairs are grouped by cid and a union-find streams each cluster's
    * pairs — memory is O(nodes of one cluster), which the caller's
    * cluster-size guard bounds.
    *
    * Returns (id, component, keep) for every node that touches a pair:
    * `component` is the least id of the node's duplicate group (the
    * [[connectedComponents]] label), `keep` marks the group's SemDeDup
    * representative — the member with the least (cent_sim, id). Nodes
    * without a pair are their own singleton group and do not appear. Ids
    * may be of any comparable type.
    */
  private[graft] def clusterDupGroups(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val idType = pairs.schema("id_a").dataType
    val out = StructType(Seq(StructField("id", idType, nullable = false),
      StructField("component", idType, nullable = false),
      StructField("keep", BooleanType, nullable = false)))
    val p = pairs.select("cid", "id_a", "cs_a", "id_b", "cs_b")
    p.groupBy(col("cid"))
      .as[Row, Row](Encoders.row(StructType(Seq(p.schema("cid")))), Encoders.row(p.schema))
      .flatMapGroups((_: Row, rows: Iterator[Row]) => closeGroups(rows))(Encoders.row(out))
      .toDF()
  }

  /** One cluster's pairs (cid, id_a, cs_a, id_b, cs_b) → (id, component,
    * keep) per node: union-find whose roots track their group's least id
    * and least (cent_sim, id) member. */
  private def closeGroups(rows: Iterator[org.apache.spark.sql.Row])
      : Iterator[org.apache.spark.sql.Row] = {
    import scala.collection.mutable.ArrayBuffer
    def less(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    val index = new java.util.HashMap[Any, Integer]
    val (ids, sims) = (ArrayBuffer.empty[Any], ArrayBuffer.empty[Double])
    // per node: parent; per root: its group's representative and least id
    val (parent, rep, least) = (ArrayBuffer.empty[Int], ArrayBuffer.empty[Int],
      ArrayBuffer.empty[Int])
    def node(id: Any, sim: Double): Int = {
      val known = index.get(id)
      if (known != null) known.intValue
      else {
        val i = ids.length
        index.put(id, i); ids += id; sims += sim; parent += i; rep += i; least += i
        i
      }
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    rows.foreach { r =>
      val (a, b) = (find(node(r.get(1), r.getDouble(2))), find(node(r.get(3), r.getDouble(4))))
      if (a != b) {
        parent(b) = a
        val (ra, rb) = (rep(a), rep(b))
        if (sims(rb) < sims(ra) || (sims(rb) == sims(ra) && less(ids(rb), ids(ra)))) rep(a) = rb
        if (less(ids(least(b)), ids(least(a)))) least(a) = least(b)
      }
    }
    ids.indices.iterator.map { i =>
      val root = find(i)
      org.apache.spark.sql.Row(ids(i), ids(least(root)), rep(root) == i)
    }
  }

  /** EXACT embedding-cosine near-duplicate pairs: all pairs with
    * cosine(vec_a, vec_b) >= threshold. All-pairs self-join — correct at any
    * threshold, quadratic in corpus size; the verification baseline for
    * [[embeddingNearDupPairsLsh]], and fine when one side fits a broadcast.
    * Similarity is rounded to 6 digits before thresholding so the cut is
    * reproducible across engines.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // the corpus usually arrives in a handful of input splits; spread the
    // stream side of the nested-loop join across all cores (the broadcast
    // side is unaffected) so the O(n²) cosine work parallelizes
    val n = df.sparkSession.sparkContext.defaultParallelism
    v.repartition(n).as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("sim", round(Similarity.cosine(col("a.v"), col("b.v")), 6))
      .where(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /** Embedding-cosine near-dup, LSH-blocked (the 100 TB path): candidates
    * come from agreement in any of `nTables` hyperplane-LSH bucket tables
    * (equi-join on (table, bucket) — never a cross product), then exact
    * cosine verifies. Precision is exact; recall is the LSH collision
    * probability 1-(1-p^nPlanes)^nTables for per-plane agreement
    * p = 1 - angle/π — tunable via nPlanes (bucket size / candidate count)
    * and nTables (recall, linear in cost).
    *
    * Scale shape (mirrors [[minhashLshPairs]]): the banded rows carry only
    * (id, table, bucket) — ~24 bytes — so the candidate self-join and the
    * pair dedup shuffle narrow rows, never vectors. Candidates are deduped
    * BEFORE the vector fetch (a pair colliding in m tables appears m times;
    * deduping first means vectors move exactly once per unique candidate,
    * through the two verify equi-joins — broadcast when the corpus side
    * fits, shuffled-on-id otherwise), and the cosine is evaluated in that
    * join's projection. The round-2 formulation carried both vectors
    * through a dropDuplicates Exchange before thresholding — ~1 KB/row ×
    * the full candidate set, 12× slower at sf0.1 and quadratic in shuffle
    * bytes at scale.
    *
    * Defaults (8 planes × 40 tables) admit ~15% of all pairs as candidates
    * on the testdata embeddings (vs 52% at the round-2 4×8) at measured
    * recall 0.68 for pairs near cosine 0.4 — this corpus's near-dups sit at
    * 0.40–0.60, where per-plane agreement is only ~0.64; recall rises
    * steeply with similarity (~1.0 at 0.9).
    */
  def embeddingNearDupPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nPlanes: Int = 8,
      nTables: Int = 40,
      dim: Option[Int] = None): DataFrame = {
    // pass `dim` when known — probing fires a one-row job at plan time
    val d = dim.getOrElse(df.select(size(col(vecCol))).take(1).headOption.getOrElse(
      throw new IllegalArgumentException(
        "embeddingNearDupPairsLsh: empty input — cannot size LSH planes")).getInt(0))
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val banded = v.select(col("id"),
        posexplode(Similarity.lshAllBuckets(col("v"), nTables, nPlanes, d)))
      .toDF("id", "table", "bucket")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(v.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb")), 6).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Connected components over an undirected pair graph — the transitive
    * closure step that turns near-dup PAIRS into dedup CLUSTERS (keep one
    * doc per component, not merely one per pair: pairwise keep-lowest
    * pruning under-deletes when a cluster is chained a–b, b–c without a–c).
    *
    * Algorithm: iterative min-label propagation (Pregel-style). Each round
    * every node takes the min of its own label and its neighbors' labels —
    * a join + groupBy, all distributed, nothing per-component on one
    * machine. Each round ALSO pointer-jumps (a node's label becomes its
    * label's label), which halves chain depth per round — rounds are
    * O(log n) even on path graphs, not O(diameter), the same idea as
    * large-star contraction (Kiveris et al.).
    *
    * @param nodes single-column frame of node ids (name preserved)
    * @param edges two-column frame of undirected edges
    * @return (idCol, component) — component = min node id in the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val idCol = nodes.columns.head
    val e0 = edges.select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    // Only nodes that touch an edge can ever change label, and in a
    // near-dup corpus that's a small fraction of |V| — iterate over those
    // alone and stitch the isolated majority back as component = id at the
    // end. At 100 TB this shrinks every round's joins from the full corpus
    // to the near-dup subgraph. The semi join keeps the original contract
    // that ids appearing only in `edges` (not in `nodes`) don't take part.
    //
    // a checkpoint (not cache): each round's frame must TRUNCATE lineage,
    // or the nested logical plan doubles per iteration and the driver dies
    // building plan strings long before any data is large
    // ROUND 1 FUSED INTO THE SEED (r18; guide §1.2 "remove passes"): seed
    // labels are the identity (component = id), so round 1's neighbor-min
    // join against them reduces to min(dst) per src — one aggregate straight
    // off the (cached) edge frame, replacing seed checkpoint + round-1 join.
    // The dst semi-join preserves the ids-not-in-`nodes` contract (a dst
    // outside `nodes` is outside the seed label set, so round 1 must not
    // read it); a node whose EVERY neighbor is outside drops out of the
    // iteration entirely, which is identical by the isolated-node stitch at
    // the end (its component is provably itself: nothing labeled can reach
    // it). Round 1's changed-count action is also skipped — any edge u<v
    // changes v, so with maxIter ≥ 2 the first convergence check that can
    // say "done" is round 2's (the fused round costs one job, not three).
    var labels = Materialize(sym
      .join(nodes.select(col(idCol).as("src")), Seq("src"), "left_semi")
      .join(nodes.select(col(idCol).as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src").as("id")).agg(min("dst").as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("component")))
    var iter = 1
    var converged = false
    if (maxIter == 1) {
      // degenerate budget: the fused round skipped its changed check, so
      // run it here (self-loop-only graphs legitimately converge in round 1)
      converged = labels.where(col("component") < col("id")).limit(1).count() == 0
    } else {
      // round 1 always pointer-jumps (see above: it converged only in the
      // self-loop/edge-less degenerate cases, where the jump is an identity
      // pass over a frame this small by construction)
      val next = Materialize(labels.as("a")
        .join(labels.select(col("id").as("jid"), col("component").as("jcomp")),
          col("a.component") === col("jid"))
        .select(col("a.id").as("id"),
          least(col("a.component"), col("jcomp")).as("component")))
      labels.unpersist()
      labels = next
    }
    while (iter < maxIter && !converged) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src").as("id2")).agg(min("component").as("nbr"))
      // the changed-count is the checkpoint's own first pass (r18): one job
      // per round where checkpoint-then-count was two. The checkpointed
      // frame feeds BOTH sides of the jump join and carries the
      // pre-propagate label as `old`. Labels only ever decrease, so ANY
      // propagate change shows up as component < old.
      val (stepped, changed) = Materialize.by(
        labels.join(nbrMin, labels("id") === nbrMin("id2"), "left")
          .select(col("id"), col("component").as("old"),
            least(col("component"), coalesce(col("nbr"), col("component"))).as("component"))
      )(_.where(col("component") < col("old")).count())
      if (changed == 0) {
        // a propagate FIXED POINT over SYMMETRIC edges is already
        // component-constant: c(u) ≤ c(v) holds across every edge in both
        // directions, hence c(u) = c(v) — the pointer jump is provably a
        // no-op, so the final round skips its join + checkpoint (the
        // dominant per-call fixed cost on small-diameter near-dup graphs,
        // which converge in 2 rounds: minimize, then verify)
        labels.unpersist()
        labels = stepped
        converged = true
      } else {
        // pointer jumping: follow component → that node's component
        // (halves chain depth per round; no convergence count needed here,
        // the NEXT round's propagate scan decides)
        val next = Materialize(stepped.as("a")
          .join(stepped.select(col("id").as("jid"), col("component").as("jcomp")),
            col("a.component") === col("jid"))
          .select(col("a.id").as("id"),
            least(col("a.component"), col("jcomp")).as("component"), col("a.old").as("old")))
        labels.unpersist()
        stepped.unpersist()
        // keep the checkpointed frame itself as `labels` (a projection would
        // not release the underlying storage on unpersist); the stray `old`
        // column is dropped by the explicit selects that consume it
        labels = next
      }
      iter += 1
    }
    sym.unpersist()
    if (!converged) {
      // a silent partial result would split true clusters and make the
      // downstream dedup under-delete with no signal — fail loudly instead
      // (but still release the iteration frames: repeated calls must not
      // accumulate executor storage on the failure path either)
      labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(propagate+jump halves chain depth per round, so this needs a component " +
          s"of diameter > ~2^$maxIter or a mid-job data change); raise maxIter")
    }
    // stitch the isolated nodes back (their component is themselves); the
    // active-label side is the near-dup subgraph — small, so this join
    // broadcasts at scale. Materialize OFF the cached iteration frames,
    // then release them — otherwise every call (e.g. periodic batch
    // compaction) pins the final round's `next` cache and last `stepped`
    // checkpoint forever
    val result = Materialize(nodes.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("component")))
    labels.unpersist()
    result
  }

  /** 64-bit SimHash fingerprint per row over word features: bit j of the
    * result is the sign of Σ_distinct-words (bit j of hash(word) ? +1 : -1).
    * Computed per row by the codegen'd [[graft.functions.SimHash64Expr]] —
    * no explode, no aggregate, no shuffle (round 1 exploded distinct words
    * into a 64-conditional-sum groupBy whose Exchange carried the word
    * stream).
    */
  def simhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      md5Tokens: Boolean = false): DataFrame = {
    // md5Tokens picks the 60-bit oracle-parity fingerprint (cross-engine
    // identical arithmetic) over the fast xxhash default — blocking and
    // verify downstream are unchanged (top 4 bits constant-zero never
    // differ, so every Hamming bound holds verbatim)
    val fp =
      if (md5Tokens) graft.functions.ShingleFunctions.simhashMd5(col(textCol))
      else graft.functions.ShingleFunctions.simhash64(col(textCol))
    Spread.spread(df, col(idCol)).select(col(idCol).as("id"), fp.as("simhash"))
  }

  /** SimHash near-duplicate pairs: LSH-block the 64-bit fingerprints so that
    * every pair within Hamming distance `maxHamming` meets in some band's
    * equi-join bucket (recall 1.0 — pigeonhole-complete), then verify
    * `bit_count(xor) <= maxHamming` exactly.
    *
    * Two complete blocking schemes, picked by radius:
    *   - `maxHamming <= 3`: exact banding on `maxHamming + 1` contiguous
    *     bands — d differing bits touch at most d of the d+1 bands, so one
    *     band agrees exactly. Band keys stay >= 16 bits wide.
    *   - `maxHamming > 3`: HmSearch-style 1-flip ball enumeration on
    *     `ceil((d+1)/2)` bands — if every band differed in >= 2 bits the
    *     total would exceed d, so some band differs in <= 1 bit, and that
    *     band's key on one side lies inside the other side's radius-1 ball
    *     (the exact key plus one row per flipped bit). Costs ~64 + bands
    *     rows/doc instead of d+1, but keeps 16-bit keys.
    *
    * Why not exact banding at every radius: width is 64/(d+1), and SimHash
    * bits on a real corpus are heavily correlated, so narrow keys produce
    * giant buckets — measured on the 5k-doc sf0.1 testdata at maxHamming=6,
    * 9-bit exact bands put 3.1k docs in ONE bucket (13M candidate pairs,
    * effectively quadratic), while the 16-bit ball scheme stays linear.
    * The verify step keeps precision exact under either scheme.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Option[Long] = None,
      md5Tokens: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32): got $maxHamming")
    // `maxBucketSize` guards the C² hot-bucket blow-up on verbatim-heavy
    // corpora, like [[minhashLshPairs]]: a bucket = the docs sharing an
    // exact band key, and buckets over the cap are dropped from BOTH join
    // sides before candidates form (verbatim copies share every band key,
    // so their quadratic candidate set never materializes). Lossy by
    // intent; exact dedup upstream is the right tool for verbatim copies.
    def capBuckets(frame: DataFrame, keyCols: Seq[String]): DataFrame =
      maxBucketSize match {
        case Some(cap) =>
          val ok = frame.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
            .where(col("__n") <= cap)
          frame.join(ok.select(keyCols.map(col): _*), keyCols)
        case None => frame
      }
    val fp = simhash(df, idCol, textCol, md5Tokens)
    // band layout for `bands` contiguous bands over 64 bits
    def layout(bands: Int): (Array[Int], Array[Int]) = {
      val base = 64 / bands
      val rem = 64 % bands
      val widths = Array.tabulate(bands)(b => base + (if (b < rem) 1 else 0))
      (widths, widths.scanLeft(0)(_ + _))
    }
    // arithmetic shift is fine: the mask clears any sign-extended bits
    def bandKey(starts: Array[Int], widths: Array[Int])(b: Int): Column = {
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
      shiftright(col("simhash"), starts(b)).bitwiseAND(mask)
    }
    val candidates =
      if (maxHamming <= 3) {
        val bands = maxHamming + 1
        val (widths, starts) = layout(bands)
        val key = bandKey(starts, widths) _
        val banded = capBuckets(
          fp.select(col("id"), col("simhash"),
            posexplode(array((0 until bands).map(key): _*)))
            .toDF("id", "simhash", "band", "key"),
          Seq("band", "key"))
        banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
      } else {
        val bands = (maxHamming + 2) / 2 // ceil((d+1)/2): some band has <= 1 error
        val (widths, starts) = layout(bands)
        val key = bandKey(starts, widths) _
        // radius-1 ball: per band, the exact key plus every 1-bit flip.
        // (band, key) packs into ONE long (width <= 22 bits here) so the
        // exploded rows and the join key stay as narrow as possible
        def packed(b: Int, k: Column): Column = k.bitwiseOR(lit(b.toLong << 32))
        val ballKeys = (0 until bands).flatMap { b =>
          val base = key(b)
          (base +: (0 until widths(b)).map(j => base.bitwiseXOR(lit(1L << j))))
            .map(packed(b, _))
        }
        val ball = fp.select(col("id"), col("simhash"), explode(array(ballKeys: _*)).as("key"))
        val exactPacked = capBuckets(
          fp.select(col("id"), col("simhash"),
            explode(array((0 until bands).map(b => packed(b, key(b))): _*)).as("key")),
          Seq("key"))
        // ball rows for a dropped bucket can only ever meet that bucket's
        // exact rows, so the cap semi-filters the ball side through the
        // surviving exact keys (a no-op when the cap is off)
        val ballCapped =
          if (maxBucketSize.isDefined)
            ball.join(exactPacked.select("key").distinct(), Seq("key"), "left_semi")
          else ball
        // exact side ⋈ ball side: a band differing in <= 1 bit matches
        // whichever side carries the flip, because the ball covers both
        exactPacked.as("a").join(ballCapped.as("b"),
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      }
    candidates
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Corpus-wide line-level dedup (the RefinedWeb / CCNet "remove duplicated
    * lines everywhere they occur" step, Penedo et al. 2023 §3.2): any line
    * occurring in >= `minDocs` DISTINCT documents is removed from EVERY
    * document, and each document is reassembled from its surviving lines in
    * original order. The synthetic corpus has no newlines, so a "line" here
    * is a fixed span of `spanWords` consecutive tokens (the last span may be
    * short) — same operator shape, pseudo-line tokenizer.
    *
    * Returns one row per input document: `(doc_id, text_clean, n_kept,
    * n_removed)` — fully-deduplicated documents survive with empty text, so
    * output cardinality always equals input cardinality.
    *
    * Scale shape: one span explode (~|tokens|/spanWords row expansion), one
    * aggregation shuffle keyed by the line to find corpus-wide duplicates,
    * one anti-join, one reassembly shuffle keyed by doc. Lines join on the
    * raw string here for oracle transparency; at 100 TB key the dup
    * aggregation and anti-join on `xxhash64(line)` instead — same plan with
    * an 8-byte shuffle key (the [[dedupExact]] md5 discipline).
    */
  /** ExactSubstr-style duplicated-SPAN dedup with first-occurrence
    * retention (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", the ExactSubstr variant — approximated here
    * with sliding token n-grams instead of the paper's suffix-array maximal
    * matches). Where [[dedupLines]] removes a duplicated fixed block from
    * EVERY document (RefinedWeb remove-everywhere), this keeps exactly one
    * canonical copy: the document with the MINIMUM id containing a
    * duplicated span is its *owner* and keeps its tokens; every other
    * document has the tokens covered by that span cut out. Output keeps
    * input cardinality: `(doc_id, text_clean, n_kept, n_removed)`.
    *
    * A span is duplicated when it occurs in >= `minDocs` distinct docs;
    * sliding windows (stride 1) mean any shared run of >= spanTokens
    * tokens is caught regardless of alignment — the property fixed-block
    * schemes lose.
    *
    * Scale shape (100 TB): spans are a map-side posexplode; ownership is
    * ONE aggregation on the span string collapsing to the duplicated-span
    * relation (min-id + distinct-doc count — no pair join, so a viral
    * span costs its occurrence count, never its square); the matched-span
    * probe is a shuffle equi-join on the span key (key both sides on
    * xxhash64(span) at scale for 8-byte shuffles — string keys kept here
    * for oracle transparency, the c01/c13 discipline); coverage and token
    * explodes are map-side; per-doc reassembly is the one corpus-wide
    * groupBy.
    */
  def dedupSpansKeepFirst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(spanTokens > 0 && minDocs >= 2,
      s"dedupSpansKeepFirst: need spanTokens > 0, minDocs >= 2")
    // NULL text = empty doc (the dedupLines guard rationale)
    val tok = Spread.spread(docs, col(idCol)).select(col(idCol).as("doc_id"),
      filter(split(coalesce(col(textCol), lit("")), " "), t => length(t) > lit(0)).as("w"))
    val spans = tok.where(size(col("w")) >= spanTokens)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("w")) - spanTokens),
          i => array_join(slice(col("w"), i + 1, lit(spanTokens)), " "))).as(Seq("pos", "s")))
    // one aggregation owns the span: duplicated iff seen in >= minDocs docs;
    // the min-id doc keeps its copy
    val dup = spans.groupBy("s")
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
      .where(col("nd") >= minDocs)
      .select("s", "owner")
    val matched = spans.join(dup, Seq("s"))
      .where(col("doc_id") =!= col("owner"))
      .select(col("doc_id"), col("pos"))
    val covered = matched
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (spanTokens - 1))).as("p"))
      .distinct()
    val kept = tok.select(col("doc_id"), posexplode(col("w")).as(Seq("p", "tok")))
      .join(covered, Seq("doc_id", "p"), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    tok.select(col("doc_id"), size(col("w")).cast("long").as("n_toks"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  def dedupLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 10,
      minDocs: Int = 2): DataFrame = {
    require(spanWords > 0 && minDocs >= 2, s"need spanWords > 0, minDocs >= 2")
    // NULL text = empty doc (size(null) is -1, which would slip past the
    // zero-span guard and corrupt n_removed)
    val tok = Spread.spread(docs, col(idCol)).select(col(idCol).as("doc_id"),
      filter(split(coalesce(col(textCol), lit("")), " "), t => length(t) > lit(0)).as("w"))
    val nSpans = // ceil(|w| / spanWords), guarded so empty docs yield 0 spans
      floor((size(col("w")) + lit(spanWords - 1)).cast("double") / lit(spanWords)).cast("long")
    val spans = tok.select(col("doc_id"),
      posexplode(
        when(size(col("w")) === 0, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), nSpans.cast("int") - 1),
            i => array_join(slice(col("w"), i * spanWords + 1, lit(spanWords)), " ")))))
      .toDF("doc_id", "pos", "line")
    val dup = spans.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs).select("line")
    val kept = spans.join(dup, Seq("line"), "left_anti")
    val reassembled = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")), " ").as("text_clean"))
    tok.select(col("doc_id"), nSpans.as("n_spans"))
      .join(reassembled, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-doc md5 n-gram keys: each consecutive n-token window joined with
    * one space and md5-hashed; a doc shorter than n tokens contributes its
    * whole token list as the single gram (both engines state the same
    * rule). Entirely map-side — gram construction is a per-row transform
    * over the token array, no shuffle.
    */
  // NOT spread (r17): same rationale as hashedShingleRows — map-only
  // broadcast pipeline, gram transform cheaper than the added exchange
  private def md5Grams(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        filter(split(coalesce(col(textCol), lit("")), " "),
          w => length(w) > lit(0)).as("__w"))
      .where(size(col("__w")) > 0)
      .select(col("id"), explode(transform(
        sequence(lit(1), greatest(size(col("__w")) - lit(n - 1), lit(1))),
        i => md5(concat_ws(" ", slice(col("__w"), i, lit(n)))))).as("h"))

  /** Benchmark DECONTAMINATION: flag corpus documents sharing any exact
    * n-token gram with a benchmark/eval set — the training-data hygiene
    * pass that keeps eval answers out of the training corpus (the
    * standard 13-gram rule). Returns one row per CONTAMINATED corpus doc:
    * (doc_id, n_hits = distinct benchmark grams it contains).
    *
    * Scale shape: grams are map-side per-row transforms (no shuffle to
    * build); the benchmark side — eval sets are orders of magnitude
    * smaller than the corpus — deduplicates to a distinct gram set and
    * BROADCASTS, so the corpus is scanned once, joined map-side, and only
    * MATCHED (id, gram) rows reach the one narrow doc-keyed aggregate.
    * Nothing corpus-sized ever shuffles. md5 gram keys keep the broadcast
    * rows narrow and are reproducible in any engine (full oracle).
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    val corpusGrams = md5Grams(corpus, idCol, textCol, n)
    val benchGrams = md5Grams(bench, idCol, textCol, n).select("h").distinct()
    corpusGrams.join(broadcast(benchGrams), Seq("h"))
      .groupBy(col("id").as("doc_id"))
      .agg(countDistinct(col("h")).as("n_hits"))
  }
}
