package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def l = Seq(
    (1L, "u1", 10L), (2L, "u1", 20L), (3L, "u1", 30L), (4L, "u2", 15L), (5L, "u3", 5L)
  ).toDF("id", "k", "t")
  private def r = Seq(
    ("u1", 10L, "a"), ("u1", 25L, "b"), ("u2", 99L, "x")
  ).toDF("k", "rt", "v")

  test("backward inner: latest right <= left time, ties match (>= semantics)") {
    val out = AsofJoin.backward(l, r, Seq("k"), "t", "rt", Seq("v"), "inner")
      .select("id", "v").as[(Long, String)].collect().toMap
    // id=1 t=10 matches rt=10 (tie); id=2 t=20 matches rt=10; id=3 t=30 matches rt=25
    assert(out == Map(1L -> "a", 2L -> "a", 3L -> "b"))
  }

  test("strict backward/forward: equal-time right rows are excluded") {
    // id=1 t=10 ties rt=10: inclusive matches "a", strict falls back to none
    val strictB = AsofJoin.backward(l, r, Seq("k"), "t", "rt", Seq("v"), "left", strict = true)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(strictB(1L) == null && strictB(2L) == "a" && strictB(3L) == "b")
    // forward: id=1 t=10 inclusive matches rt=10 "a"; strict skips to rt=25 "b"
    val fwd = AsofJoin.forward(l, r, Seq("k"), "t", "rt", Seq("v"), "inner")
      .select("id", "v").as[(Long, String)].collect().toMap
    val strictF = AsofJoin.forward(l, r, Seq("k"), "t", "rt", Seq("v"), "inner", strict = true)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(fwd(1L) == "a" && strictF(1L) == "b")
    // SQL stage accepts the strict forms now
    l.createOrReplaceTempView("asof_strict_l")
    r.withColumnRenamed("rt", "rts").createOrReplaceTempView("asof_strict_r")
    val viaSql = graft.psql.Psql(spark).sql(
      "from asof_strict_l |> as a asof join asof_strict_r as b on a.k = b.k and a.t > b.rts |> select id, v")
      .as[(Long, String)].collect().toMap
    assert(viaSql == Map(2L -> "a", 3L -> "b"), viaSql.toString)
  }

  test("backwardWithin: tolerance invalidates too-old matches, inner and left") {
    // numeric time domain, tolerance 8: id=1 t=10 matches rt=10 (dist 0);
    // id=2 t=20 best is rt=10 (dist 10 > 8) -> unmatched; id=3 t=30 best is
    // rt=25 (dist 5) -> "b"
    val inner = AsofJoin.backwardWithin(l, r, Seq("k"), "t", "rt", Seq("v"),
      tolerance = lit(8L), joinType = "inner")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(inner == Map(1L -> "a", 3L -> "b"), inner.toString)
    val left = AsofJoin.backwardWithin(l, r, Seq("k"), "t", "rt", Seq("v"),
      tolerance = lit(8L), joinType = "left")
    assert(left.count() == 5)
    val nulls = left.where(col("v").isNull).select("id").as[Long].collect().toSet
    assert(nulls == Set(2L, 4L, 5L), nulls.toString)
    // a huge tolerance degrades to plain backward
    val loose = AsofJoin.backwardWithin(l, r, Seq("k"), "t", "rt", Seq("v"),
      tolerance = lit(1000000L), joinType = "inner")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(loose == Map(1L -> "a", 2L -> "a", 3L -> "b"))
  }

  test("nearest: closest match either direction, backward wins ties, tolerance bounds both sides") {
    // id=1 t=10: rt=10 dist 0 -> "a"; id=2 t=20: back rt=10 dist 10 vs fwd
    // rt=25 dist 5 -> "b"; id=3 t=30: back rt=25 dist 5 -> "b";
    // id=4 u2 t=15: only fwd rt=99 -> "x"; id=5 u3: no rights -> dropped
    val out = AsofJoin.nearest(l, r, Seq("k"), "t", "rt", Seq("v"), "inner")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "x"), out.toString)
    // exact tie: t=17.5 impossible on longs; use rt 10/25 with t=17 (back 7,
    // fwd 8 -> back) and t=18 (back 8, fwd 7 -> fwd); equidistant at
    // rt 10/24, t=17 -> dist 7 both -> backward wins
    val tie = Seq((1L, "u1", 17L)).toDF("id", "k", "t")
    val rTie = Seq(("u1", 10L, "back"), ("u1", 24L, "fwd")).toDF("k", "rt", "v")
    val tieOut = AsofJoin.nearest(tie, rTie, Seq("k"), "t", "rt", Seq("v"), "inner")
      .select("v").as[String].collect().toList
    assert(tieOut == List("back"), tieOut.toString)
    // tolerance 6 drops id=2's fwd-5?? no: dist 5 <= 6 stays; id=4 (dist 84) drops
    val within = AsofJoin.nearest(l, r, Seq("k"), "t", "rt", Seq("v"), "inner",
      tolerance = Some(lit(6L)))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(within == Map(1L -> "a", 2L -> "b", 3L -> "b"), within.toString)
    // left keeps unmatched with null payload
    val leftOut = AsofJoin.nearest(l, r, Seq("k"), "t", "rt", Seq("v"), "left",
      tolerance = Some(lit(6L)))
    assert(leftOut.count() == 5)
    assert(leftOut.where(col("v").isNull).select("id").as[Long].collect().toSet == Set(4L, 5L))
  }

  test("backward left keeps unmatched rows with null payload") {
    val out = AsofJoin.backward(l, r, Seq("k"), "t", "rt", Seq("v"), "left")
    assert(out.count() == 5)
    val nulls = out.where(col("v").isNull).select("id").as[Long].collect().toSet
    assert(nulls == Set(4L, 5L)) // u2 has only rt=99 > 15; u3 has no right rows
  }

  test("duplicate right rows at the same (key, time) pick a stable winner (max payload)") {
    // three right rows tie at (u1, 10); the deterministic tie-break must pick
    // the greatest payload ("z") on every run regardless of partition order
    val left = Seq((1L, "u1", 15L)).toDF("id", "k", "t")
    val payloads = Seq("a", "z", "m", "q", "b")
    for (i <- 0 until 5) {
      // rotate input order and fragment across partitions to vary the
      // physical row order the window scan would otherwise depend on
      val rot = payloads.drop(i) ++ payloads.take(i)
      val right = rot.map(v => ("u1", 10L, v)).toDF("k", "rt", "v").repartition(4)
      val out = AsofJoin.backward(left, right, Seq("k"), "t", "rt", Seq("v"), "inner")
        .select("v").as[String].collect().toList
      assert(out == List("z"), s"run $i picked $out")
      val fwd = AsofJoin.forward(left.withColumn("t", lit(5L)), right,
        Seq("k"), "t", "rt", Seq("v"), "inner")
        .select("v").as[String].collect().toList
      assert(fwd == List("z"), s"forward run $i picked $fwd")
    }
  }

  test("non-orderable payloads (maps) still join — tie-break degrades gracefully") {
    val left = Seq((1L, "u1", 15L)).toDF("id", "k", "t")
    val right = Seq(("u1", 10L, Map("a" -> 1)))
      .toDF("k", "rt", "m")
    val out = AsofJoin.backward(left, right, Seq("k"), "t", "rt", Seq("m"), "inner")
      .select("id", "m").collect()
    assert(out.length == 1 && out.head.getMap[String, Int](1)("a") == 1)
  }

  test("forward inner: earliest right >= left time") {
    val out = AsofJoin.forward(l, r, Seq("k"), "t", "rt", Seq("v"), "inner")
      .select("id", "v").as[(Long, String)].collect().toMap
    // id=1 t=10 -> rt=10; id=2 t=20 -> rt=25; id=3 t=30 -> none; id=4 t=15 -> rt=99
    assert(out == Map(1L -> "a", 2L -> "b", 4L -> "x"))
  }
}

class PositionalJoinSpec extends SparkSpec {
  import spark.implicits._

  test("zips rows in order and pads the shorter side with nulls") {
    val l = Seq("a", "b", "c").toDF("x").orderBy("x")
    val r = Seq(1, 2).toDF("y").orderBy(col("y").desc)
    val out = PositionalJoin.join(l, r).collect()
    assert(out.length == 3)
    assert(out(0) == Row("a", 2))
    assert(out(1) == Row("b", 1))
    assert(out(2) == Row("c", null))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "entirely different text about spark and scala engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "short")
  ).toDF("id", "text")

  test("dedupExact keeps lowest id per exact duplicate group") {
    val out = Dedup.dedupExact(docs, "text", "id").select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 5L))
  }

  test("wordShingles: n-grams, distinct, short-text safe") {
    val sh = docs.select(Dedup.wordShingles(col("text"), 3).as("sh"))
      .where(col("sh").isNotNull).collect()
    val first = sh(0).getSeq[String](0)
    assert(first.contains("the quick brown") && first.contains("over the lazy"))
    assert(sh(4).getSeq[String](0).isEmpty) // "short" has < 3 words
  }

  test("ngramJaccardPairs finds exact and near duplicates at threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup => jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowing catches a lifted substring that whole-doc Jaccard dilutes away") {
    // doc 11 lifts an 8-word passage from doc 10 into otherwise-unrelated
    // text: whole-doc trigram Jaccard is far below 0.5, but the winnowing
    // guarantee (shared substring >= k+w-1 = 6 words -> >= 1 shared
    // fingerprint) must surface the pair
    val lifted = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (11L, "completely different opening words here gamma delta epsilon zeta eta theta then an unrelated long tail of many extra words follows"),
      (12L, "nothing in common with either of the others at all whatsoever")
    ).toDF("id", "text")
    val jacc = Dedup.ngramJaccardPairs(lifted, "id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!jacc.contains((10L, 11L)), jacc.toString)
    val winn = Dedup.winnowingPairs(lifted, "id", "text", k = 3, w = 4, minShared = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(winn.contains((10L, 11L)), winn.toString)
    assert(!winn.exists(p => p._1 == 12L || p._2 == 12L), winn.toString)
  }

  test("winnowingFingerprints: density below shingle count, map-side, short-doc safe") {
    // wellSplit: at-scale input shape — the r17 conditional spread no-ops,
    // so the zero-Exchange pin measures the operator itself
    val documents = wellSplit(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val fp = Dedup.winnowingFingerprints(documents, "doc_id", "text", k = 3, w = 4)
    // winnowed index must be a strict fraction of the full shingle index
    // (expected density 2/(w+1) = 0.4; allow generous slack for structure)
    val nFp = fp.count()
    val nSh = Dedup.hashedShingleRows(documents, "doc_id", "text", 3).count()
    assert(nFp > 0 && nFp < nSh * 0.7, s"fp=$nFp shingles=$nSh")
    // fingerprint extraction is map-side only — no Exchange before output
    val plan = fp.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // docs too short to window emit nothing rather than failing
    val short = Seq((1L, "just five words right here")).toDF("id", "text")
    assert(Dedup.winnowingFingerprints(short, "id", "text", k = 3, w = 4).count() == 0L)
  }

  test("winnowing guarantee holds on randomized planted spans (seeded fuzz)") {
    // The paper's theorem: ANY shared substring of >= k + w - 1 words
    // produces at least one shared fingerprint. Plant 30 random lifted
    // spans (length k+w-1 .. k+w+4) from random hosts into otherwise
    // random docs over a 2000-word vocabulary; every planted pair must be
    // found at minShared = 1. Extra pairs (chance shared spans) are
    // legitimate and not asserted against.
    val k = 4; val w = 5
    val rnd = new scala.util.Random(987654321L)
    def words(n: Int): Seq[String] = Seq.fill(n)("w" + rnd.nextInt(2000))
    val rows = (0 until 30).flatMap { i =>
      val host = words(20 + rnd.nextInt(30))
      val span = {
        val len = k + w - 1 + rnd.nextInt(6)
        val from = rnd.nextInt(host.size - len + 1)
        host.slice(from, from + len)
      }
      val lifted = words(rnd.nextInt(15)) ++ span ++ words(rnd.nextInt(15))
      Seq((2L * i, host.mkString(" ")), (2L * i + 1, lifted.mkString(" ")))
    }
    val df = rows.toDF("id", "text")
    val found = Dedup.winnowingPairs(df, "id", "text", k = k, w = w, minShared = 1L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val missing = (0 until 30).map(i => (2L * i, 2L * i + 1)).filterNot(found.contains)
    assert(missing.isEmpty, s"planted pairs missed: $missing")
  }

  test("winnowingPairs boilerplate cap drops hot fingerprints") {
    // 20 docs share a verbatim boilerplate header; only docs 1 and 2 share
    // real content beyond it
    val boiler = "standard legal disclaimer header applies to this document"
    val rows = (1L to 20L).map { i =>
      val body = if (i <= 2) "identical body content shared by exactly two documents here"
        else s"unique body number $i with its own distinct trailing words ${i * 7} ${i * 13}"
      (i, s"$boiler $body")
    }
    val df = rows.toDF("id", "text")
    val uncapped = Dedup.winnowingPairs(df, "id", "text", k = 3, w = 4, minShared = 1L)
      .count()
    val capped = Dedup.winnowingPairs(df, "id", "text", k = 3, w = 4, minShared = 1L,
      maxFingerprintDocFreq = Some(5L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // uncapped: the boilerplate connects all 190 pairs; capped: only the
    // true content pair (1,2) survives
    assert(uncapped == 190L, uncapped.toString)
    assert(capped == Set((1L, 2L)), capped.toString)
  }

  test("minhashLshPairs recall equals exact pairs on the documents testdata") {
    val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(documents, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(documents, "doc_id", "text", 3, 64, 32, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // verification step guarantees precision; bands/rows chosen for ~1.0
    // recall at J>=0.5
    assert(lsh.subsetOf(exact))
    assert(exact == lsh, s"LSH missed ${(exact -- lsh).size} of ${exact.size} exact pairs")
  }

  test("embeddingNearDupPairs: exact pairs above threshold; LSH variant is a high-recall subset") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(exact.forall { case (a, b) => a < b })
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.4,
      nPlanes = 8, nTables = 40, dim = Some(64))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // verification makes precision exact; candidates bound recall
    assert(lsh.subsetOf(exact))
    val recall = (exact intersect lsh).size.toDouble / exact.size
    // 0.6 pins the documented 8×40 operating point (measured 0.68 for pairs
    // near cosine 0.4, Dedup.embeddingNearDupPairsLsh scaladoc): a silent
    // regression toward ~0.5 must fail here, since the gate has no oracle
    assert(recall > 0.6, s"LSH near-dup recall $recall below the 8×40 operating point")
  }

  test("minhashLshPairsMd5: oracle-parity variant returns the fast default's exact pair set") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val md5p = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(md5p.nonEmpty)
    assert(md5p.forall { case (x, y, j) => x < y && j >= 0.5 })
    // same banded plan, different hash family: candidate sets may differ on
    // BORDERLINE pairs in principle, but on this corpus every verified pair
    // sits far above threshold, so both families find the identical set
    // (measured 28 = 28 here and 25 = 25 at sf0.01) — deterministic data +
    // deterministic hashes, so equality is a stable pin
    val fast = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(md5p.map(t => (t._1, t._2)).toSet == fast)
  }

  test("prefixFilterPairs: LOSSLESS — equals the full inverted-index join; index shrinks") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.5, 0.8)) {
      val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val pref = Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pref == full, s"t=$t: prefix filter lost ${(full -- pref).size} " +
        s"/ invented ${(pref -- full).size} of ${full.size} pairs")
    }
    // the point of the scheme: the exploded index is a strict fraction of
    // the full shingle volume (~1-t plus one element per doc)
    val sets = Dedup.hashedShingleSets(docs, "doc_id", "text", 3)
    val fullRows = sets.select(explode(col("hs"))).count()
    val prefRows = sets
      .select(explode(slice(array_sort(col("hs")), lit(1),
        (col("sz") - ceil(col("sz") * lit(0.8)) + 1).cast("int"))))
      .count()
    assert(prefRows.toDouble / fullRows < 0.35,
      s"prefix index $prefRows / full $fullRows not a meaningful reduction")
    intercept[IllegalArgumentException](
      Dedup.prefixFilterPairs(docs, "doc_id", "text", 3, 1.0))
  }

  test("ophSig: bin mins + rotation densification match a naive reference; empty input is null") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(11)
    val k = 16
    val c = 1L << 28
    for (trial <- 0 until 20) {
      // small sets leave bins empty on purpose — densification must fire
      val hs = Array.fill(1 + rnd.nextInt(12))(rnd.nextLong(1L << 28))
      val got = graft.functions.ShingleHash.ophSig(new GenericArrayData(hs), k, c).toSeq
      val occ = hs.groupBy(h => (h % k).toInt).map { case (b, v) => b -> v.min }
      val want = (0 until k).map { j =>
        occ.map { case (b, mn) => ((b - j + k) % k).toLong * c + mn }.min
      }
      assert(got == want, s"trial $trial: $got vs $want")
      // occupied bins keep their own min (distance 0 wins)
      occ.foreach { case (b, mn) => assert(got(b) == mn) }
    }
    assert(graft.functions.ShingleHash.ophSig(new GenericArrayData(Array.empty[Long]), k, c) == null)
  }

  test("ophLshPairsMd5: OPH signature pipeline finds the same verified pair set") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val oph = Dedup.ophLshPairsMd5(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(oph.nonEmpty)
    assert(oph.forall { case (x, y, j) => x < y && j >= 0.5 })
    // exact-Jaccard verification makes precision exact for ANY signature
    // family; on this corpus every true pair sits far above threshold, so
    // the OPH banding reaches the same set the classic signatures find
    val classic = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(oph.map(t => (t._1, t._2)).toSet == classic)
  }

  test("md5 shingle-hash kernel equals the interpreted SQL formulation element for element") {
    // the r9 codegen'd kernel must produce BYTE-IDENTICAL hash sets and
    // signatures to the SQL statement the DuckDB oracle runs — this is what
    // keeps d19/d20 hash-green after the swap. Rebuild the round-8
    // interpreted formulation inline and compare on the real corpus.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = 3
    val w = split(col("text"), " ")
    val shingleStrs = transform(
      sequence(lit(0), size(w) - n),
      i => array_join(slice(w, i + 1, lit(n)), " "))
    val sqlHashes = array_distinct(transform(array_distinct(shingleStrs),
      s => conv(substring(md5(s), 1, 7), 16, 10).cast("long")))
    val both = docs.where(size(w) >= n)
      .select(col("doc_id"),
        graft.functions.ShingleFunctions.md5ShingleHashes(col("text"), n).as("kernel"),
        sqlHashes.as("sql"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
    // short-text edge cases: fewer than n tokens → filtered upstream, but
    // the kernel itself must return empty (not throw); empties kept like SQL
    assert(graft.functions.ShingleHash.md5ShingleHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b"), 3).isEmpty)
    import org.apache.spark.unsafe.types.UTF8String
    // "a  b c" has an empty middle token — split(' ', -1) semantics
    val withEmpty = graft.functions.ShingleHash.md5ShingleHashes(
      UTF8String.fromString("a  b c"), 3)
    val viaSql = docs.sparkSession.sql(
      """SELECT array_distinct(transform(array_distinct(
        |  transform(sequence(0, size(split('a  b c', ' ')) - 3),
        |    i -> array_join(slice(split('a  b c', ' '), i + 1, 3), ' '))),
        |  s -> cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint)))""".stripMargin)
      .collect().head.getSeq[Long](0)
    assert(withEmpty.toSeq == viaSql)
  }

  test("crossDedupLshMd5: oracle-parity cross variant equals the exact bipartite dedup") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(col("doc_id") % 2 === 1)
    val ref = docs.where(col("doc_id") % 2 === 0)
    val md5Out = Dedup.crossDedupLshMd5(corpus, ref, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // the exact inverted-index path is the semantics anchor (d13's spec
    // already pins the fast LSH variant to it); the md5 variant must land
    // on the same survivor set on this corpus
    val exact = Dedup.crossDedup(corpus, ref, "doc_id", "text", n = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(md5Out == exact)
    assert(md5Out.forall(_ % 2 == 1))
  }

  test("incremental dedup index: same survivors as from-scratch, base text never scanned") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // base and delta live in SEPARATE files so scan isolation is provable
    // from the executed plan, not just argued
    val tmp = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val basePath = s"$tmp/base.parquet"; val deltaPath = s"$tmp/delta.parquet"
    docs.where(col("doc_id") % 4 =!= 0).write.parquet(basePath)
    docs.where(col("doc_id") % 4 === 0).write.parquet(deltaPath)
    val base = spark.read.parquet(basePath)
    val delta = spark.read.parquet(deltaPath)
    Dedup.writeMinhashIndex(spark, base, "doc_id", "text", "graft_test_idx", buckets = 4)
    val inc = Dedup.incrementalDedupMd5(spark, delta, "doc_id", "text", "graft_test_idx")
    val survivors = inc.select("doc_id").as[Long].collect().toSet
    // correctness: identical survivor set to the from-scratch bipartite run
    val scratch = Dedup.crossDedupLshMd5(delta, base, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == scratch)
    assert(survivors.forall(_ % 4 == 0))
    // scan isolation: the increment plan reads the delta file and the two
    // index tables — NEVER the base corpus file (no signature recompute)
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("delta.parquet") || plan.contains(deltaPath.split('/').last), plan.take(2000))
    assert(!plan.contains("base.parquet"), "increment path re-scanned the base corpus:\n" + plan.take(2000))
    assert(plan.contains("graft_test_idx_bands") && plan.contains("graft_test_idx_docs"))
    // the bands probe reads only (bkey, id) and the docs verify only
    // (id, hs) — the persisted sig column prunes out of the increment path
    val docsScanLine = plan.linesIterator.find(l =>
      l.contains("graft_test_idx_docs") && l.contains("ReadSchema"))
    assert(docsScanLine.exists(l => !l.contains("sig")),
      s"docs-table scan should prune sig: ${docsScanLine.getOrElse("scan line not found")}")
  }

  test("compactMinhashIndex: one file per bucket, content and no-new-exchange preserved") {
    def parquetFiles(table: String): Int = {
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, table.toLowerCase)
      Option(loc.listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.endsWith(".parquet"))
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val buckets = 4
    Dedup.writeMinhashIndex(spark, docs.where(col("doc_id") % 4 === 1),
      "doc_id", "text", "graft_cmp_idx", buckets = buckets)
    Dedup.appendMinhashIndex(spark, docs.where(col("doc_id") % 4 === 2),
      "doc_id", "text", "graft_cmp_idx", buckets = buckets)
    Dedup.appendMinhashIndex(spark, docs.where(col("doc_id") % 4 === 3),
      "doc_id", "text", "graft_cmp_idx", buckets = buckets)
    // 3 waves → ≥3 files per bucket accumulate (the small-file growth)
    assert(parquetFiles("graft_cmp_idx_bands") > buckets,
      s"appends should accumulate files, got ${parquetFiles("graft_cmp_idx_bands")}")
    val delta = docs.where(col("doc_id") % 4 === 0)
    def probe() = Dedup.incrementalDedupMd5(spark, delta, "doc_id", "text", "graft_cmp_idx")
    val before = probe()
    val beforeSurvivors = before.select("doc_id").as[Long].collect().toSet
    val beforeExchanges = before.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))

    Dedup.compactMinhashIndex(spark, "graft_cmp_idx", buckets = buckets)

    // physical: exactly one file per bucket in both tables
    assert(parquetFiles("graft_cmp_idx_bands") == buckets,
      s"bands: expected $buckets files, got ${parquetFiles("graft_cmp_idx_bands")}")
    assert(parquetFiles("graft_cmp_idx_docs") == buckets,
      s"docs: expected $buckets files, got ${parquetFiles("graft_cmp_idx_docs")}")
    // semantic: identical survivors; plan: compaction adds NO exchange
    // (bucket spec preserved → the index side still joins in place)
    val after = probe()
    assert(after.select("doc_id").as[Long].collect().toSet == beforeSurvivors)
    val afterExchanges = after.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(afterExchanges == beforeExchanges,
      s"compaction changed the probe's exchange count: $beforeExchanges -> $afterExchanges")
  }

  test("semDedup: no surviving semantic dups, losers covered, paper's representative rule") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val eps = 0.4 // where this corpus's near-dups live; at 0.5 there are none at all
    val out = Dedup.semDedup(emb, "vec_id", "embedding", eps, nCentroids = 16)
    val survivors = out.select("vec_id").as[Long].collect().toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(survivors.nonEmpty && survivors.subsetOf(all))
    val losers = all -- survivors
    assert(losers.nonEmpty, "eps=0.4 should drop some semantic dups on this corpus")
    // invariant 1: no two survivors in the same duplicate group — i.e. the
    // exact eps-pair graph restricted to survivors, WITHIN a cluster, is
    // empty. With nCentroids=1 every pair is in-cluster, so check globally
    // on the single-cluster variant:
    val one = Dedup.semDedup(emb, "vec_id", "embedding", eps, nCentroids = 1)
      .select("vec_id").as[Long].collect().toSet
    val exactPairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", eps)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!exactPairs.exists { case (a, b) => one.contains(a) && one.contains(b) },
      "two semantic duplicates both survived the single-cluster run")
    // invariant 2 (single-cluster): every loser has a surviving duplicate
    // (transitively its group kept exactly one member)
    val oneLosers = all -- one
    val adj = exactPairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // group-level coverage via union-find over the eps graph
    val ids = all.toSeq.sorted
    val idx = ids.zipWithIndex.toMap
    val parent = Array.tabulate(ids.size)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    exactPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byGroup = ids.groupBy(i => find(idx(i)))
    byGroup.values.foreach { members =>
      val kept = members.count(one.contains)
      assert(kept == 1, s"group ${members.toList.sorted} kept $kept members, want exactly 1")
    }
    assert(oneLosers.forall(l => adj.getOrElse(l, Set.empty).nonEmpty))
    // the paper's representative rule on a hand-built group: among mutual
    // dups, the member LEAST similar to the centroid survives
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)),      // dup group {1, 2}
      (2L, Array(0.995f, 0.0998f)), // ~cos 0.995 with 1
      (3L, Array(0.0f, 1.0f))       // its own group
    ).toDF("vec_id", "embedding")
    val keptTiny = Dedup.semDedup(tiny, "vec_id", "embedding", eps = 0.99, nCentroids = 1)
      .select("vec_id").as[Long].collect().toSet
    // centroid ≈ normalized mean, pulled toward the {1,2} pair and v3:
    // within {1,2} the one farther from the centroid must survive.
    // Compute the expectation from the same public centroid API.
    val cents = graft.operators.Similarity.trainCentroids(tiny, "vec_id", "embedding", 1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val c = cents(0)
    val s1 = cos(Array(1.0, 0.0), c); val s2 = cos(Array(0.995, 0.0998), c)
    val expectSurvivor = if (s1 < s2 || (s1 == s2)) 1L else 2L
    assert(keptTiny == Set(expectSurvivor, 3L), s"kept $keptTiny, want ${Set(expectSurvivor, 3L)}")
    // deterministic
    val again = Dedup.semDedup(emb, "vec_id", "embedding", eps, nCentroids = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(again == survivors)
  }

  test("semDedup: centroid-count scale guard fails fast with the fix in the message") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // 500 rows / 2 centroids = 250 mean cluster size > bound of 100 → the
    // quadratic within-cluster pair join would be undersized; the guard must
    // fire BEFORE any heavy work and tell the caller to raise nCentroids
    val e = intercept[IllegalArgumentException] {
      Dedup.semDedup(emb, "vec_id", "embedding", eps = 0.4,
        nCentroids = 2, maxMeanClusterSize = 100L)
    }
    assert(e.getMessage.contains("nCentroids"), e.getMessage)
    assert(e.getMessage.contains("QUADRATIC"), e.getMessage)
    // raising the knob deliberately is the documented escape hatch
    val ok = Dedup.semDedup(emb, "vec_id", "embedding", eps = 0.4,
      nCentroids = 2, maxMeanClusterSize = 1000L)
    assert(ok.count() > 0)
  }

  test("connectedComponents equals driver-side union-find on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 200
    val edges = (0 until 150).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // driver union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val got = Dedup.connectedComponents(
      (0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == want,
      s"mismatch on ${got.count { case (k, v) => want(k) != v }} nodes")
  }

  test("connectedComponents fused first round keeps every contract") {
    // exercises the r18 seed+round-1 fusion edge cases in one graph:
    //   - a 10-node path (multiple propagate rounds + pointer jumps)
    //   - a self-loop-only node (fixpoint in round 1)
    //   - an edge whose dst is NOT in `nodes` (edge-only ids don't take part;
    //     the node keeps itself as component)
    //   - an isolated node (stitched back as itself)
    val nodes = (Seq.range(0L, 10L) ++ Seq(20L, 30L, 40L)).toDF("id")
    val edges = (Seq.range(0L, 9L).map(i => (i, i + 1)) ++
      Seq((20L, 20L), (30L, 99L))).toDF("src", "dst")
    val got = Dedup.connectedComponents(nodes, edges).as[(Long, Long)].collect().toMap
    val want = Seq.range(0L, 10L).map(_ -> 0L).toMap ++
      Map(20L -> 20L, 30L -> 30L, 40L -> 40L)
    assert(got == want, got.toString)
  }

  test("clusterDupGroups equals a driver-side union-find per cluster, any id type") {
    // random cluster-local pair graphs: 4 clusters of 40 nodes, chains and
    // repeated pairs included; centroid similarities repeat, so the
    // (cent_sim, id) tiebreak decides many representatives
    val rnd = new scala.util.Random(11)
    val sim = (0 until 160).map(i => i -> (rnd.nextInt(5) / 4.0)).toMap
    val pairs = (0 until 120).map { _ =>
      val c = rnd.nextInt(4)
      val (a, b) = (c * 40 + rnd.nextInt(40), c * 40 + rnd.nextInt(40))
      (c, math.min(a, b), math.max(a, b))
    }.filter { case (_, a, b) => a != b }
    val parent = Array.tabulate(160)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (_, a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = pairs.flatMap { case (_, a, b) => Seq(a, b) }.distinct
    val byGroup = touched.groupBy(find)
    val rep = byGroup.view.mapValues(_.minBy(i => (sim(i), i))).toMap
    val want = touched.map(i => (i.toLong, find(i).toLong, rep(find(i)) == i)).toSet
    val longIds = pairs.map { case (c, a, b) => (c, a.toLong, sim(a), b.toLong, sim(b)) }
      .toDF("cid", "id_a", "cs_a", "id_b", "cs_b")
    val got = Dedup.clusterDupGroups(longIds).as[(Long, Long, Boolean)].collect().toSet
    assert(got == want, s"${(got -- want).take(5)} vs ${(want -- got).take(5)}")
    // string ids order as strings: zero-padding keeps the same answer
    val strIds = pairs.map { case (c, a, b) => (c, f"n$a%03d", sim(a), f"n$b%03d", sim(b)) }
      .toDF("cid", "id_a", "cs_a", "id_b", "cs_b")
    val gotStr = Dedup.clusterDupGroups(strIds).as[(String, String, Boolean)].collect()
      .map { case (i, c, k) => (i.drop(1).toLong, c.drop(1).toLong, k) }.toSet
    assert(gotStr == want)
  }

  test("simhashPairs: exact dup is hamming 0; unrelated text is not paired") {
    val pairs = Dedup.simhashPairs(docs, "id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
    val asMap = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(asMap((1L, 4L)) == 0)
    assert(!asMap.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("crossDedup drops corpus docs near a reference doc, keeps the rest") {
    val reference = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "totally unrelated reference material here today")).toDF("id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 100
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 100
      (3L, "entirely different text about spark and scala engines"),
      (4L, "short")).toDF("id", "text") // too short to shingle -> kept
    val kept = Dedup.crossDedup(corpus, reference, "id", "text", n = 3, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), kept.toString)
    // corpus-internal duplicates are NOT each other's references: a corpus
    // pair untouched by the reference survives intact (bipartite semantics)
    val corpus2 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val kept2 = Dedup.crossDedup(corpus2, reference, "id", "text", 3, 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept2 == Set(1L, 2L))
  }

  test("crossDedupLsh equals exact crossDedup on the documents testdata") {
    // 64/32×2 banding collides w.p. ~1 at J>=0.5 (same operating point d02
    // pins), so the LSH scale path keeps exactly the exact path's survivors
    val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = documents.where(col("doc_id") % 2 === 1)
    val reference = documents.where(col("doc_id") % 2 === 0)
    val exact = Dedup.crossDedup(corpus, reference, "doc_id", "text", 3, 0.5)
      .select("doc_id").as[Long].collect().toSet
    val lsh = Dedup.crossDedupLsh(corpus, reference, "doc_id", "text", 3, 64, 32, 0.5)
      .select("doc_id").as[Long].collect().toSet
    // precision exact ⇒ lsh keeps a superset (missed candidates only ADD
    // survivors); at this operating point they must be equal
    assert(exact.subsetOf(lsh))
    assert(lsh == exact, s"LSH kept ${(lsh -- exact).size} docs the exact path drops")
  }

  test("maxBucketSize bounds the hot-bucket candidate blow-up on a verbatim-replicated corpus") {
    // 200 verbatim copies: every LSH bucket they touch holds all 200 docs,
    // so the all-pairs candidate set is the full C(200,2) — the quadratic
    // straggler BASELINE.md documents. Hot buckets switch to STAR pairing
    // (member → min-id representative): 199 linear candidates instead of
    // 19 900, and the full duplicate group is still recoverable by
    // transitive closure. The two unique docs are unaffected.
    val copy = (1 to 30).map(i => s"copy$i").mkString(" ")
    val corpus = ((1L to 200L).map(i => (i, copy)) ++ Seq(
      (201L, (1 to 30).map(i => s"uniq$i").mkString(" ")),
      (202L, (1 to 30).map(i => s"vern$i").mkString(" ")))).toDF("id", "text")
    // the default cap (10 000) leaves a 200-doc bucket on the all-pairs path
    val uncapped = Dedup.minhashLshPairs(corpus, "id", "text", threshold = 0.9)
    assert(uncapped.count() == 200L * 199 / 2, "expected the full quadratic pair set")
    val capped = Dedup.minhashLshPairs(corpus, "id", "text", threshold = 0.9,
      maxBucketSize = 10L)
    val star = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exactly the star around doc 1: bounded (linear) AND every duplicate
    // is still linked into the group for the downstream closure
    assert(star == (2L to 200L).map(i => (1L, i)).toSet, s"got ${star.size} pairs")
    // simhash: identical docs share every band key on both blocking schemes
    for (radius <- Seq(3, 6)) {
      val s0 = Dedup.simhashPairs(corpus, "id", "text", maxHamming = radius)
      assert(s0.where(col("id_a") <= 200 && col("id_b") <= 200).count() == 200L * 199 / 2)
      val s1 = Dedup.simhashPairs(corpus, "id", "text", maxHamming = radius,
        maxBucketSize = Some(10L))
      assert(s1.where(col("id_a") <= 200 && col("id_b") <= 200).count() == 0,
        s"radius $radius: capped run still pairs the replicated block")
    }
    // the cap must not lose small-bucket pairs: a genuine near-dup pair in
    // an un-replicated corpus survives with the cap on
    val small = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "the quick brown fox jumps over the lazy dog tonight twice"),
      (3L, "entirely different text about spark and scala engines")).toDF("id", "text")
    val kept = Dedup.minhashLshPairs(small, "id", "text", threshold = 0.5,
      maxBucketSize = 10L).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L)), kept.toString)
  }

  test("crossDedupLsh recall floor at borderline similarity (J in [0.5, 0.6))") {
    import spark.implicits._
    // controlled word-trigram Jaccard just above the 0.5 threshold:
    // 60-token docs sharing a p-token prefix have J = (p-2)/(116-(p-2));
    // p ∈ 41..45 lands J ∈ [0.506, 0.589]. Tokens are unique per pair, so
    // no cross-pair candidates exist.
    val nPairs = 40
    val rows = (0 until nPairs).map { i =>
      val p = 41 + (i % 5)
      val shared = (0 until p).map(j => s"t${i}_$j")
      val corpusDoc = (shared ++ (p until 60).map(j => s"u${i}_$j")).mkString(" ")
      val refDoc = (shared ++ (p until 60).map(j => s"v${i}_$j")).mkString(" ")
      (i.toLong, corpusDoc, refDoc)
    }
    val corpus = rows.map(r => (r._1, r._2)).toDF("id", "text")
    val reference = rows.map(r => (r._1 + 1000L, r._3)).toDF("id", "text")
    val exactKept = Dedup.crossDedup(corpus, reference, "id", "text", 3, 0.5)
      .select("id").as[Long].collect().toSet
    assert(exactKept.isEmpty,
      s"construction check: the exact path must drop every borderline doc, kept $exactKept")
    val lshKept = Dedup.crossDedupLsh(corpus, reference, "id", "text", 3, 64, 32, 0.5)
      .select("id").as[Long].collect().toSet
    // the verify step is exact Jaccard → precision 1: LSH can only MISS
    // drops (keep a superset), never drop a survivor
    val recall = (nPairs - lshKept.size).toDouble / nPairs
    // 64-hash / 32-band × 2-row banding collides w.p. 1-(1-J²)^32 ≈ 0.9998
    // at J=0.5; the documented operating point leaves margin for
    // signature variance on 58-shingle docs
    assert(recall >= 0.85, s"d13 recall $recall below the 0.85 floor at J∈[0.5,0.6)")
  }

  test("crossDedupLsh caps hot buckets on the CORPUS side too") {
    import spark.implicits._
    // 100 verbatim corpus copies vs one reference copy: with only the
    // reference side capped (pre-r7), every band still emitted
    // 100 × 1 candidate rows; the two-sided cap drops the bucket outright
    val copy = (1 to 30).map(i => s"c$i").mkString(" ")
    val corpus = ((1L to 100L).map(i => (i, copy)) :+
      (200L, (1 to 30).map(i => s"u$i").mkString(" "))).toDF("id", "text")
    val reference = Seq((9000L, copy)).toDF("id", "text")
    val uncapped = Dedup.crossDedupLsh(corpus, reference, "id", "text", 3, 64, 32, 0.5)
      .select("id").as[Long].collect().toSet
    assert(uncapped == Set(200L), uncapped.toString)
    // capped at 10: the corpus-side occupancy (100) exceeds the cap, so
    // the bucket goes STAR — every corpus member pairs with the reference
    // rep only (100 candidates, not 100 × bands), the exact-Jaccard verify
    // still flags all verbatim copies, and only the unique doc survives:
    // bounded candidate volume WITHOUT the old drop-the-bucket recall loss
    val capped = Dedup.crossDedupLsh(corpus, reference, "id", "text", 3, 64, 32, 0.5,
      maxBucketSize = 10L).select("id").as[Long].collect().toSet
    assert(capped == Set(200L), capped.toString)
    // small buckets are untouched: a genuine borderline pair still dedups
    // with the cap on (reference-side path unchanged)
    val small = Seq((1L, "the quick brown fox jumps over the lazy dog tonight again")).toDF("id", "text")
    val smallRef = Seq((2L, "the quick brown fox jumps over the lazy dog tonight twice")).toDF("id", "text")
    val keptSmall = Dedup.crossDedupLsh(small, smallRef, "id", "text", 3, 64, 32, 0.5,
      maxBucketSize = 10L).count()
    assert(keptSmall == 0, "the near-dup corpus doc must still be dropped under the cap")
  }

  test("simhashPairs banding is pigeonhole-complete: equals brute force at each radius") {
    // bands = maxHamming + 1 must yield EVERY pair within the radius — the
    // round-3 fixed 4-band blocking lost distance-4..6 pairs at maxHamming=6.
    // Brute-force all C(500,2) fingerprint pairs on the driver as the oracle.
    val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fps = Dedup.simhash(documents, "doc_id", "text")
      .as[(Long, Long)].collect().sortBy(_._1)
    for (maxHamming <- Seq(3, 6)) {
      val expected = (for {
        i <- fps.indices.iterator
        j <- (i + 1) until fps.length
        d = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2)
        if d <= maxHamming
      } yield (fps(i)._1, fps(j)._1, d)).toSet
      val got = Dedup.simhashPairs(documents, "doc_id", "text", maxHamming)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == expected,
        s"maxHamming=$maxHamming: missed ${(expected -- got).size}, extra ${(got -- expected).size}")
      assert(expected.nonEmpty, s"vacuous at maxHamming=$maxHamming")
    }
  }

  test("md5-token simhash: 60-bit fingerprints, blocking complete, near-dups land close") {
    val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fps = Dedup.simhash(documents, "doc_id", "text", md5Tokens = true)
      .as[(Long, Long)].collect().sortBy(_._1)
    // 60-bit contract: top 4 bits always clear (so every 64-bit band bound
    // still holds), fingerprints non-degenerate
    assert(fps.forall { case (_, f) => (f >>> 60) == 0L })
    assert(fps.map(_._2).distinct.length > 1)
    // blocking completeness at the gate's radius, same brute-force oracle
    // as the xxhash spec above
    val expected = (for {
      i <- fps.indices.iterator
      j <- (i + 1) until fps.length
      d = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2)
      if d <= 6
    } yield (fps(i)._1, fps(j)._1, d)).toSet
    val got = Dedup.simhashPairs(documents, "doc_id", "text", maxHamming = 6, md5Tokens = true)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected,
      s"missed ${(expected -- got).size}, extra ${(got -- expected).size}")
    assert(expected.nonEmpty)
  }

  test("dedupLines: corpus-wide duplicated spans removed everywhere, order kept, cardinality preserved") {
    import spark.implicits._
    // span = 2 words; "x1 x2" appears in docs 1 and 2 → removed from BOTH;
    // doc 3 is entirely duplicated lines of doc 4 → emptied (and vice versa)
    val docs = Seq(
      (1L, "x1 x2 a1 a2 a3"),        // spans: [x1 x2][a1 a2][a3]
      (2L, "x1 x2 b1 b2"),           // spans: [x1 x2][b1 b2]
      (3L, "z1 z2 z3 z4"),           // spans: [z1 z2][z3 z4]
      (4L, "z1 z2 z3 z4"),           //   identical → both fully removed
      (5L, "")                       // empty doc: 0 spans, survives as empty
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", spanWords = 2, minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    val byId = out.map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byId(1L) == (("a1 a2 a3", 2L, 1L)))
    assert(byId(2L) == (("b1 b2", 1L, 1L)))
    assert(byId(3L) == (("", 0L, 2L)))
    assert(byId(4L) == (("", 0L, 2L)))
    assert(byId(5L) == (("", 0L, 0L)))
  }

  test("bucketed coLocatedJoin equals the plain join and survives overwrite reruns") {
    import spark.implicits._
    val l = Seq((1L, "a"), (2L, "b"), (2L, "c"), (3L, "d")).toDF("k", "lv")
    val r = Seq((1L, 10), (2L, 20), (4L, 40)).toDF("k", "rv")
    val expect = l.join(r, "k").as[(Long, String, Int)].collect().toSet
    val got = Bucketing.coLocatedJoin(spark, l, r, "k", buckets = 4,
      "graft_spec_bl", "graft_spec_br").as[(Long, String, Int)].collect().toSet
    assert(got == expect, got.toString)
    // overwrite semantics: rerun with different data replaces the tables
    val l2 = Seq((5L, "e")).toDF("k", "lv")
    val r2 = Seq((5L, 50)).toDF("k", "rv")
    val again = Bucketing.coLocatedJoin(spark, l2, r2, "k", buckets = 4,
      "graft_spec_bl", "graft_spec_br").as[(Long, String, Int)].collect().toSet
    assert(again == Set((5L, "e", 50)), again.toString)
    intercept[IllegalArgumentException](
      Bucketing.writeBucketed(spark, l, "graft_spec_bad", "k", 0))
  }

  test("containmentPairs: embedded doc found in both directions correctly, Jaccard misses it") {
    import spark.implicits._
    // doc 2 (12 words) is verbatim inside doc 1 (30 words): containment of
    // 2 in 1 is 1.0 while Jaccard is only 10/28 ≈ 0.36 — the asymmetric
    // relation catches what the symmetric one misses
    val host = (1 to 30).map(i => s"h$i").mkString(" ")
    val quote = (10 to 21).map(i => s"h$i").mkString(" ")
    val docs = Seq((1L, host), (2L, quote), (3L, "z1 z2 z3 z4")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((2L, 1L, 1.0)), got.toString)
    // the reverse direction (host in quote, 10/28) never clears 0.9,
    // and symmetric Jaccard at the same threshold finds nothing
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .count()
    assert(jac == 0L)
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.0))
  }

  test("dedupSpansKeepFirst: owner doc keeps its copy, later docs lose covered tokens, sliding windows catch unaligned overlap") {
    import spark.implicits._
    // span = 3 tokens. Docs 1 and 2 share the run "s1 s2 s3 s4" at DIFFERENT
    // offsets (doc 1 at pos 0, doc 2 at pos 1) — fixed blocks would miss it,
    // sliding windows catch both 3-gram spans [s1 s2 s3] and [s2 s3 s4].
    // Doc 1 is the min-id owner → untouched; doc 2 loses tokens 1..4 (the
    // union of both span occurrences). Doc 3 has no duplicated span.
    val docs = Seq(
      (1L, "s1 s2 s3 s4 a1"),
      (2L, "b1 s1 s2 s3 s4"),
      (3L, "c1 c2 c3 c4 c5"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpansKeepFirst(docs, "doc_id", "text", spanTokens = 3, minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byId(1L) == (("s1 s2 s3 s4 a1", 5L, 0L)), s"owner mutated: ${byId(1L)}")
    assert(byId(2L) == (("b1", 1L, 4L)), s"non-owner: ${byId(2L)}")
    assert(byId(3L) == (("c1 c2 c3 c4 c5", 5L, 0L)))
    assert(byId(4L) == (("", 0L, 0L)))
  }
}

class TrainingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curriculumOrder: phases by threshold, deterministic within-phase shuffle, order carried by sort") {
    // 25 clean words → quality 1.0 (phase 1); 3 clean words → 0.15 (phase 3);
    // 10 clean words → 0.5 exactly (>= 0.5 ⇒ phase 1); digits-heavy → low
    val docs = Seq(
      (1L, ('a' to 'y').map(c => s"$c$c").mkString(" ")), // 25 clean words
      (2L, "a b c"),
      (3L, "aa bb cc dd ee ff gg hh ii jj"),
      (4L, "11 22 33 44 55")
    ).toDF("doc_id", "text")
    val out = TrainingPipeline.curriculumOrder(docs, "doc_id", "text", Seq(0.5, 0.25))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(byId(1L) == 1 && byId(3L) == 1, byId.toString)
    assert(byId(2L) == 3)
    assert(byId(4L) == 3) // digit ratio crushes the score
    // returned order is (phase, shuffle_key, doc_id)
    assert(out.sortBy(t => (t._2, t._3, t._1)).toSeq == out.toSeq)
    // same seed → same order; different seed → different shuffle keys
    val again = TrainingPipeline.curriculumOrder(docs, "doc_id", "text", Seq(0.5, 0.25))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(again.toSeq == out.toSeq)
    val other = TrainingPipeline.curriculumOrder(docs, "doc_id", "text", Seq(0.5, 0.25), seed = 7L)
      .collect().map(_.getString(2)).toSet
    assert(other != out.map(_._3).toSet)
    intercept[IllegalArgumentException](
      TrainingPipeline.curriculumOrder(docs, "doc_id", "text", Seq(0.25, 0.5)))
    intercept[IllegalArgumentException](
      TrainingPipeline.curriculumOrder(docs, "doc_id", "text", Seq.empty))
  }

  test("curate clusterDedup keeps exactly one doc from a chained cluster; pair-pruning under-deletes") {
    // similarity structure (3-gram Jaccard over 30-word docs):
    //   J(1,3) = J(2,3) = 27/29 ≈ 0.931  >= 0.9 (each differs from base in
    //     one edge word, touching a single shingle)
    //   J(1,2) = 26/30 ≈ 0.867           <  0.9 (differ in two words)
    // so the near-dup graph is the chain 1–3, 2–3 with NO 1–2 edge.
    val words = (1 to 30).map(i => s"alpha$i")
    val base = words.mkString(" ")
    val d1 = ("zed0" +: words.tail).mkString(" ")
    val d2 = (words.init :+ "zed31").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, base)).toDF("doc_id", "text")
    val cluster = TrainingPipeline.curate(docs, minQuality = 0.0, jaccardThreshold = 0.9,
      clusterDedup = true).select("doc_id").as[Long].collect().toSet
    assert(cluster == Set(1L), s"cluster mode kept $cluster — want exactly the component minimum")
    // pair-pruning drops only id_b of each pair: losers {3}, so 2 survives
    // alongside 1 even though they are in the same transitive cluster
    val pairPruned = TrainingPipeline.curate(docs, minQuality = 0.0, jaccardThreshold = 0.9,
      clusterDedup = false).select("doc_id").as[Long].collect().toSet
    assert(pairPruned == Set(1L, 2L), s"pair mode kept $pairPruned")
  }

  test("curate filters by quality, removes exact and near duplicates") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TrainingPipeline.curate(docs, minQuality = 0.2, jaccardThreshold = 0.8)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty && ids.size < docs.count())
    // no doc below the quality cut survives
    assert(out.where(col("quality_score") < 0.2).isEmpty)
    // no surviving exact duplicates
    val dupTexts = out.groupBy("text").count().where(col("count") > 1)
    assert(dupTexts.isEmpty)
    // no surviving near-dup pair at the threshold
    val pairs = Dedup.minhashLshPairs(out.toDF(), "doc_id", "text", threshold = 0.8)
    assert(pairs.isEmpty)
  }

  test("redactPii replaces emails, phone-like runs and IPv4 literals") {
    val rows = Seq(
      "mail me at jane.doe+x@sub.example.co.uk today",
      "call +1 555 010 3344 now",
      "server at 192.168.0.17 is up",
      "order 1995-09-02 12345678 mixed",  // aggressive: digit runs redact
      "clean text with no pii at all")
      .toDF("text")
      .select(graft.functions.TextFunctions.redactPii(col("text")).as("clean"))
      .as[String].collect()
    assert(rows(0) == "mail me at <EMAIL> today", rows(0))
    assert(rows(1) == "call <PHONE> now", rows(1))
    assert(rows(2) == "server at <IP> is up", rows(2))
    assert(rows(3) == "order <PHONE> mixed", rows(3))
    assert(rows(4) == "clean text with no pii at all", rows(4))
  }

  test("stripMarkup removes tags, entities and markdown marks, collapsing the holes") {
    val rows = Seq(
      "<div class=\"x\"><p>hello <b>world</b></p></div>",
      "**bold** and _em_ and `code` and # heading",
      "a&nbsp;b &amp; c &#8212; d",
      "   already   plain   text   ",
      "<script>evil()</script>keep this")
      .toDF("text")
      .select(graft.functions.TextFunctions.stripMarkup(col("text")).as("clean"))
      .as[String].collect()
    assert(rows(0) == "hello world", rows(0))
    assert(rows(1) == "bold and em and code and heading", rows(1))
    assert(rows(2) == "a b & c — d" || rows(2) == "a b c d", rows(2)) // '&' and '—' are content, entities are not
    assert(rows(3) == "already plain text", rows(3))
    assert(rows(4) == "evil() keep this" || rows(4) == "evil()keep this", rows(4))
  }

  test("dedupExactNormalized collapses case/whitespace variants that dedupExact keeps") {
    val docs = Seq(
      (1L, "The Quick Brown Fox"),
      (2L, "  the   quick brown  fox "), // same after normalization
      (3L, "THE QUICK BROWN FOX"),       // same after normalization
      (4L, "a different document"))
      .toDF("doc_id", "text")
    val strict = Dedup.dedupExact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(strict == Set(1L, 2L, 3L, 4L), "byte-exact dedup must keep all variants")
    val norm = Dedup.dedupExactNormalized(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(norm == Set(1L, 4L), "normalized dedup keeps the lowest id per variant group")
  }

  test("unigram LM scoring: corpus-like text scores lower NLL than gibberish; OOV floor exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (vocab, oov) = graft.functions.TextFunctions.trainUnigramLm(docs, "doc_id", "text")
    assert(vocab.nonEmpty && vocab.size <= 1024)
    // probabilities are a (sub-)distribution: all logp < 0, OOV below every vocab mass
    assert(vocab.forall(_._2 < 0) && oov < 0)
    assert(vocab.forall(_._2 > oov), "smoothed vocab tokens must beat the OOV mass")
    // deterministic retrain
    val (vocab2, oov2) = graft.functions.TextFunctions.trainUnigramLm(docs, "doc_id", "text")
    assert(vocab == vocab2 && oov == oov2)
    // scoring: a real corpus sentence vs all-OOV gibberish
    val m = vocab.toMap
    val sample = docs.orderBy("doc_id").limit(1)
      .select("text").as[String].collect().head
    val scored = Seq(sample, "zzqx9 vvkpl7 mmtr3 qqwz5")
      .toDF("text")
      .select(graft.functions.TextFunctions.lmScore(col("text"), m, oov).as("s"))
      .as[Double].collect()
    assert(scored(0) < scored(1),
      s"corpus text ${scored(0)} should be less surprising than gibberish ${scored(1)}")
    // all-OOV text sits exactly at the OOV floor (rounded like the operator)
    assert(scored(1) == BigDecimal(-oov).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("DSIR: training is deterministic; weights follow the trained ratios term for term") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r1 = TrainingPipeline.trainDsirLogRatios(docs, "doc_id", "text",
      targetPred = col("lang") === "en")
    val r2 = TrainingPipeline.trainDsirLogRatios(docs, "doc_id", "text",
      targetPred = col("lang") === "en")
    assert(r1.length == 1024 && r1.sameElements(r2), "retrain must be bit-identical")
    // hand-computed weight for a known two-token doc: features are the
    // ordered list [a, b, "a b"], each bucketed by the corpus-wide 28-bit
    // md5 convention — pins the Spark-side bucket+fold to the same
    // arithmetic training used
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(f: String): Int = {
      val d = md.digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val top32 = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      ((top32 >>> 4) % 1024).toInt
    }
    val expected = BigDecimal(r1(bucket("alpha")) + r1(bucket("beta")) + r1(bucket("alpha beta")))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tiny = Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val got = TrainingPipeline.dsirSelect(tiny, "doc_id", "text", r1, topN = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - expected) < 1e-9, s"weight ${got(1L)} != $expected")
    // single-token doc: no bigrams, just the unigram term — and no crash
    val expected1 = BigDecimal(r1(bucket("alpha")))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got(2L) - expected1) < 1e-9)
  }

  test("DSIR: selection favors the target domain and returns exactly topN rows ordered") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ratios = TrainingPipeline.trainDsirLogRatios(docs, "doc_id", "text",
      targetPred = col("lang") === "en")
    val n = 20
    val sel = TrainingPipeline.dsirSelect(docs, "doc_id", "text", ratios, topN = n)
    val rows = sel.collect()
    assert(rows.length == n)
    // weights arrive sorted desc with id tiebreak (the deterministic resampling rule)
    val ws = rows.map(r => (r.getDouble(1), r.getLong(0)))
    assert(ws.sameElements(ws.sortBy { case (w, id) => (-w, id) }))
    // importance weighting must enrich the target domain vs its corpus share
    val selIds = rows.map(_.getLong(0)).toSet
    val enOverall = docs.where(col("lang") === "en").count().toDouble / docs.count()
    val enSel = docs.where(col("doc_id").isin(selIds.toSeq: _*))
      .where(col("lang") === "en").count().toDouble / n
    assert(enSel > enOverall,
      s"selected en-fraction $enSel should beat the corpus share $enOverall")
  }

  test("gopher rules: each metric and the combined verdict on crafted inputs") {
    val natural = (("the cat sat on the mat and that dog ran off with a bone " * 5).trim)
    val short = "too few words here"
    val digits = (1 to 60).map(_ => "12345").mkString(" ")
    val df = Seq((1L, natural), (2L, short), (3L, digits)).toDF("doc_id", "text")
    val cols = graft.functions.TextFunctions.gopherQuality(col("text"))
      .map { case (nm, c) => c.as(nm) }
    val out = df.select((col("doc_id") +: cols): _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    // natural: 14 words * 5 = 70 words, plenty of stopwords, all alphabetic
    assert(out(1L).getLong(1) == 70L)
    assert(out(1L).getLong(4) >= 2L)
    assert(out(1L).getDouble(3) == 1.0)
    assert(out(1L).getBoolean(5), "natural text must pass the battery")
    // short: fails on word count alone
    assert(out(2L).getLong(1) == 4L && !out(2L).getBoolean(5))
    // digits: enough words but alpha_frac = 0 and no stopwords
    assert(out(3L).getLong(1) == 60L)
    assert(out(3L).getDouble(3) == 0.0 && out(3L).getLong(4) == 0L)
    assert(!out(3L).getBoolean(5))
    // mean word length exact on the digit doc: every word is 5 chars
    assert(out(3L).getDouble(2) == 5.0)
  }

  test("c4 cleaning: line rules, sentence floor, and doc-level drops") {
    val goodLine = "this sentence has exactly six words."
    val good = Seq.fill(4)(goodLine).mkString("\n")
    val mixedLines = Seq(
      "short line here.",                       // 3 words -> dropped
      "six words but no terminal punctuation",  // no punct -> dropped
      "does an exclamation mark count here!",   // kept
      "and does a question mark count?",        // kept
      "\"a quoted sentence also counts fine.\"",// kept (ends in quote)
      goodLine).mkString("\n")
    val df = Seq(
      (1L, good),                                   // clean keep
      (2L, mixedLines),                             // line filters, 4 kept
      (3L, "Lorem IPSUM dolor.\n" + good),          // lorem ipsum (case-insensitive) -> drop
      (4L, good + "\nvar f = function() { x }"),    // curly brace -> drop
      (5L, good + "\nwin big at the casino today."),// blocklist word -> drop
      (6L, good.replace("words.", "casinos fun.")), // 'casinos' is NOT a \b match
      (7L, goodLine + "\n" + goodLine),             // only 2 sentences -> drop
      (8L, "")                                      // empty page
    ).toDF("doc_id", "text")
    val cols = graft.functions.TextFunctions.c4Clean(col("text"))
      .map { case (nm, c) => c.as(nm) }
    val out = df.select((col("doc_id") +: cols): _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(4) && out(1L).getLong(2) == 4L && out(1L).getLong(3) == 4L)
    assert(out(2L).getLong(2) == 4L, "exclamation/question/quote endings kept, short+unterminated dropped")
    assert(out(2L).getBoolean(4))
    assert(!out(3L).getBoolean(4), "lorem ipsum page dropped")
    assert(!out(4L).getBoolean(4), "curly-brace page dropped")
    assert(!out(5L).getBoolean(4), "blocklist page dropped")
    assert(out(6L).getBoolean(4), "blocklist is word-bounded: 'casinos' passes")
    assert(!out(7L).getBoolean(4) && out(7L).getLong(2) == 2L, "two sentences < 3 -> drop")
    assert(!out(8L).getBoolean(4) && out(8L).getString(1) == "" && out(8L).getLong(2) == 0L)
    // cleaned text of doc 2 is exactly the four surviving lines in order
    assert(out(2L).getString(1).split("\n").length == 4)
    assert(out(2L).getString(1).endsWith(goodLine))
  }

  test("ccnet buckets: terciles cover the corpus, ordered and roughly balanced") {
    val dir = "/root/testdata/sf0.001"
    graft.Tables.register(spark, dir)
    val out = graft.SparkEntry.queries("t12_ccnet_buckets")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val total = spark.table("documents").count()
    assert(out.length == total)
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // threshold rule => strict separation between buckets' NLL ranges
    assert(byBucket("head").max < byBucket("middle").min)
    assert(byBucket("middle").max < byBucket("tail").min)
    // terciles: each bucket within a loose band around n/3 (rounded-NLL
    // ties move whole tie-groups across a cutoff, so exact thirds aren't
    // guaranteed)
    byBucket.foreach { case (b, vs) =>
      assert(vs.length > total / 6 && vs.length < total / 2,
        s"bucket $b has ${vs.length} of $total docs")
    }
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),   // shares "quick brown fox" -> dropped
      (2L, "a completely different sentence entirely"),
      (3L, "short"),                            // too short to shingle -> kept
      (4L, "quick brown dog runs away now"))    // no shared trigram -> kept
      .toDF("doc_id", "text")
    val bench = Seq((0L, "benchmark text with the quick brown fox inside")).toDF("doc_id", "text")
    val kept = TrainingPipeline.decontaminate(corpus, bench, n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L), kept.toString)
    // the benchmark side must reach the corpus join as a BROADCAST (eval
    // sets are tiny next to the corpus — nothing large may shuffle)
    val plan = TrainingPipeline.decontaminate(corpus, bench, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("contaminationReport counts distinct leaking corpus docs, 0 for clean items") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps high today"),   // shares with bench 100
      (2L, "a completely different sentence entirely here"),
      (3L, "the quick brown fox runs far away"))      // also shares with bench 100
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "benchmark with the quick brown fox inside"),
      (200L, "spotless benchmark item sharing nothing at all"))
      .toDF("doc_id", "text")
    val rep = TrainingPipeline.contaminationReport(corpus, bench, n = 3)
    val m = rep.as[(Long, Long)].collect().toMap
    // bench 100 leaks into docs 1 and 3 (distinct docs, not shingle hits);
    // bench 200 is clean and still reported, with 0
    assert(m == Map(100L -> 2L, 200L -> 0L), m.toString)
    // the benchmark side must broadcast — nothing corpus-sized shuffles wide
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("decontaminateBloom equals decontaminate exactly, even with a saturated filter") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val bench = docs.where(col("doc_id") % 10 === 0)
    val exact = TrainingPipeline.decontaminate(corpus, bench, n = 4)
      .select("doc_id").as[Long].collect().toSet
    val bloomed = TrainingPipeline.decontaminateBloom(corpus, bench, n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == exact)
    // undersized filter (expected=50 for thousands of shingles) saturates →
    // high fpp, near-zero pruning — the exact verify must still restore
    // exact semantics (false positives cost work, never correctness)
    val saturated = TrainingPipeline.decontaminateBloom(corpus, bench, n = 4,
      expectedShingles = 50L, fpp = 0.03)
      .select("doc_id").as[Long].collect().toSet
    assert(saturated == exact)
  }

  test("bloom might_contain prunes map-side with no false negatives") {
    import graft.functions.BloomFunctions
    val members = spark.range(0, 10000).where(col("id") % 7 === 0).select(col("id").as("h"))
    val bloom = BloomFunctions.buildLongFilter(members, "h", 2000L, 0.01)
    val flagged = spark.range(0, 10000)
      .where(BloomFunctions.mightContainLong(bloom, col("id")))
      .select("id").as[Long].collect().toSet
    // every true member flagged (no false negatives)...
    assert((0L until 10000L).filter(_ % 7 == 0).forall(flagged.contains))
    // ...and the fpp bound holds with slack: <= 5% of non-members flagged at fpp=1%
    val fps = flagged.count(_ % 7 != 0)
    assert(fps <= 10000 * 0.05, s"false positives: $fps")
    // the probe is a plain Filter on the scan — no join, no shuffle, and it
    // stays inside whole-stage codegen
    val plan = spark.range(0, 100)
      .where(BloomFunctions.mightContainLong(bloom, col("id")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the plan string
    assert(plan.contains("*(1) Filter"), plan)
  }

  test("sampleFraction: mixture rates hold, deterministic across runs, map-side only") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fr = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.1)
    val out = TrainingPipeline.sampleFraction(docs, "lang", "doc_id", fr)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    // groups not in the mixture are dropped entirely
    assert(counts.keySet.subsetOf(fr.keySet), counts.toString)
    // full-fraction group keeps everything; rates land near the target
    assert(counts.get("de") == totals.get("de"))
    for ((g, f) <- fr if totals.getOrElse(g, 0L) > 50) {
      val rate = counts.getOrElse(g, 0L).toDouble / totals(g)
      assert(math.abs(rate - f) < 0.15, s"$g: rate $rate vs fraction $f")
    }
    // identical id set on re-evaluation (no rand() nondeterminism)
    val a = out.select("doc_id").as[Long].collect().toSet
    val b = TrainingPipeline.sampleFraction(docs, "lang", "doc_id", fr)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // a filter off the scan: no Exchange in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("temperatureMixture: sqrt weights flatten skewed shares; rates match the closed form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TrainingPipeline.temperatureMixture(docs, "lang", "doc_id", budgetFrac = 0.5)
    // rates equal the closed form computed driver-side with the same
    // ordered fold over group-sorted sqrt weights
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val n = totals.values.sum.toDouble
    val wTotal = totals.toSeq.sortBy(_._1).map { case (_, c) => math.sqrt(c.toDouble) }
      .foldLeft(0.0)(_ + _)
    val gotRates = out.select("lang", "rate").distinct().as[(String, Double)].collect().toMap
    gotRates.foreach { case (g, r) =>
      val want = math.min(1.0, 0.5 * n * math.sqrt(totals(g).toDouble) / wTotal / totals(g))
      assert(r == want, s"$g: $r vs $want")
    }
    // flattening: the dominant group's sampled share sits strictly below its
    // natural share, the rarest strictly above its thinned-uniform floor
    val kept = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    val natural = totals.maxBy(_._2)._1
    assert(kept(natural).toDouble / kept.values.sum < totals(natural) / n,
      s"dominant '$natural' share not flattened")
    // rarer groups keep a HIGHER fraction of their rows than the dominant one
    val rare = totals.minBy(_._2)._1
    assert(gotRates(rare) > gotRates(natural))
    // unsupported temperatures fail fast rather than drifting cross-engine
    intercept[IllegalArgumentException](
      TrainingPipeline.temperatureMixture(docs, "lang", "doc_id", 0.5, temperature = 4.0))
  }

  test("mixture->dedup->split->pack composition: keepers are even sources, offsets in budget") {
    // the p04 pipeline on sf0.001: every surviving odd id is a variant
    // whose even-id source did NOT survive temperature sampling (otherwise
    // normalized dedup keeps the lower/even id)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val variant = docs.select((col("doc_id") + 1).as("doc_id"),
      concat(lit("  "), upper(regexp_replace(col("text"), " ", "  "))).as("text"), col("lang"))
      .where(col("doc_id") % 2 === 1)
    val corpus = docs.where(col("doc_id") % 2 === 0)
      .select("doc_id", "text", "lang").union(variant)
    val mixed = TrainingPipeline.temperatureMixture(corpus, "lang", "doc_id", budgetFrac = 0.7)
    val survivors = mixed.select("doc_id").as[Long].collect().toSet
    val deduped = Dedup.dedupExactNormalized(mixed, "text", "doc_id")
    val kept = deduped.select("doc_id").as[Long].collect().toSet
    val oddKept = kept.filter(_ % 2 == 1)
    assert(oddKept.nonEmpty, "fixture should leave some odd variants as sole survivors")
    oddKept.foreach { o =>
      assert(!survivors.contains(o - 1),
        s"variant $o kept although its even source ${o - 1} survived sampling")
    }
    val packed = TrainingPipeline.packSequences(
      TrainingPipeline.assignSplits(deduped, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "train")
        .withColumn("n_tokens",
          size(org.apache.spark.sql.functions.split(col("text"), " ")).cast("long")),
      "doc_id", col("n_tokens"), pmod(col("doc_id"), lit(8)), budget = 2048L)
    val offs = packed.select("off").as[Long].collect()
    assert(offs.forall(o => o >= 0 && o < 2048L))
  }

  test("curate substringDedup removes lifted-passage docs plain curate keeps") {
    // doc 11 lifts a 6-word passage from doc 10; whole-doc Jaccard is far
    // below 0.8 so MinHash curation keeps both — substring mode must fold
    // the winnowing edge into the cluster closure and keep only doc 10
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (11L, "completely different opening words here gamma delta epsilon zeta eta theta then an unrelated long tail of many extra words follows"),
      (12L, "nothing in common with either of the other documents at all whatsoever")
    ).toDF("doc_id", "text")
    val plain = TrainingPipeline.curate(docs, minQuality = 0.05)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(10L, 11L, 12L), plain.toString)
    val sub = TrainingPipeline.curate(docs, minQuality = 0.05,
      substringDedup = true, winnowK = 3, winnowW = 4, minSharedFp = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(sub == Set(10L, 12L), sub.toString)
  }

  test("assignSplits: total cover, stable under corpus growth, map-side, proportional") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = TrainingPipeline.assignSplits(docs, "doc_id", splits)
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum
    // every row assigned to a declared split
    assert(total == docs.count() && counts.keySet.subsetOf(Set("train", "val", "test")))
    // proportions in the right neighborhood (binomial slack on a small corpus)
    assert(counts("train").toDouble / total > 0.7 && counts("train").toDouble / total < 0.9)
    // STABILITY: assignments on a half-corpus equal the full-corpus ones for
    // the same ids — growing the corpus never rotates eval docs into train
    val half = TrainingPipeline.assignSplits(docs.where(col("doc_id") % 2 === 0), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val full = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(half.forall { case (id, s) => full(id) == s })
    // pure map-side column add
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // bad weights rejected loudly
    intercept[IllegalArgumentException] {
      TrainingPipeline.assignSplits(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("selectUnderBudget: greedy prefix in priority order, cap never exceeded") {
    val docs = (1L to 100L).map(i => (i, s"g${i % 3}", (i % 17) + 1)).toDF("id", "g", "tok")
    val out = TrainingPipeline.selectUnderBudget(docs, "g", "id", col("tok"), col("tok"), budget = 50L)
      .select("id", "g", "tok").as[(Long, String, Long)].collect()
    val byGroup = out.groupBy(_._2)
    byGroup.foreach { case (g, rows) =>
      assert(rows.map(_._3).sum <= 50L, s"$g over budget")
    }
    // prefix property: every kept row has priority >= any dropped row of its
    // group, up to the id tiebreak at equal priority
    import scala.math.Ordering.Implicits._
    val kept = out.map(r => (r._1, r._2)).toSet
    val all = docs.select("id", "g", "tok").as[(Long, String, Long)].collect()
    byGroup.foreach { case (g, rows) =>
      val minKept = rows.map(r => (-r._3, r._1)).max // lowest-priority kept
      val dropped = all.filter(r => r._2 == g && !kept.contains((r._1, r._2)))
      dropped.foreach { d =>
        assert((-d._3, d._1) > minKept,
          s"$g: dropped ${d._1} (tok ${d._3}) outranks kept ${minKept}")
      }
    }
  }

  test("selectUnderBudget prePrune: identical greedy prefix from a shrunken sort input") {
    // 3 groups × 200 rows of mixed token sizes: tot ≈ 1800/group ≫ 3×60,
    // so pruning fires; kept mass stays above budget, so no fallback runs
    val docs = (1L to 600L).map(i => (i, s"g${i % 3}", (i % 17) + 1, (i % 97).toDouble))
      .toDF("id", "g", "tok", "prio")
    val base = TrainingPipeline.selectUnderBudget(docs, "g", "id", col("tok"), col("prio"), budget = 60L)
      .select("id", "g", "tok").as[(Long, String, Long)].collect().toSet
    val pruned = TrainingPipeline.selectUnderBudget(docs, "g", "id", col("tok"), col("prio"),
      budget = 60L, prePrune = true, pruneSlack = 3.0)
      .select("id", "g", "tok").as[(Long, String, Long)].collect().toSet
    assert(pruned == base)
    val input = TrainingPipeline.budgetWindowInput(docs, "g", col("tok"), col("prio"), 60L, 3.0)
    assert(input.count() < docs.count(), "pre-prune did not shrink the window input")
  }

  test("selectUnderBudget prePrune: adversarial token skew triggers the exact fallback") {
    // the estimator's blind spot by construction: top priorities are tiny
    // docs (their whole mass ≤ budget), low priorities are huge ones — the
    // row-fraction cutoff overshoots, kept mass lands ≤ budget, and the
    // group must re-enter unpruned; the greedy prefix must come out
    // identical anyway
    val rows = (1L to 100L).map(i => (i, "g", 1L, 1000.0 - i)) ++
      (101L to 200L).map(i => (i, "g", 1000L, 1000.0 - i))
    val docs = rows.toDF("id", "g", "tok", "prio")
    val base = TrainingPipeline.selectUnderBudget(docs, "g", "id", col("tok"), col("prio"), budget = 100L)
      .select("id").as[Long].collect().toSet
    assert(base == (1L to 100L).toSet) // sanity: exactly the tiny docs fit
    val pruned = TrainingPipeline.selectUnderBudget(docs, "g", "id", col("tok"), col("prio"),
      budget = 100L, prePrune = true, pruneSlack = 2.0)
      .select("id").as[Long].collect().toSet
    assert(pruned == base)
  }

  test("chunkDocuments: sliding windows cover the doc with the exact overlap, map-side only") {
    val docs = Seq((1L, (1 to 25).map(i => s"t$i").mkString(" ")), (2L, "a b")).toDF("doc_id", "text")
    val out = TrainingPipeline.chunkDocuments(docs, "doc_id", "text", chunkTokens = 10, overlap = 4)
      .select("doc_id", "chunk_id", "start", "chunk_text")
      .as[(Long, Long, Long, String)].collect().sortBy(t => (t._1, t._2))
    // doc 1: 25 tokens, stride 6 → starts 0,6,12,18,24
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(0L, 6L, 12L, 18L, 24L))
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // chunks fully inside the doc are exactly 10 tokens; tail chunks clamp
    val lens = d1.map(_._4.split(" ").length)
    assert(lens.toSeq == Seq(10, 10, 10, 7, 1), lens.toSeq.toString)
    // consecutive chunks overlap by exactly `overlap` tokens
    assert(d1(0)._4.split(" ").drop(6).toSeq == d1(1)._4.split(" ").take(4).toSeq)
    // reconstruction: stride-prefixes concatenated = original token stream
    val rebuilt = d1.flatMap(_._4.split(" ").take(6)).toSeq
    assert(rebuilt == (1 to 25).map(i => s"t$i"))
    // short doc → one partial chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, "a b")))
    // map-side only: the chunking itself must not shuffle (wellSplit —
    // the r17 conditional input spread no-ops on an at-scale input)
    val plan = TrainingPipeline.chunkDocuments(wellSplit(docs), "doc_id", "text", 10, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("repetitionRatio: known values, short-doc zero, no shuffle") {
    val rows = Seq(
      (1L, "a b a b a b a"),        // 5 trigrams, 2 distinct -> 0.6
      (2L, "w1 w2 w3 w4 w5"),       // all distinct -> 0.0
      (3L, "x y"),                  // too short -> 0.0
      (4L, "c c c c c c"))          // 4 trigrams, 1 distinct -> 0.75
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextFunctions.repetitionRatio(col("text"), 3).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(rows(1L) - 0.6) < 1e-9, rows(1L).toString)
    assert(rows(2L) == 0.0 && rows(3L) == 0.0)
    assert(math.abs(rows(4L) - 0.75) < 1e-9, rows(4L).toString)
  }

  test("packSequences: greedy concat-and-chunk invariants per shard") {
    val docs = (1L to 200L).map(i => (i, ("w " * ((i % 37).toInt + 1)).trim)).toDF("doc_id", "text")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    val out = TrainingPipeline.packSequences(
      docs, "doc_id", col("n_tokens"), pmod(col("doc_id"), lit(4)), budget = 64L)
      .select("doc_id", "n_tokens", "shard", "start", "pack", "off")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.length == 200)
    // per shard: start is the exclusive prefix sum over doc_id order
    out.groupBy(_._3).foreach { case (_, rows) =>
      var acc = 0L
      rows.sortBy(_._1).foreach { case (_, tok, _, start, pack, off) =>
        assert(start == acc, s"start $start != prefix $acc")
        assert(pack == start / 64 && off == start % 64)
        acc += tok
      }
    }
    // pack ids are dense per shard: every pack below the max is non-empty
    out.groupBy(_._3).foreach { case (_, rows) =>
      val packs = rows.map(_._5).toSet
      assert((0L until packs.max).forall(p => packs.contains(p) || {
        // a doc longer than the budget may straddle and skip a pack id —
        // only legal when some doc spans it
        rows.exists { case (_, tok, _, start, _, _) => start < p * 64 && start + tok > p * 64 }
      }))
    }
  }

  test("decontaminateSpans: only covered tokens removed, overlapping spans merge, cardinality kept") {
    val bench = Seq((100L, "x1 x2 x3")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a1 x1 x2 x3 a2 a3"),       // one contaminated 3-gram at pos 1 → x1 x2 x3 cut
      (2L, "x1 x2 x3 x1 x2 x3"),       // two matches + the bridging spans cover EVERYTHING
      (3L, "b1 b2 b3 b4"),             // clean → untouched
      (4L, "x1 x2")                    // shorter than n → no spans → untouched
    ).toDF("doc_id", "text")
    val out = TrainingPipeline.decontaminateSpans(docs, bench, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a1 a2 a3", 3L, 3L)), out(1L))
    assert(out(2L) == (("", 0L, 6L)), out(2L))
    assert(out(3L) == (("b1 b2 b3 b4", 4L, 0L)), out(3L))
    assert(out(4L) == (("x1 x2", 2L, 0L)), out(4L))
    assert(out.size == 4)
  }

  test("materializeMixture: integer rates emit exact epochs, fractional rates concentrate, absent sources drop") {
    // srcA: 1 doc x 10 tokens, share 0.75, budget 40 → rate 3.0 → exactly 3 copies
    // srcB: 1 doc x 10 tokens, share 0.25            → rate 1.0 → exactly 1 copy
    // srcC: absent from shares → dropped
    val docs = Seq(
      (1L, "a b c d e f g h i j", "srcA"),
      (2L, "a b c d e f g h i j", "srcB"),
      (3L, "a b c d e f g h i j", "srcC")).toDF("doc_id", "text", "source")
    val out = TrainingPipeline.materializeMixture(
      docs, "doc_id", "text", "source", Seq("srcA" -> 0.75, "srcB" -> 0.25), budgetTokens = 40L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(out.count(_._1 == 1L) == 3 && out.filter(_._1 == 1L).map(_._4).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(out.count(_._1 == 2L) == 1)
    assert(!out.exists(_._1 == 3L))
    assert(out.forall(r => r._1 != 1L || r._3 == 3.0))

    // fractional upsampling concentrates: 200 docs x 5 tokens, share 1.0,
    // budget 2500 → rate 2.5 → expected 500 copies, binomial sd = sqrt(200*.25) ≈ 7
    val many = (0 until 200).map(i => (i.toLong, "t1 t2 t3 t4 t5", "s")).toDF("doc_id", "text", "source")
    val n = TrainingPipeline.materializeMixture(
      many, "doc_id", "text", "source", Seq("s" -> 1.0), budgetTokens = 2500L).count()
    assert(math.abs(n - 500L) <= 35, s"got $n copies, expected ~500")
  }

  test("quality classifier: learns a separable rule, deterministic weights, scorer matches trainer math") {
    // label = doc contains the token 'good' — linearly separable via the
    // 'good' unigram bucket
    val docs = (0 until 200).map { i =>
      val good = i % 2 == 0
      val filler = s"tok${i % 7} tok${i % 11} tok${i % 5} tok${i % 3}"
      (i.toLong, if (good) s"$filler good $filler" else s"$filler bad $filler")
    }.toDF("doc_id", "text")
    val (w, b) = TrainingPipeline.trainQualityClassifier(
      docs, "doc_id", "text", col("text").contains("good"), epochs = 200)
    val (w2, b2) = TrainingPipeline.trainQualityClassifier(
      docs, "doc_id", "text", col("text").contains("good"), epochs = 200)
    assert(w.sameElements(w2) && b == b2, "training must be bit-deterministic")
    val scored = TrainingPipeline.qualityClassify(docs, "doc_id", "text", w, b)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val acc = (0 until 200).count(i => scored(i.toLong) == (i % 2 == 0)) / 200.0
    assert(acc == 1.0, s"separable rule not learned: acc=$acc")
  }
}

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("cusumChangepoints: a level shift trips the detector only after the shift") {
    // 20 points at 10, then 20 at 14 (mean 12): pre-shift deviations are
    // −3 (inc. slack 1) so S pins at 0; post-shift +1 per point, so S
    // climbs linearly and crosses h=10 ten points into the new level —
    // the slow-drift case a per-point z-score never flags.
    val rows = (0 until 40).map { i =>
      ("k", java.sql.Timestamp.valueOf(f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d"),
        i.toLong, if (i < 20) 10.0 else 14.0)
    }.toDF("g", "ts", "eid", "v")
    val out = TimeSeries.cusumChangepoints(rows, "ts", "g", "v", "eid",
        slack = 1.0, threshold = 10.0)
      .orderBy("eid").collect()
    val flags = out.map(_.getBoolean(4))
    assert(!flags.take(30).exists(identity), "flagged before the shift settled")
    assert(flags.drop(31).forall(identity), "tail after crossing must stay flagged")
    // S is identically 0 before the shift (deviations negative, floor at 0)
    assert(out.take(20).forall(_.getLong(3) == 0L))
    // and climbs monotonically after it
    val tail = out.drop(20).map(_.getLong(3))
    assert(tail.zip(tail.tail).forall { case (a, b) => b > a }, tail.mkString(","))
  }

  test("gapFillCounts: every bucket in [min,max] present per group, gaps zero-filled") {
    val ev = Seq(
      ("a", "2024-01-01 10:00:30"), // bucket 10:00
      ("a", "2024-01-01 10:00:45"),
      ("a", "2024-01-01 10:03:10"), // bucket 10:03 — 10:01, 10:02 are gaps
      ("b", "2024-01-01 10:01:05")  // b exists only at 10:01
    ).toDF("g", "ts_s").select(col("g"), col("ts_s").cast("timestamp").as("ts"))
    val out = TimeSeries.gapFillCounts(ev, "ts", "g", bucketSeconds = 60L)
      .collect()
      .map(r => (r.getTimestamp(0).toString.substring(11, 16), r.getString(1)) -> r.getLong(2))
      .toMap
    // spine = 4 buckets (10:00..10:03) x 2 groups = 8 rows, gaps at 0
    assert(out.size == 8, out)
    assert(out(("10:00", "a")) == 2L && out(("10:03", "a")) == 1L)
    assert(out(("10:01", "a")) == 0L && out(("10:02", "a")) == 0L)
    assert(out(("10:01", "b")) == 1L)
    assert(out(("10:00", "b")) == 0L && out(("10:02", "b")) == 0L && out(("10:03", "b")) == 0L)
  }

  test("twap: value holds to the next observation; durations exact; ties get zero duration") {
    val ev = Seq(
      // bucket 10:00: v=6 holds 30s, v=12 holds 30s -> twap 9.0
      ("a", "2024-01-01 10:00:00", 1L, 6.0),
      ("a", "2024-01-01 10:00:30", 2L, 12.0),
      // bucket 10:01: single obs at :45 holds the last 15s -> twap = value
      ("a", "2024-01-01 10:01:45", 3L, 5.0),
      // bucket 10:02: tie on ts — id 4 gets duration 0, id 5 holds 30s
      ("a", "2024-01-01 10:02:30", 4L, 100.0),
      ("a", "2024-01-01 10:02:30", 5L, 8.0)
    ).toDF("g", "ts_s", "id", "v")
      .select(col("g"), col("ts_s").cast("timestamp").as("ts"), col("id"), col("v"))
    val out = TimeSeries.twap(ev, "ts", "g", "v", "id", bucketSeconds = 60L)
      .collect()
      .map(r => r.getTimestamp(1).toString.substring(11, 16) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(out("10:00") == ((9.0, 2L)), out.toString)
    assert(out("10:01") == ((5.0, 1L)))
    assert(out("10:02") == ((8.0, 2L))) // the tied-earlier 100.0 weighs nothing
  }

  test("ohlcBars: open/close on the unique (ts, tiebreak) ordering, high/low/count exact") {
    val ev = Seq(
      // bucket 10:00 for group a: open=5 (earliest), close=1 (latest),
      // high=9, low=1; the two 10:00:30 rows tie on ts — id 2 < id 3 so
      // id 2's value is NOT the close
      ("a", "2024-01-01 10:00:10", 1L, 5.0),
      ("a", "2024-01-01 10:00:30", 2L, 9.0),
      ("a", "2024-01-01 10:00:30", 3L, 1.0),
      // bucket 10:01: single row — o=h=l=c
      ("a", "2024-01-01 10:01:40", 4L, 7.0),
      ("b", "2024-01-01 10:00:50", 5L, 2.0)
    ).toDF("g", "ts_s", "id", "v")
      .select(col("g"), col("ts_s").cast("timestamp").as("ts"), col("id"), col("v"))
    val out = TimeSeries.ohlcBars(ev, "ts", "g", "v", "id", bucketSeconds = 60L)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString.substring(11, 16)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))))
      .toMap
    assert(out(("a", "10:00")) == ((5.0, 9.0, 1.0, 1.0, 3L)), out.toString)
    assert(out(("a", "10:01")) == ((7.0, 7.0, 7.0, 7.0, 1L)))
    assert(out(("b", "10:00")) == ((2.0, 2.0, 2.0, 2.0, 1L)))
    // one aggregation, no window/join in the plan (map-side combinable)
    val p = TimeSeries.ohlcBars(ev, "ts", "g", "v", "id", 60L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("interpolateLinear: gaps take the time-weighted blend; observed buckets keep max") {
    // group a: observed at 10:00 (v=10) and 10:03 (v=40) → 10:01 = 20,
    // 10:02 = 30 (linear); 10:00 has two rows → max wins. group b: single
    // bucket → 1-row spine, observed.
    val ev = Seq(
      ("a", "2024-01-01 10:00:10", 4.0),
      ("a", "2024-01-01 10:00:50", 10.0),
      ("a", "2024-01-01 10:03:10", 40.0),
      ("b", "2024-01-01 10:01:05", 7.5)
    ).toDF("g", "ts_s", "v").select(col("g"), col("ts_s").cast("timestamp").as("ts"), col("v"))
    val out = TimeSeries.interpolateLinear(ev, "ts", "g", "v", bucketSeconds = 60L)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString.substring(11, 16)) ->
        ((r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(out.size == 5, out)
    assert(out(("a", "10:00")) == ((10.0, true)))
    assert(out(("a", "10:01")) == ((20.0, false)))
    assert(out(("a", "10:02")) == ((30.0, false)))
    assert(out(("a", "10:03")) == ((40.0, true)))
    assert(out(("b", "10:01")) == ((7.5, true)))
  }

  test("ewma: trailing fold matches the recurrence; truncation at lookback; groups independent") {
    val ev = (1 to 6).map(i => ("a", f"2024-01-01 10:00:$i%02d", i.toLong, i.toDouble)) :+
      (("b", "2024-01-01 10:00:01", 7L, 100.0))
    val df = ev.toDF("g", "ts_s", "id", "v")
      .select(col("g"), col("ts_s").cast("timestamp").as("ts"), col("id"), col("v"))
    // alpha 0.5, lookback 3: row 4's frame is [2,3,4] -> ((2*.5+3*.5)*.5+4*.5) = 3.25
    val out = TimeSeries.ewma(df, "ts", "g", "v", "id", alpha = 0.5, lookback = 3)
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(out(1L) == 1.0) // seed = its own value
    assert(out(2L) == 1.5)
    assert(out(3L) == 2.25) // (1*.5+2*.5)*.5 + 3*.5
    assert(out(4L) == 3.25) // value 1 dropped by truncation
    assert(out(7L) == 100.0) // group b unaffected by a's history
  }

  test("rollingZscore: out-of-sample score, warm-up filter, threshold filter") {
    // 20 flat values then a spike: only the spike row clears |z| > 3, and
    // only rows with >= 4 preceding obs are scored at all
    val vals = Seq.fill(20)(10.0) ++ Seq(10.4, 200.0)
    val ev = vals.zipWithIndex.map { case (v, i) =>
      ("a", f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d", i.toLong, v)
    }
    val df = ev.toDF("g", "ts_s", "id", "v")
      .select(col("g"), col("ts_s").cast("timestamp").as("ts"), col("id"), col("v"))
    val out = TimeSeries.rollingZscore(df, "ts", "g", "v", "id",
      lookback = 8, minObs = 4, threshold = 3.0)
      .collect().map(r => (r.getLong(2), r.getDouble(3), r.getDouble(6)))
    // flat history has sigma = 0 -> excluded; 10.4 perturbs sigma for the
    // spike row, which then scores far above threshold
    assert(out.length == 1, out.toSeq)
    assert(out.head._1 == 21L && out.head._2 == 200.0)
    assert(out.head._3 > 3.0)
  }
}

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("weightedPaths: cheaper longer path wins; rounds bound the relaxation") {
    // 1—2 (5), 2—3 (1), 1—3 (10), 3—4 (1): direct 1→3 costs 10, via 2
    // costs 6 — round 2 must IMPROVE the settled node 3 (the re-improve
    // case unweighted BFS never has), and 4 improves again in round 3
    // (11 via the direct edge, then 7 via the cheaper path)
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val seed = Seq(1L).toDF("node")
    def run(r: Int): Map[Long, Long] =
      GraphOps.weightedPaths(edges, "src", "dst", "w", seed, rounds = r)
        .as[(Long, Long)].collect().toMap
    assert(run(1) == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
    assert(run(2) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 11L))
    assert(run(3) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 7L))
    // parallel edges keep the cheapest
    val multi = Seq((1L, 2L, 9L), (1L, 2L, 3L)).toDF("src", "dst", "w")
    assert(GraphOps.weightedPaths(multi, "src", "dst", "w", seed, rounds = 1)
      .as[(Long, Long)].collect().toMap == Map(1L -> 0L, 2L -> 3L))
  }

  test("weightedPaths: empty frontier short-circuits the remaining rounds") {
    // a 2-edge path converges after round 2 (round 3 improves nothing);
    // with rounds=10 the loop must stop scheduling jobs once the frontier
    // empties — the cap is a bound, not a cost
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val seed = Seq(1L).toDF("node")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = GraphOps.weightedPaths(edges, "src", "dst", "w", seed, rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
      Thread.sleep(300) // let queued listener events drain
      val convergedJobs = counter.get()
      counter.set(0)
      // same graph, far larger cap: converged run must not schedule more
      val out10 = GraphOps.weightedPaths(edges, "src", "dst", "w", seed, rounds = 10)
        .as[(Long, Long)].collect().toMap
      assert(out10 == out)
      Thread.sleep(300) // let queued listener events drain
      assert(counter.get() == convergedJobs,
        s"rounds=10 scheduled ${counter.get()} jobs vs $convergedJobs at rounds=3 — " +
          "the empty-frontier short-circuit is not firing")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pageRank: one iteration on a 3-node chain matches hand-computed fixed-point values") {
    // 1->2, 1->3, 2->3; N=3, scale 1e12, base = 150000000000/3 = 50000000000
    // r0 = 333333333333 each; outdeg(1)=2, outdeg(2)=1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r1 = GraphOps.pageRank(edges, "src", "dst", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1(1L) == 50000000000L, s"source node got ${r1(1L)}")
    assert(r1(2L) == 50000000000L + (333333333333L / 2) * 85 / 100)
    assert(r1(3L) == 50000000000L + ((333333333333L / 2) + 333333333333L) * 85 / 100)
  }

  test("pageRank: cycle symmetry, mass bound, and determinism across partitionings") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(cycle, "src", "dst", iterations = 10)
      .as[(Long, Long)].collect().toMap
    // perfect symmetry: every node identical, mass conserved up to div floors
    assert(r.values.toSet.size == 1, r.toString)
    assert(r.values.sum <= 1000000000000L && r.values.sum > 999999990000L)
    // duplicate edges dedup; shuffled/fragmented input changes nothing
    val dup = (Seq((1L, 2L), (2L, 3L), (3L, 1L)) ++ Seq((2L, 3L), (1L, 2L)))
      .toDF("src", "dst").repartition(7)
    val r2 = GraphOps.pageRank(dup, "src", "dst", iterations = 10)
      .as[(Long, Long)].collect().toMap
    assert(r2 == r)
  }

  test("pageRank: hub of a star outranks leaves; dangling mass is dropped") {
    // leaves 2..5 all point at 1; node 1 has no out-edges (dangling hub)
    val star = (2L to 5L).map(l => (l, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(star, "src", "dst", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) > r(2L) && r(2L) == r(3L) && r(3L) == r(4L) && r(4L) == r(5L))
    // hub mass leaks (documented): total strictly below the full scale
    assert(r.values.sum < 1000000000000L)
    val top = GraphOps.pageRankTopK(star, "src", "dst", k = 2, iterations = 3)
      .as[(Long, Long)].collect()
    assert(top.head._1 == 1L && top.length == 2 && top(1)._1 == 2L)
  }

  test("pageRank redistributeDangling: sink mass conserved and shared; hand-check one iteration") {
    val star = (2L to 5L).map(l => (l, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(star, "src", "dst", iterations = 3,
      redistributeDangling = true).as[(Long, Long)].collect().toMap
    // textbook property the drop-mode run violates: total mass stays at
    // scale up to integer-div floors (5 nodes × 3 iterations of rounding)
    assert(r.values.sum > 999999999000L && r.values.sum <= 1000000000000L,
      s"mass not conserved: ${r.values.sum}")
    // hand-check iteration 1: n=5, r0 = 200000000000 each, base = 30000000000,
    // dangling node 1 holds 200000000000 → each node gains 85*(2e11/5)/100
    val r1 = GraphOps.pageRank(star, "src", "dst", iterations = 1,
      redistributeDangling = true).as[(Long, Long)].collect().toMap
    val gain = 85L * (200000000000L / 5) / 100
    assert(r1(2L) == 30000000000L + 85L * (200000000000L / 5) / 100)
    // node 1 receives all 4 leaf contributions plus the shared sink mass:
    // 85*(4*2e11 + 2e11/5)/100 + base
    assert(r1(1L) == 30000000000L + 85L * (4L * 200000000000L + 200000000000L / 5) / 100)
    assert(gain > 0 && r1(2L) > 30000000000L)
    // no dangling nodes → both modes identical (cycle): redistribution is a
    // no-op, not a perturbation
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val a = GraphOps.pageRank(cycle, "src", "dst", iterations = 5)
      .as[(Long, Long)].collect().toMap
    val b = GraphOps.pageRank(cycle, "src", "dst", iterations = 5,
      redistributeDangling = true).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRank guards: bad iterations/damping/scale fail fast") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](GraphOps.pageRank(e, "src", "dst", iterations = 0))
    intercept[IllegalArgumentException](GraphOps.pageRank(e, "src", "dst", dampingPct = 100))
    intercept[IllegalArgumentException](GraphOps.pageRank(e, "src", "dst", scale = Long.MaxValue))
  }

  test("connectedComponents: edge-list face labels every endpoint with its component min") {
    // two components (path 1-2-3-4 and pair 10-11), plus noise: a reversed
    // duplicate, a self-loop, and a null endpoint (dropped)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L), (2L, 1L), (5L, 5L), (10L, 11L))
      .toDF("src", "dst")
      .union(Seq((java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Long]))
        .toDF("src", "dst"))
    val got = GraphOps.connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 10L -> 10L, 11L -> 10L),
      got.toString)
  }

  test("triangleTopK: counts match brute force on a known graph; direction/dup/self-loop noise ignored") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5 and
    // noise: reversed duplicates, a self-loop, a null endpoint
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val noisy = (k4 ++ Seq((5L, 4L), (2L, 1L), (3L, 3L)))
      .toDF("src", "dst")
      .union(Seq((java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Long]))
        .toDF("src", "dst"))
    val got = GraphOps.triangleTopK(noisy, "src", "dst", k = 10)
      .as[(Long, Long)].collect().toList
    assert(got == List((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), got.toString)
  }

  test("triangleTopK: degree-oriented plan equals naive orientation on a random graph") {
    // brute-force check on a pseudo-random 40-node graph: per-node triangle
    // membership computed driver-side from the canonical edge set
    val rnd = new scala.util.Random(7)
    val edges = (1 to 220).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val und = edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.toSet
    val expected = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val ns = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    for {
      i <- ns.indices; j <- (i + 1) until ns.length; l <- (j + 1) until ns.length
      x = ns(i); y = ns(j); z = ns(l)
      if x < y && y < z && und((x, y)) && und((y, z)) && und((x, z))
    } { expected(x) += 1; expected(y) += 1; expected(z) += 1 }
    val want = expected.toSeq.sortBy { case (n, c) => (-c, n) }.take(15).toList
    val got = GraphOps.triangleTopK(edges.toDF("src", "dst"), "src", "dst", k = 15)
      .as[(Long, Long)].collect().toList
    assert(got == want, s"got $got\nwant $want")
  }

  test("labelPropagation: two bridged triangles split into two communities; noise ignored") {
    // hand-traced 4 sync rounds with min tiebreak: {1,2,3} -> 1, {4,5,6} -> 3
    // (CC would merge everything across the 3-4 bridge — LPA is finer).
    // Noise: reversed duplicate, self-loop, null endpoint — all dropped.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val noisy = (tri ++ Seq((2L, 1L), (5L, 5L))).toDF("src", "dst")
      .union(Seq((java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Long]))
        .toDF("src", "dst"))
    val got = GraphOps.labelPropagation(noisy, "src", "dst", iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      got.toString)
  }

  test("labelPropagation: sync round semantics — every node updates from the PREVIOUS round") {
    // path 1-2-3: round 1 gives (1->2, 2->1, 3->2); an async sweep in id
    // order would instead give 2->... from 1's ALREADY-UPDATED label. One
    // round isolates the difference.
    val got = GraphOps.labelPropagation(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst", iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 2L), got.toString)
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("summarize: exact long-format profile matches hand stats; nulls and mixed types handled") {
    val df = Seq(
      (Some(1.0), "x"), (Some(2.5), "y"), (None, "x"), (Some(2.5), null)
    ).toDF("v", "s")
    val out = Profile.summarize(df, Seq("v", "s"), exact = true).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), Option(r.getString(5))))).toMap
    assert(out("v") == ((3L, 1L, 2L, Some("1.000000"), Some("2.500000"))))
    assert(out("s") == ((3L, 1L, 2L, Some("x"), Some("y"))))
  }

  test("fmt6: double rendering matches DuckDB's fmt6Sql mirror, incl. >1e7 magnitudes") {
    // expected strings are DuckDB 1.0.0's output for Fp.fmt6Sql on the SAME
    // string-parsed doubles (pinned 2026-08-14; both engines parse text to
    // the identical correctly-rounded bits, and the formula is exact-IEEE
    // ops + BIGINT prints from there) — the >1e7 band is exactly where the
    // old raw string cast broke (Java flips to scientific notation at 1e7)
    val pinned = Seq(
      ("12345678.9", "12345678.900000"),
      ("98765432.1012345", "98765432.101234"),
      ("123456789012.3456789", "123456789012.345673"),
      ("999999999999999.9", "999999999999999.875000"),
      ("4512345678.0000015", "4512345678.000002"),
      ("1.5e20", "1.500000e+20"),
      ("-12345678.9", "-12345678.900000"),
      ("-0.0000004", "-0.000000"),
      ("2.99999995", "3.000000"),
      ("1e14", "100000000000000.000000"),
      ("0.1", "0.100000"),
      ("-98765.4321999", "-98765.432200"),
      ("1.7e308", "1.700000e+308"),
      ("0.0", "0.000000"))
    val got = pinned.map(_._1).map(_.toDouble).toDF("v")
      .select(Fp.fmt6(col("v")).as("s")).collect().map(_.getString(0))
    pinned.map(_._2).zip(got).zip(pinned.map(_._1)).foreach { case ((want, g), in) =>
      assert(g == want, s"fmt6($in): got $g, DuckDB says $want")
    }
    // specials
    val sp = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).toDF("v")
      .select(Fp.fmt6(col("v")).as("s")).collect().map(_.getString(0)).toSeq
    assert(sp == Seq("NaN", "Infinity", "-Infinity"))
    // a profile over >1e7 values goes through fmt6 end-to-end
    val prof = Profile.summarize(
      Seq(12345678.9, 4512345678.0000015, 123456789012.3456789).toDF("v"), Seq("v"),
      exact = true).collect().head
    assert(prof.getString(4) == "12345678.900000" && prof.getString(5) == "123456789012.345673")
  }

  test("summarize: NO Expand in either mode; distinct branches read one column each") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice")
    val approx = Profile.summarize(li, cols) // approx single-pass is the default
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"))
    val exact = Profile.summarize(li, cols, exact = true)
    val pe = exact.queryExecution.executedPlan.toString
    // exact distincts run as narrow per-column branches, never the
    // multi-distinct Expand that multiplies the full scan
    assert(!pe.contains("Expand"), pe)
    // each branch's scan is pruned to its single column
    assert(pe.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("l_quantity") && !l.contains("l_extendedprice")), pe)
    val a = approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val e = exact.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    cols.foreach { c =>
      assert(math.abs(a(c) - e(c)).toDouble / e(c) < 0.1, s"$c: approx ${a(c)} vs exact ${e(c)}")
    }
  }

  test("summarize guards: empty column list and unknown columns fail fast") {
    val df = Seq((1, "a")).toDF("i", "s")
    intercept[IllegalArgumentException](Profile.summarize(df, Nil))
    intercept[IllegalArgumentException](Profile.summarize(df, Seq("nope")))
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  test("binned range join equals the naive theta join for any bin width") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 17L), (4L, 100L)).toDF("pid", "p")
    val ranges = Seq((10L, 3L, 9L), (20L, 10L, 10L), (30L, 15L, 40L)).toDF("rid", "lo", "hi")
    val expect = RangeJoin.naive(points, ranges, "p", "lo", "hi")
      .select("pid", "rid").as[(Long, Long)].collect().toSet
    assert(expect == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    for (w <- Seq(1L, 3L, 7L, 100L)) {
      val got = RangeJoin.binned(points, ranges, "p", "lo", "hi", w)
        .select("pid", "rid").as[(Long, Long)].collect().toSet
      assert(got == expect, s"binWidth=$w")
    }
  }

  test("binnedOverlap equals the naive overlap theta join for any bin width; multi-bin pairs emit once") {
    // intervals chosen so overlapping pairs share 1..many bins: (1,2) share
    // a long run, (1,3) touch at a single point, (2,4) nested, 5 disjoint
    val a = Seq((1L, 0L, 50L), (2L, 40L, 200L), (5L, 500L, 510L)).toDF("aid", "a_lo", "a_hi")
    val b = Seq((3L, 50L, 60L), (4L, 100L, 120L), (6L, 400L, 450L)).toDF("bid", "b_lo", "b_hi")
    val expect = a.join(b, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(expect == Set((1L, 3L), (2L, 3L), (2L, 4L)), expect.toString)
    for (w <- Seq(1L, 7L, 64L, 1000L)) {
      val rows = RangeJoin.binnedOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi", w)
        .select("aid", "bid").as[(Long, Long)].collect().toList
      // exact set AND exactly-once emission (no distinct pass to hide dups)
      assert(rows.toSet == expect, s"binWidth=$w: $rows")
      assert(rows.size == expect.size, s"binWidth=$w duplicated: $rows")
    }
    intercept[IllegalArgumentException](
      RangeJoin.binnedOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi", 0L))
  }
}

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("saltedEquiJoin equals the plain equi-join, spread over salt keys") {
    val left = (1 to 1000).map(i => (if (i % 10 == 0) "cold" + i else "HOT", i))
      .toDF("k", "v") // 90% of rows share one hot key
    val right = (Seq("HOT") ++ (1 to 1000).map("cold" + _)).map(k => (k, k.length))
      .toDF("k", "len")
    val expect = left.join(right, Seq("k")).select("k", "v", "len")
      .as[(String, Int, Int)].collect().toSet
    val got = SkewJoin.saltedEquiJoin(left, right, "k", saltFactor = 8)
      .select("k", "v", "len").as[(String, Int, Int)].collect().toSet
    assert(got == expect)
  }

  test("saltedCountSum equals plain groupBy count/sum") {
    val df = (1 to 500).map(i => (if (i % 5 == 0) "hot" else "k" + i, i.toLong))
      .toDF("k", "v")
    val expect = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
      .as[(String, Long, Long)].collect().toSet
    val got = SkewJoin.saltedCountSum(df, "k", "v", saltFactor = 4)
      .as[(String, Long, Long)].collect().toSet
    assert(got == expect)
  }
}

class PercentilesSpec extends SparkSpec {
  import spark.implicits._

  test("exactByGroup equals Spark's exact percentile for every fraction incl. 0 and 1") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ps = Seq("p0" -> 0.0, "p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95, "p100" -> 1.0)
    val got = Percentiles.exactByGroup(li, "l_returnflag", "l_quantity", ps)
      .collect().map(r => r.getString(0) -> ps.indices.map(i => r.getDouble(i + 1))).toMap
    val want = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, array(0.0, 0.25, 0.5, 0.95, 1.0))").as("a"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (g, vs) =>
      vs.zip(want(g)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"$g: $a vs $b")
      }
    }
  }

  test("exactByGroup handles single-value groups and excludes NULLs") {
    val df = Seq(("a", Some(5.0)), ("b", Some(1.0)), ("b", Some(3.0)), ("b", None))
      .toDF("g", "v")
    val out = Percentiles.exactByGroup(df, "g", "v", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 5.0, "b" -> 2.0), out)
  }
}

class TopKTokensSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.TopKTokens

  test("exact top-k counts when capacity exceeds distinct keys") {
    val toks = Seq("a", "b", "a", "c", "a", "b", "d").toDF("tok")
    val out = toks.agg(TopKTokens.topK($"tok", 3, capacity = 100).as("t"))
      .select(explode($"t")).select("col._1", "col._2")
      .as[(String, Long)].collect().toList
    assert(out == List(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("bounded buffer: counts are overestimates within N/capacity when full") {
    // 6 distinct keys, capacity 3: sketch must still surface the true heavy
    // hitter and never undercount it
    val data = List.fill(50)("hot") ++ List("x1", "x2", "x3", "x4", "x5")
    val out = data.toDF("tok").coalesce(1)
      .agg(TopKTokens.topK($"tok", 1, capacity = 3).as("t"))
      .select(explode($"t")).select("col._1", "col._2")
      .as[(String, Long)].collect().toList
    assert(out.head._1 == "hot" && out.head._2 >= 50L)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: orthogonal=0, identical=1, opposite=-1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0))
    ).toDF("a", "b")
    val out = df.select(round(Similarity.cosine(col("a"), col("b")), 9)).as[Double].collect()
    assert(out.toSeq == Seq(0.0, 1.0, -1.0))
  }

  test("cosine propagates NULL for corrupt vectors (null element or null array)") {
    val df = Seq(
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(1.0), Some(2.0))),
      (Seq[Option[Double]](Some(1.0), Some(0.0)), Seq[Option[Double]](Some(1.0), Some(0.0)))
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b")).as("sim")).collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 1.0)
  }

  test("bruteForceTopK ranks by similarity with deterministic ties") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.bruteForceTopK(emb.where(col("vec_id") < 3), emb, "vec_id", "embedding", 5)
    val rows = out.collect()
    assert(rows.length == 15)
    // ranks are 1..5 per query and sims non-increasing
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 5))
      val sims = sorted.map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("ivfTopK recall vs brute force is usable (> 0.5 at nProbe=4/16)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 5, nCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"IVF recall $recall too low")
    // every query still yields k ranked results
    val perQuery = ivf.groupBy(_._1).values.map(_.size).toSet
    assert(perQuery == Set(5))
  }

  test("pqTopK: shortlist+refine recall high; raw ADC scan is map-side over codes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // default refine (ADC shortlist of 64 from 500, exact rerank)
    val pq = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5, m = 8, kCent = 16)
    val pqSet = pq.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect pqSet).size.toDouble / brute.size
    // measured 0.80 at this deterministic operating point (8x16 codebooks,
    // shortlist 64 of 500 = 13% exact-scan fraction)
    assert(recall >= 0.75, s"PQ+refine recall $recall below the 8x16/rerank=64 operating point")
    assert(pqSet.groupBy(_._1).values.map(_.size).toSet == Set(5))
    // the rerank knob trades exact-scan volume for recall, monotonically
    val wider = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5, m = 8, kCent = 16,
      rerank = 128)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallWider = (brute intersect wider).size.toDouble / brute.size
    assert(recallWider >= recall, s"recall fell when widening the shortlist: $recall -> $recallWider")
    // raw ADC mode: the scoring scan is map-side over the m-int code column
    // — no join anywhere, the only Exchange is the per-query top-k window
    val raw = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5, m = 8, kCent = 16,
      rerank = 0)
    val plan = raw.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  test("ivfPqTopK: routed ADC recall at measured floor, monotone in nProbe, = pqTopK at full probe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def at(nProbe: Int) = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = nProbe, m = 8, kCent = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // measured 0.77 at the gate operating point (probe 8/16, 8×16 codebooks,
    // rerank 64) — vs 0.80 for the corpus-wide pqTopK scan: routing trades
    // that recall slice for a nProbe/nCentroids scan fraction
    val routed = at(8)
    val recall = (brute intersect routed).size.toDouble / brute.size
    assert(recall >= 0.70, s"IVF-PQ recall $recall below the 8/16-probe operating point")
    assert(routed.groupBy(_._1).values.map(_.size).toSet == Set(5))
    // probing wider only helps (measured 0.61 → 0.77 over 4 → 8)
    val narrow = at(4)
    val recallNarrow = (brute intersect narrow).size.toDouble / brute.size
    assert(recallNarrow <= recall, s"recall fell when probing wider: $recallNarrow -> $recall")
    // probing EVERY centroid must reproduce the unrouted pqTopK exactly —
    // same codebooks, same LUT adds, same shortlist, same refine — pinning
    // that routing changes WHICH rows are scanned, never how they score
    val full = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 16, m = 8, kCent = 16).collect().map(_.toSeq).toSet
    val unrouted = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5, m = 8, kCent = 16)
      .collect().map(_.toSeq).toSet
    assert(full == unrouted)
  }

  test("ivfPqTopK residual mode: FAISS residual coding works at its measured floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val res = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 8, m = 8, kCent = 16, residual = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // measured 0.70 at probe-8 on the isotropic synthetic embeddings —
    // residual coding can't beat plain codes without cluster structure
    // (see the operator scaladoc); the pin is the mode WORKS, not that it
    // wins here
    val recall = (brute intersect res).size.toDouble / brute.size
    assert(recall >= 0.60, s"residual IVF-PQ recall $recall below its measured floor")
    assert(res.groupBy(_._1).values.map(_.size).toSet == Set(5))
  }

  test("ivfPqTopK plan: broadcast probe equi-join routes the code scan (no corpus-wide scoring)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val plan = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 8, m = 8, kCent = 16, rerank = 0)
      .queryExecution.executedPlan.toString
    // the probe relation must meet the codes in a broadcast hash equi-join
    // on cid — a sort-merge (corpus shuffle) or cartesian would mean the
    // routing degenerated
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"), plan)
    // one shuffle only: the per-query top-k window; the code scan itself is
    // map-side behind the broadcast
    assert(plan.split("Exchange hashpartitioning").length - 1 <= 1, plan)
  }

  test("pqTopK ships LUTs as a broadcast above the threshold with identical results") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val lit = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5).collect().map(_.toSeq).toSet
    // force the broadcast path (threshold below any real LUT batch): the
    // "raise maxQueries deliberately" path must not change a single score
    val bc = Similarity.pqTopK(q, emb, "vec_id", "embedding", 5, lutBroadcastDoubles = 1L)
      .collect().map(_.toSeq).toSet
    assert(lit == bc)
  }

  test("PQ kernels fail fast on codes that don't match the LUT layout; ANN ids must be integral") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.PqKernel
    val luts = Array(Array.fill(8)(0.0)) // layout: 2 subspaces × k=4
    // wrong arity: 3 codes against a 2-subspace LUT
    val e1 = intercept[IllegalArgumentException] {
      PqKernel.scores(new GenericArrayData(Array(0, 1, 2)), luts, 4)
    }
    assert(e1.getMessage.contains("pq_scores"))
    // out-of-range code value (codebook mismatch)
    val e2 = intercept[IllegalArgumentException] {
      PqKernel.scores(new GenericArrayData(Array(0, 7)), luts, 4)
    }
    assert(e2.getMessage.contains("out of range"))
    val e3 = intercept[IllegalArgumentException] {
      PqKernel.scoreAt(new GenericArrayData(Array(0, 1, 2)), luts(0), 4)
    }
    assert(e3.getMessage.contains("pq_score_at"))
    // non-integral id columns fail fast naming the op (not a mid-collect CCE)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val strIds = emb.withColumn("vec_id", col("vec_id").cast("string"))
    val e4 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(strIds.where(col("vec_id") < 5), strIds, "vec_id", "embedding", 5)
    }
    assert(e4.getMessage.contains("pqTopK") && e4.getMessage.contains("integral"))
    val e5 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(strIds.where(col("vec_id") < 5), strIds, "vec_id", "embedding", 5)
    }
    assert(e5.getMessage.contains("ivfPqTopK"))
  }

  test("lshTopK recall vs brute force is usable (> 0.5, multi-table)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(q, emb, "vec_id", "embedding", 5, nPlanes = 4, nTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.5, s"recall $recall too low")
  }
}

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("quantizeEmbeddings: int8 range, bounded dequantization error, near-perfect cosine, no shuffle") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.quantizeEmbeddings(emb, "vec_id", "embedding")
    val joined = q.join(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), Seq("vec_id"))
      .select(col("vec_id"), col("scale"), col("qvec"), col("v"))
      .as[(Long, Double, Seq[Long], Seq[Double])].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (id, scale, qv, v) =>
      assert(qv.length == v.length)
      assert(qv.forall(x => x >= -127 && x <= 127), s"$id out of int8 range")
      // per-element dequantization error <= scale/2 (+ulp slack)
      v.zip(qv).foreach { case (orig, qx) =>
        assert(math.abs(orig - qx * scale) <= scale / 2 + 1e-12, s"$id: $orig vs ${qx * scale}")
      }
      // cosine between original and dequantized stays ~1
      val deq = qv.map(_ * scale)
      val dot = v.zip(deq).map { case (a, b) => a * b }.sum
      val cos = dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(deq.map(x => x * x).sum))
      assert(cos > 0.999, s"$id: cosine after quantization $cos")
    }
    // map-side expression only
    assert(!Similarity.quantizeEmbeddings(emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("quantizeEmbeddings: zero vector quantizes to zeros with scale 0") {
    val df = Seq((1L, Array(0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val r = Similarity.quantizeEmbeddings(df, "vec_id", "embedding")
      .as[(Long, Double, Seq[Long])].collect().head
    assert(r._2 == 0.0 && r._3 == Seq(0L, 0L, 0L))
  }
}

class MultimodalSpec extends SparkSpec {

  test("extractFeatures: schema, determinism, null-safety") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.documentsAsMedia(docs)
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "media", "meta"))
    val feats = Multimodal.extractFeatures(media)
    assert(feats.schema == Multimodal.featureSchema)
    val rows = feats.orderBy("media_id").limit(5).collect()
    assert(rows.forall(r => r.getLong(1) > 0 && r.getSeq[Float](3).length == 8))
    // histogram sums to byte count
    assert(rows.forall(r => r.getSeq[Float](3).map(_.toLong).sum == r.getLong(1)))
    // deterministic across runs
    val again = Multimodal.extractFeatures(media).orderBy("media_id").limit(5).collect()
    assert(rows.zip(again).forall { case (a, b) => a == b })
  }

  test("imagePhash: decoded-PNG dHash equals the closed-form hash; undecodable bytes yield nulls") {
    import spark.implicits._
    // expected hash computed straight from ImageGen's pixel formulas —
    // NO decoding — so equality proves the PNG round-trip pixel-exact
    def expected(id: Long): (Long, Long) = {
      val w = Multimodal.ImageGen.width(id); val h = Multimodal.ImageGen.height(id)
      def lum(gx: Int, gy: Int): Int = {
        val sx = gx * w / 9; val sy = gy * h / 8
        val p = Multimodal.ImageGen.rgb(id, sx, sy)
        (299 * ((p >> 16) & 0xFF) + 587 * ((p >> 8) & 0xFF) + 114 * (p & 0xFF)) / 1000
      }
      var hi = 0L; var lo = 0L
      for (gy <- 0 until 8; gx <- 0 until 8; if lum(gx + 1, gy) > lum(gx, gy)) {
        val k = gy * 8 + gx
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
      (hi, lo)
    }
    val ids = Seq(0L, 1L, 7L, 44L, 123L)
    val media = Multimodal.documentsAsImages(ids.toDF("doc_id"))
    val got = Multimodal.imagePhash(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    ids.foreach { id =>
      assert(got(id) == expected(id), s"id=$id got ${got(id)} want ${expected(id)}")
    }
    // hashes are non-trivial (not all zero) and differ across ids
    assert(got.values.toSet.size > 1 && got.values.exists(_ != ((0L, 0L))))
    // opaque bytes (not an image container) → null hash halves
    val opaque = Multimodal.documentsAsMedia(
      Seq((999L, "not an image")).toDF("doc_id", "text"))
    val nul = Multimodal.imagePhash(opaque).collect().head
    assert(nul.isNullAt(1) && nul.isNullAt(2))
  }

  test("phashDedup: groups equal decoded hashes, min-id keeper, undecodable rows excluded") {
    import spark.implicits._
    // find two ids with equal closed-form phash among 0..199, plus one unique
    def expected(id: Long): Long = {
      val w = Multimodal.ImageGen.width(id); val h = Multimodal.ImageGen.height(id)
      def lum(gx: Int, gy: Int): Int = {
        val p = Multimodal.ImageGen.rgb(id, gx * w / 9, gy * h / 8)
        (299 * ((p >> 16) & 0xFF) + 587 * ((p >> 8) & 0xFF) + 114 * (p & 0xFF)) / 1000
      }
      (0 until 8).flatMap(gy => (0 until 8).map(gx =>
        if (lum(gx + 1, gy) > lum(gx, gy)) 1L << (gy * 8 + gx) else 0L)).sum
    }
    val groups = (0L until 200L).groupBy(expected)
    val dupGroup = groups.values.filter(_.size >= 2).minBy(_.min)
    val ids = dupGroup.take(2).toSeq.sorted
    val lone = groups.values.filter(_.size == 1).map(_.head).headOption.getOrElse(500L)
    val media = Multimodal.documentsAsImages((ids :+ lone).toDF("doc_id"))
    val out = Multimodal.phashDedup(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(ids.head) == ((ids.head, 2L, false)), out.toString)
    assert(out(ids(1)) == ((ids.head, 2L, true)), out.toString)
    assert(out(lone) == ((lone, 1L, false)), out.toString)
    // undecodable payloads never appear
    val mixedIn = Multimodal.documentsAsMedia(Seq((7777L, "opaque")).toDF("doc_id", "text"))
    assert(Multimodal.phashDedup(mixedIn).count() == 0L)
  }

  test("sampleFrames splits bytes into n frames covering the whole blob") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    val media = Multimodal.documentsAsMedia(docs)
    val frames = Multimodal.sampleFrames(media, 4)
    val agg = frames.groupBy("media_id")
      .agg(count(lit(1)).as("n"), sum(length(col("frame"))).as("total"))
      .join(media.select(col("media_id"), length(col("media")).as("orig")), Seq("media_id"))
      .collect()
    assert(agg.nonEmpty)
    agg.foreach { r =>
      assert(r.getLong(1) == 4L) // 4 frames each
      assert(r.getLong(2) == r.getInt(3).toLong) // frames cover all bytes
    }
  }

  test("resize bounds media to targetBytes and rewrites meta dims") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    val media = Multimodal.documentsAsMedia(docs)
    val out = Multimodal.resize(media, 64).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      assert(bytes.length <= 64)
      val meta = r.getStruct(2)
      assert(meta.getInt(1) == math.sqrt(bytes.length.toDouble).toInt)
    }
    // deterministic
    val again = Multimodal.resize(media, 64).collect()
    assert(out.map(_.getAs[Array[Byte]](1).toSeq).toSeq ==
      again.map(_.getAs[Array[Byte]](1).toSeq).toSeq)
  }

  test("extractFeatures handles null media bytes") {
    import spark.implicits._
    val media = Seq((1L, Option.empty[Array[Byte]])).toDF("media_id", "media")
    val out = Multimodal.extractFeatures(media).collect()
    assert(out.head.getLong(1) == 0L)
  }

  /** Drop-in proof for the MediaDecoder seam: a toy decoder with visibly
    * different semantics (constant 1-dim feature, single whole-blob frame,
    * truncating "resize" reporting 1×len dims) runs through the SAME
    * operators untouched, and the outputs reflect the decoder — so a real
    * codec binding needs no operator change.
    */
  object ToyDecoder extends MediaDecoder {
    override def decode(bytes: Array[Byte]): MediaDecoder.Decoded = {
      val n = if (bytes == null) 0L else bytes.length.toLong
      MediaDecoder.Decoded(n, 42L, Array(n.toFloat))
    }
    override def frames(bytes: Array[Byte], nFrames: Int): IndexedSeq[Array[Byte]] = {
      val in = if (bytes == null) Array.emptyByteArray else bytes
      IndexedSeq(in) ++ IndexedSeq.fill(nFrames - 1)(Array.emptyByteArray)
    }
    override def resize(bytes: Array[Byte], targetBytes: Int): MediaDecoder.Resized = {
      val in = if (bytes == null) Array.emptyByteArray else bytes
      val out = in.take(targetBytes)
      MediaDecoder.Resized(out, 1, out.length)
    }
  }

  test("MediaDecoder seam: a second decoder drops into all three operators") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    val media = Multimodal.documentsAsMedia(docs)

    val feats = Multimodal.extractFeatures(media, ToyDecoder)
    assert(feats.schema == Multimodal.featureSchema)
    feats.collect().foreach { r =>
      assert(r.getLong(2) == 42L)
      assert(r.getSeq[Float](3) == Seq(r.getLong(1).toFloat))
    }

    val frames = Multimodal.sampleFrames(media, 3, ToyDecoder)
    val byId = frames.collect().groupBy(_.getLong(0))
    byId.values.foreach { fs =>
      assert(fs.length == 3)
      val sorted = fs.sortBy(_.getInt(1))
      assert(sorted.head.getAs[Array[Byte]](2).nonEmpty) // frame 0 = whole blob
      assert(sorted.tail.forall(_.getAs[Array[Byte]](2).isEmpty))
    }

    val resized = Multimodal.resize(media, 16, ToyDecoder).collect()
    resized.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      assert(bytes.length <= 16)
      val meta = r.getStruct(2)
      assert(meta.getInt(1) == 1 && meta.getInt(2) == bytes.length)
    }
  }

  test("SniffingDecoder routes by magic bytes: real codec per container, stub only for opaque") {
    // routing unit contract
    assert(SniffingDecoder.sniff(Multimodal.ImageGen.png(3L)) eq ImageIoDecoder)
    assert(SniffingDecoder.sniff(Multimodal.ImageGen.gif(3L)) eq ImageIoDecoder)
    assert(SniffingDecoder.sniff(Multimodal.AudioGen.wav(3L)) eq AudioWavDecoder)
    assert(SniffingDecoder.sniff("plain text payload".getBytes("UTF-8")) eq StubDecoder)
    assert(SniffingDecoder.sniff(null) eq StubDecoder)
    assert(SniffingDecoder.sniff(Array[Byte](0x42, 0x4D)) eq StubDecoder) // too short to sniff
    // per-row dispatch through the operators on the mixed column: every
    // row's features equal the matching CONCRETE decoder's direct output,
    // and only the opaque rows match the stub
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    val mixed = Multimodal.documentsAsMixedMedia(docs)
    val feats = Multimodal.extractFeatures(mixed).collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](3)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    feats.foreach { case (id, fs) =>
      val (bytes, expected) = java.lang.Math.floorMod(id, 4L) match {
        case 0L => (Multimodal.ImageGen.png(id), ImageIoDecoder)
        case 1L => (Multimodal.AudioGen.wav(id), AudioWavDecoder)
        case 2L => (Multimodal.ImageGen.gif(id), ImageIoDecoder)
        case _ => (texts(id).getBytes("UTF-8"), StubDecoder)
      }
      assert(fs == expected.decode(bytes).features.toSeq, s"id=$id")
      val stub = StubDecoder.decode(bytes).features.toSeq
      if (java.lang.Math.floorMod(id, 4L) == 3L)
        assert(fs == stub, s"opaque row $id must take the stub path")
      else
        assert(fs != stub, s"decodable row $id fell through to the stub")
    }
    // image rows really decoded: feature 0/1 are the closed-form dims
    feats.collect { case (id, fs) if id % 4 == 0 =>
      assert(fs(0) == Multimodal.ImageGen.width(id).toFloat &&
        fs(1) == Multimodal.ImageGen.height(id).toFloat, s"id=$id")
    }
    // audio rows really decoded: sampleRate/channels/frames are closed-form
    feats.collect { case (id, fs) if id % 4 == 1 =>
      assert(fs(0) == Multimodal.AudioGen.sampleRate && fs(1) == 1f &&
        fs(2) == Multimodal.AudioGen.nFrames(id).toFloat, s"id=$id")
    }
  }

  test("SniffingDecoder dispatch holds for frames and resize too (format-preserving outputs)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val mixed = Multimodal.documentsAsMixedMedia(docs)
    // frames: GIF rows emit PNG-re-encoded stored frames, WAV rows emit
    // standalone RIFF/WAVE segments, opaque rows emit raw byte chunks
    val frames = Multimodal.sampleFrames(mixed, 2).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    frames.foreach { case (id, fs) =>
      assert(fs.length == 2)
      val first = fs.head.getAs[Array[Byte]](2)
      java.lang.Math.floorMod(id, 4L) match {
        case 2L => // GIF → frames re-encoded as PNG
          assert(first.length > 8 && (first(0) & 0xFF) == 0x89 && first(1) == 'P'.toByte, s"id=$id")
        case 1L => // WAV → segment is itself a RIFF/WAVE container
          assert(first.length > 12 && first(0) == 'R'.toByte && first(8) == 'W'.toByte, s"id=$id")
        case 0L => // still PNG → the still, re-encoded PNG, repeated
          assert((first(0) & 0xFF) == 0x89, s"id=$id")
        case _ => // opaque → stub byte chunks of the utf8 text
          val texts = docs.select("doc_id", "text").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
          assert(first.sameElements(
            StubDecoder.frames(texts(id).getBytes("UTF-8"), 2).head), s"id=$id")
      }
    }
    // resize: PNG rows stay sniffable PNG, WAV rows stay RIFF, opaque rows
    // are stride-subsampled raw bytes within the byte budget
    val resized = Multimodal.resize(mixed, 256).collect()
    resized.foreach { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]](1)
      java.lang.Math.floorMod(id, 4L) match {
        case 0L | 2L => assert(SniffingDecoder.sniff(bytes) eq ImageIoDecoder, s"id=$id")
        case 1L => assert(SniffingDecoder.sniff(bytes) eq AudioWavDecoder, s"id=$id")
        case _ => assert(bytes.length <= 256, s"id=$id")
      }
    }
  }

  test("AviMjpegDecoder: real MJPEG-AVI demux — header facts, temporal sampling, re-mux resize") {
    val id = 11L
    val bytes = Multimodal.VideoGen.avi(id)
    val w = Multimodal.ImageGen.width(id); val h = Multimodal.ImageGen.height(id)
    val n = Multimodal.VideoGen.nFrames(id)
    // routing: RIFF/AVI goes to the video decoder, RIFF/WAVE still to audio
    assert(SniffingDecoder.sniff(bytes) eq AviMjpegDecoder)
    assert(SniffingDecoder.sniff(Multimodal.AudioGen.wav(id)) eq AudioWavDecoder)
    // decode: exact header facts + real per-frame luma stats
    val d = AviMjpegDecoder.decode(bytes)
    assert(d.features(0) == w.toFloat && d.features(1) == h.toFloat)
    assert(d.features(2) == n.toFloat)
    assert(d.features(3) == Multimodal.VideoGen.fps.toFloat) // 1e6/usPerFrame
    assert(d.features(4) >= 0f && d.features(4) <= 255f) // first-frame mean luma
    assert(d.features(5) >= 0f && d.features(5) <= 255f)
    assert(d.features(4) != d.features(5), "frames are visibly distinct by construction")
    // frames: the f*k/n sampling rule over the stored JPEGs, re-encoded PNG
    val fs = AviMjpegDecoder.frames(bytes, 2)
    assert(fs.length == 2)
    fs.foreach { f =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      assert(img.getWidth == w && img.getHeight == h)
      assert((f(0) & 0xFF) == 0x89 && f(1) == 'P'.toByte) // PNG re-encode
    }
    // parsed stored frames decode to the exact source pattern dims
    val parsed = AviMjpeg.parse(bytes).get
    assert(parsed.frames.length == n && parsed.width == w && parsed.usPerFrame == 100000)
    // resize: bounded re-muxed AVI, still sniffable, fewer pixels, same frame count
    val r = AviMjpegDecoder.resize(bytes, bytes.length / 2)
    assert(r.bytes.length < bytes.length)
    assert(AviMjpeg.sniff(r.bytes), "resized payload must still be a valid AVI")
    val rp = AviMjpeg.parse(r.bytes).get
    assert(rp.frames.length == n && rp.width == r.width && rp.height == r.height)
    assert(r.width <= w && r.height <= h)
    // undecodable payloads fall back to the stub, byte for byte
    val junk = java.util.Arrays.copyOfRange(bytes, 0, 40) // truncated header
    assert(AviMjpegDecoder.decode(junk).features.toSeq == StubDecoder.decode(junk).features.toSeq)
    assert(AviMjpegDecoder.decode(null).features.toSeq == StubDecoder.decode(null).features.toSeq)
  }

  test("ImageIoDecoder decodes generated PNGs to real dimensions and channel stats") {
    val id = 7L
    val bytes = Multimodal.ImageGen.png(id)
    val d = ImageIoDecoder.decode(bytes)
    val w = Multimodal.ImageGen.width(id); val h = Multimodal.ImageGen.height(id)
    assert(d.features(0) == w.toFloat && d.features(1) == h.toFloat)
    assert(d.nBytes == bytes.length.toLong && d.checksum == MediaDecoder.checksum(bytes))
    // reference stats straight from the procedural pattern, accumulated in
    // the decoder's row-major order so doubles agree bit-for-bit
    val pix = for { y <- 0 until h; x <- 0 until w } yield Multimodal.ImageGen.rgb(id, x, y)
    val n = (w * h).toDouble
    assert(d.features(2) == (pix.map(p => (p >> 16) & 0xFF).sum / n).toFloat)
    assert(d.features(3) == (pix.map(p => (p >> 8) & 0xFF).sum / n).toFloat)
    assert(d.features(4) == (pix.map(p => p & 0xFF).sum / n).toFloat)
    val lumas = pix.map(p =>
      0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF))
    assert(d.features(5) == lumas.min.toFloat && d.features(6) == lumas.max.toFloat)
    val sumL = lumas.sum; val sumL2 = lumas.map(l => l * l).sum
    val std = math.sqrt(math.max(0.0, sumL2 / n - (sumL / n) * (sumL / n)))
    assert(d.features(7) == std.toFloat)
  }

  test("ImageIoDecoder falls back to the stub on undecodable and null bytes") {
    val text = "definitely not a PNG".getBytes("UTF-8")
    val a = ImageIoDecoder.decode(text); val b = StubDecoder.decode(text)
    assert(a.nBytes == b.nBytes && a.checksum == b.checksum && a.features.toSeq == b.features.toSeq)
    val r = ImageIoDecoder.resize(text, 4); val rs = StubDecoder.resize(text, 4)
    assert(r.bytes.toSeq == rs.bytes.toSeq && r.width == rs.width && r.height == rs.height)
    // null-media contract (decode AND frames AND resize): empty-payload behavior
    val dn = ImageIoDecoder.decode(null)
    assert(dn.nBytes == 0L && dn.features.toSeq == Seq.fill(8)(0f))
    assert(ImageIoDecoder.frames(null, 3).forall(_.isEmpty))
    assert(ImageIoDecoder.resize(null, 10).bytes.isEmpty)
    // non-image bytes fall back to stub byte-chunking for frames
    assert(ImageIoDecoder.frames(text, 4).map(_.toSeq) == StubDecoder.frames(text, 4).map(_.toSeq))
  }

  test("ImageIoDecoder.frames: real temporal sampling of animated GIFs, stills repeat") {
    val id = 5L // gifFrames(5) = 2 + 5%3 = 4 stored frames
    val k = Multimodal.ImageGen.gifFrames(id)
    assert(k == 4)
    val gif = Multimodal.ImageGen.gif(id)
    val frames = ImageIoDecoder.frames(gif, 2) // sample indices 0, 2
    assert(frames.length == 2)
    // each sampled frame decodes as a real PNG with the GIF's dimensions
    frames.foreach { f =>
      val d = ImageIoDecoder.decode(f)
      assert(d.features(0) == Multimodal.ImageGen.width(id).toFloat)
      assert(d.features(1) == Multimodal.ImageGen.height(id).toFloat)
    }
    // temporal sampling really picks DIFFERENT stored frames (the pattern
    // seed shifts per frame, surviving GIF palette quantization)
    assert(frames(0).toSeq != frames(1).toSeq)
    // sampling n = k returns every stored frame in order, deterministically
    val all = ImageIoDecoder.frames(gif, k)
    assert(all.length == k && all.map(_.toSeq).distinct.length == k)
    assert(ImageIoDecoder.frames(gif, k).map(_.toSeq) == all.map(_.toSeq))
    // a still PNG has one stored frame: sampling yields the still n times
    val png = Multimodal.ImageGen.png(id)
    val still = ImageIoDecoder.frames(png, 3)
    assert(still.length == 3 && still.map(_.toSeq).distinct.length == 1)
    val d0 = ImageIoDecoder.decode(still.head)
    assert(d0.features(0) == Multimodal.ImageGen.width(id).toFloat)
  }

  test("ImageIoDecoder.resize really downscales: valid PNG out, bounded bytes, content preserved") {
    val id = 3L
    val w0 = Multimodal.ImageGen.width(id); val h0 = Multimodal.ImageGen.height(id)
    val bytes = Multimodal.ImageGen.png(id)
    assert(bytes.length > 80)
    val target = bytes.length / 2
    val r = ImageIoDecoder.resize(bytes, target)
    assert(r.bytes.length <= target || (r.width == 1 && r.height == 1))
    assert(r.width < w0 || r.height < h0)
    // the output is itself a decodable PNG whose pixels match hand-computed
    // nearest-neighbor sampling of the source pattern
    val back = ImageIoDecoder.decode(r.bytes)
    assert(back.features(0) == r.width.toFloat && back.features(1) == r.height.toFloat)
    val pix = for { y <- 0 until r.height; x <- 0 until r.width }
      yield Multimodal.ImageGen.rgb(id, x * w0 / r.width, y * h0 / r.height)
    val n = pix.length.toDouble
    assert(back.features(2) == (pix.map(p => (p >> 16) & 0xFF).sum / n).toFloat)
    assert(back.features(4) == (pix.map(p => p & 0xFF).sum / n).toFloat)
    // deterministic: same input → identical payload
    assert(ImageIoDecoder.resize(bytes, target).bytes.toSeq == r.bytes.toSeq)
    // already-small payloads pass through with REAL dims (not the stub's sqrt side)
    val keep = ImageIoDecoder.resize(bytes, bytes.length)
    assert(keep.bytes.toSeq == bytes.toSeq && keep.width == w0 && keep.height == h0)
  }

  test("RiffWav: byte-identical to AudioSystem.write; parse agrees with the JDK reader") {
    // the lock-free codec exists to dodge AudioSystem's synchronized SPI
    // lookup (m07's r9 regression); these pins guarantee swapping it in
    // changed NOTHING about the bytes or the parsed facts
    for (id <- Seq(0L, 3L, 13L, 42L)) {
      val n = Multimodal.AudioGen.nFrames(id)
      val data = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val s = Multimodal.AudioGen.sample(id, i)
        data(2 * i) = (s & 0xFF).toByte; data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ours = RiffWav.write(fmt, data)
      val jdk = {
        val st = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        try javax.sound.sampled.AudioSystem.write(st,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        finally st.close()
        bos.toByteArray
      }
      assert(ours.toSeq == jdk.toSeq, s"id=$id: RiffWav.write diverges from AudioSystem.write")
      // parse round-trips our own bytes AND matches the JDK reader's facts
      val Some((pf, pd)) = RiffWav.parse(ours)
      assert(pf.getSampleRate == 8000f && pf.getChannels == 1 &&
        pf.getSampleSizeInBits == 16 && !pf.isBigEndian &&
        pf.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
      assert(pd.toSeq == data.toSeq)
      val jin = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(ours))
      try {
        assert(jin.getFormat.getSampleRate == pf.getSampleRate &&
          jin.getFormat.getChannels == pf.getChannels &&
          jin.readAllBytes().toSeq == pd.toSeq)
      } finally jin.close()
    }
    // non-WAV payloads refuse cleanly (fall through to the JDK path)
    assert(RiffWav.parse("not a wav at all, just some text bytes ok".getBytes).isEmpty)
    assert(RiffWav.parse(null).isEmpty)
    assert(RiffWav.parse(Array[Byte](1, 2, 3)).isEmpty)
    assert(RiffWav.parse(Multimodal.ImageGen.png(3L)).isEmpty)
  }

  test("AudioWavDecoder decodes generated WAVs to real format facts and signal stats") {
    val id = 13L
    val bytes = Multimodal.AudioGen.wav(id)
    val d = AudioWavDecoder.decode(bytes)
    val n = Multimodal.AudioGen.nFrames(id)
    assert(d.features(0) == 8000f && d.features(1) == 1f && d.features(2) == n.toFloat)
    assert(d.features(3) == (n * 1000.0 / 8000).toFloat) // duration ms
    assert(d.nBytes == bytes.length.toLong && d.checksum == MediaDecoder.checksum(bytes))
    // signal stats vs a reference computed in the decoder's accumulation
    // order on the same normalized samples
    val samples = (0 until n).map(i => Multimodal.AudioGen.sample(id, i) / 32768.0)
    var sumSq = 0.0; var sumAbs = 0.0; var peak = 0.0; var zc = 0L; var prev = 0
    samples.foreach { s =>
      sumSq += s * s; val a = math.abs(s); sumAbs += a; if (a > peak) peak = a
      val sign = if (s > 0) 1 else if (s < 0) -1 else 0
      if (sign != 0 && prev != 0 && sign != prev) zc += 1
      if (sign != 0) prev = sign
    }
    assert(d.features(4) == math.sqrt(sumSq / n).toFloat)
    assert(d.features(5) == peak.toFloat)
    assert(d.features(6) == zc.toFloat)
    assert(d.features(7) == (sumAbs / n).toFloat)
  }

  test("audioFingerprint: Haar band energies + delta bits match a driver-side reference; bad payloads drop") {
    val ids = Seq(3L, 13L)
    val rows = ids.map(id => org.apache.spark.sql.Row(id, Multimodal.AudioGen.wav(id), null)) :+
      org.apache.spark.sql.Row(99L, "not audio".getBytes, null) :+
      org.apache.spark.sql.Row(98L, null, null)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1), null))), Multimodal.mediaSchema)
    val got = Multimodal.audioFingerprint(media, windowSamples = 64)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4))))).toMap
    // reference straight from the generator formula (never the decoder)
    val want = ids.flatMap { id =>
      val n = Multimodal.AudioGen.nFrames(id)
      val s = (0 until n).map(i => Multimodal.AudioGen.sample(id, i).toLong)
      val en = (0 until n / 64).map { w =>
        val win = s.slice(w * 64, w * 64 + 64)
        val d = win.grouped(2).map { case Seq(a, b) => (a - b) * (a - b) }.sum
        val aE = win.grouped(2).map { case Seq(a, b) => (a + b) * (a + b) }.sum
        (d, aE)
      }
      en.zipWithIndex.map { case ((d, aE), w) =>
        val bit = if (w == 0) None else Some(if (d > en(w - 1)._1) 1 else 0)
        (id, w) -> ((d, aE, bit))
      }
    }.toMap
    assert(got == want, s"got ${got.size} windows, want ${want.size}")
    // undecodable / null payloads contribute no fingerprint rows
    assert(!got.keys.exists(k => k._1 == 99L || k._1 == 98L))
  }

  test("AudioWavDecoder.frames cuts real contiguous WAV segments; resize decimates the rate") {
    val id = 4L
    val bytes = Multimodal.AudioGen.wav(id)
    val n = Multimodal.AudioGen.nFrames(id)
    val segs = AudioWavDecoder.frames(bytes, 3)
    assert(segs.length == 3)
    // each segment reparses as WAV; frame counts partition n (last absorbs
    // the remainder) and the segments replay the original signal in order
    val per = n / 3
    val decoded = segs.map(AudioWavDecoder.decode)
    assert(decoded.map(_.features(2).toInt) == IndexedSeq(per, per, n - 2 * per))
    decoded.foreach(dd => assert(dd.features(0) == 8000f))
    // segment 2's first sample = original sample at offset per (real cut,
    // not byte chunking): compare via rms of a 1-frame slice? simpler —
    // full concatenated energy equals the original's
    val total = decoded.map(dd => dd.features(4) * dd.features(4) * dd.features(2)).sum
    val whole = AudioWavDecoder.decode(bytes)
    assert(math.abs(total - whole.features(4) * whole.features(4) * n) < 1e-3)
    // resize: decimation keeps it a VALID, slower-rate WAV under target
    val r = AudioWavDecoder.resize(bytes, bytes.length / 2)
    assert(r.bytes.length <= bytes.length / 2)
    val rd = AudioWavDecoder.decode(r.bytes)
    assert(rd.features(0) == r.width.toFloat && r.width < 8000 && r.height == 1)
    // content: the decimated PCM is exactly every k-th original sample
    // (k recovered from the reported rate; parse the payload directly)
    val k = math.round(8000.0 / r.width).toInt
    assert(k >= 2)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(r.bytes))
    val pcm = ais.readAllBytes(); ais.close()
    val keptFrames = pcm.length / 2
    assert(keptFrames == (n + k - 1) / k)
    (0 until keptFrames).foreach { i =>
      val got = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xFF)).toShort
      assert(got == Multimodal.AudioGen.sample(id, i * k), s"decimated sample $i (k=$k)")
    }
    // cross-decoder fallbacks: audio bytes are not an image and vice versa
    val viaImage = ImageIoDecoder.decode(bytes)
    val stub = StubDecoder.decode(bytes)
    assert(viaImage.checksum == stub.checksum && viaImage.features.toSeq == stub.features.toSeq)
    val png = Multimodal.ImageGen.png(id)
    assert(AudioWavDecoder.decode(png).features.toSeq == StubDecoder.decode(png).features.toSeq)
    assert(AudioWavDecoder.decode(null).nBytes == 0L)
    assert(AudioWavDecoder.frames(null, 2).forall(_.isEmpty))
  }

  test("documentsAsImages → extractFeatures(ImageIoDecoder) reports closed-form dims (m04 shape)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    val out = Multimodal.extractFeatures(Multimodal.documentsAsImages(docs), ImageIoDecoder).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      val f = r.getSeq[Float](3)
      assert(f(0) == Multimodal.ImageGen.width(id).toFloat)
      assert(f(1) == Multimodal.ImageGen.height(id).toFloat)
    }
  }
}

class FunnelsSpec extends SparkSpec {
  import spark.implicits._
  private def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("funnel: strictly-ordered completion; out-of-order steps don't count") {
    // u1 completes all 3 in order; u2 clicks BEFORE viewing (click doesn't
    // count) and never re-clicks; u3 views only
    val ev = Seq(
      (1L, t(1), "view"), (1L, t(2), "click"), (1L, t(3), "purchase"),
      (2L, t(1), "click"), (2L, t(2), "view"), (2L, t(3), "purchase"),
      (3L, t(5), "view")
    ).toDF("user_id", "ts", "event_type")
    val out = Funnels.funnel(ev, Seq("view", "click", "purchase"))
      .orderBy("step").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1, "view", 3L), (2, "click", 1L), (3, "purchase", 1L)))
    // conversions: null for step 1, 1/3 then 1/1 on the grid
    assert(out(0).isNullAt(3))
    assert(out(1).getDouble(3) == 0.333333 && out(2).getDouble(3) == 1.0)
  }

  test("retention: cohorts by first-period; offset counts distinct users") {
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 09:00:00")
    // period = 7 days; u1 active periods p and p+1 (twice — distinct!),
    // u2 only its first period, u3 starts a period later
    val ev = Seq(
      (1L, d(1)), (1L, d(8)), (1L, d(9)),
      (2L, d(2)),
      (3L, d(10))
    ).toDF("user_id", "ts")
    val out = Funnels.retention(ev, periodDays = 7, maxOffset = 4)
      .orderBy("cohort_period", "offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val p0 = out.head._1
    assert(out == Seq((p0, 0L, 2L), (p0, 1L, 1L), (p0 + 1, 0L, 1L)))
  }
}

class RecordLinkageSpec extends SparkSpec {
  import spark.implicits._

  test("length-band prefilter is lossless; blocking bounds comparisons; hand-check distances") {
    val ents = Seq(
      (1L, "small bolt brand#2", "bolt"),
      (2L, "small bolt brand#3", "bolt"),   // dist 1 to id 1
      (3L, "small bolt brand#17", "bolt"),  // dist 2 to id 1, dist 2 to id 2
      (4L, "red bolt brand#2", "bolt"),     // dist 4 to id 1 (over threshold)
      (5L, "small gear brand#2", "gear")    // different block: never compared
    ).toDF("id", "name", "blk")
    val got = Dedup.recordLinkagePairs(ents, "id", "name", "blk", maxDistance = 2)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 2L)))
    // prefilter losslessness on real data: same pair set as the in-block
    // join WITHOUT the length band (the band is a Levenshtein lower bound)
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val real = part
      .select(concat(col("p_name"), lit(" "), lower(col("p_brand"))).as("name"),
        element_at(split(col("p_name"), " "), 2).as("blk"), col("p_partkey"))
      .groupBy("name", "blk").agg(min("p_partkey").as("id"))
    val fast = Dedup.recordLinkagePairs(real, "id", "name", "blk", maxDistance = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = real.as("a").join(real.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .where(levenshtein(col("a.name"), col("b.name")) <= 2)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == brute && fast.nonEmpty)
  }
}

class TarShardsSpec extends SparkSpec {

  test("ustar round-trips exactly; interop-shaped headers; corruption rejected") {
    val members = Seq(
      "a.txt" -> "hello tar".getBytes,
      "b.bin" -> Array.tabulate(1000)(i => (i % 251).toByte),
      "empty.txt" -> Array.empty[Byte])
    val tar = graft.operators.Ustar.write(members)
    assert(tar.length % 512 == 0)
    val back = graft.operators.Ustar.parse(tar)
    assert(back.map(_._1) == members.map(_._1))
    back.zip(members).foreach { case ((_, got), (_, want)) =>
      assert(got.toSeq == want.toSeq)
    }
    // interop shape (validated against python tarfile + GNU tar, which both
    // read these archives): ustar magic and a correct checksum per header
    assert(new String(tar, 257, 5) == "ustar")
    // a flipped payload byte breaks the payload, not the parse; a flipped
    // HEADER byte must be rejected via the checksum
    val bad = tar.clone(); bad(10) = 'X'.toByte
    intercept[IllegalArgumentException](graft.operators.Ustar.parse(bad))
    // truncation rejected
    intercept[IllegalArgumentException](
      graft.operators.Ustar.parse(java.util.Arrays.copyOfRange(tar, 0, 700)))
    // determinism: same members → identical bytes
    assert(graft.operators.Ustar.write(members).toSeq == tar.toSeq)

    // a crafted header stating a size past Int.MaxValue with a VALID
    // checksum must be rejected as truncation: before the Long bounds
    // check, 0o40000001000 (4 GiB + 512) wrapped via .toInt to a small
    // positive 512, slipped the bounds check, and misaligned every
    // subsequent offset (streaming ingest feeds externally produced
    // shards to this parser — fail-loudly is the contract)
    val crafted = graft.operators.Ustar.write(Seq("a.txt" -> "hello".getBytes)).clone()
    "40000001000".getBytes.copyToArray(crafted, 124)
    crafted(135) = 0
    var sum = 0L
    for (i <- 0 until 512)
      sum += (if (i >= 148 && i < 156) ' '.toByte else crafted(i)) & 0xFF
    java.util.Arrays.fill(crafted, 148, 156, ' '.toByte)
    val oct = java.lang.Long.toOctalString(sum)
    ("0" * (6 - oct.length) + oct).getBytes.copyToArray(crafted, 148)
    crafted(154) = 0; crafted(155) = ' '
    val ex = intercept[IllegalArgumentException](graft.operators.Ustar.parse(crafted))
    assert(ex.getMessage.contains("truncated"), ex.getMessage)
  }

  test("tar shards: members co-locate by shard, explode parses every sample pair") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    val shards = graft.operators.TarShards.documentsAsTarShards(docs, 16)
    val members = graft.operators.TarShards.readMembers(shards)
    import spark.implicits._
    val byShard = members.groupBy("shard_id")
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    // every doc contributes exactly 2 members to exactly one shard
    assert(byShard.values.sum == 80L)
    val names = members.select("member").as[String].collect()
    assert(names.count(_.endsWith(".txt")) == 40 && names.count(_.endsWith(".png")) == 40)
  }
}

class SigEstimateSpec extends SparkSpec {
  import spark.implicits._

  test("signature-only Jaccard estimate tracks exact Jaccard within the k=64 error bar") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val est = Dedup.minhashSigEstimatePairsMd5(docs, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val exact = Dedup.minhashLshPairsMd5(docs, "doc_id", "text", threshold = 0.1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(est.nonEmpty)
    val common = est.keySet.intersect(exact.keySet)
    assert(common.nonEmpty)
    // σ = sqrt(J(1-J)/64) ≤ 0.0625; 4σ covers essentially every pair
    common.foreach { k =>
      assert(math.abs(est(k) - exact(k)) <= 0.25, s"$k: est ${est(k)} vs exact ${exact(k)}")
    }
    // and the mean deviation is well inside one σ (unbiased estimator)
    val meanDev = common.toSeq.map(k => est(k) - exact(k)).sum / common.size
    assert(math.abs(meanDev) < 0.0625, s"estimator biased: mean deviation $meanDev")
  }
}

class Scd2Spec extends SparkSpec {
  import spark.implicits._
  private def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("scd2: intervals chain gaplessly; point-in-time lookup via the intervals is correct") {
    val log = Seq(
      (1L, t(0), 1L, "bronze"), (1L, t(10), 2L, "silver"), (1L, t(20), 3L, "gold"),
      (2L, t(5), 4L, "bronze")
    ).toDF("user_id", "ts", "event_id", "tier")
    val hist = Bucketing.scd2(log, "user_id", "ts", "event_id", Seq("tier"))
    val rows = hist.orderBy("user_id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4))).toSeq
    // intervals chain: each valid_to equals the next valid_from; exactly
    // one current row per key
    assert(rows(0) == ((1L, "bronze", t(0), Some(t(10)), false)))
    assert(rows(1) == ((1L, "silver", t(10), Some(t(20)), false)))
    assert(rows(2) == ((1L, "gold", t(20), None, true)))
    assert(rows(3) == ((2L, "bronze", t(5), None, true)))
    // point-in-time: "what tier was user 1 at 10:15?" → silver
    val att = hist.where(col("user_id") === 1 && col("valid_from") <= t(15) &&
      (col("valid_to").isNull || col("valid_to") > t(15)))
      .select("tier").as[String].collect().toSeq
    assert(att == Seq("silver"))
  }
}

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  test("kCore: hand-built graph peels to the known core; fixpoint stable; tendrils cut") {
    // a 4-clique (1,2,3,4) with a tail 4-5-6 and a pendant 7 off node 1:
    // the 3-core is exactly the clique; 2-core also just the clique (the
    // tail is a path, degree 1 at its end, peels entirely)
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L), (1L, 7L))).toDF("src", "dst")
    val core3 = GraphOps.kCore(edges, "src", "dst", k = 3, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3.keySet == Set(1L, 2L, 3L, 4L))
    assert(core3.values.forall(_ == 3L)) // in-core degrees, post-peel
    // fixpoint: more rounds change nothing
    val core3b = GraphOps.kCore(edges, "src", "dst", k = 3, rounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3b == core3)
    // k=1 keeps everything (no isolated nodes in an edge list)
    assert(GraphOps.kCore(edges, "src", "dst", k = 1, rounds = 4).count() == 7)
    // the gate graph's 3-core really is a fixpoint at the gate's 6 rounds
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
    val a = GraphOps.kCore(li, "src", "dst", k = 3, rounds = 6)
      .collect().map(_.getLong(0)).toSet
    val b = GraphOps.kCore(li, "src", "dst", k = 3, rounds = 8)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("g06 fixed-round contract: rounds=6 is a FIXPOINT at the gate SF (round r == round r+1)") {
    // the gate row runs kCore(rounds = 6) at sf0.01 and its oracle unrolls
    // exactly 6 peeling rounds — this pins that round 7 changes NOTHING on
    // the gate graph (degrees included, not just membership), so a future
    // testdata regen cannot silently un-converge the row into a
    // truncated-peel answer that still happens to match a truncated oracle
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
    def run(r: Int): Map[Long, Long] =
      GraphOps.kCore(li, "src", "dst", k = 3, rounds = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val r6 = run(6)
    val r7 = run(7)
    require(r6 == r7,
      "g06 contract violated: kCore(rounds = 6) is no longer a fixpoint on " +
        "the sf0.01 gate graph — the data changed; raise the gate row's " +
        "rounds (and its oracle's unroll depth) until round r == round r+1")
    assert(r6.nonEmpty)
  }
}

/** TimeSeries additions of r14: Hampel median/MAD outliers (a21) and M4
  * downsampling (a22) — hand-computed fixtures incl. the exact-grid median
  * interpolation and MAD-0 degenerate group.
  */
class TimeSeriesRobustSpec extends SparkSpec {

  test("robustOutliers: Hampel flag on hand-computed median/MAD; MAD-0 group flags nothing equal") {
    import spark.implicits._
    val df = Seq((1L, "g", 1.0), (2L, "g", 2.0), (3L, "g", 3.0), (4L, "g", 4.0),
      (5L, "g", 100.0), (6L, "h", 5.0), (7L, "h", 5.0), (8L, "h", 5.0))
      .toDF("id", "grp", "v")
    // g: med 3, ads 2,1,0,1,97 → MAD 1 → only 100 exceeds 3·MAD
    val res = TimeSeries.robustOutliers(df, "id", "grp", "v", k = 3.0)
      .orderBy("id").collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(5L))
    assert(res(0).getDouble(3) == 3.0 && res(0).getDouble(4) == 1.0)
    assert(res(0).getDouble(5) == 97.0) // |100-3|/1 on the grid
  }

  test("robustOutliers: even-count medians interpolate exactly on the grid") {
    import spark.implicits._
    val df = Seq((1L, "g", 1.0), (2L, "g", 2.0), (3L, "g", 3.0), (4L, "g", 10.0))
      .toDF("id", "grp", "v")
    // med (2+3)/2 = 2.5; ads 1.5,0.5,0.5,7.5 → MAD (0.5+1.5)/2 = 1.0
    val res = TimeSeries.robustOutliers(df, "id", "grp", "v", k = 3.0)
      .orderBy("id").collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(4L))
    assert(res(0).getDouble(3) == 2.5 && res(0).getDouble(4) == 1.0)
  }

  test("robustOutliers: MAD-0 group flags every deviating point with NULL score") {
    import spark.implicits._
    val df = Seq((1L, "h", 5.0), (2L, "h", 5.0), (3L, "h", 5.0), (4L, "h", 6.0))
      .toDF("id", "grp", "v")
    // med 5, ads 0,0,0,1 → MAD 0 → the one deviator flags, score NULL not Inf
    val res = TimeSeries.robustOutliers(df, "id", "grp", "v", k = 3.0).collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(4L))
    assert(res(0).isNullAt(5))
  }

  test("calibrationTable: hand-computed bins, normalization clamps, exact ECE") {
    import spark.implicits._
    // lo=0, hi=1 → ns = score clamped; bins=2 → [0,0.5) and [0.5,1]
    val df = Seq(
      (1L, 0.2, true), (2L, 0.4, false),         // bin 0: conf 0.3, acc 0.5
      (3L, 0.6, true), (4L, 0.8, true),          // bin 1 with (5): conf 0.8, acc 1.0
      (5L, 1.5, true)                            //   clamped to ns = 1.0
    ).toDF("id", "score", "label")
    val res = TrainingPipeline.calibrationTable(df, "score", "label", bins = 2,
      lo = 0.0, hi = 1.0).orderBy("bin").collect()
    assert(res.length == 2)
    val b0 = res(0); val b1 = res(1)
    assert(b0.getLong(1) == 2 && b0.getLong(2) == 1)
    assert(b0.getDouble(3) == 0.3 && b0.getDouble(4) == 0.5)
    assert(b1.getLong(1) == 3 && b1.getLong(2) == 3)
    assert(b1.getDouble(3) == 0.8 && b1.getDouble(4) == 1.0)
    // ECE = (2*|0.5-0.3| + 3*|1.0-0.8|) / 5 = 0.2 on the 1e-6 grid
    assert(res.forall(r => math.abs(r.getDouble(5) - 0.2) < 1e-9))
  }

  test("seasonalDecompose: constant series → trend = c, seasonal = 0, resid = 0 exactly") {
    import spark.implicits._
    val rows = for (d <- 0 until 3; h <- 0 until 24; i <- 0 until 2)
      yield (d.toLong * 48 + h * 2 + i,
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d $h%02d:${i * 20}%02d:00"),
        "g", 7.25)
    val df = rows.toDF("id", "ts", "grp", "v")
    val res = TimeSeries.seasonalDecompose(df, "ts", "grp", "v").collect()
    assert(res.length == 72)
    assert(res.forall(r => r.getDouble(3) == 7.25 && r.getDouble(4) == 7.25 &&
      r.getDouble(5) == 0.0 && r.getDouble(6) == 0.0))
  }

  test("seasonalDecompose: pure daily cycle → interior trend = cycle mean, resid on-grid 0") {
    import spark.implicits._
    // value depends ONLY on hour-of-day; hourly means are exact quarters
    val rows = for (d <- 0 until 4; h <- 0 until 24)
      yield (d.toLong * 24 + h,
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d $h%02d:00:00"),
        "g", 10.0 + (h % 4) * 0.25)
    val df = rows.toDF("id", "ts", "grp", "v")
    val res = TimeSeries.seasonalDecompose(df, "ts", "grp", "v")
      .orderBy("bucket_start").collect()
    val mu = (10.0 + 10.25 + 10.5 + 10.75) / 4.0 // one-cycle mean
    // interior buckets (full 24-wide centered window covers one exact cycle)
    val interior = res.slice(11, res.length - 12)
    assert(interior.nonEmpty)
    interior.foreach { r =>
      assert(r.getDouble(4) == mu, s"trend ${r.getDouble(4)} != $mu")
      // the seasonal mean also averages over the partial-window EDGE
      // buckets (whose detrend deviates), so interior resid is small but
      // not zero; the EXACT contract is the identity resid = dtr - seasonal
      assert(r.getDouble(6) == (r.getDouble(3) - r.getDouble(4)) - r.getDouble(5))
      assert(math.abs(r.getDouble(6)) < 0.05, s"resid ${r.getDouble(6)}")
    }
    // seasonal is constant per hour-of-day across days (grid-exact equality)
    val byHour = res.groupBy(r => r.getTimestamp(1).toLocalDateTime.getHour)
    byHour.values.foreach(g => assert(g.map(_.getDouble(5)).distinct.length == 1))
  }

  test("m4Downsample: per-bucket first/last/min/max, duplicate-ts first tie-broken by id") {
    import spark.implicits._
    val df = Seq(
      (0L, "2024-01-01 10:05:00", "g", 7.0), // same ts as id 1: id 0 wins first
      (1L, "2024-01-01 10:05:00", "g", 5.0),
      (2L, "2024-01-01 10:30:00", "g", 1.0),
      (3L, "2024-01-01 10:45:00", "g", 9.0),
      (4L, "2024-01-01 11:10:00", "g", 4.0))
      .toDF("id", "tss", "grp", "v")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val res = TimeSeries.m4Downsample(df, "ts", "grp", "v", "id", bucket = "hour")
      .orderBy("bucket_start").collect()
    assert(res.length == 2)
    val b10 = res(0)
    assert(b10.getDouble(2) == 7.0 && b10.getDouble(3) == 9.0) // first, last
    assert(b10.getDouble(4) == 1.0 && b10.getDouble(5) == 9.0) // min, max
    assert(b10.getLong(6) == 4L)
    assert(res(1).getLong(6) == 1L && res(1).getDouble(2) == 4.0)
  }
}
