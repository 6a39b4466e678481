package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextOps

/** Invariants for the LLM-data operator families on sf0.001. */
class LlmOpsSpec extends SparkSpec {

  private lazy val docs = core.Tables.documents(spark, sf)
  private lazy val emb = core.Tables.embeddings(spark, sf)

  test("pca: rounded components are orthonormal and projection matches MLlib") {
    import org.apache.spark.sql.functions._
    val comp = graft.sim.Pca.fit(emb, "embedding", k = 4)
    val rows = comp.orderBy("pc").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(rows.size == 4)
    for (i <- 0L until 4L; j <- i until 4L) {
      val dot = rows(i).zip(rows(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-3,
        s"components $i,$j dot=$dot (rounding tolerance exceeded)")
    }
    // explained variance decreasing
    val evs = comp.orderBy("pc").collect().map(_.getDouble(2))
    assert(evs.sliding(2).forall(p => p(0) >= p(1)))
    // projection parity vs MLlib's own transform (unrounded components
    // differ from the dumped ones by <= 5e-7 per weight; 64-dim dot
    // stays within ~1e-4 on unit-scale embeddings)
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    val model = new org.apache.spark.ml.feature.PCA().setK(4)
      .setInputCol("__fv").setOutputCol("__pc")
      .fit(emb.select(array_to_vector(transform(col("embedding"),
        _.cast("double"))).as("__fv")))
    val mlib = model.transform(emb.select(col("vec_id"),
        array_to_vector(transform(col("embedding"), _.cast("double"))).as("__fv")))
      .select(col("vec_id"), posexplode(vector_to_array(col("__pc")))
        .as(Seq("pc", "mproj")))
    val ours = graft.sim.Pca.project(emb, comp, "vec_id", "embedding")
    val joined = ours.join(mlib,
        ours("vec_id") === mlib("vec_id") && ours("pc") === mlib("pc"))
      .select(abs(col("proj") - col("mproj")).as("d"))
      .agg(max("d")).head.getDouble(0)
    assert(joined < 1e-3, s"projection drift vs MLlib transform: $joined")
  }

  test("incremental dedup against a persisted band index equals the batch cross-pairs") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_spec").toString
    Dedup.writeBandIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
    val inc = Dedup.nearDupAgainstIndex(spark,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        math.rint(r.getDouble(2) * 1e6) / 1e6).toMap
    val batchCross = Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5)
      .collect().flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        if (a % 2 == b % 2) None
        else Some((if (a % 2 == 0) (a, b) else (b, a)) -> math.rint(j * 1e6) / 1e6)
      }.toMap
    assert(inc == batchCross,
      s"missing=${batchCross.keySet -- inc.keySet} extra=${inc.keySet -- batchCross.keySet}")
    assert(inc.nonEmpty, "fixture plants cross-half near-dups")
  }

  test("band index refuses a mismatched probe config (manifest guard)") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_mm").toString
    Dedup.writeBandIndex(docs.limit(20), "doc_id", "text", idx,
      bands = 16, rowsPerBand = 2)
    val probe = docs.filter(col("doc_id") % 2 === 1)
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupAgainstIndex(spark, probe, "doc_id", "text", idx,
        bands = 8, rowsPerBand = 4)
    }
    assert(e.getMessage.contains("mismatched probe"),
      s"wrong guard message: ${e.getMessage}")
  }

  test("band-index probe: an id on both sides verifies each side against its own grams") {
    import spark.implicits._
    // index doc 1 and batch doc 1 are different texts sharing an id;
    // each pair side must read its own gram store, never both
    def words(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val base = words("w", 30)
    val indexed = Seq((1L, base), (2L, words("x", 30)), (4L, words("y", 30)))
    val batch = Seq((1L, base + " tail1"), (3L, base + " tail3 more"),
      (5L, words("z", 30)))
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_ids").toString
    Dedup.writeBandIndex(indexed.toDF("doc_id", "text"), "doc_id", "text", idx)
    val got = Dedup.nearDupAgainstIndex(spark, batch.toDF("doc_id", "text"),
        "doc_id", "text", idx, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        math.rint(r.getDouble(2) * 1e6) / 1e6)
    assert(got.map(_._1).distinct.length == got.length,
      s"duplicate (id_1, id_2) rows: ${got.toSeq}")
    // brute force over old × new word 3-shingle sets, computed locally
    def shingles(t: String) = t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val want = (for ((o, ot) <- indexed; (n, nt) <- batch) yield {
      val (a, b) = (shingles(ot), shingles(nt))
      (o, n) -> math.rint((a & b).size.toDouble / (a | b).size * 1e6) / 1e6
    }).filter(_._2 >= 0.5).toMap
    assert(got.toMap == want, s"got ${got.toSeq} want $want")
    assert(want.keySet == Set((1L, 1L), (1L, 3L)))
  }

  test("ProbeBanding census equals a brute-force sum of C(n,2) over collected bucket counts") {
    import spark.implicits._
    // 150 clones put one bucket per band above the 100 cap; a 12-doc
    // near-dup family stays under it; fillers are singletons
    val rows = (1L to 150L).map(i => (i, "the same boilerplate text on every page")) ++
      (0 until 12).map(i => (1000L + i, s"a shared family body with many words, variant $i")) ++
      (2000L until 2040L).map(i => (i, (0 until 10).map(j => s"f${i}_$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val grams = Dedup.charNgramArrays(df, "doc_id", "text", 5).cache()
    Seq((8, 4), (4, 2)).foreach { case (b, r) =>
      val got = Probe.shapeCensus(grams, b, r)
      // reference bucket counts from the aggregate-form signature:
      // min over every gram of each seeded xxhash64, then the band hash
      val aggs = (0 until b * r).map(j => min(xxhash64(lit(j), col("s"))).as(s"h$j"))
      val bandKeys = (0 until b).map(band => struct(lit(band).as("band"),
        xxhash64((0 until r).map(k => col(s"h${band * r + k}")): _*).as("bsig")))
      val sizes = Dedup.hashedCharNgrams(df, "doc_id", "text", 5)
        .groupBy("id").agg(aggs.head, aggs.tail: _*)
        .select(explode(array(bandKeys: _*)).as("bs"))
        .select("bs.band", "bs.bsig").collect()
        .groupBy(k => (k.getInt(0), k.getLong(1))).values.map(_.length.toLong).toSeq
      def mass(cap: Long) = sizes.filter(_ <= cap).map(n => n * (n - 1) / 2).sum
      assert(got == Probe.Shape(mass(Long.MaxValue), mass(10000L),
        mass(1000L), mass(100L), sizes.max, sizes.size.toLong), s"($b, $r)")
      assert(got.cap100 < got.cap1k && got.maxBucket >= 150L,
        s"the clone buckets must exceed the 100 cap: $got")
    }
    grams.unpersist()
  }

  test("minhash near-dup: pairs are symmetric-free, above threshold, and real") {
    val pairs = Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5).cache()
    val rows = pairs.collect()
    assert(rows.nonEmpty, "the corpus plants near-dup pairs")
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)), "id_1 < id_2 canonical form")
    assert(rows.forall(_.getDouble(2) >= 0.5))
    pairs.unpersist()
  }

  test("minhash banding S-curve: the (bands, rowsPerBand) knob sets threshold-edge recall") {
    import spark.implicits._
    // 300 planted pairs at EXACTLY the J=0.5 threshold edge, pair-unique
    // vocabulary (cross-pair Jaccard 0): docs share an 18-word prefix
    // (16 shared 3-gram shingles) and diverge on 8-word tails (8
    // pair-side shingles each) -> J = 16 / (24 + 24 - 16) = 0.5.
    // Published banding collision probability at Jaccard J is
    // 1 - (1 - J^r)^b; the three configs below spend the SAME 32-hash
    // budget across the curve:
    //   (b=32, r=1): 1 - 2^-32          ~ 1.000  (catch-everything)
    //   (b=16, r=2): 1 - (1 - .25)^16   ~ 0.990  (the default - the
    //                README's documented 99% bound at the edge)
    //   (b=4,  r=8): 1 - (1 - 2^-8)^4   ~ 0.016  (sharp cutoff above)
    val nPairs = 300
    val docs = (0 until nPairs).flatMap { i =>
      val common = (0 until 18).map(j => s"p${i}c$j")
      val a = common ++ (0 until 8).map(j => s"p${i}a$j")
      val b = common ++ (0 until 8).map(j => s"p${i}b$j")
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
    def recall(bands: Int, rows: Int): Double =
      Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5,
          bands = bands, rowsPerBand = rows)
        .collect().count(r => r.getLong(1) == r.getLong(0) + 1 &&
          r.getLong(0) % 2 == 0).toDouble / nPairs
    val wide = recall(32, 1)
    val default = recall(16, 2)
    val sharp = recall(4, 8)
    assert(wide == 1.0, s"(32,1) must catch every edge pair: $wide")
    assert(default >= 0.96,
      s"(16,2) edge recall must sit at the published ~0.99: $default")
    assert(sharp <= 0.15,
      s"(4,8) must cut off at the edge (expected ~0.016): $sharp")
    assert(wide >= default && default > sharp,
      s"S-curve must steepen with rows: $wide / $default / $sharp")
  }

  test("minhash candidates never blow up to all-pairs") {
    val n = docs.count()
    val pairs = Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5).count()
    assert(pairs < n, s"found $pairs pairs for $n docs — bucket join degenerated")
  }

  test("simhash_tokens: bit-identical to the distributed md5-vote formulation") {
    // the old explode -> distinct -> 32-conditional-sum plan, rebuilt
    // inline as the independent reference for the native expression
    val bits = 32
    val tok = docs.select(col("doc_id").as("id"),
        explode(Dedup.tokens(col("text"))).as("w")).distinct()
      .select(col("id"),
        conv(substring(md5(col("w").cast("binary")), 1, 15), 16, 10)
          .cast("long").as("__h"))
    val sums = (0 until bits).map(i =>
      sum(when(shiftrightunsigned(col("__h"), i) % 2 === 1, 1).otherwise(-1)).as(s"b$i"))
    val expected = tok.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until bits).map(i =>
          when(col(s"b$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.simHash(docs, "doc_id", "text", bits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "native simhash_tokens diverged from the md5-vote reference")
    // empty text: the phantom "" token still votes (tokens("") = [""]),
    // exactly as the explode path did; null text yields no row
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "  \t "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val e = Dedup.simHash(edge, "doc_id", "text", bits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e.keySet == Set(1L, 2L) && e(1L) == e(2L),
      s"empty/whitespace docs must hash alike and null must drop: $e")
  }

  test("simhash_tokens: no-vote inputs (empty / all-null arrays) yield null, not a signature") {
    // the old explode→distinct→groupBy plan emitted NO row for these;
    // an all-zero counter vector would otherwise tie-break to an
    // all-bits-set signature and collide every degenerate doc into one
    // giant near-dup bucket (ADVICE r14)
    import spark.implicits._
    val df = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq[String](null, null)),
      (3L, Seq[String]("real", null)),
      (4L, Seq[String]("real"))).toDF("id", "toks")
    val got = df.select(col("id"),
        graft.functions.GraftFunctions.simhashTokens(spark, col("toks"), 32).as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got(1L).isEmpty && got(2L).isEmpty,
      s"no token voted — must be null: $got")
    assert(got(3L).isDefined && got(3L) == got(4L),
      s"null ELEMENTS are skipped, surviving tokens still vote: $got")
  }

  test("simhash sizing rule: enforced at plan time from the corpus count") {
    import graft.dedup.Dedup.simHashSizingIssue
    // sf10-measured shape: 500k docs on the 32-bit default saturates
    // the 2^8 band space → warn naming the width that fits (56)
    val warn = simHashSizingIssue(500000L, 3, 32, 10000)
    assert(warn.exists(i => !i._1 && i._2.contains("bits=56")),
      s"500k docs @32-bit must warn with the fitting width: $warn")
    // the 60-bit width that completed answer-bounded at sf10 → clean
    assert(simHashSizingIssue(500000L, 3, 60, 10000).isEmpty)
    // expected bucket above the skew cap → the cap would drop the
    // AVERAGE bucket; must be fatal, not a silent corpus-wide discard
    val fatal = simHashSizingIssue(5000000L, 3, 32, 10000)
    assert(fatal.exists(_._1), s"5M docs @32-bit must be fatal: $fatal")
    // gate-scale corpora on defaults stay silent
    assert(simHashSizingIssue(5000L, 3, 32, 10000).isEmpty)
    // end-to-end: the require fires before the candidate join is paid
    val ex = intercept[IllegalArgumentException] {
      Dedup.simHashNearDup(docs, "doc_id", "text",
        maxHamming = 3, bits = 4, maxBucketSize = 10)
    }
    assert(ex.getMessage.contains("sizing rule"), ex.getMessage)
  }

  test("simhash: near-dup pairs have small hamming distance") {
    val sig = Dedup.simHash(docs, "doc_id", "text").cache()
    val near = Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.8)
    val joined = near
      .join(sig.select(col("id").as("id_1"), col("simhash").as("h1")), Seq("id_1"))
      .join(sig.select(col("id").as("id_2"), col("simhash").as("h2")), Seq("id_2"))
      .select(Dedup.hamming(col("h1"), col("h2")).as("ham"))
    val hams = joined.collect().map(_.getInt(0))
    assert(hams.nonEmpty && hams.forall(_ <= 16) &&
      hams.sum.toDouble / hams.length <= 8,
      s"J>=0.8 pairs should average well under half the 32 bits: ${hams.toSeq}")
    sig.unpersist()
  }

  test("keepFirst: one row per key, the ordered-first one") {
    val li = core.Tables.lineitem(spark, sf)
    val out = Dedup.keepFirst(li, Seq("l_orderkey", "l_linenumber"),
      Seq(col("l_extendedprice"))).cache()
    assert(out.groupBy("l_orderkey", "l_linenumber").count()
      .filter(col("count") > 1).isEmpty)
    val minPrice = li.groupBy("l_orderkey", "l_linenumber")
      .agg(min("l_extendedprice").as("l_extendedprice"))
    assert(out.select("l_orderkey", "l_linenumber", "l_extendedprice")
      .except(minPrice).isEmpty, "kept row carries the group-min order key")
    out.unpersist()
  }

  test("IVF top-k recall against brute force") {
    val probes = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall degenerate: $recall")
  }

  test("simhash near-dup banding is lossless vs direct all-pairs hamming") {
    val got = Dedup.simHashNearDup(docs, "doc_id", "text", maxHamming = 3)
    val sig = Dedup.simHash(docs, "doc_id", "text")
    val all = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        Dedup.hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= 3)
    assert(got.except(all).isEmpty && all.except(got).isEmpty,
      "banded candidates recover exactly the all-pairs result")
  }

  test("LSH top-k recall against brute force") {
    val probes = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, probes, "vec_id", "embedding", 5,
      planes = 6, tables = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall degenerate: $recall")
  }

  test("duplicate clusters: transitive chains collapse to the min id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L)).toDF("id_1", "id_2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L),
      s"chain 1-2-3-4 collapses to 1; pair 7-9 to 7: $got")
  }

  test("duplicateClusters: 10^4-node chain converges in ~log2 rounds with flat plans") {
    // Adversarial worst case for label propagation: a single chain
    // component of diameter 10^4. Plain min-label propagation needs
    // O(diameter) rounds; pointer jumping doubles label reach per round
    // (reach 2^k - 1 after k rounds), so convergence must take
    // ~log2(10^4) ≈ 14 rounds plus the final no-change round.
    import spark.implicits._
    val n = 10000
    val pairs = spark.range(0, n - 1)
      .select(col("id").as("id_1"), (col("id") + 1).as("id_2"))
    val (labels, rounds) = Dedup.duplicateClustersWithRounds(pairs, maxIter = 30)
    assert(rounds <= 18,
      s"chain of $n nodes took $rounds rounds - pointer jumping regressed to O(diameter)")
    val clusters = labels.groupBy("cluster").count().collect()
    assert(clusters.length == 1 && clusters.head.getLong(0) == 0L
      && clusters.head.getLong(1) == n,
      s"all $n nodes must collapse to cluster 0: ${clusters.mkString(",")}")
    // localCheckpoint truncates lineage: the result's plan must be a
    // constant-size scan, not 14 rounds of accumulated joins.
    val planLines = labels.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
    assert(planLines <= 10, s"result plan grew with rounds ($planLines lines)")
  }

  test("language-id scores are rates in [0,1]; quality in [0,1]") {
    val lid = TextOps.langId(docs, "doc_id", "text")
    assert(lid.filter(col("best_score") < 0 || col("best_score") > 1).isEmpty)
    val q = TextOps.qualityScore(docs, "doc_id", "text")
    assert(q.filter(col("quality") < 0 || col("quality") > 1).isEmpty)
    assert(q.count() == docs.count())
  }

  test("fingerprint is order-insensitive on tokens") {
    import spark.implicits._
    val df = Seq((1L, "b a c"), (2L, "c b a"), (3L, "a b d")).toDF("id", "text")
    val fps = TextOps.fingerprint(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("char-n-gram units: exact windows, short-text guard, jaccard parity") {
    import spark.implicits._
    val df = Seq((1L, "abcdef"), (2L, "abcdeX"), (3L, "ab")).toDF("id", "text")
    // doc 1: grams of "abcdef" with n=5 -> {abcde, bcdef}; doc 3 too short -> none
    val grams = Dedup.hashedCharNgrams(df, "id", "text", 5)
    val counts = grams.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 2L), s"got $counts (short text excluded)")
    // docs 1/2 share {abcde} of union {abcde, bcdef, bcdeX} -> j = 1/3
    val pairs = Dedup.ngramJaccardNearDup(df, "id", "text",
      threshold = 0.3, n = 5, bands = 16, rowsPerBand = 1)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1),
      math.rint(r.getDouble(2) * 1e6) / 1e6))
    assert(got.toSeq == Seq((1L, 2L, 0.333333)), s"got ${got.toSeq}")
  }

  test("unblocked LSH embedding near-dup: exact precision, high recall vs truth") {
    val threshold = 0.95
    val truth = Dedup.embeddingNearDup(
        emb.withColumn("__one", lit(1)), "vec_id", "embedding", "__one", threshold)
      .select("id_1", "id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", threshold)
      .select("id_1", "id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "every emitted pair is a true near-dup (exact verify)")
    assert(truth.isEmpty || got.size >= truth.size * 0.8,
      s"recall ${got.size}/${truth.size} below 0.8")
  }

  test("semDedup: keep-farthest rule, drop symmetry, determinism") {
    import spark.implicits._
    // 3 planted groups far apart (clusters) with near-identical members
    // inside; nCells=3 so each group is one cell
    def v(base: Array[Double], eps: Double) = base.map(_ + eps)
    val g1 = Array(10.0, 0.0, 0.0); val g2 = Array(0.0, 10.0, 0.0)
    val g3 = Array(0.0, 0.0, 10.0)
    val rows = Seq(
      (1L, v(g1, 0.0)), (2L, v(g1, 0.01)), (3L, v(g1, 0.02)), // near-dups
      (4L, v(g2, 0.0)), (5L, v(g2, 0.01)),                    // near-dups
      (6L, v(g3, 0.0)),                                       // alone
      (7L, Array(0.0, 7.0, 7.0))) // in some cluster, dissimilar to all
    val df = rows.toDF("id", "vec")
    val r = Similarity.semDedup(df, "id", "vec", threshold = 0.999,
      nCells = 3, seed = 27L).cache()
    val keep = r.filter(col("keep")).select("id").collect().map(_.getLong(0)).toSet
    val byId = r.collect().map(x => x.getLong(0) ->
      (x.getInt(1), x.getDouble(2), x.getBoolean(3))).toMap
    // each planted dup group keeps exactly one member; singletons survive
    assert(Set(1L, 2L, 3L).intersect(keep).size == 1, s"g1 keeps one, kept=$keep")
    assert(Set(4L, 5L).intersect(keep).size == 1, s"g2 keeps one, kept=$keep")
    assert(keep.contains(6L) && keep.contains(7L), "singletons always kept")
    // the kept member of a dup group is the one ranked first:
    // (centroid_sim ASC, id ASC) — farthest from its centroid
    val g1Kept = Set(1L, 2L, 3L).intersect(keep).head
    val g1Rank = Seq(1L, 2L, 3L).sortBy(id => (byId(id)._2, id))
    assert(g1Kept == g1Rank.head,
      s"kept $g1Kept must be the farthest-from-centroid member ${g1Rank.head}")
    // deterministic under the seed
    val again = Similarity.semDedup(df, "id", "vec", threshold = 0.999,
      nCells = 3, seed = 27L)
      .filter(col("keep")).select("id").collect().map(_.getLong(0)).toSet
    assert(again == keep)
    r.unpersist()
  }

  test("pq: a vector length not divisible by m fails loudly, never silently truncates") {
    import spark.implicits._
    // d=10, m=4 would silently drop dims 9-10 from every distance;
    // d=3, m=4 would encode every vector to code 0 with distance 0.0
    for (d <- Seq(10, 3)) {
      val bad = Seq((1L, (1 to d).map(_.toDouble))).toDF("id", "emb")
      val ex = intercept[Exception] {
        graft.sim.Pq.train(bad, "id", "emb", m = 4, ks = 2).collect()
      }
      def chain(t: Throwable): List[String] =
        if (t == null) Nil
        else Option(t.getMessage).toList ::: chain(t.getCause)
      assert(chain(ex).exists(_.contains("divisible")),
        s"d=$d must hit the subspace-split guard: ${chain(ex)}")
    }
  }

  test("canonicalPick: STRING ids keep the ascending tie-break") {
    import spark.implicits._
    // the old -id trick null-cast string ids (or threw under ANSI) and
    // silently picked the LARGEST id on score ties
    val clusters = Seq(("doc_b", 1L), ("doc_a", 1L), ("doc_c", 1L))
      .toDF("doc_id", "cluster")
    val scored = Seq(("doc_a", 5.0), ("doc_b", 5.0), ("doc_c", 1.0))
      .toDF("doc_id", "score")
    val got = Dedup.canonicalPick(clusters, scored, "doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, "doc_a", 3L)),
      s"score tie must break to the SMALLEST id: ${got.toList}")
  }

  test("simHashNearDup / embeddingNearDup: skew guards engage and report drops") {
    import spark.implicits._
    // simhash: an engaged bucket cap must drop pairs AND surface counts
    val docs = (1 to 30).map(i => (i.toLong, "same text body here"))
      .toDF("doc_id", "text")
    val (pairs, stats) = Dedup.simHashNearDupWithStats(
      docs, "doc_id", "text", maxHamming = 3, maxBucketSize = 10)
    assert(pairs.count() == 0, "capped buckets must emit no pairs")
    val st = stats.head()
    assert(st.getLong(0) > 0 && st.getLong(1) > 0,
      s"drop stats must be loud: $st")
    // embedding blocked: one dominant block over the cap drops; the
    // small block still pairs
    val emb = ((1 to 20).map(i => (i.toLong, "big", Seq(1.0, 0.0))) ++
      Seq((21L, "small", Seq(0.0, 1.0)), (22L, "small", Seq(0.0, 1.0))))
      .toDF("vec_id", "label", "embedding")
    val (ep, es) = Dedup.embeddingNearDupWithStats(
      emb, "vec_id", "embedding", "label", 0.5, maxBlockSize = 10)
    val got = ep.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((21L, 22L)),
      s"only the under-cap block may pair: $got")
    val est = es.head()
    assert(est.getLong(0) == 1L && est.getLong(1) == 20L,
      s"dropped-block stats must count the dominant block: $est")
  }

  test("pq: codes cover all subspaces, ADC distance is exact on centroid-grid vectors") {
    import spark.implicits._
    // Vectors whose subvectors ARE codebook centroids: 8-dim, m=2,
    // 4 distinct subvectors per subspace repeated enough that KMeans
    // (k=4) must place a centroid on each point -> quantization error
    // 0 and the ADC distance equals the true squared L2 distance.
    def vec(a: Int, b: Int): Seq[Float] =
      Seq(a, a, 0, 0, b, 0, b, 0).map(_.toFloat)
    val rows = for (i <- 0 until 4; j <- 0 until 4; r <- 0 until 3)
      yield ((i * 16 + j * 4 + r).toLong, vec(i * 10, j * 10))
    val df = rows.toDF("id", "emb")
    val cb = graft.sim.Pq.train(df, "id", "emb", m = 2, ks = 4, seed = 1L)
    assert(cb.count() == 8) // 2 subspaces x 4 codes
    val codes = graft.sim.Pq.encode(df, cb, "id", "emb", m = 2).cache()
    assert(codes.count() == rows.size * 2)
    assert(codes.agg(max("dist")).head.getDouble(0) == 0.0,
      "every subvector sits exactly on a centroid")
    // ADC vs true distance for one probe against all vectors
    val probe = df.filter(col("id") === 0L)
    val adc = graft.sim.Pq.adcTopK(codes, cb, probe, "id", "emb", k = 5, m = 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val truth = df.filter(col("id") =!= 0L).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        val p = vec(0, 0)
        r.getLong(0) -> v.zip(p).map { case (x, y) => (x - y) * (x - y) }.sum.toDouble
      }.toMap
    adc.foreach { case (id, d) =>
      assert(math.abs(d - truth(id)) < 1e-6, s"ADC exact on grid: $id $d ${truth(id)}")
    }
    codes.unpersist()
  }

  test("pq: ADC shortlist recall against brute force on real embeddings") {
    // The operational ANN property: the TRUE nearest neighbor lands in
    // the ADC top-10 shortlist (which an exact rerank then recovers).
    // m=16 x ks=16 (64-bit codes) is the quality config; the near-random
    // synthetic embeddings are PQ's worst case, so the floor is 0.6
    // where a numpy reference measures 0.8.
    val cb = graft.sim.Pq.train(emb, "vec_id", "embedding", m = 16, ks = 16, seed = 27L)
    val codes = graft.sim.Pq.encode(emb, cb, "vec_id", "embedding", m = 16)
    val probes = emb.filter(col("vec_id") < 20)
    val adc = graft.sim.Pq.adcTopK(codes, cb, probes, "vec_id", "embedding",
        k = 10, m = 16)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val all = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val hit = adc.toSeq.map { case (q, approx) =>
      val p = all(q)
      val nn = all.toSeq.filter(_._1 != q)
        .minBy { case (id, v) =>
          (v.zip(p).map { case (x, y) => (x - y) * (x - y) }.sum, id) }._1
      if (approx.contains(nn)) 1.0 else 0.0
    }
    val recall = hit.sum / hit.size
    assert(recall >= 0.6, s"PQ NN-in-top10 recall = $recall below floor")
  }

  test("ivfpq: probed-cell containment, full-probe recall, determinism") {
    import graft.sim.IvfPq
    val coarse = IvfPq.trainCoarse(emb, "embedding", nCells = 16, seed = 27L)
      .cache()
    val cb = IvfPq.trainCodebook(emb, coarse, "vec_id", "embedding",
      m = 16, ks = 16, seed = 27L)
    val codes = IvfPq.encode(emb, coarse, cb, "vec_id", "embedding", m = 16)
      .cache()
    val probes = emb.filter(col("vec_id") < 20)

    // structural: with narrow probing, every returned neighbor must
    // live in one of the query's nProbe nearest cells — the inverted
    // lists really prune
    val assigned = IvfPq.assign(emb, coarse, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = coarse.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val probed = probes.collect().map { r =>
      val x = r.getSeq[Float](1).map(_.toDouble).toArray
      val top = cents.toSeq.map { case (cell, c) =>
        (math.rint(x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum * 1e6) / 1e6,
          cell)
      }.sorted.take(2).map(_._2).toSet
      r.getLong(0) -> top
    }.toMap
    val narrow = IvfPq.search(codes, coarse, cb, probes, "vec_id", "embedding",
      k = 10, nProbe = 2, m = 16).collect()
    assert(narrow.nonEmpty)
    narrow.foreach { r =>
      val q = r.getLong(0); val n = r.getLong(1)
      assert(probed(q).contains(assigned(n)),
        s"neighbor $n (cell ${assigned(n)}) outside query $q's probed cells ${probed(q)}")
    }

    // full probing (nProbe = nCells) removes pruning loss, so recall
    // equals residual-PQ quality — same floor as the flat-PQ spec
    val full = IvfPq.search(codes, coarse, cb, probes, "vec_id", "embedding",
        k = 10, nProbe = 16, m = 16)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val all = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val hit = full.toSeq.map { case (q, approx) =>
      val p = all(q)
      val nn = all.toSeq.filter(_._1 != q)
        .minBy { case (id, v) =>
          (v.zip(p).map { case (x, y) => (x - y) * (x - y) }.sum, id) }._1
      if (approx.contains(nn)) 1.0 else 0.0
    }
    val recall = hit.sum / hit.size
    assert(recall >= 0.6, s"IVFPQ full-probe NN-in-top10 recall = $recall below floor")

    // deterministic end to end
    val again = IvfPq.search(codes, coarse, cb, probes, "vec_id", "embedding",
      k = 10, nProbe = 2, m = 16).collect()
    assert(narrow.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)

    // exact re-rank (Jégou §IV-C): at the same k/nProbe, re-scoring a
    // 3k shortlist by exact L2 can only improve NN recall over raw ADC
    // order — and the exact NN must rank FIRST whenever it made the
    // shortlist.
    val nnOf = (q: Long) => {
      val pv = all(q)
      all.toSeq.filter(_._1 != q)
        .minBy { case (id, v) =>
          (v.zip(pv).map { case (x, y) => (x - y) * (x - y) }.sum, id) }._1
    }
    def recallOf(res: Map[Long, Set[Long]]): Double = {
      val hits = res.toSeq.map { case (q, ids) => if (ids.contains(nnOf(q))) 1.0 else 0.0 }
      hits.sum / hits.size
    }
    val adc10 = IvfPq.search(codes, coarse, cb, probes, "vec_id", "embedding",
        k = 10, nProbe = 16, m = 16)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }
    val rr = IvfPq.searchRerank(codes, coarse, cb, probes, emb,
        "vec_id", "embedding", k = 10, kShort = 30, nProbe = 16, m = 16)
      .collect()
    val rr10 = rr.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(_.getLong(1)).toSet }
    assert(recallOf(rr10) >= recallOf(adc10),
      s"re-rank recall ${recallOf(rr10)} below ADC recall ${recallOf(adc10)}")
    // within each probe's result, exact distances are what ranks
    rr.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      if (rr10(q).contains(nnOf(q))) {
        val top = rs.minBy(r => (r.getDouble(2), r.getLong(1))).getLong(1)
        assert(top == nnOf(q),
          s"probe $q: shortlisted exact NN ${nnOf(q)} must rank first, got $top")
      }
    }
    codes.unpersist(); coarse.unpersist()
  }

  test("rrfFuse: hand-computed fusion, missing-list handling, tie-break") {
    import spark.implicits._
    // list A ranks docs 1,2,3; list B ranks 3,2,4. kRrf = 60.
    // doc2: 1/62 + 1/62 = .032258; doc3: 1/63 + 1/61 = .032266;
    // doc1: 1/61 = .016393; doc4: 1/63 = .015873 — doc3 wins over doc2
    // on the rank sum, docs present in one list still score.
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((3L, 1L), (2L, 2L), (4L, 3L)).toDF("id", "rank")
    val got = graft.text.TextOps.rrfFuse(Seq(a, b), "id", kRrf = 60, topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(3L, 2L, 1L, 4L), s"order wrong: ${got.toSeq}")
    assert(got.toMap.apply(2L) == math.rint((1.0/62 + 1.0/62) * 1e6) / 1e6)
    assert(got.toMap.apply(4L) == math.rint((1.0/63) * 1e6) / 1e6)
    // equal-rrf ties break on the smaller id: two single-list docs at
    // the same rank
    val c = Seq((10L, 1L)).toDF("id", "rank")
    val e = Seq((9L, 1L)).toDF("id", "rank")
    val tied = graft.text.TextOps.rrfFuse(Seq(c, e), "id", kRrf = 60, topK = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(tied == Seq(9L, 10L))
  }

  test("bm25: hand-computed Okapi scores, rank order, and coverage") {
    import spark.implicits._
    // corpus: 3 docs, query = [x, z]. N=3, avgdl = (4+2+3)/3 = 3.
    // "x" appears in docs 1 (tf 2, dl 4) and 2 (tf 1, dl 2): df=2.
    // "z" appears only in doc 3 (tf 1, dl 3): df=1.
    val df = Seq(
      (1L, "x a x b"), (2L, "x c"), (3L, "p q z")).toDF("id", "txt")
    val got = TextOps.bm25(df, "id", "txt", query = Seq("x", "z"), topK = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    def idf(n: Double, dfq: Double) = math.log(1 + (n - dfq + 0.5) / (dfq + 0.5))
    def tfn(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(1L) == ((r6(idf(3, 2) * tfn(2, 4)), 2L, 1L)))
    assert(got(2L) == ((r6(idf(3, 2) * tfn(1, 2)), 1L, 1L)))
    assert(got(3L) == ((r6(idf(3, 1) * tfn(1, 3)), 1L, 1L)))
    // rarer term scores higher here: doc 3's idf(df=1) beats doc 2's
    assert(got(3L)._1 > got(2L)._1)
  }

  test("gpt2Pretokens: contractions, space-prefixed symbols, digit/punct runs, unicode") {
    import spark.implicits._
    val got = Seq((1L, "I'm here, 42 fois déjà!"))
      .toDF("id", "txt")
      .select(graft.text.TextOps.gpt2Pretokens(col("txt")).as("p"))
      .head().getSeq[String](0).toList
    // " here" and "here" are DIFFERENT symbols — the space belongs to
    // the token; contractions split off; punctuation runs separate
    assert(got == List("I", "'m", " here", ",", " 42", " fois", " déjà", "!"),
      s"got $got")
  }

  test("tfidfKeywords: hand-computed weights, rounded-score tie-break, top-k cut") {
    import spark.implicits._
    // N=3; df(a)=1, df(b)=2, df(c)=2; idf: ln(3)=1.098612, ln(1.5)=0.405465
    val df = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c")).toDF("id", "txt")
    val got = graft.text.TextOps.tfidfKeywords(df, "id", "txt", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getDouble(3))))
      .toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got == Map(
      (1L, 1) -> (("a", r6(2 * math.log(3.0)))),
      (1L, 2) -> (("b", r6(math.log(1.5)))),
      // d2: b and c tie at ln(1.5) -> token asc breaks it
      (2L, 1) -> (("b", r6(math.log(1.5)))),
      (2L, 2) -> (("c", r6(math.log(1.5)))),
      (3L, 1) -> (("c", r6(3 * math.log(1.5))))), s"got $got")
  }

  test("multimodal frame sampling: 1->N rows, correct strides and slices") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // 10-byte payload, 2-byte frames, stride 2 -> frames 0, 2, 4
    val df = Seq((1L, "0123456789"), (2L, "abc"), (3L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val framed = Multimodal.sampleFrames(
      Multimodal.withPayload(df, "s", "payload").select("id", "payload"),
      "payload", frameBytes = 2, stride = 2)
    val got = framed.collect()
      .map(r => (r.getLong(0), r.getInt(1), new String(r.getAs[Array[Byte]](2))))
    assert(got.toSet == Set((1L, 0, "01"), (1L, 2, "45"), (1L, 4, "89"), (2L, 0, "ab")),
      s"got ${got.toSeq}")
    assert(framed.schema.fieldNames.toSeq == Seq("id", "frame_idx", "frame"))
  }

  test("multimodal resize: bounded payloads pass through, larger ones subsample") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val df = Multimodal.withPayload(
      Seq((1L, "0123456789"), (2L, "ab")).toDF("id", "s"), "s", "payload")
      .select("id", "payload")
    val resized = Multimodal.resizePayload(df, "payload", targetBytes = 4).collect()
      .map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]](1))).toMap
    assert(resized(2L) == "ab", "short payload unchanged")
    assert(resized(1L).length == 4, "long payload subsampled to target")
  }

  test("image codec: BMP-24 padding/BGR/bottom-up, P5 gray, garbage -> null decode") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // Hand-built 2x2 24-bit BMP: rows pad to 4-byte boundaries
    // (2*3=6 -> +2 pad), pixel order bottom-up, bytes BGR.
    // Image (top-down, RGB): (255,0,0) (0,255,0) / (0,0,255) (10,20,30)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val rowBot = Array[Byte](255.toByte, 0, 0, 30, 20, 10, 0, 0) // BGR: blue px, (10,20,30) px + 2 pad
    val rowTop = Array[Byte](0, 0, 255.toByte, 0, 255.toByte, 0, 0, 0) // red px, green px + 2 pad
    val bmp = Array[Byte]('B', 'M') ++ le32(54 + 16) ++ le16(0) ++ le16(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(16) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      rowBot ++ rowTop // bottom row stored first
    val pgm = "P5\n# gray\n3 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](5, 7, 9)
    val garbage = Array[Byte](1, 2, 3, 4)
    val df = Seq((1L, bmp), (2L, pgm), (3L, garbage)).toDF("id", "payload")
    val got = Multimodal.decodeImages(df, "payload").collect()
      .map(r => r.getLong(0) -> r).toMap
    val b = got(1L)
    assert(b.getString(2) == "bmp" && b.getInt(3) == 2 && b.getInt(4) == 2 &&
      b.getInt(5) == 3)
    // R channel: 255 + 0 + 0 + 10 = 265; G: 0+255+0+20; B: 0+0+255+30
    assert((b.getLong(6), b.getInt(7), b.getInt(8)) == ((265L, 0, 255)), "R stats")
    assert((b.getLong(9), b.getInt(10), b.getInt(11)) == ((275L, 0, 255)), "G stats")
    assert((b.getLong(12), b.getInt(13), b.getInt(14)) == ((285L, 0, 255)), "B stats")
    val g = got(2L)
    assert(g.getString(2) == "pgm" && g.getInt(3) == 3 && g.getInt(4) == 1 &&
      g.getInt(5) == 1)
    assert((g.getLong(6), g.getInt(7), g.getInt(8)) == ((21L, 5, 9)), "gray stats")
    assert(g.isNullAt(9) && g.isNullAt(12), "absent channels stay null")
    assert(got(3L).isNullAt(2) && got(3L).isNullAt(3), "garbage -> null decode row")
  }

  test("image codec: poison BMP headers (overflowing dimensions) decode to null, not a crash") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // w·3 and w·h·3 overflow Int (w = 2^30): before the long-math fix
    // this died with NegativeArraySizeException — a job-killer, not a
    // null decode — because rowPad went negative / the allocation
    // wrapped. Also: a huge-but-positive product (w=h=65536) and a
    // negative data offset.
    def bmp(w: Int, h: Int, dataOff: Int = 54) =
      Array[Byte]('B', 'M') ++ le32(62) ++ le16(0) ++ le16(0) ++ le32(dataOff) ++
        le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++ le32(0) ++
        le32(8) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
        Array[Byte](1, 2, 3, 4, 5, 6, 0, 0)
    val poison = Seq(
      (1L, bmp(1 << 30, 2)), (2L, bmp(65536, 65536)),
      (3L, bmp(2, 2, dataOff = -8)), (4L, bmp(2, Int.MinValue)))
    val got = Multimodal.decodeImages(poison.toDF("id", "payload"), "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    poison.foreach { case (id, _) =>
      assert(got(id).isNullAt(2) && got(id).isNullAt(3),
        s"poison payload $id must decode to null")
    }
  }

  test("image codec: synthetic PPM round-trip matches the closed-form stats") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val ids = Seq(0L, 1L, 7L, 38L).toDF("doc_id")
    val got = Multimodal.decodeImages(
        Multimodal.syntheticPpm(ids, "doc_id", "payload"), "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(0L, 1L, 7L, 38L)) {
      val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
      val px = Array.tabulate(w * h * 3)(j => ((id * 31 + j.toLong * 7) % 256).toInt)
      val r = got(id)
      assert(r.getString(2) == "ppm" && r.getInt(3) == w && r.getInt(4) == h &&
        r.getInt(5) == 3, s"id $id geometry")
      for (c <- 0 to 2) {
        val chan = px.zipWithIndex.collect { case (v, j) if j % 3 == c => v }
        assert(r.getLong(6 + c * 3) == chan.map(_.toLong).sum, s"id $id c$c sum")
        assert(r.getInt(7 + c * 3) == chan.min && r.getInt(8 + c * 3) == chan.max,
          s"id $id c$c min/max")
      }
    }
  }

  test("image resize: NN index map, BMP bottom-up flip, re-encode round-trip") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // 2x2 P6: pixels (r)(g)(b) distinct per corner; downscale to 1x1
    // must pick the TOP-LEFT source pixel (sx = sy = 0).
    val ppm = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    // 1x2 24-bit BMP, bottom-up: stored rows [bottom=(B,G,R)=(9,9,9)],
    // then [top=(1,1,1)]; resize to 1x1 keeps y=0 -> the TOP row — a
    // codec that forgets the flip returns 9s. Row stride 3 -> +1 pad.
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val bmp = Array[Byte]('B', 'M') ++ le32(54 + 8) ++ le16(0) ++ le16(0) ++ le32(54) ++
      le32(40) ++ le32(1) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(8) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array[Byte](9, 9, 9, 0) ++ Array[Byte](1, 1, 1, 0)
    val df = Seq((1L, ppm), (2L, bmp), (3L, Array[Byte](9, 9))).toDF("id", "payload")
    val out = Multimodal.decodeImages(
        Multimodal.resizeImages(df, "payload", outW = 1, outH = 1), "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    val p = out(1L)
    assert(p.getString(2) == "ppm" && p.getInt(3) == 1 && p.getInt(4) == 1)
    assert((p.getLong(6), p.getLong(9), p.getLong(12)) == ((1L, 2L, 3L)),
      "1x1 NN downscale must keep the top-left source pixel")
    val b = out(2L)
    // decoded BMP re-encodes as ppm; top row (1,1,1) must survive the flip
    assert(b.getString(2) == "ppm" &&
      (b.getLong(6), b.getLong(9), b.getLong(12)) == ((1L, 1L, 1L)),
      "bottom-up BMP resize must keep the TOP row after normalization")
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2),
      "non-image payload resizes to null and decodes to the null row")
    // upscale mapping: 1x1 -> 2x1 duplicates the single pixel
    val up = Multimodal.decodeImages(
        Multimodal.resizeImages(Seq((1L, ppm)).toDF("id", "payload"),
          "payload", outW = 2, outH = 2), "payload")
      .collect().head
    assert(up.getInt(3) == 2 && up.getInt(4) == 2)
    // corners of the 2x2 -> identity mapping reproduces the original sums
    assert((up.getLong(6), up.getLong(9), up.getLong(12)) == ((22L, 26L, 30L)))
  }

  test("sceneChanges: hand-computed MAD, threshold flag, sub-2-frame guard") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // 2x2 C420 Y4M, 3 frames: luma diffs f0->f1 = [2,2,0,0] (MAD 1.0),
    // f1->f2 = [100,0,0,0] (MAD 25.0)
    def frame(luma: Seq[Int]) =
      "FRAME\n".getBytes("US-ASCII") ++ luma.map(_.toByte).toArray ++
        Array[Byte](128.toByte, 128.toByte) // 1+1 byte chroma planes
    val y4m = "YUV4MPEG2 W2 H2 F25:1 C420\n".getBytes("US-ASCII") ++
      frame(Seq(10, 20, 30, 40)) ++ frame(Seq(12, 18, 30, 40)) ++
      frame(Seq(112, 18, 30, 40))
    val df = Seq((1L, y4m), (2L, "nope".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val got = Multimodal.sceneChanges(df, "payload", threshold = 10.0)
      .collect().map(r => r.getInt(1) -> ((r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(got == Map(1 -> ((1.0, false)), 2 -> ((25.0, true))), s"got $got")
  }

  test("imageDHash: brightness-shift invariance, distinct content differs, garbage null") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    def ppm(id: Long, shift: Int, scramble: Boolean): Array[Byte] = {
      val (w, h) = (6, 5)
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = Array.tabulate[Byte](w * h * 3) { j =>
        val base = if (scramble) (j * 53 + 17) % 211 else (j * 7 + 3) % 200
        ((base + shift) & 0xff).toByte
      }
      header ++ px
    }
    val df = Seq(
      (1L, ppm(1, 0, scramble = false)),
      (2L, ppm(1, 1, scramble = false)),   // +1 brightness everywhere
      (3L, ppm(1, 0, scramble = true)),    // different content
      (4L, "junk".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val got = Multimodal.imageDHash(df, "payload").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got(1L).get.length == 64 && got(1L).get.forall(c => c == '0' || c == '1'))
    assert(got(1L) == got(2L), "uniform brightness shift must not change the hash")
    assert(got(1L) != got(3L), "different content must hash differently")
    assert(got(4L).isEmpty, "undecodable payload hashes to null")
  }

  test("audio codec: 8-bit mono WAV, chunk walking, sign extension, garbage") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // 8-bit mono, 3 samples 0/128/255 -> centered -128/0/127; an odd-size
    // junk chunk before fmt exercises word-aligned chunk skipping.
    val fmt8 = Array[Byte]('f', 'm', 't', ' ') ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(4000) ++ le32(4000) ++ le16(1) ++ le16(8)
    val junk = Array[Byte]('J', 'U', 'N', 'K') ++ le32(3) ++ Array[Byte](1, 2, 3, 0)
    val data8 = Array[Byte]('d', 'a', 't', 'a') ++ le32(3) ++
      Array[Byte](0, 128.toByte, 255.toByte)
    val body8 = junk ++ fmt8 ++ data8
    val wav8 = Array[Byte]('R', 'I', 'F', 'F') ++ le32(4 + body8.length) ++
      Array[Byte]('W', 'A', 'V', 'E') ++ body8
    // 16-bit stereo, 2 frames: ch0 = -2, 7; ch1 = 3, -32768
    val fmt16 = Array[Byte]('f', 'm', 't', ' ') ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(8000) ++ le32(32000) ++ le16(4) ++ le16(16)
    val data16 = Array[Byte]('d', 'a', 't', 'a') ++ le32(8) ++
      le16(-2 & 0xffff) ++ le16(3) ++ le16(7) ++ le16(-32768 & 0xffff)
    val body16 = fmt16 ++ data16
    val wav16 = Array[Byte]('R', 'I', 'F', 'F') ++ le32(4 + body16.length) ++
      Array[Byte]('W', 'A', 'V', 'E') ++ body16
    val df = Seq((1L, wav8), (2L, wav16), (3L, "RIFFnope".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val got = Multimodal.decodeAudio(df, "payload").collect()
      .map(r => r.getLong(0) -> r).toMap
    val m = got(1L)
    assert(m.getString(2) == "wav" && m.getInt(3) == 4000 && m.getInt(4) == 1 &&
      m.getLong(5) == 3L)
    assert((m.getLong(6), m.getInt(7), m.getInt(8)) == ((-1L, -128, 127)),
      "8-bit centering")
    assert(m.isNullAt(9), "mono keeps channel 1 null")
    val st = got(2L)
    assert(st.getInt(4) == 2 && st.getLong(5) == 2L)
    assert((st.getLong(6), st.getInt(7), st.getInt(8)) == ((5L, -2, 7)), "ch0")
    assert((st.getLong(9), st.getInt(10), st.getInt(11)) == ((-32765L, -32768, 3)),
      "ch1 sign extension")
    assert(got(3L).isNullAt(2), "malformed RIFF -> null decode")
  }

  test("audioFrames: per-window RMS and zero crossings, partial last window") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // 16-bit mono, 9 samples in 4-sample windows:
    //   [100,-100,50,-50] -> 3 crossings, rms = sqrt(6250)
    //   [0,-1,2,3]        -> 2 crossings (0 counts as non-negative)
    //   [7]               -> partial, 0 crossings, rms = 7
    val samples = Seq(100, -100, 50, -50, 0, -1, 2, 3, 7)
    val fmt = Array[Byte]('f', 'm', 't', ' ') ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val data = Array[Byte]('d', 'a', 't', 'a') ++ le32(samples.length * 2) ++
      samples.flatMap(v => le16(v & 0xffff)).toArray
    val body = fmt ++ data
    val wav = Array[Byte]('R', 'I', 'F', 'F') ++ le32(4 + body.length) ++
      Array[Byte]('W', 'A', 'V', 'E') ++ body
    val df = Seq((1L, wav), (2L, "notawav".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val got = Multimodal.audioFrames(df, "payload", frameSize = 4).collect()
      .map(r => (r.getInt(2), r.getInt(3)) ->
        ((r.getInt(4), r.getDouble(5), r.getLong(6)))).toMap
    assert(got.size == 3, s"bad payload must yield no rows: $got")
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got((0, 0)) == ((4, r6(math.sqrt(6250.0)), 3L)))
    assert(got((1, 0)) == ((4, r6(math.sqrt(3.5)), 2L)))
    assert(got((2, 0)) == ((1, 7.0, 0L)))
  }

  test("audioSpectrum: pure cosine concentrates power in its own bin") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // mono N=4 samples of 100*cos(2*pi*t/4) = [100, 0, -100, 0]:
    // bin 1 power = (sum x cos)^2 + (sum x sin)^2 = 200^2 = 40000
    // bin 2 power = (100 - 100)^2 = 0
    val samples = Seq(100, 0, -100, 0)
    val fmt = Array[Byte]('f', 'm', 't', ' ') ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val data = Array[Byte]('d', 'a', 't', 'a') ++ le32(samples.length * 2) ++
      samples.flatMap(v => le16(v & 0xffff)).toArray
    val body = fmt ++ data
    val wav = Array[Byte]('R', 'I', 'F', 'F') ++ le32(4 + body.length) ++
      Array[Byte]('W', 'A', 'V', 'E') ++ body
    val got = Multimodal.audioSpectrum(
        Seq((1L, wav)).toDF("id", "payload"), "payload", bins = Seq(1, 2))
      .collect().map(r => r.getInt(3) -> r.getDouble(4)).toMap
    assert(got == Map(1 -> 40000.0, 2 -> 0.0), s"got $got")
  }

  test("video codec: Y4M demux, C444 chroma, frame sampling to PGM, garbage") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // 2x2 C420 stream, 2 frames: luma planes [1,2,3,4] and [5,6,7,8];
    // chroma (1 byte per U/V plane at 2x2/420) must be read PAST, not
    // into the luma stats.
    val y4m = "YUV4MPEG2 W2 H2 F30:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3, 4) ++ Array[Byte](90, 91) ++
      "FRAME\n".getBytes("US-ASCII") ++ Array[Byte](5, 6, 7, 8) ++ Array[Byte](92, 93)
    // 1x1 C444 stream (odd geometry legal there), FRAME with a parameter
    val y444 = "YUV4MPEG2 W1 H1 F24:1 C444\n".getBytes("US-ASCII") ++
      "FRAME Xweird\n".getBytes("US-ASCII") ++ Array[Byte](9, 50, 60)
    val df = Seq((1L, y4m), (2L, y444), (3L, "YUV4MPEG2 garbage".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val got = Multimodal.decodeVideo(df, "payload").collect()
      .map(r => r.getLong(0) -> r).toMap
    val a = got(1L)
    assert(a.getString(2) == "y4m" && a.getInt(3) == 2 && a.getInt(4) == 2 &&
      a.getLong(5) == 2L && a.getInt(6) == 30 && a.getInt(7) == 1)
    assert((a.getLong(8), a.getInt(9), a.getInt(10)) == ((36L, 1, 8)),
      "luma stats must exclude chroma bytes")
    val b = got(2L)
    assert(b.getLong(5) == 1L && b.getInt(6) == 24 &&
      (b.getLong(8), b.getInt(9), b.getInt(10)) == ((9L, 9, 9)),
      "C444 reads full chroma planes past the luma")
    assert(got(3L).isNullAt(2), "malformed stream -> null decode")

    // frame sampling: stride 2 keeps frame 0 only; the PGM payload must
    // round-trip through the IMAGE decoder with frame-0 luma stats
    val frames = Multimodal.decodeImages(
        Multimodal.sampleVideoFrames(Seq((1L, y4m)).toDF("id", "payload"),
          "payload", stride = 2), "frame")
      .collect()
    assert(frames.length == 1 && frames.head.getInt(1) == 0)
    val fr = frames.head
    assert(fr.getString(3) == "pgm" && fr.getInt(4) == 2 && fr.getInt(5) == 2)
    assert((fr.getLong(7), fr.getInt(8), fr.getInt(9)) == ((10L, 1, 4)),
      "sampled frame must carry frame-0 luma")
  }

  test("minhash skew guard: oversized buckets are dropped, not joined") {
    import spark.implicits._
    // 30 identical docs land every band bucket at size 30; with the cap
    // below that, the bucket self-join must see none of them -- the
    // guard trades recall on degenerate stop-content for never building
    // a quadratic bucket. The diverse fillers keep the drop a MINORITY
    // of the banding index (a majority drop is now fatal at plan time —
    // the round-16 sizing rule). With the default cap the pairs come back.
    val clones = (1L to 30L).map(i => (i, "all these documents are exactly the same text"))
    val fillers = (31L to 130L).map(i =>
      (i, (0 until 8).map(j => s"w${i}_$j").mkString(" ")))
    val df = (clones ++ fillers).toDF("id", "text")
    val guarded = Dedup.minHashNearDup(df, "id", "text",
      threshold = 0.5, maxBucketSize = 10)
    assert(guarded.count() == 0L, "capped buckets must produce no candidate pairs")
    val open = Dedup.minHashNearDup(clones.toDF("id", "text"), "id", "text",
      threshold = 0.5)
    assert(open.count() == 30L * 29 / 2, "default cap keeps the full clique")
  }

  test("minhash sizing rule: enforced at plan time from measured bucket stats") {
    import spark.implicits._
    import graft.dedup.Dedup.minHashSizingIssue
    // majority of signature rows in over-cap buckets → the skew cap
    // would drop most of the corpus from the candidate search: fatal
    val fatal = minHashSizingIssue(1000L, 16, 2, 1, 100,
      totalRows = 16000L, overCapRows = 9000L, keptCandidateMass = 0L)
    assert(fatal.exists(_._1), s"majority drop must be fatal: $fatal")
    // saturated-but-searchable: kept candidate mass over 100/doc warns
    // with the knobs that fix the shape
    val warn = minHashSizingIssue(1000L, 16, 2, 1, 10000,
      totalRows = 16000L, overCapRows = 0L, keptCandidateMass = 200000L)
    assert(warn.exists(i => !i._1 && i._2.contains("rowsPerBand")),
      s"200 candidates/doc must warn: $warn")
    // healthy shape stays silent; so does an empty corpus
    assert(minHashSizingIssue(1000L, 16, 2, 1, 10000, 16000L, 100L, 50000L).isEmpty)
    assert(minHashSizingIssue(0L, 16, 2, 1, 10000, 0L, 0L, 0L).isEmpty)
    // end-to-end: a low-diversity corpus under a tight cap fails
    // BEFORE the candidate join is paid, naming the knobs
    val clones = (1L to 30L)
      .map(i => (i, "all these documents are exactly the same text"))
      .toDF("id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.minHashNearDup(clones, "id", "text",
        threshold = 0.5, maxBucketSize = 10).count()
    }
    assert(ex.getMessage.contains("MAJORITY") &&
      ex.getMessage.contains("graft.Probe banding"), ex.getMessage)
  }

  test("skew-guard drop stats: every capped family is loud when the cap engages") {
    import spark.implicits._
    // minhash LSH: 30 identical docs put one size-30 bucket in each of
    // the 16 default bands; cap 10 drops all 16 (480 signature rows).
    // Diverse fillers keep the drop a minority of the index (majority
    // is plan-time fatal since round 16) without adding dropped rows.
    val clones = (1L to 30L)
      .map(i => (i, "all these documents are exactly the same text"))
    val fillers = (31L to 130L).map(i =>
      (i, (0 until 8).map(j => s"w${i}_$j").mkString(" ")))
    val mixed = (clones ++ fillers).toDF("id", "text")
    val (mp, ms) = Dedup.minHashNearDupWithStats(mixed, "id", "text",
      threshold = 0.5, maxBucketSize = 10)
    assert(mp.count() == 0L)
    val mr = ms.head()
    assert((mr.getLong(0), mr.getLong(1)) == (16L, 480L),
      s"expected 16 dropped buckets / 480 rows, got $mr")
    // ...and reads (0, 0) when the cap does not engage
    val (mp2, ms2) = Dedup.minHashNearDupWithStats(clones.toDF("id", "text"),
      "id", "text", threshold = 0.5)
    assert(mp2.count() == 30L * 29 / 2)
    val mr2 = ms2.head()
    assert((mr2.getLong(0), mr2.getLong(1)) == (0L, 0L))

    // fuzzy blocks: one 5-doc block over the cap → dropped whole, and
    // the stats frame says so (the sf10 q175 empty-answer incident,
    // now loud); the singleton block survives but pairs nothing
    val fdocs = Seq((1L, "alpha one t1"), (2L, "alpha one t2"),
      (3L, "alpha one t3"), (4L, "alpha two s1"), (5L, "alpha two s2"),
      (6L, "beta solo")).toDF("doc_id", "text")
    val (fp, fs) = Dedup.fuzzyJoinBlockedWithStats(fdocs, "doc_id",
      "text", Dedup.tokenBlockKey(col("text"), 1), maxDistance = 10,
      maxBlockSize = 3)
    assert(fp.count() == 0L)
    val fr = fs.head()
    assert((fr.getLong(0), fr.getLong(1)) == (1L, 5L),
      s"expected the alpha block (5 docs) dropped, got $fr")
    // widening the key (the tokenBlockKey recipe) splits the hot
    // block below the cap: nothing dropped, pairs come back
    val (fp2, fs2) = Dedup.fuzzyJoinBlockedWithStats(fdocs, "doc_id",
      "text", Dedup.tokenBlockKey(col("text"), 2), maxDistance = 10,
      maxBlockSize = 3)
    val fr2 = fs2.head()
    assert((fr2.getLong(0), fr2.getLong(1)) == (0L, 0L))
    assert(fp2.count() == 3L + 1L,
      "two-token blocks sit under the cap: C(3,2) + C(2,2) pairs")

    // hamming bands: 3 distinct hashes (zeros, flip{0,20,40},
    // flip{0..9}) share 7 of the 24 (band, value) cells — band1 {h0,h3},
    // band2 {h0,h10}, band5 {h0,h10}, bands 3/4/6/7 all three — so
    // cap 1 drops 7 buckets spanning 2+2+3+3+2+3+3 = 18 memberships
    def flip(s: String, idxs: Seq[Int]): String =
      idxs.foldLeft(s)((acc, i) => acc.updated(i, if (acc(i) == '0') '1' else '0'))
    val zeros = "0" * 64
    val hdf = Seq((1L, zeros), (2L, flip(zeros, Seq(0, 20, 40))),
      (3L, flip(zeros, 0 until 10)), (4L, zeros)).toDF("doc_id", "dhash")
    val (hp, hs) = Dedup.hammingHashPairsWithStats(hdf, "dhash",
      maxDistance = 6, bands = 8, maxBucketSize = 1)
    assert(hp.count() == 0L)
    val hr = hs.head()
    assert((hr.getLong(0), hr.getLong(1)) == (7L, 18L),
      s"expected 7 dropped band cells / 18 distinct-hash rows, got $hr")

    // embedding SRP-LSH: 30 identical vectors land one bucket per
    // table; cap 10 drops all 4 table cells (120 memberships) and the
    // quadratic clique never forms — the cap is new this round (the
    // one LSH family that had NO skew guard); uncapped, the clique
    // comes back in full
    val vecs = (1L to 30L).map(i => (i, Array(0.6f, 0.8f, 0.1f, 0.2f)))
      .toDF("vec_id", "embedding")
    val (ep, es) = Dedup.embeddingNearDupLshWithStats(vecs, "vec_id",
      "embedding", threshold = 0.9, maxBucketSize = 10)
    assert(ep.count() == 0L)
    val er = es.head()
    assert((er.getLong(0), er.getLong(1)) == (4L, 120L),
      s"expected 4 dropped table cells / 120 memberships, got $er")
    assert(Dedup.embeddingNearDupLsh(vecs, "vec_id", "embedding",
      threshold = 0.9).count() == 30L * 29 / 2,
      "default cap keeps the identical-vector clique")

    // incremental band-index probe: clones on both sides saturate the
    // combined buckets; cap 10 over 15+15 members drops all 16 bands.
    // Diverse fillers on both sides keep the drop a MINORITY of the
    // combined index — a majority drop is now fatal at plan time on
    // this path too (the round-17 enforcement; see the fatal spec)
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_stats").toString
    val cloneText = "all these documents are exactly the same text"
    Dedup.writeBandIndex(((1L to 15L).map(i => (i, cloneText)) ++
        (101L to 140L).map(i =>
          (i, (0 until 8).map(j => s"iw${i}_$j").mkString(" "))))
      .toDF("id", "text"), "id", "text", idx)
    val (ip, is) = Dedup.nearDupAgainstIndexWithStats(spark,
      ((16L to 30L).map(i => (i, cloneText)) ++
        (201L to 240L).map(i =>
          (i, (0 until 8).map(j => s"pw${i}_$j").mkString(" "))))
        .toDF("id", "text"),
      "id", "text", idx, threshold = 0.5, maxBucketSize = 10)
    assert(ip.count() == 0L)
    val ir = is.head()
    assert((ir.getLong(0), ir.getLong(1)) == (16L, 480L),
      s"expected 16 dropped combined buckets / 480 rows, got $ir")
  }

  test("incremental band-index probe fails fast on majority-over-cap (sizing rule)") {
    import spark.implicits._
    // all-clone index + all-clone probe: every combined bucket is over
    // the cap, so the skew guard would silently drop the ENTIRE search
    // space — the corpus-drift failure mode the batch path fails fast
    // on since round 16; the incremental path must refuse it too, and
    // BEFORE the candidate join is paid
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_fatal").toString
    val cloneText = "all these documents are exactly the same text"
    Dedup.writeBandIndex((1L to 15L).map(i => (i, cloneText))
      .toDF("id", "text"), "id", "text", idx)
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupAgainstIndex(spark,
        (16L to 30L).map(i => (i, cloneText)).toDF("id", "text"),
        "id", "text", idx, threshold = 0.5, maxBucketSize = 10)
    }
    assert(e.getMessage.contains("MAJORITY") &&
        e.getMessage.contains("band-index probe"),
      s"wrong guard message: ${e.getMessage}")
  }

  test("tokenBlockKey: first-n tokens, short texts key on what they have") {
    import spark.implicits._
    val df = Seq((1L, "  a  b c d "), (2L, "solo"), (3L, "x y"))
      .toDF("id", "text")
    val got = df.select(col("id"),
        Dedup.tokenBlockKey(col("text"), 2).as("blk"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a b", 2L -> "solo", 3L -> "x y"))
  }

  test("hammingNearDup: pigeonhole banding finds all close pairs, cap guards") {
    import spark.implicits._
    val zeros = "0" * 64
    // a: all zeros; b: 3 bits flipped spread across bands; c: 10 flips
    // (past the threshold); d: equal to a (distance 0)
    def flip(s: String, idxs: Seq[Int]): String =
      idxs.foldLeft(s)((acc, i) => acc.updated(i, if (acc(i) == '0') '1' else '0'))
    val df = Seq(
      (1L, zeros), (2L, flip(zeros, Seq(0, 20, 40))),
      (3L, flip(zeros, 0 until 10)), (4L, zeros))
      .toDF("doc_id", "dhash")
    val got = graft.dedup.Dedup.hammingNearDup(df, "doc_id", "dhash",
        maxDistance = 6, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map((1L, 2L) -> 3, (1L, 4L) -> 0, (2L, 4L) -> 3))
    // bucket cap of 1 drops every banded candidate; only the
    // identical-hash (distance-0) pair survives — exact duplicates
    // are keyed by the full hash and bypass the skew cap
    val capped = graft.dedup.Dedup.hammingNearDup(df, "doc_id", "dhash",
        maxDistance = 6, bands = 8, maxBucketSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(capped == Map((1L, 4L) -> 0))
  }

  test("hammingClusters: hash-level components equal id-level duplicateClusters") {
    import spark.implicits._
    val zeros = "0" * 64
    def flip(s: String, idxs: Seq[Int]): String =
      idxs.foldLeft(s)((acc, i) => acc.updated(i, if (acc(i) == '0') '1' else '0'))
    // collapse-heavy corpus: hash A has 3 members, B (near A) has 2,
    // C is far from both but duplicated (its own 2-member component),
    // D is a singleton with no neighbors (must not appear), and E-F
    // form a chain A~B, B~E transitively merging three hash groups
    val hA = zeros
    val hB = flip(zeros, Seq(1, 21, 41))
    val hE = flip(zeros, Seq(1, 21, 41, 5, 25, 45))
    val hC = flip(zeros, 0 until 20)
    val hD = flip(zeros, 30 until 50)
    val df = Seq(
      (1L, hA), (2L, hA), (3L, hA), (4L, hB), (5L, hB),
      (6L, hC), (7L, hC), (8L, hD), (9L, hE))
      .toDF("doc_id", "dhash")
    val hp = Dedup.hammingHashPairs(df, "dhash", maxDistance = 6, bands = 8)
    val viaHash = Dedup.hammingClusters(df, "doc_id", "dhash", hp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaIds = Dedup.duplicateClusters(
        Dedup.hammingNearDup(df, "doc_id", "dhash", maxDistance = 6, bands = 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaHash == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 9L -> 1L, 6L -> 6L, 7L -> 6L))
    assert(viaHash == viaIds,
      s"hash-level $viaHash != id-level $viaIds")
  }

  test("vocabularyRichness: hand token/type/hapax counts") {
    import spark.implicits._
    val df = Seq((1L, "A", "a a b"), (2L, "A", "b c"), (3L, "B", "x x"))
      .toDF("doc_id", "source", "text")
    val got = graft.text.TextOps.vocabularyRichness(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5)))).toMap
    // A: tokens {a:2, b:2, c:1} -> 5 tokens, 3 types, hapax {c}
    assert(got("A") == ((5L, 3L, 0.6, 1L, 0.333333)))
    // B: {x:2} -> no hapax
    assert(got("B") == ((2L, 1L, 0.5, 0L, 0.0)))
  }

  test("readability: hand word/sentence/syllable counts behind the FK grade") {
    import spark.implicits._
    // "go to bed now. sleep well." -> 6 words, 2 sentence runs, 6
    // vowel groups -> FK = 0.39*3 + 11.8*1 - 15.59 = -2.62
    val df = Seq(Tuple1("go to bed now. sleep well.")).toDF("text")
    val words = org.apache.spark.sql.functions.size(
      split(trim(col("text")), "\\s+"))
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    val syll = greatest(
      regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1))
    val out = df.select(words.as("w"), sentences.as("s"), syll.as("y")).head()
    assert(out.getInt(0) == 6 && out.getInt(1) == 2 && out.getInt(2) == 6,
      s"counts: $out")
    val fk = 0.39 * (6.0 / 2) + 11.8 * (6.0 / 6) - 15.59
    assert(math.abs(fk - (-2.62)) < 1e-9)
  }

  test("zipfSlope: a perfect 1/r frequency ladder recovers slope -1") {
    import spark.implicits._
    // counts 24, 12, 8, 6 = 24/r for ranks 1..4: ln c = ln 24 - ln r,
    // so the ln-ln OLS slope is exactly -1 (up to micro-unit flooring)
    val text = (Seq.fill(24)("w1") ++ Seq.fill(12)("w2") ++
      Seq.fill(8)("w3") ++ Seq.fill(6)("w4")).mkString(" ")
    val df = Seq((1L, "S", text)).toDF("doc_id", "source", "text")
    val r = graft.text.TextOps.zipfSlope(df, "source", "text", topK = 4).head()
    assert(r.getString(0) == "S" && r.getLong(1) == 4L)
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-4, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(4) > 0.999999, s"r2 ${r.getDouble(4)}")
  }

  test("minBandAgreements: k>=2 keeps a subset of classic banding with identical jaccards") {
    val base = Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val strict = Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5,
        minBandAgreements = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(strict.keySet.subsetOf(base.keySet),
      s"k>=2 must never invent pairs: ${strict.keySet -- base.keySet}")
    strict.foreach { case (k, j) =>
      assert(j == base(k), s"jaccard drifted for $k: $j vs ${base(k)}")
    }
    // the corpus's true near-dups sit at j>=0.9, where missing both
    // band collisions is (1-j^2)-squared-rare — all must survive k>=2
    val high = base.filter(_._2 >= 0.9).keySet
    assert(high.nonEmpty && high.subsetOf(strict.keySet),
      s"j>=0.9 pairs lost by k>=2: ${high -- strict.keySet}")
    intercept[IllegalArgumentException] {
      Dedup.minHashNearDup(docs, "doc_id", "text", minBandAgreements = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.minHashNearDup(docs, "doc_id", "text", minBandAgreements = 17)
    }
  }

  test("budgetPairs: deterministic top-by-similarity cap with loud drop counts") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 0.90), (1L, 3L, 0.80), (1L, 4L, 0.95), // anchor 1: 3 pairs
      (5L, 6L, 0.70),                                 // anchor 5: 1 pair
      (7L, 8L, 0.60), (7L, 9L, 0.60)                  // anchor 7: tied sims
    ).toDF("id_1", "id_2", "jaccard")
    val capped = Dedup.budgetPairs(pairs, "jaccard", budget = 2)
      .orderBy("id_1", "id_2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(capped.toSeq == Seq(
      (1L, 2L, 0.90, 1L), // anchor 1 keeps its top-2 sims, counts 1 drop
      (1L, 4L, 0.95, 1L),
      (5L, 6L, 0.70, 0L), // under budget: untouched, zero drops
      (7L, 8L, 0.60, 0L), // tie broken by id_2 asc: 8 beats 9
      (7L, 9L, 0.60, 0L)
    ), s"unexpected budgeted pairs: ${capped.toSeq}")
    // bite arm: budget 1 on the tied anchor must keep exactly id_2=8
    val tight = Dedup.budgetPairs(pairs, "jaccard", budget = 1)
      .filter(col("id_1") === 7L).collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(tight == Seq((8L, 1L)), s"tie-break or drop count broke: $tight")
    // a generous budget never rewrites the pair set
    val loose = Dedup.budgetPairs(pairs, "jaccard", budget = 10)
    assert(loose.count() == 6 && loose.filter(col("n_dropped") =!= 0L).count() == 0)
    // ascending arm (distances): keep the CLOSEST, not the largest
    val asc = Dedup.budgetPairs(pairs, "jaccard", budget = 1, ascending = true)
      .filter(col("id_1") === 1L).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(asc == Seq((3L, 0.80, 2L)), s"ascending budget broke: $asc")
    intercept[IllegalArgumentException] { Dedup.budgetPairs(pairs, "jaccard", 0) }
  }

  test("uint8-quantized embeddings keep brute-force ANN recall") {
    import org.apache.spark.sql.functions.col
    val k = 5
    val probes = emb.filter(col("vec_id") < 20)
    val exact = graft.sim.Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dq = graft.sim.Quantize.dequantized(emb, "vec_id", "embedding").cache()
    val approx = graft.sim.Similarity
      .bruteForceTopK(dq, dq.filter(col("vec_id") < 20), "vec_id", "emb_q", k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    dq.unpersist()
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall@$k = $recall below 0.9")
  }
}
