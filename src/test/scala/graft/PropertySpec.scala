package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Dedup, Skew}

/** Property-based invariants (SURVEY.md §5 test plan #3): join
  * multiplicity, sort permutation, partial≡total aggregation, salted-join
  * equivalence, minhash bounds. Uses raw scalacheck generators with fixed
  * seeds (the scalatest-scalacheck bridge isn't in the offline cache). */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong * 7919)))

  private val rows: Gen[List[(Int, Int)]] =
    Gen.listOfN(40, Gen.zip(Gen.choose(0, 8), Gen.choose(-50, 50)))

  test("inner join multiplicity: |A join B| = sum_k cntA(k)*cntB(k)") {
    for (Seq(as, bs) <- samples(Gen.zip(rows, rows).map(t => Seq(t._1, t._2)), 4)) {
      val joined = as.toDF("k", "va").join(bs.toDF("k", "vb"), "k").count()
      val expected = as.groupBy(_._1)
        .map { case (k, g) => g.size.toLong * bs.count(_._1 == k) }.sum
      assert(joined == expected)
    }
  }

  test("sort is a permutation and ordered") {
    for (xs <- samples(Gen.listOfN(50, Gen.choose(-1000, 1000)), 4)) {
      val sorted = Table(xs.toDF("x")).sortValues(Seq("x"))
        .df.as[Int].collect().toList
      assert(sorted == xs.sorted)
    }
  }

  test("two-level aggregation = single-pass regardless of partitioning") {
    for ((xs, parts) <- samples(Gen.zip(rows, Gen.choose(1, 4)), 4)) {
      val df = xs.toDF("k", "v").repartition(parts)
      val got = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
        .as[(Int, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      val exp = xs.groupBy(_._1).map { case (k, vs) =>
        k -> ((vs.map(_._2.toLong).sum, vs.size.toLong))
      }
      assert(got == exp)
    }
  }

  test("salted join returns exactly the plain join rows") {
    for ((as, bs, n) <- samples(Gen.zip(rows, rows, Gen.choose(2, 5)), 3)) {
      val a = as.toDF("k", "va")
      val b = bs.map(t => (t._1, t._2)).toDF("bk", "vb")
      val plain = a.join(b, a("k") === b("bk")).select("k", "va", "vb")
      val salted = Skew.saltedJoin(a, "k", Seq("k", "va"), b, "bk", n)
        .select("k", "va", "vb")
      assert(salted.exceptAll(plain).count() == 0)
      assert(plain.exceptAll(salted).count() == 0)
    }
  }

  test("minhash-verified pairs carry jaccard within [threshold, 1]") {
    val words = Gen.oneOf("spark", "query", "table", "join", "scan",
      "merge", "sort", "fast", "slow", "data")
    val doc = Gen.listOfN(12, words).map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(12, doc), 2)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.4)
        .as[(Long, Long, Double)].collect()
      assert(pairs.forall { case (a, b, j) => a < b && j >= 0.4 && j <= 1.0 })
    }
  }

  test("incremental admission is the same inside a releasing scope and outside") {
    val words = Gen.oneOf((0 until 40).map(i => s"w$i"))
    val doc = Gen.listOfN(15, words)
    for (texts <- samples(Gen.listOfN(50, doc), 1)) {
      val corpus = texts.take(30).zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }
        .toDF("doc_id", "text")
      // batch j: a near-dup of corpus doc j (j % 3 == 0), of batch doc
      // j - 1 (j % 3 == 1), or a fresh doc (j % 3 == 2, the only admits)
      val batchTexts = (0 until 20).foldLeft(Vector.empty[List[String]]) {
        (acc, j) => acc :+ (j % 3 match {
          case 0 => texts(j).init :+ "edited"
          case 1 => "alt" :: acc(j - 1).tail
          case _ => texts(30 + j)
        })
      }
      val batch = batchTexts.zipWithIndex
        .map { case (t, j) => (100L + j, t.mkString(" ")) }
        .toDF("doc_id", "text")
      Dedup.writeBandIndex(corpus, "doc_id", "text", "prop_scope_idx",
        k = 8, rows = 2, nBuckets = 4)
      def admitted(): Set[Long] = {
        val bands =
          Dedup.pin(Dedup.bandTable(batch, "doc_id", "text", 8, 2).cache())
        val pairs = Dedup.incrementalPairs(batch, "prop_scope_idx",
          corpus.unionByName(batch), "doc_id", "text", 8, 2, 0.5,
          reuseBands = Some(bands))
        Dedup.admitBatch(batch, pairs, "doc_id").select("doc_id")
          .as[Long].collect().toSet
      }
      val outside = admitted()
      val inside = Dedup.releasing(admitted())
      assert(inside == outside)
      assert(inside == (0 until 20).filter(_ % 3 == 2).map(100L + _).toSet)
    }
  }

  test("hash split/sample: deterministic, partition-invariant, ratio-sane") {
    val ids = spark.range(0, 4000).toDF("id")
    val s1 = operators.Sampling.hashSplit(ids, "id", 13)
    val s2 = operators.Sampling.hashSplit(ids.repartition(7), "id", 13)
    // identical assignment regardless of physical layout
    assert(s1.exceptAll(s2).count() == 0 && s2.exceptAll(s1).count() == 0)
    val trainFrac = s1.filter($"split" === "train").count() / 4000.0
    assert(math.abs(trainFrac - 13.0 / 16) < 0.05, s"train frac $trainFrac")
    // sample == the ids the split would have placed in nibbles 0..3
    val sampled = operators.Sampling.hashSample(ids, "id", 4)
    val viaSplit = operators.Sampling.hashSplit(ids, "id", 4)
      .filter($"split" === "train").select("id")
    assert(sampled.exceptAll(viaSplit).count() == 0 &&
      viaSplit.exceptAll(sampled).count() == 0)
  }

  test("DetSketch estimate tracks exact cardinality across a scale sweep") {
    // the accuracy claim behind q54/q94/q186/q187: m = 256 registers
    // give ~6.5% standard error once past the linear-counting range —
    // sweep 3 orders of magnitude of TRUE cardinality and require every
    // estimate within 3 sigma (20%); and the small-range linear-counting
    // branch must stay tight (5%) where it engages. Also: merge
    // invariance — registers built from ANY partitioning of the inputs
    // MAX-merge to the identical registers (the q94/q186 lattice
    // property), checked here at the operator level.
    import graft.operators.Sketches
    for (n <- Seq(100L, 1000L, 10000L, 100000L)) {
      val ids = spark.range(0, n).toDF("v").withColumn("g", lit(1))
      val est = Sketches.detEstimate(
        Sketches.detRegisters(ids, Seq("g"), "v"), Seq("g"), "est")
        .head().getLong(1)
      val tol = if (n <= 640) 0.05 else 0.2
      assert(math.abs(est - n).toDouble / n < tol,
        s"det estimate $est for true $n exceeded ${tol * 100}%")
    }
    val ids = spark.range(0, 20000).toDF("v").withColumn("g", lit(1))
    val whole = Sketches.detRegisters(ids, Seq("g"), "v")
    val split = Sketches.detRegisters(
        ids.filter($"v" % 3 === 0), Seq("g"), "v")
      .unionAll(Sketches.detRegisters(
        ids.filter($"v" % 3 =!= 0), Seq("g"), "v"))
      .groupBy("g", "rb").agg(max("rv").as("rv"))
    assert(whole.exceptAll(split).count() == 0 &&
      split.exceptAll(whole).count() == 0,
      "MAX-merged partition registers diverged from one-shot registers")
  }

  test("manifest partials merge to the one-shot manifest for any split") {
    // the q207/q210 maintenance law: per-shard (count, sum, xor)
    // partials computed over ANY disjoint partitioning of the corpus
    // merge to the one-shot manifest — checked for several moduli so
    // splits of different grain (2-way ... 5-way) all exercise it
    val docs = sources.Tables.read(spark, sf, "documents")
    val whole = graft.queries.Fingerprints.manifest(docs)
    for (p <- 2 to 5) {
      val merged = (0 until p)
        .map(r => graft.queries.Fingerprints.manifest(
          docs.filter(pmod($"doc_id", lit(p)) === r)))
        .reduce(_ unionAll _)
        .groupBy("shard")
        .agg(sum("n_rows").as("n_rows"), sum("fp_sum").as("fp_sum"),
          expr("bit_xor(fp_xor)").as("fp_xor"))
      assert(whole.exceptAll(merged).count() == 0 &&
        merged.exceptAll(whole).count() == 0,
        s"$p-way manifest partial merge diverged from one-shot")
    }
  }

  test("CMS partials SUM-merge to the one-shot sketch for any split") {
    // the q272 maintenance law (the additive twin of the manifest law
    // above): per-batch count-min cells over ANY disjoint partitioning
    // of the corpus sum to the one-shot sketch EXACTLY — cell counts
    // are plain addends, so this is equality of counters, not of
    // estimates. Checked at several split grains.
    import graft.operators.Sketches
    val docs = sources.Tables.read(spark, sf, "documents")
    def sketchOf(part: org.apache.spark.sql.DataFrame) =
      Sketches.cmsBuild(
        part.select(explode(expr(
          graft.functions.TextExpr.toksSpark("text"))).as("tok")),
        "tok", 4, 1024)
    val whole = sketchOf(docs)
    for (p <- Seq(2, 4)) {
      val merged = (0 until p)
        .map(r => sketchOf(docs.filter(pmod($"doc_id", lit(p)) === r)))
        .reduce(_ unionAll _)
        .groupBy("r", "cell").agg(sum("cnt").as("cnt"))
      assert(whole.exceptAll(merged).count() == 0 &&
        merged.exceptAll(whole).count() == 0,
        s"$p-way CMS partial merge diverged from one-shot")
    }
  }

  test("Bloom bits set-union merge to the one-shot bit set for any split") {
    // the q292/q293 maintenance law (the idempotent twin of the CMS
    // law above): per-part bit sets over ANY disjoint partitioning
    // distinct-merge to the one-shot bit set — and unlike SUM cells,
    // OVERLAPPING parts must merge to the same answer too (set union
    // is idempotent), which is exactly what makes replayed Bloom
    // batches harmless where replayed CMS batches are not.
    import graft.operators.Sketches
    val (k, m) = (3, 1 << 18)
    val docs = sources.Tables.read(spark, sf, "documents")
      .withColumn("fp", expr(graft.functions.TextExpr.fingerprintSpark(
        graft.functions.TextExpr.toksSpark("text"))))
    val whole = Sketches.bloomBuild(docs, "fp", k, m)
    for (p <- Seq(2, 4)) {
      val merged = (0 until p)
        .map(r => Sketches.bloomBuild(
          docs.filter(pmod($"doc_id", lit(p)) === r), "fp", k, m))
        .reduce(_ unionAll _).distinct()
      assert(whole.exceptAll(merged).count() == 0 &&
        merged.exceptAll(whole).count() == 0,
        s"$p-way bloom bit merge diverged from one-shot")
    }
    // idempotence under replay: part 0 merged TWICE still equals the
    // one-shot set
    val replayed = (Seq(0, 0) ++ (1 until 4))
      .map(r => Sketches.bloomBuild(
        docs.filter(pmod($"doc_id", lit(4)) === r), "fp", k, m))
      .reduce(_ unionAll _).distinct()
    assert(whole.exceptAll(replayed).count() == 0 &&
      replayed.exceptAll(whole).count() == 0,
      "replayed bloom batch changed the merged bit set")
  }

  test("market segmentation laws: ABC partitions, Gini bounds, RFM terciles") {
    // q227/q231/q232 share customer-revenue grain; their invariants
    // hold per market by construction and must survive any replan:
    //  - ABC classes partition each nation's customers exactly and
    //    their share_ppm sums to <= 1e6 (integer floor per class);
    //  - Gini lands in [0, 1e6) — the rank form cannot go negative on
    //    sorted ascending ranks, nor reach 1 on finite data;
    //  - RFM terciles per (nation, axis) differ in size by at most 2
    //    ((rn-1)*3 DIV n + 1 splits n into thirds off by rounding).
    val d = sf
    val custTotal = sources.Tables.read(spark, d, "orders")
      .join(sources.Tables.read(spark, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(countDistinct("o_custkey").as("n_cust"))
    val abc = SparkEntry.queries("q227_abc_segmentation")(spark, d)
    val abcPerNation = abc.groupBy("c_nationkey")
      .agg(sum("n_customers").as("n_abc"), sum("share_ppm").as("sp"))
    val joined = abcPerNation.join(custTotal, "c_nationkey")
    assert(joined.filter(col("n_abc") =!= col("n_cust")).count() == 0,
      "ABC classes do not partition the nation's customers")
    assert(joined.filter(col("sp") > 1000000L).count() == 0,
      "ABC share_ppm exceeds 1e6 within a nation")

    val gini = SparkEntry.queries("q231_gini_concentration")(spark, d)
    assert(gini.filter(col("gini_ppm") < 0 ||
      col("gini_ppm") >= 1000000L).count() == 0,
      "Gini ppm out of [0, 1e6)")

    val rfm = SparkEntry.queries("q232_rfm_segments")(spark, d)
    for (axis <- Seq("r_score", "f_score", "m_score")) {
      val sizes = rfm.groupBy(col("c_nationkey"), col(axis))
        .agg(sum("n_customers").as("n"))
        .groupBy("c_nationkey")
        .agg((max("n") - min("n")).as("spread"), count(lit(1)).as("k"))
      assert(sizes.filter(col("k") > 3).count() == 0,
        s"$axis produced more than 3 terciles")
      // nations with >= 3 customers must split near-evenly
      val big = sizes.join(custTotal, "c_nationkey")
        .filter(col("n_cust") >= 3)
      assert(big.filter(col("spread") > 2).count() == 0,
        s"$axis tercile sizes differ by more than 2 in a market")
    }
  }

  test("overflow rail laws: max-accumulator bounds per wide-arithmetic family") {
    // VERDICT r8 directive 3's codicil: each exact-integer family gets
    // an executable rail law — the worst-case accumulator magnitude,
    // computed symbolically in BigInt at that family's DOCUMENTED scale
    // envelope, must clear the rail of the type the engine computes it
    // in. Growing an envelope (or adding a family member with a bigger
    // accumulator) without re-deriving the bound turns this test red.
    // Corpus worst-case constants (TPC-H-ish): price <= 1e5 (1e7 cents),
    // account balance <= 1e4 (1e6 cents), events value <= 1e4.
    val bigintRail = BigInt(Long.MaxValue)          // 9.22e18
    val decimalRail = BigInt(10).pow(38)            // DECIMAL(38,0)
    val maxCents = BigInt(10000000)                 // 1e5 * 100

    // Family 1 — linear cents sums + ppm shares (q47/q49/q241/q266...):
    // engine sums BIGINT cents; the ppm cross-multiply divides cents by
    // 100 first (q266's move). Envelope: 100 TB ~ TPC-H sf1e5 ~ 6e11
    // lineitem rows.
    val lineitems100TB = BigInt(6) * BigInt(10).pow(11)
    val sumBound = lineitems100TB * maxCents
    assert(sumBound < bigintRail,
      s"linear cents sum $sumBound crosses the BIGINT rail at 100 TB")
    assert(sumBound / 100 * 1000000 < decimalRail,
      "ppm cross-multiply crosses DECIMAL(38,0) at 100 TB")

    // Family 2 — rank-weighted Gini (q231): ws = sum(rank*cents) <=
    // n^2 * maxBalCents per nation; engine computes 2*ws*1e6 in
    // DECIMAL(38,0) after the r8 fix. Envelope: 100 TB ~ 1.5e10
    // customers => ~6e8 per nation.
    val custPerNation100TB = BigInt(6) * BigInt(10).pow(8)
    val maxBalCents = BigInt(1000000)
    val giniBound = 2 * custPerNation100TB.pow(2) * maxBalCents * 1000000
    assert(giniBound < decimalRail,
      s"Gini cross-multiply $giniBound crosses DECIMAL(38,0) at 100 TB")

    // Family 3 — two-proportion z-test (q265): the decision product is
    // degree FIVE in the arm sizes ((x1*n2 - x2*n1)^2 * N * 1e4), so its
    // envelope is intrinsically narrower: N^5 * 1e4 < 1e38 holds to
    // N ~ 1.2e7 events and NOT beyond. The documented envelope is sf1
    // (1e6 events, proven green by the round-9 sweep) with ~10x
    // headroom; past it the DECIMAL(38,0) product overflows to NULL —
    // a LOUD red row, never a silent wrap (the r9 widening removed
    // every BIGINT intermediate). A 100 TB deployment pre-aggregates
    // arm counts (the agg is 4 scalars) and runs the decision off-line,
    // or pre-scales counts by 1000 identically in engine and oracle.
    val eventsSf1 = BigInt(10).pow(6)
    val zBoundSf1 = eventsSf1.pow(5) * 10000
    assert(zBoundSf1 < decimalRail,
      s"z-test product $zBoundSf1 crosses DECIMAL(38,0) inside its sf1 envelope")
    val zBoundSf100 = (BigInt(10).pow(8)).pow(5) * 10000
    assert(zBoundSf100 > decimalRail,
      "z-test envelope note is stale: sf100 now fits DECIMAL(38,0) — " +
        "tighten the documented envelope instead of deleting this check")

    // Family 4 — ns-timestamp arithmetic (canonicalTs): int64
    // ns-since-epoch covers timestamps through 2262-04-11 (the Arrow/
    // pandas ns ceiling); year-2100 event times sit at ~2.2x headroom,
    // and the DIV-1000 (not double division) move is what keeps the
    // low bits exact below 2^53-breaking magnitudes.
    val ns2100 = BigInt("4102444800") * BigInt(10).pow(9)
    assert(ns2100 * 2 < bigintRail,
      "ns-since-epoch arithmetic loses its BIGINT headroom before 2100")
  }
}
