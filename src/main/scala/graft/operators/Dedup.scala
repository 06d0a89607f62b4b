package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextExpr._

/** Deduplication operators for LLM data pipelines (SURVEY.md §2.11).
  *
  * Scale discipline (100 TB): every variant is shuffle-bounded —
  *  - exact dedup: one hash-aggregate on a 128-bit fingerprint;
  *  - MinHash-LSH: candidate generation via band-key equi-join (only
  *    docs sharing a band collide; never all-pairs), then exact Jaccard
  *    verification on the candidates only;
  *  - SimHash: explode + one hash-aggregate per doc;
  *  - n-gram Jaccard: all-pairs only *within caller-supplied blocking
  *    keys* (language, length band, …) so the quadratic term is bounded
  *    by block size.
  * Nothing gathers to the driver. All hashing is md5-hex based and
  * integer-decoded, so results are engine-portable (see TextExpr).
  */
object Dedup {

  /** Largest batch band-key table (rows = nBands x |batch|) the
    * incremental probe will still broadcast-hint: ~1M keys of
    * (int, md5-string, long) ≈ 50 MB serialized — safely inside a
    * multi-GB driver, far above any gated batch. Larger batches fall
    * back to plain shuffle joins on the band key (same results). */
  val MaxBroadcastBandKeys: Long = 1L << 20

  /** doc → normalized tokens + distinct 3-gram shingle set. Tokenization
    * uses the fused native expression (functions.TextNative), whose
    * output is spec-identical to TextExpr.toksSpark. */
  def withShingles(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // ONE fused native pass (functions.ShinglesExpr — see its scaladoc
    // for why the declarative stacked-alias spelling is both slower
    // per element and exposed to pushed-predicate alias inlining).
    // Par.widen: shingling is the text family's per-row hot loop — a
    // bytes-sized scan plans far too few splits for it (r13 sf10).
    Par.widen(df).withColumn("sh", expr(s"graft_shingles($textCol)"))
      .withColumn("shset", array_distinct(col("sh")))
  }

  /** Exact-duplicate fingerprint: md5 of the sorted distinct token set
    * (classic "key collision" fingerprinting). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    Par.widen(df).withColumn("toks", expr(s"graft_tokens($textCol)"))
      .select(col(idCol), expr(fingerprintSpark("toks")).as("fp"))
  }

  /** Exact-dup clusters: one row per fingerprint with the canonical
    * (minimum) id and member count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprint(df, idCol, textCol)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical"))

  /** Prefix-filter similarity join (AllPairs/PPJoin family): ALL pairs
    * with shingle-set Jaccard >= tNum/tDen — EXACT RECALL, unlike
    * MinHash-LSH's probabilistic candidates. Prefix-filter theorem:
    * under any fixed global element order (lexicographic here), two
    * sets with Jaccard >= t must share an element among each set's
    * first n − ⌈t·n⌉ + 1 elements — so candidates come from an
    * equi-join on PREFIX elements only, then exact verification via
    * pure integer cross-multiplication (inter·tDen >= uni·tNum; no
    * float threshold). Choose LSH (q39) when approximate recall is
    * acceptable and sets are hostile to prefixes; choose this when the
    * answer must be complete (legal/contractual dedup, eval-set
    * hygiene).
    *
    * `dfOrdered = true` (default) canonically orders every set by
    * ASCENDING corpus document frequency (ties → lexicographic) — the
    * Chaudhuri/Vernica prefix-filter optimization: prefixes then carry
    * each set's RAREST elements, so the candidate equi-join fans out
    * by the df of rare tokens instead of whatever happens to sort
    * first alphabetically. The pigeonhole theorem holds under ANY one
    * global order, so the pair set is identical either way (the spec
    * pins both facts); the price is one extra (doc, element) shuffle
    * to attach frequencies — at 100 TB that linear pass is noise next
    * to the quadratic-in-df candidate blowup it prevents. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      tNum: Int = 1, tDen: Int = 2,
      dfOrdered: Boolean = true): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen)
    val sets = orderedSets(df, idCol, textCol, dfOrdered)
      // prefix length = n - ceil(t*n) + 1, all integer
      .withColumn("plen",
        expr(s"n - (($tNum * n + ${tDen - 1}) DIV $tDen) + 1"))
    val cand = prefixCandidates(sets, idCol)
    val a = sets.select(col(idCol).as("ida"), col("ss").as("sa"),
      col("n").as("na"))
    val b = sets.select(col(idCol).as("idb"), col("ss").as("sb"),
      col("n").as("nb"))
    cand.join(a, "ida").join(b, "idb")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
      .select("ida", "idb", "inter", "uni")
  }

  /** (idCol, ss, n): each doc's distinct shingle set under the chosen
    * global order — lexicographic, or ascending-df with lexicographic
    * ties (one extra linear shuffle to attach frequencies). */
  private[graft] def orderedSets(df: DataFrame, idCol: String,
      textCol: String, dfOrdered: Boolean): DataFrame = {
    val base = withShingles(df, textCol).select(col(idCol), col("shset"))
    val ordered =
      if (!dfOrdered) base.select(col(idCol), array_sort(col("shset")).as("ss"))
      else {
        val pairs = base.select(col(idCol), explode(col("shset")).as("el"))
        val freq = pairs.groupBy("el").agg(count(lit(1)).as("dfc"))
        pairs.join(freq, "el")
          .groupBy(idCol)
          .agg(expr(
            "transform(array_sort(collect_list(struct(dfc, el))), x -> x.el)")
            .as("ss"))
      }
    ordered.withColumn("n", size(col("ss"))).filter(col("n") > 0)
  }

  /** The prefix-collision candidate pairs of a `sets` frame carrying
    * (idCol, ss, plen) — split out so the spec can count how much the
    * df ordering shrinks the candidate set before verification. */
  private[graft] def prefixCandidates(sets: DataFrame,
      idCol: String): DataFrame = {
    val pref = sets.select(col(idCol),
      explode(expr("slice(ss, 1, plen)")).as("p"))
    pref.as("x").join(pref.as("y"),
        col("x.p") === col("y.p") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"))
      .dropDuplicates("ida", "idb")
  }

  /** Directed CONTAINMENT join: pairs (a, b) with
    * |A∩B| / |A| >= tNum/tDen — "doc a's content is (mostly) inside
    * doc b", the quote/subset detector symmetric Jaccard structurally
    * misses (a small doc embedded in a large one has LOW Jaccard, so
    * neither MinHash bands nor the Jaccard prefix filter can find it).
    * Same prefix-filter pigeonhole as [[prefixJaccardPairs]] applied
    * one-sided: if |A∩B| >= t·|A|, then B contains one of A's first
    * n − ⌈t·n⌉ + 1 elements under any one global order — so candidates
    * come from A-prefix elements equi-joined against B's FULL element
    * list (the asymmetric cost: the container side explodes fully,
    * bounded by per-element document frequency), verify is integer
    * cross-multiplication. EXACT recall. A-prefixes are df-ordered by
    * default (as [[prefixJaccardPairs]]): the contained side's prefix
    * then probes with its RAREST elements, which is what bounds the
    * equi-join against the fully-exploded container side. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      tNum: Int = 3, tDen: Int = 4,
      dfOrdered: Boolean = true): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen)
    val sets = orderedSets(df, idCol, textCol, dfOrdered)
    val prefA = sets
      .withColumn("plen",
        expr(s"n - (($tNum * n + ${tDen - 1}) DIV $tDen) + 1"))
      .select(col(idCol).as("ida"), explode(expr("slice(ss, 1, plen)")).as("p"))
    val allB = sets.select(col(idCol).as("idb"), explode(col("ss")).as("p"))
    val cand = prefA.join(allB,
        prefA("p") === allB("p") && col("ida") =!= col("idb"))
      .select("ida", "idb").dropDuplicates("ida", "idb")
    val a = sets.select(col(idCol).as("ida"), col("ss").as("sa"),
      col("n").as("na"))
    val b = sets.select(col(idCol).as("idb"), col("ss").as("sb"))
    cand.join(a, "ida").join(b, "idb")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("inter") * tDen >= col("na") * tNum)
      .select(col("ida"), col("idb"),
        col("inter").cast("long").as("inter"),
        col("na").cast("long").as("na"))
  }

  /** MinHash signature: k lexicographic-min seeded md5s over shingles.
    * Returns id, shset, s0..s{k-1}. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val base = withShingles(df, textCol)
      .withColumn("_sig", expr(s"graft_minhash($textCol, $k)"))
    val sigs = (0 until k).map(i =>
      element_at(col("_sig"), i + 1).as(s"s$i"))
    base.select(col(idCol) +: col("shset") +: sigs: _*)
  }

  /** MinHash-LSH near-duplicate pairs, exact-Jaccard-verified.
    *
    * k signature components are grouped into `k/rows` bands; docs sharing
    * any band key become candidates (equi-join on the band hash — this is
    * the shuffle-bounded step); candidates are verified with exact
    * Jaccard over distinct shingle sets and filtered by `threshold`.
    *
    * The collision (y) side rides [[truncateBands]] with `bucketCap`
    * (identity at gated scale; [[BucketCap]]'s hash rule above it), so
    * a degenerate band value — the boilerplate-heavy near-dup-rich
    * corpus this operator exists for — costs `nBands × N × cap`
    * candidates (linear in N) instead of Σ n_b² before verify. Every
    * doc still probes with its full band set, so the cap trades
    * bounded recall inside an over-cap bucket, never precision (all
    * emitted pairs are exact-verified). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = AdaptiveMinhash, rows: Int = AdaptiveMinhash,
      threshold: Double = 0.5,
      bucketCap: Int = BucketCap.DefaultCap): DataFrame = {
    val (kk, rr) = resolveMinhash(df, k, rows)
    graft.functions.TextNative.register(df.sparkSession)
    // Signatures only — the shingle sets are NOT materialized corpus-wide.
    // cache() pins the one-pass signature (id + k hex strings, ~100 B/doc,
    // MEMORY_AND_DISK so it spills rather than OOMs) so band construction
    // can't re-evaluate the minhash per band reference. The cache must
    // outlive this call (the returned lazy plan references it); callers
    // running many pipelines in one session reclaim it via
    // spark.catalog.clearCache() or by unpersisting after materializing.
    val sig = Par.widen(df).select(col(idCol),
      expr(s"graft_minhash($textCol, $kk)").as("_sig")).cache()
    val bands = bandsOf(sig, idCol, kk, rr)
    val cand = bands.as("x")
      .join(truncateBands(bands, idCol, bucketCap).as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"))
      .distinct()
    verifyJaccard(cand, df, idCol, textCol, threshold)
  }

  /** Sentinel default for `k`/`rows`: resolve the minhash banding from
    * the corpus count at plan-build time ([[adaptiveMinhashParams]]) —
    * the text twin of Similarity.AdaptiveBands (VERDICT r13 #2: the
    * embedding side's fixed-banding recall collapse is measured; the
    * text side ships the same compile-time-constant shape, so it gets
    * the same remedy). Pass explicit values to pin a banding
    * (persisted-index probes must match their index — see the
    * `_banding` metadata). */
  val AdaptiveMinhash: Int = -1

  /** Scale-adaptive minhash banding (k signature size, rows per band):
    * rows r grows by ONE per decade past 65,536 docs, clamped to
    * [2, 4]; the band count grows as b = 2^r, so the LSH S-curve
    * midpoint (1/b)^(1/r) stays EXACTLY at the 0.5 Jaccard threshold
    * every operator here defaults to — recall AT the threshold is
    * preserved by construction while sub-threshold collision mass
    * (what overfills buckets past BucketCap and erodes capped recall
    * at scale) falls geometrically: a pair at jaccard j collides per
    * band with probability j^r. k = r · 2^r: (8, 2) → (24, 3) →
    * (64, 4). Every gated corpus (≤ 50k docs at sf1) resolves to
    * today's (8, 2), so the oracles — which interpolate the same
    * constants — are unchanged. MEASURED at sf10 (tools.TextScaleProbe,
    * 500k docs, exact prefix-filter ground truth, SURVEY §6 r14): both
    * (8,2) AND (24,3) recover recall 1.0 with IDENTICAL pair sets at
    * near-identical cost (193.5 s vs 180.9 s) — unlike the vector
    * family, text buckets are unbounded minhash tuples that only fill
    * with genuinely similar docs, so BucketCap truncation has no
    * dissimilar-neighbor mass to lose at this corpus's clone
    * structure. The adaptive tier is therefore kept for its
    * S-curve-midpoint INVARIANT (sub-threshold collision mass falls
    * geometrically as corpora grow adversarial) at measured-zero cost,
    * not as a rescue of a measured collapse. */
  def adaptiveMinhashParams(n: Long): (Int, Int) = {
    require(n >= 0)
    val r = if (n <= 65536L) 2 else if (n <= 655360L) 3 else 4
    (r * (1 << r), r)
  }

  /** Resolve a (k, rows) pair that may carry the [[AdaptiveMinhash]]
    * sentinel — one narrow eager count; explicit pairs pass through
    * with the divisibility check. */
  private def resolveMinhash(df: DataFrame, k: Int, rows: Int)
      : (Int, Int) = {
    if (k != AdaptiveMinhash && rows != AdaptiveMinhash) {
      require(k % rows == 0,
        s"band rows ($rows) must divide signature size ($k) — trailing " +
          "components would be silently dropped")
      return (k, rows)
    }
    require(k == AdaptiveMinhash && rows == AdaptiveMinhash,
      s"pass BOTH k and rows or NEITHER (got k=$k, rows=$rows)")
    require(!df.isStreaming,
      "adaptive minhash banding resolves via an eager count, which a " +
        "streaming frame cannot run — pass the explicit (k, rows) the " +
        "persisted index or setup phase chose")
    // memoized per corpus snapshot: one count job per session, not per
    // operator call (VERDICT r14 #3) — see [[AdaptiveCount]]
    adaptiveMinhashParams(AdaptiveCount.of(df))
  }

  /** Per-(bi, bv) band-bucket sizes of a band table — the text twin of
    * the embedding side's (band, bucket) size aggregate. Unlike that
    * side (≤ nBands·2^bandBits rows), md5 band values are
    * unbounded-cardinality, so this table is O(distinct buckets) ~
    * O(N) and must be JOINED on the band key, never broadcast
    * corpus-wide. */
  private[graft] def bandSizes(bands: DataFrame): DataFrame =
    bands.groupBy("bi", "bv").agg(count(lit(1)).as("graft_bsz"))

  /** Bound a MinHash band table's per-(bi, bv) posting list to ~`cap`
    * deterministic representatives — the text twin of
    * Similarity.truncateBuckets, sharing [[BucketCap]]'s
    * distribution-independent hash keep rule (identity for buckets at
    * or under `cap`; see that object's scaladoc). The size join rides
    * the SAME (bi, bv) key as the collision join it feeds, so the only
    * added shuffle is the tiny partial-agg exchange for the size
    * table. */
  private[graft] def truncateBands(bands: DataFrame, idCol: String,
      cap: Int): DataFrame =
    truncateBandsWith(bands, bandSizes(bands), idCol, cap)

  /** [[truncateBands]] against a CALLER-SUPPLIED size table
    * `sizes(bi, bv, graft_bsz)` — the incremental path's variant, so
    * both of its collision sides truncate by the COMBINED
    * (corpus + batch) bucket sizes: keep(id) is a pure function of
    * (id, bucket size), so per-side truncation under the union's
    * sizes equals truncating the union table, and
    * `incrementalPairs == minhashPairs(corpus ∪ batch) restricted to
    * batch-touching pairs` holds EXACTLY for DISJOINT batches, capped
    * or not (a replayed batch double-counts in the sizes — recall-only
    * degradation inside over-cap buckets, never a wrong pair; the
    * x<y / =!= guards still strip self-pairs). Callers pass a
    * broadcast()-hinted `sizes` only when it is provably batch-sized
    * (the incremental path's batch-touched keys); the one-shot path's
    * corpus-wide sizes stay join-distributed. */
  private[graft] def truncateBandsWith(bands: DataFrame, sizes: DataFrame,
      idCol: String, cap: Int): DataFrame =
    bands.join(sizes, Seq("bi", "bv"))
      .filter(expr(BucketCap.keepSql(s"`$idCol`", "graft_bsz", cap)))
      .drop("graft_bsz")

  /** Band rows (id, bi, bv) from a signature frame (id, _sig). */
  private def bandsOf(sig: DataFrame, idCol: String, k: Int, rows: Int)
      : DataFrame = {
    val nBands = k / rows
    val bandCols = (0 until nBands).map { b =>
      val parts = (b * rows until (b + 1) * rows)
        .map(i => element_at(col("_sig"), i + 1))
      struct(lit(b).as("bi"), md5(concat(parts: _*)).as("bv"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.bi").as("bi"), col("band.bv").as("bv"))
      .filter(col("bv").isNotNull)
  }

  /** MinHash band table (id, bi, bv) for a corpus — the LSH key table
    * [[writeBandIndex]] persists and [[incrementalPairs]] probes. */
  def bandTable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rows: Int = 2): DataFrame = {
    require(k % rows == 0,
      s"band rows ($rows) must divide signature size ($k)")
    graft.functions.TextNative.register(df.sparkSession)
    bandsOf(Par.widen(df).select(col(idCol),
      expr(s"graft_minhash($textCol, $k)").as("_sig")), idCol, k, rows)
  }

  /** Exact-Jaccard verify: recompute shingle sets for candidate docs
    * only (from `df`, which must cover every id in `cand`). Near-dup
    * candidates are a vanishing fraction of a 100 TB corpus —
    * recomputing beats carrying a shingle array per doc through the
    * shuffle. */
  private def verifyJaccard(cand0: DataFrame, df: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    // r18 (guide §1.2/§5, the q85 plan-weight item): the candidate pair
    // table is referenced THREE times below (both candIds legs + the
    // pair join), so the whole collision-join subtree above it used to
    // re-expand per reference — for q85 that meant the probe's
    // batch-band/size/broadcast pipeline planned ~3x over, and at sf0.1
    // q85's cost is exactly that planning + per-reference broadcast
    // builds (JobProbe). One eager lineage cut (id pairs only — a
    // vanishing fraction of the corpus) makes every reference a
    // LogicalRDD scan. Loop callers take the same cut inside a
    // [[releasing]] scope, which frees it when their micro-batch ends.
    val cand = cut(cand0)
    val candIds = cand.select(col("ida").as(idCol))
      .union(cand.select(col("idb").as(idCol))).distinct()
    // cache() the candidate shingle sets: the pair join below references
    // them TWICE (sa/sb), and only the exchanges beneath the candIds
    // join are reusable — the join + tokenize/shingle projection above
    // them re-ran once per side, i.e. the candidate docs were shingled
    // twice (guide §1.2). Candidates are a vanishing fraction of the
    // corpus, so the cache is small; MEMORY_AND_DISK (cache default)
    // spills rather than OOMs. Inside a [[releasing]] scope it is
    // unpersisted when the scope exits; outside one, callers reclaim it
    // via clearCache as with [[minhashPairs]]'s signature cache.
    val sets = pin(withShingles(df.join(candIds, idCol), textCol)
      .select(col(idCol), col("shset")).cache())
    val sa = sets.select(col(idCol).as("ida"), col("shset").as("seta"))
    val sb = sets.select(col(idCol).as("idb"), col("shset").as("setb"))
    cand.join(sa, "ida").join(sb, "idb")
      .withColumn("inter", size(array_intersect(col("seta"), col("setb"))))
      .withColumn("uni",
        size(col("seta")) + size(col("setb")) - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select("ida", "idb", "jac")
  }

  /** Persist a corpus's minhash band table BUCKETED on the band key —
    * the "index build" half of incremental dedup. Pay the corpus
    * shuffle once at write time; every later batch probes it with zero
    * corpus-side exchange ([[incrementalPairs]]). The banding used
    * (defaults adaptive — [[resolveMinhash]]) is RECORDED in a one-row
    * `${table}_banding` metadata table and probes read it back, so a
    * probe can never silently band differently from its index (band
    * keys from mismatched parameters join silently but match nothing
    * meaningful). */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = AdaptiveMinhash, rows: Int = AdaptiveMinhash,
      nBuckets: Int = 32): Unit = {
    val (kk, rr) = resolveMinhash(df, k, rows)
    // cache(): the sizes write and the bucketed band write below are
    // two separate actions over this table — uncached, EACH re-ran the
    // full corpus tokenize+minhash scan (guide §1.2). The cached rows
    // are (id, bi, bv) only (~50 B/row), MEMORY_AND_DISK, and released
    // as soon as both writes land.
    val bands = bandTable(df, idCol, textCol, kk, rr).cache()
    // `${table}_sizes` holds per-(bi, bv) posting-count PARTIALS:
    // readers SUM per key, so index growers (IngestStream / q193's
    // accumulator) append their batch's partial counts next to the
    // band append and the sizes stay exact without rewriting. Rebuild
    // order: drop the old bands FIRST, then sizes, then new bands — a
    // crash anywhere leaves missing-bands (probe fails loudly), never
    // NEW sizes beside OLD bands (silent over-cap truncation skew) nor
    // bands-without-sizes. writeBandIndex + the append-partials
    // convention are the ONLY supported writers.
    graft.sources.Tables.dropTable(df.sparkSession, table)
    graft.sources.Tables.writeTable(
      df.sparkSession.range(1)
        .select(lit(kk).as("k"), lit(rr).as("rows")),
      s"${table}_banding")
    graft.sources.Tables.writeTable(bandSizes(bands), s"${table}_sizes")
    graft.sources.Tables.writeBucketed(bands, table, Seq("bi", "bv"),
      nBuckets)
    bands.unpersist(blocking = false)
    ()
  }

  /** The (k, rows) a [[writeBandIndex]]-persisted index was built
    * with, from its `_banding` metadata; explicit values must MATCH
    * the recorded banding (fail loud beats band keys that join but
    * match nothing). A pre-metadata index probed ADAPTIVELY fails
    * loudly too (VERDICT r14 #2): guessing the historical (8, 2)
    * default would silently join nothing against an index built with
    * any other banding — rebuild via [[writeBandIndex]] (which records
    * the metadata) or pass the explicit banding it was built with. */
  private def indexBanding(spark: org.apache.spark.sql.SparkSession,
      table: String, k: Int, rows: Int): (Int, Int) = {
    val recorded =
      try {
        val r = spark.table(s"${table}_banding").head()
        Some((r.getInt(0), r.getInt(1)))
      } catch { case _: org.apache.spark.sql.AnalysisException => None }
    (recorded, k == AdaptiveMinhash) match {
      case (Some((rk, rr)), true) => (rk, rr)
      case (Some((rk, rr)), false) =>
        require(rk == k && rr == rows,
          s"probe banding (k=$k, rows=$rows) != index $table's recorded " +
            s"banding (k=$rk, rows=$rr) — band keys would join but match " +
            "nothing meaningful")
        (rk, rr)
      case (None, true) => throw new IllegalArgumentException(
        s"index $table has no ${table}_banding metadata and the probe " +
          "asked for ADAPTIVE banding — the build-time (k, rows) cannot " +
          s"be inferred. Rebuild the index via writeBandIndex (records " +
          "the metadata) or pass the explicit (k, rows) it was built with")
      case (None, false) => (k, rows)
    }
  }

  /** Incremental near-dup dedup: pairs touching a NEW batch, against a
    * [[writeBandIndex]]-persisted corpus — the daily-ingest shape a
    * production pipeline runs (the one-shot [[minhashPairs]] recomputes
    * the whole corpus every time).
    *
    * Candidates = batch bands equi-joined against the persisted band
    * table (bucketed on the join key, so the CORPUS side needs no
    * exchange: Catalyst broadcasts a small batch, or aligns the batch
    * shuffle to the corpus buckets — either way only the batch moves)
    * plus the batch's within-batch band self-join. Exact-Jaccard
    * verification on candidates only, reading texts from
    * `verifySource` (must cover corpus + batch ids). Result = exactly
    * [[minhashPairs]] over (corpus ∪ batch) restricted to pairs with
    * at least one batch member. */
  /** `reuseBands`: pass a caller-materialized [[bandTable]] of the
    * batch to share it with other per-batch work — the default
    * computes and cache()s one internally. Every frame this call pins
    * (that band cache, the eager cuts of the union sizes, the truncated
    * batch bands and the candidate pairs, and the verify cache) is
    * registered with the innermost open [[releasing]] scope, so a loop
    * that wraps each micro-batch in one leaves nothing behind. Outside
    * a scope they outlive the call like [[minhashPairs]]'s signature
    * cache (documented caller-reclaim contract). */
  def incrementalPairs(batch: DataFrame, bandIndexTable: String,
      verifySource: DataFrame, idCol: String, textCol: String,
      k: Int = AdaptiveMinhash, rows: Int = AdaptiveMinhash,
      threshold: Double = 0.5,
      reuseBands: Option[DataFrame] = None,
      bucketCap: Int = BucketCap.DefaultCap): DataFrame = {
    val spark = batch.sparkSession
    // the probe MUST band exactly as the index did: read the recorded
    // banding (cross-checking any explicit values) rather than
    // trusting the caller to repeat the build-time choice. A caller
    // passing reuseBands asserts ITS banding through k/rows too.
    val (kk, rr) = indexBanding(spark, bandIndexTable, k, rows)
    val corpusBands = spark.table(bandIndexTable)
    // batch bands: computed once, tiny relative to the corpus
    val batchBands = reuseBands.getOrElse(
      pin(bandTable(batch, idCol, textCol, kk, rr).cache()))
    // Union (corpus + batch) bucket sizes, but ONLY for batch-touched
    // buckets — untouched buckets can't produce a batch-touching pair,
    // and restricting keeps the size table batch-sized (so it
    // broadcasts; md5 band values make the corpus-wide size table
    // O(N), see bandSizes). Corpus counts come from the persisted
    // `_sizes` partials (summed per key — one columnar scan of the
    // tiny side table per batch, never an O(corpus-index) re-scan);
    // pre-r10 indexes without the side table fall back to one
    // recompute over the index, restricted to touched keys.
    val batchSizes = bandSizes(batchBands)
      .withColumnRenamed("graft_bsz", "graft_nsz")
    val touched = batchSizes.select("bi", "bv")
    // The broadcast hints below are GATED on measured band-key volume:
    // "batch-sized" is O(nBands x |batch|) distinct (bi, bv) keys —
    // md5 band values, so a bulk-ingest batch in the millions would
    // push a forced broadcast past the driver's memory. The count is
    // ~free (it materializes the cache the probe joins need anyway);
    // past the limit the same joins run as plain shuffles on the band
    // key — identical results, just no longer exchange-free on the
    // corpus side.
    val smallBatch = batchBands.count() <= MaxBroadcastBandKeys
    def hinted(df: DataFrame): DataFrame =
      if (smallBatch) broadcast(df) else df
    val corpusSizes =
      (try spark.table(s"${bandIndexTable}_sizes")
       catch {
         case _: org.apache.spark.sql.AnalysisException =>
           bandSizes(corpusBands)
       })
        .join(hinted(touched), Seq("bi", "bv"), "left_semi")
        .groupBy("bi", "bv").agg(sum("graft_bsz").as("graft_csz"))
    // The union size table is referenced by BOTH truncated sides and
    // each side twice again downstream — unmaterialized, the final probe
    // plan re-expanded this subtree ~13 times (15 scans of `_sizes` + as
    // many broadcast builds in plans/r17/q85_incremental_dedup_before.txt),
    // and the probe's cost was that driver-side planning, not task time
    // (JobProbe). An eager lineage CUT, not a cache(): a cached subtree
    // is still printed and planned at every reference (InMemoryRelation
    // carries its child plan), a cut is a batch-sized LogicalRDD (guide
    // §1.2 / §5: don't compute — or plan — the same thing many times).
    // Loop callers take it inside a [[releasing]] scope, which frees it
    // when their micro-batch ends.
    val unionSizes = hinted(cut(batchSizes
      .join(corpusSizes, Seq("bi", "bv"), "left_outer")
      .select(col("bi"), col("bv"),
        (col("graft_nsz") + coalesce(col("graft_csz"), lit(0L)))
          .as("graft_bsz"))))
    val truncCorpus =
      truncateBandsWith(corpusBands, unionSizes, idCol, bucketCap)
    // truncBatch is referenced twice (vsCorpus' second leg + vsBatch) —
    // cut it too; batch-sized by construction.
    val truncBatch =
      cut(truncateBandsWith(batchBands, unionSizes, idCol, bucketCap))
    // The one-shot law's x<y join truncates the LARGER-id side, so a
    // pair survives iff its larger id is a representative — the
    // corpus-vs-batch candidates split by id order (corpus-larger
    // probes the truncated corpus, batch-larger probes the truncated
    // batch), each an equi-join the bucketed corpus table never
    // exchanges for (the truncated sides carry broadcast-size
    // filters). x<y also keeps the replay guard: a replayed batch
    // already present in the index can't emit jac=1 self-pairs that
    // would make admitBatch silently drop the whole replay.
    val vsCorpus = batchBands.as("x").join(truncCorpus.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"))
      .unionAll(corpusBands.as("x").join(truncBatch.as("y"),
          col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col(s"x.$idCol") < col(s"y.$idCol"))
        .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb")))
    val vsBatch = batchBands.as("x").join(truncBatch.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"))
    val cand = vsCorpus.union(vsBatch).distinct()
    verifyJaccard(cand, verifySource, idCol, textCol, threshold)
  }

  /** LSH band-configuration tuning audit: for each candidate (bands ×
    * rows) split of the k-component MinHash signature, measure the
    * config's candidate count, recall, and precision against EXACT
    * ground truth — the numbers that decide how a 100 TB dedup run
    * spends its shuffle budget (more bands = higher recall, more
    * candidate volume). Everything is bounded:
    *   - the audit runs on a deterministic md5 doc sample
    *     (`sampleNibbles`/16 of the corpus, pushdown-able filter);
    *   - ground truth comes from [[prefixJaccardPairs]] — the
    *     exact-RECALL prefix-filter join, so no all-pairs scan exists
    *     even inside the audit;
    *   - per config, candidates are the same band equi-join
    *     [[minhashPairs]] runs — INCLUDING its [[truncateBands]]
    *     collision-side cap, so the audit measures the candidate
    *     volume the production operator would actually generate (and
    *     the audit's own self-join inherits the linear bound).
    * Output: one row per config — n_bands, band_rows, n_cand, n_truth,
    * n_hit, recall_ppm, prec_ppm (exact integer ppm). The three
    * one-row aggregates combine via 1-row broadcast joins (benign
    * BNLJ, allow-listed in the plan audit). */
  def lshTuningAudit(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rowConfigs: Seq[Int] = Seq(1, 2, 4),
      tNum: Int = 1, tDen: Int = 2, sampleNibbles: Int = 8,
      bucketCap: Int = BucketCap.DefaultCap): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    val sample = Sampling.hashSample(df, idCol, sampleNibbles)
    val truth = prefixJaccardPairs(sample, idCol, textCol, tNum, tDen)
      .select("ida", "idb")
    val truthN = truth.agg(count(lit(1)).as("n_truth"))
    val sig = sample.select(col(idCol),
      expr(s"graft_minhash($textCol, $k)").as("_sig"))
    rowConfigs.map { r =>
      val bands = bandsOf(sig, idCol, k, r)
      val cand = bands.as("x")
        .join(truncateBands(bands, idCol, bucketCap).as("y"),
          col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col(s"x.$idCol") < col(s"y.$idCol"))
        .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"))
        .distinct()
      val candN = cand.agg(count(lit(1)).as("n_cand"))
      val hitN = cand.join(truth, Seq("ida", "idb"))
        .agg(count(lit(1)).as("n_hit"))
      candN.crossJoin(hitN).crossJoin(truthN)
        .select(lit(k / r).as("n_bands"), lit(r).as("band_rows"),
          col("n_cand"), col("n_truth"), col("n_hit"),
          expr("n_hit * 1000000 DIV greatest(n_truth, 1)")
            .as("recall_ppm"),
          expr("n_hit * 1000000 DIV greatest(n_cand, 1)")
            .as("prec_ppm"))
    }.reduce(_ union _)
  }

  /** MOSS-style robust-winnowing fingerprints (Schleimer et al. 2003):
    * per doc, hash the in-order word 3-grams (md5 hex — lexicographic
    * min == 128-bit numeric min) and keep the MINIMUM hash of every
    * sliding window of `w` consecutive gram hashes; the distinct
    * selected mins are the doc's fingerprint set, exploded to
    * (id, n_fp, fp) rows. Winnowing's guarantee: any shared substring
    * of >= w+2 grams yields at least one shared fingerprint, while
    * storing only ~2/(w+1) of the grams — the standard
    * plagiarism/overlap detector at corpus scale. All per-row array
    * ops, no shuffle until the caller aggregates. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // ONE fused native pass (functions.WinnowExpr). The previous
    // declarative spelling — array_distinct over transform(sequence,
    // i -> array_min(slice(gh, i, w))) — was an optimizer trap:
    // PushDownPredicates substitutes the aliased gram chain into the
    // downstream explode/join's inferred filters, re-running
    // tokenize+shingle+md5 PER WINDOW element — O(tokens²) per doc
    // (see WinnowExpr's scaladoc and ScaleSpec's detector regression).
    // q219 was the one query the r10/r11 sf1 sweeps could not finish
    // (2h+); the fused pass is O(tokens × w).
    Par.widen(df).withColumn("fps", expr(s"graft_winnow($textCol, $w)"))
      .select(col(idCol), size(col("fps")).as("n_fp"),
        explode(col("fps")).as("fp"))
  }

  /** Winnowed-fingerprint overlap pairs: docs sharing >= `minShared`
    * fingerprints, with the shared count and an overlap ratio in exact
    * ppm of the smaller fingerprint set. The pair generator is ONE
    * equi-join on the fingerprint value — the same shuffle-bounded
    * shape as the MinHash band join — and `maxPostings` drops
    * fingerprints shared by more docs than that (boilerplate mins)
    * BEFORE the join, so a template phrase in a billion docs caps the
    * join fanout instead of producing a quadratic bucket. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4, minShared: Int = 2, maxPostings: Int = 50): DataFrame = {
    val fp = winnowingFingerprints(df, idCol, textCol, w)
    val cold = fp.groupBy("fp").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxPostings)
    val keep = fp.join(cold.select("fp"), "fp")
    keep.as("x").join(keep.as("y"),
        col("x.fp") === col("y.fp") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"),
        col("x.n_fp").as("nfa"), col("y.n_fp").as("nfb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("ida"), col("idb"), col("n_shared"),
        expr("n_shared * 1000000 DIV least(nfa, nfb)").as("ov_ppm"))
  }

  /** 32-bit SimHash per doc (docs with zero tokens produce no row, like
    * the oracle's unnest). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // ONE fused per-doc pass (functions.SimHashExpr; NULL = zero-token
    // doc = "no row", the explode+groupBy contract). The declarative
    // explode shape shuffled a token-level row stream (~200× corpus
    // rows) into the per-doc aggregation, with an interpreted
    // md5+nibble projection and `bits` SUMs per token row on the way.
    // Fused: each token hashes once, and the operator is a narrow
    // map — no shuffle (Par.widen only repairs a too-narrow source).
    Par.widen(df).select(col(idCol),
        expr(s"graft_simhash($textCol, 32)").as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** `bits`-wide simhash (Manku-style fingerprint; q40's 32-bit
    * [[simhash]] stays as the reference-surface shape). Uses bits/4 md5
    * nibbles per token. */
  def simhashWide(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // same fused shape as [[simhash]] (see the rationale there)
    Par.widen(df).select(col(idCol),
        expr(s"graft_simhash($textCol, $bits)").as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`
    * (must be < 4 for exactness): a 60-bit fingerprint splits into 4
    * 15-bit chunks, and by pigeonhole any pair within Hamming 3 shares
    * at least one exact chunk — so candidates come from a chunk
    * equi-join and only candidates pay the exact bit_count(xor)
    * verification. Chunk width is the scale lever: 15-bit chunks give
    * 4x32768 join buckets, so random collisions are ~N²/131072 rather
    * than the near-all-pairs an 8-bit chunking would produce — and the
    * signature is cached (16 B/doc) so its three plan references don't
    * re-tokenize the corpus. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4 chunks only guarantee recall for Hamming <= 3")
    val sh = simhashWide(df, idCol, textCol, bits = 60).cache()
    val chunks = sh.select(col(idCol),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(simhash, c * 15) & 32767)"))
        .as(Seq("ci", "cv")))
    val cand = chunks.as("x").join(chunks.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"))
      .distinct()
    val a = sh.select(col(idCol).as("ida"), col("simhash").as("sha"))
    val b = sh.select(col(idCol).as("idb"), col("simhash").as("shb"))
    cand.join(a, "ida").join(b, "idb")
      .withColumn("hamming", expr("CAST(bit_count(sha ^ shb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("ida", "idb", "hamming")
  }

  /** The admission decision an ingest pipeline actually outputs: keep
    * each batch doc unless it near-dups the corpus (the corpus member
    * is already admitted, so it always wins) or a smaller-id batch
    * member (the batch's own canonical). `pairs` is
    * [[incrementalPairs]] output (ida < idb, every pair touches the
    * batch): a batch doc is rejected when it appears as `idb` (the
    * other side is smaller — corpus or batch, either way it wins), or
    * as `ida` of a pair whose `idb` is outside the batch (a larger-id
    * corpus doc). Two anti-join-shaped set ops — no new shuffle
    * machinery at any scale. */
  def admitBatch(batch: DataFrame, pairs: DataFrame, idCol: String)
      : DataFrame = {
    val rejectedAsB = pairs.select(col("idb").as(idCol))
    val rejectedAsA = pairs
      .join(batch.select(col(idCol).as("idb")), Seq("idb"), "left_anti")
      .select(col("ida").as(idCol))
    batch.join(rejectedAsB.union(rejectedAsA).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Connected components over near-dup pairs → cluster canonicals: the
    * step that turns pairwise similarity into dedup decisions (keep the
    * canonical, drop the rest).
    *
    * Min-label propagation: every member node starts labeled with itself;
    * each iteration joins labels across edges (both directions) and takes
    * the min; stops at fixpoint. Iterations = cluster diameter, which for
    * near-dup clusters is tiny (they're near-cliques — LSH links most
    * members directly), so this is a handful of hash joins, each an
    * ordinary shuffle on ids. maxIter bounds pathological chains.
    */
  /** Eagerly materialize `df` and CUT its lineage. Reliable
    * `checkpoint` when the session has a checkpoint dir (REQUIRED under
    * dynamic allocation / decommissioning, e.g. `Graft.elasticity` — a
    * retired executor takes localCheckpoint blocks with it and a
    * truncated lineage has no recompute path); `localCheckpoint`
    * otherwise (fixed-executor and local runs). Inside a [[releasing]]
    * scope the cut is registered with it and released at scope exit. */
  private[graft] def cut(df: DataFrame): DataFrame =
    pin(if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true))

  /** Open [[releasing]] scopes of this thread, innermost first. */
  private val scopes =
    ThreadLocal.withInitial[List[collection.mutable.ArrayBuffer[DataFrame]]](
      () => Nil)

  /** Register `df` (a cut or a cache()d frame) with the innermost open
    * [[releasing]] scope; outside any scope, a no-op. Returns `df`. */
  private[graft] def pin(df: DataFrame): DataFrame = {
    scopes.get.headOption.foreach(_ += df)
    df
  }

  /** Run `body` as one unit of per-batch work — a streaming
    * micro-batch — and [[release]] every frame [[pin]]ned inside it
    * (every [[cut]], the verify cache, caller-registered frames) when
    * it exits, normally or not. Frames pinned in the scope must not be
    * read after it: a released local checkpoint has no recompute path.
    * Scopes nest; a frame belongs to the innermost one. Outside any
    * scope nothing is registered, so one-shot operators keep their
    * documented caller-reclaim contract. */
  def releasing[T](body: => T): T = {
    val pinned = collection.mutable.ArrayBuffer.empty[DataFrame]
    scopes.set(pinned :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      pinned.foreach(release)
    }
  }

  /** Free a checkpointed frame's storage NOW (Dataset.unpersist is a
    * no-op for checkpoint blocks — they live at the RDD layer, not in
    * the CacheManager). Only for frames that are never read again:
    * a released local checkpoint has no recompute path. */
  private[operators] def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      // reliable checkpoints also leave FILES in the checkpoint dir,
      // and the context GC cleaner only reaps them when
      // spark.cleaner.referenceTracking.cleanCheckpoints is on (off by
      // default) — delete them eagerly, we know the frame is dead
      val ckpt = lr.rdd.getCheckpointFile
      lr.rdd.unpersist(blocking = false)
      ckpt.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    case _ => df.unpersist()
  }

  def dupClusters(pairs: DataFrame, a: String = "ida", b: String = "idb",
      maxIter: Int = 25): DataFrame = {
    // Eager lineage cuts, twice over: (1) the pair pipeline (LSH join +
    // verify) executes exactly once even though the union references it
    // twice; (2) each iteration's lineage is severed — an iterative
    // plan that kept its history would double the logical tree every
    // round (with a wide upstream expression tree that is an OOM in
    // plan rendering alone, observed with the 16-hyperplane LSH
    // lineage). Intermediates are unpersisted as soon as the next
    // round's result is materialized, so at most ~3 corpus-scale
    // materializations are live at once.
    val p = cut(pairs)
    // undirected edges + one self-loop per node, so the per-round
    // neighbor-min is a single join+agg (no in-loop Union: a Union over
    // a join-derived checkpoint trips Catalyst's union constraint
    // rewrite on the checkpoint's stale origin constraints)
    val undirected = p.select(col(a).as("src"), col(b).as("dst"))
      .union(p.select(col(b).as("src"), col(a).as("dst")))
    val edges = cut(undirected
      .union(undirected.select(col("src"), col("src").as("dst")))
      .distinct())
    release(p)
    var labels = cut(edges.select(col("src").as("id"))
      .distinct().withColumn("lbl", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor-min (self-loop carries each node's own label) — cached,
      // NOT checkpointed: its lineage is one join+agg over already-cut
      // frames (no lineage growth), and a plain persist is reclaimable
      // right below, whereas a reliable checkpoint would leak a
      // snapshot per iteration to the checkpoint dir
      val combined = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst")).agg(min(col("lbl")).as("lbl"))
        .withColumnRenamed("dst", "id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      combined.count() // fill the cache so the self-join reads it twice
      // pointer-doubling shortcut: also adopt the label OF my label
      // (lbl is always a member id, so the inner self-join keeps every
      // row). Neighbor-min alone walks one hop per round — convergence
      // in O(diameter) rounds, which a chain-shaped cluster turns into
      // a wrong answer at maxIter (observed at sf0.1); with the jump
      // it is O(log diameter).
      val next = cut(combined.as("l")
        .join(combined.as("m"), col("l.lbl") === col("m.id"))
        .select(col("l.id").as("id"), least(col("l.lbl"), col("m.lbl")).as("lbl")))
      combined.unpersist(blocking = false)
      converged = next.join(labels.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).isEmpty
      release(labels)
      labels = next
      i += 1
    }
    release(edges)
    if (!converged)
      System.err.println(s"[dedup] dupClusters stopped at maxIter=$maxIter " +
        "before convergence — canonicals may split one true component " +
        "(raise maxIter for long chain-shaped clusters)")
    labels.select(col("id").as("doc_id"), col("lbl").as("canonical"))
  }

  /** Exact n-gram Jaccard near-dup pairs within blocking keys. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val s = withShingles(df, textCol)
      .select((idCol +: blockCols).map(col) :+ col("shset"): _*)
    val blockCond = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _)
    s.as("x").join(s.as("y"),
        blockCond && col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("inter",
        size(array_intersect(col("x.shset"), col("y.shset"))))
      .withColumn("uni",
        size(col("x.shset")) + size(col("y.shset")) - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"),
        col("jac"))
  }
}
