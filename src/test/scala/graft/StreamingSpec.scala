package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Structured Streaming over the events table: the streaming pipeline
  * must agree with its batch twin on the same data. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** FileStreamSource requires a directory; stage the single events
    * parquet file into one (the production shape is a directory of files
    * anyway). */
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame,
      name: String, mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming hourly counts equal the batch aggregation") {
    val stream = EventStreams.fromDirectory(spark, eventsDir)
    runToMemory(EventStreams.hourlyCounts(stream), "hourly", "append")
    val streamed = spark.table("hourly")
      .select("hr", "event_type", "cnt", "sum_val")

    val batch = sources.Tables.read(spark, sf, "events")
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        graft.functions.DetMath.sumFixed($"value", 2).as("sum_val"))

    // Everything the stream emitted must exactly match a batch group...
    assert(streamed.exceptAll(batch).count() == 0)
    // ...and only the tail windows (not yet past the watermark when the
    // input ended, at most one per event type) may be missing.
    val missing = batch.exceptAll(streamed)
    val nTypes = batch.select("event_type").distinct().count()
    assert(missing.count() <= nTypes)
    assert(streamed.count() >= batch.count() - nTypes)
  }

  test("streaming hourly approx-distinct users equals the batch sketch") {
    val stream = EventStreams.fromDirectory(spark, eventsDir)
    runToMemory(EventStreams.hourlyUniques(stream), "uniq", "append")
    val streamed = spark.table("uniq").select("hr", "event_type", "approx_users")
    val batch = sources.Tables.read(spark, sf, "events")
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"))
    // sketch merge is commutative: every emitted window must carry the
    // batch twin's exact estimate; only tail windows may be withheld
    assert(streamed.exceptAll(batch).count() == 0)
    val nTypes = batch.select("event_type").distinct().count()
    assert(streamed.count() >= batch.count() - nTypes)
  }

  test("session windows split on the inactivity gap") {
    val stream = EventStreams.fromDirectory(spark, eventsDir)
    runToMemory(EventStreams.sessions(stream), "sess", "append")
    val sess = spark.table("sess")
    assert(sess.count() > 0)
    assert(sess.filter($"sess_end" < $"sess_start").count() == 0)
    // no session may contain a gap: end-start <= n_events * gap bound
    assert(sess.filter(
      unix_timestamp($"sess_end") - unix_timestamp($"sess_start") >
        $"n_events" * 1800).count() == 0)
  }

  test("flatMapGroupsWithState running totals end at the batch totals") {
    val stream = EventStreams.fromDirectory(spark, eventsDir)
    runToMemory(EventStreams.runningUserTotals(stream), "running", "append")
    val finalCounts = spark.table("running")
      .groupBy("user_id").agg(max("n").as("n"))
    val batch = sources.Tables.read(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(finalCounts.exceptAll(batch).count() == 0)
    assert(batch.count() == finalCounts.count())
  }

  test("stream-stream interval join matches the batch twin on emitted rows") {
    val stream = EventStreams.fromDirectory(spark, eventsDir)
    runToMemory(EventStreams.purchasesAfterSignup(stream), "attrib", "append")
    val streamed = spark.table("attrib")
      .select("signup_id", "purchase_id")

    val ev = sources.Tables.read(spark, sf, "events")
    val sg = ev.filter($"event_type" === "signup")
      .select($"user_id".as("s_user"), $"event_id".as("signup_id"), $"ts".as("s_ts"))
    val batch = ev.filter($"event_type" === "purchase")
      .join(sg, $"user_id" === $"s_user" &&
        $"ts" >= $"s_ts" && $"ts" < $"s_ts" + expr("INTERVAL 1 HOUR"))
      .select($"signup_id", $"event_id".as("purchase_id"))

    // everything the stream emitted must be a real batch pair; tail-window
    // pairs (inside the final watermark horizon) may be withheld
    assert(streamed.exceptAll(batch).count() == 0)
    assert(streamed.count() > 0)
  }

  test("replayed feed dedups back to the single-delivery table") {
    val got = EventStreams.replayedDedupStream(spark, sf)
    val batch = sources.Tables.read(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    // the stream saw every row twice; the output must equal one copy
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("rate source feeds the same transforms: schema + flow") {
    val src = EventStreams.fromRate(spark, rowsPerBatch = 500)
    assert(src.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    val q = EventStreams.dedupedEvents(src)
      .writeStream.format("memory").queryName("rate_events")
      .outputMode("append").start()
    try q.awaitTermination(4000) finally q.stop()
    val got = spark.table("rate_events")
    assert(got.count() > 0, "rate source should have produced a batch")
    assert(got.select("event_type").distinct().count() <= 4)
  }

  test("RocksDB state store preset drives a stateful stream") {
    // The at-scale state backend (Graft.streamingState): session/dedup
    // state spills to local disk instead of executor heap. The provider
    // is a runtime SQL conf, so the preset can be exercised on the
    // shared test session and restored after.
    val saved = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Graft.streamingState.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val stream = EventStreams.fromDirectory(spark, eventsDir)
      val q = EventStreams.hourlyCounts(stream)
        .writeStream.format("memory").queryName("rocks_hourly")
        .outputMode("append").start()
      q.processAllAvailable()
      // the provider actually in use surfaces through the state
      // operator's custom metrics — RocksDB-prefixed names appear only
      // when RocksDBStateStoreProvider backed the aggregation
      val metrics = q.lastProgress.stateOperators.head
        .customMetrics.keySet()
      q.stop()
      assert(metrics.stream().anyMatch(_.startsWith("rocksdb")),
        s"expected rocksdb state metrics, got $metrics")
      assert(spark.table("rocks_hourly").count() > 0)
    } finally {
      saved match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("continuous ingest admission equals sequential batch-mode admission") {
    import graft.operators.Dedup
    val all = sources.Tables.read(spark, sf, "documents")
    val b1 = all.filter($"doc_id" < 250)
    val b2 = all.filter($"doc_id" >= 250)

    // two staged parquet FILES, mtimes forcing b1 before b2
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ingest")
    def stageFile(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      val dst = streamDir.resolve(s"$name.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000
    stageFile(b1, "0001", t0)
    stageFile(b2, "0002", t0 + 30000)

    // empty initial corpus: index over zero docs, empty corpus store
    spark.sql("DROP TABLE IF EXISTS ingest_band_idx")
    Dedup.writeBandIndex(all.filter(lit(false)), "doc_id", "text",
      "ingest_band_idx", nBuckets = 8)
    val corpusPath = java.nio.file.Files
      .createTempDirectory("graft-ingest-corpus").toString + "/docs"
    val cpPath = java.nio.file.Files
      .createTempDirectory("graft-ingest-cp").toString

    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
      .select($"doc_id", $"text")
    val q = streaming.IngestStream.start(stream, "ingest_band_idx",
      corpusPath, cpPath, "doc_id", "text", nBuckets = 8)
    try q.awaitTermination() finally q.stop() // AvailableNow self-ends

    // sequential batch-mode reference with the ONE-SHOT operator:
    // admit b1 against nothing, then b2 against admitted(b1)
    def rejects(pairs: org.apache.spark.sql.DataFrame,
        batchIds: org.apache.spark.sql.DataFrame) = {
      val asB = pairs.select($"idb".as("doc_id"))
      val asA = pairs.join(batchIds.select($"doc_id".as("idb")),
        Seq("idb"), "left_anti").select($"ida".as("doc_id"))
      asB.union(asA).distinct()
    }
    val adm1 = b1.select($"doc_id", $"text").join(
      rejects(Dedup.minhashPairs(b1, "doc_id", "text"), b1),
      Seq("doc_id"), "left_anti")
    val all2 = adm1.unionByName(b2.select($"doc_id", $"text"))
    val pairs2 = Dedup.minhashPairs(all2, "doc_id", "text")
      .filter($"ida" >= 250 || $"idb" >= 250)
    val adm2 = b2.select($"doc_id", $"text")
      .join(rejects(pairs2, b2), Seq("doc_id"), "left_anti")
    val expected = adm1.unionByName(adm2).select("doc_id")

    val streamed = spark.read.parquet(corpusPath).select("doc_id")
    assert(streamed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  test("ingest batch replay is idempotent; compaction folds duplicate bands") {
    import graft.operators.Dedup
    val all = sources.Tables.read(spark, sf, "documents")
    val b1 = all.filter($"doc_id" < 250).select($"doc_id", $"text")
    val b2 = all.filter($"doc_id" >= 250).select($"doc_id", $"text")
    spark.sql("DROP TABLE IF EXISTS ingest_replay_idx")
    Dedup.writeBandIndex(all.filter(lit(false)), "doc_id", "text",
      "ingest_replay_idx", nBuckets = 8)
    val corpusPath = java.nio.file.Files
      .createTempDirectory("graft-replay-corpus").toString + "/docs"

    def run(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      streaming.IngestStream.processBatch(df, id, "ingest_replay_idx",
        corpusPath, "doc_id", "text", 8, 2, 0.5, 8)

    run(b1, 0L)
    val c1 = spark.read.parquet(corpusPath).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    run(b1, 0L) // at-least-once replay of the SAME batch id
    val c2 = spark.read.parquet(corpusPath).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(c1 == c2, "replay must rewrite, not duplicate, the corpus store")

    // a later batch still admits against the (band-duplicated) index,
    // and the store never accumulates duplicate doc ids
    run(b2, 1L)
    val fin = spark.read.parquet(corpusPath).select("doc_id")
    assert(fin.count() == fin.distinct().count())
    assert(fin.count() > c1.size)

    // replay-degradation law (VERDICT r10 directive 6): a replayed
    // batch double-appends BOTH the band rows and the `_sizes`
    // partials, so the summed sizes still equal the PHYSICAL per-key
    // index row counts — the bucket cap's inputs stay consistent with
    // the collision volume the probe join actually sees. (They
    // over-count the LOGICAL corpus, so an over-cap bucket keeps
    // fewer distinct representatives: recall-only degradation, never
    // a wrong pair — the posture IngestStream documents.)
    val szSum = spark.table("ingest_replay_idx_sizes")
      .groupBy($"bi", $"bv").agg(sum($"graft_bsz").as("s"))
    val phys = spark.table("ingest_replay_idx")
      .groupBy($"bi", $"bv").agg(count(lit(1)).as("c"))
    assert(szSum.join(phys, Seq("bi", "bv"), "full_outer")
      .filter(!($"s" <=> $"c")).count() == 0,
      "_sizes per-key sums must equal physical index row counts, " +
        "replays included")

    // compaction rebuilds the index to exactly the corpus docs' bands
    streaming.IngestStream.compactBandIndex(spark, corpusPath,
      "ingest_replay_idx", "doc_id", "text", nBuckets = 8)
    val compacted = spark.table("ingest_replay_idx")
    val expected = Dedup.bandTable(
      spark.read.parquet(corpusPath).select($"doc_id", $"text"),
      "doc_id", "text")
    assert(compacted.count() == expected.count())
    assert(compacted.exceptAll(expected).count() == 0)
    // ...and compaction also squeezes the replay over-count back out
    // of `_sizes`: fresh sizes == fresh physical counts, restoring
    // full recall in previously over-counted buckets
    val szSum2 = spark.table("ingest_replay_idx_sizes")
      .groupBy($"bi", $"bv").agg(sum($"graft_bsz").as("s"))
    val phys2 = compacted.groupBy($"bi", $"bv")
      .agg(count(lit(1)).as("c"))
    assert(szSum2.join(phys2, Seq("bi", "bv"), "full_outer")
      .filter(!($"s" <=> $"c")).count() == 0,
      "compaction must rebuild _sizes to the fresh physical counts")
  }

  /** Three disjoint 100-id ingest batches and a fresh empty band index
    * `idx`; returns a runner that processes them into a fresh corpus
    * store and the store's path. */
  private def threeIngestBatches(idx: String): (() => Unit, String) = {
    import graft.operators.Dedup
    val all = sources.Tables.read(spark, sf, "documents")
      .select($"doc_id", $"text")
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    Dedup.writeBandIndex(all.filter(lit(false)), "doc_id", "text", idx,
      k = 8, rows = 2, nBuckets = 8)
    val corpusPath = java.nio.file.Files
      .createTempDirectory("graft-release-corpus").toString + "/docs"
    val run = () => (0 until 3).foreach { i =>
      streaming.IngestStream.processBatch(
        all.filter($"doc_id" >= i * 100 && $"doc_id" < (i + 1) * 100),
        i.toLong, idx, corpusPath, "doc_id", "text", 8, 2, 0.5, 8)
    }
    (run, corpusPath)
  }

  test("ingest micro-batches leave no checkpoint files or persistent RDDs") {
    // under a reliable checkpoint dir (Graft.elasticityWith) every cut
    // a batch takes — the probe's and `admitted` — writes rdd-* files;
    // the batch's releasing scope must delete them and unpersist
    val (run, corpusPath) = threeIngestBatches("ingest_release_idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-release-ckpt")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    org.apache.spark.GraftTestShim.withCheckpointDir(sc, ckpt.toString)(run())
    val rddDirs = java.nio.file.Files.walk(ckpt).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("rdd-"))
    assert(rddDirs.isEmpty,
      s"checkpoint files left behind: ${rddDirs.mkString(", ")}")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "a micro-batch left a persistent RDD behind")
    assert(spark.read.parquet(corpusPath).count() > 0)
  }

  test("streaming admission batches leave the session's cache set unchanged") {
    // verify's candidate-shingle cache and the band caches are released
    // per micro-batch: IngestStream (one probe per batch) and q193 (two)
    val cached = () => org.apache.spark.GraftTestShim.cachedEntries(spark)
    val (run, _) = threeIngestBatches("ingest_cache_idx")
    val before = cached()
    run()
    assert(cached() == before, "IngestStream batches grew the cache set")
    EventStreams.streamingAdmissionStream(spark, sf,
      maxFilesPerTrigger = Some(1), deltaFiles = 3).count()
    assert(cached() == before, "q193 micro-batches grew the cache set")
  }

  test("streaming incremental rollup is micro-batch-boundary independent") {
    // Force one micro-batch PER FILE: the delta slice lands as many
    // part files, so the foreachBatch maintenance loop appends many
    // separate partials — and the merged rollup must STILL equal the
    // full batch recompute, because count/scaled-cents partials are
    // associative. This is the property that makes additive partials
    // the production shape for streaming view maintenance.
    val merged = EventStreams.incrementalRollupStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 8)
    val ev = sources.Tables.read(spark, sf, "events")
    val full = ev
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        (sum(graft.functions.DetMath.fixed($"value", 2)) / lit(100.0))
          .as("sum_val"))
    assert(merged.exceptAll(full).count() == 0)
    assert(full.exceptAll(merged).count() == 0)
    // more than (seed + one batch) distinct batch_id partitions —
    // proof that multiple micro-batches really ran (each overwrites
    // only its OWN batch_id=<bid> partition)
    assert(spark.table("graft_stream_rollup_partials")
      .select("batch_id").distinct().count() > 2,
      "expected per-micro-batch partials from more than one batch")
  }

  test("streaming incremental distinct is micro-batch-boundary independent") {
    // q186's register lattice version of the rollup property: one
    // micro-batch PER FILE appends many separate register slices, and
    // the MAX-merge must still equal the one-shot sketch — MAX is
    // associative, commutative AND idempotent, so even this shredded
    // maintenance history lands on the exact one-shot estimate.
    val merged = EventStreams.incrementalDistinctStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 8)
    val oneShot = operators.Sketches.detEstimate(
      operators.Sketches.detRegisters(
        sources.Tables.read(spark, sf, "events"),
        Seq("event_type"), "user_id"),
      Seq("event_type"), "approx_users")
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "shredded streaming register merge diverged from one-shot sketch")
  }

  test("streaming CMS maintenance is micro-batch-boundary independent") {
    // q273: shred the document delta into one micro-batch PER FILE —
    // CMS cells form a SUM lattice (counts are plain addends), so the
    // merged sketch must equal the one-shot sketch EXACTLY, counter for
    // counter, and therefore the heavy-hitter output too.
    import graft.operators.Sketches
    import graft.operators.Sketches.{CmsDefD, CmsDefW}
    val merged = EventStreams.incrementalCmsStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6)
    val toks = sources.Tables.read(spark, sf, "documents")
      .select(explode(expr(
        graft.functions.TextExpr.toksSpark("text"))).as("tok"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val oneShot = Sketches.cmsEstimate(exact.select("tok"), "tok",
        Sketches.cmsBuild(toks, "tok", CmsDefD, CmsDefW),
        CmsDefD, CmsDefW)
      .join(exact, "tok")
      .orderBy(col("est").desc, col("tok")).limit(20)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "shredded streaming CMS merge diverged from one-shot sketch")
  }

  test("streaming DAU maintenance is micro-batch-boundary independent") {
    // q234: shred the event delta into one micro-batch PER FILE — the
    // (day, user) presence pairs form a set lattice (union is
    // associative, commutative, idempotent), so the merged rollup must
    // equal the one-shot q226 result however the files were chopped,
    // even though the same pair may be appended by several batches.
    val merged = EventStreams.dauStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 8)
    val oneShot = SparkEntry.queries("q226_rolling_distinct")(spark, sf)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "shredded streaming DAU merge diverged from one-shot q226")
  }

  test("streaming manifest maintenance is micro-batch-boundary independent") {
    // q210: shred the document delta into one micro-batch PER FILE —
    // per-shard (sum, xor) partials are associative and commutative
    // over disjoint row sets, so the merged manifest must equal the
    // one-shot q207 manifest bit-for-bit however the files were
    // chopped.
    val merged = EventStreams.manifestStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6)
    val oneShot = graft.queries.Fingerprints.manifest(
      sources.Tables.read(spark, sf, "documents"))
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "shredded streaming manifest merge diverged from one-shot q207")
    // more than (seed + one batch) distinct batch_id partitions —
    // proof several micro-batches really wrote their own partition
    assert(spark.table("graft_stream_manifest_partials")
      .select("batch_id").distinct().count() > 2)
  }

  test("streaming near-dup admission is micro-batch-boundary independent") {
    // q193: shred the q88 batch into one micro-batch PER FILE — the
    // accumulated pair set is symmetric and idempotent, so the final
    // admission anti-join must equal the one-shot q88 decision even
    // when near-dup batch members arrive in different micro-batches
    // (larger-id-first orders included).
    val merged = EventStreams.streamingAdmissionStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6)
    val all = sources.Tables.read(spark, sf, "documents")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    operators.Dedup.writeBandIndex(corpus, "doc_id", "text",
      "graft_band_index_spec193", k = 8, rows = 2, nBuckets = 8)
    val pairs = operators.Dedup.incrementalPairs(batch,
      "graft_band_index_spec193", all, "doc_id", "text",
      k = 8, rows = 2, threshold = 0.5)
    val oneShot = operators.Dedup.admitBatch(batch, pairs, "doc_id")
      .select("doc_id")
    assert(merged.count() > 0)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "shredded streaming admission diverged from one-shot q88")
  }

  test("rollup stream killed mid-sequence restarts from checkpoint to the exact batch result") {
    // q142's count/scaled-cents partial lattice under the 100 TB
    // operational reality: the stream CRASHES after 3 committed
    // micro-batches (batch 4 dies before any side effect), restarts
    // from the same checkpoint, and the merged rollup must STILL equal
    // the one-shot batch recompute — restart resumes at the first
    // uncommitted batch, skipping none and replaying none (additive
    // partials are associative but NOT idempotent, so this is the
    // lattice family with no tolerance for commit drift).
    val merged = EventStreams.incrementalRollupStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 8,
      chaosKillAfter = Some(3))
    val ev = sources.Tables.read(spark, sf, "events")
    val full = ev
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        (sum(graft.functions.DetMath.fixed($"value", 2)) / lit(100.0))
          .as("sum_val"))
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0,
      "restarted rollup stream diverged from the one-shot recompute")
  }

  test("distinct-sketch stream killed mid-sequence restarts from checkpoint to the one-shot sketch") {
    // q186's register-MAX lattice through the same crash/restart: MAX
    // is idempotent, so even if a restart had replayed a batch the
    // estimate must land exactly on the one-shot sketch.
    val merged = EventStreams.incrementalDistinctStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 8,
      chaosKillAfter = Some(3))
    val oneShot = operators.Sketches.detEstimate(
      operators.Sketches.detRegisters(
        sources.Tables.read(spark, sf, "events"),
        Seq("event_type"), "user_id"),
      Seq("event_type"), "approx_users")
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "restarted distinct stream diverged from one-shot sketch")
  }

  test("CMS stream killed mid-sequence restarts from checkpoint to the one-shot sketch") {
    // q273's SUM lattice through the crash/restart — the sharpest of
    // the four: SUM is NOT idempotent, so this passing proves the
    // checkpoint restart resumed at the first uncommitted batch with
    // zero replays (a single replayed batch would inflate cells and
    // move the heavy-hitter estimates).
    import graft.operators.Sketches
    import graft.operators.Sketches.{CmsDefD, CmsDefW}
    val merged = EventStreams.incrementalCmsStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
      chaosKillAfter = Some(3))
    val toks = sources.Tables.read(spark, sf, "documents")
      .select(explode(expr(
        graft.functions.TextExpr.toksSpark("text"))).as("tok"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val oneShot = Sketches.cmsEstimate(exact.select("tok"), "tok",
        Sketches.cmsBuild(toks, "tok", CmsDefD, CmsDefW),
        CmsDefD, CmsDefW)
      .join(exact, "tok")
      .orderBy(col("est").desc, col("tok")).limit(20)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "restarted CMS stream diverged from one-shot sketch")
  }

  test("DAU stream killed mid-sequence restarts from checkpoint to the one-shot result") {
    // q234's (day, user) set-union lattice through the crash/restart —
    // the third lattice type (union: associative, commutative,
    // idempotent).
    val merged = EventStreams.dauStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 8,
      chaosKillAfter = Some(3))
    val oneShot = SparkEntry.queries("q226_rolling_distinct")(spark, sf)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "restarted DAU stream diverged from one-shot q226")
  }

  test("decontamination stream killed mid-sequence restarts from checkpoint to the one-shot gate") {
    // q289's frozen-index admission through the crash/restart — the
    // fourth lattice type (append-only rows keyed by doc_id: the
    // restart must neither skip a batch, which would DROP admission
    // rows, nor replay one, which the read-side dropDuplicates
    // absorbs). Passing proves the decontamination lattice carries
    // the same checkpoint-restart guarantee the rollup/sketch/DAU
    // lattices do, and that the restarted stream's union still equals
    // the one-shot q116 gate row-for-row.
    val merged = EventStreams.streamingDecontaminationStream(
        spark, sf, gramN = 4, maxFilesPerTrigger = Some(1), deltaFiles = 6,
        chaosKillAfter = Some(3))
      .select("doc_id", "n_hits", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    val oneShot = SparkEntry.queries("q116_decontaminate")(spark, sf)
      .select("doc_id", "n_hits", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "restarted decontamination stream diverged from one-shot q116")
  }

  test("quantile-sample stream killed mid-sequence restarts from checkpoint to the one-shot sample") {
    // q290's set-union sample lattice through the crash/restart: the
    // merged sample — and therefore every exact rank over it — must
    // equal the one-shot half-sample recompute (q190's law, now under
    // a mid-stream kill).
    val merged = EventStreams.streamingQuantilesStream(
        spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
        chaosKillAfter = Some(3))
      .select("l_returnflag", "q25", "q50", "q75", "q99")
      .as[(String, Double, Double, Double, Double)].collect().toSet
    val oneShot = SparkEntry.queries("q190_incr_quantiles")(spark, sf)
      .select("l_returnflag", "q25", "q50", "q75", "q99")
      .as[(String, Double, Double, Double, Double)].collect().toSet
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "restarted quantile stream diverged from one-shot sample quantiles")
  }

  test("image-dedup stream killed mid-sequence restarts from checkpoint to the one-shot pairs") {
    // q291's chunk-index lattice through the crash/restart: the
    // accumulated pair set must equal one-shot q188 (which rebuilds
    // its own index from scratch) even when the stream dies after 3
    // committed micro-batches and resumes from the checkpoint —
    // sizes-first ordering isn't needed here because pairs and chunks
    // both append idempotently (doc_id is unique, pairs normalize
    // least/greatest, and the read-side dropDuplicates absorbs any
    // replay).
    val merged = EventStreams.streamingImageDedupStream(
        spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
        chaosKillAfter = Some(3))
      .select("ida", "idb", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val oneShot = SparkEntry.queries("q188_incr_image_dedup")(spark, sf)
      .select("ida", "idb", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "restarted image-dedup stream diverged from one-shot q188")
  }

  test("bloom-bit stream killed mid-sequence restarts from checkpoint to the one-shot bits") {
    // q293's set-union bit lattice through the crash/restart — with
    // this, all five lattice types (additive rollup, register MAX,
    // CMS SUM, append-by-key admission, set-union bits) carry the
    // same checkpoint-restart proof.
    val k = 3; val m = 1 << 18
    val merged = EventStreams.streamingBloomBits(
        spark, sf, k, m, maxFilesPerTrigger = Some(1), deltaFiles = 6,
        chaosKillAfter = Some(3))
      .as[Long].collect().toSet
    val all = sources.Tables.read(spark, sf, "documents")
      .withColumn("fp", expr(graft.functions.TextExpr.fingerprintSpark(
        graft.functions.TextExpr.toksSpark("text"))))
    val oneShot = operators.Sketches.bloomBuild(
        all.filter(col("doc_id") % 5 =!= 0), "fp", k, m)
      .as[Long].collect().toSet
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "restarted bloom stream diverged from the one-shot bit set")
  }

  test("pq-encode stream killed mid-sequence restarts from checkpoint to the one-shot codes") {
    // q294's frozen-codebook encode through the crash/restart: codes
    // are a pure per-row map, so the only thing the kill can break is
    // batch accounting — the merged table must equal one-shot q214
    // (which retrains the identical deterministic codebook) with no
    // row lost to the skipped batch and none doubled by a replay.
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "label", "code0", "code1", "code2", "code3",
        "code4", "code5", "code6", "code7", "qerr")
      .collect().map(_.toSeq).toSet
    val merged = canon(EventStreams.streamingPqEncodeStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
      chaosKillAfter = Some(3)))
    val oneShot = canon(
      SparkEntry.queries("q214_incr_pq_encode")(spark, sf))
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "restarted pq-encode stream diverged from one-shot q214")
  }

  test("embed-dedup stream killed mid-sequence restarts from checkpoint to the one-shot pairs") {
    // q295's banded-LSH pair lattice through the crash/restart: the
    // accumulated pair set must equal one-shot q87 (which rebuilds its
    // own index) even when the stream dies after 3 committed
    // micro-batches and resumes from the checkpoint.
    val merged = EventStreams.streamingEmbedDedupStream(
        spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
        chaosKillAfter = Some(3))
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val oneShot = SparkEntry.queries("q87_incr_embed_dedup")(spark, sf)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "restarted embed-dedup stream diverged from one-shot q87")
  }

  test("rollup stream killed BETWEEN side effect and commit still merges to the one-shot rollup") {
    // The at-least-once window VERDICT r13 #1 named: the crash fires
    // AFTER batch 4's partials are written but BEFORE its checkpoint
    // commit, so the restart REPLAYS that batch's side effect. Under
    // the old append spelling the replay double-counted cnt/cents;
    // the batch_id-partition overwrite must absorb it bit-for-bit.
    val merged = EventStreams.incrementalRollupStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 8,
      chaosKillBeforeCommit = Some(3))
    val ev = sources.Tables.read(spark, sf, "events")
    val full = ev
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        (sum(graft.functions.DetMath.fixed($"value", 2)) / lit(100.0))
          .as("sum_val"))
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0,
      "replayed rollup batch double-counted — the side effect is not " +
        "idempotent under the at-least-once window")
  }

  test("manifest stream killed BETWEEN side effect and commit still merges to the one-shot manifest") {
    // q210's SUM/XOR partials under the replayed-batch window: a
    // double-applied batch would inflate n_rows/fp_sum and XOR-cancel
    // fp_xor (the exact failure the old docstring waved off with a
    // nonexistent "exactly-once source contract").
    val merged = EventStreams.manifestStream(
        spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
        chaosKillBeforeCommit = Some(3))
      .select("shard", "n_rows", "fp_sum", "fp_xor")
      .as[(Long, Long, Long, Long)].collect().toSet
    val oneShot = SparkEntry.queries("q207_shard_manifest")(spark, sf)
      .select("shard", "n_rows", "fp_sum", "fp_xor")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "replayed manifest batch skewed the SUM/XOR merge — the side " +
        "effect is not idempotent under the at-least-once window")
  }

  test("CMS stream killed BETWEEN side effect and commit still merges to the one-shot sketch") {
    // q273's additive cells under the replayed-batch window — the
    // sharpest additive face: a double-applied batch inflates d×w
    // cells and moves heavy-hitter estimates.
    import graft.operators.Sketches
    import graft.operators.Sketches.{CmsDefD, CmsDefW}
    val merged = EventStreams.incrementalCmsStream(
      spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
      chaosKillBeforeCommit = Some(3))
    val toks = sources.Tables.read(spark, sf, "documents")
      .select(explode(expr(
        graft.functions.TextExpr.toksSpark("text"))).as("tok"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val oneShot = Sketches.cmsEstimate(exact.select("tok"), "tok",
        Sketches.cmsBuild(toks, "tok", CmsDefD, CmsDefW),
        CmsDefD, CmsDefW)
      .join(exact, "tok")
      .orderBy(col("est").desc, col("tok")).limit(20)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "replayed CMS batch double-counted cells — the side effect is " +
        "not idempotent under the at-least-once window")
  }

  test("quantile-sample stream killed BETWEEN side effect and commit still equals the one-shot sample") {
    // q290 is the pattern exemplar (it already overwrote per-batch
    // partitions in r13) — drive it through the new kill timing too so
    // the claimed posture is proven where it originated.
    val merged = EventStreams.streamingQuantilesStream(
        spark, sf, maxFilesPerTrigger = Some(1), deltaFiles = 6,
        chaosKillBeforeCommit = Some(3))
      .select("l_returnflag", "q25", "q50", "q75", "q99")
      .as[(String, Double, Double, Double, Double)].collect().toSet
    val oneShot = SparkEntry.queries("q190_incr_quantiles")(spark, sf)
      .select("l_returnflag", "q25", "q50", "q75", "q99")
      .as[(String, Double, Double, Double, Double)].collect().toSet
    assert(merged.nonEmpty)
    assert(merged == oneShot,
      "replayed sample batch duplicated rows — the side effect is not " +
        "idempotent under the at-least-once window")
  }

  test("foreachBatch parquet sink lands every event exactly once") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink")
    val stream = EventStreams.fromDirectory(spark, eventsDir)
    val q = EventStreams.sinkToParquet(
      stream, out.resolve("data").toString, out.resolve("cp").toString)
    q.processAllAvailable(); q.stop()
    val landed = spark.read.parquet(out.resolve("data").toString + "/batch=*")
    val src = sources.Tables.read(spark, sf, "events")
    assert(landed.count() == src.count())
    assert(landed.select("event_id").exceptAll(src.select("event_id")).count() == 0)
  }
}
