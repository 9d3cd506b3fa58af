package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness (dev tool, not part of the driver contract):
  * materializes a 10× replica of the sf0.1 fact tables and re-runs the
  * headline queries there, asserting that each plan HOLDS ITS SHAPE at the
  * larger volume — dims still broadcast (no silent demotion to a shuffle
  * join), no BroadcastNestedLoopJoin, no SortAggregate, no spill cliffs —
  * and printing per-query times so the sf0.1→sf1 scaling factor is on
  * record (VERDICT r3 item 10: "verify the weak-query plans hold their
  * shape at the largest available volume").
  *
  * Replication scheme (content-preserving, key-consistent):
  *  - fact tables (orders, lineitem, events, documents) are unioned 10×
  *    with primary/foreign keys offset by copy index so join fan-outs and
  *    group cardinalities scale the way real growth would (an order's
  *    lineitems follow it into the same copy; events keep their users);
  *  - ts shifts by `copy` days so the time-bucketed group count (c32's
  *    hourly buckets) grows with volume, the honest-hard case;
  *  - dim tables (region nation customer supplier part, embeddings) stay
  *    at sf0.1 size — dims grow slower than facts in any real warehouse,
  *    and keeping them fixed preserves FK validity.
  */
object Stress {

  val dir = "/tmp/graft_sf1_local"

  def build(s: SparkSession, src: String): Unit = {
    val done = new java.io.File(s"$dir/_DONE")
    if (done.exists()) return
    val copies = (0 until 10).map(lit(_))
    def replicate(df: DataFrame, keyShift: Map[String, Long]): DataFrame =
      copies.map { c =>
        keyShift.foldLeft(df) { case (d, (k, base)) =>
          d.withColumn(k, col(k) + c.cast("long") * lit(base))
        }.withColumn("__copy", c)
      }.reduce(_ unionAll _).drop("__copy")

    // key offsets chosen far above each table's max key at sf0.1
    val M = 100000000L
    val orders = replicate(Tables(s, src, "orders"),
      Map("o_orderkey" -> M))
    val lineitem = replicate(Tables(s, src, "lineitem"),
      Map("l_orderkey" -> M))
    val documents = replicate(Tables(s, src, "documents"),
      Map("doc_id" -> M))
    val events = copies.map { c =>
      Tables(s, src, "events")
        .withColumn("event_id", col("event_id") + c.cast("long") * lit(M))
        .withColumn("ts", col("ts") + expr("INTERVAL 1 DAY") * c)
    }.reduce(_ unionAll _)

    Seq("orders" -> orders, "lineitem" -> lineitem,
      "documents" -> documents, "events" -> events).foreach { case (n, df) =>
      df.repartition(16).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    // dims: pass through unchanged
    Seq("region", "nation", "customer", "supplier", "part", "embeddings")
      .foreach { n =>
        Tables(s, src, n).write.mode("overwrite").parquet(s"$dir/$n.parquet")
      }
    done.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 32 shuffle partitions: sized for the 10x volume
    val spark = Graft.session(s"local[$cpus]", shufflePartitions = 32)

    build(spark, "/root/testdata/sf0.1")

    // Spill accounting: task-level memory/disk spill bytes, accumulated
    // across every query run below. ANY disk spill at 10x local volume
    // means a partition no longer fits its task memory — the early-warning
    // signal for the 100 TB sizing claims.
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        ()
      }
    })

    val checks = Seq(
      // the four r3 perf-weak queries + the two heaviest joins
      "c14_pricing_summary", "c20_rollup", "c27_strings", "c32_json_events",
      "c07_join_agg", "e01_exact_dedup", "c09_semi_anti", "c21_rank_window",
      // round-4 additions: the shingle-keyed shuffle profile (the heaviest
      // new op), the bounded-TopK group sample, and scan-local quantization
      "e26_dup_passages", "e23_group_sample", "e24_int8_quantize",
      // round-5 additions (VERDICT r4 item 8): the two remaining
      // shuffle-heavy ops — iterative min-label propagation and the
      // banded minhash join
      "e18_dedup_clusters", "e02_minhash_pairs",
      // round-6 additions: the trigram-LM scoring pass (the heaviest new
      // text op — a char-level explode over the corpus) and the
      // window-cumsum mixture sampler
      "e33_lm_score", "e31_domain_mix")

    // minhash128 is a Scala function BY DESIGN (SURVEY §2 E2: owned hash
    // family, golden tier — a 128-permutation signature has no
    // column-algebra form worth codegen'ing); the no-ScalaUDF assertion
    // is for hot paths that HAVE a native form.
    val udfByDesign = Set("e02_minhash_pairs", "e18_dedup_clusters")

    var failed = List.empty[String]
    checks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      def must(ok: Boolean, what: String): Unit =
        if (!ok) failed ::= s"$name: $what"
      must(!plan.contains("BroadcastNestedLoopJoin"), "BNL appeared at 10x")
      must(!plan.contains("CartesianProduct"), "cartesian appeared at 10x")
      must(!plan.contains("SortAggregate"), "HashAggregate demoted to SortAggregate at 10x")
      if (!udfByDesign(name))
        must(!plan.contains("ScalaUDF"), "ScalaUDF appeared in hot path at 10x")
      // queries that rely on a dim broadcast must KEEP it at 10x volume
      if (Set("c20_rollup", "c07_join_agg")(name))
        must(plan.contains("BroadcastHashJoin"), "dim broadcast demoted at 10x")
      // r16: c21's nation lookup is a literal-map probe (no join node at
      // all); it must stay join-free at volume
      if (name == "c21_rank_window")
        must(!plan.contains("Join"), "c21 literal-map lookup regressed to a join at 10x")
      // r13: c20's customer side is the codegen dense-dimension lookup —
      // it must stay in the plan (inside the scan's codegen span), not
      // silently fall back to a join
      if (name == "c20_rollup")
        must(plan.contains("dense_dim_lookup"), "dense dim lookup vanished at 10x")

      def timeOnce(): Double = {
        val t0 = System.nanoTime()
        val d = SparkEntry.queries(name)(spark, dir)
        // unbounded-output queries drain through a foreach sink (collect
        // of a 10x-scaled result would measure driver marshalling)
        if (Set("e01_exact_dedup", "e26_dup_passages", "e24_int8_quantize",
          "e33_lm_score", "e31_domain_mix")(name))
          d.queryExecution.toRdd.foreach(_ => ())
        else d.collect()
        (System.nanoTime() - t0) / 1e9
      }
      val spillBefore = spillBytes.get()
      timeOnce() // warm
      val t = (1 to 3).map(_ => timeOnce()).min
      Thread.sleep(100) // listener bus is async
      val spilled = spillBytes.get() - spillBefore
      val spillNote = if (spilled > 0) f"  SPILLED ${spilled / 1048576}%d MiB" else ""
      println(f"[stress] $name%-22s ${t * 1000}%8.1f ms$spillNote")
    }

    // Candidate-generation bound at 10x volume (VERDICT r5 item 1): the
    // prefix-filtered Jaccard join must emit orders of magnitude fewer
    // candidate pairs than the raw shared-token join — the raw form's
    // hot-key bucket emits b(b−1)/2 pairs per token bucket, growing
    // quadratically with the corpus. The honest metric on THIS corpus is
    // total pair volume (Σ b(b−1)/2 over join-key buckets), not bucket
    // max: the synthetic documents table has a 31-token vocabulary (min
    // df ≈ 0.8·n_docs — every token is hot), so even each doc's rarest
    // token is shared by thousands of docs and no lossless generator can
    // shrink the max bucket; what prefix filtering still cuts is the
    // VOLUME, by ~(prefix/doclen)² per bucket. On a Zipfian vocabulary
    // (real corpora, or shingle keys as in e26) the max bucket collapses
    // too — PrefixFilterJoinSpec pins that shape.
    // Runs over the FULL 10x documents table (not e18's doc_id<500 slice)
    // so the bound is tested where it matters.
    {
      val toks = Tables(spark, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      def pairVolume(keyed: DataFrame, key: String): Long =
        keyed.groupBy(key).count()
          .agg(sum(col("count") * (col("count") - 1)))
          .collect()(0).getLong(0) / 2
      val rawVol = pairVolume(toks, "tok")
      val preVol = pairVolume(operators.PrefixFilterJoin
        .prefixTokens(toks, "doc_id", "tok", 0.95), "ptok")
      println(f"[stress] jaccard candidate volume (31-token worst case): raw ${rawVol}%d pairs, prefix ${preVol}%d pairs (${rawVol.toDouble / preVol}%.0fx reduction)")
      // measured 17x here: with EVERY token in ~77% of docs, even the
      // rarest-token prefix carries df≈0.77n — the residual cut is the
      // (prefix/doclen)² factor alone, the provable floor for any
      // lossless generator on this vocabulary
      if (preVol * 10 > rawVol)
        failed ::= s"prefix candidate bound: $preVol pairs not << raw $rawVol" +
          " — candidate generation is not bounded vs the raw join"

      // Zipfian twin at the SAME doc count: a realistically-shaped key
      // space (100k-token log-uniform vocabulary — df ∝ 1/rank, the shape
      // of any real text corpus) where the strong property must hold: the
      // prefix table's max bucket collapses (rarest tokens have df≈1-10)
      // and the candidate volume drops by orders of magnitude, because
      // hot tokens sort out of every prefix.
      val nd = Tables(spark, dir, "documents").count()
      val zdocs = spark.range(nd).select(col("id").as("doc_id"),
          explode(sequence(lit(0), lit(29))).as("slot"))
        .select(col("doc_id"), concat(lit("z"),
          floor(pow(lit(100000.0),
            pmod(xxhash64(col("doc_id") * 37 + col("slot")), lit(1000000L))
              .cast("double") / lit(1000000.0))).cast("long")).as("tok"))
        .distinct()
      val rawVolZ = pairVolume(zdocs, "tok")
      val preZ = operators.PrefixFilterJoin
        .prefixTokens(zdocs, "doc_id", "tok", 0.95)
      val preVolZ = pairVolume(preZ, "ptok")
      val preMaxZ = preZ.groupBy("ptok").count()
        .agg(max("count")).collect()(0).getLong(0)
      val rawMaxZ = zdocs.groupBy("tok").count()
        .agg(max("count")).collect()(0).getLong(0)
      println(f"[stress] jaccard candidate volume (zipf vocab, $nd%d docs): raw ${rawVolZ}%d pairs (max bucket $rawMaxZ%d), prefix ${preVolZ}%d pairs (max bucket $preMaxZ%d, ${rawVolZ.toDouble / preVolZ}%.0fx reduction)")
      if (preVolZ * 1000 > rawVolZ)
        failed ::= s"zipf prefix volume: $preVolZ not <<< raw $rawVolZ"
      if (preMaxZ * 50 > rawMaxZ)
        failed ::= s"zipf prefix max bucket $preMaxZ did not collapse vs raw $rawMaxZ"
    }

    // Hamming near-dup at volume — the shared banded join behind BOTH
    // e29 (imageAHash64) and e30 (audioEnvelopeHash64), which differ
    // only in the scan-local hash feeding ImageNearDup.pairs: 505k
    // hashes — 500k uniform (xxhash64 of the id) + 5000 planted
    // near-dups (exactly 3 bit flips of an existing hash). The banded
    // join must (a) find EVERY planted pair (pigeonhole losslessness,
    // here exercised at volume rather than by the spec's brute force),
    // (b) generate orders of magnitude fewer candidates than all-pairs,
    // and (c) keep band buckets small — the three properties that make
    // the operator a join, not a scan of n².
    {
      val n = 500000L
      val planted = 5000L
      val base = spark.range(n).select(col("id"), xxhash64(col("id")).as("h"))
      // flip positions p, (p+17)%64, (p+41)%64: fixed distinct nonzero
      // offsets, so the three flipped bits are guaranteed pairwise
      // distinct and every planted pair sits at hamming distance
      // EXACTLY 3 (the prior id%64/(id*31)%64/(id*53)%64 scheme let
      // positions coincide and XOR pairs cancel for some ids)
      val dups = spark.range(planted).select((col("id") + n).as("id"),
        expr("""xxhash64(id)
          ^ shiftleft(1L, cast(id % 64 AS INT))
          ^ shiftleft(1L, cast((id + 17) % 64 AS INT))
          ^ shiftleft(1L, cast((id + 41) % 64 AS INT))""").as("h"))
      val all = base.union(dups)
      val bands = all.select(col("id"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("h"), 16 * i).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band", "bkey")))
      val bucketStats = bands.groupBy("band", "bkey").count()
        .agg(sum(col("count") * (col("count") - 1)) / 2, max("count"))
        .collect()(0)
      val candVol = bucketStats.getDouble(0).toLong
      val maxBucket = bucketStats.getLong(1)
      val allPairs = (n + planted) * (n + planted - 1) / 2
      val pairs = operators.ImageNearDup.pairs(all, "id", "h", maxDist = 3).cache()
      val found = pairs.count()
      val plantedFound = pairs
        .filter(col("id2") === col("id1") + n && col("id1") < planted).count()
      pairs.unpersist()
      println(f"[stress] hamming near-dup (505k hashes): $candVol%d candidate pairs of $allPairs%d all-pairs (${allPairs.toDouble / candVol}%.0fx reduction), max band bucket $maxBucket%d, planted recovered $plantedFound%d/$planted%d, pairs out $found%d")
      if (plantedFound != planted)
        failed ::= s"hamming banding lost planted pairs: $plantedFound of $planted"
      if (candVol * 1000 > allPairs)
        failed ::= s"hamming candidate volume $candVol not <<< all-pairs $allPairs"
      if (maxBucket > 1000)
        failed ::= s"hamming band bucket $maxBucket unbounded"
    }

    // Bucket-parallel mixture cumsum (VERDICT r6 item 1): e31's
    // admission cumsum must never sort a whole language in one task.
    // Two pins: the executed plan's corpus-wide window partitions by
    // (lang, bkt) — the bucket-parallel sort, not the 5-partition
    // per-language form — and at 10x volume the largest (lang, bkt)
    // sort partition stays ~1/256 of its language (the md5 prefix is
    // uniform; asserted with 4x slack).
    {
      val plan = SparkEntry.queries("e31_domain_mix")(spark, dir)
        .queryExecution.executedPlan.toString
      if ("""windowspecdefinition\(lang#\d+, bkt#\d+, rk#\d+ ASC""".r
          .findFirstIn(plan).isEmpty)
        failed ::= "e31: corpus window is not partitioned by (lang, bkt)"
      val docs = Tables(spark, dir, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(col("lang"),
          md5(col("doc_id").cast("string").cast("binary")).as("rk"))
        .withColumn("bkt",
          conv(substring(col("rk"), 1, 2), 16, 10).cast("int"))
      val maxPart = docs.groupBy("lang", "bkt").count()
        .agg(max("count")).collect()(0).getLong(0)
      val perLang = docs.groupBy("lang").count()
        .agg(max("count")).collect()(0).getLong(0)
      println(f"[stress] e31 sort partitions: max $maxPart%d rows per (lang,bkt) vs $perLang%d per language (${perLang.toDouble / maxPart}%.0fx parallel)")
      if (maxPart * 64 > perLang)
        failed ::= s"e31 bucket skew: max (lang,bkt) partition $maxPart not << per-lang $perLang"
    }

    // Bounded LM-score fold (VERDICT r6 item 2): e33 must survive a
    // pathologically long document. Structural pin: collect_list folds
    // the per-(doc, tri) PRE-AGGREGATE — the plan must carry a
    // HashAggregate keyed [doc_id, tri] — so one document contributes
    // at most its DISTINCT trigrams (≤ alphabet³), not one double per
    // character. Executional proof: the 10x corpus plus one 4 MB
    // single-row document scores end-to-end.
    {
      val pdir = "/tmp/graft_stress_longdoc"
      val done = new java.io.File(s"$pdir/_DONE")
      if (!done.exists()) {
        val sz = 4 * 1024 * 1024
        val sb = new StringBuilder(sz)
        var x = 0x9e3779b97f4a7c15L
        while (sb.length < sz) { // LCG over a 26-letter+space alphabet
          x = x * 6364136223846793005L + 1442695040888963407L
          val c = ((x >>> 35) % 27).toInt
          sb.append(if (c == 26) ' ' else ('a' + c).toChar)
        }
        Tables(spark, dir, "documents").unionByName(
          spark.range(1).select(lit(999999999L).as("doc_id"),
            lit(sb.toString).as("text"), lit("en").as("lang"),
            lit("stress").as("source"), lit(sz.toLong).as("n_chars")))
          .repartition(16)
          .write.mode("overwrite").parquet(s"$pdir/documents.parquet")
        done.createNewFile()
        ()
      }
      val df = SparkEntry.queries("e33_lm_score")(spark, pdir)
      val plan = df.queryExecution.executedPlan.toString
      if ("""keys=\[doc_id#\d+L?, tri#\d+\]""".r.findFirstIn(plan).isEmpty)
        failed ::= "e33: no per-(doc, tri) pre-aggregate below the fold"
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.foreach(_ => ())
      println(f"[stress] e33 with one 4 MB document: ${(System.nanoTime() - t0) / 1e6}%.0f ms")

      // e41 through the same long-doc fixture (VERDICT r7 item 2's other
      // half): the 4 MB document is ~150k DISTINCT random words — the
      // exact high-vocabulary shape whose collect_list fold r7 flagged
      // (one list element per distinct token in a single aggregation
      // buffer). The fixed-point fold's state is two longs regardless;
      // pin that structurally (no collect_list anywhere in the plan —
      // the fold is a plain sum) and executionally (scores end-to-end;
      // the stress doc lands in the held-out split: 999999999 % 10 = 9).
      val e41 = SparkEntry.queries("e41_nb_quality")(spark, pdir)
      val e41Plan = e41.queryExecution.executedPlan.toString
      if (e41Plan.contains("collect_list"))
        failed ::= "e41: vocabulary-unbounded collect_list fold reappeared"
      val t1 = System.nanoTime()
      e41.queryExecution.toRdd.foreach(_ => ())
      println(f"[stress] e41 with one 4 MB high-vocabulary document: ${(System.nanoTime() - t1) / 1e6}%.0f ms")
    }

    // Incremental-dedup candidate bound (VERDICT r7 item 7): e38/d15's
    // "work scales with the batch, never the corpus" claim, asserted
    // mechanically at 10x. Probe-side band triples must be EXACTLY
    // 32·batch (the LSH band count — per-trigger work is linear in the
    // arriving batch), and the index×batch candidate volume must be a
    // vanishing fraction of the old×old volume the incremental shape
    // refuses to generate (what a full re-dedup of the corpus would pay
    // per ingest).
    {
      val docs = Tables(spark, dir, "documents")
      val batch = docs.filter(col("doc_id") < 500)
      val index = docs.filter(col("doc_id") >= 500)
      val bT = operators.IncrementalDedup
        .bandTriples(batch, "doc_id", "text").cache()
      val probeTriples = bT.count()
      val batchSize = batch.count()
      val ixCounts = operators.IncrementalDedup
        .bandTriples(index, "doc_id", "text")
        .groupBy("band", "bkey").count().cache()
      val bCounts = bT.groupBy("band", "bkey")
        .agg(count(lit(1)).as("bc"))
      val crossVol = ixCounts.join(bCounts, Seq("band", "bkey"))
        .agg(sum(col("count") * col("bc"))).collect()(0).getLong(0)
      // `/ 2` on a long column is DOUBLE division in Spark — halve after
      val oldOldVol = ixCounts
        .agg(sum(col("count") * (col("count") - 1))).collect()(0).getLong(0) / 2
      bT.unpersist(); ixCounts.unpersist()
      println(f"[stress] incremental dedup (batch $batchSize%d vs 10x index): probe triples $probeTriples%d (= 32·batch), candidate volume $crossVol%d vs old×old $oldOldVol%d never generated (${oldOldVol.toDouble / crossVol}%.0fx avoided)")
      if (probeTriples != 32 * batchSize)
        failed ::= s"e38 probe triples $probeTriples != 32 * batch $batchSize — per-trigger work not linear in the batch"
      if (crossVol * 10 > oldOldVol)
        failed ::= s"e38 candidate volume $crossVol not << old×old $oldOldVol"
    }

    // SemDedup skewed-bucket split (VERDICT r7 item 4): one planted hot
    // bucket — 10k distinct vectors all nearest the same coarse centroid,
    // plus 2k exact copies — must (a) split into sub-buckets that bound
    // the per-group pair volume (the unsplit bucket is quadratic: ~72M
    // candidate pairs here), and (b) remain LOSSLESS on true duplicates:
    // an exact copy has identical sub-centroid cosines, so it must land
    // in its original's sub-bucket and still drop toward it.
    {
      val n = 10000L
      val planted = 2000L
      // component 0 = 10 dominates → every vector argmaxes to centroid 0
      // (the hot bucket); components 1..15 are deterministic uniform
      // [-3, 3] from xxhash64(baseId*31+j), so copies (id >= n) rebuild
      // their base's EXACT floats and non-copy pairs stay far below tau
      val mkVec = expr(
        s"""concat(array(CAST(10.0 AS FLOAT)),
             transform(sequence(1, 15), j -> CAST(
               (pmod(xxhash64((CASE WHEN id >= $n THEN id - $n ELSE id END) * 31 + j), 6000) - 3000)
                 / 1000.0 AS FLOAT)))""")
      val corpus = spark.range(n + planted).select(col("id"), mkVec.as("embedding"))
      val cs: Array[Array[Float]] = Array.tabulate(4) { c =>
        Array.tabulate(16)(j => if (j == c) 1f else 0f)
      }
      val maxBucket = 1000L
      val asg = operators.SemDedup.assignments(corpus, "id", "embedding",
        cs, maxBucket = maxBucket, subK = 16).cache()
      val groups = asg.groupBy("bucket", "sub").count()
      val stats = groups
        .agg(max("count"), sum(col("count") * (col("count") - 1)))
        .collect()(0)
      val maxGroup = stats.getLong(0)
      val pairVol = stats.getLong(1) / 2
      val hotSize = n + planted
      val unsplitPairs = hotSize * (hotSize - 1) / 2
      println(f"[stress] semdedup hot-bucket split (${hotSize}%d vectors, 1 bucket): max (bucket,sub) group $maxGroup%d, candidate pairs $pairVol%d of $unsplitPairs%d unsplit (${unsplitPairs.toDouble / pairVol}%.0fx reduction)")
      if (maxGroup * 4 > hotSize)
        failed ::= s"semdedup split: max sub-group $maxGroup not << hot bucket $hotSize"
      if (pairVol * 8 > unsplitPairs)
        failed ::= s"semdedup split: pair volume $pairVol not << unsplit $unsplitPairs"
      val verdicts = operators.SemDedup.verdicts(corpus, "id", "embedding",
        cs, tau = 0.9999, maxBucket = maxBucket, subK = 16)
      val recovered = verdicts
        .filter(col("id") >= n && col("status") === "dropped" &&
          col("partner") === col("id") - n).count()
      asg.unpersist()
      println(f"[stress] semdedup split losslessness: $recovered%d/$planted%d planted exact copies dropped toward their base")
      if (recovered != planted)
        failed ::= s"semdedup split lost planted dups: $recovered of $planted"
    }

    // Bloom URL-seen at volume (r9): 200k seen URLs into an m=16^5-bit
    // filter (128 KiB fixed state), probed by 1M candidates. Pins:
    // (a) the build emits ONE row whatever the input volume — the
    // fixed-state claim, structurally (two ObjectHashAggregates, the
    // per-task partial emitting one buffer) and by count; (b) the
    // one-sided error law at volume — zero false negatives across all
    // 200k members; (c) the false-positive rate on 800k disjoint
    // candidates lands within 3x of (1-e^{-kn/m})^k both ways (a
    // broken position map shows up as ~0 or ~1, not as the estimate);
    // (d) the probe side stays join-free scan work: the only join in
    // the plan is the 1-row broadcast (BroadcastNestedLoopJoin), no
    // SortMergeJoin, no extra exchange on the candidate side.
    {
      val nSeen = 200000L
      val nCand = 1000000L
      val urls = spark.range(nCand).select(col("id"),
        concat(lit("https://h"), pmod(col("id"), lit(997)),
          lit(".example.com/p/"), col("id")).as("url"))
      val seen = urls.filter(col("id") < nSeen)
      val out = operators.BloomSeen
        .globalFilter(seen, urls, "url", k = 3, hexChars = 5).cache()
      val plan = out.queryExecution.executedPlan.toString
      if (!plan.contains("BroadcastNestedLoopJoin"))
        failed ::= "bloom: probe is not the 1-row broadcast form"
      if (plan.contains("SortMergeJoin") || plan.contains("SortAggregate"))
        failed ::= "bloom: probe/build demoted to a sort-based operator"
      val bloomRows = operators.BloomSeen
        .bitmap(seen, "url", k = 3, hexChars = 5).count()
      val falseNeg = out.filter(col("id") < nSeen && !col("maybe_seen")).count()
      val fp = out.filter(col("id") >= nSeen && col("maybe_seen")).count()
      out.unpersist()
      val est = math.pow(1.0 - math.exp(-3.0 * nSeen / (1 << 20).toDouble), 3)
      val rate = fp.toDouble / (nCand - nSeen)
      println(f"[stress] bloom url-seen (200k seen, 1M probed, m=2^20): false negatives $falseNeg%d, fp rate $rate%.4f vs estimate $est%.4f, build rows $bloomRows%d")
      if (bloomRows != 1L) failed ::= s"bloom build emitted $bloomRows rows, not 1"
      if (falseNeg != 0L) failed ::= s"bloom: $falseNeg false negatives — one-sided error law broken"
      if (rate > est * 3 || rate * 3 < est)
        failed ::= f"bloom fp rate $rate%.4f not within 3x of estimate $est%.4f"
    }

    // Link extraction on a pathological page (r9): one 4 MB HTML
    // document — ~59k real anchors interleaved with commented-out
    // anchors, script-rawtext anchors and quoted-'>' traps every few
    // links — must extract exactly the real ones in linear time. A
    // quadratic walker (the pre-r7 char_trigrams failure shape) or one
    // that miscounts under the traps fails here, not in production.
    {
      val sb = new StringBuilder(4 * 1024 * 1024 + 4096)
      var realLinks = 0L
      var i = 0
      while (sb.length < 4 * 1024 * 1024) {
        i += 1
        if (i % 5 == 0) sb.append(s"<!-- <a href=/hidden$i>x</a> -->")
        else if (i % 7 == 3) sb.append(s"<script>w('<a href=/js$i>');</script>")
        else {
          sb.append(s"""<a title="t>$i" href="/l$i?a=1&amp;b=$i">link $i</a> text""")
          realLinks += 1
        }
      }
      val html = sb.toString
      val t0 = System.nanoTime()
      val arr = graft.functions.HtmlLinks.links(
        org.apache.spark.unsafe.types.UTF8String.fromString(html))
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[stress] html_links on a 4 MB page: ${arr.numElements()}%d links ($realLinks%d planted) in $ms%.0f ms")
      if (arr.numElements().toLong != realLinks)
        failed ::= s"html_links extracted ${arr.numElements()} of $realLinks planted anchors on the 4 MB page"
      if (ms > 2000)
        failed ::= f"html_links took $ms%.0f ms on 4 MB — not linear-time behavior"
    }

    // e84b bucketed contrastive mining (r10, VERDICT r9 item 3): pair
    // volume must be Σ_b n_b·(n_b−1) — bounded by the bucket histogram,
    // never the corpus all-pairs n·(n−1) — and the bucket join must plan
    // as an equi-join (shuffle/broadcast hash), not a cartesian. Runs the
    // real assignment (IvfAnn.assign over md5 spread-sample centroids, the
    // e84b construction) on the full sf0.1 embeddings table.
    {
      val emb = Tables(spark, dir, "embeddings")
      val k = 8
      val cs: Array[Array[Float]] = emb
        .select(col("vec_id").cast("string").as("id"), col("embedding"))
        .orderBy(md5(col("id").cast("binary")), col("id"))
        .limit(k).collect().map(_.getSeq[Float](1).toArray)
      val indexed = graft.operators.IvfAnn.assign(emb, "embedding", cs)
        .select(col("__ivf_bucket").as("bucket"), col("vec_id"))
      val hist = indexed.groupBy(col("bucket")).count()
        .collect().map(r => r.getLong(1))
      val expectedPairs = hist.map(n => n * (n - 1)).sum
      val n = hist.sum
      val allPairs = n * (n - 1)
      val joined = indexed.as("a").join(indexed.as("b"), Seq("bucket"))
        .filter(col("a.vec_id") =!= col("b.vec_id"))
      val pairCount = joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      println(f"[stress] e84b bucketed pairs ($n%d vectors, $k%d buckets): $pairCount%d pairs vs all-pairs $allPairs%d (${allPairs.toDouble / pairCount}%.1fx avoided)")
      if (pairCount != expectedPairs)
        failed ::= s"e84b pair volume $pairCount != Σ bucket n(n−1) $expectedPairs"
      if (pairCount * 2 > allPairs)
        failed ::= s"e84b pair volume $pairCount not < half of all-pairs $allPairs — bucketing isn't pruning"
      if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoop"))
        failed ::= "e84b bucket join planned as a cartesian/BNLJ, not an equi-join"
    }

    // e92 Kneser-Ney scorer (r10): the fold must consume the
    // per-(doc, w1, w2) PRE-AGGREGATE — one document contributes its
    // DISTINCT bigrams, never one double per token — and the three
    // model joins must stay hash joins (the count tables are
    // type-bounded and broadcast at scale; a BNLJ/cartesian here would
    // be corpus² at 100 TB). Executional: the query runs end-to-end on
    // the 10x corpus.
    {
      val q = SparkEntry.queries("e92_kn_bigram")(spark, dir)
      val plan = q.queryExecution.executedPlan.toString
      if ("""HashAggregate\(keys=\[doc_id#\d+L?, w1#\d+, w2#\d+\]""".r
          .findFirstIn(plan).isEmpty)
        failed ::= "e92: no per-(doc,w1,w2) pre-aggregate in the plan"
      if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoop"))
        failed ::= "e92: a model join planned as cartesian/BNLJ"
      val rows = q.count()
      println(s"[stress] e92 KN at 10x: $rows docs scored; pre-agg keyed, no cartesian/BNLJ")
      if (rows == 0) failed ::= "e92: zero docs scored at 10x"
    }

    // GeoParquet 1.1 covering READ-side proof at 10x (r16, VERDICT item
    // 5): a07 pins the footer WRITE; this pins that a spatial filter
    // over a covering-column dataset actually skips row groups at
    // volume. 2M range-sorted points → 32 files with disjoint __bbox
    // stats; a 3%-slice st_intersects must (a) push __bbox_* range
    // predicates into the scan and (b) leave scan numOutputRows ≪ total
    // (FileSourceScan emits rows of SURVIVING row groups only — stats
    // skip evidence, the exact Filter node above re-checks row-level).
    {
      val covDir = s"$dir/geo_covering_10x.parquet"
      if (!new java.io.File(s"$covDir/_SUCCESS").exists()) {
        val pts = spark.range(2000000L).select(col("id"),
          GeoFunctions.st_point(col("id").cast("double"), lit(0.0)).as("geometry"))
          .repartitionByRange(32, col("id"))
        geo.GeoParquet.write(pts, covDir, Seq("geometry"), addBboxColumn = true)
      }
      val box = GeoFunctions.stMakeBoxF(0.0, -1.0, 60000.0, 1.0) // 3% slice
      val q = geo.GeoParquet.read(spark, covDir)
        .filter(call_udf("st_intersects", col("geometry"), lit(box)))
        .select(col("id"))
      val plan = q.queryExecution.executedPlan.toString
      if (!(plan.contains("PushedFilters") && plan.contains("__bbox_geometry.xmin")))
        failed ::= "covering 10x: __bbox range predicates not pushed to the scan"
      // collect() executes q ITSELF, so the metrics read below come from
      // the very plan that ran (count() would build a different plan and
      // leave q's scan metrics at zero)
      val got = q.collect().length
      if (got != 60001)
        failed ::= s"covering 10x: expected 60001 rows, got $got"
      val scanned = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      println(f"[stress] covering prune at 10x: scan emitted $scanned%d of 2000000 rows (${2000000.0 / scanned}%.0fx row-group skip)")
      if (scanned > 500000L)
        failed ::= s"covering 10x: scan emitted $scanned of 2000000 rows — row groups not skipped"
    }

    if (spillBytes.get() > 0)
      failed ::= s"spill: ${spillBytes.get()} bytes spilled across the stress runs"
    if (failed.nonEmpty) {
      failed.foreach(f => println(s"[stress] SHAPE FAIL: $f"))
      sys.exit(1)
    }
    println("[stress] all plan shapes hold at 10x")
    spark.stop()
  }
}
