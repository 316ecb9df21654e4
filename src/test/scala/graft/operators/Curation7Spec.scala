package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** Planted-scenario laws for the embedding-curation family: the
  * fixed-point outlier distance replayed exactly in plain JVM integers,
  * the rank-rule flag count, round-robin coverage of the diversity
  * sample, and the bounded-aggregate selection replica.
  */
class Curation7Spec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def hk(x: Long): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(x.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16)
  }

  private def writeEmb(rows: Seq[(Long, Array[Float], Int)]): String = {
    val s = spark; import s.implicits._
    val dir = tempDir("graft-c7").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("emb_outlier: flags exactly the planted far vector; d2n matches the integer replica") {
    // label 0: 19 vectors in a tight ball + 1 far vector = 20 members,
    // so the rank rule flags ceil(20/20) = exactly 1
    val dim = 4
    val near = (0L until 19L).map { i =>
      (i, Array.tabulate(dim)(p => 0.1f + 0.001f * ((i + p) % 3)), 0)
    }
    val far = (19L, Array.fill(dim)(0.5f), 0)
    val rows = near :+ far
    val dir = writeEmb(rows)
    val got = Curation7.embOutlier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSeq

    // plain-JVM integer replica of the fixed-point distance
    val fx: Map[Long, Array[Long]] = rows.map { case (id, v, _) =>
      id -> v.map(x => math.round(x.toDouble * Curation7.OutlierQ))
    }.toMap
    val n = rows.size.toLong
    val s = Array.tabulate(dim)(p => fx.valuesIterator.map(_(p)).sum)
    val d2nExp: Map[Long, Long] = fx.map { case (id, v) =>
      id -> Array.tabulate(dim) { p =>
        val delta = v(p) * n - s(p); delta * delta
      }.sum
    }
    got.foreach { case (id, d2n, _) =>
      assert(d2n == d2nExp(id), s"d2n of $id must equal the integer replica")
    }
    val flagged = got.filter(_._3).map(_._1)
    assert(flagged == Seq(19L), "exactly the planted far vector is the outlier")
  }

  test("emb_outlier: flag count per label is ceil(n/20) and groups are independent") {
    val dim = 3
    // label 1: 45 members => ceil(45/20) = 3 flagged; label 2: 5 => 1
    val g1 = (100L until 145L).map(i => (i, Array.tabulate(dim)(p => (i % 7 + p).toFloat / 100f), 1))
    val g2 = (200L until 205L).map(i => (i, Array.tabulate(dim)(p => (i % 5 + p).toFloat / 100f), 2))
    val dir = writeEmb(g1 ++ g2)
    val byLabel = Curation7.embOutlier(spark, dir).collect()
      .groupBy(_.getInt(1)).view.mapValues(_.count(_.getBoolean(3))).toMap
    assert(byLabel(1) == 3 && byLabel(2) == 1)
  }

  test("diversity_sample: selection equals the plain-Scala round-robin replica on the fixture") {
    val d = "/root/testdata/sf0.001"
    val got = Curation7.diversitySample(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

    // replica: collect the deterministic cell assignment, rank by (hk, id)
    // within cell, round-robin to K
    import spark.implicits._
    val cells = Similarity.ivfAssign(
        Similarity.ivfCentroids(spark, d), Similarity.normedEmb(spark, d), "vec_id", 1)
      .select($"vec_id", $"cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ranked = cells.groupBy(_._2).toSeq.flatMap { case (cid, members) =>
      members.map(_._1).sortBy(id => (hk(id), id)).zipWithIndex
        .map { case (id, i) => (id, cid, (i + 1).toLong) }
    }
    val exp = ranked.sortBy { case (id, cid, rn) => (rn, cid, id) }
      .take(Curation7.DiversityK).sortBy(_._1)
    assert(got == exp, "sample must equal the round-robin replica")

    // coverage law: every populated cell contributes before any cell
    // contributes twice — cell counts differ by more than 1 only when the
    // smaller cell is exhausted
    val sizeOf = cells.groupBy(_._2).view.mapValues(_.size).toMap
    val pick = got.groupBy(_._2).view.mapValues(_.size).toMap
    for ((ca, na) <- pick; (cb, nb) <- pick if na > nb + 1)
      assert(pick(cb) == sizeOf(cb),
        s"cell $ca got $na while non-exhausted cell $cb got $nb")
  }

  test("emb_random_projection: histogram replays the JVM sign-matrix replica and covers every vector") {
    val d = "/root/testdata/sf0.001"
    val got = Curation7.embRandomProjection(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s = spark; import s.implicits._
    val vecs = graft.queries.Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    assert(got.values.sum == vecs.length, "every vector lands in exactly one bucket")
    // JVM replica: md5-parity sign matrix, quantized integer sums, ppm ratio
    def md5hex(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sgn(k: Int, pos: Int): Long =
      1L - 2L * (java.lang.Long.parseLong(md5hex(s"$k:$pos").take(8), 16) % 2)
    val expBuckets = vecs.map { case (_, v) =>
      val fx = v.map(x => math.round(x.toDouble * Curation7.OutlierQ))
      val n2 = fx.map(f => f * f).sum
      val p2 = (0 until Curation7.JlDim).map { k =>
        val p = fx.indices.map(i => sgn(k, i) * fx(i)).sum
        p * p
      }.sum
      (p2 * 1000000L) / (Curation7.JlDim * n2) / 100000L
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got == expBuckets, s"histogram must equal the JVM replica: got $got exp $expBuckets")
  }

  test("epoch_plan: shares, targets, and the full-epochs/remainder identity replay by hand") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c7e").toString
    // src1 (share 2) has 10-token docs x 3; src2 (share 3) has 5-token docs x 2
    Seq(
      (1L, (1 to 10).map("a" + _).mkString(" "), "src1"),
      (2L, (1 to 10).map("b" + _).mkString(" "), "src1"),
      (3L, (1 to 10).map("c" + _).mkString(" "), "src1"),
      (4L, (1 to 5).map("d" + _).mkString(" "), "src2"),
      (5L, (1 to 5).map("e" + _).mkString(" "), "src2"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curation7.epochPlan(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val b = Curation7.EpochBudgetTokens
    // shares: src1 -> 1%4+1 = 2, src2 -> 2%4+1 = 3; total 5
    val t1 = b * 2 / 5; val t2 = b * 3 / 5
    assert(got("src1") == ((3L, 30L, 2L, t1, t1 / 30, t1 % 30)), s"src1: ${got("src1")}")
    assert(got("src2") == ((2L, 10L, 3L, t2, t2 / 10, t2 % 10)), s"src2: ${got("src2")}")
    got.values.foreach { case (_, sumTok, _, target, full, rem) =>
      assert(target == full * sumTok + rem && rem >= 0 && rem < sumTok,
        "identity target = full*size + remainder must hold")
    }
  }

  test("q69_value_anomaly: only the planted spike day is flagged; the rank-rule medians are exact") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c7an").toString
    // 7 days of value 10.0 + one spike day of 1000.0 for one event type
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 12, 0, 0)
    val rows = (0 until 7).map { day =>
      (day.toLong, t0.plusDays(day), 1L, "view", 10.0, "{}")
    } :+ ((7L, t0.plusDays(7), 1L, "view", 1000.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.q69ValueAnomaly(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // median of 8 days = lower median = 10e6; MAD = 0 -> any deviation flags
    got.foreach { case (_, sumMicro, med, mad, flag) =>
      assert(med == 10000000L && mad == 0L)
      assert(flag == (sumMicro != 10000000L), s"only the spike day flags: $got")
    }
    assert(got.count(_._5) == 1)
  }

  test("emb_drift_score: identical slices score zero, a shifted slice scores positive") {
    val s = spark
    import s.implicits._
    val dirSame = tempDir("graft-c7ds").toString
    // even/odd ids carry identical vectors -> drift numerator must be 0
    val same = (0L until 20L).map(i => (i, Array.fill(4)(0.25f + (i / 2 % 3) * 0.01f), 0))
    same.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dirSame/embeddings.parquet")
    val zero = Curation7.embDriftScore(spark, dirSame).collect().head
    assert(zero.getLong(3) == 0L, s"identical slices must score 0: $zero")
    val dirShift = tempDir("graft-c7ds2").toString
    val shifted = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 0.2f else 0.4f
      (i, Array.fill(4)(base), 0)
    }
    shifted.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dirShift/embeddings.parquet")
    val drift = Curation7.embDriftScore(spark, dirShift).collect().head
    assert(drift.getLong(3) > 0L, "shifted slice must score positive drift")
  }

  test("q70_seasonal_baseline: leave-one-out error replays by hand on a planted fortnight") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c7sb").toString
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 12, 0, 0)
    // two observations of the same weekday: values 10.0 and 16.0
    val rows = Seq(
      (0L, t0, 1L, "view", 10.0, "{}"),
      (1L, t0.plusDays(7), 1L, "view", 16.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.queries.Relational3.q70SeasonalBaseline(spark, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    // n=2: each day's baseline is the OTHER day; err = |10-16|e6 per day,
    // num = sum over both days with den = n-1 = 1
    assert(got.toSeq == Seq((2L, 12000000L, 1L)), s"hand replica: ${got.toSeq}")
  }

  test("q71_fk_integrity: a planted orphan order is counted on exactly its edge") {
    val s = spark
    import s.implicits._
    val src = "/root/testdata/sf0.001"
    val dir = tempDir("graft-c7fk").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "lineitem"))
      spark.read.parquet(s"$src/$t.parquet").write.parquet(s"$dir/$t.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val orphan = orders.limit(1)
      .withColumn("o_orderkey",
        org.apache.spark.sql.functions.lit(999999999L))
      .withColumn("o_custkey",
        org.apache.spark.sql.functions.lit(888888888L)) // no such customer
    orders.unionByName(orphan).write.parquet(s"$dir/orders.parquet")
    val got = graft.queries.Relational3.q71FkIntegrity(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("orders->customer")._2 == 1L, s"planted orphan must count: $got")
    assert(got("nation->region")._2 == 0L && got("customer->nation")._2 == 0L)
    // the orphan ORDER also strands no lineitem (no lineitem references it)
    assert(got("lineitem->orders")._2 == 0L)
  }

  test("cluster map is a train-once artifact: consumers share one build per corpus") {
    val d = "/root/testdata/sf0.001"
    Curation7.dedupCrossCorpus(spark, d).collect()
    Dedup.dedupClusterStats(spark, d).collect()
    Dedup.dedupKeepCanonical(spark, d).collect()
    // since round 15 the standing map builds from the LSH kernel;
    // since round 19 its key carries the LSH parameters that actually
    // shape the artifact (not the exact-kernel df cap, inert here)
    val key = s"cc-clusters-lsh|$d|${Dedup.LshParamsKey}" +
      s"|in=${Models.inputFingerprint(s"$d/documents.parquet")}"
    assert(Models.builds(key) == 1,
      s"cluster map must build exactly once per JVM, built ${Models.builds(key)} times")
  }

  test("LshParamsKey carries every constant that shapes an LSH artifact (r20 fold)") {
    // the r19 ADVICE hazard, pinned: the shared key fragment must name
    // the shingle width and the verify threshold alongside the banding
    // constants, or changing one silently reuses stale cluster-map /
    // pagerank / ccdelta artifacts. The SQL oracles must interpolate
    // the SAME threshold, or Spark and DuckDB verify different pairs.
    val k = Dedup.LshParamsKey
    assert(k.contains(s"sh=${Dedup.ShingleSize}"), s"key misses shingle width: $k")
    assert(k.contains(s"j=${Dedup.JaccardThreshold}"), s"key misses verify threshold: $k")
    val thr = s">= ${Dedup.JaccardThreshold}"
    // EVERY oracle whose HAVING clause verifies near-dup pairs must
    // interpolate the constant — not just Dedup's four (r20 ADVICE: a
    // literal 0.8 left behind in the other modules would pass a
    // Dedup-only law silently while Spark and DuckDB verify different
    // pairs after a threshold change)
    for ((name, sql) <- Seq("ngram_jaccard" -> Dedup.dedupNgramJaccardSql,
        "minhash_lsh" -> Dedup.dedupMinhashLshSql,
        "cc" -> Dedup.dedupClustersSql,
        "keep_canonical" -> Dedup.dedupKeepCanonicalSql,
        "dup_source_matrix" -> Curation4.dupSourceMatrixSql,
        "contrastive_pairs" -> Curation7.contrastivePairsSql,
        "dedup_incremental" -> Dedup2.dedupIncrementalSql,
        "stream_incremental_dedup" ->
          graft.queries.Streaming2.streamIncrementalDedupSql))
      assert(sql.contains(thr), s"$name oracle does not interpolate JaccardThreshold")
  }

  test("pipeline_shards: composition equals trim-replica ∩ canonical survivors, resharded") {
    val d = "/root/testdata/sf0.001"
    val s = spark; import s.implicits._
    val got = Curation7.pipelineShards(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent replica: JVM trim verdicts (histogram math) ∩ the
    // already-spec'd keep-canonical verdicts, then the prefix-sum shards
    val docs = graft.queries.Tables.documents(spark, d)
      .select($"doc_id", $"n_chars", $"text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).trim.split("\\s+").length.toLong))
    val byLen = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = docs.length.toLong
    val lowCnt = n * Curation7.TrimPct / 100
    val lens = byLen.keys.toSeq.sorted
    val cums = lens.scanLeft(0L)(_ + byLen(_)).tail
    val cumOf = lens.zip(cums).toMap
    def keptLen(l: Long): Boolean =
      !(cumOf(l) <= lowCnt) && !((n - cumOf(l) + byLen(l)) <= lowCnt)
    val canon = Dedup.dedupKeepCanonical(spark, d).filter($"keep")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    var cum = 0L
    val exp = docs.filter(x => keptLen(x._2) && canon(x._1)).sortBy(_._1).map { case (id, _, t) =>
      val start = cum; cum += t; (start / Curation7.ShardTokens, id, t)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (sid, rows) =>
      (sid, rows.length.toLong, rows.map(_._3).sum)
    }
    assert(got.toSeq == exp, s"composed shards must equal the stagewise replica")
  }

  test("vocab_growth_curve: planted first appearances produce the hand-computed curve with explicit zeros") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c7vg").toString
    // 8 docs = 8 checkpoints; docs 2 and 5..7 introduce nothing new
    Seq(
      (0L, "a b", "s"), (1L, "a c", "s"), (2L, "b c a", "s"), (3L, "d", "s"),
      (4L, "e d", "s"), (5L, "a e", "s"), (6L, "b", "s"), (7L, "c d e", "s"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curation7.vocabGrowthCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exp = Seq((0L, 2L, 2L), (1L, 1L, 3L), (2L, 0L, 3L), (3L, 1L, 4L),
      (4L, 1L, 5L), (5L, 0L, 5L), (6L, 0L, 5L), (7L, 0L, 5L))
    assert(got == exp, s"curve must equal the hand computation: $got")
  }

  test("length_outlier_trim: tails cut by whole buckets, straddling buckets survive") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c7lt").toString
    // 100 docs, lengths 1..100 (n_chars = doc_id): lowCnt = 5 -> lengths
    // 1..5 cut short, 96..100 cut long
    val base = (1L to 100L).map(i => (i, "x", "srcA", i))
    base.toDF("doc_id", "text", "source", "n_chars")
      .selectExpr("doc_id", "text", "'en' AS lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curation7.lengthOutlierTrim(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).head
    assert(got == ((100L, 90L, 5L, 5L, (6L to 95L).sum)), s"uniform lengths: $got")
    // straddling bucket: 10 equal-length docs at the bottom, lowCnt = 5 <
    // bucket mass 10 -> the whole bucket survives (never split mid-bucket)
    val dir2 = tempDir("graft-c7lt2").toString
    val tie = (1L to 10L).map(i => (i, "x", "srcA", 3L)) ++
      (11L to 100L).map(i => (i, "x", "srcA", i))
    tie.toDF("doc_id", "text", "source", "n_chars")
      .selectExpr("doc_id", "text", "'en' AS lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val got2 = Curation7.lengthOutlierTrim(spark, dir2).collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).head
    assert(got2._2 == 0L, s"straddling bottom bucket must survive: $got2")
  }

  test("emb_coverage_audit: planted missing vectors and orphans are accounted exactly") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c7cov").toString
    Seq((1L, "t1", "srcA"), (2L, "t2", "srcA"), (3L, "t3", "srcA"), (4L, "t4", "srcB"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, Array(0.1f), 0), (2L, Array(0.2f), 0), (4L, Array(0.3f), 1), (99L, Array(0.4f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Curation7.embCoverageAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("srcA") == ((3L, 2L, 1L, 666666L)), s"srcA: ${got("srcA")}")
    assert(got("srcB") == ((1L, 1L, 0L, 1000000L)), s"srcB: ${got("srcB")}")
    assert(got("_orphan_vectors") == ((1L, 0L, 0L, 0L)), s"orphans: ${got("_orphan_vectors")}")
  }

  test("shard_plan: shards replay the JVM prefix-sum replica (boundary stitch included)") {
    val d = "/root/testdata/sf0.001"
    val got = Curation7.shardPlan(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val s = spark; import s.implicits._
    val docs = graft.queries.Tables.documents(spark, d)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong))
      .sortBy(_._1)
    var cum = 0L
    val exp = docs.map { case (id, n) =>
      val start = cum; cum += n; (start / Curation7.ShardTokens, id, n)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (sid, rows) =>
      (sid, rows.length.toLong, rows.map(_._3).sum, rows.map(_._2).min, rows.map(_._2).max)
    }
    assert(got.toSeq == exp, s"shard table must equal the JVM replica")
    // no doc is split and every token is assigned exactly once
    assert(got.map(_._3).sum == docs.map(_._2).sum)
  }

  test("dedup_cross_corpus: lower-priority copies cede, same-source dups drop, singletons keep") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-c7x").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    // cluster A: src2 vs src10 copies (1-token mutation) -> src10 cedes
    // cluster B: two src5 copies -> one same-source drop
    // plus two singletons
    Seq(
      (1L, base, "src10"), (2L, base.replace("tok7", "mut7"), "src2"),
      (3L, (1 to 40).map(i => s"b$i").mkString(" "), "src5"),
      (4L, (1 to 40).map(i => s"b$i").mkString(" ").replace("b9 ", "y9 "), "src5"),
      (5L, (1 to 40).map(i => s"only$i").mkString(" "), "src0"),
      (6L, (1 to 40).map(i => s"solo$i").mkString(" "), "src10"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curation7.dedupCrossCorpus(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("src2") == ((1L, 1L, 0L, 0L)), s"src2 keeps its copy: ${got("src2")}")
    assert(got("src10") == ((2L, 1L, 1L, 0L)),
      s"src10: singleton kept, near-dup ceded to src2: ${got("src10")}")
    assert(got("src5") == ((2L, 1L, 0L, 1L)),
      s"src5: one kept, one same-source drop: ${got("src5")}")
    assert(got("src0") == ((1L, 1L, 0L, 0L)), s"src0 singleton keeps: ${got("src0")}")
  }

  test("contrastive_pairs: negatives are the exact global ring successors (boundary stitch law)") {
    val d = "/root/testdata/sf0.001"
    val got = Curation7.contrastivePairs(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val pos = got.filter(_._1 == "pos").map(p => (p._2, p._3)).toSet
    assert(pos.nonEmpty, "fixture must carry verified near-dup pairs")
    // plain-JVM replica of the md5 ring: successor of each doc with wrap
    val s = spark; import s.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select($"doc_id").collect().map(_.getLong(0))
    val ringOrder = ids.sortBy(id => (hk(id), id))
    val succOf = ringOrder.zip(ringOrder.drop(1) :+ ringOrder.head).toMap
    val anchors = pos.flatMap(p => Seq(p._1, p._2))
    val negs = got.filter(_._1 == "neg").map(n => n._2 -> n._3).toMap
    anchors.foreach { a =>
      val expSucc = succOf(a)
      val isPartner = pos.contains((a, expSucc)) || pos.contains((expSucc, a))
      if (isPartner)
        assert(!negs.contains(a), s"anchor $a: partner successor must be excluded")
      else
        assert(negs.get(a).contains(expSucc),
          s"anchor $a: negative must be the global ring successor $expSucc, got ${negs.get(a)}")
    }
    assert(negs.keySet.subsetOf(anchors), "negatives only for anchors")
  }

  test("emb_outlier: i64 headroom guard fires loudly on an over-bound group") {
    val s = spark; import s.implicits._
    // coordinates of ~1e7 make |fx| ~ 4e10, so Σ_pos (2·mfx·n)² blows past
    // 2^63 with just 3 vectors — the guard must throw, not wrap d2n
    val big = (0L until 3L).map(i => (i, Array.fill(4)(1.0e7f + i), 0))
    val ex = intercept[IllegalStateException] {
      Curation7.embOutlierOf(big.toDF("vec_id", "embedding", "label")).collect()
    }
    assert(ex.getMessage.contains("headroom exceeded"), ex.getMessage)
  }

  test("emb_outlier: guard stays silent at fixture coordinate range") {
    // sanity companion: the gate corpus shape never trips the guard
    val got = Curation7.embOutlier(spark, "/root/testdata/sf0.001").count()
    assert(got > 0)
  }

  test("diversity_sample: K-bounded output and prefix ranks per cell") {
    val d = "/root/testdata/sf0.001"
    val got = Curation7.diversitySample(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length <= Curation7.DiversityK)
    got.groupBy(_._2).foreach { case (cid, rows) =>
      val rns = rows.map(_._3).sorted.toVector
      assert(rns == (1L to rns.length).toVector,
        s"cell $cid ranks must be a 1..n prefix (round-robin admits in rank order)")
    }
  }
}
