package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Parity.{shingles, tokens}
import graft.functions.TextFunctions._
import graft.functions.SimHash
import graft.SuiteTempDirs

/** Behavioral specs for the training-pipeline operators on planted
  * fixtures (the oracle gate covers the driver tables; these cover the
  * properties the oracle can't express: simhash locality, LSH recall,
  * lang-id accuracy, decoder lifecycle). */
class ExtensionOpsSpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private val sf = "/root/testdata/sf0.001"

  test("simhash: identical docs collide, near-dups land close, unrelated far") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely different words about spark catalyst execution engines")
    ).toDF("doc_id", "text")
    val sigs = docs.select($"doc_id", simhash(tokens($"text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) <= 12)
    assert(ham(sigs(1L), sigs(4L)) > 12)
  }

  test("simhash column expression matches static implementation") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val viaCol = df.select(simhash(tokens($"text"))).head.getLong(0)
    // independently: same tokens through the static path
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array("a", "b", "c", "d", "e", "f", "g")
        .map(org.apache.spark.unsafe.types.UTF8String.fromString))
    assert(viaCol == SimHash.compute(arr))
  }

  test("minhash signatures: agreement rate tracks jaccard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 XX"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12 z13 z14 z15 z16 z17 z18 z19 z20")
    ).toDF("doc_id", "text")
    val sigs = docs
      .select($"doc_id", minhashSignature(shingles(tokens($"text"), 3), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    // docs 1,2 share 15/21 shingles (J ~ 0.65): agreement should be high
    assert(agree(sigs(1L), sigs(2L)) > 0.4)
    // unrelated docs: near-zero agreement
    assert(agree(sigs(1L), sigs(3L)) < 0.1)
  }

  test("lsh band keys find planted near-dup as candidate") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 30).map(i => s"tok$i").mkString(" ")),
      (2L, ((1 to 29).map(i => s"tok$i") :+ "CHANGED").mkString(" ")),
      (3L, (100 to 130).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val bands = docs.select($"doc_id",
      posexplode(lshBandKeys(minhashSignature(shingles(tokens($"text"), 3), 64), 32, 2))
        .as(Seq("bi", "bk")))
    val cands = bands.as("a").join(bands.as("b"),
        $"a.bi" === $"b.bi" && $"a.bk" === $"b.bk" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)))
  }

  test("ann LSH top-k achieves reasonable recall vs brute force") {
    val brute = Similarity.annTopKBrute(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.annTopKLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    info(s"recall@5 = $recall (${lsh.size} lsh rows, ${brute.size} brute rows)")
    assert(recall >= 0.4, s"LSH recall collapsed: $recall")
  }

  test("ann IVF top-k achieves reasonable recall vs brute force") {
    val brute = Similarity.annTopKBrute(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.annTopKIvf(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    info(s"IVF recall@5 = $recall")
    assert(ivf.nonEmpty)
    assert(recall >= 0.3, s"IVF recall collapsed: $recall")
  }

  test("ann PQ-ADC: a planted probe copy attains the minimal possible ADC distance") {
    import spark.implicits._
    // A copy of a probe vector encodes to the per-subspace argmins of the
    // probe's OWN distance table, so no vector in the corpus can score
    // strictly below it — the asymmetric distance is exact w.r.t. the
    // quantized representation. Plant copies under fresh high vec_ids
    // (the probe set is the 64 LOWEST ids, so probes are unchanged).
    val dir = tempDir("graft-pqann").toString
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val maxId = base.agg(max($"vec_id")).head().getLong(0)
    val copies = base.orderBy($"vec_id").limit(8)
      .select(($"vec_id" + maxId + 1).as("vec_id"), $"embedding")
    base.unionByName(copies).write.parquet(s"$dir/embeddings.parquet")

    val out = Clustering.annTopKPq(spark, dir).collect()
      .groupBy(_.getLong(0))
    (0 until 8).foreach { i =>
      val q = i.toLong // probes are the lowest vec_ids, 0-based here
      val rows = out(q).sortBy(_.getInt(1))
      val copyId = maxId + 1 + q
      val hit = rows.find(_.getLong(2) == copyId)
      assert(hit.isDefined, s"probe $q: planted copy $copyId missing from top-5: " +
        rows.map(_.getLong(2)).mkString(","))
      assert(hit.get.getDouble(3) == rows.head.getDouble(3),
        s"probe $q: copy's ADC ${hit.get.getDouble(3)} above the minimum ${rows.head.getDouble(3)}")
    }
  }

  test("ann PQ-ADC recall vs exact L2 stays above the 16-bit-code floor") {
    import spark.implicits._
    // Measured 0.145-0.147 at sf0.001/sf0.01: the information limit of a
    // 2-byte (M=4 x 4-bit) code over UNCLUSTERED synthetic vectors, not a
    // defect — random top-5 of ~160 would read ~0.03, so the floor still
    // catches scrambled codes / broken tables while admitting the data's
    // honest ceiling. Real corpora with cluster structure score far
    // higher at the same code budget.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select($"vec_id", $"embedding")
    val probes = emb.orderBy($"vec_id").limit(Similarity.NProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val dot = graft.functions.VectorOps.dotf _
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d", $"vec_id")
    val exact = emb.crossJoin(broadcast(probes)).filter($"vec_id" =!= $"query_id")
      .withColumn("d", dot($"embedding", $"embedding") - lit(2.0) * dot($"qv", $"embedding"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Clustering.annTopKPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    info(s"PQ-ADC recall@5 vs exact L2 = $recall")
    assert(recall >= 0.10, s"ADC recall collapsed below the code-budget floor: $recall")
  }

  test("decontaminate_emb: planted leak counted, clean eval vector still reports zero") {
    import spark.implicits._
    val dir = tempDir("graft-emb-decon").toString
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    // eval ids are % 10 == 7: id 7 gets an exact train copy (id 3 -> sim
    // 1.0); id 17 is random, so far from everything (64-dim gaussians
    // concentrate near orthogonal). Filler train ids skip % 10 == 7.
    val leakTarget = vec()
    val rows = Seq(7L -> leakTarget, 3L -> leakTarget, 17L -> vec()) ++
      (20L to 50L).filter(_ % 10 != 7).map(_ -> vec())
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.decontaminateEmb(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got.keySet == Set(7L, 17L), s"every eval vector must report: $got")
    val (leaks7, max7, near7) = got(7L)
    assert(leaks7 == 1L && max7 == 1.0 && near7 == 3L,
      s"planted exact-copy leak not reported: $got")
    val (leaks17, max17, _) = got(17L)
    assert(leaks17 == 0L, s"clean eval vector reported a leak: $got")
    assert(max17 < Similarity.EmbContamTau,
      s"clean eval vector's max cosine must sit below the threshold: $got")
  }

  test("dedup_embedding_cosine finds planted near-dups without a cartesian plan") {
    import spark.implicits._
    val dir = tempDir("graft-emb").toString
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.map(x => x + 0.01f)  // cosine ~ 1
    val rows = Seq(1L -> base, 2L -> nearDup) ++ (3L to 40L).map(_ -> vec())
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = Similarity.dedupEmbeddingCosine(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"embedding dedup degenerated into an all-pairs join:\n$plan")
    // the PRODUCTION operator is corpus-faithful: exactly the fixture's own
    // near-dup pair, no fabricated rows (random gaussian 64-dim vectors
    // essentially never reach cosine 0.95)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"production operator must report corpus pairs only: $pairs")
  }

  test("dedup_embedding_cosine_gate stages planted pairs without touching the operator") {
    import spark.implicits._
    val dir = tempDir("graft-emb-gate").toString
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.map(x => x + 0.01f) // cosine ~ 1
    val rows = Seq(1L -> base, 2L -> nearDup) ++ (3L to 40L).map(_ -> vec())
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // gate staging adds exact copies of ids < 10 and 0.5-scaled copies of
    // ids 10-19; with fixture ids 1 and 2 mutually near-dup, the expected
    // qualifying set is their staged closure plus each id's staged twin
    val pairs = Similarity.dedupEmbeddingCosineGate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dupClass = Seq(1L, 2L, 1000001L, 1000002L)
    val expected =
      (for { a <- dupClass; b <- dupClass if a < b } yield (a, b)).toSet ++
        (3L to 9L).map(i => (i, i + 1000000L)).toSet ++
        (10L to 19L).map(i => (i, i + 2000000L)).toSet
    assert(pairs == expected, s"got $pairs\nexpected $expected")
  }

  test("cosine column: identity 1, orthogonal 0") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 3.0f, 0.0f))
    ).toDF("id", "a", "b")
    val got = df.select($"id", round(Similarity.cosine($"a", $"b"), 9).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 1.0 && got(2L) == 0.0)
  }

  test("lang id picks the planted language") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog went to the house of the king in that order"),
      (2L, "le chat et la maison de le roi est une chose que pour les gens"),
      (3L, "el gato y la casa de el rey es una cosa que para los amigos"),
      (4L, "der hund und die katze ist ein tier zu haus mit von der familie"),
      (5L, "数据处理系统 分布式 计算")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langId(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "es", 4L -> "de", 5L -> "zh"))
  }

  test("mm_resize preserves aspect ratio with the long side pinned to 256") {
    val rows = Multimodal.mmResize(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (w, h) = (r.getLong(1), r.getLong(2))
      val (nw, nh) = (r.getLong(3), r.getLong(4))
      assert(math.max(nw, nh) == 256, s"long side must become 256: $r")
      // aspect preserved within integer truncation: nw/nh ~ w/h
      val expect = if (w >= h) h * 256 / w else w * 256 / h
      assert(math.min(nw, nh) == math.max(1, expect), s"aspect lost: $r")
      assert(r.getLong(5) >= 1 && r.getString(6).length == 16)
    }
  }

  test("stub decoder features are deterministic and match payload bytes") {
    val f = Multimodal.StubDecoder.decode("abc".getBytes("UTF-8"))
    assert(f.nBytes == 3 && f.headByte == 'a'.toInt)
    assert(math.abs(f.meanByte - (97 + 98 + 99) / 3.0) < 1e-12)
    val rows = Multimodal.mmDecodeFeatures(spark, sf).collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.getInt(1) > 0))
  }

  test("dedup exact + fingerprint agree on planted duplicates") {
    import spark.implicits._
    // fingerprint normalizes case/whitespace; exact does not
    val docs = Seq(
      (1L, "Alpha Beta Gamma"), (2L, "Alpha Beta Gamma"),
      (3L, "alpha  beta   gamma"), (4L, "something else")
    ).toDF("doc_id", "text")
    val exact = docs.groupBy(sha2($"text", 256)).agg(min($"doc_id").as("rep"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(exact == Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
    val fp = docs.groupBy(fingerprint($"text")).agg(min($"doc_id").as("rep"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(fp == Map(1L -> 3L, 4L -> 1L))
  }
}
