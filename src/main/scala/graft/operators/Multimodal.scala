package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.listSumSql
import graft.queries.Tables

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decode/feature-extraction as a per-partition batch
  * map. No real codec ships in this container (and none is on the
  * classpath), so the decode step is a DETERMINISTIC STUB — the Spark
  * side (schema, binary handling, per-partition decoder lifecycle,
  * partitioning) is real and tested; swap [[StubDecoder.decode]] for an
  * actual codec binding to go to production.
  */
object Multimodal {

  /** The stub "codec": derives fake features from the payload bytes.
    * Initialized once per partition (the real-world pattern for model /
    * codec handles, which are expensive and non-serializable). */
  object StubDecoder {
    final case class Features(nBytes: Int, meanByte: Double, headByte: Int)
    def open(): StubDecoder.type = this // stands in for native codec init
    def decode(payload: Array[Byte]): Features = {
      // ??? <- a real image/audio decode goes here; deterministic fake:
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += payload(i) & 0xFF; i += 1 }
      Features(payload.length,
        if (payload.isEmpty) 0.0 else sum.toDouble / payload.length,
        if (payload.isEmpty) -1 else payload(0) & 0xFF)
    }
  }

  /** Asset manifest: binary payload + typed metadata columns derived with
    * exact integer arithmetic (oracle-checkable). The payload itself is
    * utf-8 bytes of the text standing in for media bytes. */
  def mmManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        length(encode($"text", "UTF-8")).as("n_bytes"),
        concat(lit("img_"), $"source").as("fmt"),
        (($"n_chars" % 64) + 1).cast("long").multiply(16).as("width"),
        ((($"n_chars" / 64).cast("long") % 64) + 1).multiply(16).as("height"))
      .orderBy($"doc_id")
  }
  val mmManifestSql: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |  'img_' || source AS fmt,
      |  (n_chars % 64 + 1) * 16 AS width,
      |  ((n_chars // 64) % 64 + 1) * 16 AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame sampling: one row per sampled frame index (every 7th frame of
    * n_chars-derived frame counts) — the explode/flatten shape used to
    * fan a video row out to frame rows. */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("n_frames", ($"n_chars" % 91 + 10).cast("int"))
      .select($"doc_id", explode(sequence(lit(0), $"n_frames" - 1, lit(7))).as("frame_idx"))
      .orderBy($"doc_id", $"frame_idx")
  }
  val mmFrameSampleSql: String =
    """SELECT doc_id, unnest(range(0, (n_chars % 91 + 10)::INT, 7)) AS frame_idx
      |FROM documents ORDER BY doc_id, frame_idx""".stripMargin

  /** Decode + feature extraction over binary payloads via mapPartitions:
    * decoder opened once per partition, rows processed as a batch stream.
    * The partition-lifecycle behavior is asserted in ExtensionOpsSpec;
    * the stub features themselves are byte arithmetic, so the row is
    * fully hash-gated — the oracle replays the byte walk by slicing
    * `hex(encode(text))` two digits at a time ([[mmDecodeFeaturesSql]]). */
  def mmDecodeFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = Tables.documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    payloads.mapPartitions { iter =>
      val codec = StubDecoder.open() // once per partition
      iter.map { case (id, bytes) =>
        val f = codec.decode(bytes)
        (id, f.nBytes, f.meanByte, f.headByte)
      }
    }.toDF("doc_id", "n_bytes", "mean_byte", "head_byte")
      .orderBy($"doc_id")
  }

  /** DuckDB replica of the stub codec: the UTF-8 payload's bytes are
    * recovered by slicing its hex dump in 2-digit pairs; the mean is the
    * same exact-integer sum in one IEEE double division on both engines. */
  val mmDecodeFeaturesSql: String = {
    val byteSum = listSumSql("range(0, octet_length(encode(text)))",
      "i -> CAST(concat('0x', substring(hex(encode(text)), i*2+1, 2)) AS INT)")
    s"""SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |  CASE WHEN octet_length(encode(text)) = 0 THEN 0.0
      |       ELSE CAST($byteSum AS DOUBLE) / octet_length(encode(text)) END AS mean_byte,
      |  CASE WHEN octet_length(encode(text)) = 0 THEN -1
      |       ELSE CAST(concat('0x', substring(hex(encode(text)), 1, 2)) AS INT) END AS head_byte
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Resize planning + content-addressed verification: target dims
    * shrink the manifest dims so the long side is 256 (aspect preserved,
    * pure integer arithmetic), the payload is cut to the matching area
    * fraction, and a sha-256 prefix content-addresses the result — the
    * dedup/caching key a real media pipeline stores next to the resized
    * asset. The "pixel" transform is the deterministic stand-in (cut by
    * characters so the oracle can replay it); a real resample plugs into
    * the same row shape. Pure map, no shuffle, oracle-checked bitwise. */
  def mmResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val resized = mmManifest(s, d)
      .join(Tables.documents(s, d).select($"doc_id", $"text", $"n_chars"), "doc_id")
      // products stay far below 2^53, so double division + truncation is
      // exact integer division on both engines
      .withColumn("new_w",
        when($"width" >= $"height", lit(256L))
          .otherwise(greatest(lit(1L), ($"width" * 256 / $"height").cast("long"))))
      .withColumn("new_h",
        when($"width" >= $"height", greatest(lit(1L), ($"height" * 256 / $"width").cast("long")))
          .otherwise(lit(256L)))
      .withColumn("chars_kept",
        greatest(lit(1L),
          ($"n_chars" * ($"new_w" * $"new_h") / ($"width" * $"height")).cast("long")))
    resized
      .select($"doc_id", $"width", $"height", $"new_w", $"new_h", $"chars_kept",
        substring(sha2(encode(expr("substring(text, 1, chars_kept)"), "UTF-8"), 256), 1, 16)
          .as("content_key"))
      .orderBy($"doc_id")
  }
  val mmResizeSql: String =
    """SELECT doc_id, width, height, new_w, new_h, chars_kept,
      |  substring(sha256(substring(text, 1, chars_kept::INT)), 1, 16) AS content_key
      |FROM (
      |  SELECT doc_id, text, width, height, new_w, new_h,
      |    greatest(1, n_chars * (new_w * new_h) // (width * height)) AS chars_kept
      |  FROM (
      |    SELECT doc_id, text, n_chars, width, height,
      |      CASE WHEN width >= height THEN 256
      |           ELSE greatest(1, width * 256 // height) END AS new_w,
      |      CASE WHEN width >= height THEN greatest(1, height * 256 // width)
      |           ELSE 256 END AS new_h
      |    FROM (SELECT doc_id, text, n_chars,
      |            (n_chars % 64 + 1) * 16 AS width,
      |            ((n_chars // 64) % 64 + 1) * 16 AS height
      |          FROM documents)))
      |ORDER BY doc_id""".stripMargin

  /** Content-addressed payload dedup report: media payloads hash to a
    * sha-256 content key (the CAS id a media store keeps), and each
    * format reports asset counts and bytes before/after dedup — the
    * planning number that decides whether a CAS tier pays for itself.
    * The shuffle carries (fmt, 32-byte key, length), never payload
    * bytes; two hash aggregates, no joins. */
  def mmDedupPayload(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(concat(lit("img_"), $"source").as("fmt"),
        sha2(encode($"text", "UTF-8"), 256).as("h"),
        length(encode($"text", "UTF-8")).cast("long").as("b"))
      .groupBy($"fmt", $"h")
      .agg(count(lit(1)).as("copies"), first($"b").as("b"))
      .groupBy($"fmt")
      .agg(sum($"copies").as("n_assets"),
        count(lit(1)).as("n_unique"),
        sum($"b" * $"copies").as("bytes_total"),
        sum($"b").as("bytes_unique"))
      .withColumn("saved_frac",
        ($"bytes_total" - $"bytes_unique").cast("double") / $"bytes_total")
      .orderBy($"fmt")
  }
  val mmDedupPayloadSql: String =
    """SELECT fmt, CAST(SUM(copies) AS BIGINT) AS n_assets,
      |  COUNT(*) AS n_unique,
      |  CAST(SUM(b * copies) AS BIGINT) AS bytes_total,
      |  CAST(SUM(b) AS BIGINT) AS bytes_unique,
      |  CAST(SUM(b * copies) - SUM(b) AS DOUBLE) / CAST(SUM(b * copies) AS BIGINT) AS saved_frac
      |FROM (
      |  SELECT 'img_' || source AS fmt, sha256(text) AS h,
      |    COUNT(*) AS copies, ANY_VALUE(octet_length(encode(text))) AS b
      |  FROM documents GROUP BY fmt, h)
      |GROUP BY fmt ORDER BY fmt""".stripMargin

  // ---------------------------------------------- perceptual-hash dedup
  /** aHash bit width (60, not 64: the hash stays positive in a signed
    * 64-bit int on both engines, so shifts and bands never touch the
    * sign bit). */
  private[graft] val PhashBits = 60
  private val PhashChunks = 4 // 15-bit bands

  /** Average-hash over payload bytes — the perceptual-hash family's
    * shape with the DCT left to a real codec, like [[StubDecoder]]:
    * bit b = (mean of block b) > (global mean), compared by exact
    * integer cross-multiplication (`blocksum·n > total·blocklen`) so no
    * division ever rounds. */
  private[graft] def aHash(payload: Array[Byte]): Long = {
    val n = payload.length
    var tot = 0L; var i = 0
    while (i < n) { tot += payload(i) & 0xFF; i += 1 }
    var h = 0L; var b = 0
    while (b < PhashBits) {
      val lo = (b.toLong * n / PhashBits).toInt
      val hi = ((b + 1).toLong * n / PhashBits).toInt
      var s = 0L; var j = lo
      while (j < hi) { s += payload(j) & 0xFF; j += 1 }
      if (s * n > tot * (hi - lo)) h |= 1L << b
      b += 1
    }
    h
  }

  /** Perceptual near-dup detection for media payloads
    * (`mm_phash_dedup`): every asset reduces to a [[PhashBits]]-bit
    * average hash (computed in the same per-partition decoder lifecycle
    * as [[mmDecodeFeatures]]); candidate pairs come from 15-bit hamming
    * bands (the [[Dedup.dedupSimhash]] banding discipline — any pair
    * within hamming 3 shares a band by pigeonhole, and the fixture's
    * near-dup bar is well inside that); the report is per-asset:
    * its hash, how many banding candidates it met, and the best
    * (minimum) hamming distance among them. The image-near-dup step of
    * a multimodal curation pipeline, runnable today on the stub and on
    * real pHashes the moment a codec lands.
    *
    * Scale shape: hashing is one narrow mapPartitions pass (payloads
    * never shuffle — 8-byte hashes do); banding is an equi-join on
    * (chunk, value) over the hash dictionary; the verify + per-asset
    * aggregate touch candidate pairs only. The DuckDB oracle replays
    * the byte walk via hex slicing and the same integer
    * cross-multiplied bits — hash-exact. */
  def mmPhashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = Tables.documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .filter(r => r._2.length >= PhashBits) // every block non-empty
    val hashed = payloads.mapPartitions { iter =>
      // real pHash decodes first (the per-partition codec lifecycle of
      // mmDecodeFeatures); the stub hashes the raw bytes directly
      iter.map { case (id, bytes) => (id, aHash(bytes)) }
    }.toDF("doc_id", "phash").persist()
    hashed.count()
    val chunks = hashed.select($"doc_id", $"phash",
      explode(sequence(lit(0), lit(PhashChunks - 1))).as("c"))
      .withColumn("v", expr("(phash >> (c * 15)) & 32767"))
    val cand = chunks.as("a").join(chunks.as("b"),
        $"a.c" === $"b.c" && $"a.v" === $"b.v" && $"a.doc_id" =!= $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"a.phash".as("pa"),
        $"b.doc_id".as("b_id"), $"b.phash".as("pb"))
      .distinct()
      .withColumn("ham", expr("bit_count(pa ^ pb)").cast("long"))
      .groupBy($"a_id")
      .agg(count(lit(1)).as("n_cand"), min($"ham").as("best_ham"))
    hashed.join(cand, $"doc_id" === $"a_id", "left")
      .select($"doc_id", $"phash",
        coalesce($"n_cand", lit(0L)).as("n_cand"), $"best_ham")
      .orderBy($"doc_id")
  }
  val mmPhashDedupSql: String = {
    val B = PhashBits
    val phash = listSumSql(s"range(0, $B)",
      s"""b ->
         |      CASE WHEN list_sum(bl[(b*n//$B)+1 : ((b+1)*n)//$B]) * n
         |                > list_sum(bl) * (((b+1)*n)//$B - (b*n)//$B)
         |           THEN (1::BIGINT << b) ELSE 0 END""".stripMargin)
    s"""WITH bytes AS (
       |  SELECT doc_id, octet_length(encode(text)) AS n,
       |    list_transform(range(0, octet_length(encode(text))),
       |      i -> CAST(concat('0x', substring(hex(encode(text)), i*2+1, 2)) AS BIGINT)) AS bl
       |  FROM documents WHERE octet_length(encode(text)) >= $B
       |), ph AS (
       |  SELECT doc_id,
       |    $phash AS phash
       |  FROM bytes
       |), ck AS (
       |  SELECT doc_id, phash, c, (phash >> (c * 15)) & 32767 AS v
       |  FROM ph, UNNEST(range(0, $PhashChunks)) AS u(c)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, a.phash AS pa, b.doc_id AS b_id, b.phash AS pb
       |  FROM ck a JOIN ck b ON a.c = b.c AND a.v = b.v AND a.doc_id <> b.doc_id
       |), agg AS (
       |  SELECT a_id, COUNT(*) AS n_cand, MIN(bit_count(xor(pa, pb))) AS best_ham
       |  FROM cand GROUP BY a_id)
       |SELECT p.doc_id, CAST(p.phash AS BIGINT) AS phash,
       |  COALESCE(a.n_cand, 0) AS n_cand, CAST(a.best_ham AS BIGINT) AS best_ham
       |FROM ph p LEFT JOIN agg a ON p.doc_id = a.a_id
       |ORDER BY p.doc_id""".stripMargin
  }

  /** Byte budget per media shard (the WebDataset-style tar target,
    * scaled to the fixture payloads). */
  private[graft] val MmShardBytes = 16384L

  /** WebDataset-style media sharding (`mm_shard_pack`): pack binary
    * payloads into byte-budgeted output shards by prefix-sum start
    * offset — the media twin of `shard_plan` (tokens → bytes), sharing
    * its distributed boundary-exchange kernel
    * ([[Curation7.shardReport]]). No payload is split across shards and
    * shard sizes deviate from the budget by at most one item — what a
    * dataloader wants from a tar-shard layout. */
  def mmShardPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Curation7.shardReport(
        Tables.documents(s, d).select($"doc_id",
          length(encode($"text", "UTF-8")).cast("long").as("ntok")),
        MmShardBytes)
      .select($"shard_id", $"n_docs".as("n_items"), $"sum_tokens".as("sum_bytes"),
        $"first_doc".as("first_id"), $"last_doc".as("last_id"))
  }
  val mmShardPackSql: String = {
    val units = "(SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS ntok FROM documents)"
    s"""SELECT shard_id, n_docs AS n_items, sum_tokens AS sum_bytes,
       |  first_doc AS first_id, last_doc AS last_id
       |FROM (${Curation7.shardReportSql(units, MmShardBytes)})
       |ORDER BY shard_id""".stripMargin
  }

  val rows: Seq[QueryDef] = Seq(
    QueryDef("mm_shard_pack", mmShardPack _, mmShardPackSql),
    QueryDef("mm_phash_dedup", mmPhashDedup _, mmPhashDedupSql),
    QueryDef("mm_manifest", mmManifest _, mmManifestSql),
    QueryDef("mm_frame_sample", mmFrameSample _, mmFrameSampleSql),
    QueryDef("mm_decode_features", mmDecodeFeatures _, mmDecodeFeaturesSql),
    QueryDef("mm_resize", mmResize _, mmResizeSql),
    QueryDef("mm_dedup_payload", mmDedupPayload _, mmDedupPayloadSql),
  )
}
