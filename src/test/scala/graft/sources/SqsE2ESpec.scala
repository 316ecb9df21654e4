package graft.sources

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SuiteTempDirs

/** End-to-end: the full streaming source fed over the SQS WIRE protocol —
  * queue notifications served by the in-process protocol stub, fetched by
  * the SigV4-signed HTTP client, admitted exactly-once, and read through a
  * memory sink. This is the reference's headline IT scenario
  * (S3ConnectorSourceItSuite) with the real wire format and zero egress.
  */
class SqsE2ESpec extends AnyFunSuite with SuiteTempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sqs-e2e")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Akid = "AKIDE2E"
  private val Secret = "e2e-secret"
  private val stub = new SqsStubServer(Map(Akid -> Secret))

  override def afterAll(): Unit = try {
    stub.stop()
    spark.stop()
  } finally super.afterAll()

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  private def writeJson(dir: JPath, name: String, rows: Seq[(Int, String)]): String = {
    val f = dir.resolve(name)
    Files.write(f, rows.map { case (i, n) => s"""{"id":$i,"name":"$n"}""" }
      .mkString("\n").getBytes("UTF-8"))
    "file:" + f.toString
  }

  test("streaming query over the wire: announce, sign, fetch, dedup, read") {
    val dir = tempDir("graft-sqs-e2e")
    val p1 = writeJson(dir, "a.json", Seq(1 -> "ada", 2 -> "grace"))
    val p2 = writeJson(dir, "b.json", Seq(3 -> "edsger"))
    stub.queue.send(s"""{"path":"$p1","timestampMs":1}""")
    stub.queue.send(s"""{"path":"$p1","timestampMs":1}""") // duplicate announcement
    stub.queue.send(s"""{"path":"$p2","timestampMs":2}""")

    val df = spark.readStream.format("graft-files").schema(schema)
      .option("fileFormat", "json")
      .option("queueType", "sqs")
      .option("queueUrl", stub.queueUrl)
      .option("queue.region", "us-east-1")
      .option("queue.accessKeyId", Akid)
      .option("queue.secretAccessKey", Secret)
      .option("queue.longPollingWaitTimeSeconds", "0")
      .option("queueFetchWaitTimeoutSeconds", "5")
      .load()

    val q = df.writeStream.format("memory").queryName("sqse2e").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("sqse2e").collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(got == Seq((1, "ada"), (2, "grace"), (3, "edsger")), "exactly-once across dup announcements")
    assert(stub.rejectedSignatures == 0, "every wire call carried a valid SigV4 signature")
    assert(stub.requestCount > 0)
  }

  test("cross-account/region queue: distinct region + credentials, rocksdb log " +
    "(reference S3ConnectorSourceCrossAccountItSuite, hermetic)") {
    // the queue lives in another account and region than any default: its
    // own stub with its own credentials and eu-west-1 signature scope
    val xStub = new SqsStubServer(Map("AKIDXACCT" -> "xacct-secret"), region = "eu-west-1")
    try {
      val dir = tempDir("graft-sqs-xacct")
      val p1 = writeJson(dir, "x1.json", Seq(10 -> "hopper"))
      val p2 = writeJson(dir, "x2.json", Seq(11 -> "lovelace"))
      xStub.queue.send(s"""{"path":"$p1","timestampMs":1}""")
      xStub.queue.send(s"""{"path":"$p2","timestampMs":2}""")

      val df = spark.readStream.format("graft-files").schema(schema)
        .option("fileFormat", "json")
        .option("queueType", "sqs")
        .option("queueUrl", xStub.queueUrl)
        .option("queue.region", "eu-west-1")
        .option("queue.accessKeyId", "AKIDXACCT")
        .option("queue.secretAccessKey", "xacct-secret")
        .option("queue.longPollingWaitTimeSeconds", "0")
        .option("queueFetchWaitTimeoutSeconds", "5")
        .load()
      val q = df.writeStream.format("memory").queryName("sqsxacct").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()

      val got = spark.table("sqsxacct").collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((10, "hopper"), (11, "lovelace")))
      assert(xStub.rejectedSignatures == 0,
        "signatures must carry the non-default region's credential scope")
    } finally xStub.stop()
  }

  test("region mismatch fails the signature check and the query fails loudly") {
    // signing for us-east-1 against a eu-west-1 queue must be rejected by
    // the service (scope mismatch) and surface as the receive error budget
    // exhausting — NOT as a silent empty stream
    val xStub = new SqsStubServer(Map(Akid -> Secret), region = "eu-west-1")
    try {
      val df = spark.readStream.format("graft-files").schema(schema)
        .option("fileFormat", "json")
        .option("queueType", "sqs")
        .option("queueUrl", xStub.queueUrl)
        .option("queue.region", "us-east-1")
        .option("queue.accessKeyId", Akid)
        .option("queue.secretAccessKey", Secret)
        .option("queue.longPollingWaitTimeSeconds", "0")
        .option("queueFetchWaitTimeoutSeconds", "5")
        .option("queue.fetchErrorBudget", "2")
        .load()
      val q = df.writeStream.format("memory").queryName("sqswrongregion")
        .outputMode("append").start()
      // the budget exhausts across fetch rounds, so the failure lands
      // asynchronously on a later trigger — poll the query's exception
      // rather than processAllAvailable (which returns on "no new data")
      val deadline = System.currentTimeMillis() + 60000
      while (q.exception.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      try {
        val e = q.exception.getOrElse(
          fail("query kept running: mis-signed receives read as a silent empty stream"))
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
        assert(messages(e).exists(m => m.contains("consecutive queue receive failures")
          || m.contains("403") || m.contains("SignatureDoesNotMatch")),
          s"expected a loud signature failure, got: ${messages(e).mkString(" | ")}")
        assert(xStub.rejectedSignatures > 0, "stub must have rejected the mis-scoped signatures")
      } finally q.stop()
    } finally xStub.stop()
  }
}
