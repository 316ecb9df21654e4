package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CredentialsSpec extends AnyFunSuite {

  private def env(pairs: (String, String)*): String => Option[String] = {
    val m = pairs.toMap
    k => m.get(k)
  }

  test("environment provider resolves id/secret/token and fails when unset") {
    val p = EnvironmentCredentialsProvider(env(
      "AWS_ACCESS_KEY_ID" -> "AKIA1", "AWS_SECRET_ACCESS_KEY" -> "s3cr3t",
      "AWS_SESSION_TOKEN" -> "tok"))
    assert(p.resolve() == QueueCredentials("AKIA1", "s3cr3t", Some("tok")))
    val noToken = EnvironmentCredentialsProvider(env(
      "AWS_ACCESS_KEY_ID" -> "AKIA1", "AWS_SECRET_ACCESS_KEY" -> "s3cr3t"))
    assert(noToken.resolve().sessionToken.isEmpty)
    intercept[GraftNoCredentialsException] {
      EnvironmentCredentialsProvider(env("AWS_ACCESS_KEY_ID" -> "AKIA1")).resolve()
    }
  }

  test("system-properties provider honors aws.accessKeyId/aws.secretKey and the alias") {
    val keys = Seq("aws.accessKeyId", "aws.secretKey", "aws.secretAccessKey", "aws.sessionToken")
    val saved = keys.map(k => k -> Option(System.getProperty(k))).toMap
    try {
      keys.foreach(System.clearProperty)
      intercept[GraftNoCredentialsException](SystemPropertiesCredentialsProvider().resolve())
      System.setProperty("aws.accessKeyId", "AKIA2")
      System.setProperty("aws.secretAccessKey", "viaAlias")
      assert(SystemPropertiesCredentialsProvider().resolve() ==
        QueueCredentials("AKIA2", "viaAlias", None))
      System.setProperty("aws.secretKey", "primary")
      System.setProperty("aws.sessionToken", "tk")
      assert(SystemPropertiesCredentialsProvider().resolve() ==
        QueueCredentials("AKIA2", "primary", Some("tk")))
    } finally {
      keys.foreach(System.clearProperty)
      saved.foreach { case (k, v) => v.foreach(System.setProperty(k, _)) }
    }
  }

  test("profile provider parses the shared-credentials INI, named profiles included") {
    val f = Files.createTempFile("graft-creds", ".ini")
    Files.write(f,
      """# comment
        |[default]
        |aws_access_key_id = DEFID
        |aws_secret_access_key= DEFSECRET
        |
        |; another comment
        |[profile analytics]
        |aws_access_key_id=ANAID
        |aws_secret_access_key = ANASECRET
        |aws_session_token = ANATOKEN
        |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    try {
      val p = ProfileCredentialsProvider(Some(f.toString))
      assert(p.resolve() == QueueCredentials("DEFID", "DEFSECRET", None))
      val named = ProfileCredentialsProvider(Some(f.toString), Some("analytics"))
      assert(named.resolve() == QueueCredentials("ANAID", "ANASECRET", Some("ANATOKEN")))
      intercept[GraftNoCredentialsException] {
        ProfileCredentialsProvider(Some(f.toString), Some("absent")).resolve()
      }
      intercept[GraftNoCredentialsException] {
        ProfileCredentialsProvider(Some("/nonexistent/creds"), None).resolve()
      }
    } finally Files.delete(f)
  }

  test("chain takes the first successful provider and reuses it afterwards") {
    var calls = 0
    val counting = new ConnectorCredentialsProvider {
      override def resolve(): QueueCredentials = { calls += 1; QueueCredentials("W", "X") }
    }
    val chain = new CredentialsProviderChain(Seq(
      EnvironmentCredentialsProvider(env()), // always fails
      counting,
      StaticCredentialsProvider(QueueCredentials("NEVER", "REACHED"))))
    assert(chain.resolve().accessKeyId == "W")
    assert(chain.resolve().accessKeyId == "W")
    assert(calls == 2, "winner must be re-invoked directly, later providers never probed")
  }

  test("chain failure aggregates every provider's reason") {
    val chain = new CredentialsProviderChain(Seq(
      EnvironmentCredentialsProvider(env()),
      ProfileCredentialsProvider(Some("/nonexistent/creds"))))
    val e = intercept[GraftNoCredentialsException](chain.resolve())
    assert(e.getMessage.contains("EnvironmentCredentialsProvider"))
    assert(e.getMessage.contains("ProfileCredentialsProvider"))
  }

  test("the default chain is serializable") {
    // executors receive the provider through closure serialization
    val bytes = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bytes)
    oos.writeObject(ConnectorCredentialsProvider.defaultChain())
    oos.close()
    val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[ConnectorCredentialsProvider]
    assert(back.isInstanceOf[CredentialsProviderChain])
  }
}
