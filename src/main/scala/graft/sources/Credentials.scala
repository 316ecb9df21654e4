package graft.sources

import java.io.{Closeable, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** A resolved credential set: access key id + secret, with an optional
  * session token for temporary credentials. */
final case class QueueCredentials(
    accessKeyId: String,
    secretAccessKey: String,
    sessionToken: Option[String] = None)

/** Serializable credentials seam for queue clients — the counterpart of the
  * reference's `ConnectorAwsCredentialsProvider` (reference
  * ConnectorAwsCredentialsProvider.scala:30-34), re-expressed without the
  * AWS SDK on the classpath (zero-egress build). The resolution *semantics*
  * of the default chain are public contract: environment variables, then
  * JVM system properties, then the shared profile file, then the EC2
  * instance-metadata service ([[InstanceMetadataCredentialsProvider]],
  * endpoint-injectable so it tests against an in-process stub).
  *
  * Providers are Serializable (resolved on executors) and Closeable,
  * mirroring the reference trait shape.
  */
trait ConnectorCredentialsProvider extends Serializable with Closeable {
  /** Return a credential set or throw [[GraftNoCredentialsException]]. */
  def resolve(): QueueCredentials
  override def close(): Unit = {}
}

/** Fixed credentials, for tests and explicit configuration. */
final case class StaticCredentialsProvider(creds: QueueCredentials)
    extends ConnectorCredentialsProvider {
  override def resolve(): QueueCredentials = creds
}

/** `AWS_ACCESS_KEY_ID` / `AWS_SECRET_ACCESS_KEY` / `AWS_SESSION_TOKEN`.
  * The lookup function is injectable so tests run hermetically. */
final case class EnvironmentCredentialsProvider(
    lookup: String => Option[String] = EnvironmentCredentialsProvider.fromEnv)
    extends ConnectorCredentialsProvider {
  override def resolve(): QueueCredentials = {
    val id = lookup("AWS_ACCESS_KEY_ID")
    val secret = lookup("AWS_SECRET_ACCESS_KEY")
    (id, secret) match {
      case (Some(i), Some(s)) if i.nonEmpty && s.nonEmpty =>
        QueueCredentials(i, s, lookup("AWS_SESSION_TOKEN").filter(_.nonEmpty))
      case _ =>
        throw new GraftNoCredentialsException(
          "environment: AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY not set")
    }
  }
}
object EnvironmentCredentialsProvider {
  // A named function value (not a closure over sys.env) keeps the default
  // provider serializable without capturing the environment snapshot.
  val fromEnv: String => Option[String] = (k: String) => sys.env.get(k)
}

/** `aws.accessKeyId` / `aws.secretKey` (alias `aws.secretAccessKey`) /
  * `aws.sessionToken` JVM system properties. */
final case class SystemPropertiesCredentialsProvider()
    extends ConnectorCredentialsProvider {
  override def resolve(): QueueCredentials = {
    def prop(k: String): Option[String] = Option(System.getProperty(k)).filter(_.nonEmpty)
    val id = prop("aws.accessKeyId")
    val secret = prop("aws.secretKey").orElse(prop("aws.secretAccessKey"))
    (id, secret) match {
      case (Some(i), Some(s)) =>
        QueueCredentials(i, s, prop("aws.sessionToken"))
      case _ =>
        throw new GraftNoCredentialsException(
          "system properties: aws.accessKeyId / aws.secretKey not set")
    }
  }
}

/** Shared credentials file (INI format): `[profile]` sections holding
  * `aws_access_key_id` / `aws_secret_access_key` / `aws_session_token`.
  * Path defaults to `$AWS_SHARED_CREDENTIALS_FILE` or `~/.aws/credentials`;
  * profile defaults to `$AWS_PROFILE` or `default`. */
final case class ProfileCredentialsProvider(
    path: Option[String] = None,
    profile: Option[String] = None)
    extends ConnectorCredentialsProvider {

  override def resolve(): QueueCredentials = {
    val file = new File(path
      .orElse(sys.env.get("AWS_SHARED_CREDENTIALS_FILE"))
      .getOrElse(sys.props("user.home") + "/.aws/credentials"))
    val wanted = profile.orElse(sys.env.get("AWS_PROFILE")).getOrElse("default")
    if (!file.isFile) {
      throw new GraftNoCredentialsException(s"profile file not found: $file")
    }
    val sections = ProfileCredentialsProvider.parseIni(
      Files.readAllLines(file.toPath, StandardCharsets.UTF_8).asScala.toSeq)
    val section = sections.getOrElse(wanted,
      throw new GraftNoCredentialsException(s"profile [$wanted] not in $file"))
    (section.get("aws_access_key_id"), section.get("aws_secret_access_key")) match {
      case (Some(i), Some(s)) =>
        QueueCredentials(i, s, section.get("aws_session_token"))
      case _ =>
        throw new GraftNoCredentialsException(
          s"profile [$wanted] in $file lacks aws_access_key_id / aws_secret_access_key")
    }
  }
}
object ProfileCredentialsProvider {
  /** Minimal INI: `[name]` headers, `key = value` entries, `#`/`;` comments.
    * Keys are lower-cased; a `profile ` prefix on section names (the config-
    * file convention) is stripped so both file flavors parse. */
  def parseIni(lines: Seq[String]): Map[String, Map[String, String]] = {
    val out = scala.collection.mutable.Map.empty[String, Map[String, String]]
    var current: Option[String] = None
    lines.map(_.trim).foreach {
      case l if l.isEmpty || l.startsWith("#") || l.startsWith(";") => ()
      case l if l.startsWith("[") && l.endsWith("]") =>
        val name = l.substring(1, l.length - 1).trim.stripPrefix("profile ").trim
        current = Some(name)
        out.getOrElseUpdate(name, Map.empty)
      case l if l.contains("=") =>
        current.foreach { sec =>
          val (k, v) = l.splitAt(l.indexOf('='))
          out(sec) = out(sec) + (k.trim.toLowerCase -> v.drop(1).trim)
        }
      case _ => ()
    }
    out.toMap
  }
}

/** EC2 instance-metadata (IMDSv2) credentials: the network hop the
  * reference's default chain ends with
  * (ConnectorAwsCredentialsProvider.scala:35-67 via the SDK default chain).
  * Protocol per the published IMDSv2 flow: PUT `/latest/api/token` with a
  * TTL header to obtain a session token, GET
  * `/latest/meta-data/iam/security-credentials/` for the role name, then
  * GET the role document for `{AccessKeyId, SecretAccessKey, Token}`.
  *
  * The endpoint is overridable (constructor arg, then the SDK-standard
  * `AWS_EC2_METADATA_SERVICE_ENDPOINT` env var) so tests resolve against an
  * in-process HTTP stub; `AWS_EC2_METADATA_DISABLED=true` short-circuits
  * like the SDK. Lookup injection keeps the spec hermetic.
  *
  * Resolved credentials are CACHED until near the role document's
  * `Expiration` (SDK parity: instance credentials are reused, not
  * re-fetched per request — IMDS is rate-limited and the queue client
  * resolves once per SQS call). One `HttpClient` is reused across
  * fetches. The clock is injectable so expiry-refresh is spec-testable.
  */
final case class InstanceMetadataCredentialsProvider(
    endpoint: Option[String] = None,
    timeoutMs: Int = 3000,
    lookup: String => Option[String] = EnvironmentCredentialsProvider.fromEnv,
    clock: () => Long = InstanceMetadataCredentialsProvider.systemClock)
    extends ConnectorCredentialsProvider {
  import InstanceMetadataCredentialsProvider.RefreshMarginMs

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs.toLong))
      .build()

  /** (credentials, expirationEpochMs or None for non-expiring). */
  @transient @volatile
  private var cached: (QueueCredentials, Option[Long]) = _

  override def resolve(): QueueCredentials = {
    val c = cached
    if (c != null && c._2.forall(exp => clock() < exp - RefreshMarginMs)) return c._1
    synchronized {
      val c2 = cached
      if (c2 != null && c2._2.forall(exp => clock() < exp - RefreshMarginMs)) c2._1
      else {
        try {
          val fresh = fetch()
          cached = fresh
          fresh._1
        } catch {
          // Inside the refresh margin the cached credentials are still
          // VALID — a failed early refresh must not take down a working
          // pipeline (SDK parity: the default chain keeps serving cached
          // instance credentials until actual expiry and retries the
          // fetch on the next resolve). Past expiry, fail loudly.
          case e: GraftNoCredentialsException
              if c2 != null && c2._2.exists(exp => clock() < exp) =>
            c2._1
        }
      }
    }
  }

  private def fetch(): (QueueCredentials, Option[Long]) = {
    if (lookup("AWS_EC2_METADATA_DISABLED").exists(_.equalsIgnoreCase("true"))) {
      throw new GraftNoCredentialsException("instance metadata disabled by env")
    }
    val base = endpoint
      .orElse(lookup("AWS_EC2_METADATA_SERVICE_ENDPOINT"))
      .getOrElse("http://169.254.169.254")
      .stripSuffix("/")
    try {
      def req(b: java.net.http.HttpRequest.Builder): String = {
        val resp = client.send(
          b.timeout(java.time.Duration.ofMillis(timeoutMs.toLong)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() / 100 != 2) {
          throw new GraftNoCredentialsException(s"IMDS HTTP ${resp.statusCode()}")
        }
        resp.body()
      }
      val token = req(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"$base/latest/api/token"))
        .header("X-aws-ec2-metadata-token-ttl-seconds", "21600")
        .PUT(java.net.http.HttpRequest.BodyPublishers.noBody()))
      def get(path: String): String = req(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"$base$path"))
        .header("X-aws-ec2-metadata-token", token)
        .GET())
      val role = get("/latest/meta-data/iam/security-credentials/").linesIterator
        .find(_.nonEmpty).getOrElse(
          throw new GraftNoCredentialsException("IMDS: no IAM role attached"))
      val doc = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(get(s"/latest/meta-data/iam/security-credentials/$role"))
      (Option(doc.get("AccessKeyId")).map(_.asText()),
        Option(doc.get("SecretAccessKey")).map(_.asText())) match {
        case (Some(i), Some(s)) if i.nonEmpty && s.nonEmpty =>
          val creds =
            QueueCredentials(i, s, Option(doc.get("Token")).map(_.asText()).filter(_.nonEmpty))
          // a malformed Expiration caches as non-expiring rather than failing
          // an otherwise-valid credential fetch
          val expiresAt = Option(doc.get("Expiration")).map(_.asText()).filter(_.nonEmpty)
            .flatMap(ts => Try(java.time.Instant.parse(ts).toEpochMilli).toOption)
          (creds, expiresAt)
        case _ => throw new GraftNoCredentialsException(
          s"IMDS: role document for '$role' lacks AccessKeyId / SecretAccessKey")
      }
    } catch {
      case e: GraftNoCredentialsException => throw e
      case scala.util.control.NonFatal(e) =>
        throw new GraftNoCredentialsException(s"IMDS unreachable at $base: ${e.getMessage}")
    }
  }
}
object InstanceMetadataCredentialsProvider {
  /** Re-fetch when within this margin of the role document's Expiration
    * (the SDK refreshes instance credentials ahead of expiry, not at it). */
  val RefreshMarginMs: Long = 5 * 60 * 1000L
  // named function value, not a closure, to keep the case class serializable
  val systemClock: () => Long = () => System.currentTimeMillis()
}

/** First-wins chain. Like the SDK default chain, the first provider that
  * resolves successfully is remembered and reused for subsequent calls
  * (`reuseLastProvider` semantics) so steady-state resolution never re-probes
  * dead sources. Failure aggregates every provider's reason. */
final class CredentialsProviderChain(providers: Seq[ConnectorCredentialsProvider])
    extends ConnectorCredentialsProvider {
  @transient @volatile private var winner: ConnectorCredentialsProvider = _

  override def resolve(): QueueCredentials = {
    val w = winner
    if (w != null) return w.resolve()
    val reasons = Seq.newBuilder[String]
    providers.foreach { p =>
      Try(p.resolve()) match {
        case Success(c) => winner = p; return c
        case Failure(e) => reasons += s"${p.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    throw new GraftNoCredentialsException(
      "no provider in the chain resolved: " + reasons.result().mkString("; "))
  }
  override def close(): Unit = providers.foreach(p => Try(p.close()))
}

/** The source's credentials when no static pair is configured
  * (`ConnectorOptions.credentialsProvider()`): the first-wins chain env →
  * system properties → profile file → instance metadata. No retry wraps
  * it: a failing `resolve()` fails that queue call, and the next fetch
  * round retries it under `queue.fetchErrorBudget`. */
object ConnectorCredentialsProvider {
  def defaultChain(): ConnectorCredentialsProvider =
    new CredentialsProviderChain(Seq(
      EnvironmentCredentialsProvider(),
      SystemPropertiesCredentialsProvider(),
      ProfileCredentialsProvider(),
      InstanceMetadataCredentialsProvider()))
}
