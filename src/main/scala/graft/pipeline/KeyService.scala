package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-key resolution.
  *
  * The reference calls an external key service per record with a
  * per-executor dict cache (reference: steps/dks.py:96-134 — HTTP decrypt
  * of `encryptedEncryptionKey`, cache keyed on the encrypted key). The
  * Spark-first re-expression exploits that distinct data keys are few
  * (hundreds, not billions): collect the distinct encrypted keys in one
  * job with no shuffle, resolve them on the driver, then bind each row's
  * plaintext key with a hash lookup in generated code
  * ([[graft.functions.DataKeyLookup]]). One bounded collect, zero
  * per-record RPC, no mutable executor state, no join, and no key
  * material in any plan string.
  *
  * `resolve` is pluggable (the real deployment would call its KMS; tests
  * mirror the reference's "no datakey encryption" and "-decrypted" mocks,
  * steps/tests.py:64-76).
  */
final class KeyService(resolve: String => String) extends Serializable {

  /** Number of distinct keys resolved by the last resolveKeys call (spec
    * hook mirroring the reference's hit/miss accumulators).
    */
  @volatile var lastResolvedCount: Int = 0

  /** parsed envelope (column `key_enc`) → `key_enc`, the other columns,
    * then `data_key`: the column order of an inner join on `key_enc`,
    * whose semantics it keeps, since a row whose key did not resolve is
    * dropped.
    */
  def withDataKeys(parsed: DataFrame): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    // one job, no shuffle: each partition ships its own distinct keys
    // (at most partitions × distinct keys strings), the driver dedupes
    val distinctKeys = parsed.select("key_enc").as[String]
      .mapPartitions(_.toSet.iterator).collect().distinct.filter(_ != null).toSeq
    lastResolvedCount = distinctKeys.length
    // the reference's dks_miss accumulator (dks.py:96-116): each
    // distinct key is one real decrypt call; every other record is by
    // construction a hit of the resolved map
    MetricsSink.global.counter("dks.decrypt_calls", distinctKeys.length)
    val keyMap = distinctKeys.map(k => k -> resolve(k)).toMap
    val rest = parsed.columns.filter(_ != "key_enc").map(col).toSeq
    parsed.select(col("key_enc") +: rest :+
        graft.functions.data_key_lookup(col("key_enc"), keyMap).as("data_key"): _*)
      .filter(col("data_key").isNotNull)
  }
}

object KeyService {
  /** The reference test fixture's "no datakey encryption" service:
    * decrypted key == encrypted key (steps/tests.py:64-76).
    */
  val identity: KeyService = new KeyService(k => k)

  /** HTTP resolver — the reference's key-service client re-expressed
    * over the JDK HttpClient (reference: steps/dks.py:34-96 — a
    * requests.Session with mounted retries and cert paths; TLS/cert
    * material is deploy-time client-builder config, not code). POSTs
    * the encrypted key to `<endpoint>/datakey/actions/decrypt` and
    * returns the plaintext body; non-200 and timeouts throw, so retry
    * policy composes via [[withRetry]] exactly like any resolver.
    *
    * Driver-side only by construction: resolution is the bounded
    * distinct-key pass in [[KeyService.withDataKeys]], so the client
    * never ships to executors and per-record RPC storms are
    * impossible regardless of data scale.
    */
  def http(endpoint: String, timeoutMs: Long = 2000,
      ssl: Option[javax.net.ssl.SSLContext] = None): String => String = {
    val builder = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
    // mutual TLS: the reference mounts client cert + private key on its
    // requests.Session (dks.py:34-60 cert/verify paths); here the same
    // material arrives as an SSLContext whose KeyManager holds the
    // client identity and whose TrustManager pins the service CA. The
    // JDK client presents the cert during the handshake when the server
    // requests client auth — a wrong or missing cert fails the
    // HANDSHAKE (an IOException), so it retries/fails through the same
    // withRetry path as any transport error.
    ssl.foreach(builder.sslContext)
    val client = builder.build()
    key => {
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"$endpoint/datakey/actions/decrypt"))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/octet-stream")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(key))
        .build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new java.io.IOException(
          s"key service returned ${resp.statusCode()} for decrypt")
      resp.body()
    }
  }

  /** Build the mutual-TLS SSLContext from deployment cert material —
    * the reference's cert configuration (dks.py:34-60: client cert +
    * key and a CA bundle on the session) as PKCS12 stores: `keyStore`
    * holds THIS client's certificate + private key (presented to the
    * service), `trustStore` holds the service CA (what this client
    * accepts). Pure JDK — javax.net.ssl over java.security.KeyStore —
    * so the same helper serves any deployment that can mint PKCS12.
    */
  def mtlsContext(keyStorePath: String, keyStorePass: Array[Char],
      trustStorePath: String, trustStorePass: Array[Char]): javax.net.ssl.SSLContext = {
    def load(path: String, pass: Array[Char]): java.security.KeyStore = {
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
      try ks.load(in, pass) finally in.close()
      ks
    }
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(load(keyStorePath, keyStorePass), keyStorePass)
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(load(trustStorePath, trustStorePass))
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tmf.getTrustManagers, null)
    ctx
  }

  /** Retry wrapper for the resolver — the reference's RetryConfig
    * (dks.py:23-40: bounded retries with backoff on the DKS call).
    * Because resolution is a bounded driver-side pass over DISTINCT
    * keys, retrying is per-key and cheap — no per-record retry storms.
    */
  def withRetry(maxRetries: Int, backoffMs: Long = 50)(resolve: String => String): String => String =
    key => {
      var attempt = 0
      var result: Option[String] = None
      var last: Throwable = null
      while (result.isEmpty && attempt <= maxRetries) {
        try result = Some(resolve(key))
        catch {
          case e: Throwable =>
            last = e
            attempt += 1
            if (attempt <= maxRetries) Thread.sleep(backoffMs * attempt)
        }
      }
      result.getOrElse(throw new RuntimeException(
        s"key resolution failed after ${maxRetries + 1} attempts", last))
    }
}
