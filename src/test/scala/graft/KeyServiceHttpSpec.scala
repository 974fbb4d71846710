package graft

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.pipeline.KeyService

/** KeyService over REAL HTTP against an in-process localhost stub —
  * the reference's key-service contract (steps/dks.py:34-96: a session
  * with mounted retries calling the decrypt endpoint) exercised
  * end-to-end: happy path, transient-5xx retry, timeout retry, and
  * eventual failure, with the broadcast-distinct resolution contract
  * (one HTTP call per DISTINCT encrypted key, never per record)
  * asserted against the stub's own request counter.
  *
  * The stub binds an ephemeral loopback port (zero egress; JDK
  * HttpServer, no dependencies). If the sandbox forbids even loopback
  * binds, the suite cancels rather than fails — the spec is opt-in on
  * environment capability.
  */
class KeyServiceHttpSpec extends SparkSpec {

  /** One stub server per behavior; returns (endpoint, requestCounter). */
  private def withStub(behavior: (HttpExchange, Int) => Unit)(
      body: (String, AtomicInteger) => Unit): Unit = {
    val server =
      try HttpServer.create(
        new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
      catch {
        case e: java.io.IOException =>
          cancel(s"loopback bind unavailable in this sandbox: ${e.getMessage}")
      }
    val hits = new AtomicInteger(0)
    server.createContext("/datakey/actions/decrypt", (ex: HttpExchange) => {
      val n = hits.incrementAndGet()
      try behavior(ex, n) finally ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", hits)
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, bodyStr: String): Unit = {
    val bytes = bodyStr.getBytes("UTF-8")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  private def readKey(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  test("happy path: withDataKeys resolves over real HTTP, one call per DISTINCT key") {
    withStub((ex, _) => respond(ex, 200, readKey(ex).reverse)) { (endpoint, hits) =>
      import spark.implicits._
      val svc = new KeyService(KeyService.http(endpoint))
      // 300 records over 3 distinct envelope keys — the distinct pass
      // must hit the service exactly 3 times, never 300
      val parsed = (1 to 300)
        .map(i => (s"rec$i", s"ek${i % 3}"))
        .toDF("payload", "key_enc")
      val out = svc.withDataKeys(parsed).collect()
      assert(out.length === 300)
      out.foreach { r =>
        val ek = r.getAs[String]("key_enc")
        assert(r.getAs[String]("data_key") === ek.reverse,
          "plaintext must be the stub's decrypt of THIS record's key")
      }
      assert(svc.lastResolvedCount === 3)
      assert(hits.get() === 3,
        s"broadcast-distinct contract violated: ${hits.get()} HTTP calls for 3 distinct keys")
    }
  }

  test("transient 5xx: withRetry resolves after the outage, attempts visible at the stub") {
    // first two attempts per key fail with 503 (the reference's retried
    // status set), the third succeeds
    val perKey = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    withStub { (ex, _) =>
      val key = readKey(ex)
      val n = perKey.computeIfAbsent(key, _ => new AtomicInteger(0)).incrementAndGet()
      if (n <= 2) respond(ex, 503, "") else respond(ex, 200, key.toUpperCase)
    } { (endpoint, hits) =>
      val resolve = KeyService.withRetry(maxRetries = 3, backoffMs = 1)(
        KeyService.http(endpoint))
      assert(resolve("abc") === "ABC")
      assert(perKey.get("abc").get() === 3, "two 503s then the success")
      assert(hits.get() === 3)
    }
  }

  test("timeout: a hung service trips the client timeout and is retried") {
    withStub { (ex, n) =>
      if (n == 1) { Thread.sleep(1500); respond(ex, 200, "too-late") }
      else respond(ex, 200, readKey(ex) + "-decrypted")
    } { (endpoint, hits) =>
      val resolve = KeyService.withRetry(maxRetries = 2, backoffMs = 1)(
        KeyService.http(endpoint, timeoutMs = 200))
      // the reference's "-decrypted" mock shape (steps/tests.py:64-76)
      assert(resolve("k1") === "k1-decrypted")
      assert(hits.get() >= 2, "first attempt must have timed out and retried")
    }
  }

  /** keytool-minted throwaway PKCS12 material for the mTLS legs: a
    * server identity (SAN=ip:127.0.0.1 so JDK hostname verification
    * passes against the loopback address), a TRUSTED client identity,
    * and a ROGUE client identity the server has never seen. Pure JDK
    * tooling — no cert fixtures checked in, everything minted per run.
    */
  private def mintMtlsMaterial(): Option[java.io.File] = {
    val keytool = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "keytool")
    if (!keytool.isFile) return None
    val dir = java.nio.file.Files.createTempDirectory("graft_mtls").toFile
    def run(args: String*): Unit = {
      val cmd = new java.util.ArrayList[String]()
      cmd.add(keytool.getPath)
      args.foreach(cmd.add)
      val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"keytool ${args.head} failed:\n$out")
    }
    def genpair(alias: String, san: Boolean): Unit = {
      val base = Seq("-genkeypair", "-alias", alias, "-keyalg", "RSA",
        "-keysize", "2048", "-dname", s"CN=$alias", "-validity", "1",
        "-storetype", "PKCS12", "-keystore", s"$dir/$alias.p12",
        "-storepass", "changeit")
      run((if (san) base ++ Seq("-ext", "SAN=ip:127.0.0.1") else base): _*)
      run("-exportcert", "-alias", alias, "-keystore", s"$dir/$alias.p12",
        "-storepass", "changeit", "-file", s"$dir/$alias.cer")
    }
    genpair("server", san = true)
    genpair("client", san = false)
    genpair("rogue", san = false)
    // server trusts ONLY the client cert; both clients trust the server
    run("-importcert", "-noprompt", "-alias", "client",
      "-file", s"$dir/client.cer", "-storetype", "PKCS12",
      "-keystore", s"$dir/server_trust.p12", "-storepass", "changeit")
    run("-importcert", "-noprompt", "-alias", "server",
      "-file", s"$dir/server.cer", "-storetype", "PKCS12",
      "-keystore", s"$dir/client_trust.p12", "-storepass", "changeit")
    Some(dir)
  }

  test("mutual TLS: trusted client cert resolves; rogue cert fails the handshake") {
    // the reference's DKS transport is HTTPS with client certs
    // (dks.py:34-60: cert=(crt, key), verify=ca on the session) — this
    // leg runs the REAL handshake: an HttpsServer requiring client
    // auth, a client whose PKCS12 identity the server trusts, and a
    // rogue client whose identity it does not.
    val dir = mintMtlsMaterial().getOrElse(cancel("keytool unavailable"))
    try {
      val serverCtx = KeyService.mtlsContext(
        s"$dir/server.p12", "changeit".toCharArray,
        s"$dir/server_trust.p12", "changeit".toCharArray)
      val server =
        try com.sun.net.httpserver.HttpsServer.create(
          new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
        catch {
          case e: java.io.IOException =>
            cancel(s"loopback bind unavailable: ${e.getMessage}")
        }
      server.setHttpsConfigurator(
        new com.sun.net.httpserver.HttpsConfigurator(serverCtx) {
          override def configure(p: com.sun.net.httpserver.HttpsParameters): Unit = {
            val sp = serverCtx.getDefaultSSLParameters
            sp.setNeedClientAuth(true) // mTLS: no client cert, no service
            p.setSSLParameters(sp)
          }
        })
      val hits = new AtomicInteger(0)
      server.createContext("/datakey/actions/decrypt", (ex: HttpExchange) => {
        hits.incrementAndGet()
        try respond(ex, 200, readKey(ex) + "-decrypted") finally ex.close()
      })
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
      server.start()
      val endpoint = s"https://127.0.0.1:${server.getAddress.getPort}"
      try {
        // trusted identity: handshake completes, resolution lands
        val good = KeyService.withRetry(maxRetries = 1, backoffMs = 1)(
          KeyService.http(endpoint, ssl = Some(KeyService.mtlsContext(
            s"$dir/client.p12", "changeit".toCharArray,
            s"$dir/client_trust.p12", "changeit".toCharArray))))
        assert(good("k1") === "k1-decrypted")
        assert(hits.get() === 1)
        // rogue identity: the server rejects the UNTRUSTED client cert
        // during the handshake — resolution fails after retries and the
        // handler is never reached
        val before = hits.get()
        val rogue = KeyService.withRetry(maxRetries = 1, backoffMs = 1)(
          KeyService.http(endpoint, ssl = Some(KeyService.mtlsContext(
            s"$dir/rogue.p12", "changeit".toCharArray,
            s"$dir/client_trust.p12", "changeit".toCharArray))))
        val e = intercept[RuntimeException](rogue("k2"))
        assert(e.getMessage.contains("after 2 attempts"))
        assert(e.getCause.isInstanceOf[java.io.IOException],
          s"handshake failure must surface as transport error, got ${e.getCause}")
        assert(hits.get() === before, "rogue request must never reach the handler")
      } finally server.stop(0)
    } finally Stage.deleteRecursively(dir)
  }

  /** The key SERVICE's side of the rotation case (the engine is only
    * ever the client): a server SSLContext whose IDENTITY can be
    * swapped under a live listener — the certificate-rotation runbook
    * case (reference: bootstrap config_hcs.sh re-mints the HCS cert
    * material; dks.py just points at cert paths that ops rotate). The
    * context's KeyManager delegates through a volatile reference:
    * calling the returned rotate function with a new PKCS12 path (same
    * store password) makes every SUBSEQUENT handshake present the new
    * leaf — no listener restart, no dropped service. Clients anchored
    * on the issuing CA keep working across the swap; clients that
    * pinned the old LEAF fail their next handshake, which is exactly
    * the operational signal that a pin (not a CA anchor) is in use.
    */
  private def rotatableServerContext(keyStorePath: String, pass: Array[Char])
      : (javax.net.ssl.SSLContext, String => Unit) = {
    import javax.net.ssl.{SSLEngine, X509ExtendedKeyManager}
    def kmOf(path: String): X509ExtendedKeyManager = {
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
      try ks.load(in, pass) finally in.close()
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, pass)
      kmf.getKeyManagers.collectFirst { case m: X509ExtendedKeyManager => m }
        .getOrElse(throw new IllegalStateException(s"no key manager in $path"))
    }
    // GENERATION-QUALIFIED aliases: a handshake in flight when rotate()
    // lands must complete against the keystore that CHOSE its alias —
    // choose* returns "g<N>:<alias>" and the key/chain lookups route
    // through generation N, so the delegate swap can never mix one
    // store's alias with another store's keys (the race that would
    // abort a handshake mid-rotation). The previous generation is kept
    // alive for exactly that window; older ones are dropped.
    object rotatable extends X509ExtendedKeyManager {
      @volatile private var gens: List[(Int, X509ExtendedKeyManager)] =
        List((0, kmOf(keyStorePath)))
      def rotateTo(path: String): Unit = synchronized {
        val next = gens.head._1 + 1
        gens = ((next, kmOf(path)) :: gens).take(2)
      }
      private def cur = gens.head
      private def qualify(gen: Int, alias: String): String =
        if (alias == null) null else s"g$gen:$alias"
      private def route(q: String): (X509ExtendedKeyManager, String) = {
        val i = q.indexOf(':')
        val gen = q.take(i).stripPrefix("g").toInt
        val km = gens.find(_._1 == gen).map(_._2).getOrElse(cur._2)
        (km, q.drop(i + 1))
      }
      override def getClientAliases(k: String, i: Array[java.security.Principal]) =
        cur._2.getClientAliases(k, i)
      override def chooseClientAlias(k: Array[String],
          i: Array[java.security.Principal], s: java.net.Socket) = {
        val (g, km) = cur; qualify(g, km.chooseClientAlias(k, i, s))
      }
      override def getServerAliases(k: String, i: Array[java.security.Principal]) =
        cur._2.getServerAliases(k, i)
      override def chooseServerAlias(k: String,
          i: Array[java.security.Principal], s: java.net.Socket) = {
        val (g, km) = cur; qualify(g, km.chooseServerAlias(k, i, s))
      }
      override def getCertificateChain(a: String) = {
        val (km, alias) = route(a); km.getCertificateChain(alias)
      }
      override def getPrivateKey(a: String) = {
        val (km, alias) = route(a); km.getPrivateKey(alias)
      }
      override def chooseEngineClientAlias(k: Array[String],
          i: Array[java.security.Principal], e: SSLEngine) = {
        val (g, km) = cur; qualify(g, km.chooseEngineClientAlias(k, i, e))
      }
      override def chooseEngineServerAlias(k: String,
          i: Array[java.security.Principal], e: SSLEngine) = {
        val (g, km) = cur; qualify(g, km.chooseEngineServerAlias(k, i, e))
      }
    }
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(Array(rotatable), null, null)
    (ctx, path => rotatable.rotateTo(path))
  }

  test("certificate rotation: keystore swaps under the live service; CA-anchored clients continue, leaf-pinned clients fail") {
    // the rotation runbook case (config_hcs.sh re-mints cert material;
    // ops swap it under the running DKS): a CA signs two successive
    // server leaves; the listener rotates from leaf1 to leaf2 WITHOUT
    // restarting. A client trusting the CA must not notice; a client
    // that pinned leaf1 must fail its next handshake.
    val keytool = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "keytool")
    if (!keytool.isFile) cancel("keytool unavailable")
    val dir = java.nio.file.Files.createTempDirectory("graft_rotation").toFile
    def run(args: String*): Unit = {
      val cmd = new java.util.ArrayList[String]()
      cmd.add(keytool.getPath)
      args.foreach(cmd.add)
      val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"keytool ${args.head} failed:\n$out")
    }
    val store = Seq("-storetype", "PKCS12", "-storepass", "changeit")
    try {
      // CA
      run(Seq("-genkeypair", "-alias", "ca", "-keyalg", "RSA", "-keysize", "2048",
        "-dname", "CN=graft-ca", "-validity", "1", "-ext", "bc:c",
        "-keystore", s"$dir/ca.p12") ++ store: _*)
      run(Seq("-exportcert", "-alias", "ca", "-keystore", s"$dir/ca.p12",
        "-file", s"$dir/ca.cer") ++ store.drop(2): _*)
      // two successive server leaves, both signed by the SAME CA
      def mintLeaf(alias: String): Unit = {
        run(Seq("-genkeypair", "-alias", alias, "-keyalg", "RSA", "-keysize", "2048",
          "-dname", s"CN=$alias", "-validity", "1",
          "-keystore", s"$dir/$alias.p12") ++ store: _*)
        run(Seq("-certreq", "-alias", alias, "-keystore", s"$dir/$alias.p12",
          "-file", s"$dir/$alias.csr") ++ store.drop(2): _*)
        run(Seq("-gencert", "-alias", "ca", "-keystore", s"$dir/ca.p12",
          "-infile", s"$dir/$alias.csr", "-outfile", s"$dir/$alias.cer",
          "-ext", "SAN=ip:127.0.0.1", "-validity", "1") ++ store.drop(2): _*)
        run(Seq("-importcert", "-noprompt", "-alias", "ca",
          "-file", s"$dir/ca.cer",
          "-keystore", s"$dir/$alias.p12") ++ store.drop(2): _*)
        run(Seq("-importcert", "-noprompt", "-alias", alias,
          "-file", s"$dir/$alias.cer",
          "-keystore", s"$dir/$alias.p12") ++ store.drop(2): _*)
      }
      mintLeaf("leaf1")
      mintLeaf("leaf2")
      // truststores: the CA anchor, and a PIN of the leaf1 cert only
      run(Seq("-importcert", "-noprompt", "-alias", "ca",
        "-file", s"$dir/ca.cer",
        "-keystore", s"$dir/trust_ca.p12") ++ store: _*)
      run(Seq("-importcert", "-noprompt", "-alias", "leaf1",
        "-file", s"$dir/leaf1.cer",
        "-keystore", s"$dir/trust_leaf1.p12") ++ store: _*)

      val (serverCtx, rotate) = rotatableServerContext(
        s"$dir/leaf1.p12", "changeit".toCharArray)
      val server =
        try com.sun.net.httpserver.HttpsServer.create(
          new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
        catch {
          case e: java.io.IOException =>
            cancel(s"loopback bind unavailable: ${e.getMessage}")
        }
      server.setHttpsConfigurator(
        new com.sun.net.httpserver.HttpsConfigurator(serverCtx))
      val hits = new AtomicInteger(0)
      server.createContext("/datakey/actions/decrypt", (ex: HttpExchange) => {
        hits.incrementAndGet()
        try respond(ex, 200, readKey(ex) + "-decrypted") finally ex.close()
      })
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
      server.start()
      val endpoint = s"https://127.0.0.1:${server.getAddress.getPort}"
      // trust-only contexts: mtlsContext with the truststore in both
      // positions (no private keys -> empty KeyManager; the server
      // doesn't request client auth on this leg)
      def trustCtx(name: String) = KeyService.mtlsContext(
        s"$dir/$name.p12", "changeit".toCharArray,
        s"$dir/$name.p12", "changeit".toCharArray)
      try {
        // CA-anchored client works against leaf1, so does the leaf1 pin
        assert(KeyService.http(endpoint,
          ssl = Some(trustCtx("trust_ca")))("k1") === "k1-decrypted")
        assert(KeyService.http(endpoint,
          ssl = Some(trustCtx("trust_leaf1")))("k2") === "k2-decrypted")
        assert(hits.get() === 2)
        // ROTATE under the live listener: no restart, no new port
        rotate(s"$dir/leaf2.p12")
        // a FRESH CA-anchored client (new connection, new handshake)
        // continues — rotation is invisible behind the CA anchor
        assert(KeyService.http(endpoint,
          ssl = Some(trustCtx("trust_ca")))("k3") === "k3-decrypted")
        assert(hits.get() === 3)
        // the leaf1-pinned client now FAILS THE HANDSHAKE: the pin was
        // to the retired identity, and the handler is never reached
        val pinned = KeyService.withRetry(maxRetries = 1, backoffMs = 1)(
          KeyService.http(endpoint, ssl = Some(trustCtx("trust_leaf1"))))
        val e = intercept[RuntimeException](pinned("k4"))
        assert(e.getCause.isInstanceOf[java.io.IOException],
          s"pin failure must surface as a transport error, got ${e.getCause}")
        assert(hits.get() === 3, "pinned client must never reach the handler after rotation")
      } finally server.stop(0)
    } finally Stage.deleteRecursively(dir)
  }

  test("eventual failure: a dead service exhausts retries with a diagnosable error") {
    withStub((ex, _) => respond(ex, 503, "")) { (endpoint, hits) =>
      val resolve = KeyService.withRetry(maxRetries = 2, backoffMs = 1)(
        KeyService.http(endpoint))
      val e = intercept[RuntimeException](resolve("k9"))
      assert(e.getMessage.contains("after 3 attempts"))
      assert(e.getCause.isInstanceOf[java.io.IOException])
      assert(hits.get() === 3, "maxRetries=2 means exactly 3 attempts")
    }
  }
}
