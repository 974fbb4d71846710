package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, GraftFunctions}

/** SQL-surface registration: every custom kernel callable from
  * spark.sql through the session's GraftExtensions, with results
  * identical to the Column-builder API.
  */
class ExtensionsSpec extends SparkSpec {

  test("the session's GraftExtensions make every graft function callable from SQL") {
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs_ext")

    val viaSql = spark.sql(
      """SELECT doc_id,
        |  simhash64(word_shingle_hashes(text, 1)) AS sh,
        |  size(char_gram_hashes(text, 5)) AS ng,
        |  word_stats(text).nw AS nw,
        |  minhash_sig(char_gram_hashes(text, 3), 8) AS sig,
        |  simhash64(word_shingle_md5_hashes(text, 1)) AS shm,
        |  size(char_gram_md5_hashes(text, 3)) AS ngm,
        |  md5_chain_fp(text) AS fp,
        |  bpe_token_count(text) AS bt
        |FROM docs_ext""".stripMargin)
    val viaApi = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      graft.functions.simhash64(
        graft.functions.word_shingle_hashes(col("text"), 1)).as("sh"),
      size(graft.functions.char_gram_hashes(col("text"), 5)).as("ng"),
      graft.functions.word_stats(col("text")).getField("nw").as("nw"),
      graft.functions.minhash_sig(
        graft.functions.char_gram_hashes(col("text"), 3), 8).as("sig"),
      graft.functions.simhash64(
        graft.functions.word_shingle_md5_hashes(col("text"), 1)).as("shm"),
      size(graft.functions.char_gram_md5_hashes(col("text"), 3)).as("ngm"),
      graft.functions.md5_chain_fp(col("text")).as("fp"),
      graft.functions.bpe_token_count(col("text")).as("bt"))

    assert(viaSql.exceptAll(viaApi).count() === 0)
    assert(viaApi.exceptAll(viaSql).count() === 0)
    assert(viaSql.count() > 0)

    // the threshold-taking kernels must accept a BARE SQL literal —
    // Spark types 0.95 as DECIMAL(2,2), which doubleArg once rejected
    val pairs = spark.sql(
      """SELECT cell_pairs(array(1L, 2L), array(1.0D, 0.0D, 1.0D, 0.0D), 0.95) AS p,
        |  cell_dropped(array(1L, 2L), array(1.0D, 0.0D, 1.0D, 0.0D), 0.95) AS d,
        |  block_topk(array(1L), array(1.0D, 0.0D), array(2L), array(1.0D, 0.0D), 1) AS t
        |""".stripMargin).collect()(0)
    // identical unit vectors: cos = 1.0 ≥ 0.95 → one qualifying pair,
    // the higher id dropped, one top-1 entry
    assert(pairs.getSeq[org.apache.spark.sql.Row](0).length === 1)
    assert(pairs.getSeq[Long](1) === Seq(2L))
    assert(pairs.getSeq[org.apache.spark.sql.Row](2).length === 1)

    // maxsim_fx from SQL: parallel query token maxes out at the
    // parallel doc token (fx 10⁴), orthogonal query token at 0
    val ms = spark.sql(
      """SELECT maxsim_fx(
        |  array(array(1.0D, 0.0D), array(0.0D, 1.0D)),
        |  array(array(1.0D, 0.0D), array(-1.0D, 0.0D))) AS s""".stripMargin)
      .collect()(0)
    assert(ms.getLong(0) === 10000L)
  }

  test("lsh_buckets equals the composable when(vec_dot > 0) column stack") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    val dim = 64
    val planes: Array[Array[Array[Double]]] =
      Array.fill(8)(Array.fill(12)(Array.fill(dim)(rnd.nextGaussian())))
    for (_ <- 1 to 200) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val got = graft.functions.CentroidOps
        .lshBuckets(new GenericArrayData(v), planes).toIntArray()
      val want = planes.map { fam =>
        fam.zipWithIndex.map { case (p, h) =>
          val dot = (0 until dim).foldLeft(0.0)((a, i) => a + v(i) * p(i))
          if (dot > 0) 1 << h else 0
        }.sum
      }
      assert(got.toSeq === want.toSeq)
    }
  }

  test("routed nearest-cell scan is bit-identical to the flat scan (ties included)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.{CellRouter, CentroidOps}
    val rnd = new scala.util.Random(42)
    val dim = 64
    val k = 1500 // ≥ CellRouter.MinCells — the production routed regime
    val cents = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    // adversarial: exact duplicate centroids force the (dist, idx)
    // lowest-index tie-break through the pruned path
    cents(700) = cents(13).clone()
    cents(1499) = cents(13).clone()
    val router = CellRouter.build(cents)
    val queries: Seq[Array[Double]] =
      Seq.tabulate(500)(_ => Array.fill(dim)(rnd.nextGaussian())) ++
        // distance-0 ties: queries sitting exactly on duplicated centroids
        Seq(cents(13).clone(), cents(700).clone()) ++
        // equidistant ties: exact midpoints of centroid pairs
        Seq.tabulate(50) { i =>
          val a = cents(i); val b = cents(k - 1 - i)
          Array.tabulate(dim)(j => (a(j) + b(j)) / 2)
        } ++
        // near-zero distances: centroids perturbed by ~1e-13, where a
        // tiny positive group bound minus the absolute safety shrink
        // goes negative — the case that once squared to a spuriously
        // LARGE prune threshold
        Seq.tabulate(25) { i =>
          val a = cents(i * 7 % k)
          Array.tabulate(dim)(j => a(j) + (if (j == 0) 1e-13 else 0.0))
        }
    for (probes <- Seq(1, 3, 10); q <- queries) {
      val v = new GenericArrayData(q)
      val flat = CentroidOps.nearestCells(v, cents, probes).toIntArray()
      val routed = CentroidOps.nearestCellsRouted(v, cents, router, probes).toIntArray()
      assert(routed.toSeq === flat.toSeq, s"probes=$probes diverged")
    }
  }

  test("bpe_token_count: greedy longest-match against an independent reference") {
    // independent reimplementation of the tokenizer contract: greedy
    // scan, vocab membership = md5("bpe:"+gram) first hex nibble
    // (trigram < 4, bigram < 8) over [a-z0-9 ], codepoint fallback
    def nib(g: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("bpe:" + g).getBytes("UTF-8"))
      (d(0) >>> 4) & 0xF
    }
    val dom = ('a' to 'z').toSet ++ ('0' to '9') + ' '
    def ref(s: String): Long = {
      val cps = s.codePoints().toArray
      var pos = 0
      var n = 0L
      def gram(len: Int): Option[String] = {
        val g = cps.slice(pos, pos + len)
        if (g.length == len && g.forall(c => c < 128 && dom(c.toChar)))
          Some(new String(g, 0, len))
        else None
      }
      while (pos < cps.length) {
        if (gram(3).exists(nib(_) < 4)) pos += 3
        else if (gram(2).exists(nib(_) < 8)) pos += 2
        else pos += 1
        n += 1
      }
      n
    }
    val cases = Seq(
      "", " ", "a", "the quick brown fox 42 jumps", "UPPER Case Mixed",
      "naïve café — ünïcödé", "emoji 😀 pair", "aaa bbb ccc",
      "tab\tand\nnewline", "0123456789 0123456789")
    for (c <- cases)
      assert(graft.functions.SigOps.bpeTokenCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(c)) === ref(c),
        s"mismatch on '$c'")
    // corpus-wide agreement + the count actually compresses (multi-char
    // tokens fire): tokens strictly fewer than codepoints
    val docs = Tables.documents(spark, sfDir).select("text").collect().map(_.getString(0))
    var toks = 0L
    var chars = 0L
    for (t <- docs) {
      val k = graft.functions.SigOps.bpeTokenCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      assert(k === ref(t), s"corpus mismatch on doc '${t.take(40)}...'")
      toks += k
      chars += t.codePointCount(0, t.length)
    }
    assert(toks < chars, "no multi-char vocab token ever matched")
  }

  test("crypto + normalization round-trips through the SQL surface") {
    val row = spark.sql(
      """SELECT aes_ctr_decrypt(
        |    aes_ctr_encrypt('{"a": 1}', base64(unhex(md5('k'))), base64(unhex(md5('iv')))),
        |    base64(unhex(md5('k'))), base64(unhex(md5('iv')))) AS back,
        |  json_canonicalize('{"b": 2, "a": 1}') AS canon,
        |  uc_id('42') AS prim_id,
        |  uc_id('{"b": 1, "a": 2}') AS obj_id""".stripMargin).head()
    assert(row.getString(0) === """{"a": 1}""")
    assert(row.getString(1) === """{"a":1,"b":2}""")
    assert(row.getString(2) === "42")
    assert(row.getString(3) === """{"a":2,"b":1}""")
  }

  test("GraftExtensions injects the full function table") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; table is shared
    assert(GraftFunctions.all.map(_._1).distinct.size === GraftFunctions.all.size)
  }

  test("extension injection is live in a fresh session state") {
    // newSession() rebuilds sessionState from the session's injected
    // extensions and drops functions registered on the parent's state
    // at runtime — so this only passes if Graft.builder's
    // withExtensions(new GraftExtensions) really took
    val fresh = spark.newSession()
    val row = fresh.sql(
      "SELECT uc_id('7') AS i, vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(row.getString(0) === "7")
    assert(row.getDouble(1) === 11.0)
  }
}
