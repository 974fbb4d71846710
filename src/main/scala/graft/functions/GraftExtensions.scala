package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral}

/** SQL surface for graft's custom expressions, plus the planner
  * strategy and optimizer rule graft's queries rely on.
  *
  * One registration path: `GraftExtensions` plugs into a session at
  * build time — `graft.Graft.builder` installs it through
  * `withExtensions`, and a deployment that builds its own session sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Sessions
  * derived from it (`newSession()`) inherit the injections.
  *
  * Every graft kernel is then callable from SQL:
  * `SELECT simhash64(word_shingle_hashes(text, 1)) FROM docs`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // custom physical operators (SURVEY §4 path (c)): the planner
    // strategy for the native as-of join
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // nested from_json schema pruning (the one-level-only gap in
    // Catalyst's OptimizeCsvJsonExprs) — see plans/PruneJsonPaths
    ext.injectOptimizerRule(_ => graft.plans.PruneJsonPaths)
  }
}

object GraftFunctions {

  // ExpressionInfo's 3-arg constructor is (className, DB, name) — use
  // the 5-arg form so `name` is the name and `usage` the usage
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  private def intArg(name: String, e: Expression): Int = e match {
    case IntegerLiteral(n) if n > 0 => n
    case other => throw new IllegalArgumentException(
      s"$name expects a positive literal INT, got: $other")
  }

  private def doubleArg(name: String, e: Expression): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    // SQL types a bare 0.95 as DECIMAL(2,2) — accept it, or the
    // registered functions reject the exact literal shape their own
    // usage strings suggest
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _) =>
      v.toDouble
    case IntegerLiteral(n) => n.toDouble
    case other => throw new IllegalArgumentException(
      s"$name expects a literal DOUBLE, got: $other")
  }

  /** Total builder: wrong argument counts get a named arity error, not
    * a bare MatchError from a partial function.
    */
  private def arity(name: String, n: Int)(
      f: PartialFunction[Seq[Expression], Expression]): Seq[Expression] => Expression =
    args =>
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")
      else f(args)

  /** (name, info, builder) for every graft SQL function. */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("aes_ctr_decrypt",
      info("aes_ctr_decrypt", "aes_ctr_decrypt(b64data, b64key, b64iv) - AES-CTR decrypt to utf8"),
      arity("aes_ctr_decrypt", 3) { case Seq(d, k, iv) => AesCtrDecrypt(d, k, iv) }),
    ("aes_ctr_encrypt",
      info("aes_ctr_encrypt", "aes_ctr_encrypt(utf8, b64key, b64iv) - AES-CTR encrypt to base64"),
      arity("aes_ctr_encrypt", 3) { case Seq(d, k, iv) => AesCtrEncrypt(d, k, iv) }),
    ("uc_validate",
      info("uc_validate", "uc_validate(json) - date/id wrapping; returns struct<json, is_delete>"),
      arity("uc_validate", 1) { case Seq(j) => UcValidate(j) }),
    ("uc_transform_audit",
      info("uc_transform_audit", "uc_transform_audit(json, envelope_lm) - businessAudit context unwrap"),
      arity("uc_transform_audit", 2) { case Seq(j, lm) => UcTransformAudit(j, lm) }),
    ("json_canonicalize",
      info("json_canonicalize", "json_canonicalize(json) - compact, sorted keys, python-parity floats"),
      arity("json_canonicalize", 1) { case Seq(j) => JsonCanonicalize(j) }),
    ("uc_id",
      info("uc_id", "uc_id(raw_id) - canonical record id"),
      arity("uc_id", 1) { case Seq(j) => UcCanonicalId(j) }),
    ("uc_id_part",
      info("uc_id_part", "uc_id_part(id) - 2-char partition prefix"),
      arity("uc_id_part", 1) { case Seq(j) => UcIdPart(j) }),
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - dot product over array<double>"),
      arity("vec_dot", 2) { case Seq(a, b) => DotProduct(a, b) }),
    ("vec_cosine",
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity over array<double>"),
      arity("vec_cosine", 2) { case Seq(a, b) => CosineSimilarity(a, b) }),
    ("maxsim_fx",
      info("maxsim_fx", "maxsim_fx(qtoks, ctoks) - fixed-point late-interaction MaxSim over array<array<double>>"),
      arity("maxsim_fx", 2) { case Seq(q, c) => MaxSimFx(q, c) }),
    ("sorted_intersect_count",
      info("sorted_intersect_count", "sorted_intersect_count(a, b) - |A∩B| of sorted bigint arrays"),
      arity("sorted_intersect_count", 2) { case Seq(a, b) => SortedIntersectCount(a, b) }),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(hashes, numPerm) - MinHash signature"),
      arity("minhash_sig", 2) { case Seq(h, n) => MinHashSig(h, intArg("minhash_sig", n)) }),
    ("simhash64",
      info("simhash64", "simhash64(token_hashes) - 64-bit SimHash"),
      arity("simhash64", 1) { case Seq(h) => SimHash64(h) }),
    ("char_gram_hashes",
      info("char_gram_hashes", "char_gram_hashes(text, n) - sorted distinct n-codepoint-gram hashes"),
      arity("char_gram_hashes", 2) { case Seq(t, n) => CharGramHashes(t, intArg("char_gram_hashes", n)) }),
    ("word_shingle_hashes",
      info("word_shingle_hashes", "word_shingle_hashes(text, n) - positional n-word-shingle hashes"),
      arity("word_shingle_hashes", 2) { case Seq(t, n) => WordShingleHashes(t, intArg("word_shingle_hashes", n)) }),
    ("cdc_chunks",
      info("cdc_chunks", "cdc_chunks(text, w, mod) - content-defined chunks: struct<start,len,fp> per gear-cut segment"),
      arity("cdc_chunks", 3) { case Seq(t, w, m) =>
        CdcChunks(t, intArg("cdc_chunks", w), intArg("cdc_chunks", m)) }),
    ("winnow_select",
      info("winnow_select", "winnow_select(hashes, window) - winnowing fingerprint selection"),
      arity("winnow_select", 2) { case Seq(h, w) => WinnowSelect(h, intArg("winnow_select", w)) }),
    ("word_stats",
      info("word_stats", "word_stats(text) - struct<nw: token count, sh: stopword hits>"),
      arity("word_stats", 1) { case Seq(t) => WordStats(t) }),
    ("bpe_token_count",
      info("bpe_token_count", "bpe_token_count(text) - greedy longest-match subword token count (md5 vocab)"),
      arity("bpe_token_count", 1) { case Seq(t) => BpeTokenCount(t) }),
    ("word_shingle_md5_hashes",
      info("word_shingle_md5_hashes", "word_shingle_md5_hashes(text, n) - positional md5-60 n-word-shingle hashes"),
      arity("word_shingle_md5_hashes", 2) { case Seq(t, n) => WordShingleMd5Hashes(t, intArg("word_shingle_md5_hashes", n)) }),
    ("char_gram_md5_hashes",
      info("char_gram_md5_hashes", "char_gram_md5_hashes(text, n) - sorted distinct md5-60 n-codepoint-gram hashes"),
      arity("char_gram_md5_hashes", 2) { case Seq(t, n) => CharGramMd5Hashes(t, intArg("char_gram_md5_hashes", n)) }),
    ("md5_chain_fp",
      info("md5_chain_fp", "md5_chain_fp(text) - md5-hex chain fingerprint over \\s+ tokens"),
      arity("md5_chain_fp", 1) { case Seq(t) => Md5ChainFingerprint(t) }),
    ("topk_rows",
      info("topk_rows", "topk_rows(struct(score, id), k) - bounded-memory top-k rows per group"),
      arity("topk_rows", 2) { case Seq(s, k) => TopKRows(s, intArg("topk_rows", k)) }),
    ("bitmap_distinct",
      info("bitmap_distinct", "bitmap_distinct(key) - exact distinct count via mergeable container bitmaps"),
      arity("bitmap_distinct", 1) { case Seq(k) => BitmapDistinct(k) }),
    ("bitmap_build",
      info("bitmap_build", "bitmap_build(key) - materialize the container bitmap (canonical wire form)"),
      arity("bitmap_build", 1) { case Seq(k) => BitmapBuild(k) }),
    ("bitmap_and_count",
      info("bitmap_and_count", "bitmap_and_count(a, b) - |A ∩ B| of two serialized bitmaps"),
      arity("bitmap_and_count", 2) { case Seq(a, b) => BitmapAndCount(a, b) }),
    ("block_topk",
      info("block_topk", "block_topk(qids, qflat, ids, flat, k) - per-cell all-pairs cosine top-k over primitive blocks, self pairs skipped"),
      arity("block_topk", 5) { case Seq(q, qf, i, f, k) => CellTopK(q, qf, i, f, intArg("block_topk", k)) }),
    ("cell_dropped",
      info("cell_dropped", "cell_dropped(ids, flat_vecs, tau) - SemDeDup drop scan: ids with an earlier same-cell neighbor at round(cos,6) >= tau"),
      arity("cell_dropped", 3) { case Seq(i, f, t) => CellDropped(i, f, doubleArg("cell_dropped", t)) }),
    ("cell_pairs",
      info("cell_pairs", "cell_pairs(ids, flat_vecs, tau) - qualifying (id_a < id_b, round(cos,4) >= tau) pairs within a primitive block"),
      arity("cell_pairs", 3) { case Seq(i, f, t) => CellPairs(i, f, doubleArg("cell_pairs", t)) }),
    ("mmr_select",
      info("mmr_select", "mmr_select(ids, relfx, flat_vecs, k) - greedy fixed-point MMR selection over a shortlist block"),
      arity("mmr_select", 4) { case Seq(i, r, f, k) => MmrSelect(i, r, f, intArg("mmr_select", k)) }),
  )
}
