package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftx.ColumnBridge.{column => toCol, expression => toExpr}

/** Public column-builder surface for graft's custom expressions, mirroring
  * org.apache.spark.sql.functions style.
  */
package object functions {

  /** AES-CTR decrypt: base64 ciphertext × base64 key × base64 iv → utf8. */
  def aes_ctr_decrypt(data: Column, key: Column, iv: Column): Column =
    toCol(AesCtrDecrypt(toExpr(data), toExpr(key), toExpr(iv)))

  /** Encrypted data key → its plaintext key from `keys`, null when the
    * key was not resolved. Prints as `data_key_lookup(<keyEnc>)`.
    */
  def data_key_lookup(keyEnc: Column, keys: Map[String, String]): Column =
    toCol(DataKeyLookup(toExpr(keyEnc), new DataKeys(keys)))

  /** AES-CTR encrypt (fixture/test path). */
  def aes_ctr_encrypt(data: Column, key: Column, iv: Column): Column =
    toCol(AesCtrEncrypt(toExpr(data), toExpr(key), toExpr(iv)))

  /** UCMessage.validate: date/id wrapping + last-modified priority.
    * Returns struct<json string, is_delete boolean>.
    */
  def uc_validate(decrypted: Column): Column =
    toCol(UcValidate(toExpr(decrypted)))

  /** UCMessage.transform for data:businessAudit. */
  def uc_transform_audit(decrypted: Column, envelopeLastModified: Column): Column =
    toCol(UcTransformAudit(toExpr(decrypted), toExpr(envelopeLastModified)))

  /** UCMessage.sanitise (data.py:150-161): dumb find/replace on the
    * serialized record ([[UcJson.sanitise]]).
    * NB the $→d_ pass intentionally rewrites the "$date"/"$oid" wrappers
    * to "d_date"/"d_oid" (see reference docs/message-transformation.md).
    */
  def uc_sanitise(json: Column): Column =
    toCol(UcSanitise(toExpr(json)))

  /** Final output form: compact, sorted keys, non-ascii raw
    * (UCMessage.utf8_decrypted_record).
    */
  def json_canonicalize(json: Column): Column =
    toCol(JsonCanonicalize(toExpr(json)))

  /** UCMessage.id: primitive ids pass through, object ids canonicalized. */
  def uc_id(rawId: Column): Column =
    toCol(UcCanonicalId(toExpr(rawId)))

  /** 2-char partition prefix of the (inner) id. */
  def uc_id_part(id: Column): Column =
    toCol(UcIdPart(toExpr(id)))

  /** Single-pass dot product over two array<double> columns. */
  def vec_dot(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  /** Single-pass fused cosine similarity over two array<double> columns. */
  def vec_cosine(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Fixed-point late-interaction MaxSim score between two
    * array<array<double>> multi-vector documents (see
    * [[MaxSimFx]] / [[VectorMath.maxsimFx]]).
    */
  def maxsim_fx(q: Column, c: Column): Column =
    toCol(MaxSimFx(toExpr(q), toExpr(c)))

  /** The `probes` nearest centroid indices (squared L2, ties → lower
    * index) of an array<double> vector against a trained codebook held
    * as one JVM reference object (constant-size plan vs a K×dim-literal
    * expression tree).
    */
  // routers memoized by codebook IDENTITY (array equals is reference
  // equality; weak keys let dropped codebooks collect): a query builds
  // the same codebook's router once, not once per assignCells call —
  // at the MaxCells frontier a build is seconds of serial driver work
  private val routerCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Array[Array[Double]], CellRouter]())

  def nearest_cells(v: Column, cents: Array[Array[Double]], probes: Int): Column = {
    // big codebooks get a triangle-inequality router (driver-side,
    // shipped with the codebook): same results, ~√k of the flat
    // scan's work per row
    val router =
      if (cents.length >= CellRouter.MinCells)
        Some(routerCache.computeIfAbsent(cents, CellRouter.build(_)))
      else None
    toCol(NearestCells(toExpr(v), cents, probes, router))
  }

  /** Product-quantization encode: 1-based nearest-centroid index per
    * subspace codebook.
    */
  def pq_encode(v: Column, books: Array[Array[Array[Double]]]): Column =
    toCol(PqEncode(toExpr(v), books))

  /** Flattened ADC lookup tables (M*K doubles) for a query vector. */
  def pq_luts(qv: Column, books: Array[Array[Array[Double]]]): Column =
    toCol(PqLuts(toExpr(qv), books))

  /** ADC distance: sum of per-subspace LUT entries selected by codes. */
  def pq_adc(luts: Column, codes: Column, k: Int): Column =
    toCol(PqAdc(toExpr(luts), toExpr(codes), k))

  /** Scalar-quantization encode: per-dim int8 level under [mins, maxs]. */
  def sq_encode(v: Column, mins: Array[Double], maxs: Array[Double]): Column =
    toCol(SqEncode(toExpr(v), mins, maxs))

  /** Scalar-quantization ADC: fixed-point asymmetric inner product. */
  def sq_adc(qfx: Column, codes: Column, minFx: Array[Long], dFx: Array[Long]): Column =
    toCol(SqAdc(toExpr(qfx), toExpr(codes), minFx, dFx))

  /** Membership probe of a bigint hash column against a pre-built
    * Bloom filter (scan-local, no shuffle of the probed side).
    */
  def bloom_might_contain(h: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    toCol(BloomMightContain(toExpr(h), bloom))

  /** Per-group Bloom-filter build aggregate → serialized filter bytes. */
  def bloom_build(h: Column, expectedItems: Long, fpp: Double): Column =
    toCol(BloomBuildAgg(toExpr(h), expectedItems, fpp).toAggregateExpression())

  /** Probe a serialized-filter column with a literal hash batch: true iff
    * the filter might contain ANY of them (one deserialize per row).
    */
  /** Estimated occurrence count of a LONG key against a serialized
    * Count-Min sketch (probe side of Spark's `count_min_sketch` agg).
    */
  def cms_estimate(sketchBytes: Column, key: Column): Column =
    toCol(CmsEstimate(toExpr(sketchBytes), toExpr(key)))

  def bloom_might_contain_any(bloomBytes: Column, hashes: Seq[Long]): Column =
    toCol(BloomMightContainAny(toExpr(bloomBytes), hashes))

  /** |A ∩ B| for two SORTED distinct array<bigint> columns (linear
    * merge, no per-call hash set — jaccard verify at pair volume).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    toCol(SortedIntersectCount(toExpr(a), toExpr(b)))

  /** numPerm-wide MinHash signature over an array<bigint> hash set
    * (native per-row loop; permutation j is the xxhash64(h, j) chain).
    */
  def minhash_sig(hashes: Column, numPerm: Int): Column =
    toCol(MinHashSig(toExpr(hashes), numPerm))

  /** 64-bit SimHash (per-bit majority) over an array<bigint> of token
    * hashes.
    */
  def simhash64(tokenHashes: Column): Column =
    toCol(SimHash64(toExpr(tokenHashes)))

  /** Sorted distinct xxhash64 of every n-codepoint window of a string
    * (native rolling scan over the UTF-8 bytes).
    */
  def char_gram_hashes(text: Column, n: Int): Column =
    toCol(CharGramHashes(toExpr(text), n))

  /** Positional xxhash64 of every n-word window of a string (tokens =
    * \s+ runs; hashes match xxhash64(concat_ws(' ', window words))).
    */
  def word_shingle_hashes(text: Column, n: Int): Column =
    toCol(WordShingleHashes(toExpr(text), n))

  /** Greedy longest-match subword token count under the deterministic
    * md5-built vocab (trigram nibble < 4, bigram nibble < 8 over
    * [a-z0-9 ]; byte fallback elsewhere).
    */
  def bpe_token_count(text: Column): Column =
    toCol(BpeTokenCount(toExpr(text)))

  /** Winnowing fingerprint selection: sorted distinct window-minima of
    * a positional hash array.
    */
  def winnow_select(hashes: Column, window: Int): Column =
    toCol(WinnowSelect(toExpr(hashes), window))

  /** struct(nw = \s+ token count, sh = stopword hits) in one byte scan
    * (stopword list: SigOps.Stopwords).
    */
  def word_stats(text: Column): Column =
    toCol(WordStats(toExpr(text)))

  /** struct(nc, nd, ent): char count, distinct chars, Shannon entropy
    * of the character distribution — one codepoint scan, entropy terms
    * folded in codepoint order (SQL-reproducible).
    */
  def char_entropy(text: Column): Column =
    toCol(CharEntropy(toExpr(text)))

  /** Positional md5-60 hashes of every n-word window — cross-engine
    * reproducible (first 15 hex nibbles of md5 of the space-joined
    * window), so SQL oracles can re-derive signatures exactly.
    */
  def word_shingle_md5_hashes(text: Column, n: Int): Column =
    toCol(WordShingleMd5Hashes(toExpr(text), n))

  /** Span-cut accounting (removed words/chars + total chars) in one
    * linear sweep — see SigOps.spanCutStats.
    */
  def span_cut_stats(words: Column, cutStarts: Column, span: Int): Column =
    toCol(SpanCutStats(toExpr(words), toExpr(cutStarts), span))

  /** Sorted distinct md5-60 hashes of every n-codepoint window
    * (cross-engine reproducible; see word_shingle_md5_hashes).
    */
  def char_gram_md5_hashes(text: Column, n: Int): Column =
    toCol(CharGramMd5Hashes(toExpr(text), n))

  /** Content-defined chunks array<struct<start,len,fp>> — gear-style
    * cut after every w-codepoint window with md5-60 ≡ 0 (mod `mod`).
    */
  def cdc_chunks(text: Column, w: Int, mod: Int): Column =
    toCol(CdcChunks(toExpr(text), w, mod))

  /** Order-sensitive md5-hex chain fingerprint over \s+ tokens:
    * fold(tokens, "seed") { (acc, w) => md5hex(acc + "|" + w) }.
    */
  def md5_chain_fp(text: Column): Column =
    toCol(Md5ChainFingerprint(toExpr(text)))

  /** Bounded-memory top-k aggregate over struct(score double, id long):
    * keeps the k best rows per group by (score DESC, id ASC) in an O(k)
    * heap with map-side combine — the scale path for window top-N.
    */
  def topk_rows(scoreId: Column, k: Int): Column =
    toCol(TopKRows(toExpr(scoreId), k).toAggregateExpression())

  /** EXACT distinct count via mergeable container bitmaps (the
    * Doris/ClickHouse BITMAP shape): fixed-size word-OR partials per
    * (group, mapper) instead of count-distinct's one-shuffled-row per
    * distinct value. Non-negative BIGINT keys.
    */
  def bitmap_distinct(key: Column): Column =
    toCol(BitmapDistinct(toExpr(key)).toAggregateExpression())

  /** Materialize the bitmap itself (canonical wire form) — store per
    * segment, combine later with bitmap algebra.
    */
  def bitmap_build(key: Column): Column =
    toCol(BitmapBuild(toExpr(key)).toAggregateExpression())

  /** |A ∩ B| of two serialized bitmaps — no fact-table rescan. */
  def bitmap_and_count(a: Column, b: Column): Column =
    toCol(BitmapAndCount(toExpr(a), toExpr(b)))

  /** Per-cell all-pairs cosine top-k over primitive blocks (probe
    * ids/vectors vs candidate ids/vectors, dim-strided flat arrays),
    * self pairs skipped — the kNN-join inner loop as one kernel call
    * per cell.
    */
  def block_topk(qids: Column, qflat: Column, ids: Column, flat: Column, k: Int): Column =
    toCol(CellTopK(toExpr(qids), toExpr(qflat), toExpr(ids), toExpr(flat), k))

  /** SemDeDup within-cell drop scan over a primitive block: vec_ids
    * with an earlier (lower-id) same-cell neighbor at
    * round(cos, 6) ≥ tau.
    */
  def cell_dropped(ids: Column, flat: Column, tau: Double): Column =
    toCol(CellDropped(toExpr(ids), toExpr(flat), tau))

  /** Qualifying (id_a < id_b, round(cos,4) ≥ tau) pairs within a
    * primitive block — embedding near-dup candidates, one kernel call
    * per LSH bucket.
    */
  def cell_pairs(ids: Column, flat: Column, tau: Double): Column =
    toCol(CellPairs(toExpr(ids), toExpr(flat), tau))

  /** Greedy MMR selection over a query's shortlist block: k picks
    * maximizing 7·relFx − 3·(max fixed-point sim to the selected set),
    * ties toward the smaller id — the whole selection chain in ONE
    * kernel eval per query row.
    */
  def mmr_select(ids: Column, relFx: Column, flat: Column, k: Int): Column =
    toCol(MmrSelect(toExpr(ids), toExpr(relFx), toExpr(flat), k))

  /** Per-table LSH bucket ids of a vector in one kernel pass over the
    * whole plane family.
    */
  def lsh_buckets(v: Column, planes: Array[Array[Array[Double]]]): Column =
    toCol(LshBuckets(toExpr(v), planes))
}
