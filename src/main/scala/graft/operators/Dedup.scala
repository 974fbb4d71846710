package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Stage.{fileStats, fp}
import graft.Tables
import graft.queries.QueryDef

/** Block C — deduplication operators for LLM-training corpora
  * (SURVEY.md §2.C). All candidate generation is blocked/bucketed so no
  * step is O(n²) in the corpus: exact dedup is one hash aggregate;
  * MinHash/SimHash generate candidates via a shuffle join on bucket
  * keys (LSH banding); n-gram jaccard verifies only within blocks.
  * Signatures are computed with built-in higher-order functions over
  * token arrays — pure projections, no explode-shuffle, no UDFs.
  */
object Dedup {

  /** documents ∪ re-inserted copies (doc_id % 7 == 0, id + 1_000_000) —
    * the corpus for exact dedup (the base table has no byte-identical
    * rows; re-inserts are how exact dups arise in practice).
    */
  def corpusWithExactDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
  }

  /** C1: exact dedup — single hash aggregate over md5(text); keeper is
    * the minimum id (deterministic). Scale shape: one shuffle on the
    * 128-bit content hash, map-side partial agg.
    */
  def dExact(s: SparkSession, d: String): DataFrame =
    corpusWithExactDups(s, d)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))

  val dExactSql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper, COUNT(*) AS cnt
      |FROM (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |) GROUP BY 1""".stripMargin

  // ---- MinHash + LSH ----

  private val NumPerm = 32
  private val Bands = 8 // × 4 rows per band

  /** (doc_id, sh): sorted distinct word-3-gram shingle hashes via the
    * native rolling kernel (graft.functions.WordShingleHashes — one
    * pass over the UTF-8 bytes, no per-window allocation), materialized
    * behind a hard barrier so the signature lambda, the banding
    * Generate and the verify joins all read an attribute.
    */
  // cached, not just barrier'd: the shingle pass feeds the signature
  // path AND both verify-join sides — a barrier alone re-runs the
  // full-corpus shingle hashing per consuming stage (Stage.cached doc)
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    graft.Stage.cached(Tables.documents(s, d).select(col("doc_id"),
      array_sort(array_distinct(
        graft.functions.word_shingle_hashes(col("text"), 3))).as("sh")))

  /** 32-wide MinHash signature: native per-row kernel
    * (graft.functions.MinHashSig) — the lambda formulations cost one
    * interpreted closure call per (shingle × permutation), ~25M
    * invocations at sf0.1.
    */
  private def minhashSig(sh: Column): Column =
    graft.functions.minhash_sig(sh, NumPerm)

  /** (doc_id, band, bucket) rows — Bands rows per doc (constant factor,
    * not a join explosion). Bucket key mixes the band's 4 signature rows.
    */
  private def bandBuckets(shingles: DataFrame): DataFrame = {
    // hard barrier, not just an exchange: the posexplode below is a
    // Generate, which re-evaluates projections in its child once per
    // OUTPUT row (8× the signature here) — only an RDD roundtrip pins it
    val docs = graft.Stage.barrier(shingles
      .select(col("doc_id"), minhashSig(col("sh")).as("sig")))
    def sigAt(i: Column): Column = element_at(col("sig"), i + 1)
    docs.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)), b => {
          val base = b * 4
          xxhash64(sigAt(base), sigAt(base + 1), sigAt(base + 2), sigAt(base + 3))
        })))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** C2: MinHash-LSH near-dup pairs: band-bucket join for candidates
    * (shuffle on (band, bucket) — never all-pairs), then exact shingle
    * jaccard ≥ 1/2 verification within candidates only, kept as integer
    * arithmetic (2·|A∩B| ≥ |A∪B|) so the oracle compares exactly.
    *
    * The DuckDB oracle is the ALL-PAIRS jaccard ≥ 1/2 set over the same
    * word-3-gram shingles (built as strings — set cardinalities equal
    * the 64-bit hash-set ones absent collisions): LSH banding is a
    * candidate generator, and on this corpus its recall at the 1/2
    * threshold is 1.0 (verified at sf0.01 and sf0.1 — every qualifying
    * pair shares a full signature band), so the bucketed output IS the
    * exact answer and hash-matches the quadratic oracle the small-scale
    * gate can afford to run.
    */
  def dMinhashLsh(s: SparkSession, d: String): DataFrame = {
    // ONE shingleSets instance feeds both the signature path and the
    // verify probes: shared attribute ids keep the generated code
    // identical across the three uses (codegen cache hits instead of
    // three recompiles of the same projection)
    val sh = shingleSets(s, d)
    val buckets = bandBuckets(sh)
    val candidates = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    candidates
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      // shingle sets are sorted+distinct: linear-merge intersection,
      // |A∪B| = |A|+|B|-|A∩B| (no per-pair hash set allocs)
      .withColumn("inter",
        graft.functions.sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("long"))
      .filter(col("inter") * 2 >= col("uni") && col("uni") > 0)
      .select("id_a", "id_b", "inter", "uni")
  }

  val dMinhashLshSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
      |    THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [] END) AS s
      |  FROM w)
      |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
      |  len(list_intersect(x.s, y.s)) AS inter,
      |  CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS BIGINT) AS uni
      |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      |WHERE 2 * len(list_intersect(x.s, y.s)) >=
      |      len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))
      |  AND len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) > 0""".stripMargin

  // ---- SimHash ----

  /** C3: SimHash near-dup pairs: 4 bands × 16 bits + 1-bit multiprobe
    * for candidates, verify hamming ≤ 8 via bit_count(xor).
    *
    * Scale math: band width must GROW with the corpus — 8-bit bands
    * (256 buckets) measured quadratic at a 10× corpus (avg bucket ≈
    * n/256 → pairs ≈ n²), while 16-bit bands keep buckets
    * near-singleton and the join linear. Recall is restored by probing:
    * one side also posts every single-bit variant of each band chunk
    * (4×17 rows/doc), so by pigeonhole any pair within hamming ≤ 7 has
    * some band with ≤ 1 differing bit and is guaranteed to collide —
    * the same guarantee 8 coarse bands gave, at linear candidate
    * volume.
    */
  private val SimHashBands = 4 // × 15 bits each over the 60-bit signature
  private val SimHashBandBits = 15
  private val SimHashMaxHamming = 7

  /** C3 (continued): the signature is built from md5-60 token hashes
    * (cross-engine reproducible — see SigOps.md5Hash60), and the pair
    * threshold is hamming ≤ 7, which makes the banding EXACT, not just
    * probabilistic: with 4 bands over 60 bits, any pair within hamming
    * ≤ 7 has some band where the signatures differ by ≤ 1 bit
    * (pigeonhole), and the probe side posts every single-bit variant of
    * each band chunk — so every qualifying pair is guaranteed to
    * collide, and the bucketed output hash-matches the all-pairs DuckDB
    * oracle that recomputes the same signatures from md5 nibbles.
    */
  def dSimhash(s: SparkSession, d: String): DataFrame = {
    // token hashes (1-word shingles) and the signature both via native
    // per-row kernels. The token array is barriered FIRST so the
    // size-filter and the signature read one materialized column
    // (inline, CollapseProject would re-evaluate the kernel in both);
    // the signature is barriered again so the banding Generates read an
    // attribute. Tokenless docs carry no signature (the oracle's unnest
    // drops them the same way).
    val toks = graft.Stage.barrier(Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.word_shingle_md5_hashes(col("text"), 1).as("toks")))
    // barrier, NOT Stage.cached, despite posted+probed both consuming
    // sh: the cached relation's accurate ~8 MB stats (two longs per
    // doc) re-plan the multiprobe join around a broadcast of an
    // EXPLODED side and the query went 12.9 s → 140 s at the 100×
    // probe. The barrier's unknown-size stats keep the shuffle join,
    // and the recomputed pass is just two cheap long columns.
    val sh = graft.Stage.barrier(toks
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), graft.functions.simhash64(col("toks")).as("simhash")))
    def chunk(b: Int): Column =
      shiftright(col("simhash"), SimHashBandBits * b)
        .bitwiseAND(lit((1L << SimHashBandBits) - 1))
    val posted = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimHashBands).map(b =>
        struct(lit(b).as("band"), chunk(b).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    // probe side: exact chunk + all single-bit flips per band
    val probed = sh.select(col("doc_id"), col("simhash"),
      explode(array((for {
        b <- 0 until SimHashBands
        f <- -1 until SimHashBandBits
      } yield {
        val bucket = if (f < 0) chunk(b)
        else chunk(b).bitwiseXOR(lit(1L << f))
        struct(lit(b).as("band"), bucket.as("bucket"))
      }): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    probed.as("x")
      .join(posted.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      // filter BEFORE distinct: hamming is pair-deterministic so the
      // orders are equivalent, and the filtered distinct aggregates
      // only qualifying pairs instead of the full candidate stream
      .filter(col("hamming") <= SimHashMaxHamming)
      .distinct()
  }

  /** The simhash-signature CTE chain, shared by the d_simhash oracle
    * and every graph oracle built over the same pair relation
    * (d_graph_dist).
    */
  private val simhashSigCtes: String =
    """w AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS ws
      |  FROM documents WHERE len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x != '')) > 0),
      |t AS (SELECT doc_id, unnest(ws) AS tok FROM w),
      |h AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(range(1, 16),
      |      j -> CAST(strpos('123456789abcdef', substr(md5(tok), j, 1)) AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS hv
      |  FROM t),
      |votes AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bits
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
      |  FROM votes GROUP BY doc_id)""".stripMargin

  val dSimhashSql: String =
    s"""WITH $simhashSigCtes
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |  CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
       |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh, y.sh)) <= 7""".stripMargin

  // ---- n-gram jaccard ----

  /** C4: n-gram jaccard within (lang, source) blocks — block join keeps
    * candidate generation off the full cross product; at corpus scale the
    * blocking key would be an LSH bucket (C2) instead of metadata.
    *
    * Char 5-grams come from the native rolling scan
    * (graft.functions.CharGramHashes): `substring(text, i, 5)` is O(i)
    * on UTF8 strings (codepoint scan from the start — no ASCII shortcut
    * with zh docs in the corpus) and chars-array HOF indexing pays one
    * interpreted lambda call per gram; the native kernel is one pass
    * over the UTF-8 bytes. Barrier so the self-join's two sides, the
    * size prefilter and the intersection all read the materialized set.
    */
  def dNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // candidates via MinHash banding over the gram sets — the earlier
    // (lang, source) metadata blocking was quadratic within blocks
    // (measured 14× at the 10× probe); banded candidates stay linear.
    // At the 0.6 threshold banding is probabilistic in general, but
    // every pair that actually clears the verify sits at jaccard ≥ 0.92
    // on this corpus (miss probability < 1e-4 per pair) and the output
    // hash-matches the blocked all-pairs oracle at every verified SF —
    // the same candidates-superset contract as d_minhash_lsh.
    //
    // The gram hashes (≈2k tiny md5 calls per doc — the operator's
    // single most expensive kernel, ~1B calls at the 100× probe) run
    // over the FULL corpus exactly ONCE: fused into the signature pass
    // and pinned with Stage.cached (the banding join consumes sigs on
    // both sides — a barrier alone re-ran the pass per side). The
    // verify side recomputes grams only for docs that survive candidate
    // generation (semi-join below against the cached candidate set).
    val sigs = graft.Stage.cached(base
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.minhash_sig(
          graft.functions.char_gram_hashes(col("text"), 5), NumPerm).as("sig")))
    def sigAt(i: Column): Column = element_at(col("sig"), i + 1)
    val buckets = sigs.select(col("doc_id"), col("lang"), col("source"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)), b => {
        val base = b * 4
        xxhash64(sigAt(base), sigAt(base + 1), sigAt(base + 2), sigAt(base + 3))
      })))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val candidates = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // the candidate set is tiny (≈qualifying-pair scale) but its
    // LINEAGE is the whole banding pipeline — cached so candIds and the
    // outer join don't re-run it per consumer
    val cand = graft.Stage.cached(candidates)
    val candIds = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val gramsFor = graft.Stage.cached(
      base.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          graft.functions.char_gram_hashes(col("text"), 5).as("grams"))
        .withColumn("ng", size(col("grams"))))
    cand
      .join(gramsFor.select(col("doc_id").as("id_a"), col("grams").as("g_a"),
        col("ng").as("ng_a")), Seq("id_a"))
      .join(gramsFor.select(col("doc_id").as("id_b"), col("grams").as("g_b"),
        col("ng").as("ng_b")), Seq("id_b"))
      // size prefilter: jaccard ≥ t needs |A|/|B| ≥ t — prunes most
      // pairs before the expensive set intersection
      .filter(least(col("ng_a"), col("ng_b")).cast("double")
        / greatest(col("ng_a"), col("ng_b")) >= 0.6)
      .select(col("id_a"), col("id_b"),
        graft.functions.sorted_intersect_count(col("g_a"), col("g_b")).as("inter"),
        col("ng_a"), col("ng_b"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("ng_a") + col("ng_b") - col("inter")).cast("long").as("uni"))
      // jaccard ≥ 0.6 as exact integer arithmetic (5·inter ≥ 3·union):
      // the output stays in integers, so the DuckDB oracle — which
      // builds the same codepoint 5-gram SETS with substr and
      // intersects them directly — compares exactly, no float rounding
      .filter(col("inter") * 5 >= col("uni") * 3)
  }

  val dNgramJaccardSql: String =
    """WITH g AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(range(1, greatest(length(text) - 5, 0) + 2),
      |      i -> substr(text, i, 5))) AS grams
      |  FROM documents)
      |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
      |  len(list_intersect(x.grams, y.grams)) AS inter,
      |  len(x.grams) + len(y.grams) - len(list_intersect(x.grams, y.grams)) AS uni
      |FROM g x JOIN g y
      |  ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id
      |WHERE 5 * len(list_intersect(x.grams, y.grams)) >=
      |      3 * (len(x.grams) + len(y.grams) - len(list_intersect(x.grams, y.grams)))""".stripMargin

  // ---- embedding cosine ----

  /** embeddings ∪ perturbed copies (vec_id % 11 == 0, id + 1_000_000,
    * first component nudged) — the corpus for cosine near-dup (the base
    * table is isotropic noise, max pair cosine ≈ 0.5).
    */
  def corpusWithNearVectors(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
    emb.unionByName(
      emb.filter(col("vec_id") % 11 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L)
        .withColumn("v", zip_with(col("v"), sequence(lit(0), size(col("v")) - 1),
          (x, i) => when(i === 0, x + lit(0.05)).otherwise(x))))
  }

  /** C5: embedding-cosine near-dup pairs. Candidates come from
    * random-hyperplane LSH buckets (8 tables × 12 sign bits — dedup
    * targets near-identical vectors, so narrower buckets than the ANN
    * queries' recall-oriented 4×6), cosine ≥ 0.95 verified within
    * buckets only. The earlier label-blocked join was quadratic within
    * blocks (6.3s at a 10× corpus → n²/labels pairs); bucketed
    * candidates stay linear. Cosine is the fused codegen'd expression
    * (graft.functions.vec_cosine) — one allocation-free pass per pair.
    */
  private lazy val EmbedDedupPlanes = Ann.hyperplanes(tables = 8, hyper = 12, seed = 13)

  def dEmbedCos(s: SparkSession, d: String): DataFrame = {
    val emb = corpusWithNearVectors(s, d).select("vec_id", "v")
    val b = Ann.withBucketsFor(emb, col("v"), EmbedDedupPlanes)
    // per-bucket BLOCK scan, not an x⋈y pair join: the join form
    // materialized every candidate pair with both vectors aboard and —
    // worse — dropDuplicates'd the FULL candidate stream (~39M pairs at
    // the 100× probe) before filtering it down to the ~10⁴× smaller
    // qualifying set. cell_pairs emits only qualifying pairs per
    // (table, bucket) block (filter-before-dedup is value-stable: cos
    // is pair-deterministic, so every cross-table duplicate carries the
    // identical rounded value), and the dedup then touches thousands of
    // rows, not tens of millions. Same fused cosine, same HALF_UP 4-dp
    // rounding — output identical to the join form row-for-row.
    b.groupBy("t", "bucket")
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("blk"))
      .select(explode(graft.functions.cell_pairs(
        transform(col("blk"), e => e.getField("vec_id")),
        flatten(transform(col("blk"), e => e.getField("v"))), 0.95)).as("e"))
      .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"),
        col("e.cos").as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** d_embed_cos oracle: the ALL-PAIRS cosine ≥ 0.95 set — the LSH
    * bucketing is a candidate generator whose recall on near-identical
    * vectors (the ≥ 0.95 band) is 1.0 on this corpus (verified at
    * sf0.01 and sf0.1), so the bucketed output IS the exact answer.
    * DuckDB's list_cosine_similarity runs the same sequential
    * dot/norm loop as graft's fused vec_cosine kernel, and 4-dp
    * rounding guards the last ulp.
    */
  val dEmbedCosSql: String =
    """WITH base AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |corpus AS (
      |  SELECT vec_id, v FROM base
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    list_transform(range(1, len(v) + 1),
      |      i -> CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END)
      |  FROM base WHERE vec_id % 11 = 0)
      |SELECT x.vec_id AS id_a, y.vec_id AS id_b,
      |  round(list_cosine_similarity(x.v, y.v), 4) AS cos
      |FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id
      |WHERE round(list_cosine_similarity(x.v, y.v), 4) >= 0.95""".stripMargin

  /** C6: SemDeDup — semantic deduplication in embedding space (Abbas
    * et al. 2023): cluster the corpus with the coarse k-means quantizer
    * (same IVF machinery as s_ann_ivf — production stores the corpus
    * cell-bucketed anyway), then verify pairwise cosine ONLY within
    * cells and drop the higher-id member of every pair ≥ τ. Scale
    * shape: cells bound the quadratic verify to (N/k)² per cell, and k
    * grows with the corpus so cell size stays bounded; pairs split
    * across a cell boundary are missed — the documented SemDeDup recall
    * tradeoff (multi-probe assignment narrows it). The keep-lowest-id
    * rule is the same deterministic contract as d_exact; cosine is
    * rounded to 6 dp before the threshold so the drop decision is
    * reproducible across engines.
    */
  private val SemTau = 0.95

  def semdedupFlags(s: SparkSession, d: String): DataFrame = {
    val emb = corpusWithNearVectors(s, d)
    // √N cells, same contract as the ANN family: fixed cells would make
    // the within-cell pairwise verify (N/k)² → quadratic total
    val centroids = Ann.ensureCentroids(emb.select(col("vec_id"), col("v")),
      d, "semdedup", Ann.scaledCells(emb.count()))
    val cells = graft.Stage.barrier(Ann.assignCells(emb, centroids, probes = 1))
    // within-cell scan as a per-cell BLOCK kernel, not an a⋈b pair
    // join: the join materializes every ordered pair with both dim-wide
    // vectors aboard (the same ~N²/k pair-stream disease the kNN build
    // had), while cell_dropped walks one primitive block per cell and
    // early-exits per vector on its first qualifying earlier neighbor.
    // The qualifying-pair SET and the drop flags are identical (same
    // fused cosine, same HALF_UP 6-dp rounding via the boundary band).
    val dropped = cells.groupBy("cell")
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("b"))
      .select(explode(graft.functions.cell_dropped(
        transform(col("b"), e => e.getField("vec_id")),
        flatten(transform(col("b"), e => e.getField("v"))), SemTau)).as("vec_id"))
    cells.join(dropped.withColumn("_drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cell"),
        coalesce(col("_drop"), lit(false)).as("dropped"))
  }

  def dSemdedup(s: SparkSession, d: String): DataFrame =
    semdedupFlags(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("n_total"),
        count(when(!col("dropped"), 1)).as("n_kept"),
        count(when(col("dropped"), 1)).as("n_dropped"))

  /** d_semdedup oracle: the quantizer is bit-reproducible (fixed-point
    * Lloyd — see Ann.lloydCtes), so DuckDB re-derives the SAME cells,
    * the same within-cell ≥ τ pairs (6-dp-rounded cosine), and the same
    * drop flags — a full hash check of the SemDeDup semantics, not a
    * recall assumption.
    */
  val dSemdedupSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |emb AS (
       |  SELECT vec_id, v, label FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(range(1, len(v) + 1),
       |      i -> CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END), label
       |  FROM base WHERE vec_id % 11 = 0),
       |${Ann.lloydCtes("emb")},
       |ca AS (
       |  SELECT vec_id, v, label, cell FROM (
       |    SELECT e.vec_id, e.v, e.label, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_reduce(list_transform(range(1, ${Ann.Dim + 1}),
       |          i -> (e.v[i] - ct.cv[i]) * (e.v[i] - ct.cv[i])), (x, y) -> x + y), ct.cell) AS ar
       |    FROM emb e, c${Ann.LloydIters} ct) WHERE ar = 1),
       |dropped AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM ca a JOIN ca b ON a.cell = b.cell AND a.vec_id > b.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $SemTau)
       |SELECT label, COUNT(*) AS n_total,
       |  COUNT(CASE WHEN d.vec_id IS NULL THEN 1 END) AS n_kept,
       |  COUNT(d.vec_id) AS n_dropped
       |FROM ca LEFT JOIN dropped d ON ca.vec_id = d.vec_id
       |GROUP BY label""".stripMargin

  /** C1b: the APPLICATION of exact dedup — the surviving corpus (keeper
    * row per content group), i.e. what a training pipeline feeds
    * downstream. Left-semi join of the corpus against the keeper set.
    */
  def dExactKeep(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusWithExactDups(s, d)
    val keepers = corpus
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    corpus.join(keepers, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
  }

  val dExactKeepSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 7 = 0
      |)
      |SELECT doc_id, lang, source, n_chars FROM corpus
      |WHERE doc_id IN (SELECT MIN(doc_id) FROM corpus GROUP BY md5(text))""".stripMargin

  // ---- near-dup clustering (connected components) ----

  /** C6: near-duplicate CLUSTERING — pair lists (C1–C5) only say "a
    * matches b"; a dedup pipeline needs transitive groups to pick one
    * keeper per cluster. Components are computed with distributed
    * hash-min label propagation plus pointer jumping: each round every
    * node takes the min label over its neighborhood (one shuffle join +
    * one partial agg), then labels compress through themselves
    * (label ← label(label)), giving O(log diameter) rounds — near-dup
    * clusters are shallow (dup groups are near-cliques), so this
    * converges in 2–3 rounds regardless of corpus size and never
    * materializes anything bigger than the edge list. The driver loop
    * only orchestrates; every step is a distributed join/agg, and each
    * round is barriered so lineage (and the plan) stays constant-size.
    *
    * Edges: exact-duplicate star edges (md5 groups of the dup corpus)
    * ∪ n-gram-jaccard near-dup pairs — both SQL-reproducible, so the
    * oracle recomputes the same components with a recursive CTE.
    * Output: every doc with its cluster id (min doc_id in component)
    * and cluster size.
    */
  /** Distributed connected components: hash-min label propagation with
    * pointer jumping. `nodes` has column `id`; `edges` has `(id_a,
    * id_b)` (symmetrized internally). Returns `(id, comp)` where comp
    * is the component's minimum id. Each round is one shuffle join +
    * one partial agg + one self-join; rounds are O(log diameter), and
    * every round is barriered so lineage (and the analyzed plan) stays
    * constant-size across iterations.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // persist both iteration inputs: every round runs a distributed
    // action (the convergence count), and without materialization each
    // action would recompute the whole lineage — edge generation
    // included — making the loop quadratic in rounds
    val sym = graft.Stage.barrier(
      edges.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()).persist()
    var labels = graft.Stage.barrier(
      nodes.select(col("id"), col("id").as("comp"))).persist()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 16) {
      // min over self ∪ neighbors' labels
      val stepped = labels.select("id", "comp")
        .union(labels.join(sym, col("id") === col("src"))
          .select(col("dst").as("id"), col("comp")))
        .groupBy("id").agg(min(col("comp")).as("comp"))
      // pointer jumping: comp ← comp(comp) — collapses label chains so
      // long paths converge logarithmically
      val jumped = graft.Stage.barrier(stepped.as("l")
        .join(stepped.select(col("id").as("jid"), col("comp").as("jcomp")).as("j"),
          col("l.comp") === col("j.jid"))
        .select(col("l.id").as("id"), col("j.jcomp").as("comp")))
        .persist()
      // the first round always changes labels (every non-isolated node
      // adopts a neighborhood min) — skip its convergence count and
      // spend the action materializing the new labels instead
      changed =
        if (rounds == 0) { jumped.count(); 1L }
        else jumped.as("n")
          .join(labels.as("o"), col("n.id") === col("o.id"))
          .filter(col("n.comp") =!= col("o.comp")).count()
      labels.unpersist() // jumped is materialized by the action above
      labels = jumped
      rounds += 1
    }
    sym.unpersist()
    labels
  }

  /** C16: triangle counting on the duplicate graph — the cluster-density
    * statistic (how CLIQUE-like are the near-dup clusters?) computed the
    * way a 100 TB graph requires: DEGREE-ORIENTED wedge enumeration.
    * Every undirected edge is oriented from its (degree, id)-smaller
    * endpoint, wedges are enumerated only at each edge's oriented
    * source, and a wedge closes by an equi-join against the canonical
    * edge set. Each triangle is counted exactly once (at its orientation-
    * minimal vertex), total wedge work is O(Σ out-deg²) = O(m^1.5) — a
    * high-degree hub never enumerates its full undirected neighborhood,
    * which is what makes naive triangle counting explode on skewed
    * graphs. Corpus = documents + TWO planted copies of every id ≡ 0
    * (mod 7) doc, so exact-dup groups are 3-cliques; edges = all pairs
    * within an identical-md5 group (bounded by plant multiplicity)
    * ∪ the n-gram near-dup pairs. Output: per-doc triangle
    * participation counts.
    */
  def dTriangles(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.select("doc_id", "text")
      .union(docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 1000000L, col("text")))
      .union(docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id") + 2000000L, col("text")))
      .toDF("doc_id", "text")
    val hashed = corpus.select(md5(col("text").cast("binary")).as("h"), col("doc_id"))
    val exactPairs = hashed.as("x").join(hashed.as("y"), "h")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val und = graft.Stage.cached(
      exactPairs.union(dNgramJaccard(s, d).select(col("id_a"), col("id_b")))
        .distinct())
    val sym = und.select(col("id_a").as("u"))
      .union(und.select(col("id_b").as("u")))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    val oriented = graft.Stage.cached(und
      .join(deg.select(col("u").as("id_a"), col("deg").as("da")), Seq("id_a"))
      .join(deg.select(col("u").as("id_b"), col("deg").as("db")), Seq("id_b"))
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("id_a") < col("id_b")),
          struct(col("id_a").as("src"), col("id_b").as("dst")))
          .otherwise(struct(col("id_b").as("src"), col("id_a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val wedges = oriented.select(col("src"), col("dst").as("v"))
      .join(oriented.select(col("src"), col("dst").as("w")), Seq("src"))
      .filter(col("v") < col("w"))
    val closing = und.select(
      least(col("id_a"), col("id_b")).as("v"),
      greatest(col("id_a"), col("id_b")).as("w"))
    wedges.join(closing, Seq("v", "w"))
      .select(explode(array(col("src"), col("v"), col("w"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
  }

  val dTrianglesSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0),
      |hashed AS (SELECT md5(text) AS h, doc_id FROM corpus),
      |exact_pairs AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM hashed x JOIN hashed y ON x.h = y.h AND x.doc_id < y.doc_id),
      |g AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(range(1, greatest(length(text) - 5, 0) + 2),
      |      i -> substr(text, i, 5))) AS grams
      |  FROM documents),
      |ngram_pairs AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM g x JOIN g y
      |    ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id
      |  WHERE 5 * len(list_intersect(x.grams, y.grams)) >=
      |        3 * (len(x.grams) + len(y.grams) - len(list_intersect(x.grams, y.grams)))),
      |und AS (SELECT * FROM exact_pairs UNION SELECT * FROM ngram_pairs),
      |sym AS (SELECT id_a AS u FROM und UNION ALL SELECT id_b FROM und),
      |deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY 1),
      |orient AS (
      |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND id_a < id_b)
      |              THEN id_a ELSE id_b END AS src,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND id_a < id_b)
      |              THEN id_b ELSE id_a END AS dst
      |  FROM und JOIN deg da ON da.u = und.id_a JOIN deg db ON db.u = und.id_b),
      |tri AS (
      |  SELECT e1.src AS x, e1.dst AS v, e2.dst AS w
      |  FROM orient e1 JOIN orient e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |  JOIN und ON und.id_a = LEAST(e1.dst, e2.dst)
      |          AND und.id_b = GREATEST(e1.dst, e2.dst))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
      |  SELECT unnest([x, v, w]) AS doc_id FROM tri) GROUP BY 1""".stripMargin

  def dCluster(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusWithExactDups(s, d)
    val exactEdges = corpus
      .select(md5(col("text").cast("binary")).as("h"), col("doc_id"))
      .withColumn("keeper", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("doc_id").as("id_b"))
    val ngramEdges = dNgramJaccard(s, d).select(col("id_a"), col("id_b"))
    connectedComponents(
      corpus.select(col("doc_id").as("id")),
      exactEdges.union(ngramEdges))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("comp")))
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        col("cluster_size"))
  }

  // Oracle candidate generation is PREFIX-FILTERED (Bayardo et al.'s
  // AllPairs), not all-pairs-within-block: order every doc's distinct
  // grams by ascending corpus frequency and keep the first
  // n − ⌈0.6·n⌉ + 1; any pair with Jaccard ≥ 0.6 must share its
  // globally-SMALLEST common gram inside BOTH prefixes (if the
  // smallest shared gram fell outside X's prefix, all ≥ overlap ≥
  // ⌈0.6·n⌉ shared grams would sit in X's (⌈0.6·n⌉−1)-sized suffix —
  // impossible), so the candidate set is an EXACT superset and the
  // verify step reproduces the all-pairs result bit-for-bit. This is
  // what keeps the DuckDB twin gateable at sf1 (the blocked all-pairs
  // recount went brute-quadratic: >28 CPU-min); heavy multi-referenced
  // CTEs are MATERIALIZED (DuckDB 1.0 inlines them per reference
  // otherwise — the s_mmr_ivf lesson).
  private val clusterCompCtes: String =
    """corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang, source
      |  FROM documents WHERE doc_id % 7 = 0
      |),
      |exact_edges AS (
      |  SELECT MIN(doc_id) OVER (PARTITION BY md5(text)) AS id_a, doc_id AS id_b
      |  FROM corpus
      |  QUALIFY doc_id != id_a
      |),
      |g AS MATERIALIZED (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(range(1, greatest(length(text) - 5, 0) + 2),
      |      i -> substr(text, i, 5))) AS grams
      |  FROM documents),
      |tok AS MATERIALIZED (
      |  SELECT doc_id, lang, source, len(grams) AS n, unnest(grams) AS gr FROM g),
      |freq AS MATERIALIZED (SELECT gr, COUNT(*) AS df FROM tok GROUP BY 1),
      |prefix AS MATERIALIZED (
      |  SELECT doc_id, lang, source, n, gr FROM (
      |    SELECT t.doc_id, t.lang, t.source, t.n, t.gr,
      |      ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.gr) AS rk
      |    FROM tok t JOIN freq f USING (gr))
      |  WHERE rk <= n - CEIL(0.6 * n) + 1),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM prefix x JOIN prefix y
      |    ON x.gr = y.gr AND x.lang = y.lang AND x.source = y.source
      |   AND x.doc_id < y.doc_id
      |  WHERE least(x.n, y.n) * 5 >= greatest(x.n, y.n) * 3),
      |ngram_edges AS MATERIALIZED (
      |  SELECT c.id_a, c.id_b
      |  FROM cand c JOIN g a ON a.doc_id = c.id_a JOIN g b ON b.doc_id = c.id_b
      |  WHERE 5 * len(list_intersect(a.grams, b.grams)) >=
      |        3 * (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
      |),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM exact_edges
      |  UNION SELECT id_b, id_a FROM exact_edges
      |  UNION SELECT id_a, id_b FROM ngram_edges
      |  UNION SELECT id_b, id_a FROM ngram_edges
      |),
      |walk(id, r) AS (
      |  SELECT doc_id, doc_id FROM corpus
      |  UNION
      |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r
      |),
      |comp AS (
      |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY id
      |)""".stripMargin

  val dClusterSql: String =
    s"""WITH RECURSIVE $clusterCompCtes
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp""".stripMargin

  /** Components-table artifact — cluster ONCE, apply MANY. A real
    * pipeline runs the expensive candidate-generation + connected-
    * components step once per corpus snapshot and then applies the
    * labels from a persisted table across many downstream jobs
    * (filtering, stats, per-split sampling); recomputing the whole edge
    * pipeline per consumer re-pays the most expensive step in the
    * dedup family. Same amortization pattern as the bucketed layouts
    * (Bucketing.ensureBucketed): a fingerprinted write-once location,
    * atomic rename on completion, re-attached by later JVMs. The
    * fingerprint covers the corpus dir AND the clustering semantics
    * (dClusterSql is the authoritative statement of edge thresholds +
    * component rule), so changed semantics can never re-attach a stale
    * label table.
    */
  private[graft] def componentsDir(d: String): java.io.File = {
    // like the quantizer artifact, the fingerprint also covers the
    // SOURCE DATA's (size, mtime): a corpus regenerated at the same
    // path must re-cluster, not re-attach labels from the old bytes
    val stats = fileStats(new java.io.File(s"$d/documents.parquet"))
    new java.io.File(s"/tmp/graft_components_${fp(d)}_${fp(s"$dClusterSql;$stats")}")
  }

  /** The persisted (doc_id, cluster_id, cluster_size) labels for `d`'s
    * dup corpus: built via [[dCluster]] on first use, read back (never
    * recomputed) afterwards — including from a fresh JVM.
    */
  def ensureComponents(s: SparkSession, d: String): DataFrame = {
    val phys = graft.Stage.ensureArtifact(s, componentsDir(d)) { tmp =>
      dCluster(s, d).write.parquet(tmp.getPath)
    }
    s.read.parquet(phys.getPath)
  }

  /** C7b: the APPLICATION of near-dup clustering — the surviving
    * corpus after keeping one canonical representative (lowest id) per
    * connected component, reported per language. This is the step that
    * actually shrinks the training set; d_exact_keep is its exact-dup
    * counterpart. Reads the labels from the write-once components
    * artifact (ensureComponents) instead of re-running edge generation
    * + clustering — one semi-join over a label table vastly smaller
    * than the corpus (broadcast at scale), which is the shape every
    * downstream consumer of a dedup decision should have.
    */
  def dClusterApply(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusWithExactDups(s, d)
    val keepers = ensureComponents(s, d)
      .groupBy("cluster_id").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").withColumn("k", lit(1))
    corpus.join(keepers, Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(when(col("k").isNotNull, 1)).as("n_kept"),
        count(when(col("k").isNull, 1)).as("n_removed"))
  }

  // shares the prefix-filtered component CTEs with dClusterSql, so the
  // apply-side oracle is sf1-gateable for the same reason
  val dClusterApplySql: String =
    s"""WITH RECURSIVE $clusterCompCtes,
       |keep AS (
       |  SELECT MIN(doc_id) AS doc_id FROM comp GROUP BY cluster_id
       |)
       |SELECT lang,
       |  COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM keep)) AS n_kept,
       |  COUNT(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM keep)) AS n_removed
       |FROM corpus GROUP BY lang""".stripMargin

  /** C14: centrality over the near-dup GRAPH — PageRank on the same
    * edge set d_cluster components-finds, the canonical-selection
    * refinement a real dedup pipeline wants: inside a component, keep
    * the doc the most neighbors point at (the "hub" version of a
    * near-dup family), not just the lowest id. Degree is reported
    * alongside so consumers can mix both signals.
    *
    * Arithmetic is FIXED-POINT (scale 10¹²) with truncating BIGINT
    * division everywhere — r₀ = S div N, rᵢ₊₁ = (15·(S div N)) div 100
    * + (85·Σ_{j→i} (rⱼ div degⱼ)) div 100 — so three unrolled
    * iterations are bit-identical in Spark and DuckDB and the whole
    * rank vector sits under the hash gate (same trick as the
    * fixed-point Lloyd quantizers). Three iterations rather than
    * to-convergence keeps the oracle finite; a production run loops
    * the same body to a tolerance.
    *
    * Scale shape: the textbook distributed PageRank — per iteration
    * one shuffle of (dst, contribution) pairs; the edge list comes
    * from the write-once pair artifact (ensureNearDupEdges — edge
    * generation runs once per corpus, every graph consumer re-attaches)
    * and is cached across degree + 3 iterations; no driver-side state
    * at all (even N enters as a broadcast 1-row aggregate).
    */
  /** The undirected near-dup EDGE LIST as a write-once artifact —
    * edge generation (the expensive candidate step) runs once per
    * corpus snapshot; every graph consumer (centrality here, any
    * future label-prop/community op) re-attaches the pair table.
    * Same fingerprint discipline as componentsDir: corpus dir + source
    * stats + the authoritative edge semantics (the dClusterSql CTEs
    * that define exact + ngram edges), so changed thresholds or a
    * regenerated corpus rebuild instead of re-attaching stale pairs.
    */
  private[graft] def edgesDir(d: String): java.io.File = {
    val stats = fileStats(new java.io.File(s"$d/documents.parquet"))
    new java.io.File(s"/tmp/graft_edges_${fp(d)}_${fp(s"edges-v1;$dClusterSql;$stats")}")
  }

  def ensureNearDupEdges(s: SparkSession, d: String): DataFrame = {
    val phys = graft.Stage.ensureArtifact(s, edgesDir(d)) { tmp =>
      val corpus = corpusWithExactDups(s, d)
      val exactEdges = corpus
        .select(md5(col("text").cast("binary")).as("h"), col("doc_id"))
        .withColumn("keeper", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .filter(col("doc_id") =!= col("keeper"))
        .select(col("keeper").as("id_a"), col("doc_id").as("id_b"))
      exactEdges.union(dNgramJaccard(s, d).select(col("id_a"), col("id_b")))
        .distinct()
        .write.parquet(tmp.getPath)
    }
    s.read.parquet(phys.getPath)
  }

  /** The simhash pair relation as a write-once artifact (same
    * fingerprint discipline as edgesDir): d_graph_dist's 6 frontier
    * rounds re-read the edge list once per round, and a parquet-backed
    * relation both caches cleanly across runs (canonical scan plans —
    * the barrier'd in-flight form never cache-matches) and skips the
    * banding join entirely after the first build.
    */
  private[graft] def simhashEdgesDir(d: String): java.io.File = {
    val base = edgesDir(d)
    new java.io.File(base.getParentFile, base.getName + "_simhash")
  }

  def ensureSimhashEdges(s: SparkSession, d: String): DataFrame = {
    val phys = graft.Stage.ensureArtifact(s, simhashEdgesDir(d)) { tmp =>
      dSimhash(s, d).select(col("id_a"), col("id_b")).write.parquet(tmp.getPath)
    }
    s.read.parquet(phys.getPath)
  }

  def dCentrality(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusWithExactDups(s, d)
    val und = ensureNearDupEdges(s, d)
    val edges = graft.Stage.cached(
      und.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(und.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
    val nodes = corpus.select(col("doc_id").as("id"))
    val nTotal = nodes.agg(count(lit(1)).as("n"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    var r = nodes.crossJoin(broadcast(nTotal))
      .select(col("id"), expr("1000000000000L div n").as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges.join(r, edges("src") === r("id"))
        .join(deg, Seq("src"))
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy("id").agg(sum("c").as("cs"))
      r = nodes.crossJoin(broadcast(nTotal))
        .join(contrib, Seq("id"), "left")
        .select(col("id"), expr(
          "(15L * (1000000000000L div n)) div 100L + (85L * coalesce(cs, 0L)) div 100L").as("r"))
    }
    r.join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("deg"), lit(0L)).as("degree"), col("r").as("pr"))
  }

  /** Shared oracle prelude — the near-dup graph CTEs (corpus with
    * planted exact dups, exact + ngram edges, the symmetric edge list,
    * per-node degrees): the ONE authoritative edge semantics
    * (mirroring ensureNearDupEdges) that every graph consumer's oracle
    * reuses, so centrality/k-core can never drift onto different
    * graphs.
    */
  private[graft] val graphOracleCtes: String =
    """corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang, source
      |  FROM documents WHERE doc_id % 7 = 0
      |),
      |exact_edges AS (
      |  SELECT MIN(doc_id) OVER (PARTITION BY md5(text)) AS id_a, doc_id AS id_b
      |  FROM corpus
      |  QUALIFY doc_id != id_a
      |),
      |g AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_transform(range(1, greatest(length(text) - 5, 0) + 2),
      |      i -> substr(text, i, 5))) AS grams
      |  FROM documents),
      |ngram_edges AS (
      |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM g x JOIN g y
      |    ON x.lang = y.lang AND x.source = y.source AND x.doc_id < y.doc_id
      |  WHERE 5 * len(list_intersect(x.grams, y.grams)) >=
      |        3 * (len(x.grams) + len(y.grams) - len(list_intersect(x.grams, y.grams)))
      |),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM exact_edges
      |  UNION SELECT id_b, id_a FROM exact_edges
      |  UNION SELECT id_a, id_b FROM ngram_edges
      |  UNION SELECT id_b, id_a FROM ngram_edges
      |),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1)""".stripMargin

  val dCentralitySql: String = {
    def iter(i: Int): String =
      s"""r$i AS (
         |  SELECT c.doc_id AS id,
         |    (15 * (1000000000000 // nn.n)) // 100 + (85 * COALESCE(x.cs, 0)) // 100 AS r
         |  FROM corpus c CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS id, CAST(SUM(r.r // deg.deg) AS BIGINT) AS cs
         |    FROM edges e JOIN r${i - 1} r ON r.id = e.src JOIN deg ON deg.src = e.src
         |    GROUP BY 1) x ON x.id = c.doc_id)""".stripMargin
    s"""WITH $graphOracleCtes,
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
       |r0 AS (SELECT doc_id AS id, 1000000000000 // n AS r FROM corpus, nn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT r3.id AS doc_id, COALESCE(deg.deg, 0) AS degree, r3.r AS pr
       |FROM r3 LEFT JOIN deg ON deg.src = r3.id""".stripMargin
  }

  /** C-kcore: k-core decomposition (k=2, three synchronous peel rounds
    * — the fixed-iteration convention d_centrality set) over the
    * TRIANGLE-BEARING dup graph d_triangles defines (triple-planted
    * exact groups as all-pairs cliques + ngram near-dup pairs): nodes
    * below degree k among the still-active set are peeled each round,
    * leaving the dense template/boilerplate cores that near-dup
    * CLUSTERS (d_cluster) can't distinguish from chains — exactly the
    * exact-dup triangles here, which the spec pins. The star-edged
    * artifact graph (ensureNearDupEdges) is acyclic by construction,
    * so its 2-core is empty — the clique formulation is the one a core
    * analysis means. Fixed rounds keep the oracle finite; production
    * loops the body to fixpoint.
    *
    * Scale shape: exact cliques are per-md5-group all-pairs — bounded
    * by dup-group size (the same bound d_triangles documents); each
    * peel round is one semi-join of the cached edge list against the
    * active set + one degree agg.
    */
  /** The TRIANGLE-graph pair relation (exact groups as all-pairs
    * cliques over the triple-planted corpus + ngram near-dup pairs —
    * the d_triangles edge semantics) as a write-once artifact, same
    * fingerprint discipline as edgesDir: the clique+banding join runs
    * once per corpus snapshot; iterative consumers (d_kcore's peel
    * rounds) re-attach the parquet relation instead of re-deriving
    * candidates every round-lineage evaluation.
    */
  private[graft] def triangleEdgesDir(d: String): java.io.File = {
    val base = edgesDir(d)
    new java.io.File(base.getParentFile, base.getName + "_tri")
  }

  def ensureTriangleEdges(s: SparkSession, d: String): DataFrame = {
    // CORPUS INVARIANT this artifact leans on (same contract as
    // dNgramJaccard, restated here because d_kcore's oracle recomputes
    // the near-dup relation EXACTLY while this Spark side goes through
    // MinHash banding): banding at the 0.6 threshold is probabilistic
    // in the [0.6, ~0.9) similarity band, but every true pair on this
    // corpus sits at jaccard >= 0.92 (miss probability < 1e-4), so the
    // banded candidate set provably covers the exact relation. The
    // invariant is ASSERTED, not assumed: OperatorsSpec's
    // "no borderline near-dup pairs" test recomputes exact blocked
    // all-pairs jaccard and fails if any pair lands in the
    // banding-miss-prone band — a future fixture with borderline pairs
    // breaks the spec before it can tear this persisted artifact away
    // from the oracle.
    val phys = graft.Stage.ensureArtifact(s, triangleEdgesDir(d)) { tmp =>
      val docs = Tables.documents(s, d)
      val corpus = docs.select("doc_id", "text")
        .union(docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id") + 1000000L, col("text")))
        .union(docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id") + 2000000L, col("text")))
        .toDF("doc_id", "text")
      val hashed = corpus.select(md5(col("text").cast("binary")).as("h"), col("doc_id"))
      val exactPairs = hashed.as("x").join(hashed.as("y"), "h")
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      exactPairs.union(dNgramJaccard(s, d).select(col("id_a"), col("id_b")))
        .distinct()
        .write.parquet(tmp.getPath)
    }
    s.read.parquet(phys.getPath)
  }

  def dKcore(s: SparkSession, d: String): DataFrame = {
    val K = 2
    val docs = Tables.documents(s, d)
    val corpus = docs.select("doc_id")
      .union(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id") + 1000000L))
      .union(docs.filter(col("doc_id") % 7 === 0).select(col("doc_id") + 2000000L))
      .toDF("doc_id")
    val und = ensureTriangleEdges(s, d)
    val edges = graft.Stage.cached(
      und.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(und.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var active = corpus.select(col("doc_id").as("id"))
    for (_ <- 1 to 3) {
      val degAmong = edges
        .join(active.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(active.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("deg"))
      active = graft.Stage.cached(
        degAmong.filter(col("deg") >= K).select(col("src").as("id")))
    }
    val coreDeg = edges
      .join(active.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(active.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .groupBy("src").agg(count(lit(1)).as("core_deg"))
    corpus.select(col("doc_id"))
      .join(coreDeg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("core_deg").isNotNull, 1).otherwise(0).cast("int").as("in_core"),
        coalesce(col("core_deg"), lit(0L)).cast("long").as("core_deg"))
  }

  val dKcoreSql: String = {
    def peel(i: Int): String =
      s"""a$i AS (
         |  SELECT e.src AS id FROM edges e
         |  JOIN a${i - 1} x ON x.id = e.src
         |  JOIN a${i - 1} y ON y.id = e.dst
         |  GROUP BY 1 HAVING COUNT(*) >= 2)""".stripMargin
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0),
       |hashed AS (SELECT md5(text) AS h, doc_id FROM corpus),
       |exact_pairs AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM hashed x JOIN hashed y ON x.h = y.h AND x.doc_id < y.doc_id),
       |g AS MATERIALIZED (
       |  SELECT doc_id, lang, source,
       |    list_distinct(list_transform(range(1, greatest(length(text) - 5, 0) + 2),
       |      i -> substr(text, i, 5))) AS grams
       |  FROM documents),
       |tok AS MATERIALIZED (
       |  SELECT doc_id, lang, source, len(grams) AS n, unnest(grams) AS gr FROM g),
       |freq AS MATERIALIZED (SELECT gr, COUNT(*) AS df FROM tok GROUP BY 1),
       |prefix AS MATERIALIZED (
       |  SELECT doc_id, lang, source, n, gr FROM (
       |    SELECT t.doc_id, t.lang, t.source, t.n, t.gr,
       |      ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.gr) AS rk
       |    FROM tok t JOIN freq f USING (gr))
       |  WHERE rk <= n - CEIL(0.6 * n) + 1),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM prefix x JOIN prefix y
       |    ON x.gr = y.gr AND x.lang = y.lang AND x.source = y.source
       |   AND x.doc_id < y.doc_id
       |  WHERE least(x.n, y.n) * 5 >= greatest(x.n, y.n) * 3),
       |ngram_pairs AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c JOIN g a ON a.doc_id = c.id_a JOIN g b ON b.doc_id = c.id_b
       |  WHERE 5 * len(list_intersect(a.grams, b.grams)) >=
       |        3 * (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))),
       |und AS (SELECT * FROM exact_pairs UNION SELECT * FROM ngram_pairs),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM und
       |  UNION ALL SELECT id_b, id_a FROM und),
       |a0 AS (SELECT doc_id AS id FROM corpus),
       |${peel(1)},
       |${peel(2)},
       |${peel(3)},
       |cd AS (
       |  SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS core_deg
       |  FROM edges e
       |  JOIN a3 x ON x.id = e.src
       |  JOIN a3 y ON y.id = e.dst
       |  GROUP BY 1)
       |SELECT c.doc_id,
       |  CAST(CASE WHEN cd.id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS in_core,
       |  COALESCE(cd.core_deg, 0) AS core_deg
       |FROM corpus c LEFT JOIN cd ON cd.id = c.doc_id""".stripMargin
  }

  /** C8: dedup against a PRIOR RELEASE via a Bloom pre-filter — the
    * cross-release primitive ("drop everything already in corpus v1")
    * that exact dedup can't cover without joining the full new crawl
    * against the full old corpus. The bounded side (here: every 10th
    * doc, standing in for the previous release's content hashes) is
    * folded into one Bloom filter (`df.stat.bloomFilter`: distributed
    * treeAggregate, driver merge — the filter is MBs for billions of
    * keys at 1% fpp); the new crawl probes it scan-locally. Only Bloom
    * HITS (true dups + ~1% false positives) reach the exact anti-join;
    * the clean pass-through never shuffles. Result is EXACT — the FP
    * candidates are rescued by the text-equality anti-join — so the
    * oracle is plain NOT IN.
    */
  def dBloom(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .withColumn("h", xxhash64(col("text")))
    val ref = docs.filter(col("doc_id") % 10 === 0)
    val bloom = ref.stat.bloomFilter(col("h"), 1 << 20, 0.01)
    val hit = graft.functions.bloom_might_contain(col("h"), bloom)
    // clean pass-through: scan-local probe, no shuffle, no join
    val clean = docs.filter(!hit)
      .select("doc_id", "lang", "n_chars")
    // Bloom hits only: exact verify (false positives survive the anti)
    val rescued = docs.filter(hit)
      .join(ref.select(col("text")).distinct(), Seq("text"), "left_anti")
      .select("doc_id", "lang", "n_chars")
    clean.unionByName(rescued)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("kept_chars"))
  }

  val dBloomSql: String =
    """SELECT lang, COUNT(*) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
      |FROM documents
      |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 10 = 0)
      |GROUP BY lang""".stripMargin

  /** C9: cross-document repeated-SPAN detection (the ExactSubstr idea
    * from Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", word-window-shaped for Spark): a span is a
    * 16-word window; a span is duplicated when the same window text
    * occurs in ≥ 2 distinct documents. Per doc: total spans and
    * duplicated spans — the signal span-level dedup cuts on (full
    * suffix-array dedup would splice the spans out; the detection scan
    * is the distributed part). Plan shape: positional md5-60 window
    * hashes (one kernel pass), one (hash → distinct-doc count) agg, a
    * semi-join back — the shuffle carries the window-hash stream, no
    * pair join anywhere. The oracle re-derives the same windows as
    * strings.
    *
    * Fidelity vs the suffix-array formulation (spec-pinned,
    * "span-exactness"): windows slide at stride 1, so ANY cross-doc
    * repeated span of ≥ SpanWords words produces a shared window at
    * every covered position — detection (and d_substring_apply's cut)
    * is EXACT at the threshold, alignment-free; spans below SpanWords
    * are deliberately exempt (the paper's length floor). Remaining
    * deltas are semantic choices: word (not BPE-token) threshold
    * units, cross-doc scope, keeper = globally-first occurrence.
    */
  private val SpanWords = 16

  def dSubstring(s: SparkSession, d: String): DataFrame = {
    val corpus = graft.Stage.barrier(corpusWithExactDups(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.word_shingle_md5_hashes(col("text"), SpanWords).as("gs")))
    val spans = corpus.select(col("doc_id"), explode(col("gs")).as("g"))
    val dup = spans.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val dupCounts = spans.join(dup, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    corpus.select(col("doc_id"), col("lang"), size(col("gs")).as("n_spans"))
      .join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_spans").cast("long").as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  val dSubstringSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, lang, text FROM documents WHERE doc_id % 7 = 0),
       |w AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS ws
       |  FROM corpus),
       |g AS (
       |  SELECT doc_id, lang, CASE WHEN len(ws) >= $SpanWords
       |    THEN list_transform(range(1, len(ws) - $SpanWords + 2),
       |      i -> array_to_string(ws[i:i+${SpanWords - 1}], ' '))
       |    ELSE [] END AS gs
       |  FROM w),
       |spans AS (SELECT doc_id, unnest(gs) AS sp FROM g),
       |dup AS (
       |  SELECT sp FROM spans GROUP BY sp HAVING COUNT(DISTINCT doc_id) >= 2),
       |dc AS (
       |  SELECT doc_id, COUNT(*) AS n_dup_spans
       |  FROM spans JOIN dup USING (sp) GROUP BY doc_id)
       |SELECT g.doc_id, g.lang, CAST(len(gs) AS BIGINT) AS n_spans,
       |  COALESCE(n_dup_spans, 0) AS n_dup_spans
       |FROM g LEFT JOIN dc ON g.doc_id = dc.doc_id""".stripMargin

  /** C9b: span-level dedup APPLICATION — the cut d_substring only
    * detects (the detect/apply split d_cluster → d_cluster_apply
    * already uses). Semantics: a 16-word window is duplicated when its
    * text occurs in ≥ 2 distinct documents; the KEEPER occurrence of a
    * duplicated window is the globally-first one (min (doc_id, pos),
    * encoded doc_id·10⁹ + pos so both engines order identically);
    * every other occurrence is CUT, and a word is removed from its doc
    * iff some cut occurrence covers it. A planted full-doc copy is
    * thus stripped to 0 words while the original keeps all of its own
    * (keeper occurrences don't cut). Output is per-doc accounting:
    * (n_words, removed_words, kept_words, removed_chars, kept_chars),
    * chars = codepoints of the words themselves (whitespace excluded).
    *
    * Scale shape: the shuffle carries 60-bit window hashes, never the
    * window text (the oracle re-derives the same decisions from the
    * window STRINGS — same collision-free equivalence d_substring
    * already certifies); the keeper choice is one hash aggregate with
    * map-side partial min/countDistinct; cut starts come back to their
    * doc via one groupBy(doc_id) whose payload is bounded by windows
    * per doc; and the word-removal mask is a per-row higher-order
    * projection (transform + exists over the in-row arrays) — the
    * corpus' words are never exploded, so the rewrite pass is
    * shuffle-free and codegen-resident.
    */
  def dSubstringApply(s: SparkSession, d: String): DataFrame = {
    val enc = lit(1000000000L)
    // cached, not barrier'd: the split+shingle kernel pass feeds THREE
    // consumers (the window agg, the cut join, the final rewrite) — a
    // barrier alone would re-run it per consuming stage
    val corpus = graft.Stage.cached(corpusWithExactDups(s, d)
      .select(col("doc_id"), col("lang"),
        // NOTE: regex built as a Scala string, NOT a SQL literal —
        // Spark's SQL string unescape has no '\f', which silently turns
        // the class into one containing a literal 'f'
        filter(split(col("text"), "[ \\t\\n\\x0B\\f\\r]+"),
          w => w =!= lit("")).as("ws"),
        graft.functions.word_shingle_md5_hashes(col("text"), SpanWords).as("gs")))
    val occ = corpus.select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "g")))
    val dup = occ.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id") * enc + col("pos")).as("keeper"))
      .filter(col("nd") >= 2)
      .select("g", "keeper")
    val cuts = occ.join(dup, Seq("g"))
      .filter(col("doc_id") * enc + col("pos") =!= col("keeper"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("cut_starts"))
    // removal accounting via the native linear-sweep kernel: the HOF
    // form (`exists` over cut_starts per word) is O(words × cuts) per
    // doc — quadratic on a long fully-duplicated doc
    corpus.join(cuts, Seq("doc_id"), "left")
      .withColumn("st", graft.functions.span_cut_stats(col("ws"),
        coalesce(col("cut_starts"), expr("array()").cast("array<int>")),
        SpanWords))
      .select(col("doc_id"), col("lang"),
        size(col("ws")).cast("long").as("n_words"),
        col("st.rw").as("removed_words"),
        (size(col("ws")).cast("long") - col("st.rw")).as("kept_words"),
        col("st.rc").as("removed_chars"),
        (col("st.tc") - col("st.rc")).as("kept_chars"))
  }

  val dSubstringApplySql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, lang, text FROM documents WHERE doc_id % 7 = 0),
       |w AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS ws
       |  FROM corpus),
       |occ AS (
       |  SELECT doc_id,
       |    unnest(range(0, len(ws) - $SpanWords + 1)) AS pos,
       |    unnest(list_transform(range(1, len(ws) - $SpanWords + 2),
       |      i -> array_to_string(ws[i:i+${SpanWords - 1}], ' '))) AS sp
       |  FROM w WHERE len(ws) >= $SpanWords),
       |dup AS (
       |  SELECT sp, MIN(doc_id * 1000000000 + pos) AS keeper
       |  FROM occ GROUP BY sp HAVING COUNT(DISTINCT doc_id) >= 2),
       |cuts AS (
       |  SELECT o.doc_id, o.pos
       |  FROM occ o JOIN dup d USING (sp)
       |  WHERE o.doc_id * 1000000000 + o.pos <> d.keeper),
       |words AS (
       |  SELECT doc_id, unnest(range(0, len(ws))) AS widx, unnest(ws) AS word
       |  FROM w),
       |removed AS (
       |  SELECT DISTINCT wo.doc_id, wo.widx, len(wo.word) AS wlen
       |  FROM words wo JOIN cuts c ON wo.doc_id = c.doc_id
       |    AND wo.widx BETWEEN c.pos AND c.pos + ${SpanWords - 1}),
       |rem AS (
       |  SELECT doc_id, COUNT(*) AS removed_words, SUM(wlen) AS removed_chars
       |  FROM removed GROUP BY doc_id),
       |tot AS (
       |  SELECT doc_id, lang, len(ws) AS n_words,
       |    COALESCE(list_sum(list_transform(ws, x -> len(x))), 0) AS n_wchars
       |  FROM w)
       |SELECT t.doc_id, t.lang, CAST(t.n_words AS BIGINT) AS n_words,
       |  CAST(COALESCE(r.removed_words, 0) AS BIGINT) AS removed_words,
       |  CAST(t.n_words - COALESCE(r.removed_words, 0) AS BIGINT) AS kept_words,
       |  CAST(COALESCE(r.removed_chars, 0) AS BIGINT) AS removed_chars,
       |  CAST(t.n_wchars - COALESCE(r.removed_chars, 0) AS BIGINT) AS kept_chars
       |FROM tot t LEFT JOIN rem r USING (doc_id)""".stripMargin

  /** C10: fuzzy join (record linkage) — pairs whose 40-char prefixes
    * are within edit distance 2, the classic approximate-key linkage
    * primitive, with PASSJOIN candidate generation (Li et al. 2011):
    * split each key into τ+1 = 3 segments; ≤ τ edits can corrupt at
    * most τ segments, so some segment of x survives VERBATIM in y,
    * displaced by at most the edits before it (±τ). One side posts its
    * 3 exact segments, the other posts every same-length window within
    * ±τ of each segment's home position; candidates come from the
    * equi-join on (segment index, content) — linear postings, no pair
    * enumeration — and only candidates pay the levenshtein verify.
    * (The earlier blocked all-pairs form measured 4.1s at sf0.1; the
    * segment filter generates near-planted-only candidates.)
    * Restricted to the `en` slice: DuckDB's levenshtein is byte-based
    * while Spark's is codepoint-based, so the cross-engine contract
    * holds on ASCII text only.
    */
  private val FuzzyPrefix = 40
  private val FuzzyMaxDist = 2
  // 3 segments of the 40-char key: starts (1-based) and lengths
  private val FuzzySegs = Seq((1, 13), (14, 13), (27, 14))

  def dFuzzyJoin(s: SparkSession, d: String): DataFrame = {
    // full-length keys only: a doc shorter than the prefix would post
    // EMPTY trailing segments, and the empty-content equi-join would
    // pair every short doc with every other (the quadratic behavior
    // the segment filter exists to avoid). Shorter docs' prefixes ARE
    // the docs — exact dedup (d_exact) covers them; the oracle applies
    // the same length gate.
    val docs = graft.Stage.barrier(corpusWithExactDups(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("source"),
        substring(col("text"), 1, FuzzyPrefix).as("k"))
      .filter(length(col("k")) === FuzzyPrefix))
    val posted = docs.select(col("doc_id"), col("source"), col("k"),
      explode(array(FuzzySegs.zipWithIndex.map { case ((st, ln), i) =>
        struct(lit(i).as("seg"), substring(col("k"), st, ln).as("content"))
      }: _*)).as("sc"))
      .select(col("doc_id"), col("source"), col("k"),
        col("sc.seg"), col("sc.content"))
    val probed = docs.select(col("doc_id"), col("source"), col("k"),
      explode(array((for {
        ((st, ln), i) <- FuzzySegs.zipWithIndex
        delta <- -FuzzyMaxDist to FuzzyMaxDist
        if st + delta >= 1 && st + delta + ln - 1 <= FuzzyPrefix
      } yield struct(lit(i).as("seg"),
        substring(col("k"), st + delta, ln).as("content"))): _*)).as("sc"))
      .select(col("doc_id"), col("source"), col("k"),
        col("sc.seg"), col("sc.content"))
    val candidates = posted.as("x")
      .join(probed.as("y"),
        col("x.seg") === col("y.seg") && col("x.content") === col("y.content")
          && col("x.source") === col("y.source")
          && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        when(col("x.doc_id") < col("y.doc_id"), col("x.k")).otherwise(col("y.k")).as("k_a"),
        when(col("x.doc_id") < col("y.doc_id"), col("y.k")).otherwise(col("x.k")).as("k_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .select(col("id_a"), col("id_b"),
        levenshtein(col("k_a"), col("k_b")).as("dist"))
      .filter(col("dist") <= FuzzyMaxDist)
  }

  val dFuzzyJoinSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, lang, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, lang, source, text
       |  FROM documents WHERE doc_id % 7 = 0),
       |k AS (
       |  SELECT doc_id, source, substr(text, 1, $FuzzyPrefix) AS k
       |  FROM corpus WHERE lang = 'en' AND length(text) >= $FuzzyPrefix)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |  levenshtein(x.k, y.k) AS dist
       |FROM k x JOIN k y
       |  ON x.source = y.source AND x.doc_id < y.doc_id
       |  AND abs(length(x.k) - length(y.k)) <= $FuzzyMaxDist
       |WHERE levenshtein(x.k, y.k) <= $FuzzyMaxDist""".stripMargin

  // ---- Incremental dedup against a persisted index ----

  /** Today's batch for the incremental-dedup operator, derived
    * deterministically from the corpus so the oracle can re-derive it:
    * every 7th doc arrives again (id-shifted), a third byte-identical
    * (exact dup), a third with one appended token (near dup for docs
    * long enough that one token moves ≤ 7 simhash bits — the verdict is
    * DEFINED by the hamming test, so either outcome is exact), a third
    * rewritten to its md5 hex (gibberish — unique).
    */
  private[graft] def incrementDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" graftinc")))
          .otherwise(md5(col("text").cast("binary"))).as("text"))

  /** The dedup INDEX artifact: (doc_id, content_hash, simhash) for the
    * historical corpus — ~40 bytes/doc vs multi-KB docs, the 100 TB
    * point of the operator: history is scanned ONCE at index build;
    * every later increment classifies against the index alone. Same
    * write-once/fingerprint/atomic-rename pattern as the components
    * artifact (componentsDir); the fingerprint covers the index
    * semantics AND the source bytes, so a regenerated corpus or changed
    * signature definition rebuilds instead of re-attaching stale rows.
    */
  private val DedupIndexSemantics =
    "v1;content_hash=md5(utf8);simhash=simhash64(word_shingle_md5_hashes(text,1));tokenless=null"

  private[graft] def dedupIndexDir(d: String): java.io.File = {
    val stats = fileStats(new java.io.File(s"$d/documents.parquet"))
    new java.io.File(s"/tmp/graft_dedupindex_${fp(d)}_${fp(s"$DedupIndexSemantics;$stats")}")
  }

  def ensureDedupIndex(s: SparkSession, d: String): DataFrame = {
    val phys = graft.Stage.ensureArtifact(s, dedupIndexDir(d)) { tmp =>
      graft.Stage.barrier(Tables.documents(s, d)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"),
            graft.functions.word_shingle_md5_hashes(col("text"), 1).as("toks")))
        .select(col("doc_id"), col("content_hash"),
          when(size(col("toks")) > 0,
            graft.functions.simhash64(col("toks"))).as("simhash"))
        .write.parquet(tmp.getPath)
    }
    s.read.parquet(phys.getPath)
  }

  /** C13: INCREMENTAL dedup — classify today's batch against the
    * persisted index without rescanning history. This is the shape a
    * real 100 TB pipeline runs daily: re-deduplicating the whole corpus
    * per day is quadratic in days; classifying each increment against a
    * signature index is linear, and the index append (the accepted
    * uniques' signatures) keeps it current.
    *
    * Channels: exact = equi-join on content_hash (index only — history
    * text is never read); near = SimHash banding, probe side posts the
    * increment's band chunks plus every 1-bit variant, so by the same
    * pigeonhole as d_simhash every history doc within hamming ≤ 7 is
    * FOUND (exact recall, which is what lets the all-pairs DuckDB
    * oracle hash-match a bucketed plan). Verdict precedence:
    * exact > near > unique; n_near counts distinct hamming-≤7 history
    * docs (exact twins included — they are hamming 0).
    */
  def dIncremental(s: SparkSession, d: String): DataFrame = {
    val idx = ensureDedupIndex(s, d)
    // cached, not barrier'd: three consumers (exact join, signature
    // path, final verdict join) would each re-run the tokenizer pass
    val inc = graft.Stage.cached(incrementDocs(s, d)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"),
        graft.functions.word_shingle_md5_hashes(col("text"), 1).as("toks")))
    val incSig = graft.Stage.barrier(inc.filter(size(col("toks")) > 0)
      .select(col("doc_id"), graft.functions.simhash64(col("toks")).as("simhash")))
    def chunk(sh: Column, b: Int): Column =
      shiftright(sh, SimHashBandBits * b).bitwiseAND(lit((1L << SimHashBandBits) - 1))
    val posted = idx.filter(col("simhash").isNotNull)
      .select(col("doc_id").as("hist_id"), col("simhash").as("hist_sh"),
        explode(array((0 until SimHashBands).map(b =>
          struct(lit(b).as("band"), chunk(col("simhash"), b).as("bucket"))): _*)).as("bb"))
      .select(col("hist_id"), col("hist_sh"), col("bb.band"), col("bb.bucket"))
    val probed = incSig.select(col("doc_id"), col("simhash"),
      explode(array((for {
        b <- 0 until SimHashBands
        f <- -1 until SimHashBandBits
      } yield {
        val bucket = if (f < 0) chunk(col("simhash"), b)
        else chunk(col("simhash"), b).bitwiseXOR(lit(1L << f))
        struct(lit(b).as("band"), bucket.as("bucket"))
      }): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    val near = probed.as("x")
      .join(posted.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .filter(bit_count(col("x.simhash").bitwiseXOR(col("y.hist_sh")))
        <= SimHashMaxHamming)
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(countDistinct(col("y.hist_id")).as("n_near"))
    val exact = inc
      .join(idx.select(col("content_hash")), Seq("content_hash"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
    inc.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .withColumn("verdict",
        when(col("n_exact") > 0, "exact")
          .when(col("n_near") > 0, "near")
          .otherwise("unique"))
  }

  val dIncrementalSql: String =
    """WITH inc AS (
      |  SELECT doc_id + 2000000 AS doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN text
      |         WHEN doc_id % 3 = 1 THEN text || ' graftinc'
      |         ELSE md5(text) END AS text
      |  FROM documents WHERE doc_id % 7 = 0),
      |sides AS (
      |  SELECT 'h' AS side, doc_id, text FROM documents
      |  UNION ALL
      |  SELECT 'i' AS side, doc_id, text FROM inc),
      |w AS (
      |  SELECT side, doc_id,
      |    list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> x != '') AS ws
      |  FROM sides),
      |t AS (SELECT side, doc_id, unnest(ws) AS tok FROM w WHERE len(ws) > 0),
      |h AS (
      |  SELECT side, doc_id,
      |    list_reduce(list_transform(range(1, 16),
      |      j -> CAST(strpos('123456789abcdef', substr(md5(tok), j, 1)) AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS hv
      |  FROM t),
      |votes AS (
      |  SELECT side, doc_id, b,
      |    SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bits
      |  GROUP BY side, doc_id, b),
      |sig AS (
      |  SELECT side, doc_id,
      |    CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
      |  FROM votes GROUP BY side, doc_id),
      |exacts AS (
      |  SELECT i.doc_id, COUNT(*) AS n_exact
      |  FROM inc i JOIN documents hd ON md5(i.text) = md5(hd.text)
      |  GROUP BY i.doc_id),
      |nears AS (
      |  SELECT i.doc_id, COUNT(DISTINCT hs.doc_id) AS n_near
      |  FROM (SELECT doc_id, sh FROM sig WHERE side = 'i') i
      |  JOIN (SELECT doc_id, sh FROM sig WHERE side = 'h') hs
      |    ON bit_count(xor(i.sh, hs.sh)) <= 7
      |  GROUP BY i.doc_id)
      |SELECT i.doc_id,
      |  CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact,
      |  CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
      |  CASE WHEN coalesce(e.n_exact, 0) > 0 THEN 'exact'
      |       WHEN coalesce(n.n_near, 0) > 0 THEN 'near'
      |       ELSE 'unique' END AS verdict
      |FROM inc i
      |LEFT JOIN exacts e ON e.doc_id = i.doc_id
      |LEFT JOIN nears n ON n.doc_id = i.doc_id""".stripMargin

  // ---- BFS distances over the near-dup graph ----

  private val BfsMaxHops = 6
  private val BfsSeedMod = 100

  /** C18: multi-source BFS distances — "how far is every document from
    * the nearest audited/seed document, measured in near-dup hops" (the
    * contamination-radius / provenance-spread question). The graph is
    * the SIMHASH pair relation (hamming ≤ 7 — the one near-dup family
    * whose corpus forms a real multi-hop web here: its giant component
    * spans 180 docs at diameter ≥ 7, where the exact/ngram artifact is
    * all 2-node stars), persisted as a write-once edge artifact so the
    * banding join runs once per corpus, not once per query. Seeds =
    * doc_id ≡ 0 (mod $BfsSeedMod); output = every doc within
    * $BfsMaxHops hops with its hop distance (first-discovery BFS layer
    * = min distance, so the answer is join-order-free).
    *
    * Scale shape: classic frontier iteration — each of the ≤6 rounds
    * joins the CURRENT FRONTIER (not the full distance table) against
    * the parquet-backed edge artifact, anti-joins out already-visited
    * docs, and persists the round's frontier so lineage stays flat.
    * Work per round is O(frontier-adjacent edges); the 6-round cap
    * bounds the sweep the way an iteration budget bounds PageRank
    * (d_centrality), and rounds after the frontier empties
    * short-circuit on the round count instead of planning no-op
    * shuffles.
    */
  def dGraphDist(s: SparkSession, d: String): DataFrame = {
    val und = graft.Stage.cached(ensureSimhashEdges(s, d))
    val edges = und.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(und.select(col("id_b").as("src"), col("id_a").as("dst")))
    val seeds = Tables.documents(s, d)
      .filter(col("doc_id") % BfsSeedMod === 0)
      .select(col("doc_id"), lit(0L).as("dist"))
    // barrier + persist per hop (the connectedComponents discipline):
    // `frontier` is referenced TWICE per round (expansion join + the
    // visited union), so without a LogicalRDD leaf the logical plan
    // doubles every hop and Catalyst pays 2^k planning at hop k —
    // measured 63 s for 6 hops over a 36k-edge graph, with hop 6 alone
    // 22 s and the final pass 31 s, all of it analysis/optimization of
    // exponentially-copied subtrees (execution was cache-hits
    // throughout). Persist alone does NOT flatten the LOGICAL plan —
    // only the leaf conversion does. Post-fix: ~10 s incl. the edge
    // artifact read, every hop flat.
    //
    // Unpersist discipline: the visited set is FOLDED into a fresh
    // barriered frame each hop and the superseded dist + frontier are
    // released once the new frame is materialized — a lazy union of
    // every hop's persisted leaf would pin O(hops) RDDs for the whole
    // walk (fine at 6 hops, an OOM on a deep graph). The fold is an
    // extra count() per hop over two cached narrow frames (ids +
    // dists) — noise next to the expansion join. The new dist MUST
    // materialize before its parents unpersist, or the final pass
    // recomputes every hop from lineage.
    var dist = graft.Stage.barrier(seeds).persist()
    var frontier = dist
    var live = true
    for (k <- 1 to BfsMaxHops; if live) {
      val next = graft.Stage.barrier(frontier
        .join(edges, frontier("doc_id") === edges("src"))
        .select(col("dst").as("doc_id"))
        .distinct()
        .join(dist.select(col("doc_id").as("seen")),
          col("doc_id") === col("seen"), "left_anti")
        .select(col("doc_id"), lit(k.toLong).as("dist"))).persist()
      live = next.count() > 0
      if (live) {
        val folded = graft.Stage.barrier(dist.unionAll(next)).persist()
        folded.count()
        if (frontier ne dist) frontier.unpersist()
        dist.unpersist()
        frontier = next
        dist = folded
      } else {
        next.unpersist()
      }
    }
    if (frontier ne dist) frontier.unpersist()
    dist.orderBy("doc_id")
  }

  // Oracle edge generation is BANDED by pigeonhole, not all-pairs:
  // split the 60-bit simhash into 8 byte blocks — any pair at Hamming
  // ≤ 7 differs in at most 7 blocks, so at least one block matches
  // exactly and the per-(block, value) equi-join is an EXACT candidate
  // superset; bit_count verifies candidates only. Keeps the DuckDB
  // twin gateable at sf1 (the all-pairs recount was quadratic in the
  // corpus: >28 CPU-min at 50k docs). MATERIALIZED per the DuckDB-1.0
  // CTE-inlining lesson.
  val dGraphDistSql: String =
    s"""WITH RECURSIVE $simhashSigCtes,
       |blk AS MATERIALIZED (
       |  SELECT doc_id, sh, r.b AS b, (sh >> (r.b * 8)) & 255 AS v
       |  FROM sig, range(8) r(b)),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM blk x JOIN blk y ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id),
       |p AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 7),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |      UNION ALL SELECT id_b, id_a FROM p),
       |bfs AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS dist
       |  FROM documents WHERE doc_id % $BfsSeedMod = 0
       |  UNION
       |  SELECT e.dst AS doc_id, b.dist + 1 AS dist
       |  FROM bfs b JOIN e ON e.src = b.doc_id
       |  WHERE b.dist < $BfsMaxHops)
       |SELECT doc_id, MIN(dist) AS dist
       |FROM bfs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- LSH band-parameter tuning ----

  private val TunePerms = 16
  private val TunePrime = 2305843009213693951L // 2^61 - 1
  /** (bands, rows) splits of the 16-wide signature, precision → recall. */
  private val TuneConfigs = Seq((2, 8), (4, 4), (8, 2))

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The permutation family's 60-bit mixing constants — generated once,
    * and interpolated VERBATIM into the oracle SQL, so both engines use
    * literally the same family (no cross-engine hash derivation).
    */
  private val TuneCs: Array[Long] =
    Array.tabulate(TunePerms)(j => splitmix64(j.toLong + 1) >>> 4)

  /** Distinct sorted 3-gram md5-60 shingle hashes per doc (the
    * cross-engine-reproducible family — xxhash shingles cannot be
    * re-derived in SQL, md5 nibble folds can).
    */
  private def tuneShingles(s: SparkSession, d: String): DataFrame =
    graft.Stage.cached(Tables.documents(s, d)
      .select(col("doc_id"), array_sort(array_distinct(
        graft.functions.word_shingle_md5_hashes(col("text"), 3))).as("th"))
      .filter(size(col("th")) > 0))

  /** C17: LSH band-parameter tuning — the measure-before-you-commit
    * step for a dedup index (s_ann_eval's role, pointed at MinHash
    * banding): ONE 16-wide minhash signature pass, then THREE
    * (bands × rows) splits of the same signature post their buckets,
    * and per config the candidate-pair count and how many candidates
    * verify at Jaccard ≥ 1/2. 2×8 = high precision / low recall,
    * 8×2 = the reverse; the table IS the tuning curve (collision
    * probability 1-(1-J^r)^b made empirical on this corpus).
    *
    * The minhash here is h_j(t) = ((t ⊕ c_j)·3 + j) mod 2^61-1 over
    * md5-60 shingle hashes — a genuine permutation family (xor and
    * odd-multiply mod a prime are bijections) whose every operation is
    * exact BIGINT in both engines, so the oracle re-derives signatures
    * bit-for-bit from md5 nibble folds.
    *
    * Scale shape: the signature is computed in one doc-local pass (no
    * shuffle); each config posts bands×1 rows per doc (constant
    * factor); candidates come from per-(config, band, bucket) joins —
    * never all-pairs — and verification touches candidates only. At
    * 100 TB, tuning runs on a deterministic hash-sample of the corpus
    * (t_sample's splitter) and the chosen config feeds d_minhash_lsh
    * unchanged; the sweep costs ~|configs| posting passes over the
    * sample, all reusing the one cached signature relation.
    */
  def dBandTune(s: SparkSession, d: String): DataFrame = {
    val sh = tuneShingles(s, d)
    val sig = graft.Stage.barrier(sh.select(col("doc_id"),
      array((0 until TunePerms).map(j =>
        array_min(transform(col("th"), t =>
          (t.bitwiseXOR(lit(TuneCs(j))) * lit(3L) + lit(j.toLong)) % lit(TunePrime)))): _*)
        .as("sig")))
    val posts = TuneConfigs.map { case (b, r) =>
      sig.select(lit(s"${b}x$r").as("config"), col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(b - 1)), bd =>
          array_join(transform(
            slice(col("sig"), bd * r + 1, lit(r)), v => v.cast("string")), "_"))))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bkey")
    }.reduce(_ unionAll _)
    val cand = posts.as("x").join(posts.as("y"),
      col("x.config") === col("y.config") && col("x.band") === col("y.band")
        && col("x.bkey") === col("y.bkey")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.config").as("config"),
        col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("th").as("ta")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("th").as("tb")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.sorted_intersect_count(col("ta"), col("tb")))
      .withColumn("uni",
        (size(col("ta")) + size(col("tb")) - col("inter")).cast("long"))
      .groupBy("config")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("inter") * 2 >= col("uni"), 1L).otherwise(0L)).as("n_true"))
      .orderBy("config")
  }

  val dBandTuneSql: String = {
    val csLit = TuneCs.mkString("[", ", ", "]")
    val fold =
      """list_reduce(list_transform(range(1, 16), j ->
        |          CAST(strpos('123456789abcdef', substr(md5(g), j, 1)) AS BIGINT)),
        |          (a, b) -> a * 16 + b)""".stripMargin
    val postBlock = TuneConfigs.map { case (b, r) =>
      s"""SELECT '${b}x$r' AS config, doc_id, b AS band,
         |    array_to_string(sig[b*$r+1 : b*$r+$r], '_') AS bkey
         |  FROM sig, range(0, $b) t(b)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS ws
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       |    ELSE [] END) AS s
       |  FROM w),
       |ne AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |hs AS (SELECT doc_id, list_transform(s, g -> $fold) AS th FROM ne),
       |cs AS (SELECT $csLit AS c),
       |sig AS (SELECT doc_id, list_transform(range(0, $TunePerms), j ->
       |          list_min(list_transform(th, t ->
       |            (xor(t, cs.c[CAST(j AS INT) + 1]) * 3 + j) % $TunePrime))) AS sig
       |        FROM hs CROSS JOIN cs),
       |posts AS (
       |  $postBlock),
       |cand AS (SELECT DISTINCT x.config, x.doc_id AS id_a, y.doc_id AS id_b
       |         FROM posts x JOIN posts y
       |           ON x.config = y.config AND x.band = y.band AND x.bkey = y.bkey
       |          AND x.doc_id < y.doc_id),
       |v AS (SELECT c.config,
       |        len(list_intersect(a.s, b.s)) AS inter,
       |        len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
       |      FROM cand c JOIN ne a ON a.doc_id = c.id_a
       |      JOIN ne b ON b.doc_id = c.id_b)
       |SELECT config, CAST(count(*) AS BIGINT) AS n_candidates,
       |  CAST(SUM(CASE WHEN inter * 2 >= uni THEN 1 ELSE 0 END) AS BIGINT) AS n_true
       |FROM v GROUP BY config ORDER BY config""".stripMargin
  }

  // ---- URL canonicalization + dedup (web-crawl ingestion) ----

  /** Deterministic MESSY url per doc — the closed-form-fixture pattern
    * (Multimodal.pngPixel): scheme/host case noise, optional www,
    * tracking params in shuffled order, optional fragment and trailing
    * slash, all functions of doc_id so the oracle rebuilds the same
    * corpus. Two docs share a canonical URL iff doc_id ≡ (mod 200)
    * (lcm of the 50/200/100 component periods), giving real dup groups
    * at any corpus size.
    */
  private[graft] def urlFixture(id: Column): Column = {
    val scheme = when(id % 3 === 0, "HTTPS").otherwise("https")
    val www = when(id % 2 === 0, "WWW.").otherwise("")
    val host = concat(www, lit("Site"), (id % 50).cast("string"), lit(".com"))
    val path = concat(lit("/a/"), (id % 200).cast("string"),
      when(id % 4 === 0, "/").otherwise(""))
    val realParam = concat(lit("id="), (id % 100).cast("string"))
    val query = when(id % 5 === 0,
        when(id % 7 === 0, concat(lit("?utm_source=feed&"), realParam))
          .otherwise(concat(lit("?"), realParam, lit("&utm_campaign=x"))))
      .otherwise(concat(lit("?"), realParam))
    val frag = when(id % 6 === 0, concat(lit("#sec"), (id % 3).cast("string")))
      .otherwise("")
    concat(scheme, lit("://"), host, path, query, frag)
  }

  /** Canonicalize ON THE STRING (no doc_id shortcuts): strip fragment,
    * lowercase scheme+host, drop `www.`, drop `utm_*` tracking params,
    * sort surviving params, strip the trailing path slash.
    */
  private[graft] def canonUrl(u: Column): Column = {
    val noFrag = substring_index(u, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    val rest = substring_index(noFrag, "://", -1)
    val host0 = substring_index(rest, "/", 1)
    val host = regexp_replace(lower(host0), "^www\\.", "")
    val pathq = substring_index(rest.substr(length(host0) + 1, length(rest)), "?", 1)
    val path = regexp_replace(pathq, "/$", "")
    val query = when(noFrag.contains("?"), substring_index(noFrag, "?", -1))
      .otherwise("")
    val params = array_join(array_sort(filter(split(query, "&"),
      p => p =!= "" && substring(p, 1, 4) =!= lit("utm_"))), "&")
    concat(scheme, lit("://"), host, path,
      when(params =!= "", concat(lit("?"), params)).otherwise(""))
  }

  /** C17: URL canonicalization + exact dedup — the first dedup pass of
    * every web-crawl ingestion (CommonCrawl dedups by canonical URL
    * before any content pass): normalize away the noise that makes one
    * page look like many (case, www, tracking params, param order,
    * fragments, trailing slash), then exact-dedup on the canonical
    * form. Canonicalization is pure codegen'd per-row string work —
    * zero shuffle until the dedup itself, which is ONE hash shuffle on
    * the canonical key (window over canon: count + min keeper, no
    * sort — unbounded frame). At 100 TB the canon pass rides the scan
    * and the shuffle carries one row per URL, the same economics as
    * d_exact on text.
    */
  def dUrlCanon(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("canon")
    Tables.documents(s, d)
      .select(col("doc_id"), urlFixture(col("doc_id")).as("_u"))
      .withColumn("canon", canonUrl(col("_u")))
      .withColumn("n_dups", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .select("doc_id", "canon", "n_dups", "keep")
  }

  val dUrlCanonSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) ||
      |    '://' ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
      |    'Site' || CAST(doc_id % 50 AS VARCHAR) || '.com' ||
      |    '/a/' || CAST(doc_id % 200 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN
      |       (CASE WHEN doc_id % 7 = 0
      |          THEN '?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR)
      |          ELSE '?id=' || CAST(doc_id % 100 AS VARCHAR) || '&utm_campaign=x' END)
      |     ELSE '?id=' || CAST(doc_id % 100 AS VARCHAR) END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)
      |    AS raw
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id,
      |    split_part(raw, '#', 1) AS nofrag
      |  FROM u),
      |comp AS (
      |  SELECT doc_id,
      |    lower(split_part(nofrag, '://', 1)) AS scheme,
      |    regexp_replace(lower(split_part(split_part(nofrag, '://', 2), '/', 1)),
      |      '^www\.', '') AS host,
      |    regexp_replace(
      |      split_part(
      |        substr(split_part(nofrag, '://', 2),
      |          length(split_part(split_part(nofrag, '://', 2), '/', 1)) + 1),
      |        '?', 1),
      |      '/$', '') AS path,
      |    CASE WHEN contains(nofrag, '?') THEN split_part(nofrag, '?', 2) ELSE '' END AS q
      |  FROM parts),
      |canon AS (
      |  SELECT doc_id,
      |    scheme || '://' || host || path ||
      |    CASE WHEN array_to_string(list_sort(list_filter(string_split(q, '&'),
      |           p -> p != '' AND substr(p, 1, 4) != 'utm_')), '&') != ''
      |      THEN '?' || array_to_string(list_sort(list_filter(string_split(q, '&'),
      |           p -> p != '' AND substr(p, 1, 4) != 'utm_')), '&')
      |      ELSE '' END AS canon
      |  FROM comp)
      |SELECT doc_id, canon,
      |  CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS n_dups,
      |  doc_id = MIN(doc_id) OVER (PARTITION BY canon) AS keep
      |FROM canon""".stripMargin

  // ---- containment (asymmetric Jaccard): quote / subset detection ----

  private val ContainDfMax = 20
  // τ = 0.8 as the exact rational 4/5 — the threshold compare is
  // integer (5·shared ≥ 4·|A|), never a float division
  private val ContainNum = 4
  private val ContainDen = 5

  /** C18: containment detection — the ASYMMETRIC near-dup relation
    * C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.8 (Broder's containment,
    * vs the symmetric resemblance d_ngram_jaccard thresholds): catches
    * a short doc quoted inside a long one, where Jaccard stays low
    * because the union is dominated by B. The decontamination relation
    * (benchmark item inside a training doc) is exactly this shape.
    *
    * Scale shape: distinct word-3-shingles per doc (md5 fingerprints
    * as shuffle keys, computed doc-local), an inverted-index equi-join
    * on the shingle — NEVER an all-pairs product — with DOCUMENT-
    * FREQUENCY pruning first: shingles appearing in > $ContainDfMax
    * docs are dropped before the join (df is one count per shingle),
    * which caps the per-shingle join fan-out at df² and removes the
    * boilerplate blow-up that makes naive inverted-index joins
    * quadratic on web text. Pairs sharing k pruned shingles aggregate
    * k→1 map-side (count partial agg). The df cut can only drop pairs
    * whose overlap is boilerplate-dominated — the documented tradeoff,
    * replayed identically by the oracle.
    */
  def dContainment(s: SparkSession, d: String): DataFrame =
    containmentOf(Tables.documents(s, d))

  /** Core over any (doc_id, text) frame — specs feed doctored fixtures
    * (a short doc verbatim inside a long one: qualifies A→B, not B→A).
    */
  def containmentOf(docs: DataFrame): DataFrame = {
    // md5-60 LONG shingle keys via the one-kernel-call-per-doc pass
    // (word_shingle_md5_hashes, the d_band_tune signature primitive):
    // a first cut built each shingle through concat_ws + md5-hex
    // expressions and joined on 32-char strings — 3.2× the runtime at
    // sf0.1 and 4× the shuffle bytes for identical semantics (the
    // oracle folds the same 15 md5 nibbles bit-for-bit, so even a
    // 60-bit collision merges identically on both sides).
    val sh = graft.Stage.cached(docs
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.word_shingle_md5_hashes(col("text"), 3))).as("g")))
    val kept = graft.Stage.cached(
      sh.join(sh.groupBy("g").agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") <= ContainDfMax).select("g"),
        Seq("g")))
    val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("a_size"))
    kept.as("a").join(kept.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sz.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .filter(lit(ContainDen) * col("shared") >= lit(ContainNum) * col("a_size"))
      .select("id_a", "id_b", "shared", "a_size")
  }

  val dContainmentSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x != '') AS ws
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gs
       |  FROM w, unnest(range(1, len(ws) - 1)) t(i)
       |  WHERE len(ws) >= 3),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    list_reduce(list_transform(range(1, 16), j ->
       |      CAST(strpos('123456789abcdef', substr(md5(gs), j, 1)) AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS g
       |  FROM sh0),
       |df AS (SELECT g, COUNT(*) AS dfc FROM sh GROUP BY g),
       |kept AS (SELECT sh.doc_id, sh.g FROM sh JOIN df USING (g)
       |         WHERE df.dfc <= $ContainDfMax),
       |sz AS (SELECT doc_id, COUNT(*) AS a_size FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
       |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id != b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       |  CAST(sz.a_size AS BIGINT) AS a_size
       |FROM pairs JOIN sz ON sz.doc_id = pairs.id_a
       |WHERE $ContainDen * shared >= $ContainNum * sz.a_size""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("d_containment", dContainment, Some(dContainmentSql)),
    QueryDef("d_url_canon", dUrlCanon, Some(dUrlCanonSql)),
    QueryDef("d_exact", dExact, Some(dExactSql)),
    QueryDef("d_bloom", dBloom, Some(dBloomSql)),
    QueryDef("d_cluster_apply", dClusterApply, Some(dClusterApplySql)),
    QueryDef("d_centrality", dCentrality, Some(dCentralitySql)),
    QueryDef("d_kcore", dKcore, Some(dKcoreSql)),
    QueryDef("d_cluster", dCluster, Some(dClusterSql)),
    QueryDef("d_triangles", dTriangles, Some(dTrianglesSql)),
    QueryDef("d_exact_keep", dExactKeep, Some(dExactKeepSql)),
    QueryDef("d_minhash_lsh", dMinhashLsh, Some(dMinhashLshSql)),
    QueryDef("d_simhash", dSimhash, Some(dSimhashSql)),
    QueryDef("d_ngram_jaccard", dNgramJaccard, Some(dNgramJaccardSql)),
    QueryDef("d_embed_cos", dEmbedCos, Some(dEmbedCosSql)),
    QueryDef("d_semdedup", dSemdedup, Some(dSemdedupSql)),
    QueryDef("d_substring", dSubstring, Some(dSubstringSql)),
    QueryDef("d_substring_apply", dSubstringApply, Some(dSubstringApplySql)),
    QueryDef("d_fuzzy_join", dFuzzyJoin, Some(dFuzzyJoinSql)),
    QueryDef("d_incremental", dIncremental, Some(dIncrementalSql)),
    QueryDef("d_band_tune", dBandTune, Some(dBandTuneSql)),
    QueryDef("d_graph_dist", dGraphDist, Some(dGraphDistSql)),
  )
}
